"""Canal-CDC ingest sources (reference S1, SURVEY.md §2.1).

The reference consumes Canal flat-message JSON from Kafka
(``Main.java:61-67``, ``utils/KafkaConfigUtil.java:9-27``). CI has no
broker, so per SURVEY.md §7 hard-part (4) the reader interface is
source-agnostic: file replay (batch + streaming) and Kafka share the
downstream plan — both yield a DataFrame with a string ``value`` column
that feeds ``operators.cdc.parse_envelope``.

Also hosts the deterministic golden CDC fixture generator (FIXTURES.md
§A1): envelope shapes copied from the reference's documented examples
(README.md:362-595), including the rows that must be DROPPED by the F1
filter (DDL events, other-table events, UPDATE/DELETE) and null-valued
optional columns.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from flinkstreametl_spark.schemas import MEETING_INFO_COLUMNS

RAW_SCHEMA = T.StructType([T.StructField("value", T.StringType(), True)])


def read_cdc_file_batch(spark: SparkSession, path: str) -> DataFrame:
    """Batch replay: one envelope JSON per line -> value:string rows."""
    return spark.read.schema(RAW_SCHEMA).text(path)


def read_cdc_file_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming replay of the same files (file source; use
    trigger(availableNow=True) to drain deterministically in tests)."""
    return spark.readStream.schema(RAW_SCHEMA).text(path)


def kafka_source_options(brokers: str, topic: str, starting_offsets: str = "latest") -> dict[str, str]:
    """The documented Kafka-reader option set (unit-testable without a
    broker). Mirrors KafkaConfigUtil.java:12-30: bootstrap servers +
    subscribe + offset reset; Flink's group.id/enable.auto.commit have
    no analog because Spark tracks offsets in its own checkpoint
    (SURVEY.md §2.8 T4), never in the broker."""
    if not brokers or not topic:
        raise ValueError("brokers and topic are required")
    if starting_offsets not in ("latest", "earliest") and not starting_offsets.startswith("{"):
        raise ValueError(f"startingOffsets must be latest/earliest/per-partition JSON, got {starting_offsets!r}")
    return {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }


def read_cdc_kafka(spark: SparkSession, brokers: str, topic: str, starting_offsets: str = "latest") -> DataFrame:
    """S1 — Kafka source (requires the spark-sql-kafka package on the
    classpath and a live broker; gated so CI never touches it —
    ``kafka_source_options`` carries the CI-tested wiring).
    """
    return (
        spark.readStream.format("kafka")
        .options(**kafka_source_options(brokers, topic, starting_offsets))
        .load()
        .selectExpr("CAST(value AS STRING) AS value")
    )


# ---------------------------------------------------------------------------
# Golden fixture generation (deterministic; no randomness).
# ---------------------------------------------------------------------------

_BASE_MS = 1_577_808_000_000  # 2020-01-01 00:00:00 UTC, epoch millis


def _meeting_row(meeting_id: int, address_id: int | None, start: str, end: str) -> dict:
    row = {c: None for c in MEETING_INFO_COLUMNS}
    row.update(
        {
            "id": str(meeting_id),
            "meeting_code": f"M{meeting_id:05d}",
            "msite": "site-a",
            "attend_count": "5",
            "type": "1",
            "status": "1",
            "address_id": None if address_id is None else str(address_id),
            "mstart_date": start,
            "mend_date": end,
            "create_time": start,
        }
    )
    return row


def envelope(
    seq: int,
    typ: str,
    data_rows: list[dict],
    *,
    table: str = "t_meeting_info",
    is_ddl: bool = False,
    old: list[dict] | None = None,
) -> dict:
    """One Canal flat-message (README.md:362-435 shape)."""
    return {
        "data": data_rows or None,
        "database": "canal_test",
        "es": _BASE_MS + seq * 1000,
        "id": seq,
        "isDdl": is_ddl,
        "mysqlType": {"id": "int(11)", "meeting_code": "varchar(64)"},
        "old": old,
        "pkNames": ["id"],
        "sql": "" if not is_ddl else "ALTER TABLE t_meeting_info ADD COLUMN x INT",
        "sqlType": {"id": 4, "meeting_code": 12},
        "table": table,
        "ts": _BASE_MS + seq * 1000 + 500,
        "type": typ,
    }


def golden_canal_events() -> list[dict]:
    """The golden CDC replay set (FIXTURES.md §A1): INSERTs that survive
    F1, plus every drop case, plus an UPDATE chain for the extended
    INSERT+UPDATE mode, plus a no-match address for left-join null fill."""
    ev = [
        # survive F1 (INSERT, target table, not DDL)
        envelope(1, "INSERT", [_meeting_row(101, 1, "2020-01-01 09:00:00", "2020-01-01 10:00:00")]),
        envelope(2, "INSERT", [_meeting_row(102, 2, "2020-01-01 09:30:00", "2020-01-01 11:00:00")]),
        # multi-row data[] array (one binlog entry, two rows) — F2 flatten
        envelope(
            3,
            "INSERT",
            [
                _meeting_row(103, 1, "2020-01-01 12:00:00", "2020-01-01 13:00:00"),
                _meeting_row(104, 99, "2020-01-01 12:30:00", "2020-01-01 14:00:00"),  # address 99: no dim match
            ],
        ),
        # dropped by F1: DDL
        envelope(4, "INSERT", [_meeting_row(900, 1, "2020-01-01 09:00:00", "2020-01-01 10:00:00")], is_ddl=True),
        # dropped by F1: other table
        envelope(5, "INSERT", [{"id": "1", "name": "room"}], table="t_meeting_address"),
        # dropped in INSERT-only mode, kept in INSERT+UPDATE mode
        envelope(
            6,
            "UPDATE",
            [_meeting_row(101, 3, "2020-01-01 09:00:00", "2020-01-01 10:30:00")],
            old=[{"address_id": "1", "mend_date": "2020-01-01 10:00:00"}],
        ),
        # dropped by F1: DELETE
        envelope(7, "DELETE", [_meeting_row(102, 2, "2020-01-01 09:30:00", "2020-01-01 11:00:00")]),
        # NULL-valued optionals (README.md:380-383) — survives
        envelope(8, "INSERT", [_meeting_row(105, None, "2020-01-01 15:00:00", "2020-01-01 16:00:00")]),
    ]
    return ev


def write_golden_jsonl(path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for env in golden_canal_events():
            f.write(json.dumps(env, ensure_ascii=False) + "\n")
    return path


def meeting_dim_tables(spark: SparkSession) -> dict[str, DataFrame]:
    """Reference-shaped dimension fixtures (FIXTURES.md §A2): address ->
    location -> region, with an address whose location has no match
    (left-join null-fill coverage)."""
    address = spark.createDataFrame(
        [
            (1, "Room-A", "LOC1"),
            (2, "Room-B", "LOC2"),
            (3, "Room-C", "LOC3"),
            (4, "Room-D", "LOCX"),  # no matching location
        ],
        "id INT, name STRING, location STRING",
    )
    location = spark.createDataFrame(
        [
            ("LOC1", "Building 1", 10),
            ("LOC2", "Building 2", 10),
            ("LOC3", "Building 3", 20),
        ],
        "code STRING, full_name STRING, region_id INT",
    )
    region = spark.createDataFrame(
        [(10, "North"), (20, "South")],
        "id INT, name STRING",
    )
    return {"t_meeting_address": address, "t_meeting_location": location, "t_meeting_region": region}


def meeting_address_dim(spark: SparkSession) -> DataFrame:
    """J2 — the exact pushed-down dimension query of the reference
    (CreateJDBCInputFormat.java:28-31):

        SELECT tma.id AS meetingroom_id, tma.name AS meetingroom_name,
               tml.code AS location_id, tml.full_name AS location_name,
               tmr.name AS city
        FROM t_meeting_address tma
        LEFT JOIN t_meeting_location tml ON tma.location = tml.code
        LEFT JOIN t_meeting_region tmr   ON tml.region_id = tmr.id

    computed Spark-side over the fixture tables (broadcast joins).
    """
    from pyspark.sql import functions as F

    t = meeting_dim_tables(spark)
    return (
        t["t_meeting_address"].alias("tma")
        .join(F.broadcast(t["t_meeting_location"].alias("tml")), F.col("tma.location") == F.col("tml.code"), "left")
        .join(F.broadcast(t["t_meeting_region"].alias("tmr")), F.col("tml.region_id") == F.col("tmr.id"), "left")
        .select(
            F.col("tma.id").alias("meetingroom_id"),
            F.col("tma.name").alias("meetingroom_name"),
            F.col("tml.code").alias("location_id"),
            F.col("tml.full_name").alias("location_name"),
            F.col("tmr.name").alias("city"),
        )
    )
