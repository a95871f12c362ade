"""Canal-CDC ingest operators (reference F1-F5, SURVEY.md §2.2).

The reference pipeline is: raw JSON string -> filter(isDdl=false ∧
table=t_meeting_info ∧ type=INSERT) -> flatten data[] to CSV -> positional
split to Tuple5 (``utils/JsonFilter.java:14-54``, wired
``Main.java:67-86``). ``ingest_meeting_stream`` expresses the same
semantics declaratively with one ``from_json`` per envelope, against
CANAL_ENVELOPE_SCHEMA trimmed to the fields it reads, and with the F1
predicate inside the generator: ``explode(when(F1, data))``. A Filter
on the parsed fields would instead be pushed under the parse by
Catalyst's PushDownPredicates, which re-parses the envelope once per
field the predicate references.

All operators work identically on batch and streaming DataFrames — the
plan is the same; only the source differs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flinkstreametl_spark.schemas import CANAL_ENVELOPE_SCHEMA

TARGET_TABLE = "t_meeting_info"  # JsonFilter.java:15

# The envelope fields ingest_meeting_stream reads: the F1 fields, the
# changelog order, and the data[] columns at the reference's CSV
# ordinals {0,1,7,13,14} (JsonFilter.java:47-54).
_INGEST_ROW = CANAL_ENVELOPE_SCHEMA["data"].dataType.elementType
_INGEST_SCHEMA = T.StructType(
    [T.StructField("data", T.ArrayType(T.StructType(
        [_INGEST_ROW[c] for c in ("id", "meeting_code", "address_id", "mstart_date", "mend_date")]
    )))]
    + [CANAL_ENVELOPE_SCHEMA[c] for c in ("es", "ts", "isDdl", "table", "type")]
)


def _from_json(value_col: str, schema: T.StructType) -> Column:
    return F.from_json(F.col(value_col).cast("string"), schema)


def parse_envelope(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Decode the Canal flat-message JSON envelope (E7).

    Replaces fastjson's order-dependent positional parse
    (``JsonFilter.java:24,30`` with Feature.OrderedField) with
    ``from_json`` against CANAL_ENVELOPE_SCHEMA — by-name, type-safe.
    """
    return raw.select(_from_json(value_col, CANAL_ENVELOPE_SCHEMA).alias("env")).select("env.*")


def cdc_event_filter(types: tuple[str, ...] = ("INSERT",), table: str = TARGET_TABLE) -> Column:
    """F1 — keep non-DDL events of the target table with the given types.

    The reference pins type=="INSERT" (``JsonFilter.java:16,25``) though
    the README intends INSERT+UPDATE (``README.md:275``); `types` makes
    both available.
    """
    return (~F.col("isDdl")) & (F.col("table") == table) & F.col("type").isin(*types)


def before_image(env: DataFrame) -> DataFrame:
    """Reconstruct the pre-change row for UPDATE events from Canal's
    `old` array (README.md:435-530: `old[i]` carries ONLY the changed
    columns' previous values, positionally aligned with `data[i]`'s
    after-image; the reference parses but never uses it,
    BinLogBean.java:21). before.col = old.col if the column changed,
    else data.col — a pure zip+coalesce, no shuffle.

    Output: one row per updated record with `before`/`after` structs +
    changelog metadata — the -U/+U retract pair (T2) in one row.
    """
    from flinkstreametl_spark.schemas import MEETING_INFO_COLUMNS

    zipped = env.filter(F.col("type") == "UPDATE").select(
        F.explode(F.arrays_zip("data", "old")).alias("z"),
        F.col("es").alias("_es"),
        F.col("ts").alias("_ts"),
    )
    before = F.struct(
        *[F.coalesce(F.col(f"z.old.{c}"), F.col(f"z.data.{c}")).alias(c) for c in MEETING_INFO_COLUMNS]
    )
    return zipped.select(
        F.col("z.data.id").cast("int").alias("meeting_id"),
        before.alias("before"),
        F.col("z.data").alias("after"),
        F.col("_es"),
        F.col("_ts"),
    )


def with_proctime(df: DataFrame) -> DataFrame:
    """T6 — processing-time attribute (``StreamTableSeetings.java:6``
    ``proctime.proctime``): Spark has no proctime column type; the
    equivalent is current_timestamp() evaluated per micro-batch."""
    return df.withColumn("proctime", F.current_timestamp())


def ingest_meeting_stream(raw: DataFrame, *, types: tuple[str, ...] = ("INSERT",)) -> DataFrame:
    """The full reference ingest chain (Main.java:67-86) as one plan:
    parse -> F1 filter -> flatten -> typed projection.

    F2: the reference concatenates each ``data`` row-object into a CSV
    string (``JsonFilter.java:28-45``) only to move it between
    operators; we explode the array, gated by F1, so a rejected event
    yields no rows. F3: the reference's CSV ordinals {0,1,7,13,14} with
    string->int casts (``JsonFilter.java:47-54``) are selected by NAME
    (README.md:668-678). es/ts/type are carried as ``_es``/``_ts``/
    ``_op`` for changelog ordering."""
    env = raw.select(_from_json("value", _INGEST_SCHEMA).alias("env")).select("env.*")
    flat = env.select(
        F.explode(F.when(cdc_event_filter(types=types), F.col("data"))).alias("row"),
        F.col("es").alias("_es"),
        F.col("ts").alias("_ts"),
        F.col("type").alias("_op"),
    )
    return flat.select(
        F.col("row.id").cast("int").alias("meeting_id"),
        F.col("row.meeting_code").alias("meeting_code"),
        F.col("row.address_id").cast("int").alias("address_id"),
        F.col("row.mstart_date").alias("mstart_date"),
        F.col("row.mend_date").alias("mend_date"),
        F.col("_es"),
        F.col("_ts"),
        F.col("_op"),
    )


def latest_by_key(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Last-write-wins dedup by key (REPLACE INTO semantics,
    ``SinkToMySQL.java:35``): keep the newest record per key ordered by
    `order_cols` (typically the Canal ``es``/``ts`` times — SURVEY.md §7
    hard part (2)). Deterministic: ties broken by all order columns.

    Scale note: a single window shuffle on the key — the same exchange a
    groupBy would need; no driver-side state.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def split_dead_letters(raw: DataFrame, value_col: str = "value") -> tuple[DataFrame, DataFrame]:
    """Corrupt-envelope routing (dead-letter queue) — the production
    hardening the reference omits entirely: its fastjson parse throws on
    malformed input and fails the Flink task (``JsonFilter.java:24``,
    no try/catch), so one bad Kafka record wedges the job in a
    crash-loop. Spark's ``from_json`` is PERMISSIVE: unparseable input
    yields a NULL struct instead of an exception.

    Returns ``(good, dead)``:
    - ``good`` — rows whose envelope parsed, decoded columns exposed;
    - ``dead`` — the raw string + error metadata (why, when) for rows
      that did not parse, ready to land in a quarantine sink for replay
      after a fix.

    A parsed-but-incomplete envelope (well-formed JSON of some other
    shape) is NOT dead: Canal semantics put required fields in every
    message, so "parsed but table IS NULL" is routed dead as well —
    that predicate is the cheap structural validity check.

    Scale: one map-side predicate, no shuffle. ``good`` and ``dead``
    are two independent DataFrames, so materializing BOTH re-scans and
    re-parses the source unless the caller caches the batch first —
    under ``foreachBatch``, cache/persist the micro-batch (e.g. via
    ``FanoutSink``, which does exactly this) before splitting to pay
    the parse once."""
    parsed = raw.select(
        F.col(value_col).cast("string").alias("_raw"),
        _from_json(value_col, CANAL_ENVELOPE_SCHEMA).alias("env"),
    )
    # PERMISSIVE from_json returns an all-NULL struct (not NULL) for
    # malformed input, so structural validity is checked on a required
    # field; get_json_object separates syntactically-broken JSON from
    # well-formed JSON of the wrong shape for the error label.
    is_dead = F.col("env").isNull() | F.col("env.table").isNull()
    good = parsed.filter(~is_dead).select("env.*")
    dead = parsed.filter(is_dead).select(
        F.col("_raw").alias("raw_value"),
        F.when(F.get_json_object("_raw", "$").isNull(), F.lit("UNPARSEABLE_JSON"))
        .otherwise(F.lit("MISSING_REQUIRED_FIELDS"))
        .alias("error"),
        F.current_timestamp().alias("quarantined_at"),
    )
    return good, dead
