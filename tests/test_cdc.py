"""Golden CDC replay — reference-parity end-to-end test (SURVEY.md §5.2
item 2): the deterministic Canal envelope set replayed through the batch
ingest pipeline, asserting the exact enriched rows S3/S4 would upsert.
"""

from __future__ import annotations

import pytest

from flinkstreametl_spark.operators.cdc import (
    cdc_event_filter,
    ingest_meeting_stream,
    latest_by_key,
    parse_envelope,
)
from flinkstreametl_spark.sources.cdc import (
    meeting_address_dim,
    write_golden_jsonl,
)
from flinkstreametl_spark.streaming.pipeline import run_cdc_batch


@pytest.fixture(scope="module")
def golden_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("canal")
    return write_golden_jsonl(str(d / "canal_events.jsonl"))


def test_f1_filter_insert_only(spark, golden_path):
    """F1 (JsonFilter.java:23-26): keep non-DDL INSERTs on t_meeting_info;
    drop DDL, other tables, UPDATE, DELETE."""
    raw = spark.read.text(golden_path).withColumnRenamed("value", "value")
    env = parse_envelope(raw)
    kept = env.filter(cdc_event_filter()).select("id").collect()
    assert sorted(r.id for r in kept) == [1, 2, 3, 8]


def test_ingest_typed_projection(spark, golden_path):
    """F2+F3: data[] flatten (multi-row envelope -> 2 rows) + by-name
    typed projection with int casts (JsonFilter.java:47-54 ordinals)."""
    raw = spark.read.text(golden_path)
    mi = ingest_meeting_stream(raw)
    rows = {r.meeting_id: r for r in mi.collect()}
    assert sorted(rows) == [101, 102, 103, 104, 105]
    assert rows[101].address_id == 1 and isinstance(rows[101].address_id, int)
    assert rows[105].address_id is None  # NULL optional column
    assert rows[101].mstart_date == "2020-01-01 09:00:00"  # kept as string (§1.3)


def test_golden_enriched_output(spark, golden_path):
    """The reference's full chain on the golden set: expected
    meeting_result rows incl. left-join null fill for address 99
    (model/Meeting.java:13-18 schema)."""
    out = run_cdc_batch(spark, golden_path)
    got = {
        r.meeting_id: (r.meeting_code, r.meetingroom_id, r.meetingroom_name, r.location_name, r.city)
        for r in out.collect()
    }
    assert got == {
        101: ("M00101", 1, "Room-A", "Building 1", "North"),
        102: ("M00102", 2, "Room-B", "Building 2", "North"),
        103: ("M00103", 1, "Room-A", "Building 1", "North"),
        104: ("M00104", None, None, None, None),  # address 99: no dim row
        105: ("M00105", None, None, None, None),  # NULL address_id
    }


def test_insert_update_mode_last_write_wins(spark, golden_path):
    """Extended INSERT+UPDATE mode (README.md:275 intent): the UPDATE for
    meeting 101 (address 1 -> 3) must win by event time under
    REPLACE-INTO dedup (SURVEY.md §7 hard part (2))."""
    out = run_cdc_batch(spark, golden_path, types=("INSERT", "UPDATE"))
    latest = latest_by_key(out, ["meeting_id"], ["_es", "_ts"])
    got = {r.meeting_id: (r.meetingroom_id, r.location_name, r.city) for r in latest.collect()}
    assert got[101] == (3, "Building 3", "South")  # UPDATE applied
    assert got[102] == (2, "Building 2", "North")


def test_dim_3way_null_fill(spark):
    """J2 fixture dim: address LOCX has no location -> null-filled
    location/city columns (CreateJDBCInputFormat.java:28-31 left joins)."""
    dim = {r.meetingroom_id: r for r in meeting_address_dim(spark).collect()}
    assert dim[4].location_name is None and dim[4].city is None
    assert dim[1].city == "North"


def test_before_image_reconstruction(spark, golden_path):
    """UPDATE envelope 6 changed address_id (1->3) and mend_date; the
    before struct must restore the old values for changed columns and
    keep after-image values for unchanged ones."""
    from flinkstreametl_spark.operators.cdc import before_image, parse_envelope

    raw = spark.read.text(golden_path)
    env = parse_envelope(raw)
    rows = before_image(env).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.meeting_id == 101
    assert r.after.address_id == "3" and r.before.address_id == "1"
    assert r.after.mend_date == "2020-01-01 10:30:00" and r.before.mend_date == "2020-01-01 10:00:00"
    # unchanged column: before == after
    assert r.before.meeting_code == r.after.meeting_code


def test_malformed_envelope_lines_dropped(spark, golden_path, tmp_path):
    """Robustness: garbage lines in the CDC feed (truncated JSON, empty
    lines, non-JSON noise) must not crash the pipeline or leak rows —
    from_json yields a NULL envelope, which the F1 filter drops. The
    enriched output must equal the clean-feed output exactly."""
    clean = run_cdc_batch(spark, golden_path).collect()

    dirty = tmp_path / "dirty.jsonl"
    with open(golden_path) as f:
        lines = f.readlines()
    noise = ['{"truncated": \n', "not json at all\n", "\n", '{"table": 42}\n']
    with open(dirty, "w") as f:
        for i, line in enumerate(lines):
            f.write(noise[i % len(noise)])
            f.write(line)

    got = run_cdc_batch(spark, str(dirty)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, clean))


def test_ingest_ignores_unread_envelope_fields(spark):
    """The ingest reads only the fields it uses: wrong-typed unread
    fields (sqlType values as strings, `old` as a scalar, mysqlType as
    an array) change nothing, and an envelope with no `data` yields no
    rows. Expected rows are the output of the full-schema parse, whose
    partial results null the bad field and keep the rest."""
    import json

    def envelope(i, op="INSERT", **fields):
        row = {"id": str(i), "meeting_code": f"M{i}", "address_id": str(i % 3), "msite": "x",
               "mstart_date": "2020-01-01 09:00:00", "mend_date": "2020-01-01 10:00:00"}
        env = {"data": [row], "database": "meeting", "es": 1000 + i, "id": i, "isDdl": False,
               "mysqlType": {"id": "int"}, "old": None, "pkNames": ["id"], "sql": "",
               "sqlType": {"id": 4}, "table": "t_meeting_info", "ts": 2000 + i, "type": op}
        env.update(fields)
        return json.dumps({k: v for k, v in env.items() if v is not ...})

    lines = [
        envelope(1),
        envelope(2, sqlType={"id": "int", "meeting_code": "varchar"}),
        envelope(3, "UPDATE", old="scalar"),
        envelope(4, mysqlType=["int", "varchar"]),
        envelope(5, data=...),  # ... drops the field
        envelope(6, sqlType={"id": "int"}, old=7, mysqlType=[1]),
    ]
    raw = spark.createDataFrame([(line,) for line in lines], "value STRING")
    got = sorted(map(tuple, ingest_meeting_stream(raw, types=("INSERT", "UPDATE")).collect()))
    start, end = "2020-01-01 09:00:00", "2020-01-01 10:00:00"
    assert got == [
        (1, "M1", 1, start, end, 1001, 2001, "INSERT"),
        (2, "M2", 2, start, end, 1002, 2002, "INSERT"),
        (3, "M3", 0, start, end, 1003, 2003, "UPDATE"),
        (4, "M4", 1, start, end, 1004, 2004, "INSERT"),
        (6, "M6", 0, start, end, 1006, 2006, "INSERT"),
    ]


def test_jdbc_pushdown_option_wiring():
    """S2 wiring without a database (CreateJDBCInputFormat.java:22-35
    parity): the pushed-down dim-join SQL plus reader options; the
    partition quartet is all-or-nothing."""
    import pytest

    from flinkstreametl_spark.sources.jdbc import (
        MEETING_DIM_PUSHDOWN_SQL,
        jdbc_pushdown_options,
    )

    opts = jdbc_pushdown_options("jdbc:mysql://db:3306/meet", MEETING_DIM_PUSHDOWN_SQL, user="u", password="p")
    assert opts["query"] is MEETING_DIM_PUSHDOWN_SQL
    assert opts["fetchsize"] == "10000" and opts["user"] == "u"
    # the pushed SQL is the reference's join, not a bare table scan
    for frag in ("LEFT JOIN t_meeting_location", "LEFT JOIN t_meeting_region", "meetingroom_id"):
        assert frag in MEETING_DIM_PUSHDOWN_SQL
    part = jdbc_pushdown_options(
        "jdbc:mysql://db/m", "SELECT 1", partition_column="id",
        lower_bound=0, upper_bound=1000, num_partitions=8,
    )
    assert part["numPartitions"] == "8" and part["lowerBound"] == "0"
    with pytest.raises(ValueError):
        jdbc_pushdown_options("mysql://db/m", "SELECT 1")
    with pytest.raises(ValueError):
        jdbc_pushdown_options("jdbc:mysql://db/m", "SELECT 1", partition_column="id")


def test_jdbc_pushdown_sql_matches_sparkside_dim(spark):
    """The pushed-down SQL must compute the same result as the
    Spark-side fixture dim join (meeting_address_dim): run it against
    the same fixture tables as temp views."""
    from flinkstreametl_spark.sources.cdc import meeting_address_dim, meeting_dim_tables
    from flinkstreametl_spark.sources.jdbc import MEETING_DIM_PUSHDOWN_SQL

    for name, df in meeting_dim_tables(spark).items():
        df.createOrReplaceTempView(name)
    pushed = {tuple(r) for r in spark.sql(MEETING_DIM_PUSHDOWN_SQL).collect()}
    local = {tuple(r) for r in meeting_address_dim(spark).collect()}
    assert pushed == local and len(pushed) == 4
