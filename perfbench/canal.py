"""Seeded Canal flat-message generator and the pure-Python reference of
the keyed table the CDC pipeline must produce.

The engine only ever sees the files written here. The reference never
touches Spark: it applies last-write-wins by (``es``, ``ts``) over the
kept events, removes keys whose newest event is a DELETE, and fills the
enrichment from the generated dimension (nulls for unmatched ids).
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from flinkstreametl_spark.schemas import MEETING_INFO_COLUMNS

TARGET_TABLE = "t_meeting_info"
KEPT_TYPES = ("INSERT", "UPDATE", "DELETE")

N_ROOMS = 554  # reference scale hints: ~554 rooms, ~103 locations
N_LOCATIONS = 103
ADDRESS_ID_MAX = 600  # ids above N_ROOMS have no room: null enrichment
CITIES = ("Beijing", "Shanghai", "Shenzhen", "Guangzhou", "Hangzhou", "Chengdu", "Wuhan")

BACKLOG_BASE_MS = 1_600_000_000_000
SNAPSHOT_BASE_MS = 1_650_000_000_000
LIVE_BASE_MS = 1_700_000_000_000

# Column order of the sink table (streaming.pipeline.MEETING_COLUMNS).
TABLE_COLUMNS = (
    "meeting_id", "meeting_code", "meetingroom_id", "meetingroom_name",
    "location_name", "city", "_es", "_ts", "_op",
)
TABLE_SCHEMA = pa.schema([
    ("meeting_id", pa.int32()), ("meeting_code", pa.string()),
    ("meetingroom_id", pa.int32()), ("meetingroom_name", pa.string()),
    ("location_name", pa.string()), ("city", pa.string()),
    ("_es", pa.int64()), ("_ts", pa.int64()), ("_op", pa.string()),
])
DIM_SCHEMA = pa.schema([
    ("meetingroom_id", pa.int32()), ("meetingroom_name", pa.string()),
    ("location_id", pa.string()), ("location_name", pa.string()), ("city", pa.string()),
])


def make_dim(rng: random.Random) -> list[tuple]:
    """J2-shaped dimension rows: rooms -> locations -> regions, with some
    rooms on unknown locations and some locations in unknown regions."""
    locations = {}
    for i in range(N_LOCATIONS):
        city = rng.choice(CITIES) if rng.random() > 0.05 else None
        locations[f"L{i:03d}"] = (f"Building {i} / {rng.randint(1, 40)}F", city)
    rows = []
    for room in range(1, N_ROOMS + 1):
        code = f"L{rng.randrange(N_LOCATIONS):03d}" if rng.random() > 0.03 else None
        name, city = locations[code] if code else (None, None)
        rows.append((room, f"Room-{room:03d}", code, name, city))
    return rows


def write_dim(rows: list[tuple], path: str) -> None:
    pq.write_table(pa.Table.from_pylist([dict(zip(DIM_SCHEMA.names, r)) for r in rows], DIM_SCHEMA), path)


def _address_id(rng: random.Random) -> str | None:
    return None if rng.random() < 0.03 else str(rng.randint(1, ADDRESS_ID_MAX))


def _row(rng: random.Random, key: int, rev: int, es: int) -> dict:
    row = dict.fromkeys(MEETING_INFO_COLUMNS)
    start = es // 1000 % 86_400
    row.update({
        "id": str(key),
        "meeting_code": f"M{key:07d}-{rev}",
        "msite": rng.choice(("site-a", "site-b", "site-c")),
        "mcontent": "weekly sync " * rng.randint(1, 6),
        "attend_count": str(rng.randint(2, 40)),
        "type": str(rng.randint(1, 3)),
        "status": str(rng.randint(0, 2)),
        "address_id": _address_id(rng),
        "email": f"user{rng.randint(1, 5000)}@example.com" if rng.random() > 0.2 else None,
        "create_user_name": f"user{rng.randint(1, 5000)}",
        "create_user_id": str(rng.randint(1, 5000)),
        "mstart_date": f"2023-05-01 {start // 3600:02d}:{start // 60 % 60:02d}:00",
        "mend_date": f"2023-05-01 {(start // 3600 + 1) % 24:02d}:{start // 60 % 60:02d}:00",
        "create_time": f"2023-04-30 {start // 3600:02d}:00:00",
        "company": rng.choice(("acme", "globex", "initech")),
    })
    return row


def _envelope(seq: int, es: int, ts: int, typ: str, data, *, table=TARGET_TABLE, ddl=False, old=None) -> dict:
    return {
        "data": data, "database": "canal_bench", "es": es, "id": seq, "isDdl": ddl,
        "mysqlType": {"id": "int(11)", "meeting_code": "varchar(64)"}, "old": old,
        "pkNames": ["id"], "sql": "ALTER TABLE t_meeting_info ADD COLUMN x INT" if ddl else "",
        "sqlType": {"id": 4, "meeting_code": 12}, "table": table, "ts": ts, "type": typ,
    }


class EnvelopeGen:
    """Draws envelopes for one workload. ``pick`` chooses the key of an
    UPDATE/DELETE; fresh INSERT keys come from a counter."""

    def __init__(self, rng: random.Random, mix: tuple[float, float, float], next_key: int, pick):
        self.rng = rng
        self.mix = mix  # share of INSERT, UPDATE, DELETE among kept events
        self.next_key = next_key
        self.pick = pick
        self.seq = itertools.count()
        self.rev = itertools.count()

    def envelope(self, es: int, ts: int) -> dict:
        rng, seq = self.rng, next(self.seq)
        u = rng.random()
        if u < 0.08:  # DDL on the target table: dropped by F1
            if rng.random() < 0.5:
                return _envelope(seq, es, ts, "ALTER", None, ddl=True)
            return _envelope(seq, es, ts, "INSERT", [_row(rng, 1, 0, es)], ddl=True)
        if u < 0.25:  # another table: dropped by F1
            return _envelope(seq, es, ts, "INSERT", [{"id": str(rng.randint(1, N_ROOMS)), "name": "room"}],
                             table="t_meeting_address")
        i, up, _ = self.mix
        v = rng.random()
        typ = "INSERT" if v < i else "UPDATE" if v < i + up else "DELETE"
        keys: list[int] = []
        for _ in range(rng.choice((1, 1, 2, 3))):
            if typ == "INSERT":
                key = self.next_key
                self.next_key += 1
            else:
                key = self.pick(rng)
            if key not in keys:
                keys.append(key)
        data = [_row(rng, k, next(self.rev), es) for k in keys]
        old = [{"status": "0", "mend_date": r["mstart_date"]} for r in data] if typ == "UPDATE" else None
        return _envelope(seq, es, ts, typ, data, old=old)


def dumps(env: dict) -> str:
    return json.dumps(env, separators=(",", ":"))


def backlog(seed: int, n_envelopes: int) -> list[dict]:
    """Closed-loop backlog: mostly fresh INSERTs, some UPDATE/DELETE of
    keys inserted earlier in the same backlog."""
    rng = random.Random(seed)
    inserted: list[int] = []
    gen = EnvelopeGen(rng, (0.80, 0.12, 0.08), 1, lambda r: inserted[r.randrange(len(inserted))] if inserted else 1)
    out = []
    for i in range(n_envelopes):
        es = BACKLOG_BASE_MS + 10 * i
        before = gen.next_key
        out.append(gen.envelope(es, es + 1 + rng.randint(0, 5)))
        inserted.extend(range(before, gen.next_key))
    return out


def zipf_picker(n_keys: int, s: float = 1.1):
    """Zipf-skewed key choice over 1..n_keys (rank r has weight r^-s),
    with the ranks shuffled so hot keys are spread over the key space."""
    cum = list(itertools.accumulate(r ** -s for r in range(1, n_keys + 1)))
    keys = list(range(1, n_keys + 1))
    random.Random(n_keys).shuffle(keys)
    return lambda rng: keys[bisect.bisect_left(cum, rng.random() * cum[-1])]


def snapshot(seed: int, n_rows: int, dim: dict[int, tuple]) -> dict[int, tuple]:
    """The keyed table as it stands before the live schedule starts."""
    rng = random.Random(seed ^ 0x5EED)
    table = {}
    for key in range(1, n_rows + 1):
        row = {"id": key, "meeting_code": f"M{key:07d}-s", "address_id": _address_id(rng)}
        es = SNAPSHOT_BASE_MS + key
        table[key] = enrich_row(row, dim, es, es, "INSERT")
    return table


def live_files(seed: int, n_files: int, per_file: int, interval_ms: int, n_keys: int) -> list[list[dict]]:
    """Open-loop schedule: file j is due at j * interval_ms and every
    envelope in it carries es = LIVE_BASE_MS + that due offset."""
    rng = random.Random(seed)
    gen = EnvelopeGen(rng, (0.20, 0.55, 0.25), n_keys + 1, zipf_picker(n_keys))
    files = []
    for j in range(n_files):
        es = LIVE_BASE_MS + j * interval_ms
        files.append([gen.envelope(es, es + k) for k in range(per_file)])
    return files


def write_lines(path: str, envelopes: list[dict]) -> None:
    with open(path, "w") as fh:
        fh.writelines(dumps(e) + "\n" for e in envelopes)


def _int(v: str | None) -> int | None:
    return None if v is None else int(v)


def enrich_row(row: dict, dim: dict[int, tuple], es: int, ts: int, op: str) -> tuple:
    room = dim.get(_int(row["address_id"]))
    room_id, room_name, _, location_name, city = room if room else (None,) * 5
    return (int(row["id"]), row["meeting_code"], room_id, room_name, location_name, city, es, ts, op)


def reference(envelopes, dim: dict[int, tuple], initial: dict[int, tuple] | None = None) -> dict[int, tuple]:
    """Final keyed table: last write by (es, ts) wins, DELETE removes."""
    kept = [
        e for e in envelopes
        if not e["isDdl"] and e["table"] == TARGET_TABLE and e["type"] in KEPT_TYPES and e["data"]
    ]
    latest: dict[int, tuple] = {}
    for e in sorted(kept, key=lambda e: (e["es"], e["ts"])):
        for row in e["data"]:
            latest[int(row["id"])] = (e, row)
    table = dict(initial or {})
    for key, (e, row) in latest.items():
        if e["type"] == "DELETE":
            table.pop(key, None)
        else:
            table[key] = enrich_row(row, dim, e["es"], e["ts"], e["type"])
    return table


def write_table(table: dict[int, tuple], path: str) -> None:
    """Write a keyed table in the sink's layout (one parquet directory)."""
    os.makedirs(path)
    cols = list(zip(*table.values())) if table else [()] * len(TABLE_COLUMNS)
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, TABLE_SCHEMA)]
    pq.write_table(pa.Table.from_arrays(arrays, schema=TABLE_SCHEMA), os.path.join(path, "part-00000.parquet"))


def read_table(path: str) -> list[tuple]:
    """Rows of a sink table, read from its parquet files without Spark."""
    t = pq.read_table(path, columns=list(TABLE_COLUMNS))
    return list(zip(*(t.column(c).to_pylist() for c in TABLE_COLUMNS)))


def diff(rows: list[tuple], expected: dict[int, tuple], limit: int = 3) -> list[str]:
    """Differences between a sink table and the reference, as messages
    (empty when the table is exactly right)."""
    got: dict[int, tuple] = {}
    problems = []
    for r in rows:
        if r[0] in got:
            problems.append(f"duplicate key {r[0]}")
        got[r[0]] = r
    for key in expected.keys() - got.keys():
        problems.append(f"missing key {key}: {expected[key]}")
    for key in got.keys() - expected.keys():
        problems.append(f"unexpected key {key}: {got[key]}")
    for key in expected.keys() & got.keys():
        if got[key] != expected[key]:
            problems.append(f"key {key}: got {got[key]} want {expected[key]}")
    return problems[:limit] + ([f"... {len(problems) - limit} more"] if len(problems) > limit else [])
