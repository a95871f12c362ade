"""sf1 throughput evidence for the two index-maintenance loops:

- ANN / IVF (streaming/ann_ingest.py): bootstrap the coarse quantizer
  on the first 20% of the sf1 embeddings, stream the rest in 8
  micro-batches — per-batch wall-clock, refit count (version flips),
  and the final postings census.
- Inverted index / BM25 stats (streaming/index_ingest.py): same
  protocol over the sf1 documents.

The claim under test is the same run-forever property the near-dup /
shard / bloom probes pin: per-batch cost tracks the BATCH (assign +
append; the redelivery anti-join is the only indexed-state read),
while growth-triggered refits are the amortized, version-flipped
exceptions — visible here as the occasional expensive batch, never a
trend.

Usage: python tools/throughput_index_sf1.py [sf1_dir]
Appends a labeled section to docs/THROUGHPUT.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flinkstreametl_spark.session import get_spark  # noqa: E402
from flinkstreametl_spark.sources.parquet import load_table  # noqa: E402
from flinkstreametl_spark.streaming import ann_ingest as A  # noqa: E402
from flinkstreametl_spark.streaming import index_ingest as I  # noqa: E402
from flinkstreametl_spark.streaming.versioned import current_version  # noqa: E402

WORK = "/tmp/throughput_index_sf1"
N_BATCHES = 8
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "THROUGHPUT.md"
)


def _loop(spark, frame, id_col, bootstrap, step, versions):
    n = frame.count()
    base = frame.filter(frame[id_col] < n // 5)
    t0 = time.time()
    bootstrap(base)
    boot_s = time.time() - t0
    per = (n - n // 5) // N_BATCHES
    times, flips = [], []
    for b in range(N_BATCHES):
        lo = n // 5 + b * per
        hi = lo + per if b < N_BATCHES - 1 else n
        batch = frame.filter((frame[id_col] >= lo) & (frame[id_col] < hi))
        v0 = versions()
        t0 = time.time()
        step(batch)
        times.append(time.time() - t0)
        flips.append(versions() - v0)
        print(f"# batch {b}: {times[-1]:.1f}s refits={flips[-1]}")
    return n, boot_s, per, times, flips


def main() -> None:
    sf1 = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".fixtures", "sf1"
    )
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    spark = get_spark("throughput-index-sf1")

    ann_dir = os.path.join(WORK, "ann")
    emb = load_table(spark, sf1, "embeddings").select("vec_id", "embedding")
    ann = _loop(
        spark,
        emb,
        "vec_id",
        lambda base: A.build_index(spark, base, ann_dir),
        lambda batch: A.process_batch(spark, batch, ann_dir),
        lambda: current_version(ann_dir) or 0,
    )
    n_postings = A.load_postings(spark, ann_dir).count()

    idx_dir = os.path.join(WORK, "inverted")
    docs = load_table(spark, sf1, "documents").select("doc_id", "text")
    inv = _loop(
        spark,
        docs,
        "doc_id",
        lambda base: I.build_index(spark, base, idx_dir),
        lambda batch: I.process_batch(spark, batch, idx_dir),
        lambda: current_version(idx_dir) or 0,
    )
    n_terms = I.load_postings(spark, idx_dir).count()

    with open(OUT, "a") as fh:
        for title, (n, boot_s, per, times, flips), census in (
            ("ANN / IVF index maintenance", ann, f"postings rows {n_postings:,}"),
            ("Inverted-index maintenance", inv, f"posting rows {n_terms:,}"),
        ):
            fh.write(f"\n## {title} at sf1 (round 8)\n\n")
            fh.write(
                f"Bootstrap on the first 20% of {n:,} rows ({boot_s:.1f} s), then\n"
                f"{N_BATCHES} micro-batches of ~{per:,} through process_batch\n"
                "(growth-triggered refits enabled, version-flip commits):\n\n"
            )
            fh.write("| batch | rows | seconds | refits |\n|---|---|---|---|\n")
            for b, (s, f) in enumerate(zip(times, flips)):
                fh.write(f"| {b} | {per:,} | {s:.1f} | {f} |\n")
            plain = [s for s, f in zip(times, flips) if f == 0]
            fh.write("\n| summary | value |\n|---|---|\n")
            fh.write(f"| {census} |  |\n")
            fh.write(f"| refit batches | {sum(1 for f in flips if f)} |\n")
            if plain:
                fh.write(f"| mean non-refit batch | {sum(plain) / len(plain):.1f} s |\n")
            fh.write(
                "\nReading: non-refit batches stay flat (assign + append only);\n"
                "refit batches pay the amortized re-fit and commit it by version\n"
                "flip, so readers never see torn state.\n"
            )
    print(f"wrote sections to {OUT}")


if __name__ == "__main__":
    main()
