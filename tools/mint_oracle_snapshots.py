#!/usr/bin/env python3
"""Mint pinned-snapshot oracle fixtures under tests/fixtures/.

Two kinds of fixture back the oracle rows that ANSI SQL cannot
re-derive from the base tables:

  1. `turns_2000.parquet` — the extracted TURNS of the seeded
     2,000-turn transcripts table (incl. role and tool). conversation_stats /
     sft_pairs / loss_mask_spans / role_alternation oracles run real
     window/rollup SQL over it, so the arithmetic is checked
     independently; the extraction itself is gated by the golden
     corpus (tests/test_goldens.py).
  2. snapshot_<query>.parquet — the full deterministic output of a
     registered query whose hashing (xxhash64 seeds, blake2b fake
     decode, seeded hyperplanes) has no ANSI-SQL equivalent. These are
     REGRESSION PINS minted from the golden-/property-tested
     implementation, honest-labeled in oracle_sql(); the algorithmic
     gates live in tests/.

Determinism: every input is seeded/synthetic or the sf0.01 testdata
(the driver's oracle SF), and every operator is hash-deterministic,
so re-minting reproduces each fixture's row contents. It does not
reproduce the file bytes, and for some queries (minhash_lsh, simhash)
not the row order either. Re-run this tool after intentionally
changing any of these operators or the transcripts generator, and
commit only the fixtures whose rows changed.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(REPO, "tests", "fixtures")
SF_DIR = "/root/testdata/sf0.01"

SNAPSHOT_QUERIES = [
    "extract_transcripts",
    "extract_boilerplate",
    "dump_serialize",
    "media_features",
    "simhash",
    "raw_encoding",
    "minhash_lsh",
    "ann_lsh",
    "ann_ivf",
    "ann_ivfpq",
    "approx_percentiles",
]


def write_single_parquet(df, dest: str) -> None:
    tmp = tempfile.mkdtemp()
    try:
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "p"))
        part = glob.glob(os.path.join(tmp, "p", "part-*.parquet"))[0]
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(part, dest)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    import __spark_entry__ as se
    from html_parser_spark.spark.pipeline import extract_turns
    from html_parser_spark.spark.session import get_spark
    from html_parser_spark.spark.transcripts import transcripts_df

    spark = get_spark("mint-snapshots")
    spark.sparkContext.setLogLevel("ERROR")

    # 1. the turns table conversation_stats aggregates over
    turns = extract_turns(
        transcripts_df(spark, 2000, seed=42, partitions=8), ordered=False
    ).select("conv_id", "turn_idx", "role", "tool", "extracted_text", "parse_errors")
    dest = os.path.join(FIXTURES, "turns_2000.parquet")
    write_single_parquet(turns, dest)
    print(f"minted {dest}")

    # 1b. the links table link_stats aggregates over (same pattern:
    # extraction is golden-gated, the rollup SQL re-derives)
    from html_parser_spark.spark.pipeline import extract_links
    links = extract_links(
        transcripts_df(spark, 2000, seed=42, partitions=8))
    dest = os.path.join(FIXTURES, "links_2000.parquet")
    write_single_parquet(links, dest)
    print(f"minted {dest}")

    # 2. full-output regression pins
    qs = se.queries()
    for name in SNAPSHOT_QUERIES:
        df = qs[name](spark, SF_DIR)
        dest = os.path.join(FIXTURES, f"snapshot_{name}.parquet")
        write_single_parquet(df, dest)
        n = spark.read.parquet(dest).count()
        print(f"minted {dest} ({n} rows)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
