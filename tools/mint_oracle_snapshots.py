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

Usage:
  python3 tools/mint_oracle_snapshots.py             # all 13 fixtures
  python3 tools/mint_oracle_snapshots.py turns_2000 snapshot_simhash

Named fixtures (file names without `.parquet`) are the only ones
rewritten, so a re-base can mint just those whose rows it changes.
"""

from __future__ import annotations

import argparse
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


FIXTURE_NAMES = ["turns_2000", "links_2000"] + [
    f"snapshot_{name}" for name in SNAPSHOT_QUERIES]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("fixtures", nargs="*", metavar="fixture",
                    help="fixtures to mint (default: all); one of "
                         + ", ".join(FIXTURE_NAMES))
    args = ap.parse_args(argv)
    unknown = sorted(set(args.fixtures) - set(FIXTURE_NAMES))
    if unknown:
        ap.error(f"unknown fixture(s): {', '.join(unknown)}")

    import __spark_entry__ as se
    from html_parser_spark.spark.pipeline import extract_links, extract_turns
    from html_parser_spark.spark.session import get_spark
    from html_parser_spark.spark.transcripts import transcripts_df

    spark = get_spark("mint-snapshots")
    spark.sparkContext.setLogLevel("ERROR")

    # 1. the turns table conversation_stats aggregates over, and the
    # links table link_stats aggregates over (extraction is
    # golden-gated, the rollup SQL re-derives)
    frames = {
        "turns_2000": lambda: extract_turns(
            transcripts_df(spark, 2000, seed=42, partitions=8),
            ordered=False,
        ).select("conv_id", "turn_idx", "role", "tool", "extracted_text",
                 "parse_errors"),
        "links_2000": lambda: extract_links(
            transcripts_df(spark, 2000, seed=42, partitions=8)),
    }
    # 2. full-output regression pins
    qs = se.queries()
    for name in SNAPSHOT_QUERIES:
        frames[f"snapshot_{name}"] = (
            lambda q=qs[name]: q(spark, SF_DIR))

    for name in args.fixtures or FIXTURE_NAMES:
        dest = os.path.join(FIXTURES, f"{name}.parquet")
        write_single_parquet(frames[name](), dest)
        n = spark.read.parquet(dest).count()
        print(f"minted {dest} ({n} rows)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
