"""Driver-faithful oracle regression (VERDICT r4 item 8).

Round 4's only red CORRECTNESS row was an oracle TYPING defect
(`corpus_rollup`: uncast DuckDB HUGEINT -> float64 under the driver's
pandas materialization, vs Spark int64) that the old fetchall()-based
pre-flight could not see. This test runs every aggregate-bearing
oracle_sql() entry through tools/check_oracles.compare_one — the SAME
pandas-typed comparison the driver uses — at sf0.001, so any new
sum/avg/count-bearing oracle that forgets the bigint/decimal cast
rule (__spark_entry__.py `oracle_sql` docstring) fails HERE before it
reaches the driver.

The oracles that carry no aggregate — the ANN rows (embedding_norms,
ann_bruteforce and the snapshot-pinned ann_lsh/ann_ivf/ann_ivfpq) and
the word-gram near-dup rows (shingle_stats, the snapshot-pinned
minhash_lsh, ngram_jaccard, edit_distance_verify, conv_near_dup) —
run separately at sf0.01, the scale their snapshots were minted at.
Queries that must survive empty tables run over zero-row copies of the
sf0.01 tables.
"""

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

SF_DIR = "/root/testdata/sf0.001"

_AGG_RE = re.compile(
    r"\b(sum|count|avg|min|max|quantile_cont|median|stddev)\s*\(",
    re.IGNORECASE,
)


def _agg_oracle_names():
    import __spark_entry__ as se

    return sorted(
        name for name, sql in se.oracle_sql().items()
        if _AGG_RE.search(sql)
    )


@pytest.fixture(scope="module")
def duck():
    if not os.path.isdir(SF_DIR):
        pytest.skip("testdata sf0.001 unavailable")
    from check_oracles import duck_connect

    con = duck_connect(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", _agg_oracle_names())
def test_aggregate_oracle_driver_typing(spark, duck, name):
    import __spark_entry__ as se
    from check_oracles import compare_one

    ok, nrows, msg = compare_one(
        spark, duck, se.queries()[name], se.oracle_sql()[name], SF_DIR
    )
    assert ok, f"{name}: {msg}"
    assert nrows >= 0


SF001_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


@pytest.mark.parametrize("name", [
    "embedding_norms", "ann_bruteforce", "ann_lsh", "ann_ivf", "ann_ivfpq",
    "shingle_stats", "minhash_lsh", "ngram_jaccard", "edit_distance_verify",
    "conv_near_dup",
])
def test_sf001_oracle_rows(spark, name):
    import __spark_entry__ as se
    from check_oracles import compare_one, duck_connect

    # a missing input is a failure, not a skip: a skipped oracle row
    # does not count as a pass
    assert os.path.isdir(SF001_DIR), (
        f"sf0.01 oracle inputs missing: {SF001_DIR}")
    con = duck_connect(SF001_DIR)
    try:
        ok, nrows, msg = compare_one(
            spark, con, se.queries()[name], se.oracle_sql()[name],
            SF001_DIR)
    finally:
        con.close()
    assert ok, f"{name}: {msg}"
    if name == "conv_near_dup":
        # no synthetic conversation pair reaches the 0.5 jaccard
        # threshold; the planted-pair gate is test_conv_near_dup_planted
        assert nrows == 0
    else:
        assert nrows > 0


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    """Zero-row copies of the sf0.01 tables, schemas kept."""
    import pyarrow.parquet as pq
    from check_oracles import TABLES

    assert os.path.isdir(SF001_DIR), (
        f"sf0.01 oracle inputs missing: {SF001_DIR}")
    sf_dir = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        schema = pq.read_schema(os.path.join(SF001_DIR, f"{t}.parquet"))
        pq.write_table(schema.empty_table(), sf_dir / f"{t}.parquet")
    return str(sf_dir)


@pytest.mark.parametrize("name, n_rows", [
    ("dataset_card", 1), ("events_pruned_window", 0), ("warc_roundtrip", 0),
])
def test_empty_table_oracle_rows(spark, empty_sf, name, n_rows):
    """dataset_card gives its one row with NULL rates (no
    DIVIDE_BY_ZERO); events_pruned_window reads back a partitioned copy
    that has no event_date= directory; warc_roundtrip reads back an
    archive directory with no archive in it. Each equals its oracle."""
    import __spark_entry__ as se
    from check_oracles import compare_one, duck_connect

    con = duck_connect(empty_sf)
    try:
        ok, nrows, msg = compare_one(
            spark, con, se.queries()[name], se.oracle_sql()[name],
            empty_sf)
    finally:
        con.close()
    assert ok, f"{name}: {msg}"
    assert nrows == n_rows
    if name == "dataset_card":
        (card,) = se.queries()[name](spark, empty_sf).collect()
        assert card.n_docs == 0
        assert card.mean_quality is None
        assert card.exact_dup_rate is None
        assert card.gopher_keep_rate is None
