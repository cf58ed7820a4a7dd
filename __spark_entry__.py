"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: HTML extraction over a deterministic
                 synthetic transcripts table (schema per BASELINE.json
                 input_hint), fragment mode, stable (conv_id, turn_idx)
                 ordering.
queries()      — operators from SURVEY.md §2 + the training-data ops;
                 each callable takes (spark, sf_dir).
oracle_sql()   — a DuckDB oracle for EVERY query: real ANSI-SQL
                 re-derivations where SQL can express the op (money
                 aggregates pinned to canonical decimal strings /
                 bigint on both engines — DuckDB's pandas bridge
                 renders DECIMAL+HUGEINT as float64, Spark as
                 object-Decimal/int64, so only those forms hash
                 equal); a materialized-turns GROUP BY for the
                 conversation rollup; pinned deterministic snapshots
                 (tools/mint_oracle_snapshots.py) for the seeded-hash
                 and kernel-surface queries, whose byte-level gates
                 are tests/ (3,883 golden cases + differential fuzz
                 vs the reference binaries, incl. parse-error TEXTS).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_ANN_QUERY_IDS = [0, 1, 2, 3, 4, 5, 6, 7, 8, 9]


# Lazy-DataFrame handle memo — a catalog, NOT a result cache: the
# value is the unexecuted scan PLAN (spark.read.parquet re-resolves
# the datasource + reads footers on every call, 30-60ms of driver
# time per table per query build); every action on it still computes
# from the parquet files. The key is (applicationId, sf_dir, name), so
# a restarted session never serves a stale plan; within one
# application the memo goes stale if a table is rewritten in place
# (the cached plan keeps the old file listing).
_TABLE_CACHE: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _TABLE_CACHE.get(key)
    if df is None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if len(_TABLE_CACHE) > 64:
            _TABLE_CACHE.clear()
        _TABLE_CACHE[key] = df
    return df


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Extract text+spans from a 2,000-turn synthetic transcripts table
    (seeded, includes the reference fixture HTML as golden rows),
    fragment mode, window-ordered output."""
    from html_parser_spark.spark.pipeline import extract_turns
    from html_parser_spark.spark.transcripts import transcripts_df

    df = transcripts_df(spark, 2000, seed=42, partitions=8)
    out = extract_turns(df, mode="fragment", context="div")
    return out.select(
        "conv_id", "turn_idx", "turn_rank", "role", "extracted_text",
        "spans", "parse_errors", "node_count", "doc_encoding",
        "parse_error_texts",
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_pricing_summary(spark, sf_dir):
    # Money sums aggregate in exact decimal, then pin the OUTPUT to the
    # canonical decimal string: DuckDB's pandas bridge renders every
    # DECIMAL as float64 while Spark yields object-Decimal, so the only
    # representation both engines map identically is the string form.
    #
    # r8 perf: the per-row decimal cast stays (it DEFINES the rounding
    # of each term), but the SUM runs over bigint fixed-point units —
    # cast(decimal * 10^scale as bigint) is exact (the scaled decimal
    # is integral), and Spark's long-sum aggregate measures ~1.8x
    # faster than its decimal(28,_) sum buffer (1.09s -> 0.60s at
    # sf1.0).  The quotient is re-pinned to the SAME decimal scale
    # before the string cast, so output strings are byte-identical
    # (old-vs-new compared equal at sf0.1/sf1.0; oracle gate green).
    # Overflow bound: |sum| < 2^63 units holds through ~9e14 rows at
    # 4dp money values < 1e6 — far past any per-task partial at 100 TB.
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.expr(
                "cast(cast(l_quantity as decimal(18,2)) * 100 as bigint)"
            )).alias("qty_c"),
            F.sum(F.expr(
                "cast(cast(l_extendedprice as decimal(18,2)) * 100"
                " as bigint)")).alias("base_c"),
            F.sum(F.expr(
                "cast(cast(l_extendedprice * (1.0 - l_discount)"
                " as decimal(18,4)) * 10000 as bigint)")).alias("disc_c"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag", "l_linestatus",
            F.expr("cast(cast(cast(qty_c as decimal(24,0)) / 100"
                   " as decimal(24,2)) as string)").alias("sum_qty"),
            F.expr("cast(cast(cast(base_c as decimal(24,0)) / 100"
                   " as decimal(24,2)) as string)")
            .alias("sum_base_price"),
            F.expr("cast(cast(cast(disc_c as decimal(24,0)) / 10000"
                   " as decimal(24,4)) as string)")
            .alias("sum_disc_price"),
            "count_order",
        )
    )


def _q_top_revenue(spark, sf_dir):
    # r8 plan restructure (guide §3.1/§2.3), value-identical output:
    #   - the selective dimension filters are applied BEFORE the fact
    #     join: orders x broadcast(BUILDING customers) first, projected
    #     to the single join key, so the broadcast the lineitem probe
    #     builds holds ~1/5 of the order KEYS (8 bytes each) instead of
    #     the full 1.5M-row orders table — lineitem is still never
    #     shuffled (same broadcast strategy, much cheaper build side);
    #   - the revenue sum runs over bigint fixed-point (see
    #     _q_pricing_summary) and is re-pinned to decimal(_,4) before
    #     the string cast.  1.54s -> 0.78s at sf1.0; collected output
    #     compared tuple-equal against the r7 form at sf0.1 and sf1.0.
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    keys = (
        o.join(
            F.broadcast(
                c.where(F.col("c_mktsegment") == "BUILDING")
                .select("c_custkey")),
            o.o_custkey == F.col("c_custkey"))
        .select("o_orderkey")
    )
    # no broadcast HINT on `keys`: AQE sees the runtime size of the
    # orders x customers stage and picks the broadcast itself at this
    # scale (measured equal to the hinted form), while at 100 TB the
    # same plan degrades safely to a shuffle join instead of forcing
    # an over-sized broadcast
    return (
        li.join(keys, li.l_orderkey == F.col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(
            F.sum(F.expr(
                "cast(cast(l_extendedprice * (1.0 - l_discount)"
                " as decimal(18,4)) * 10000 as bigint)")).alias("bp")
        )
        .select(
            "o_orderkey",
            F.expr("cast(cast(bp as decimal(24,0)) / 10000"
                   " as decimal(24,4))").alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey", F.col("revenue").cast("string").alias("revenue")
        )
    )


def _q_regional_revenue(spark, sf_dir):
    # TPC-H Q5 shape — the join-HEAVY relational pattern: fact table
    # (lineitem) joined through orders to customer, co-nation-matched
    # with supplier, rolled up per nation for one region and one
    # order-date year. Scale design: region/nation are broadcast
    # (tiny dims — no shuffle), customer/supplier/orders shuffle on
    # their keys with AQE free to re-plan; the region + date filters
    # sit directly on the scans so pushdown prunes before any join.
    # The supplier join carries the co-nation condition INSIDE the
    # equi-join (s_suppkey AND s_nationkey = c_nationkey), not as a
    # post-filter, so the join stays hash-based and early-selective.
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey)
              & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,4)")
            ).alias("rev"),
            F.count("*").alias("n_items"),
        )
        .select("n_name", F.col("rev").cast("string").alias("revenue"),
                "n_items")
    )


def _q_ordering_window(spark, sf_dir):
    from pyspark.sql import Window

    from html_parser_spark.spark.ops import _spread_by

    # r8: project the 3 needed columns, then _spread_by(user_id) — on
    # a narrow scan (single-row-group input) this hash-repartitions on
    # the window key so the window adds no second exchange and its
    # sort runs on all cores instead of inside the one scan task
    # (0.86s -> 0.47s at sf1.0); on production-width scans it is a
    # no-op and the r7 plan (pre-shuffle WindowGroupLimit prune, fewer
    # shuffled bytes) is preserved. Output compared tuple-equal.
    ev = _spread_by(
        _t(spark, sf_dir, "events").select("user_id", "event_id", "ts"),
        "user_id")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        ev.withColumn("turn_rank", F.row_number().over(w))
        .where(F.col("turn_rank") <= 3)
        .select("user_id", "event_id", "turn_rank")
    )


def _q_resume_antijoin(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def _q_metrics_rollup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


def _q_events_agg(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            "event_type", "n_events",
            F.col("sum_value").cast("string").alias("sum_value"),
            "n_users",
        )
    )


def _q_json_props(spark, sf_dir):
    # r8: the JSON field is PROJECTED once below the aggregate — the
    # inline form ran get_json_object (a full JSON parse of props) 3x
    # per row, once per aggregate expression. Same values, same
    # oracle.
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count(F.when(F.col("k") > 50, 1)).alias("n_high"),
        )
    )


def _q_events_daily(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n_events"))
    )


def _q_events_pruned_window(spark, sf_dir):
    # date-bounded read over the days(ts)-partitioned events layout:
    # the filter on the directory key becomes PartitionFilters in the
    # scan (PLANS.md "events_pruned_window"), so whole day-directories
    # are skipped at PLAN time — at 100 TB this is the difference
    # between scanning 3 days and scanning the whole log. Results are
    # oracle-identical to the same window computed over the flat table
    # (min/max aggregates only: order-independent, hash-stable).
    from html_parser_spark.spark.storage import partitioned_events_path

    ev = spark.read.parquet(partitioned_events_path(spark, sf_dir))
    return (
        ev.filter(F.col("event_date").between("2024-01-10", "2024-01-12"))
        .groupBy("event_date", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


def _q_exact_dedup(spark, sf_dir):
    from html_parser_spark.spark.ops import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def _q_token_stats(spark, sf_dir):
    from html_parser_spark.spark.ops import token_stats

    return token_stats(_t(spark, sf_dir, "documents"))


def _q_quality(spark, sf_dir):
    from html_parser_spark.spark.ops import quality_score

    return quality_score(_t(spark, sf_dir, "documents"))


def _q_repetition_scores(spark, sf_dir):
    # Gopher-style repetition filters: per-row HOF metrics + one
    # keyed (doc_id, gram) aggregate for the top bigram — SQL-exact
    from html_parser_spark.spark.ops import repetition_scores

    return repetition_scores(_t(spark, sf_dir, "documents"))


def _q_decontaminate(spark, sf_dir):
    # benchmark n-gram-collision decontamination: broadcast bench
    # gram set, per-doc distinct-gram overlap fraction — SQL-exact
    from html_parser_spark.spark.ops import decontaminate

    return decontaminate(_t(spark, sf_dir, "documents"))


def _q_dup_passages(spark, sf_dir):
    # exact duplicated-passage annotation (Lee et al. 2021 ExactSubstr
    # signal): md5-keyed cross-doc n-gram doc-frequency — SQL-exact
    from html_parser_spark.spark.ops import dup_passages

    return dup_passages(_t(spark, sf_dir, "documents"))


def _q_pmi_collocations(spark, sf_dir):
    # corpus-level top-k collocations; rational association score
    # (engine-exact, no libm log), broadcast vocabulary joins
    from html_parser_spark.spark.ops import pmi_collocations

    return pmi_collocations(_t(spark, sf_dir, "documents"))


def _q_warc_roundtrip(spark, sf_dir):
    # WARC source proof: documents -> distributed .warc.gz sink (one
    # gzip member per record, Common Crawl layout) -> binaryFile +
    # streaming member parse -> HTTP envelope split. The oracle
    # recomputes the envelope + payload md5 straight from the source
    # table, so the wrap/unwrap plumbing is what's under test
    # (non-circular). The fixture build is a one-time cached side
    # effect, not part of the read plan.
    import os

    from html_parser_spark.spark.warc import (
        read_warc_records, warc_http_responses, write_warc_records,
    )

    docs = _t(spark, sf_dir, "documents")
    tag = os.path.basename(os.path.normpath(sf_dir))
    # per-user cache dir (predictable world-writable path would let
    # another local user pre-plant archives) keyed by a cheap content
    # fingerprint of the source table, so a regenerated testdata dir
    # with the same name rebuilds instead of serving stale archives
    import duckdb

    fp = duckdb.sql(
        "SELECT count(*) || '_' || coalesce(sum(doc_id), 0) || '_' "
        "|| coalesce(sum(n_chars), 0) FROM "
        f"'{os.path.join(sf_dir, 'documents.parquet')}'").fetchone()[0]
    out_dir = f"/tmp/spark_graft_warc_u{os.getuid()}/{tag}"
    marker = os.path.join(out_dir, f"_BUILT_{fp}")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir, exist_ok=True)
        html = F.concat(
            F.lit("<!DOCTYPE html><html><head><title>doc"),
            F.col("doc_id").cast("string"),
            F.lit("</title></head><body><p>"), F.col("text"),
            F.lit("</p></body></html>"))
        payload = F.encode(F.concat(
            F.lit("HTTP/1.1 200 OK\r\n"
                  "Content-Type: text/html; charset=utf-8\r\n\r\n"),
            html), "utf-8")
        src = (
            docs.select(
                F.concat(F.lit("https://example.org/doc/"),
                         F.col("doc_id").cast("string"))
                .alias("target_uri"),
                F.concat(F.lit("<urn:doc:"),
                         F.col("doc_id").cast("string"), F.lit(">"))
                .alias("record_id"),
                payload.alias("payload"))
            .repartition(4, "record_id")
            .sortWithinPartitions("record_id")
        )
        write_warc_records(src, out_dir)
        open(marker, "w").close()
    responses = warc_http_responses(
        read_warc_records(spark, out_dir + "/*.warc.gz"))
    return responses.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("bigint").alias("doc_id"),
        "http_status", "http_content_type", "charset_hint",
        F.md5("body").alias("payload_md5"),
    )


def _q_tfidf_top_terms(spark, sf_dir):
    # top-k characteristic terms per doc; rational TF-rarity score
    # (engine-exact, no libm log) — SQL-exact
    from html_parser_spark.spark.ops import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"))


def _q_bloom_decontaminate(spark, sf_dir):
    """Bloom pre-screen vs the exact decontamination check: per-doc
    bloom hits, exact hits, and the (one-sided) false-positive gap."""
    from html_parser_spark.spark.ops import bloom_decontaminate

    return bloom_decontaminate(_t(spark, sf_dir, "documents"))


def _q_cms_top_terms(spark, sf_dir):
    """Count-Min frequency sketch audited against exact counts for
    the true top-20 tokens — integer md5-bucket arithmetic, fully
    engine-exact."""
    from html_parser_spark.spark.ops import cms_top_terms

    return cms_top_terms(_t(spark, sf_dir, "documents"))


def _q_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sample without replacement —
    deterministic md5 uniforms, length-proportional weights, top-k
    as TakeOrderedAndProject."""
    from html_parser_spark.spark.ops import weighted_sample

    return weighted_sample(_t(spark, sf_dir, "documents"), k=50)


def _q_gopher_filter(spark, sf_dir):
    """Gopher-rule composite quality gate: per-document metrics +
    keep flag + named failed rules, all per-row expressions."""
    from html_parser_spark.spark.ops import gopher_filter

    return gopher_filter(_t(spark, sf_dir, "documents"))


def _q_source_overlap(spark, sf_dir):
    """Cross-source n-gram contamination matrix (distinct shared
    8-grams per source pair + overlap coefficient)."""
    from html_parser_spark.spark.ops import source_overlap

    return source_overlap(_t(spark, sf_dir, "documents"))


def _q_leakage_check(spark, sf_dir):
    """Train/eval leakage audit: near-dup pairs per split combination
    with leaky flags — the shared pair CTE joined to the md5 split."""
    from html_parser_spark.spark.ops import leakage_check

    return leakage_check(_t(spark, sf_dir, "documents"),
                         threshold=_NEARDUP_THRESHOLD,
                         **_NEARDUP_LSH)


def _q_split_assign(spark, sf_dir):
    # deterministic md5-bucket train/val/test split — SQL-exact
    from html_parser_spark.spark.ops import split_assign

    return split_assign(_t(spark, sf_dir, "documents"))


def _q_chunk_documents(spark, sf_dir):
    # sliding word-window chunking (pretraining/RAG prep) — one
    # narrow JVM stage, zero shuffles — SQL-exact
    from html_parser_spark.spark.ops import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"))


def _q_temperature_sample(spark, sf_dir):
    # per-language temperature sampling (alpha=0.5) with an integer-
    # squared md5 threshold; broadcast count join — SQL-exact
    from html_parser_spark.spark.ops import temperature_sample

    return temperature_sample(_t(spark, sf_dir, "documents"))


def _q_pack_sequences(spark, sf_dir):
    # training-data sequence packing: bucketed greedy concat-and-split
    # placement, one keyed window (no global sort) — SQL-exact
    from html_parser_spark.spark.ops import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"))


def _q_lang_balanced_sample(spark, sf_dir):
    from html_parser_spark.spark.ops import lang_balanced_sample

    return lang_balanced_sample(_t(spark, sf_dir, "documents"))


def _q_lang_id(spark, sf_dir):
    from html_parser_spark.spark.ops import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


def _q_fingerprint(spark, sf_dir):
    from html_parser_spark.spark.ops import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"))


def _q_shingles(spark, sf_dir):
    from html_parser_spark.spark.ops import shingle_stats

    return shingle_stats(_t(spark, sf_dir, "documents"))


def _q_bpe_tokens(spark, sf_dir):
    from html_parser_spark.spark.ops import bpe_token_stats

    return bpe_token_stats(_t(spark, sf_dir, "documents"))


def _q_winnowing(spark, sf_dir):
    from html_parser_spark.spark.ops import winnowing_fingerprints

    return winnowing_fingerprints(_t(spark, sf_dir, "documents"))


def _q_embedding_norms(spark, sf_dir):
    from html_parser_spark.spark.ops import embedding_norms

    return embedding_norms(_t(spark, sf_dir, "embeddings"))


def _q_ann_bruteforce(spark, sf_dir):
    from html_parser_spark.spark.ops import ann_bruteforce

    return ann_bruteforce(
        _t(spark, sf_dir, "embeddings"), _ANN_QUERY_IDS, k=5
    ).select("query_id", "corpus_id", "rank")


def _q_ann_lsh(spark, sf_dir):
    from html_parser_spark.spark.ops import ann_lsh

    return ann_lsh(
        _t(spark, sf_dir, "embeddings"), _ANN_QUERY_IDS, k=5
    ).select("query_id", "corpus_id", "rank")


def _q_ann_ivf(spark, sf_dir):
    # ivf_fit is the quantizer-training ACTION: real spherical k-means
    # (Lloyd's), one distributed pass per iteration with decimal-exact
    # (partitioning-independent) centroid means; the search itself is
    # pure plan — assignment is a per-row argmax by the numpy fold
    # kernel (bit-equal to the JVM cosine fold), probing a cell-keyed
    # equi-join. n_probe == n_cells reproduces ann_bruteforce exactly
    # (property-tested), and
    # test_ivf_kmeans_recall_single_probe gates the below-full-probe
    # recall the trained quantizer buys.
    from html_parser_spark.spark.ops import ann_ivf, ivf_fit

    emb = _t(spark, sf_dir, "embeddings")
    anchors = ivf_fit(emb, n_cells=16, seed=7)
    return ann_ivf(emb, _ANN_QUERY_IDS, anchors, k=5, n_probe=4).select(
        "query_id", "corpus_id", "rank"
    )


def _q_ann_ivfpq(spark, sf_dir):
    # IVF-PQ: the memory-scale ANN path — candidates in the probed
    # cells are scored from 8-byte PQ codes and a per-query ADC table,
    # never their raw floats. pq_fit is the training ACTION (per-
    # subspace Lloyd's with decimal-exact means, one distributed pass
    # per iteration for ALL subspaces); encode + search are pure plan.
    # Recall gates live in tests (planted-cluster retrieval,
    # test_ann_ivfpq_*); this row pins the deterministic output.
    from html_parser_spark.spark.ops import ann_ivfpq, ivf_fit, pq_fit

    emb = _t(spark, sf_dir, "embeddings")
    anchors = ivf_fit(emb, n_cells=8, seed=7, n_iters=3)
    codebooks = pq_fit(emb, n_subspaces=8, n_codes=16, seed=7,
                       n_iters=3)
    return ann_ivfpq(emb, _ANN_QUERY_IDS, anchors, codebooks,
                     k=5, n_probe=4).select(
        "query_id", "corpus_id", "rank"
    )


def _q_zorder_events(spark, sf_dir):
    """Morton z-key assignment over (user bucket, epoch day) — the
    kernel of OPTIMIZE ZORDER BY file clustering. The interleave
    expression is generated once (storage.zorder_key_sql) and run
    verbatim by BOTH engines; the data-skipping effect it buys is
    measured in test_zorder_layout_skips_files_for_box_queries."""
    from html_parser_spark.spark.storage import zorder_key_sql

    ev = _t(spark, sf_dir, "events")
    return ev.selectExpr(
        "event_id",
        "cast(user_id & 1023 as int) as x",
        "cast(datediff(to_date(ts), date'1970-01-01') & 1023 as int)"
        " as y",
    ).selectExpr(
        "event_id", "x", "y", zorder_key_sql("x", "y", 10) + " as zkey"
    )


def _q_raw_encoding(spark, sf_dir):
    """The full byte front-end (E1-E9 + P1) through Spark: BOM sniff,
    label resolution, meta prescan, UTF-16/ISO-2022-JP/x-user-defined
    decode, transport hint, late-meta re-parse — over a deterministic
    binary corpus (differential-tested against the reference binaries
    incl. --charset hints in test_raw_documents)."""
    from html_parser_spark.spark.raw_documents import (
        extract_raw_documents, synth_raw_documents_df,
    )

    out = extract_raw_documents(synth_raw_documents_df(spark))
    return out.select(
        "doc_id", "doc_encoding", "parse_errors", "node_count",
        "extracted_text",
        F.to_json("spans").alias("spans"),
        F.to_json("parse_error_texts").alias("parse_error_texts"),
    )


def _q_embedding_near_dup(spark, sf_dir):
    # LSH-bucketed candidates + exact cosine verify (the 100 TB path);
    # the exact-SQL oracle cross-joins at sf0.01 only. The testdata
    # embeddings carry no near-dup pairs at 0.9 (max pair cosine ~0.51)
    # so both sides return the same empty set; the operator's recall on
    # planted dups is gated by test_embedding_near_dup_finds_planted.
    from html_parser_spark.spark.ops import embedding_near_dup

    return embedding_near_dup(
        _t(spark, sf_dir, "embeddings"), threshold=0.9
    ).select("vec_a", "vec_b")


def _q_minhash_lsh(spark, sf_dir):
    from html_parser_spark.spark.ops import minhash_lsh_candidates

    return minhash_lsh_candidates(_t(spark, sf_dir, "documents"))


def _q_ngram_jaccard(spark, sf_dir):
    # 100 TB path: exact jaccard verifies ONLY the minhash-LSH candidate
    # pairs (band-keyed equi-join) — no cross join ever materializes.
    # The oracle stays exact all-pairs, so the LSH banding must RECALL
    # (not just usually-recall) every pair at the 0.5 threshold: with
    # 16 bands x 2 rows, P(collide | j=0.5) = 1-(1-0.25)^16 ~ 0.99 per
    # pair (vs ~0.40 at the 8x4 default), rising steeply above the
    # threshold; precision is free because candidates are exact-
    # verified. Recall at the boundary is gated by
    # test_lsh_recall_at_threshold on planted near-threshold pairs.
    from html_parser_spark.spark.ops import (
        minhash_lsh_candidates, ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, threshold=_NEARDUP_THRESHOLD,
        candidates=minhash_lsh_candidates(docs, **_NEARDUP_LSH),
    ).select("doc_a", "doc_b")


def _q_ngram_diversity(spark, sf_dir):
    """Distinct-2 corpus diversity per language + singleton fraction
    (Li et al. 2016 distinct-n; mode-collapse / template detector)."""
    from html_parser_spark.spark.ops import ngram_diversity

    return ngram_diversity(_t(spark, sf_dir, "documents"), n=2)


def _q_ccnet_split(spark, sf_dir):
    """CCNet head/middle/tail corpus split per language by integer
    bit-count unigram surprisal (engine-exact: no libm log; see
    ops.ccnet_split docstring)."""
    from html_parser_spark.spark.ops import ccnet_split

    return ccnet_split(_t(spark, sf_dir, "documents"))


def _q_bm25_search(spark, sf_dir):
    """BM25 top-10 for the fixed query terms (spark, window, merge).
    Log-free rational IDF for engine exactness (see ops.bm25_search
    docstring); the oracle mirrors the score expression's
    parenthesization token-for-token, so both engines compute
    bit-identical doubles."""
    from html_parser_spark.spark.ops import bm25_search

    return bm25_search(_t(spark, sf_dir, "documents"),
                       terms=("spark", "window", "merge"), k=10)


def _q_edit_distance_verify(spark, sf_dir):
    """Char-level Levenshtein refinement of the SAME near-dup pair set
    the jaccard query verifies (LSH candidates -> exact jaccard ->
    edit distance). ASCII-gated for engine exactness: Spark counts
    codepoint edits, DuckDB counts byte edits; they provably agree on
    ASCII, so non-ASCII pairs report ascii_only=false with NULL
    distance (a documented, deterministic contract, not a guess)."""
    from html_parser_spark.spark.ops import (
        edit_distance_pairs, minhash_lsh_candidates,
    )

    docs = _t(spark, sf_dir, "documents")
    return edit_distance_pairs(
        docs, threshold=_NEARDUP_THRESHOLD,
        candidates=minhash_lsh_candidates(docs, **_NEARDUP_LSH),
    )


def _q_simhash(spark, sf_dir):
    from html_parser_spark.spark.ops import simhash

    return simhash(_t(spark, sf_dir, "documents"))


def _q_extract_transcripts(spark, sf_dir):
    # The registered query serializes the array columns to their JSON
    # form so the driver's pandas canonicalizer (sort/factorize) never
    # sees an unhashable list column; the pipeline itself keeps the
    # typed array schemas.
    return (
        entry(spark)
        .withColumn("spans", F.to_json("spans"))
        .withColumn("parse_error_texts", F.to_json("parse_error_texts"))
    )


def _q_conversation_stats(spark, sf_dir):
    from html_parser_spark.spark.pipeline import (
        conversation_stats, extract_turns,
    )
    from html_parser_spark.spark.transcripts import transcripts_df

    df = transcripts_df(spark, 2000, seed=42, partitions=8)
    return conversation_stats(extract_turns(df, ordered=False))


def _q_sft_pairs(spark, sf_dir):
    """SFT training-pair construction: context = previous up-to-3
    turns rendered "role: text", response = the assistant turn. One
    conv_id window, bounded frame (no reference counterpart — a
    training-data op the C parser has no SQL surface for)."""
    from html_parser_spark.spark.pipeline import extract_turns, sft_pairs
    from html_parser_spark.spark.transcripts import transcripts_df

    df = transcripts_df(spark, 2000, seed=42, partitions=8)
    return sft_pairs(extract_turns(df, ordered=False), context_turns=3)


def _q_loss_mask_spans(spark, sf_dir):
    """Loss-masking layout: per-turn [tok_start, tok_end) offsets in
    the packed per-conversation token stream + trainable flag."""
    from html_parser_spark.spark.pipeline import (
        extract_turns, loss_mask_spans,
    )
    from html_parser_spark.spark.transcripts import transcripts_df

    df = transcripts_df(spark, 2000, seed=42, partitions=8)
    return loss_mask_spans(extract_turns(df, ordered=False), sep_tokens=1)


def _q_context_window_trim(spark, sf_dir):
    """Context-window truncation layout: maximal suffix of each
    conversation fitting a 64-token budget (reverse running sum, one
    conv_id window); total op — every turn emitted with a kept flag."""
    from html_parser_spark.spark.pipeline import (
        context_window_trim, extract_turns,
    )
    from html_parser_spark.spark.transcripts import transcripts_df

    df = transcripts_df(spark, 2000, seed=42, partitions=8)
    return context_window_trim(extract_turns(df, ordered=False),
                               budget_tokens=64)


def _q_render_chatml(spark, sf_dir):
    """Training-serialization render: one ChatML document per
    conversation, turns wrapped and joined in stable turn order —
    the oracle re-derives the exact string with an ordered
    string_agg over the pinned turns fixture."""
    from html_parser_spark.spark.pipeline import (
        extract_turns, render_chatml,
    )
    from html_parser_spark.spark.transcripts import transcripts_df

    df = transcripts_df(spark, 2000, seed=42, partitions=8)
    return render_chatml(extract_turns(df, ordered=False))


def _q_conv_branches(spark, sf_dir):
    """Branch/regeneration detection: conversations grouped by an
    identical first-turn (role, text) prefix; groups with 2+ members
    are flagged `branched`."""
    from html_parser_spark.spark.pipeline import (
        conv_branches, extract_turns,
    )
    from html_parser_spark.spark.transcripts import transcripts_df

    df = transcripts_df(spark, 2000, seed=42, partitions=8)
    return conv_branches(extract_turns(df, ordered=False),
                         prefix_turns=1)


def _q_hll_distinct(spark, sf_dir):
    """Engine-exact HyperLogLog distinct sketch per event_type (user
    and user-day keys), raw + small-range branches both live, exact
    distinct count alongside for error audit."""
    from html_parser_spark.spark.ops import hll_distinct

    return hll_distinct(_t(spark, sf_dir, "events"))


def _q_semantic_dedup(spark, sf_dir):
    """SemDeDup: nearest-seed clustering, within-cluster cosine
    near-dup drop (keep-lowest-id), total output with kept/dup_of."""
    from html_parser_spark.spark.ops import semantic_dedup

    return semantic_dedup(_t(spark, sf_dir, "embeddings"))


def _q_dataset_card(spark, sf_dir):
    """One-row corpus datasheet: sizes, breadth, exact-dup rate, mean
    quality (decimal-sum exact), Gopher keep rate."""
    from html_parser_spark.spark.ops import dataset_card

    return dataset_card(_t(spark, sf_dir, "documents"))


def _q_source_quality(spark, sf_dir):
    """Per-source health dashboard: counts, decimal-exact mean
    quality, Gopher keep rate."""
    from html_parser_spark.spark.ops import source_quality

    return source_quality(_t(spark, sf_dir, "documents"))


def _q_mixture_weights(spark, sf_dir):
    """Per-language mixture reweighting plan: exact rational weights
    equalizing the language mix, natural shares alongside."""
    from html_parser_spark.spark.ops import mixture_weights

    return mixture_weights(_t(spark, sf_dir, "documents"))


def _q_conv_pii_audit(spark, sf_dir):
    """Transcript PII audit per conversation (counts, roles, worst
    turn). The synthetic corpus is PII-free by construction, so every
    row reports zero (same precedent as redact_pii's zero counts);
    the detection semantics are gated by a planted pytest."""
    from html_parser_spark.spark.ops import conv_pii_audit
    from html_parser_spark.spark.pipeline import extract_turns
    from html_parser_spark.spark.transcripts import transcripts_df

    df = transcripts_df(spark, 2000, seed=42, partitions=8)
    return conv_pii_audit(extract_turns(df, ordered=False))


def _q_rag_retrieval(spark, sf_dir):
    """RAG prep retrieval join: BM25 top-3 documents per first user
    turn through a token-keyed inverted-index join — transcripts and
    documents tables meet in one query."""
    from html_parser_spark.spark.ops import rag_retrieval
    from html_parser_spark.spark.pipeline import extract_turns
    from html_parser_spark.spark.transcripts import transcripts_df

    df = transcripts_df(spark, 2000, seed=42, partitions=8)
    return rag_retrieval(extract_turns(df, ordered=False),
                         _t(spark, sf_dir, "documents"), k=3)


def _q_sft_corpus(spark, sf_dir):
    """End-to-end transcript SFT prep DAG: conversation quality gate
    -> context-window trim -> ChatML render; the oracle re-derives
    all three stages in SQL over the pinned turns fixture."""
    from html_parser_spark.spark.pipeline import extract_turns, sft_corpus
    from html_parser_spark.spark.transcripts import transcripts_df

    df = transcripts_df(spark, 2000, seed=42, partitions=8)
    return sft_corpus(extract_turns(df, ordered=False))


def _q_conv_near_dup(spark, sf_dir):
    """Conversation-level near-dup: MinHash-LSH + exact-Jaccard verify
    over whole-conversation documents. The synthetic corpus has no
    conversation pair above jaccard ~0.10, so at the production
    threshold (0.5) the TRUE pair set — which the oracle computes
    exhaustively — is empty; the planted-duplicate detection gate
    lives in tests (test_conv_near_dup_planted)."""
    from html_parser_spark.spark.pipeline import (
        conv_near_dup, extract_turns,
    )
    from html_parser_spark.spark.transcripts import transcripts_df

    df = transcripts_df(spark, 2000, seed=42, partitions=8)
    return conv_near_dup(extract_turns(df, ordered=False),
                         threshold=_NEARDUP_THRESHOLD)


def _q_preference_pairs(spark, sf_dir):
    """DPO preference-pair mining: prompts answered by >=2 distinct
    responses across the corpus yield (chosen, rejected) by the
    deterministic length-preference scorer."""
    from html_parser_spark.spark.pipeline import (
        extract_turns, preference_pairs,
    )
    from html_parser_spark.spark.transcripts import transcripts_df

    df = transcripts_df(spark, 2000, seed=42, partitions=8)
    return preference_pairs(extract_turns(df, ordered=False))


def _q_role_alternation(spark, sf_dir):
    """Dialogue-protocol audit: adjacent same-role turn pairs per
    conversation (first offending turn_idx, -1 when clean)."""
    from html_parser_spark.spark.pipeline import (
        extract_turns, role_alternation,
    )
    from html_parser_spark.spark.transcripts import transcripts_df

    df = transcripts_df(spark, 2000, seed=42, partitions=8)
    return role_alternation(extract_turns(df, ordered=False))


def _q_tool_transitions(spark, sf_dir):
    """Agent-trace Markov transitions over the tool column (rides the
    extraction passthrough): corpus-wide (previous tool -> tool)
    counts, 'START' for a conversation's first tool call."""
    from html_parser_spark.spark.pipeline import (
        extract_turns, tool_transitions,
    )
    from html_parser_spark.spark.transcripts import transcripts_df

    df = transcripts_df(spark, 2000, seed=42, partitions=8)
    return tool_transitions(extract_turns(df, ordered=False))


def _q_cluster_assign(spark, sf_dir):
    """Deterministic nearest-seed-centroid corpus bucketing over the
    embeddings table (the k-means E-step as a broadcast join + one
    partial-aggregating argmax)."""
    from html_parser_spark.spark.ops import cluster_assign

    return cluster_assign(_t(spark, sf_dir, "embeddings"), n_clusters=4)


def _q_extract_links(spark, sf_dir):
    """Anchor/link extraction (link-graph raw material): one row per
    <a href> per turn, document order, through the kernel's DOM walk.
    Oracle = the committed links fixture (extraction is golden-gated;
    minted by tools/mint_oracle_snapshots.py)."""
    from html_parser_spark.spark.pipeline import extract_links
    from html_parser_spark.spark.transcripts import transcripts_df

    df = transcripts_df(spark, 2000, seed=42, partitions=8)
    return extract_links(df)


def _q_link_stats(spark, sf_dir):
    """Link-graph rollup by URI scheme — real GROUP BY SQL re-derived
    over the materialized links fixture."""
    from html_parser_spark.spark.pipeline import extract_links, link_stats
    from html_parser_spark.spark.transcripts import transcripts_df

    df = transcripts_df(spark, 2000, seed=42, partitions=8)
    return link_stats(extract_links(df))


def _q_pagerank(spark, sf_dir):
    """Integer-exact PageRank (5 iterations) over a deterministic
    synthetic citation graph derived from the documents table:
    src=doc_id, dst=(doc_id*31+17k) mod 1000 for k in 1..3.  The
    iterative loop is the Spark side; the oracle unrolls the same
    integer recurrence as chained CTEs."""
    from html_parser_spark.spark.ops import pagerank

    d = _t(spark, sf_dir, "documents")
    edges = (
        d.select(F.col("doc_id").cast("bigint").alias("src"))
        .withColumn("k", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))))
        .select("src",
                ((F.col("src") * 31 + 17 * F.col("k")) % 1000)
                .cast("bigint").alias("dst"))
    )
    return pagerank(edges, n_iter=5)


def _q_interval_events(spark, sf_dir):
    """Range join via bin-bucketed equi-join (no nested loop): every
    third calendar day carries an 08:00-16:00 maintenance window;
    count the events and distinct users landing inside each."""
    from html_parser_spark.spark.ops import interval_join

    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        F.date_trunc("day", F.col("ts")).alias("d")).distinct()
    windows = (
        days.where(F.dayofmonth("d") % 3 == 0)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("window_id"),
            (F.col("d") + F.expr("INTERVAL 8 HOURS")).alias("w_start"),
            (F.col("d") + F.expr("INTERVAL 16 HOURS")).alias("w_end"),
        )
    )
    return (
        interval_join(ev, windows)
        .groupBy("window_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


def _q_strip_dup_passages(spark, sf_dir):
    """Lee-et-al ExactSubstr DELETION: rebuild each document with the
    word positions covered by cross-document duplicate n-grams
    removed (the action half of dup_passages)."""
    from html_parser_spark.spark.ops import strip_dup_passages

    return strip_dup_passages(_t(spark, sf_dir, "documents"), n=8)


def _q_extract_boilerplate(spark, sf_dir):
    from html_parser_spark.spark.pipeline import extract_turns
    from html_parser_spark.spark.transcripts import transcripts_df

    df = transcripts_df(spark, 1000, seed=42, partitions=8)
    return extract_turns(df, boilerplate=True).select(
        "conv_id", "turn_idx", "turn_rank", "extracted_text",
        "parse_errors",
    )


def _q_dump_serialize(spark, sf_dir):
    """S3/S4 surfaces through Spark: ASCII dump + HTML serialization
    columns for every turn (golden-equal per tests)."""
    from html_parser_spark.spark.transcripts import transcripts_df
    from html_parser_spark.spark.udfs import DUMP_FIELDS, dump_row, map_rows

    df = transcripts_df(spark, 500, seed=42, partitions=4)
    return map_rows(df, ["text"], ["conv_id", "turn_idx"], DUMP_FIELDS,
                    dump_row("fragment", "div"))


def _q_media_features(spark, sf_dir):
    # `features array<float>` is serialized to a fixed-precision string
    # so the result is hashable/sortable in the driver harness.
    from html_parser_spark.spark.multimodal import decode_media, synth_media_df

    out = decode_media(synth_media_df(spark, 64))
    return out.select(
        "media_id", "kind", "n_bytes", "sha", "decode_ok",
        F.array_join(
            F.transform("features", lambda x: F.format_string("%.6f", x)),
            ",",
        ).alias("features"),
    )


def _q_pdf_extract(spark, sf_dir):
    """North-rule "PDF/layout parse": real pure-stdlib PDF object/
    content-stream parsing + positional layout reconstruction over a
    deterministic corpus of REAL pdf payloads (incl. Flate streams,
    hex strings, TJ kerning, multi-page trees, corrupt rows). The
    oracle is NOT a parser-output pin: it reads the GENERATOR-side
    expected values (tests/fixtures/pdf_expected.parquet) — writer and
    parser are independent inverse implementations."""
    from html_parser_spark.spark.pdf import extract_pdfs, synth_pdf_df

    return extract_pdfs(synth_pdf_df(spark, 40, seed=42)).select(
        "doc_id", "n_pages", "n_runs", "decode_ok", "extracted_text"
    )


def _q_source_stats(spark, sf_dir):
    from html_parser_spark.spark.ops import source_stats

    return source_stats(_t(spark, sf_dir, "documents"))


def _q_knn_label_purity(spark, sf_dir):
    # similarity-search application layer: k-NN majority-label
    # classification over the embedding space (exact top-k; purity is
    # an exact k-denominator fraction so values hash stably)
    from html_parser_spark.spark.ops import knn_label_purity

    return knn_label_purity(
        _t(spark, sf_dir, "embeddings"), _ANN_QUERY_IDS, k=5)


def _q_event_sessions(spark, sf_dir):
    # batch gap-based sessionization (the SQL-oracled face of the
    # streaming conversation_sessions operator)
    from html_parser_spark.spark.ops import event_sessions

    return event_sessions(_t(spark, sf_dir, "events"), gap_minutes=30)


def _q_curate_corpus(spark, sf_dir):
    # the end-to-end curation composition (quality gate -> exact dedup
    # -> LSH-candidate near-dup strip) as one declarative plan. The
    # oracle re-derives every stage in ANSI SQL with EXACT all-pairs
    # jaccard at oracle scale, while the Spark side verifies only LSH
    # candidates: a pair at exactly j=0.8 misses all 16 2-row bands
    # with probability (1-0.8^2)^16 = 7.9e-8 (smaller above 0.8, where
    # real dups live), so a gate divergence needs a borderline pair
    # AND a 1-in-12.6M banding miss — accepted and documented rather
    # than silently depended on
    from html_parser_spark.spark.ops import curate_corpus

    return curate_corpus(_t(spark, sf_dir, "documents"))


def _q_dedup_representatives(spark, sf_dir):
    """Quality-aware representative per near-dup cluster (same shared
    pair/threshold definition as dup_components/ngram_jaccard)."""
    from html_parser_spark.spark.ops import dedup_representatives

    return dedup_representatives(
        _t(spark, sf_dir, "documents"),
        jaccard_threshold=_NEARDUP_THRESHOLD, **_NEARDUP_LSH)


def _q_dup_components(spark, sf_dir):
    # near-dup clustering as a first-class result (the clustering view
    # of curate_corpus's drop rule): LSH-verified pairs collapsed to
    # connected components. Threshold 0.5 matches the registered
    # ngram_jaccard query so the pair set (and hence the LSH-recall
    # risk profile, documented there) is identical — the oracle closes
    # the exact all-pairs graph with a recursive CTE.
    from html_parser_spark.spark.ops import dup_components

    return dup_components(_t(spark, sf_dir, "documents"),
                          jaccard_threshold=_NEARDUP_THRESHOLD,
                          **_NEARDUP_LSH)


def _q_asof_attribution(spark, sf_dir):
    # temporal AS-OF join: each click attributed to the user's latest
    # prior (or same-instant) view. Spark has no native ASOF operator
    # — ops realizes it as ONE Exchange + running window (no join
    # node); DuckDB's native ASOF LEFT JOIN is the oracle. Both sides
    # are predicates over the SAME events table, so the fused
    # single-scan form is used (the two-frame asof_join would read
    # events twice — the union-of-filters double scan). (user_id, ts)
    # is unique per side in the generated events, so the
    # unspecified-tie caveat never fires.
    from html_parser_spark.spark.ops import asof_join_filtered

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type",
        F.col("event_id").alias("view_id"),
    )
    out = asof_join_filtered(
        ev,
        F.col("event_type") == "click",
        F.col("event_type") == "view",
        on="user_id", ts="ts", right_cols=["view_id"], prefix="asof_",
    )
    return out.select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("click_ts"),
        F.col("asof_view_id").alias("view_id"),
        F.col("asof_ts").alias("view_ts"),
    )


def _q_value_percentiles(spark, sf_dir):
    # exact interpolated percentiles per event_type: Spark
    # `percentile` and DuckDB `quantile_cont` share the linear
    # (1-g)*a + g*b definition over the sorted group, so the values
    # agree bit-for-bit at 4dp (interpolation of two order statistics,
    # not an order-dependent sum). Exact percentile sorts per group —
    # fine for a bounded group count; the unbounded-cardinality 100 TB
    # path is approx_percentile (t-digest), which is NOT cross-engine
    # comparable and therefore not the oracled form.
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr("round(percentile(value, 0.5), 4)").alias("p50"),
            F.expr("round(percentile(value, 0.95), 4)").alias("p95"),
            F.expr("round(min(value), 4)").alias("vmin"),
            F.expr("round(max(value), 4)").alias("vmax"),
            F.count("*").alias("n"),
        )
    )


def _q_approx_percentiles(spark, sf_dir):
    # the 100 TB percentile path: approx_percentile (Greenwald-Khanna
    # sketch) keeps per-group state bounded by the accuracy parameter
    # instead of value_percentiles' exact per-group sort — the form a
    # real user reaches for on unbounded group cardinality. Accuracy
    # 10000 (Spark's default, 1/10000 rank-error bound) also makes the
    # result EXACT and partition-deterministic at the oracle SF (every
    # group is smaller than the sketch capacity, so no compression
    # occurs and the pin is byte-stable — verified across 4/7/32-way
    # repartitionings); the compressed regime's rank-error contract is
    # gated by tests/test_spark_pipeline.py
    # (test_approx_percentiles_rank_error_bound).
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr(
                "approx_percentile(value, array(0.5, 0.95), 10000)"
            ).alias("ap"),
            F.count("*").alias("n"),
        )
        .select(
            "event_type",
            F.round(F.col("ap")[0], 4).alias("ap50"),
            F.round(F.col("ap")[1], 4).alias("ap95"),
            "n",
        )
    )


def _q_corpus_rollup(spark, sf_dir):
    # multi-dimensional aggregation: ROLLUP over (source, lang) gives
    # per-(source,lang), per-source subtotals, and the grand total in
    # one pass (Catalyst expands to a single Expand + aggregate, one
    # shuffle). Subtotal rows are detected via grouping() — not via
    # NULL-coalescing — so a genuine NULL source/lang value stays
    # distinguishable from the ROLLUP '<all>' sentinel; the oracle
    # mirrors with GROUPING(). sum(length) stays bigint on both sides
    # (the oracle casts: DuckDB sum(int) is HUGEINT, which the
    # driver's pandas bridge would float64-ify).
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.rollup("source", "lang")
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.length("text")).alias("n_chars"),
             F.grouping("source").alias("g_src"),
             F.grouping("lang").alias("g_lang"))
        .select(
            F.when(F.col("g_src") == 1, F.lit("<all>"))
            .otherwise(F.col("source")).alias("source"),
            F.when(F.col("g_lang") == 1, F.lit("<all>"))
            .otherwise(F.col("lang")).alias("lang"),
            "n_docs", "n_chars",
        )
    )


def _q_events_pivot(spark, sf_dir):
    # pivot: per-user event counts spread into one column per event
    # type (explicit value list — the scale-correct form: an unlisted
    # pivot triggers a distinct-values job and unbounded-width rows).
    # The oracle expresses the same shape with FILTER aggregates.
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
        .na.fill(0, kinds)
        .select("user_id", *[F.col(k).alias(f"n_{k}") for k in kinds])
    )


def _q_redact_pii(spark, sf_dir):
    from html_parser_spark.spark.ops import redact_pii

    return redact_pii(_t(spark, sf_dir, "documents"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": _q_pricing_summary,
        "top_revenue": _q_top_revenue,
        "regional_revenue": _q_regional_revenue,
        "ordering_window": _q_ordering_window,
        "resume_antijoin": _q_resume_antijoin,
        "metrics_rollup": _q_metrics_rollup,
        "events_agg": _q_events_agg,
        "json_props": _q_json_props,
        "events_daily": _q_events_daily,
        "events_pruned_window": _q_events_pruned_window,
        "exact_dedup": _q_exact_dedup,
        "token_stats": _q_token_stats,
        "pack_sequences": _q_pack_sequences,
        "lang_balanced_sample": _q_lang_balanced_sample,
        "quality_score": _q_quality,
        "repetition_scores": _q_repetition_scores,
        "decontaminate": _q_decontaminate,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "weighted_sample": _q_weighted_sample,
        "cms_top_terms": _q_cms_top_terms,
        "bloom_decontaminate": _q_bloom_decontaminate,
        "gopher_filter": _q_gopher_filter,
        "source_overlap": _q_source_overlap,
        "split_assign": _q_split_assign,
        "leakage_check": _q_leakage_check,
        "dup_passages": _q_dup_passages,
        "pmi_collocations": _q_pmi_collocations,
        "warc_roundtrip": _q_warc_roundtrip,
        "chunk_documents": _q_chunk_documents,
        "temperature_sample": _q_temperature_sample,
        "lang_id": _q_lang_id,
        "fingerprint": _q_fingerprint,
        "shingle_stats": _q_shingles,
        "bpe_tokens": _q_bpe_tokens,
        "winnowing": _q_winnowing,
        "embedding_norms": _q_embedding_norms,
        "ann_bruteforce": _q_ann_bruteforce,
        "ann_lsh": _q_ann_lsh,
        "ann_ivf": _q_ann_ivf,
        "ann_ivfpq": _q_ann_ivfpq,
        "zorder_events": _q_zorder_events,
        "raw_encoding": _q_raw_encoding,
        "embedding_near_dup": _q_embedding_near_dup,
        "minhash_lsh": _q_minhash_lsh,
        "ngram_jaccard": _q_ngram_jaccard,
        "edit_distance_verify": _q_edit_distance_verify,
        "bm25_search": _q_bm25_search,
        "ccnet_split": _q_ccnet_split,
        "ngram_diversity": _q_ngram_diversity,
        "simhash": _q_simhash,
        "extract_transcripts": _q_extract_transcripts,
        "extract_boilerplate": _q_extract_boilerplate,
        "conversation_stats": _q_conversation_stats,
        "sft_pairs": _q_sft_pairs,
        "loss_mask_spans": _q_loss_mask_spans,
        "role_alternation": _q_role_alternation,
        "context_window_trim": _q_context_window_trim,
        "preference_pairs": _q_preference_pairs,
        "render_chatml": _q_render_chatml,
        "conv_near_dup": _q_conv_near_dup,
        "sft_corpus": _q_sft_corpus,
        "rag_retrieval": _q_rag_retrieval,
        "mixture_weights": _q_mixture_weights,
        "dataset_card": _q_dataset_card,
        "source_quality": _q_source_quality,
        "conv_pii_audit": _q_conv_pii_audit,
        "conv_branches": _q_conv_branches,
        "hll_distinct": _q_hll_distinct,
        "semantic_dedup": _q_semantic_dedup,
        "tool_transitions": _q_tool_transitions,
        "cluster_assign": _q_cluster_assign,
        "extract_links": _q_extract_links,
        "link_stats": _q_link_stats,
        "pagerank": _q_pagerank,
        "interval_events": _q_interval_events,
        "strip_dup_passages": _q_strip_dup_passages,
        "dump_serialize": _q_dump_serialize,
        "media_features": _q_media_features,
        "pdf_extract": _q_pdf_extract,
        "source_stats": _q_source_stats,
        "knn_label_purity": _q_knn_label_purity,
        "event_sessions": _q_event_sessions,
        "curate_corpus": _q_curate_corpus,
        "dup_components": _q_dup_components,
        "dedup_representatives": _q_dedup_representatives,
        "asof_attribution": _q_asof_attribution,
        "value_percentiles": _q_value_percentiles,
        "approx_percentiles": _q_approx_percentiles,
        "corpus_rollup": _q_corpus_rollup,
        "events_pivot": _q_events_pivot,
        "redact_pii": _q_redact_pii,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_FIXTURES = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures"
)


def _snap(name: str, cols: str) -> str:
    """Snapshot oracle: select the pinned output fixture verbatim."""
    return (
        f"SELECT {cols} "
        f"FROM read_parquet('{_FIXTURES}/snapshot_{name}.parquet')"
    )


_EN_STOP = "('the','a','of','and','to')"

# Near-dup PAIR definition shared by the ngram_jaccard and
# dup_components queries (Spark params AND oracle CTE text): the two
# queries must see the IDENTICAL pair set — that identity is what
# transfers ngram_jaccard's documented LSH-recall risk analysis to
# dup_components — so it lives in exactly one place.
# single source for the PII patterns: the oracle must run the very
# same Java==RE2-subset strings the Spark operator compiles
from html_parser_spark.spark.ops import (  # noqa: E402
    EMAIL_RE as _PII_EMAIL, URL_RE as _PII_URL, _CTRL_RE as _PII_CTRL,
)

_NEARDUP_THRESHOLD = 0.5
_NEARDUP_LSH = {"num_hashes": 32, "bands": 16}

# single-sourced HLL estimate arithmetic (ops._HLL_RAW_FMT /
# ops._HLL_EST_FMT): the oracle interpolates the operator's own
# expression strings so both engines run identical IEEE ops
from html_parser_spark.spark.ops import (  # noqa: E402
    _HLL_EST_FMT, _HLL_RAW_FMT,
)

_HLL_RAW_256 = _HLL_RAW_FMT.format(m=256)
_HLL_EST_256 = _HLL_EST_FMT.format(raw=_HLL_RAW_256, m=256)

# single-sourced Morton z-key expression (storage.zorder_key_sql)
from html_parser_spark.spark.storage import zorder_key_sql  # noqa: E402

_ZORDER_XY_10 = zorder_key_sql("x", "y", 10)


def _cms_oracle(width: int = 256, depth: int = 4, k: int = 20,
                salt: str = "cms7") -> str:
    """Generate the Count-Min oracle for the operator's parameters —
    one bucket column, counter row, and estimate branch per depth."""
    bcols = ",\n                       ".join(
        f"('0x' || substr(md5(token || '|{salt}{r}'), 1, 8))::BIGINT"
        f" % {width} AS b{r}" for r in range(depth))
    counter_rows = "\n                UNION ALL\n".join(
        f"                SELECT {r} AS row, b{r} AS bucket,"
        f" cast(sum(exact_count) as bigint) AS counter"
        f" FROM keyed GROUP BY b{r}" for r in range(depth))
    est_rows = "\n                UNION ALL\n".join(
        f"                SELECT t.token, t.exact_count, c.counter"
        f" FROM top t JOIN counters c"
        f" ON c.row = {r} AND c.bucket = t.b{r}" for r in range(depth))
    return f"""
            WITH toks AS (
                SELECT unnest(string_split(text, ' ')) AS token
                FROM documents
            ), counts AS (
                SELECT token, cast(count(*) as bigint) AS exact_count
                FROM toks WHERE token <> '' GROUP BY token
            ), keyed AS (
                SELECT token, exact_count,
                       {bcols}
                FROM counts
            ), counters AS (
{counter_rows}
            ), top AS (
                SELECT * FROM keyed
                ORDER BY exact_count DESC, token ASC LIMIT {k}
            ), est AS (
{est_rows}
            )
            SELECT token, exact_count,
                   cast(min(counter) as bigint) AS cms_estimate,
                   cast(min(counter) - exact_count as bigint)
                       AS overestimate
            FROM est GROUP BY token, exact_count
            ORDER BY token
    """


_CMS_ORACLE = _cms_oracle()

# shared fragments for the card/dashboard oracles: the quality
# expression (mirrors ops.quality_score) and the per-doc gopher
# metric CTE + keep predicate (mirrors ops.gopher_filter)
_QUALITY_EXPR = """round((length(regexp_replace(text, '[^a-zA-Z]',
                                                '', 'g'))
                          / greatest(length(text), 1)
                          + len(list_filter(string_split(text, ' '),
                                t -> t in ('the','a','of','and','to')))
                          / greatest(len(string_split(text, ' ')), 1)
                          + case when length(text) between 100 and 2000
                                 then 1.0 else 0.5 end) / 3.0, 6)"""

_GOPHER_M_CTE = """gm AS (
                SELECT doc_id, lang, source, text,
                       len(string_split(text,' ')) AS n_words,
                       length(replace(text,' ','')) AS chars,
                       length(text) - length(replace(text,'#',''))
                           AS hashes,
                       (length(text)
                        - length(replace(text,'...',''))) // 3 AS ells,
                       len(list_filter(string_split(text,' '),
                           t -> t in ('the','a','of','and','to')))
                           AS stops
                FROM documents
            ), gk AS (
                SELECT *,
                       (NOT (n_words < 20 OR n_words > 90))
                       AND (NOT (cast(chars as double) / n_words < 1.0
                                 OR cast(chars as double) / n_words
                                    > 10.0))
                       AND cast(hashes as double) / n_words <= 0.1
                       AND cast(ells as double) / n_words <= 0.1
                       AND (NOT (lang = 'en' AND stops = 0)) AS keep
                FROM gm
            )"""


def _bloom_oracle(m_bits: int = 65536, k_hashes: int = 3,
                  salt: str = "bloom7") -> str:
    """Generate the Bloom decontamination oracle for the operator's
    parameters — one position select per hash row, same md5 integer
    arithmetic."""
    def pos(r):
        return (f"('0x' || substr(md5(gram || '|{salt}{r}'), 1, 8))"
                f"::BIGINT % {m_bits}")

    bloom_rows = "\n                UNION\n".join(
        f"                SELECT {pos(r)} AS bit FROM bench"
        for r in range(k_hashes))
    probe_rows = "\n                UNION ALL\n".join(
        f"                SELECT doc_id, gram, {pos(r)} AS bit"
        f" FROM corpus" for r in range(k_hashes))
    return f"""
            WITH grams AS (
                SELECT doc_id, (doc_id % 10 = 7) AS _bench,
                    unnest(CASE WHEN len(string_split(text, ' ')) >= 5
                        THEN list_distinct(list_transform(
                            generate_series(
                                0, len(string_split(text, ' ')) - 5),
                            i -> array_to_string(list_slice(
                                string_split(text, ' '),
                                i + 1, i + 5), ' ')))
                        ELSE [text] END) AS gram
                FROM documents
            ), bench AS (
                SELECT DISTINCT gram FROM grams WHERE _bench
            ), corpus AS (
                SELECT doc_id, gram FROM grams WHERE NOT _bench
            ), bloom AS (
{bloom_rows}
            ), probes AS (
{probe_rows}
            ), per_gram AS (
                SELECT p.doc_id, p.gram,
                       min(CASE WHEN bl.bit IS NULL THEN 0 ELSE 1 END)
                           AS _all
                FROM probes p LEFT JOIN bloom bl USING (bit)
                GROUP BY p.doc_id, p.gram
            )
            SELECT g.doc_id,
                   cast(count(*) as bigint) AS n_grams,
                   cast(sum(g._all) as bigint) AS n_bloom_hits,
                   cast(count(b.gram) as bigint) AS n_exact_hits,
                   cast(sum(g._all) - count(b.gram) as bigint)
                       AS n_false_positives
            FROM per_gram g LEFT JOIN bench b ON g.gram = b.gram
            GROUP BY g.doc_id ORDER BY g.doc_id
    """


_BLOOM_ORACLE = _bloom_oracle()

_SH_CTE = """sh AS (
              SELECT doc_id,
                     CASE WHEN len(string_split(text,' ')) >= 3 THEN
                       list_distinct(list_transform(
                         generate_series(0, len(string_split(text,' ')) - 3),
                         i -> array_to_string(
                             string_split(text,' ')[i+1:i+3], ' ')))
                     ELSE [array_to_string(string_split(text,' '), ' ')]
                     END AS shingles
              FROM documents
            )"""

_PAIRS_CTE = f"""pairs AS (
              SELECT a.doc_id AS pa, b.doc_id AS pb
              FROM sh a, sh b
              WHERE a.doc_id < b.doc_id
                AND len(list_intersect(a.shingles, b.shingles))
                    / (len(a.shingles) + len(b.shingles)
                       - len(list_intersect(a.shingles, b.shingles)))
                    >= {_NEARDUP_THRESHOLD}
            )"""
_LANG_STOP = {
    "en": "('the','a','of','and','to')",
    "es": "('el','la','de','que','y')",
    "fr": "('le','la','de','et','un')",
    "de": "('der','die','das','und','zu')",
    "zh": "('的','是','不','了','在')",
}


def oracle_sql() -> dict[str, str]:
    hits = {
        lg: (
            "len(list_filter(string_split(text, ' '), "
            f"t -> t in {words}))"
        )
        for lg, words in _LANG_STOP.items()
        if lg != "zh"
    }
    # zh: CJK codepoint count (unsegmented text has no space tokens),
    # gated on CJK density >= 25% of non-space chars so mixed-script
    # mostly-Latin text can't flip to zh on a per-character-scale
    # signal (ops._cjk_hits mirrors this formula exactly). Same
    # LITERAL char-class as the Spark side (ops._CJK_CLASS) — valid in
    # both Java regex and RE2; DuckDB needs the 'g' flag for a global
    # replace (Spark's regexp_replace is global by default).
    hits["zh"] = (
        "(case when 4 * length(regexp_replace(text, '[^一-鿿]', '', "
        "'g')) >= length(replace(text, ' ', '')) then "
        "length(regexp_replace(text, '[^一-鿿]', '', 'g')) "
        "else 0 end)"
    )
    lang_pred = (
        "case when greatest({en},{es},{fr},{de},{zh}) = 0 then 'und' "
        "when {en} = greatest({en},{es},{fr},{de},{zh}) then 'en' "
        "when {es} = greatest({en},{es},{fr},{de},{zh}) then 'es' "
        "when {fr} = greatest({en},{es},{fr},{de},{zh}) then 'fr' "
        "when {de} = greatest({en},{es},{fr},{de},{zh}) then 'de' "
        "else 'zh' end"
    ).format(**hits)

    return {
        # Money aggregates are pinned to their canonical decimal STRING
        # on both sides: DuckDB's pandas bridge renders DECIMAL/HUGEINT
        # as float64 while Spark yields object-Decimal/int64, so equal
        # values hash differently unless both engines emit the exact
        # string form (scale fixed by the decimal type, so trailing
        # zeros agree). Integer sums are bigint-cast for the same
        # reason (DuckDB sum(int) is HUGEINT -> float64).
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   cast(sum(cast(l_quantity as decimal(18,2)))
                        as varchar) AS sum_qty,
                   cast(sum(cast(l_extendedprice as decimal(18,2)))
                        as varchar) AS sum_base_price,
                   cast(sum(cast(l_extendedprice * (1 - l_discount)
                                 as decimal(18,4)))
                        as varchar) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= timestamp '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "top_revenue": """
            SELECT o_orderkey, cast(revenue as varchar) AS revenue
            FROM (
                SELECT o_orderkey,
                       sum(cast(l_extendedprice * (1 - l_discount)
                                as decimal(18,4))) AS revenue
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                WHERE c_mktsegment = 'BUILDING'
                GROUP BY o_orderkey
                ORDER BY revenue DESC, o_orderkey ASC
                LIMIT 10
            )
        """,
        "regional_revenue": """
            SELECT n_name,
                   cast(sum(cast(l_extendedprice * (1 - l_discount)
                                 as decimal(18,4))) as varchar)
                       AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND s_nationkey = c_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= timestamp '1996-01-01'
              AND o_orderdate < timestamp '1997-01-01'
            GROUP BY n_name
        """,
        "ordering_window": """
            SELECT user_id, event_id, turn_rank FROM (
                SELECT user_id, event_id,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts ASC, event_id ASC)
                           AS turn_rank
                FROM events
            ) WHERE turn_rank <= 3
            ORDER BY user_id, turn_rank
        """,
        "resume_antijoin": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            ORDER BY c_custkey
        """,
        "metrics_rollup": """
            SELECT source,
                   count(*) AS n_docs,
                   cast(sum(n_chars) as bigint) AS sum_chars,
                   count(DISTINCT lang) AS n_langs,
                   min(doc_id) AS min_doc_id
            FROM documents GROUP BY source ORDER BY source
        """,
        "events_agg": """
            SELECT event_type,
                   count(*) AS n_events,
                   cast(sum(cast(value as decimal(18,2))) as varchar)
                       AS sum_value,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "json_props": """
            SELECT event_type,
                   cast(sum(cast(json_extract_string(props, '$.k') as int))
                        as bigint) AS sum_k,
                   max(cast(json_extract_string(props, '$.k') as int))
                       AS max_k,
                   count(CASE WHEN cast(json_extract_string(props, '$.k')
                                        as int) > 50 THEN 1 END) AS n_high
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "events_daily": """
            SELECT cast(date_trunc('day', ts) as date) AS day, event_type,
                   count(*) AS n_events
            FROM events GROUP BY 1, 2 ORDER BY day, event_type
        """,
        "events_pruned_window": """
            SELECT cast(date_trunc('day', ts) as date) AS event_date,
                   event_type,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users,
                   min(value) AS min_value,
                   max(value) AS max_value
            FROM events
            WHERE cast(date_trunc('day', ts) as date)
                      BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
            GROUP BY 1, 2 ORDER BY event_date, event_type
        """,
        "exact_dedup": """
            SELECT md5(text) AS text_hash,
                   min(doc_id) AS canonical_doc_id,
                   count(*) AS n_copies
            FROM documents GROUP BY md5(text) ORDER BY canonical_doc_id
        """,
        "token_stats": """
            SELECT doc_id,
                   cast(len(string_split(text, ' ')) as int) AS n_tokens,
                   cast(length(text) as int) AS n_chars,
                   cast(len(list_distinct(string_split(text, ' '))) as int)
                       AS n_distinct_tokens
            FROM documents ORDER BY doc_id
        """,
        "pack_sequences": """
            WITH sized AS (
                SELECT doc_id,
                       cast(doc_id % 8 as int) AS bucket,
                       cast(len(string_split(text, ' ')) as bigint)
                           AS n_tokens
                FROM documents
            ), placed AS (
                SELECT doc_id, bucket, n_tokens,
                       coalesce(sum(n_tokens) OVER (
                           PARTITION BY bucket ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS start_offset
                FROM sized
            )
            SELECT doc_id, bucket,
                   cast(n_tokens as int) AS n_tokens,
                   cast(floor(start_offset / 512.0) as int) AS seq_id,
                   cast(start_offset % 512 as int) AS seq_offset
            FROM placed ORDER BY doc_id
        """,
        "lang_balanced_sample": """
            SELECT doc_id, lang, source, rank_in_lang FROM (
                SELECT doc_id, lang, source,
                       cast(row_number() OVER (
                           PARTITION BY lang ORDER BY doc_id) as int)
                           AS rank_in_lang
                FROM documents
            ) WHERE rank_in_lang <= 20 ORDER BY doc_id
        """,
        "quality_score": f"""
            SELECT doc_id,
                   round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                         / greatest(length(text), 1), 6) AS alpha_ratio,
                   round(len(list_filter(string_split(text, ' '),
                                         t -> t in {_EN_STOP}))
                         / greatest(len(string_split(text, ' ')), 1), 6)
                       AS stopword_ratio,
                   cast(case when length(text) between 100 and 2000
                        then 1.0 else 0.5 end as double) AS length_score,
                   round((length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                          / greatest(length(text), 1)
                          + len(list_filter(string_split(text, ' '),
                                            t -> t in {_EN_STOP}))
                          / greatest(len(string_split(text, ' ')), 1)
                          + case when length(text) between 100 and 2000
                                 then 1.0 else 0.5 end) / 3.0, 6) AS quality
            FROM documents ORDER BY doc_id
        """,
        "repetition_scores": """
            WITH perrow AS (
                SELECT doc_id, length(text) AS _chars,
                    string_split(text, ' ') AS toks,
                    string_split(text, chr(10)) AS lines
                FROM documents
            ), metrics AS (
                SELECT doc_id, _chars,
                    round((len(toks) - len(list_distinct(toks))) * 1.0
                          / greatest(len(toks), 1), 6) AS dup_word_frac,
                    CASE WHEN len(toks) >= 3 THEN round(
                        (len(toks) - 2
                         - len(list_distinct(list_transform(
                               generate_series(0, len(toks) - 3),
                               i -> array_to_string(
                                   list_slice(toks, i + 1, i + 3), ' ')))))
                        * 1.0 / (len(toks) - 2), 6)
                    ELSE 0.0 END AS dup_trigram_frac,
                    round((len(lines) - len(list_distinct(lines))) * 1.0
                          / greatest(len(lines), 1), 6) AS dup_line_frac,
                    round((coalesce(list_sum(list_transform(
                               lines, x -> length(x))), 0)
                           - coalesce(list_sum(list_transform(
                               list_distinct(lines), x -> length(x))), 0))
                          * 1.0
                          / greatest(coalesce(list_sum(list_transform(
                               lines, x -> length(x))), 0), 1), 6)
                        AS dup_line_char_frac
                FROM perrow
            ), bigrams AS (
                SELECT doc_id,
                    unnest(list_transform(
                        generate_series(0, len(toks) - 2),
                        i -> array_to_string(
                            list_slice(toks, i + 1, i + 2), ' '))) AS gram
                FROM perrow WHERE len(toks) >= 2
            ), counts AS (
                SELECT doc_id, gram, count(*) AS cnt
                FROM bigrams GROUP BY doc_id, gram
            ), top AS (
                SELECT doc_id, gram, cnt FROM (
                    SELECT doc_id, gram, cnt,
                        row_number() OVER (PARTITION BY doc_id
                            ORDER BY cnt DESC, gram DESC) AS rn
                    FROM counts) WHERE rn = 1
            )
            SELECT m.doc_id, m.dup_word_frac, m.dup_trigram_frac,
                   m.dup_line_frac, m.dup_line_char_frac,
                   t.gram AS top_bigram,
                   cast(coalesce(t.cnt, 0) as int) AS top_bigram_count,
                   round(coalesce(t.cnt * length(t.gram), 0) * 1.0
                         / greatest(m._chars, 1), 6)
                       AS top_bigram_char_frac
            FROM metrics m LEFT JOIN top t USING (doc_id)
            ORDER BY m.doc_id
        """,
        "decontaminate": """
            WITH grams AS (
                SELECT doc_id, (doc_id % 10 = 7) AS _bench,
                    unnest(CASE WHEN len(string_split(text, ' ')) >= 5
                        THEN list_distinct(list_transform(
                            generate_series(
                                0, len(string_split(text, ' ')) - 5),
                            i -> array_to_string(list_slice(
                                string_split(text, ' '),
                                i + 1, i + 5), ' ')))
                        ELSE [text] END) AS gram
                FROM documents
            ), bench AS (
                SELECT DISTINCT gram FROM grams WHERE _bench
            ), corpus AS (
                SELECT doc_id, gram FROM grams WHERE NOT _bench
            )
            SELECT c.doc_id,
                   cast(count(*) as int) AS n_grams,
                   cast(count(b.gram) as int) AS n_hits,
                   round(count(b.gram) * 1.0 / count(*), 6)
                       AS contamination_frac,
                   count(b.gram) * 1.0 / count(*) >= 0.2
                       AS is_contaminated
            FROM corpus c LEFT JOIN bench b ON c.gram = b.gram
            GROUP BY c.doc_id ORDER BY c.doc_id
        """,
        "tfidf_top_terms": """
            WITH terms AS (
                SELECT doc_id, term, cast(count(*) as int) AS tf
                FROM (SELECT doc_id,
                             unnest(string_split(text, ' ')) AS term
                      FROM documents)
                GROUP BY doc_id, term
            ), dfreq AS (
                SELECT term, cast(count(*) as int) AS df
                FROM terms GROUP BY term
            ), n AS (
                SELECT count(*) AS n_docs FROM documents
            ), ranked AS (
                SELECT t.doc_id, t.term, t.tf, d.df,
                       t.tf * (n.n_docs + 1) / (d.df + 1) AS score,
                       cast(row_number() OVER (
                           PARTITION BY t.doc_id
                           ORDER BY t.tf * (n.n_docs + 1) / (d.df + 1)
                               DESC, t.term ASC) as int) AS term_rank
                FROM terms t, dfreq d, n WHERE t.term = d.term
            )
            SELECT doc_id, term, tf, df,
                   round(score, 6) AS tfidf, term_rank
            FROM ranked WHERE term_rank <= 3
            ORDER BY doc_id, term_rank
        """,
        "dup_passages": """
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents
            ), grams AS (
                SELECT doc_id,
                    unnest(list_transform(
                        generate_series(0, len(ws) - 8),
                        i -> md5(array_to_string(
                            list_slice(ws, i + 1, i + 8), ' ')))) AS gkey
                FROM toks WHERE len(ws) >= 8
            ), pdg AS (
                SELECT gkey, doc_id, count(*) AS pos_cnt
                FROM grams GROUP BY gkey, doc_id
            ), gdf AS (
                SELECT gkey, count(*) AS doc_freq
                FROM pdg GROUP BY gkey HAVING count(*) >= 2
            ), per_doc AS (
                SELECT p.doc_id,
                    sum(p.pos_cnt) AS n_positions,
                    coalesce(sum(p.pos_cnt)
                             FILTER (g.gkey IS NOT NULL), 0)
                        AS n_dup_positions,
                    count(g.gkey) AS n_dup_grams
                FROM pdg p LEFT JOIN gdf g USING (gkey)
                GROUP BY p.doc_id
            )
            SELECT d.doc_id,
                cast(coalesce(p.n_positions, 0) as int) AS n_positions,
                cast(coalesce(p.n_dup_positions, 0) as int)
                    AS n_dup_positions,
                cast(coalesce(p.n_dup_grams, 0) as int) AS n_dup_grams,
                coalesce(round(p.n_dup_positions * 1.0
                               / p.n_positions, 6), 0.0) AS dup_frac
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
            ORDER BY d.doc_id
        """,
        "pmi_collocations": """
            WITH toks AS (
                SELECT string_split(text, ' ') AS ws FROM documents
            ), wc AS (
                SELECT w, count(*) AS wcnt
                FROM (SELECT unnest(ws) AS w FROM toks) GROUP BY w
            ), bc AS (
                SELECT bigram, count(*) AS cnt FROM (
                    SELECT unnest(list_transform(
                        generate_series(0, len(ws) - 2),
                        i -> array_to_string(
                            list_slice(ws, i + 1, i + 2), ' '))) AS bigram
                    FROM toks WHERE len(ws) >= 2)
                GROUP BY bigram HAVING count(*) >= 5
            ), sc AS (
                SELECT bigram, cnt,
                    string_split(bigram, ' ')[1] AS w1,
                    string_split(bigram, ' ')[2] AS w2
                FROM bc
            )
            SELECT s.bigram, cast(s.cnt as int) AS pair_count,
                cast(c1.wcnt as int) AS w1_count,
                cast(c2.wcnt as int) AS w2_count,
                round((s.cnt * s.cnt) * 1.0
                      / (c1.wcnt * c2.wcnt), 6) AS assoc
            FROM sc s
            JOIN wc c1 ON s.w1 = c1.w
            JOIN wc c2 ON s.w2 = c2.w
            ORDER BY assoc DESC, s.bigram ASC LIMIT 50
        """,
        "warc_roundtrip": """
            SELECT doc_id,
                cast(200 as int) AS http_status,
                'text/html' AS http_content_type,
                'utf-8' AS charset_hint,
                md5('<!DOCTYPE html><html><head><title>doc'
                    || CAST(doc_id AS VARCHAR)
                    || '</title></head><body><p>' || text
                    || '</p></body></html>') AS payload_md5
            FROM documents ORDER BY doc_id
        """,
        # pure integer md5-bucket arithmetic — engine-exact by
        # construction; generated for the same (width=256, depth=4,
        # salt='cms7') the operator defaults to
        "cms_top_terms": _CMS_ORACLE,
        # generated for the operator's (m_bits, k_hashes, salt) — the
        # same md5 position arithmetic in both engines
        "bloom_decontaminate": _BLOOM_ORACLE,
        # arithmetic mirrored operation-for-operation: int add ->
        # double cast -> divide -> ln -> divide -> round(6)
        "weighted_sample": """
            SELECT doc_id, lang,
                   cast(n_chars as bigint) AS weight,
                   round(ln(cast((('0x' || substr(md5(
                             cast(doc_id as varchar) || '|wsample7'),
                             1, 6))::BIGINT + 1) as double)
                            / cast(16777216 as double))
                         / greatest(cast(n_chars as double),
                                    cast(1.0 as double)), 6)
                       AS es_score
            FROM documents
            ORDER BY es_score DESC, doc_id ASC
            LIMIT 50
        """,
        "gopher_filter": """
            WITH m AS (
                SELECT doc_id, lang,
                       cast(len(string_split(text,' ')) as int)
                           AS n_words,
                       length(replace(text,' ','')) AS chars,
                       length(text) - length(replace(text,'#',''))
                           AS hashes,
                       (length(text)
                        - length(replace(text,'...',''))) // 3 AS ells,
                       cast(len(list_filter(string_split(text,' '),
                            t -> t in ('the','a','of','and','to')))
                           as int) AS stops
                FROM documents
            ), r AS (
                SELECT doc_id, lang, n_words,
                       cast(chars as double) / n_words AS mwl,
                       cast(hashes as double) / n_words AS hr,
                       cast(ells as double) / n_words AS er,
                       stops,
                       coalesce(array_to_string(list_filter([
                           CASE WHEN n_words < 20 OR n_words > 90
                                THEN 'word_count' END,
                           CASE WHEN cast(chars as double) / n_words
                                     < 1.0
                                  OR cast(chars as double) / n_words
                                     > 10.0
                                THEN 'mean_word_length' END,
                           CASE WHEN cast(hashes as double) / n_words
                                     > 0.1
                                THEN 'hash_ratio' END,
                           CASE WHEN cast(ells as double) / n_words
                                     > 0.1
                                THEN 'ellipsis_ratio' END,
                           CASE WHEN lang = 'en' AND stops = 0
                                THEN 'no_stopwords' END
                       ], x -> x IS NOT NULL), ','), '') AS reasons
                FROM m
            )
            SELECT doc_id, lang, n_words,
                   round(mwl, 6) AS mean_word_len,
                   round(hr, 6) AS hash_ratio,
                   round(er, 6) AS ellipsis_ratio,
                   stops AS stopword_hits,
                   reasons = '' AS keep,
                   reasons
            FROM r ORDER BY doc_id
        """,
        "source_overlap": """
            WITH toks AS (
                SELECT source, string_split(text, ' ') AS ws
                FROM documents
            ), g AS (
                SELECT DISTINCT source,
                    unnest(list_transform(
                        generate_series(0, len(ws) - 8),
                        i -> md5(array_to_string(
                            list_slice(ws, i + 1, i + 8), ' ')))) AS gkey
                FROM toks WHERE len(ws) >= 8
            ), totals AS (
                SELECT source, cast(count(*) as bigint) AS n_grams
                FROM g GROUP BY source
            ), pairs AS (
                SELECT a.source AS source_a, b.source AS source_b,
                       cast(count(*) as bigint) AS n_shared_grams
                FROM g a JOIN g b
                  ON a.gkey = b.gkey AND a.source < b.source
                GROUP BY a.source, b.source
            )
            SELECT p.source_a, p.source_b, p.n_shared_grams,
                   ta.n_grams AS grams_a, tb.n_grams AS grams_b,
                   round(p.n_shared_grams
                         / least(ta.n_grams, tb.n_grams), 6)
                       AS overlap_coef
            FROM pairs p
            JOIN totals ta ON p.source_a = ta.source
            JOIN totals tb ON p.source_b = tb.source
            ORDER BY p.source_a, p.source_b
        """,
        # the shared TRUE near-dup pair CTE joined to the split_assign
        # md5 arithmetic — both already single-sourced
        "leakage_check": f"""
            WITH {_SH_CTE}, {_PAIRS_CTE}, sp AS (
                SELECT doc_id,
                       CASE WHEN b < 90 THEN 'train'
                            WHEN b < 95 THEN 'val'
                            ELSE 'test' END AS split
                FROM (
                    SELECT doc_id,
                           ('0x' || substr(md5(cast(doc_id as varchar)
                                               || '|split42'), 1, 8))
                               ::BIGINT % 100 AS b
                    FROM documents
                )
            ), combos AS (
                SELECT least(a.split, b.split) AS split_a,
                       greatest(a.split, b.split) AS split_b
                FROM pairs p
                JOIN sp a ON p.pa = a.doc_id
                JOIN sp b ON p.pb = b.doc_id
            )
            SELECT split_a, split_b,
                   cast(count(*) as bigint) AS n_pairs,
                   split_a <> split_b AS leaky
            FROM combos GROUP BY split_a, split_b
            ORDER BY split_a, split_b
        """,
        "split_assign": """
            SELECT doc_id, lang,
                   cast(bucket as int) AS bucket,
                   CASE WHEN bucket < 90 THEN 'train'
                        WHEN bucket < 95 THEN 'val'
                        ELSE 'test' END AS split
            FROM (
                SELECT doc_id, lang,
                       ('0x' || substr(md5(cast(doc_id as varchar)
                                           || '|split42'), 1, 8))::BIGINT
                           % 100 AS bucket
                FROM documents
            ) ORDER BY doc_id
        """,
        "chunk_documents": """
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS words
                FROM documents
            ), s AS (
                SELECT doc_id, words, g.start
                FROM w, LATERAL (
                    SELECT unnest(range(
                        1, greatest(len(words), 1) + 1, 32)) AS start
                ) g
            )
            SELECT doc_id,
                   cast((start - 1) // 32 as int) AS chunk_idx,
                   array_to_string(words[start : start + 47], ' ')
                       AS chunk_text,
                   cast(least(48, len(words) - start + 1) as int)
                       AS n_tokens
            FROM s ORDER BY doc_id, chunk_idx
        """,
        "temperature_sample": """
            WITH c AS (
                SELECT lang, cast(count(*) as bigint) AS n_lang
                FROM documents GROUP BY lang
            ), m AS (
                SELECT lang, n_lang, max(n_lang) OVER () AS n_max
                FROM c
            ), b AS (
                SELECT d.doc_id, d.lang, m.n_lang, m.n_max,
                       ('0x' || substr(md5(cast(d.doc_id as varchar)
                                           || '|temp7'), 1, 8))::BIGINT
                           % 10000 AS bucket
                FROM documents d JOIN m ON d.lang = m.lang
            )
            SELECT doc_id, lang, n_lang,
                   cast(bucket as int) AS bucket,
                   round(least(1.0,
                               0.5 * sqrt(cast(n_max as double)
                                          / n_lang)), 6) AS keep_rate,
                   (bucket * bucket * n_lang
                    < 2500 * n_max * 10000) AS kept
            FROM b ORDER BY doc_id
        """,
        "lang_id": f"""
            SELECT doc_id, lang AS labeled_lang,
                   {lang_pred} AS predicted_lang
            FROM documents ORDER BY doc_id
        """,
        "fingerprint": r"""
            SELECT doc_id,
                   md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                       AS fingerprint
            FROM documents ORDER BY doc_id
        """,
        "shingle_stats": """
            SELECT doc_id,
                   cast(case when len(string_split(text, ' ')) >= 3 then
                       len(list_distinct(list_transform(
                           generate_series(0, len(string_split(text, ' ')) - 3),
                           i -> array_to_string(
                               string_split(text, ' ')[i+1:i+3], ' '))))
                   else 1 end as int) AS n_shingles
            FROM documents ORDER BY doc_id
        """,
        "bpe_tokens": r"""
            SELECT doc_id,
                   cast(len(list_filter(string_split(text, ' '),
                                        t -> t != '')) as int)
                       AS n_ws_tokens,
                   cast(len(regexp_extract_all(text,
                        '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) as int)
                       AS n_bpe_tokens
            FROM documents
        """,
        "winnowing": """
            WITH g AS (
                SELECT doc_id, text,
                       list_transform(
                           generate_series(0, length(text) - 8),
                           i -> md5(substr(text, i + 1, 8))) AS grams
                FROM documents
            ), wnd AS (
                SELECT doc_id, text,
                       list_distinct(list_transform(
                           generate_series(0, len(grams) - 4),
                           j -> list_min(grams[j + 1 : j + 4]))) AS fps
                FROM g
            )
            SELECT doc_id,
                   cast(CASE WHEN length(text) >= 11 THEN len(fps)
                             ELSE 1 END as int) AS n_fingerprints,
                   CASE WHEN length(text) >= 11 THEN list_min(fps)
                        ELSE md5(text) END AS min_fingerprint
            FROM wnd
        """,
        "embedding_norms": """
            SELECT vec_id,
                   round(sqrt(list_sum(list_transform(embedding,
                              x -> cast(x as double) * cast(x as double)))), 4)
                       AS l2_norm
            FROM embeddings ORDER BY vec_id
        """,
        "ann_bruteforce": """
            WITH v AS (
                SELECT vec_id,
                       list_transform(embedding, x -> cast(x as double)) AS vec
                FROM embeddings
            ), q AS (
                SELECT vec_id AS query_id, vec AS qvec FROM v
                WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9)
            ), scored AS (
                SELECT q.query_id, v.vec_id AS corpus_id,
                       list_sum(list_transform(generate_series(1, len(qvec)),
                                i -> qvec[i] * vec[i]))
                       / (sqrt(list_sum(list_transform(qvec, x -> x*x)))
                          * sqrt(list_sum(list_transform(vec, x -> x*x))))
                           AS cosine
                FROM q, v WHERE v.vec_id <> q.query_id
            )
            SELECT query_id, corpus_id, rank FROM (
                SELECT query_id, corpus_id,
                       -- round like the Spark side (ops.ann_bruteforce
                       -- ranks round(cosine, 6)) so near-ties at the
                       -- k boundary collapse identically
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY round(cosine, 6) DESC,
                                                   corpus_id ASC)
                           AS rank
                FROM scored
            ) WHERE rank <= 5
            ORDER BY query_id, rank
        """,
        "redact_pii": f"""
            SELECT doc_id,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>',
                                      'g'),
                       '{_PII_URL}', '<URL>', 'g'),
                     '{_PII_CTRL}', '', 'g') AS clean_text,
                   len(regexp_extract_all(text, '{_PII_EMAIL}'))
                       AS n_emails,
                   len(regexp_extract_all(
                       regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>',
                                      'g'),
                       '{_PII_URL}')) AS n_urls
            FROM documents
        """,
        "corpus_rollup": """
            SELECT CASE WHEN GROUPING(source) = 1 THEN '<all>'
                        ELSE source END AS source,
                   CASE WHEN GROUPING(lang) = 1 THEN '<all>'
                        ELSE lang END AS lang,
                   count(*) AS n_docs,
                   cast(sum(length(text)) as bigint) AS n_chars
            FROM documents
            GROUP BY ROLLUP (source, lang)
        """,
        "events_pivot": """
            SELECT user_id,
                   count(*) FILTER (event_type = 'click') AS n_click,
                   count(*) FILTER (event_type = 'view') AS n_view,
                   count(*) FILTER (event_type = 'purchase')
                       AS n_purchase,
                   count(*) FILTER (event_type = 'signup') AS n_signup,
                   count(*) FILTER (event_type = 'error') AS n_error
            FROM events GROUP BY user_id
        """,
        "value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.95), 4) AS p95,
                   round(min(value), 4) AS vmin,
                   round(max(value), 4) AS vmax,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "asof_attribution": """
            SELECT c.event_id AS click_id,
                   c.user_id,
                   c.ts AS click_ts,
                   v.event_id AS view_id,
                   v.ts AS view_ts
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'view') v
              ON c.user_id = v.user_id AND c.ts >= v.ts
        """,
        # the components CTE extended with the quality_score argmax
        # (rounded quality, ties to the smallest doc_id)
        "dedup_representatives": f"""
            WITH RECURSIVE {_SH_CTE}, {_PAIRS_CTE}, edges AS (
              SELECT pa AS ea, pb AS eb FROM pairs
              UNION
              SELECT pb AS ea, pa AS eb FROM pairs
            ), reach AS (
              SELECT ea AS node, ea AS root FROM edges
              UNION
              SELECT e.eb AS node, r.root AS root
              FROM reach r JOIN edges e ON e.ea = r.node
            ), comp AS (
              SELECT node AS doc_id, min(root) AS cluster_root
              FROM reach GROUP BY node
            ), q AS (
              SELECT doc_id,
                     round((length(regexp_replace(text, '[^a-zA-Z]',
                                                  '', 'g'))
                            / greatest(length(text), 1)
                            + len(list_filter(string_split(text, ' '),
                                              t -> t in {_EN_STOP}))
                            / greatest(len(string_split(text, ' ')), 1)
                            + case when length(text)
                                        between 100 and 2000
                                   then 1.0 else 0.5 end) / 3.0, 6)
                         AS quality
              FROM documents
            ), ranked AS (
              SELECT c.cluster_root, c.doc_id, q.quality,
                     row_number() OVER (
                         PARTITION BY c.cluster_root
                         ORDER BY q.quality DESC, c.doc_id ASC) AS rk,
                     count(*) OVER (PARTITION BY c.cluster_root)
                         AS n_members
              FROM comp c JOIN q USING (doc_id)
            )
            SELECT cluster_root,
                   cast(n_members as bigint) AS n_members,
                   doc_id AS rep_doc_id,
                   quality AS rep_quality,
                   cast(n_members - 1 as bigint) AS n_dropped
            FROM ranked WHERE rk = 1
            ORDER BY cluster_root
        """,
        "dup_components": f"""
            WITH RECURSIVE {_SH_CTE}, {_PAIRS_CTE}, edges AS (
              SELECT pa AS ea, pb AS eb FROM pairs
              UNION
              SELECT pb AS ea, pa AS eb FROM pairs
            ), reach AS (
              SELECT ea AS node, ea AS root FROM edges
              UNION
              SELECT e.eb AS node, r.root AS root
              FROM reach r JOIN edges e ON e.ea = r.node
            )
            SELECT node AS doc_id, min(root) AS cluster_root
            FROM reach GROUP BY node
        """,
        "ngram_jaccard": f"""
            WITH {_SH_CTE}, {_PAIRS_CTE}
            SELECT pa AS doc_a, pb AS doc_b FROM pairs
            ORDER BY doc_a, doc_b
        """,
        # ngram_diversity: same n-gram definition as the repetition
        # oracle (docs under n words contribute the whole text as no
        # 2-grams -> empty list), exact integer counting + round(x,6).
        "ngram_diversity": """
            WITH grams AS (
                SELECT lang,
                       unnest(CASE
                         WHEN len(string_split(text, ' ')) >= 2 THEN
                           list_transform(
                             generate_series(0,
                                 len(string_split(text, ' ')) - 2),
                             i -> array_to_string(
                                 string_split(text, ' ')[i+1:i+2], ' '))
                         ELSE [] END) AS gram
                FROM documents
            ), per_gram AS (
                SELECT lang, gram, count(*) AS c
                FROM grams GROUP BY lang, gram
            )
            SELECT lang,
                   cast(sum(c) as bigint) AS n_grams_total,
                   cast(count(*) as bigint) AS n_grams_distinct,
                   cast(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) as bigint)
                       AS n_singletons,
                   round(cast(count(*) as double)
                         / cast(sum(c) as double), 6) AS distinct_ratio,
                   round(cast(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                              as double)
                         / cast(sum(c) as double), 6) AS singleton_ratio
            FROM per_gram GROUP BY lang ORDER BY lang
        """,
        # ccnet_split: integer bit-count surprisal (length(bin(x)) ==
        # bit_length in BOTH engines), one exact division, ANSI ntile
        # with a fully deterministic (mean, doc_id) order -- engine-
        # exact by construction, no libm log anywhere.
        "ccnet_split": """
            WITH toks AS (
                SELECT doc_id, lang,
                       unnest(string_split(text, ' ')) AS word
                FROM documents
            ), tf AS (
                SELECT doc_id, lang, word, count(*) AS tf
                FROM toks GROUP BY doc_id, lang, word
            ), vocab AS (
                SELECT lang, word, sum(tf) AS c
                FROM tf GROUP BY lang, word
            ), lang_tot AS (
                SELECT lang, sum(c) AS n_lang FROM vocab GROUP BY lang
            ), per_doc AS (
                SELECT t.doc_id, t.lang,
                       sum(t.tf * (length(bin(lt.n_lang))
                                   - length(bin(v.c))))
                           AS surprisal_sum,
                       sum(t.tf) AS n_words
                FROM tf t
                JOIN vocab v ON v.lang = t.lang AND v.word = t.word
                JOIN lang_tot lt ON lt.lang = t.lang
                GROUP BY t.doc_id, t.lang
            ), scored AS (
                SELECT doc_id, lang,
                       cast(n_words as int) AS n_words,
                       cast(surprisal_sum as bigint) AS surprisal_sum,
                       round(cast(surprisal_sum as double)
                             / cast(n_words as double), 6)
                           AS surprisal_mean
                FROM per_doc
            )
            SELECT doc_id, lang, n_words, surprisal_sum, surprisal_mean,
                   CASE ntile(3) OVER (PARTITION BY lang
                                       ORDER BY surprisal_mean, doc_id)
                        WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM scored ORDER BY doc_id
        """,
        # bm25_search: the score expression below is a token-for-token
        # mirror of ops.bm25_search's Column arithmetic (same literals,
        # same parenthesization, left-assoc sum over the three terms)
        # so both engines compute bit-identical IEEE doubles. IDF is
        # the log-free rational (N - df + 0.5)/(df + 0.5) -- documented
        # deviation; libm log is not cross-engine exact, +,*,/ are.
        "bm25_search": """
            WITH stats AS (
                SELECT cast(count(*) as double) AS n_docs,
                       cast(sum(len(string_split(text, ' '))) as double)
                           AS sum_dl,
                       cast(sum(CASE WHEN list_contains(
                           string_split(text, ' '), 'spark')
                           THEN 1 ELSE 0 END) as double) AS df_0,
                       cast(sum(CASE WHEN list_contains(
                           string_split(text, ' '), 'window')
                           THEN 1 ELSE 0 END) as double) AS df_1,
                       cast(sum(CASE WHEN list_contains(
                           string_split(text, ' '), 'merge')
                           THEN 1 ELSE 0 END) as double) AS df_2
                FROM documents
            ), scored AS (
                SELECT doc_id,
                       round(
                         ((n_docs - df_0 + 0.5) / (df_0 + 0.5))
                           * ((tf_0 * 2.2) / (tf_0 + 1.2 * (0.25
                              + (0.75 * dl) / (sum_dl / n_docs))))
                         + ((n_docs - df_1 + 0.5) / (df_1 + 0.5))
                           * ((tf_1 * 2.2) / (tf_1 + 1.2 * (0.25
                              + (0.75 * dl) / (sum_dl / n_docs))))
                         + ((n_docs - df_2 + 0.5) / (df_2 + 0.5))
                           * ((tf_2 * 2.2) / (tf_2 + 1.2 * (0.25
                              + (0.75 * dl) / (sum_dl / n_docs)))),
                         6) AS score
                FROM (
                    SELECT doc_id,
                           cast(len(string_split(text, ' ')) as double)
                               AS dl,
                           cast(len(list_filter(string_split(text, ' '),
                                x -> x = 'spark')) as double) AS tf_0,
                           cast(len(list_filter(string_split(text, ' '),
                                x -> x = 'window')) as double) AS tf_1,
                           cast(len(list_filter(string_split(text, ' '),
                                x -> x = 'merge')) as double) AS tf_2
                    FROM documents
                ), stats
            ), top AS (
                SELECT doc_id, score FROM scored
                ORDER BY score DESC, doc_id LIMIT 10
            )
            SELECT doc_id, score,
                   cast(row_number() OVER (ORDER BY score DESC, doc_id)
                        as int) AS rank
            FROM top ORDER BY rank
        """,
        # edit_distance_verify: same exact pair set; DuckDB levenshtein
        # is BYTE-based vs Spark's codepoint-based, so both sides gate
        # the distance on ASCII-ness (octet_length == char length),
        # where the two definitions provably coincide.
        "edit_distance_verify": f"""
            WITH {_SH_CTE}, {_PAIRS_CTE}
            SELECT p.pa AS doc_a, p.pb AS doc_b,
                   (strlen(a.text) = length(a.text)
                    AND strlen(b.text) = length(b.text))
                       AS ascii_only,
                   CASE WHEN strlen(a.text) = length(a.text)
                         AND strlen(b.text) = length(b.text)
                        THEN cast(levenshtein(a.text, b.text) as int)
                   END AS edit_distance,
                   CASE WHEN strlen(a.text) = length(a.text)
                         AND strlen(b.text) = length(b.text)
                        THEN round(1.0
                            - cast(levenshtein(a.text, b.text) as double)
                            / cast(greatest(length(a.text),
                                            length(b.text), 1) as double),
                            6)
                   END AS edit_similarity
            FROM pairs p
            JOIN documents a ON a.doc_id = p.pa
            JOIN documents b ON b.doc_id = p.pb
            ORDER BY doc_a, doc_b
        """,
        "embedding_near_dup": """
            WITH v AS (
                SELECT vec_id,
                       list_transform(embedding, x -> cast(x as double)) vec
                FROM embeddings
            ), n AS (
                SELECT vec_id, vec,
                       sqrt(list_sum(list_transform(vec, x -> x*x))) nrm
                FROM v
            )
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM n a, n b
            WHERE a.vec_id < b.vec_id
              AND list_sum(list_transform(generate_series(1, len(a.vec)),
                           i -> a.vec[i] * b.vec[i])) / (a.nrm * b.nrm)
                  >= 0.9
        """,
        # --- materialized-turns oracle -------------------------------
        # conversation_stats: the parse kernel is not SQL-expressible
        # (it is gated byte-level by tests/test_goldens.py), but the
        # rollup arithmetic IS — so the oracle re-derives it with real
        # GROUP BY SQL over the extracted turns materialized to a
        # committed fixture (tools/mint_oracle_snapshots.py).
        "conversation_stats": f"""
            SELECT conv_id,
                   cast(count(*) as bigint) AS n_turns,
                   cast(sum(length(extracted_text)) as bigint) AS n_chars,
                   cast(sum(parse_errors) as bigint) AS n_parse_errors,
                   cast(max(turn_idx) as int) AS max_turn_idx
            FROM read_parquet('{_FIXTURES}/turns_2000.parquet')
            GROUP BY conv_id ORDER BY conv_id
        """,
        # sft_pairs / loss_mask_spans / role_alternation: same
        # materialized-turns pattern — the window arithmetic is
        # re-derived with real SQL over the committed turns fixture
        # (extraction itself is golden-gated).
        "sft_pairs": f"""
            SELECT conv_id, turn_idx,
                   cast(count(*) OVER frame3 as int) AS n_context_turns,
                   coalesce(string_agg(
                       concat_ws(': ', role, extracted_text), chr(10))
                       OVER frame3, '') AS context,
                   extracted_text AS response
            FROM read_parquet('{_FIXTURES}/turns_2000.parquet')
            WINDOW frame3 AS (PARTITION BY conv_id ORDER BY turn_idx
                              ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
            QUALIFY role = 'assistant'
            ORDER BY conv_id, turn_idx
        """,
        "loss_mask_spans": f"""
            WITH sized AS (
                SELECT conv_id, turn_idx, role,
                       cast(len(string_split(coalesce(extracted_text, ''),
                                             ' ')) as bigint) AS n_tokens
                FROM read_parquet('{_FIXTURES}/turns_2000.parquet')
            )
            SELECT conv_id, turn_idx, n_tokens,
                   coalesce(cast(sum(n_tokens + 1) OVER
                       (PARTITION BY conv_id ORDER BY turn_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       as bigint), 0) AS tok_start,
                   coalesce(cast(sum(n_tokens + 1) OVER
                       (PARTITION BY conv_id ORDER BY turn_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       as bigint), 0) + n_tokens AS tok_end,
                   role = 'assistant' AS trainable
            FROM sized ORDER BY conv_id, turn_idx
        """,
        "context_window_trim": f"""
            SELECT conv_id, turn_idx,
                   cast(len(string_split(coalesce(extracted_text, ''),
                                         ' ')) as bigint) AS n_tokens,
                   cast(sum(len(string_split(coalesce(extracted_text, ''),
                                             ' ')))
                        OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) as bigint)
                       AS tail_cum_tokens,
                   sum(len(string_split(coalesce(extracted_text, ''),
                                        ' ')))
                       OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) <= 64 AS kept
            FROM read_parquet('{_FIXTURES}/turns_2000.parquet')
            ORDER BY conv_id, turn_idx
        """,
        # preference_pairs: distinct (prompt -> next assistant
        # response) pairs, argmax/argmin by (length, text) — the same
        # lexicographic (l, r) struct order as the Spark min/max; both
        # engines compare strings by UTF-8 binary order, which equals
        # codepoint order by UTF-8 construction.
        "preference_pairs": f"""
            WITH stitched AS (
                SELECT extracted_text AS prompt, role,
                       lead(role) OVER w AS nr,
                       lead(extracted_text) OVER w AS response
                FROM read_parquet('{_FIXTURES}/turns_2000.parquet')
                WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
            ), pairs AS (
                SELECT DISTINCT prompt, response FROM stitched
                WHERE role = 'user' AND nr = 'assistant'
            ), ranked AS (
                SELECT prompt, response,
                       count(*) OVER (PARTITION BY prompt) AS n_candidates,
                       row_number() OVER (PARTITION BY prompt
                           ORDER BY length(response) DESC, response DESC)
                           AS rn_best,
                       row_number() OVER (PARTITION BY prompt
                           ORDER BY length(response) ASC, response ASC)
                           AS rn_worst
                FROM pairs
            )
            SELECT md5(b.prompt) AS prompt_fp, b.prompt,
                   cast(b.n_candidates as bigint) AS n_candidates,
                   b.response AS chosen,
                   w.response AS rejected
            FROM (SELECT * FROM ranked WHERE rn_best = 1) b
            JOIN (SELECT * FROM ranked WHERE rn_worst = 1) w
              USING (prompt)
            WHERE b.n_candidates >= 2
            ORDER BY prompt
        """,
        "render_chatml": f"""
            WITH t AS (
                SELECT conv_id, turn_idx,
                       '<|im_start|>' || role || chr(10) ||
                       coalesce(extracted_text, '') || '<|im_end|>'
                           AS piece
                FROM read_parquet('{_FIXTURES}/turns_2000.parquet')
            ), d AS (
                SELECT conv_id,
                       cast(count(*) as bigint) AS n_turns,
                       string_agg(piece, chr(10)
                                  ORDER BY turn_idx) AS chatml
                FROM t GROUP BY conv_id
            )
            SELECT conv_id, n_turns,
                   cast(length(chatml) as bigint) AS n_chars, chatml
            FROM d ORDER BY conv_id
        """,
        # the Morton interleave expression is the operator's own
        # generated string (storage.zorder_key_sql) — integer-only,
        # token-identical in both engines
        "zorder_events": f"""
            WITH b AS (
                SELECT event_id,
                       cast(user_id & 1023 as int) AS x,
                       cast(date_diff('day', DATE '1970-01-01',
                                      cast(ts as date)) & 1023 as int)
                           AS y
                FROM events
            )
            SELECT event_id, x, y,
                   {_ZORDER_XY_10} AS zkey
            FROM b ORDER BY event_id
        """,
        # composes the quality_score / gopher_filter oracle fragments;
        # means are decimal-sum exact (order-independent)
        "dataset_card": f"""
            WITH {_GOPHER_M_CTE}, base AS (
                SELECT cast(count(*) as bigint) AS n_docs,
                       cast(sum(len(string_split(text, ' ')))
                            as bigint) AS n_tokens,
                       cast(sum(length(text)) as bigint) AS n_chars,
                       cast(count(distinct lang) as bigint) AS n_langs,
                       cast(count(distinct source) as bigint)
                           AS n_sources
                FROM documents
            ), u AS (
                SELECT cast(count(*) as bigint) AS n_unique_texts
                FROM (SELECT md5(text) AS h FROM documents
                      GROUP BY md5(text))
            ), qa AS (
                SELECT round(cast(sum(cast(q as decimal(18,6)))
                                  as double) / count(*), 6)
                           AS mean_quality
                FROM (SELECT {_QUALITY_EXPR} AS q FROM documents)
            ), ga AS (
                SELECT cast(sum(case when keep then 1 else 0 end)
                            as bigint) AS n_gopher_keep
                FROM gk
            )
            SELECT n_docs, n_tokens, n_chars, n_langs, n_sources,
                   n_unique_texts,
                   round(cast(n_docs - n_unique_texts as double)
                         / n_docs, 6) AS exact_dup_rate,
                   mean_quality, n_gopher_keep,
                   round(cast(n_gopher_keep as double) / n_docs, 6)
                       AS gopher_keep_rate
            FROM base, u, qa, ga
        """,
        "source_quality": f"""
            WITH {_GOPHER_M_CTE}, q AS (
                SELECT doc_id, {_QUALITY_EXPR} AS quality
                FROM documents
            )
            SELECT k.source,
                   cast(count(*) as bigint) AS n_docs,
                   cast(sum(k.n_words) as bigint) AS n_tokens,
                   round(cast(sum(cast(q.quality as decimal(18,6)))
                              as double) / count(*), 6)
                       AS mean_quality,
                   cast(sum(case when k.keep then 1 else 0 end)
                        as bigint) AS n_keep,
                   round(cast(sum(case when k.keep then 1 else 0 end)
                              as double) / count(*), 6) AS keep_rate
            FROM gk k JOIN q USING (doc_id)
            GROUP BY k.source ORDER BY k.source
        """,
        "mixture_weights": """
            WITH c AS (
                SELECT lang, cast(count(*) as bigint) AS n_docs
                FROM documents GROUP BY lang
            ), t AS (
                SELECT cast(sum(n_docs) as bigint) AS n_total,
                       cast(count(*) as bigint) AS n_langs
                FROM c
            )
            SELECT lang, n_docs,
                   round(cast(n_docs as double) / n_total, 6)
                       AS natural_frac,
                   n_total AS weight_num,
                   cast(n_langs * n_docs as bigint) AS weight_den,
                   round(cast(n_total as double)
                         / (n_langs * n_docs), 6) AS weight
            FROM c CROSS JOIN t ORDER BY lang
        """,
        # same single-sourced Java==RE2 patterns as redact_pii
        "conv_pii_audit": f"""
            WITH per AS (
                SELECT conv_id, turn_idx, role,
                       cast(len(regexp_extract_all(
                           coalesce(extracted_text, ''),
                           '{_PII_EMAIL}')) as bigint) AS e,
                       cast(len(regexp_extract_all(
                           regexp_replace(
                               coalesce(extracted_text, ''),
                               '{_PII_EMAIL}', '<EMAIL>', 'g'),
                           '{_PII_URL}')) as bigint) AS u
                FROM read_parquet('{_FIXTURES}/turns_2000.parquet')
            ), worst AS (
                SELECT conv_id, turn_idx FROM (
                    SELECT conv_id, turn_idx,
                           row_number() OVER (
                               PARTITION BY conv_id
                               ORDER BY e + u DESC, turn_idx DESC)
                               AS rk
                    FROM per
                ) WHERE rk = 1
            ), agg AS (
                SELECT conv_id,
                       cast(sum(e) as bigint) AS n_emails,
                       cast(sum(u) as bigint) AS n_urls,
                       coalesce(array_to_string(list_sort(
                           list(DISTINCT role)
                               FILTER (WHERE e + u > 0)), ','), '')
                           AS pii_roles
                FROM per GROUP BY conv_id
            )
            SELECT a.conv_id, a.n_emails, a.n_urls, a.pii_roles,
                   CASE WHEN a.n_emails + a.n_urls > 0
                        THEN cast(w.turn_idx as int) END
                       AS worst_turn_idx,
                   a.n_emails + a.n_urls > 0 AS has_pii
            FROM agg a JOIN worst w USING (conv_id)
            ORDER BY a.conv_id
        """,
        # same rational IDF + literal doubles as bm25_search; the
        # per-(prompt, doc) sum folds an ORDER BY token list so float
        # summation order is canonical in both engines
        "rag_retrieval": f"""
            WITH qt AS (
                SELECT DISTINCT conv_id, turn_idx, token
                FROM (
                    SELECT conv_id, turn_idx,
                           unnest(list_distinct(string_split(
                               coalesce(extracted_text, ''), ' ')))
                               AS token
                    FROM read_parquet('{_FIXTURES}/turns_2000.parquet')
                    WHERE role = 'user' AND turn_idx = 0
                ) WHERE token <> ''
            ), dw AS (
                SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents
            ), stats AS (
                SELECT cast(count(*) as double) AS n_docs,
                       cast(sum(len(ws)) as double) AS sum_dl
                FROM dw
            ), post AS (
                SELECT doc_id, dl, token,
                       cast(count(*) as double) AS tf
                FROM (
                    SELECT doc_id, cast(len(ws) as double) AS dl,
                           unnest(ws) AS token
                    FROM dw
                ) WHERE token <> ''
                GROUP BY doc_id, dl, token
            ), dfreq AS (
                SELECT token, cast(count(*) as double) AS df
                FROM post GROUP BY token
            ), scored AS (
                SELECT q.conv_id, q.turn_idx, p.doc_id, q.token,
                       ((s.n_docs - f.df + 0.5) / (f.df + 0.5))
                       * ((p.tf * 2.2)
                          / (p.tf + 1.2 * (0.25 + (0.75 * p.dl)
                                           / (s.sum_dl / s.n_docs))))
                           AS si
                FROM qt q
                JOIN dfreq f USING (token)
                JOIN post p USING (token)
                CROSS JOIN stats s
            ), folded AS (
                SELECT conv_id, turn_idx, doc_id,
                       round(list_sum(list(si ORDER BY token)), 6)
                           AS score
                FROM scored GROUP BY conv_id, turn_idx, doc_id
            ), ranked AS (
                SELECT conv_id, turn_idx, doc_id, score,
                       cast(row_number() OVER (
                           PARTITION BY conv_id, turn_idx
                           ORDER BY score DESC, doc_id ASC) as int)
                           AS rank
                FROM folded
            )
            SELECT conv_id, turn_idx, doc_id, score, rank
            FROM ranked WHERE rank <= 3
            ORDER BY conv_id, turn_idx, rank
        """,
        # full three-stage SQL re-derivation: quality gate CTE, trim
        # window CTE, ordered-string_agg render — each stage also
        # standalone-oracled (conversation_stats / context_window_trim
        # / render_chatml)
        "sft_corpus": f"""
            WITH t AS (
                SELECT conv_id, turn_idx, role, extracted_text,
                       parse_errors,
                       cast(len(string_split(
                           coalesce(extracted_text, ''), ' '))
                           as bigint) AS n_tok
                FROM read_parquet('{_FIXTURES}/turns_2000.parquet')
            ), eligible AS (
                SELECT conv_id FROM t GROUP BY conv_id
                HAVING count(*) >= 2 AND sum(parse_errors) <= 8
                   AND max(CASE WHEN role = 'assistant'
                                THEN 1 ELSE 0 END) = 1
            ), trimmed AS (
                SELECT conv_id, turn_idx, role, extracted_text, n_tok,
                       sum(n_tok) OVER (
                           PARTITION BY conv_id ORDER BY turn_idx DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS tail_cum
                FROM t SEMI JOIN eligible USING (conv_id)
            )
            SELECT conv_id,
                   cast(count(*) as bigint) AS n_turns_kept,
                   cast(sum(n_tok) as bigint) AS n_tokens,
                   string_agg('<|im_start|>' || role || chr(10) ||
                              coalesce(extracted_text, '') ||
                              '<|im_end|>', chr(10)
                              ORDER BY turn_idx) AS chatml
            FROM trimmed
            WHERE tail_cum <= 128
            GROUP BY conv_id
            ORDER BY conv_id
        """,
        # exhaustive TRUE pair set at the shared near-dup threshold
        # (string shingles == hashed-shingle set sizes modulo 64-bit
        # collisions — the ngram_jaccard precedent); empty on this
        # corpus (max conv-level jaccard ~0.10), planted-dup gate in
        # tests
        "conv_near_dup": f"""
            WITH d AS (
                SELECT conv_id,
                       string_agg(coalesce(extracted_text, ''), ' '
                                  ORDER BY turn_idx) AS text
                FROM read_parquet('{_FIXTURES}/turns_2000.parquet')
                GROUP BY conv_id
            ), sh AS (
              SELECT conv_id,
                     CASE WHEN len(string_split(text,' ')) >= 3 THEN
                       list_distinct(list_transform(
                         generate_series(0,
                             len(string_split(text,' ')) - 3),
                         i -> array_to_string(
                             string_split(text,' ')[i+1:i+3], ' ')))
                     ELSE [array_to_string(string_split(text,' '), ' ')]
                     END AS shingles
              FROM d
            )
            SELECT a.conv_id AS conv_a, b.conv_id AS conv_b,
                   round(len(list_intersect(a.shingles, b.shingles))
                         / (len(a.shingles) + len(b.shingles)
                            - len(list_intersect(a.shingles,
                                                 b.shingles))), 6)
                       AS jaccard
            FROM sh a, sh b
            WHERE a.conv_id < b.conv_id
              AND len(list_intersect(a.shingles, b.shingles))
                  / (len(a.shingles) + len(b.shingles)
                     - len(list_intersect(a.shingles, b.shingles)))
                  >= {_NEARDUP_THRESHOLD}
            ORDER BY conv_a, conv_b
        """,
        "conv_branches": f"""
            WITH t AS (
                SELECT conv_id, turn_idx,
                       role || ':' || coalesce(extracted_text, '')
                           AS piece
                FROM read_parquet('{_FIXTURES}/turns_2000.parquet')
                WHERE turn_idx < 1
            ), pc AS (
                SELECT conv_id,
                       md5(string_agg(piece, chr(31)
                                      ORDER BY turn_idx)) AS prefix_key
                FROM t GROUP BY conv_id
            )
            SELECT prefix_key,
                   cast(count(*) as bigint) AS n_convs,
                   array_to_string(list_sort(list(conv_id)), ',')
                       AS conv_ids,
                   count(*) >= 2 AS branched
            FROM pc GROUP BY prefix_key ORDER BY prefix_key
        """,
        # the estimate arithmetic is INTERPOLATED from the operator's
        # own format strings (_HLL_RAW_FMT/_HLL_EST_FMT) — token-for-
        # token the same IEEE ops both engines
        "hll_distinct": f"""
            WITH keyed AS (
                SELECT event_type, 'user' AS sketch_key,
                       cast(user_id as varchar) || '|hll7' AS k
                FROM events
                UNION ALL
                SELECT event_type, 'user_day' AS sketch_key,
                       cast(user_id as varchar) || '|' ||
                       cast(cast(ts as date) as varchar) || '|hll7' AS k
                FROM events
            ), hashed AS (
                SELECT event_type, sketch_key, k,
                       ('0x' || substr(md5(k), 1, 8))::BIGINT % 256
                           AS bucket,
                       ('0x' || substr(md5(k), 9, 12))::BIGINT AS w
                FROM keyed
            ), regs AS (
                SELECT event_type, sketch_key, bucket,
                       max(CASE WHEN w = 0 THEN 49
                                ELSE 49 - length(bin(w)) END) AS maxrho
                FROM hashed GROUP BY 1, 2, 3
            ), sums AS (
                SELECT event_type, sketch_key,
                       cast(count(*) as bigint) AS n_present,
                       cast(sum(1::BIGINT <<
                                cast(49 - maxrho as int)) as bigint)
                           AS sum_present
                FROM regs GROUP BY 1, 2
            ), ex AS (
                SELECT event_type, sketch_key,
                       cast(count(distinct k) as bigint)
                           AS exact_distinct
                FROM hashed GROUP BY 1, 2
            ), j AS (
                SELECT s.event_type, s.sketch_key, e.exact_distinct,
                       s.n_present,
                       cast(256 - s.n_present as bigint) AS n_empty,
                       cast(s.sum_present + (256 - s.n_present)
                            * 562949953421312 as bigint) AS sum_scaled
                FROM sums s
                JOIN ex e USING (event_type, sketch_key)
            ), est AS (
                SELECT event_type, sketch_key, exact_distinct,
                       n_present, n_empty, sum_scaled,
                       round({_HLL_RAW_256}, 4) AS hll_raw,
                       round({_HLL_EST_256}, 4) AS hll_estimate
                FROM j
            )
            SELECT *,
                   round((hll_estimate - exact_distinct)
                         / exact_distinct, 4) AS rel_err
            FROM est ORDER BY event_type, sketch_key
        """,
        "semantic_dedup": """
            WITH v AS (
                SELECT vec_id,
                       list_transform(embedding, x -> cast(x as double))
                           AS vec
                FROM embeddings
            ), seeds AS (
                SELECT vec_id AS seed_id, vec AS svec FROM v
                ORDER BY vec_id LIMIT 4
            ), scored AS (
                SELECT v.vec_id, s.seed_id,
                       round(list_sum(list_transform(
                                 generate_series(1, len(svec)),
                                 i -> svec[i] * vec[i]))
                             / greatest(
                                 sqrt(list_sum(list_transform(svec,
                                               x -> x*x)))
                                 * sqrt(list_sum(list_transform(vec,
                                                 x -> x*x))),
                                 1e-300), 6) AS cos
                FROM v, seeds s
            ), assigned AS (
                SELECT vec_id, seed_id AS cluster_id FROM (
                    SELECT vec_id, seed_id,
                           row_number() OVER (
                               PARTITION BY vec_id
                               ORDER BY cos DESC, seed_id ASC) AS rk
                    FROM scored
                ) WHERE rk = 1
            ), av AS (
                SELECT a.vec_id, a.cluster_id, v.vec
                FROM assigned a JOIN v USING (vec_id)
            ), pairs AS (
                SELECT b.vec_id AS vec_b,
                       min(a.vec_id) AS dup_of
                FROM av a JOIN av b
                  ON a.cluster_id = b.cluster_id
                 AND a.vec_id < b.vec_id
                WHERE round(list_sum(list_transform(
                              generate_series(1, len(a.vec)),
                              i -> a.vec[i] * b.vec[i]))
                            / greatest(
                                sqrt(list_sum(list_transform(a.vec,
                                              x -> x*x)))
                                * sqrt(list_sum(list_transform(b.vec,
                                                x -> x*x))),
                                1e-300), 6) >= 0.45
                GROUP BY b.vec_id
            )
            SELECT av.vec_id,
                   cast(av.cluster_id as bigint) AS cluster_id,
                   p.dup_of IS NULL AS kept,
                   cast(p.dup_of as bigint) AS dup_of
            FROM av LEFT JOIN pairs p ON av.vec_id = p.vec_b
            ORDER BY av.vec_id
        """,
        "tool_transitions": f"""
            WITH tools AS (
                SELECT conv_id, turn_idx, tool
                FROM read_parquet('{_FIXTURES}/turns_2000.parquet')
                WHERE tool IS NOT NULL
            ), pairs AS (
                SELECT coalesce(lag(tool) OVER (PARTITION BY conv_id
                                                ORDER BY turn_idx),
                                'START') AS from_tool,
                       tool AS to_tool
                FROM tools
            )
            SELECT from_tool, to_tool, cast(count(*) as bigint) AS n
            FROM pairs GROUP BY from_tool, to_tool
            ORDER BY from_tool, to_tool
        """,
        "cluster_assign": """
            WITH v AS (
                SELECT vec_id, label,
                       list_transform(embedding, x -> cast(x as double))
                           AS vec
                FROM embeddings
            ), seeds AS (
                SELECT vec_id AS seed_id, vec AS svec FROM v
                ORDER BY vec_id LIMIT 4
            ), scored AS (
                SELECT v.vec_id, v.label, s.seed_id,
                       round(list_sum(list_transform(
                                 generate_series(1, len(svec)),
                                 i -> svec[i] * vec[i]))
                             / greatest(
                                 sqrt(list_sum(list_transform(svec,
                                               x -> x*x)))
                                 * sqrt(list_sum(list_transform(vec,
                                                 x -> x*x))),
                                 1e-300), 6) AS cos
                FROM v, seeds s
            ), assigned AS (
                SELECT vec_id, label, seed_id AS cluster_id FROM (
                    SELECT vec_id, label, seed_id,
                           row_number() OVER (
                               PARTITION BY vec_id
                               ORDER BY cos DESC, seed_id ASC) AS rk
                    FROM scored
                ) WHERE rk = 1
            ), counts AS (
                SELECT cluster_id, label, count(*) AS n
                FROM assigned GROUP BY cluster_id, label
            ), best AS (
                SELECT cluster_id, label AS majority_label,
                       cast(n as bigint) AS majority_n FROM (
                    SELECT cluster_id, label, n,
                           row_number() OVER (
                               PARTITION BY cluster_id
                               ORDER BY n DESC, label ASC) AS rk
                    FROM counts
                ) WHERE rk = 1
            )
            SELECT t.cluster_id, t.n_members, b.majority_label,
                   b.majority_n
            FROM (SELECT cluster_id,
                         cast(count(*) as bigint) AS n_members
                  FROM assigned GROUP BY cluster_id) t
            JOIN best b USING (cluster_id)
            ORDER BY cluster_id
        """,
        # extract_links: kernel DOM-walk surface — fixture pin (same
        # honesty class as the snapshot oracles; extraction golden-
        # gated); link_stats: REAL SQL re-derivation over the fixture.
        "extract_links": f"""
            SELECT conv_id, turn_idx, link_idx, href, anchor_text
            FROM read_parquet('{_FIXTURES}/links_2000.parquet')
            ORDER BY conv_id, turn_idx, link_idx
        """,
        "link_stats": f"""
            SELECT href,
                   coalesce(regexp_extract(href,
                       '^([a-z][a-z0-9+.-]*):', 1), '') AS scheme,
                   cast(count(*) as bigint) AS n_links,
                   cast(count(DISTINCT concat_ws('#', conv_id,
                                                 cast(turn_idx as varchar)))
                        as bigint) AS n_source_turns
            FROM read_parquet('{_FIXTURES}/links_2000.parquet')
            GROUP BY href ORDER BY href
        """,
        # pagerank: the iterative integer recurrence UNROLLED as
        # chained CTEs — engine-exact because every step is bigint
        # floor arithmetic (order-independent sums).
        "pagerank": """
            WITH ks AS (SELECT unnest([1,2,3]) AS k),
            e AS (
                SELECT cast(doc_id as bigint) AS src,
                       cast((doc_id*31 + 17*k) % 1000 as bigint) AS dst
                FROM documents, ks
            ),
            nodes AS (
                SELECT DISTINCT node FROM (
                    SELECT src AS node FROM e
                    UNION ALL SELECT dst FROM e)
            ),
            od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
            nn AS (SELECT count(*) AS n FROM nodes),
            r0 AS (
                SELECT node,
                       cast((SELECT 1000000000000 // n FROM nn)
                            as bigint) AS rank
                FROM nodes
            ),
            r1 AS (
                SELECT n.node,
                       cast((15 * (SELECT 1000000000000 // n FROM nn))
                            // 100
                            + (85 * coalesce(c.contrib, 0)) // 100
                            as bigint) AS rank
                FROM nodes n LEFT JOIN (
                    SELECT e.dst AS node,
                           sum(r.rank // od.outdeg) AS contrib
                    FROM e
                    JOIN r0 r ON r.node = e.src
                    JOIN od ON od.src = e.src
                    GROUP BY e.dst
                ) c USING (node)
            ),
            r2 AS (
                SELECT n.node,
                       cast((15 * (SELECT 1000000000000 // n FROM nn))
                            // 100
                            + (85 * coalesce(c.contrib, 0)) // 100
                            as bigint) AS rank
                FROM nodes n LEFT JOIN (
                    SELECT e.dst AS node,
                           sum(r.rank // od.outdeg) AS contrib
                    FROM e
                    JOIN r1 r ON r.node = e.src
                    JOIN od ON od.src = e.src
                    GROUP BY e.dst
                ) c USING (node)
            ),
            r3 AS (
                SELECT n.node,
                       cast((15 * (SELECT 1000000000000 // n FROM nn))
                            // 100
                            + (85 * coalesce(c.contrib, 0)) // 100
                            as bigint) AS rank
                FROM nodes n LEFT JOIN (
                    SELECT e.dst AS node,
                           sum(r.rank // od.outdeg) AS contrib
                    FROM e
                    JOIN r2 r ON r.node = e.src
                    JOIN od ON od.src = e.src
                    GROUP BY e.dst
                ) c USING (node)
            ),
            r4 AS (
                SELECT n.node,
                       cast((15 * (SELECT 1000000000000 // n FROM nn))
                            // 100
                            + (85 * coalesce(c.contrib, 0)) // 100
                            as bigint) AS rank
                FROM nodes n LEFT JOIN (
                    SELECT e.dst AS node,
                           sum(r.rank // od.outdeg) AS contrib
                    FROM e
                    JOIN r3 r ON r.node = e.src
                    JOIN od ON od.src = e.src
                    GROUP BY e.dst
                ) c USING (node)
            ),
            r5 AS (
                SELECT n.node,
                       cast((15 * (SELECT 1000000000000 // n FROM nn))
                            // 100
                            + (85 * coalesce(c.contrib, 0)) // 100
                            as bigint) AS rank
                FROM nodes n LEFT JOIN (
                    SELECT e.dst AS node,
                           sum(r.rank // od.outdeg) AS contrib
                    FROM e
                    JOIN r4 r ON r.node = e.src
                    JOIN od ON od.src = e.src
                    GROUP BY e.dst
                ) c USING (node)
            )
            SELECT node, rank FROM r5 ORDER BY node
        """,
        # interval_events: the oracle is the PLAIN range join — DuckDB
        # evaluates BETWEEN joins directly; result equality proves the
        # bin-bucketed rewrite is lossless.
        "interval_events": """
            WITH days AS (
                SELECT DISTINCT date_trunc('day', ts) AS d FROM events
            ), windows AS (
                SELECT strftime(d, '%Y-%m-%d') AS window_id,
                       d + INTERVAL 8 HOUR AS w_start,
                       d + INTERVAL 16 HOUR AS w_end
                FROM days WHERE day(d) % 3 = 0
            )
            SELECT w.window_id,
                   cast(count(*) as bigint) AS n_events,
                   cast(count(DISTINCT e.user_id) as bigint) AS n_users
            FROM events e JOIN windows w
              ON e.ts >= w.w_start AND e.ts <= w.w_end
            GROUP BY w.window_id ORDER BY w.window_id
        """,
        "strip_dup_passages": """
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents
            ), startpos AS (
                SELECT doc_id, ws,
                       unnest(generate_series(0, len(ws) - 8)) AS start
                FROM w WHERE len(ws) >= 8
            ), starts AS (
                SELECT doc_id, start,
                       md5(array_to_string(ws[start + 1 : start + 8],
                                           ' ')) AS gkey
                FROM startpos
            ), dup AS (
                SELECT gkey FROM (
                    SELECT gkey, count(DISTINCT doc_id) AS df
                    FROM starts GROUP BY gkey
                ) WHERE df >= 2
            ), coverraw AS (
                SELECT st.doc_id, st.start,
                       unnest(generate_series(0, 7)) AS o
                FROM starts st JOIN dup USING (gkey)
            ), covered AS (
                SELECT DISTINCT doc_id, start + o AS idx FROM coverraw
            ), tokpos AS (
                SELECT doc_id, ws,
                       unnest(generate_series(1, len(ws))) AS i
                FROM w
            ), toks AS (
                SELECT doc_id, ws[i] AS word, i - 1 AS idx FROM tokpos
            ), kept AS (
                SELECT t.doc_id, t.idx, t.word
                FROM toks t ANTI JOIN covered c
                  ON t.doc_id = c.doc_id AND t.idx = c.idx
            ), rebuilt AS (
                SELECT doc_id,
                       string_agg(word, ' ' ORDER BY idx) AS clean_text,
                       count(*) AS n_kept
                FROM kept GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(r.clean_text, '') AS clean_text,
                   cast(len(string_split(d.text, ' ')) as int) AS n_words,
                   cast(len(string_split(d.text, ' '))
                        - coalesce(r.n_kept, 0) as int) AS n_removed
            FROM documents d LEFT JOIN rebuilt r USING (doc_id)
            ORDER BY d.doc_id
        """,
        "role_alternation": f"""
            WITH lagged AS (
                SELECT conv_id, turn_idx, role,
                       lag(role) OVER (PARTITION BY conv_id
                                       ORDER BY turn_idx) AS prev_role
                FROM read_parquet('{_FIXTURES}/turns_2000.parquet')
            )
            SELECT conv_id,
                   cast(count(*) as bigint) AS n_turns,
                   cast(sum(case when prev_role IS NOT NULL
                                  AND role = prev_role
                            then 1 else 0 end) as bigint) AS n_violations,
                   cast(coalesce(min(case when prev_role IS NOT NULL
                                           AND role = prev_role
                                     then turn_idx end), -1) as int)
                       AS first_violation_idx
            FROM lagged GROUP BY conv_id ORDER BY conv_id
        """,
        # --- pinned-snapshot (regression) oracles --------------------
        # The seeded-hash operators (xxhash64 rehash chains, blake2b
        # fake decode, in-plan hyperplanes) and the kernel surfaces
        # (dump/serialize/boilerplate) have no ANSI-SQL re-derivation.
        # Their oracles are DETERMINISTIC OUTPUT PINS minted once from
        # the golden-/property-tested implementation at sf0.01 (the
        # driver's oracle SF) by tools/mint_oracle_snapshots.py; the
        # algorithmic gates live in tests/ (goldens, recall, hamming,
        # plan audits). A pin catches any cross-run nondeterminism or
        # unintended behavior change the property tests would miss.
        # The pins are NOT the only value gate: each pinned operator
        # also has an independent cross-derivation —
        #   simhash/minhash: bit-vote / min-rehash recomputed in plain
        #     Python from per-token Spark hashes
        #     (test_simhash_cross_derivation, test_minhash_cross_der.)
        #   ann_lsh/ann_ivf: recall + exact-cosine agreement vs
        #     ann_bruteforce on planted clusters; full-probe IVF must
        #     EQUAL bruteforce rank-for-rank
        #   extract_/dump_/raw_encoding: byte-gated against the
        #     reference binaries (goldens + differential fuzzing)
        #   media_features: codec roundtrip property tests (hypothesis)
        "extract_transcripts": _snap(
            "extract_transcripts",
            "conv_id, turn_idx, turn_rank, role, extracted_text, spans, "
            "parse_errors, node_count, doc_encoding, parse_error_texts",
        ),
        "extract_boilerplate": _snap(
            "extract_boilerplate",
            "conv_id, turn_idx, turn_rank, extracted_text, parse_errors",
        ),
        "dump_serialize": _snap(
            "dump_serialize",
            "conv_id, turn_idx, dump, serialized_html, extracted_text, "
            "parse_errors",
        ),
        "media_features": _snap(
            "media_features",
            "media_id, kind, n_bytes, sha, decode_ok, features",
        ),
        "simhash": _snap("simhash", "doc_id, simhash"),
        "raw_encoding": _snap(
            "raw_encoding",
            "doc_id, doc_encoding, parse_errors, node_count, "
            "extracted_text, spans, parse_error_texts",
        ),
        "minhash_lsh": _snap("minhash_lsh", "doc_a, doc_b"),
        "source_stats": """
            SELECT source,
                   cast(count(*) as bigint) AS n_docs,
                   cast(count(distinct md5(text)) as bigint)
                       AS n_unique_texts,
                   cast(sum(length(text)) as bigint) AS n_chars_total
            FROM documents GROUP BY source
        """,
        "knn_label_purity": """
            WITH v AS (
                SELECT vec_id, label,
                       list_transform(embedding, x -> cast(x as double))
                           AS vec
                FROM embeddings
            ), q AS (
                SELECT vec_id AS query_id, vec AS qvec FROM v
                WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9)
            ), scored AS (
                SELECT q.query_id, v.vec_id AS corpus_id, v.label,
                       list_sum(list_transform(generate_series(1, len(qvec)),
                                i -> qvec[i] * vec[i]))
                       / (sqrt(list_sum(list_transform(qvec, x -> x*x)))
                          * sqrt(list_sum(list_transform(vec, x -> x*x))))
                           AS cosine
                FROM q, v WHERE v.vec_id <> q.query_id
            ), topk AS (
                SELECT query_id, corpus_id, label FROM (
                    SELECT query_id, corpus_id, label,
                           row_number() OVER (
                               PARTITION BY query_id
                               ORDER BY round(cosine, 6) DESC,
                                        corpus_id ASC) AS rank
                    FROM scored
                ) WHERE rank <= 5
            ), lab AS (
                SELECT query_id, label, count(*) AS n
                FROM topk GROUP BY query_id, label
            ), best AS (
                SELECT query_id, label, n FROM (
                    SELECT query_id, label, n,
                           row_number() OVER (
                               PARTITION BY query_id
                               ORDER BY n DESC, label ASC) AS rk
                    FROM lab
                ) WHERE rk = 1
            )
            SELECT b.query_id,
                   qe.label AS query_label,
                   b.label AS majority_label,
                   b.n / 5.0 AS purity
            FROM best b JOIN embeddings qe ON qe.vec_id = b.query_id
        """,
        "curate_corpus": f"""
            WITH RECURSIVE q AS (
                SELECT doc_id, text, source, lang,
                       round((length(regexp_replace(text, '[^a-zA-Z]',
                                                    '', 'g'))
                              / greatest(length(text), 1)
                              + len(list_filter(string_split(text, ' '),
                                                t -> t in {_EN_STOP}))
                              / greatest(len(string_split(text, ' ')), 1)
                              + case when length(text) between 100 and 2000
                                     then 1.0 else 0.5 end) / 3.0, 6)
                           AS quality
                FROM documents
            ), qs AS (
                SELECT * FROM q WHERE quality >= 0.55
            ), canon AS (
                SELECT min(doc_id) AS doc_id FROM qs GROUP BY md5(text)
            ), ek AS (
                SELECT qs.* FROM qs JOIN canon USING (doc_id)
            ), sh AS (
                SELECT doc_id,
                       CASE WHEN len(string_split(text,' ')) >= 3 THEN
                         list_distinct(list_transform(
                           generate_series(0,
                               len(string_split(text,' ')) - 3),
                           i -> array_to_string(
                               string_split(text,' ')[i+1:i+3], ' ')))
                       ELSE [array_to_string(string_split(text,' '), ' ')]
                       END AS shingles
                FROM ek
            ), pairs AS (
                SELECT a.doc_id AS pa, b.doc_id AS pb
                FROM sh a, sh b
                WHERE a.doc_id < b.doc_id
                  AND len(list_intersect(a.shingles, b.shingles))
                      / (len(a.shingles) + len(b.shingles)
                         - len(list_intersect(a.shingles, b.shingles)))
                      >= 0.8
            ), edges AS (
                -- undirected: both orientations
                SELECT pa AS ea, pb AS eb FROM pairs
                UNION
                SELECT pb AS ea, pa AS eb FROM pairs
            ), reach AS (
                -- (node, root): root reaches node; min(root) per node
                -- is the connected-component minimum — mirrors the
                -- Spark side's min-label propagation exactly
                SELECT ea AS node, ea AS root FROM edges
                UNION
                SELECT e.eb AS node, r.root AS root
                FROM reach r JOIN edges e ON e.ea = r.node
            ), comp AS (
                SELECT node, min(root) AS root FROM reach GROUP BY node
            ), drops AS (
                SELECT node AS doc_id FROM comp WHERE node <> root
            )
            SELECT ek.doc_id, ek.source, ek.lang
            FROM ek ANTI JOIN drops USING (doc_id)
        """,
        "event_sessions": """
            WITH flagged AS (
                SELECT user_id, event_id, ts,
                       -- floor to whole seconds: Spark's
                       -- cast(ts as long) truncates, so the oracle
                       -- must compare at the same precision or
                       -- near-1800s gaps split on one side only
                       CASE WHEN cast(floor(epoch(ts)) as bigint)
                                - lag(cast(floor(epoch(ts)) as bigint))
                                  OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) > 1800
                            THEN 1 ELSE 0 END AS new_session
                FROM events
            ), sess AS (
                SELECT user_id, ts,
                       sum(new_session) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
                FROM flagged
            )
            SELECT user_id,
                   cast(session_id as bigint) AS session_id,
                   cast(count(*) as bigint) AS n_events,
                   min(ts) AS first_ts,
                   max(ts) AS last_ts
            FROM sess GROUP BY user_id, session_id
        """,
        # pdf_extract: GENERATOR-side expected values (independent of
        # the parser — see _q_pdf_extract docstring), not an output pin
        "pdf_extract": f"""
            SELECT doc_id,
                   cast(n_pages as int) AS n_pages,
                   cast(n_runs as int) AS n_runs,
                   decode_ok,
                   extracted_text
            FROM read_parquet('{_FIXTURES}/pdf_expected.parquet')
        """,
        "ann_lsh": _snap("ann_lsh", "query_id, corpus_id, rank"),
        "ann_ivf": _snap("ann_ivf", "query_id, corpus_id, rank"),
        "ann_ivfpq": _snap("ann_ivfpq", "query_id, corpus_id, rank"),
        # approx_percentile's GK sketch has no cross-engine equivalent
        # (DuckDB's approx_quantile is t-digest — different algorithm,
        # different values), so the oracle is a deterministic pin: at
        # sf0.01 every group fits the accuracy-10000 sketch uncompressed,
        # making the output exact and partitioning-independent. The
        # compressed regime's rank-error bound is tolerance-tested
        # against exact percentiles in tests/test_spark_pipeline.py.
        "approx_percentiles": _snap(
            "approx_percentiles", "event_type, ap50, ap95, n"),
    }
