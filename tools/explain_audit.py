#!/usr/bin/env python3
"""Physical-plan audit: capture .explain(formatted) for the headline
queries and assert the plan properties that matter at 100 TB:
  - column pruning reaches the parquet scan (ReadSchema)
  - filters are pushed down (PushedFilters)
  - small dimension joins broadcast (BroadcastHashJoin)
  - aggregations are partial (two HashAggregate phases)
  - extraction is one scan and one Arrow kernel (with its internal
    '<'-free fast path): exactly one MapInArrow, no Union
  - the checkpointed write shuffles once, by part_key, with no join
    and no sort above its window, collects nothing to the driver, and
    its manifest aggregate shuffles once (checked on the executed
    plans of a real run)
  - the ANN searches run one ArrowEvalPython per fold-kernel call
    site and fold over no literal centroid/codebook arrays
Writes PLANS.md with the annotated plans.
"""

from __future__ import annotations

import io
import os
import re
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# a zip_with fold whose second argument is a literal array, the shape
# of the deleted SQL-literal centroid/codebook expressions
_LITERAL_FOLD = re.compile(r"zip_with\([^\[\n]*\[-?\d")


def _arrow_evals(plan: str) -> int:
    """ArrowEvalPython nodes in the tree header of a formatted plan."""
    return plan.count("+- ArrowEvalPython")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    # the audit's own tables live in a directory this run creates and
    # deletes, so no earlier run (or other user) can supply them
    work = tempfile.mkdtemp(prefix="explain_audit_")
    try:
        return _audit(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _audit(work: str):
    import __spark_entry__ as se
    from html_parser_spark.spark.checkpoint import run_with_checkpoint
    from html_parser_spark.spark.pipeline import extract_turns
    from html_parser_spark.spark.session import get_spark, recorded_executions
    from html_parser_spark.spark.transcripts import transcripts_df

    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    checks = []
    sections = []

    def audit(name, df, asserts, note=None):
        plan = df if isinstance(df, str) else plan_of(df)
        results = []
        for label, pred in asserts:
            ok = pred(plan)
            results.append((label, ok))
            checks.append((name, label, ok))
        sections.append((name, results, plan, note))

    # 1. extraction pipeline
    tdf = transcripts_df(spark, 500, seed=42, partitions=4)
    tpath = os.path.join(work, "transcripts")
    tdf.write.parquet(tpath)
    tp = spark.read.parquet(tpath)
    ext = extract_turns(tp, ordered=True)
    audit("extract_turns (single-scan default)", ext, [
        ("exactly one Python stage",
         lambda p: p.count("+- MapInArrow") + p.count("+- PythonMapInArrow")
         == 1 and "EvalPython" not in p and "MapInPandas" not in p),
        ("reads the input ONCE (no union-of-filters double scan)",
         # formatted plans name each scan twice (tree + detail header)
         lambda p: p.count("+- Scan parquet") == 1 and "Union" not in p),
        ("window for stable ordering present",
         lambda p: "Window" in p),
        ("scan prunes to transcript columns",
         lambda p: "ReadSchema" in p),
    ])

    # executed, not explained: the writer's sort requirement and the
    # adaptive re-planning only show in the plan of a real run
    with recorded_executions(spark) as execs:
        run_with_checkpoint(spark, tp, os.path.join(work, "out"),
                            os.path.join(work, "ckpt"), buckets=8)
    writes = [e for e in execs if "Window" in e.nodes]
    nodes = writes[0].nodes if len(writes) == 1 else []
    manifests = [e for e in execs
                 if "HashAggregate" in e.nodes and "Window" not in e.nodes]
    audit("run_with_checkpoint (part_key-aligned write)",
          writes[0].plan if writes else "", [
        ("one write execution runs the window",
         lambda p: len(writes) == 1),
        ("exactly one shuffle Exchange, hash-partitioned by part_key",
         lambda p: nodes.count("Exchange") == 1
         and "hashpartitioning(part_key" in p),
        ("no Join; one Sort, below the Window (the writer reuses it)",
         lambda p: not any("Join" in n for n in nodes)
         and nodes.count("Sort") == 1 and nodes.count("Window") == 1),
        ("no collect job in the run",
         lambda p: not any(e.description.startswith("collect")
                           for e in execs)),
        ("manifest aggregate shuffles once (no distinct-count Exchange)",
         lambda p: len(manifests) == 1
         and manifests[0].nodes.count("Exchange") == 1),
    ])

    qs = se.queries()
    audit("pricing_summary", qs["pricing_summary"](spark, SF_DIR), [
        ("filter pushed to parquet scan",
         lambda p: "PushedFilters: [IsNotNull(l_shipdate)" in p
         or "LessThanOrEqual(l_shipdate" in p),
        ("partial (map-side) aggregation",
         lambda p: p.count("HashAggregate") >= 2),
        ("scan reads only needed columns",
         lambda p: "l_partkey" not in p.split("ReadSchema")[1][:400]
         if "ReadSchema" in p else False),
    ])

    audit("top_revenue", qs["top_revenue"](spark, SF_DIR), [
        ("customer side broadcast",
         lambda p: "BroadcastHashJoin" in p),
        ("segment filter pushed down",
         lambda p: "c_mktsegment" in p and "PushedFilters" in p),
        ("top-k via TakeOrderedAndProject (no full sort materialize)",
         lambda p: "TakeOrderedAndProject" in p),
    ])

    audit("regional_revenue (Q5-shape 6-table join)",
          qs["regional_revenue"](spark, SF_DIR), [
        ("tiny dims broadcast (nation/region), no BNL/cartesian",
         lambda p: "BroadcastHashJoin" in p
         and "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("order-date filter pushed to the orders scan",
         lambda p: "PushedFilters: [IsNotNull(o_orderdate)" in p
         or "GreaterThanOrEqual(o_orderdate" in p),
        ("region filter pushed to the region scan",
         lambda p: "EqualTo(r_name,ASIA)" in p),
        ("co-nation condition inside a hash join, not a filter on a "
         "wider join",
         lambda p: "SortMergeJoin" in p or "ShuffledHashJoin" in p
         or p.count("BroadcastHashJoin") >= 3),
    ])

    audit("minhash_lsh", qs["minhash_lsh"](spark, SF_DIR), [
        ("no cartesian/broadcast-nested-loop pair join",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        # r8: pairs come from ONE band-keyed aggregation
        # (collect_list members per bucket) + posexplode — the r7
        # banded self-join (and its width window) is gone, so the
        # invariant is now: a band-hash-keyed aggregate exists, no
        # join node at all, and signatures are a pure projection (no
        # doc_id-keyed aggregation anywhere)
        ("band-bucket aggregation, no join node",
         lambda p: "collect_list" in p and "Join" not in p),
        ("per-row signatures: no doc_id-keyed aggregate",
         lambda p: "hashpartitioning(doc_id" not in p),
    ])

    audit("ngram_jaccard (LSH-candidate-verified)",
          qs["ngram_jaccard"](spark, SF_DIR), [
        ("no cartesian/broadcast-nested-loop join anywhere",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("candidate pairs join by key (SortMerge/Hash)",
         lambda p: "SortMergeJoin" in p or "ShuffledHashJoin" in p
         or "BroadcastHashJoin" in p),
    ])

    audit("simhash (codegen bit-vote)", qs["simhash"](spark, SF_DIR), [
        ("no Python node in the plan",
         lambda p: "EvalPython" not in p and "MapInArrow" not in p
         and "MapInPandas" not in p),
        ("partial (map-side) aggregation",
         lambda p: p.count("HashAggregate") >= 2),
    ])

    audit("ann_lsh (in-plan hyperplanes)", qs["ann_lsh"](spark, SF_DIR), [
        ("no cartesian/broadcast-nested-loop join",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("bucket-keyed join with query side broadcast",
         lambda p: "BroadcastHashJoin" in p),
        ("per-query top-k window",
         lambda p: "Window" in p),
    ])

    audit("ann_ivf (fold-kernel quantizer assignment)",
          qs["ann_ivf"](spark, SF_DIR), [
        ("no cartesian/broadcast-nested-loop join",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("cell-keyed join with query side broadcast",
         lambda p: "BroadcastHashJoin" in p),
        ("one ArrowEvalPython per kernel call site (corpus cells, "
         "query probes)",
         lambda p: _arrow_evals(p) == 2),
        ("no fold over literal centroid arrays",
         lambda p: not _LITERAL_FOLD.search(p)),
        ("per-query top-k window",
         lambda p: "Window" in p),
    ], note="Cells and probes come from the numpy fold kernel, whose "
            "cosines are bit-equal to the JVM fold; the final scoring "
            "is the JVM _dot fold over the cell-keyed join.")

    audit("ann_bruteforce", qs["ann_bruteforce"](spark, SF_DIR), [
        ("corpus streams through one fold-kernel call, no join (the "
         "query matrix rides in the kernel's closure)",
         lambda p: _arrow_evals(p) == 1 and "Join" not in p),
        ("no fold over literal arrays",
         lambda p: not _LITERAL_FOLD.search(p)),
        ("per-query top-k window",
         lambda p: "Window" in p),
    ])

    audit("embedding_near_dup (LSH-bucketed)",
          qs["embedding_near_dup"](spark, SF_DIR), [
        ("no cartesian/broadcast-nested-loop join",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("bucket-keyed candidate join",
         lambda p: "SortMergeJoin" in p or "ShuffledHashJoin" in p
         or "BroadcastHashJoin" in p),
    ])

    audit("winnowing (per-row rolling hash)",
          qs["winnowing"](spark, SF_DIR), [
        ("no Python node, no join, no aggregate exchange",
         lambda p: "EvalPython" not in p and "Join" not in p
         and "MapInArrow" not in p),
        ("scan prunes to (doc_id, text)",
         lambda p: "ReadSchema" in p and "lang" not in
         p.split("ReadSchema")[1][:300]),
    ])

    audit("bpe_tokens (regexp_count)", qs["bpe_tokens"](spark, SF_DIR), [
        ("pure projection (no shuffle/join/Python)",
         lambda p: "Exchange" not in p and "Join" not in p
         and "EvalPython" not in p),
    ])

    audit("source_stats (per-source rollup)",
          qs["source_stats"](spark, SF_DIR), [
        ("partial (map-side) aggregation",
         lambda p: p.count("HashAggregate") >= 2
         or p.count("ObjectHashAggregate") >= 2),
        ("no join, no Python", lambda p: "Join" not in p
         and "EvalPython" not in p),
    ])

    audit("knn_label_purity (k-NN classification)",
          qs["knn_label_purity"](spark, SF_DIR), [
        ("no cartesian/broadcast-nested-loop join",
         lambda p: "CartesianProduct" not in p),
        ("label + query joins broadcast",
         lambda p: p.count("BroadcastHashJoin") >= 2),
        ("per-query top-k + majority windows",
         lambda p: "row_number" in p),
    ])

    audit("event_sessions (gap sessionization)",
          qs["event_sessions"](spark, SF_DIR), [
        ("single user_id shuffle feeds both windows and the aggregate",
         lambda p: p.count("hashpartitioning(user_id") == 1),
        ("no join, no Python",
         lambda p: "Join" not in p and "EvalPython" not in p),
    ])

    audit("asof_attribution (fused single-scan as-of window)",
          qs["asof_attribution"](spark, SF_DIR), [
        ("NO join node — the as-of is one running window",
         lambda p: "Join" not in p),
        ("single user_id window shuffle",
         lambda p: p.count("hashpartitioning(user_id") == 1),
        ("ONE pruned scan of events (fused sides, no union-of-"
         "filters double read), side disjunction pushed",
         # formatted explain prints each scan twice (tree + details):
         # ONE scan node == exactly 2 occurrences
         lambda p: p.count("Scan parquet") == 2
         and "Or(EqualTo(event_type,click),EqualTo(event_type,view))"
         in p),
    ])

    audit("curate_corpus (end-to-end curation DAG)",
          qs["curate_corpus"](spark, SF_DIR), [
        ("no cartesian/broadcast-nested-loop anywhere",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("no Python in the plan",
         lambda p: "EvalPython" not in p and "MapInArrow" not in p
         and "MapInPandas" not in p),
        ("near-dup drop is an anti-join",
         lambda p: "LeftAnti" in p),
    ])

    audit("pdf_extract (Arrow-batched kernel)",
          qs["pdf_extract"](spark, SF_DIR), [
        ("exactly one Python crossing (MapInArrow)",
         lambda p: p.count("+- MapInArrow") == 1
         and "BatchEvalPython" not in p),
        ("no join/aggregate around the kernel",
         lambda p: "Join" not in p and "HashAggregate" not in p),
    ])

    audit("conversation_stats (salted)",
          qs["conversation_stats"](spark, SF_DIR), [
        ("two aggregation stages (salt then merge)",
         lambda p: p.count("HashAggregate") >= 3),
    ], note=(
        "Skew evidence (tests/test_spark_pipeline.py\n"
        "test_mega_conversation_skew): a planted 1e5-turn "
        "conversation's\nstage-1 partials spread near-uniformly over "
        "all 16 salt buckets\n(max/min bucket load <= 2 asserted), "
        "the salt key is present in the\nexecuted first aggregate, "
        "results stay exact, and the per-conv\nordering window — not "
        "saltable without changing row_number\nsemantics — completes "
        "correctly via Spark's spilling window buffer."))

    audit("approx_percentiles (GK sketch, bounded group state)",
          qs["approx_percentiles"](spark, SF_DIR), [
        ("partial aggregation (map-side sketch merge)",
         lambda p: p.count("ObjectHashAggregate")
         + p.count("SortAggregate") + p.count("HashAggregate") >= 2),
        # formatted explain prints each node twice (tree + details)
        ("single shuffle on the group key",
         lambda p: p.count("Exchange") == 2),
        ("scan prunes to the two needed columns",
         lambda p: "ReadSchema: struct<event_type:string,value:double>"
         in p),
    ])

    audit("pack_sequences (bucketed packing window)",
          qs["pack_sequences"](spark, SF_DIR), [
        ("one hash-partitioned window (bucket key), no global sort",
         lambda p: "rangepartitioning" not in p.lower()),
        ("running-sum window present",
         lambda p: "Window" in p),
        ("scan prunes to doc_id+text",
         lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
    ])

    audit("sft_pairs (SFT context/response pairs)",
          qs["sft_pairs"](spark, SF_DIR), [
        ("one conv_id hash-partitioned window, no global sort",
         lambda p: "hashpartitioning(conv_id" in p
         and "rangepartitioning" not in p.lower()),
        ("bounded ROWS frame window present",
         lambda p: "Window" in p),
        ("exactly one Python stage (the parse kernel), windows JVM-side",
         lambda p: p.count("+- MapInArrow") + p.count("+- PythonMapInArrow")
         == 1 and "EvalPython" not in p and "MapInPandas" not in p),
        ("the frame is collected ONCE (a single Window node)",
         lambda p: p.count("collect_list") == 1),
    ])

    audit("loss_mask_spans (loss-mask token offsets)",
          qs["loss_mask_spans"](spark, SF_DIR), [
        ("one conv_id hash-partitioned window, no global sort",
         lambda p: "hashpartitioning(conv_id" in p
         and "rangepartitioning" not in p.lower()),
        ("running-sum window present",
         lambda p: "Window" in p),
        ("exactly one Python stage (the parse kernel), offsets JVM-side",
         lambda p: p.count("+- MapInArrow") + p.count("+- PythonMapInArrow")
         == 1 and "EvalPython" not in p and "MapInPandas" not in p),
    ])

    audit("context_window_trim (reverse token-budget suffix)",
          qs["context_window_trim"](spark, SF_DIR), [
        ("one conv_id hash-partitioned window, no global sort",
         lambda p: "hashpartitioning(conv_id" in p
         and "rangepartitioning" not in p.lower()),
        ("exactly one Python stage (the parse kernel), trim JVM-side",
         lambda p: p.count("+- MapInArrow") + p.count("+- PythonMapInArrow")
         == 1 and "EvalPython" not in p and "MapInPandas" not in p),
    ])

    audit("preference_pairs (DPO mining: prompt-keyed argmax/argmin)",
          qs["preference_pairs"](spark, SF_DIR), [
        ("keyed shuffles only — no cartesian/BNLJ",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("no corpus-wide window beyond the conv_id lead (no global sort)",
         lambda p: "rangepartitioning" not in p.lower()),
        ("distinct + argmax aggregates are partial",
         lambda p: p.count("HashAggregate")
         + p.count("ObjectHashAggregate") + p.count("SortAggregate") >= 2),
        ("exactly one Python stage (the parse kernel)",
         lambda p: p.count("+- MapInArrow") + p.count("+- PythonMapInArrow")
         == 1 and "EvalPython" not in p and "MapInPandas" not in p),
    ])

    audit("strip_dup_passages (ExactSubstr deletion)",
          qs["strip_dup_passages"](spark, SF_DIR), [
        ("all shuffles keyed — no cartesian/BNLJ",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("survivor rebuild has no corpus window / global sort",
         lambda p: "rangepartitioning" not in p.lower()),
        # r8: the anti-join of exploded covered positions was replaced
        # by per-doc array math — covered starts come back as ONE
        # aggregated array per doc and the kept-word filter is a
        # per-row HOF (filter-with-index), so the invariant is now:
        # a LEFT join of the per-doc cover frame and NO
        # corpus-token-scale Generate-join pattern
        ("cover attach is a keyed left join; rebuild is per-row "
         "array math (no token-level anti join needed)",
         lambda p: "LeftOuter" in p and "array_contains" in p),
        ("doc-frequency aggregation is partial",
         lambda p: p.count("HashAggregate") >= 2),
    ])

    audit("edit_distance_verify (Levenshtein refinement of LSH pairs)",
          qs["edit_distance_verify"](spark, SF_DIR), [
        ("candidate path only — no cartesian/BNLJ all-pairs",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("distance is a per-row JVM expression (levenshtein in plan)",
         lambda p: "levenshtein" in p.lower()),
        ("no Python stage anywhere",
         lambda p: "EvalPython" not in p and "MapInArrow" not in p
         and "MapInPandas" not in p),
    ])

    audit("bm25_search (one-pass stats + broadcast + top-k)",
          qs["bm25_search"](spark, SF_DIR), [
        ("corpus stats aggregation is partial",
         lambda p: p.count("HashAggregate") >= 2),
        ("top-k is TakeOrderedAndProject, not a global sort",
         lambda p: "TakeOrderedAndProject" in p),
        ("score is whole-stage-codegen arithmetic (no Python)",
         lambda p: "EvalPython" not in p and "MapInArrow" not in p
         and "MapInPandas" not in p),
    ], note="the 1-row stats frame joins via broadcast; the final "
            "rank window runs on k rows only (post-limit)")

    audit("ccnet_split (per-language surprisal terciles)",
          qs["ccnet_split"](spark, SF_DIR), [
        ("tf/vocab aggregations are partial",
         lambda p: p.count("HashAggregate") >= 4),
        ("vocab join is keyed (no cartesian/BNLJ)",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("tercile window partitions by lang (no single global sort)",
         lambda p: "hashpartitioning(lang" in p),
        ("no Python stage",
         lambda p: "EvalPython" not in p and "MapInArrow" not in p
         and "MapInPandas" not in p),
    ], note="at 100 TB the tercile cut points would be pinned from "
            "approx quantiles on a sample instead of per-language "
            "ntile sorts; this form is exact for the gate")

    audit("ngram_diversity (distinct-n via two-stage counting)",
          qs["ngram_diversity"](spark, SF_DIR), [
        ("exact-distinct via (lang, gram) pre-aggregate, both partial",
         lambda p: p.count("HashAggregate") >= 4),
        ("no expand/multi-distinct plan (single count-distinct path)",
         lambda p: "Expand" not in p),
        ("no Python stage, no window",
         lambda p: "EvalPython" not in p and "Window" not in p),
    ], note="the big shuffle carries one row per DISTINCT gram, not "
            "per occurrence — the pre-aggregate collapses repeats "
            "map-side")

    audit("interval_events (bin-bucketed range join)",
          qs["interval_events"](spark, SF_DIR), [
        ("NO nested-loop/cartesian join (the naive range-join plan)",
         lambda p: "BroadcastNestedLoopJoin" not in p
         and "CartesianProduct" not in p),
        ("bin equi-join (hash/sort-merge/broadcast)",
         lambda p: "SortMergeJoin" in p or "ShuffledHashJoin" in p
         or "BroadcastHashJoin" in p),
        ("final aggregation is partial",
         lambda p: p.count("HashAggregate") + p.count("SortAggregate")
         >= 2),
    ])

    audit("pagerank (integer link-graph scoring, 5 iterations)",
          qs["pagerank"](spark, SF_DIR), [
        ("no cartesian/broadcast-nested-loop join anywhere",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("contrib aggregation is partial (map-side combine)",
         lambda p: p.count("HashAggregate") >= 2),
        ("no global sort",
         lambda p: "rangepartitioning" not in p.lower()),
        ("lineage truncated (constant-size plan per iteration)",
         lambda p: "Scan ExistingRDD" in p or "LogicalRDD" in p),
    ])

    audit("extract_links (anchor extraction, link-graph raw material)",
          qs["extract_links"](spark, SF_DIR), [
        ("exactly one Python stage, fan-out in-batch (no Generate)",
         lambda p: p.count("+- MapInArrow") + p.count("+- PythonMapInArrow")
         == 1 and "Generate" not in p),
        ("no shuffle at all (narrow kernel stage)",
         lambda p: "ENSURE_REQUIREMENTS" not in p),
    ])

    audit("link_stats (per-target popularity)",
          qs["link_stats"](spark, SF_DIR), [
        ("aggregation is partial (map-side phase before the exchange)",
         lambda p: p.count("HashAggregate") + p.count("SortAggregate")
         >= 2),
        ("keyed by href, no global sort",
         lambda p: "hashpartitioning(href" in p
         and "rangepartitioning" not in p.lower()),
    ])

    audit("tool_transitions (agent-trace Markov counts)",
          qs["tool_transitions"](spark, SF_DIR), [
        ("lag window keyed on conv_id",
         lambda p: "hashpartitioning(conv_id" in p),
        ("final count aggregates partially (map-side combine)",
         lambda p: p.count("HashAggregate") >= 2),
        ("no global sort",
         lambda p: "rangepartitioning" not in p.lower()),
    ])

    audit("cluster_assign (nearest-seed corpus bucketing)",
          qs["cluster_assign"](spark, SF_DIR), [
        ("seeds broadcast against the streaming corpus",
         lambda p: "BroadcastNestedLoopJoin" in p
         or "BroadcastHashJoin" in p),
        ("argmax is a partial aggregation, not a per-vector window",
         lambda p: p.count("HashAggregate") >= 2
         and "windowspecdefinition(vec_id" not in p),
        # r8: the hoisted seed-norm projection sits above the
        # limit, so the pick can print as TakeOrderedAndProject OR
        # as a (4-row) GlobalLimit+Project — either way no full sort
        # of the corpus side
        ("seed pick is a limit, not a full sort",
         lambda p: "TakeOrderedAndProject" in p
         or "GlobalLimit" in p),
        ("no Python node",
         lambda p: "EvalPython" not in p and "MapInPandas" not in p),
    ])

    audit("role_alternation (dialogue-protocol audit)",
          qs["role_alternation"](spark, SF_DIR), [
        ("lag window and agg share the conv_id shuffle",
         lambda p: "hashpartitioning(conv_id" in p),
        ("aggregation is partial (two HashAggregate phases)",
         lambda p: p.count("HashAggregate") >= 2),
        ("no global sort in the plan",
         lambda p: "rangepartitioning" not in p.lower()),
    ])

    audit("lang_balanced_sample (per-stratum top-N)",
          qs["lang_balanced_sample"](spark, SF_DIR), [
        ("rank filter survives in the plan",
         lambda p: "rank_in_lang" in p),
        ("one shuffle keyed by lang",
         lambda p: p.count("Exchange") == 2),  # tree + details
        ("scan prunes to the three needed columns",
         lambda p: "ReadSchema: struct<doc_id:bigint,lang:string,"
         "source:string>" in p),
    ])

    audit("repetition_scores (Gopher repetition filters)",
          qs["repetition_scores"](spark, SF_DIR), [
        ("per-row metrics stay JVM-side (no Python node)",
         lambda p: "Python" not in p),
        ("top-bigram count aggregates partially before its exchange",
         lambda p: p.count("HashAggregate") >= 4),  # tree + details
        ("no cartesian/BNL join anywhere",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("scan prunes to doc_id+text",
         lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
    ], note="Everything except the top-bigram is a per-row "
            "higher-order-function expression: zero shuffles. The "
            "top-bigram pays one keyed (doc_id, gram) aggregate plus "
            "a doc_id window — both partial-agg-friendly at 100 TB.")

    audit("decontaminate (benchmark n-gram collisions)",
          qs["decontaminate"](spark, SF_DIR), [
        ("benchmark gram set is broadcast (no corpus-side shuffle "
         "for the membership probe)",
         lambda p: "BroadcastHashJoin" in p),
        ("no cartesian/BNL join",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("gram construction stays JVM-side (no Python node)",
         lambda p: "Python" not in p),
        ("per-doc overlap aggregates partially",
         lambda p: p.count("HashAggregate") >= 4),
    ], note="The benchmark side (eval suites) is small by nature -> "
            "broadcast is the 100 TB shape; the corpus side is one "
            "generate + one keyed aggregate, never joined to itself.")

    audit("dup_passages (exact duplicated-passage annotation)",
          qs["dup_passages"](spark, SF_DIR), [
        ("gram hashing + counting stays JVM-side (no Python node)",
         lambda p: "Python" not in p),
        ("(gkey, doc) and gram-doc-frequency aggregates apply "
         "partial aggregation",
         lambda p: p.count("HashAggregate") >= 6),  # tree + details
        ("no cartesian/BNL join anywhere",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("gram scan prunes to doc_id+text",
         lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
    ], note="The shuffle key is md5(gram) — constant 32-byte rows "
            "regardless of n (xxhash64 at 100 TB). Doc-frequency runs "
            "over one row per (doc, gram), not per position; the only "
            "joins are the gkey equi-join and the doc_id spine join.")

    audit("warc_roundtrip (WARC source -> HTTP envelope)",
          qs["warc_roundtrip"](spark, SF_DIR), [
        ("fully narrow pipeline: ZERO exchanges from file scan to "
         "envelope rows",
         lambda p: "Exchange" not in p),
        ("exactly the two archive-format Python stages (record "
         "framing, HTTP split)",
         lambda p: p.count("MapInArrow") in (2, 4)),  # tree + details
        ("no join anywhere",
         lambda p: "Join" not in p),
    ], note="binaryFile gives one task per WARC file — Common Crawl "
            "parallelism IS file count (tens of thousands of ~1 GB "
            "files), so the 100 TB read is embarrassingly parallel; "
            "record parsing streams gzip members with an O(record) "
            "carry buffer, never inflating a whole file.")

    audit("pmi_collocations (corpus collocations)",
          qs["pmi_collocations"](spark, SF_DIR), [
        ("both vocabulary joins broadcast (word counts are "
         "vocabulary-scale after aggregation)",
         lambda p: p.count("BroadcastHashJoin") >= 2),
        ("bigram + word counts aggregate partially",
         lambda p: p.count("HashAggregate") >= 4),
        ("no Python node",
         lambda p: "Python" not in p),
        ("final top-k sorts only the min_count survivors "
         "(TakeOrdered, not a global Sort of the corpus)",
         lambda p: "TakeOrderedAndProject" in p),
    ], note="The ORDER BY ... LIMIT k compiles to "
            "TakeOrderedAndProject: per-partition top-k then a "
            "driver merge of k rows per partition — no global sort "
            "at any scale.")

    audit("tfidf_top_terms (characteristic terms)",
          qs["tfidf_top_terms"](spark, SF_DIR), [
        ("term-frequency and document-frequency aggregates are "
         "partial (map-side combine)",
         lambda p: p.count("HashAggregate") >= 6),  # tree + details
        ("no cartesian/BNL join",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("whole pipeline stays JVM-side (no Python node)",
         lambda p: "Python" not in p),
        ("top-k filter prunes on the rank",
         lambda p: "term_rank" in p),
    ], note="The corpus size N rides in as a literal (one bounded "
            "driver count), NOT a joined one-row frame — so no "
            "nested-loop join appears anywhere.")

    audit("split_assign (deterministic train/val/test)",
          qs["split_assign"](spark, SF_DIR), [
        ("pure per-row expression: ZERO exchanges in the plan",
         lambda p: "Exchange" not in p),
        ("no Python node",
         lambda p: "Python" not in p),
        ("scan prunes to doc_id+lang",
         lambda p: "ReadSchema: struct<doc_id:bigint,lang:string>"
         in p),
    ], note="The md5-bucket assignment shuffles NOTHING at any "
            "scale — the one shape that is trivially 100 TB-safe.")

    audit("chunk_documents (sliding-window chunking)",
          qs["chunk_documents"](spark, SF_DIR), [
        ("pure narrow stage: ZERO exchanges in the plan",
         lambda p: "Exchange" not in p),
        ("no Python node",
         lambda p: "Python" not in p),
        ("one generator (posexplode), no join",
         lambda p: p.count("Generate") >= 1 and "Join" not in p),
        ("scan prunes to doc_id+text",
         lambda p: "ReadSchema: struct<doc_id:bigint,text:string>"
         in p),
    ], note="Chunk fan-out is a per-row generate over in-row slices: "
            "output co-partitions with input, nothing moves — the "
            "100 TB chunking pass is scan-bound by construction.")

    audit("temperature_sample (alpha=0.5 language balancing)",
          qs["temperature_sample"](spark, SF_DIR), [
        ("per-language count frame joins back by BROADCAST",
         lambda p: "BroadcastHashJoin" in p),
        ("no sort-merge join of the corpus",
         lambda p: "SortMergeJoin" not in p),
        ("count aggregate is partial (map-side combine)",
         lambda p: p.count("HashAggregate") >= 2),
        ("keep decision stays JVM-side (no Python node)",
         lambda p: "Python" not in p),
    ], note="The only shuffle is the k-language count aggregate; the "
            "corpus itself never moves. The n_max window runs over "
            "the k-row count frame, not the corpus.")

    audit("events_pruned_window (days(ts) partition pruning)",
          qs["events_pruned_window"](spark, SF_DIR), [
        ("partition filters reach the scan (directories pruned at "
         "plan time)",
         lambda p: "PartitionFilters: [" in p
         and "event_date" in p.split("PartitionFilters: [", 1)[1]
                              .split("]", 1)[0]),
        ("no pushed data filter needed — the bound IS the partition "
         "key", lambda p: "PartitionFilters" in p),
        ("partial aggregation before the exchange",
         lambda p: p.count("HashAggregate") >= 4),  # tree + details
    ], note="Runtime half of the evidence: "
            "test_partition_pruned_scan asserts via input_file_name() "
            "that exactly the 3 bounded event_date directories are "
            "read out of ~30.")

    audit("hll_distinct (engine-exact HLL sketch)",
          qs["hll_distinct"](spark, SF_DIR), [
        ("register build is a partial aggregation (map-side max)",
         lambda p: p.count("HashAggregate") >= 4),
        ("estimate arithmetic stays JVM-side (no Python node)",
         lambda p: "Python" not in p),
        ("no cartesian/BNL join anywhere (only group-keyed frames "
         "meet)", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("scan prunes to the sketch inputs",
         lambda p: "ReadSchema" in p and "props" not in
         p.split("ReadSchema", 1)[1][:200]),
    ], note="The register table is bounded by groups x m rows no "
            "matter the corpus size; register max merges "
            "associatively, so the map side does nearly all the "
            "work. exact_distinct is the test-scale audit column — "
            "the sketch itself never shuffles corpus rows.")

    audit("semantic_dedup (SemDeDup cluster-blocked near-dup drop)",
          qs["semantic_dedup"](spark, SF_DIR), [
        ("seed comparison is a BROADCAST join",
         lambda p: "BroadcastHashJoin" in p
         or "BroadcastNestedLoopJoin" in p),
        ("pairwise stage joins ON cluster_id (never all-pairs)",
         lambda p: "CartesianProduct" not in p),
        ("cosine arithmetic stays JVM-side (no Python node)",
         lambda p: "Python" not in p),
        ("argmax is a partial max(struct) aggregation",
         lambda p: p.count("HashAggregate") >= 2),
    ], note="Comparison count is sum over clusters of |c|^2 — the "
            "cluster key IS the blocking key; at 100 TB n_clusters "
            "rises until |c| is bounded. The seed frame is "
            "n_clusters rows, broadcast.")

    _rc = qs["render_chatml"](spark, SF_DIR)
    audit("render_chatml (ChatML serialization)", _rc, [
        ("ONE conv-keyed aggregation, no window pass",
         lambda p: "Window" not in p),
        ("collect is a partial aggregation (objHashAggregate)",
         lambda p: "ObjectHashAggregate" in p
         or p.count("HashAggregate") >= 2),
        ("string assembly adds NO Python node (the one "
         "PythonMapInArrow is the upstream extraction kernel)",
         lambda p: p.count("PythonMapInArrow") <= 1),
    ], note="In-group ordering is array_sort on (turn_idx, piece) "
            "structs at merge time — no per-row window shuffle, no "
            "global sort; the one exchange is the conv_id group key.")

    audit("conv_branches (prefix regeneration grouping)",
          qs["conv_branches"](spark, SF_DIR), [
        ("prefix filter (turn_idx < k) applies before any exchange",
         lambda p: "Filter" in p),
        ("two keyed aggregations, no join of any kind",
         lambda p: "Join" not in p),
        ("no window pass",
         lambda p: "Window" not in p),
        ("grouping adds NO Python node (the one PythonMapInArrow is "
         "the upstream extraction kernel)",
         lambda p: p.count("PythonMapInArrow") <= 1),
    ], note="Group membership lists are bounded by branch-group "
            "size; the corpus never self-joins — branch DETECTION "
            "is two keyed shuffles of (conv_id|prefix-key, small "
            "payload) rows.")

    from html_parser_spark.spark.ops import (
        ann_ivfpq, ivf_fit, pq_encode, pq_fit,
    )
    _emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    _pq_anchors = ivf_fit(_emb, n_cells=8, seed=7, n_iters=1)
    _pq_cbs = pq_fit(_emb, n_subspaces=8, n_codes=16, seed=7, n_iters=1)

    audit("pq_encode (corpus PQ encoding)",
          pq_encode(_emb, _pq_cbs), [
        ("pure per-row expression: the only exchange is _spread's "
         "round-robin (tiny-file test artifact, no-op at production "
         "split sizes)",
         lambda p: "hashpartitioning" not in p.lower()
         and "rangepartitioning" not in p.lower()),
        ("one ArrowEvalPython (the fold kernel assigns the codes)",
         lambda p: _arrow_evals(p) == 1),
        ("no fold over literal codebook arrays",
         lambda p: not _LITERAL_FOLD.search(p)),
        ("scan prunes to vec_id+embedding",
         lambda p: "ReadSchema" in p),
    ], note="The 100 TB encode pass is scan-bound: one fold-kernel "
            "call per Arrow batch, output co-partitioned with input.")

    audit("ann_ivfpq (IVF-PQ ADC search)",
          ann_ivfpq(_emb, list(range(10)), _pq_anchors, _pq_cbs,
                    k=5, n_probe=4), [
        ("query side (probes + ADC tables) BROADCASTs",
         lambda p: "BroadcastHashJoin" in p
         or "BroadcastNestedLoopJoin" in p),
        ("candidate join is cell-keyed (no cartesian product)",
         lambda p: "CartesianProduct" not in p),
        ("one ArrowEvalPython per kernel call site (corpus cell + "
         "codes, query probes + ADC table)",
         lambda p: _arrow_evals(p) == 2),
        ("ADC lookup + fold stays JVM-side (aggregate over the codes "
         "and tables columns, no fold over literal arrays)",
         lambda p: "aggregate(zip_with(codes" in p
         and not _LITERAL_FOLD.search(p)),
        ("top-k is a bounded per-query window, not a global sort",
         lambda p: "Window" in p),
    ], note="Candidates are scored from 8-byte code words and a "
            "per-query (n_subspaces x n_codes)-double table from the "
            "fold kernel — probed cells never materialize raw "
            "vectors. The memory-scale ANN path at 10^9+ vectors.")

    audit("zorder_events (Morton key assignment)",
          qs["zorder_events"](spark, SF_DIR), [
        ("pure per-row integer expression: ZERO exchanges",
         lambda p: "Exchange" not in p),
        ("no Python node (bit interleave in whole-stage codegen)",
         lambda p: "Python" not in p),
        ("scan prunes to event_id+ts+user_id",
         lambda p: "ReadSchema" in p and "props" not in
         p.split("ReadSchema", 1)[1][:200]),
    ], note="Key assignment is scan-bound; the one range exchange of "
            "an actual OPTIMIZE ZORDER rewrite (write_zordered) is "
            "paid once at layout time — "
            "test_zorder_layout_skips_files_for_box_queries measures "
            "the footer-stats skipping it buys.")

    audit("gopher_filter (composite quality gate)",
          qs["gopher_filter"](spark, SF_DIR), [
        # r8: _spread adds exactly one ROUND-ROBIN exchange on
        # narrow scans (no keyed shuffle may appear; on production
        # split widths the plan is exchange-free again)
        ("per-row expressions: no KEYED exchange",
         lambda p: "hashpartitioning" not in p
         and p.count("+- Exchange") <= 1),
        ("no Python node",
         lambda p: "Python" not in p),
        ("scan prunes to doc_id+text+lang",
         lambda p: "ReadSchema" in p and "source" not in
         p.split("ReadSchema", 1)[1][:200]),
    ], note="Five Gopher rules, one scan, keep+reasons computed in "
            "whole-stage codegen — the quality gate costs exactly "
            "one pass at 100 TB.")

    audit("source_overlap (cross-source contamination matrix)",
          qs["source_overlap"](spark, SF_DIR), [
        ("no corpus self-join (pairs come from bounded per-gram "
         "source sets)", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("per-source totals join back by BROADCAST",
         lambda p: "BroadcastHashJoin" in p),
        ("gram aggregation is partial (map-side combine)",
         lambda p: p.count("HashAggregate") >= 2
         or "ObjectHashAggregate" in p),
        ("no Python node",
         lambda p: "Python" not in p),
    ], note="Shuffle rows are md5(gram) keys (constant 32B); the "
            "per-gram source set is bounded by |sources|, so the "
            "pair explosion is at most |sources|^2/2 per gram, "
            "independent of corpus size.")

    audit("sft_corpus (end-to-end transcript SFT prep DAG)",
          qs["sft_corpus"](spark, SF_DIR), [
        ("every stage keys by conv_id (no range/global sort exchange)",
         lambda p: "rangepartitioning" not in p.lower()),
        ("quality gate is a partial aggregation",
         lambda p: p.count("HashAggregate") >= 2
         or "ObjectHashAggregate" in p),
        ("render adds NO Python node (the one PythonMapInArrow is "
         "the upstream extraction kernel)",
         lambda p: p.count("PythonMapInArrow") <= 1),
        ("no cartesian/BNL join",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
    ], note="Gate -> trim -> render all reuse the conv_id hash "
            "partitioning; the composed nightly training-prep DAG "
            "costs one extraction pass plus conv-keyed shuffles.")

    audit("weighted_sample (A-ES weighted sampling)",
          qs["weighted_sample"](spark, SF_DIR), [
        ("top-k compiles to TakeOrderedAndProject (no global sort)",
         lambda p: "TakeOrderedAndProject" in p),
        ("no exchange of the corpus",
         lambda p: "Exchange" not in p
         or "rangepartitioning" not in p.lower()),
        ("no Python node",
         lambda p: "Python" not in p),
    ], note="Per-partition heaps merged at the driver; the exact "
            "weighted-without-replacement sample costs one scan at "
            "any corpus size.")

    audit("cms_top_terms (Count-Min frequency sketch)",
          qs["cms_top_terms"](spark, SF_DIR), [
        ("token count is a partial aggregation",
         lambda p: p.count("HashAggregate") >= 2),
        ("counter tables join back by BROADCAST (depth x width rows)",
         lambda p: "BroadcastHashJoin" in p),
        ("top-k compiles to TakeOrderedAndProject (no global sort)",
         lambda p: "TakeOrderedAndProject" in p),
        ("no Python node",
         lambda p: "Python" not in p),
    ], note="The counter table is depth x width rows regardless of "
            "corpus size and merges by ADDITION — the frequency "
            "companion of hll_distinct's cardinality sketch.")

    audit("bloom_decontaminate (Bloom pre-screen vs exact)",
          qs["bloom_decontaminate"](spark, SF_DIR), [
        ("bloom bit set and exact gram set join by BROADCAST",
         lambda p: p.count("BroadcastHashJoin") >= 2),
        ("no corpus self-join / cartesian",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("probe + doc rollup are partial aggregations",
         lambda p: p.count("HashAggregate") >= 4),
        ("no Python node",
         lambda p: "Python" not in p),
    ], note="The broadcast side is 65,536 BITS (64Ki positions), not "
            "the benchmark gram set — the pushdown that lets a 100 TB "
            "corpus drop its clean majority before any exact check; "
            "FP rate 0.19% at sf0.01 (one-sided, proven per doc).")

    audit("rag_retrieval (inverted-index BM25 join)",
          qs["rag_retrieval"](spark, SF_DIR), [
        ("retrieval join is TOKEN-keyed (no prompt x corpus "
         "cartesian)", lambda p: "CartesianProduct" not in p),
        ("corpus stats broadcast as one row",
         lambda p: "BroadcastNestedLoopJoin" in p
         or "BroadcastHashJoin" in p),
        ("postings/df are partial aggregations",
         lambda p: p.count("HashAggregate") >= 4),
        ("score fold adds NO Python node (the one PythonMapInArrow "
         "is the upstream extraction kernel)",
         lambda p: p.count("PythonMapInArrow") <= 1),
    ], note="The single-row stats frame joins via a broadcast nested "
            "loop ON PURPOSE (1 x N rows, no key exists); the real "
            "fan-out joins key by token. Per-(prompt, doc) fold "
            "state is bounded by the prompt's token count.")

    audit("leakage_check (train/eval near-dup leakage audit)",
          qs["leakage_check"](spark, SF_DIR), [
        ("pair generation is the banded-LSH shuffle (no cartesian/"
         "BNL)", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("split columns join onto the PAIR frame",
         lambda p: "Join" in p),
        ("no Python node",
         lambda p: "Python" not in p),
    ], note="Reuses the single-sourced near-dup pair definition and "
            "split arithmetic; the audit costs |pairs| join rows on "
            "top of the dedup pipeline it shares.")

    audit("mixture_weights (language reweighting plan)",
          qs["mixture_weights"](spark, SF_DIR), [
        ("one partial-aggregating count per language",
         lambda p: p.count("HashAggregate") >= 2),
        ("totals broadcast (1-row frame)",
         lambda p: "Broadcast" in p),
        ("no Python node", lambda p: "Python" not in p),
    ], note="The frame never exceeds the language count — plan math, "
            "not data movement.")

    audit("conv_pii_audit (transcript PII rollup)",
          qs["conv_pii_audit"](spark, SF_DIR), [
        ("per-row regexp counts + ONE conv_id aggregation",
         lambda p: p.count("HashAggregate") >= 2
         or "ObjectHashAggregate" in p),
        ("rollup adds NO Python node (the one PythonMapInArrow is "
         "the upstream extraction kernel)",
         lambda p: p.count("PythonMapInArrow") <= 1),
        ("no join, no window",
         lambda p: "Window" not in p),
    ], note="Shares redact_pii's single-sourced Java==RE2 patterns; "
            "the audit costs regexp evaluation on the same scan the "
            "extraction already paid for.")

    audit("dedup_representatives (quality-aware cluster keeper)",
          qs["dedup_representatives"](spark, SF_DIR), [
        ("no cartesian/BNL anywhere in the LSH+components+quality "
         "composition", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("argmax is a partial max(struct) aggregation, no per-cluster "
         "window", lambda p: "Window" not in p),
        ("no Python WORKER stage (the ExistingRDD scan is the bounded "
         "union-find result at oracle scale, documented in "
         "_components_min_label — not a per-row Python plan node)",
         lambda p: "PythonMapInArrow" not in p
         and "MapInPandas" not in p
         and "EvalPython" not in p),
    ], note="Quality joins onto the CLUSTERED docs only; the argmax "
            "runs as one keyed aggregation over cluster members.")

    audit("dataset_card (one-row corpus datasheet)",
          qs["dataset_card"](spark, SF_DIR), [
        ("every number is a partial aggregation",
         lambda p: p.count("HashAggregate") >= 4),
        ("1-row frames combine by broadcast (no real join work)",
         lambda p: "Broadcast" in p),
        ("no Python node", lambda p: "Python" not in p),
    ], note="The card composes the oracled primitives (quality, "
            "gopher keep, md5 exact-dedup) so it can never disagree "
            "with them; ~3 corpus passes, ONE output row.")

    audit("source_quality (per-source health dashboard)",
          qs["source_quality"](spark, SF_DIR), [
        ("one source-keyed aggregation after doc_id-keyed metric "
         "joins", lambda p: p.count("HashAggregate") >= 2),
        ("no cartesian/BNL",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("no Python node", lambda p: "Python" not in p),
    ], note="Decimal-sum means keep the dashboard engine-exact and "
            "order-independent.")

    out = ["# PLANS — physical-plan audit\n",
           "Generated by tools/explain_audit.py (sf0.01, local[8]).",
           "Asserted properties and the formatted plans they were",
           "checked against. Re-run after plan-affecting changes.\n"]
    for name, results, plan, note in sections:
        out.append(f"\n## {name}\n")
        for label, ok in results:
            out.append(f"- {'PASS' if ok else 'FAIL'}: {label}")
        if note:
            out.append("- " + note.replace("\n", "\n  "))
        clean = plan.replace("\x00", "").strip()
        out.append("\n```\n" + clean[:6000] + "\n```")
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"),
              "w") as f:
        f.write("\n".join(out) + "\n")

    nfail = sum(1 for _, _, ok in checks if not ok)
    for name, label, ok in checks:
        print(f"{'PASS' if ok else 'FAIL'} {name}: {label}")
    print(f"\n{len(checks) - nfail} pass, {nfail} fail -> PLANS.md")
    spark.stop()
    return 1 if nfail else 0


if __name__ == "__main__":
    sys.exit(main())
