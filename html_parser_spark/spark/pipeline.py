"""The extraction job: transcripts DataFrame -> extracted text + spans.

Scale design (north rule / SURVEY.md §2.7, §4):
  - One scan, one Arrow kernel: every row crosses into the fused
    tokenizer+tree-builder kernel via mapInArrow (one JVM<->Python
    crossing per record batch), whose internal '<'-free fast path
    answers markup-free turns without parsing. At 100 TB the text
    bytes are read exactly once.
  - Output ordering is re-established with a window over
    (conv_id, turn_idx) — stable per-turn ordering per the north rule.
  - Per-conversation aggregations use SALTED two-stage aggregation so a
    mega-conversation cannot pin a single reducer; AQE skew-join is the
    backstop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .udfs import EXTRACT_FIELDS, LINK_FIELDS, extract_row, links_row, map_rows

TRANSCRIPT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
PASSTHROUGH = ["conv_id", "turn_idx", "role", "tool", "ts"]


def extract_turns(df: DataFrame, mode: str = "fragment",
                  context: str = "div", ordered: bool = True,
                  boilerplate: bool = False) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) ->
    + extracted_text, spans, parse_errors, node_count, doc_encoding,
    parse_error_texts.

    Equality contract (boilerplate=False, the default): per-turn byte
    equality with the reference parser (kernel is golden-tested).

    One scan, one Arrow kernel: every row crosses into the kernel once,
    and its internal '<'-free fast path (property-tested equal to the
    full parse) handles markup-free turns cheaply. boilerplate=True
    applies the DOM block-scoring strip; the '<'-free fast path stays
    active for it too."""
    out = map_rows(df, ["text"], PASSTHROUGH, EXTRACT_FIELDS,
                   extract_row(mode, context, boilerplate))
    return with_turn_rank(out) if ordered else out


def with_turn_rank(df: DataFrame, *within: str) -> DataFrame:
    """+ turn_rank: the 1-based position of each turn in its
    conversation, in turn_idx order. `within` names extra window
    partition columns that are functions of conv_id (the checkpoint's
    part_key): they leave every rank unchanged and let the window
    reuse a partitioning already in place instead of shuffling by
    conv_id."""
    w = Window.partitionBy(*within, "conv_id").orderBy("turn_idx")
    return df.withColumn("turn_rank", F.row_number().over(w))


def conversation_stats(extracted: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Per-conversation rollup with SALTED two-stage aggregation:
    stage 1 aggregates (conv_id, salt) partials, stage 2 merges — a
    mega-conversation spreads over `salt_buckets` reducers first."""
    salted = extracted.withColumn(
        "salt", (F.crc32(F.col("turn_idx").cast("string")) % salt_buckets)
    )
    partial = salted.groupBy("conv_id", "salt").agg(
        F.count("*").alias("c"),
        F.sum(F.length("extracted_text")).alias("chars"),
        F.sum("parse_errors").alias("errs"),
        F.max("turn_idx").alias("max_turn"),
    )
    return partial.groupBy("conv_id").agg(
        F.sum("c").cast("bigint").alias("n_turns"),
        F.sum("chars").cast("bigint").alias("n_chars"),
        F.sum("errs").cast("bigint").alias("n_parse_errors"),
        F.max("max_turn").cast("int").alias("max_turn_idx"),
    )


def partition_metrics(extracted: DataFrame) -> DataFrame:
    """Per-partition extraction metrics (north rule: turns parsed,
    parse-error counts, bytes) for the checkpoint manifest."""
    return (
        extracted.withColumn("part_id", F.spark_partition_id())
        .groupBy("part_id")
        .agg(
            F.count("*").alias("turns"),
            F.sum("parse_errors").alias("parse_errors"),
            F.sum(F.length("extracted_text")).alias("extracted_chars"),
        )
    )


def sft_pairs(extracted: DataFrame, context_turns: int = 3,
              response_role: str = "assistant") -> DataFrame:
    """(context, response) supervised-fine-tuning pairs from extracted
    turns: one output row per `response_role` turn, whose context is
    the previous up-to-`context_turns` turns rendered "role: text" and
    joined with newlines in stable (conv_id, turn_idx) order.

    Scale shape: ONE hash-partitioned window on conv_id — the shuffle
    every per-conversation op shares — with a ROWS-bounded frame, so
    per-row state is O(context_turns) regardless of conversation
    length (a mega-conversation costs memory proportional to k, not to
    its turn count). No global sort, no Python stage. Intra-frame
    order is pinned explicitly (collect structs keyed by turn_idx,
    sort_array, project) rather than relying on frame iteration order,
    so the result is repartition-invariant by construction."""
    w = (Window.partitionBy("conv_id").orderBy(F.asc("turn_idx"))
         .rowsBetween(-context_turns, -1))
    line = F.concat_ws(": ", F.col("role"), F.col("extracted_text"))
    ctx = F.sort_array(
        F.collect_list(F.struct(F.col("turn_idx"), line.alias("line"))).over(w)
    )
    # materialize the frame ONCE (a second reference to `ctx` would
    # plan a second identical Window node), then derive both outputs
    return (
        extracted
        .select("conv_id", "turn_idx", "role", "extracted_text",
                ctx.alias("_ctx"))
        .where(F.col("role") == response_role)
        .select(
            "conv_id", "turn_idx",
            F.size("_ctx").cast("int").alias("n_context_turns"),
            F.array_join(
                F.transform("_ctx", lambda s: s["line"]), "\n"
            ).alias("context"),
            F.col("extracted_text").alias("response"),
        )
    )


def loss_mask_spans(extracted: DataFrame, sep_tokens: int = 1,
                    trainable_role: str = "assistant") -> DataFrame:
    """Per-turn token spans in the per-conversation packed token
    stream: [tok_start, tok_end) are cumulative whitespace-token
    offsets when a conversation's turns are concatenated in turn
    order with `sep_tokens` separator tokens after each turn, and
    `trainable` marks the spans that contribute to the loss (the
    standard SFT loss-masking layout). Token counting is the same
    split-on-space formula as token_stats, so the arithmetic is
    exact-integer and SQL-oracled end to end.

    Scale shape: one conv_id window with a running sum — a single
    shuffle, bounded per-row state, no global sort."""
    n_tok = F.size(F.split(F.coalesce(F.col("extracted_text"),
                                      F.lit("")), " ")).cast("bigint")
    w = (Window.partitionBy("conv_id").orderBy(F.asc("turn_idx"))
         .rowsBetween(Window.unboundedPreceding, -1))
    start = F.coalesce(F.sum(n_tok + sep_tokens).over(w), F.lit(0))
    return extracted.select(
        "conv_id", "turn_idx",
        n_tok.alias("n_tokens"),
        start.cast("bigint").alias("tok_start"),
        (start + n_tok).cast("bigint").alias("tok_end"),
        (F.col("role") == trainable_role).alias("trainable"),
    )


def role_alternation(extracted: DataFrame) -> DataFrame:
    """Per-conversation dialogue-protocol check: counts adjacent
    same-role turn pairs (a broken alternation — e.g. two consecutive
    assistant turns) and reports the first offending turn_idx (-1 when
    the conversation is clean). One lag window + one aggregation, both
    keyed on conv_id, so the window's shuffle is reused by the agg."""
    w = Window.partitionBy("conv_id").orderBy(F.asc("turn_idx"))
    prev = F.lag("role").over(w)
    flagged = extracted.withColumn(
        "viol", prev.isNotNull() & (F.col("role") == prev)
    )
    return flagged.groupBy("conv_id").agg(
        F.count("*").cast("bigint").alias("n_turns"),
        F.sum(F.col("viol").cast("int")).cast("bigint").alias("n_violations"),
        F.coalesce(
            F.min(F.when(F.col("viol"), F.col("turn_idx"))), F.lit(-1)
        ).cast("int").alias("first_violation_idx"),
    )


def tool_transitions(extracted: DataFrame) -> DataFrame:
    """Agent-trace analytics: Markov transition counts over the tool
    column — for each conversation's tool-bearing turns in turn order,
    count (previous tool -> tool) pairs corpus-wide; a conversation's
    first tool call transitions from 'START'. The tool column rides
    the extraction passthrough, so this runs over the same frame as
    every other per-conversation op.

    Scale shape: the null filter prunes to tool turns BEFORE the lag
    window's conv_id shuffle, and the corpus-wide count is a partial
    aggregation over (from_tool, to_tool) — bounded by the tool
    vocabulary squared, not by corpus size."""
    w = Window.partitionBy("conv_id").orderBy(F.asc("turn_idx"))
    tools = extracted.where(F.col("tool").isNotNull()).select(
        "conv_id", "turn_idx", "tool")
    pairs = tools.select(
        F.coalesce(F.lag("tool").over(w), F.lit("START")).alias("from_tool"),
        F.col("tool").alias("to_tool"),
    )
    return pairs.groupBy("from_tool", "to_tool").agg(
        F.count("*").cast("bigint").alias("n"))


def context_window_trim(extracted: DataFrame,
                        budget_tokens: int = 64) -> DataFrame:
    """Context-window truncation layout: for each conversation, mark
    the maximal SUFFIX of turns whose total whitespace-token count
    fits `budget_tokens` — the standard "keep the most recent context
    that fits" rule used when serving or packing long dialogues. Total
    op (every turn emitted, `kept` flags the survivors) so downstream
    stages can audit exactly what truncation dropped. Token counting
    is the same split-on-space formula as token_stats / loss_mask_spans
    — exact-integer end to end.

    Scale shape: ONE conv_id hash-partitioned window with a reverse
    (turn_idx DESC) running sum — the same single shuffle every
    per-conversation op shares; bounded per-row state, no global
    sort, no Python stage."""
    n_tok = F.size(F.split(F.coalesce(F.col("extracted_text"),
                                      F.lit("")), " ")).cast("bigint")
    w = (Window.partitionBy("conv_id").orderBy(F.desc("turn_idx"))
         .rowsBetween(Window.unboundedPreceding, 0))
    tail_cum = F.sum(n_tok).over(w)
    return extracted.select(
        "conv_id", "turn_idx",
        n_tok.alias("n_tokens"),
        tail_cum.cast("bigint").alias("tail_cum_tokens"),
        (tail_cum <= budget_tokens).alias("kept"),
    )


def preference_pairs(extracted: DataFrame) -> DataFrame:
    """DPO/RLHF preference-pair mining from transcripts: group every
    (user prompt -> immediately following assistant response) by the
    EXACT prompt text across the corpus; prompts answered by at least
    two distinct responses yield one (chosen, rejected) pair — chosen
    is the longest response (ties: lexicographically last), rejected
    the shortest (ties: first). Length-as-preference is the
    deterministic stand-in for a reward model; the mining topology
    (prompt-keyed grouping, distinct-response dedup, argmax/argmin
    selection) is exactly what a scored pipeline runs, with the scorer
    swapped in for F.length.

    Scale shape: one conv_id window (lead) to stitch prompt/response,
    one (prompt, response) distinct (partial agg), one prompt-keyed
    aggregate whose argmax/argmin are single min/max of a (len, text)
    struct — keyed shuffles only, no window over the corpus, no
    driver participation."""
    w = Window.partitionBy("conv_id").orderBy(F.asc("turn_idx"))
    nxt_role = F.lead("role").over(w)
    nxt_text = F.lead("extracted_text").over(w)
    pairs = (
        extracted
        .select("conv_id", "turn_idx", "role", "extracted_text",
                nxt_role.alias("_nr"), nxt_text.alias("_nt"))
        .where((F.col("role") == "user") & (F.col("_nr") == "assistant"))
        .select(F.col("extracted_text").alias("prompt"),
                F.col("_nt").alias("response"))
        .distinct()
    )
    keyed = F.struct(F.length("response").alias("l"),
                     F.col("response").alias("r"))
    return (
        pairs.groupBy("prompt")
        .agg(
            F.count("*").cast("bigint").alias("n_candidates"),
            F.max(keyed).alias("_best"),
            F.min(keyed).alias("_worst"),
        )
        .where(F.col("n_candidates") >= 2)
        .select(
            F.md5("prompt").alias("prompt_fp"),
            "prompt", "n_candidates",
            F.col("_best.r").alias("chosen"),
            F.col("_worst.r").alias("rejected"),
        )
    )


def render_chatml(extracted: DataFrame,
                  im_start: str = "<|im_start|>",
                  im_end: str = "<|im_end|>") -> DataFrame:
    """Training-serialization render: each conversation becomes ONE
    ChatML-style document — every turn wrapped as
    `<|im_start|>role\\ntext<|im_end|>`, turns joined by newlines in
    stable turn order. This is the last hop of an SFT data pipeline
    (transcripts table -> JSONL shards a trainer streams), kept as a
    first-class relational op so the serialization is itself
    oracle-checkable instead of a side-effecting writer.

    Scale shape: one conv_id-keyed aggregation (partial-agg collect),
    the in-group ordering done by array_sort on (turn_idx, ...) structs
    — NO per-row window pass and no global sort. The assembled document
    must fit in one row by definition of the op (same bound any
    document-assembly step has); mega-conversations are bounded by the
    context window upstream (context_window_trim), not here."""
    piece = F.concat(
        F.lit(im_start), F.col("role"), F.lit("\n"),
        F.coalesce(F.col("extracted_text"), F.lit("")), F.lit(im_end),
    )
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("turn_idx"), piece.alias("piece")))
    )
    doc = F.array_join(
        F.transform(ordered, lambda s: s.getField("piece")), "\n")
    return (
        extracted.groupBy("conv_id")
        .agg(F.count("*").cast("bigint").alias("n_turns"),
             doc.alias("chatml"))
        .select("conv_id", "n_turns",
                F.length("chatml").cast("bigint").alias("n_chars"),
                "chatml")
    )


def conv_branches(extracted: DataFrame, prefix_turns: int = 1) -> DataFrame:
    """Branch / regeneration detection: conversations that share an
    IDENTICAL opening (the first `prefix_turns` turns, role and text) —
    the shape regenerated samples, A/B'd system prompts, and template
    re-runs take in a transcript corpus. Emits one row per distinct
    prefix group with its membership, `branched` flagging groups with
    2+ conversations (the dedup/analysis targets). Total over groups so
    the un-branched population stays auditable.

    Scale shape: prefix assembly touches only turn_idx < prefix_turns
    (filter pushed to the scan), one conv_id-keyed aggregation to build
    the prefix, one md5(prefix)-keyed aggregation to group — two
    bounded keyed shuffles, no corpus window, no self-join (group
    membership lists are bounded by group size, the quantity the op
    exists to surface)."""
    piece = F.concat(F.col("role"), F.lit(":"),
                     F.coalesce(F.col("extracted_text"), F.lit("")))
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("turn_idx"), piece.alias("piece")))
    )
    # \x1f unit-separator join: unambiguous piece boundary, mirrored
    # as chr(31) in the DuckDB oracle
    prefix = F.array_join(
        F.transform(ordered, lambda s: s.getField("piece")), "\x1f")
    per_conv = (
        extracted.where(F.col("turn_idx") < prefix_turns)
        .groupBy("conv_id")
        .agg(prefix.alias("prefix_text"))
        .select("conv_id", F.md5("prefix_text").alias("prefix_key"))
    )
    return (
        per_conv.groupBy("prefix_key")
        .agg(
            F.count("*").cast("bigint").alias("n_convs"),
            F.array_join(F.array_sort(F.collect_list("conv_id")), ",")
             .alias("conv_ids"),
        )
        .select("prefix_key", "n_convs", "conv_ids",
                (F.col("n_convs") >= 2).alias("branched"))
    )


def conv_near_dup(extracted: DataFrame, threshold: float = 0.5,
                  num_hashes: int = 32, bands: int = 16,
                  shingle_n: int = 3) -> DataFrame:
    """Conversation-LEVEL near-duplicate pairs: each conversation's
    turns assemble (stable turn order) into one document, then the
    standard MinHash-LSH candidate generation + exact-Jaccard verify
    runs over the conversation documents — the dedup a transcript
    corpus needs when whole dialogues recur with small edits
    (re-imports, A/B forks, template sessions) that exact per-turn
    dedup misses and turn-prefix grouping (conv_branches) only
    catches at the opening.

    Scale shape: one conv_id-keyed assembly aggregation, then exactly
    the minhash_lsh_candidates single (band, band-hash)-keyed shuffle
    and candidate-only verification — never all-pairs. doc ids are
    md5-derived bigints (conv_id is a string); the id->conv_id map
    joins back on the PAIR frame (|pairs| rows), not the corpus."""
    from .ops import minhash_lsh_candidates, ngram_jaccard_pairs

    piece = F.coalesce(F.col("extracted_text"), F.lit(""))
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("turn_idx"), piece.alias("piece")))
    )
    doc = F.array_join(
        F.transform(ordered, lambda s: s.getField("piece")), " ")
    ids = (
        extracted.groupBy("conv_id").agg(doc.alias("text"))
        .select(
            "conv_id", "text",
            F.conv(F.substring(F.md5("conv_id"), 1, 15), 16, 10)
             .cast("bigint").alias("doc_id"),
        )
    )
    docs = ids.select("doc_id", "text")
    cands = minhash_lsh_candidates(docs, num_hashes, bands, shingle_n)
    pairs = ngram_jaccard_pairs(docs, shingle_n, threshold,
                                candidates=cands)
    a = ids.select(F.col("doc_id").alias("doc_a"),
                   F.col("conv_id").alias("ca"))
    b = ids.select(F.col("doc_id").alias("doc_b"),
                   F.col("conv_id").alias("cb"))
    return (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .select(
            F.least("ca", "cb").alias("conv_a"),
            F.greatest("ca", "cb").alias("conv_b"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


def sft_corpus(extracted: DataFrame, budget_tokens: int = 128,
               max_parse_errors: int = 8) -> DataFrame:
    """End-to-end SFT corpus preparation over extracted transcripts —
    the transcript-native analogue of the documents-side curate_corpus
    DAG: (1) conversation-level quality gate (>= 2 turns, at least one
    assistant turn, total parse errors under budget), (2) context-
    window trim to the most recent turns fitting `budget_tokens`
    (context_window_trim's reverse running-sum rule), (3) ChatML
    render of the surviving turns (render_chatml's exact piece
    format). One frame out: conv_id, kept-turn count, token count,
    and the training document.

    Scale shape: every stage keys by conv_id — the stats aggregate,
    the eligibility semi-join, the trim window, and the render
    aggregate reuse ONE hash partitioning; nothing shuffles twice and
    nothing leaves the JVM. The composed DAG is what a spark-submit
    training-prep job runs nightly at 100 TB; each stage is also a
    standalone oracle-gated operator."""
    n_tok = F.size(F.split(F.coalesce(F.col("extracted_text"),
                                      F.lit("")), " ")).cast("bigint")
    stats = extracted.groupBy("conv_id").agg(
        F.count("*").alias("_n_turns"),
        F.sum("parse_errors").alias("_errs"),
        F.max((F.col("role") == "assistant").cast("int")).alias("_asst"),
    )
    eligible = stats.where(
        (F.col("_n_turns") >= 2)
        & (F.col("_errs") <= max_parse_errors)
        & (F.col("_asst") == 1)
    ).select("conv_id")
    w = (Window.partitionBy("conv_id").orderBy(F.desc("turn_idx"))
         .rowsBetween(Window.unboundedPreceding, 0))
    kept = (
        extracted.join(eligible, "conv_id", "left_semi")
        .withColumn("_tail_cum", F.sum(n_tok).over(w))
        .where(F.col("_tail_cum") <= budget_tokens)
    )
    piece = F.concat(
        F.lit("<|im_start|>"), F.col("role"), F.lit("\n"),
        F.coalesce(F.col("extracted_text"), F.lit("")),
        F.lit("<|im_end|>"),
    )
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("turn_idx"), piece.alias("piece")))
    )
    doc = F.array_join(
        F.transform(ordered, lambda s: s.getField("piece")), "\n")
    return (
        kept.groupBy("conv_id")
        .agg(
            F.count("*").cast("bigint").alias("n_turns_kept"),
            F.sum(n_tok).cast("bigint").alias("n_tokens"),
            doc.alias("chatml"),
        )
    )


def extract_links(df: DataFrame, mode: str = "fragment",
                  context: str = "div") -> DataFrame:
    """Anchor/link extraction over the transcripts frame: one row per
    <a href> in each turn — (conv_id, turn_idx, link_idx, href,
    anchor_text), link_idx in document order.  The raw material of a
    link graph (host-level quality signals, PageRank-style scoring,
    crawl frontier mining).

    Scale shape: one narrow Arrow stage over the same single scan the
    extraction kernel uses (variable fan-out inside the batch, no
    explode/join), keys ride through the kernel — nothing re-reads the
    source."""
    return map_rows(df, ["text"], ["conv_id", "turn_idx"], LINK_FIELDS,
                    links_row(mode, context))


def link_stats(links: DataFrame) -> DataFrame:
    """Per-target link popularity (inbound-degree signal — the crawl-
    frontier / quality side of a link graph): for every distinct href,
    its URI scheme ('' = relative), total references, and distinct
    source turns.  One partial-aggregating shuffle keyed by href; the
    scheme regex is shared verbatim with the DuckDB oracle (Java and
    RE2 compatible)."""
    scheme = F.regexp_extract(F.col("href"),
                              "^([a-z][a-z0-9+.-]*):", 1)
    return (
        links.groupBy("href").agg(
            F.min(scheme).alias("scheme"),  # constant per group
            F.count("*").cast("bigint").alias("n_links"),
            F.countDistinct(
                F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))
            ).cast("bigint").alias("n_source_turns"),
        )
    )
