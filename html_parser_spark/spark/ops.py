"""Training-data pipeline operators over the documents/embeddings tables.

Design rule: everything here is JVM-side built-ins (whole-stage
codegen). The one Python UDF is the ANN family's fold kernel (a numpy
pandas_udf whose doubles are bit-equal to the JVM folds). Every
operator that ANSI SQL can express has a DuckDB oracle in
__spark_entry__.py; the seeded-hash operators (minhash/simhash/ann-lsh)
are gated by property tests plus pinned deterministic-snapshot
oracles.

Core operators (COVERAGE.md lists all of them with their oracles):
  exact dedup        — md5-groupBy, keep min doc_id            [SQL oracle]
  ngram shingles     — 3-word shingles via transform/sequence  [SQL oracle]
  minhash-LSH        — k minhashes from xxhash64, banded       [snapshot]
  simhash            — 64-bit bit-voting, codegen'd xxhash64   [snapshot]
  ngram-jaccard      — exact jaccard over LSH candidate pairs  [SQL oracle]
  token stats        — counts/lengths                          [SQL oracle]
  quality score      — length/punct/stopword ratios            [SQL oracle]
  lang id            — stopword-hit heuristic                  [SQL oracle]
  fingerprint        — md5 of ws-normalized lowercased text    [SQL oracle]
  ANN brute force    — cosine top-k via the fold kernel        [SQL oracle]
  ANN LSH            — in-plan seeded hyperplanes, multi-table [snapshot]
  embedding near-dup — LSH-bucketed cosine pairs >= threshold  [SQL oracle]

Word grams have one home. Every gram operator reads `_words`, its
input spread with split(text, ' ') projected once as `w`, and builds
grams with `_grams` (n element_at reads per window position). Two
short-document policies sit over that expression, each mirrored by
the oracles: `_word_ngrams` yields no gram below n words (repetition,
passage, source-overlap, diversity and collocation operators), and
`_shingles` makes the whole text the one shingle (word_shingles,
shingle_hashes and the MinHash/Jaccard family over it, both
decontamination operators). Those two share the benchmark carve
`_bench_carve`; dup_passages and strip_dup_passages share the
"gram occurs in >= 2 documents" rule `_dup_gram_keys`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


_SPREAD_CACHE: dict = {}  # (app id, file set or plan hash) -> splits


def _scan_splits(df: DataFrame) -> int:
    """Partition count of `df`'s scan. The TRUE count forces a
    physical-planning pass (~0.4s of driver time), so it is memoized
    per file set and repeated query builds over the same table pay it
    once. File count alone is NOT a valid proxy: a few large
    splittable files already scan as many partitions, and
    repartitioning those would shuffle the whole input for nothing."""
    sc = df.sparkSession.sparkContext
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:  # pragma: no cover — exotic sources
        files = ()
    # applicationId (not id(sc)) keys the cache: object ids recycle
    # across context restarts and would serve stale counts. In-memory
    # relations (no files) key on the canonicalized-plan hash instead
    # of bypassing the cache entirely.
    if files:
        key = (sc.applicationId, files)
    else:
        try:
            key = (sc.applicationId,
                   df._jdf.queryExecution().logical().semanticHash())
        except Exception:  # pragma: no cover
            key = None
    n_splits = _SPREAD_CACHE.get(key) if key is not None else None
    if n_splits is None:
        n_splits = df.rdd.getNumPartitions()
        if key is not None:
            if len(_SPREAD_CACHE) > 256:  # bound: tiny, rarely hit
                _SPREAD_CACHE.clear()
            _SPREAD_CACHE[key] = n_splits
    return n_splits


def _spread(df: DataFrame) -> DataFrame:
    """Spread compute-heavy per-row work across all cores when the scan
    produced fewer partitions than the cluster has slots (tiny-file /
    single-row-group inputs read as ONE task, serializing everything
    above them). Shingle/hash/vector construction here is CPU-bound per
    row, not byte-bound, so one round-robin pass over the (small
    relative to the compute) raw rows unlocks full parallelism. At
    production scale with well-sized input splits the partition count
    already exceeds defaultParallelism and this is a no-op — no extra
    shuffle appears in the 100 TB plan."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if _scan_splits(df) < target:
        return df.repartition(target)
    return df


def _spread_by(df: DataFrame, *keys: str) -> DataFrame:
    """Keyed variant of _spread for consumers that NEED a hash
    distribution on `keys` next (windows, keyed aggregations): when
    the scan produced fewer partitions than the cluster has slots,
    hash-repartition on the keys — the downstream window then adds NO
    second exchange (the distribution already satisfies its
    requirement) and its sort runs on every core instead of inside
    the scan task. When the scan is already wide (production split
    sizes) this is a no-op, preserving the pre-shuffle
    WindowGroupLimit prune plan, which shuffles strictly fewer bytes
    — so the trade only ever fires where the serial sort is the
    bottleneck. Keyed repartition also skips the local
    sort-before-repartition a keyless round-robin pays (guide §2.5),
    which is why _spread itself measured WORSE on window consumers."""
    if _scan_splits(df) < df.sparkSession.sparkContext.defaultParallelism:
        return df.repartition(*[F.col(k) for k in keys])
    return df


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact duplicate groups by md5(text): canonical doc + dup count."""
    return (
        documents.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _words(documents: DataFrame, *cols) -> DataFrame:
    """`_spread(documents)` with `cols` plus the word split
    `split(text, ' ')` projected once as the column `w` — the base of
    every word-gram operator.

    The split MUST be a projected column, never an inline expression:
    the gram builders read `w` n times per position, and referencing a
    real column from several non-cheap expressions keeps
    CollapseProject from re-inlining the split into every use. Inlined,
    split() re-evaluates per ELEMENT inside the interpreted
    higher-order function (r8: that form measured 1.6x slower than a
    slice() per position; the projected form is 2.6x faster, 1.13s ->
    0.44s for shingle_hashes at sf1.0, byte-identical hashes)."""
    return _spread(documents).select(
        *cols, F.split(F.col("text"), " ").alias("w"))


def _grams(w, n: int, gram=lambda g: g):
    """`gram(...)` of every n-word window of the projected word array
    `w`, in position order: transform(sequence(0, size(w) - n), i ->
    concat_ws(' ', element_at(w, i+1), ..., element_at(w, i+n))) — n
    element_at reads per position, no slice() array allocation.
    Defined only for size(w) >= n: both short-document policies below
    guard it."""
    return F.transform(
        F.sequence(F.lit(0), F.size(w) - n),
        lambda i: gram(F.concat_ws(
            " ", *[F.element_at(w, i + (k + 1)) for k in range(n)])),
    )


def _word_ngrams(w, n: int):
    """Non-distinct n-gram list; EMPTY below n words, so repetition,
    passage, overlap and diversity metrics count no gram there
    (mirrored in their SQL oracles)."""
    return F.when(F.size(w) >= n, _grams(w, n)).otherwise(
        F.array().cast("array<string>"))


def _shingles(w, n: int, gram=lambda g: g):
    """Distinct n-word shingles, each passed through `gram`; below n
    words the whole text is the one shingle (the oracles' _SH_CTE)."""
    return F.when(
        F.size(w) >= n, F.array_distinct(_grams(w, n, gram))
    ).otherwise(F.array(gram(F.concat_ws(" ", w))))


def word_shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """doc_id + array of n-word shingles (distinct), JVM-side only."""
    return _words(documents, "doc_id").select(
        "doc_id", _shingles(F.col("w"), n).alias("shingles"))


def shingle_hashes(documents: DataFrame, n: int = 3) -> DataFrame:
    """doc_id + array of DISTINCT xxhash64(n-word-shingle) longs.

    Hashing INSIDE the array transform (before explode) is ~6x faster
    than exploding shingle strings and hashing after: the Generate node
    then copies 8-byte longs per output row instead of re-buffering
    every shingle's string bytes, and array_distinct compares longs,
    not strings."""
    return _words(documents, "doc_id").select(
        "doc_id", _shingles(F.col("w"), n, F.xxhash64).alias("sh_hashes"))


def shingle_stats(documents: DataFrame, n: int = 3) -> DataFrame:
    """Distinct n-gram shingle count per document (SQL-oracled)."""
    sh = shingle_hashes(documents, n)
    return sh.select(
        "doc_id", F.size("sh_hashes").cast("int").alias("n_shingles")
    )


def minhash_signatures(documents: DataFrame, num_hashes: int = 32,
                       shingle_n: int = 3) -> DataFrame:
    """MinHash signature per doc, ZERO-shuffle at scale: hash shingles
    in-array (shingle_hashes) -> k per-row
    array_min(transform(sh_hashes, h -> xxhash64(h, k))) columns over
    the PROJECTED hash array. The variable-length string hashing cost
    is paid once, not k times (the transforms read the materialized
    `sh_hashes` column, never re-derive shingles), and the rehash is
    overflow-free under ANSI mode.

    r8 shape: the r7 form exploded the hash array and ran k min()
    aggregates — a full (doc_id)-keyed Exchange whose only purpose
    was reassembling rows the map side already had intact. The
    per-row form produces the same 32 minima (same value set per doc;
    collected-signature equality verified) as a pure projection:
    signatures are now computed where the shingles are, and the first
    shuffle in the whole LSH pipeline is the band-bucket groupBy.
    SQL-string exprs: one parse each instead of ~4 py4j round trips
    per column (driver-side build time, not executor time).

    Precondition: doc_id is unique. The signature is computed per
    input row, so a duplicated doc_id yields one signature row per
    duplicate; deduplicate upstream (e.g. dropDuplicates("doc_id"))
    when the input does not guarantee it."""
    sh = shingle_hashes(documents, shingle_n)
    mins = ", ".join(
        f"array_min(transform(sh_hashes, h -> xxhash64(h, {k})))"
        for k in range(num_hashes)
    )
    return sh.select(
        "doc_id", F.expr(f"array({mins})").alias("signature"))


def minhash_lsh_candidates(documents: DataFrame, num_hashes: int = 32,
                           bands: int = 8, shingle_n: int = 3,
                           max_bucket: int | None = 1024,
                           with_dropped: bool = False):
    """Banded LSH: docs sharing any band bucket become candidate pairs.
    Scale path: the band explode + groupBy is a single shuffle keyed by
    (band_id, band_hash); no pairwise cross join ever materializes.

    max_bucket bounds the quadratic blowup of degenerate buckets: after
    exact dedup, large boilerplate clusters (near-identical but not
    byte-equal documents) can land thousands-to-millions of docs in ONE
    (band_id, band_hash) bucket, and the self-join then emits
    width^2/2 pairs from it — at 100 TB a single hot bucket dominates
    the stage. Buckets wider than max_bucket are CHAINED instead of
    pairwise-joined: their members, ordered by doc_id, emit the
    stride-1 AND stride-2 links (2*width-3 pairs). For the boilerplate
    clusters that create such buckets the links verify (members are
    near-identical), so connected-components still collapses the whole
    cluster to one representative — dedup semantics survive, the cost
    drops from O(width^2) to O(width), and nothing silently escapes
    curation; the stride-2 links keep the cluster connected even when
    an isolated member fails jaccard verification on one side.

    When is chaining lossy? Only if two genuinely-similar docs meet
    EXCLUSIVELY in over-wide buckets and the chain links between them
    fail verification. With rows_per_band >= 2 (both defaults: 32/8
    and 32/16 give 4 and 2), a band-hash collision between DISSIMILAR
    docs is a ~2^-64(+) per-pair event — a 1024-wide bucket of docs
    that aren't near-identical means shingle-degenerate content (e.g.
    documents shorter than the shingle window, whose one-element
    shingle fallback collides); for those, jaccard verification would
    have rejected the uncapped width^2/2 candidates anyway, so the cap
    only removes wasted verifier work. Set max_bucket=None to disable.
    With with_dropped=True returns (pairs, chained) where chained is
    one accounting row per chained bucket: (band_id, band_hash,
    bucket_width) — empty (not None) when the cap is disabled or
    nothing was chained.

    r8 physical shape (same pair set, verified member-for-member):
    buckets are ONE sorted members array per (band_id, band_hash) —
    collect_list + sort_array off the single banded shuffle — and both
    pair generators read that array: all-pairs emission is posexplode
    + a per-anchor tail slice (peak memory O(width) per row, streamed
    through two Generate nodes — no width^2 array ever materializes),
    chains take member (i-1, i) and (i-2, i). This replaces the
    banded-frame SELF-JOIN + width window of r7 — one aggregation
    instead of window-sort + join build (the window sorted the full
    banded frame; the join broadcast-built it a second time):
    1.39s -> 1.06s for the registered 32/8 query at sf1.0. Width-1
    buckets (the overwhelming majority) are filtered before any pair
    expression runs. Aggregating members per bucket buffers exactly
    the rows the r7 window already buffered per partition, so the
    memory profile at 100 TB is unchanged; the uncapped
    (max_bucket=None, test-only) path is also O(width) per row.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(documents, num_hashes, shingle_n)

    def band_struct(b):
        cols = ", ".join(
            f"cast(element_at(signature, {b * rows_per_band + r + 1})"
            " as string)"
            for r in range(rows_per_band)
        )
        return (f"struct({b} AS band_id, "
                f"xxhash64(concat_ws(',', {cols})) AS band_hash)")

    bands_expr = ", ".join(band_struct(b) for b in range(bands))
    banded = sigs.select(
        "doc_id",
        F.explode(F.expr(f"array({bands_expr})")).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")

    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("members"))
        .where(F.size("members") >= 2)
    )
    if max_bucket is None:
        small, wide = buckets, None
    else:
        small = buckets.where(F.size("members") <= max_bucket)
        wide = buckets.where(F.size("members") > max_bucket)

    # all ordered pairs of a sorted array: anchor i pairs with the
    # strict tail — two Generate nodes, never a width^2 intermediate
    pairs = (
        small.select("members",
                     F.posexplode("members").alias("i", "doc_a"))
        .select(
            "doc_a",
            F.explode(F.expr(
                "slice(members, i + 2, size(members) - i - 1)"
            )).alias("doc_b"),
        )
    )

    chained = None
    if wide is not None:
        if with_dropped:
            chained = wide.select(
                "band_id", "band_hash",
                F.size("members").cast("bigint").alias("bucket_width"))
        # stride-1 + stride-2 chain: 2*width-3 pairs keep the bucket
        # connected for the components pass at O(width) cost, and
        # survive any single member failing verification
        chain_pairs = wide.select(F.explode(F.expr(
            "filter(flatten(transform(members, (b, i) -> array("
            "IF(i >= 1, struct(element_at(members, i) AS doc_a,"
            " b AS doc_b), NULL),"
            "IF(i >= 2, struct(element_at(members, i - 1) AS doc_a,"
            " b AS doc_b), NULL)))), x -> x IS NOT NULL)"
        )).alias("p")).select("p.doc_a", "p.doc_b")
        pairs = pairs.unionByName(chain_pairs)
    pairs = pairs.distinct()
    if with_dropped:
        if chained is None:  # cap disabled: empty frame, same schema
            chained = documents.sparkSession.createDataFrame(
                [], "band_id int, band_hash bigint, bucket_width bigint")
        return pairs, chained
    return pairs


def ngram_jaccard_pairs(documents: DataFrame, shingle_n: int = 3,
                        threshold: float = 0.8, *,
                        candidates: DataFrame) -> DataFrame:
    """Exact jaccard over shingle sets (hashed: intersect/union over
    xxhash64 longs — same values as string sets modulo 64-bit hash
    collisions, at a fraction of the compare/copy cost), verified on
    the `candidates` pairs (doc_a < doc_b, e.g. from
    minhash_lsh_candidates) only — never all pairs."""
    sh = shingle_hashes(documents, shingle_n)
    a = sh.select(F.col("doc_id").alias("doc_a"),
                  F.col("sh_hashes").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"),
                  F.col("sh_hashes").alias("sh_b"))
    joined = candidates.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        joined.select(
            "doc_a", "doc_b",
            (inter / union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash(documents: DataFrame, bits: int = 64) -> DataFrame:
    """64-bit SimHash, fully JVM-side and whole-stage-codegen'd: explode
    tokens -> one xxhash64 per token -> 64 per-bit `sum((h>>b)&1)`
    aggregates (plain expressions, NOT higher-order functions — HOFs
    are interpreted in Spark and benchmarked ~7x slower here) -> final
    majority vote (2*ones > n) recombining bits with
    shiftleft/bitwise-OR (never an arithmetic sum, so ANSI overflow
    checking can't fire on bit 63). Same partial-agg shuffle shape as
    minhash_signatures: map-side combine reduces the explode to one
    64-column row per doc per task before the single doc_id shuffle.
    Empty/whitespace-only text -> fingerprint 0 (explode_outer keeps
    those docs as a single NULL-token row; null-skipping aggregates
    make every vote fail, so all bits stay 0 — one shuffle total)."""
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    rows = _spread(documents).select(
        "doc_id", F.explode_outer(toks).alias("tok")
    ).select(
        "doc_id",
        F.when(F.col("tok").isNotNull(), F.xxhash64("tok")).alias("h"),
    )
    # expressions as SQL strings: the Column-builder form costs one
    # py4j round trip per F.* call (~700 for 64 bits -> seconds of
    # DRIVER time per query build); each expr() is a single parse and
    # produces the identical Catalyst tree (snapshot-oracle-verified).
    #
    # PACKED bit counters: each SUM carries TWO counters in one
    # bigint — bit b in the low 32-bit field, bit b+half in the high
    # field — halving the aggregate count (and its per-agg buffer +
    # codegen-update overhead). EXACT for any representable document:
    # per-doc token count n < 2^31 (a Spark string caps at 2 GB, so
    # even one-char tokens can't reach 2^31), hence the low field
    # never carries into the high one (needs n >= 2^32) and the high
    # field's sum n * 2^32 stays below the 2^63 ANSI overflow line.
    # Tighter packings (4 or 8 counters per bigint) would corrupt
    # counts silently past 2^21/2^8 tokens — rejected.
    half = bits // 2
    aggs = [F.expr("count(h) AS n")] + [
        F.expr(
            f"sum((shiftright(h, {b}) & 1) | "
            f"shiftleft(shiftright(h, {b + half}) & 1, 32)) AS p_{b}"
        )
        for b in range(half)
    ]
    if bits % 2:  # odd bit count: top bit gets its own unpacked sum
        aggs.append(F.expr(
            f"sum(shiftright(h, {bits - 1}) & 1) AS odd_top"))
    fp_terms = [
        f"(CASE WHEN 2 * (p_{b} & 4294967295) > n THEN "
        f"shiftleft(CAST(1 AS BIGINT), {b}) ELSE CAST(0 AS BIGINT) END)"
        f" | (CASE WHEN 2 * shiftright(p_{b}, 32) > n THEN "
        f"shiftleft(CAST(1 AS BIGINT), {b + half}) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for b in range(half)
    ]
    if bits % 2:
        fp_terms.append(
            f"(CASE WHEN 2 * odd_top > n THEN "
            f"shiftleft(CAST(1 AS BIGINT), {bits - 1}) "
            f"ELSE CAST(0 AS BIGINT) END)")
    voted = rows.groupBy("doc_id").agg(*aggs)
    return voted.select(
        "doc_id", F.expr(" | ".join(fp_terms)).alias("simhash"))


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "de", "et", "un"],
    "de": ["der", "die", "das", "und", "zu"],
    "zh": ["的", "是", "不", "了", "在"],
}


def _word_hits(col, words):
    """Count of tokens equal to any of `words` (token-exact, not
    substring) — expressible identically in Spark and ANSI SQL."""
    toks = F.split(col, " ")
    return F.size(
        F.filter(toks, lambda t: t.isin(*[F.lit(w) for w in words]))
    )


def token_stats(documents: DataFrame) -> DataFrame:
    """Whitespace token count, char count, distinct-token count,
    avg token length (SQL-oracled)."""
    toks = F.split(F.col("text"), " ")
    # split + array_distinct per row is CPU-bound: _spread unlocks all
    # cores on single-row-group inputs (r8: 0.46s -> 0.25s at sf1.0)
    return _spread(documents).select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        F.length("text").cast("int").alias("n_chars"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_distinct_tokens"),
    )


def pack_sequences(documents: DataFrame, budget_tokens: int = 512,
                   buckets: int = 8) -> DataFrame:
    """Sequence packing for training-data assembly: documents are
    concatenated in deterministic (doc_id) order within hash-assigned
    buckets and split into fixed token-budget sequences; a document
    can span a boundary (the packed-attention style — consumers mask
    across the cut). Returns per-doc placement:
    (doc_id, bucket, n_tokens, seq_id, seq_offset).

    Scale shape: NO global sort — the bucket column partitions the
    one window (running token cumsum), so at 100 TB this is one keyed
    shuffle like any other per-key window; sequences are globally
    addressable as (bucket, seq_id). Whitespace token counts keep it
    SQL-exact; swap in bpe_token_count for byte-accurate budgets."""
    from pyspark.sql import Window

    n_tokens = F.size(F.split(F.col("text"), " "))
    w = (Window.partitionBy("bucket").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    return (
        documents.select(
            "doc_id",
            F.pmod(F.col("doc_id"), F.lit(buckets)).cast("int")
            .alias("bucket"),
            n_tokens.cast("bigint").alias("n_tokens"),
        )
        .withColumn(
            "start_offset",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .select(
            "doc_id", "bucket",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.floor(F.col("start_offset") / F.lit(float(budget_tokens)))
            .cast("int").alias("seq_id"),
            F.pmod(F.col("start_offset"), F.lit(budget_tokens))
            .cast("int").alias("seq_offset"),
        )
    )


def lang_balanced_sample(documents: DataFrame,
                         per_lang: int = 20) -> DataFrame:
    """Deterministic per-language sample: the per_lang smallest
    doc_ids of every lang — the balanced-mix builder for training
    blends (and the shape of any 'N examples per stratum' debugging
    pull). One window shuffle keyed by lang; doc_id order makes it
    reproducible run-to-run with no RNG state to carry."""
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        documents.select("doc_id", "lang", "source")
        .withColumn("rank_in_lang",
                    F.row_number().over(w).cast("int"))
        .where(F.col("rank_in_lang") <= per_lang)
    )


def repetition_scores(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", appendix A1.1 — public
    paper; also used by RefinedWeb/Dolma): repeated-token mass,
    duplicate n-gram fraction, duplicate-line fraction + the character
    mass of repeated lines, and the character fraction covered by the
    most frequent word bigram. High values flag boilerplate/spam-like
    documents for the curation gate.

    Scale shape: every metric except the top-bigram is a PER-ROW
    higher-order-function expression (no shuffle, whole-stage
    codegen). The top-bigram needs a per-(doc, gram) count: explode →
    two-stage hash aggregate on (doc_id, gram) → one doc_id window —
    keyed shuffles only, partial aggregation applies, no driver
    participation; the final join back to the per-row frame is a
    doc_id equi-join (AQE picks broadcast when one side is small).
    Deterministic tie-break: highest count, then lexicographically
    LAST gram — identical ORDER BY in the DuckDB oracle."""
    from pyspark.sql import Window

    # r8: one _spread'd base projects split() results ONCE as real
    # columns (w, lines) and even the n-gram LIST once (ng) — the
    # r7 form inlined every split into each HOF metric on the
    # UNSPREAD scan, which serialized ~1.5ms/doc of interpreted
    # expression work on one task (73s at sf1.0 -> ~2s). All metrics
    # are per-row integer ratios rounded at 6dp, so values are
    # partitioning-independent (oracle-verified).
    base = _words(
        documents, "doc_id", F.length("text").alias("_chars"),
        F.split(F.col("text"), "\n").alias("lines"),
    ).select(
        "doc_id", "_chars", "w", "lines",
        _word_ngrams(F.col("w"), 3).alias("ng"),
    )
    w_col = F.col("w")
    lines = F.col("lines")
    ng = F.col("ng")
    n_toks = F.size(w_col)
    n_lines = F.size(lines)
    line_chars = F.aggregate(
        lines, F.lit(0), lambda acc, x: acc + F.length(x))
    uniq_line_chars = F.aggregate(
        F.array_distinct(lines), F.lit(0), lambda acc, x: acc + F.length(x))

    per_row = base.select(
        "doc_id",
        "_chars",
        F.round(
            (n_toks - F.size(F.array_distinct(w_col)))
            / F.greatest(n_toks, F.lit(1)).cast("double"), 6)
        .alias("dup_word_frac"),
        F.round(
            F.when(
                F.size(ng) > 0,
                (F.size(ng) - F.size(F.array_distinct(ng)))
                / F.size(ng).cast("double"),
            ).otherwise(F.lit(0.0)), 6)
        .alias("dup_trigram_frac"),
        F.round(
            (n_lines - F.size(F.array_distinct(lines)))
            / F.greatest(n_lines, F.lit(1)).cast("double"), 6)
        .alias("dup_line_frac"),
        F.round(
            (line_chars - uniq_line_chars)
            / F.greatest(line_chars, F.lit(1)).cast("double"), 6)
        .alias("dup_line_char_frac"),
    )

    grams = (
        base
        .select("doc_id",
                F.explode(_word_ngrams(F.col("w"), 2)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("cnt"), F.desc("gram"))
    top = (
        grams.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("doc_id", F.col("gram").alias("top_bigram"),
                F.col("cnt").alias("top_bigram_count"))
    )
    return (
        per_row.join(top, "doc_id", "left")
        .select(
            "doc_id", "dup_word_frac", "dup_trigram_frac",
            "dup_line_frac", "dup_line_char_frac", "top_bigram",
            F.coalesce("top_bigram_count", F.lit(0)).cast("int")
            .alias("top_bigram_count"),
            F.round(
                F.coalesce(
                    F.col("top_bigram_count")
                    * F.length("top_bigram"), F.lit(0))
                / F.greatest(F.col("_chars"), F.lit(1)).cast("double"), 6)
            .alias("top_bigram_char_frac"),
        )
    )


def _bench_carve(documents: DataFrame, n: int, bench_mod: int,
                 bench_rem: int) -> DataFrame:
    """(doc_id, _bench, gram): each document's distinct n-word shingles
    exploded, with `_bench` marking the deterministic benchmark carve
    doc_id % bench_mod == bench_rem — the input of both
    decontamination operators."""
    is_bench = F.pmod(F.col("doc_id"), F.lit(bench_mod)) == bench_rem
    return _words(documents, "doc_id", is_bench.alias("_bench")).select(
        "doc_id", "_bench",
        F.explode(_shingles(F.col("w"), n)).alias("gram"))


def decontaminate(documents: DataFrame, n: int = 5, bench_mod: int = 10,
                  bench_rem: int = 7) -> DataFrame:
    """Benchmark decontamination: per-document fraction of distinct
    word n-grams that also appear in a held-out benchmark set — the
    GPT-3/PaLM-style n-gram-collision check that keeps eval data out
    of a training corpus (public methodology; Brown et al. 2020
    appendix C). The benchmark here is carved deterministically from
    the same table (doc_id % bench_mod == bench_rem) so the operator
    is self-contained and SQL-oracled; in production the benchmark
    side is the eval suites' text.

    Scale shape: the corpus side is an exploded distinct-gram frame
    (one generate + one (doc_id, gram) aggregate — keyed shuffles with
    partial aggregation). The benchmark gram set is SMALL by nature
    (eval suites, not the corpus), so it is broadcast: the membership
    probe costs no shuffle of the corpus grams beyond the per-doc
    count aggregate. Every corpus document comes back (zero-hit docs
    included) so the output is a total annotation, not a filter."""
    exploded = _bench_carve(documents, n, bench_mod, bench_rem)
    bench_grams = (
        exploded.where(F.col("_bench")).select("gram").distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus = exploded.where(~F.col("_bench"))
    return (
        corpus.join(F.broadcast(bench_grams), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_grams"),
            F.count("_hit").cast("int").alias("n_hits"),
        )
        .select(
            "doc_id", "n_grams", "n_hits",
            F.round(
                F.col("n_hits")
                / F.col("n_grams").cast("double"), 6)
            .alias("contamination_frac"),
            (F.col("n_hits") / F.col("n_grams").cast("double")
             >= 0.2).alias("is_contaminated"),
        )
    )


def bloom_decontaminate(documents: DataFrame, n: int = 5,
                        bench_mod: int = 10,
                        bench_rem: int = 7) -> DataFrame:
    """Bloom-filter pre-screen for benchmark decontamination, audited
    against the exact n-gram check: the benchmark grams compress into
    a 65,536-bit Bloom set (md5 positions, 3 hash rows) and corpus grams
    probe it — a gram 'hits' iff ALL k of its positions are set. The
    classic pushdown at 100 TB: you broadcast 65,536 BITS instead
    of the full benchmark gram set, drop the (vast) clean majority
    cheaply, and run the exact check only on flagged survivors. Bloom
    error is ONE-SIDED (no false negatives) — proven per document by
    emitting the exact hit count next to the bloom hit count, with
    n_false_positives = bloom - exact always >= 0.

    Scale shape: same carve + distinct-gram explode as decontaminate;
    the bloom position frame (<= 65,536 rows) and the exact benchmark
    gram set both broadcast; the k-position probe is a per-gram
    explode of 3. All md5 integer arithmetic — engine-exact."""
    exploded = _bench_carve(documents, n, bench_mod, bench_rem)

    def pos(r: int):
        return (
            F.conv(F.substring(F.md5(F.concat_ws(
                "|", F.col("gram"), F.lit(f"bloom7{r}"))), 1, 8),
                16, 10).cast("bigint") % 65536
        )

    bench = exploded.where(F.col("_bench"))
    bloom_bits = None
    for r in range(3):
        b = bench.select(pos(r).alias("bit"))
        bloom_bits = b if bloom_bits is None else bloom_bits.unionByName(b)
    bloom_bits = bloom_bits.distinct().withColumn("_set", F.lit(1))
    bench_grams = bench.select("gram").distinct().withColumn(
        "_exact", F.lit(1))

    corpus = exploded.where(~F.col("_bench")).select("doc_id", "gram")
    probed = (
        corpus
        .select("doc_id", "gram",
                F.explode(F.array(
                    *[pos(r) for r in range(3)])).alias("bit"))
        .join(F.broadcast(bloom_bits), "bit", "left")
        .groupBy("doc_id", "gram")
        .agg(F.min(F.coalesce(F.col("_set"), F.lit(0))).alias("_all"))
    )
    gram_level = probed.join(F.broadcast(bench_grams), "gram", "left")
    return (
        gram_level.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum("_all").cast("bigint").alias("n_bloom_hits"),
            F.sum(F.coalesce(F.col("_exact"), F.lit(0)))
             .cast("bigint").alias("n_exact_hits"),
        )
        .select(
            "doc_id", "n_grams", "n_bloom_hits", "n_exact_hits",
            (F.col("n_bloom_hits") - F.col("n_exact_hits"))
            .cast("bigint").alias("n_false_positives"),
        )
    )


def tfidf_top_terms(documents: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k characteristic terms by a smoothed
    TF-rarity score: tf * (N + 1) / (df + 1). The weight is
    monotone-decreasing in document frequency like add-one-smoothed
    IDF, but stays in RATIONAL arithmetic — integer products and one
    IEEE double division, which is correctly-rounded and therefore
    bit-identical between the JVM and DuckDB — instead of libm log,
    whose last-ulp differences across engines could flip a rank at a
    tie boundary. Ties break on the term string ascending.

    Scale shape: one (doc_id, term) count aggregate, one (term)
    document-frequency aggregate, a keyed equi-join on term (AQE
    picks the strategy; the vocabulary side is Zipf-small after
    aggregation), and one doc_id window for the top-k — all partial-
    agg-friendly, no driver participation except the one scalar
    corpus count (bounded action, same pattern as the k-means
    stats)."""
    from pyspark.sql import Window

    n_docs = documents.count()
    terms = (
        _spread(documents)
        .select("doc_id",
                F.explode(F.split(F.col("text"), " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("int").alias("tf"))
    )
    dfreq = terms.groupBy("term").agg(
        F.count("*").cast("int").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term"))
    return (
        terms.join(dfreq, "term")
        .withColumn("score",
                    F.col("tf") * F.lit(n_docs + 1) / (F.col("df") + 1))
        .withColumn("term_rank", F.row_number().over(w).cast("int"))
        .where(F.col("term_rank") <= k)
        .select("doc_id", "term", "tf", "df",
                F.round("score", 6).alias("tfidf"), "term_rank")
    )


def _dup_gram_keys(doc_grams: DataFrame) -> DataFrame:
    """(gkey, doc_freq) for every gram key that occurs in at least two
    documents; `doc_grams` holds one row per distinct (gkey, doc_id)."""
    return (
        doc_grams.groupBy("gkey")
        .agg(F.count("*").alias("doc_freq"))
        .where(F.col("doc_freq") >= 2)
    )


def dup_passages(documents: DataFrame, n: int = 8) -> DataFrame:
    """Exact duplicated-passage annotation (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" —
    public paper; the ExactSubstr signal): for every document, the
    fraction of its word n-gram POSITIONS whose n-gram also occurs in
    at least one OTHER document. Position coverage approximates the
    character mass a suffix-array dedup would remove; documents above
    ~0.5 are near-verbatim reprints that exact-hash dedup misses
    (differing headers/footers) and MinHash underweights (long shared
    passages inside otherwise-distinct pages).

    Scale shape: one generate (posexplode of the gram array) → one
    (gram-key, doc) partial-aggregated count → one doc-frequency
    aggregate on the gram key → equi-join back → one doc_id aggregate.
    All shuffles are keyed, no driver participation, no window over
    the corpus. The join/aggregation key is md5(gram), NOT the gram
    text, so shuffle width is a constant 32 bytes per row regardless
    of n (at 100 TB swap in xxhash64 for an 8-byte key — md5 here
    because DuckDB computes the identical digest for the oracle).
    Sub-n-token documents have zero positions and report dup_frac 0.

    Output: doc_id, n_positions, n_dup_positions (positions whose gram
    has cross-document frequency >= 2 docs), dup_frac, plus
    n_dup_grams (DISTINCT duplicated grams in the doc)."""
    positions = (
        _words(documents, "doc_id")
        .select("doc_id",
                F.explode(_word_ngrams(F.col("w"), n)).alias("gram"))
        .select("doc_id", F.md5("gram").alias("gkey"))
    )
    # per-(doc, gram) position counts first: the doc-frequency agg then
    # runs over one row per (doc, gram) instead of one per position,
    # and the SAME frame feeds both sides (self-join on the key)
    per_doc_gram = (
        positions.groupBy("gkey", "doc_id")
        .agg(F.count("*").alias("pos_cnt"))
    )
    per_doc = (
        per_doc_gram.join(_dup_gram_keys(per_doc_gram), "gkey", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("pos_cnt").cast("int").alias("n_positions"),
            F.coalesce(
                F.sum(F.when(F.col("doc_freq").isNotNull(),
                             F.col("pos_cnt"))), F.lit(0))
            .cast("int").alias("n_dup_positions"),
            F.count(F.col("doc_freq")).cast("int").alias("n_dup_grams"),
        )
    )
    # total annotation: sub-n-token documents have no gram rows at all,
    # so join back to the id spine and report an explicit zero row
    return (
        documents.select("doc_id").join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_positions", F.lit(0)).cast("int")
            .alias("n_positions"),
            F.coalesce("n_dup_positions", F.lit(0)).cast("int")
            .alias("n_dup_positions"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("int")
            .alias("n_dup_grams"),
            F.coalesce(
                F.round(F.col("n_dup_positions")
                        / F.col("n_positions").cast("double"), 6),
                F.lit(0.0)).alias("dup_frac"),
        )
    )


def pmi_collocations(documents: DataFrame, k: int = 50,
                     min_count: int = 5) -> DataFrame:
    """Corpus-level collocation extraction: top-k word bigrams by a
    PMI-family association score (Church & Hanks 1990 — public
    methodology). Rank score is c(xy)^2 / (c(x) * c(y)) — monotone in
    squared-PMI exp(2*pmi)*c(xy)... up to corpus-size constants, the
    standard frequency-biased variant that suppresses hapax pairs —
    kept in INTEGER products with one IEEE double division (correctly
    rounded, bit-identical between the JVM and DuckDB) instead of libm
    log, whose last-ulp spread could flip adjacent ranks across
    engines (same policy as tfidf_top_terms). Products fit bigint
    comfortably at test scale; at 100 TB cast the counts to double
    first — IEEE multiply is also correctly rounded, so cross-engine
    determinism survives.

    Scale shape: one bigram explode → one gram-count aggregate (bigram
    side), one word explode → one word-count aggregate; the word-count
    frame joins the bigram frame TWICE on each component word. Word
    counts after aggregation are a VOCABULARY-sized frame (small), so
    both joins broadcast; the only big shuffles are the two partial
    aggregates. Final top-k is a single ORDER BY over the >=min_count
    survivors (vocabulary-scale, not corpus-scale)."""
    words = _words(documents)
    # explode_outer: a plain explode of the column `w` infers a
    # size(w) > 0 filter below the spread exchange, so the word side
    # would stop reusing the bigram side's exchange; the one NULL word
    # it keeps for a NULL text joins no bigram
    wc = (words.select(F.explode_outer("w").alias("w"))
          .groupBy("w").agg(F.count("*").alias("wcnt")))
    bigrams = (
        words
        .select(F.explode(_word_ngrams(F.col("w"), 2)).alias("bigram"))
        .groupBy("bigram").agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= min_count)
        .withColumn("w1", F.split(F.col("bigram"), " ")[0])
        .withColumn("w2", F.split(F.col("bigram"), " ")[1])
    )
    scored = (
        bigrams
        .join(F.broadcast(wc.withColumnRenamed("w", "w1")
                          .withColumnRenamed("wcnt", "c1")), "w1")
        .join(F.broadcast(wc.withColumnRenamed("w", "w2")
                          .withColumnRenamed("wcnt", "c2")), "w2")
        .select(
            "bigram", F.col("cnt").cast("int").alias("pair_count"),
            F.col("c1").cast("int").alias("w1_count"),
            F.col("c2").cast("int").alias("w2_count"),
            F.round((F.col("cnt") * F.col("cnt"))
                    / (F.col("c1") * F.col("c2")).cast("double"), 6)
            .alias("assoc"),
        )
    )
    return (
        scored.orderBy(F.desc("assoc"), F.asc("bigram")).limit(k)
        .select("bigram", "pair_count", "w1_count", "w2_count", "assoc")
    )


def split_assign(documents: DataFrame, train_pct: int = 90,
                 val_pct: int = 5, salt: str = "split42") -> DataFrame:
    """Deterministic train/val/test assignment: bucket 0-99 from the
    first 8 hex digits of md5(doc_id | salt), thresholded into
    train / val / test. Pure per-row expression — ZERO shuffles, no
    RNG state, repartition- and rerun-invariant, and changing the
    salt re-rolls the split without touching any other column. The
    identical md5-substring arithmetic runs in the DuckDB oracle
    (('0x' || hex)::BIGINT there, conv(hex, 16, 10) here), so the
    assignment is engine-exact, not just statistically alike."""
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(
                    "|", F.col("doc_id").cast("string"), F.lit(salt))),
                1, 8),
            16, 10)
        .cast("bigint") % 100
    )
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return documents.select(
        "doc_id", "lang",
        bucket.cast("int").alias("bucket"),
        split.alias("split"),
    )


def leakage_check(documents: DataFrame, threshold: float = 0.5,
                  num_hashes: int = 32, bands: int = 16,
                  train_pct: int = 90, val_pct: int = 5,
                  salt: str = "split42") -> DataFrame:
    """Train/eval LEAKAGE audit: near-duplicate pairs that straddle
    the train/val/test assignment — the check that catches an eval
    set contaminated by near-copies of training documents, which
    exact dedup misses and a random split almost guarantees at scale.
    Composes the corpus' own primitives: the shared LSH-candidate +
    exact-Jaccard pair definition (ngram_jaccard/dup_components) and
    the deterministic md5 split (split_assign). One row per
    (split_a, split_b) combination with the pair count and a `leaky`
    flag on cross-split rows; within-split rows stay visible so the
    audit is total over the pair set.

    Scale shape: the pair set comes from the banded-LSH shuffle
    (never all-pairs); the split columns are per-row md5 expressions
    joined onto the PAIR frame (|pairs| rows), not the corpus."""
    cands = minhash_lsh_candidates(documents, num_hashes, bands)
    pairs = ngram_jaccard_pairs(documents, 3, threshold,
                                candidates=cands)
    splits = split_assign(documents, train_pct, val_pct, salt).select(
        "doc_id", "split")
    a = splits.select(F.col("doc_id").alias("doc_a"),
                      F.col("split").alias("sa"))
    b = splits.select(F.col("doc_id").alias("doc_b"),
                      F.col("split").alias("sb"))
    return (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .select("split_a", "split_b", "n_pairs",
                (F.col("split_a") != F.col("split_b")).alias("leaky"))
    )


def chunk_documents(documents: DataFrame, chunk_tokens: int = 48,
                    overlap: int = 16) -> DataFrame:
    """Sliding-window chunking — the pretraining/RAG prep step that
    turns documents into fixed-size overlapping token windows. Words
    are single-space splits (empty tokens from runs of spaces are
    KEPT, matching both engines' split semantics); window i starts at
    word 1 + i*stride with stride = chunk_tokens - overlap, and the
    final window may be short.

    Scale shape: split + sequence + posexplode + slice + array_join
    are all JVM codegen expressions — ONE narrow stage, zero
    shuffles, no Python. Fan-out is bounded by ceil(words/stride)
    rows per document, each carrying only its own slice, so output
    partitioning inherits input partitioning and a 100 TB corpus
    chunks in a single map pass."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    words = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(words), F.lit(1)), F.lit(stride))
    return (
        documents
        .select("doc_id", words.alias("words"),
                F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.array_join(
                F.slice(F.col("words"), F.col("start"), chunk_tokens),
                " ").alias("chunk_text"),
            F.least(
                F.lit(chunk_tokens),
                F.size("words") - F.col("start") + 1,
            ).cast("int").alias("n_tokens"),
        )
    )


def temperature_sample(documents: DataFrame, pct: int = 50) -> DataFrame:
    """Per-language temperature sampling (the mT5/XLM-R balancing
    move) at temperature alpha = 0.5: language l with n_l docs keeps
    each doc with probability min(1, (pct/100) * sqrt(n_max / n_l)),
    so the largest language keeps pct% and rarer languages are
    upsampled toward parity. The keep decision is DETERMINISTIC (an
    md5 bucket like split_assign) and — because alpha = 1/2 — the
    threshold compare runs in INTEGER arithmetic by squaring both
    sides:  bucket^2 * n_l  <  pct^2 * n_max * B^2 / 100^2,  with
    bucket uniform on [0, B). No libm pow anywhere, so the oracle is
    engine-exact, not last-ulp-lucky. (Bounds: with B = 10^4 the
    comparison fits in int64 up to ~9 * 10^6 docs per language;
    production at corpus scale widens the literals to DECIMAL.)

    Scale shape: one partial-agg count on the low-cardinality lang
    key, a broadcast join of that tiny frame back onto the corpus,
    and a pure per-row expression — no corpus-wide shuffle, no RNG
    state, repartition- and rerun-invariant. The n_max window runs
    over the k-language count frame, not the corpus."""
    from pyspark.sql import Window

    counts = documents.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_lang"))
    # global max over the tiny per-language frame (k rows, one task)
    counts = counts.withColumn(
        "n_max", F.max("n_lang").over(
            Window.partitionBy(F.lit(1))))
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(
                    "|", F.col("doc_id").cast("string"), F.lit("temp7"))),
                1, 8),
            16, 10)
        .cast("bigint") % 10000
    )
    return (
        documents.select("doc_id", "lang")
        .join(F.broadcast(counts), "lang")
        .select(
            "doc_id", "lang", "n_lang",
            bucket.cast("int").alias("bucket"),
            # sqrt and / are IEEE correctly-rounded, so the rounded
            # informational rate is also engine-exact
            F.round(
                F.least(
                    F.lit(1.0),
                    (F.lit(pct) / F.lit(100.0))
                    * F.sqrt(F.col("n_max").cast("double")
                             / F.col("n_lang"))),
                6).alias("keep_rate"),
            (bucket * bucket * F.col("n_lang")
             < F.lit(pct * pct) * F.col("n_max") * F.lit(10000))
            .alias("kept"),
        )
    )


def cms_top_terms(documents: DataFrame, width: int = 256,
                  depth: int = 4, k: int = 20) -> DataFrame:
    """Count-Min frequency sketch (Cormode & Muthukrishnan 2005,
    public paper) over corpus tokens, audited against exact counts:
    `depth` md5 hash rows x `width` counters, token estimate = MIN
    over its `depth` counters. The sketch guarantees estimate >=
    exact (one-sided error) and counters merge by ADDITION — the
    bounded-state frequency companion of hll_distinct's cardinality
    sketch: at 100 TB the counter table is depth x width rows no
    matter the corpus, built by one partial-aggregated shuffle.

    Output: the true top-k tokens (count desc, token asc) with exact
    count, CMS estimate, and the overestimate — everything integer
    arithmetic on md5 buckets, so the whole frame is engine-exact."""
    token = F.explode(F.split(F.col("text"), " ")).alias("token")
    toks = _spread(documents).select(token).where(F.col("token") != "")
    counts = toks.groupBy("token").agg(
        F.count("*").cast("bigint").alias("exact_count"))

    def bucket(row: int):
        return (
            F.conv(F.substring(F.md5(F.concat_ws(
                "|", F.col("token"), F.lit(f"cms7{row}"))), 1, 8),
                16, 10).cast("bigint") % width
        ).alias(f"b{row}")

    # counter table: depth x width rows, from the per-token counts
    # (sum of counts per bucket == sum over raw occurrences)
    keyed = counts.select(
        "token", "exact_count", *[bucket(r) for r in range(depth)])
    counters = None
    for r in range(depth):
        c = keyed.groupBy(F.col(f"b{r}").alias("bucket")).agg(
            F.sum("exact_count").cast("bigint").alias("counter")
        ).select(F.lit(r).alias("row"), "bucket", "counter")
        counters = c if counters is None else counters.unionByName(c)
    top = (
        keyed.orderBy(F.desc("exact_count"), F.asc("token")).limit(k)
    )
    est = None
    for r in range(depth):
        j = top.join(
            F.broadcast(counters.where(F.col("row") == r)),
            top[f"b{r}"] == F.col("bucket"),
        ).select("token", "exact_count", "counter")
        est = j if est is None else est.unionByName(j)
    return (
        est.groupBy("token", "exact_count")
        .agg(F.min("counter").cast("bigint").alias("cms_estimate"))
        .select(
            "token", "exact_count", "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count"))
            .cast("bigint").alias("overestimate"),
        )
    )


def weighted_sample(documents: DataFrame, k: int = 50,
                    salt: str = "wsample7") -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis-
    Spirakis exponential-key trick (A-ES, 2006 — public paper): each
    document draws a deterministic md5 uniform u in (0,1] and ranks
    by ln(u)/w (equivalently u^(1/w)); the top-k IS an exact weighted
    sample without replacement. Weights here are n_chars (length-
    proportional sampling — swap in any quality score). No RNG state:
    same salt, same sample, everywhere; changing the salt re-rolls
    the sample without touching anything else (the split_assign
    property for weighted selection).

    Scale shape: pure per-row expressions + top-k, which Catalyst
    compiles to TakeOrderedAndProject — per-partition heaps merged at
    the driver, NO global sort, no shuffle of the corpus. The oracle
    mirrors the arithmetic operation-for-operation (int add -> double
    cast -> divide -> ln -> divide) so both engines produce identical
    IEEE scores."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(
                "|", F.col("doc_id").cast("string"), F.lit(salt))),
            1, 6),
        16, 10).cast("bigint")  # 24 uniform bits
    u = (h + 1).cast("double") / F.lit(16777216.0)
    w = F.greatest(F.col("n_chars").cast("double"), F.lit(1.0))
    score = F.round(F.log(u) / w, 6)
    return (
        documents.select(
            "doc_id", "lang",
            F.col("n_chars").cast("bigint").alias("weight"),
            score.alias("es_score"),
        )
        .orderBy(F.desc("es_score"), F.asc("doc_id"))
        .limit(k)
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Heuristic quality scoring: length band + stopword ratio +
    alpha ratio. Deterministic closed-form (SQL-oracled)."""
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    stop_hits = _word_hits(F.col("text"), _STOPWORDS["en"])
    alpha_chars = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    alpha_ratio = alpha_chars / F.greatest(F.length("text"), F.lit(1))
    stop_ratio = stop_hits / F.greatest(n_tokens, F.lit(1))
    len_score = F.when(
        (F.length("text") >= 100) & (F.length("text") <= 2000), F.lit(1.0)
    ).otherwise(F.lit(0.5))
    # per-row regex/split work: _spread (guide (2) — value-independent
    # of partitioning, unlocks all cores on single-row-group inputs)
    return _spread(documents).select(
        "doc_id",
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        len_score.alias("length_score"),
        F.round(
            (alpha_ratio + stop_ratio + len_score) / 3.0, 6
        ).alias("quality"),
    )


# Chinese is written without spaces, so token-exact stopword matching
# can never fire on real zh text (round-2/3 finding). Detect it by CJK
# codepoint count instead: strip everything outside the CJK Unified
# Ideographs block (U+4E00..U+9FFF) and count what's left. The char
# class is built from LITERAL codepoints (Python resolves the \u
# escapes below) so the identical pattern string is valid in both Java
# regex (Spark) and RE2 (DuckDB oracle) — no engine-specific escapes.
_CJK_CLASS = "[^一-鿿]"


def gopher_filter(documents: DataFrame) -> DataFrame:
    """Gopher-style composite quality gate (Rae et al. 2021 §A1.1,
    public paper; thresholds scaled to the synthetic corpus): word
    count bounds, mean word length bounds, '#' and '...'-to-word
    symbol ratios, and the English stopword-presence rule (applied
    only to lang='en'): 20-90 words, mean word length 1-10, and at
    most 0.1 '#' and '...' per word. Total op — every document emitted
    with its metrics, `keep`, and a deterministic comma-joined
    `reasons` list naming every failed rule — so the drop set is
    auditable and the
    rules re-tunable from the same frame.

    Scale shape: pure per-row expressions (one scan, zero shuffles,
    no Python); every metric is integer arithmetic or a single
    int/int division mirrored exactly by the oracle."""
    n_words = F.size(F.split(F.col("text"), " "))
    mwl = (F.length(F.regexp_replace("text", " ", ""))
           .cast("double") / n_words)
    hash_ratio = ((F.length("text")
                   - F.length(F.regexp_replace("text", "#", "")))
                  .cast("double") / n_words)
    ell_cnt = F.expr(
        "(length(text) - length(replace(text, '...', ''))) div 3")
    ell_ratio = ell_cnt.cast("double") / n_words
    stops = _word_hits(F.col("text"), ["the", "a", "of", "and", "to"])
    fails = [
        ((n_words < 20) | (n_words > 90), "word_count"),
        ((mwl < 1.0) | (mwl > 10.0), "mean_word_length"),
        (hash_ratio > 0.1, "hash_ratio"),
        (ell_ratio > 0.1, "ellipsis_ratio"),
        ((F.col("lang") == "en") & (stops == 0), "no_stopwords"),
    ]
    reasons = F.array_join(
        F.filter(
            F.array(*[F.when(cond, F.lit(name)) for cond, name in fails]),
            lambda x: x.isNotNull(),
        ), ",")
    # per-row regex metrics: _spread (see redact_pii)
    return _spread(documents).select(
        "doc_id", "lang",
        n_words.cast("int").alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(hash_ratio, 6).alias("hash_ratio"),
        F.round(ell_ratio, 6).alias("ellipsis_ratio"),
        stops.cast("int").alias("stopword_hits"),
        (reasons == "").alias("keep"),
        reasons.alias("reasons"),
    )


def source_overlap(documents: DataFrame, n: int = 8) -> DataFrame:
    """Cross-SOURCE contamination matrix: for every source pair, how
    many distinct word n-grams they share, normalized by the smaller
    side's distinct-gram count (overlap coefficient) — the corpus-
    level view of dup_passages, answering "which feeds are reprints
    of each other" before any per-document dedup.

    Scale shape: grams key by md5 (constant 32-byte shuffle rows; the
    dup_passages technique), one (gram, source) distinct partial agg,
    then per-gram source SETS — bounded by the source count, NOT the
    corpus — explode into source pairs. Per-source totals are a
    |sources|-row frame joined back by broadcast. No corpus self-join
    anywhere."""
    gram_source = (
        _words(documents, "source")
        .select(F.col("source"),
                F.explode(_word_ngrams(F.col("w"), n)).alias("gram"))
        .select("source", F.md5("gram").alias("gkey"))
        .distinct()
    )
    totals = gram_source.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_grams"))
    pairs = (
        gram_source.groupBy("gkey")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .where(F.size("srcs") >= 2)
        .select(F.explode(F.expr(
            "flatten(transform(srcs, (a, i) -> "
            "transform(slice(srcs, i + 2, size(srcs)), "
            "b -> struct(a as source_a, b as source_b))))"
        )).alias("p"))
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_shared_grams"))
    )
    ta = totals.select(F.col("source").alias("source_a"),
                       F.col("n_grams").alias("grams_a"))
    tb = totals.select(F.col("source").alias("source_b"),
                       F.col("n_grams").alias("grams_b"))
    return (
        pairs.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a", "source_b", "n_shared_grams", "grams_a",
            "grams_b",
            F.round(F.col("n_shared_grams")
                    / F.least("grams_a", "grams_b"), 6)
             .alias("overlap_coef"),
        )
    )


def _cjk_hits(col):
    """The zh signal: CJK-ideograph codepoint count, GATED on CJK
    density >= 25% of non-space characters. The raw count is on a
    per-character scale while the other languages count whole
    stopword-token hits, so an ungated count lets a mostly-English
    document with a sprinkling of CJK (more CJK chars than English
    stopword hits) flip to zh; the density gate zeroes the signal on
    such mixed-script text while genuinely-Chinese text (unsegmented,
    near-100% CJK) passes trivially. Mirrored EXACTLY in the DuckDB
    oracle (__spark_entry__.oracle_sql)."""
    cjk = F.length(F.regexp_replace(col, _CJK_CLASS, ""))
    nonspace = F.length(F.translate(col, " ", ""))
    return F.when(cjk * 4 >= nonspace, cjk).otherwise(F.lit(0))


def lang_id(documents: DataFrame) -> DataFrame:
    """Language ID over {en,es,fr,de,zh}: argmax of token-exact
    stopword hits for the space-segmented languages and CJK
    codepoint count for zh, 'und' when all zero (SQL-oracled)."""
    hit_cols = [
        _word_hits(F.col("text"), words).alias(f"hits_{lang}")
        for lang, words in _STOPWORDS.items()
        if lang != "zh"
    ] + [_cjk_hits(F.col("text")).alias("hits_zh")]
    # per-row regex hit counting across 6 patterns: _spread (see
    # redact_pii)
    scored = _spread(documents).select("doc_id", "lang", *hit_cols)
    langs = list(_STOPWORDS.keys())
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in langs])
    pred = F.when(best == 0, F.lit("und"))
    for lg in langs:  # first-wins tie break, fixed order
        pred = pred.when(F.col(f"hits_{lg}") == best, F.lit(lg))
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
    )


# PII/cleanup patterns: kept to the syntax subset Java regex and RE2
# evaluate identically (no backreferences, no lookaround) so the DuckDB
# oracle can run the very same strings
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# whitespace spelled EXPLICITLY, not \s: Java's \s includes \x0b
# (vertical tab) while RE2's does not, so [^\s]+ would diverge between
# Spark and the DuckDB oracle exactly on the control chars this module
# handles
URL_RE = r"https?://[^ \t\n\x0b\f\r]+"
# escaped (not literal) control chars: the same string must survive
# embedding in a SQL literal (a raw NUL unterminates it) and both
# Java regex and RE2 parse \xNN escapes identically
_CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"


def dataset_card(documents: DataFrame) -> DataFrame:
    """Corpus datasheet in one row — the number block of a dataset
    card (Gebru et al. "Datasheets for Datasets", public): sizes,
    language/source breadth, exact-duplicate rate, mean quality, and
    Gopher-gate keep rate. Composes the already-oracled primitives so
    the card can never disagree with the operators it summarizes.

    Scale shape: two corpus passes (one plain aggregate; one over the
    md5-keyed exact-dedup frame) plus the gopher keep aggregate —
    every number a partial aggregation, output exactly ONE row. Over
    empty documents the three rates are NULL (try_divide), as in the
    DuckDB oracle."""
    base = documents.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint")
         .alias("n_tokens"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )
    uniq = (
        documents.groupBy(F.md5("text").alias("_h"))
        .agg(F.count("*").alias("_c"))
        .agg(F.count("*").cast("bigint").alias("n_unique_texts"))
    )
    # mean over an EXACT decimal sum (quality is 6dp-rounded), one
    # final double division — order-independent, engine-exact
    q = quality_score(documents).agg(
        F.round(
            F.try_divide(
                F.sum(F.col("quality").cast("decimal(18,6)"))
                 .cast("double"),
                F.count("*")), 6).alias("mean_quality"))
    g = gopher_filter(documents).agg(
        F.sum(F.col("keep").cast("bigint")).cast("bigint")
         .alias("n_gopher_keep"))
    return (
        base.crossJoin(uniq).crossJoin(q).crossJoin(g)
        .select(
            "n_docs", "n_tokens", "n_chars", "n_langs", "n_sources",
            "n_unique_texts",
            F.round(F.try_divide(
                (F.col("n_docs") - F.col("n_unique_texts"))
                .cast("double"), F.col("n_docs")), 6)
             .alias("exact_dup_rate"),
            "mean_quality", "n_gopher_keep",
            F.round(F.try_divide(F.col("n_gopher_keep").cast("double"),
                                 F.col("n_docs")), 6)
             .alias("gopher_keep_rate"),
        )
    )


def source_quality(documents: DataFrame) -> DataFrame:
    """Per-source corpus health: document/token counts, mean quality,
    and Gopher keep rate for every source — the dashboard that tells
    a curation run which feeds to throttle. Same single-sourced
    metrics as dataset_card, grouped.

    Scale shape: per-row metric expressions, one source-keyed partial
    aggregation."""
    n_words = F.size(F.split(F.col("text"), " "))
    g = gopher_filter(documents).select("doc_id", "keep")
    q = quality_score(documents).select("doc_id", "quality")
    return (
        documents.select("doc_id", "source", n_words.alias("_w"))
        .join(q, "doc_id").join(g, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("_w").cast("bigint").alias("n_tokens"),
            # decimal-sum mean: order-independent, engine-exact
            F.round(F.sum(F.col("quality").cast("decimal(18,6)"))
                     .cast("double") / F.count("*"), 6)
             .alias("mean_quality"),
            F.sum(F.col("keep").cast("bigint")).cast("bigint")
             .alias("n_keep"),
        )
        .select(
            "source", "n_docs", "n_tokens", "mean_quality", "n_keep",
            F.round(F.col("n_keep").cast("double") / F.col("n_docs"), 6)
             .alias("keep_rate"),
        )
    )


def mixture_weights(documents: DataFrame) -> DataFrame:
    """Data-mixture reweighting plan: per-language corpus shares and
    the per-document sampling weight that equalizes the mix (uniform
    target across observed languages) — the small-frame math that
    parameterizes weighted_sample / temperature_sample when a
    training run pins a target language distribution. weight_num /
    weight_den carry the EXACT rational N_total / (k * N_lang); the
    double columns are one mirrored division each.

    Scale shape: one partial-aggregating count per language; the
    frame never exceeds the language count."""
    counts = documents.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"))
    totals = counts.agg(
        F.sum("n_docs").cast("bigint").alias("n_total"),
        F.count("*").cast("bigint").alias("n_langs"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "lang", "n_docs",
            F.round(F.col("n_docs").cast("double")
                    / F.col("n_total"), 6).alias("natural_frac"),
            F.col("n_total").alias("weight_num"),
            (F.col("n_langs") * F.col("n_docs")).cast("bigint")
            .alias("weight_den"),
            F.round(F.col("n_total").cast("double")
                    / (F.col("n_langs") * F.col("n_docs")), 6)
            .alias("weight"),
        )
    )


def conv_pii_audit(extracted: DataFrame) -> DataFrame:
    """Transcript-level PII audit: per conversation, email/URL match
    counts over the extracted turns, which roles carried them, and
    the worst single turn — the review queue a redaction pass feeds.
    Shares redact_pii's single-sourced Java==RE2 patterns so the
    audit and the scrub can never disagree on what counts as PII.

    Scale shape: per-row regexp counts, one conv_id partial
    aggregation; nothing else moves."""
    n_emails = F.regexp_count(
        F.coalesce(F.col("extracted_text"), F.lit("")), F.lit(EMAIL_RE))
    step1 = F.regexp_replace(
        F.coalesce(F.col("extracted_text"), F.lit("")),
        EMAIL_RE, "<EMAIL>")
    n_urls = F.regexp_count(step1, F.lit(URL_RE))
    per_turn = extracted.select(
        "conv_id", "turn_idx", "role",
        n_emails.cast("bigint").alias("_e"),
        n_urls.cast("bigint").alias("_u"),
    )
    return (
        per_turn.groupBy("conv_id")
        .agg(
            F.sum("_e").cast("bigint").alias("n_emails"),
            F.sum("_u").cast("bigint").alias("n_urls"),
            F.array_join(F.array_sort(F.collect_set(
                F.when(F.col("_e") + F.col("_u") > 0, F.col("role"))
            )), ",").alias("pii_roles"),
            F.max(F.struct(
                (F.col("_e") + F.col("_u")).alias("n"),
                F.col("turn_idx").alias("t"),
            )).alias("_worst"),
        )
        .select(
            "conv_id", "n_emails", "n_urls", "pii_roles",
            F.when(F.col("n_emails") + F.col("n_urls") > 0,
                   F.col("_worst.t")).cast("int")
             .alias("worst_turn_idx"),
            (F.col("n_emails") + F.col("n_urls") > 0).alias("has_pii"),
        )
    )


def redact_pii(documents: DataFrame) -> DataFrame:
    """Training-corpus scrubbing: replace emails and URLs with typed
    placeholders, strip C0 control characters (except tab/newline/CR),
    and report per-document match counts — the redaction pass a
    training-data pipeline runs before tokenization. Pure JVM regexp
    expressions (SQL-oracled; patterns restricted to the Java==RE2
    subset). Email redaction runs BEFORE URL redaction so an email
    inside a URL query string is counted once, by the earlier rule."""
    n_emails = F.regexp_count(F.col("text"), F.lit(EMAIL_RE))
    step1 = F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>")
    n_urls = F.regexp_count(step1, F.lit(URL_RE))
    step2 = F.regexp_replace(step1, URL_RE, "<URL>")
    clean = F.regexp_replace(step2, _CTRL_RE, "")
    # regex passes are the per-row-CPU-heaviest op in the file: _spread
    # so a single-row-group input cannot serialize them on one task
    # (r8: 2.26s -> 0.38s at sf1.0; no-op at production split sizes)
    documents = _spread(documents)
    return documents.select(
        "doc_id",
        clean.alias("clean_text"),
        n_emails.cast("int").alias("n_emails"),
        n_urls.cast("int").alias("n_urls"),
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """Document fingerprint: md5 over lowercased, whitespace-collapsed
    text (SQL-oracled; the stable-normalization dedup key)."""
    # regex normalize + md5 per row: _spread (see redact_pii)
    normalized = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return _spread(documents).select(
        "doc_id", F.md5(normalized).alias("fingerprint")
    )


# Engine-exact HLL estimate formulas (single-sourced: the Spark
# operator F.expr()s these strings and the DuckDB oracle interpolates
# the SAME strings, so every IEEE operation runs in the same order
# with the same double-cast literals on both engines — the bm25/ccnet
# exactness technique applied to a cardinality sketch). 2^49 scaling
# keeps the register sum in exact BIGINT (max m * 2^49 = 2^57):
# sum(2^-rho) == sum_scaled / 2^49 with empty registers contributing
# rho=0 (2^49) and present ones 2^(49-maxrho), maxrho <= 49.
_HLL_RAW_FMT = (
    "cast(0.7213 as double) / (cast(1.0 as double) + "
    "cast(1.079 as double) / cast({m} as double)) * cast({m} as double)"
    " * cast({m} as double) * cast(562949953421312 as double)"
    " / cast(sum_scaled as double)"
)
# HLL small-range correction: linear counting m*ln(m/V) when the raw
# estimate is under 2.5m and empty registers remain (Flajolet et al.
# 2007 §4). ln() is the one libm call — same host, same libm, and the
# round(.,4) output pin absorbs any last-ulp drift.
_HLL_EST_FMT = (
    "case when ({raw}) <= cast(2.5 as double) * cast({m} as double) "
    "and n_empty > 0 then cast({m} as double) * "
    "ln(cast({m} as double) / cast(n_empty as double)) "
    "else ({raw}) end"
)


def hll_distinct(events: DataFrame) -> DataFrame:
    """HyperLogLog distinct-count sketch, engine-exact: per event_type,
    estimate the number of distinct users ('user' sketch) and distinct
    user-days ('user_day' sketch) from m = 256 registers, next to the
    EXACT distinct count so the sketch error is auditable in the same
    row. This is the op that replaces count(distinct) at 100 TB: the
    register table is bounded by groups x m ROWS NO MATTER THE CORPUS
    SIZE, and registers merge associatively (max), so partial
    aggregation does almost all the work map-side; the exact_distinct
    column is the verification luxury of test scale — a production run
    drops it and keeps the O(m) sketch.

    Determinism: bucket and register come from md5(key|'hll7') substrings
    (the split_assign technique); rho is 49 - length(bin(w)) over the
    next 48 hash bits — integer-only. The estimate is ONE double
    division over an exact bigint register sum, with the literal
    arithmetic single-sourced into the DuckDB oracle (_HLL_RAW_FMT /
    _HLL_EST_FMT) so both engines execute identical IEEE ops. Both
    HLL branches (raw harmonic-mean and small-range linear counting)
    are live at test scale via the two sketch keys."""
    m = 256

    def _sketch(key, tag: str) -> DataFrame:
        h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
        w = F.conv(F.substring(F.md5(key), 9, 12), 16, 10).cast("bigint")
        rho = (
            F.when(w == 0, F.lit(49))
            .otherwise(F.lit(49) - F.length(F.bin(w)))
        )
        keyed = events.select(
            "event_type", F.lit(tag).alias("sketch_key"),
            (h % m).alias("bucket"), rho.alias("rho"), key.alias("k"),
        )
        regs = keyed.groupBy("event_type", "sketch_key", "bucket").agg(
            F.max("rho").alias("maxrho"))
        sums = regs.groupBy("event_type", "sketch_key").agg(
            F.count("*").cast("bigint").alias("n_present"),
            F.sum(F.expr("shiftleft(1L, cast(49 - maxrho as int))"))
             .cast("bigint").alias("sum_present"),
        )
        exact = keyed.groupBy("event_type", "sketch_key").agg(
            F.countDistinct("k").cast("bigint").alias("exact_distinct"))
        return sums.join(exact, ["event_type", "sketch_key"]).select(
            "event_type", "sketch_key", "exact_distinct", "n_present",
            (F.lit(m) - F.col("n_present")).cast("bigint")
            .alias("n_empty"),
            (F.col("sum_present")
             + (F.lit(m) - F.col("n_present"))
             * F.lit(562949953421312)).cast("bigint").alias("sum_scaled"),
        )

    user_key = F.concat_ws(
        "|", F.col("user_id").cast("string"), F.lit("hll7"))
    user_day_key = F.concat_ws(
        "|", F.col("user_id").cast("string"),
        F.to_date("ts").cast("string"), F.lit("hll7"))
    both = _sketch(user_key, "user").unionByName(
        _sketch(user_day_key, "user_day"))
    raw = _HLL_RAW_FMT.format(m=m)
    est = _HLL_EST_FMT.format(raw=raw, m=m)
    return both.select(
        "event_type", "sketch_key", "exact_distinct", "n_present",
        "n_empty", "sum_scaled",
        F.round(F.expr(raw), 4).alias("hll_raw"),
        F.round(F.expr(est), 4).alias("hll_estimate"),
    ).select(
        "*",
        F.round((F.col("hll_estimate") - F.col("exact_distinct"))
                / F.col("exact_distinct"), 4).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    """L2 norm fold. Callers project it as its own column below any
    join, so each vector's norm is computed once rather than once per
    pair; the cosine doubles are the same either way."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def _cosine(a: str, b: str, na: str, nb: str):
    """_dot(a, b) / greatest(na * nb, 1e-300) over vector columns `a`,
    `b` and their projected _norm columns: a zero vector scores 0
    instead of raising DIVIDE_BY_ZERO (ANSI mode)."""
    return _dot(F.col(a), F.col(b)) / F.greatest(
        F.col(na) * F.col(nb), F.lit(1e-300))


def _top_k(scored: DataFrame, k: int, score) -> DataFrame:
    """The k best rows per query_id by `score`, ties to the smaller
    corpus_id, numbered 1..k in `rank`."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(score, F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# -- fold kernel --------------------------------------------------------------
# ann_bruteforce, the IVF quantizer and PQ score every row against a
# small host-side matrix (the queries, the centroids, a codebook) in
# one numpy kernel per Arrow batch. Each sum is a left fold from 0.0
# over the dimensions in index order, the order of _dot and _norm, so
# the kernel's doubles equal the JVM folds bit for bit; a matmul
# reorders the sum and does not. Rounding stays on the JVM: F.round is
# decimal HALF_UP and numpy's is not.


def _fold_norms(V):
    """L2 norm of each row of V, the _norm fold."""
    import numpy as np

    acc = np.zeros(len(V))
    for j in range(V.shape[1]):
        acc += V[:, j] * V[:, j]
    return np.sqrt(acc)


def _fold_scores(V, M, sqdist: bool = False):
    """(n, d) rows x (k, d) matrix -> (n, k) dot products, or squared
    L2 distances with `sqdist`, each a left fold over d like _dot.
    Memory is O(n*k): the (n, k, d) product is never built."""
    import numpy as np

    # contiguous columns and one scratch buffer: ~1.5x at 768 dims
    Vt, Mt = np.ascontiguousarray(V.T), np.ascontiguousarray(M.T)
    acc = np.zeros((len(V), len(M)))
    t = np.empty_like(acc)
    for j in range(len(Vt)):
        if sqdist:
            np.subtract(Vt[j][:, None], Mt[j], out=t)
            t *= t
        else:
            np.multiply(Vt[j][:, None], Mt[j], out=t)
        acc += t
    return acc


def _fold_cosines(V, M):
    """(n, k) cosines, _dot / greatest(_norm * _norm, 1e-300): a zero
    vector scores 0 against everything."""
    import numpy as np

    return _fold_scores(V, M) / np.maximum(
        _fold_norms(V)[:, None] * _fold_norms(M)[None, :], 1e-300)


def _vector_udf(return_type: str, dim: int, kernel):
    """pandas_udf over an array column of `dim`-vectors. `kernel` maps
    the (n, dim) float64 matrix of a batch's vectors (float elements
    widen exactly, as their JVM cast to double does) to a list of n
    outputs. A NULL embedding, or one of another length, gives NULL
    and never reaches the kernel."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _batch(vecs):
        ok = [v is not None and len(v) == dim for v in vecs]
        rows = [v for v, o in zip(vecs, ok) if o]
        out = iter(kernel(np.array(rows, dtype=np.float64)) if rows
                   else ())
        return pd.Series([next(out) if o else None for o in ok],
                         dtype=object)

    # a real annotation OBJECT: this module runs under `from __future__
    # import annotations`, which would stringify an inline hint and
    # break pandas_udf's signature inference
    _batch.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    # marked nondeterministic only so the optimizer keeps one call per
    # row: a join on the kernel's output infers isnotnull(cell), and
    # pushing that filter below the projection would copy the call
    return pandas_udf(return_type)(_batch).asNondeterministic()


def _cell_udfs(centroids: list, n_probe: int | None = None):
    """(cell_of, probes_of) against the IVF `centroids`: a vector's
    argmax-cosine cell (exact ties go to the larger cell id) and its
    `n_probe` best cells, by cosine desc then cell desc. probes_of is
    None without n_probe."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    k, dim = C.shape
    cells = np.arange(k)

    def _cells(V):
        cos = _fold_cosines(V, C)
        # the last maximum is the larger cell id
        return [int(c) for c in (k - 1) - np.argmax(cos[:, ::-1], axis=1)]

    def _probes(V):
        return [[int(c) for c in np.lexsort((-cells, -row))[:n_probe]]
                for row in _fold_cosines(V, C)]

    probes_of = (_vector_udf("array<int>", dim, _probes)
                 if n_probe is not None else None)
    return _vector_udf("int", dim, _cells), probes_of


def _pq_udfs(codebooks: list):
    """(codes_of, tables_of) against the PQ `codebooks`. Both work on
    the unit vector x / greatest(|x|, 1e-300), as pq_fit's means do:
    codes_of gives the code word, per subspace the code at least
    squared L2 (exact ties go to the smaller code); tables_of gives the
    ADC table, the n_subspaces x n_codes squared distances."""
    import numpy as np

    CB = np.asarray(codebooks, dtype=np.float64)  # (m, k, sub)
    n_sub, _, sub = CB.shape

    def _dists(V):  # (n, m, k)
        U = V / np.maximum(_fold_norms(V), 1e-300)[:, None]
        return np.stack([
            _fold_scores(U[:, m * sub:(m + 1) * sub], CB[m], sqdist=True)
            for m in range(n_sub)], axis=1)

    def _codes(V):
        return _dists(V).argmin(axis=2).tolist()

    def _tables(V):
        return _dists(V).tolist()

    dim = n_sub * sub
    return (_vector_udf("array<int>", dim, _codes),
            _vector_udf("array<array<double>>", dim, _tables))


def embedding_norms(embeddings: DataFrame) -> DataFrame:
    """L2 norm per vector — JVM-side aggregate/transform (SQL-oracled)."""
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return embeddings.select(
        "vec_id", F.round(_norm(vec), 4).alias("l2_norm")
    )


def ann_bruteforce(embeddings: DataFrame, query_ids: list[int],
                   k: int = 5) -> DataFrame:
    """Exact cosine top-k, the baseline the LSH and IVF variants are
    judged against. The (tiny) query matrix is collected at build time
    into the fold kernel, which scores each corpus Arrow batch against
    every query; the corpus streams and nothing is joined. Raises
    ValueError when query_ids match no row with an embedding.

    Cosines are round(_dot(q, c) / greatest(|q| * |c|, 1e-300), 6) to
    the bit: a zero vector scores 0 everywhere, never NaN, and a NULL
    embedding is scored against nothing."""
    import numpy as np

    qrows = embeddings.where(
        F.col("vec_id").isin(query_ids) & F.col("embedding").isNotNull()
    ).select("vec_id", "embedding").collect()
    if not qrows:
        raise ValueError(
            f"ann_bruteforce: query_ids {query_ids!r} matched no "
            "rows with an embedding"
        )
    Q = np.asarray([r.embedding for r in qrows], dtype=np.float64)
    cos_of = _vector_udf("array<double>", Q.shape[1],
                         lambda V: list(_fold_cosines(V, Q)))
    qid_at = F.array(*[F.lit(r.vec_id) for r in qrows])
    # no _spread: the kernel is vectorized, and on a scan of few
    # partitions one more Python task costs more than it parallelizes
    scored = (
        embeddings.select(
            F.col("vec_id").alias("corpus_id"),
            F.posexplode(cos_of("embedding")).alias("qpos", "cosine"),
        )
        .select(
            F.element_at(qid_at, F.col("qpos") + 1).alias("query_id"),
            "corpus_id", F.round("cosine", 6).alias("cosine"),
        )
        .where(F.col("corpus_id") != F.col("query_id"))
    )
    return _top_k(scored, k, F.desc("cosine"))


def lsh_bucketed(embeddings: DataFrame) -> DataFrame:
    """(vec_id, vec, bucket) with one row per (vector, hash table):
    random-hyperplane sign-pattern buckets of 8 planes, OR-amplified
    over 4 independent tables.

    Hyperplanes are derived IN-PLAN: plane component (table t, plane p,
    dim i) = xxhash64(7, t, p, i) scaled to [-1, 1] — a symmetric
    zero-mean projection, dimension-agnostic, so building this query
    triggers ZERO Spark jobs (no `.first()` dim probe; asserted by
    test_ann_lsh_build_runs_no_job)."""
    inv_2_63 = 1.0 / float(2**63)

    def _comp(t, p, i):
        # deterministic pseudo-random plane component in [-1, 1]
        return (
            F.xxhash64(F.lit(7), F.lit(t), F.lit(p), i).cast("double")
            * inv_2_63
        )

    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    def _proj(t, p):
        # closure factory: pyspark requires the lambda to take exactly
        # (x, i) — defaults would change its visible arity
        return lambda x, i: x * _comp(t, p, i)

    def table_bucket(vec, t):
        bits = [
            F.when(
                F.aggregate(
                    F.transform(vec, _proj(t, p)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ) >= 0,
                F.lit("1"),
            ).otherwise(F.lit("0"))
            for p in range(8)
        ]
        return F.concat(F.lit(f"{t}:"), *bits)

    # explode_outer: the table array has constant size 4,
    # and plain explode would infer a size()>0 filter that re-runs all
    # plane projections below the spread exchange (same pathology as
    # minhash_signatures)
    # a NULL embedding has no sign pattern: it gets no bucket
    return _spread(embeddings).where(
        F.col("embedding").isNotNull()
    ).select(
        "vec_id", vec_d.alias("vec")
    ).withColumn(
        "bucket",
        F.explode_outer(
            F.array(*[
                table_bucket(F.col("vec"), t) for t in range(4)
            ])
        ),
    )


def ann_lsh(embeddings: DataFrame, query_ids: list[int],
            k: int = 5) -> DataFrame:
    """Random-hyperplane LSH ANN: bucket by sign pattern (lsh_bucketed,
    OR-amplified across tables, pair-deduped), exact cosine within
    bucket. The scale path — the candidate join is keyed by bucket,
    not a cross join."""
    base = lsh_bucketed(embeddings)
    corpus = base.select(
        F.col("vec_id").alias("corpus_id"), F.col("vec").alias("cvec"),
        "bucket",
    ).withColumn("cnorm", _norm(F.col("cvec")))
    queries = base.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"),
        F.col("bucket").alias("qbucket"),
    ).withColumn("qnorm", _norm(F.col("qvec")))
    joined = corpus.join(
        F.broadcast(queries),
        (F.col("bucket") == F.col("qbucket"))
        & (F.col("corpus_id") != F.col("query_id")),
    ).dropDuplicates(["query_id", "corpus_id"])
    cos = _cosine("qvec", "cvec", "qnorm", "cnorm")
    scored = joined.select(
        "query_id", "corpus_id", F.round(cos, 6).alias("cosine")
    )
    return _top_k(scored, k, F.desc("cosine"))


def embedding_near_dup(embeddings: DataFrame, threshold: float = 0.9,
                       exact: bool = False) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (vec_a, vec_b) with
    cosine >= threshold.

    Scale path (default): LSH-bucketed candidate generation — the self
    join is keyed by (table, bucket), never all-pairs — then exact
    cosine verification of candidates only. OR-amplification across
    4 hash tables sets the recall floor; at sign-hash
    collision probability (1 - theta/pi) per plane, near-identical
    vectors (cosine ~0.99+) collide in >=1 of 4 8-plane tables with
    p > 0.99 (test_embedding_near_dup_finds_planted verifies on
    planted dups).

    exact=True verifies ALL pairs (test/oracle scale only: the
    all-pairs reference the LSH path is tested against)."""
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    if exact:
        a = embeddings.select(F.col("vec_id").alias("vec_a"),
                              vec_d.alias("va")
                              ).withColumn("na", _norm(F.col("va")))
        b = embeddings.select(F.col("vec_id").alias("vec_b"),
                              vec_d.alias("vb")
                              ).withColumn("nb", _norm(F.col("vb")))
        cand = a.crossJoin(b).where(F.col("vec_a") < F.col("vec_b"))
    else:
        base = lsh_bucketed(embeddings)
        left = base.select(F.col("vec_id").alias("vec_a"),
                           F.col("vec").alias("va"), "bucket"
                           ).withColumn("na", _norm(F.col("va")))
        right = base.select(F.col("vec_id").alias("vec_b"),
                            F.col("vec").alias("vb"), "bucket"
                            ).withColumn("nb", _norm(F.col("vb")))
        cand = left.join(
            right,
            (left.bucket == right.bucket) & (F.col("vec_a") < F.col("vec_b")),
        ).dropDuplicates(["vec_a", "vec_b"])
    cos = _cosine("va", "vb", "na", "nb")
    return (
        cand.select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def semantic_dedup(embeddings: DataFrame, n_clusters: int = 4,
                   threshold: float = 0.45) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the corpus, compare vectors ONLY within their cluster, and
    drop every vector that has a smaller-id near-duplicate (cosine >=
    threshold) in the same cluster. Total op — one row per vector with
    its cluster, `kept` flag, and `dup_of` (the smallest same-cluster
    near-dup it loses to; NULL for keepers) — so the drop set is fully
    auditable downstream.

    Clustering is the deterministic nearest-seed E-step shared with
    cluster_assign (seeds = lowest n_clusters vec_ids, argmax over
    round(cos,6) with ties to the smallest seed) — no RNG state,
    repartition-invariant. The pairwise stage joins on cluster_id, so
    the comparison count is sum over clusters of |c|^2, never corpus^2
    — at 100 TB you raise n_clusters until |c| is bounded (the
    SemDeDup design: clusters ARE the blocking keys), and the
    threshold is a parameter (0.45 exercises drops on the synthetic
    test embeddings, whose max pairwise cosine is ~0.51; production
    values sit at 0.9+)."""
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # each vector's norm rides as a column through assignment and
    # the within-cluster pair join (see _norm)
    corpus = _spread(embeddings).select(
        "vec_id", vec_d.alias("vec")
    ).withColumn("nv", _norm(F.col("vec")))
    seeds = (
        embeddings.orderBy(F.asc("vec_id")).limit(n_clusters)
        .select(F.col("vec_id").alias("seed_id"), vec_d.alias("svec"))
        .withColumn("ns", _norm(F.col("svec")))
    )
    cos_seed = _cosine("vec", "svec", "nv", "ns")
    assigned = (
        corpus.join(F.broadcast(seeds))
        .select("vec_id", "vec", "nv", "seed_id",
                F.round(cos_seed, 6).alias("cos"))
        .groupBy("vec_id")
        .agg(
            F.first("vec").alias("vec"),
            F.first("nv").alias("nv"),
            F.max(F.struct(
                F.col("cos"), (-F.col("seed_id")).alias("neg_seed")
            )).alias("m"),
        )
        .select("vec_id", "vec", "nv",
                (-F.col("m.neg_seed")).cast("bigint").alias("cluster_id"))
    )
    left = assigned.select(F.col("vec_id").alias("vec_a"),
                           F.col("vec").alias("va"),
                           F.col("nv").alias("na"), "cluster_id")
    right = assigned.select(F.col("vec_id").alias("vec_b"),
                            F.col("vec").alias("vb"),
                            F.col("nv").alias("nb"), "cluster_id")
    pair_cos = _cosine("va", "vb", "na", "nb")
    dropped = (
        left.join(right, "cluster_id")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_b", F.col("vec_a"),
                F.round(pair_cos, 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .groupBy("vec_b")
        .agg(F.min("vec_a").cast("bigint").alias("dup_of"))
    )
    return (
        assigned.join(dropped, assigned.vec_id == dropped.vec_b, "left")
        .select(
            "vec_id", "cluster_id",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
    )


def _ivf_seed_anchors(embeddings: DataFrame, n_cells: int,
                      seed: int) -> list:
    """Deterministic k-means init: vectors hash into `n_cells` buckets
    by xxhash64(vec_id, seed) and the min-rank vector of each bucket
    seeds that cell (a hash-stratified sample — spread, not argmin'd,
    which is all an init needs). Raises ValueError on an empty
    training set."""
    rows = (
        embeddings
        .withColumn(
            "cell",
            F.pmod(F.xxhash64("vec_id", F.lit(seed)),
                   F.lit(n_cells)).cast("int"),
        )
        .withColumn("r", F.xxhash64("vec_id", F.lit(seed + 1)))
        .groupBy("cell")
        .agg(F.min_by("embedding", "r").alias("anchor"))
        .collect()
    )
    if not rows:
        raise ValueError(
            "k-means fit: no non-NULL embedding is left to train on")
    by_cell = {r.cell: [float(x) for x in r.anchor] for r in rows}
    return [by_cell[c] for c in sorted(by_cell)]


def ivf_fit(embeddings: DataFrame, n_cells: int = 16, seed: int = 7,
            n_iters: int = 5) -> list:
    """IVF coarse-quantizer TRAINING action: REAL spherical k-means
    (Lloyd's), the analogue of KMeans.fit — the deliberate driver-side
    jobs in the IVF path; search itself stays pure plan construction.

    Each iteration is one distributed pass: per-row argmax-cosine
    assignment by the fold kernel against the current centroids (no
    shuffle for assignment), then ONE groupBy(cell) shuffle of 64-ish
    tiny decimal averages. Per-dimension means aggregate in DECIMAL so
    the result is exact and independent of partitioning/aggregation
    order — the trained centroids (and hence every downstream search
    result) are bit-deterministic. Centroids are L2-normalized
    (spherical k-means, matching the cosine assignment); cells that
    lose all points keep their previous centroid. NULL embeddings are
    not trained on; raises ValueError when no non-NULL embedding is
    left to train on (empty input or all NULL). Returns the centroids
    as a plain list — a tiny model artifact that search ships to the
    kernel in its closure, exactly how production IVF ships its
    centroids."""
    train = embeddings.where(F.col("embedding").isNotNull())
    centroids = _ivf_seed_anchors(train, n_cells, seed)
    dim = len(centroids[0])
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # persist: every Lloyd iteration is a separate job over the same
    # training vectors — without this the scan + NULL filter +
    # spread shuffle + cast re-execute n_iters times
    base = _spread(train).select(vec_d.alias("vec")).persist()
    try:
        return _lloyd_iterate(base, centroids, dim, n_iters)
    finally:
        base.unpersist()


def _lloyd_iterate(base: DataFrame, centroids: list, dim: int,
                   n_iters: int) -> list:
    for _ in range(n_iters):
        cell_of, _ = _cell_udfs(centroids)
        stats = base.withColumn("cell", cell_of("vec")).groupBy("cell").agg(
            F.count("*").alias("n"),
            *[
                F.avg(F.element_at("vec", d + 1).cast("decimal(28,12)"))
                .alias(f"d{d}")
                for d in range(dim)
            ],
        ).collect()
        new = list(centroids)
        for r in stats:
            mean = [float(r[f"d{d}"]) for d in range(dim)]
            norm = sum(x * x for x in mean) ** 0.5
            if norm > 0:
                new[r.cell] = [round(x / norm, 9) for x in mean]
        if new == centroids:
            break
        centroids = new
    return centroids


def ann_ivf(embeddings: DataFrame, query_ids: list[int], anchors: list,
            k: int = 5, n_probe: int = 4) -> DataFrame:
    """IVF-flat ANN: assign every vector to its nearest anchor cell
    per-row (no shuffle, no join for assignment), probe the `n_probe`
    nearest cells per query, and run exact cosine + top-k inside the
    probed cells only. The candidate join is keyed by cell id — never
    all-pairs. With n_probe == len(anchors) the result equals
    ann_bruteforce exactly (property-tested).

    The fold kernel assigns cells and probes (see _cell_udfs); the
    final scoring is the JVM _dot fold over the cell-keyed broadcast
    join. A NULL embedding has no cell, so it is neither a candidate
    nor a query."""
    cell_of, probes_of = _cell_udfs(anchors, n_probe)
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = _spread(embeddings).select("vec_id", vec_d.alias("vec"))
    corpus = base.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("vec").alias("cvec"),
        _norm(F.col("vec")).alias("cnorm"),
        cell_of("vec").alias("cell"),
    )
    queries = base.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        _norm(F.col("vec")).alias("qnorm"),
        F.explode_outer(probes_of("vec")).alias("cell"),
    )
    joined = corpus.join(
        F.broadcast(queries),
        (corpus.cell == queries.cell)
        & (F.col("corpus_id") != F.col("query_id")),
    )
    cos = _cosine("qvec", "cvec", "qnorm", "cnorm")
    scored = joined.select(
        "query_id", "corpus_id", F.round(cos, 6).alias("cosine")
    )
    return _top_k(scored, k, F.desc("cosine"))


def pq_fit(embeddings: DataFrame, n_subspaces: int = 8,
           n_codes: int = 16, seed: int = 7,
           n_iters: int = 5) -> list:
    """Product-quantization TRAINING action: per-subspace plain-L2
    k-means (Lloyd's), the fit step of IVF-PQ. Returns
    codebooks[m][c] = centroid (list of sub-dim floats) — at 8
    subspaces x 16 codes a 64-dim corpus compresses 64x4 bytes ->
    8 codes (x64 smaller), which is what makes billion-vector search
    memory-feasible at 100 TB.

    One distributed pass per iteration covers ALL subspaces: the fold
    kernel assigns each row's code word against the current codebooks,
    each row explodes into (subspace, unit subvector, code) entries,
    then ONE groupBy(m, code) shuffle averages sub-dim components in
    DECIMAL — exact, order-independent, bit-deterministic (the ivf_fit
    technique). Init is the hash-stratified sample of _ivf_seed_anchors
    sliced per subspace; codes that lose all members keep their
    previous centroid. NULL embeddings are not trained on; raises
    ValueError when no non-NULL embedding is left to train on. Vectors
    are L2-normalized first: on the unit sphere
    ||a-b||^2 == 2 - 2cos(a,b), so PQ's L2 ADC ranking equals the cosine
    ranking the other ANN operators use."""
    train = embeddings.where(F.col("embedding").isNotNull())
    anchors = _ivf_seed_anchors(train, n_codes, seed)
    dim = len(anchors[0])
    assert dim % n_subspaces == 0, (
        f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    sub = dim // n_subspaces
    codebooks = [
        [[round(v, 9) for v in a[m * sub:(m + 1) * sub]] for a in anchors]
        for m in range(n_subspaces)
    ]
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # the kernel codes the raw vector `rv` (normalizing it to the same
    # doubles); the means average slices of the unit vector `vec`, whose
    # norm is a projected column (inline, the transform would re-run
    # the norm fold per element)
    base = (
        _spread(train)
        .select(vec_d.alias("rv"))
        .select("rv", F.greatest(_norm(F.col("rv")),
                                 F.lit(1e-300)).alias("nv"))
        .select("rv", F.transform("rv", lambda x: x / F.col("nv"))
                .alias("vec"))
        .persist()
    )
    entries = F.array(*[
        F.struct(
            F.lit(m).alias("m"),
            F.slice("vec", m * sub + 1, sub).alias("sv"),
            F.element_at("_codes", m + 1).alias("code"),
        )
        for m in range(n_subspaces)
    ])
    try:
        for _ in range(n_iters):
            codes_of, _ = _pq_udfs(codebooks)
            stats = (
                base.withColumn("_codes", codes_of("rv"))
                .select(F.explode(entries).alias("s"))
                .select("s.m", "s.sv", "s.code")
                .groupBy("m", "code")
                .agg(*[
                    F.avg(F.element_at("sv", d + 1)
                          .cast("decimal(28,12)")).alias(f"d{d}")
                    for d in range(sub)
                ])
                .collect()
            )
            new = [list(cb) for cb in codebooks]
            for r in stats:
                new[r.m][r.code] = [
                    round(float(r[f"d{d}"]), 9) for d in range(sub)
                ]
            if new == codebooks:
                break
            codebooks = new
        return codebooks
    finally:
        base.unpersist()


def pq_encode(embeddings: DataFrame, codebooks: list) -> DataFrame:
    """Corpus PQ encoding: vec_id -> array<int> code word (NULL for a
    NULL embedding). One fold-kernel call per Arrow batch, zero
    shuffles — the 100 TB encode pass is scan-bound."""
    codes_of, _ = _pq_udfs(codebooks)
    return _spread(embeddings).select(
        "vec_id", codes_of("embedding").alias("codes"))


def ann_ivfpq(embeddings: DataFrame, query_ids: list[int],
              anchors: list, codebooks: list, k: int = 5,
              n_probe: int = 4) -> DataFrame:
    """IVF-PQ approximate nearest neighbor: coarse IVF cell routing
    (same cosine quantizer as ann_ivf) + asymmetric-distance (ADC)
    scoring against PQ codes — the memory-scale path when even the
    probed cells' raw vectors can't be held: candidates are scored
    from their 8-byte codes and a per-query lookup table, never their
    floats. No-residual variant (codes quantize the raw vector, not
    the cell residual) — the FAISS by_residual=False layout —
    documented deviation from Jégou et al. 2011.

    Scale shape: the fold kernel gives corpus rows their (cell, codes)
    and each query its probed cells and ADC table (n_subspaces x
    n_codes doubles); queries are a BROADCAST of |Q| x n_probe rows;
    the join is keyed by cell (never all-pairs) and the score is a
    JVM zip_with table lookup + fold. Top-k is a bounded per-query
    window over probed candidates only. A NULL embedding has no cell,
    so it is neither a candidate nor a query."""
    cell_of, probes_of = _cell_udfs(anchors, n_probe)
    codes_of, tables_of = _pq_udfs(codebooks)
    base = _spread(embeddings).select("vec_id", "embedding")
    corpus = base.select(
        F.col("vec_id").alias("corpus_id"),
        cell_of("embedding").alias("cell"),
        codes_of("embedding").alias("codes"),
    )
    queries = base.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        tables_of("embedding").alias("tables"),
        probes_of("embedding").alias("probes"),
    ).select("query_id", "tables",
             F.explode_outer("probes").alias("cell"))
    joined = corpus.join(
        F.broadcast(queries),
        (corpus.cell == queries.cell)
        & (F.col("corpus_id") != F.col("query_id")),
    )
    adc = F.aggregate(
        F.zip_with(F.col("codes"), F.col("tables"),
                   lambda c, t: F.element_at(t, c + F.lit(1))),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    scored = joined.select(
        "query_id", "corpus_id", F.round(adc, 6).alias("adc_dist"))
    return _top_k(scored, k, F.asc("adc_dist"))


# GPT-2-style pretokenizer, simplified to the lookahead-free subset so
# Spark (Java regex) and DuckDB (RE2) agree token-for-token:
# contractions, space-prefixed letter runs, space-prefixed digit runs,
# space-prefixed punctuation runs, whitespace runs.
BPE_TOKEN_RE = (
    r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def bpe_token_stats(documents: DataFrame) -> DataFrame:
    """Token counting the way a training-data pipeline sizes corpora:
    whitespace tokens AND a BPE-ish regex pretokenization count
    (SQL-oracled — the regex is the lookahead-free GPT-2 subset that
    Java regex and RE2 evaluate identically)."""
    ws = F.size(F.filter(F.split(F.col("text"), " "),
                         lambda t: t != "")).cast("int")
    # no _spread here: one regex pass per row is cheap enough that the
    # pure-projection plan property (PLANS.md) is worth more than the
    # repartition would buy
    return documents.select(
        "doc_id",
        ws.alias("n_ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(BPE_TOKEN_RE))
        .cast("int").alias("n_bpe_tokens"),
    )


def winnowing_fingerprints(documents: DataFrame, k: int = 8,
                           w: int = 4) -> DataFrame:
    """Rolling-hash document fingerprinting (MOSS winnowing): hash
    every k-gram, slide a w-window over the hash sequence, keep each
    window's minimum, count the distinct kept fingerprints. The hash is
    md5 of the k-gram (string-ordered minima) so Spark and DuckDB agree
    exactly; at scale everything is a per-row JVM array expression —
    no shuffle, no UDF. Docs shorter than k + w - 1 characters (fewer
    than w grams, so no full window) get one whole-text fingerprint.

    r8: each stage is PROJECTED as a real column (g -> wins -> fps)
    instead of one nested expression. The r7 inline form re-evaluated
    the md5-gram transform INSIDE every window position (slice(grams,
    ...) with `grams` un-projected) and the window list again for
    size/array_min — O(n_chars * w) md5 calls per document instead of
    O(n_chars); at sf1.0 the query did not finish a 10-minute budget,
    the staged form runs in seconds. Each window minimum reads w
    element_at()s through least() (strings: identical to
    array_min-over-slice, no per-position array). Values verified
    equal at sf0.1; oracle row green."""
    n = F.length("text")
    grams = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.md5(F.col("text").substr(i + 1, F.lit(k))),
    )
    g = F.col("g")
    # guarded: with fewer than w grams the window sequence runs
    # backwards and element_at would read out of bounds; such docs
    # take the whole-text fingerprint below
    windows = F.when(F.size(g) >= w, F.transform(
        F.sequence(F.lit(0), F.size(g) - w),
        lambda j: F.least(
            *[F.element_at(g, j + (x + 1)) for x in range(w)]),
    ))
    base = (
        _spread(documents)
        .select("doc_id", "text", grams.alias("g"))
        .select("doc_id", "text", windows.alias("wins"))
        .select("doc_id", "text",
                F.array_distinct(F.col("wins")).alias("fps"))
    )
    return base.select(
        "doc_id",
        F.when(n >= k + w - 1, F.size("fps"))
        .otherwise(F.lit(1)).cast("int").alias("n_fingerprints"),
        F.when(n >= k + w - 1, F.array_min("fps"))
        .otherwise(F.md5("text")).alias("min_fingerprint"),
    )


# ---------------------------------------------------------------------------
# Corpus analytics + similarity-search application layer (round 3)
# ---------------------------------------------------------------------------


def source_stats(documents: DataFrame) -> DataFrame:
    """Per-source corpus rollup for curation dashboards: doc count,
    distinct-text count (exact-dedup rate per source), and total
    characters. One groupBy shuffle; all-integer aggregates so the
    values are exactly deterministic under any partitioning."""
    return (
        documents.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(F.md5("text")).alias("n_unique_texts"),
            F.sum(F.length("text")).alias("n_chars_total"),
        )
    )


def knn_label_purity(embeddings: DataFrame, query_ids: list[int],
                     k: int = 5) -> DataFrame:
    """k-NN classification over the embedding space: for each query
    vector, the majority label among its exact cosine top-k (the
    similarity-search APPLICATION layer — dedup/clustering quality in
    one number). Majority ties break to the smallest label; purity is
    an exact k-denominator fraction, so values are hash-stable.
    Scale path: reuses ann_bruteforce's exact top-k; the
    label join is a broadcast of (vec_id, label) onto k*|queries|
    rows."""
    from pyspark.sql import Window

    topk = ann_bruteforce(embeddings, query_ids, k)
    labels = embeddings.select("vec_id", "label")
    labeled = topk.join(
        F.broadcast(labels.withColumnRenamed("vec_id", "corpus_id")),
        "corpus_id",
    )
    counts = labeled.groupBy("query_id", "label").agg(
        F.count("*").alias("n"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n"), F.asc("label"))
    best = counts.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") == 1)
    qlab = embeddings.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
    )
    return (
        best.join(F.broadcast(qlab), "query_id")
        .select(
            "query_id", "query_label",
            F.col("label").alias("majority_label"),
            (F.col("n") / k).alias("purity"),
        )
    )


def event_sessions(events: DataFrame,
                   gap_minutes: int = 30) -> DataFrame:
    """Batch gap-based sessionization of the events stream: a new
    session starts when a user's inter-event gap exceeds
    `gap_minutes`. Classic two-window plan — lag to flag session
    starts, cumulative sum to number sessions — then one aggregate.
    All outputs are integers/timestamps (no double sums), so results
    are partitioning-deterministic. The windows partition by user_id:
    the per-user event list is the unit of state."""
    from pyspark.sql import Window

    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = gap_minutes * 60
    # parquet timestamps read as TIMESTAMP_NTZ, which Spark refuses to
    # cast straight to long — hop through timestamp (wall time in the
    # session tz, matching DuckDB's epoch() on the same naive value)
    epoch = F.col("ts").cast("timestamp").cast("long")
    # keyed spread: windows need a user_id hash distribution anyway —
    # see _spread_by (no-op on production-width scans)
    events = _spread_by(
        events.select("user_id", "event_id", "ts"), "user_id")
    flagged = events.select(
        "user_id", "event_id", "ts",
        F.when(
            epoch - F.lag(epoch).over(w_user) > gap_s, 1
        ).otherwise(0).alias("new_session"),
    )
    sessioned = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w_user.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessioned.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )


def _components_union_find(edge_rows) -> list:
    """Exact union-find (path compression + union by min) over a
    collected edge list: [(node, root)] with root = component min."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN id so every root is its component's minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(n, find(n)) for n in parent]


# above this many verified dup EDGES the component graph stops being
# "tiny model artifact"-scale and the distributed label-propagation
# loop takes over (collecting would gamble driver memory)
_CC_COLLECT_MAX_EDGES = 2_000_000


def _components_min_label(edges: DataFrame,
                          max_iter: int = 50,
                          collect_max_edges: int | None = None,
                          stats: dict | None = None) -> DataFrame:
    """Connected components over an undirected edge list
    (doc_a, doc_b): returns (node, root) where root is the SMALLEST
    id reachable from node — the canonical representative of its dup
    cluster.

    Two paths, same exact result (property-tested identical):

    - <= _CC_COLLECT_MAX_EDGES verified pairs: collect the edge list
      and run exact union-find on the driver — the ivf-centroid kind
      of small-artifact action (dup PAIRS are metadata-scale next to
      the corpus), one job instead of O(diameter) iterations each
      costing 3 driver actions.
    - above that: driver-side fixed-point min-label propagation; each
      iteration pushes labels one hop (real dup clusters are shallow
      dense blobs; `max_iter` bounds pathological chains, raising on
      non-convergence rather than returning a partial closure). The
      edge/label frames are localCheckpoint'ed between iterations —
      lineage TRUNCATION, not just caching, because the logical plan
      otherwise doubles per iteration and kills the driver on deep
      graphs (see the inline note).

    collect_max_edges overrides _CC_COLLECT_MAX_EDGES (tests/benches
    force the distributed loop on smaller graphs with it); stats, if
    given, is filled with {"path", "edges", "iterations"} so callers
    can report which path ran and how many propagation rounds the
    graph's diameter cost."""
    spark = edges.sparkSession
    # persist before counting: edges' lineage is the LSH + exact-verify
    # pipeline (the job's most expensive stage) — without the cache the
    # size probe would evaluate it once and the collect/localCheckpoint
    # a second time
    edges = edges.select("doc_a", "doc_b").persist()
    try:
        n_edges = edges.count()
        threshold = (_CC_COLLECT_MAX_EDGES if collect_max_edges is None
                     else collect_max_edges)
        if stats is not None:
            stats["edges"] = n_edges
            stats["path"] = ("union_find" if n_edges <= threshold
                             else "distributed")
            stats["iterations"] = 0
        if n_edges <= threshold:
            rows = edges.collect()
            labels = _components_union_find(
                [(r.doc_a, r.doc_b) for r in rows])
            # id type follows the input (string/decimal ids must not
            # hit a hardcoded long schema on this path only)
            id_type = edges.schema["doc_a"].dataType.simpleString()
            return spark.createDataFrame(
                labels, f"node {id_type}, root {id_type}")
        # localCheckpoint, NOT persist: persist() truncates
        # recomputation but the LOGICAL plan still doubles per
        # iteration (labels appears in both the union and the
        # propagation join), so a deep graph blows the driver up
        # during analysis around iteration ~20. localCheckpoint(eager)
        # materializes to executor storage AND cuts the lineage,
        # keeping every iteration's plan constant-size; blocks are
        # released by the ContextCleaner as the old frames GC.
        #
        # r8: sym is HASH-PARTITIONED on doc_a before the checkpoint —
        # LogicalRDD keeps that outputPartitioning, so every
        # iteration's propagation join reuses it and only the (small)
        # label frame moves (guide §2.4: establish a partitioning once
        # and let each keyed consumer inherit it).
        id_type = edges.schema["doc_a"].dataType.simpleString()
        sym = edges.unionByName(
            edges.select(F.col("doc_b").alias("doc_a"),
                         F.col("doc_a").alias("doc_b"))
        ).repartition("doc_a").localCheckpoint(eager=True)
    finally:
        # fast path: rows are collected; distributed: sym is
        # materialized — either way the cached verify pipeline output
        # is no longer needed
        edges.unpersist()
    labels = (
        sym.select(F.col("doc_a").alias("node")).distinct()
        .withColumn("root", F.col("node"))
    )
    changed = 1
    for _it in range(max_iter):
        if stats is not None:
            stats["iterations"] = _it + 1
        # r8: the convergence probe is FUSED into the propagation
        # aggregation — every node's previous root rides along as
        # `prev` (exactly one labels row per node, so max() over the
        # union recovers it; prop rows contribute NULL), and `changed`
        # becomes a cheap scan of the just-checkpointed frame instead
        # of a second shuffle join per iteration (was: join new vs old
        # labels + count = one extra keyed shuffle of the full label
        # frame every round; 5.7s -> 4.2s on the 100k-edge bench
        # graph, and at 100 TB it removes one big-frame join per
        # round).  min(root) semantics are unchanged.
        cur = labels.withColumn("prev", F.col("root"))
        prop = (
            sym.join(cur.select(F.col("node").alias("doc_a"), "root"),
                     "doc_a")
            .select(F.col("doc_b").alias("node"), "root",
                    F.lit(None).cast(id_type).alias("prev"))
        )
        new_labels = (
            cur.unionByName(prop)
            .groupBy("node").agg(F.min("root").alias("root"),
                                 F.max("prev").alias("prev"))
            .localCheckpoint(eager=True)
        )
        changed = new_labels.where(
            F.col("root") != F.col("prev")).count()
        labels = new_labels.select("node", "root")
        if changed == 0:
            break
    if changed != 0:
        # a silently partial closure would dedup incompletely (and
        # diverge from the oracle's exact recursive CTE) — refuse
        raise RuntimeError(
            f"component labels did not converge in {max_iter} "
            f"iterations ({changed} still moving): the dup graph "
            f"has a path-shaped component deeper than max_iter; "
            f"re-run with a larger max_iter")
    return labels


def asof_join(left: DataFrame, right: DataFrame,
              right_cols: list | None = None) -> DataFrame:
    """AS-OF (temporal) join — for each left row, the latest right row
    of the same user_id with right.ts <= left.ts (LEFT semantics: no prior
    right row -> nulls). Spark has no native ASOF operator; the
    scale-correct realization here is the union trick: tag the sides,
    union, and take a running `last(right_payload, ignorenulls)` over
    one (user_id, ts)-ordered window — the whole operator is ONE Exchange
    + Window, no join node, no per-key driver work, so it survives
    100 TB exactly like any other keyed window. Right rows sort before
    left rows at equal ts (side 0 < 1), giving the standard inclusive
    `<=` match; among equal-ts right DUPLICATES the greatest payload
    struct wins deterministically (callers wanting oracle parity with
    DuckDB's ASOF JOIN should hold (user_id, ts) unique on the right,
    as ASOF leaves that tie unspecified).

    Returns every left row + `asof_`-prefixed columns (ts + right_cols)
    of the matched right row."""
    reserved = {"_side", "_r", "_match"}
    clash = reserved & set(left.columns)
    if clash:
        # silently overwriting + dropping a user column would lose data
        raise ValueError(
            f"asof_join reserves column names {sorted(reserved)}; "
            f"rename {sorted(clash)} on the left side first")
    if right_cols is None:  # explicit [] means "matched ts only"
        right_cols = [c for c in right.columns if c not in ("user_id", "ts")]
    r = right.select(
        "user_id", "ts",
        F.struct("ts", *right_cols).alias("_r"),
        F.lit(0).alias("_side"),
    )
    l = left.withColumn("_side", F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)
    return _asof_resolve(u, "user_id", "ts", right_cols, "asof_")


def _asof_resolve(u: DataFrame, on: str, ts: str, rcols: list,
                  prefix: str) -> DataFrame:
    """Shared as-of core over a tagged frame (_side: 1=left 0=right,
    _r: right payload struct or null): running last(ignorenulls) over
    one (key, ts, side, payload)-ordered window, keep left rows,
    flatten the match."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(on)
        .orderBy(F.col(ts).asc(), F.col("_side").asc(),
                 F.col("_r").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    m = u.withColumn("_match", F.last("_r", ignorenulls=True).over(w))
    out = m.where(F.col("_side") == 1).drop("_r", "_side")
    for c in (ts, *rcols):
        out = out.withColumn(prefix + c, F.col(f"_match.{c}"))
    return out.drop("_match")


def asof_join_filtered(df: DataFrame, left_pred, right_pred,
                       on: str = "user_id", ts: str = "ts",
                       right_cols: list | None = None,
                       prefix: str = "asof_") -> DataFrame:
    """As-of join where BOTH sides are predicates over ONE source —
    the common attribution shape (clicks vs views of the same events
    table). The two-DataFrame asof_join would scan the source twice
    (union of two filtered reads); this fused form tags sides with
    CASE expressions in a single pass, so the whole operator is ONE
    pruned scan + ONE Exchange + Window. Result is identical to
    asof_join(df.where(left_pred), df.where(right_pred), ...) when no
    row satisfies both predicates; a both-sides row matches itself
    (inclusive), which the union form also yields unless another
    equal-ts right row out-sorts it — hold (on, ts) unique per side
    (as the registered query's data does) and the edge never fires."""
    reserved = {"_side", "_r", "_match"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"asof_join reserves column names {sorted(reserved)}; "
            f"rename {sorted(clash)} first")
    if right_cols is None:
        right_cols = [c for c in df.columns if c not in (on, ts)]
    u = (
        df.where(left_pred | right_pred)
        .withColumn("_side", F.when(left_pred, 1).otherwise(0))
        .withColumn(
            "_r",
            F.when(right_pred, F.struct(
                F.col(ts).alias(ts),
                *[F.col(c).alias(c) for c in right_cols])),
        )
    )
    return _asof_resolve(u, on, ts, right_cols, prefix)


def dup_components(documents: DataFrame,
                   jaccard_threshold: float = 0.8,
                   num_hashes: int = 32, bands: int = 16,
                   max_bucket: int | None = 1024) -> DataFrame:
    """Near-dup CLUSTERS as a first-class result: minhash-LSH
    candidates verified by exact jaccard, collapsed to connected
    components — returns (doc_id, cluster_root) for every document
    that belongs to a dup cluster (root = smallest member id, the
    canonical representative). This is the clustering view of what
    curate_corpus consumes as a drop rule; a 100 TB curation run
    materializes it once and both dedup and provenance reporting read
    it. SQL-oracled end to end (recursive reachability CTE on the
    DuckDB side)."""
    cand = minhash_lsh_candidates(documents, num_hashes=num_hashes,
                                  bands=bands, max_bucket=max_bucket)
    pairs = ngram_jaccard_pairs(
        documents, threshold=jaccard_threshold, candidates=cand)
    comp = _components_min_label(pairs.select("doc_a", "doc_b"))
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("root").alias("cluster_root"),
    )


def dedup_representatives(documents: DataFrame,
                          jaccard_threshold: float = 0.8,
                          num_hashes: int = 32, bands: int = 16,
                          max_bucket: int | None = 1024) -> DataFrame:
    """Quality-aware cluster representative selection — the
    completion of the dedup DAG that keep-lowest-id skips: for every
    near-dup cluster (dup_components), keep the member with the BEST
    quality score (ties to the smallest doc_id), reporting cluster
    size and how many documents the choice drops. At 100 TB this is
    the difference between keeping an arbitrary member of a
    boilerplate cluster and keeping its cleanest exemplar.

    Scale shape: dup_components' pair-scale frames, one quality join
    on the CLUSTERED docs only (never the whole corpus), argmax via a
    single partial-aggregating max(struct) — no per-cluster window."""
    comp = dup_components(documents, jaccard_threshold, num_hashes,
                          bands, max_bucket)
    q = quality_score(documents).select("doc_id", "quality")
    return (
        comp.join(q, "doc_id")
        .groupBy("cluster_root")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.max(F.struct(
                F.col("quality"), (-F.col("doc_id")).alias("neg_id")
            )).alias("m"),
        )
        .select(
            "cluster_root", "n_members",
            (-F.col("m.neg_id")).cast("bigint").alias("rep_doc_id"),
            F.col("m.quality").alias("rep_quality"),
            (F.col("n_members") - 1).cast("bigint").alias("n_dropped"),
        )
    )


def curate_corpus(documents: DataFrame, quality_min: float = 0.55,
                  jaccard_threshold: float = 0.8,
                  return_clusters: bool = False):
    """END-TO-END training-data curation — the composition a 100 TB
    corpus actually runs:

      1. quality gate   — heuristic score >= quality_min (rounded to
                          6dp on both engines so the boundary is
                          identical in Spark and the SQL oracle)
      2. exact dedup    — keep the min doc_id per md5(text)
      3. near-dup strip — minhash-LSH candidates (16x2 banding:
                          collision probability at jaccard 0.8 is
                          1-(1-0.64)^16 ~ 1-1e-7) verified by exact
                          jaccard, then collapsed to dup CLUSTERS by
                          connected components (min-label
                          propagation): each cluster keeps exactly
                          its smallest doc_id, so chains and stars
                          (A~C, B~C with A!~B) fully collapse instead
                          of leaving pairwise residue

    No cross join, no Python node in any per-document stage; the only
    driver actions are the component loop's convergence counts over
    PAIR-scale frames (see _components_min_label).

    The gated + exact-deduped corpus is persisted because the minhash
    branch, both jaccard sides and the final anti-join all read it,
    and at 100 TB re-running its source scan ~5x is the job's cost.
    The persisted block is left cached for the returned (lazy)
    DataFrame; callers that are done with it can
    spark.catalog.clearCache().

    Returns the surviving (doc_id, source, lang)."""
    q = quality_score(documents).where(
        F.col("quality") >= quality_min).select("doc_id")
    base = documents.join(q, "doc_id").select(
        "doc_id", "text", "source", "lang")
    canon = exact_dedup(base).select(
        F.col("canonical_doc_id").alias("doc_id"))
    exact_kept = base.join(canon, "doc_id").persist()
    cand = minhash_lsh_candidates(exact_kept, num_hashes=32, bands=16)
    dup_pairs = ngram_jaccard_pairs(
        exact_kept, threshold=jaccard_threshold, candidates=cand)
    comp = _components_min_label(dup_pairs.select("doc_a", "doc_b"))
    drops = comp.where(F.col("node") != F.col("root")).select(
        F.col("node").alias("doc_id"))
    kept_out = exact_kept.join(drops, "doc_id", "left_anti").select(
        "doc_id", "source", "lang")
    if return_clusters:
        # the EXACT component frame the drop rule consumed — provenance
        # consumers (e.g. jobs/curate_job.py) must reuse this rather
        # than recomputing dup_components over the raw input, which
        # would both double the dominant stage's cost and report
        # cluster roots the drop rule never saw (quality-failed or
        # exact-duplicate members)
        clusters = comp.select(
            F.col("node").alias("doc_id"),
            F.col("root").alias("cluster_root"))
        return kept_out, clusters
    return kept_out


def cluster_assign(embeddings: DataFrame, n_clusters: int = 4) -> DataFrame:
    """Deterministic corpus bucketing by nearest seed centroid: the
    `n_clusters` lowest vec_ids are the seeds (the canonical
    furthest-point-free init — no RNG state, repartition-invariant),
    every vector goes to its max-cosine seed (ties to the smallest
    seed id via the same round(cos,6)-then-id ordering the ANN
    operators use), and the output is one row per cluster with its
    size and majority label. The assignment is the E-step building
    block of k-means corpus clustering (curriculum bucketing, per-
    cluster dedup budgets); the full iterative fit lives in the IVF
    trainer (ops.ann_ivf).

    Scale shape: the seeds are a broadcast of n_clusters rows against
    the streaming corpus (same join shape as ann_bruteforce); the
    argmax is a max(struct) partial aggregation — NO per-vector
    window, so nothing shuffles the corpus by vec_id; the majority
    vote aggregates k*|labels| rows."""
    from pyspark.sql import Window

    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # norms projected below the join (see _norm)
    corpus = _spread(embeddings).select(
        "vec_id", "label", vec_d.alias("vec")
    ).withColumn("nv", _norm(F.col("vec")))
    seeds = (
        embeddings.orderBy(F.asc("vec_id")).limit(n_clusters)
        .select(F.col("vec_id").alias("seed_id"), vec_d.alias("svec"))
        .withColumn("ns", _norm(F.col("svec")))
    )
    cos = _cosine("vec", "svec", "nv", "ns")
    scored = corpus.join(F.broadcast(seeds)).select(
        "vec_id", "label", "seed_id", F.round(cos, 6).alias("cos")
    )
    # argmax via one partial-aggregating max(struct): (cos DESC,
    # seed_id ASC) == max over (cos, -seed_id)
    assigned = (
        scored.groupBy("vec_id", "label")
        .agg(F.max(F.struct(
            F.col("cos"), (-F.col("seed_id")).alias("neg_seed")
        )).alias("m"))
        .select("vec_id", "label",
                (-F.col("m.neg_seed")).cast("bigint").alias("cluster_id"))
    )
    counts = assigned.groupBy("cluster_id", "label").agg(
        F.count("*").alias("n"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n"), F.asc("label"))
    totals = assigned.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("n_members"))
    best = (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("cluster_id", F.col("label").alias("majority_label"),
                F.col("n").cast("bigint").alias("majority_n"))
    )
    return totals.join(best, "cluster_id").select(
        "cluster_id", "n_members", "majority_label", "majority_n")


def pagerank(edges: DataFrame, n_iter: int = 5) -> DataFrame:
    """Integer-arithmetic PageRank over an edge list (src, dst) — the
    link-graph quality score of a web curation pipeline.  All
    arithmetic is bigint (rank/out_degree and the damping factor via
    floor division), so per-iteration sums are ORDER-INDEPENDENT and
    the result is engine-exact — no float summation drift — which is
    what makes a SQL oracle possible for an iterative algorithm:

        rank_0(v)   = 10^12 // N
        contrib_i(v)= sum over edges (u -> v) of rank_i(u) // outdeg(u)
        rank_{i+1}(v) = (15 * (10^12 // N)) // 100
                        + (85 * contrib_i(v)) // 100

    Dangling-node mass is dropped (not redistributed) — documented
    deviation from the textbook formulation, shared by the oracle.

    Scale shape: per iteration ONE src-keyed join (rank × out-degree
    ride together), one dst-keyed partial aggregation, one left join
    back to the static node set; lineage is truncated with
    localCheckpoint every 4 iterations (same pattern
    as the distributed connected-components loop), so the plan stays
    constant-size at any iteration count.  The only driver action is
    the node count (a scalar)."""
    src_nodes = edges.select(F.col("src").alias("node"))
    dst_nodes = edges.select(F.col("dst").alias("node"))
    nodes = src_nodes.union(dst_nodes).distinct()
    outdeg = edges.groupBy("src").agg(
        F.count("*").cast("bigint").alias("outdeg"))
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0).cast("bigint"))
    r0 = 10 ** 12 // n
    base = (15 * r0) // 100
    ranks = nodes.withColumn("rank", F.lit(r0).cast("bigint"))
    for it in range(n_iter):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(F.col("dst").alias("node"),
                    F.expr("rank div outdeg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").cast("bigint").alias("contrib"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (F.lit(base)
             + F.expr("85 * coalesce(contrib, 0L) div 100"))
            .cast("bigint").alias("rank"),
        )
        if (it + 1) % 4 == 0 and it + 1 < n_iter:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def interval_join(events: DataFrame, windows: DataFrame) -> DataFrame:
    """Range/interval join without the nested-loop trap: match events
    (ts) into windows [w_start, w_end] by exploding each window into
    the one-day time BINS it overlaps, equi-joining on the bin, and applying
    the exact BETWEEN predicate after.  A naive ts-BETWEEN join plans
    BroadcastNestedLoop/Cartesian (every event against every window);
    the bin key turns it into an ordinary hash/sort-merge equi-join
    whose fan-out is bounded by window_length/86400 s + 1 — the
    standard scale shape for interval joins (plan-audited: no BNLJ).

    windows: (window_id string, w_start timestamp, w_end timestamp),
    end inclusive.  Returns the matched (window_id, event) pairs."""
    w = windows.withColumn(
        "bin",
        F.explode(F.sequence(
            F.floor(F.unix_timestamp("w_start") / 86400).cast("bigint"),
            F.floor(F.unix_timestamp("w_end") / 86400).cast("bigint"),
        )),
    )
    e = events.withColumn(
        "bin",
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint"),
    )
    return (
        e.join(w, "bin")
        .where((F.col("ts") >= F.col("w_start"))
               & (F.col("ts") <= F.col("w_end")))
        .drop("bin")
    )


def strip_dup_passages(documents: DataFrame, n: int = 8) -> DataFrame:
    """The ACTION half of the Lee et al. 2021 ExactSubstr pair
    (dup_passages annotates; this deletes): remove every word position
    covered by an n-gram that also occurs in at least one OTHER
    document, and rebuild the document from the surviving words.
    Word-level granularity (the public method deletes the duplicated
    character span; words are the tokenization this corpus' oracles
    share), total: sub-n-token documents pass through unchanged.

    Scale shape (r8): gram starts explode once (md5 keys, constant
    shuffle width), doc-frequency is a partial aggregate, and the
    duplicated START positions come back as ONE per-doc array — the
    covered index set and the rebuild are then per-row array
    expressions (flatten/sequence/filter-with-index/array_join). The
    r7 form exploded every covered position (n rows per duplicated
    start), distinct'd that corpus-scale frame, posexploded the full
    token stream again, anti-joined, and rebuilt via
    collect_list+sort — three corpus-wide shuffles the array form
    never performs (output verified tuple-equal at sf0.1; oracle
    green)."""
    spine = _words(documents, "doc_id")
    starts = spine.select(
        "doc_id",
        F.posexplode(_word_ngrams(F.col("w"), n)).alias("start", "gram"),
    ).select("doc_id", "start", F.md5("gram").alias("gkey"))
    dup_keys = _dup_gram_keys(
        starts.select("gkey", "doc_id").distinct()).select("gkey")
    per_doc_cov = (
        starts.join(dup_keys, "gkey")
        .groupBy("doc_id")
        .agg(F.collect_list("start").alias("sts"))
        .select("doc_id", F.array_distinct(F.expr(
            f"flatten(transform(sts, s -> sequence(s, s + {n - 1})))"
        )).alias("cov"))
    )
    joined = spine.join(per_doc_cov, "doc_id", "left")
    cov = F.coalesce(F.col("cov"), F.expr("array()").cast("array<int>"))
    kept_words = F.filter(
        F.col("w"), lambda x, i: ~F.array_contains(cov, i))
    return joined.select(
        "doc_id",
        F.array_join(kept_words, " ").alias("clean_text"),
        F.size("w").cast("int").alias("n_words"),
        (F.size("w") - F.size(kept_words)).cast("int").alias("n_removed"),
    )


def edit_distance_pairs(documents: DataFrame, shingle_n: int = 3,
                        threshold: float = 0.5, *,
                        candidates: DataFrame) -> DataFrame:
    """Character-level edit-distance verification of the near-dup pair
    set — the refinement stage AFTER shingle-Jaccard: two documents can
    share most word shingles yet differ char-wise (inline edits,
    rewrites inside words), and Levenshtein similarity quantifies that
    residual difference per pair.

    Engine-exactness note (why `ascii_only` exists): Spark's built-in
    `levenshtein` counts CODEPOINT edits while DuckDB's (the oracle)
    counts BYTE edits — they agree exactly on pure-ASCII strings and
    are allowed to disagree elsewhere. So the distance is computed only
    for pairs where BOTH texts are ASCII (detected identically in both
    engines: octet_length == char length); non-ASCII pairs surface
    `ascii_only=false` with NULL distance/similarity rather than an
    engine-dependent number.

    Scale shape: pairs come from the LSH candidate path (never
    all-pairs), texts join back by doc_id (two equi-joins; AQE
    broadcasts the small pair side), and the distance itself is a
    per-row JVM expression — no Python stage, no shuffle beyond the
    joins. Levenshtein is O(len_a * len_b) per pair, so the op belongs
    strictly AFTER candidate pruning, never before it.
    """
    pairs = ngram_jaccard_pairs(
        documents, shingle_n=shingle_n, threshold=threshold,
        candidates=candidates,
    ).select("doc_a", "doc_b")
    ta = documents.select(F.col("doc_id").alias("doc_a"),
                          F.col("text").alias("_ta"))
    tb = documents.select(F.col("doc_id").alias("doc_b"),
                          F.col("text").alias("_tb"))
    j = pairs.join(ta, "doc_a").join(tb, "doc_b")
    ascii_both = (
        (F.octet_length("_ta") == F.length("_ta"))
        & (F.octet_length("_tb") == F.length("_tb"))
    )
    dist = F.when(ascii_both, F.levenshtein("_ta", "_tb"))
    max_len = F.greatest(F.length("_ta"), F.length("_tb"), F.lit(1))
    return j.select(
        "doc_a", "doc_b",
        ascii_both.alias("ascii_only"),
        dist.cast("int").alias("edit_distance"),
        F.round(
            F.lit(1.0) - dist.cast("double") / max_len.cast("double"), 6
        ).alias("edit_similarity"),
    )


# BM25 term-frequency saturation and length normalization, shared by
# bm25_search and rag_retrieval (their DuckDB oracles write the same
# literals)
_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_search(documents: DataFrame,
                terms: tuple = ("spark", "window", "merge"),
                k: int = 10) -> DataFrame:
    """BM25 keyword retrieval (Robertson/Sparck Jones Okapi family)
    over the corpus for a FIXED literal term list, returning the top-k
    documents. One deliberate, documented deviation from textbook
    BM25 for engine exactness: the IDF factor is the log-FREE rational
    (N - df + 0.5) / (df + 0.5) — the argument of the classic ln() —
    because IEEE +,*,/ are exactly reproducible across engines while
    libm's log is not. Monotone per term, so single-term rankings are
    identical to classic BM25; multi-term blends weight rare terms
    more steeply. The whole score is a per-row double expression with
    a FIXED parenthesization mirrored token-for-token in the DuckDB
    oracle, so the two engines produce bit-identical doubles.

    Scale shape: corpus stats (N, sum_dl, per-term df) are ONE
    partial-aggregating pass reduced to a single broadcast row; the
    score is whole-stage-codegen arithmetic (no UDF, no shuffle); the
    top-k is TakeOrderedAndProject (never a global sort); the rank
    window runs on k rows. At 100 TB this is one scan + one broadcast.
    """
    words = F.split(F.col("text"), " ")
    aggs = [
        F.count("*").cast("double").alias("n_docs"),
        F.sum(F.size(words)).cast("double").alias("sum_dl"),
    ]
    for i, t in enumerate(terms):
        aggs.append(
            F.sum(F.array_contains(words, t).cast("int"))
            .cast("double").alias(f"df_{i}"))
    stats = documents.agg(*aggs)
    dl = F.size(words).cast("double")
    avgdl = F.col("sum_dl") / F.col("n_docs")
    score = None
    for i, t in enumerate(terms):
        tf = F.size(F.filter(words, lambda x: x == F.lit(t))).cast("double")
        idf = (
            (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
        )
        denom = tf + F.lit(_BM25_K1) * (
            F.lit(1.0 - _BM25_B) + (F.lit(_BM25_B) * dl) / avgdl)
        si = idf * ((tf * F.lit(_BM25_K1 + 1.0)) / denom)
        score = si if score is None else score + si
    top = (
        documents.crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score"), "doc_id")
    return top.select(
        "doc_id", "score",
        F.row_number().over(w).cast("int").alias("rank"),
    )


def rag_retrieval(turns: DataFrame, documents: DataFrame,
                  k: int = 3) -> DataFrame:
    """RAG training-prep retrieval JOIN: for every first user turn
    (the prompt), the BM25 top-k documents from the corpus — the step
    that pairs transcripts with retrieved context before SFT. Unlike
    bm25_search's fixed literal term list, this scores EVERY prompt
    against EVERY matching document through a real inverted-index
    join, which is how retrieval runs at corpus scale.

    Engine exactness: same log-free rational IDF as bm25_search (its
    documented deviation), and the per-(prompt, doc) term-score sum is
    ORDER-CANONICALIZED — scores collect into a token-sorted list and
    fold left-to-right (F.aggregate here, list_sum over an ordered
    list in the oracle) so float summation order cannot differ between
    engines. All shared literals (k1+1 etc.) are written as literal
    doubles on both sides, never re-derived arithmetic.

    Scale shape: postings and document frequencies are token-keyed
    partial aggregations; the retrieval join is keyed by token (the
    inverted index — never prompt x corpus); per-(prompt, doc) fold
    state is bounded by the prompt's distinct-token count; top-k is a
    per-prompt window over matched docs only. Corpus stats broadcast
    as one row."""
    from pyspark.sql import Window

    prompts = (
        turns.where((F.col("role") == "user") & (F.col("turn_idx") == 0))
        .select(
            "conv_id", "turn_idx",
            F.explode(F.array_distinct(F.split(
                F.coalesce(F.col("extracted_text"), F.lit("")), " ")))
            .alias("token"))
        .where(F.col("token") != "")
    )
    words = F.split(F.col("text"), " ")
    dw = documents.select("doc_id", words.alias("ws"))
    stats = dw.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum(F.size("ws")).cast("double").alias("sum_dl"),
    )
    post = (
        dw.select("doc_id", F.size("ws").cast("double").alias("dl"),
                  F.explode("ws").alias("token"))
        .where(F.col("token") != "")
        .groupBy("doc_id", "dl", "token")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    dfreq = post.groupBy("token").agg(
        F.count("*").cast("double").alias("df"))
    avgdl = F.col("sum_dl") / F.col("n_docs")
    idf = ((F.col("n_docs") - F.col("df") + F.lit(0.5))
           / (F.col("df") + F.lit(0.5)))
    denom = (F.col("tf") + F.lit(_BM25_K1)
             * (F.lit(1.0 - _BM25_B) + (F.lit(_BM25_B) * F.col("dl")) / avgdl))
    si = idf * ((F.col("tf") * F.lit(_BM25_K1 + 1.0)) / denom)
    scored = (
        prompts.join(dfreq, "token")
        .join(post, "token")
        .crossJoin(F.broadcast(stats))
        .select("conv_id", "turn_idx", "doc_id", "token",
                si.alias("si"))
    )
    folded = (
        scored.groupBy("conv_id", "turn_idx", "doc_id")
        .agg(F.array_sort(F.collect_list(
            F.struct(F.col("token"), F.col("si")))).alias("_terms"))
        .select(
            "conv_id", "turn_idx", "doc_id",
            F.round(F.aggregate(
                F.col("_terms"), F.lit(0.0),
                lambda acc, t: acc + t.getField("si")), 6)
            .alias("score"))
    )
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(
        F.desc("score"), F.asc("doc_id"))
    return (
        folded.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def ccnet_split(documents: DataFrame) -> DataFrame:
    """CCNet-style corpus split (Wenzek et al. 2019: head/middle/tail
    by language-model perplexity, per language). Engine-exact variant:
    instead of a float LM, each word's surprisal is the INTEGER bit
    count  bit_length(N_lang) - bit_length(c(lang, word))  — i.e.
    floor-log2 of (corpus tokens / word count), within 1 bit of the
    true unigram -log2 p(w). Per-doc mean surprisal then terciles WITHIN
    each language (ntile(3), deterministic (mean, doc_id) order):
    1=head (most predictable), 2=middle, 3=tail. All arithmetic is
    integer + one final division, so both engines agree bit-for-bit —
    no libm log anywhere (bit_length == length(bin(x)) in both).

    Scale shape: token explode -> per-(doc, word) tf collapse (partial
    agg) -> vocab equi-join keyed by (lang, word) -> one doc_id agg.
    The tercile is a per-language window; at 100 TB you would pin the
    two band thresholds from approx quantiles on a sample instead of
    sorting every language partition (the CCNet paper itself uses
    fixed thresholds computed once) — documented trade: this form is
    exact for the correctness gate, the threshold form is the
    cheap-scale deployment with identical semantics at fixed cuts.
    """
    from pyspark.sql import Window

    words = F.split(F.col("text"), " ")
    toks = _spread(documents).select(
        "doc_id", "lang", F.explode(words).alias("word"))
    tf = toks.groupBy("doc_id", "lang", "word").agg(
        F.count("*").alias("tf"))
    vocab = tf.groupBy("lang", "word").agg(F.sum("tf").alias("c"))
    lang_tot = vocab.groupBy("lang").agg(F.sum("c").alias("n_lang"))
    band = (F.length(F.bin(F.col("n_lang")))
            - F.length(F.bin(F.col("c"))))
    per_doc = (
        tf.join(vocab, ["lang", "word"]).join(lang_tot, "lang")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("tf") * band).alias("surprisal_sum"),
             F.sum("tf").alias("n_words"))
    )
    scored = per_doc.select(
        "doc_id", "lang",
        F.col("n_words").cast("int").alias("n_words"),
        F.col("surprisal_sum").cast("bigint").alias("surprisal_sum"),
        F.round(
            F.col("surprisal_sum").cast("double")
            / F.col("n_words").cast("double"), 6).alias("surprisal_mean"),
    )
    w = Window.partitionBy("lang").orderBy("surprisal_mean", "doc_id")
    tercile = F.ntile(3).over(w)
    return scored.select(
        "doc_id", "lang", "n_words", "surprisal_sum", "surprisal_mean",
        F.when(tercile == 1, F.lit("head"))
        .when(tercile == 2, F.lit("middle"))
        .otherwise(F.lit("tail")).alias("bucket"),
    )


def ngram_diversity(documents: DataFrame, n: int = 2) -> DataFrame:
    """Distinct-n corpus diversity (Li et al. 2016, "A Diversity-
    Promoting Objective Function": distinct n-grams / total n-grams),
    per language, plus the singleton fraction (grams seen exactly
    once). Low distinct-n flags mode collapse / templated spans in
    generated or scraped corpora; the singleton mass is the tail the
    dedup stages cannot compress.

    Scale shape: one n-gram explode, then exact two-stage counting —
    a (lang, gram) pre-aggregate (partial, map-side combine) feeding a
    per-lang rollup, so the big shuffle carries one row per DISTINCT
    gram, not per occurrence. No window, no driver participation.
    """
    grams = _words(documents, "lang").select(
        "lang", F.explode(_word_ngrams(F.col("w"), n)).alias("gram"))
    per_gram = grams.groupBy("lang", "gram").agg(
        F.count("*").alias("c"))
    return (
        per_gram.groupBy("lang")
        .agg(
            F.sum("c").cast("bigint").alias("n_grams_total"),
            F.count("*").cast("bigint").alias("n_grams_distinct"),
            F.sum((F.col("c") == 1).cast("int")).cast("bigint")
            .alias("n_singletons"),
        )
        .select(
            "lang", "n_grams_total", "n_grams_distinct", "n_singletons",
            F.round(
                F.col("n_grams_distinct").cast("double")
                / F.col("n_grams_total").cast("double"), 6)
            .alias("distinct_ratio"),
            F.round(
                F.col("n_singletons").cast("double")
                / F.col("n_grams_total").cast("double"), 6)
            .alias("singleton_ratio"),
        )
    )
