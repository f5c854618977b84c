"""Large-scale training-data pipeline operators.

Everything here is expressed with JVM-side built-ins (higher-order array
functions, hash functions, window aggregates) — no Python in the hot
path — so plans stay inside whole-stage codegen and scale with executor
count.  Each op returns a DataFrame with stable, explicitly-aliased
columns so results can be oracle-checked externally.

Ops: exact/near dedup (hash, n-gram Jaccard, MinHash-LSH, SimHash),
similarity search (quantized cosine brute force + LSH-bucketed ANN),
text analysis (tokenization, quality scores, language id, rolling-hash
fingerprint), and an as-of join for event streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------

def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via content hash: groups with >1 doc.
    Hash-groupBy; partial aggregation makes this one light shuffle of
    (hash, count) pairs at scale."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .where(F.col("n_copies") > 1)
    )


def exact_dedup_assignment(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc dedup assignment: content hash, copy count, canonical doc
    (min doc_id per content group) and a duplicate flag — the form a
    training pipeline consumes to filter/keep documents."""
    w = Window.partitionBy("content_hash")
    return (
        docs.withColumn("content_hash", F.md5(F.col(text_col)))
        .select(
            "doc_id",
            "content_hash",
            F.count(F.lit(1)).over(w).alias("n_copies"),
            F.min("doc_id").over(w).alias("keep_doc_id"),
        )
        .withColumn("is_duplicate", F.col("doc_id") != F.col("keep_doc_id"))
    )


def _words(text_col: str):
    return F.split(F.lower(F.col(text_col)), " ")


def shingle_df(
    docs: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, shingle) pairs — distinct word n-grams per document.

    Docs with fewer than ``n`` words contribute no shingles (guarded:
    Spark's ``sequence(0, size - n)`` is DESCENDING when size < n and
    would emit junk slices).

    Per-doc dedup happens INSIDE the array expression (array_distinct
    before the explode) rather than as a DataFrame ``.distinct()`` —
    same result, but zero Exchange: a corpus-wide hash-shuffle of every
    (doc_id, shingle) pair is exactly the kind of cost that dominates at
    100 TB, and dedup within one document never needs other documents."""
    w = _words(text_col)
    shingles = F.expr(
        f"CASE WHEN size(split(lower({text_col}), ' ')) >= {n} THEN "
        f"array_distinct("
        f"transform(sequence(0, size(split(lower({text_col}), ' ')) - {n}), "
        f"i -> concat_ws(' ', slice(split(lower({text_col}), ' '), i + 1, {n})))"
        f") ELSE array() END"
    )
    return docs.select("doc_id", F.explode(shingles).alias("shingle"))


def jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.4,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard similarity.

    Relational formulation: explode shingles, self-join on shingle to get
    intersection counts, derive union from per-doc set sizes.  Exact but
    O(sum over shingles of freq^2) — a single stop-shingle appearing in
    10^6 docs generates 10^12 candidate pairs.  ``max_shingle_freq``
    drops shingles above that document frequency from CANDIDATE
    GENERATION (the standard stop-shingle cut): recall-approximate
    (pairs sharing only ultra-common shingles are missed; reported
    similarities for surviving pairs also ignore those shingles), which
    is the correct trade at corpus scale — the dropped shingles carry no
    near-dup signal.  The fully exact form (None) remains the
    verification oracle; :func:`minhash_lsh` is the other scale path.
    """
    sh = shingle_df(docs, text_col, n)
    if max_shingle_freq is not None:
        # over-cap shingles via groupBy (map-side partial agg — no
        # single-task window hotspot on exactly the hot shingles this
        # cap exists to drop), then a broadcast anti-join: the over-cap
        # set is tiny by construction
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b")
    )
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "n_common", "jaccard")


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 5,
    mask_digits: bool = False,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word n-gram with an evaluation/benchmark corpus — the standard
    train-test overlap scrub for LLM training data (n-gram collision;
    real pipelines use n around 8-13, smaller here because the synthetic
    docs are short).

    Scale shape: the benchmark side is tiny by definition (eval sets are
    megabytes against a 100 TB corpus), so its distinct shingle set is
    broadcast and the training side streams map-side through one
    broadcast hash join; the only shuffle moves (doc_id, count) partial
    aggregates.  Never all-pairs, never a sort.

    Returns one row per training doc:
    (doc_id, n_contaminated_ngrams, contaminated) where
    ``n_contaminated_ngrams`` counts DISTINCT overlapping n-grams and
    docs with fewer than ``n`` words are trivially clean.

    Normalization: case folds via the shared shingle path (lower());
    ``mask_digits=True`` additionally collapses every digit run to
    ``0`` on BOTH sides before shingling (the common eval-scrub
    variant — numeric paraphrases like 'answer is 42' vs 'answer is 7'
    still collide).  Pure JVM regexp projection, no extra pass."""
    if mask_digits:
        def _mask(df):
            return df.withColumn(
                text_col, F.regexp_replace(F.col(text_col), "[0-9]+", "0")
            )

        docs_sh_in, benchmark = _mask(docs), _mask(benchmark)
    else:
        docs_sh_in = docs
    bench_sh = (
        shingle_df(benchmark, text_col, n).select("shingle").distinct()
    )
    sh = shingle_df(docs_sh_in, text_col, n)
    hits = (
        sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
    )
    n_hits = F.coalesce("n_contaminated_ngrams", F.lit(0))
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            n_hits.alias("n_contaminated_ngrams"),
            (n_hits > 0).cast("int").alias("contaminated"),
        )
    )


# Portable seeded string hash, expressible identically in Spark SQL and
# DuckDB SQL (the driver's oracle engine has no xxhash64): with
# A = sum_i ascii(s_i) * i and B = sum_i ascii(s_i)  (i 1-based),
#   h(s, k) = (48271*A + (k+1)*16807*B) mod (2^31 - 1).
# All intermediates fit int64 without inner mods for texts < ~100k chars
# (48271*A <= 48271*127*L^2/2), so both engines compute bit-identical
# values.  Weaker than xxhash64 as a permutation, but it preserves the
# property dedup relies on (equal shingle sets => equal signatures);
# xxhash64 stays the production default.
PORTABLE_MOD = 2147483647


def _portable_ab(col: str) -> tuple:
    A = F.expr(
        f"aggregate(sequence(1, length({col})), 0L, "
        f"(acc, i) -> acc + ascii(substring({col}, i, 1)) * i)"
    )
    B = F.expr(
        f"aggregate(sequence(1, length({col})), 0L, "
        f"(acc, i) -> acc + ascii(substring({col}, i, 1)))"
    )
    return A, B


def _portable_hash(A, B, seed: int):
    return (F.lit(48271) * A + F.lit((seed + 1) * 16807) * B) % F.lit(
        PORTABLE_MOD
    )


# the same hash as a self-contained SQL fragment over a lambda variable
# ``w`` (seed 0) — single source of truth for every expression-level use
# (simhash, tokenize); keep in sync with _portable_ab/_portable_hash
PORTABLE_WORD_HASH_SQL = (
    "(48271 * aggregate(sequence(1, length(w)), 0L, "
    "(acc, i) -> acc + ascii(substring(w, i, 1)) * i) "
    "+ 16807 * aggregate(sequence(1, length(w)), 0L, "
    "(acc, i) -> acc + ascii(substring(w, i, 1)))) "
    f"% {PORTABLE_MOD}"
)


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 16,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures: min over shingles of hash(shingle, seed_k).
    One shuffle (groupBy doc); signature width is a constant.
    ``hash_fn='portable'`` switches to the SQL-expressible integer mix
    (see PORTABLE_MOD note) so results can be oracle-checked in DuckDB;
    the default stays xxhash64 for production hash quality."""
    sh = shingle_df(docs, text_col, n)
    if hash_fn == "portable":
        A, B = _portable_ab("shingle")
        sh = sh.withColumn("_a", A).withColumn("_b", B)
        aggs = [
            F.min(_portable_hash(F.col("_a"), F.col("_b"), k)).alias(f"mh{k}")
            for k in range(n_hashes)
        ]
    else:
        aggs = [
            F.min(F.xxhash64(F.col("shingle"), F.lit(k))).alias(f"mh{k}")
            for k in range(n_hashes)
        ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """LSH banding: docs sharing any band of the MinHash signature become
    candidate near-duplicate pairs.  Candidate generation is a self-join
    on (band_id, band_hash) buckets — no all-pairs blowup."""
    rows = n_hashes // bands
    sig = minhash_signatures(docs, text_col, n, n_hashes, hash_fn)
    if hash_fn == "portable":
        def _bhash(b):
            acc = F.lit(0)
            for r in range(rows):
                acc = acc + F.col(f"mh{b * rows + r}") * F.lit((r + 1) * 48271)
            return acc % F.lit(PORTABLE_MOD)
    else:
        def _bhash(b):
            return F.xxhash64(*[F.col(f"mh{b * rows + r}") for r in range(rows)])
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            _bhash(b).alias("bhash"),
        )
        for b in range(bands)
    ]
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bhash").alias("bhash"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bhash"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    bits: int = 32,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash fingerprint: sign-sum of word-hash bits.

    For each of ``bits`` positions, the bit is 1 iff more word hashes
    have that bit set than not.  Expressed with aggregate() over the word
    array — fully JVM-side.  ``hash_fn='portable'`` uses the
    SQL-expressible 31-bit hash (bits must be <= 31) so the fingerprint
    can be value-checked in DuckDB; xxhash64 is the production default."""
    if hash_fn == "portable":
        if bits > 31:
            raise ValueError("portable hash yields 31 bits")
        wh = PORTABLE_WORD_HASH_SQL
    else:
        wh = "xxhash64(w)"
    # ONE aggregate pass folding all bit-sums at once: the word-hash
    # array is the aggregate's INPUT (evaluated once), not a
    # subexpression inside a per-bit lambda — Spark re-evaluates
    # lambda-invariant subexpressions per invocation, so the naive
    # per-bit formulation recomputed every word's hash `bits` times
    # (measured: q_simhash 15 s -> 1 s at sf0.01 for the portable hash)
    bit_sums = F.expr(
        "aggregate("
        "transform(split(lower({t}), ' '), w -> {h}), "
        "array_repeat(0L, {b}), "
        "(acc, h) -> zip_with(acc, sequence(0, {b} - 1), (a, bit) -> "
        "a + (CASE WHEN (h >> bit) % 2 != 0 THEN 1 ELSE -1 END)))".format(
            t=text_col, h=wh, b=bits
        )
    )
    sh = F.expr(
        "aggregate(transform(sequence(0, {b} - 1), bit -> "
        "CASE WHEN bitsums[bit] > 0 THEN shiftleft(1L, bit) ELSE 0L END), "
        "0L, (acc, v) -> acc + v)".format(b=bits)
    )
    return docs.withColumn("bitsums", bit_sums).select(
        "doc_id", sh.alias("simhash")
    )


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

def quantize_embeddings(
    emb: DataFrame, col: str = "embedding", scale: int = 10_000
) -> DataFrame:
    """float32 embedding -> int64 vector (floor(v*scale)): makes dot
    products exact integers, so similarity is reproducible bit-for-bit
    across engines."""
    q = F.expr(
        f"transform({col}, v -> cast(floor(cast(v as double) * {scale}) as bigint))"
    )
    norm = F.expr(
        "aggregate(qvec, 0L, (acc, v) -> acc + v * v)"
    )
    return emb.withColumn("qvec", q).withColumn("qnorm", norm)


def _cosine_col(dot, norm_prod):
    """dot / sqrt(norm_a * norm_b), NULL when either vector is zero —
    cosine is undefined there and Spark's ANSI mode turns the division
    into a runtime DIVIDE_BY_ZERO crash; NULL rows fall out of every
    downstream threshold filter / top-k sort.  ``norm_prod`` must be
    the product of ALREADY-double norms: an int64 product overflows at
    qnorm ~3e9 (any embedding with |v| > ~2.3 at the 1e4 quantization
    scale), which ANSI mode turns into an ARITHMETIC_OVERFLOW crash —
    every oracle computes the identical double x double product."""
    denom = F.sqrt(norm_prod)
    return F.when(denom > 0, dot / denom)


def cosine_pairs(
    emb: DataFrame,
    n_queries: int = 5,
    threshold: float = 0.2,
    id_col: str = "vec_id",
    query_offset: int = 0,
    query_df: DataFrame | None = None,
) -> DataFrame:
    """Brute-force cosine similarity of ``n_queries`` vectors (ids in
    ``[query_offset, query_offset + n_queries)``) against the whole
    table (the exact baseline for ANN).  Broadcast the tiny query side;
    candidates stream map-side — scales linearly.  ``query_offset``
    exists so evaluation queries can be chosen DISJOINT from the IVF
    seed window — a query that is itself a centroid gets its own
    inverted list and reads artificially high recall (the round-3
    measurement trap in BENCH.md).

    ``query_df``: EXTERNAL query vectors ``(<id_col>, embedding)``
    instead of a window of the table itself — the user-facing search
    path (query ids are their own namespace, so candidates are not
    self-filtered).  Must be small enough to broadcast, like the
    in-table query window."""
    q = quantize_embeddings(emb)
    if query_df is not None:
        queries = quantize_embeddings(query_df).select(
            F.col(id_col).alias("query_id"),
            F.col("qvec").alias("q_qvec"),
            F.col("qnorm").alias("q_qnorm"),
        )
    else:
        queries = q.where(
            (F.col(id_col) >= query_offset)
            & (F.col(id_col) < query_offset + n_queries)
        ).select(
            F.col(id_col).alias("query_id"),
            F.col("qvec").alias("q_qvec"),
            F.col("qnorm").alias("q_qnorm"),
        )
    cand = q.select(
        F.col(id_col).alias("cand_id"), "qvec", "qnorm"
    )
    dot = F.expr(
        "aggregate(zip_with(q_qvec, qvec, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    )
    joined = cand.crossJoin(F.broadcast(queries))
    if query_df is None:
        joined = joined.where(F.col("query_id") != F.col("cand_id"))
    out = (
        joined
        .withColumn("dot", dot)
        .withColumn(
            "cosine",
            _cosine_col(
                F.col("dot"),
                F.col("q_qnorm").cast("double") * F.col("qnorm").cast("double"),
            ),
        )
        .where(F.col("cosine") > threshold)
    )
    return out.select(
        "query_id", "cand_id", F.round("cosine", 6).alias("cosine_r6")
    )


#: per-(query, shard) group-size target for the partial top-k: the
#: ``collect_list`` in phase 1 buffers a whole group before the slice,
#: so the shard count must GROW with the candidate set to keep that
#: buffer bounded (~100k structs ≈ a few MB) — a fixed ``shards=32``
#: at 10^9 candidates would put ~3×10^7 structs in one
#: ObjectHashAggregate buffer.
TOPK_GROUP_TARGET = 100_000
#: above this many shards, phase 2 merges through an intermediate
#: tree level so no merge group ever collects more than
#: ``TOPK_TREE_FANIN * k`` survivors.
TOPK_TREE_FANIN = 64


def adaptive_topk_shards(n_candidates: int) -> int:
    """Shard count for :func:`_two_phase_topk` sized to the candidate
    count: ``ceil(n / TOPK_GROUP_TARGET)``, floor 32 (keeps small inputs
    parallel), cap ``TOPK_TREE_FANIN**2`` (with the tree merge that
    bounds every phase at ~fan-in * k survivors up to ~4×10^11
    candidates per query)."""
    return max(32, min(TOPK_TREE_FANIN * TOPK_TREE_FANIN,
                       -(-int(n_candidates) // TOPK_GROUP_TARGET)))


def _two_phase_topk(pairs: DataFrame, k: int, shards: int) -> DataFrame:
    """Scale-safe exact top-k per query over (query_id, cand_id,
    cosine_r6) pairs.

    Phase 1 shards candidates by ``pmod(cand_id, shards)`` and keeps a
    per-(query, shard) partial top-k with ``slice(array_sort(...), 1,
    k)`` — a hash aggregate with map-side combine, so no single task
    ever sorts more than its own partition's rows.  Phase 2 merges the
    ``shards * k`` survivors per query (a bounded set) the same way and
    posexplodes ranks; when ``shards > TOPK_TREE_FANIN`` an extra tree
    level (merge by ``pmod(_shard, fan-in)`` first) keeps every merge
    group at ≤ ``TOPK_TREE_FANIN * k`` survivors.  Callers size
    ``shards`` with :func:`adaptive_topk_shards` so phase-1 groups stay
    ~``TOPK_GROUP_TARGET`` rows regardless of N.  The sort key ascending
    (-cosine, cand_id) == (cosine desc, cand_id asc), matching the
    window oracle's tie-break.  Replaces the per-query full-N window
    sort that was the one per-query single-reducer hotspot at 10^9
    candidates."""
    item = F.struct(
        (-F.col("cosine_r6")).alias("neg"),
        F.col("cand_id").alias("cand_id"),
        F.col("cosine_r6").alias("cosine_r6"),
    )
    partial = (
        pairs.groupBy("query_id", F.pmod("cand_id", F.lit(shards)).alias("_shard"))
        .agg(
            F.slice(F.array_sort(F.collect_list(item)), 1, k).alias("top")
        )
    )
    if shards > TOPK_TREE_FANIN:
        partial = (
            partial.select("query_id", "_shard", F.explode("top").alias("it"))
            .groupBy(
                "query_id",
                F.pmod("_shard", F.lit(TOPK_TREE_FANIN)).alias("_shard"),
            )
            .agg(F.slice(F.array_sort(F.collect_list("it")), 1, k).alias("top"))
        )
    merged = (
        partial.select("query_id", F.explode("top").alias("it"))
        .groupBy("query_id")
        .agg(F.slice(F.array_sort(F.collect_list("it")), 1, k).alias("top"))
    )
    return merged.select(
        "query_id", F.posexplode("top").alias("pos", "it")
    ).select(
        "query_id",
        F.col("it.cand_id").alias("cand_id"),
        F.col("it.cosine_r6").alias("cosine_r6"),
        (F.col("pos") + 1).alias("rank"),
    )


def cosine_topk(
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    id_col: str = "vec_id",
    shards: int | None = None,
    query_offset: int = 0,
    query_df: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query via the two-phase partial top-k
    (see :func:`_two_phase_topk`) over brute-force scores.  ``shards``
    defaults to :func:`adaptive_topk_shards` of the candidate count (one
    cheap metadata-level ``count()``), so phase-1 buffers stay bounded
    at any N; pass an explicit value to skip the count job.
    ``query_df``: search with external query vectors (see
    :func:`cosine_pairs`)."""
    if shards is None:
        shards = adaptive_topk_shards(emb.count())
    pairs = cosine_pairs(emb, n_queries, threshold=-1.1, id_col=id_col,
                         query_offset=query_offset, query_df=query_df)
    return _two_phase_topk(pairs, k, shards)


def ivf_centroid_rows(emb: DataFrame, n_centroids: int, id_col: str = "vec_id"):
    """Deterministic coarse quantizer for IVF: the first ``n_centroids``
    quantized vectors act as centroids — the seeded stand-in for a
    k-means train step (a production build k-means a sample; the
    assignment / probe / list-join plumbing below is identical either
    way).  Tiny, bounded driver-side materialization (like the fit
    stage's sample)."""
    q = quantize_embeddings(emb)
    rows = (
        q.where(F.col(id_col) < n_centroids)
        .select(F.col(id_col).alias("cid"), "qvec", "qnorm")
        .collect()
    )
    return [(int(r["cid"]), [int(v) for v in r["qvec"]], int(r["qnorm"]))
            for r in rows]


def train_ivf_centroids(
    emb: DataFrame,
    n_centroids: int,
    iters: int = 2,
    id_col: str = "vec_id",
    sample_mod: int | None = None,
):
    """Deterministic distributed Lloyd k-means for the IVF coarse
    quantizer (the trained replacement for the first-N seed that round-2
    shipped).

    Each iteration is fully JVM-side: assignment is a pure projection
    (centroids inlined as literals via :func:`_ivf_sorted_centroids` —
    no join, no shuffle to assign), and the update is ONE hash aggregate
    of ``d`` per-dimension integer sums + a count per centroid
    (map-side combine; the shuffle moves ``n_centroids`` rows of ``d``
    longs).  New centroid components are integer floor-divisions
    ``sum // count`` — exact in any engine, so the whole train is
    reproducible bit-for-bit (assignment scores are integer dots over
    quantized vectors divided by ``sqrt`` of an exactly-representable
    integer norm; ties break to the smaller centroid id).  Empty
    clusters keep their previous centroid.  Per-iteration driver
    materialization is ``n_centroids`` rows — bounded like the fit
    sample.  Returns ``[(cid, cvec:list[int], cnorm:int), ...]``.

    ``sample_mod``: when set, each Lloyd iteration trains on the
    deterministic hash-gated 1/sample_mod subset
    (``xxhash64(id, 7) % sample_mod == 0`` — unbiased w.r.t. table
    position, unlike a first-N window) instead of the full corpus.  At
    10^9 vectors two full assignment passes dominate the build; k-means
    on a 1-10% sample converges to centroids of near-identical recall
    (quantizer quality depends on the density field, not every point —
    measured on the 100k probe, BENCH.md).  Full-corpus (None) stays
    the default and the oracle-replayed path."""
    cents = ivf_centroid_rows(emb, n_centroids, id_col)
    q = quantize_embeddings(emb)
    if sample_mod is not None and sample_mod > 1:
        q = q.where(
            F.pmod(F.xxhash64(F.col(id_col), F.lit(7)),
                   F.lit(sample_mod)) == 0
        )
    d = len(cents[0][1])
    for _ in range(iters):
        # same literal-vs-numpy dispatch as the final assignment
        # (_assign_cid): at large k the per-row interpreted HOF cost of
        # the literal expression dominates the whole train
        assigned = _assign_cid(q, cents, id_col).select("cid", "qvec")
        rows = (
            assigned.groupBy("cid")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                *[
                    F.sum(F.element_at(F.col("qvec"), j + 1)).alias(f"s{j}")
                    for j in range(d)
                ],
            )
            .collect()
        )
        updated = {
            int(r["cid"]): [int(r[f"s{j}"]) // int(r["cnt"]) for j in range(d)]
            for r in rows
        }
        cents = [
            (cid, updated.get(cid, cvec)) for cid, cvec, _ in cents
        ]
        cents = [
            (cid, v, sum(x * x for x in v)) for cid, v in cents
        ]
    return cents


def _ivf_sorted_centroids(cents):
    """Array expr: centroid structs sorted by (cosine-to-qvec desc, cid
    asc).  Scores are dot/sqrt(cnorm) — the qnorm factor is common per
    vector so the ranking is the cosine ranking; the integer dot is
    exactly representable in a double, so every engine computing this
    gets bit-identical scores."""
    structs = []
    for cid, cvec, cnorm in cents:
        lits = ",".join(f"{v}L" for v in cvec)
        if cnorm == 0:
            # a zero centroid (empty/degenerate cluster mean) would make
            # the score a runtime division by zero under ANSI mode;
            # rank it strictly last instead
            score = "cast(-1e308 as double)"
        else:
            score = (
                f"(aggregate(zip_with(qvec, array({lits}), (x, y) -> x * y), "
                f"0L, (acc, v) -> acc + v) / sqrt(cast({cnorm} as double)))"
            )
        structs.append(
            F.struct(
                F.expr(f"-{score}").alias("ns"), F.lit(cid).alias("cid")
            )
        )
    return F.array_sort(F.array(*structs))


#: use the inlined-literal JVM assignment expression only while
#: n_centroids * d stays below this; above it the per-row interpreted
#: higher-order-function cost (k aggregate-over-zip_with lambdas PER
#: VECTOR — HOFs don't codegen) dominates, and the numpy path (one
#: int64 matmul per Arrow batch against the broadcast centroid matrix)
#: is orders of magnitude faster with bit-identical scores
IVF_LITERAL_ASSIGN_MAX = 1024


def _assign_cid_pandas(q: DataFrame, cents, id_col: str) -> DataFrame:
    """Centroid assignment as ONE vectorized matmul per Arrow batch:
    S = (Q @ C.T) / sqrt(cnorm) over exact int64 dots (numpy integer
    matmul is order-independent-exact; the double division is the same
    IEEE op the SQL oracle performs), argmax with ties to the smallest
    cid (cents sorted by cid; np.argmax takes the first maximum).
    Zero centroids rank strictly last, mirroring the literal path."""
    import numpy as np
    import pandas as pd

    cents = sorted(cents, key=lambda c: c[0])
    C = np.array([c[1] for c in cents], dtype=np.int64)
    norms = np.sqrt(np.array(
        [c[2] if c[2] > 0 else 1 for c in cents], dtype=np.float64
    ))
    zero = np.array([c[2] == 0 for c in cents])
    cids = np.array([c[0] for c in cents], dtype=np.int64)

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.stack(
                [np.asarray(v, dtype=np.int64) for v in pdf["qvec"]]
            )
            S = (Q @ C.T).astype(np.float64) / norms[None, :]
            if zero.any():
                S[:, zero] = -np.inf
            idx = np.argmax(S, axis=1)
            yield pd.DataFrame(
                {
                    "cand_id": pdf[id_col].astype("int64"),
                    "qvec": pdf["qvec"],
                    "qnorm": pdf["qnorm"].astype("int64"),
                    "cid": cids[idx].astype("int32"),
                }
            )

    return q.select(id_col, "qvec", "qnorm").mapInPandas(
        run, "cand_id long, qvec array<bigint>, qnorm long, cid int"
    )


def _assign_cid(q: DataFrame, cents, id_col: str) -> DataFrame:
    """(cand_id, qvec, qnorm, cid): literal-expression projection for
    small quantizers (pure JVM, no Python), numpy matmul above
    IVF_LITERAL_ASSIGN_MAX — identical scores and tie-breaks."""
    d = len(cents[0][1])
    if len(cents) * d <= IVF_LITERAL_ASSIGN_MAX:
        sorted_cents = _ivf_sorted_centroids(cents)
        return q.select(
            F.col(id_col).alias("cand_id"), "qvec", "qnorm",
            F.element_at(sorted_cents, 1)["cid"].alias("cid"),
        )
    return _assign_cid_pandas(q, cents, id_col)


def _probe_lists(cents, qrows, nprobe: int):
    """Driver-side probe selection for the BOUNDED query set: for each
    collected query row, the nprobe centroids by (score desc, cid asc)
    with the exact scalar ops of the SQL oracle (int dot, /sqrt(cnorm)
    double).  Returns [(query_id, qvec, qnorm, cid), ...]."""
    import numpy as np

    cents = sorted(cents, key=lambda c: c[0])
    C = np.array([c[1] for c in cents], dtype=np.int64)
    norms = np.sqrt(np.array(
        [c[2] if c[2] > 0 else 1 for c in cents], dtype=np.float64
    ))
    zero = np.array([c[2] == 0 for c in cents])
    cids = [c[0] for c in cents]
    out = []
    for r in sorted(qrows, key=lambda r: r[0]):
        qid, qvec, qnorm = int(r[0]), [int(v) for v in r[1]], int(r[2])
        S = (np.asarray(qvec, dtype=np.int64) @ C.T).astype(
            np.float64
        ) / norms
        if zero.any():
            S[zero] = -np.inf
        scored = sorted((-S[i], cids[i]) for i in range(len(cids)))
        for _, cid in scored[:nprobe]:
            out.append((qid, qvec, qnorm, int(cid)))
    return out


def ivf_topk(
    emb: DataFrame,
    n_centroids: int = 8,
    n_queries: int = 4,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    shards: int | None = None,
    train_iters: int = 2,
    query_offset: int = 0,
    train_sample_mod: int | None = None,
    query_df: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize every vector to its best centroid
    (a pure projection — centroids are inlined literals, so no join or
    shuffle to assign), probe each query's ``nprobe`` closest lists, and
    rank the ~N*nprobe/n_centroids surviving candidates by exact
    quantized cosine with the same two-phase partial top-k as
    :func:`cosine_topk`.  The list join shuffles on ``cid`` — bounded
    inverted lists, never all pairs.  Recall is tuned by (n_centroids,
    nprobe); both engines implement the identical pruning, so results
    are value-exact, not just statistically close.  ``train_iters``
    Lloyd iterations (:func:`train_ivf_centroids`) refine the coarse
    quantizer before assignment; 0 falls back to the first-N seed;
    ``train_sample_mod`` trains on the hash-gated 1/mod subset (the
    cheap path at 10^9 vectors — recall within noise of full-train on
    the 100k probe, BENCH.md)."""
    if shards is None:
        # expected survivors per query ~ N * nprobe / n_centroids
        shards = adaptive_topk_shards(
            emb.count() * nprobe // max(1, n_centroids)
        )
    if train_iters > 0:
        cents = train_ivf_centroids(
            emb, n_centroids, train_iters, id_col,
            sample_mod=train_sample_mod,
        )
    else:
        cents = ivf_centroid_rows(emb, n_centroids, id_col)
    q = quantize_embeddings(emb)
    cand = _assign_cid(q, cents, id_col)
    # probe selection runs driver-side over the BOUNDED query window
    # (n_queries rows, collected like the centroid rows) — keeps the
    # giant per-row centroid expression out of the plan entirely.
    # query_df = external query vectors (user-facing search; own id
    # namespace, so no self-filter)
    qsrc = (
        quantize_embeddings(query_df)
        if query_df is not None
        else q.where(
            (F.col(id_col) >= query_offset)
            & (F.col(id_col) < query_offset + n_queries)
        )
    )
    qrows = qsrc.select(id_col, "qvec", "qnorm").collect()
    queries = emb.sparkSession.createDataFrame(
        _probe_lists(cents, qrows, nprobe),
        "query_id long, q_qvec array<bigint>, q_qnorm long, cid int",
    )
    dot = F.expr(
        "aggregate(zip_with(q_qvec, qvec, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    )
    joined = cand.join(F.broadcast(queries), "cid")
    if query_df is None:
        joined = joined.where(F.col("query_id") != F.col("cand_id"))
    pairs = (
        joined
        .withColumn("dot", dot)
        .withColumn(
            "cosine",
            _cosine_col(
                F.col("dot"),
                F.col("q_qnorm").cast("double") * F.col("qnorm").cast("double"),
            ),
        )
        .where(F.col("cosine").isNotNull())
        .select("query_id", "cand_id", F.round("cosine", 6).alias("cosine_r6"))
    )
    return _two_phase_topk(pairs, k, shards)


def lsh_bucket_expr(hyperplanes, col: str = "embedding"):
    """Column expression: bucket id = sign bits of ``hyperplanes @ v``
    (hyperplanes drawn seeded on the driver, inlined as literals) — a
    pure projection, so attaching a bucket costs no join or shuffle."""
    import numpy as np

    H = np.asarray(hyperplanes, dtype=np.float64)
    terms = []
    for b in range(H.shape[0]):
        coeffs = ",".join(repr(float(c)) for c in H[b])
        proj = (
            f"aggregate(zip_with({col}, array({coeffs}), "
            "(x, y) -> cast(x as double) * y), cast(0.0 as double), (acc, v) -> acc + v)"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << b}L ELSE 0L END)")
    return F.expr(" + ".join(terms))


def embedding_near_dups_multi(
    emb: DataFrame,
    hyperplane_tables,
    threshold: float = 0.4,
    id_col: str = "vec_id",
) -> DataFrame:
    """OR-ed multi-table LSH near-dup: union the candidate pairs of
    several independent hyperplane draws and dedupe — each extra table
    multiplies recall at ~linear cost (the standard LSH amplification;
    each table is the same bucketed self-join, never all-pairs)."""
    if not hyperplane_tables:
        raise ValueError("embedding_near_dups_multi: need >= 1 hyperplane table")
    parts = [
        embedding_near_dups(emb, H, threshold, id_col)
        for H in hyperplane_tables
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["id_a", "id_b"])


def embedding_near_dups(
    emb: DataFrame,
    hyperplanes,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    verify: str = "expr",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at scale: LSH hyperplane
    bucketing blocks candidates (a shuffle on ``lsh_bucket`` replaces the
    O(N^2) cross join), then the exact quantized-int cosine verifies each
    same-bucket pair.  With b hyperplane bits the candidate set shrinks
    ~2^b-fold; recall is tuned by b (and by OR-ing several bucket tables,
    which is this same query unioned over independent plane draws).

    ``verify`` picks the within-bucket verifier:

    * ``"expr"`` (default): bucket self-join + per-pair ``zip_with``
      integer dot — pure JVM, right for SPARSE buckets (few pairs).
    * ``"pandas"``: one grouped ``applyInPandas`` per bucket computing
      the block-wise int64 GRAM MATRIX — the dot values are the same
      exact integers, but ~2 orders of magnitude faster per pair once
      buckets are dense (measured: the 1M-doc probe's 12-bit buckets
      hold ~250 vectors = ~120M pairs, where per-pair zip_with is the
      bottleneck).  Requires a numeric ``id_col``; a bucket must fit in
      executor memory (pick the bit count accordingly — b ≈
      log2(n / target_bucket_size))."""
    q = quantize_embeddings(emb)
    # bucket is a projection on the quantized vector — NO self-join to
    # re-attach it (a join here would broadcast the whole table at scale)
    side = q.select(
        F.col(id_col), "qvec", "qnorm",
        lsh_bucket_expr(hyperplanes, "qvec").alias("lsh_bucket"),
    )
    if verify == "pandas":
        return _near_dup_verify_gram(side, threshold, id_col)
    if verify != "expr":
        raise ValueError(f"verify must be 'expr' or 'pandas', got {verify!r}")
    a = side.select(
        F.col(id_col).alias("id_a"),
        F.col("qvec").alias("qvec_a"),
        F.col("qnorm").alias("qnorm_a"),
        "lsh_bucket",
    )
    b = side.select(
        F.col(id_col).alias("id_b"),
        F.col("qvec").alias("qvec_b"),
        F.col("qnorm").alias("qnorm_b"),
        "lsh_bucket",
    )
    dot = F.expr(
        "aggregate(zip_with(qvec_a, qvec_b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    )
    return (
        a.join(b, "lsh_bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("dot", dot)
        .withColumn(
            "cosine",
            _cosine_col(
                F.col("dot"),
                F.col("qnorm_a").cast("double") * F.col("qnorm_b").cast("double"),
            ),
        )
        .where(F.col("cosine") > threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine_r6"))
    )


def _near_dup_verify_gram(side: DataFrame, threshold: float,
                          id_col: str) -> DataFrame:
    """Dense-bucket verifier for :func:`embedding_near_dups`: per
    bucket, a block-wise int64 gram matrix replaces the per-pair
    zip_with dot.  Dots are exact integers either way, so the emitted
    pairs are identical to the expr path (cosine rounded HALF_UP like
    Spark's ROUND; int64 is safe to d * (scale*|v|)^2 ~ 1e14 per term).
    Work is still O(sum of bucket_size^2) — inherent to verify-all —
    but each pair costs one fused-matmul lane instead of an interpreted
    64-element expression."""
    import numpy as np
    import pandas as pd

    def gram(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"),
             "id_b": pd.Series(dtype="int64"),
             "cosine_r6": pd.Series(dtype="float64")}
        )
        if n < 2:
            return empty
        Q = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
        ids = pdf[id_col].to_numpy().astype(np.int64)
        qn = pdf["qnorm"].to_numpy().astype(np.float64)
        out = []
        block = 2048  # gram block rows: memory O(block * n_bucket)
        for s in range(0, n, block):
            e = min(s + block, n)
            G = Q[s:e] @ Q.T  # exact int64 dots
            denom = np.sqrt(qn[s:e, None] * qn[None, :])
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom > 0, G / denom, np.nan)
            ii, jj = np.nonzero(cos > threshold)  # NaN > t is False
            keep = ids[s + ii] < ids[jj]  # one orientation per pair
            ii, jj = ii[keep], jj[keep]
            if len(ii):
                c = cos[ii, jj]
                # Spark ROUND(x, 6) is HALF_UP (away from zero)
                r6 = np.sign(c) * np.floor(np.abs(c) * 1e6 + 0.5) / 1e6
                out.append(pd.DataFrame(
                    {"id_a": ids[s + ii], "id_b": ids[jj],
                     "cosine_r6": r6}
                ))
        return pd.concat(out, ignore_index=True) if out else empty

    return (
        side.repartition("lsh_bucket")
        .groupBy("lsh_bucket")
        .applyInPandas(gram, schema="id_a long, id_b long, cosine_r6 double")
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

BPE_ISH_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def tokenize(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int = 32768,
    source_col: str | None = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Text -> pre-tokenized sequence table ``(doc_id, tokens
    array<int>, n_tok, source)`` — the bridge from a raw document
    corpus to the engine's token data model (so documents can flow
    straight into ``extract_features`` / tier rollups).

    Pieces come from the BPE-ish regex; ids are the portable char-sum
    hash (PORTABLE_WORD_HASH_SQL) folded into a fixed vocab (the
    hashing-vocabulary trick — no trained merges, no driver-side
    vocabulary object).  Fully JVM-side: one regexp pass + one
    transform, no shuffle.  Pass ``source_col=None`` for corpora
    without a source column; ``id_col`` names the document id."""
    if source_col is not None and source_col not in docs.columns:
        raise ValueError(
            f"tokenize: column {source_col!r} not in {docs.columns}; "
            "pass source_col=None for corpora without one"
        )
    toks = F.expr(
        f"transform(regexp_extract_all(lower({text_col}), "
        f"'{BPE_ISH_REGEX}', 0), "
        f"w -> cast(({PORTABLE_WORD_HASH_SQL}) % {vocab_size} as int))"
    )
    cols = [F.col(id_col).alias("doc_id"), toks.alias("tokens")]
    out = docs.select(
        *cols, *( [F.col(source_col)] if source_col else [] )
    ).withColumn("n_tok", F.size("tokens"))
    return out


_BPE_ALPHABET = tuple("abcdefghijklmnopqrstuvwxyz0123456789") + ("</w>",)


def train_bpe_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 200,
    sample_docs: int = 2000,
    id_col: str = "doc_id",
) -> list[tuple[str, str]]:
    """Deterministic BPE merge training (the classic algorithm) on a
    bounded driver-side sample — the trained-vocabulary counterpart to
    :func:`tokenize`'s hashing trick.

    Like the fit stage, training materializes only ``sample_docs``
    documents (``doc_id < sample_docs`` — a deterministic sample, not a
    random one); the expensive part at corpus scale is APPLYING the
    merges, which :func:`bpe_tokenize` does distributed.  Each round
    merges the most frequent adjacent symbol pair, ties broken
    lexicographically, so the merge list is reproducible from the same
    corpus.  Words are ``[a-z]+|[0-9]+`` runs with a ``</w>``
    end-of-word marker."""
    import re
    from collections import Counter

    rows = (
        docs.where(F.col(id_col) < sample_docs).select(text_col).collect()
    )
    word_freq: Counter = Counter()
    for r in rows:
        for w in re.findall(r"[a-z]+|[0-9]+", (r[text_col] or "").lower()):
            word_freq[w] += 1
    return bpe_merges_from_word_freq(word_freq, n_merges)


def bpe_merges_from_word_freq(word_freq, n_merges: int):
    """The pure training loop behind :func:`train_bpe_merges` (exposed
    so property tests fuzz the PRODUCTION algorithm, not a copy)."""
    from collections import Counter

    seqs = {w: tuple(w) + ("</w>",) for w in word_freq}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pc: Counter = Counter()
        for w, f in word_freq.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        if not pc:
            break
        mx = max(pc.values())
        best = min(p for p, c in pc.items() if c == mx)
        merges.append(best)
        a, b = best
        ab = a + b
        for w, s in seqs.items():
            if a not in s:
                continue
            out, i = [], 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == a and s[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = tuple(out)
    return merges


def bpe_encode_word(w: str, ranks: dict, vocab: dict) -> list[int]:
    """Greedy lowest-rank merge encoding of one word — shared by
    :func:`bpe_tokenize`'s kernel and the fuzz suite."""
    s = list(w) + ["</w>"]
    while len(s) > 1:
        best_rank, best_i = None, -1
        for i in range(len(s) - 1):
            r = ranks.get((s[i], s[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        s[best_i:best_i + 2] = [s[best_i] + s[best_i + 1]]
    return [vocab[t] for t in s if t in vocab]


def bpe_vocab(merges: list[tuple[str, str]]) -> dict[str, int]:
    """Deterministic subword -> id table: the base alphabet first, then
    each merge's output symbol in rank order."""
    vocab = {s: i for i, s in enumerate(_BPE_ALPHABET)}
    for a, b in merges:
        vocab.setdefault(a + b, len(vocab))
    return vocab


def bpe_tokenize(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    source_col: str | None = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply trained BPE merges distributed: text -> ``(doc_id, tokens
    array<int>, n_tok, source)`` in one Arrow-batched ``mapInPandas``
    kernel (no shuffle).  The merge ranks + vocab are closure-captured
    (broadcast with the task), encoding is the standard greedy
    lowest-rank merge loop with a per-batch word cache — each distinct
    word is encoded once per batch, so the per-row cost on natural text
    is a dict lookup.  Unknown symbols are skipped (the alphabet covers
    the ``[a-z0-9]`` word regex, so this only drops exotic codepoints)."""
    import pandas as pd

    ranks = {p: i for i, p in enumerate(merges)}
    vocab = bpe_vocab(merges)
    if source_col is not None and source_col not in docs.columns:
        raise ValueError(
            f"bpe_tokenize: column {source_col!r} not in {docs.columns}"
        )
    schema = f"{id_col} long, tokens array<int>, n_tok int" + (
        f", {source_col} string" if source_col else ""
    )

    def encode_word(w: str) -> list[int]:
        return bpe_encode_word(w, ranks, vocab)

    import re

    word_re = re.compile(r"[a-z]+|[0-9]+")

    def run(batches):
        for pdf in batches:
            cache: dict[str, list[int]] = {}
            toks = []
            for t in pdf[text_col]:
                ids: list[int] = []
                for w in word_re.findall((t or "").lower()):
                    got = cache.get(w)
                    if got is None:
                        got = cache[w] = encode_word(w)
                    ids.extend(got)
                toks.append(ids)
            out = {
                id_col: pdf[id_col].astype("int64"),
                "tokens": toks,
                "n_tok": [len(t) for t in toks],
            }
            if source_col:
                out[source_col] = pdf[source_col]
            yield pd.DataFrame(out)

    keep = [id_col, text_col] + ([source_col] if source_col else [])
    return docs.select(*keep).mapInPandas(run, schema)


def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features: word/char/token counts and ratios."""
    words = _words(text_col)
    return docs.select(
        "doc_id",
        F.length(text_col).alias("n_chars_calc"),
        F.size(words).alias("n_words"),
        F.size(F.expr(f"regexp_extract_all(lower({text_col}), '{BPE_ISH_REGEX}', 0)")).alias(
            "n_tokens_bpeish"
        ),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
        (F.size(F.array_distinct(words)) / F.size(words)).alias("ttr"),
        F.size(F.expr(f"filter(split(lower({text_col}), ' '), w -> w IN "
                      "('the','a','of','and','to','in','is'))")).alias("n_stopwords"),
    )


# language -> marker stopwords, in tie-break priority order.  Extensible
# by construction: lang_id builds its scoring/argmax generically over
# this table, so adding a language is one entry here (and in the oracle
# SQL).  Non-latin scripts (e.g. zh) have no whitespace-delimited latin
# stopwords — on such text every score is 0 and the prediction falls to
# the highest-priority language; a production build adds a script-range
# detector in front (same plumbing, different marker table).
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "les", "des", "et", "est"),
    "it": ("il", "che", "di", "per", "sono"),
    "nl": ("het", "een", "van", "dat", "niet"),
}


#: unicode script blocks for the non-latin detector (BMP-only ranges so
#: char counts agree across UTF-16/codepoint length semantics)
SCRIPT_RANGES = {
    "han": "一-鿿",     # CJK unified ideographs
    "kana": "぀-ヿ",    # hiragana + katakana
    "cyr": "Ѐ-ӿ",     # Cyrillic
    "hangul": "가-힣",  # Hangul syllables
    "arab": "؀-ۿ",     # Arabic block (supplement intentionally excluded
                        # — the DuckDB oracle regex mirrors this range
                        # verbatim; change BOTH or neither)
}
#: a script claims the document when its chars exceed 3/10 of the text
SCRIPT_NUM, SCRIPT_DEN = 3, 10


def _script_count(text_col: str, ranges: str):
    """Chars of ``text_col`` inside the given unicode ranges — counted
    JVM-side by deleting everything else and measuring what remains."""
    return F.length(F.regexp_replace(F.col(text_col), f"[^{ranges}]", ""))


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Two-stage language heuristic.

    Stage 1 — script-range detector: per-document counts of Han, kana,
    Cyrillic, Hangul and Arabic characters (a regexp_replace + length
    projection, pure JVM).  A script that covers > 3/10 of the
    characters decides directly: kana present -> ``ja``, else Han ->
    ``zh``; Hangul -> ``ko``; Arabic -> ``ar``; Cyrillic -> ``ru`` —
    integer threshold arithmetic so every engine agrees exactly.
    Confidence = script-char fraction.

    Stage 2 — latin fallback, generic over LANG_MARKERS: per-language
    stopword-marker hit counts, argmax with the table's priority order
    as tie-break, confidence = marker density (top score / word
    count)."""
    cols = []
    structs = []
    for pri, (lang, markers) in enumerate(LANG_MARKERS.items()):
        lst = ",".join(f"'{m}'" for m in markers)
        score = F.size(
            F.expr(f"filter(split(lower({text_col}), ' '), w -> w IN ({lst}))")
        )
        cols.append(score.alias(f"s_{lang}"))
        structs.append(
            F.struct(
                (-F.col(f"s_{lang}")).alias("neg"),
                F.lit(pri).alias("pri"),
                F.lit(lang).alias("lang"),
            )
        )
    # ground-truth passthrough only when the corpus HAS one (the oracle's
    # accuracy check does; a real user's corpus usually doesn't — same
    # optional-column handling as tokenize's source_col=None)
    label = (
        [F.col("lang").alias("labelled_lang")]
        if "lang" in docs.columns
        else []
    )
    scored = docs.select(
        "doc_id", *label,
        F.size(_words(text_col)).alias("_nw"),
        F.length(F.col(text_col)).alias("_nc"),
        _script_count(text_col, SCRIPT_RANGES["han"]).alias("_han"),
        _script_count(text_col, SCRIPT_RANGES["kana"]).alias("_kana"),
        _script_count(text_col, SCRIPT_RANGES["cyr"]).alias("_cyr"),
        _script_count(text_col, SCRIPT_RANGES["hangul"]).alias("_hang"),
        _script_count(text_col, SCRIPT_RANGES["arab"]).alias("_arab"),
        *cols,
    )
    best = F.element_at(F.array_sort(F.array(*structs)), 1)
    cjk = F.col("_han") + F.col("_kana")

    def hit(c):
        return c * SCRIPT_DEN > F.col("_nc") * SCRIPT_NUM

    cjk_hit = hit(cjk)
    hang_hit = hit(F.col("_hang"))
    arab_hit = hit(F.col("_arab"))
    cyr_hit = hit(F.col("_cyr"))
    pred = (
        F.when(cjk_hit & (F.col("_kana") > 0), F.lit("ja"))
        .when(cjk_hit, F.lit("zh"))
        .when(hang_hit, F.lit("ko"))
        .when(arab_hit, F.lit("ar"))
        .when(cyr_hit, F.lit("ru"))
        .otherwise(best["lang"])
    )
    conf = (
        F.when(cjk_hit, F.round(cjk / F.col("_nc"), 6))
        .when(hang_hit, F.round(F.col("_hang") / F.col("_nc"), 6))
        .when(arab_hit, F.round(F.col("_arab") / F.col("_nc"), 6))
        .when(cyr_hit, F.round(F.col("_cyr") / F.col("_nc"), 6))
        .otherwise(F.round((-best["neg"]) / F.col("_nw"), 6))
    )
    return (
        scored.withColumn("pred_lang", pred)
        .withColumn("conf_r6", conf)
        .drop("_nw", "_nc", "_han", "_kana", "_cyr", "_hang", "_arab")
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Positional rolling-hash fingerprint:
    ``sum(ascii(char_i) * i) mod 2^31`` — order-sensitive, integer-exact,
    computed fully JVM-side with aggregate() over char positions."""
    fp = F.expr(
        f"aggregate(sequence(1, length({text_col})), 0L, "
        f"(acc, i) -> acc + ascii(substring({text_col}, i, 1)) * i) % 2147483648"
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


# ---------------------------------------------------------------------------
# event streams: as-of join + time rollup
# ---------------------------------------------------------------------------

def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_val: str = "ts",
    alias: str = "asof_val",
) -> DataFrame:
    """For each left row: the latest right row with ``right.ts <=
    left.ts`` within the same ``on`` key.

    Implemented as the scalable union+window pattern (one shuffle on the
    key, sort within partition) rather than a correlated subquery: tag
    both sides, window ``last(val, ignorenulls)`` ordered by (ts, tag)
    with right rows sorting before left rows at equal timestamps."""
    lt = left.withColumn("_tag", F.lit(1)).withColumn("_ts", F.col(left_ts))
    rt = (
        right.select(
            F.col(on),
            F.col(right_ts).alias("_ts"),
            F.col(right_val).alias("_rv"),
        )
        .withColumn("_tag", F.lit(0))
    )
    cols = [c for c in lt.columns if c not in ("_tag", "_ts")]
    unioned = lt.select(
        *cols, "_tag", "_ts", F.lit(None).cast(rt.schema["_rv"].dataType).alias("_rv")
    ).unionByName(
        rt.select(
            *[
                F.col(c) if c == on else F.lit(None).cast(lt.schema[c].dataType).alias(c)
                for c in cols
            ],
            "_tag",
            "_ts",
            "_rv",
        )
    )
    w = (
        Window.partitionBy(on)
        .orderBy("_ts", "_tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = unioned.withColumn(alias, F.last("_rv", ignorenulls=True).over(w))
    return out.where(F.col("_tag") == 1).drop("_tag", "_ts", "_rv")
