"""Deduplication operators [EXT]: exact, content-hash, n-gram Jaccard,
MinHash+LSH, SimHash.

Scale design notes (100 TB posture):

- exact/content-hash dedup is a single hash-shuffle with map-side partial
  aggregation — the canonical Spark groupBy;
- MinHash signatures are computed **entirely map-side** as higher-order array
  expressions (``array_min(transform(shingles, md5(...)))``) — no explode, no
  shuffle, no Python. Only the LSH band self-join shuffles, and it shuffles on
  band keys whose cardinality grows with the corpus (no skew pile-up on a
  single reducer);
- candidate verification (true Jaccard) runs only on LSH candidate pairs, so
  the quadratic step never materializes;
- hashes are md5-hex (lexicographic min of hex strings == min of 128-bit
  hashes), chosen deliberately so a SQL oracle (DuckDB) can reproduce every
  stage bit-for-bit.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hubverse_transform_spark.caching import compute_release
from hubverse_transform_spark.functions.numeric import half_up
from hubverse_transform_spark.session import spread_small_scan


def _spread_input(fn):
    """Route the operator's input DataFrame through ``spread_small_scan``:
    every operator below opens with an expensive per-row map stage (regex
    shingling / hashing), which a one-file scan would serialize onto a
    single task regardless of core count. No-op when the input is already
    at least defaultParallelism partitions (the many-file 100 TB case)."""

    @functools.wraps(fn)
    def wrapped(df, *args, **kwargs):
        return fn(spread_small_scan(df), *args, **kwargs)

    return wrapped


def content_hash_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group rows by sha256(content); keep the smallest id per group.

    Returns ``(content_hash, keep_id, dup_count)`` — one hash-shuffle with
    partial aggregation; at 100 TB this is the cheapest possible exact dedup
    (the alternative, a window over hash, sorts within partitions for no gain).
    """
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("content_hash"))
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def shingle_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of ``text`` as an array column.

    Semantics: for token list t of length L, shingle i = t[i..i+n-1] joined by
    a single space, i in [0, L-n]; texts with fewer than n tokens yield one
    shingle holding the whole normalized text.

    Implemented as ONE normalization pass + ONE overlapping-match regex
    (lookbehind anchors at token starts, lookahead captures n tokens without
    consuming), so cost is O(len(text)) per row and the expression stays
    codegen-friendly. The naive formulation — ``transform(sequence(...),
    i -> slice(split(text), i, n))`` — is O(L²): Catalyst inlines the
    ``split`` into the lambda, re-tokenizing the document once per shingle in
    the interpreted HOF evaluator (measured 7× slower at sf0.1).
    """
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    pat = "(?<=^| )(?=(" + r"\S+ " * (n - 1) + r"\S+))"
    full = F.array_distinct(F.regexp_extract_all(norm, F.lit(pat), 1))
    return F.when(F.size(full) > 0, full).otherwise(F.array(norm))


#: prime modulus for the MinHash permutation family (2^31 - 1)
MINHASH_PRIME = 2_147_483_647
#: hex chars of md5 used as the base shingle hash (28 bits -> a*h fits int64)
SHINGLE_HASH_HEX = 7


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the permutation family
    h_i(x) = (a_i * x + b_i) mod P. Shared with the SQL oracle."""
    return [
        ((2 * i + 1) * 2654435761 % MINHASH_PRIME, (i * 40503 + 17) % MINHASH_PRIME)
        for i in range(num_hashes)
    ]


def shingle_hash(shingle: Column) -> Column:
    """28-bit integer hash of a shingle (first 7 hex chars of md5) — md5 is
    computed ONCE per shingle; the per-seed permutations are integer ops."""
    return F.conv(F.substring(F.md5(shingle), 1, SHINGLE_HASH_HEX), 16, 10).cast("long")


def minhash_signature(shingles: Column, num_hashes: int) -> Column:
    """MinHash signature: per-seed minima of (a*h + b) mod P over shingle
    hashes, computed in a SINGLE array pass.

    Everything happens map-side in one ``aggregate`` whose accumulator is the
    array of running minima — md5 runs once per shingle (not once per seed;
    HOF expressions are interpreted, not codegen'd, so common-subexpression
    elimination cannot be relied on to dedupe repeated hash subtrees).
    """
    params = minhash_params(num_hashes)
    a_arr = F.array(*[F.lit(a) for a, _ in params])
    b_arr = F.array(*[F.lit(b) for _, b in params])
    hashed = F.transform(shingles, shingle_hash)
    init = F.array_repeat(F.lit(MINHASH_PRIME).cast("long"), num_hashes)

    def merge(acc: Column, h: Column) -> Column:
        # two-arg transform lambda receives (element, index); index selects
        # the seed's (a, b) from the literal arrays
        return F.transform(
            acc,
            lambda m, i: F.least(
                m,
                (F.element_at(a_arr, i + 1) * h + F.element_at(b_arr, i + 1))
                % F.lit(MINHASH_PRIME),
            ),
        )

    return F.aggregate(hashed, init, merge)


def _band_key(signature: Column, band: int, rows_per_band: int) -> Column:
    """Concatenate one band's signature slice into a join key."""
    slice_strs = F.transform(
        F.slice(signature, band * rows_per_band + 1, rows_per_band),
        lambda v: v.cast("string"),
    )
    return F.concat_ws("|", F.lit(str(band)), slice_strs)


def jaccard_expr(a: Column, b: Column) -> Column:
    """Jaccard similarity of two (distinct-element) array columns."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


@_spread_input
def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ngram: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact Jaccard verification.

    Pipeline: shingle -> signature (map-side) -> explode bands -> self-join on
    band key (shuffle on band hash) -> distinct candidate pair -> verify true
    Jaccard >= threshold. Returns (id_a, id_b, jaccard), id_a < id_b.

    The banded rows carry each document's shingle array, and the result is
    a lazy frame. The band self-join's two sides are one plan, so they share
    one runtime exchange and the arrays move once; callers keep whole-plan
    AQE across the operator boundary. An eager shape that banded ids only,
    re-attached the arrays from a persisted shingle table and checkpointed
    the pairs measured 1.3-1.6x slower on q124/q188/q203/q330 and no faster
    on q23/q199/q303; on q149 it read 4.11 s against this shape's 4.50 s,
    inside the eager runs' 0.53 s IQR (per-pass median-of-3, 10
    order-balanced pairs at sf0.1, evidence/ab_shape_switches.jsonl).
    """
    rows_per_band = num_hashes // bands
    sh = df.select(
        F.col(id_col).alias("_id"),
        shingle_ngrams(F.col(text_col), ngram).alias("_shingles"),
    ).withColumn("_sig", minhash_signature(F.col("_shingles"), num_hashes))
    banded = sh.select(
        "_id",
        "_shingles",
        F.explode(
            F.array(*[_band_key(F.col("_sig"), b, rows_per_band) for b in range(bands)])
        ).alias("_band"),
    )
    # shuffle-hash, not broadcast: the banded table is the whole corpus, so a
    # broadcast build side is wrong at scale (and measurably slower even at
    # bench SF — every task pays the full build); hash-shuffling both sides on
    # the band key co-partitions candidates with bounded per-task state
    a, b = banded.alias("a"), banded.hint("shuffle_hash").alias("b")
    candidates = (
        a.join(b, on="_band")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._shingles").alias("_sa"),
            F.col("b._shingles").alias("_sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        candidates.withColumn("jaccard", jaccard_expr(F.col("_sa"), F.col("_sb")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


@_spread_input
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ngram: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join via inverted index.

    Instead of a quadratic self-join computing per-pair array intersections,
    explode (doc, shingle) postings and equi-join on the shingle: the
    intersection size of a pair is its join-match count, and
    ``jaccard = inter / (|A| + |B| - inter)``. Cost is sum over shingles of
    postings^2 — the textbook exact set-similarity join; pairs sharing no
    shingle (jaccard 0) never materialize. An optional ``block_col``
    additionally restricts pairs to equal blocks (e.g. same lang).
    """
    keys = ["_s"] + (["_blk"] if block_col else [])
    # explode_outer, not explode: plain explode makes Catalyst infer a
    # `size(e) > 0 AND isnotnull(e)` pre-filter that re-evaluates the whole
    # shingle regex per conjunct (7 evals/row measured); outer + a cheap
    # post-explode null filter keeps one eval of the expensive expression
    sh = (
        df.select(
            F.col(id_col).alias("_id"),
            *([F.col(block_col).alias("_blk")] if block_col else []),
            shingle_ngrams(F.col(text_col), ngram).alias("_sh"),
        )
        .select("_id", *(["_blk"] if block_col else []), F.size("_sh").alias("_sz"),
                F.explode_outer("_sh").alias("_s"))
        .filter(F.col("_s").isNotNull())
    )
    # postings x postings: shuffle-hash on the shingle key (see minhash note —
    # the posting index is corpus-sized, never a broadcast candidate)
    a, b = sh.alias("a"), sh.hint("shuffle_hash").alias("b")
    inter = (
        a.join(b, on=keys)
        .filter(F.col("a._id") < F.col("b._id"))
        .groupBy(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._sz").alias("_sa"),
            F.col("b._sz").alias("_sb"),
        )
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    jac = F.col("_inter").cast("double") / (F.col("_sa") + F.col("_sb") - F.col("_inter"))
    return (
        inter.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _prefix_postings(
    df: DataFrame, id_col: str, text_col: str, ngram: int, threshold: float
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The prefix-filter postings both prefix joins probe with. Returns
    ``(docs, dfreq, prefix)``: the persisted per-document shingle arrays
    ``(_id, _sh, _sz)``, the shingle document frequencies ``(_s, _df)``, and
    each document's rarest-first prefix postings ``(_id, _sz, _s, _df,
    _rn)`` — its ``_sz - ceil(_sz * threshold) + 1`` lowest-``(_df, _s)``
    shingles, ``_rn`` their 1-based rank. The caller releases ``docs``."""
    docs = (
        df.select(
            F.col(id_col).alias("_id"),
            shingle_ngrams(F.col(text_col), ngram).alias("_sh"),
        )
        .withColumn("_sz", F.size("_sh"))
        .persist()
    )
    post = docs.select("_id", "_sz", F.explode("_sh").alias("_s"))
    dfreq = post.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("_id").orderBy("_df", "_s")
    prefix_len = F.col("_sz") - F.ceil(F.col("_sz") * F.lit(threshold)) + 1
    prefix = (
        post.join(dfreq, "_s")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= prefix_len)
    )
    return docs, dfreq, prefix


@_spread_input
def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ngram: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact set-similarity join with PPJoin-style prefix filtering
    (Vernica/Carey/Li, SIGMOD'10 fanout variant): lossless candidate
    pruning that beats the plain inverted index when the threshold is high.

    Order every document's shingles by ascending global document frequency
    (rarest first; shingle string breaks df ties totally), keep only the
    first ``|s| - ceil(t*|s|) + 1`` as the *prefix*. Theorem: two sets with
    Jaccard >= t must collide inside their prefixes under any shared total
    order, so joining prefix postings (plus the ``t*max(|A|,|B|) <=
    min(|A|,|B|)`` length filter) generates a superset of the true result,
    and the exact Jaccard verification on the full shingle arrays makes the
    output identical to ``ngram_jaccard_pairs`` at the same parameters
    (asserted in tests).

    Scale shape: the df rollup and the per-doc top-prefix window each
    shuffle once on bounded keys; the candidate join shuffles only prefix
    postings — at t=0.8 that is ~20% of the postings volume the plain
    inverted index ships, and the rarest-first order makes the surviving
    postings lists the *shortest* ones, which is exactly where postings^2
    join cost dies at 100 TB. Two losless pair-level prunes run inside the
    join before any pair materializes downstream: the length filter
    ``t*max(|A|,|B|) <= min(|A|,|B|)`` and PPJoin's positional filter
    ``1 + min(|A|-i, |B|-j) >= ceil(t/(1+t)*(|A|+|B|))`` (a true pair's
    FIRST shared prefix token always passes, so OR-ing over shared tokens
    loses nothing — measured 193k -> ~20k candidates for 25 true pairs at
    sf0.1). The shingle arrays and prefix postings are persisted — both
    feed two plan branches each (self-join sides / verification re-join),
    and without a cache Spark would re-run the O(len) shingling regex per
    branch — and RELEASED on exit via the cache-compute-release pattern
    (``caching.compute_release``): one eager AQE-planned job materializes
    the (small) pair output while the caches fill and serve every branch,
    then both intermediates unpersist. Nothing stays registered after the
    call (the round-3 leak), and composed callers that run several dedup
    pipelines over the same input cannot trip CacheManager "already
    cached" re-registration. On q158, kept by measurement: per-pass median
    4.43 s with it vs 5.62 s without (sf0.1, 10 order-balanced pairs, parent
    IQR 0.90 s, lower without in 1 of 10; evidence/ab_materialization.jsonl).
    Never broadcasts; never caps.
    """
    docs, _, prefix = _prefix_postings(df, id_col, text_col, ngram, threshold)
    prefix = prefix.select("_id", "_sz", "_s", "_rn").persist()
    a, b = prefix.alias("a"), prefix.hint("shuffle_hash").alias("b")
    min_overlap = F.ceil(
        F.lit(threshold) / (1.0 + threshold) * (F.col("a._sz") + F.col("b._sz"))
    )
    pos_ubound = 1 + F.least(
        F.col("a._sz") - F.col("a._rn"), F.col("b._sz") - F.col("b._rn")
    )
    cand = (
        a.join(b, on="_s")
        .filter(F.col("a._id") < F.col("b._id"))
        .filter(
            F.least(F.col("a._sz"), F.col("b._sz")).cast("double")
            >= F.lit(threshold) * F.greatest(F.col("a._sz"), F.col("b._sz"))
        )
        .filter(pos_ubound >= min_overlap)
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    da = docs.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"))
    db = docs.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"))
    result = (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .withColumn("jaccard", jaccard_expr(F.col("_sha"), F.col("_shb")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", half_up(F.col("jaccard"), 6).alias("jaccard"))
    )
    return compute_release(result, docs, prefix)


def simhash(text: Column, *, bits: int = 16, ngram: int = 2) -> Column:
    """SimHash fingerprint of ``text`` over word n-gram shingles.

    Each shingle votes +1/-1 per bit position using bits of its md5; the
    fingerprint sets bit j when the vote sum is positive. Map-side only.
    md5-derived bits keep it SQL-oracle-able (no engine-private hash).
    """
    sh = shingle_ngrams(text, ngram)
    # per-shingle bits come from the first 15 hex chars of md5 -> 60-bit int
    hashed = F.transform(sh, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"))

    # single pass: the accumulator is the per-bit vote vector. Bit j is tested
    # with (h & 2^j) != 0 — bitwiseAND accepts a Column mask, unlike
    # F.shiftright whose shift amount must be a Python int. md5 runs once per
    # shingle (HOFs are interpreted; 'bits' separate aggregates would
    # re-evaluate the hash transform per bit).
    pow2 = F.array(*[F.lit(2**j).cast("long") for j in range(bits)])
    init = F.array_repeat(F.lit(0), bits)

    def merge(acc: Column, h: Column) -> Column:
        return F.zip_with(
            acc,
            pow2,
            lambda cnt, p: cnt
            + F.when(h.bitwiseAND(p) != 0, F.lit(1)).otherwise(F.lit(-1)),
        )

    votes = F.aggregate(hashed, init, merge)
    return F.aggregate(
        F.zip_with(votes, pow2, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


@_spread_input
def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing (MOSS-style) document fingerprints: hash every char k-gram,
    then keep the minimum hash of each ``window`` of consecutive grams;
    distinct window-minima are the doc's fingerprints. Guarantees any match
    of length >= k + window - 1 between two documents shares a fingerprint —
    partial-overlap detection, not just whole-doc near-dup.

    Plan: one regex gram pass (O(len)), then the sliding window-min runs
    ENTIRELY map-side on the gram array — md5 each gram once
    (``transform``), take ``array_min(slice(...))`` per position,
    ``array_distinct`` within the doc — so the gram stream (O(total chars)
    rows at window width) never shuffles. [r13 s8, guide §2.3/§2.4: the
    previous shape posexploded to (doc, pos, hash) rows and ran a
    min-over-window frame partitioned by doc — a full shuffle+sort of the
    gram stream, whose ``_id`` partitioning the downstream distinct and
    per-doc aggregations then rode for free (so the static plan showed ONE
    big exchange). The array slide trades that for shuffling only the
    per-doc-distinct minima through the ``.distinct()`` (plus, in a
    consumer like q46, a re-exchange its final agg previously inherited):
    one more exchange NODE, but the bytes drop from |grams| rows of
    (id, pos, md5) to |distinct fps| rows of (id, fp) — a several-fold
    byte cut with no sort, which is the trade that matters at corpus
    scale (SHUFFLES.md q46 4 → 6 under the mention-count convention is
    this, deliberate). The O(window)
    comparisons per position are interpreted HOF evals; the order-balanced
    quiet A/B (evidence/ab_r13c_exp4.jsonl, min-of-18 both orders) measured
    q47 0.85 / q46 0.98 vs the windowed shape — wall-neutral where the
    operator IS the whole query, a win where the fingerprint table feeds a
    pipeline, and strictly less shuffled work at scale (the gram stream is
    the corpus-sized intermediate).] Trailing windows shorter than
    ``window`` still emit their
    clamped min (``slice`` clamps at the array end exactly like the old
    clamped frame); texts shorter than k yield one fingerprint of the
    whole normalized text.
    """
    staged = winnow_fingerprint_arrays(df, id_col, text_col, k=k, window=window)
    # explode_outer, not explode: the plain form infers a size/notnull
    # pre-filter that re-evaluates the slide chain per conjunct (see
    # ngram_jaccard_pairs); fps is never null/empty by construction (the
    # short-text branch guarantees >= 1 gram), so outer emits no null rows
    return (
        staged.select(id_col, F.explode_outer("fps").alias("fp"))
        # the per-row array is already distinct; this distinct only
        # collapses duplicate input ids (the old cross-row semantics)
        .distinct()
    )


@_spread_input
def winnow_fingerprint_arrays(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Per-row winnowing fingerprint SETS as arrays: (id_col, fps) with
    ``fps`` the distinct window-minima of ``winnow_fingerprints`` — the
    zero-shuffle form of the same computation (everything happens in two
    map-side projections), for consumers that aggregate per document and
    therefore never need the exploded postings (q46: count + min fold
    directly over the array). One row PER INPUT ROW: callers that must
    collapse duplicate ids use ``winnow_fingerprints``, whose distinct
    does exactly that.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    grams = F.regexp_extract_all(norm, F.lit(f"(?=(.{{{k}}}))"), 1)
    grams = F.when(F.size(grams) > 0, grams).otherwise(F.array(norm))
    # md5 BEFORE the slide: array_min(slice(...)) re-reads ``window``
    # entries per position, so an inline md5 would hash each gram
    # ``window`` times; transform hashes each exactly once. The hashed
    # array is projected in its OWN select before the slide: inlining
    # it would spell the transform chain twice in the slide expression
    # (once under size() for the sequence bound, once in the slice lambda)
    # and lambda HOFs are never subexpression-eliminated (the q302/q327
    # finding) — the staged Project keeps one evaluation per row.
    hashed = F.transform(grams, lambda g: F.md5(g))
    staged = df.select(F.col(id_col).alias("_id"), hashed.alias("_h"))
    minima = F.transform(
        F.sequence(F.lit(0), F.size(F.col("_h")) - 1),
        lambda i: F.array_min(F.slice(F.col("_h"), i + 1, window)),
    )
    return staged.select(
        F.col("_id").alias(id_col), F.array_distinct(minima).alias("fps")
    )


@_spread_input
def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_df: int,
) -> DataFrame:
    """Partial-overlap candidate pairs: documents sharing >= ``min_shared``
    winnowing fingerprints. Detects copied PASSAGES (any shared run of length
    >= k + window - 1), which whole-document near-dup (SimHash/MinHash on the
    full shingle set) dilutes away. Inverted-index join on fingerprint with a
    shuffle-hash plan — identical scale shape to the n-gram Jaccard join.

    ``max_df`` drops fingerprints occurring in more than that many documents
    before the join — the stop-shingle cap every inverted-index near-dup
    pipeline needs at scale: a single boilerplate fingerprint with document
    frequency f contributes f·(f-1)/2 join rows (measured 95M pair-rows from
    a 5k-doc template-heavy corpus, 56× the capped volume), and the capped
    join is bounded by ``max_df`` × |postings| regardless of skew. Rare
    shared fingerprints are also the real clone signal — boilerplate overlap
    is exactly what the cap is meant to ignore.
    """
    # The fingerprint table feeds three consumers (the df-cap aggregation and
    # both self-join sides) and is not persisted: on q47,
    # per-pass median 4.43 s without it vs 4.67 s with it (sf0.1, 10
    # order-balanced pairs, parent IQR 0.98 s, lower without in 9 of 10;
    # evidence/ab_materialization.jsonl).
    fps_all = winnow_fingerprints(df, id_col, text_col, k=k, window=window).select(
        F.col(id_col).alias("_id"), "fp"
    )
    rare = (
        fps_all.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("fp")
    )
    fps = fps_all.join(rare, on="fp", how="left_semi")
    a, b = fps.alias("a"), fps.hint("shuffle_hash").alias("b")
    return (
        a.join(b, on="fp")
        .filter(F.col("a._id") < F.col("b._id"))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two integer fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


@_spread_input
def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bits: int = 16,
    ngram: int = 2,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs whose SimHash fingerprints differ in <= max_hamming bits.

    Blocking: fingerprints are split into (max_hamming+1) segments; by
    pigeonhole, any pair within the distance budget shares at least one exact
    segment — the self-join keys on (segment_idx, segment_value), never the
    full cross product.
    """
    segs = max_hamming + 1
    seg_bits = max(bits // segs, 1)
    # both self-join sides consume the fingerprint table; cache it (one long
    # per doc — negligible at any scale) so the shingle+md5 simhash pipeline
    # runs once, not once per side (measured ~2x cold at sf0.1); released on
    # exit by compute_release.
    fp = df.select(
        F.col(id_col).alias("_id"), simhash(F.col(text_col), bits=bits, ngram=ngram).alias("_fp")
    ).persist()
    mask = (1 << seg_bits) - 1
    banded = fp.select(
        "_id",
        "_fp",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(str(i)),
                        F.shiftright(F.col("_fp"), i * seg_bits).bitwiseAND(F.lit(mask)).cast("string"),
                    )
                    for i in range(segs)
                ]
            )
        ).alias("_seg"),
    )
    a, b = banded.alias("a"), banded.hint("shuffle_hash").alias("b")
    result = (
        a.join(b, on="_seg")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            hamming_distance(F.col("a._fp"), F.col("b._fp")).alias("hamming"),
        )
        # r13 (guide 2.3, shuffle fewer bytes): hamming is a pure function
        # of the pair's two fingerprints, so every duplicate of a pair has
        # the SAME hamming - filtering before the distinct is equivalent
        # and the (cheap, map-side xor+bit_count) filter kills most banded
        # collisions before they reach the distinct's exchange. Catalyst
        # cannot push this itself: hamming is not one of the dedup keys.
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )
    return compute_release(result, fp)


def ngram_containment(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ngram: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Benchmark decontamination [EXT]: flag corpus documents whose word
    n-gram shingles overlap an evaluation set. Containment(d) =
    |shingles(d) ∩ benchmark_shingles| / |shingles(d)| — the asymmetric
    overlap used for train-set decontamination (Jaccard under-scores short
    benchmark items against long documents; containment does not).

    Scale posture: the benchmark shingle vocabulary is built once,
    de-duplicated, and BROADCAST — eval sets are KB-to-GB while the corpus
    is the 100 TB side, so the corpus explode streams map-side against the
    broadcast hash set and the only shuffle is the per-document count
    aggregation (partial map-side combine on doc id). Returns
    (id, n_shingles, n_matched, containment) for docs at/over ``threshold``.
    """
    bench_sh = (
        benchmark.select(F.explode(shingle_ngrams(F.col(text_col), ngram)).alias("_g"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus_sh = corpus.select(
        F.col(id_col).alias("_id"),
        F.explode(shingle_ngrams(F.col(text_col), ngram)).alias("_g"),
    )
    per_doc = (
        corpus_sh.join(F.broadcast(bench_sh), "_g", "left")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_matched"),
        )
    )
    return (
        per_doc.select(
            F.col("_id").alias(id_col),
            "n_shingles",
            "n_matched",
            # integer-ratio displays reach exact half boundaries (1/128 at
            # d=6) — use the engine-stable floor half-up, not round()
            half_up(F.col("n_matched") / F.col("n_shingles"), 6).alias("containment"),
        )
        .filter(F.col("n_matched") / F.col("n_shingles") >= threshold)
    )


@_spread_input
def containment_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ngram: int = 3,
    threshold: float = 0.8,
    salt_buckets: int = 8,
) -> DataFrame:
    """Exact asymmetric containment self-join with prefix filtering [EXT]:
    all ordered pairs (A, B) with C(A→B) = |shingles(A) ∩ shingles(B)| /
    |shingles(A)| >= ``threshold``. Containment is the quote/sub-document
    signal — a short document wholly embedded in a long one scores ~1.0
    here while Jaccard (``prefix_filter_jaccard_pairs``) dilutes it by the
    long side's size. ``ngram_containment`` is the corpus-vs-benchmark
    broadcast variant of the same measure; this is the corpus-vs-corpus
    pair join.

    Prefix filter, containment form: order shingles by ascending global
    document frequency (rarest first, shingle string breaks ties). A true
    pair shares >= ceil(t*|A|) shingles, so A's first
    ``|A| - ceil(t*|A|) + 1`` shingles (the probe prefix) must intersect
    shingles(B) — lossless. Only the PROBE side is prefix-truncated; the
    indexed side keeps full postings (containment puts no lower bound on
    where in B's order the shared shingles sit). The size filter
    ``|B| >= ceil(t*|A|)`` is also lossless.

    Scale shape: probe postings are the short side (~(1-t) of probe
    volume at threshold t) and rarest-first ordering keeps the surviving
    postings lists the shortest ones; the join shuffles on shingle hash
    (cardinality grows with the corpus — no single-reducer pile-up), and
    exact verification runs only on surviving candidates. Same
    cache-compute-release discipline as the Jaccard form: shingle arrays
    and probe prefixes persist across the join branches, one eager job
    materializes the (small) pair output, then both unpersist. On q212,
    kept by measurement: per-pass median 6.97 s with it vs 10.23 s without
    (sf0.1, 10 order-balanced pairs, parent IQR 1.07 s, lower without in 0 of
    10; evidence/ab_materialization.jsonl).

    Skew mitigation, EXACTNESS-PRESERVING (unlike ``winnow_overlap_pairs``
    whose ``max_df`` simply drops boilerplate keys): shingles with document
    frequency above a cap ("hot": a stop-shingle with df=f would put f
    index postings on ONE reducer key and fan out f·probe_hits candidate
    rows there) are routed to a SALTED residual join instead of being
    dropped. Probe postings on hot shingles get a deterministic salt
    ``xxhash64(probe_id) % salt_buckets``; index postings on hot shingles
    are replicated across all ``salt_buckets`` salts; the residual joins
    on (shingle, salt), spreading each hot key over ``salt_buckets``
    reducers. Every (probe, index) posting pair on an equal shingle lands
    in exactly one branch (cold xor hot), so the candidate set — and hence
    the verified output — is IDENTICAL to the uncapped join
    (property-tested against a brute-force all-pairs scan in
    tests/test_sessions_sampling.py). Cost bound: replication touches
    only hot postings, and rarest-first prefix ordering means hot
    shingles almost never survive into probe prefixes — the residual
    probe side is near-empty by construction, so the residual is cheap
    insurance, not a second full join.

    The cap comes from the data: 4× the p99.9 of the df distribution
    (floor 16), one tiny aggregation over the (already cached) postings.
    It must chase OUTLIERS, not a quantile of the bulk: a fixed absolute
    cap tuned on one corpus routes the ENTIRE index through the replicated
    residual when a smaller-vocabulary (or simply larger) corpus shifts
    the whole df distribution past it — measured 98 s vs 57 s on a
    50k-doc uniform-df corpus where a fixed cap of 18 marked every shingle
    hot. The derived cap engages the residual only for true boilerplate
    tails (Zipf corpora); with no outliers the hot set is empty and the
    residual branch joins nothing.
    """
    docs, dfreq, prefix = _prefix_postings(df, id_col, text_col, ngram, threshold)
    probe = prefix.select(
        F.col("_id").alias("_ida"), F.col("_sz").alias("_sza"), "_s", "_df"
    ).persist()
    idx = docs.select(
        F.col("_id").alias("_idb"), F.col("_sz").alias("_szb"),
        F.explode("_sh").alias("_s"),
    )
    p999 = dfreq.agg(
        F.expr("approx_percentile(_df, 0.999, 10000)").alias("_q")
    ).first()["_q"]
    max_df = max(16, int(p999) * 4)
    # hot-shingle set is small by construction (<= |postings| / max_df
    # distinct values) -> broadcast to both index branches; persisted so
    # the dfreq aggregation behind it runs once, not per consumer
    hot = dfreq.filter(F.col("_df") > max_df).select("_s").persist()
    probe_cold = probe.filter(F.col("_df") <= max_df).drop("_df")
    probe_hot = probe.filter(F.col("_df") > max_df).drop("_df")
    idx_cold = idx.join(F.broadcast(hot), "_s", "left_anti")
    idx_hot = idx.join(F.broadcast(hot), "_s", "left_semi")
    salts = F.array(*[F.lit(i) for i in range(salt_buckets)])
    cand_cold = probe_cold.join(idx_cold.hint("shuffle_hash"), on="_s")
    cand_hot = (
        probe_hot.withColumn(
            "_salt", F.pmod(F.xxhash64("_ida"), F.lit(salt_buckets)).cast("int")
        )
        .join(
            idx_hot.withColumn("_salt", F.explode(salts)).hint("shuffle_hash"),
            on=["_s", "_salt"],
        )
        .drop("_salt")
    )
    cand_rows = cand_cold.unionByName(cand_hot)
    cand = (
        cand_rows
        .filter(F.col("_ida") != F.col("_idb"))
        .filter(F.col("_szb") >= F.ceil(F.col("_sza") * F.lit(threshold)))
        .select(F.col("_ida").alias("id_a"), F.col("_idb").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    da = docs.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"))
    db = docs.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"))
    overlap = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    containment = overlap / F.size(F.col("_sha"))
    result = (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .filter(containment >= threshold)
        .select(
            "id_a", "id_b", half_up(containment, 6).alias("containment")
        )
    )
    return compute_release(result, docs, probe, hot)


@_spread_input
def chunk_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    chunk_words: int = 10,
    drop_threshold: float = 0.5,
) -> DataFrame:
    """Paragraph-level dedup signal [EXT], adapted to whitespace corpora:
    RefinedWeb/FineWeb drop or trim documents whose lines/paragraphs repeat
    verbatim across the corpus; the driver's synthetic documents have no
    newlines, so the unit here is a fixed ``chunk_words``-word non-overlapping
    chunk (the same operator shape — only the splitter differs).

    Stages (all built-ins, no Python):

    1. chunk: ``sequence(0, n_chunks-1)`` explode + ``slice`` + ``array_join``
       — one pass over the text, chunk text never re-scans the document;
    2. global chunk counts as a WINDOW count over the chunk hash — one
       content-keyed shuffle, and the chunk stream is computed once (a
       groupBy + self-join formulation re-chunks every document twice);
       boilerplate chunks pile onto one key each, and at 100 TB the fix is
       the same stop-chunk df-cap used by ``winnow_overlap_pairs``;
    3. per-doc rollup: duplicated-chunk fraction + keep/drop flag at
       ``drop_threshold`` (map-side combine on doc id).

    md5-hex chunk hashes keep every stage replayable in a SQL oracle.
    Returns (id, n_chunks, dup_chunks, dup_fraction, keep).
    """
    words = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(float(chunk_words)))
    chunks = df.select(
        F.col(id_col).alias("_id"),
        words.alias("_w"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("_c"),
    ).select(
        "_id",
        F.md5(
            F.array_join(
                F.slice(F.col("_w"), F.col("_c") * chunk_words + 1, F.lit(chunk_words)),
                " ",
            )
        ).alias("_h"),
    )
    counted = chunks.withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("_h"))
    )
    per_doc = counted.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("_n") > 1, 1).otherwise(0)).alias("dup_chunks"),
    )
    dup_frac = F.col("dup_chunks") / F.col("n_chunks")
    return per_doc.select(
        F.col("_id").alias(id_col),
        "n_chunks",
        "dup_chunks",
        half_up(dup_frac, 6).alias("dup_fraction"),
        (dup_frac < drop_threshold).alias("keep"),
    )


@_spread_input
def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_dist: int = 1,
    block_col: str | None = None,
) -> DataFrame:
    """SymSpell-style edit-distance similarity join: all pairs with
    ``levenshtein <= max_dist`` via a deletion-neighborhood equi-join.

    Candidate completeness: any two strings within k edits share a common
    member of their k-deletion closures (the SymSpell invariant — a
    substitution at position i means both sides' delete-at-i agree; an
    insertion/deletion means the longer string's deletion equals the
    shorter string). So exploding the closure per row (linear side: the
    HOF runs once per ROW, never per pair) turns the similarity join into
    an equi-join on the variant key, and the exact ``levenshtein`` verify
    (threshold form — banded DP) runs only on candidates. Closure sizes:
    L+1 variants at k=1, 1+L+L(L−1)/2 at k=2. 100 TB posture: |corpus|·L^k
    join rows instead of |corpus|² comparisons; the variant key is the
    shuffle partition key, and hot variants can take a df-cap + residual
    join (``containment_prefix_pairs`` pattern) unchanged. An optional
    ``block_col`` additionally restricts pairs to equal blocks.

    Returns ``(id_a, id_b, dist)`` with ``id_a < id_b``, deduplicated
    across shared variants before the verify.
    """
    if max_dist not in (1, 2):
        raise NotImplementedError(
            "deletion neighborhoods are generated for max_dist in (1, 2); "
            "higher distances need the full d-deletion closure (~L^d)"
        )
    text = F.col(text_col)
    del1 = F.when(
        F.length(text) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.length(text)),
            lambda i: F.concat(
                F.substring(text, F.lit(1), i - 1),
                text.substr(i + 1, F.length(text)),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    variants = F.array_union(F.array(text), del1)
    if max_dist == 2:
        # delete positions i < j in one expression (applying del1 to the
        # del1 variants would need a lambda-var-relative inner sequence;
        # the (i, j) form stays one flat HOF over the original string)
        del2 = F.when(
            F.length(text) >= 2,
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length(text) - 1),
                    lambda i: F.transform(
                        F.sequence(i + 1, F.length(text)),
                        lambda j: F.concat(
                            F.substring(text, F.lit(1), i - 1),
                            text.substr(i + 1, j - i - 1),
                            text.substr(j + 1, F.length(text)),
                        ),
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))
        variants = F.array_union(variants, F.array_distinct(del2))
    keys = ["_v"] + (["_blk"] if block_col else [])
    # shuffle keys, not payloads: the variant explode is the dominant shuffle
    # (|corpus| x closure rows), so it and the candidate distinct move
    # (id, variant) / (id_a, id_b) only, and the two texts are re-attached
    # afterwards - two joins against the (1/closure smaller) base table
    # that AQE broadcasts at any realistic dimension size. Carrying the text
    # inline instead (inline vs re-attach, per-pass median-of-3 over 10
    # order-balanced pairs at sf0.1, evidence/ab_shape_switches.jsonl)
    # measured 9.77 vs 7.33 s on q245 (max_dist=2) and 0.63 vs 0.68 s on
    # q223 (max_dist=1, inside the inline shape's 0.09 s IQR), so every
    # distance re-attaches.
    v = df.select(
        F.col(id_col).alias("_id"),
        *([F.col(block_col).alias("_blk")] if block_col else []),
        F.explode(variants).alias("_v"),
    )
    a, b = v.alias("a"), v.alias("b")
    cond = F.col("a._id") < F.col("b._id")
    for k in keys:
        cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
    cand = (
        a.join(b, cond)
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    texts = df.select(F.col(id_col).alias("_tid"), text.alias("_txt"))
    cand = cand.join(
        texts.select(F.col("_tid").alias("id_a"), F.col("_txt").alias("_ta")), "id_a"
    ).join(
        texts.select(F.col("_tid").alias("id_b"), F.col("_txt").alias("_tb")), "id_b"
    )
    return (
        cand.withColumn("dist", F.levenshtein("_ta", "_tb", max_dist))
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", "dist")
    )


def minhash_lsh_incremental_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ngram: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """INCREMENTAL near-dup check: a (small) new batch against a (large)
    already-ingested corpus — the shape every daily-ingest dedup actually
    runs, where re-banding and self-joining the whole corpus
    (``minhash_lsh_pairs``) would redo O(corpus) work to ask an O(batch)
    question.

    Both sides get the same shingle→signature→band treatment (band keys are
    deterministic, so a production deployment persists the corpus's banded
    table once and only the probe side is computed per batch); the join then
    BROADCASTS the new batch's bands — the corpus-sized side is never
    shuffled, never self-joined, and streams map-side through the broadcast
    hash join. Candidates dedup on (new_id, corpus_id) before the exact
    Jaccard verify, which touches candidates only.

    Returns ``(new_id, corpus_id, jaccard)`` for pairs >= threshold.
    New-vs-new duplicates are out of scope by contract (run
    ``minhash_lsh_pairs`` on the batch alone — O(batch²) worst case is
    fine there).
    """
    rows_per_band = num_hashes // bands

    def _banded(df: DataFrame, tag: str) -> DataFrame:
        sh = df.select(
            F.col(id_col).alias(f"_{tag}_id"),
            shingle_ngrams(F.col(text_col), ngram).alias(f"_{tag}_sh"),
        ).withColumn("_sig", minhash_signature(F.col(f"_{tag}_sh"), num_hashes))
        return sh.select(
            f"_{tag}_id",
            f"_{tag}_sh",
            F.explode(
                F.array(
                    *[_band_key(F.col("_sig"), b, rows_per_band) for b in range(bands)]
                )
            ).alias("_band"),
        )

    corpus_b = _banded(corpus_df, "c")
    new_b = _banded(new_df, "n")
    candidates = (
        corpus_b.join(F.broadcast(new_b), on="_band")
        .select(
            F.col("_n_id").alias("new_id"),
            F.col("_c_id").alias("corpus_id"),
            F.col("_n_sh").alias("_sa"),
            F.col("_c_sh").alias("_sb"),
        )
        .dropDuplicates(["new_id", "corpus_id"])
    )
    return (
        candidates.withColumn("jaccard", jaccard_expr(F.col("_sa"), F.col("_sb")))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )
