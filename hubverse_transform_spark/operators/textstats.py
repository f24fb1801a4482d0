"""Document-level text analysis [EXT]: term weighting (TF-IDF, BM25),
collocations (PMI), n-gram statistics, quality rules and perplexity
buckets — over the ``documents`` table shape
(doc_id, text, lang, source, n_chars).

Column expressions come from ``functions.text`` (pure built-ins); this
module assembles them into DataFrame operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hubverse_transform_spark.functions.numeric import half_up

from hubverse_transform_spark.functions.text import whitespace_token_count


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    query_filter=None,
) -> DataFrame:
    """Top-k TF-IDF terms per document: tf(doc, term) * ln(N / df(term)).

    Whitespace tokenization (lowercased, trimmed — same convention as the
    dedup shingle family). Document frequency and N come from the FULL
    corpus; ``query_filter`` (a Column predicate) restricts only which
    documents get ranked output, not the statistics.

    Scale shape: the corpus-wide side is two hash aggregations over the
    exploded token stream (tf keyed by (doc, term), df keyed by term —
    both map-side-combinable); the query side is a small tf slice joined to
    the term-keyed df table. The scalar N rides in as a 1-row broadcast
    cross join, and the small query-side tf is broadcast into the df join,
    so only the two aggregations shuffle the full token stream.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))

    tf_q = tf.filter(query_filter) if query_filter is not None else tf
    scored = (
        dfreq.join(F.broadcast(tf_q), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            (F.col("tf").cast("double") * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double"))).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", F.round("score", 6).alias("tfidf"), "rank")
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 keyword search: top-k documents for a bag of query terms.

    idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)   (Lucene's non-negative form)
    score(D) = sum_t idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * |D|/avgdl))

    Scale shape: document length |D| is a per-row expression on the scan (no
    shuffle); N and avgdl ride as a 1-row broadcast; the token stream is
    filtered to the query terms BEFORE the (doc, term) aggregation, so the
    only full shuffle carries matching postings. df(t) is a tiny per-term agg
    broadcast back into the postings. Ranking sorts the rounded score so the
    row_number cut is reproducible across engines.
    """
    t = F.col(text_col)
    dl = df.select(F.col(id_col), whitespace_token_count(t).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg(F.col("dl").cast("double")).alias("avgdl")
    )
    toks = df.select(
        F.col(id_col),
        F.explode_outer(F.split(F.lower(F.trim(t)), r"\s+")).alias("term"),
    ).filter(F.col("term").isin(list(query_terms)))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl").cast("double") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )
    doc_scores = scored.groupBy(id_col).agg(
        F.round(F.sum("s"), 6).alias("bm25"), F.count(F.lit(1)).alias("n_terms_hit")
    )
    # global top-k as sort-limit (TakeOrderedAndProject: per-partition heaps,
    # k rows to the driver stage) — NOT an unpartitioned row_number window,
    # which would funnel every scored document into one partition. The rank
    # column is then a window over just k rows.
    top = doc_scores.orderBy(F.col("bm25").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("bm25").desc(), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w)).select(
        id_col, "bm25", "n_terms_hit", "rank"
    )


def pmi_bigrams(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information:
    pmi(x,y) = ln( (c_xy / T_bi) / ((c_x / T_uni) * (c_y / T_uni)) ).

    Bigram occurrences (NOT distinct per doc — PMI needs true frequencies)
    come from one overlapping-match regex pass per document, avoiding the
    O(L²) HOF-inlining trap (see dedup.shingle_ngrams). Three aggregations —
    bigram counts, unigram counts, and the two scalar totals — then two
    broadcast joins of the small unigram table into the bigram table keyed
    on each side of the pair. All counts are exact integers, so the PMI
    ratio is engine-reproducible at 6 decimals.
    """
    t = F.col(text_col)
    norm = F.regexp_replace(F.lower(F.trim(t)), r"\s+", " ")
    uni = df.select(F.explode_outer(F.split(norm, " ")).alias("term")).filter(
        (F.col("term").isNotNull()) & (F.col("term") != "")
    )
    bi = df.select(
        F.explode_outer(
            F.regexp_extract_all(norm, F.lit(r"(?<=^| )(?=(\S+ \S+))"), 1)
        ).alias("bigram")
    ).filter(F.col("bigram").isNotNull())
    cu = uni.groupBy("term").agg(F.count(F.lit(1)).alias("c_term"))
    cb = bi.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_bigram"))
    tot_u = cu.agg(F.sum("c_term").alias("t_uni"))
    tot_b = cb.agg(F.sum("c_bigram").alias("t_bi"))
    lhs = cu.select(F.col("term").alias("x"), F.col("c_term").alias("c_x"))
    rhs = cu.select(F.col("term").alias("y"), F.col("c_term").alias("c_y"))
    scored = (
        cb.filter(F.col("c_bigram") >= min_count)
        .withColumn("x", F.split(F.col("bigram"), " ").getItem(0))
        .withColumn("y", F.split(F.col("bigram"), " ").getItem(1))
        .join(F.broadcast(lhs), "x")
        .join(F.broadcast(rhs), "y")
        .crossJoin(F.broadcast(tot_u))
        .crossJoin(F.broadcast(tot_b))
        .select(
            "bigram",
            "c_bigram",
            F.round(
                F.log(
                    (F.col("c_bigram").cast("double") / F.col("t_bi"))
                    / (
                        (F.col("c_x").cast("double") / F.col("t_uni"))
                        * (F.col("c_y").cast("double") / F.col("t_uni"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    # sort-limit top-k, then rank the k survivors (see bm25_topk note)
    top = scored.orderBy(F.col("pmi").desc(), F.col("bigram")).limit(k)
    w = Window.orderBy(F.col("pmi").desc(), F.col("bigram"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "bigram", "c_bigram", "pmi", "rank"
    )


def unigram_logprob_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document average unigram negative log-probability — the
    language-model fluency score real curation pipelines threshold on
    (KenLM-style filtering, here with a corpus-fit unigram model and
    add-one smoothing so every token has finite probability).

    p(t) = (count(t) + 1) / (total_tokens + vocab); score(d) =
    mean over tokens of -ln p(t). Low = built from common corpus tokens,
    high = rare/garbled. The model table is token-keyed and broadcast into
    the per-doc rollup, so the token stream shuffles only for the two
    aggregations (corpus counts; per-doc mean) — the same shape as TF-IDF.

    Returns (id, n_tokens, avg_neg_logprob rounded to 6).
    """
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("vocab")
    )
    model = counts.crossJoin(F.broadcast(totals)).select(
        "term",
        (-F.log((F.col("c") + 1.0) / (F.col("total") + F.col("vocab")))).alias("nll"),
    )
    return (
        toks.join(F.broadcast(model), "term")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # half-safe: nll is a natural-log probability (irrational) — a
            # d=6 half-boundary hit has measure zero
            F.round(F.avg("nll"), 6).alias("avg_neg_logprob"),
        )
        .select(F.col("_id").alias(id_col), "n_tokens", "avg_neg_logprob")
    )


def _ngram_occurrences(text: Column, n: int) -> Column:
    """ALL word n-gram occurrences of ``text`` (with multiplicity, document
    order) — the occurrence-counting sibling of ``dedup.shingle_ngrams``
    (which distincts). Same one-pass overlapping-match regex, so cost stays
    O(len(text)) per row inside codegen."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    pat = "(?<=^| )(?=(" + r"\S+ " * (n - 1) + r"\S+))"
    return F.regexp_extract_all(norm, F.lit(pat), 1)


def dup_ngram_fraction(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
) -> DataFrame:
    """Cross-document duplicate n-gram fraction [EXT] — the Gopher-style
    repetition/contamination signal at corpus granularity: per document, the
    fraction of its n-gram occurrences that also appear in at least one
    OTHER document. Documents shorter than ``n`` tokens emit no grams and are
    excluded.

    Scale shape: ONE pass over the exploded occurrences (the 100 TB cost —
    a join-back formulation would re-derive the explode for each side):
    collapse to (gram, doc, occurrences) with map-side combine, count each
    gram's distinct docs with a window over the already-collapsed rows
    (rows are distinct per (gram, doc), so plain count(*) == distinct-doc
    count and the window reuses the gram partitioning), then one shuffle
    for the per-doc fraction. Three exchanges, no self-join, no explode
    re-derivation.

    Returns (id_col, total_ngrams, dup_ngrams, dup_frac).
    """
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(_ngram_occurrences(F.col(text_col), n)).alias("_gram"),
    )
    occ = grams.groupBy("_gram", "_id").agg(F.count(F.lit(1)).alias("_occ"))
    with_nd = occ.withColumn(
        "_nd", F.count(F.lit(1)).over(Window.partitionBy("_gram"))
    )
    return (
        with_nd.groupBy("_id")
        .agg(
            F.sum("_occ").alias("total_ngrams"),
            F.sum(F.when(F.col("_nd") > 1, F.col("_occ")).otherwise(0)).alias(
                "dup_ngrams"
            ),
        )
        .select(
            F.col("_id").alias(id_col),
            "total_ngrams",
            "dup_ngrams",
            half_up(F.col("dup_ngrams") / F.col("total_ngrams"), 6).alias("dup_frac"),
        )
    )


def gopher_quality_rules(
    df: DataFrame,
    *,
    text_col: str = "text",
    group_col: str = "source",
    min_words: int = 50,
    max_words: int = 2000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_frac: float = 0.6,
) -> DataFrame:
    """Gopher-style quality-rule screen [EXT]: the word-count bound,
    mean-word-length bound, and alpha-word-fraction rules from the Gopher /
    MassiveText curation recipe, aggregated per ``group_col``.

    Everything is a pure column expression over one scan (word count and
    character mass from the tokenizer regex; alpha words via one
    overlapping-match regex), so the whole screen is a single codegen stage
    feeding one hash aggregation. Returns per group: doc count, per-rule
    failure counts, and the count passing every rule.
    """
    t = F.trim(F.col(text_col))
    wc = F.when(t == "", 0).otherwise(F.size(F.split(t, r"\s+")))
    # character mass of the words themselves (spaces removed)
    char_mass = F.length(F.regexp_replace(t, r"\s+", ""))
    mean_wl = F.try_divide(char_mass, wc)
    alpha_words = F.size(
        F.regexp_extract_all(
            F.lower(t), F.lit(r"(?<=^| )([a-z]+)(?=$| )"), 1
        )
    )
    alpha_frac = F.try_divide(alpha_words, wc)
    flagged = df.select(
        F.col(group_col),
        ((wc < min_words) | (wc > max_words)).alias("_wc_fail"),
        (
            mean_wl.isNull()
            | (mean_wl < min_mean_word_len)
            | (mean_wl > max_mean_word_len)
        ).alias("_mwl_fail"),
        (alpha_frac.isNull() | (alpha_frac < min_alpha_word_frac)).alias("_alpha_fail"),
    )
    as_int = lambda c: F.sum(F.col(c).cast("int"))  # noqa: E731
    return flagged.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        as_int("_wc_fail").alias("n_wordcount_fail"),
        as_int("_mwl_fail").alias("n_meanwordlen_fail"),
        as_int("_alpha_fail").alias("n_alphafrac_fail"),
        F.sum(
            (~F.col("_wc_fail") & ~F.col("_mwl_fail") & ~F.col("_alpha_fail")).cast("int")
        ).alias("n_pass_all"),
    )


def top_ngrams_per_group(
    df: DataFrame,
    *,
    text_col: str = "text",
    group_col: str = "lang",
    n: int = 2,
    k: int = 3,
) -> DataFrame:
    """Top-k most frequent word n-grams per group [EXT] — the vocabulary /
    collocation profile a tokenizer-training pipeline samples from.

    Occurrence counting (multiplicity preserved), one shuffle on
    (group, gram) with map-side combine, then the standard top-k window on
    the much smaller aggregate. Ties break on the gram string ascending for
    full determinism. Returns (group, ngram, n_occurrences, rank).
    """
    grams = df.select(
        F.col(group_col),
        F.explode(_ngram_occurrences(F.col(text_col), n)).alias("ngram"),
    )
    counts = grams.groupBy(group_col, "ngram").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("n_occurrences").desc(), F.col("ngram")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(group_col, "ngram", "n_occurrences", "rank")
    )


def perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet-style perplexity partitioning [EXT]: score every document with
    the corpus-fit unigram LM (``unigram_logprob_scores``) and split the
    corpus into ``n_buckets`` fluency tiers (CCNet's head/middle/tail),
    reporting per-tier document/token mass.

    Tier cut points are EXACT distributional quantiles computed the
    scale-safe way: scores (already rounded to 6 decimals) collapse to a
    per-DISTINCT-score count table whose cardinality is bounded by value
    granularity, the cumulative distribution runs over that small table, and
    the cut score for quantile q is the smallest score whose cumulative
    count reaches ceil(q*n) — the same rank-selection rule as the
    winsorize/weighted-median operators. Document assignment is then a
    map-side comparison; no per-document global window anywhere (a global
    ``ntile`` would drag every document through one partition). Ties share a
    tier by construction, so tier sizes are equal up to tie mass.

    Returns (bucket, n_docs, total_tokens, avg_score, min_score, max_score).
    """
    scores = unigram_logprob_scores(df, id_col=id_col, text_col=text_col)
    dist = scores.groupBy("avg_neg_logprob").agg(
        F.count(F.lit(1)).alias("_c")
    )
    w = Window.orderBy("avg_neg_logprob").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = dist.select(
        "avg_neg_logprob",
        F.sum("_c").over(w).alias("_cum"),
        F.sum("_c").over(Window.partitionBy()).alias("_n"),
    )
    cuts = cum.select(
        *[
            F.min(
                F.when(
                    F.col("_cum") >= F.ceil(F.col("_n") * (i / n_buckets)),
                    F.col("avg_neg_logprob"),
                )
            ).alias(f"_cut{i}")
            for i in range(1, n_buckets)
        ]
    )
    bucket = F.lit(1)
    for i in range(1, n_buckets):
        bucket = bucket + F.when(
            F.col("avg_neg_logprob") > F.col(f"_cut{i}"), 1
        ).otherwise(0)
    return (
        scores.crossJoin(F.broadcast(cuts))
        .withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            # per-doc scores are PRE-ROUNDED to the 1e-6 grid, so the tier
            # mean is the exact rational S/(1e6·n) and a d=6 half boundary
            # is genuinely reachable (tiny-tier seed 97531, 6-doc tier).
            # Exact-integer half-up: S in 1e-6 units, floor(S/n + 0.5)/1e6.
            (
                F.floor(
                    F.sum(
                        F.round(F.col("avg_neg_logprob") * 1e6).cast("long")
                    ).cast("double")
                    / F.count(F.lit(1))
                    + 0.5
                )
                / F.lit(1e6)
            ).alias("avg_score"),
            F.min("avg_neg_logprob").alias("min_score"),
            F.max("avg_neg_logprob").alias("max_score"),
        )
    )


def heavy_hitter_tokens(
    df: DataFrame,
    text_col: str = "text",
    *,
    phi: float = 0.02,
    counters_factor: int = 2,
) -> DataFrame:
    """EXACT φ-heavy-hitter tokens via a bounded-memory candidate phase
    (Misra–Gries) + an exact recount restricted to the candidates.

    Why not a plain ``groupBy(token)``: at 100 TB the full-vocabulary
    aggregation shuffles O(vocab) distinct keys (web-scale corpora: 10⁸+
    after typos/numbers/URLs) to find what is usually a few hundred answers.
    This operator shuffles only O(1/φ · partitions) candidate rows:

    1. **Candidate phase** (``mapInPandas``, one pass): each partition folds
       its token stream through a weighted Misra–Gries summary with
       ``k = counters_factor · ⌈1/φ⌉`` counters (per Arrow batch:
       ``value_counts`` then a weighted fold — when the summary exceeds k
       entries, subtract the minimum residual from all and drop zeros).
       MG guarantees any token with partition frequency > n_p/(k+1)
       survives; a global φ-heavy hitter has frequency ≥ φ·n_p on at least
       one partition (pigeonhole), and φ > 1/(k+1), so the union of
       partition candidates is a SUPERSET of the true answer. Each
       partition also emits its token count as a ``(NULL, n_p)`` row, so
       the grand total needs no extra scan.
    2. **Exact phase**: one more scan joins the token stream to the
       broadcast candidate set and recounts exactly; the φ·total filter
       then yields exact counts with zero false positives/negatives.

    Returns ``(token, n, share)``, share rounded to 6. Both phases are
    deterministic, so a SQL oracle (full groupBy + filter) hash-matches.
    """
    import math

    k = counters_factor * math.ceil(1.0 / phi)

    text = F.col(text_col)
    tokens = df.select(
        F.explode(F.split(F.lower(F.trim(text)), r"\s+")).alias("w")
    ).filter(F.col("w") != "")

    def _mg(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            for w, c in pdf["w"].value_counts().items():
                counters[w] = counters.get(w, 0) + int(c)
                if len(counters) > k:
                    m = min(counters.values())
                    counters = {t: v - m for t, v in counters.items() if v > m}
        out = pd.DataFrame(
            {
                "w": list(counters.keys()) + [None],
                "n": list(counters.values()) + [n_part],
            }
        )
        yield out

    phase1 = tokens.mapInPandas(_mg, "w string, n long")
    candidates = phase1.filter(F.col("w").isNotNull()).select("w").distinct()
    total = phase1.filter(F.col("w").isNull()).agg(F.sum("n").alias("_tot"))
    exact = (
        tokens.join(F.broadcast(candidates), "w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("n") >= F.lit(phi) * F.col("_tot"))
        .select(
            F.col("w").alias("token"),
            "n",
            half_up(F.col("n") / F.col("_tot"), 6).alias("share"),
        )
    )
