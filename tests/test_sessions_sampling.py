"""Unit tests for batch sessionization, deterministic sampling, and TF-IDF
(operators/sessions.py, operators/sampling.py, textstats.tfidf_top_terms)."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import functions as F

from hubverse_transform_spark.operators.sampling import stratified_sample_exact
from hubverse_transform_spark.operators.sessions import session_stats, sessionize
from hubverse_transform_spark.operators.textstats import tfidf_top_terms


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), u) for i, (u, s) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long",
    )


def test_sessionize_boundaries(spark):
    # user 1: events at t=0, 10, 2000 (gap 1990 >= 1800 -> new session)
    # user 2: single event
    df = _events(spark, [(1, 0), (1, 10), (1, 2000), (2, 5)])
    out = sessionize(df, gap_seconds=1800).select("user_id", "event_id", "session_seq")
    got = {(r.user_id, r.event_id): r.session_seq for r in out.collect()}
    assert got == {(1, 0): 1, (1, 1): 1, (1, 2): 2, (2, 3): 1}


def test_sessionize_on_timestamp_ntz(spark):
    # the driver's events.parquet carries ts as TIMESTAMP_NTZ; Spark 4 forbids
    # CAST(TIMESTAMP_NTZ AS DOUBLE), so the gap arithmetic must stay NTZ-safe
    df = spark.createDataFrame(
        [(0, dt.datetime(2024, 1, 1), 1), (1, dt.datetime(2024, 1, 1, 1), 1)],
        "event_id long, ts timestamp_ntz, user_id long",
    )
    out = sessionize(df, gap_seconds=1800)
    assert [r.session_seq for r in out.orderBy("event_id").collect()] == [1, 2]
    stats = session_stats(df, gap_seconds=1800).collect()
    assert stats[0].n_sessions == 2


def test_sessionize_gap_exactly_at_threshold_starts_new_session(spark):
    # same convention as session_window_agg: gap >= threshold splits
    df = _events(spark, [(1, 0), (1, 1800)])
    out = sessionize(df, gap_seconds=1800)
    assert [r.session_seq for r in out.orderBy("event_id").collect()] == [1, 2]


def test_session_stats_durations(spark):
    df = _events(spark, [(1, 0), (1, 10), (1, 2000), (1, 2050), (2, 5)])
    out = {r.user_id: r for r in session_stats(df, gap_seconds=1800).collect()}
    assert out[1].n_sessions == 2
    assert out[1].n_events == 4
    assert out[1].max_session_events == 2
    assert out[1].avg_session_s == 30.0  # (10 + 50) / 2
    assert out[1].max_session_s == 50.0
    assert out[2].n_sessions == 1 and out[2].max_session_s == 0.0


def test_stratified_sample_exact_counts_and_determinism(spark):
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("g")
    )
    a = stratified_sample_exact(df, "g", "k", 10)
    assert a.groupBy("g").count().rdd.map(lambda r: r["count"]).collect() == [10, 10, 10]
    b = stratified_sample_exact(df.repartition(7), "g", "k", 10)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # small stratum: returns all rows, rank still 1..n
    tiny = df.filter((F.col("k") < 5) & (F.col("g") == "0"))
    assert stratified_sample_exact(tiny, "g", "k", 10).count() == 2


def test_tfidf_top_terms_tiny_corpus(spark):
    docs = spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "banana cherry"),
            (2, "cherry cherry durian"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.rank, r.term, r.tfidf))
    # doc 0: apple tf=2 df=1 -> 2*ln(3); banana tf=1 df=2 -> ln(1.5)
    assert [t for _, t, _ in sorted(by_doc[0])] == ["apple", "banana"]
    assert by_doc[0][0][2] == round(2 * math.log(3.0), 6)
    # doc 2: durian (tf=1, df=1, ln 3) beats cherry (tf=2, df=2, 2*ln 1.5)
    top2 = [t for _, t, _ in sorted(by_doc[2])]
    assert top2 == ["durian", "cherry"]


def test_tfidf_query_filter_keeps_global_stats(spark):
    docs = spark.createDataFrame(
        [(0, "x y"), (1, "x z"), (2, "x y")],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, k=5, query_filter=F.col("doc_id") == 0).collect()
    assert {r.doc_id for r in out} == {0}
    scores = {r.term: r.tfidf for r in out}
    # df(x)=3 -> idf = ln(1) = 0 even though only doc 0 is ranked
    assert scores["x"] == 0.0
    assert scores["y"] == round(math.log(3.0 / 2.0), 6)


def test_hash_split_deterministic_and_complete(spark):
    import pytest

    from hubverse_transform_spark.operators.sampling import hash_split, split_thresholds

    df = spark.range(1000).withColumnRenamed("id", "k")
    out = hash_split(df, "k")
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 1000
    # statistically ~800/100/100; generous bounds for a 1000-key sample
    assert 700 < counts["train"] < 900
    assert counts["val"] > 40 and counts["test"] > 40
    # pure function of the key: same assignment on a re-shuffled frame
    again = {r.k: r.split for r in hash_split(df.repartition(7), "k").collect()}
    first = {r.k: r.split for r in out.collect()}
    assert again == first
    with pytest.raises(ValueError):
        hash_split(df, "k", splits=(("a", 0.5), ("b", 0.1)))
    # thresholds are fixed-width lowercase hex, ordered
    ts = split_thresholds((("train", 0.8), ("val", 0.1), ("test", 0.1)))
    assert [t for _, t in ts] == ["cccccccc", "e6666666"]


def test_proportional_allocation_exact_counts(spark):
    from hubverse_transform_spark.operators.sampling import proportional_allocation_sample

    rows = [(i, "big", 30) for i in range(50)] + [(100 + i, "small", 10) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w long")
    out = proportional_allocation_sample(df, "source", "w", "doc_id", total_k=20)
    counts = {r.source: r.n for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # weights 1500 vs 500 -> floor(20*1500/2000)=15, floor(20*500/2000)=5
    assert counts == {"big": 15, "small": 5}
    assert out.filter(F.col("sample_rank") > 15).count() == 0


def test_ngram_containment_semantics(spark):
    from hubverse_transform_spark.operators.dedup import ngram_containment

    bench = spark.createDataFrame([(100, "the quick brown fox jumps")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),  # 4 shingles, 3 in bench
            (2, "a completely different sentence here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in ngram_containment(corpus, bench, "doc_id", "text", threshold=0.0).collect()}
    assert out[1].n_shingles == 4 and out[1].n_matched == 3
    assert out[1].containment == 0.75
    assert out[2].n_matched == 0
    flagged = ngram_containment(corpus, bench, "doc_id", "text", threshold=0.5)
    assert [r.doc_id for r in flagged.collect()] == [1]


def test_semantic_dedup_reps(spark):
    from hubverse_transform_spark.operators.similarity import semantic_dedup_reps

    # 2 centroids (ids 0,1 along axes); ids 2,3 near axis 0, id 4 near axis 1
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.9, 0.1]),
        (3, [1.0, 0.05]),
        (4, [0.1, 2.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.cid: r for r in semantic_dedup_reps(df, n_centroids=2).collect()}
    assert out[0].n_members == 3 and out[0].rep_id == 0  # centroid itself, sim 1.0
    assert out[1].n_members == 2 and out[1].rep_id == 1
    assert out[0].rep_sim == 1.0


def test_build_scd2_intervals(spark):
    from hubverse_transform_spark.operators.scd import build_scd2

    rows = [
        # key 1: A A B A  -> versions A(2 obs), B(1), A(1)
        (1, "A", 1), (1, "A", 2), (1, "B", 3), (1, "A", 4),
        # key 2: null null C -> versions null(2), C(1)
        (2, None, 1), (2, None, 2), (2, "C", 3),
    ]
    df = spark.createDataFrame(
        [(k, a, dt.datetime(2024, 1, t), i) for i, (k, a, t) in enumerate(rows)],
        "k long, attr string, ts timestamp, tb long",
    )
    out = sorted(
        build_scd2(df, "k", "attr", "ts", "tb").collect(), key=lambda r: (r.k, r.version)
    )
    k1 = [(r.attr, r.version, r.valid_from.day, r.valid_to.day if r.valid_to else None, r.n_obs)
          for r in out if r.k == 1]
    assert k1 == [("A", 1, 1, 3, 2), ("B", 2, 3, 4, 1), ("A", 3, 4, None, 1)]
    k2 = [(r.attr, r.version, r.n_obs) for r in out if r.k == 2]
    assert k2 == [(None, 1, 2), ("C", 2, 1)]


def test_build_scd2_invariants_random(spark):
    """Invariants over a seeded random change log: versions are contiguous
    from 1, n_obs sums to the row count, intervals chain (valid_to of v ==
    valid_from of v+1) with exactly one open interval per key, and
    consecutive versions never carry equal attributes."""
    import random

    from hubverse_transform_spark.operators.scd import build_scd2

    rng = random.Random(42)
    rows = []
    i = 0
    for k in range(20):
        for _ in range(rng.randint(1, 30)):
            rows.append((k, rng.choice(["A", "B", "C", None]), dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), i))
            i += 1
    df = spark.createDataFrame(rows, "k long, attr string, ts timestamp, tb long")
    out = build_scd2(df, "k", "attr", "ts", tiebreak_col="tb").collect()
    assert sum(r.n_obs for r in out) == len(rows)
    by_key = {}
    for r in out:
        by_key.setdefault(r.k, []).append(r)
    for k, vs in by_key.items():
        vs.sort(key=lambda r: r.version)
        assert [r.version for r in vs] == list(range(1, len(vs) + 1))
        opens = [r for r in vs if r.valid_to is None]
        assert len(opens) == 1 and opens[0] is vs[-1]
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to == b.valid_from
            assert a.attr != b.attr or (a.attr is None) != (b.attr is None) or a.attr != b.attr
        for a, b in zip(vs, vs[1:]):
            # null-safe inequality between consecutive versions
            assert not (a.attr == b.attr or (a.attr is None and b.attr is None))


def test_apply_changeset_merge_branches(spark):
    """Every MERGE branch in one pass: update wins, delete drops, insert
    appends, untouched passes through, and a base row whose data columns are
    all null still survives (the sentinel, not null-probing, decides
    matched-ness)."""
    from hubverse_transform_spark.operators.scd import apply_changeset

    base = spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", 20.0), (3, "C", 30.0), (4, None, None)],
        "k long, status string, amt double",
    )
    changes = spark.createDataFrame(
        [
            (2, "U", "B2", 25.0),   # update
            (3, "D", None, None),    # delete
            (9, "I", "N", 99.0),     # insert
            (8, "D", None, None),    # delete of a missing key: no-op
        ],
        "k long, op string, status string, amt double",
    )
    out = {r.k: (r.status, r.amt) for r in apply_changeset(base, changes, "k").collect()}
    assert out == {
        1: ("A", 10.0),
        2: ("B2", 25.0),
        4: (None, None),
        9: ("N", 99.0),
    }


def test_apply_changeset_random_model(spark):
    """Seeded-random changesets vs a dict reference model: apply_changeset
    must agree with the obvious sequential MERGE semantics for any mix of
    update/delete/insert/no-op keys."""
    import random

    from hubverse_transform_spark.operators.scd import apply_changeset

    rng = random.Random(99)
    base_rows = [(k, rng.choice("ABC"), float(rng.randint(0, 50))) for k in range(40)]
    ops = []
    for k in rng.sample(range(60), 30):  # keys 40..59 don't exist in base
        op = rng.choice(["U", "D", "I"])
        ops.append((k, op, rng.choice("XYZ"), float(rng.randint(100, 200))))

    model = {k: (s, a) for k, s, a in base_rows}
    for k, op, s, a in ops:
        if op == "D":
            model.pop(k, None)
        elif op in ("U", "I"):
            # U only rewrites matched keys; I only appends unmatched ones
            if op == "U" and k in model:
                model[k] = (s, a)
            if op == "I" and k not in model:
                model[k] = (s, a)

    base = spark.createDataFrame(base_rows, "k long, status string, amt double")
    changes = spark.createDataFrame(ops, "k long, op string, status string, amt double")
    got = {r.k: (r.status, r.amt) for r in apply_changeset(base, changes, "k").collect()}
    assert got == model


def test_changeset_then_diff_roundtrip(spark):
    """Cross-operator consistency: snapshot_diff(base, apply_changeset(base,
    changes)) recovers exactly the changeset's effect — updates classify as
    'changed', deletes as 'removed', inserts as 'added', everything else
    'unchanged'."""
    from hubverse_transform_spark.operators.diff import snapshot_diff
    from hubverse_transform_spark.operators.scd import apply_changeset

    base = spark.createDataFrame(
        [(k, chr(65 + k % 3), float(k)) for k in range(30)],
        "k long, status string, amt double",
    )
    changes = spark.createDataFrame(
        [
            (3, "U", "Z", 99.0),
            (4, "U", chr(65 + 4 % 3), float(4)),  # no-op update (same values)
            (7, "D", None, None),
            (50, "I", "N", 1.0),
        ],
        "k long, op string, status string, amt double",
    )
    merged = apply_changeset(base, changes, "k")
    diff = {
        r.k: r.change
        for r in snapshot_diff(base, merged, "k", ["status", "amt"]).collect()
    }
    assert diff[3] == "changed"
    assert diff[4] == "unchanged"  # update writing identical values
    assert diff[7] == "removed"
    assert diff[50] == "added"
    assert all(v == "unchanged" for k, v in diff.items() if k not in (3, 7, 50))


def test_prefix_filter_random_mutation_corpus(spark):
    """Prefix filtering stays lossless on a seeded random corpus with
    near-duplicate mutations (the adversarial case: shared vocabulary,
    clustered similarities around the threshold)."""
    import random

    from hubverse_transform_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )

    rng = random.Random(1234)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        docs.append((i, " ".join(rng.choices(vocab, k=rng.randint(8, 25)))))
    # mutated near-dups of the first 10
    for i in range(10):
        toks = docs[i][1].split()
        j = rng.randrange(len(toks))
        toks[j] = rng.choice(vocab)
        docs.append((100 + i, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for t in (0.4, 0.7):
        base = {
            (r.id_a, r.id_b): round(r.jaccard, 6)
            for r in ngram_jaccard_pairs(df, "doc_id", "text", ngram=2, threshold=t).collect()
        }
        pref = {
            (r.id_a, r.id_b): r.jaccard
            for r in prefix_filter_jaccard_pairs(df, "doc_id", "text", ngram=2, threshold=t).collect()
        }
        assert pref == base, f"t={t}: sym diff {set(pref) ^ set(base)}"


def _shingle_sets(df):
    from hubverse_transform_spark.operators.dedup import shingle_ngrams

    return {
        r.doc_id: frozenset(r.sh)
        for r in df.select("doc_id", shingle_ngrams(F.col("text"), 3).alias("sh")).collect()
    }


def _brute_containment(sets, t):
    """All ordered pairs (a, b) with |a ∩ b| / |a| >= t, rounded as the
    operator rounds."""
    want = {}
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a != b and len(sa & sb) / len(sa) >= t:
                want[(a, b)] = round(len(sa & sb) / len(sa), 6)
    return want


def test_containment_pairs_equal_bruteforce(spark):
    """Prefix-filtered containment join is lossless: on the same seeded
    mutation corpus, the probe-prefix path returns exactly the ordered
    pairs (and values) an all-pairs shingle-set scan computes in Python.
    Asymmetry probe: a short doc embedded in a longer one must score 1.0
    in the A->B direction but below threshold in B->A."""
    import random

    from hubverse_transform_spark.operators.dedup import containment_prefix_pairs

    rng = random.Random(77)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        docs.append((i, " ".join(rng.choices(vocab, k=rng.randint(8, 25)))))
    for i in range(10):  # mutated near-dups
        toks = docs[i][1].split()
        toks[rng.randrange(len(toks))] = rng.choice(vocab)
        docs.append((100 + i, " ".join(toks)))
    # true sub-documents: first 6 tokens of doc 0/1 as standalone docs
    docs.append((200, " ".join(docs[0][1].split()[:6])))
    docs.append((201, " ".join(docs[1][1].split()[:6])))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sets = _shingle_sets(df)
    for t in (0.5, 0.8):
        got = {
            (r.id_a, r.id_b): r.containment
            for r in containment_prefix_pairs(
                df, "doc_id", "text", ngram=3, threshold=t, salt_buckets=4
            ).collect()
        }
        want = _brute_containment(sets, t)
        assert got == want, f"t={t}: sym diff {set(got) ^ set(want)}"
    # the embedded short docs must be contained at 1.0 somewhere
    full = {
        (r.id_a, r.id_b): r.containment
        for r in containment_prefix_pairs(
            df, "doc_id", "text", ngram=3, threshold=0.9
        ).collect()
    }
    assert any(a == 200 and c == 1.0 for (a, _b), c in full.items())
    assert not any(b == 200 and a != 201 for (a, b) in full)


def test_containment_hot_shingle_residual_equals_bruteforce(spark):
    """The salted residual join for hot shingles keeps the result exact.
    One boilerplate shingle sits in 40 of 70 docs, over a long tail of
    shingles that each occur in one doc, so the cap derived from the data
    (4x the p99.9 document frequency, floor 16) marks exactly that shingle
    hot. Two docs consist of the boilerplate alone: their only probe
    posting is hot, so every pair they head comes from the residual."""
    from collections import Counter

    from hubverse_transform_spark.operators.dedup import containment_prefix_pairs

    boiler = "lorem ipsum dolor"
    docs = []
    for i in range(70):
        tail = " ".join(f"t{i}x{j}" for j in range(30))
        docs.append((i, f"{tail} {boiler} end{i}" if i < 40 else tail))
    docs += [(100, boiler), (101, boiler)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sets = _shingle_sets(df)

    dfs = Counter(s for sh in sets.values() for s in sh)
    p999 = (
        spark.createDataFrame([(n,) for n in dfs.values()], "_df long")
        .agg(F.expr("approx_percentile(_df, 0.999, 10000)"))
        .first()[0]
    )
    cap = max(16, int(p999) * 4)
    assert {s for s, n in dfs.items() if n > cap} == {boiler}

    for t in (0.5, 0.9):
        got = {
            (r.id_a, r.id_b): r.containment
            for r in containment_prefix_pairs(
                df, "doc_id", "text", ngram=3, threshold=t, salt_buckets=4
            ).collect()
        }
        want = _brute_containment(sets, t)
        assert got == want, f"t={t}: sym diff {set(got) ^ set(want)}"
        assert sum(1 for a, _ in got if a in (100, 101)) == 2 * 41


def test_apply_changeset_duplicate_keys_raise(spark):
    """MERGE precondition: duplicate keys in the changeset raise (like
    Delta's 'multiple source rows matched') instead of silently fanning
    out through the join (ADVICE r3)."""
    import pytest

    from hubverse_transform_spark.operators.scd import apply_changeset

    base = spark.createDataFrame(
        [(1, "A", 10.0)], "k long, status string, amt double"
    )
    changes = spark.createDataFrame(
        [(1, "U", "B", 1.0), (1, "U", "C", 2.0)],
        "k long, op string, status string, amt double",
    )
    with pytest.raises(ValueError, match="multiple change rows"):
        apply_changeset(base, changes, "k").collect()

