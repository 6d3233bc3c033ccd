"""Operator unit tests: uniqueness, stats, drift, dedup, similarity."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from jschon_spark.operators import dedup, drift, referential, sessions, similarity, stats, textqa, uniqueness


@pytest.fixture(scope="module")
def kv_df(spark):
    rows = [(i % 7, f"v{i}") for i in range(100)] + [(99, "hot")] * 50
    return spark.createDataFrame(rows, "k long, v string").cache()


def test_duplicate_keys_plain_equals_salted(spark, kv_df):
    plain = {(r.k, r.n_dup) for r in uniqueness.duplicate_keys(kv_df, "k").collect()}
    salted = {
        (r.k, r.n_dup)
        for r in uniqueness.duplicate_keys_salted(kv_df, "k", buckets=8).collect()
    }
    assert plain == salted
    assert (99, 50) in plain


def test_uniqueness_verdict(spark):
    df = spark.createDataFrame([(1,), (2,), (2,), (3,)], "k long")
    row = uniqueness.uniqueness_verdict(df, "k").collect()[0]
    assert (row.n_rows, row.n_dup_keys, row.n_dup_rows, row.passed) == (4, 1, 2, False)
    df2 = spark.createDataFrame([(1,), (2,)], "k long")
    assert uniqueness.uniqueness_verdict(df2, "k").collect()[0].passed is True


def test_column_stats(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "c")], "x long, s string"
    )
    rows = {r.col_name: r for r in stats.column_stats(df, exact_distinct=True).collect()}
    assert rows["x"].n_rows == 4 and rows["x"].n_nulls == 1 and rows["x"].n_distinct == 2
    assert rows["x"].min_str == "1" and rows["x"].max_str == "2"
    assert rows["s"].n_nulls == 1 and rows["s"].n_distinct == 3


def test_referential_and_enum(spark):
    fact = spark.createDataFrame([("en",), ("zz",), (None,)], "lang string")
    dim = spark.createDataFrame([("en",), ("de",)], "code string")
    viols = referential.referential_violations(fact, dim, "lang", "code")
    got = sorted([r.lang for r in viols.collect()], key=str)
    assert got == [None, "zz"]
    ev = referential.enum_violations(fact, "lang", ["en", "de"])
    assert sorted([r.lang for r in ev.collect()], key=str) == [None, "zz"]
    # None allowed
    ev2 = referential.enum_violations(fact, "lang", ["en", None])
    assert [r.lang for r in ev2.collect()] == ["zz"]


def test_drift_psi_zero_for_identical(spark):
    rows = [(float(i % 10), "a") for i in range(1000)] + [
        (float(i % 10), "b") for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "v double, p string")
    rep = drift.drift_report(df, "v", "p", lo=0.0, hi=10.0, n_bins=10)
    assert all(abs(d["psi"]) < 1e-9 and d["passed"] for d in rep)


def test_drift_detects_shift(spark):
    rows = [(float(i % 10), "ref") for i in range(1000)] + [
        (9.0, "shifted") for _ in range(1000)
    ]
    df = spark.createDataFrame(rows, "v double, p string")
    rep = {d["partition"]: d for d in drift.drift_report(df, "v", "p", 0.0, 10.0, 10)}
    assert not rep["shifted"]["passed"]
    assert rep["shifted"]["psi"] > rep["ref"]["psi"]


def test_psi_ks_math():
    assert drift.psi([0.5, 0.5], [0.5, 0.5]) == 0.0
    assert drift.ks_stat([1.0, 0.0], [0.0, 1.0]) == 1.0
    assert drift.psi([0.9, 0.1], [0.1, 0.9]) > 1.0


def test_exact_duplicate_groups(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "unrelated")],
        "id long, text string",
    )
    groups = dedup.exact_duplicate_groups(df, "id", "text").collect()
    assert len(groups) == 1 and groups[0].doc_ids == [1, 2]


def test_minhash_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base + " ok"),  # near-dup of 1
        (3, "completely different words that share nothing at all with others"),
        (4, "another unrelated document about spark schema validation engines"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    pairs = dedup.minhash_near_duplicates(
        df, "id", "text", shingle_n=2, num_hashes=32, bands=16, threshold=0.5
    ).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}


def test_ngram_jaccard_pairs(spark):
    rows = [(1, "a b c d e"), (2, "a b c d e f"), (3, "x y z w q")]
    df = spark.createDataFrame(rows, "id long, text string")
    pairs = dedup.ngram_jaccard_pairs(df, "id", "text", shingle_n=2, threshold=0.5)
    got = {(p.id_a, p.id_b): round(p.jaccard, 3) for p in pairs.collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == round(4 / 5, 3)


def test_simhash_identical_and_near(spark):
    rows = [
        (1, "spark schema validation engine runs fast on large data sets"),
        (2, "spark schema validation engine runs fast on large data sets"),
        (3, "entirely different content with nothing shared whatsoever here"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    pairs = dedup.simhash_near_duplicates(df, "id", "text", max_hamming=0).collect()
    assert {(p.id_a, p.id_b, p.hamming) for p in pairs} == {(1, 2, 0)}


def test_brute_force_topk_vs_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(30, 8).astype("float32")
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.brute_force_topk(df, queries, k=3).collect()

    v = vecs.astype("float64")
    norms = np.linalg.norm(v, axis=1)
    for q in range(2):
        cos = (v @ v[q]) / (norms * norms[q])
        want = list(np.argsort(-cos, kind="stable")[:3])
        have = [r.vec_id for r in sorted(got, key=lambda r: r.rank) if r.query_id == q]
        assert have == want


def test_lsh_topk_subset_of_brute(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    vecs = rng.randn(50, 16).astype("float32")
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.lsh_topk(df, queries, dim=16, k=5, n_planes=4).collect()
    # query vector itself always lands in its own bucket at rank 1
    assert got and got[0].vec_id == 0 and got[0].rank == 1


def test_embedding_near_duplicates(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = similarity.embedding_near_duplicates(
        df, dim=4, n_planes=6, min_cos=0.99
    ).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}


def test_token_count_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "hello  world"), (2, ""), (3, None), (4, "a, b! c?")],
        "id long, text string",
    )
    toks = {r.id: r.n for r in df.select("id", textqa.token_count(F.col("text")).alias("n")).collect()}
    assert toks[1] == 2 and toks[2] == 0 and toks[4] == 3
    q = {r.id: r for r in textqa.quality_features(df, "text").collect()}
    assert q[1].n_tokens == 2 and q[2].n_tokens == 0
    assert q[4].punct_ratio > 0


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog in a house that is big"),
            (2, "der hund und die katze ist nicht ein problem mit den"),
            (3, "xyzzy plugh"),
        ],
        "id long, text string",
    )
    got = {r.id: r.lang_pred for r in textqa.lang_id(df, "text").collect()}
    assert got[1] == "en" and got[2] == "de" and got[3] == "und"


def test_ivf_topk_recall_vs_brute(spark):
    import numpy as np
    from jschon_spark.operators.similarity import ivf_topk

    rng = np.random.RandomState(3)
    vecs = rng.randn(200, 16).astype("float32")
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = similarity.brute_force_topk(df, queries, k=5)
    ivf = ivf_topk(df, queries, k=5, n_lists=8, n_probe=4)
    bmap, imap = {}, {}
    for r in brute.collect():
        bmap.setdefault(r.query_id, set()).add(r.vec_id)
    for r in ivf.collect():
        imap.setdefault(r.query_id, set()).add(r.vec_id)
    # n_probe=4 of 8 lists: expect decent recall, and the query's own
    # vector (cos=1) is always found
    for q in bmap:
        assert q in imap[q]
        recall = len(bmap[q] & imap[q]) / 5
        assert recall >= 0.4, f"query {q}: recall {recall}"


def test_drift_scores_matches_driver_report(spark):
    rows = (
        [(float(i % 10), "ref") for i in range(1000)]
        + [(9.0, "shifted") for _ in range(400)]
        + [(float(i % 7), "mild") for i in range(500)]
    )
    df = spark.createDataFrame(rows, "v double, p string")
    dist = {
        r["p"]: r
        for r in drift.drift_scores(df, "v", "p", 0.0, 10.0, 10).collect()
    }
    rep = {d["partition"]: d for d in drift.drift_report(df, "v", "p", 0.0, 10.0, 10)}
    assert set(dist) == set(rep)
    for p, d in rep.items():
        assert math.isclose(dist[p]["psi"], d["psi"], rel_tol=1e-12)
        assert math.isclose(dist[p]["ks"], d["ks"], rel_tol=1e-12, abs_tol=1e-12)
        assert dist[p]["drift_passed"] == d["passed"]
        assert dist[p]["n_values"] == d["n"]


def test_minhash_portable_matches_all_pairs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base + " ok"),
        (3, "completely different words that share nothing at all with others"),
        (4, base.replace("dog", "cat")),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        (p.id_a, p.id_b): p.jaccard
        for p in dedup.minhash_near_duplicates_portable(
            df, "id", "text", shingle_n=2, num_hashes=32, bands=16, threshold=0.5
        ).collect()
    }
    exact = {
        (p.id_a, p.id_b): p.jaccard
        for p in dedup.ngram_jaccard_pairs(
            df, "id", "text", shingle_n=2, threshold=0.5
        ).collect()
    }
    # LSH at 16 bands x 2 rows has ~1 - (1-j^2)^16 >= 0.999 recall at j >= 0.5
    assert got == exact


def test_brute_force_pairs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = similarity.brute_force_pairs(df, min_cos=0.95).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}
    assert all(p.cos >= 0.95 for p in pairs)


def test_brute_force_pairs_broadcast_respects_threshold(spark, tmp_path):
    """The broadcast hint is kept only while the input's files fit under
    spark.sql.autoBroadcastJoinThreshold: with the threshold at -1 the
    pair join has no BroadcastExchange, and the pairs are unchanged."""
    import numpy as np

    rng = np.random.RandomState(3)
    centers = rng.randn(6, 8)
    rows = [(i, [float(x) for x in centers[i % 6] + 0.01 * rng.randn(8)])
            for i in range(36)]
    path = str(tmp_path / "emb")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.parquet(path)

    def run():
        df = similarity.brute_force_pairs(spark.read.parquet(path), min_cos=0.9, dim=8)
        pairs = sorted((r.id_a, r.id_b) for r in df.collect())
        return pairs, df._jdf.queryExecution().executedPlan().toString()

    pairs, plan = run()
    assert pairs and "BroadcastExchange" in plan
    key = "spark.sql.autoBroadcastJoinThreshold"
    default = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        guarded, plan = run()
    finally:
        spark.conf.set(key, default)
    assert "BroadcastExchange" not in plan
    assert guarded == pairs


def test_ivf_topk_seeded_finds_self(spark):
    import numpy as np
    from jschon_spark.operators.similarity import ivf_topk_seeded

    rng = np.random.RandomState(5)
    vecs = rng.randn(120, 16).astype("float32")
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ivf_topk_seeded(df, queries, dim=16, k=5, n_lists=8, n_probe=3)
    per_q = {}
    for r in got.collect():
        per_q.setdefault(r.query_id, []).append(r)
    # a query's own vector is in its nearest list -> always rank 1
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rank)
        assert rs[0].vec_id == q and rs[0].rank == 1


def test_embedding_near_duplicates_multi_table_recall(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    base = rng.randn(40, 16).astype("float32")
    rows = []
    for i in range(40):
        rows.append((2 * i, [float(x) for x in base[i]]))
        # planted near-duplicate: tiny perturbation -> cos ~ 1
        rows.append((2 * i + 1, [float(x) + 1e-3 for x in base[i]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = similarity.embedding_near_duplicates(
        df, dim=16, n_planes=4, n_tables=6, min_cos=0.999
    ).collect()
    got = {(p.id_a, p.id_b) for p in pairs}
    planted = {(2 * i, 2 * i + 1) for i in range(40)}
    # OR-construction over 6 tables: near-identical pairs must all collide
    assert planted <= got


def test_conformance_runner_matches_expectations(spark):
    from jschon_spark.conformance_corpus import CASES, DYNAMIC_2019_CASES
    from jschon_spark.operators import conformance

    cases = CASES[:12] + DYNAMIC_2019_CASES
    got = {
        r.case_id: r.valid
        for r in conformance.conformance_verdicts(spark, cases).collect()
    }
    for cid, _, _, expected in conformance.flatten_cases(cases):
        assert got[cid] == expected, f"case {cid}"


def test_duplicate_keys_prefiltered_matches_plain(spark):
    from jschon_spark.operators import uniqueness

    rows = [(f"https://e.x/{i % 40}",) for i in range(100)] + [(None,)]
    df = spark.createDataFrame(rows, "url string").filter(F.col("url").isNotNull())
    plain = {(r.url, r.n_dup) for r in uniqueness.duplicate_keys(df, "url").collect()}
    pref = {(r.url, r.n_dup)
            for r in uniqueness.duplicate_keys_prefiltered(df, "url").collect()}
    pref_nb = {(r.url, r.n_dup)
               for r in uniqueness.duplicate_keys_prefiltered(
                   df, "url", broadcast_candidates=False).collect()}
    assert plain == pref == pref_nb and len(plain) == 40


def test_duplicate_clusters_and_representatives(spark):
    from jschon_spark.operators import dedup

    # two chains + one isolated pair: {1-2-3-4}, {10-11}, {20-21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)],
        "id_a long, id_b long",
    )
    got = {(r.id, r.cluster_id)
           for r in dedup.duplicate_clusters(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                   (10, 10), (11, 10), (20, 20), (21, 20)}

    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21, 99]], "doc_id long"
    )
    kept = {r.doc_id for r in
            dedup.dedup_representatives(docs, pairs, "doc_id").collect()}
    # one per cluster (the min id) plus untouched ids
    assert kept == {1, 10, 20, 99}


def test_embedding_near_dup_hot_bucket_cap(spark):
    """A mega-cluster of identical vectors must be droppable from
    candidate generation (quadratic blowup guard); small clusters
    survive the cap."""
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(50)]        # hot cluster
    rows += [(100, [0.0, 1.0, 0.0, 0.0]), (101, [0.0, 0.999, 0.001, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = similarity.embedding_near_duplicates(
        df, dim=4, n_planes=4, n_tables=2, min_cos=0.99, max_bucket_size=10
    ).collect()
    got = {(p.id_a, p.id_b) for p in capped}
    assert (100, 101) in got                      # small cluster kept
    assert not any(a < 50 and b < 50 for a, b in got)  # hot cluster dropped

    uncapped = similarity.embedding_near_duplicates(
        df, dim=4, n_planes=4, n_tables=2, min_cos=0.99
    ).count()
    assert uncapped >= 50 * 49 / 2                # quadratic without the cap


def test_cosine_zero_vector_is_null_not_error(spark):
    """ANSI mode: a zero embedding must yield NULL cosine, not a
    divide-by-zero error."""
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    pairs = similarity.brute_force_pairs(df, min_cos=0.5, dim=2).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}
    near = similarity.embedding_near_duplicates(
        df, dim=2, n_planes=2, n_tables=2, min_cos=0.5
    ).collect()
    assert {(p.id_a, p.id_b) for p in near} <= {(1, 2)}


def test_duplicate_clusters_deep_chain_pointer_doubling(spark):
    """A 120-hop chain: plain min-label propagation needs ~119 rounds;
    pointer doubling covers distance 2^r - 1 after r rounds, so
    max_iter=10 must fully converge (7 rounds + 1 no-change round)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(119)], "id_a long, id_b long"
    )
    got = {(r.id, r.cluster_id)
           for r in dedup.duplicate_clusters(
               pairs, max_iter=10, small_graph_max_edges=0).collect()}
    assert got == {(i, 0) for i in range(120)}
    # the small-graph union-find path must produce the identical labels
    fast = {(r.id, r.cluster_id)
            for r in dedup.duplicate_clusters(pairs).collect()}
    assert fast == got


def test_duplicate_clusters_nonconvergence_raises_or_warns(spark):
    """Exhausting max_iter with labels still moving means partially
    propagated (wrong) cluster_ids — must not be returned silently."""
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_clusters(pairs, max_iter=1, small_graph_max_edges=0)
    with _pytest.warns(RuntimeWarning, match="did not converge"):
        out = dedup.duplicate_clusters(pairs, max_iter=1,
                                       on_nonconverged="warn",
                                       small_graph_max_edges=0)
    assert out.count() == 31  # over-segmented but present


def test_auto_n_planes_sizing():
    from jschon_spark.operators.similarity import auto_n_planes

    assert auto_n_planes(100) == 6            # floor at test scale
    assert auto_n_planes(100_000) == 14       # docstring's 100k example
    assert auto_n_planes(10**9) == 24         # ceiling: n_tables takes over
    assert auto_n_planes(0) == 6


def test_lsh_paths_have_scale_safe_defaults():
    """VERDICT r2 #3: a caller at scale must get safe knobs without
    reading docstrings — hot-bucket caps ON by default, planes derived
    from the corpus when unspecified."""
    import inspect

    assert inspect.signature(dedup.minhash_near_duplicates
                             ).parameters["max_bucket_size"].default == 1000
    assert inspect.signature(dedup.simhash_near_duplicates
                             ).parameters["max_bucket_size"].default == 1000
    sig = inspect.signature(similarity.embedding_near_duplicates)
    assert sig.parameters["max_bucket_size"].default == 1000
    assert sig.parameters["n_planes"].default is None


def test_embedding_near_dup_auto_sizes_planes(spark):
    """No manual knobs: planes derive from df.count() and planted
    near-identical pairs are still found (recall via 8 OR-tables)."""
    import numpy as np

    rng = np.random.RandomState(3)
    base = rng.randn(400, 16).astype("float32")
    rows = []
    for i in range(400):
        rows.append((2 * i, [float(x) for x in base[i]]))
        rows.append((2 * i + 1, [float(x) + 1e-3 for x in base[i]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = similarity.embedding_near_duplicates(
        df, dim=16, min_cos=0.999
    ).collect()
    got = {(p.id_a, p.id_b) for p in pairs}
    planted = {(2 * i, 2 * i + 1) for i in range(400)}
    assert planted <= got


def test_simhash_hot_chunk_cap(spark):
    """max_bucket_size drops hot (chunk, value) buckets from SimHash
    candidate generation; small groups survive."""
    rows = [(i, "identical boilerplate text repeated everywhere") for i in range(20)]
    rows += [(100, "a genuinely unique document about spark physical plans"),
             (101, "a genuinely unique document about spark physical plans")]
    df = spark.createDataFrame(rows, "id long, text string")
    capped = dedup.simhash_near_duplicates(
        df, "id", "text", max_hamming=6, max_bucket_size=5
    ).collect()
    got = {(p.id_a, p.id_b) for p in capped}
    assert not any(a < 50 and b < 50 for a, b in got)   # hot cluster dropped
    assert (100, 101) in got                            # small pair kept


def test_numeric_quantiles_exact_and_approx(spark):
    """Exact path interpolates like quantile_cont; approx path (the
    100 TB shape — mergeable GK sketch) lands within rank error."""
    from jschon_spark.operators import stats

    df = spark.createDataFrame([(float(i),) for i in range(101)], "x double")
    got = {(r.col_name, r.p): r.q
           for r in stats.numeric_quantiles(df, ["x"]).collect()}
    assert got[("x", 0.5)] == 50.0 and got[("x", 0.25)] == 25.0
    assert got[("x", 0.95)] == 95.0
    appr = {(r.col_name, r.p): r.q
            for r in stats.numeric_quantiles(df, ["x"], exact=False).collect()}
    assert abs(appr[("x", 0.5)] - 50.0) <= 1.0


def test_repetition_features_hand_computed(spark):
    # doc 1: "a b a b c" -> 5 tokens, distinct 3 -> dup_token 2/5;
    #   2-grams [a b, b a, a b, b c]: 4, distinct 3 -> 1/4;
    #   3-grams [a b a, b a b, a b c]: distinct 3 -> 0;
    #   top token a (or b) = 2 -> 2/5.
    # doc 2: "x x x x" -> dup 3/4, 2-gram [x x]*3 -> 2/3, 3-gram -> 1/2, top 1.0
    # doc 3: empty / doc 4: NULL -> all zeros.
    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "x x x x"), (3, ""), (4, None)],
        "id long, text string",
    )
    got = {r.id: r for r in textqa.repetition_features(df).collect()}
    r1 = got[1]
    assert r1.rep_n_tokens == 5
    assert abs(r1.dup_token_frac - 2 / 5) < 1e-12
    assert abs(r1.dup_2gram_frac - 1 / 4) < 1e-12
    assert r1.dup_3gram_frac == 0.0
    assert abs(r1.top_token_frac - 2 / 5) < 1e-12
    r2 = got[2]
    assert r2.rep_n_tokens == 4
    assert abs(r2.dup_token_frac - 3 / 4) < 1e-12
    assert abs(r2.dup_2gram_frac - 2 / 3) < 1e-12
    assert abs(r2.dup_3gram_frac - 1 / 2) < 1e-12
    assert r2.top_token_frac == 1.0
    for i in (3, 4):
        r = got[i]
        assert r.rep_n_tokens == 0 and r.dup_token_frac == 0.0
        assert r.top_token_frac == 0.0


def test_contamination_report_planted(spark):
    from jschon_spark.operators import decontam

    docs = spark.createDataFrame(
        [
            # contains the benchmark 4-gram "w x y z" twice-shifted context
            (1, "a b c w x y z d e"),
            (2, "no overlap here at all whatsoever friend"),
            (3, "w x y z"),          # exactly the benchmark gram
            (4, "w x y"),            # too short for n=4 -> no grams
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([("p q w x y z r",)], "text string")
    got = {r.doc_id: r for r in decontam.contamination_report(
        docs, bench, n=4).collect()}
    assert set(got) == {1, 3}
    # doc 1: 6 distinct 4-grams, exactly one ("w x y z") in bench
    assert got[1].n_grams == 6 and got[1].n_hit == 1
    assert abs(got[1].hit_frac - 1 / 6) < 1e-12
    # doc 3: single gram, fully contaminated
    assert got[3].n_grams == 1 and got[3].n_hit == 1
    assert got[3].hit_frac == 1.0


def test_pii_features_counts_and_redaction(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob@example.com and carol.x+1@sub.example.org end"),
            (2, "host 10.0.0.1 and 192.168.3.17 up"),
            (3, "call 415-555-0123 or 415 555 9999"),
            # the IP-ish domain is consumed by the email redaction first
            (4, "a@10.1.1.1.com"),
            (5, "clean text only"),
            (6, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in textqa.pii_features(df).collect()}
    assert got[1].n_email == 2 and got[1].n_ipv4 == 0
    assert "<EMAIL>" in got[1].pii_redacted
    assert "bob@" not in got[1].pii_redacted
    assert got[2].n_ipv4 == 2 and "<IPV4>" in got[2].pii_redacted
    assert got[3].n_phone == 2
    assert got[4].n_email == 1
    assert "<IPV4>" not in got[4].pii_redacted  # email won the overlap
    assert got[5].n_email == got[5].n_ipv4 == got[5].n_phone == 0
    assert got[5].pii_redacted == "clean text only"
    assert got[6].n_email == 0 and got[6].pii_redacted is None


def test_sessionize_gap_boundary_hand_computed(spark):
    # user 1: deltas 10min, EXACTLY 30min (merges: Spark coalesces
    # touching [ts, ts+gap] intervals), then 30min+1us (splits).
    # user 2: one lone event.
    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:10:00", 2.0),
        (1, "2024-01-01 00:40:00", 4.0),          # == gap -> same session
        (1, "2024-01-01 01:10:00.000001", 8.0),   # > gap -> new session
        (2, "2024-01-01 05:00:00", 16.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, value double") \
        .withColumn("ts", F.to_timestamp("ts"))
    got = sorted(
        sessions.sessionize(df, gap="30 minutes").collect(),
        key=lambda r: (r.user_id, r.session_start_us),
    )
    base = 1704067200_000000  # 2024-01-01T00:00:00Z in epoch micros
    assert [
        (r.user_id, r.session_start_us, r.n_events, r.span_us, r.total_value)
        for r in got
    ] == [
        (1, base, 3, 40 * 60_000_000, 7.0),
        (1, base + 70 * 60_000_000 + 1, 1, 0, 8.0),
        (2, base + 5 * 3600_000_000, 1, 0, 16.0),
    ]


def test_line_dedup_drops_frequent_keeps_order(spark):
    from jschon_spark.operators import webtext

    rows = [
        (1, "unique one\nBOILER\nunique two"),
        (2, "BOILER\nother text"),
        (3, "BOILER"),                 # all lines boilerplate -> empty
        (4, "solo line"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in webtext.line_dedup(df, min_docs=3).collect()}
    assert len(got) == 4
    assert (got[1].n_lines, got[1].n_kept) == (3, 2)
    assert got[1].text_dedup == "unique one\nunique two"  # order preserved
    assert got[2].text_dedup == "other text"
    assert (got[3].n_kept, got[3].text_dedup) == (0, "")
    assert got[4].text_dedup == "solo line"


def test_c4_clean_line_and_doc_rules(spark):
    from jschon_spark.operators import webtext

    rows = [
        (1, "this line has five words.\nshort one.\nno punct at all here\n"
            "enable javascript to see this."),
        (2, "contains lorem ipsum sadly but is otherwise a fine sentence."),
        (3, "code { return } here with a good long sentence to spare."),
        (4, "nothing qualifies here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in webtext.c4_clean(df).collect()}
    # doc 1: only the first line survives (short one. has 2 words; the
    # javascript line is dropped despite punct+length)
    assert (got[1].n_lines, got[1].n_kept_lines) == (4, 1)
    assert got[1].text_clean == "this line has five words."
    assert got[1].c4_passed
    assert got[2].has_lorem and not got[2].c4_passed
    assert got[3].has_brace and not got[3].c4_passed
    assert got[4].n_kept_lines == 0 and not got[4].c4_passed


def test_stratified_sample_rates_and_monotonicity(spark):
    from jschon_spark.operators import webtext

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(400)],
        "doc_id long, lang string",
    )
    full = webtext.stratified_sample(df, rates={"en": 1.0}, default_rate=0.0)
    ids = {r.doc_id for r in full.collect()}
    assert ids == {i for i in range(400) if i % 2 == 0}  # all en, no de
    lo = {r.doc_id for r in
          webtext.stratified_sample(df, rates={"en": 0.2, "de": 0.2},
                                    default_rate=0.0).collect()}
    hi = {r.doc_id for r in
          webtext.stratified_sample(df, rates={"en": 0.6, "de": 0.6},
                                    default_rate=0.0).collect()}
    assert lo <= hi          # nested samples: same hash, higher threshold
    assert 0 < len(lo) < len(hi) < 400


def test_per_key_cap_and_tiebreak(spark):
    from jschon_spark.operators import webtext

    rows = [("a", 10, i) for i in range(8)] + [("b", 5, 100), ("b", 7, 101)]
    df = spark.createDataFrame(rows, "source string, n_chars long, doc_id long")
    got = webtext.per_key_cap(df, k=3).collect()
    by_key: dict[str, list] = {}
    for r in got:
        by_key.setdefault(r.source, []).append(r)
    assert len(by_key["a"]) == 3
    # equal n_chars -> doc_id ascending wins the tie
    assert sorted(r.doc_id for r in by_key["a"]) == [0, 1, 2]
    assert [r.doc_id for r in sorted(by_key["b"], key=lambda r: r.rank)] == [101, 100]


def test_pack_token_bins_hand_computed(spark):
    from jschon_spark.operators import webtext

    # en docs of 3,4,5,6 tokens in doc_id order, budget 8:
    # before-sums 0,3,7,12 -> bins 0,0,0,1
    rows = [
        (0, "a b c", "en"),
        (1, "a b c d", "en"),
        (2, "a b c d e", "en"),
        (3, "a b c d e f", "en"),
        (4, "x y", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {(r.lang, r.bin): r for r in
           webtext.pack_token_bins(df, budget=8).collect()}
    assert (got[("en", 0)].n_docs, got[("en", 0)].total_tokens) == (3, 12)
    assert (got[("en", 1)].n_docs, got[("en", 1)].total_tokens) == (1, 6)
    assert (got[("de", 0)].n_docs, got[("de", 0)].total_tokens) == (1, 2)


def test_pack_token_bins_matches_naive_across_bucket_counts(spark):
    """The round-6 two-phase distributed prefix sum must be
    bit-identical to the naive global cumsum for ANY bucket count
    (bin ids are bucket-independent by construction)."""
    import random

    from jschon_spark.operators import webtext

    rng = random.Random(11)
    rows = [
        (i, " ".join(["w"] * rng.randrange(1, 30)), ["en", "de", "fr"][i % 3])
        for i in range(301)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    exp: dict[tuple, tuple] = {}
    for lang in ("en", "de", "fr"):
        cum = 0
        for i, t, l in sorted(rows):
            if l != lang:
                continue
            n = len(t.split(" "))
            k = (lang, cum // 64)
            d, s = exp.get(k, (0, 0))
            exp[k] = (d + 1, s + n)
            cum += n
    for nb in (1, 3, 4096):
        got = {
            (r.lang, r.bin): (r.n_docs, r.total_tokens)
            for r in webtext.pack_token_bins(df, budget=64, n_buckets=nb).collect()
        }
        assert got == exp, nb
    # non-numeric id -> documented single-window fallback, same values
    df_s = df.withColumn("doc_id", F.format_string("%06d", "doc_id"))
    got_s = {
        (r.lang, r.bin): (r.n_docs, r.total_tokens)
        for r in webtext.pack_token_bins(df_s, budget=64).collect()
    }
    assert got_s == exp


def test_line_dedup_literal_separator(spark):
    """sep is a literal, not a Java regex: '.' must split on dots
    (round-6 ADVICE fix — was silently regex-splitting per char)."""
    from jschon_spark.operators import webtext

    rows = [(1, "keep one.BOILER.keep two"), (2, "BOILER.x"), (3, "BOILER")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           webtext.line_dedup(df, min_docs=3, sep=".").collect()}
    assert (got[1].n_lines, got[1].n_kept) == (3, 2)
    assert got[1].text_dedup == "keep one.keep two"
    assert got[3].text_dedup == ""


def test_url_features_hand_computed(spark):
    from jschon_spark.operators import webtext

    rows = [
        (1, "https://WWW.Sub.Example.ORG:443/a/x?q=1#frag"),
        (2, "http://u:p@h.example.org:8080/b"),
        (3, "ftp://mirror.example.org./d#f"),
        (4, "https://example.org"),
        (5, "nonsense"),
        (6, "https://localhost/x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.doc_id: r for r in webtext.url_features(df).collect()}
    r1 = got[1]
    assert (r1.scheme, r1.host, r1.domain) == (
        "https", "www.sub.example.org", "example.org")
    assert r1.url_canon == "https://www.sub.example.org/a/x?q=1"
    r2 = got[2]
    assert r2.host == "h.example.org"
    assert r2.url_canon == "http://h.example.org:8080/b"  # non-default kept
    assert got[3].host == "mirror.example.org"            # trailing dot
    assert got[3].url_canon == "ftp://mirror.example.org/d"
    assert got[4].url_canon == "https://example.org/"     # empty path -> /
    assert got[5].parse_ok is False and got[5].host is None
    assert got[6].domain == "localhost"                   # single label


def test_url_features_memo_per_column_name(spark):
    """Round 7: the feature Columns are memoized per url_col — two
    different column names must not collide in the cache, and a
    repeated call (cache hit) must produce identical values."""
    from jschon_spark.operators import webtext

    a = spark.createDataFrame(
        [(1, "https://www.foo.co.uk/x")], "doc_id long, url string")
    b = spark.createDataFrame(
        [(1, "http://bar.example.org:8080/y")], "doc_id long, link string")
    ra1 = webtext.url_features(a).collect()[0]
    rb = webtext.url_features(b, "link").collect()[0]
    ra2 = webtext.url_features(a).collect()[0]  # cache hit
    assert ra1 == ra2
    assert (ra1.host, ra1.domain) == ("www.foo.co.uk", "foo.co.uk")
    assert (rb.host, rb.domain) == ("bar.example.org", "example.org")
    assert rb.url_canon == "http://bar.example.org:8080/y"


def test_duplicate_clusters_gate_boundary(spark):
    """Round 7: the small-graph gate probes the UN-doubled pair
    relation with a cap+1 limit. At exactly cap pairs the driver
    union-find runs; one pair over, the distributed loop runs — both
    must produce identical clusters."""
    from jschon_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "id_a long, id_b long")
    want = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (21, 20)}
    small = {(r.id, r.cluster_id) for r in dedup.duplicate_clusters(
        pairs, small_graph_max_edges=4).collect()}
    dist = {(r.id, r.cluster_id) for r in dedup.duplicate_clusters(
        pairs, small_graph_max_edges=3).collect()}
    assert small == want
    assert dist == want


def test_url_features_psl_registrable_domain(spark):
    """Round-6 PSL fix: multi-label public suffixes yield the real
    registrable domain (foo.co.uk, not co.uk); unknown suffixes keep
    the last-two-labels fallback; a 3-label private suffix
    (s3.amazonaws.com) takes four labels."""
    from jschon_spark.operators import webtext

    rows = [
        (1, "https://news.bbc.co.uk/story"),
        (2, "http://www.shop.example.com.au/"),
        (3, "https://foo.bar.github.io/x"),
        (4, "https://bucket.s3.amazonaws.com/key"),
        (5, "https://blog.example.org/"),         # flat TLD fallback
        (6, "https://co.uk/"),                    # host IS the suffix
        (7, "http://alpha.blogspot.co.uk/p"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.doc_id: r.domain for r in webtext.url_features(df).collect()}
    assert got[1] == "bbc.co.uk"
    assert got[2] == "example.com.au"             # www. stripped first
    assert got[3] == "bar.github.io"
    assert got[4] == "bucket.s3.amazonaws.com"
    assert got[5] == "example.org"
    assert got[6] == "co.uk"                      # no registrable part
    assert got[7] == "alpha.blogspot.co.uk"


def test_unigram_logprob_hand_computed(spark):
    import math

    from jschon_spark.operators import webtext

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in
           webtext.unigram_logprob_score(df, vocab_size=2).collect()}
    # counts: a=2 b=2 c=1, total=5; vocab(top2, tiebreak tok asc)={a,b}
    lp_ab = math.log10(2) - math.log10(6.0)
    floor = -math.log10(6.0)
    assert got[1].n_tokens == 3
    assert abs(got[1].mean_logprob - lp_ab) < 1e-12
    assert got[2].n_tokens == 2
    assert abs(got[2].mean_logprob - (lp_ab + floor) / 2) < 1e-12


def test_entropy_features_hand_computed(spark):
    import math

    rows = [(1, "a a b"), (2, ""), (3, "x"), (4, "w w w w")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textqa.entropy_features(df).collect()}
    r1 = got[1]
    assert r1.ent_n_tokens == 3
    assert abs(r1.distinct_token_frac - 2 / 3) < 1e-12
    assert abs(r1.top_token_mass - 2 / 3) < 1e-12
    want = -(2 / 3 * math.log(2 / 3) + 1 / 3 * math.log(1 / 3))
    assert abs(r1.token_entropy - want) < 1e-12
    assert (got[2].ent_n_tokens, got[2].token_entropy) == (0, 0.0)
    assert got[3].token_entropy == 0.0 and got[3].top_token_mass == 1.0
    assert got[4].token_entropy == 0.0 and got[4].distinct_token_frac == 0.25


def test_entropy_features_matches_python_oracle(spark):
    """Seeded differential: the HOF count-vector entropy must equal a
    pure-Python recomputation (ln base, same token rule)."""
    import math
    import random
    from collections import Counter

    rng = random.Random(13)
    words = ["alpha", "beta", "g", "dd", "e5"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randrange(0, 40))))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textqa.entropy_features(df).collect()}
    for i, text in rows:
        toks = [t for t in text.split() if t]
        n = len(toks)
        r = got[i]
        assert r.ent_n_tokens == n
        if n == 0:
            assert r.token_entropy == 0.0
            continue
        cnt = Counter(toks)
        want = -sum((c / n) * math.log(c / n) for c in cnt.values())
        assert abs(r.token_entropy - want) < 1e-9, (i, text)
        assert abs(r.top_token_mass - max(cnt.values()) / n) < 1e-12
        assert abs(r.distinct_token_frac - len(cnt) / n) < 1e-12


def test_entropy_features_fold_order_bit_identical(spark):
    """The round-7 O(n log n) sorted-run count build must keep the
    count vector in FIRST-OCCURRENCE order so the entropy fold adds
    the same doubles in the same order as the old
    O(distinct x tokens) build — compare against that old construction
    with exact (bitwise) equality, including ties and empty docs."""
    import random

    from pyspark.sql import functions as F

    from jschon_spark.operators._hof import fence
    from jschon_spark.operators.textqa import tokens

    rng = random.Random(41)
    words = ["zz", "aa", "mm", "aa1", "b", "zz"]  # unsorted first-occurrences
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randrange(0, 60))))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    new = textqa.entropy_features(df).select("doc_id", "token_entropy")
    tmp = df.withColumn("__toks", fence(tokens(F.col("text"))))
    tmp = tmp.withColumn(
        "__cnts",
        fence(
            F.transform(
                F.array_distinct(F.col("__toks")),
                lambda d: F.size(F.filter(F.col("__toks"), lambda t: t == d)),
            )
        ),
    )
    n = F.size(F.col("__toks"))
    ent = -F.aggregate(
        F.col("__cnts"),
        F.lit(0.0),
        lambda acc, c: acc + (c.cast("double") / n) * F.log(c.cast("double") / n),
    )
    old = tmp.select(
        "doc_id",
        F.when(n > 0, ent).otherwise(F.lit(0.0)).alias("token_entropy"),
    )
    bad = (
        old.alias("o")
        .join(new.alias("n"), "doc_id")
        .filter("o.token_entropy IS DISTINCT FROM n.token_entropy")
        .count()
    )
    assert bad == 0


def test_domain_blocklist_filter(spark):
    from jschon_spark.operators import webtext

    rows = [
        (1, "https://news.bbc.co.uk/story"),        # domain bbc.co.uk
        (2, "https://evil.example.org/"),           # host on list
        (3, "https://sub.evil.example.org/x"),      # subdomain of listed host
        (4, "https://fine.example.net/"),
        (5, "not a url"),
        (6, "https://www.evil.example.org/"),       # www. kept in host
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    blocked = ["bbc.co.uk", "evil.example.org"]
    kept = {r.doc_id for r in
            webtext.domain_blocklist_filter(df, blocked=blocked).collect()}
    assert kept == {4, 5}  # unparseable rows are NOT blocked
    audit = {r.doc_id: r.blocked for r in
             webtext.domain_blocklist_filter(
                 df, blocked=blocked, keep_blocked=True).collect()}
    assert audit == {1: True, 2: True, 3: True, 4: False, 5: False, 6: True}
    # empty list blocks nothing
    assert len(webtext.domain_blocklist_filter(df, blocked=[]).collect()) == 6


def test_ngram_span_duplicates_hand_computed(spark):
    # doc 1 and doc 2 share exactly one positional 5-gram ("a b c d e");
    # doc 3 is shorter than the window; docs 4/5 are identical all-"z"
    # texts whose three positional grams collapse to ONE hash that is
    # duplicated ACROSS docs (k=3 positions each must all count);
    # doc 6 repeats a gram within itself only -> NOT duplicated
    # (min_docs counts documents, not positions); doc 7 is NULL.
    rows = [
        (1, "a b c d e f"),
        (2, "a b c d e x"),
        (3, "q r s"),
        (4, "z z z z z z z"),
        (5, "z z z z z z z"),
        (6, "m n o p q m n o p q"),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           dedup.ngram_span_duplicates(df, "doc_id", "text", window=5).collect()}
    assert len(got) == 7
    assert (got[1].n_grams, got[1].n_dup_grams) == (2, 1)
    assert abs(got[1].dup_fraction - 0.5) < 1e-12
    assert (got[2].n_grams, got[2].n_dup_grams) == (2, 1)
    assert (got[3].n_grams, got[3].n_dup_grams, got[3].dup_fraction) == (0, 0, 0.0)
    assert (got[4].n_grams, got[4].n_dup_grams, got[4].dup_fraction) == (3, 3, 1.0)
    assert (got[5].n_grams, got[5].n_dup_grams, got[5].dup_fraction) == (3, 3, 1.0)
    # "m n o p q" occurs at positions 1 and 6, but only within doc 6
    assert (got[6].n_grams, got[6].n_dup_grams) == (6, 0)
    assert (got[7].n_grams, got[7].n_dup_grams, got[7].dup_fraction) == (0, 0, 0.0)


def test_ngram_span_duplicates_min_docs(spark):
    # the shared gram spans 3 docs; min_docs=4 must clear everything
    rows = [(i, "a b c d e") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got3 = {r.doc_id: r.n_dup_grams for r in
            dedup.ngram_span_duplicates(df, "doc_id", "text", window=5,
                                        min_docs=3).collect()}
    assert got3 == {0: 1, 1: 1, 2: 1}
    got4 = {r.doc_id: r.n_dup_grams for r in
            dedup.ngram_span_duplicates(df, "doc_id", "text", window=5,
                                        min_docs=4).collect()}
    assert got4 == {0: 0, 1: 0, 2: 0}


def test_semantic_dedup_hand_computed(spark):
    from jschon_spark.operators import similarity

    # ids 10/11 are bit-identical vectors => identical centroid
    # cosine, so the keep tie-break falls to the LOWEST id (also the
    # min-label group id). id 12 shares the direction at 3x scale:
    # cosine assignment and pair cosine are scale-invariant, so it
    # joins the same list and group — but FP rounding makes its
    # centroid cosine differ in the last ulp, so which member keeps is
    # only pinned for the exact-tie pair when 12 is excluded by the
    # threshold... it is NOT (cos = 1.0), so assert group membership
    # for all three and keep-count discipline instead of keep identity.
    base = [1.0, 0.5, -0.25, 2.0]
    rows = [
        (10, [x * 1.0 for x in base]),
        (11, [x * 1.0 for x in base]),
        (12, [x * 3.0 for x in base]),
        (99, [-2.0, 4.0, 8.0, -1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in
           similarity.semantic_dedup(df, dim=4, threshold=0.99).collect()}
    assert len(out) == 4
    assert out[10].list_id == out[11].list_id == out[12].list_id
    assert {out[i].group_id for i in (10, 11, 12)} == {10}
    assert sum(out[i].keep for i in (10, 11, 12)) == 1
    # the exact-tie pair orders by id: 11 can never win over 10
    assert not (out[11].keep and not out[10].keep)
    assert out[99].group_id is None and out[99].keep is True


def test_semantic_dedup_same_cluster_only(spark):
    from jschon_spark.operators import similarity

    # SemDeDup's contract: pairs are only sought WITHIN a cluster.
    # Opposite directions always land in different argmax-cosine lists,
    # so even threshold=-1 (every intra-cluster pair "matches") cannot
    # group them.
    rows = [(1, [1.0, 0.0]), (2, [-1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in
           similarity.semantic_dedup(df, dim=2, threshold=-1.0).collect()}
    assert out[1].list_id != out[2].list_id
    assert out[1].group_id is None and out[2].group_id is None


def test_semantic_dedup_cluster_cap(spark):
    from jschon_spark.operators import similarity

    # 6 identical vectors, cap=3: only the first 3 ids participate in
    # pair generation, the rest become keep=true singletons.
    rows = [(i, [1.0, 1.0, 1.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in
           similarity.semantic_dedup(df, dim=3, threshold=0.9,
                                     max_cluster_size=3).collect()}
    assert {i for i in out if out[i].group_id is not None} == {0, 1, 2}
    assert [out[i].keep for i in range(3)] == [True, False, False]
    assert all(out[i].keep for i in (3, 4, 5))


def test_semantic_dedup_arrow_assignment_agrees(spark):
    """The Arrow/numpy assignment fast path (auto at n_lists*dim >=
    4096) must produce the identical verdicts to the Column path on
    well-separated vectors (ties differ only in the last ulp; random
    uniform vectors never tie)."""
    from jschon_spark.operators import similarity

    df = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(8)),
                    lambda i: F.sin(F.col("id") * i * 0.31 + i)).alias("embedding"),
    )
    kw = dict(dim=8, threshold=0.98, n_lists=8)
    expr_out = {r.vec_id: (r.list_id, r.group_id, r.keep) for r in
                similarity.semantic_dedup(df, assign_arrow=False, **kw).collect()}
    arrow_out = {r.vec_id: (r.list_id, r.group_id, r.keep) for r in
                 similarity.semantic_dedup(df, assign_arrow=True, **kw).collect()}
    assert expr_out == arrow_out
    # zero vector: NULL list, no group, kept — on both paths
    z = spark.createDataFrame([(1, [0.0, 0.0]), (2, [1.0, 2.0])],
                              "vec_id long, embedding array<double>")
    for arrow in (False, True):
        got = {r.vec_id: r for r in similarity.semantic_dedup(
            z, dim=2, threshold=0.5, n_lists=4, assign_arrow=arrow).collect()}
        assert got[1].list_id is None and got[1].group_id is None and got[1].keep


def test_dedup_against_corpus_flags(spark):
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "some existing document about spark and schemas")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, "The quick  brown fox jumps over the lazy dog today"),  # exact after norm
         (11, "the quick brown fox jumps over the lazy dog tomorrow"),  # near only
         (12, "entirely novel content nothing shared with history at all"),
         (13, None)],
        "doc_id long, text string")
    got = {r.doc_id: (r.is_exact_dup, r.is_near_dup) for r in
           dedup.dedup_against_corpus(new, corpus,
                                      near_simhash_max_hamming=6).collect()}
    assert got == {10: (True, True), 11: (False, True),
                   12: (False, False), 13: (False, False)}
    exact_only = {r.doc_id: r.is_exact_dup for r in
                  dedup.dedup_against_corpus(new, corpus).collect()}
    assert exact_only == {10: True, 11: False, 12: False, 13: False}
    # original batch columns survive
    cols = dedup.dedup_against_corpus(new, corpus).columns
    assert cols == ["doc_id", "text", "is_exact_dup"]


def test_nfc_features_unicode(spark):
    import hashlib
    import unicodedata

    nfd_cafe = "café"            # e + combining acute (NFD)
    nfc_cafe = unicodedata.normalize("NFC", nfd_cafe)
    assert nfd_cafe != nfc_cafe and len(nfc_cafe) == 4
    rows = [(1, nfd_cafe), (2, nfc_cafe), (3, "plain ascii"), (4, None),
            (5, "Ａ　x")]       # fullwidth A + ideographic space (NFC-stable)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textqa.nfc_features(df).collect()}
    assert got[1].nfc_changed is True and got[2].nfc_changed is False
    assert got[1].nfc_md5 == got[2].nfc_md5 == hashlib.md5(
        nfc_cafe.encode()).hexdigest()
    assert got[1].n_chars_nfc == 4
    assert got[3].nfc_changed is False
    assert (got[4].nfc_md5, got[4].n_chars_nfc, got[4].nfc_changed) == (None, None, None)
    assert got[5].nfc_changed is False and got[5].n_chars_nfc == 3


def test_with_simhash_rejects_other_hash_fn(spark):
    """Only the two stock token hashes have a SimHash builder; any other
    callable is refused instead of silently building something else."""
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="md5_hash60"):
        dedup.with_simhash(df, "text", hash_fn=lambda c: c)


def test_dedup_against_corpus_pigeonhole_recall(spark):
    """k+1 banding must find a near-dup at EXACTLY hamming k even for
    k > 3 (a fixed 4-band split only guarantees k <= 3). Construct two
    token sets whose simhash signatures differ in a measured number of
    bits, then assert the near flag at k = that distance."""
    from jschon_spark.operators.dedup import with_simhash

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = "alpha beta gamma delta epsilon zeta eta theta iota kilo"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    sigs = {r.doc_id: r.sig for r in with_simhash(df, "text").collect()}
    # 64-bit two's-complement popcount (sigs are signed longs)
    d = bin((sigs[1] ^ sigs[2]) & ((1 << 64) - 1)).count("1")
    assert d > 3  # the case a 4-band split can miss
    hist = spark.createDataFrame([(1, a)], "doc_id long, text string")
    new = spark.createDataFrame([(2, b)], "doc_id long, text string")
    hit = dedup.dedup_against_corpus(
        new, hist, near_simhash_max_hamming=d).collect()[0]
    assert hit.is_near_dup is True
    miss = dedup.dedup_against_corpus(
        new, hist, near_simhash_max_hamming=max(0, d - 1)).collect()[0]
    assert miss.is_near_dup is False
