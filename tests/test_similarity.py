"""Similarity-search operator tests: ANN recall vs the exact baseline."""

from __future__ import annotations

from pyspark.sql import functions as F

from atiesh_spark.operators.similarity import (
    brute_force_topk,
    ivf_ann_topk,
    lsh_ann_topk,
)
from atiesh_spark.sources.tables import load_table
from tests.conftest import SF_SMALL


def _topk_ids(df):
    return [r["vec_id"] for r in df.collect()]


def test_brute_force_self_similarity(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    top = brute_force_topk(emb, query_vec_id=0, k=5).collect()
    assert top[0]["vec_id"] == 0 and abs(top[0]["sim"] - 1.0) < 1e-9
    sims = [r["sim"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_ivf_recall_against_exact(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    exact = set(_topk_ids(brute_force_topk(emb, query_vec_id=0, k=10)))
    ann = set(_topk_ids(ivf_ann_topk(emb, query_vec_id=0, k=10, n_cells=8, n_probe=2)))
    # probing 2/8 cells must still recover a meaningful share of the
    # true top-10 (and always the query itself)
    assert 0 in ann
    assert len(exact & ann) >= 3
    # full probe degenerates to exact
    full = set(_topk_ids(ivf_ann_topk(emb, query_vec_id=0, k=10, n_cells=8, n_probe=8)))
    assert full == exact


def test_lsh_bucket_contains_query(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    ann = lsh_ann_topk(emb, query_vec_id=0, k=10, num_planes=4).collect()
    assert ann[0]["vec_id"] == 0  # query is in its own bucket, sim 1.0


def test_bucket_expr_literal_signs_match_md5_path(spark):
    """The r14 precomputed-sign-literal fast path must reproduce the
    md5-expression path bit for bit — including the row-local fallback
    for vectors wider than the literal table (_SIGN_LIT_DIMS)."""
    from atiesh_spark.operators.similarity import (
        _SIGN_LIT_DIMS,
        _bucket_expr,
        _hyperplane_sign,
        as_double,
        dot,
    )

    rows = [
        (1, [0.5, -0.25, 0.0, 1.75] * 16),          # typical 64-dim
        (2, [-1.0] * 7),                             # odd width, all-negative
        (3, [0.0] * 8),                              # zero vector (boundary)
        (4, [1e-7, -1e-7] * 33),                     # near the rounded boundary
        (5, [0.125 * ((d % 13) - 6) for d in range(_SIGN_LIT_DIMS + 9)]),
    ]                                                # wider than the table
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def md5_bucket(vec_col: str, num_planes: int):
        # the pre-r14 expression: per-row md5 signs for every (plane, dim)
        v = as_double(vec_col)
        bits = []
        for p in range(num_planes):
            dims = F.sequence(F.lit(0), F.size(vec_col) - 1)
            signs = F.transform(dims, lambda d: _hyperplane_sign(F.lit(p), d))
            proj = F.round(dot(v, signs), 6)
            bits.append(F.when(proj > 0, F.lit("1")).otherwise(F.lit("0")))
        return F.concat(*bits)

    got = {
        r["vec_id"]: r["b"]
        for r in emb.select(
            "vec_id", _bucket_expr("embedding", 5).alias("b")
        ).collect()
    }
    want = {
        r["vec_id"]: r["b"]
        for r in emb.select(
            "vec_id", md5_bucket("embedding", 5).alias("b")
        ).collect()
    }
    assert got == want
    assert all(len(b) == 5 for b in got.values())


def test_auto_num_planes_sizing():
    """planes ~= log2(n / target): holds expected bucket size constant as
    the corpus grows — the rule that keeps per-bucket pairing from going
    quadratic at scale."""
    from atiesh_spark.operators.similarity import auto_num_planes

    assert auto_num_planes(1_000_000, 1024) == 10
    assert auto_num_planes(10**9, 1024) == 20
    assert auto_num_planes(0) == 1  # degenerate corpora stay valid
    assert auto_num_planes(10) == 1
    # expected bucket size n / 2^planes stays <= ~target
    for n in (10**4, 10**6, 10**8):
        p = auto_num_planes(n, 1024)
        assert n / 2**p <= 1024


def test_more_planes_shrink_max_bucket(spark):
    """The sizing rule's premise, observed on real vectors: raising the
    plane count monotonically shrinks the largest LSH bucket."""
    from atiesh_spark.operators.similarity import lsh_bucket_signatures

    emb = load_table(spark, SF_SMALL, "embeddings")

    def max_bucket(planes):
        sigs = lsh_bucket_signatures(emb, num_planes=planes)
        return sigs.groupBy("bucket").count().agg(F.max("count")).first()[0]

    m2, m4, m8 = max_bucket(2), max_bucket(4), max_bucket(8)
    assert m2 >= m4 >= m8
    assert m8 < m2  # strictly shrinks across the sweep


def test_num_planes_none_autosizes(spark):
    from atiesh_spark.operators.similarity import auto_num_planes, lsh_bucket_signatures

    emb = load_table(spark, SF_SMALL, "embeddings")
    n = emb.count()
    sigs = lsh_bucket_signatures(emb, num_planes=None)
    expected = auto_num_planes(n)
    # bucket string length == plane count
    assert sigs.select(F.length("bucket").alias("l")).distinct().collect()[0]["l"] == expected


def test_multiprobe_recall_at_least_single_probe(spark):
    """probe_bits=1 searches the query bucket plus its 1-bit Hamming
    neighbors: recall vs the exact top-k can only improve, the query
    still ranks first, and the probe match must stay an equi-join."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    exact = set(_topk_ids(brute_force_topk(emb, query_vec_id=0, k=10)))
    single = lsh_ann_topk(emb, query_vec_id=0, k=10, num_planes=4)
    multi = lsh_ann_topk(emb, query_vec_id=0, k=10, num_planes=4, probe_bits=1)
    m_ids = _topk_ids(multi)
    assert m_ids[0] == 0
    assert len(exact & set(m_ids)) >= len(exact & set(_topk_ids(single)))

    plan = multi._sc._jvm.PythonSQLUtils.explainString(
        multi._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    import pytest as _pytest

    with _pytest.raises(ValueError, match="probe_bits"):
        lsh_ann_topk(emb, query_vec_id=0, probe_bits=2)


def test_semantic_dedup_partitions_and_keeps_min_id(spark):
    from atiesh_spark.operators.similarity import semantic_dedup

    # two tight groups along different axes + one far-out singleton
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.01, 0.999, 0.0]),   # near-dup of 3
        (5, [0.0, 0.0, 1.0]),      # singleton
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(emb, threshold=0.95, n_cells=3, seed=7).collect()
    }
    assert len(out) == 5  # partition: every row present once
    assert out[1]["keep"] and not out[2]["keep"] and out[2]["cluster_id"] == 1
    assert out[3]["keep"] and not out[4]["keep"] and out[4]["cluster_id"] == 3
    assert out[5]["keep"] and out[5]["cluster_id"] == 5


def test_semantic_dedup_fit_sample_matches_full_fit_contract(spark):
    from atiesh_spark.operators.similarity import semantic_dedup

    rows = [(i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2)])
            for i in range(1, 31)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(
        emb, threshold=0.99, n_cells=3, fit_sample_buckets=2
    )
    rows_out = out.collect()
    assert len(rows_out) == 30
    # the three identical-direction groups each keep exactly their min id
    keepers = sorted(r["vec_id"] for r in rows_out if r["keep"])
    assert keepers == [1, 2, 3]


def test_pca_recovers_planted_structure(spark):
    from atiesh_spark.operators.similarity import pca_fit, pca_project

    # 2-D signal planted in 5-D: dim0 has variance ~4, dim2 variance ~1,
    # other dims constant -> top-2 basis must span dims {0, 2}
    rows = []
    for i in range(40):
        a = (i % 9) - 4.0   # sd ~2.58
        b = ((i * 7) % 5) - 2.0
        rows.append((i, [a, 7.0, b, -3.0, 0.0]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    mean, comps, eigs, total = pca_fit(df, "embedding", k=2)
    assert abs(mean[1] - 7.0) < 1e-9 and abs(mean[3] + 3.0) < 1e-9
    assert eigs[0] >= eigs[1] > 0
    # retained variance == total (only 2 non-constant dims)
    assert abs((eigs[0] + eigs[1]) - total) < 1e-9
    # components live in the {0, 2} plane and are orthonormal
    for c in comps:
        assert abs(c[1]) < 1e-9 and abs(c[3]) < 1e-9 and abs(c[4]) < 1e-9
        assert abs(sum(x * x for x in c) - 1.0) < 1e-9
    assert abs(sum(x * y for x, y in zip(*comps))) < 1e-9
    # sign convention: dominant coordinate positive
    assert max(comps[0], key=abs) > 0 and max(comps[1], key=abs) > 0

    proj = {r["vec_id"]: (r["p0"], r["p1"])
            for r in pca_project(df, "vec_id", "embedding", mean, comps).collect()}
    # projection preserves pairwise distances in the planted plane
    import math
    for i in (0, 5, 17):
        for j in (3, 11):
            da = rows[i][1]; db = rows[j][1]
            d_orig = math.dist([da[0], da[2]], [db[0], db[2]])
            d_proj = math.dist(proj[i], proj[j])
            assert abs(d_orig - d_proj) < 1e-9


def test_pca_project_carry_cols_match_join_attach(spark):
    """carry_cols must ride the source column through the row-local
    projection with values identical to the join-by-id attach it
    replaces (the q98 verify pass), and default to absent."""
    from atiesh_spark.operators.similarity import pca_fit, pca_project

    rows = [(i, [float((i % 9) - 4), 7.0, float((i * 7) % 5 - 2)])
            for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    mean, comps, _, _ = pca_fit(df, "embedding", k=2)
    carried = pca_project(
        df, "vec_id", "embedding", mean, comps, carry_cols=("embedding",)
    )
    assert carried.columns == ["vec_id", "embedding", "p0", "p1"]
    joined = df.join(
        pca_project(df, "vec_id", "embedding", mean, comps), "vec_id"
    ).select("vec_id", "embedding", "p0", "p1")
    a = {r["vec_id"]: (r["embedding"], r["p0"], r["p1"])
         for r in carried.collect()}
    b = {r["vec_id"]: (r["embedding"], r["p0"], r["p1"])
         for r in joined.collect()}
    assert a == b
    # default signature unchanged: no carried columns
    assert pca_project(df, "vec_id", "embedding", mean, comps).columns == [
        "vec_id", "p0", "p1",
    ]


def test_pca_fit_validates_k(spark):
    import pytest

    from atiesh_spark.operators.similarity import pca_fit

    df = spark.createDataFrame([(1, [1.0, 2.0])], ["vec_id", "embedding"])
    with pytest.raises(ValueError):
        pca_fit(df, "embedding", k=0)
    with pytest.raises(ValueError):
        pca_fit(df, "embedding", k=3)


def test_auto_planes_respects_target_bucket_size(spark):
    """target_bucket_size is the auto path's cost/recall knob: smaller
    targets mean more planes (wider signatures)."""
    from atiesh_spark.operators.similarity import (
        auto_num_planes,
        lsh_bucket_signatures,
    )

    assert auto_num_planes(20000, 1024) == 5
    assert auto_num_planes(20000, 256) == 7
    assert auto_num_planes(500, 1024) == 1

    emb = spark.createDataFrame(
        [(i, [float(i % 7) - 3.0, float(i % 5) - 2.0]) for i in range(64)],
        "vec_id int, embedding array<double>",
    )
    wide = lsh_bucket_signatures(emb, num_planes=None, target_bucket_size=8)
    narrow = lsh_bucket_signatures(emb, num_planes=None, target_bucket_size=32)
    w = len(wide.first()["bucket"])
    n = len(narrow.first()["bucket"])
    assert w == auto_num_planes(64, 8) and n == auto_num_planes(64, 32)
    assert w > n


def test_quantize_error_bound_and_edge_vectors(spark):
    """Every element reconstructs within scale/2; all-zero vectors
    quantize to zeros (no div-by-zero), NULL vectors stay NULL."""
    from atiesh_spark.operators.similarity import (
        as_double,
        dequantize,
        quantize_embeddings,
    )
    from pyspark.sql import functions as F

    rows = [
        (1, [0.5, -1.25, 3.0, 0.0]),
        (2, [1e-4, -1e-4, 5e-5, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),
        (4, None),
        (5, [127.0, -127.0, 64.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    q = quantize_embeddings(df)
    got = {r["vec_id"]: r for r in q.collect()}
    assert got[4]["qvec"] is None and got[4]["qscale"] is None
    assert got[3]["qvec"] == [0, 0, 0, 0] and got[3]["qscale"] == 1.0
    checked = q.filter(F.col("embedding").isNotNull()).select(
        F.max(
            F.array_max(
                F.zip_with(
                    as_double("embedding"),
                    dequantize("qvec", "qscale"),
                    lambda x, r: F.abs(x - r) - F.col("qscale") / 2.0,
                )
            )
        ).alias("excess")
    ).first()
    assert checked["excess"] <= 1e-9


def test_quantized_topk_recalls_exact(spark):
    """On a spread-out corpus the int8 top-k must agree closely with
    the exact top-k and find the query itself first."""
    from atiesh_spark.operators.similarity import brute_force_topk, quantized_topk

    import math

    emb = spark.createDataFrame(
        [
            (i, [math.cos(i * 0.37) * (1 + i % 5), math.sin(i * 0.37) * (1 + i % 3), float(i % 7) - 3.0])
            for i in range(100)
        ],
        "vec_id int, embedding array<double>",
    )
    exact = [r["vec_id"] for r in brute_force_topk(emb, 0, k=10).collect()]
    approx = [r["vec_id"] for r in quantized_topk(emb, 0, k=10).collect()]
    assert approx[0] == 0
    assert len(set(exact) & set(approx)) >= 8


def test_quantized_vectors_are_tinyint(spark):
    """The quantized column must actually be array<tinyint> — the 4x
    storage claim depends on the physical type, not just the values."""
    from atiesh_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [1.0, -2.0])], "vec_id int, embedding array<double>"
    )
    schema = dict(quantize_embeddings(df).dtypes)
    assert schema["qvec"] == "array<tinyint>"


def test_hard_negatives_cross_label_only_and_null_excluded(spark):
    from atiesh_spark.operators.similarity import hard_negatives

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.99, 0.1], 0),
            (3, [0.9, 0.2], 1),
            (4, [0.8, 0.3], 1),
            (5, [0.7, 0.4], None),
        ],
        "vec_id int, embedding array<double>, label int",
    )
    rows = hard_negatives(emb, k=3, num_planes=1).collect()
    assert rows
    ids = {r["id_1"] for r in rows} | {r["id_2"] for r in rows}
    assert 5 not in ids  # NULL label can neither anchor nor serve
    for r in rows:
        assert r["label_1"] != r["label_2"]
        assert r["label_1"] is not None and r["label_2"] is not None


def test_hard_negatives_rank_not_shrunk_by_same_label_crowding(spark):
    """A post-filter on knn_join would lose negatives wherever
    same-label vectors crowd the top-k; the label filter must run
    BEFORE ranking. Anchor 1 sits in a crowd of near-identical label-0
    vectors; its 2 hard negatives must still be the two label-1s."""
    from atiesh_spark.operators.similarity import hard_negatives

    crowd = [(i, [1.0, 0.001 * i], 0) for i in range(1, 8)]
    negs = [(100, [0.9, 0.3], 1), (101, [0.85, 0.4], 1)]
    emb = spark.createDataFrame(
        crowd + negs, "vec_id int, embedding array<double>, label int"
    )
    got = {
        (r["rank"], r["id_2"])
        for r in hard_negatives(emb, k=2, num_planes=1).collect()
        if r["id_1"] == 1
    }
    assert got == {(1, 100), (2, 101)}


def test_hard_negatives_sims_ordered_and_ranks_consecutive(spark):
    import math

    from atiesh_spark.operators.similarity import hard_negatives

    emb = spark.createDataFrame(
        [
            (i, [math.cos(i * 0.5), math.sin(i * 0.5)], i % 3)
            for i in range(30)
        ],
        "vec_id int, embedding array<double>, label int",
    )
    per_anchor = {}
    for r in hard_negatives(emb, k=4, num_planes=1).collect():
        per_anchor.setdefault(r["id_1"], []).append((r["rank"], r["sim"]))
    assert per_anchor
    for anchor, rs in per_anchor.items():
        rs.sort()
        assert [rk for rk, _ in rs] == list(range(1, len(rs) + 1))
        sims = [s for _, s in rs]
        assert sims == sorted(sims, reverse=True)


def test_label_centroids_exact_means_and_null_exclusion(spark):
    from atiesh_spark.operators.similarity import label_centroids

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "a"),
            (2, [3.0, 2.0], "a"),
            (3, [0.0, 4.0], "b"),
            (4, None, "a"),
            (5, [9.0, 9.0], None),
        ],
        "vec_id int, embedding array<double>, label string",
    )
    got = {r["label"]: r for r in label_centroids(emb).collect()}
    assert set(got) == {"a", "b"}
    assert got["a"]["centroid"] == [2.0, 1.0]
    assert got["a"]["n_vectors"] == 2
    assert got["b"]["centroid"] == [0.0, 4.0]


def test_centroid_outliers_flags_planted_mislabel(spark):
    """A 'b'-looking vector labeled 'a' must rank suspect #1 in class
    a; well-clustered vectors rank behind it."""
    from atiesh_spark.operators.similarity import centroid_outliers

    a = [(i, [1.0 + 0.01 * i, 0.0], "a") for i in range(5)]
    b = [(10 + i, [0.0, 1.0 + 0.01 * i], "b") for i in range(5)]
    planted = [(99, [0.0, 1.0], "a")]
    emb = spark.createDataFrame(
        a + b + planted, "vec_id int, embedding array<double>, label string"
    )
    rows = {r["vec_id"]: r for r in centroid_outliers(emb).collect()}
    assert rows[99]["suspect_rank"] == 1
    assert rows[99]["centroid_sim"] < min(
        rows[i]["centroid_sim"] for i, _, l in a if l == "a"
    )


def test_centroid_outliers_broadcast_plan(spark):
    from atiesh_spark.operators.similarity import centroid_outliers

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0], "x") for i in range(20)],
        "vec_id int, embedding array<double>, label string",
    )
    plan = (
        centroid_outliers(emb)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pca_whiten_unit_variance_and_decorrelation(spark):
    """Whitened components have population variance 1 and zero
    covariance (up to float fuzz) on an anisotropic planted cloud."""
    import numpy as np

    from atiesh_spark.operators.similarity import pca_fit, pca_whiten

    rng = np.random.RandomState(3)
    pts = rng.randn(200, 3) * np.array([5.0, 1.0, 0.2])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(pts)],
        "vec_id int, embedding array<double>",
    )
    mean, comps, eigs, _ = pca_fit(emb, "embedding", k=2)
    rows = pca_whiten(emb, "vec_id", "embedding", mean, comps, eigs).collect()
    w = np.array([[r["w0"], r["w1"]] for r in rows])
    cov = (w - w.mean(0)).T @ (w - w.mean(0)) / len(w)
    assert abs(cov[0, 0] - 1.0) < 1e-6 and abs(cov[1, 1] - 1.0) < 1e-6
    assert abs(cov[0, 1]) < 1e-6


def test_streaming_ann_index_equals_batch_signatures(spark, tmp_path):
    """After N batches (including a replayed batch id and a re-ingested
    vector) the store must equal lsh_bucket_signatures over the current
    corpus, and probe() must rank exactly like lsh_ann_topk's
    candidates+verify contract."""
    import random

    from atiesh_spark.operators.similarity import (
        StreamingAnnIndex,
        lsh_bucket_signatures,
    )

    rng = random.Random(13)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = StreamingAnnIndex(str(tmp_path / "ann"), num_planes=3)
    for b in range(3):
        idx(emb.filter(F.col("vec_id") % 3 == b), b + 1)
    idx(emb.filter(F.col("vec_id") % 3 == 2), 3)  # replay converges

    got = sorted(
        (r["vec_id"], r["bucket"]) for r in idx.read(spark).collect()
    )
    want = sorted(
        (r["vec_id"], r["bucket"])
        for r in lsh_bucket_signatures(emb, 3).collect()
    )
    assert got == want

    # re-ingest vector 7 with a NEW embedding: batch wins, store stays
    # signature-exact for the updated corpus
    new7 = spark.createDataFrame(
        [(7, [2.0] * 8)], "vec_id long, embedding array<double>"
    )
    idx(new7, 4)
    updated = emb.filter("vec_id != 7").unionByName(new7)
    got = sorted(
        (r["vec_id"], r["bucket"]) for r in idx.read(spark).collect()
    )
    want = sorted(
        (r["vec_id"], r["bucket"])
        for r in lsh_bucket_signatures(updated, 3).collect()
    )
    assert got == want

    # probe: query vec 0 against the index — candidates are exactly the
    # query's bucket, ranking is rounded cosine desc with id tiebreak
    hits = idx.probe(spark, emb.filter("vec_id = 0"), k=5).collect()
    assert hits and hits[0]["vec_id"] == 0  # self-hit at sim 1.0
    assert all(h["query_id"] == 0 for h in hits)
    sims = [h["sim"] for h in hits]
    assert sims == sorted(sims, reverse=True)


def test_streaming_ann_index_within_batch_duplicates_collapse(spark, tmp_path):
    """A key duplicated INSIDE one batch must persist exactly one store
    row (the deterministic max embedding) — not n, and never n^2."""
    from atiesh_spark.operators.similarity import StreamingAnnIndex

    idx = StreamingAnnIndex(str(tmp_path / "ann_dup"), num_planes=3)
    dup = spark.createDataFrame(
        [(7, [1.0] * 4), (7, [2.0] * 4), (8, [0.5] * 4)],
        "vec_id long, embedding array<double>",
    )
    idx(dup, 1)
    rows = idx.read(spark).collect()
    assert sorted(r["vec_id"] for r in rows) == [7, 8]
    got7 = [r["embedding"] for r in rows if r["vec_id"] == 7]
    assert got7 == [[2.0] * 4]  # deterministic max wins


# ---------------------------------------------------------------- PQ

def _py_pq(vec, codebooks):
    """Pure-Python PQ reference: (codes, recon_err, adc_table_row)."""
    sub_d = len(codebooks[0][0])
    codes, err = [], 0.0
    for s, cb in enumerate(codebooks):
        sub = vec[s * sub_d : (s + 1) * sub_d]
        dists = [
            sum((x - c) ** 2 for x, c in zip(sub, cent)) for cent in cb
        ]
        best = min(range(len(cb)), key=lambda i: (dists[i], i))
        codes.append(best)
        err += dists[best]
    return codes, err


def _pq_fixture(spark):
    import random

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return rows, emb


def test_pq_encode_matches_python_reference(spark):
    import pytest as _pt

    from atiesh_spark.operators.similarity import pq_encode, pq_fit

    rows, emb = _pq_fixture(spark)
    cbs = pq_fit(emb, num_subspaces=4, codebook_size=4, iterations=3)
    assert len(cbs) == 4 and all(len(cb) == 4 for cb in cbs)
    enc = {r["vec_id"]: r for r in pq_encode(emb, cbs).collect()}
    assert set(enc) == {i for i, _ in rows}
    for i, vec in rows:
        codes, err = _py_pq(vec, cbs)
        assert list(enc[i]["codes"]) == codes, i
        assert enc[i]["recon_err"] == _pt.approx(err, abs=1e-5)


def test_pq_fit_matches_sequential_reference(spark):
    """Randomized differential for the TRAINING loop (the encode tests
    cover inference only): same-k-seed-rows-per-subspace init,
    lowest-code assignment ties, HALF_UP-rounded means, empty codes
    keeping their previous centroid — a sequential implementation must
    reproduce the codebooks exactly."""
    import hashlib
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from atiesh_spark.operators.similarity import pq_fit

    rng = random.Random(2011)
    d, m, kc, iters = 8, 4, 4, 3
    sub_d = d // m
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(d)])
        for i in range(40)
    ]

    def md5_long(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def rnd6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP))

    seeds = sorted(rows, key=lambda r: (md5_long(str(r[0])), r[0]))[:kc]
    cbs = [
        [list(v[s * sub_d:(s + 1) * sub_d]) for _, v in seeds]
        for s in range(m)
    ]
    subs = [(s, v[s * sub_d:(s + 1) * sub_d])
            for _, v in rows for s in range(m)]
    for _ in range(iters):
        members: dict[tuple[int, int], list[list[float]]] = {}
        for s, sv in subs:
            best = min(
                (sum((a - b) ** 2 for a, b in zip(sv, c)), ci)
                for ci, c in enumerate(cbs[s])
            )[1]
            members.setdefault((s, best), []).append(sv)
        cbs = [
            [
                [rnd6(sum(vals) / len(vals))
                 for vals in zip(*members[(s, c)])]
                if (s, c) in members else cbs[s][c]
                for c in range(kc)
            ]
            for s in range(m)
        ]

    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = pq_fit(emb, num_subspaces=m, codebook_size=kc, iterations=iters)
    assert got == cbs


def test_pq_adc_topk_matches_python_order(spark):
    from atiesh_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_fit,
    )

    rows, emb = _pq_fixture(spark)
    cbs = pq_fit(emb, num_subspaces=2, codebook_size=8, iterations=3)
    enc = pq_encode(emb, cbs)
    q = rows[0][1]
    got = [r["vec_id"] for r in pq_adc_topk(enc, cbs, q, k=5).collect()]

    sub_d = len(cbs[0][0])
    def adc(vec):
        codes, _ = _py_pq(vec, cbs)
        return sum(
            sum(
                (q[s * sub_d + j] - cbs[s][c][j]) ** 2
                for j in range(sub_d)
            )
            for s, c in enumerate(codes)
        )

    want = [
        i
        for i, _ in sorted(
            rows, key=lambda r: (round(adc(r[1]), 6), r[0])
        )[:5]
    ]
    assert got == want


def test_pq_encode_drops_null_and_wrong_dim(spark):
    from atiesh_spark.operators.similarity import pq_encode, pq_fit

    rows, emb = _pq_fixture(spark)
    cbs = pq_fit(emb, num_subspaces=4, codebook_size=4, iterations=2)
    bad = spark.createDataFrame(
        [(100, None), (101, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    out = pq_encode(emb.unionByName(bad), cbs)
    ids = {r["vec_id"] for r in out.select("vec_id").collect()}
    assert 100 not in ids and 101 not in ids and len(ids) == 60


def test_pq_beats_single_centroid_baseline(spark):
    from atiesh_spark.operators.similarity import pq_encode, pq_fit

    rows, emb = _pq_fixture(spark)
    cbs = pq_fit(emb, num_subspaces=4, codebook_size=8, iterations=3)
    avg_err = (
        pq_encode(emb, cbs).agg(F.avg("recon_err").alias("e")).first()["e"]
    )
    import statistics

    mean_vec = [
        statistics.fmean(v[j] for _, v in rows) for j in range(8)
    ]
    baseline = statistics.fmean(
        sum((x - m) ** 2 for x, m in zip(v, mean_vec)) for _, v in rows
    )
    assert avg_err < baseline


def test_pq_validates_arguments(spark):
    import pytest as _pt

    from atiesh_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_fit,
    )

    rows, emb = _pq_fixture(spark)
    with _pt.raises(ValueError, match="divisible"):
        pq_fit(emb, num_subspaces=3)
    cbs = pq_fit(emb, num_subspaces=2, codebook_size=4, iterations=1)
    with _pt.raises(ValueError, match="query dim"):
        pq_adc_topk(pq_encode(emb, cbs), cbs, [1.0, 2.0], k=3)
    with _pt.raises(ValueError, match="non-empty"):
        pq_encode(emb, [])


def test_ivf_pq_encode_matches_python_reference(spark):
    import pytest as _pt

    from atiesh_spark.operators.similarity import (
        ivf_pq_encode,
        ivf_pq_fit,
    )

    rows, emb = _pq_fixture(spark)
    cells, cbs = ivf_pq_fit(
        emb, num_cells=4, num_subspaces=4, codebook_size=4, iterations=2
    )
    enc = {r["vec_id"]: r for r in ivf_pq_encode(emb, cells, cbs).collect()}
    assert set(enc) == {i for i, _ in rows}
    for i, vec in rows:
        dists = [
            sum((x - c) ** 2 for x, c in zip(vec, cent)) for cent in cells
        ]
        cell = min(range(len(cells)), key=lambda j: (dists[j], j))
        assert enc[i]["cell"] == cell, i
        resid = [x - c for x, c in zip(vec, cells[cell])]
        codes, err = _py_pq(resid, cbs)
        assert list(enc[i]["codes"]) == codes, i
        assert enc[i]["recon_err"] == _pt.approx(err, abs=1e-5)


def test_ivf_pq_full_probe_matches_python_order(spark):
    from atiesh_spark.operators.similarity import (
        ivf_pq_encode,
        ivf_pq_fit,
        ivf_pq_topk,
    )

    rows, emb = _pq_fixture(spark)
    cells, cbs = ivf_pq_fit(
        emb, num_cells=4, num_subspaces=2, codebook_size=8, iterations=2
    )
    enc = ivf_pq_encode(emb, cells, cbs)
    q = rows[3][1]
    got = [
        r["vec_id"]
        for r in ivf_pq_topk(enc, cells, cbs, q, k=5, n_probe=4).collect()
    ]

    sub_d = len(cbs[0][0])

    def adc(vec):
        dists = [
            sum((x - c) ** 2 for x, c in zip(vec, cent)) for cent in cells
        ]
        cell = min(range(len(cells)), key=lambda j: (dists[j], j))
        codes, _ = _py_pq([x - c for x, c in zip(vec, cells[cell])], cbs)
        qres = [x - c for x, c in zip(q, cells[cell])]
        return sum(
            sum(
                (qres[s * sub_d + j] - cbs[s][c][j]) ** 2
                for j in range(sub_d)
            )
            for s, c in enumerate(codes)
        )

    want = [
        i
        for i, _ in sorted(
            rows, key=lambda r: (round(adc(r[1]), 6), r[0])
        )[:5]
    ]
    assert got == want


def test_ivf_pq_partial_probe_restricts_cells(spark):
    from atiesh_spark.operators.similarity import (
        ivf_pq_encode,
        ivf_pq_fit,
        ivf_pq_topk,
    )

    rows, emb = _pq_fixture(spark)
    cells, cbs = ivf_pq_fit(
        emb, num_cells=4, num_subspaces=4, codebook_size=4, iterations=2
    )
    enc = ivf_pq_encode(emb, cells, cbs)
    q = rows[0][1]
    dists = [
        (sum((x - c) ** 2 for x, c in zip(q, cent)), i)
        for i, cent in enumerate(cells)
    ]
    probed = {i for _, i in sorted(dists)[:2]}
    got = ivf_pq_topk(enc, cells, cbs, q, k=50, n_probe=2)
    cell_of = {r["vec_id"]: r["cell"] for r in enc.collect()}
    assert all(cell_of[r["vec_id"]] in probed for r in got.collect())


def test_ivf_pq_residuals_beat_plain_pq_on_clustered_data(spark):
    import random

    from pyspark.sql import functions as SF

    from atiesh_spark.operators.similarity import (
        ivf_pq_encode,
        ivf_pq_fit,
        pq_encode,
        pq_fit,
    )

    rng = random.Random(5)
    centers = [
        [rng.uniform(-10, 10) for _ in range(8)] for _ in range(4)
    ]
    rows = [
        (
            i,
            [
                c + rng.gauss(0, 0.3)
                for c in centers[i % 4]
            ],
        )
        for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cells, cbs = ivf_pq_fit(
        emb, num_cells=4, num_subspaces=4, codebook_size=4, iterations=3
    )
    plain = pq_fit(emb, num_subspaces=4, codebook_size=4, iterations=3)
    ivf_err = (
        ivf_pq_encode(emb, cells, cbs)
        .agg(SF.avg("recon_err").alias("e"))
        .first()["e"]
    )
    plain_err = (
        pq_encode(emb, plain).agg(SF.avg("recon_err").alias("e")).first()["e"]
    )
    assert ivf_err < plain_err


def test_ivf_pq_validates_dimensions(spark):
    import pytest as _pt

    from atiesh_spark.operators.similarity import ivf_pq_fit, ivf_pq_topk

    rows, emb = _pq_fixture(spark)
    cells, cbs = ivf_pq_fit(
        emb, num_cells=2, num_subspaces=2, codebook_size=4, iterations=1
    )
    from atiesh_spark.operators.similarity import ivf_pq_encode

    enc = ivf_pq_encode(emb, cells, cbs)
    with _pt.raises(ValueError, match="dimensions"):
        ivf_pq_topk(enc, cells, cbs, [1.0, 2.0], k=3)
    with _pt.raises(ValueError, match="positive"):
        ivf_pq_topk(enc, cells, cbs, rows[0][1], k=0)


def test_pq_fit_rejects_ragged_seed_rows(spark):
    import pytest as _pt

    from atiesh_spark.operators.similarity import pq_fit

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [3.0, 1.0]), (3, [4.0, 5.0, 6.0, 7.0])],
        "id long, emb array<double>",
    )
    with _pt.raises(ValueError, match="ragged"):
        pq_fit(emb, "id", "emb", num_subspaces=2, codebook_size=3, iterations=1)


def test_streaming_ann_index_deletes(spark, tmp_path):
    from atiesh_spark.operators.similarity import (
        StreamingAnnIndex,
        lsh_bucket_signatures,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, -2.0, float(i % 3)]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    idx = StreamingAnnIndex(
        str(tmp_path / "ann"), num_planes=4, op_col="op"
    )
    up = F.lit("upsert")
    # batch 1: insert 0..7
    idx(emb.filter("vec_id < 8").withColumn("op", up), 1)
    # batch 2: delete 2,3; insert 8..11; re-insert 2 IN THE SAME BATCH
    b2 = (
        emb.filter("vec_id >= 8").withColumn("op", up)
        .unionByName(emb.filter("vec_id = 2").withColumn("op", up))
        .unionByName(
            emb.filter("vec_id in (2, 3)").withColumn("op", F.lit("delete"))
        )
    )
    idx(b2, 2)
    # batch 3: delete an absent key (no-op) + replay batch 3 (converges)
    b3 = emb.filter("vec_id = 999").withColumn("op", F.lit("delete"))
    idx(b3, 3)
    idx(b3, 3)

    got = sorted(
        (r["vec_id"], r["bucket"]) for r in idx.read(spark).collect()
    )
    survivors = emb.filter("vec_id <> 3")
    want = sorted(
        (r["vec_id"], r["bucket"])
        for r in lsh_bucket_signatures(survivors, num_planes=4)
        .select("vec_id", "bucket")
        .collect()
    )
    assert got == want
    assert 3 not in {v for v, _ in got}
    assert 2 in {v for v, _ in got}  # same-batch delete+upsert = re-insert


def test_streaming_ann_index_op_col_missing_raises(spark, tmp_path):
    import pytest as _pt

    from atiesh_spark.operators.similarity import StreamingAnnIndex

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    idx = StreamingAnnIndex(str(tmp_path / "a2"), num_planes=2, op_col="op")
    with _pt.raises(ValueError, match="op_col"):
        idx(emb, 1)


def test_prefix_dim_recall_full_dim_is_perfect(spark):
    import pytest
    from pyspark.sql import functions as F

    from atiesh_spark.operators.similarity import prefix_dim_recall

    # 30 vectors in 8 dims; the SIGNAL lives in dims 0-1 (three well-
    # separated clusters), later dims are per-vector jitter
    rows = []
    for i in range(30):
        g = i % 3
        v = [float(100 * (g == 0)), float(100 * (g == 1))] + [
            0.01 * ((i * 7 + j) % 5) for j in range(6)
        ]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["dim"]: r for r in prefix_dim_recall(
        df, "vec_id", "embedding", dims=[2, 8], k=5,
        query_filter=F.col("vec_id") % 10 == 0,
    ).collect()}
    assert out[8]["avg_recall"] == 1.0          # truth vs itself
    assert out[8]["n_queries"] == 3
    assert out[2]["avg_recall"] >= 0.5          # 2-dim prefix carries the signal
    with pytest.raises(ValueError):
        prefix_dim_recall(df, "vec_id", "embedding", dims=[16])
    with pytest.raises(ValueError):
        prefix_dim_recall(df, "vec_id", "embedding", dims=[])


def test_embedding_hygiene_counts_each_defect_once(spark):
    import math

    import pytest

    from atiesh_spark.operators.similarity import embedding_hygiene

    rows = [
        (1, [3.0, 4.0]),            # clean, norm 5
        (2, [1.0, 0.0]),            # clean, norm 1
        (3, None),                  # null
        (4, [1.0, 2.0, 3.0]),       # wrong dim
        (5, [0.0, 0.0]),            # zero
        (6, [float("nan"), 1.0]),   # non-finite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    r = embedding_hygiene(df, "vec_id", "embedding").collect()[0]
    assert r["expected_dim"] == 2  # majority length inferred
    assert (r["n_vectors"], r["n_null"], r["n_wrong_dim"]) == (6, 1, 1)
    assert (r["n_zero"], r["n_nonfinite"], r["n_clean"]) == (1, 1, 2)
    assert r["mean_norm"] == 3.0 and r["min_norm"] == 1.0 and r["max_norm"] == 5.0
    with pytest.raises(ValueError, match="no non-NULL"):
        embedding_hygiene(df.filter("vec_id = 3"), "vec_id", "embedding")
    assert not math.isnan(r["mean_norm"])


def test_bitext_margin_pairs_semantics(spark):
    """Margin mining on a hand-built candidate geometry: the true pair
    dominates its neighborhood (margin > 1), a hub vector close to
    everything is suppressed, and a single-candidate id (margin
    exactly 1.0) is excluded as unsupported."""
    import numpy as np

    from atiesh_spark.operators.similarity import bitext_margin_pairs

    rng = np.random.default_rng(11)
    base = rng.normal(size=(4, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # a-side: two query vectors; b-side: near-copies + decoys
    a_rows = [(0, base[0].tolist()), (1, base[1].tolist())]
    near0 = base[0] * 0.95 + base[2] * 0.05
    near1 = base[1] * 0.95 + base[3] * 0.05
    b_rows = [
        (100, near0.tolist()), (101, near1.tolist()),
        (102, base[2].tolist()), (103, base[3].tolist()),
    ]
    emb_a = spark.createDataFrame(a_rows, "vec_id long, embedding array<double>")
    emb_b = spark.createDataFrame(b_rows, "vec_id long, embedding array<double>")
    got = {
        r.id_a: r
        for r in bitext_margin_pairs(
            emb_a, emb_b, k=3, num_planes=1  # one plane: all same bucket half
        ).collect()
    }
    # with num_planes=1 buckets split by one hyperplane; the paired
    # vectors land together with overwhelming probability for this seed
    for a_id, b_id in [(0, 100), (1, 101)]:
        if a_id in got:
            assert got[a_id].id_b == b_id
            assert got[a_id].margin > 1.0
    assert got, "at least one side must align"


def test_bitext_margin_degenerate_neighborhood_is_ansi_safe(spark):
    """A candidate neighborhood whose mean similarity is 0 or negative
    carries no usable margin signal: the ratio is NULLed and the row
    excluded, instead of an ANSI DIVIDE_BY_ZERO abort (zero mean) or a
    sign-flipped margin (negative mean)."""
    from atiesh_spark.operators.similarity import bitext_margin_pairs

    # One partition per one-row frame: the constant bucket key below
    # plans a cartesian product, whose task count is the product of
    # the input partition counts (8 x 8 per stage on the default
    # 8-partition parallelize) for no extra coverage.
    a = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    ).coalesce(1)
    # orthogonal: cos = 0 -> knn means 0 -> denominator exactly 0
    b_zero = spark.createDataFrame(
        [(10, [0.0, 1.0])], "vec_id bigint, embedding array<double>"
    ).coalesce(1)
    # opposite: cos = -1 -> denominator negative
    b_neg = spark.createDataFrame(
        [(20, [-1.0, 0.0])], "vec_id bigint, embedding array<double>"
    ).coalesce(1)
    # num_planes=0: every vector shares the single empty-signature
    # bucket, forcing the degenerate candidates to meet
    assert bitext_margin_pairs(a, b_zero, k=2, num_planes=0).collect() == []
    assert bitext_margin_pairs(a, b_neg, k=2, num_planes=0).collect() == []


def test_codebook_lit_folds_and_matches_per_row_construction(spark):
    """The r14 from_json codebook literal must (a) constant-fold to a
    single Literal — higher-order constructions never fold, which was
    the per-row-rebuild defect — and (b) carry exactly the values the
    legacy zip_with construction produced, including awkward doubles."""
    from pyspark.sql import functions as F

    from atiesh_spark.operators.similarity import _codebook_lit

    cb = [
        [0.1 + 0.2, -1.0 / 3.0],          # non-terminating binary reprs
        [1e-300, -1e300],                  # extreme magnitudes
        [0.0, -0.0],                       # signed zero survives JSON? (-0.0
    ]                                      # parses to -0.0 in Java too)
    legacy = F.zip_with(
        F.lit(list(range(len(cb)))).cast("array<int>"),
        F.lit([[float(x) for x in c] for c in cb]),
        lambda c, v: F.struct(c.alias("c"), v.alias("v")),
    )
    df = spark.range(1).select(
        _codebook_lit(cb).alias("new"), legacy.alias("old")
    )
    row = df.first()
    assert [tuple(e) for e in row["new"]] == [tuple(e) for e in row["old"]]
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # folded: the executed plan must not contain the json parser node
    assert "from_json" not in plan

    # non-finite entries are not JSON-representable: the fallback path
    # must engage and still produce the right structs per row
    import math

    cb_nan = [[float("nan"), 1.0]]
    r = spark.range(1).select(_codebook_lit(cb_nan).alias("b")).first()["b"]
    assert r[0]["c"] == 0 and math.isnan(r[0]["v"][0]) and r[0]["v"][1] == 1.0


def test_grid_salted_pair_join_output_identical(spark, monkeypatch):
    """The r15 grid-salted pair join must be a pure parallelism change:
    forcing every bucket to split (block_rows=3 -> g in the tens) has
    to produce byte-identical rows to the degenerate g=1 grid (huge
    block_rows), for both knn_join (ranked) and the near-dup pair set.
    This pins the exactly-one-cell-per-ordered-pair argument with data."""
    import atiesh_spark.operators.similarity as sim

    emb = load_table(spark, SF_SMALL, "embeddings")

    def rows(block):
        monkeypatch.setattr(sim, "_PAIR_BLOCK_ROWS", block)
        knn = sorted(
            tuple(r)
            for r in sim.knn_join(emb, k=3, num_planes=2).collect()
        )
        pairs = sorted(
            tuple(r)
            for r in sim.embedding_near_dup_pairs(
                emb, threshold=0.3, num_planes=2
            ).collect()
        )
        return knn, pairs

    knn_salted, pairs_salted = rows(3)
    knn_plain, pairs_plain = rows(10**9)
    assert knn_salted == knn_plain
    assert pairs_salted == pairs_plain
    assert len(pairs_salted) > 0 and len(knn_salted) > 0
