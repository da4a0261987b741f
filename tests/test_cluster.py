"""DataFrame-native k-means tests: Lloyd invariants against a pure
Python reference, determinism, empty-cluster rule, and the zero-shuffle
assignment plan gate."""

from __future__ import annotations

import random

import pytest

from atiesh_spark.operators.cluster import kmeans_assign, kmeans_fit


def _vecs(n, d, seed):
    rng = random.Random(seed)
    # three well-separated blobs so clustering is unambiguous
    centers = [[0.0] * d, [10.0] * d, [-10.0] * d]
    out = []
    for i in range(n):
        c = centers[i % 3]
        out.append((i, [c[j] + rng.uniform(-1, 1) for j in range(d)]))
    return out


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(
        _vecs(90, 4, seed=5), "vec_id long, embedding array<double>"
    )


def test_kmeans_recovers_separated_blobs(emb):
    cents = kmeans_fit(emb, k=3, iterations=5)
    got = kmeans_assign(emb, cents).collect()
    assert len(got) == 90
    # blob membership (vec_id % 3) must map 1:1 onto clusters
    mapping = {}
    for r in got:
        blob = r["vec_id"] % 3
        mapping.setdefault(blob, set()).add(r["cluster"])
    assert all(len(v) == 1 for v in mapping.values())
    assert len({next(iter(v)) for v in mapping.values()}) == 3


def test_kmeans_assignment_is_nearest_and_deterministic(emb):
    cents1 = kmeans_fit(emb, k=3, iterations=4)
    cents2 = kmeans_fit(emb, k=3, iterations=4)
    assert cents1 == cents2  # md5 init + fixed rounds: bit-stable

    rows = emb.collect()
    got = {r["vec_id"]: r["cluster"] for r in kmeans_assign(emb, cents1).collect()}
    for r in rows:
        dists = [
            sum((x - c) ** 2 for x, c in zip(r["embedding"], cent))
            for cent in cents1
        ]
        assert got[r["vec_id"]] == dists.index(min(dists)), r["vec_id"]


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    # two identical points, k=2: one cluster inevitably empties after
    # the first re-estimation; its centroid must survive, not NaN out
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    cents = kmeans_fit(df, k=2, iterations=3)
    assert len(cents) == 2
    assert all(all(x == x for x in c) for c in cents)  # no NaN


def test_kmeans_fit_validation(spark):
    df = spark.createDataFrame(
        [(1, [0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="at least k"):
        kmeans_fit(df, k=2)
    with pytest.raises(ValueError):
        kmeans_fit(df, k=0)


def test_assign_zero_shuffles(emb):
    cents = kmeans_fit(emb, k=3, iterations=3)
    assigned = kmeans_assign(emb, cents)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # row-local argmin, no shuffle


def test_kmeans_stable_across_partitioning(spark, emb):
    """Re-estimated centroids are rounded before becoming literals, so
    a different input partitioning (different float summation order)
    must yield identical centroids — the determinism the module
    docstring promises across retries and cluster resizes."""
    a = kmeans_fit(emb.repartition(3), k=3, iterations=4)
    b = kmeans_fit(emb.repartition(11), k=3, iterations=4)
    assert a == b


def test_kmeans_matches_sequential_lloyd_reference(spark):
    """Randomized differential against a sequential Lloyd's
    implementation of the documented contract: md5-smallest-(hash, id)
    seeding, lowest-index tie-break on assignment, HALF_UP-rounded
    means as next-round centroids, empty clusters keeping their
    previous centroid. Exact equality — the fit is specified to be
    deterministic and engine-independent."""
    import hashlib
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from atiesh_spark.operators.cluster import kmeans_fit

    rng = random.Random(88)
    rows = [
        (i, [round(rng.uniform(-2, 2), 3) for _ in range(4)])
        for i in range(60)
    ]
    k, iters = 5, 3

    def md5_long(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def rnd6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP))

    seeds = sorted(rows, key=lambda r: (md5_long(str(r[0])), r[0]))[:k]
    cents = [list(v) for _, v in seeds]
    for _ in range(iters):
        members: dict[int, list[list[float]]] = {}
        for _, v in rows:
            best = min(
                (sum((a - b) ** 2 for a, b in zip(v, c)), ci)
                for ci, c in enumerate(cents)
            )[1]
            members.setdefault(best, []).append(v)
        cents = [
            [rnd6(sum(vals) / len(vals))
             for vals in zip(*members[ci])] if ci in members else cents[ci]
            for ci in range(k)
        ]

    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = kmeans_fit(emb, k=k, iterations=iters)
    assert got == cents


def test_kmeans_drops_ragged_vectors(spark):
    """A malformed short vector must be dropped like a NULL — not kill
    the fit under ANSI mode, not skew a mean with null-padded dims."""
    rows = [(i, [float(i % 3)] * 4) for i in range(12)] + [(99, [1.0, 2.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(df, k=3, iterations=3)
    assert all(len(c) == 4 for c in cents)
    got = kmeans_assign(df, cents)
    ids = {r["vec_id"] for r in got.collect()}
    assert 99 not in ids and len(ids) == 12


def test_kmeans_fit_rejects_ragged_seed_rows(spark):
    import pytest as _pt

    from atiesh_spark.operators.cluster import kmeans_fit

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0]), (3, [4.0, 5.0])],
        "id long, emb array<double>",
    )
    with _pt.raises(ValueError, match="ragged"):
        kmeans_fit(emb, "id", "emb", k=3, iterations=1)


def test_bcubed_eval_known_values(spark):
    from atiesh_spark.operators.cluster import bcubed_eval

    # truth: {1,2,3} and {4,5}; pred merges everything into one cluster
    pred = spark.createDataFrame(
        [(i, 1) for i in range(1, 6)], "id long, cluster_rep long"
    )
    truth = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)], "id long, truth_rep long"
    )
    r = bcubed_eval(pred, truth, "id").collect()[0]
    # precision: items in the true 3-cluster score 3/5, the pair 2/5
    want_p = (3 * 3 / 5 + 2 * 2 / 5) / 5
    assert abs(r["precision"] - want_p) < 1e-6
    assert r["recall"] == 1.0            # no true cluster is split
    assert r["n_items"] == 5

    # perfect clustering scores 1/1
    r2 = bcubed_eval(truth.withColumnRenamed("truth_rep", "cluster_rep"),
                     truth, "id").collect()[0]
    assert r2["precision"] == 1.0 and r2["recall"] == 1.0 and r2["f1"] == 1.0


class TestSemanticDedup:
    """SemDeDup (semantic_dedup): cluster-bucketed cosine dedup."""

    @staticmethod
    def _emb(spark, rows):
        return spark.createDataFrame(rows, "vec_id bigint, emb array<double>")

    def test_scaled_copy_is_duplicate_keeper_is_farther(self, spark):
        from atiesh_spark.operators.cluster import semantic_dedup_exact as semantic_dedup

        # Centroid at origin-ish: both vectors point the same way
        # (cos = 1.0); the SCALED copy is farther from the centroid and
        # must be the keeper (paper rule: lowest centroid similarity
        # survives), the original is the duplicate.
        emb = self._emb(spark, [(1, [1.0, 0.0]), (2, [2.0, 0.0])])
        out = {r["vec_id"]: r for r in semantic_dedup(
            emb, [[0.0, 0.0]], threshold=0.95,
            id_col="vec_id", vec_col="emb",
        ).collect()}
        assert out[1]["is_dup"] is True
        assert out[2]["is_dup"] is False

    def test_cross_cluster_pairs_not_compared(self, spark):
        from atiesh_spark.operators.cluster import semantic_dedup_exact as semantic_dedup

        # Identical-direction vectors assigned to DIFFERENT clusters are
        # never compared — the cluster is the candidate block.
        emb = self._emb(spark, [(1, [1.0, 0.0]), (2, [10.0, 0.0])])
        cents = [[1.0, 0.0], [10.0, 0.0]]
        out = semantic_dedup(
            emb, cents, threshold=0.95, id_col="vec_id", vec_col="emb"
        ).collect()
        assert all(not r["is_dup"] for r in out)
        assert {r["cluster"] for r in out} == {0, 1}

    def test_below_threshold_kept(self, spark):
        from atiesh_spark.operators.cluster import semantic_dedup_exact as semantic_dedup

        # cos([1,0],[0,1]) = 0 < threshold: both kept.
        emb = self._emb(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0])])
        out = semantic_dedup(
            emb, [[0.5, 0.5]], threshold=0.95,
            id_col="vec_id", vec_col="emb",
        ).collect()
        assert all(not r["is_dup"] for r in out)

    def test_equal_distance_tie_keeps_smaller_id(self, spark):
        from atiesh_spark.operators.cluster import semantic_dedup_exact as semantic_dedup

        # Exactly equal vectors: same distance, cos = 1; the smaller id
        # is the keeper by the documented tie rule.
        emb = self._emb(spark, [(7, [1.0, 1.0]), (3, [1.0, 1.0])])
        out = {r["vec_id"]: r for r in semantic_dedup(
            emb, [[0.0, 0.0]], threshold=0.95,
            id_col="vec_id", vec_col="emb",
        ).collect()}
        assert out[3]["is_dup"] is False
        assert out[7]["is_dup"] is True

    def test_transitive_group_keeps_exactly_one(self, spark):
        from atiesh_spark.operators.cluster import semantic_dedup_exact as semantic_dedup

        # Three colinear vectors in one cluster: everyone similar to
        # everyone; only the farthest-from-centroid survives.
        emb = self._emb(spark, [(1, [1.0, 0.0]), (2, [2.0, 0.0]),
                                (3, [3.0, 0.0])])
        out = {r["vec_id"]: r["is_dup"] for r in semantic_dedup(
            emb, [[0.0, 0.0]], threshold=0.95,
            id_col="vec_id", vec_col="emb",
        ).collect()}
        assert out == {1: True, 2: True, 3: False}

    def test_threshold_validation(self, spark):
        import pytest as _pt

        from atiesh_spark.operators.cluster import semantic_dedup_exact as semantic_dedup

        emb = self._emb(spark, [(1, [1.0, 0.0])])
        with _pt.raises(ValueError, match="threshold"):
            semantic_dedup(emb, [[0.0, 0.0]], threshold=0.0,
                           id_col="vec_id", vec_col="emb")
        with _pt.raises(ValueError, match="centroids"):
            semantic_dedup(emb, [], threshold=0.9,
                           id_col="vec_id", vec_col="emb")
