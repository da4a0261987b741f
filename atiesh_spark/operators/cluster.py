"""Corpus clustering over embeddings: deterministic Lloyd k-means in
pure DataFrame ops (domain discovery, data-map balancing,
cluster-capped sampling).

SemDeDup (``similarity.semantic_dedup``) already uses MLlib KMeans as
an internal cell index; THIS module is the user-facing clustering
operator, built DataFrame-native for the same reasons as PageRank/BPE:

- **Determinism**: MLlib's k-means|| init is RNG- and partitioning-
  dependent; here init is the k vectors with the smallest md5(id) —
  a pure function of the data, so reruns, retries and resizes give
  identical clusters (the repo-wide determinism contract,
  ``functions/hashing.py``).
- **Bounded driver traffic**: per round the driver sees exactly the
  k x d centroid matrix (the PageRank/PCA digest discipline — k and d
  are model constants, never corpus-sized). Assignment is row-local
  codegen argmin over centroid literals; the re-estimation is ONE
  map-side-combined groupBy with d avg columns — no explode, no
  (row, dim) shuffle.
- **Fixed iterations**: the batch-pipeline convention (assignments
  stabilize long before centroids); no convergence poll.

At 100 TB: fit on a deterministic hash sample (``fit_sample_buckets``,
same device as ``semantic_dedup``) — centroid quality needs a sample,
not the corpus — then ``kmeans_assign`` the full table in one pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from atiesh_spark.operators.similarity import as_double


def _sq_dist(vec: Column, centroid: list[float]) -> Column:
    """Squared L2 distance to a literal centroid — row-local codegen."""
    return F.aggregate(
        F.zip_with(
            vec,
            F.array(*[F.lit(float(c)) for c in centroid]),
            lambda x, c: (x - c) * (x - c),
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def _argmin_cluster(vec: Column, centroids: list[list[float]]) -> Column:
    """(cluster, sq_dist) struct of the nearest centroid: array_min over
    (dist, index) structs — lexicographic struct compare is the codegen
    argmin, ties resolved to the LOWER cluster id."""
    return F.array_min(
        F.array(
            *[
                F.struct(
                    _sq_dist(vec, c).alias("d"), F.lit(i).alias("c")
                )
                for i, c in enumerate(centroids)
            ]
        )
    )


def kmeans_fit(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 5,
    fit_sample_buckets: int | None = None,
    round_to: int = 6,
) -> list[list[float]]:
    """Fit ``k`` centroids with ``iterations`` Lloyd rounds.

    Init: the k rows with the smallest (md5_long(id), id) — hash-random
    but a pure function of the data (rerun/engine stable), collected as
    one TakeOrderedAndProject. Each round: assign (row-local argmin
    over centroid literals) + re-estimate (one groupBy, d map-side-
    combined avgs) + collect the k x d matrix. Re-estimated means are
    ROUNDED (``round_to`` decimals) before becoming assignment
    literals: float summation order varies with partitioning, and an
    unrounded boundary vector could flip clusters across a resize —
    the same zero-boundary discipline as ``lsh_bucket_signatures``.
    A cluster that loses all members keeps its previous centroid (the
    standard empty-cluster rule). Rows whose vector dimension differs
    from the seeds' are dropped like NULLs (a malformed row must not
    kill the fit under ANSI mode or silently skew a mean). Returns the
    centroid list — plan literals for :func:`kmeans_assign`,
    persistable as a tiny artifact.
    """
    from atiesh_spark.functions.hashing import md5_long
    from atiesh_spark.operators.sampling import hash_bucket

    if k <= 0 or iterations <= 0:
        raise ValueError("k and iterations must be > 0")
    base = emb.select(F.col(id_col), as_double(vec_col).alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    if fit_sample_buckets:
        base = base.filter(hash_bucket(F.col(id_col), fit_sample_buckets) == 0)

    seeds = (
        base.orderBy(md5_long(F.col(id_col).cast("string"), 15), F.col(id_col))
        .limit(k)
        .select("__v")
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(f"need at least k={k} rows to fit, got {len(seeds)}")
    centroids = [list(r["__v"]) for r in seeds]
    d = len(centroids[0])
    ragged = [i for i, c in enumerate(centroids) if len(c) != d]
    if ragged:
        # A wrong-length seed would become a centroid whose zip_with
        # distance pads NULLs, silently corrupting the argmin for every
        # row in later rounds — fail loudly instead.
        raise ValueError(
            f"seed rows {ragged} have dimension != {d}; the embedding "
            "column is ragged — filter to a single dimension before fitting"
        )
    base = base.filter(F.size("__v") == d)
    if iterations > 1:
        # Lazy local checkpoint: round 1's collect materializes the
        # scanned+cast frame in its own job, rounds 2..n read the
        # persisted rows instead of re-running the scan. Partition
        # layout and row order preserved — every rounded mean is
        # bit-identical (the determinism contract; see pq_fit).
        base = base.localCheckpoint(eager=False)

    for _ in range(iterations):
        assigned = base.select(
            _argmin_cluster(F.col("__v"), centroids)["c"].alias("__cl"), "__v"
        )
        rows = (
            assigned.groupBy("__cl")
            .agg(
                *[
                    F.round(F.avg(F.element_at("__v", i + 1)), round_to).alias(
                        f"m{i}"
                    )
                    for i in range(d)
                ]
            )
            .collect()
        )
        fresh = {r["__cl"]: [r[f"m{i}"] for i in range(d)] for r in rows}
        centroids = [fresh.get(i, centroids[i]) for i in range(k)]
    return centroids


def kmeans_assign(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Assign every row to its nearest centroid: (id_col, cluster,
    sq_dist) — one row-local codegen pass, ZERO shuffles (distances to
    the k literal centroids, struct array_min argmin, lower cluster id
    wins exact ties). NULL vectors and rows whose dimension differs
    from the centroids' are dropped (no distance exists for either)."""
    if not centroids:
        raise ValueError("centroids must be non-empty")
    best = _argmin_cluster(as_double(vec_col), centroids)
    return (
        emb.filter(
            F.col(vec_col).isNotNull()
            & (F.size(vec_col) == len(centroids[0]))
        )
        .select(
            F.col(id_col),
            best["c"].alias("cluster"),
            F.round(best["d"], round_to).alias("sq_dist"),
        )
    )


def bcubed_eval(
    pred: DataFrame,
    truth: DataFrame,
    id_col: str,
    pred_col: str = "cluster_rep",
    truth_col: str = "truth_rep",
    round_to: int = 6,
) -> DataFrame:
    """B-cubed clustering evaluation (Bagga & Baldwin 1998): one row —
    (n_items, precision, recall, f1) — of a predicted clustering
    against ground truth, the standard entity-resolution/dedup-cluster
    metric (pairwise P/R over-weights big clusters; B-cubed averages
    PER ITEM, so splitting a 1000-doc cluster hurts exactly 1000
    items' recall, no more).

    With n_cl = |items in predicted cluster c AND true cluster l|:

        precision = (1/N) * sum_{c,l} n_cl^2 / n_c
        recall    = (1/N) * sum_{c,l} n_cl^2 / n_l

    Plan: items joined on id to align the two labelings (inner join —
    items missing a side have no defined score), ONE groupBy on the
    (pred, truth) label pair — intersection-count-sized — then two
    label-sized re-aggregations broadcast-joined back. Never a pair
    explosion: B-cubed's n^2 terms are squares of GROUP sizes, so the
    corpus shuffles once on a two-label key. Exactly the evaluation
    shape of ``dedup.candidate_eval``, one level up (clusters, not
    pairs).
    """
    p = pred.select(F.col(id_col), F.col(pred_col).alias("__c"))
    t = truth.select(F.col(id_col), F.col(truth_col).alias("__l"))
    cells = (
        p.join(t, id_col)
        .groupBy("__c", "__l")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    sizes_c = cells.groupBy("__c").agg(F.sum("__n").alias("__nc"))
    sizes_l = cells.groupBy("__l").agg(F.sum("__n").alias("__nl"))
    scored = (
        cells.join(F.broadcast(sizes_c), "__c")
        .join(F.broadcast(sizes_l), "__l")
        .agg(
            F.sum("__n").alias("n_items"),
            F.sum(F.col("__n") * F.col("__n") / F.col("__nc")).alias("__p"),
            F.sum(F.col("__n") * F.col("__n") / F.col("__nl")).alias("__r"),
        )
    )
    return scored.select(
        F.col("n_items").cast("long").alias("n_items"),
        F.round(F.col("__p") / F.col("n_items"), round_to).alias("precision"),
        F.round(F.col("__r") / F.col("n_items"), round_to).alias("recall"),
        F.round(
            2 * (F.col("__p") / F.col("n_items"))
            * (F.col("__r") / F.col("n_items"))
            / ((F.col("__p") + F.col("__r")) / F.col("n_items")),
            round_to,
        ).alias("f1"),
    )


def semantic_dedup_exact(
    emb: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_round_to: int = 4,
    dist_round_to: int = 6,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-bucketed
    semantic deduplication — (id_col, cluster, sq_dist, is_dup).

    The ORACLE-REPLAYABLE variant: deterministic assignment to LITERAL
    centroids and the paper's keeper rule, so a SQL oracle can replay
    the whole verdict (q219). similarity.semantic_dedup is the
    MLlib-KMeans + connected-components variant (min-id keeper,
    library-specific cells, invariant-graded as q73) — same paper, two
    deployment shapes; this one is also the building block when the
    centroids come from kmeans_fit.

    Each vector is assigned to its nearest centroid (row-local codegen
    argmin over the centroid literals — distances ROUNDED to
    ``dist_round_to`` before the argmin so assignment is engine- and
    partitioning-independent, ties to the lower cluster id). Within a
    cluster, x is a duplicate if some y has
    round(cos(x, y), sim_round_to) >= threshold and y is the better
    keeper: the paper keeps the example with the LOWEST cosine
    similarity to its centroid, i.e. the larger sq_dist wins, exact
    ties to the smaller id. The cluster IS the candidate blocking —
    the pairwise cosine is quadratic only within a cluster, and at
    corpus scale k grows with the corpus (the paper uses ~sqrt(N)
    clusters), so the per-cluster quadratic and the join-key
    cardinality both stay healthy; nothing is ever all-pairs.

    The assignment relation is localCheckpoint()ed before the
    self-join: it feeds both join sides and the final verdict frame,
    and without pinning, the scan + argmin subtree would execute
    three times (the dedup.py SimHash discipline).
    """
    if not centroids:
        raise ValueError("centroids must be non-empty")
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    from atiesh_spark.operators.similarity import dot, norm

    d = len(centroids[0])
    vec = as_double(vec_col)
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    F.round(_sq_dist(vec, c), dist_round_to).alias("d"),
                    F.lit(i).alias("c"),
                )
                for i, c in enumerate(centroids)
            ]
        )
    )
    # Vectors are NORMALIZED once here, so the per-pair similarity is a
    # single dot product — computing cos as dot/(|a||b|) inside the
    # pair join re-folds both norms per PAIR, tripling the quadratic
    # stage's work (measured 15.9 s -> ~2 s at sf0.1). Zero vectors
    # have no defined cosine and are excluded like NULLs.
    assigned = (
        emb.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) == d))
        .select(
            F.col(id_col),
            best["c"].alias("cluster"),
            best["d"].alias("sq_dist"),
            vec.alias("__v"),
        )
        .select(
            id_col, "cluster", "sq_dist", "__v",
            # the norm is materialized as its own column: referencing
            # norm() inside the transform lambda would re-fold it per
            # ELEMENT (the O(d^2) lambda trap, operators/evaluate.py)
            norm(F.col("__v")).alias("__n"),
        )
        .filter(F.col("__n") > 0)
        .select(
            id_col, "cluster", "sq_dist",
            F.transform("__v", lambda x: x / F.col("__n")).alias("__u"),
        )
        .localCheckpoint()
    )
    a = assigned.select(
        F.col(id_col).alias("__ia"), "cluster",
        F.col("sq_dist").alias("__da"), F.col("__u").alias("__ua"),
    )
    b = assigned.select(
        F.col(id_col).alias("__ib"), "cluster",
        F.col("sq_dist").alias("__db"), F.col("__u").alias("__ub"),
    )
    better_keeper = (F.col("__db") > F.col("__da")) | (
        (F.col("__db") == F.col("__da")) & (F.col("__ib") < F.col("__ia"))
    )
    dups = (
        a.join(b, "cluster")
        .filter(F.col("__ia") != F.col("__ib"))
        .filter(
            F.round(dot(F.col("__ua"), F.col("__ub")), sim_round_to)
            >= threshold
        )
        .filter(better_keeper)
        .select(F.col("__ia").alias(id_col))
        .distinct()
    )
    return (
        assigned.select(id_col, "cluster", "sq_dist")
        .join(dups.withColumn("is_dup", F.lit(True)), id_col, "left")
        .fillna(False, subset=["is_dup"])
    )
