"""Deduplication operators for training-data pipelines.

All variants are pure DataFrame compositions (no Python UDFs, no driver
state) so they scale to 100 TB: dedup is shuffle-on-hash; MinHash/LSH
turns the O(n^2) pair problem into band-bucket joins; hash functions are
md5-based so results are engine-independent (checkable against a SQL
oracle) and cluster-deterministic.

Scale notes:
- exact_dedup: one shuffle on a 128-bit hash — the canonical first pass.
- shingles: explode is linear in text size; at 100 TB, cap shingle count
  per doc (``max_positions``) to bound row blowup.
- minhash_lsh_pairs: shuffle keys are (seed) then (band, band_sig);
  band buckets are the skew risk — a degenerate signature (e.g. empty
  text) would collect all docs into one bucket, so empty shingle sets
  are filtered out up front.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical texts by md5: (h, keep_id, n_dups)."""
    return (
        df.select(F.md5(F.col(text_col).cast("binary")).alias("h"), F.col(id_col))
        .groupBy("h")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def _shuffle_free_scan(df: DataFrame) -> bool:
    """Shared gate — see :func:`atiesh_spark.session.shuffle_free_scan`
    (kept as an alias here because the r14 plan tests and operator
    modules reference it by this name)."""
    from atiesh_spark.session import shuffle_free_scan

    return shuffle_free_scan(df)


def _fanout(df: DataFrame) -> DataFrame:
    """Spread rows across all cores before an explode-heavy stage.

    A compact input (one parquet file, a small createDataFrame) arrives
    in few partitions; exploding it there serializes the whole fan-out on
    one task. Cost: one round-robin shuffle of the *narrow* pre-explode
    rows — orders of magnitude smaller than the post-explode data it
    parallelizes.

    SCAN-SHAPED INPUTS ONLY: the partition-count probe is gated on the
    optimized logical plan being shuffle-free (scan/project/filter/...).
    Anything downstream of a join/aggregate/repartition already arrives
    at ``spark.sql.shuffle.partitions`` width and passes through
    untouched — which also means ``df.rdd`` is never called on a plan
    with materializable stages. (Under AQE, ``.rdd`` finalizes the
    adaptive plan by EXECUTING every upstream shuffle/broadcast stage as
    real jobs at composition time, and that work is recomputed by the
    later action because exchange reuse does not span QueryExecutions —
    the r13 "plan-analysis no-op" claim was wrong for exactly those
    inputs.) A caller with a post-join frame that is narrow anyway
    (e.g. a broadcast-join output of a single-file scan) should widen
    explicitly before passing it in.

    WIDENING ONLY, never a coalesce (the ``widen_for_python_stage``
    discipline): at warehouse scale the input already arrives in
    thousands of splits, and an unconditional ``repartition(cores)``
    would COALESCE it. Note the skip keys on partition COUNT, not
    balance — a wide-but-skewed layout (thousands of partitions, data
    in a few) passes through and keeps its skew; rebalancing that is
    the caller's call, not this guard's.
    """
    if not _shuffle_free_scan(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def char_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, distinct: bool = True
) -> DataFrame:
    """Character k-shingles per document: (id_col, sh).

    Built-ins only: sequence + transform + explode stay in codegen.
    ``distinct=True`` (needed for Jaccard set sizes) dedups ROW-LOCALLY
    with ``array_distinct`` before the explode: per-doc distinct equals
    distinct over (id, sh) because ``id_col`` is one row per document
    (the standing contract of every dedup operator — a caller keying
    by a COARSER grain that spans rows, e.g. per-source, must apply
    its own global ``.distinct()`` on top, as source_overlap_matrix
    does), so the global
    ``DISTINCT`` exchange of exploded rows is pure waste — and worse
    than waste: it scattered each doc's shingles across every task, so
    the downstream per-id aggregation's PARTIAL state held (all ids x
    agg width) per task instead of (ids / tasks). At 10x sf0.1 that
    partial state spilled ~8 GB and turned MinHash super-linear
    (measured r13: 26x at 10x data; row-local distinct restores the
    co-located-doc shape where partial agg is final agg).
    """
    grams = _char_gram_array(text_col, k)
    if distinct:
        grams = F.array_distinct(grams)
    return (
        _fanout(df.select(id_col, text_col))
        .select(F.col(id_col), F.explode(grams).alias("sh"))
        .filter(F.length("sh") > 0)
    )


def _char_gram_array(text_col: str, k: int):
    """All char k-grams of ``text_col`` as an array column (with
    duplicates; the truncated tail gram of a short text included,
    matching ``char_shingles``)."""
    positions = F.sequence(F.lit(1), F.greatest(F.length(text_col) - (k - 1), F.lit(1)))
    return F.transform(positions, lambda i: F.col(text_col).substr(i, F.lit(k)))


def char_gram_set(text_col: str, k: int):
    """The per-row DISTINCT char k-gram SET as an array column — the
    row-local equivalent of collecting ``char_shingles(distinct=True)``
    back per id (same one-row-per-id contract). Set membership is
    identical: array_distinct before vs. after the length filter
    commutes, and explode+collect_set adds only a shuffle."""
    return F.filter(
        F.array_distinct(_char_gram_array(text_col, k)),
        lambda g: F.length(g) > 0,
    )


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 2, distinct: bool = True
) -> DataFrame:
    """Word n-gram shingles per document: (id_col, sh).

    The word-unit counterpart of ``char_shingles`` (coarser, language-ish
    granularity — standard for near-dup detection on natural text). A
    window extending past the last token concatenates a NULL and is
    filtered out, so only complete n-grams survive; docs with fewer than
    ``n`` tokens contribute no shingles. Plugs into the same ``shingles=``
    slot of ngram_jaccard_pairs / minhash_lsh_pairs.
    """
    # The token array is materialized as its own projection BEFORE the
    # positional transform: inlining the split into gram() re-tokenizes
    # the text once per (position, offset) pair — O(words^2) per row
    # (the trap measured at 20x+ on the regexp-based chrF path,
    # operators/evaluate.py). CollapseProject won't re-inline a
    # non-trivial alias referenced more than once.
    toks = F.col("__toks")
    positions = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))

    def gram(i):
        parts = []
        for j in range(n):
            if j:
                parts.append(F.lit(" "))
            # try_: out-of-range -> NULL (plain element_at throws under
            # ANSI mode, which Spark 4 enables by default)
            parts.append(F.try_element_at(toks, i + j))
        return F.concat(*parts)  # NULL if the window runs off the end

    grams = F.transform(positions, gram)
    if distinct:
        # row-local dedup (== DISTINCT over (id, sh) when id_col is one
        # row per document) — see char_shingles for why the global
        # distinct exchange was a scale hazard, not just waste
        grams = F.array_distinct(grams)
    return (
        _fanout(df.select(id_col, text_col))
        .select(
            F.col(id_col),
            F.filter(
                F.split(F.col(text_col), r"\s+"), lambda t: F.length(t) > 0
            ).alias("__toks"),
        )
        .select(F.col(id_col), F.explode(grams).alias("sh"))
        .filter(F.col("sh").isNotNull())
    )


def word_gram_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Per-document DISTINCT word n-gram SET as an array column:
    (id_col, __shs) — the row-local equivalent of collecting
    ``word_shingles(distinct=True)`` back per id (same one-row-per-id
    contract), mirroring ``char_gram_set`` for the word unit. Exploding
    ``__shs`` reproduces the ``word_shingles`` rows exactly (same
    grams, nulls filtered, row-locally distinct), so one row-local
    build can feed BOTH a MinHash candidate stage (explode) and the
    Jaccard verify stage (sets as-is) with zero shuffles — the former
    q53 plan built the exploded frame, then paid a collect_set shuffle
    to reassemble the very arrays this emits.

    The token array is materialized as its own projection before the
    positional transform (the word_shingles O(words^2) re-tokenize
    trap), which is why this is a DataFrame builder, not a Column
    expression like ``char_gram_set``.
    """
    toks = F.col("__toks")
    positions = F.sequence(
        F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))
    )

    def gram(i):
        parts = []
        for j in range(n):
            if j:
                parts.append(F.lit(" "))
            parts.append(F.try_element_at(toks, i + j))
        return F.concat(*parts)  # NULL if the window runs off the end

    grams = F.filter(
        F.array_distinct(F.transform(positions, gram)),
        lambda g: g.isNotNull(),
    )
    return (
        _fanout(df.select(id_col, text_col))
        .select(
            F.col(id_col),
            F.filter(
                F.split(F.col(text_col), r"\s+"), lambda t: F.length(t) > 0
            ).alias("__toks"),
        )
        .select(F.col(id_col), grams.alias("__shs"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    shingles: DataFrame | None = None,
    gram_sets: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs.

    Without ``candidates`` this is the O(n^2)-ish exact verifier: the
    shingle self-join explodes when shingles are common to many docs
    (cost ~ sum over shingles of n_s^2) — small corpora / oracle checks
    only. At scale, pass ``candidates`` = (id_1, id_2) pairs (id_1 <
    id_2, e.g. from minhash_lsh_pairs): intersections are then computed
    by joining shingles ONTO the candidate pairs, so cost is linear in
    |candidates| x shingles-per-doc — the pair explosion never happens.
    ``shingles`` accepts a precomputed DISTINCT (id_col, sh) frame
    (ideally localCheckpointed) so a caller that also ran MinHash on the
    same corpus pays the shingle explode once, not twice.
    ``gram_sets`` accepts a per-doc distinct shingle-SET frame
    (id_col, __shs array) — e.g. ``word_gram_sets`` — and skips the
    collect_set reassembly shuffle in the candidates path entirely;
    it takes precedence over ``shingles`` there.
    Output: (id_1, id_2, jaccard) with id_1 < id_2.

    CONTRACT — one row per ``id_col``: the self-built shingle path
    dedups ROW-LOCALLY (``array_distinct``), which equals DISTINCT over
    (id, sh) only when each id occupies a single row. An input with
    repeated ids (e.g. chunked documents sharing an id) silently
    inflates set sizes and therefore deflates Jaccard — pre-aggregate
    to one row per id, or pass ``shingles=`` already globally distinct
    on (id, sh).
    """
    if candidates is not None:
        # shingle SETS as per-doc arrays, joined onto the pairs by plain
        # id keys; the intersection runs as codegen array_intersect per
        # pair — no (id, shingle)-keyed join of the full shingle stream
        # (measured ~2x the whole-stage cost of this layout at sf0.1).
        # Default path (r14): the set is built ROW-LOCALLY from the text
        # (char_gram_set) — zero shuffle, no explode, and the a/b
        # branches stay scan-shaped so the planner sees honest scan
        # stats for its join-strategy choice. An injected ``shingles``
        # frame (a caller's non-char-gram unit, e.g. q53's word
        # bigrams) still pays one collect_set shuffle, materialized
        # once so the a/b branches don't run it twice.
        # Row-count note vs. the collect_set path: a doc whose shingle
        # SET is empty keeps a row (empty array) instead of vanishing
        # from the inner join; its pairs score jaccard 0 (or null for
        # empty-vs-empty) and cannot pass a positive threshold — and no
        # candidate generator here emits pairs for empty-shingle docs.
        if gram_sets is not None:
            sets_ = gram_sets
        elif shingles is not None:
            sets_ = (
                shingles.groupBy(id_col)
                .agg(F.collect_set("sh").alias("__shs"))
                .localCheckpoint()
            )
        else:
            # _fanout: the gram-set expression is ~|text| substrings per
            # row — on a narrow single-split scan it would serialize on
            # one task (and each a/b branch re-runs it); widen the small
            # pre-gram rows first, same discipline as char_shingles
            sets_ = _fanout(df.select(id_col, text_col)).select(
                F.col(id_col), char_gram_set(text_col, k).alias("__shs")
            )
        a = sets_.select(F.col(id_col).alias("id_1"), F.col("__shs").alias("__sh1"))
        b = sets_.select(F.col(id_col).alias("id_2"), F.col("__shs").alias("__sh2"))
        # Widen the pair rows BEFORE attaching the sets: the scoring
        # stage inherits the probe side's layout, and AQE's bytes-based
        # coalescing shrinks the candidates' distinct() exchange to one
        # partition at bench scale (the pair rows are two ids — a few
        # MB), serializing the per-pair array_intersect — the expensive
        # part — on one core. One round-robin exchange of (id_1, id_2)
        # metadata rows is the guide-§8 cheap proxy shuffle; unlike the
        # scan-gated _fanout this must apply to a post-shuffle frame,
        # and one partition per core is the right width for a CPU-bound
        # streaming stage at any scale.
        target = df.sparkSession.sparkContext.defaultParallelism
        scored = (
            candidates.select("id_1", "id_2")
            .repartition(target)
            .join(a, "id_1")
            .join(b, "id_2")
            .select(
                "id_1",
                "id_2",
                F.size(F.array_intersect("__sh1", "__sh2")).alias("i"),
                F.size("__sh1").alias("sz1"),
                F.size("__sh2").alias("sz2"),
            )
        )
        return (
            scored.select(
                "id_1",
                "id_2",
                F.round(
                    F.col("i") / (F.col("sz1") + F.col("sz2") - F.col("i")), 4
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )
    # exhaustive mode: sh feeds three branches (sizes + both join sides)
    # — materialize once
    sh = (
        shingles
        if shingles is not None
        else char_shingles(df, id_col, text_col, k).localCheckpoint()
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("id_1"), "sh")
    b = sh.select(F.col(id_col).alias("id_2"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_1") < F.col("id_2"))
        .groupBy("id_1", "id_2")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sz1 = sizes.select(F.col(id_col).alias("id_1"), F.col("sz").alias("sz1"))
    sz2 = sizes.select(F.col(id_col).alias("id_2"), F.col("sz").alias("sz2"))
    return (
        inter.join(sz1, "id_1")
        .join(sz2, "id_2")
        .select(
            "id_1",
            "id_2",
            F.round(F.col("i") / (F.col("sz1") + F.col("sz2") - F.col("i")), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _minhash_wide(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 32,
    shingles: DataFrame | None = None,
    broadcast_dim: bool | None = None,
) -> DataFrame:
    """MinHash signatures, wide layout: (id_col, mh_0 .. mh_{n-1}).

    Hash family: the first 15 hex digits of md5(seed ':' shingle) as a
    LONG (``functions.hashing.md5_long``) — deterministic and
    engine-independent (``conv(substring(md5(x), 1, 15), 16, 10)`` is
    portable SQL). The min over these longs picks the same winning
    shingle as the min over full hex digests except on 60-bit prefix
    collisions between distinct shingles (~2^-60 per pair —
    negligible), so LSH band-collision structure is preserved.

    LONGS, not hex strings, deliberately: ``min(string)`` has a
    variable-width aggregation buffer, which forces Spark into
    SortAggregate — at 10x sf0.1 that sort materialized and spilled
    the whole joined shingle stream (~7 GB, measured r13) and made the
    signature job super-linear. 32 long mins keep the buffer
    fixed-width, so HashAggregate map-side combine applies and the
    per-task state is (docs per task) x 256 bytes.

    Physical strategy (the 100 TB shape): the hash family is evaluated
    once per DISTINCT shingle (distinct char-k-grams are bounded by
    |charset|^k, e.g. ~1e5 for k=3 English text — a broadcastable dim no
    matter how big the corpus), then joined back and reduced with one
    column-min per seed. No row explosion by seed, one shuffle on id.
    """
    from atiesh_spark.functions.hashing import md5_long
    # distinct=True is row-local array_distinct (no shuffle): it
    # shrinks the rows feeding the 32-column min agg ~10x on natural
    # text AND keeps each doc's shingles co-located with the doc, so
    # the min agg's partial state is (docs per task), not (all ids) —
    # the difference between in-memory combine and a multi-GB spill at
    # 10x data. min is idempotent over duplicates, so either setting
    # is correct.
    #
    # The shingle stream feeds both the hash-family dim and the join
    # probe side and IS recomputed (branch re-aliasing defeats
    # ReuseExchange) — but materializing it costs about what the
    # recompute does (measured), so it stays lazy; the self-join-level
    # checkpoint in minhash_lsh_pairs is where materialization pays.
    # A caller sharing the shingle stream with another operator (e.g.
    # Jaccard verification of these candidates) passes it precomputed.
    sh = (
        shingles
        if shingles is not None
        else char_shingles(df, id_col, text_col, k, distinct=True)
    )
    hash_arr = F.array(
        *[
            md5_long(F.concat(F.lit(f"{s}:"), F.col("sh")), 15)
            for s in range(num_hashes)
        ]
    )
    # broadcast the hash-family dim only when the shingle universe is
    # provably bounded: char k-grams with small k (~|charset|^k). An
    # INJECTED shingle frame may be word n-grams (universe ~vocab^n,
    # unbounded), which this function cannot see — there the caller
    # decides via broadcast_dim (None = auto: broadcast only the
    # self-built bounded case; AQE picks the strategy otherwise).
    # Widen the distinct-shingle dim BEFORE evaluating the hash family:
    # AQE's bytes-based coalescing shrinks the distinct() exchange of
    # short shingle strings to one partition at bench scale, which
    # serializes the num_hashes x |dim| md5 evaluations (the projection
    # sits above the coalesced exchange) on one core — measured 9.9 ->
    # 3.9 s on the word-bigram dim (q53). One extra round-robin exchange
    # of the already-distinct strings is metadata-cheap, and one
    # partition per core is the right width for a CPU-bound streaming
    # projection at any scale (a dim wider than cores coalesces to
    # core-width — still streaming, no per-partition state).
    target = df.sparkSession.sparkContext.defaultParallelism
    sh_hashes = (
        sh.select("sh").distinct().repartition(target)
        .select("sh", hash_arr.alias("hs"))
    )
    if broadcast_dim is None:
        broadcast_dim = shingles is None and k <= 4
    joined = sh.join(F.broadcast(sh_hashes) if broadcast_dim else sh_hashes, "sh")
    return joined.groupBy(id_col).agg(
        *[F.min(F.col("hs")[s]).alias(f"mh_{s}") for s in range(num_hashes)]
    )


# Canonical format stamp for PERSISTED band-signature stores. Pass this
# as VersionedStore(format_tag=...) (sources/versioned.py) when storing
# minhash_band_signatures output for incremental dedup: the r13
# md5-hex -> md5_long family change proved that signatures from two
# families never collide, so a mixed store silently finds no duplicates
# — the stamp turns that into a loud load-time failure. Bump the suffix
# on ANY change to the minhash hash family or the band concat layout.
MINHASH_BAND_FORMAT = "minhash-band/md5_long-v2"


def minhash_band_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 4,
    shingles: DataFrame | None = None,
    broadcast_dim: bool | None = None,
) -> DataFrame:
    """LSH band signatures: (id_col, band, band_sig) — bands rows per doc.

    bands x rows layout (rows = num_hashes/bands); band signature is the
    md5 of the seed-ordered row minhashes (decimal-string-joined longs —
    see ``_minhash_wide`` for the hash family), built from the wide
    layout with zero extra shuffles, then unpivoted. This is the
    PERSISTENT dedup state of an incremental pipeline: store it
    (parquet, bucketed by band_sig) and join each new batch's
    signatures against it — old docs are never re-shingled. Stores
    written before the r13 long-minhash change carry the old hex-based
    band_sig values and must be rebuilt (signatures from the two
    families never collide, so a mixed store silently finds no
    matches). To make that failure LOUD instead of silent, persist via
    ``VersionedStore(path, format_tag=MINHASH_BAND_FORMAT)``
    (``sources/versioned.py``): loading a store stamped under a
    different (or no) family raises instead of joining nothing.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    wide = _minhash_wide(
        df, id_col, text_col, k, num_hashes,
        shingles=shingles, broadcast_dim=broadcast_dim,
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh_{s}").cast("string")
                        for s in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                ).cast("binary")
            ).alias("band_sig"),
        )
        for b in range(bands)
    ]
    return wide.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bs")
    ).select(
        id_col, F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig")
    )


def _annotate_buckets(bands_df: DataFrame, id_col: str) -> DataFrame:
    """Annotate (id, band, band_sig) rows with their bucket's size and
    hub (min id) via ONE window over the (band, band_sig) partitioning
    the downstream pair join shuffles on anyway — the hot-bucket cap
    costs a sort, not an extra aggregate plus joins."""
    w = Window.partitionBy("band", "band_sig")
    return bands_df.select(
        id_col, "band", "band_sig",
        F.count(F.lit(1)).over(w).alias("__sz"),
        F.min(id_col).over(w).alias("__hub"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 4,
    shingles: DataFrame | None = None,
    broadcast_dim: bool | None = None,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """LSH candidate pairs: docs sharing >= 1 identical signature band.

    The pair join runs per (band, band_sig) bucket — linear shuffle, no
    cross product. ``shingles``: optional precomputed distinct (id_col,
    sh) frame (see ngram_jaccard_pairs). Output: distinct (id_1, id_2),
    id_1 < id_2.

    ``max_bucket`` caps the quadratic self-join per bucket (the same
    hub-explosion discipline as ``rare_shingle_candidates``'s max_df and
    ``textstats.winnow_overlap_pairs``). Like every dedup operator here
    this assumes ONE ROW PER ``id_col`` (see ``ngram_jaccard_pairs`` —
    repeated ids silently skew the row-local shingle dedup's set
    sizes). A NATURALLY hot bucket — a
    boilerplate-identical band over millions of near-identical pages —
    would otherwise self-join quadratically. Buckets larger than the cap
    are STAR-ROUTED, not dropped: every member pairs with the bucket's
    min id, which is linear work and preserves exactly the
    connected-components clustering the all-pairs join would produce
    (hot-bucket members are exact-dup-class anyway). Only pair-level
    completeness WITHIN a hot bucket is reduced — downstream Jaccard
    verifiers see the star edges, not all C(n,2). ``None`` disables the
    cap.
    """
    # materialize once: both sides of the bucket self-join otherwise
    # recompute the whole signature pipeline (branch re-aliasing defeats
    # ReuseExchange). bands x docs rows only — tiny.
    band_sigs = minhash_band_signatures(
        df, id_col, text_col, k, num_hashes, bands,
        shingles=shingles, broadcast_dim=broadcast_dim,
    )
    star = None
    if max_bucket is not None:
        if max_bucket < 2:
            raise ValueError("max_bucket must be >= 2 (a pair needs two docs)")
        band_sigs = _annotate_buckets(band_sigs, id_col).localCheckpoint()
        star = (
            band_sigs.filter(
                (F.col("__sz") > max_bucket)
                & (F.col(id_col) != F.col("__hub"))
            ).select(
                F.col("__hub").alias("id_1"), F.col(id_col).alias("id_2")
            )
        )
        band_sigs = band_sigs.filter(F.col("__sz") <= max_bucket)
    else:
        band_sigs = band_sigs.localCheckpoint()
    left = band_sigs.select(F.col(id_col).alias("id_1"), "band", "band_sig")
    right = band_sigs.select(F.col(id_col).alias("id_2"), "band", "band_sig")
    pairs = (
        left.join(right, ["band", "band_sig"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def incremental_lsh_candidates(
    new_bands: DataFrame,
    old_bands: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Incremental dedup candidates for a NEW batch against a corpus.

    Inputs are (id, band, band_sig) frames from
    ``minhash_band_signatures`` — ``old_bands`` typically read back from
    the persistent signature store. Returns distinct (id_1, id_2) where
    id_2 is always the NEW doc and id_1 the matched OLD doc (directional
    — the survivor policy keeps the old copy), plus new-vs-new pairs
    (id_1 < id_2) for duplicates arriving within the same batch. Cost is
    |new| x bucket width: the old corpus is joined, never re-hashed —
    the only shape that works when the corpus is 100 TB and the batch is
    1 GB.

    ``max_bucket`` bounds "bucket width" itself (same discipline as
    ``minhash_lsh_pairs``): an OLD-store bucket wider than the cap —
    boilerplate band over millions of archived near-dups — would fan
    every matching new doc out to millions of old ids. Hot old buckets
    are routed to ONE representative (the bucket's min old id): the new
    doc is still flagged as a duplicate of the old corpus, and the
    survivor policy keeps the old copy regardless of WHICH old id
    matched. Bucket widths are counted only over buckets the new batch
    actually touches (left-semi first), so the per-batch cost stays
    proportional to the batch. New-vs-new hot buckets star-route to the
    bucket's min new id, preserving within-batch connectivity. ``None``
    disables the cap.
    """
    new_star = None
    if max_bucket is not None:
        if max_bucket < 1:
            raise ValueError("max_bucket must be >= 1")
        new_ck = _annotate_buckets(
            new_bands, id_col
        ).localCheckpoint()  # feeds three join sides
        new_star = new_ck.filter(
            (F.col("__sz") > max_bucket) & (F.col(id_col) != F.col("__hub"))
        ).select(F.col("__hub").alias("id_1"), F.col(id_col).alias("id_2"))
        new_small = new_ck.filter(F.col("__sz") <= max_bucket)
        # old-store bucket widths, counted ONLY over buckets the new
        # batch touches (left-semi first — per-batch cost stays
        # proportional to the batch); a hot old bucket keeps exactly
        # its hub row (the id == __hub filter IS the one-representative
        # collapse, no distinct needed)
        old_ann = _annotate_buckets(
            old_bands.join(
                new_ck.select("band", "band_sig").distinct(),
                ["band", "band_sig"],
                "left_semi",
            ),
            id_col,
        )
        old_side = old_ann.filter(
            (F.col("__sz") <= max_bucket) | (F.col(id_col) == F.col("__hub"))
        )
    else:
        new_ck = new_bands.localCheckpoint()  # feeds three join sides
        new_small = new_ck
        old_side = old_bands
    old_new = (
        old_side.select(F.col(id_col).alias("id_1"), "band", "band_sig")
        .join(
            new_ck.select(F.col(id_col).alias("id_2"), "band", "band_sig"),
            ["band", "band_sig"],
        )
        .select("id_1", "id_2")
    )
    left = new_small.select(F.col(id_col).alias("id_1"), "band", "band_sig")
    right = new_small.select(F.col(id_col).alias("id_2"), "band", "band_sig")
    new_new = (
        left.join(right, ["band", "band_sig"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
    )
    out = old_new.unionByName(new_new)
    if new_star is not None:
        out = out.unionByName(new_star)
    return out.distinct()


def connected_components(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Dedup clusters from near-dup pairs: (id_col, cluster_id).

    cluster_id = min doc id in the connected component (the survivor in
    min-id dedup policy); singletons cluster to themselves.

    Distributed min-label propagation with pointer jumping: each round
    (a) takes the min label over the (symmetrized) edge list, then
    (b) jumps to the label's own label — halving the effective diameter
    per round, so convergence is O(log diameter), not O(diameter). Data
    never leaves the cluster; the driver loop carries only the
    converged? bit (one count per round). ``max_iter`` bounds
    adversarial chains.
    """
    # Materialize edges once: without this every iteration's join would
    # recompute the whole upstream pair-generation pipeline (MinHash,
    # LSH, ...) — measured 3x the total runtime on real inputs.
    # Edges are restricted to ids present in all_ids: a pair endpoint
    # outside the id universe would otherwise become a label with no
    # parent row and silently drop its neighbors from the output.
    id_set = all_ids.select(F.col(id_col).alias("src"))
    edges = (
        pairs.select(F.col("id_1").alias("src"), F.col("id_2").alias("dst"))
        .union(pairs.select(F.col("id_2").alias("src"), F.col("id_1").alias("dst")))
        .join(id_set, "src", "left_semi")
        .join(id_set.withColumnRenamed("src", "dst"), "dst", "left_semi")
        .distinct()
        .localCheckpoint()
    )
    # Propagation can only change labels of nodes that HAVE an edge, so
    # the iteration runs over the edge-node set only and singletons are
    # stitched back at the end. Real dedup corpora are singleton-
    # dominant, so every per-round join and digest shrinks by that
    # fraction (neutral on the driver testdata, whose synthetic docs are
    # near-dup-heavy; the win appears when singletons dominate).
    edge_nodes = edges.select("src").distinct()
    # Self-loops make the neighbor-min aggregation cover each node's OWN
    # label, so the per-round least(label, nmin) left-join back to labels
    # disappears — one join per round instead of two before the pointer
    # jump. n extra rows against 2|pairs| edge rows, materialized once.
    prop_edges = edges.unionByName(
        edge_nodes.select("src", F.col("src").alias("dst"))
    ).localCheckpoint()
    def _label_digest(lbls: DataFrame):
        # type-agnostic convergence scalar: labels only ever decrease, so
        # an unchanged hash-sum means no label changed (a false equality
        # needs a 64-bit hash-sum collision, ~2^-64 per round). A plain
        # sum('label') would NumberFormatException on string ids under
        # ANSI mode, or silently return null and fake convergence.
        # Summed in decimal: full-range int64 hashes overflow a long sum.
        return lbls.agg(
            F.sum(F.xxhash64(F.col("label").cast("string")).cast("decimal(38,0)"))
        ).first()[0]

    # LAZY checkpoints fuse the per-round checkpoint + digest jobs
    # (r14-verdict item 7): an eager localCheckpoint is its own Spark
    # job and the convergence digest a second one — 2 driver-sequential
    # jobs per round of pure scheduling overhead. eager=False marks the
    # plan for checkpointing and the digest's full aggregate (it reads
    # every partition) materializes it in the SAME job; the next
    # round's joins then read the checkpointed rows as before. Labels,
    # join results and convergence behavior are byte-identical — only
    # the job count changes (measured via status tracker: 2 -> 1 per
    # round).
    labels = edge_nodes.select(
        F.col("src"), F.col("src").alias("label")
    ).localCheckpoint(eager=False)
    prev_sum = _label_digest(labels)
    for _ in range(max_iter):
        # min over neighbors ∪ self (the self-loop rows) == the old
        # least(own, neighbor-min) — same label function, one join less
        stepped = (
            prop_edges.join(labels.withColumnRenamed("src", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("label"))
        )
        # pointer jump: label <- label(label); every id has a label row
        parents = stepped.select(
            F.col("src").alias("p_src"), F.col("label").alias("p_label")
        )
        labels = (
            stepped.join(parents, stepped.label == parents.p_src)
            .select("src", F.least("label", "p_label").alias("label"))
            .localCheckpoint(eager=False)  # cut lineage; digest runs it
        )
        new_sum = _label_digest(labels)
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    # stitch singletons (no edges -> label = own id) back in
    return (
        all_ids.select(id_col)
        .join(labels.withColumnRenamed("src", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("label"), F.col(id_col)).alias("cluster_id"),
        )
    )


def select_representatives(
    docs: DataFrame,
    assignments: DataFrame,
    id_col: str = "doc_id",
    score_col: str | None = None,
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """The corpus AFTER dedup: one surviving row per cluster.

    ``assignments`` is (id_col, cluster_col) — the output of
    ``connected_components``. The survivor is the cluster's best row by
    ``score_col`` (descending; ties and ``score_col=None`` fall back to
    min id — the policy ``cluster_id`` itself encodes). Output: the
    survivors' full ``docs`` rows plus ``cluster_col``.

    One shuffle: the rank window partitions by cluster. Clusters are
    near-dup groups — small by construction — so there is no
    single-giant-partition hazard (a pathological mega-cluster means the
    dedup threshold upstream is wrong, not this operator).
    """
    from pyspark.sql.window import Window

    joined = docs.join(assignments.select(id_col, cluster_col), id_col)
    order = [F.col(id_col).asc()]
    if score_col is not None:
        order.insert(0, F.col(score_col).desc())
    w = Window.partitionBy(cluster_col).orderBy(*order)
    return (
        joined.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """SimHash fingerprints: (id_col, simhash bigint).

    Token hash = first 60 bits of md5 (fits a signed 64-bit long); each
    token votes +1/-1 per bit position; majority (strictly positive) sets
    the bit. Tokens weighted by frequency (standard SimHash).
    """
    from atiesh_spark.functions.hashing import md5_long

    toks = _fanout(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), r"\s+")).alias("tok")
    ).filter(F.length("tok") > 0)
    th = md5_long(F.col("tok"), 15)
    bit_votes = (
        toks.select(F.col(id_col), th.alias("th"))
        .withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))))
        .groupBy(id_col, "b")
        .agg(F.sum(F.expr("(shiftright(th, b) & 1) * 2 - 1")).alias("votes"))
    )
    bitval = F.when(
        F.col("votes") > 0, F.expr("shiftleft(cast(1 as bigint), b)")
    ).otherwise(F.lit(0).cast("long"))
    return bit_votes.select(F.col(id_col), bitval.alias("bitval")).groupBy(id_col).agg(
        F.sum("bitval").alias("simhash")
    )


def simhash_near_pairs(
    sim_df: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    prefix_bits: int = 16,
    total_bits: int = 60,
    max_block: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance.

    Blocked on the top ``prefix_bits`` of the fingerprint (docs differing
    there can still be near — standard multi-probe tradeoff, documented) so
    the join is per-block, not all-pairs.
    Output: (id_1, id_2, hamming).

    ``max_block`` is the same hot-bucket discipline as
    ``minhash_lsh_pairs``'s max_bucket: boilerplate-identical pages
    share a simhash, hence a prefix block, and an uncapped block
    self-joins quadratically. Oversized blocks star-route through the
    block's min-id member — whose fingerprint rides along, so star
    edges still honor ``max_hamming`` and carry an exact ``hamming``
    value. ``None`` disables the cap.
    """
    blocked = sim_df.withColumn(
        "block", F.expr(f"shiftright(simhash, {total_bits - prefix_bits})")
    )
    star = None
    if max_block is not None:
        if max_block < 2:
            raise ValueError("max_block must be >= 2 (a pair needs two docs)")
        w = Window.partitionBy("block")
        blocked = blocked.select(
            id_col, "simhash", "block",
            F.count(F.lit(1)).over(w).alias("__sz"),
            F.min(
                F.struct(F.col(id_col).alias("i"), F.col("simhash").alias("s"))
            ).over(w).alias("__hub"),
        ).localCheckpoint()  # both self-join sides reuse the fingerprints
        star = (
            blocked.filter(
                (F.col("__sz") > max_block)
                & (F.col(id_col) != F.col("__hub.i"))
            )
            .withColumn("hamming", F.bit_count(F.expr("__hub.s ^ simhash")))
            .filter(F.col("hamming") <= max_hamming)
            .select(
                F.col("__hub.i").alias("id_1"),
                F.col(id_col).alias("id_2"),
                "hamming",
            )
        )
        blocked = blocked.filter(F.col("__sz") <= max_block)
    else:
        blocked = blocked.localCheckpoint()
    a = blocked.select(F.col(id_col).alias("id_1"), F.col("simhash").alias("s1"), "block")
    b = blocked.select(F.col(id_col).alias("id_2"), F.col("simhash").alias("s2"), "block")
    pairs = (
        a.join(b, "block")
        .filter(F.col("id_1") < F.col("id_2"))
        .withColumn("hamming", F.bit_count(F.expr("s1 ^ s2")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_1", "id_2", "hamming")
    )
    return pairs if star is None else pairs.unionByName(star)


def rare_shingle_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    max_df: int = 5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Candidate (id_1, id_2) pairs sharing at least one RARE shingle
    (corpus document frequency <= ``max_df``), id_1 < id_2.

    The candidate generator for CONTAINMENT-shaped duplication (a short
    doc quoted inside a long one): MinHash LSH targets symmetric
    Jaccard, which vanishes when sizes differ wildly, so contained docs
    never collide in its bands — but any non-boilerplate shingle of the
    contained doc also appears in the container, and RARE shingles
    pinpoint exactly those links. Cost is bounded by construction:
    each qualifying shingle fans out to <= max_df docs, so pair work is
    <= |rare shingles| * max_df^2 — no hub explosion, the same cap
    discipline as ``graph.project_bipartite``. Boilerplate (high-df)
    shingles never generate pairs.
    """
    if max_df < 2:
        raise ValueError("max_df must be >= 2 (a pair needs two docs)")
    sh = shingles if shingles is not None else char_shingles(df, id_col, text_col, k)
    # Collapse to one row per (sh, id) BEFORE counting: the shingles=
    # slot is shared with the MinHash family, whose frames may carry
    # in-document repeats (distinct=False) — raw row counts would then
    # inflate __df past max_df and genuinely rare shingles would stop
    # generating candidates. The map-side-combined distinct also caps
    # the a×b fanout below at true-df rows per shingle.
    sh = sh.select("sh", id_col).distinct()
    # df counts FIRST (map-side-combined count, no id lists), THEN the
    # survivors' ids: a boilerplate shingle present in every document
    # must never aggregate a corpus-sized id array on one reducer
    rare = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter((F.col("__df") >= 2) & (F.col("__df") <= max_df))
        .select("sh")
    )
    rare_sh = sh.join(rare, "sh", "left_semi")
    a = rare_sh.select("sh", F.col(id_col).alias("id_1"))
    b = rare_sh.select("sh", F.col(id_col).alias("id_2"))
    return (
        a.join(b, "sh")
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric shingle containment per pair: (id_1, id_2,
    containment_1_in_2, containment_2_in_1, jaccard) where
    ``containment_A_in_B`` = |shingles(A) ∩ shingles(B)| / |shingles(A)|
    — kept when the LARGER direction reaches ``threshold``.

    The quote/inclusion detector symmetric Jaccard structurally misses:
    a 200-char doc fully embedded in a 20k-char page scores
    containment 1.0 but Jaccard ~0.01. Without ``candidates`` it
    verifies rare-shingle candidates (``rare_shingle_candidates`` —
    the scale path, since containment pairs always share the contained
    doc's rare shingles); pass explicit candidates to verify another
    generator's output. Verification is the q51 layout: per-doc
    shingle-SET arrays joined by plain id keys, codegen
    ``array_intersect`` per pair. Shares the ``shingles=`` slot with
    the Jaccard/MinHash family so one explode serves all three.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    sh = shingles if shingles is not None else char_shingles(df, id_col, text_col, k)
    if candidates is None:
        candidates = rare_shingle_candidates(
            df, id_col, text_col, k, shingles=sh
        )
    sets_ = sh.groupBy(id_col).agg(F.collect_set("sh").alias("__shs"))
    a = sets_.select(F.col(id_col).alias("id_1"), F.col("__shs").alias("__sh1"))
    b = sets_.select(F.col(id_col).alias("id_2"), F.col("__shs").alias("__sh2"))
    scored = (
        candidates.select("id_1", "id_2")
        .join(a, "id_1")
        .join(b, "id_2")
        .select(
            "id_1",
            "id_2",
            F.size(F.array_intersect("__sh1", "__sh2")).alias("__i"),
            F.size("__sh1").alias("__s1"),
            F.size("__sh2").alias("__s2"),
        )
    )
    return (
        scored.select(
            "id_1",
            "id_2",
            F.round(F.col("__i") / F.col("__s1"), 4).alias("containment_1_in_2"),
            F.round(F.col("__i") / F.col("__s2"), 4).alias("containment_2_in_1"),
            F.round(
                F.col("__i") / (F.col("__s1") + F.col("__s2") - F.col("__i")), 4
            ).alias("jaccard"),
        )
        .filter(
            F.greatest("containment_1_in_2", "containment_2_in_1")
            >= F.lit(threshold)
        )
    )


def candidate_eval(
    pred: DataFrame,
    truth: DataFrame,
    id1: str = "id_1",
    id2: str = "id_2",
    round_to: int = 6,
) -> DataFrame:
    """One-row candidate-quality audit: (n_pred, n_true, tp, fp, fn,
    precision, recall, f1) for a predicted pair set vs an exact truth
    pair set — THE number you read before shipping LSH parameters
    (bands/rows trade recall against candidate volume; this measures
    both sides of that trade on a sample so the 100 TB run isn't a
    guess). Pairs are order-normalized ((min,max)) and deduped first,
    so callers can pass either orientation. Empty denominators read as
    NULL, not a division error.

    Plan: two tiny normalizations + one full-outer join on the pair
    key + one aggregate — pair-set-sized, never corpus-sized; run it
    on the same hash-sampled slice you tuned on.
    """

    def norm(df: DataFrame) -> DataFrame:
        a, b = F.col(id1), F.col(id2)
        return df.select(
            F.least(a, b).alias("id_1"), F.greatest(a, b).alias("id_2")
        ).distinct()

    p = norm(pred).withColumn("__p", F.lit(1))
    t = norm(truth).withColumn("__t", F.lit(1))
    j = p.join(t, ["id_1", "id_2"], "full_outer")
    return j.agg(
        F.count("__p").alias("n_pred"),
        F.count("__t").alias("n_true"),
        F.count(F.when(F.col("__p").isNotNull() & F.col("__t").isNotNull(), 1)).alias("tp"),
        F.count(F.when(F.col("__p").isNotNull() & F.col("__t").isNull(), 1)).alias("fp"),
        F.count(F.when(F.col("__p").isNull() & F.col("__t").isNotNull(), 1)).alias("fn"),
    ).select(
        "n_pred", "n_true", "tp", "fp", "fn",
        F.round(F.col("tp") / F.nullif(F.col("n_pred"), F.lit(0)), round_to).alias("precision"),
        F.round(F.col("tp") / F.nullif(F.col("n_true"), F.lit(0)), round_to).alias("recall"),
        F.round(
            2 * F.col("tp")
            / F.nullif(F.col("n_pred") + F.col("n_true"), F.lit(0)),
            round_to,
        ).alias("f1"),
    )


def dedup_savings_report(
    clusters: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Storage/compute impact forecast for a dedup run: given a
    clustering (``connected_components`` output — q41/q178 shapes),
    report per CLUSTER SIZE: how many clusters, how many documents,
    how many are removable (size - 1 per cluster, min-id survives),
    and how many bytes the removable documents carry. The table a
    pipeline owner reads before committing a dedup pass — expected
    yield, and whether duplicate mass sits in a few huge clusters
    (boilerplate explosion — investigate) or many pairs (organic).

    Singletons appear as the size-1 row with zero removable — the
    corpus total is reconstructible from the report (an honest report
    includes what dedup will NOT touch). Engine shape: one join of
    the cluster frame to doc lengths, one (cluster) aggregate, one
    (size) aggregate — the report is as big as the distinct cluster
    sizes.
    """
    sized = clusters.select(F.col(id_col), F.col(cluster_col)).join(
        docs.select(
            F.col(id_col), F.length(F.col(text_col)).alias("__bytes")
        ),
        id_col,
    )
    per_cluster = sized.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("__sz"),
        F.sum("__bytes").alias("__tot_bytes"),
        # survivor = min id; removable bytes = total - survivor's.
        # min_by, NOT min(struct(id, bytes)): a struct agg buffer is
        # variable-width, which forces SortAggregate and sorts the
        # whole corpus-sized cluster frame (the q26 r13 lesson); the
        # (bytes, id) min_by buffer stays fixed-width -> HashAggregate.
        # Ties cannot happen: id_col is unique within a cluster.
        F.min_by("__bytes", id_col).alias("__surv_bytes"),
    )
    return (
        per_cluster.groupBy(F.col("__sz").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("__sz").alias("n_docs"),
            F.sum(F.col("__sz") - 1).alias("n_removable"),
            F.sum(
                F.col("__tot_bytes") - F.col("__surv_bytes")
            ).alias("removable_bytes"),
        )
        .select(
            F.col("cluster_size").cast("long").alias("cluster_size"),
            "n_clusters",
            "n_docs",
            "n_removable",
            F.col("removable_bytes").cast("long").alias("removable_bytes"),
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    candidates: DataFrame,
    threshold: float = 0.8,
    max_chars: int | None = None,
) -> DataFrame:
    """Edit-distance verification of candidate pairs — the record-
    linkage step the shingle family can't express: Levenshtein
    similarity ``1 - lev / max(len_1, len_2)`` catches char-level
    perturbations (typos, leet-substitutions, OCR noise) that change
    every k-gram while leaving the string obviously 'the same'.
    Keeps pairs with similarity >= ``threshold``; output (id_1, id_2,
    lev, sim). Identical non-empty strings score 1.0; a pair of empty
    strings has no signal and is dropped (0/0 — undefined, not 1.0).

    COST DISCIPLINE: Levenshtein is O(len^2) per pair — this operator
    must only ever run on a candidate-bounded frame (MinHash bands,
    rare shingles, prefix blocking...), never all-pairs, exactly like
    ``containment_pairs``. ``max_chars`` optionally truncates both
    sides first (documented approximation bounding per-pair cost for
    long-document corpora; distances then refer to the prefixes).
    The distance itself is ``F.levenshtein`` — JVM codegen, exact
    integers, engine-reproducible.
    """
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    t = F.col(text_col)
    if max_chars is not None:
        if max_chars < 1:
            raise ValueError("max_chars must be >= 1")
        t = F.substring(t, 1, max_chars)
    texts = df.select(F.col(id_col), t.alias("__t"))
    a = texts.select(F.col(id_col).alias("id_1"), F.col("__t").alias("__t1"))
    b = texts.select(F.col(id_col).alias("id_2"), F.col("__t").alias("__t2"))
    joined = candidates.select("id_1", "id_2").join(a, "id_1").join(b, "id_2")
    lev = F.levenshtein("__t1", "__t2")
    mx = F.greatest(F.length("__t1"), F.length("__t2"))
    sim = 1 - lev / mx
    return (
        joined.filter(mx > 0)
        .select(
            "id_1",
            "id_2",
            lev.alias("lev"),
            F.round(sim, 4).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
