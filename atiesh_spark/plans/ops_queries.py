"""Warehouse-ops, layout, and targeted-selection queries (round-3b
batch): SCD2 builds, Z-order layout, weighted sampling, per-source
caps, normalization, robust outliers, exact-substring overlap and
span-removal dedup, LM/DSIR quality scoring, event-sequence analytics,
distributed PCA, and CDF transforms.

Each pairs a scale-shaped operator with a DuckDB value oracle; hashes
are md5-derived (engine-independent) and floats are rounded on BOTH
sides before comparison, per the registry contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atiesh_spark.plans.registry import register
from atiesh_spark.session import widen_for_python_stage
from atiesh_spark.sources.tables import load_table

# DuckDB mirror of functions/hashing.md5_long(col, 15): same digest, same
# hex width, parsed the same way.
_MD5_LONG = "('0x' || substring(md5(CAST({c} AS VARCHAR)), 1, 15))::BIGINT"


@register(
    "q87_scd2_intervals",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER w AS prev,
               row_number() OVER w AS rn
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    starts AS (
        SELECT user_id, event_type, ts, event_id FROM ordered
        WHERE rn = 1 OR prev IS DISTINCT FROM event_type
    )
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER w2 AS valid_to,
           lead(ts) OVER w2 IS NULL AS is_current
    FROM starts
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="SCD2 validity intervals from the event change log "
    "(operators/diffing.py scd2_intervals): one run-collapse per "
    "(user, event_type streak) with half-open [valid_from, valid_to) "
    "and NULL-open current rows. ONE shuffle: lag marks run starts, "
    "non-starts are filtered executor-side, lead on survivors closes "
    "each interval — no groupBy, no self-join.",
)
def q87_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.diffing import scd2_intervals

    events = load_table(spark, sf_dir, "events")
    return scd2_intervals(
        events,
        keys=["user_id"],
        order_col="ts",
        tracked_cols=["event_type"],
        tiebreak_cols=["event_id"],
    )


def _zorder_oracle(bits: int = 8, bucket_bits: int = 4) -> str:
    """Arithmetic (shift-free, engine-portable) mirror of layout.zorder_key
    for two dims px, py: bit i of px lands at 2i, of py at 2i+1."""
    terms = []
    for i in range(bits):
        terms.append(f"((px // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((py // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    z = " + ".join(terms)
    shift = 1 << (2 * bits - bucket_bits)
    return f"""
    WITH dims AS (
        SELECT l_partkey % 256 AS px, l_suppkey % 256 AS py FROM lineitem
    ),
    keyed AS (SELECT px, py, ({z}) // {shift} AS bucket FROM dims)
    SELECT bucket, count(*) AS n_rows,
           min(px) AS min_px, max(px) AS max_px,
           min(py) AS min_py, max(py) AS max_py
    FROM keyed GROUP BY bucket
    """


@register(
    "q88_zorder_layout",
    oracle=_zorder_oracle(),
    doc="Z-order (Morton) layout report (operators/layout.py zorder_key "
    "+ zorder_layout_report): interleave part/supplier dims into one "
    "codegen bit-math key, bucket by key prefix (NO global sort), "
    "report per-bucket min/max of EVERY dim — the bounded footer "
    "ranges multi-dimensional file skipping depends on. The write "
    "path at scale is repartitionByRange(zkey) into the compaction "
    "writer; this query grades the key+bucket math exactly.",
)
def q88_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.layout import zorder_layout_report

    li = load_table(spark, sf_dir, "lineitem")
    dims = li.select(
        (F.col("l_partkey") % 256).alias("px"),
        (F.col("l_suppkey") % 256).alias("py"),
    )
    return zorder_layout_report(dims, ["px", "py"], bits=8, bucket_bits=4)


@register(
    "q89_weighted_sample",
    oracle=f"""
    SELECT doc_id, n_chars,
           round(-ln(({_MD5_LONG.format(c="doc_id")} + 1)
                     / 1152921504606846976.0) / n_chars, 6) AS sample_key
    FROM documents
    WHERE n_chars > 0
    ORDER BY sample_key, doc_id
    LIMIT 50
    """,
    doc="Deterministic weighted sample without replacement "
    "(operators/sampling.py weighted_sample): Efraimidis-Spirakis keys "
    "-ln(u)/w with u derived from md5(doc_id) instead of an RNG — "
    "inclusion probability proportional to n_chars, yet rerun-, "
    "retry- and engine-stable where ORDER BY rand() is none of those. "
    "Selection is TakeOrderedAndProject (per-partition top-k, driver "
    "merges k-row heaps), never a global sort.",
)
def q89_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", "n_chars", k=50).select(
        "doc_id", "n_chars", "sample_key"
    )


@register(
    "q90_source_cap",
    oracle=f"""
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY {_MD5_LONG.format(c="doc_id")}, doc_id
               ) AS rk
        FROM documents
    ) WHERE rk <= 30
    """,
    doc="Per-source document cap (operators/curation.py cap_per_group): "
    "keep <= 30 docs per source in unbiased md5 order — the per-domain "
    "cap crawl corpora apply so one site cannot dominate the mix. "
    "Two-phase ranking (per (source, shard) then per source over the "
    "<= cap*shards survivors) gives a result IDENTICAL to the single "
    "window — the oracle here IS that single window — while bounding "
    "the hottest task at cap*shards rows instead of a whole domain.",
)
def q90_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.curation import cap_per_group

    docs = load_table(spark, sf_dir, "documents")
    return cap_per_group(docs, "source", "doc_id", cap=30, shards=4).select(
        "doc_id", "source"
    )


@register(
    "q91_group_standardize",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CASE WHEN stddev_pop(o_totalprice) OVER w > 0
                THEN round((o_totalprice - avg(o_totalprice) OVER w)
                           / stddev_pop(o_totalprice) OVER w, 4)
           END AS zscore
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority)
    """,
    doc="Per-group z-score standardization (operators/profile.py "
    "group_standardize): the feature-normalization step, computed as "
    "one map-side-combined groupBy of moments broadcast back onto the "
    "fact rows — the fact table NEVER shuffles, unlike the "
    "AVG(...) OVER (PARTITION BY ...) formulation (which is exactly "
    "what the oracle runs, proving the two agree).",
)
def q91_group_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.profile import group_standardize

    orders = load_table(spark, sf_dir, "orders")
    return group_standardize(
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        ["o_orderpriority"],
        "o_totalprice",
    )


@register(
    "q92_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS m FROM events
        GROUP BY event_type
    ),
    mad AS (
        SELECT e.event_type, quantile_cont(abs(e.value - med.m), 0.5) AS d
        FROM events e JOIN med USING (event_type) GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           CASE WHEN mad.d > 0
                THEN round(0.6745 * abs(e.value - med.m) / mad.d, 4)
           END AS robust_z,
           coalesce(
               CASE WHEN mad.d > 0
                    THEN round(0.6745 * abs(e.value - med.m) / mad.d, 4)
               END > 3.5, false) AS is_outlier
    FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
    """,
    doc="Median-absolute-deviation outlier flags per event type "
    "(operators/timeseries.py mad_outliers): modified z-score "
    "0.6745*|v - median|/MAD > 3.5 — robust to the very spikes it "
    "detects (50% breakdown point vs mean/stddev's 0%). Two exact-"
    "percentile groupBys broadcast back; the fact rows never shuffle. "
    "Spark percentile interpolates exactly like quantile_cont, which "
    "is what the oracle checks.",
)
def q92_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.timeseries import mad_outliers

    events = load_table(spark, sf_dir, "events")
    return mad_outliers(
        events.select("event_id", "event_type", "value"),
        "event_type",
        "value",
    )


@register(
    "q93_window_overlap",
    oracle="""
    WITH w0 AS (
        SELECT doc_id,
               md5(substring(text, s, 32)) AS wh
        FROM documents,
             unnest(generate_series(1, greatest(length(text) - 32, 0) + 1))
                 AS t(s)
        WHERE length(text) > 0
    ),
    sel AS (
        SELECT doc_id, wh FROM w0
        WHERE ('0x' || substring(wh, 1, 15))::BIGINT % 8 = 0
    ),
    wd AS (SELECT DISTINCT doc_id, wh FROM sel),
    rare AS (SELECT wh FROM wd GROUP BY wh HAVING count(*) <= 50)
    SELECT a.doc_id AS id_1, b.doc_id AS id_2,
           count(*) AS n_shared
    FROM wd a JOIN rare USING (wh) JOIN wd b USING (wh)
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 2
    """,
    doc="Exact-substring overlap candidates (operators/corpus.py "
    "window_overlap_pairs, width=32 rate=8 min_shared=2): doc pairs "
    "sharing CONTENT-sampled verbatim windows (Manber mod-p selection "
    "— a window survives iff its own md5 mod 8 == 0, so copies match "
    "at ANY alignment) — the suffix-array-style dedup signal MinHash "
    "misses when the copied span is a small fraction of both docs. "
    "Window text never shuffles (16-byte md5 immediately); windows in "
    "> 50 docs are dropped before the pair join so boilerplate cannot "
    "square.",
)
def q93_window_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.corpus import window_overlap_pairs

    docs = load_table(spark, sf_dir, "documents")
    return window_overlap_pairs(
        docs, "doc_id", "text", width=32, stride=8, min_shared=2, max_doc_freq=50
    )


@register(
    "q94_lm_quality",
    oracle="""
    WITH tri AS (
        SELECT doc_id, substring(text, i, 3) AS sh
        FROM documents,
             unnest(generate_series(1, greatest(length(text) - 2, 1))) AS t(i)
    ),
    tri3 AS (SELECT doc_id, sh FROM tri WHERE length(sh) = 3),
    ck AS (SELECT sh, count(*) AS c FROM tri3 GROUP BY sh),
    cp AS (SELECT substring(sh, 1, 2) AS pfx, sum(c) AS c FROM ck GROUP BY 1),
    v AS (SELECT count(DISTINCT substring(sh, 3, 1)) AS v FROM ck),
    scored AS (
        SELECT t.doc_id, count(*) AS n_ngrams,
               round(avg(-log2((ck.c + 1.0) / (cp.c + 1.0 * v.v))), 4)
                   AS bits_per_char
        FROM tri3 t
        JOIN ck USING (sh)
        JOIN cp ON substring(t.sh, 1, 2) = cp.pfx
        CROSS JOIN v
        GROUP BY t.doc_id
    )
    SELECT d.doc_id, coalesce(s.n_ngrams, 0) AS n_ngrams, s.bits_per_char
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
    doc="CCNet-style LM quality scores (operators/textstats.py "
    "ngram_lm_scores): add-1-smoothed conditional char trigram model "
    "TRAINED ON THE CORPUS IN THE SAME PLAN, scoring each doc's mean "
    "-log2 p (bits/char; junk and mash score high, prose low). The "
    "model is <= |charset|^3 rows so both count tables broadcast — "
    "scoring 100 TB adds no shuffle beyond the per-doc average; the "
    "prefix table derives from the trigram table, never a second "
    "corpus pass.",
)
def q94_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.textstats import ngram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    return ngram_lm_scores(docs, "doc_id", "text", k=3, smooth=1.0)


@register(
    "q95_dsir_weights",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang = 'en' AS tgt,
               unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                  t -> length(t) > 0)) AS tok
        FROM documents
    ),
    b AS (
        SELECT doc_id, tgt, {_MD5_LONG.format(c="tok")} % 4096 AS bkt
        FROM toks
    ),
    src AS (SELECT bkt, count(*) AS cs FROM b GROUP BY bkt),
    tgtc AS (SELECT bkt, count(*) AS ct FROM b WHERE tgt GROUP BY bkt),
    tot AS (SELECT count(*) AS ts,
                   sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS tt FROM b),
    ratio AS (
        SELECT src.bkt,
               ln((coalesce(tgtc.ct, 0) + 1.0) / (tot.tt + 4096.0))
               - ln((src.cs + 1.0) / (tot.ts + 4096.0)) AS lr
        FROM src LEFT JOIN tgtc USING (bkt) CROSS JOIN tot
    ),
    scored AS (
        SELECT b.doc_id, count(*) AS n_tokens,
               round(sum(ratio.lr), 4) AS log_weight
        FROM b JOIN ratio USING (bkt) GROUP BY b.doc_id
    )
    SELECT d.doc_id, coalesce(s.n_tokens, 0) AS n_tokens,
           coalesce(s.log_weight, 0.0) AS log_weight
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
    doc="DSIR importance weights (operators/textstats.py "
    "dsir_log_weights, arXiv:2302.03169): log-likelihood ratio of "
    "add-1-smoothed target ('en' docs) vs source distributions over "
    "4096 md5-hashed word-unigram buckets. The per-bucket ratio table "
    "broadcasts back onto the token stream (no extra shuffle); the "
    "weights feed weighted_sample (q89) for the full deterministic "
    "select-then-resample recipe.",
)
def q95_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.textstats import dsir_log_weights

    docs = load_table(spark, sf_dir, "documents")
    return dsir_log_weights(
        docs, "doc_id", "text", target_filter=F.col("lang") == "en", buckets=4096
    )


@register(
    "q96_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ),
    pairs AS (
        SELECT event_type AS from_state, next_type AS to_state,
               count(*) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_state, to_state, n,
           round(n / sum(n) OVER (PARTITION BY from_state), 4) AS p
    FROM pairs
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences (operators/timeseries.py transition_matrix): the "
    "user-journey report, row-normalized so each from_state's "
    "probabilities sum to 1. One full-data window shuffle (per-key "
    "lead); everything after runs on a states^2-row frame.",
)
def q96_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.timeseries import transition_matrix

    events = load_table(spark, sf_dir, "events")
    return transition_matrix(
        events, "user_id", "ts", "event_type", tiebreak_cols=["event_id"]
    )


@register(
    "q97_interarrival_stats",
    oracle="""
    WITH g AS (
        SELECT event_type,
               (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts)
               )) / 1000000.0 AS gap_s
        FROM events
    )
    SELECT event_type, count(*) AS n_gaps,
           round(avg(gap_s), 4) AS avg_gap_s,
           round(quantile_cont(gap_s, 0.5), 4) AS p50_gap_s,
           round(quantile_cont(gap_s, 0.9), 4) AS p90_gap_s,
           round(max(gap_s), 4) AS max_gap_s
    FROM g WHERE gap_s IS NOT NULL GROUP BY event_type
    """,
    doc="Per-event-type inter-arrival-time stats (operators/"
    "timeseries.py interarrival_stats): seconds since the same user's "
    "previous event, exact percentiles. Ordering by the epoch-micros "
    "VALUE makes tied timestamps yield an identical gap multiset under "
    "any tie permutation, so the report is engine-deterministic without "
    "a tiebreak column. Same single per-key window shuffle as q96.",
)
def q97_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.timeseries import interarrival_stats

    events = load_table(spark, sf_dir, "events")
    return interarrival_stats(events, "user_id", "ts", "event_type")


@register(
    "q98_pca_embeddings",
    oracle="SELECT true AS centered, true AS variance_matches_eigenvalues, "
    "true AS variance_nonincreasing, true AS reconstruction_tight",
    doc="Distributed PCA over the embedding column (operators/"
    "similarity.py pca_fit + pca_project, k=4): covariance moments via "
    "row-local index-pair explodes (partial-aggregated to <= d^2 rows "
    "before the only exchange), O(d^3) eigensolve on a d^2-number "
    "driver digest, codegen projection against the broadcast basis. "
    "Eigensolves are library-specific, so the checkable contract is "
    "invariants graded IN-PLAN over the projected corpus (q45/q47 "
    "pattern): projections are centered, each component's variance "
    "equals its eigenvalue, variances are non-increasing, and the mean "
    "squared reconstruction error equals the unexplained variance "
    "(total - retained) — the Pythagorean identity only a correct "
    "basis satisfies.",
)
def q98_pca_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.similarity import as_double, pca_fit, pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    mean, comps, eigs, total_var = pca_fit(emb, "embedding", k=4)

    centered = F.zip_with(
        as_double("embedding"),
        F.array(*[F.lit(m) for m in mean]),
        lambda x, m: x - m,
    )
    # projection is row-local: carry the source vector through it
    # instead of joining proj back to emb by id (an exchange/broadcast
    # pair for a relationship every row already holds)
    full = pca_project(
        emb, "vec_id", "embedding", mean, comps, carry_cols=("embedding",)
    ).withColumn("__c", centered)
    residual = F.col("__c")
    for ci, comp in enumerate(comps):
        pc = F.col(f"p{ci}")
        residual = F.zip_with(
            residual,
            F.array(*[F.lit(w) for w in comp]),
            lambda r, w: r - pc * w,  # noqa: B023 — pc rebound per layer
        )
    sqerr = F.aggregate(residual, F.lit(0.0), lambda acc, x: acc + x * x)

    aggs = full.agg(
        *[F.avg(f"p{c}").alias(f"__m{c}") for c in range(4)],
        *[F.var_pop(f"p{c}").alias(f"__v{c}") for c in range(4)],
        F.avg(sqerr).alias("__mse"),
    )
    tol = 1e-6
    centered_ok = F.lit(True)
    var_ok = F.lit(True)
    for c in range(4):
        centered_ok = centered_ok & (F.abs(F.col(f"__m{c}")) < tol)
        var_ok = var_ok & (
            F.abs(F.col(f"__v{c}") - F.lit(eigs[c]))
            <= tol * (1.0 + F.abs(F.lit(eigs[c])))
        )
    nonincr = F.lit(True)
    for c in range(3):
        nonincr = nonincr & (F.col(f"__v{c}") >= F.col(f"__v{c+1}") - tol)
    unexplained = total_var - sum(eigs)
    recon_ok = F.abs(F.col("__mse") - F.lit(unexplained)) <= tol * (
        1.0 + abs(unexplained)
    )
    return aggs.select(
        F.coalesce(centered_ok, F.lit(False)).alias("centered"),
        F.coalesce(var_ok, F.lit(False)).alias("variance_matches_eigenvalues"),
        F.coalesce(nonincr, F.lit(False)).alias("variance_nonincreasing"),
        F.coalesce(recon_ok, F.lit(False)).alias("reconstruction_tight"),
    )


@register(
    "q99_cdf_normalize",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           round(percent_rank() OVER (
               PARTITION BY o_orderpriority ORDER BY o_totalprice
           ), 4) AS pct_rank
    FROM orders
    """,
    doc="Per-group empirical-CDF transform (operators/profile.py "
    "cdf_normalize): percent_rank of each order's price within its "
    "priority class — quantile normalization for heavy-tailed "
    "features. Exact ranks need the per-group sort (one window "
    "shuffle); the approximate 100 TB path is binning against "
    "broadcast quantile bounds (winsorize/histogram pattern).",
)
def q99_cdf_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.profile import cdf_normalize

    orders = load_table(spark, sf_dir, "orders")
    return cdf_normalize(
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        ["o_orderpriority"],
        "o_totalprice",
    )


@register(
    "q100_span_dedup_report",
    oracle="""
    WITH w1 AS (
        SELECT doc_id, s - 1 AS start,
               md5(substring(text, s, 32)) AS wh, length(text) AS len
        FROM documents,
             unnest(generate_series(1, greatest(length(text) - 32, 0) + 1))
                 AS t(s)
        WHERE length(text) > 0
    ),
    w0 AS (
        SELECT * FROM w1
        WHERE ('0x' || substring(wh, 1, 15))::BIGINT % 8 = 0
    ),
    k AS (
        SELECT wh, min(doc_id) AS keeper FROM w0
        GROUP BY wh HAVING count(DISTINCT doc_id) >= 2
    ),
    v AS (
        SELECT w0.doc_id, w0.start, least(w0.start + 32, w0.len) AS e
        FROM w0 JOIN k USING (wh) WHERE w0.doc_id != k.keeper
    ),
    sw AS (
        SELECT doc_id, start, e,
               max(e) OVER (
                   PARTITION BY doc_id ORDER BY start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_max
        FROM v
    ),
    agg AS (
        SELECT doc_id, CAST(count(*) AS INTEGER) AS n_dup_windows,
               CAST(sum(greatest(
                   0, e - greatest(coalesce(prev_max, -1), start)
               )) AS INTEGER) AS chars_removed
        FROM sw GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(a.n_dup_windows, 0) AS n_dup_windows,
           coalesce(a.chars_removed, 0) AS chars_removed
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    doc="Exact-substring span-removal report (operators/corpus.py "
    "remove_duplicate_spans, arXiv:2107.06499 treatment): per doc, how "
    "many content-sampled windows (Manber mod-p) are verbatim copies of "
    "another doc's text (lowest-id doc keeps its copy) and how many "
    "characters their interval UNION covers — the oracle proves the "
    "keeper assignment and the union sweep exactly; the actual "
    "excision fold (clean_text) is differential-tested against a "
    "pure-Python reference. Text never shuffles with the hashes; one "
    "per-doc sort serves both the sweep and the excision.",
)
def q100_span_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.corpus import remove_duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    return remove_duplicate_spans(
        docs, "doc_id", "text", width=32, stride=8, min_dup_docs=2
    ).select("doc_id", "n_dup_windows", "chars_removed")


@register(
    "q101_triangle_stats",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    e AS (
        SELECT DISTINCT least(x.l_suppkey, y.l_suppkey) AS a,
                        greatest(x.l_suppkey, y.l_suppkey) AS b
        FROM ps x JOIN ps y USING (l_partkey)
        WHERE x.l_suppkey < y.l_suppkey
    ),
    deg AS (
        SELECT n, count(*) AS degree FROM (
            SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e
        ) GROUP BY n
    ),
    tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM e e1
        JOIN e e2 ON e1.b = e2.a
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pn AS (
        SELECT n, count(*) AS n_triangles FROM (
            SELECT a AS n FROM tri UNION ALL SELECT b AS n FROM tri
            UNION ALL SELECT c AS n FROM tri
        ) GROUP BY n
    )
    SELECT deg.n AS node, deg.degree,
           CAST(coalesce(pn.n_triangles, 0) AS BIGINT) AS n_triangles,
           CASE WHEN deg.degree >= 2
                THEN round(2.0 * coalesce(pn.n_triangles, 0)
                           / (deg.degree * (deg.degree - 1)), 4)
                ELSE 0.0 END AS clustering
    FROM deg LEFT JOIN pn USING (n)
    """,
    doc="Exact per-node triangle counts + local clustering coefficients "
    "(operators/graph.py triangle_stats) on the supplier co-supply "
    "graph (suppliers sharing a part). The engine uses DEGREE-ORDERED "
    "orientation — oriented out-degree O(sqrt(m)) bounds the wedge "
    "join at m^1.5 regardless of hub size, the standard distributed "
    "remedy for the d^2 naive wedge explosion — while the oracle "
    "enumerates via canonical id-order joins: two different exact "
    "methods, provably the same triangle set, hash-matched.",
)
def q101_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.graph import triangle_stats

    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    x = ps.select("l_partkey", F.col("l_suppkey").alias("id_1"))
    y = ps.select("l_partkey", F.col("l_suppkey").alias("id_2"))
    edges = (
        x.join(y, "l_partkey")
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )
    return triangle_stats(edges)


# ----------------------------------------------------------- round 4:
# the two formerly tests-only batch operators get graded slots, and
# the ANN auto-sizing scale path gets a registered consumer.


@register(
    "q102_weighted_sample_per_group",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               round(-ln(({_MD5_LONG.format(c="doc_id")} + 1)
                         / 1152921504606846976.0) / n_chars, 6) AS sample_key
        FROM documents WHERE doc_id IS NOT NULL AND n_chars > 0
    )
    SELECT doc_id, lang, n_chars, sample_key FROM (
        SELECT *, row_number() OVER (
            PARTITION BY lang ORDER BY sample_key, doc_id
        ) AS rk
        FROM keyed
    ) WHERE rk <= 20
    """,
    doc="Per-language deterministic weighted sample (operators/sampling.py "
    "weighted_sample_per_group): up to 20 docs per lang with inclusion "
    "probability proportional to n_chars — Efraimidis-Spirakis keys "
    "-ln(u)/w, u from md5(doc_id), so the draw is rerun/retry/engine "
    "stable inside every stratum. Selection is the two-phase "
    "(group, md5-shard) rank of cap_per_group — provably identical to "
    "the oracle's single per-group window while bounding the hottest "
    "group's task at k * shards rows.",
)
def q102_weighted_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.sampling import weighted_sample_per_group

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample_per_group(
        docs, "lang", "doc_id", "n_chars", k=20
    ).select("doc_id", "lang", "n_chars", "sample_key")


@register(
    "q103_user_cooccurrence",
    oracle="""
    WITH rel AS (
        SELECT DISTINCT
               event_type || '|' ||
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS slot,
               user_id
        FROM events
    ),
    deg AS (SELECT slot FROM rel GROUP BY slot HAVING count(*) <= 8)
    SELECT a.user_id AS id_1, b.user_id AS id_2, count(*) AS n_shared
    FROM rel a JOIN deg USING (slot) JOIN rel b USING (slot)
    WHERE a.user_id < b.user_id
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
    doc="User co-occurrence graph (operators/graph.py project_bipartite): "
    "edges between users active in >= 2 shared (event_type, hour) slots "
    "— the bipartite projection that feeds triangle_stats and "
    "connected_components. The scale hazard is the slot self-join's "
    "quadratic fan-out on hub slots (a slot with d users emits d^2 "
    "pairs); max_left_degree=8 drops hub slots BEFORE pairing, the "
    "same heavy-tail cut as line_dedup's boilerplate cap. One distinct, "
    "one broadcast degree filter, one keyed self-join.",
)
def q103_user_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.graph import project_bipartite

    ev = load_table(spark, sf_dir, "events")
    slot = F.concat(
        "event_type",
        F.lit("|"),
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH"),
    )
    rel = ev.select(slot.alias("slot"), "user_id")
    return project_bipartite(rel, "slot", "user_id", max_left_degree=8, min_shared=2)


@register(
    "q104_ann_auto_sized",
    oracle="SELECT true AS self_hit, true AS recall_ok, "
    "true AS bucket_bound_ok, true AS planes_match_formula",
    doc="The ANN SCALE path graded, not just the testdata setting: "
    "lsh_ann_topk with num_planes=None auto-sizes the hyperplane count "
    "to ceil(log2(n / 1024)) (operators/similarity.py auto_num_planes) "
    "so expected bucket size stays ~1024 at ANY corpus size — the "
    "discipline that keeps per-bucket O(bucket^2) work constant while "
    "a pinned plane count would go quadratic. Graded contract (vs a "
    "constant truth table, like q66): the query finds itself, recall "
    "vs the exact top-10 >= 0.5, the LARGEST realized bucket is within "
    "4x the expected n/2^planes (distribution sanity), and the emitted "
    "signature width equals the auto_num_planes formula.",
)
def q104_ann_auto_sized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.similarity import (
        auto_num_planes,
        brute_force_topk,
        lsh_ann_topk,
        lsh_bucket_signatures,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()  # parquet-metadata count; the operator does the same
    # driver-side sizing for num_planes=None
    planes = auto_num_planes(n)
    expected_bucket = max(1, -(-n // (1 << planes)))  # ceil(n / 2^planes)

    exact = brute_force_topk(emb, query_vec_id=0, k=10).select("vec_id")
    # the auto path (num_planes=None) runs ONCE — in the signature build
    # whose width planes_match_formula grades; the ANN call reuses the
    # derived plane count so the query doesn't re-count and re-hash the
    # corpus a second and third time for identical buckets
    approx = lsh_ann_topk(emb, query_vec_id=0, k=10, num_planes=planes)
    sigs = lsh_bucket_signatures(emb, num_planes=None)

    hits = approx.join(exact, "vec_id").agg(F.count(F.lit(1)).alias("n_hit"))
    self_hit = approx.agg(
        F.coalesce(
            F.max((F.col("vec_id") == 0).cast("int")) == 1, F.lit(False)
        ).alias("self_hit")
    )
    bucket_stats = sigs.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("sz")
    ).agg(
        F.max("sz").alias("max_bucket"),
        F.max(F.length("bucket")).alias("sig_width"),
    )
    return self_hit.crossJoin(hits).crossJoin(bucket_stats).select(
        "self_hit",
        (F.col("n_hit") >= F.lit(5)).alias("recall_ok"),
        (F.col("max_bucket") <= F.lit(4 * expected_bucket)).alias("bucket_bound_ok"),
        (F.col("sig_width") == F.lit(planes)).alias("planes_match_formula"),
    )


@register(
    "q105_bpe_pair_counts",
    oracle=r"""
    WITH w AS (
        SELECT unnest(string_split_regex(text, '\s+')) AS word
        FROM documents
    ),
    nz AS (SELECT word FROM w WHERE length(word) >= 2),
    p AS (
        SELECT substring(word, i, 1) AS a, substring(word, i + 1, 1) AS b
        FROM nz, unnest(generate_series(1, length(word) - 1)) AS t(i)
    )
    SELECT a, b, count(*) AS n_pairs
    FROM p GROUP BY a, b
    ORDER BY n_pairs DESC, a, b
    LIMIT 20
    """,
    doc="BPE iteration zero — corpus adjacent-symbol pair frequencies "
    "(operators/tokenize.py bpe_pair_counts, Sennrich et al. 2016 "
    "overlapping-count convention), top 20 with (a, b) tiebreak. The "
    "corpus is shuffled ONCE into the word-frequency table; the pair "
    "explode and count run on the vocab-sized frame (distinct words), "
    "bounded by charset^2 after the groupBy; selection is "
    "TakeOrderedAndProject. The statistic every distributed tokenizer "
    "trainer iterates on.",
)
def q105_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.tokenize import bpe_pair_counts

    docs = load_table(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, "text", top_k=20)


@register(
    "q106_bpe_learn",
    oracle="SELECT true AS n_merges_ok, true AS merges_distinct, "
    "true AS gains_positive, true AS conservation_ok, "
    "true AS first_merge_is_argmax",
    doc="Greedy BPE merge learning, 8 rounds (operators/tokenize.py "
    "bpe_learn): all iteration on the vocab-sized word-frequency table "
    "(the corpus shuffles once), one argmax row + one scalar to the "
    "driver per round, localCheckpoint truncating each round's merge "
    "fold. Greedy argmax order is library-free but the merge WALK is "
    "algorithmic, so the graded contract is invariants (q98 pattern): "
    "exactly 8 distinct merges with positive gains, token conservation "
    "sum(gains) == initial - final tokens computed in-plan from the "
    "word tables, and merge #1 equals the independently-computed "
    "pair-count argmax (q105's statistic).",
)
def q106_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.tokenize import (
        bpe_learn,
        bpe_pair_counts,
        word_freq_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges, final_words = bpe_learn(docs, "text", num_merges=8)

    n_ok = len(merges) == 8
    distinct_ok = len({(a, b) for _, a, b, _, _ in merges}) == len(merges)
    gains_ok = all(g > 0 and n > 0 for _, _, _, n, g in merges)
    total_gain = sum(g for *_, g in merges)

    initial = word_freq_table(docs, "text").agg(
        F.sum(F.length("word") * F.col("n_word")).alias("t0")
    )
    final = final_words.agg(
        F.sum(F.size("symbols") * F.col("n_word")).alias("t1")
    )
    argmax = bpe_pair_counts(docs, "text", top_k=1).select(
        F.col("a").alias("__a"), F.col("b").alias("__b")
    )
    return initial.crossJoin(final).crossJoin(argmax).select(
        F.lit(n_ok).alias("n_merges_ok"),
        F.lit(distinct_ok).alias("merges_distinct"),
        F.lit(gains_ok).alias("gains_positive"),
        (F.col("t0") - F.col("t1") == F.lit(total_gain)).alias("conservation_ok"),
        (
            (F.col("__a") == F.lit(merges[0][1]))
            & (F.col("__b") == F.lit(merges[0][2]))
            if merges
            else F.lit(False)
        ).alias("first_merge_is_argmax"),
    )


@register(
    "q107_bm25_topk",
    oracle=r"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'),
                           t -> length(t) > 0) AS toks
        FROM documents
    ),
    lengths AS (SELECT doc_id, len(toks) AS dl FROM base),
    corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM lengths),
    tf AS (
        SELECT doc_id, t, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS t FROM base)
        WHERE t IN ('merge', 'scan', 'window')
        GROUP BY doc_id, t
    ),
    dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    scored AS (
        SELECT tf.doc_id,
               ln(1.0 + (corpus.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (1.0 - 0.75
                                 + 0.75 * lengths.dl / corpus.avgdl)) AS s
        FROM tf
        JOIN dfreq USING (t)
        JOIN lengths USING (doc_id)
        CROSS JOIN corpus
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
           round(sum(s), 4) AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 15
    """,
    doc="Okapi BM25 top-k full-text search (operators/retrieval.py "
    "bm25_topk, k1=1.2 b=0.75): the lexical-retrieval workhorse for "
    "targeted curation and retrieval-based decontamination. Work is "
    "proportional to the QUERY's postings, not the corpus: doc length "
    "is row-local, the tf shuffle carries only rows whose token is in "
    "the query (isin filter inside the explode stage), df/avgdl/N are "
    "broadcast-sized aggregates, and selection is "
    "TakeOrderedAndProject. Scores rounded before ranking with doc_id "
    "tiebreak so engine and oracle order identically.",
)
def q107_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(
        docs, ["merge", "scan", "window"], k=15, round_to=4
    )


@register(
    "q108_bpe_tokenize",
    oracle="SELECT true AS reconstruction_ok, true AS conservation_ok, "
    "true AS batched_equals_inplan",
    doc="Learned-tokenizer application over the corpus "
    "(operators/tokenize.py apply_bpe_batched): 6 merges from bpe_learn "
    "applied through the Arrow-batched pandas UDF — the production path "
    "for realistic merge lists, with per-batch word memoization so the "
    "Zipf head costs one dict lookup. Graded contract (q106 pattern): "
    "(a) reconstruction — concatenating every doc's tokens reproduces "
    "its whitespace-stripped text, for ALL docs; (b) conservation — "
    "total emitted tokens == total non-ws chars minus the learn phase's "
    "summed measured gains; (c) the batched UDF agrees with the in-plan "
    "codegen fold (apply_bpe) on every document.",
)
def q108_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.tokenize import (
        apply_bpe,
        apply_bpe_batched,
        bpe_learn,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges, _ = bpe_learn(docs, "text", num_merges=6)
    total_gain = sum(g for *_, g in merges)

    both = apply_bpe_batched(
        apply_bpe(docs, "text", merges, out_col="__inplan"),
        "text",
        merges,
        out_col="__batched",
    )
    stripped = F.regexp_replace(F.col("text"), r"\s+", "")
    per_doc = both.select(
        (F.concat_ws("", F.col("__batched")) == stripped).alias("__rec"),
        F.size("__batched").alias("__n_tok"),
        F.length(stripped).alias("__n_chars"),
        (F.col("__batched") == F.col("__inplan")).alias("__agree"),
    )
    return per_doc.agg(
        F.coalesce(F.min("__rec"), F.lit(False)).alias("reconstruction_ok"),
        (
            F.sum("__n_tok") == F.sum("__n_chars") - F.lit(total_gain)
        ).alias("conservation_ok"),
        F.coalesce(F.min("__agree"), F.lit(False)).alias("batched_equals_inplan"),
    )


@register(
    "q109_quantized_ann",
    oracle="SELECT true AS self_hit, true AS recall_ok, "
    "true AS error_bounded, true AS all_quantized",
    doc="int8 embedding quantization graded end-to-end "
    "(operators/similarity.py quantize_embeddings / quantized_topk): "
    "the 4x memory/shuffle-IO lever for the ANN family — store and "
    "compare round(x/scale) tinyints (scale = max|x|/127 per vector), "
    "re-rank survivors at full precision. All codegen transforms, no "
    "UDF, no extra shuffle. Graded contract (q104 pattern, constant "
    "truth table): the quantized top-10 for query 0 finds the query "
    "itself, recalls >= 8 of the exact top-10, every element's "
    "reconstruction error is within the scale/2 bound (+ float fuzz), "
    "and every vector quantized (no NULL qvec from a non-NULL input).",
)
def q109_quantized_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.similarity import (
        as_double,
        brute_force_topk,
        dequantize,
        quantize_embeddings,
        quantized_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact = brute_force_topk(emb, query_vec_id=0, k=10).select("vec_id")
    approx = quantized_topk(emb, query_vec_id=0, k=10)

    hits = approx.join(exact, "vec_id").agg(F.count(F.lit(1)).alias("__n_hit"))
    self_hit = approx.agg(
        F.coalesce(
            F.max((F.col("vec_id") == 0).cast("int")) == 1, F.lit(False)
        ).alias("self_hit")
    )
    qdf = quantize_embeddings(emb)
    err = qdf.select(
        F.array_max(
            F.zip_with(
                as_double("embedding"),
                dequantize("qvec", "qscale"),
                lambda x, r: F.abs(x - r) - F.col("qscale") / 2.0,
            )
        ).alias("__excess"),
        F.col("qvec").isNull().alias("__null_q"),
    ).agg(
        (F.max("__excess") <= F.lit(1e-9)).alias("error_bounded"),
        (F.sum(F.col("__null_q").cast("int")) == 0).alias("all_quantized"),
    )
    return self_hit.crossJoin(hits).crossJoin(err).select(
        "self_hit",
        (F.col("__n_hit") >= F.lit(8)).alias("recall_ok"),
        "error_bounded",
        "all_quantized",
    )


def _q110_oracle() -> str:
    from atiesh_spark.plans.llm_queries import _BUCKETS_CTE

    return f"""
    WITH {_BUCKETS_CTE},
    pairs AS (
        SELECT a.vec_id AS id_1, ea.label AS label_1,
               b.vec_id AS id_2, eb.label AS label_2
        FROM buckets a
        JOIN buckets b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE ea.label <> eb.label
          AND ea.label IS NOT NULL AND eb.label IS NOT NULL
    ),
    scored AS (
        SELECT id_1, label_1, id_2, label_2,
               round(SUM(x * y) / (sqrt(SUM(x * x)) * sqrt(SUM(y * y))), 4) AS sim
        FROM (SELECT p.id_1, p.label_1, p.id_2, p.label_2,
                     unnest(CAST(a.embedding AS DOUBLE[])) AS x,
                     unnest(CAST(b.embedding AS DOUBLE[])) AS y
              FROM pairs p
              JOIN embeddings a ON a.vec_id = p.id_1
              JOIN embeddings b ON b.vec_id = p.id_2)
        GROUP BY id_1, label_1, id_2, label_2
    )
    SELECT id_1, label_1, id_2, label_2, sim, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY id_1
                                     ORDER BY sim DESC, id_2) AS rank
        FROM scored
    ) WHERE rank <= 2
    """


@register(
    "q110_hard_negatives",
    oracle=_q110_oracle(),
    doc="Hard-negative mining for contrastive training "
    "(operators/similarity.py hard_negatives): per anchor, the 2 "
    "most-similar vectors with a DIFFERENT label — the informative "
    "near-miss pairs embedding-model training needs (random negatives "
    "teach no margin). Candidates from shared LSH buckets (never "
    "all-pairs), label-mismatch filtered BEFORE ranking so the window "
    "ranks only cross-label candidates, each unordered pair scored "
    "once and mirrored. Pinned planes=4 here so the exact DuckDB "
    "oracle enumerates identical buckets (q55's convention); the "
    "operator's num_planes=None path is the linear-scale setting.",
)
def q110_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(emb, k=2, num_planes=4)


@register(
    "q111_nb_classify",
    oracle=r"""
    WITH train AS (
        SELECT lang, text FROM documents
        WHERE doc_id % 5 <> 0 AND lang IS NOT NULL
    ),
    test AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0),
    toks AS (
        SELECT lang AS label,
               unnest(list_filter(string_split_regex(text, '\s+'),
                                  t -> length(t) > 0)) AS t
        FROM train
    ),
    counts AS (SELECT label, t, count(*) AS n FROM toks GROUP BY label, t),
    v AS (SELECT count(DISTINCT t) AS v FROM counts),
    ct AS (SELECT label, sum(n) AS ct FROM counts GROUP BY label),
    cd AS (SELECT lang AS label, count(*) AS nd FROM train GROUP BY lang),
    td AS (SELECT sum(nd) AS td FROM cd),
    test_toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(text, '\s+'),
                                  t -> length(t) > 0)) AS t
        FROM test
    ),
    pairs AS (
        SELECT tt.doc_id, c.label,
               ln((coalesce(cn.n, 0) + 1.0) / (ct.ct + 1.0 * (v.v + 1))) AS llk
        FROM test_toks tt
        CROSS JOIN cd c
        JOIN ct ON ct.label = c.label
        CROSS JOIN v
        LEFT JOIN counts cn ON cn.label = c.label AND cn.t = tt.t
    ),
    scores AS (
        SELECT d.doc_id, c.label,
               round(ln(CAST(c.nd AS DOUBLE) / td.td)
                     + coalesce(sum(p.llk), 0), 4) AS score
        FROM test d CROSS JOIN cd c CROSS JOIN td
        LEFT JOIN pairs p ON p.doc_id = d.doc_id AND p.label = c.label
        GROUP BY d.doc_id, c.label, c.nd, td.td
    ),
    best AS (
        SELECT doc_id, label AS pred_label, score AS log_score FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, label) AS rn
            FROM scores
        ) WHERE rn = 1
    )
    SELECT b.doc_id, b.pred_label, b.log_score,
           t.lang AS actual, b.pred_label = t.lang AS correct
    FROM best b JOIN test t USING (doc_id)
    """,
    doc="In-engine multinomial Naive Bayes text classifier "
    "(operators/classify.py nb_train/nb_predict): the model-based "
    "curation gate (GPT-3-style quality classifier, language-ID "
    "refinement) trained WITHOUT the corpus leaving the engine. Train "
    "= sufficient statistics only (one (label, token) shuffle, "
    "checkpointed); the model ships to scoring as a broadcast token -> "
    "per-class log-likelihood dense array (zero-count classes and OOV "
    "take the same smoothed default, so scoring has no special cases). "
    "Scoring = explode + broadcast join + ONE map-side-combined "
    "(doc, class) sum (priors union in as rows — no doc x C join); "
    "argmax with rounded scores and first-label tiebreak. Trained on "
    "the %5!=0 split predicting lang, graded on the held-out fifth.",
)
def q111_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.classify import nb_predict, nb_train

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter((F.col("doc_id") % 5 != 0) & F.col("lang").isNotNull())
    test = docs.filter(F.col("doc_id") % 5 == 0)
    classes, dim = nb_train(train, "lang", "text")
    preds = nb_predict(test, classes, dim, "doc_id", "text", round_to=4)
    return preds.join(
        test.select("doc_id", F.col("lang").alias("actual")), "doc_id"
    ).select(
        "doc_id",
        "pred_label",
        "log_score",
        "actual",
        (F.col("pred_label") == F.col("actual")).alias("correct"),
    )


@register(
    "q112_rolling_zscore",
    oracle="""
    WITH z AS (
        SELECT event_id, user_id, value,
               round(
                   CASE WHEN stddev_samp(value) OVER w > 0
                        THEN (value - avg(value) OVER w)
                             / stddev_samp(value) OVER w
                   END, 4) AS zscore
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY epoch_us(ts)
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, value, zscore,
           coalesce(abs(zscore) > 3.0, false) AS is_outlier
    FROM z
    """,
    doc="Per-user trailing-hour rolling z-score anomaly flags "
    "(operators/timeseries.py zscore_outliers): the streaming-friendly "
    "outlier convention — frame includes the current row, no "
    "look-ahead, degenerate windows (n < 2 or zero variance) yield "
    "NULL zscore and never flag. One shuffle (the per-key partition "
    "sort); mean and stddev share a single Window operator with a "
    "VALUE-based frame over epoch micros, so tied timestamps are peer "
    "rows in both engines (deterministic, unlike a row-based frame).",
)
def q112_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.timeseries import zscore_outliers

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return zscore_outliers(
        ev, "user_id", "ts", "value", window_seconds=3600, z_threshold=3.0
    ).select("event_id", "user_id", "value", "zscore", "is_outlier")


@register(
    "q113_centroid_outliers",
    oracle="""
    WITH v AS (
        SELECT vec_id, label,
               generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS d,
               unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings
        WHERE label IS NOT NULL AND embedding IS NOT NULL
    ),
    cent AS (
        SELECT label, d, avg(x) AS c FROM v GROUP BY label, d
    ),
    sims AS (
        SELECT v.vec_id, v.label,
               round(SUM(v.x * cent.c)
                     / (sqrt(SUM(v.x * v.x)) * sqrt(SUM(cent.c * cent.c))),
                     4) AS centroid_sim
        FROM v JOIN cent ON v.label = cent.label AND v.d = cent.d
        GROUP BY v.vec_id, v.label
    )
    SELECT vec_id, label, centroid_sim,
           row_number() OVER (PARTITION BY label
                              ORDER BY centroid_sim, vec_id) AS suspect_rank
    FROM sims
    """,
    doc="Noisy-label detection over the embedding table "
    "(operators/similarity.py centroid_outliers): each vector's cosine "
    "to its OWN label's centroid, ranked most-suspicious-first per "
    "label — the classic mislabeled-sample signal for cleaning "
    "classification training sets. Centroids come from one map-side-"
    "combined (label, dimension) shuffle (d rows per label) and "
    "broadcast back; the similarity is row-local codegen, so the only "
    "fact-side shuffle is the per-label ranking window. Rounded before "
    "ranking with id tiebreak.",
)
def q113_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.similarity import centroid_outliers

    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_outliers(emb)


@register(
    "q114_normalize_text",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(
               lower(nfc_normalize(text || '  Cafe' || chr(769) || ' TEST')),
               '\s+', ' ', 'g')) AS norm_text
    FROM documents
    """,
    doc="Unicode text normalization (functions/text.py normalize_text): "
    "NFC canonical composition + lowercase + whitespace collapse — the "
    "C4/CCNet preprocessing step that makes visually-identical strings "
    "hash/dedup/tokenize identically. Spark has no normalization "
    "builtin, so the NFC core is an Arrow-batched pandas UDF (the "
    "documented non-JVM seam, like gzip); casing and whitespace stay "
    "codegen. The query appends a combining-acute sequence to every "
    "row so composition is actually exercised corpus-wide — the oracle "
    "must produce the precomposed e-acute — not just on ASCII "
    "passthrough.",
)
def q114_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.functions.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    # decomposed e + U+0301 so the engine must actually COMPOSE, not
    # just pass a precomposed literal through
    planted = F.concat(F.col("text"), F.lit("  Cafe\u0301 TEST"))
    return docs.select(
        "doc_id", normalize_text(planted).alias("norm_text")
    )


@register(
    "q115_blocklist_hits",
    oracle="""
    WITH pats(p) AS (VALUES ('window merge'), ('slow scan'), ('dup'), ('spark row')),
    hits AS (
        SELECT d.doc_id, pats.p
        FROM documents d JOIN pats ON contains(lower(d.text), pats.p)
    )
    SELECT doc_id, CAST(count(*) AS INT) AS n_hits,
           array_to_string(list_sort(list(p)), ',') AS hits_csv
    FROM hits GROUP BY doc_id
    """,
    doc="Blocklist (banned-phrase) flagging "
    "(operators/blocklist.py blocklist_hits): the C4-style content "
    "gate — case-folded substring containment against a curated term "
    "list. Two engines, differential-tested equal: codegen contains "
    "chain for hand-sized lists (zero shuffles, plan-gated) and a "
    "pure-Python Aho-Corasick automaton in an Arrow pandas UDF for "
    "10k+ machine-generated lists (one text scan regardless of "
    "pattern count, automaton built once per executor from the "
    "closure). This query grades the in-plan engine exactly; "
    "blocklist_filter is the same plan with the flagged rows dropped.",
)
def q115_blocklist_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.blocklist import blocklist_hits

    docs = load_table(spark, sf_dir, "documents")
    flagged = blocklist_hits(
        docs, "text", ["window merge", "slow scan", "dup", "spark row"]
    )
    return flagged.filter(F.col("n_hits") >= 1).select(
        "doc_id", "n_hits", F.concat_ws(",", "hits").alias("hits_csv")
    )


@register(
    "q116_bm25_join",
    oracle=r"""
    WITH q AS (
        SELECT doc_id AS query_id,
               array_to_string(
                   list_filter(string_split_regex(text, '\s+'),
                               t -> length(t) > 0)[1:3], ' ') AS query_text
        FROM documents WHERE doc_id % 50 = 0
    ),
    qterms AS (
        SELECT DISTINCT query_id,
               unnest(list_filter(string_split_regex(query_text, '\s+'),
                                  t -> length(t) > 0)) AS t
        FROM q
    ),
    base AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'),
                           t -> length(t) > 0) AS toks
        FROM documents
    ),
    lengths AS (SELECT doc_id, len(toks) AS dl FROM base),
    corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM lengths),
    tf AS (
        SELECT doc_id, t, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS t FROM base)
        WHERE t IN (SELECT DISTINCT t FROM qterms)
        GROUP BY doc_id, t
    ),
    dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    scored AS (
        SELECT qt.query_id, tf.doc_id,
               ln(1.0 + (corpus.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (1.0 - 0.75
                                 + 0.75 * lengths.dl / corpus.avgdl)) AS s
        FROM tf
        JOIN qterms qt USING (t)
        JOIN dfreq USING (t)
        JOIN lengths USING (doc_id)
        CROSS JOIN corpus
    ),
    pairs AS (
        SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
               round(sum(s), 4) AS score
        FROM scored GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, n_terms_hit, score, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id) AS rank
        FROM pairs
    ) WHERE rank <= 5
    """,
    doc="Batch retrieval (operators/retrieval.py bm25_join): top-5 BM25 "
    "documents PER QUERY for a whole query table in one plan — the "
    "shape that builds reranker training pairs and runs retrieval-"
    "based decontamination sweeps (queries here are the first 3 words "
    "of every doc_id%50==0 'benchmark' doc, q63's split convention). "
    "The distinct (query_id, term) table broadcasts against the corpus "
    "tf stream; per-term df and corpus stats stay query-independent "
    "and exact; ranking is a per-query window over candidate docs "
    "only. Degenerates to q107's bm25_topk for one query (tested).",
)
def q116_bm25_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.retrieval import bm25_join

    docs = load_table(spark, sf_dir, "documents")
    queries = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(
            " ",
            F.slice(
                F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != ""),
                1,
                3,
            ),
        ).alias("query_text"),
    )
    return bm25_join(docs, queries, k=5, round_to=4)


@register(
    "q117_pretrain_pipeline",
    oracle=r"""
    WITH normed AS (
        SELECT doc_id, lang, n_chars,
               trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))
                   AS norm_text
        FROM documents
    ),
    clean AS (
        SELECT * FROM normed
        WHERE NOT contains(norm_text, 'slow scan')
          AND NOT contains(norm_text, 'dup table')
    ),
    deduped AS (
        SELECT c.* FROM clean c
        JOIN (SELECT min(doc_id) AS doc_id FROM clean
              GROUP BY md5(norm_text)) k USING (doc_id)
    ),
    selected AS (
        SELECT lang, n_chars FROM (
            SELECT lang, n_chars,
                   SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS running
            FROM deduped
        ) WHERE running - n_chars < 4000
    )
    SELECT n.lang,
           count(*) AS n_candidates,
           coalesce(b.n, 0) AS n_after_blocklist,
           coalesce(d.n, 0) AS n_after_dedup,
           coalesce(s.n, 0) AS n_selected,
           coalesce(s.cost, 0) AS cost_selected
    FROM normed n
    LEFT JOIN (SELECT lang, count(*) AS n FROM clean GROUP BY lang) b
        USING (lang)
    LEFT JOIN (SELECT lang, count(*) AS n FROM deduped GROUP BY lang) d
        USING (lang)
    LEFT JOIN (SELECT lang, count(*) AS n,
                      CAST(sum(n_chars) AS BIGINT) AS cost
               FROM selected GROUP BY lang) s USING (lang)
    GROUP BY n.lang, b.n, d.n, s.n, s.cost
    """,
    doc="The full pretraining-corpus build as ONE declarative plan, "
    "composing the round-4 surface end-to-end: Unicode normalize "
    "(NFC + casefold + whitespace collapse, Arrow pandas UDF) -> "
    "blocklist gate (codegen contains) -> exact dedup on the "
    "NORMALIZED text (the realistic order: normalization exists so "
    "byte-different renderings of the same content collide in md5) -> "
    "per-language token-budget take — reported per language per stage "
    "(q82's vanishing-language contract). Each stage is the already-"
    "graded operator (q114, q115, q24, q49); this query grades their "
    "COMPOSITION, including pandas-UDF output feeding codegen hashes.",
)
def q117_pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.functions.text import normalize_text
    from atiesh_spark.operators.blocklist import blocklist_filter
    from atiesh_spark.operators.dedup import exact_dedup
    from atiesh_spark.operators.sampling import budgeted_take

    docs = load_table(spark, sf_dir, "documents")
    normed = docs.select(
        "doc_id", "lang", "n_chars", normalize_text("text").alias("norm_text")
    )
    # Stage materialization (the production discipline for multi-pass
    # consumers): the normalized+gated corpus is read by the dedup join
    # (both sides), the budget take's digest pass, the final take, and
    # two report branches — checkpointing it runs the pandas-UDF
    # normalize exactly ONCE instead of once per branch, and the
    # deduped survivors likewise (the dedup join computes once). At
    # cluster scale this is "persist the cleaned corpus between
    # stages", which every real pipeline does anyway.
    clean = blocklist_filter(
        normed, "norm_text", ["slow scan", "dup table"], engine="inplan"
    ).localCheckpoint()
    keep = exact_dedup(clean, "doc_id", "norm_text").select(
        F.col("keep_id").alias("doc_id")
    )
    deduped = clean.join(keep, "doc_id", "left_semi").localCheckpoint()
    selected = budgeted_take(deduped, "lang", "n_chars", budget=4000,
                             order_col="doc_id")

    def per_lang(df: DataFrame, *aggs) -> DataFrame:
        return df.groupBy("lang").agg(*aggs)

    return (
        per_lang(normed, F.count(F.lit(1)).alias("n_candidates"))
        .join(
            per_lang(clean, F.count(F.lit(1)).alias("n_after_blocklist")),
            "lang", "left",
        )
        .join(
            per_lang(deduped, F.count(F.lit(1)).alias("n_after_dedup")),
            "lang", "left",
        )
        .join(
            per_lang(
                selected,
                F.count(F.lit(1)).alias("n_selected"),
                F.sum("n_chars").alias("cost_selected"),
            ),
            "lang", "left",
        )
        .select(
            "lang",
            "n_candidates",
            F.coalesce("n_after_blocklist", F.lit(0)).alias("n_after_blocklist"),
            F.coalesce("n_after_dedup", F.lit(0)).alias("n_after_dedup"),
            F.coalesce("n_selected", F.lit(0)).alias("n_selected"),
            F.coalesce("cost_selected", F.lit(0)).alias("cost_selected"),
        )
    )


@register(
    "q118_resample_ffill",
    oracle="""
    WITH obs AS (
        SELECT user_id,
               (epoch_us(ts) // 21600000000) * 21600000000 AS tick,
               epoch_us(ts) AS us, value AS v
        FROM events
    ),
    buckets AS (
        SELECT user_id, tick,
               max(CASE WHEN v IS NOT NULL THEN {'u': us, 'v': v} END) AS last_s,
               count(*) AS n_obs
        FROM obs GROUP BY user_id, tick
    ),
    span AS (
        SELECT user_id, min(tick) AS t0, max(tick) AS t1 FROM obs GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(t0, t1, 21600000000)) AS tick
        FROM span
    )
    SELECT g.user_id, make_timestamp(g.tick) AS grid_ts,
           round(last_value((b.last_s).v IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.tick
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS value,
           CAST(coalesce(b.n_obs, 0) AS BIGINT) AS n_obs
    FROM grid g LEFT JOIN buckets b USING (user_id, tick)
    """,
    doc="Per-user 6-hour regular-grid resampling with forward fill "
    "(operators/timeseries.py resample_ffill): the gap-filling step "
    "that turns irregular event series into the regular grids joins, "
    "models and charts consume. Grid ticks generate EXECUTOR-side via "
    "sequence() from each key's min/max bucket (never a driver-side "
    "calendar or a cross join); observations reduce per bucket to "
    "(latest ts, value, count) with a deterministic struct-max "
    "tiebreak; the fill is one last(ignorenulls) running window per "
    "key. Total rows linear in span/step.",
)
def q118_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.timeseries import resample_ffill

    ev = load_table(spark, sf_dir, "events")
    return resample_ffill(ev, "user_id", "ts", "value", step_seconds=21600)


def _q119_oracle(damping: float = 0.85, iterations: int = 5) -> str:
    rounds = []
    for i in range(1, iterations + 1):
        rounds.append(f"""
    r{i} AS (
        SELECT d.node,
               (1.0 - {damping}) / (SELECT n FROM nn)
               + {damping} * coalesce(s.x, 0.0) AS r
        FROM deg d LEFT JOIN (
            SELECT g.b AS node, sum(p.r / g.degree) AS x
            FROM graph g JOIN r{i - 1} p ON p.node = g.a
            GROUP BY g.b
        ) s USING (node)
    )""")
    return f"""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    e AS (
        SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
        FROM ps x JOIN ps y USING (l_partkey)
        WHERE x.l_suppkey < y.l_suppkey
    ),
    sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT a AS node, count(*) AS degree FROM sym GROUP BY a),
    graph AS (SELECT sym.a, sym.b, deg.degree FROM sym
              JOIN deg ON deg.node = sym.a),
    nn AS (SELECT count(*) AS n FROM deg),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM deg),
    {",".join(rounds)}
    SELECT deg.node, deg.degree, round(r{iterations}.r, 6) AS pagerank
    FROM deg JOIN r{iterations} USING (node)
    """


@register(
    "q119_pagerank",
    oracle=_q119_oracle(),
    doc="PageRank on the supplier co-supply graph (operators/graph.py "
    "pagerank): 5 synchronous power-iteration rounds, damping 0.85, "
    "from the uniform start — the centrality score crawl curation "
    "uses for source weighting and spam-farm demotion. Edges "
    "symmetrize + localCheckpoint ONCE with their degree dim; each "
    "round is one keyed join + one map-side-combined node-sized "
    "groupBy, checkpointed to truncate lineage (the CC/BPE "
    "discipline); the driver polls nothing. Oracle unrolls the same "
    "5 rounds as CTEs — values agree to the rounded 6 decimals "
    "because both engines run the identical double-precision "
    "recurrence.",
)
def q119_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    x = ps.select("l_partkey", F.col("l_suppkey").alias("id_1"))
    y = ps.select("l_partkey", F.col("l_suppkey").alias("id_2"))
    edges = (
        x.join(y, "l_partkey")
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )
    return pagerank(edges, damping=0.85, iterations=5)


@register(
    "q120_hll_rollup",
    oracle="SELECT true AS fine_within_2pct, true AS coarse_within_2pct, "
    "true AS merge_consistent, true AS one_scan_rowcounts",
    doc="Mergeable distinct-count rollup (operators/rollup.py "
    "sketch_rollup): per-day Datasketches HLL sketches of active "
    "users, MERGED to month buckets via hll_union_agg — the raw table "
    "scans once; exact COUNT(DISTINCT) cannot do this because it is "
    "not a monoid, which at scale means re-shuffling the corpus for "
    "every coarser window. Graded (q45's bounded-error pattern): "
    "every fine and coarse estimate within 2% of the in-plan exact "
    "distinct, the merged month estimates within 2% of sketching the "
    "month directly (union consistency), and the rolled-up row counts "
    "exactly equal the fine totals.",
)
def q120_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.rollup import sketch_rollup

    ev = load_table(spark, sf_dir, "events")
    fine, coarse = sketch_rollup(ev, "ts", "user_id", fine="day", coarse="month")

    exact_fine = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("bucket")
    ).agg(F.countDistinct("user_id").alias("exact"))
    exact_coarse = ev.groupBy(
        F.date_trunc("month", F.col("ts")).alias("bucket")
    ).agg(
        F.countDistinct("user_id").alias("exact"),
        F.count(F.lit(1)).alias("exact_rows"),
    )
    direct_coarse = ev.groupBy(
        F.date_trunc("month", F.col("ts")).alias("bucket")
    ).agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(12))
        ).alias("direct_est")
    )

    fine_ok = (
        fine.join(exact_fine, "bucket")
        .agg(
            F.coalesce(
                F.min(
                    F.abs(F.col("distinct_est") - F.col("exact"))
                    <= 0.02 * F.col("exact")
                ),
                F.lit(False),
            ).alias("fine_within_2pct")
        )
    )
    coarse_ok = (
        coarse.join(exact_coarse, "bucket")
        .join(direct_coarse, "bucket")
        .agg(
            F.coalesce(
                F.min(
                    F.abs(F.col("distinct_est") - F.col("exact"))
                    <= 0.02 * F.col("exact")
                ),
                F.lit(False),
            ).alias("coarse_within_2pct"),
            F.coalesce(
                F.min(
                    F.abs(F.col("distinct_est") - F.col("direct_est"))
                    <= 0.02 * F.col("direct_est")
                ),
                F.lit(False),
            ).alias("merge_consistent"),
            F.coalesce(
                F.min(F.col("n_rows") == F.col("exact_rows")), F.lit(False)
            ).alias("one_scan_rowcounts"),
        )
    )
    return fine_ok.crossJoin(coarse_ok)


@register(
    "q121_pca_whiten",
    oracle="SELECT true AS unit_variance, true AS decorrelated, "
    "true AS zero_mean",
    doc="PCA whitening over the embedding table (operators/similarity.py "
    "pca_whiten): project onto the q98-fitted basis and scale each "
    "component by 1/sqrt(eigenvalue) — the embedding-hygiene step "
    "before cosine dedup/ANN (dominant directions stop drowning the "
    "informative tail). Basis ships as plan literals; the transform "
    "is row-local codegen, no shuffle. Graded by the defining "
    "invariants computed in-plan over all rows: population variance "
    "1 per component, pairwise covariance 0, mean 0 (tolerance 1e-6).",
)
def q121_pca_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.similarity import pca_fit, pca_whiten

    emb = load_table(spark, sf_dir, "embeddings")
    mean, comps, eigs, _ = pca_fit(emb, "embedding", k=3)
    w = pca_whiten(emb, "vec_id", "embedding", mean, comps, eigs)
    stats = w.agg(
        *[F.var_pop(f"w{i}").alias(f"__v{i}") for i in range(3)],
        *[F.avg(f"w{i}").alias(f"__m{i}") for i in range(3)],
        F.covar_pop("w0", "w1").alias("__c01"),
        F.covar_pop("w0", "w2").alias("__c02"),
        F.covar_pop("w1", "w2").alias("__c12"),
    )
    tol = 1e-6
    return stats.select(
        (
            (F.abs(F.col("__v0") - 1) < tol)
            & (F.abs(F.col("__v1") - 1) < tol)
            & (F.abs(F.col("__v2") - 1) < tol)
        ).alias("unit_variance"),
        (
            (F.abs("__c01") < tol) & (F.abs("__c02") < tol) & (F.abs("__c12") < tol)
        ).alias("decorrelated"),
        (
            (F.abs("__m0") < tol) & (F.abs("__m1") < tol) & (F.abs("__m2") < tol)
        ).alias("zero_mean"),
    )


@register(
    "q122_blocklist_automaton",
    oracle="""
    WITH pats(p) AS (VALUES ('window merge'), ('slow scan'), ('dup'), ('spark row')),
    hits AS (
        SELECT d.doc_id, pats.p
        FROM documents d JOIN pats ON contains(lower(d.text), pats.p)
    )
    SELECT doc_id, CAST(count(*) AS INT) AS n_hits,
           array_to_string(list_sort(list(p)), ',') AS hits_csv
    FROM hits GROUP BY doc_id
    """,
    doc="q115's blocklist contract graded through the OTHER engine: "
    "the pure-Python Aho-Corasick automaton in an Arrow pandas UDF "
    "(operators/blocklist.py engine='automaton') — the path large "
    "machine-generated lists take, one text scan regardless of "
    "pattern count. Same pattern set, same DuckDB oracle as q115, so "
    "a hash match here certifies the automaton (goto/fail/output "
    "construction) against an independent engine, corpus-wide — on "
    "top of the in-repo differential tests against naive containment.",
)
def q122_blocklist_automaton(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.blocklist import blocklist_hits

    docs = load_table(spark, sf_dir, "documents")
    flagged = blocklist_hits(
        docs, "text", ["window merge", "slow scan", "dup", "spark row"],
        engine="automaton",
    )
    return flagged.filter(F.col("n_hits") >= 1).select(
        "doc_id", "n_hits", F.concat_ws(",", "hits").alias("hits_csv")
    )


@register(
    "q123_bpe_learn_batched",
    oracle="SELECT true AS n_merges_ok, true AS merges_distinct, "
    "true AS gains_positive, true AS conservation_ok, "
    "true AS rounds_reduced, true AS tokenizer_reproduces_words",
    doc="Vocab-scale BPE induction: bpe_learn with merges_per_round=4 "
    "(operators/tokenize.py) — each round one pair-count aggregation "
    "selects the top-4 SYMBOL-DISJOINT pairs and applies them in one "
    "chained fold + one checkpoint, so job count is O(num_merges/m) "
    "instead of O(num_merges); at a 32k production vocab with m=64 "
    "that is ~500 Spark jobs, not 32k. Disjointness keeps every "
    "batched pair's pre-round count exact and per-merge gains exact "
    "(occurrence delta of each merged symbol). Graded (q106 pattern): "
    "8 distinct merges with positive counts+gains; EXACT token "
    "conservation sum(gains) == initial - final computed in-plan; the "
    "round log proves batching happened (< 8 rounds for 8 merges, "
    "selections summing to 8); and the merge list applied as a "
    "tokenizer (apply_bpe) reproduces the learner's final "
    "symbolization on EVERY vocabulary word — the merge list IS the "
    "tokenizer that produced the final word table.",
)
def q123_bpe_learn_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.tokenize import (
        apply_bpe,
        bpe_learn,
        word_freq_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    log: list = []
    merges, final_words = bpe_learn(
        docs, "text", num_merges=8, merges_per_round=4, round_log=log
    )

    n_ok = len(merges) == 8
    distinct_ok = len({(a, b) for _, a, b, _, _ in merges}) == len(merges)
    gains_ok = all(g > 0 and n > 0 for _, _, _, n, g in merges)
    rounds_ok = len(log) < 8 and sum(n for n, _ in log) == len(merges)
    total_gain = sum(g for *_, g in merges)

    initial = word_freq_table(docs, "text").agg(
        F.sum(F.length("word") * F.col("n_word")).alias("t0")
    )
    final = final_words.agg(F.sum(F.size("symbols") * F.col("n_word")).alias("t1"))
    retok = apply_bpe(
        final_words.select("word", "symbols"), "word", merges, out_col="__retok"
    ).agg(
        F.coalesce(F.min(F.col("__retok") == F.col("symbols")), F.lit(False)).alias(
            "__match"
        )
    )
    return initial.crossJoin(final).crossJoin(retok).select(
        F.lit(n_ok).alias("n_merges_ok"),
        F.lit(distinct_ok).alias("merges_distinct"),
        F.lit(gains_ok).alias("gains_positive"),
        (F.col("t0") - F.col("t1") == F.lit(total_gain)).alias("conservation_ok"),
        F.lit(rounds_ok).alias("rounds_reduced"),
        F.col("__match").alias("tokenizer_reproduces_words"),
    )


# ---------------------------------------------------------------------------
# Streaming maintenance loops graded through their batch equivalences.
#
# The four foreachBatch maintenance operators (cascade rollup, SCD2,
# reservoir, line frequency) each promise "streaming state after N
# batches == the batch operator over the union of all batches, and a
# replayed batch is a no-op". That contract is batch-expressible: run
# the foreachBatch loop over K FIXED chunks of the testdata inside the
# query callable (including a deliberate replay of the final batch),
# read the final store, and hash-compare it against the batch oracle.
# The chunk split is a REPLAY HARNESS device, not operator machinery —
# production batches come from the checkpointed streaming source; only
# the split here needs determinism (SCD2 additionally needs per-key
# event order across batches, hence the global (ts, event_id) ranking).


def _replay_chunks(df: DataFrame, fn, chunks: list) -> None:
    """Feed `chunks` (predicates over df) to foreachBatch fn as batches
    1..K, then REPLAY the final batch under the same batch id — the
    versioned store must converge to the same state."""
    for i, pred in enumerate(chunks):
        fn(df.filter(pred), i + 1)
    fn(df.filter(chunks[-1]), len(chunks))


@register(
    "q124_scd2_stream_replay",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER w AS prev,
               row_number() OVER w AS rn
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    starts AS (
        SELECT user_id, event_type, ts, event_id FROM ordered
        WHERE rn = 1 OR prev IS DISTINCT FROM event_type
    )
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER w2 AS valid_to,
           lead(ts) OVER w2 IS NULL AS is_current
    FROM starts
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="StreamingScd2's exactness contract, driver-graded "
    "(operators/diffing.py StreamingScd2): the event log is replayed "
    "as 4 in-order batches through the foreachBatch maintenance loop "
    "(stored intervals collapse to change points, union the batch, "
    "re-collapse touched keys only), the FINAL batch is then replayed "
    "under the same batch id (VersionedStore reads the pre-batch "
    "version, so the rerun must converge to identical state), and the "
    "resulting store is hash-compared against q87's one-shot batch "
    "oracle. Green here == 'the incremental CDC loop equals the batch "
    "rebuild, replays included', checked by the driver instead of "
    "only in-repo tests.",
)
def q124_scd2_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from pyspark.sql import Window

    from atiesh_spark.operators.diffing import StreamingScd2

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    # Harness split: global (ts, event_id) rank quartiles — preserves
    # per-key event order across batches (the operator's stated
    # arrival contract). Replay device only; see block comment above.
    ranked = events.withColumn(
        "__rn", F.row_number().over(Window.orderBy("ts", "event_id"))
    ).localCheckpoint()
    n = ranked.count()
    bounds = [round(n * i / 4) for i in range(5)]
    chunks = [
        (F.col("__rn") > lo) & (F.col("__rn") <= hi)
        for lo, hi in zip(bounds, bounds[1:])
    ]
    tmp = tempfile.mkdtemp(prefix="scd2_replay_")
    try:
        scd = StreamingScd2(
            keys=["user_id"], order_col="ts", tracked_cols=["event_type"],
            path=tmp, tiebreak_cols=["event_id"],
        )
        _replay_chunks(ranked.drop("__rn"), scd, chunks)
        final = scd.read(spark).select(
            "user_id", "event_type", "valid_from", "valid_to", "is_current"
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


@register(
    "q125_line_frequency_stream_replay",
    oracle="""
    WITH lines AS (
        SELECT doc_id, trim(unnest(string_split(text, chr(10)))) AS line
        FROM documents
    )
    SELECT md5(line) AS line_md5,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM lines WHERE line <> ''
    GROUP BY md5(line)
    """,
    doc="StreamingLineFrequency's additivity contract, driver-graded "
    "(operators/corpus.py StreamingLineFrequency): documents stream in "
    "as 3 hash-split batches through the foreachBatch loop (per-line "
    "md5 digests, distinct-doc counts summed into the versioned "
    "store), the final batch is replayed under the same id, and the "
    "final store must hash-equal the one-shot batch line-frequency "
    "table — the state line_dedup's C4 boilerplate set is derived "
    "from, so green here certifies the continuously-maintained "
    "boilerplate store equals the batch rebuild at any prefix.",
)
def q125_line_frequency_stream_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from atiesh_spark.operators.corpus import StreamingLineFrequency

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = [F.col("doc_id") % 3 == i for i in range(3)]
    tmp = tempfile.mkdtemp(prefix="linefreq_replay_")
    try:
        lf = StreamingLineFrequency("doc_id", "text", tmp)
        _replay_chunks(docs, lf, chunks)
        final = lf.read(spark).select(
            F.col("__h").alias("line_md5"), "n_docs"
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


@register(
    "q126_cascade_rollup_stream_replay",
    oracle="""
    WITH fine AS (
        SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket, event_type,
               CAST(count(*) AS BIGINT) AS n, sum(value) AS sv,
               max(value) AS mv
        FROM events GROUP BY 1, 2
    ),
    coarse AS (
        SELECT time_bucket(INTERVAL '1 hour', bucket) AS bucket, event_type,
               CAST(sum(n) AS BIGINT) AS n, sum(sv) AS sv, max(mv) AS mv
        FROM fine GROUP BY 1, 2
    )
    SELECT '15 minutes' AS level, bucket, event_type, n,
           round(sv, 4) AS sum_value, mv AS max_value FROM fine
    UNION ALL
    SELECT '1 hour' AS level, bucket, event_type, n,
           round(sv, 4) AS sum_value, mv AS max_value FROM coarse
    """,
    doc="StreamingCascadeRollup's merge contract, driver-graded "
    "(operators/rollup.py StreamingCascadeRollup): events stream in as "
    "3 hash-split batches (deliberately NOT time-ordered — the store "
    "is keyed by bucket, so late rows merge into their original bucket "
    "with no watermark), each batch cascades 15min->1h and merges into "
    "the versioned store (counts/sums re-aggregate as sum, max as "
    "max), the final batch is replayed under the same id, and the "
    "final store must hash-equal the one-shot two-level cascade over "
    "all events. Sum rounded on both sides (summation order differs "
    "across engines).",
)
def q126_cascade_rollup_stream_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from atiesh_spark.operators.rollup import StreamingCascadeRollup

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    chunks = [F.col("event_id") % 3 == i for i in range(3)]
    tmp = tempfile.mkdtemp(prefix="rollup_replay_")
    try:
        cr = StreamingCascadeRollup(
            "ts", ["15 minutes", "1 hour"],
            aggs={
                "n": (None, "count"),
                "sum_value": ("value", "sum"),
                "max_value": ("value", "max"),
            },
            path=tmp, group_cols=["event_type"],
        )
        _replay_chunks(events, cr, chunks)
        final = cr.read(spark).select(
            "level", "bucket", "event_type", "n",
            F.round("sum_value", 4).alias("sum_value"), "max_value",
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


@register(
    "q127_reservoir_stream_replay",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               round(-ln(({_MD5_LONG.format(c="doc_id")} + 1)
                         / 1152921504606846976.0) / n_chars, 6) AS sample_key
        FROM documents WHERE doc_id IS NOT NULL AND n_chars > 0
    )
    SELECT doc_id, lang, n_chars, sample_key
    FROM keyed ORDER BY sample_key, doc_id LIMIT 25
    """,
    doc="StreamingWeightedSample's monoid contract, driver-graded "
    "(operators/sampling.py StreamingWeightedSample): documents stream "
    "in as 3 hash-split batches, each batch's local Efraimidis-"
    "Spirakis top-k merges with the stored reservoir (keys are a pure "
    "function of (doc_id, n_chars), so merge-and-retake-k IS the "
    "batch sample — no RNG state), the final batch replays under the "
    "same id, and the final reservoir must hash-equal the one-shot "
    "batch weighted sample over all documents. With q124-q126 this "
    "closes the maintenance-loop family: all four foreachBatch "
    "operators now carry driver-graded batch-equivalence rows.",
)
def q127_reservoir_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from atiesh_spark.operators.sampling import StreamingWeightedSample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    chunks = [F.col("doc_id") % 3 == i for i in range(3)]
    tmp = tempfile.mkdtemp(prefix="reservoir_replay_")
    try:
        sw = StreamingWeightedSample("doc_id", "n_chars", k=25, path=tmp)
        _replay_chunks(docs, sw, chunks)
        final = sw.read(spark).select(
            "doc_id", "lang", "n_chars", "sample_key"
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


@register(
    "q128_bm25_indexed",
    oracle=r"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'),
                           t -> length(t) > 0) AS toks
        FROM documents
    ),
    lengths AS (SELECT doc_id, len(toks) AS dl FROM base),
    corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM lengths),
    tf AS (
        SELECT doc_id, t, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS t FROM base)
        WHERE t IN ('batch', 'filter', 'stream')
        GROUP BY doc_id, t
    ),
    dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    scored AS (
        SELECT tf.doc_id,
               ln(1.0 + (corpus.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (1.0 - 0.75
                                 + 0.75 * lengths.dl / corpus.avgdl)) AS s
        FROM tf
        JOIN dfreq USING (t)
        JOIN lengths USING (doc_id)
        CROSS JOIN corpus
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
           round(sum(s), 4) AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 15
    """,
    doc="BM25 through the PERSISTED-INDEX path (operators/retrieval.py "
    "bm25_index + bm25_topk_indexed): the (token, doc, tf) postings "
    "and (doc, dl) length frames are materialized to parquet once — "
    "in production partitioned by token so a query prunes to its "
    "terms' partitions — read back, and scored without touching the "
    "corpus text. Shares ws_tokens and the single _bm25_term_score "
    "expression with q107's query-time path (differential-tested "
    "identical), and is graded here against the same independent "
    "DuckDB BM25 oracle on a different term set, so BOTH retrieval "
    "paths carry driver-green rows over the same scoring contract.",
)
def q128_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from atiesh_spark.operators.retrieval import bm25_index, bm25_topk_indexed

    docs = load_table(spark, sf_dir, "documents")
    postings, doclens = bm25_index(docs)
    tmp = tempfile.mkdtemp(prefix="bm25_index_")
    try:
        postings.write.mode("overwrite").parquet(f"{tmp}/postings")
        doclens.write.mode("overwrite").parquet(f"{tmp}/doclens")
        result = bm25_topk_indexed(
            spark.read.parquet(f"{tmp}/postings"),
            spark.read.parquet(f"{tmp}/doclens"),
            ["batch", "filter", "stream"],
            k=15,
            round_to=4,
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return result


@register(
    "q129_kmeans_clusters",
    oracle="SELECT true AS all_assigned, true AS nearest_ok, "
    "true AS cost_not_worse_than_init, true AS refit_deterministic, "
    "true AS multiple_clusters",
    doc="DataFrame-native deterministic k-means over the embedding "
    "table (operators/cluster.py kmeans_fit/kmeans_assign): the "
    "domain-discovery / data-map clustering step, built on the "
    "PageRank/BPE discipline — md5-smallest-ids init (pure function "
    "of the data, no RNG), per-round driver traffic = the k x d "
    "centroid matrix, re-estimation one map-side-combined groupBy of "
    "d avgs, assignment a zero-shuffle codegen argmin over centroid "
    "literals. Cluster labels are algorithm-specific, so the graded "
    "contract is invariants (q98 pattern): every vector assigned; "
    "each assignment verified nearest by an INDEPENDENT least()-over-"
    "columns formulation of argmin; total cost at the learned "
    "centroids <= cost at the init centroids (Lloyd monotonicity, "
    "computed in-plan over the whole table); an independent refit is "
    "bit-identical; and the fixture splits into >= 2 clusters.",
)
def q129_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.cluster import (
        _sq_dist,
        kmeans_assign,
        kmeans_fit,
    )
    from atiesh_spark.operators.similarity import as_double

    emb = load_table(spark, sf_dir, "embeddings")
    k = 4
    cents = kmeans_fit(emb, k=k, iterations=4)
    refit = kmeans_fit(emb, k=k, iterations=4)
    assigned = kmeans_assign(emb, cents)

    vec = as_double("embedding")
    dists = [_sq_dist(vec, c) for c in cents]
    per_row = emb.join(assigned, "vec_id").select(
        # independent argmin: least() over individual distance columns
        (F.round(F.least(*dists), 6) == F.col("sq_dist")).alias("__near"),
        F.least(*dists).alias("__best"),
        "cluster",
    )
    init = kmeans_fit(emb, k=k, iterations=1)  # 1 round from the same init
    # cost at the RAW init seeds: recompute seeds in-plan is what
    # kmeans_fit's first assignment uses; Lloyd guarantees the learned
    # cost can't exceed the 1-iteration cost, which can't exceed init.
    dists1 = [_sq_dist(vec, c) for c in init]
    cost1 = emb.select(F.least(*dists1).alias("__c")).agg(
        F.sum("__c").alias("cost_iter1")
    )
    stats = per_row.agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.coalesce(F.min("__near"), F.lit(False)).alias("nearest_ok"),
        F.sum("__best").alias("cost_final"),
        F.countDistinct("cluster").alias("n_clusters"),
    )
    total = emb.filter(F.col("embedding").isNotNull()).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    return stats.crossJoin(F.broadcast(total)).crossJoin(
        F.broadcast(cost1)
    ).select(
        (F.col("n_assigned") == F.col("n_rows")).alias("all_assigned"),
        F.col("nearest_ok"),
        (F.col("cost_final") <= F.col("cost_iter1") + F.lit(1e-6)).alias(
            "cost_not_worse_than_init"
        ),
        F.lit(cents == refit).alias("refit_deterministic"),
        (F.col("n_clusters") >= 2).alias("multiple_clusters"),
    )


@register(
    "q130_ann_index_stream_replay",
    oracle="""
    WITH v AS (
        SELECT vec_id,
               generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS d,
               unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings
    ),
    signs AS (
        SELECT p, d,
               ((('0x' || substring(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 1))::INT % 2) * 2 - 1)::DOUBLE AS sgn
        FROM (SELECT unnest(generate_series(0, 3)) AS p),
             (SELECT unnest(generate_series(0, 63)) AS d)
    ),
    proj AS (
        SELECT v.vec_id, s.p, round(SUM(v.x * s.sgn), 6) AS pr
        FROM v JOIN signs s ON v.d = s.d
        GROUP BY v.vec_id, s.p
    )
    SELECT vec_id,
           string_agg(CASE WHEN pr > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
    FROM proj GROUP BY vec_id
    """,
    doc="StreamingAnnIndex's append-exactness contract, driver-graded "
    "(operators/similarity.py StreamingAnnIndex): embeddings stream in "
    "as 3 hash-split batches through the foreachBatch maintenance loop "
    "(hyperplane signatures are a pure function of the vector — "
    "md5-derived planes, no RNG state — so keys replace, untouched "
    "rows pass through), the final batch replays under the same id, "
    "and the final store's (vec_id, bucket) must hash-equal the "
    "one-shot lsh_bucket_signatures over the whole table, mirrored "
    "independently by the DuckDB sign/projection SQL (q30's bucket "
    "CTE). The continuously-maintained ANN index IS the batch index "
    "at every prefix — the property that lets a 100 TB deployment "
    "grow its index by appending batches instead of re-signing the "
    "corpus.",
)
def q130_ann_index_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from atiesh_spark.operators.similarity import StreamingAnnIndex

    emb = load_table(spark, sf_dir, "embeddings")
    chunks = [F.col("vec_id") % 3 == i for i in range(3)]
    tmp = tempfile.mkdtemp(prefix="ann_index_replay_")
    try:
        idx = StreamingAnnIndex(tmp, num_planes=4)
        _replay_chunks(emb, idx, chunks)
        final = idx.read(spark).select("vec_id", "bucket").localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


@register(
    "q131_session_sequences",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '1800' SECOND
                    THEN 1 ELSE 0 END AS ns
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) - 1
                    AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, min(ts) AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           string_agg(event_type, '|' ORDER BY ts, event_id) AS sequence
    FROM sess WHERE event_type IS NOT NULL
    GROUP BY user_id, session_id
    """,
    doc="Training-sequence assembly from the interaction log "
    "(operators/sequences.py assemble_sequences): gaps-and-islands "
    "sessionization (lag + running sum, ONE per-key window shuffle — "
    "no self-join) then one groupBy materializing each session's "
    "ordered event-type sequence, sorted executor-side via array_sort "
    "over (ts, event_id, payload) structs so ordering never depends "
    "on collect_list arrival order. The artifact a sequence-model "
    "pipeline trains on — q50 counts funnel sessions, this emits the "
    "sequences themselves; 30-minute gap, event_id tiebreak.",
)
def q131_session_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.sequences import assemble_sequences

    ev = load_table(spark, sf_dir, "events")
    return assemble_sequences(
        ev, "user_id", "ts", "event_type", gap_seconds=1800,
        tiebreak_col="event_id",
    )


@register(
    "q132_bm25_index_stream_replay",
    oracle=r"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'),
                           t -> length(t) > 0) AS toks
        FROM documents
    ),
    lengths AS (SELECT doc_id, len(toks) AS dl FROM base),
    corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM lengths),
    tf AS (
        SELECT doc_id, t, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS t FROM base)
        WHERE t IN ('hash', 'row', 'group')
        GROUP BY doc_id, t
    ),
    dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    scored AS (
        SELECT tf.doc_id,
               ln(1.0 + (corpus.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (1.0 - 0.75
                                 + 0.75 * lengths.dl / corpus.avgdl)) AS s
        FROM tf
        JOIN dfreq USING (t)
        JOIN lengths USING (doc_id)
        CROSS JOIN corpus
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
           round(sum(s), 4) AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 15
    """,
    doc="StreamingBm25Index's maintenance contract, driver-graded "
    "(operators/retrieval.py StreamingBm25Index): documents stream in "
    "as 3 hash-split batches (postings and lengths are per-document "
    "pure functions, so ids replace and untouched rows pass through), "
    "the final batch replays under the same id, and BM25 top-k SCORED "
    "FROM THE MAINTAINED STORE (corpus stats recomputed exactly from "
    "the store, never stale) must hash-equal the independent one-shot "
    "DuckDB BM25 oracle over the whole corpus. With q130 this proves "
    "both retrieval indexes — lexical and embedding — grow by "
    "appending batches instead of rebuilding, with zero drift.",
)
def q132_bm25_index_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from atiesh_spark.operators.retrieval import StreamingBm25Index

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = [F.col("doc_id") % 3 == i for i in range(3)]
    tmp = tempfile.mkdtemp(prefix="bm25_stream_")
    try:
        idx = StreamingBm25Index(tmp)
        _replay_chunks(docs, idx, chunks)
        result = idx.topk(
            spark, ["hash", "row", "group"], k=15, round_to=4
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return result


@register(
    "q133_containment_pairs",
    oracle=r"""
    WITH w0 AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\s+'),
                           t -> length(t) > 0) AS ts
        FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(ts) - 2, 1)),
                                     i -> CASE WHEN i + 2 <= len(ts)
                                          THEN ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                          END)) AS sh
        FROM w0
    ),
    shingles AS (SELECT doc_id, sh FROM g WHERE sh IS NOT NULL),
    rare AS (SELECT sh FROM shingles GROUP BY sh HAVING count(*) BETWEEN 2 AND 5),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
        FROM shingles a JOIN rare USING (sh) JOIN shingles b USING (sh)
        WHERE a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT c.id_1, c.id_2, count(*) AS i
        FROM cand c
        JOIN shingles a ON a.doc_id = c.id_1
        JOIN shingles b ON b.doc_id = c.id_2 AND b.sh = a.sh
        GROUP BY c.id_1, c.id_2
    )
    SELECT id_1, id_2,
           round(i / sa.sz, 4) AS containment_1_in_2,
           round(i / sb.sz, 4) AS containment_2_in_1,
           round(i / (sa.sz + sb.sz - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_1
    JOIN sizes sb ON sb.doc_id = id_2
    WHERE greatest(round(i / sa.sz, 4), round(i / sb.sz, 4)) >= 0.2
    """,
    doc="Asymmetric containment pairs (operators/dedup.py "
    "containment_pairs over word-3-gram shingles): the quote/inclusion "
    "detector symmetric Jaccard structurally misses — a short doc "
    "embedded in a long page scores containment ~1.0 but Jaccard "
    "~0.01, so it never survives a Jaccard threshold and never "
    "collides in MinHash bands (banding targets symmetric "
    "similarity). Candidates come from RARE shingles (df <= 5): each "
    "qualifying shingle fans out to at most max_df docs, bounding "
    "pair work at |rare| * max_df^2 (the project_bipartite hub-cap "
    "discipline) while boilerplate shingles generate nothing; "
    "verification is the q51 layout (shingle-SET arrays joined by id, "
    "codegen array_intersect). Both containment directions + Jaccard "
    "emitted; threshold on the larger direction.",
)
def q133_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.dedup import containment_pairs, word_shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs, "doc_id", "text", n=3)
    return containment_pairs(
        docs, "doc_id", "text", threshold=0.2, shingles=sh
    )


@register(
    "q134_balanced_shards",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, n_chars,
               row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS r
        FROM documents
    )
    SELECT doc_id, n_chars,
           CAST(CASE WHEN (r // 8) % 2 = 0 THEN r % 8
                     ELSE 7 - (r % 8) END AS INT) AS shard
    FROM ranked
    """,
    doc="Byte-balanced export sharding (operators/sampling.py "
    "balanced_shards): serpentine assignment over the weight-"
    "descending order — walk shards 0..S-1 then S-1..0 so every shard "
    "draws one row per size block and alternating direction cancels "
    "within-block skew. The training-shard prep step: near-equal "
    "shard weights keep data-parallel loaders in step. The rank is "
    "global_index's range-partitioned offsets (q85's machinery — "
    "never a single-task global window); shard math is row-local "
    "codegen after it. Graded EXACTLY per doc against the oracle's "
    "row_number formulation: two different total-order machineries, "
    "same assignment.",
)
def q134_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.sampling import balanced_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return balanced_shards(docs, "n_chars", 8, "doc_id")


@register(
    "q135_threshold_sweep",
    oracle="""
    WITH g AS (
        SELECT CAST(n_chars AS DOUBLE) AS threshold,
               COUNT(*) AS n,
               SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np
        FROM documents GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS n_all, SUM(np) AS p_all FROM g),
    sw AS (
        SELECT threshold, n, np,
               CAST(SUM(n) OVER (ORDER BY threshold DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_pred,
               CAST(SUM(np) OVER (ORDER BY threshold DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS tp,
               COALESCE(SUM(n) OVER (ORDER BY threshold ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + (n + 1) / 2.0 AS avg_rank
        FROM g
    ),
    u AS (SELECT SUM(np * avg_rank) AS rank_pos FROM sw)
    SELECT sw.threshold,
           sw.n_pred,
           sw.tp,
           sw.tp * 1.0 / sw.n_pred AS prec,
           sw.tp * 1.0 / tot.p_all AS rec,
           2.0 * sw.tp / (sw.n_pred + tot.p_all) AS f1,
           (u.rank_pos - tot.p_all * (tot.p_all + 1) / 2.0)
               / (tot.p_all * (tot.n_all - tot.p_all)) AS auc
    FROM sw, tot, u
    """,
    doc="Decision-threshold calibration sweep + exact rank AUC "
    "(operators/classify.py threshold_sweep): the step that turns any "
    "scorer (q111 NB, q94 LM perplexity, a neural quality model) into "
    "a FILTER — precision/recall/F1 at every candidate cutoff plus the "
    "tie-aware Mann-Whitney AUC, all from ONE map-side-combined "
    "groupBy(score); cumulative windows run on the grouped frame "
    "(|distinct thresholds| rows — num_bins quantizes first at scale, "
    "the profile.histogram shape). Graded EXACTLY: score = n_chars, "
    "label = (lang = 'en'), every rank/cumulative quantity an exact "
    "multiple of 0.5 below 2^53 so both engines agree bit-for-bit "
    "after the registry's 6dp rounding.",
)
def q135_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.classify import threshold_sweep

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return threshold_sweep(docs, "score", "label")


@register(
    "q136_drift_report",
    oracle="""
    WITH a AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    b AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    bounds AS (
        SELECT CAST(MIN(n_chars) AS DOUBLE) AS lo,
               CAST(MAX(n_chars) AS DOUBLE) AS hi
        FROM a
    ),
    grid AS (
        SELECT CAST(t.i AS INT) AS bin_idx, lo, hi, (hi - lo) / 8.0 AS w
        FROM bounds, range(8) t(i)
    ),
    ca AS (
        SELECT CAST(LEAST(7, GREATEST(0, CASE WHEN hi > lo
                   THEN FLOOR((n_chars - lo) / ((hi - lo) / 8.0))
                   ELSE 0 END)) AS INT) AS bin_idx,
               COUNT(*) AS n
        FROM a, bounds GROUP BY 1
    ),
    cb AS (
        SELECT CAST(LEAST(7, GREATEST(0, CASE WHEN hi > lo
                   THEN FLOOR((n_chars - lo) / ((hi - lo) / 8.0))
                   ELSE 0 END)) AS INT) AS bin_idx,
               COUNT(*) AS n
        FROM b, bounds GROUP BY 1
    ),
    num AS (
        SELECT 'n_chars' AS feature, g.bin_idx,
               CAST(NULL AS VARCHAR) AS category,
               ROUND(CASE WHEN g.w > 0 THEN g.lo + g.bin_idx * g.w
                          ELSE g.lo END, 6) AS lo_edge,
               COALESCE(ca.n, 0) AS n_a, COALESCE(cb.n, 0) AS n_b
        FROM grid g
        LEFT JOIN ca ON g.bin_idx = ca.bin_idx
        LEFT JOIN cb ON g.bin_idx = cb.bin_idx
    ),
    cat1 AS (
        SELECT 'lang' AS feature, CAST(NULL AS INT) AS bin_idx,
               COALESCE(ga.v, gb.v) AS category,
               CAST(NULL AS DOUBLE) AS lo_edge,
               COALESCE(ga.n, 0) AS n_a, COALESCE(gb.n, 0) AS n_b
        FROM (SELECT lang AS v, COUNT(*) AS n FROM a GROUP BY 1) ga
        FULL OUTER JOIN
             (SELECT lang AS v, COUNT(*) AS n FROM b GROUP BY 1) gb
        ON ga.v = gb.v
    ),
    cat2 AS (
        SELECT 'source' AS feature, CAST(NULL AS INT) AS bin_idx,
               COALESCE(ga.v, gb.v) AS category,
               CAST(NULL AS DOUBLE) AS lo_edge,
               COALESCE(ga.n, 0) AS n_a, COALESCE(gb.n, 0) AS n_b
        FROM (SELECT source AS v, COUNT(*) AS n FROM a GROUP BY 1) ga
        FULL OUTER JOIN
             (SELECT source AS v, COUNT(*) AS n FROM b GROUP BY 1) gb
        ON ga.v = gb.v
    ),
    uni AS (
        SELECT * FROM num
        UNION ALL SELECT * FROM cat1
        UNION ALL SELECT * FROM cat2
    ),
    fin AS (
        SELECT *,
               COUNT(*) OVER (PARTITION BY feature) AS k,
               SUM(n_a) OVER (PARTITION BY feature) AS na,
               SUM(n_b) OVER (PARTITION BY feature) AS nb
        FROM uni
    ),
    pp AS (
        SELECT feature, bin_idx, category, lo_edge, n_a, n_b,
               (n_a + 0.5) / (na + 0.5 * k) AS pa,
               (n_b + 0.5) / (nb + 0.5 * k) AS pb
        FROM fin
    )
    SELECT feature,
           COALESCE(CAST(bin_idx AS VARCHAR), category) AS bucket,
           n_a, n_b,
           ROUND(pa, 6) AS p_a, ROUND(pb, 6) AS p_b,
           ROUND((pa - pb) * LN(pa / pb), 6) AS contrib,
           ROUND(SUM((pa - pb) * LN(pa / pb))
               OVER (PARTITION BY feature), 6) AS psi
    FROM pp
    """,
    doc="Population Stability Index drift report between two corpus "
    "snapshots (operators/profile.py drift_report): the monitoring "
    "step that catches a silently shifted crawl/mixture BEFORE "
    "training — per feature, smoothed bin proportions of reference "
    "vs candidate and psi = sum((p_a-p_b)*ln(p_a/p_b)). Numeric "
    "features bin on the REFERENCE snapshot's min/max (one broadcast "
    "one-row aggregate; candidate mass outside the reference domain "
    "clamps into edge bins so it surfaces as drift), full grid "
    "emitted; categoricals take the union of observed categories via "
    "one full-outer join of two grouped counts. Corpus-sized work is "
    "one map-side-combined groupBy per snapshot per feature; the psi "
    "windows run on K-row-per-feature frames. Graded EXACTLY on a "
    "doc_id-parity split of documents over n_chars (8 bins) + lang + "
    "source.",
)
def q136_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.profile import drift_report

    docs = load_table(spark, sf_dir, "documents")
    rep = drift_report(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        numeric_cols=["n_chars"],
        categorical_cols=["lang", "source"],
        num_bins=8,
    )
    # NULL-free graded projection: the driver's canon sorts tuples, so a
    # column NULL on some rows and typed on others would not compare.
    return rep.select(
        "feature",
        F.coalesce(F.col("bin_idx").cast("string"), F.col("category")).alias(
            "bucket"
        ),
        "n_a",
        "n_b",
        "p_a",
        "p_b",
        "contrib",
        "psi",
    )


@register(
    "q137_pq_ann",
    oracle="SELECT true AS codes_ok, true AS compresses, "
    "true AS count_ok, true AS frontier_ok, true AS recall_ok",
    doc="Product quantization for memory-bounded ANN "
    "(operators/similarity.py pq_fit/pq_encode/pq_adc_topk — Jegou et "
    "al. TPAMI 2011, the compression half of FAISS IVF-PQ): 8 "
    "subspace codebooks of 64 codes turn the 64-dim float corpus into "
    "8 small ints per vector (~32x shrink), and top-k candidates are "
    "scored off an m x k query distance table of plan literals — the "
    "scan touches ONLY the code column, so candidate generation over "
    "100 TB of floats reads the byte-sized PQ store instead. Fit is "
    "deterministic (cluster.kmeans_fit per subspace: md5-smallest-ids "
    "init, no RNG), so this grade is exactly reproducible. Graded vs "
    "a constant truth table (q104's pattern): encode conserves rows, "
    "codes within [0,64) at width 8, avg squared reconstruction "
    "error beats the 1-centroid baseline (the variance), ADC top-10 "
    "recall >= 3/10 vs the exact L2 top-10 with >= 7/10 landing in "
    "the exact top-100 (the candidate-generation contract — measured "
    "5/10 and 9/10 on this RANDOM synthetic corpus, PQ's worst case; "
    "thresholds hold margin under it).",
)
def q137_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from atiesh_spark.operators.cluster import _sq_dist
    from atiesh_spark.operators.similarity import (
        as_double,
        pq_adc_topk,
        pq_encode,
        pq_fit,
    )

    m, kc, dim = 8, 64, 64
    emb = load_table(spark, sf_dir, "embeddings")
    cbs = pq_fit(
        emb, num_subspaces=m, codebook_size=kc, iterations=3
    )
    encoded = pq_encode(emb, cbs).localCheckpoint()

    # O(d) driver digests only: the query vector and the corpus mean.
    qv = list(
        emb.filter(F.col("vec_id") == 0)
        .select(as_double("embedding").alias("v"))
        .first()["v"]
    )
    mean_row = emb.agg(
        *[
            F.avg(F.element_at(as_double("embedding"), i + 1)).alias(f"m{i}")
            for i in range(dim)
        ]
    ).first()
    mean_vec = [mean_row[f"m{i}"] for i in range(dim)]

    approx = pq_adc_topk(encoded, cbs, qv, k=10).select("vec_id")
    exact100 = (
        emb.select(
            "vec_id",
            F.round(_sq_dist(as_double("embedding"), qv), 6).alias("__d"),
        )
        .orderBy("__d", "vec_id")
        .limit(100)
        .select(
            "vec_id",
            F.row_number()
            .over(Window.orderBy("__d", "vec_id"))
            .alias("__rk"),
        )
    )
    overlap = (
        approx.join(exact100, "vec_id", "left")
        .agg(
            F.count(F.when(F.col("__rk") <= 10, 1)).alias("__o10"),
            F.count("__rk").alias("__o100"),
        )
    )
    counts = encoded.agg(
        F.count(F.lit(1)).alias("__n_enc"),
        F.sum(
            F.when(
                (F.size("codes") != m)
                | (F.array_min("codes") < 0)
                | (F.array_max("codes") >= kc),
                1,
            ).otherwise(0)
        ).alias("__n_bad"),
        F.avg("recon_err").alias("__avg_err"),
    )
    totals = emb.agg(
        F.count(F.lit(1)).alias("__n_emb"),
        F.avg(_sq_dist(as_double("embedding"), mean_vec)).alias("__base"),
    )
    return (
        overlap.crossJoin(counts)
        .crossJoin(totals)
        .select(
            (F.col("__n_bad") == 0).alias("codes_ok"),
            (F.col("__avg_err") < F.col("__base")).alias("compresses"),
            (F.col("__n_enc") == F.col("__n_emb")).alias("count_ok"),
            (F.col("__o100") >= 7).alias("frontier_ok"),
            (F.col("__o10") >= 3).alias("recall_ok"),
        )
    )


@register(
    "q138_ivf_pq_ann",
    oracle="SELECT true AS count_ok, true AS frontier_ok, "
    "true AS probed_recall_ok, true AS scan_bounded",
    doc="The full IVF-PQ index (operators/similarity.py "
    "ivf_pq_fit/encode/topk — FAISS's production shape): a "
    "deterministic coarse k-means quantizer routes every vector to a "
    "cell, PQ codebooks encode the RESIDUAL v - cell_centroid (same "
    "code budget, lower-variance target), and search probes only the "
    "n_probe cells nearest the query — on a cell-partitioned store "
    "that is partition pruning to p/C of the data BEFORE the byte-"
    "code-only ADC scan starts, the composition that makes billion-"
    "vector search interactive. Graded vs a constant truth table: "
    "encode conserves rows; the probe filter really bounds the scan "
    "(probed-cell rows < corpus, measured ~25% at C=8, p=2); ADC "
    "top-10 recall >= 4/10 vs the exact top-10 WITHIN the probed "
    "cells (isolating PQ quality from IVF pruning; measured 6/10); "
    "and >= 6/10 of the ADC top-10 land in the exact GLOBAL top-100 "
    "(measured 9/10 on this random worst-case corpus). All "
    "md5-seeded deterministic — exactly reproducible.",
)
def q138_ivf_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from atiesh_spark.operators.cluster import _sq_dist
    from atiesh_spark.operators.similarity import (
        as_double,
        ivf_pq_encode,
        ivf_pq_fit,
        ivf_pq_topk,
    )

    n_probe = 2
    emb = load_table(spark, sf_dir, "embeddings")
    cells, cbs = ivf_pq_fit(
        emb, num_cells=8, num_subspaces=8, codebook_size=64, iterations=3
    )
    encoded = ivf_pq_encode(emb, cells, cbs).localCheckpoint()

    qv = list(
        emb.filter(F.col("vec_id") == 0)
        .select(as_double("embedding").alias("v"))
        .first()["v"]
    )
    cell_d = [
        (sum((a - b) ** 2 for a, b in zip(qv, c)), i)
        for i, c in enumerate(cells)
    ]
    probes = [i for _, i in sorted(cell_d)[:n_probe]]

    approx = ivf_pq_topk(
        encoded, cells, cbs, qv, k=10, n_probe=n_probe
    ).select("vec_id")
    probed_ids = encoded.filter(F.col("cell").isin(probes)).select(
        "vec_id"
    )
    exact100 = (
        emb.select(
            "vec_id",
            F.round(_sq_dist(as_double("embedding"), qv), 6).alias("__d"),
        )
        .orderBy("__d", "vec_id")
        .limit(100)
        .select(
            "vec_id",
            F.row_number().over(Window.orderBy("__d", "vec_id")).alias("__rk"),
        )
    )
    exact_probed10 = (
        emb.join(probed_ids, "vec_id")
        .select(
            "vec_id",
            F.round(_sq_dist(as_double("embedding"), qv), 6).alias("__d"),
        )
        .orderBy("__d", "vec_id")
        .limit(10)
        .select("vec_id", F.lit(1).alias("__p"))
    )
    overlap = (
        approx.join(exact100, "vec_id", "left")
        .join(exact_probed10, "vec_id", "left")
        .agg(
            F.count("__rk").alias("__o100"),
            F.count("__p").alias("__op10"),
        )
    )
    counts = encoded.agg(
        F.count(F.lit(1)).alias("__n_enc"),
        F.sum(F.when(F.col("cell").isin(probes), 1).otherwise(0)).alias(
            "__n_scanned"
        ),
    )
    totals = emb.agg(F.count(F.lit(1)).alias("__n_emb"))
    return (
        overlap.crossJoin(counts)
        .crossJoin(totals)
        .select(
            (F.col("__n_enc") == F.col("__n_emb")).alias("count_ok"),
            (F.col("__o100") >= 6).alias("frontier_ok"),
            (F.col("__op10") >= 4).alias("probed_recall_ok"),
            (F.col("__n_scanned") < F.col("__n_emb")).alias("scan_bounded"),
        )
    )


@register(
    "q140_quantile_rollup",
    oracle="""
    WITH base AS (
        SELECT ts, CAST(value AS DOUBLE) AS v FROM events
        WHERE value IS NOT NULL
    ),
    bounds AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM base),
    binned AS (
        SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS bucket,
               CAST(LEAST(63, GREATEST(0, CASE WHEN hi > lo
                   THEN FLOOR((v - lo) / ((hi - lo) / 64.0))
                   ELSE 0 END)) AS INT) AS bin
        FROM base, bounds
    ),
    hist AS (SELECT bucket, bin, COUNT(*) AS n FROM binned GROUP BY 1, 2),
    cum AS (
        SELECT bucket, bin,
               SUM(n) OVER (PARTITION BY bucket ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
               SUM(n) OVER (PARTITION BY bucket) AS n_rows
        FROM hist
    ),
    hits AS (
        SELECT bucket, CAST(q AS DOUBLE) AS q,
               MIN(bin) AS bin, MAX(n_rows) AS n_rows
        FROM cum CROSS JOIN (VALUES (0.5), (0.95), (0.99)) qs(q)
        WHERE c >= q * n_rows
        GROUP BY bucket, q
    )
    SELECT h.bucket, h.q,
           ROUND(CASE WHEN b.hi > b.lo
                 THEN b.lo + (h.bin + 1) * (b.hi - b.lo) / 64.0
                 ELSE b.lo END, 6) AS est,
           CAST(h.n_rows AS BIGINT) AS n_rows
    FROM hits h, bounds b
    """,
    doc="Mergeable quantile rollup (operators/rollup.py "
    "quantile_rollup): per-month p50/p95/p99 of the event value "
    "computed by MERGING per-day fixed-grid histogram counts — the "
    "quantile companion to q120's HLL story: exact percentiles are "
    "not mergeable (every coarser window re-sorts raw data), but "
    "histogram counts are a commutative monoid (vector addition), so "
    "one raw scan serves every nesting coarser period with "
    "bucket-count-sized sums. Estimate = right edge of the first bin "
    "reaching q*n, absolute error bounded by one bin width (64 bins "
    "here; unit test pins |est - exact percentile| <= width at both "
    "levels and merged == direct). Graded EXACTLY: the oracle builds "
    "the monthly histogram directly — two different aggregation "
    "routes, identical counts and estimates.",
)
def q140_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.rollup import quantile_rollup

    events = load_table(spark, sf_dir, "events")
    _, coarse = quantile_rollup(
        events, "ts", "value", fine="day", coarse="month", num_bins=64
    )
    return coarse


@register(
    "q141_unigram_tokenizer",
    oracle="SELECT true AS compress_ok, true AS coverage_ok, "
    "true AS probs_ok, true AS reconstruct_ok, true AS vocab_ok",
    doc="Unigram-LM tokenizer induction (operators/tokenize.py "
    "unigram_learn/unigram_tokenize — Kudo 2018 arXiv:1804.10959, "
    "SentencePiece's other algorithm, completing the tokenizer family "
    "next to BPE q105/q106/q108/q123): seed vocabulary = top "
    "frequency*length substrings of the WORD TABLE plus every "
    "character, then hard-EM rounds of Viterbi segmentation + "
    "usage re-estimation + budget pruning (single chars never pruned "
    "— open-vocabulary coverage by construction). The corpus "
    "shuffles once (word_freq_table); substring explode, Viterbi "
    "pandas UDF, and usage groupBy all run vocab-bounded; the driver "
    "sees piece tables only. Graded vs constant truth: vocab within "
    "budget and duplicate-free, every corpus character covered "
    "(in-plan anti-join), exp(logp) sums to 1, corpus-wide "
    "reconstruction (concat(tokens) == whitespace-stripped text for "
    "EVERY doc, apply-side Viterbi == learn-side by shared code), "
    "and genuine compression (fewer tokens than characters).",
)
def q141_unigram_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from atiesh_spark.operators.tokenize import (
        unigram_learn,
        unigram_tokenize,
        word_freq_table,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pieces = unigram_learn(
        docs,
        "text",
        target_vocab=256,
        em_rounds=2,
        max_piece_len=6,
        seed_size=2048,
    )
    table = dict(pieces)
    vocab_ok = len(pieces) <= 256 and len(table) == len(pieces)
    probs_ok = abs(sum(math.exp(lp) for lp in table.values()) - 1.0) < 1e-9

    single = spark.createDataFrame(
        [(p,) for p in table if len(p) == 1], "ch string"
    )
    corpus_chars = (
        word_freq_table(docs, "text")
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.col("word").substr(i, F.lit(1)),
                )
            ).alias("ch")
        )
        .distinct()
    )
    uncovered = corpus_chars.join(F.broadcast(single), "ch", "left_anti")

    toks = unigram_tokenize(docs, "text", pieces, max_piece_len=6)
    stripped = F.regexp_replace(F.col("text"), r"\s+", "")
    checks = toks.agg(
        F.sum(
            F.when(F.concat_ws("", F.col("tokens")) != stripped, 1).otherwise(0)
        ).alias("__bad"),
        F.sum(F.size("tokens")).alias("__n_tok"),
        F.sum(F.length(stripped)).alias("__n_chr"),
    )
    return (
        checks.crossJoin(
            F.broadcast(uncovered.agg(F.count(F.lit(1)).alias("__miss")))
        )
        .select(
            (F.col("__n_tok") < F.col("__n_chr")).alias("compress_ok"),
            (F.col("__miss") == 0).alias("coverage_ok"),
            F.lit(probs_ok).alias("probs_ok"),
            (F.col("__bad") == 0).alias("reconstruct_ok"),
            F.lit(vocab_ok).alias("vocab_ok"),
        )
    )


@register(
    "q142_clean_corpus_stream_replay",
    oracle="""
    WITH d AS (
        SELECT doc_id, replace(text, ' batch ', chr(10)) AS text
        FROM documents
    ),
    t0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
    lns AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ls)),
                      i -> struct_pack(ord := i, line := ls[i]))) AS s
        FROM t0
    ),
    l2 AS (SELECT doc_id, s.ord AS ord, s.line AS line,
                  trim(s.line) AS norm FROM lns),
    common AS (
        SELECT norm FROM l2 WHERE norm <> ''
        GROUP BY norm HAVING count(DISTINCT doc_id) >= 2
    ),
    kept AS (
        SELECT doc_id, ord, line FROM l2
        WHERE norm NOT IN (SELECT norm FROM common)
    ),
    reb AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY ord) AS clean_text,
               count(*) AS n_lines_kept
        FROM kept GROUP BY doc_id
    )
    SELECT t0.doc_id, coalesce(reb.clean_text, '') AS clean_text,
           coalesce(reb.n_lines_kept, 0) AS n_lines_kept,
           len(t0.ls) - coalesce(reb.n_lines_kept, 0) AS n_lines_removed
    FROM t0 LEFT JOIN reb USING (doc_id)
    """,
    doc="StreamingCleanCorpus end-to-end composite, driver-graded "
    "(operators/corpus.py StreamingCleanCorpus): the round-5 verdict's "
    "ask — TWO maintenance loops composed in ONE foreachBatch function. "
    "Documents stream in as 3 hash-split batches; each batch merges "
    "line frequencies into the versioned freq store AND maintains a "
    "continuously-clean corpus store, retroactively re-cleaning only "
    "the stored docs whose postings hit the digests that crossed the "
    "df>=2 threshold in that merge (boilerplate monotonicity makes "
    "cleaning clean_text against the delta exact). Final batch replayed "
    "under the same id (VersionedStore convergence); the final clean "
    "store must hash-equal the one-shot batch line_dedup over the whole "
    "corpus — q68's oracle. Streaming story upgrade: q125 graded the "
    "frequency store alone; this grades frequencies FEEDING line_dedup "
    "continuously, the brief's curation pipeline as a live stream.",
)
def q142_clean_corpus_stream_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from atiesh_spark.operators.corpus import StreamingCleanCorpus

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr("replace(text, ' batch ', chr(10))").alias("text")
    )
    chunks = [F.col("doc_id") % 3 == i for i in range(3)]
    tmp = tempfile.mkdtemp(prefix="cleancorpus_replay_")
    try:
        cc = StreamingCleanCorpus("doc_id", "text", tmp, max_doc_freq=2)
        _replay_chunks(docs, cc, chunks)
        final = cc.read(spark).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


@register(
    "q143_ivf_pq_bench",
    oracle="SELECT true AS count_ok, true AS scan_bounded, "
    "true AS codes_ok",
    doc="Reduced-iteration IVF-PQ bench cell (operators/similarity.py "
    "ivf_pq_fit/encode/topk at 1 Lloyd round): the round-5 verdict's "
    "ask — q137/q138 are solo-recorded and scale-probed but too slow "
    "(26-43 s, mostly fixed per-job overhead x 3 fit rounds + exact-"
    "rank grading) for the per-round headline diff, so a plan "
    "regression in the ANN-compression family would only surface in "
    "the once-per-round probe. This cell runs the SAME plan shapes — "
    "coarse assign, residual PQ fit, zero-shuffle encode, cell-probed "
    "ADC scan — at 1 round with no exact-rank checks, cheap enough to "
    "diff every round. Graded on structure only (rows conserved, "
    "probe filter bounds the scan, codes in range); recall quality "
    "stays q137/q138's job.",
)
def q143_ivf_pq_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.similarity import (
        as_double,
        ivf_pq_encode,
        ivf_pq_fit,
        ivf_pq_topk,
    )

    m, kc = 8, 16
    emb = load_table(spark, sf_dir, "embeddings")
    cells, cbs = ivf_pq_fit(
        emb, num_cells=8, num_subspaces=m, codebook_size=kc, iterations=1
    )
    encoded = ivf_pq_encode(emb, cells, cbs).localCheckpoint()
    qv = list(
        emb.filter(F.col("vec_id") == 0)
        .select(as_double("embedding").alias("v"))
        .first()["v"]
    )
    topk = ivf_pq_topk(encoded, cells, cbs, qv, k=10, n_probe=2)
    probes = [
        i
        for _, i in sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, c)), i)
            for i, c in enumerate(cells)
        )[:2]
    ]
    stats = encoded.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(
            F.when(F.col("cell").isin(probes), 1).otherwise(0)
        ).alias("__scanned"),
        F.max(F.array_max("codes")).alias("__cmax"),
        F.min(F.array_min("codes")).alias("__cmin"),
    ).first()
    n_emb = emb.count()
    return spark.createDataFrame(
        [
            (
                bool(stats["__n"] == n_emb and topk.count() == 10),
                bool(0 < stats["__scanned"] < stats["__n"]),
                bool(0 <= stats["__cmin"] and stats["__cmax"] < kc),
            )
        ],
        "count_ok boolean, scan_bounded boolean, codes_ok boolean",
    )


def _psl_sql_list() -> str:
    """The embedded suffix snapshot (ICANN + private sections) as a
    SQL IN-list, generated from the SAME tuple the Spark side compiles
    into its InSet — the two engines cannot drift."""
    from atiesh_spark.operators.web import ALL_SUFFIXES_2

    return ", ".join(f"'{s}'" for s in ALL_SUFFIXES_2)


@register(
    "q144_url_canonicalize",
    oracle=r"""
    WITH urls AS (
        SELECT doc_id,
               (CASE doc_id % 3 WHEN 0 THEN 'HTTPS' WHEN 1 THEN 'http'
                     ELSE 'https' END)
               || '://'
               || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
               || source || '.Example.COM'
               || (CASE WHEN doc_id % 5 = 0 THEN ':443'
                        WHEN doc_id % 7 = 0 THEN ':8080'
                        WHEN doc_id % 11 = 0 THEN ':80' ELSE '' END)
               || '/docs//' || lang
               || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
               || '?utm_source=x&b=' || (doc_id % 7) || '&a=' || (doc_id % 3)
               || (CASE WHEN doc_id % 2 = 0 THEN '&gclid=g' ELSE '' END)
               || '#s' || (doc_id % 5) AS url
        FROM documents
    ),
    parts AS (
        SELECT doc_id, url,
               lower(regexp_extract(url,
                 '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$',
                 1)) AS scheme,
               lower(regexp_extract(url,
                 '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$',
                 2)) AS hp,
               regexp_extract(url,
                 '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$',
                 3) AS raw_path,
               regexp_extract(url,
                 '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$',
                 4) AS raw_q
        FROM urls
    ),
    norm AS (
        SELECT doc_id, url, scheme,
               regexp_replace(regexp_replace(hp, ':[0-9]+$', ''),
                              '^www\.', '') AS host,
               regexp_extract(hp, ':([0-9]+)$', 1) AS port,
               CASE WHEN regexp_replace(regexp_replace(raw_path, '/{2,}', '/',
                         'g'), '(.)/$', '\1') = ''
                    THEN '/'
                    ELSE regexp_replace(regexp_replace(raw_path, '/{2,}', '/',
                         'g'), '(.)/$', '\1') END AS path,
               array_to_string(list_sort(list_filter(
                   string_split(ltrim(raw_q, '?'), '&'),
                   p -> p <> '' AND NOT regexp_matches(p,
                       '^(utm_[^=]*|fbclid|gclid|ref|mc_eid)(=.*)?$'))),
                   '&') AS q
        FROM parts
    )
    SELECT doc_id, url, host,
           CASE WHEN len(string_split(host, '.')) >= 3
                     AND string_split(host, '.')[-2] || '.'
                         || string_split(host, '.')[-1]
                         IN (__PSL_LIST__)
                THEN string_split(host, '.')[-3] || '.'
                     || string_split(host, '.')[-2] || '.'
                     || string_split(host, '.')[-1]
                WHEN len(string_split(host, '.')) >= 2
                THEN string_split(host, '.')[-2] || '.'
                     || string_split(host, '.')[-1]
                ELSE host END AS registered_domain,
           path AS path_canonical,
           scheme || '://' || host
           || (CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                    OR (scheme = 'https' AND port = '443'))
                    THEN ':' || port ELSE '' END)
           || path
           || (CASE WHEN q <> '' THEN '?' || q ELSE '' END) AS canonical_url
    FROM norm
    """.replace("__PSL_LIST__", _psl_sql_list()),
    doc="URL canonicalization (operators/web.py canonicalize_urls): "
    "the first step of every crawl-derived pipeline — scheme/host "
    "lowercasing, www. strip, default-port strip (non-default ports "
    "kept), fragment drop, tracking-parameter removal (utm_*/fbclid/"
    "gclid/ref/mc_eid), byte-order query-param sort, duplicate-slash "
    "collapse and trailing-slash drop — so URL-keyed dedup and "
    "per-domain caps (q90) see one key per resource. Messy URLs are "
    "synthesized deterministically from doc_id/source/lang in BOTH "
    "engines (the q68 synthesis pattern) covering every rule incl. "
    ":443-on-http (kept) and :80-on-https (kept). All row-local "
    "codegen — regexp_extract/split/array_sort, zero shuffles, zero "
    "Python UDFs: canonicalizing 100 TB of URLs rides the scan for "
    "free. Graded EXACTLY per row (hash over 6 columns).",
)
def q144_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.web import canonicalize_urls

    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.when(d % 3 == 0, F.lit("HTTPS"))
            .when(d % 3 == 1, F.lit("http"))
            .otherwise(F.lit("https")),
            F.lit("://"),
            F.when(d % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
            F.col("source"),
            F.lit(".Example.COM"),
            F.when(d % 5 == 0, F.lit(":443"))
            .when(d % 7 == 0, F.lit(":8080"))
            .when(d % 11 == 0, F.lit(":80"))
            .otherwise(F.lit("")),
            F.lit("/docs//"),
            F.col("lang"),
            F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
            F.lit("?utm_source=x&b="),
            (d % 7).cast("string"),
            F.lit("&a="),
            (d % 3).cast("string"),
            F.when(d % 2 == 0, F.lit("&gclid=g")).otherwise(F.lit("")),
            F.lit("#s"),
            (d % 5).cast("string"),
        ).alias("url"),
    )
    return canonicalize_urls(docs, "url").select(
        "doc_id", "url", "host", "registered_domain",
        "path_canonical", "canonical_url",
    )


@register(
    "q145_heavy_hitters",
    oracle="""
    WITH words AS (
        SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                  t -> length(t) > 0)) AS word
        FROM documents
    )
    SELECT CAST(count(DISTINCT word) AS BIGINT) AS n_items,
           CAST(count(*) // 65 AS BIGINT) AS error_bound,
           true AS all_within_bound,
           true AS never_overcounts,
           true AS guaranteed_items_present
    FROM words
    """,
    doc="Distributed Misra-Gries heavy hitters (operators/frequent.py "
    "heavy_hitters): top-token/top-domain reports with k counters per "
    "partition instead of a full distinct-key shuffle — summaries are "
    "mergeable (Agarwal et al. PODS 2012) by per-item counter sum, "
    "preserving the DETERMINISTIC bound exact - n/(k+1) <= est <= "
    "exact and the guarantee that every item above n/(k+1) survives. "
    "One mapInPandas pass (the sketch is sequential per partition — "
    "the legitimate Pandas-UDF case), then a groupBy over <= "
    "partitions x k rows: a few-MB shuffle at any corpus size. Graded "
    "at k=64 over the corpus word stream: n_items and the bound are "
    "exact cross-engine values; the three booleans audit the sketch "
    "against the exact counts (estimates are arrival-order-dependent "
    "WITHIN the bound, so the bound is the contract, not the values).",
)
def q145_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.frequent import heavy_hitters_report

    words = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", r"\s+")).alias("word"))
        .filter(F.col("word") != "")
    )
    return heavy_hitters_report(words, "word", k=64)


@register(
    "q146_markup_strip",
    oracle=r"""
    WITH html AS (
        SELECT doc_id,
               '<html><head><style>p{margin:0}</style><script>var x='
               || doc_id || ';</script></head><body><!-- id ' || doc_id
               || ' --><h1>Doc ' || doc_id || '</h1><p>'
               || replace(text, ' batch ', '</p><p>')
               || '</p><div>tail&nbsp;&amp;amp;&lt;' || lang
               || '&gt;</div></body></html>' AS raw
        FROM documents
    ),
    s1 AS (SELECT doc_id, regexp_replace(raw,
            '(?is)<script\b[^>]*>.*?</script\s*>|<style\b[^>]*>.*?</style\s*>',
            '', 'g') AS t FROM html),
    s2 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', '', 'g')
           AS t FROM s1),
    s3 AS (SELECT doc_id, regexp_replace(t,
            '(?i)<\s*(?:br\s*/?|/(?:p|div|li|h[1-6]|tr|table|ul|ol|blockquote))\s*>',
            chr(10), 'g') AS t FROM s2),
    s4 AS (SELECT doc_id, regexp_replace(t, '<[^>]+>', '', 'g') AS t FROM s3),
    s5 AS (SELECT doc_id,
            replace(replace(replace(replace(replace(replace(t,
                '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS t FROM s4),
    s6 AS (SELECT doc_id, regexp_replace(t, '[ \t]+', ' ', 'g') AS t FROM s5),
    s7 AS (SELECT doc_id, regexp_replace(t, ' ?\n ?', chr(10), 'g')
           AS t FROM s6),
    s8 AS (SELECT doc_id, regexp_replace(t, '\n{3,}', chr(10) || chr(10), 'g')
           AS t FROM s7)
    SELECT doc_id, trim(t) AS clean_text FROM s8
    """,
    doc="Markup stripping (functions/text.py strip_markup): the text-"
    "extraction step between a crawl snapshot and every text operator "
    "— script/style elements dropped wholesale, comments dropped, "
    "block-level closers and <br> become newlines (paragraph structure "
    "survives as lines for line_dedup/chunking), remaining tags "
    "removed, the six ubiquitous entities decoded (&amp; LAST, so "
    "double-escaped text decodes exactly one level), whitespace "
    "collapsed. Deliberately a tag stripper, not a DOM parser. HTML is "
    "synthesized deterministically around each document's text in both "
    "engines; graded EXACTLY per row. Row-local chained "
    "regexp_replace codegen — zero shuffles, zero Python UDFs; the "
    "oracle mirrors it with RE2-safe alternation (no backreferences).",
)
def q146_markup_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.functions.text import strip_markup

    d = F.col("doc_id").cast("string")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("<html><head><style>p{margin:0}</style><script>var x="),
            d,
            F.lit(";</script></head><body><!-- id "),
            d,
            F.lit(" --><h1>Doc "),
            d,
            F.lit("</h1><p>"),
            F.expr("replace(text, ' batch ', '</p><p>')"),
            F.lit("</p><div>tail&nbsp;&amp;amp;&lt;"),
            F.col("lang"),
            F.lit("&gt;</div></body></html>"),
        ).alias("raw"),
    )
    return docs.select(
        "doc_id", strip_markup("raw").alias("clean_text")
    )


@register(
    "q147_ann_index_delete_replay",
    oracle="""
    WITH survivors AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE (vec_id % 3 = 0 AND vec_id % 9 <> 0)
           OR vec_id % 27 = 0
           OR (vec_id % 3 = 1 AND vec_id % 9 <> 1)
           OR vec_id % 3 = 2
    ),
    v AS (
        SELECT vec_id,
               generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS d,
               unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM survivors
    ),
    signs AS (
        SELECT p, d,
               ((('0x' || substring(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 1))::INT % 2) * 2 - 1)::DOUBLE AS sgn
        FROM (SELECT unnest(generate_series(0, 3)) AS p),
             (SELECT unnest(generate_series(0, 63)) AS d)
    ),
    proj AS (
        SELECT v.vec_id, s.p, round(SUM(v.x * s.sgn), 6) AS pr
        FROM v JOIN signs s ON v.d = s.d
        GROUP BY v.vec_id, s.p
    )
    SELECT vec_id,
           string_agg(CASE WHEN pr > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
    FROM proj GROUP BY vec_id
    """,
    doc="StreamingAnnIndex DELETE/tombstone contract, driver-graded "
    "(operators/similarity.py StreamingAnnIndex with op_col): q130 "
    "graded append-only growth; production embedding stores also "
    "retract (documents removed for takedown/licensing, re-embedded "
    "under a new model). CDC-shaped batches stream in: batch 1 upserts "
    "ids=0 mod 3; batch 2 upserts ids=1 mod 3 and deletes ids=0 mod 9; "
    "batch 3 upserts ids=2 mod 3, RE-inserts ids=0 mod 27 (previously "
    "deleted), and deletes ids=1 mod 9; batch 3 then replays under the "
    "same id (VersionedStore convergence). The final store must "
    "hash-equal the one-shot signature build over exactly the keys "
    "whose last operation was an upsert — mirrored independently by "
    "the DuckDB sign/projection SQL over the surviving-key predicate. "
    "Deletes are one broadcast anti-join folded into the same "
    "key-replacement join upserts already needed; no tombstone rows "
    "are stored, so reads never filter.",
)
def q147_ann_index_delete_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from atiesh_spark.operators.similarity import StreamingAnnIndex

    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("vec_id")
    up = F.lit("upsert")
    batches = [
        emb.filter(v % 3 == 0).withColumn("op", up),
        emb.filter(v % 3 == 1)
        .withColumn("op", up)
        .unionByName(
            emb.filter(v % 9 == 0).withColumn("op", F.lit("delete"))
        ),
        emb.filter((v % 3 == 2) | (v % 27 == 0))
        .withColumn("op", up)
        .unionByName(
            emb.filter(v % 9 == 1).withColumn("op", F.lit("delete"))
        ),
    ]
    tmp = tempfile.mkdtemp(prefix="ann_delete_replay_")
    try:
        idx = StreamingAnnIndex(tmp, num_planes=4, op_col="op")
        for i, b in enumerate(batches):
            idx(b, i + 1)
        idx(batches[-1], len(batches))
        final = idx.read(spark).select("vec_id", "bucket").localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


@register(
    "q148_intra_doc_line_dedup",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               replace(text, ' batch ', chr(10))
               || chr(10) || 'footer' || chr(10) || 'mid' || chr(10)
               || 'footer' AS text
        FROM documents
    ),
    t0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
    lns AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ls)),
                      i -> struct_pack(ord := i, line := ls[i]))) AS s
        FROM t0
    ),
    l2 AS (SELECT doc_id, s.ord AS ord, s.line AS line,
                  trim(s.line) AS norm FROM lns),
    ranked AS (
        SELECT doc_id, ord, line, norm,
               row_number() OVER (PARTITION BY doc_id, norm
                                  ORDER BY ord) AS rn
        FROM l2
    ),
    kept AS (
        SELECT doc_id, ord, line FROM ranked
        WHERE norm = '' OR rn = 1
    )
    SELECT t0.doc_id,
           coalesce(string_agg(k.line, chr(10) ORDER BY k.ord), '')
               AS clean_text,
           CAST(count(k.ord) AS BIGINT) AS n_lines_kept,
           CAST(len(t0.ls) - count(k.ord) AS BIGINT) AS n_lines_removed
    FROM t0 LEFT JOIN kept k USING (doc_id)
    GROUP BY t0.doc_id, t0.ls
    """,
    doc="Intra-document line dedup (operators/corpus.py "
    "intra_doc_line_dedup): the complement of q68's cross-document C4 "
    "rule — scraped pages repeat their own nav/footer blocks "
    "internally (q57 MEASURES this repetition; this repairs it), so "
    "any line whose trimmed form matched an earlier line in the SAME "
    "document is dropped, first occurrence kept, empty lines kept as "
    "structure. Entirely row-local: one aggregate() higher-order walk "
    "over the split lines with a (seen-digests, kept-lines) "
    "accumulator — ZERO shuffles, zero Python UDFs, rides the scan at "
    "any corpus size (contrast q68's corpus-wide frequency shuffle: "
    "different rule, different plan floor). A repeated 'footer' line "
    "is synthesized around every doc in both engines so the rule "
    "always has work; graded EXACTLY per row.",
)
def q148_intra_doc_line_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from atiesh_spark.operators.corpus import intra_doc_line_dedup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.expr("replace(text, ' batch ', chr(10))"),
            F.lit("\nfooter\nmid\nfooter"),
        ).alias("text"),
    )
    return intra_doc_line_dedup(docs, "doc_id", "text")


@register(
    "q149_gopher_rules",
    oracle=r"""
    WITH d AS (
        SELECT doc_id,
               replace(text, ' batch ', chr(10))
               || (CASE WHEN doc_id % 4 = 0 THEN ' # # #' ELSE '' END)
               || (CASE WHEN doc_id % 5 = 0
                        THEN chr(10) || '- bullet point' ELSE '' END)
               || (CASE WHEN doc_id % 3 = 0
                        THEN chr(10) || 'trailing...' ELSE '' END)
               AS text
        FROM documents
    ),
    base AS (
        SELECT doc_id, text,
               list_filter(regexp_split_to_array(text, '\s+'),
                           t -> length(t) > 0) AS ws,
               list_filter(string_split(text, chr(10)),
                           x -> trim(x) <> '') AS lns
        FROM d
    ),
    m AS (
        SELECT doc_id,
               len(ws) AS n_words,
               round(list_aggregate(list_transform(ws, w -> length(w)),
                     'sum') * 1.0 / len(ws), 6) AS mean_word_len,
               round(((length(text) - length(replace(text, '#', '')))
                      + (length(text) - length(replace(text, '...', ''))) / 3)
                     * 1.0 / len(ws), 6) AS symbol_word_ratio,
               round(len(list_filter(lns,
                     x -> regexp_matches(x, '^\s*([-*•])'))) * 1.0
                     / len(lns), 6) AS bullet_line_frac,
               round(len(list_filter(lns,
                     x -> regexp_matches(x, '(\.\.\.|…)\s*$'))) * 1.0
                     / len(lns), 6) AS ellipsis_line_frac,
               round(len(list_filter(ws,
                     w -> regexp_matches(w, '[A-Za-z]'))) * 1.0
                     / len(ws), 6) AS alpha_word_frac,
               len(list_filter(
                   ['the','be','to','of','and','that','have','with'],
                   s -> list_contains(list_transform(ws, w -> lower(w)), s)))
                   AS n_stop_words
        FROM base
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           mean_word_len, symbol_word_ratio, bullet_line_frac,
           ellipsis_line_frac, alpha_word_frac,
           CAST(n_stop_words AS BIGINT) AS n_stop_words,
           (n_words >= 15 AND n_words <= 100000) AS ok_word_count,
           (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_word_len,
           (symbol_word_ratio <= 0.1) AS ok_symbol_ratio,
           (bullet_line_frac <= 0.3) AS ok_bullets,
           (ellipsis_line_frac <= 0.3) AS ok_ellipsis,
           (alpha_word_frac >= 0.8) AS ok_alpha,
           (n_stop_words >= 1) AS ok_stop_words,
           ((n_words >= 15 AND n_words <= 100000)
            AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
            AND symbol_word_ratio <= 0.1
            AND bullet_line_frac <= 0.3
            AND ellipsis_line_frac <= 0.3
            AND alpha_word_frac >= 0.8
            AND n_stop_words >= 1) AS pass
    FROM m
    """,
    doc="Gopher quality gate (operators/textstats.py gopher_rules; Rae "
    "et al. 2021 Appendix A): the composite curation DECISION behind "
    "MassiveText — q32-q35/q57 expose individual signals, this emits "
    "one boolean per rule (word count, mean word length, symbol-to-"
    "word ratio, bullet/ellipsis line fractions, alpha-word fraction, "
    "stop-word presence) plus the conjunction, keeping the measured "
    "values so thresholds can be re-audited offline. Docs are "
    "decorated deterministically (hashes, a bullet line, a trailing "
    "ellipsis on modular classes) so every rule has both outcomes in "
    "the graded corpus; thresholds tightened to the corpus range "
    "(min_words=15, bullets<=0.3, stop>=1) for the same reason. All "
    "row-local higher-order-function codegen — zero shuffles, zero "
    "Python UDFs; graded EXACTLY per row across 16 columns.",
)
def q149_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.textstats import gopher_rules

    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.expr("replace(text, ' batch ', chr(10))"),
            F.when(d % 4 == 0, F.lit(" # # #")).otherwise(F.lit("")),
            F.when(d % 5 == 0, F.lit("\n- bullet point")).otherwise(F.lit("")),
            F.when(d % 3 == 0, F.lit("\ntrailing...")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return gopher_rules(
        docs, "doc_id", "text",
        min_words=15, max_bullet_line_frac=0.3, min_stop_words=1,
    )


@register(
    "q150_dataset_card",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, lang AS grp, length(text) AS chars,
               len(list_filter(regexp_split_to_array(text, '\s+'),
                   t -> length(t) > 0)) AS words,
               md5(text) AS h
        FROM documents
    ),
    freq AS (SELECT h, count(*) AS n FROM base GROUP BY h),
    flagged AS (
        SELECT b.*, CASE WHEN f.n > 1 THEN 1 ELSE 0 END AS dup
        FROM base b JOIN freq f USING (h)
    ),
    tot AS (SELECT count(*) AS t FROM flagged)
    SELECT grp AS lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(count(*) * 1.0 / tot.t, 6) AS doc_share,
           CAST(sum(chars) AS BIGINT) AS total_chars,
           round(avg(chars), 6) AS mean_chars,
           round(quantile_cont(chars, 0.5), 6) AS p50_chars,
           round(quantile_cont(chars, 0.95), 6) AS p95_chars,
           round(avg(words), 6) AS mean_words,
           CAST(sum(dup) AS BIGINT) AS n_exact_dup_docs,
           round(avg(dup), 6) AS dup_share
    FROM flagged, tot GROUP BY grp, tot.t
    """,
    doc="Dataset card (operators/profile.py dataset_card): the per-"
    "group release table — doc counts and corpus share, char totals/"
    "means, exact interpolated p50/p95 lengths (Spark percentile ≡ "
    "DuckDB quantile_cont, the q78 contract), mean words, and exact-"
    "duplicate counts/shares where a doc is a dup when its md5(text) "
    "occurs more than once CORPUS-WIDE (what exact_dedup would remove "
    "from that group's slice). One plan: a 16-byte digest groupBy for "
    "dup counts joined back (raw text never shuffles twice), one "
    "map-side-combined groupBy(lang), totals as a broadcast one-row "
    "frame. Composes q74's column profile, q24's dedup, and q78's "
    "percentiles into the single table a dataset release actually "
    "ships.",
)
def q150_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.profile import dataset_card

    docs = load_table(spark, sf_dir, "documents")
    return dataset_card(docs, "lang", "text", "doc_id")


@register(
    "q151_wordpiece_tokenizer",
    oracle=r"""
    WITH w AS (
        SELECT word, count(*) AS n_word FROM (
            SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                      t -> length(t) > 0)) AS word
            FROM documents) GROUP BY word
    ),
    sym AS (
        SELECT word, n_word,
               list_transform(generate_series(1, length(word)),
                   i -> CASE WHEN i = 1 THEN word[i:i]
                             ELSE '##' || word[i:i] END) AS s
        FROM w
    ),
    pairs AS (
        SELECT s[i] AS a, s[i + 1] AS b, SUM(n_word) AS n_pairs
        FROM sym, unnest(generate_series(1, len(s) - 1)) AS t(i)
        GROUP BY 1, 2
    ),
    un AS (
        SELECT x AS sm, SUM(n_word) AS n_s
        FROM sym, unnest(s) AS u(x) GROUP BY 1
    )
    SELECT p.a AS first_merge_a, p.b AS first_merge_b,
           true AS all_reconstruct, true AS no_unk_on_train,
           true AS vocab_covers_merges, true AS compresses
    FROM pairs p JOIN un ua ON ua.sm = p.a JOIN un ub ON ub.sm = p.b
    WHERE p.n_pairs >= 2
    ORDER BY round(p.n_pairs / (ua.n_s * ub.n_s), 9) DESC, p.a, p.b
    LIMIT 1
    """,
    doc="WordPiece tokenizer induction + apply (operators/tokenize.py "
    "wordpiece_learn/wordpiece_tokenize; Schuster & Nakajima 2012, the "
    "BERT tokenizer) — completes the tokenizer family next to BPE "
    "(q106/q123, frequency scoring) and unigram-LM (q141, EM pruning): "
    "same vocab-bounded word-table loop, but the merge argmax is the "
    "LIKELIHOOD score count(ab)/(count(a)*count(b)) over ##-marked "
    "symbols, and apply is greedy longest-match-first with BERT's "
    "whole-word [UNK] rule (Arrow pandas UDF memoized per distinct "
    "word, the unigram seam). Graded two ways: the FIRST merge is an "
    "exact cross-engine value (iteration zero is one pair-count + one "
    "unary-count aggregation, mirrored in DuckDB with the same "
    "round-9 score tie-break), and the learned-then-applied tokenizer "
    "must reconstruct every training doc (ws-stripped), emit no UNK "
    "on its own corpus, cover every merge in the vocab, and genuinely "
    "compress vs character count.",
)
def q151_wordpiece_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.tokenize import (
        wordpiece_learn,
        wordpiece_tokenize,
        _wp_merged,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges, vocab = wordpiece_learn(docs, "text", num_merges=8, min_pair_count=2)
    toks = wordpiece_tokenize(docs, "text", vocab)
    rebuilt = F.array_join(
        F.transform(
            F.col("tokens"),
            lambda p: F.when(
                p.startswith("##"), p.substr(F.lit(3), F.length(p))
            ).otherwise(p),
        ),
        "",
    )
    stripped = F.regexp_replace(F.col("text"), r"\s+", "")
    agg = toks.agg(
        F.min(rebuilt == stripped).alias("__rec"),
        F.min(~F.array_contains("tokens", "[UNK]")).alias("__nounk"),
        F.sum(F.size("tokens")).alias("__ntok"),
        F.sum(F.length(stripped)).alias("__nchr"),
    ).first()
    vset = set(vocab)
    covers = all(_wp_merged(a, b) in vset for _, a, b, _, _ in merges)
    return spark.createDataFrame(
        [
            (
                merges[0][1],
                merges[0][2],
                bool(agg["__rec"]),
                bool(agg["__nounk"]),
                bool(covers),
                bool(agg["__ntok"] < agg["__nchr"]),
            )
        ],
        "first_merge_a string, first_merge_b string, "
        "all_reconstruct boolean, no_unk_on_train boolean, "
        "vocab_covers_merges boolean, compresses boolean",
    )


@register(
    "q152_sentence_chunks",
    oracle=r"""
    WITH RECURSIVE d AS (
        SELECT doc_id, replace(text, ' batch ', '. ') AS text FROM documents
    ),
    seg AS (
        SELECT doc_id,
               list_filter(list_transform(
                   string_split(regexp_replace(text, '([.!?])\s+',
                                '\1' || chr(0), 'g'), chr(0)),
                   x -> trim(x)), x -> x <> '') AS s
        FROM d
    ),
    sents AS (
        SELECT doc_id, i, s[i] AS txt, length(s[i]) AS ln
        FROM seg, unnest(generate_series(1, len(s))) AS t(i)
    ),
    walk AS (
        SELECT doc_id, i, 0 AS chunk, ln AS cur FROM sents WHERE i = 1
        UNION ALL
        SELECT s.doc_id, s.i,
               CASE WHEN w.cur + 1 + s.ln <= 200 THEN w.chunk
                    ELSE w.chunk + 1 END,
               CASE WHEN w.cur + 1 + s.ln <= 200 THEN w.cur + 1 + s.ln
                    ELSE s.ln END
        FROM walk w JOIN sents s ON s.doc_id = w.doc_id AND s.i = w.i + 1
    )
    SELECT w.doc_id, CAST(w.chunk AS BIGINT) AS chunk_id,
           string_agg(s.txt, ' ' ORDER BY s.i) AS chunk_text,
           CAST(count(*) AS BIGINT) AS n_sentences,
           CAST(length(string_agg(s.txt, ' ' ORDER BY s.i)) AS BIGINT)
               AS n_chars
    FROM walk w JOIN sents s USING (doc_id, i)
    GROUP BY w.doc_id, w.chunk
    """,
    doc="Sentence-aware chunking (operators/corpus.py sentence_chunks): "
    "the retrieval/RAG indexing step q70's fixed-width windows "
    "approximate — segment on [.!?]+whitespace (boundary MARKING via "
    "capture-group replace, no lookbehind, so the rule is portable to "
    "RE2 engines), then greedily pack consecutive sentences into "
    "<=200-char chunks joined by single spaces; an oversize sentence "
    "gets its own chunk rather than a mid-sentence cut. Segmentation "
    "and the packing fold are both row-local codegen (one aggregate() "
    "accumulator walk) — zero shuffles beyond the posexplode. The "
    "oracle replays the IDENTICAL greedy fold as a DuckDB recursive "
    "CTE over sentence indexes — two entirely different evaluation "
    "strategies, hash-equal chunk boundaries. Sentence boundaries are "
    "synthesized (' batch ' -> '. ') in both engines.",
)
def q152_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.corpus import sentence_chunks

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr("replace(text, ' batch ', '. ')").alias("text")
    )
    return sentence_chunks(docs, "doc_id", "text", max_chars=200)


@register(
    "q153_bloom_decontaminate",
    oracle=r"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
    ),
    bench AS (SELECT text FROM documents WHERE doc_id % 50 = 0),
    bgrams AS (
        SELECT DISTINCT g FROM (
            SELECT unnest(CASE WHEN len(ws) >= 3 THEN
                list_transform(generate_series(1, len(ws) - 2),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                ELSE [] END) AS g
            FROM (SELECT list_filter(regexp_split_to_array(text, '\s+'),
                         t -> length(t) > 0) AS ws FROM bench)
        )
    ),
    flt AS (
        SELECT DISTINCT
               (('0x' || substring(md5(g), 1, 12))::BIGINT
                + i * ('0x' || substring(md5(g), 13, 12))::BIGINT)
               % 1048576 AS pos
        FROM bgrams, unnest(generate_series(0, 3)) AS t(i)
    ),
    dgrams AS (
        SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id, unnest(CASE WHEN len(ws) >= 3 THEN
                list_transform(generate_series(1, len(ws) - 2),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                ELSE [] END) AS g
            FROM (SELECT doc_id,
                         list_filter(regexp_split_to_array(text, '\s+'),
                         t -> length(t) > 0) AS ws FROM corpus)
        )
    ),
    dpos AS (
        SELECT doc_id, g,
               (('0x' || substring(md5(g), 1, 12))::BIGINT
                + i * ('0x' || substring(md5(g), 13, 12))::BIGINT)
               % 1048576 AS pos
        FROM dgrams, unnest(generate_series(0, 3)) AS t(i)
    ),
    hits AS (
        SELECT doc_id, g FROM dpos JOIN flt USING (pos)
        GROUP BY doc_id, g HAVING count(*) = 4
    ),
    per_doc AS (
        SELECT doc_id, count(*) AS n_maybe FROM hits GROUP BY doc_id
    ),
    tot AS (
        SELECT doc_id, count(*) AS n_sh FROM dgrams GROUP BY doc_id
    )
    SELECT c.doc_id,
           CAST(coalesce(t.n_sh, 0) AS BIGINT) AS n_shingles,
           CAST(coalesce(p.n_maybe, 0) AS BIGINT) AS n_maybe_hits,
           coalesce(p.n_maybe, 0) = 0 AS clean
    FROM corpus c
    LEFT JOIN tot t USING (doc_id)
    LEFT JOIN per_doc p USING (doc_id)
    """,
    doc="Bloom-filter decontamination pre-screen (operators/"
    "decontaminate.py decontaminate_bloom): q63's exact containment "
    "broadcasts the raw benchmark shingles — fine for one suite, but a "
    "clean-room pipeline screens against the union of EVERY promised "
    "held-out set, so the filter must be capped and mergeable: the "
    "Bloom positions relation is <= m rows of one long (125 KB of "
    "longs at 2^20 bits) at ANY benchmark size and merges across "
    "suites by union-distinct. Hashing is Kirsch-Mitzenmacher over "
    "48-bit md5 halves — no RNG, no JVM sketch classes — so the "
    "filter is bit-identically reproducible by any engine with md5, "
    "which is exactly how this is graded: DuckDB rebuilds the SAME "
    "filter and membership (false positives included) and the row "
    "hash must match. One-sided error in the safe direction: no false "
    "negatives; maybe-hit docs go to q63's exact verifier. Corpus "
    "side: positions explode + broadcast semi-join + all-k match + "
    "one groupBy(doc) — the text never shuffles.",
)
def q153_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.decontaminate import decontaminate_bloom

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return decontaminate_bloom(corpus, bench, n=3, m_bits=1 << 20, k_hashes=4)


@register(
    "q154_two_stage_decontaminate",
    oracle=r"""
    WITH corpus AS (
        SELECT doc_id, text, lang FROM documents WHERE doc_id % 50 <> 0
    ),
    bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
    dgrams AS (
        SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id, unnest(CASE WHEN len(ws) >= 3 THEN
                list_transform(generate_series(1, len(ws) - 2),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                ELSE [] END) AS g
            FROM (SELECT doc_id,
                         list_filter(regexp_split_to_array(text, '\s+'),
                         t -> length(t) > 0) AS ws FROM corpus)
        )
    ),
    bgrams AS (
        SELECT DISTINCT bench_id, g FROM (
            SELECT bench_id, unnest(CASE WHEN len(ws) >= 3 THEN
                list_transform(generate_series(1, len(ws) - 2),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                ELSE [] END) AS g
            FROM (SELECT doc_id AS bench_id,
                         list_filter(regexp_split_to_array(text, '\s+'),
                         t -> length(t) > 0) AS ws FROM bench)
        )
    ),
    nd AS (SELECT doc_id, count(*) AS n_doc FROM dgrams GROUP BY doc_id),
    shared AS (
        SELECT d.doc_id, b.bench_id, count(*) AS n_shared
        FROM dgrams d JOIN bgrams b USING (g) GROUP BY d.doc_id, b.bench_id
    ),
    bad AS (
        SELECT DISTINCT s.doc_id FROM shared s JOIN nd USING (doc_id)
        WHERE round(CAST(s.n_shared AS DOUBLE) / nd.n_doc, 4) >= 0.5
    )
    SELECT doc_id, lang FROM corpus
    WHERE doc_id NOT IN (SELECT doc_id FROM bad)
    """,
    doc="Two-stage decontamination composition (operators/"
    "decontaminate.py decontaminate_two_stage): the production shape — "
    "the Bloom pre-screen (q153) routes ONLY maybe-hit docs to the "
    "exact containment verifier (q63's machinery at trigrams), "
    "everything else passes untouched. Graded by EQUALITY with the "
    "one-stage exact path run over the whole corpus: the oracle "
    "computes plain exact trigram containment >= 0.5 with no bloom "
    "anywhere, so a green row PROVES the screen's no-false-negative "
    "claim end-to-end on this corpus (a single missed contaminated "
    "doc would flip the hash). Cost shape at 100 TB: the corpus pays "
    "one broadcast semi-match; the quadratic-ish exact verifier runs "
    "on contamination-rate + FP-rate of the data only. Both sides "
    "flag per-benchmark-doc containment (overlap with ANY single "
    "bench doc reaches the threshold), exactly q63's rule.",
)
def q154_two_stage_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from atiesh_spark.operators.decontaminate import decontaminate_two_stage

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return decontaminate_two_stage(corpus, bench, threshold=0.5, n=3).select(
        "doc_id", "lang"
    )


@register(
    "q155_materialize_mixture",
    oracle="""
    WITH e AS (
        SELECT doc_id, lang,
               CASE lang WHEN 'en' THEN 2 WHEN 'zh' THEN 0 ELSE 1 END AS nf,
               CASE lang WHEN 'en' THEN 3000 WHEN 'zh' THEN 5000
                    ELSE 0 END AS cut
        FROM documents
    ),
    x AS (
        SELECT doc_id, lang, nf, cut,
               unnest(generate_series(0,
                   nf + (CASE WHEN cut > 0 THEN 1 ELSE 0 END) - 1)) AS cp
        FROM e
    )
    SELECT doc_id, lang, CAST(cp AS BIGINT) AS epoch_copy
    FROM x
    WHERE cp < nf
       OR (('0x' || substring(md5(doc_id || '#' || cp), 1, 15))::BIGINT
           % 10000) < cut
    """,
    doc="Mixture materialization (operators/sampling.py "
    "materialize_mixture): turns q71's fractional epochs_at_parity "
    "numbers into actual training rows — epochs 2.3 means every row "
    "twice plus a deterministic 30% subset a third time, the epoch "
    "expansion a pretraining run executes after choosing weights. The "
    "fractional subset hashes md5(id || '#' || copy) into 10k buckets "
    "(integer cutoffs computed driver-side — float->int casts differ "
    "across engines), so selection is reproducible anywhere AND "
    "monotone: raising a group's epochs only ADDS (id, copy) pairs, "
    "never flips existing ones out (unit-pinned), the same stability "
    "contract as deterministic_split. Plan: one explode + one "
    "row-local filter, ZERO shuffles. Graded EXACTLY row-by-row "
    "(en x2.3, zh x0.5, default x1.0).",
)
def q155_materialize_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.sampling import materialize_mixture

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = materialize_mixture(
        docs, "lang", "doc_id", {"en": 2.3, "zh": 0.5}
    )
    return out.select(
        "doc_id", "lang", F.col("epoch_copy").cast("long").alias("epoch_copy")
    )


@register(
    "q156_candidate_eval",
    oracle="""
    WITH sh0 AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(length(text) - 2, 1)),
                   i -> substring(text, i, 3))) AS sh
        FROM documents
    ),
    shingles AS (SELECT DISTINCT doc_id, sh FROM sh0 WHERE length(sh) > 0),
    seeds AS (SELECT unnest(generate_series(0, 31)) AS seed),
    sig AS (
        SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || sh)) AS mh
        FROM shingles CROSS JOIN seeds GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, (seed // 8) AS band,
               md5(string_agg(mh, '|' ORDER BY seed)) AS band_sig
        FROM sig GROUP BY doc_id, (seed // 8)
    ),
    pred AS (
        SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_1, b.doc_id AS id_2, count(*) AS i
        FROM shingles a JOIN shingles b
          ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    truth AS (
        SELECT id_1, id_2 FROM inter
        JOIN sizes sa ON sa.doc_id = id_1
        JOIN sizes sb ON sb.doc_id = id_2
        WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.7
    ),
    m AS (
        SELECT
            (SELECT count(*) FROM pred) AS n_pred,
            (SELECT count(*) FROM truth) AS n_true,
            (SELECT count(*) FROM pred JOIN truth USING (id_1, id_2)) AS tp
    )
    SELECT CAST(n_pred AS BIGINT) AS n_pred,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(tp AS BIGINT) AS tp,
           CAST(n_pred - tp AS BIGINT) AS fp,
           CAST(n_true - tp AS BIGINT) AS fn,
           round(tp * 1.0 / nullif(n_pred, 0), 6) AS precision,
           round(tp * 1.0 / nullif(n_true, 0), 6) AS recall,
           round(2.0 * tp / nullif(n_pred + n_true, 0), 6) AS f1
    FROM m
    """,
    doc="Candidate-set evaluation (operators/dedup.py candidate_eval): "
    "the LSH-tuning audit — precision/recall/F1 of q26's banded "
    "MinHash candidates against q25's exact trigram-Jaccard>=0.7 "
    "truth, computed as one order-normalized full-outer pair join + "
    "one aggregate. THE report you read before shipping bands/rows "
    "parameters to a 100 TB run: recall bounds what banding misses, "
    "precision bounds wasted verification; run it on the hash-sampled "
    "slice you tune on (pair-set-sized work, never corpus-sized). "
    "Both pair pipelines are md5-deterministic, so the metrics are "
    "exact cross-engine values, not booleans.",
)
def q156_candidate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.dedup import (
        candidate_eval,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pred = minhash_lsh_pairs(docs, "doc_id", "text", k=3, num_hashes=32, bands=4)
    truth = ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.7
    ).select("id_1", "id_2")
    return candidate_eval(pred.select("id_1", "id_2"), truth)


@register(
    "q157_pack_offsets",
    oracle="""
    WITH base AS (
        SELECT doc_id, n_chars,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 8 AS shard
        FROM documents
    ),
    packed AS (
        SELECT doc_id, n_chars, shard,
               CAST((SUM(n_chars) OVER w - n_chars) // 2000 AS BIGINT)
                   AS pack_id
        FROM base
        WINDOW w AS (PARTITION BY shard ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT doc_id,
           CAST(shard AS BIGINT) AS shard,
           pack_id,
           CAST(row_number() OVER w2 - 1 AS BIGINT) AS seq_index,
           CAST(SUM(n_chars) OVER w2 - n_chars AS BIGINT) AS start_offset,
           CAST(SUM(n_chars) OVER w2 AS BIGINT) AS end_offset
    FROM packed
    WINDOW w2 AS (PARTITION BY shard, pack_id ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING)
    """,
    doc="Packing with intra-pack offsets (operators/sampling.py "
    "pack_with_offsets): q59 assigns docs to fixed-cost packs; this "
    "adds what the trainer actually consumes — seq_index and the "
    "start/end cumulative-cost span of each doc INSIDE its pack, the "
    "boundaries an attention-mask/position-id builder needs so packed "
    "documents never attend across each other. One extra window over "
    "(shard, pack) on the narrow (id, cost) projection. All window "
    "SUMs CAST to BIGINT on the oracle side per the registry "
    "canonicalization rule. Graded EXACTLY per row at shards=8, "
    "budget=2000 chars.",
)
def q157_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.sampling import pack_with_offsets

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pack_with_offsets(docs, "doc_id", "n_chars", budget=2000, shards=8)


@register(
    "q158_heavy_hitters_stream_replay",
    oracle="""
    WITH words AS (
        SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                  t -> length(t) > 0)) AS word
        FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(*) // 65 AS BIGINT) AS error_bound,
           true AS store_capped,
           true AS all_within_bound,
           true AS never_overcounts,
           true AS guaranteed_items_present
    FROM words
    """,
    doc="StreamingHeavyHitters' merge contract, driver-graded "
    "(operators/frequent.py StreamingHeavyHitters): the corpus word "
    "stream arrives as 3 doc-hash batches through the foreachBatch "
    "loop; each batch's Misra-Gries summary merges into the versioned "
    "store with the Agarwal PODS'12 MG merge (sum counters, subtract "
    "the (k+1)-th largest, drop non-positives), so the store holds "
    "<= k rows FOREVER yet keeps the worst-case guarantee over "
    "everything streamed: est in [exact - n/(k+1), exact] and every "
    "item above n/(k+1) present. Final batch replays under the same "
    "id (VersionedStore convergence). n_total and the bound are exact "
    "cross-engine values; the booleans audit the store against exact "
    "corpus counts (estimates are arrival-order-dependent WITHIN the "
    "bound — the bound is the contract).",
)
def q158_heavy_hitters_stream_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from atiesh_spark.operators.frequent import StreamingHeavyHitters

    k = 64
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.explode(F.split("text", r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    chunks = [F.col("doc_id") % 3 == i for i in range(3)]
    tmp = tempfile.mkdtemp(prefix="hh_replay_")
    try:
        hh = StreamingHeavyHitters("word", tmp, k=k)
        _replay_chunks(words, hh, chunks)
        store = hh.read(spark).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    exact = words.groupBy(F.col("word").alias("item")).agg(
        F.count(F.lit(1)).alias("exact")
    )
    n_total = int(words.count())
    bound = n_total // (k + 1)
    joined = exact.join(store.select("item", "est"), "item", "left")
    row = joined.agg(
        F.min(
            F.coalesce(
                (F.col("est") <= F.col("exact"))
                & (F.col("est") >= F.col("exact") - F.lit(bound)),
                F.lit(True),
            )
        ).alias("__within"),
        F.min(
            F.coalesce(F.col("est") <= F.col("exact"), F.lit(True))
        ).alias("__noover"),
        F.min(
            F.when(
                F.col("exact") > bound, F.col("est").isNotNull()
            ).otherwise(F.lit(True))
        ).alias("__present"),
    ).first()
    return spark.createDataFrame(
        [
            (
                n_total,
                bound,
                bool(store.count() <= k),
                bool(row["__within"]),
                bool(row["__noover"]),
                bool(row["__present"]),
            )
        ],
        "n_total long, error_bound long, store_capped boolean, "
        "all_within_bound boolean, never_overcounts boolean, "
        "guaranteed_items_present boolean",
    )


@register(
    "q159_langid_eval",
    oracle=r"""
    WITH pred AS (
        SELECT doc_id, lang,
               CASE WHEN en_hits > fr_hits AND en_hits > 0 THEN 'en'
                    WHEN fr_hits > en_hits AND fr_hits > 0 THEN 'fr'
                    ELSE 'unknown' END AS lang_id
        FROM (
            SELECT doc_id, lang,
                   len(list_filter(regexp_split_to_array(text, '\s+'),
                       t -> lower(t) IN ('the','a','an','and','of','to',
                                         'in','is','that','it'))) AS en_hits,
                   len(list_filter(regexp_split_to_array(text, '\s+'),
                       t -> lower(t) IN ('le','la','les','et','de','un',
                                         'une','est','que','dans'))) AS fr_hits
            FROM documents
        )
    ),
    conf AS (
        SELECT lang AS l, lang_id AS p, count(*) AS n
        FROM pred GROUP BY 1, 2
    ),
    per_label AS (
        SELECT l AS label, CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN p = l THEN n ELSE 0 END) AS BIGINT) AS tp
        FROM conf GROUP BY l
    ),
    per_pred AS (
        SELECT p AS label, CAST(SUM(n) AS BIGINT) AS n_pred
        FROM conf GROUP BY p
    )
    SELECT a.label, a.n, a.tp,
           CAST(coalesce(b.n_pred, 0) - a.tp AS BIGINT) AS fp,
           CAST(a.n - a.tp AS BIGINT) AS fn,
           round(a.tp * 1.0 / nullif(coalesce(b.n_pred, 0), 0), 6)
               AS precision,
           round(a.tp * 1.0 / a.n, 6) AS recall,
           round(2.0 * a.tp / nullif(a.n + coalesce(b.n_pred, 0), 0), 6)
               AS f1
    FROM per_label a LEFT JOIN per_pred b USING (label)
    """,
    doc="Classifier evaluation (operators/textstats.py "
    "classification_report): per-class precision/recall/F1 of q33's "
    "stop-word language-ID heuristic against the labeled lang column — "
    "the model-quality table read before trusting any in-engine gate "
    "(the same operator evaluates the NB classifier or noisy-label "
    "flags). One (label, pred) confusion groupBy (classes^2 rows) "
    "then two tiny re-aggregations; the corpus shuffles once on a "
    "two-string key. Both the heuristic and the metrics are exact "
    "cross-engine values. The numbers also tell a real story: the "
    "word-soup corpus is labeled with 5 langs but the heuristic only "
    "knows en/fr, so recall is honest about what a stop-word gate "
    "misses.",
)
def q159_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.textstats import (
        classification_report,
        language_id,
    )

    docs = load_table(spark, sf_dir, "documents")
    pred = language_id(docs, "doc_id", "text").select("doc_id", "lang_id")
    joined = docs.select("doc_id", "lang").join(pred, "doc_id")
    return classification_report(joined, "lang", "lang_id")


@register(
    "q160_bcubed_eval",
    oracle="""
    WITH RECURSIVE sh0 AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(length(text) - 2, 1)),
                   i -> substring(text, i, 3))) AS sh
        FROM documents
    ),
    shingles AS (SELECT DISTINCT doc_id, sh FROM sh0 WHERE length(sh) > 0),
    seeds AS (SELECT unnest(generate_series(0, 31)) AS seed),
    sig AS (
        SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || sh)) AS mh
        FROM shingles CROSS JOIN seeds GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, (seed // 8) AS band,
               md5(string_agg(mh, '|' ORDER BY seed)) AS band_sig
        FROM sig GROUP BY doc_id, (seed // 8)
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT id_1 AS a, id_2 AS b FROM pairs
        UNION SELECT id_2, id_1 FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, min(b) AS min_reach FROM reach GROUP BY a),
    pred AS (
        SELECT d.doc_id,
               coalesce(least(c.min_reach, d.doc_id), d.doc_id) AS c
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ),
    truth AS (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS l
        FROM documents
    ),
    cells AS (
        SELECT p.c, t.l, count(*) AS n
        FROM pred p JOIN truth t USING (doc_id)
        GROUP BY p.c, t.l
    ),
    nc AS (SELECT c, SUM(n) AS nc FROM cells GROUP BY c),
    nl AS (SELECT l, SUM(n) AS nl FROM cells GROUP BY l),
    agg AS (
        SELECT SUM(cells.n) AS n_items,
               SUM(cells.n * cells.n * 1.0 / nc.nc) AS p,
               SUM(cells.n * cells.n * 1.0 / nl.nl) AS r
        FROM cells JOIN nc USING (c) JOIN nl USING (l)
    )
    SELECT CAST(n_items AS BIGINT) AS n_items,
           round(p / n_items, 6) AS precision,
           round(r / n_items, 6) AS recall,
           round(2 * (p / n_items) * (r / n_items)
                 / ((p + r) / n_items), 6) AS f1
    FROM agg
    """,
    doc="B-cubed clustering evaluation (operators/cluster.py "
    "bcubed_eval; Bagga & Baldwin 1998): q156 audits candidate PAIRS, "
    "this audits the CLUSTERING they become — per-item-averaged "
    "precision/recall of q41's MinHash-LSH connected components "
    "against exact-duplicate ground truth (min id per md5(text)), the "
    "standard entity-resolution metric (pairwise P/R over-weights big "
    "clusters; B-cubed charges a broken 1000-doc cluster exactly 1000 "
    "items). One (pred, truth) label-pair groupBy + two label-sized "
    "re-aggregations — B-cubed's n^2 terms are squares of GROUP "
    "sizes, so there is never a pair explosion. Near-dup clustering "
    "over-merges relative to exact-dup truth by design, so precision "
    "< 1 here is the metric working, not a bug; recall must be 1.0 "
    "(exact duplicates always share every shingle, hence every band).",
)
def q160_bcubed_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from atiesh_spark.operators.cluster import bcubed_eval
    from atiesh_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", k=3, num_hashes=32, bands=4)
    pred = connected_components(pairs, docs.select("doc_id"), "doc_id")
    truth = docs.select(
        "doc_id",
        F.min("doc_id")
        .over(Window.partitionBy(F.md5(F.col("text").cast("binary"))))
        .alias("truth_rep"),
    )
    return bcubed_eval(pred, truth, "doc_id", pred_col="cluster_id")


@register(
    "q163_winnow_fingerprints",
    oracle="""
    WITH s AS (
        SELECT doc_id, lower(text) AS t FROM documents
        WHERE length(text) >= 5
    ),
    g AS (
        SELECT doc_id, length(t) - 4 AS n, u.i AS pos,
               ('0x' || substring(md5(substring(t, u.i, 5)), 1, 9))::BIGINT
                   * 16777216 + u.i AS hp
        FROM s, unnest(generate_series(1, length(t) - 4)) AS u(i)
    ),
    sel AS (
        SELECT doc_id, pos, n,
               min(hp) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
        FROM g
    ),
    fp AS (
        SELECT DISTINCT doc_id,
               m // 16777216 AS fp_hash, m % 16777216 AS fp_pos
        FROM sel WHERE pos <= greatest(n - 3, 1)
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
           CAST(sum(fp_hash) AS BIGINT) AS sum_fp,
           CAST(min(fp_hash) AS BIGINT) AS min_fp,
           CAST(max(fp_hash) AS BIGINT) AS max_fp,
           CAST(sum(fp_pos) AS BIGINT) AS sum_pos
    FROM fp GROUP BY doc_id
    """,
    doc="Winnowing document fingerprints (operators/textstats.py "
    "winnow_fingerprints — Schleimer/Wilkerson/Aiken SIGMOD 2003, the "
    "MOSS local fingerprinting scheme, implemented from the paper's "
    "math): every k=5 char gram of lower(text) hashed (36-bit md5 "
    "prefix — a rolling Rabin-Karp hash buys nothing in a set-oriented "
    "plan, documented in the operator), a w=4 window min selected per "
    "position with leftmost tie-break via a single packed-BIGINT "
    "window pass (hash*2^24+pos), selected pairs deduplicated. The "
    "guarantee graded here end-to-end: selection is exactly "
    "reproducible cross-engine — the oracle recomputes the full "
    "selection arithmetically and both sides digest per doc to "
    "(n_fp, sum/min/max fp_hash, sum fp_pos), so one differently-"
    "selected gram anywhere flips the hash. Engine shape: one narrow "
    "fanout shuffle + linear explode + ONE per-doc window shuffle + "
    "distinct on the kept ~2/(w+1) fraction; overlap detection "
    "downstream is an equi-join on fp_hash, never all-pairs.",
)
def q163_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.textstats import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    fp = winnow_fingerprints(docs, "doc_id", "text", k=5, w=4)
    return fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.sum("fp_hash").alias("sum_fp"),
        F.min("fp_hash").alias("min_fp"),
        F.max("fp_hash").alias("max_fp"),
        F.sum("fp_pos").cast("long").alias("sum_pos"),
    )


@register(
    "q164_winnow_overlap_pairs",
    oracle="""
    WITH planted AS (
        SELECT doc_id,
               'xq ' || md5(CAST(doc_id AS VARCHAR)) || ' '
                     || md5(CAST(doc_id + 7 AS VARCHAR)) || ' qx'
                   AS passage,
               text
        FROM documents WHERE doc_id % 5 = 0
    ),
    corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               substring(text, 1, 40) || ' ' || passage || ' tail one' AS text
        FROM planted
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id,
               'another doc start ' || passage || ' '
                   || substring(text, 20, 40) AS text
        FROM planted
    ),
    s AS (
        SELECT doc_id, lower(text) AS t FROM corpus WHERE length(text) >= 5
    ),
    g AS (
        SELECT doc_id, length(t) - 4 AS n, u.i AS pos,
               ('0x' || substring(md5(substring(t, u.i, 5)), 1, 9))::BIGINT
                   * 16777216 + u.i AS hp
        FROM s, unnest(generate_series(1, length(t) - 4)) AS u(i)
    ),
    sel AS (
        SELECT doc_id, pos, n,
               min(hp) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
        FROM g
    ),
    docfp AS (
        SELECT DISTINCT doc_id, m // 16777216 AS fp_hash
        FROM sel WHERE pos <= greatest(n - 3, 1)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_fp FROM docfp GROUP BY doc_id),
    keep AS (
        SELECT fp_hash FROM docfp GROUP BY fp_hash
        HAVING count(*) BETWEEN 2 AND 4
    ),
    rare AS (SELECT d.* FROM docfp d JOIN keep USING (fp_hash)),
    shared AS (
        SELECT a.doc_id AS id_1, b.doc_id AS id_2,
               CAST(count(*) AS BIGINT) AS shared_fp
        FROM rare a JOIN rare b USING (fp_hash)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= 2
    )
    SELECT id_1, id_2, shared_fp,
           round(shared_fp / s1.n_fp, 4) AS frac_1,
           round(shared_fp / s2.n_fp, 4) AS frac_2
    FROM shared
    JOIN sizes s1 ON s1.doc_id = id_1
    JOIN sizes s2 ON s2.doc_id = id_2
    """,
    doc="Winnowing copy-detection pairs (operators/textstats.py "
    "winnow_overlap_pairs - MOSS's matching stage over q163's "
    "fingerprints): one row per (doc, distinct hash), map-side df "
    "count with no id lists, pairs only from hashes with "
    "2 <= df <= max_df (work bounded at |kept hashes| * max_df^2 - "
    "boilerplate fingerprints never explode), min_shared prune before "
    "the per-doc size joins, containment-style fractions in both "
    "directions. The graded query plants truth the df-cap CANNOT "
    "erase: for every doc_id % 5 == 0, two derived docs are unioned "
    "in that share a doc-unique 68-char passage (md5-hex text - its "
    "grams exist in exactly those two docs, so df = 2 survives any "
    "cap and the Schleimer shared-substring guarantee applies "
    "unconditionally; a first attempt that quoted the original "
    "corpus text instead was silently df-capped to zero planted "
    "recoveries - the synthetic vocabulary is so small that median "
    "gram df is 28 - which is exactly the boilerplate suppression "
    "working as designed, measured and kept as a docstring warning). "
    "The oracle recomputes fingerprinting, df-capping, pairing, and "
    "fractions arithmetically end-to-end.",
)
def q164_winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.textstats import winnow_overlap_pairs

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.concat(
            F.lit("xq "),
            F.md5(F.col("doc_id").cast("string")),
            F.lit(" "),
            F.md5((F.col("doc_id") + 7).cast("string")),
            F.lit(" qx"),
        ).alias("passage"),
        "text",
    )
    da = planted.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 40), F.lit(" "), F.col("passage"),
            F.lit(" tail one"),
        ).alias("text"),
    )
    db = planted.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(
            F.lit("another doc start "), F.col("passage"), F.lit(" "),
            F.substring("text", 20, 40),
        ).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(da).unionByName(db)
    return winnow_overlap_pairs(
        corpus, "doc_id", "text", k=5, w=4, max_df=4, min_shared=2
    )


@register(
    "q165_conversation_validate",
    oracle="""
    WITH turns AS (
        SELECT user_id * 10 + event_id % 7 AS conv_id,
               CASE WHEN event_type IN ('click', 'view', 'signup')
                    THEN 'user' ELSE 'assistant' END AS role,
               CASE WHEN value < 1.0 THEN '' ELSE event_type END AS content,
               ts, event_id
        FROM events
    ),
    numbered AS (
        SELECT conv_id, role, content,
               row_number() OVER (PARTITION BY conv_id
                                  ORDER BY ts, event_id) AS rn
        FROM turns
    ),
    flagged AS (
        SELECT conv_id, role, rn,
               CASE WHEN rn % 2 = 1 THEN 'user' ELSE 'assistant' END
                   AS expected,
               (content IS NULL OR trim(content) = '') AS empty
        FROM numbered
    ),
    agg AS (
        SELECT conv_id,
               CAST(count(*) AS BIGINT) AS n_turns,
               max(CASE WHEN rn = 1 THEN role END) AS first_role,
               max_by(role, rn) AS last_role,
               CAST(sum(CASE WHEN role IS NULL OR role != expected
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_role_breaks,
               CAST(sum(CASE WHEN empty THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_empty
        FROM flagged GROUP BY conv_id
    )
    SELECT conv_id, n_turns, first_role, last_role, n_role_breaks, n_empty,
           (n_role_breaks = 0 AND n_empty = 0 AND n_turns >= 2
            AND last_role = 'assistant') AS valid
    FROM agg
    """,
    doc="Instruction-data turn hygiene (operators/sequences.py "
    "validate_conversations): per-conversation structural facts an "
    "SFT/RLHF ingest gate filters on — strict two-party alternation "
    "(one n_role_breaks counter covers wrong first speaker, broken "
    "alternation, off-script and NULL roles), empty-turn count, "
    "first/last speaker, min-length + ends-on-assistant gate. ONE "
    "per-conversation window shuffle (row_number over a caller-"
    "supplied TOTAL order, here (ts, event_id)) and a groupBy reusing "
    "the same partitioning; content never leaves codegen — only "
    "booleans aggregate. The graded query synthesizes ~1000 "
    "conversations from the event log (conv = user_id*10 + "
    "event_id%7, role from event_type, planted empty turns where "
    "value < 1) so every flag fires somewhere in the corpus, and the "
    "oracle recomputes all of it arithmetically.",
)
def q165_conversation_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.sequences import validate_conversations

    ev = load_table(spark, sf_dir, "events")
    turns = ev.select(
        (F.col("user_id") * 10 + F.col("event_id") % 7).alias("conv_id"),
        F.when(
            F.col("event_type").isin("click", "view", "signup"), "user"
        ).otherwise("assistant").alias("role"),
        F.when(F.col("value") < 1.0, "").otherwise(F.col("event_type")).alias(
            "content"
        ),
        "ts",
        "event_id",
    )
    return validate_conversations(
        turns, "conv_id", "role", "content", ["ts", "event_id"], min_turns=2
    )


def _bt_oracle_sql(iters: int = 10) -> str:
    """Unroll the Bradley-Terry MM iterations as chained CTEs — DuckDB
    has no mutable state, so the fixed iteration count becomes ``iters``
    mechanical p{t} -> p{t+1} blocks (exactly the arithmetic of
    operators/preference.py bradley_terry). Every iteration CTE is AS
    MATERIALIZED: each level references the previous one twice, and
    DuckDB inlines plain CTEs — 10 inlined levels double per reference
    into ~2^10 copies of the base scan, which exhausts file handles on
    the events parquet before it exhausts patience."""
    blocks = ["""
    WITH seq AS (
        SELECT user_id, event_type, value, ts, event_id,
               lead(event_type) OVER w AS nt, lead(value) OVER w AS nv
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    comp AS (
        SELECT CASE WHEN value >= nv THEN event_type ELSE nt END AS w,
               CASE WHEN value >= nv THEN nt ELSE event_type END AS l
        FROM seq WHERE nt IS NOT NULL AND event_type != nt
    ),
    counts AS MATERIALIZED (
        SELECT w, l, CAST(count(*) AS BIGINT) AS n FROM comp GROUP BY w, l
    ),
    sym AS MATERIALIZED (
        SELECT i, j, SUM(n) + 1.0 AS g FROM (
            SELECT w AS i, l AS j, n FROM counts
            UNION ALL SELECT l AS i, w AS j, n FROM counts
        ) GROUP BY i, j
    ),
    wins AS MATERIALIZED (
        SELECT s.i, SUM(COALESCE(c.n, 0)) + COUNT(*) * 0.5 AS tw
        FROM sym s LEFT JOIN counts c ON c.w = s.i AND c.l = s.j
        GROUP BY s.i
    ),
    p0 AS (
        SELECT i AS item, 1.0 / (SELECT count(*) FROM wins) AS p FROM wins
    )"""]
    for t in range(iters):
        blocks.append(f""",
    u{t} AS MATERIALIZED (
        SELECT s.i AS item, MAX(w.tw) / SUM(s.g / (pi.p + pj.p)) AS pr
        FROM sym s
        JOIN p{t} pi ON pi.item = s.i
        JOIN p{t} pj ON pj.item = s.j
        JOIN wins w ON w.i = s.i
        GROUP BY s.i
    ),
    p{t + 1} AS MATERIALIZED (
        SELECT item, pr / (SELECT SUM(pr) FROM u{t}) AS p FROM u{t}
    )""")
    blocks.append(f""",
    raww AS (
        SELECT w AS item, CAST(SUM(n) AS BIGINT) AS n_wins
        FROM counts GROUP BY w
    ),
    rawg AS (
        SELECT i AS item, CAST(SUM(n) AS BIGINT) AS n_games FROM (
            SELECT w AS i, n FROM counts
            UNION ALL SELECT l AS i, n FROM counts
        ) GROUP BY i
    )
    SELECT g.item, COALESCE(rw.n_wins, 0) AS n_wins, g.n_games,
           round(pf.p, 4) AS rating
    FROM rawg g
    LEFT JOIN raww rw USING (item)
    JOIN p{iters} pf ON pf.item = g.item
    """)
    return "".join(blocks)


@register(
    "q166_bradley_terry",
    oracle=_bt_oracle_sql(10),
    doc="Bradley-Terry preference aggregation (operators/preference.py "
    "bradley_terry — Hunter's MM algorithm, Annals of Statistics 2004, "
    "implemented from the paper's update rule): the RLHF-pipeline step "
    "that turns pairwise (winner, loser) judgments into per-item "
    "strengths for ranking/filtering/margin-weighting response "
    "candidates. Engine shape: raw judgments aggregate ONCE to "
    "per-ordered-pair counts (the only full-data shuffle, "
    "localCheckpointed); each of the 10 MM iterations then works on "
    "the pair-count frame with current ratings broadcast-JOINED as a "
    "k-row DataFrame (never a Catalyst literal tree — the r4 lesson), "
    "and collects exactly k ratings back (the k-means bounded-digest "
    "discipline, with an explicit max_items guard). Laplace smoothing "
    "(0.5 virtual wins both directions per observed pair) keeps the "
    "undefeated/winless MLE finite. The graded query synthesizes "
    "judgments from the event log (consecutive events per user: "
    "higher value wins) and the oracle unrolls all 10 iterations as "
    "chained CTEs — same arithmetic, no decoder, exact to 4dp. "
    "Python-side normalization sums in sorted-key order so the result "
    "is run-deterministic despite collect() row order.",
)
def q166_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from atiesh_spark.operators.preference import bradley_terry

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "value",
        F.lead("event_type").over(w).alias("nt"),
        F.lead("value").over(w).alias("nv"),
    ).filter(F.col("nt").isNotNull() & (F.col("event_type") != F.col("nt")))
    comp = seq.select(
        F.when(F.col("value") >= F.col("nv"), F.col("event_type"))
        .otherwise(F.col("nt"))
        .alias("w"),
        F.when(F.col("value") >= F.col("nv"), F.col("nt"))
        .otherwise(F.col("event_type"))
        .alias("l"),
    )
    return bradley_terry(comp, "w", "l", iters=10)


def _logreg_oracle_sql(iters: int = 10, lr: float = 0.5) -> str:
    """Unroll logreg_train's full-batch gradient descent as chained
    MATERIALIZED CTEs (same doubling hazard as _bt_oracle_sql): w{t}
    is a one-row weight frame, g{t} the exact batch gradient against
    it, w{t+1} the deterministic update — identical arithmetic to
    operators/classify.py logreg_train at lr=0.5, l2=0."""
    head = """
    WITH feats AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
               n_chars / 100.0 AS x1,
               (length(text) - length(replace(text, ' ', ''))) / 50.0 AS x2,
               (doc_id % 7) / 7.0 AS x3
        FROM documents
    ),
    nrow AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM feats),
    w0 AS MATERIALIZED (
        SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3
    )"""
    blocks = [head]
    for t in range(iters):
        blocks.append(f""",
    g{t} AS MATERIALIZED (
        SELECT SUM(r) AS gb, SUM(r * x1) AS g1, SUM(r * x2) AS g2,
               SUM(r * x3) AS g3
        FROM (
            SELECT (1.0 / (1.0 + exp(-(w.b + w.w1 * f.x1 + w.w2 * f.x2
                                       + w.w3 * f.x3))) - f.y) AS r,
                   f.x1, f.x2, f.x3
            FROM feats f, w{t} w
        )
    ),
    w{t + 1} AS MATERIALIZED (
        SELECT w.b - {lr} * g.gb / n.n AS b,
               w.w1 - {lr} * g.g1 / n.n AS w1,
               w.w2 - {lr} * g.g2 / n.n AS w2,
               w.w3 - {lr} * g.g3 / n.n AS w3
        FROM w{t} w, g{t} g, nrow n
    )""")
    blocks.append(f""",
    scored AS MATERIALIZED (
        SELECT f.doc_id, f.y,
               1.0 / (1.0 + exp(-(w.b + w.w1 * f.x1 + w.w2 * f.x2
                                  + w.w3 * f.x3))) AS p
        FROM feats f, w{iters} w
    )
    SELECT 'b' AS name, round(b, 4) AS value FROM w{iters}
    UNION ALL SELECT 'w_x1', round(w1, 4) FROM w{iters}
    UNION ALL SELECT 'w_x2', round(w2, 4) FROM w{iters}
    UNION ALL SELECT 'w_x3', round(w3, 4) FROM w{iters}
    UNION ALL SELECT 'n', n FROM nrow
    UNION ALL SELECT 'loss',
        round(avg(-(y * ln(greatest(p, 1e-12))
                    + (1 - y) * ln(greatest(1 - p, 1e-12)))), 4)
    FROM scored
    UNION ALL
    SELECT 'score:' || CAST(doc_id AS VARCHAR), round(p, 4)
    FROM scored WHERE doc_id % 100 = 0
    """)
    return "".join(blocks)


@register(
    "q167_logreg_quality_gate",
    oracle=_logreg_oracle_sql(10, 0.5),
    doc="In-engine logistic regression (operators/classify.py "
    "logreg_train / logreg_score): the step past q111's Naive Bayes "
    "toward the fastText/DCLM-style LEARNED quality gate, trained "
    "without the corpus leaving the engine. Each of 10 full-batch GD "
    "rounds is ONE map-side-combined aggregate computing the exact "
    "batch gradient (sigmoid residual times features, all codegen — "
    "current weights inlined as d+1 scalar literals, far below any "
    "Catalyst literal-tree hazard) with exactly d+1 doubles of driver "
    "traffic per round (k-means digest discipline); the update is "
    "deterministic (zero init — the loss is convex — no sampling, no "
    "shuffling), so an external oracle can replay training exactly: "
    "the DuckDB side unrolls all 10 iterations as MATERIALIZED "
    "one-row weight CTEs and matches the learned weights, final "
    "log-loss, AND held-out sigmoid scores to 4dp. Feature scaling is "
    "deliberately the caller's job (documented) so the gradient "
    "arithmetic is reproducible with no mean/std round-trip. Scoring "
    "(logreg_score) is pure codegen: d multiplies + one exp per row, "
    "zero shuffles.",
)
def q167_logreg_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.classify import logreg_score, logreg_train

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        (F.col("n_chars") / 100.0).alias("x1"),
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
            / 50.0
        ).alias("x2"),
        ((F.col("doc_id") % 7) / 7.0).alias("x3"),
    )
    model = logreg_train(feats, ["x1", "x2", "x3"], "y", iters=10, lr=0.5)
    rows = [
        ("b", round(model["b"], 4)),
        ("w_x1", round(model["x1"], 4)),
        ("w_x2", round(model["x2"], 4)),
        ("w_x3", round(model["x3"], 4)),
        ("n", model["n"]),
        ("loss", round(model["loss"], 4)),
    ]
    model_df = spark.createDataFrame(rows, "name string, value double")
    remap = {"b": model["b"], "x1": model["x1"], "x2": model["x2"], "x3": model["x3"]}
    scores = (
        logreg_score(
            feats.filter(F.col("doc_id") % 100 == 0), remap, ["x1", "x2", "x3"]
        )
        .select(
            F.concat(F.lit("score:"), F.col("doc_id").cast("string")).alias("name"),
            F.round("p", 4).alias("value"),
        )
    )
    return model_df.unionByName(scores)


@register(
    "q168_preference_length_bias",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, value, props, ts, event_id,
               lead(event_type) OVER w AS nt, lead(value) OVER w AS nv,
               lead(props) OVER w AS np, lead(event_id) OVER w AS nid
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    comp AS (
        SELECT CASE WHEN value >= nv
                    THEN CAST(FLOOR(value * 10) AS BIGINT) + event_id % 37
                    ELSE CAST(FLOOR(nv * 10) AS BIGINT) + nid % 37
               END AS len_w,
               CASE WHEN value >= nv
                    THEN CAST(FLOOR(nv * 10) AS BIGINT) + nid % 37
                    ELSE CAST(FLOOR(value * 10) AS BIGINT) + event_id % 37
               END AS len_l
        FROM seq WHERE nt IS NOT NULL AND event_type != nt
    ),
    d AS (SELECT len_w - len_l AS dd, abs(len_w - len_l) AS a FROM comp),
    bounds AS (SELECT min(a) AS lo, max(a) AS hi FROM d),
    binned AS (
        SELECT CAST((a - lo) // ((hi - lo) // 8 + 1) AS INT) AS bucket,
               CAST(lo + CAST((a - lo) // ((hi - lo) // 8 + 1) AS INT)
                    * ((hi - lo) // 8 + 1) AS BIGINT) AS lo_edge,
               dd
        FROM d, bounds
    )
    SELECT bucket, lo_edge,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS longer_wins,
           CAST(sum(CASE WHEN dd = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS tie_n,
           round(sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END) / count(*), 4)
               AS rate
    FROM binned GROUP BY bucket, lo_edge
    """,
    doc="Length-bias diagnostic for preference data (operators/"
    "preference.py preference_length_bias): the best-documented "
    "artifact in human preference corpora — a reward model trained on "
    "length-biased judgments learns verbosity — measured BEFORE "
    "training as win-rate of the longer response by |length-gap| "
    "bucket (ties counted in n and depressing the rate, deliberately: "
    "a tie is evidence of no length effect). Integer-exact bucketing: "
    "edges from a 2-int driver digest, width = (hi-lo)//bins + 1, "
    "in-plan integer div (the balanced-shards double-division lesson "
    "applied preemptively). Two scans total (bounds + binned groupBy "
    "of `bins` rows). The graded query synthesizes judgments from "
    "consecutive event pairs (q166's comparisons) with deterministic "
    "integer lengths (FLOOR(value*10) + id%37 — FLOOR on both sides "
    "because Spark CAST(double AS INT) truncates while DuckDB "
    "rounds); the oracle recomputes everything arithmetically.",
)
def q168_preference_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from atiesh_spark.operators.preference import preference_length_bias

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "value",
        "event_id",
        F.lead("event_type").over(w).alias("nt"),
        F.lead("value").over(w).alias("nv"),
        F.lead("event_id").over(w).alias("nid"),
    ).filter(F.col("nt").isNotNull() & (F.col("event_type") != F.col("nt")))
    cur_len = (F.floor(F.col("value") * 10).cast("long") + F.col("event_id") % 37)
    nxt_len = (F.floor(F.col("nv") * 10).cast("long") + F.col("nid") % 37)
    cur_wins = F.col("value") >= F.col("nv")
    comp = seq.select(
        F.when(cur_wins, cur_len).otherwise(nxt_len).alias("len_w"),
        F.when(cur_wins, nxt_len).otherwise(cur_len).alias("len_l"),
    )
    return preference_length_bias(comp, "len_w", "len_l", bins=8)


@register(
    "q169_fleiss_kappa",
    oracle="""
    WITH picked AS (
        SELECT user_id AS item, event_type AS cat
        FROM (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ) WHERE rn <= 6
    ),
    eligible AS (
        SELECT item FROM picked GROUP BY item HAVING count(*) = 6
    ),
    r AS (SELECT p.* FROM picked p JOIN eligible USING (item)),
    cell AS (SELECT item, cat, count(*) AS n FROM r GROUP BY item, cat),
    per_item AS (
        SELECT item, SUM(n * n) AS sq FROM cell GROUP BY item
    ),
    pb AS (
        SELECT CAST(count(*) AS BIGINT) AS n_items,
               avg((sq - 6) / (6.0 * 5.0)) AS p_bar
        FROM per_item
    ),
    shares AS (SELECT cat, SUM(n) AS tot FROM cell GROUP BY cat),
    pe AS (
        SELECT CAST(count(*) AS BIGINT) AS n_categories,
               SUM(power(tot / (SELECT CAST(SUM(tot) AS DOUBLE) FROM shares),
                         2)) AS p_e
        FROM shares
    )
    SELECT pb.n_items, CAST(6 AS BIGINT) AS n_raters, pe.n_categories,
           round(pb.p_bar, 4) AS p_bar, round(pe.p_e, 4) AS p_e,
           round((pb.p_bar - pe.p_e) / (1 - pe.p_e), 4) AS kappa
    FROM pb, pe
    """,
    doc="Inter-annotator agreement (operators/preference.py "
    "fleiss_kappa — Fleiss, Psych. Bulletin 1971, from the paper's "
    "formulas): the preference-data QA gate BEFORE q166/q168 consume "
    "the labels — low kappa means the judgments are noise. Long-format "
    "input (one row per rating); equal rater count per item is "
    "VALIDATED with a listing error, not silently mis-normalized; "
    "perfect-chance degenerate case (p_e = 1) returns NULL kappa, not "
    "1.0. Engine shape: one (item, category) count shuffle + two tiny "
    "digest groupBys; p_e sums collected category totals in sorted "
    "order (bounded by the label-set size) for run-determinism. The "
    "graded query treats each user's first 6 events as 6 'annotator' "
    "labels over the event-type category set (users with fewer than 6 "
    "events excluded to satisfy the equal-count contract), and the "
    "oracle recomputes p_bar, p_e, and kappa arithmetically.",
)
def q169_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from atiesh_spark.operators.preference import fleiss_kappa

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    picked = (
        ev.select(
            F.col("user_id").alias("item"),
            F.col("event_type").alias("cat"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 6)
    )
    eligible = (
        picked.groupBy("item")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") == 6)
        .select("item")
    )
    ratings = picked.join(eligible, "item", "left_semi")
    return fleiss_kappa(ratings, "item", "cat")


@register(
    "q170_ccnet_buckets",
    oracle="""
    WITH tri AS (
        SELECT doc_id, substring(text, i, 3) AS sh
        FROM documents,
             unnest(generate_series(1, greatest(length(text) - 2, 1))) AS t(i)
    ),
    tri3 AS (SELECT doc_id, sh FROM tri WHERE length(sh) = 3),
    ck AS (SELECT sh, count(*) AS c FROM tri3 GROUP BY sh),
    cp AS (SELECT substring(sh, 1, 2) AS pfx, sum(c) AS c FROM ck GROUP BY 1),
    v AS (SELECT count(DISTINCT substring(sh, 3, 1)) AS v FROM ck),
    scored AS (
        SELECT t.doc_id,
               round(avg(-log2((ck.c + 1.0) / (cp.c + 1.0 * v.v))), 4)
                   AS bits_per_char
        FROM tri3 t
        JOIN ck USING (sh)
        JOIN cp ON substring(t.sh, 1, 2) = cp.pfx
        CROSS JOIN v
        GROUP BY t.doc_id
    ),
    ranked AS (
        SELECT d.doc_id, d.lang, s.bits_per_char,
               ntile(3) OVER (PARTITION BY d.lang
                              ORDER BY s.bits_per_char, d.doc_id)
                   AS bucket_idx
        FROM documents d JOIN scored s USING (doc_id)
    )
    SELECT doc_id, lang, bits_per_char, bucket_idx,
           CASE bucket_idx WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ranked
    """,
    doc="CCNet head/middle/tail split (operators/textstats.py "
    "perplexity_buckets — Wenzek et al. LREC 2020): per language, rank "
    "documents by the q94 in-engine LM score (bits/char, lower = "
    "better) and ntile into three equal tiers — the curation signal "
    "CCNet keeps 'head' of. Ties break on (score, doc_id), a TOTAL "
    "order, so the split is deterministic under retries and across "
    "engines; NULL-score docs get an explicit 'unscored' label rather "
    "than polluting the tiers (none exist at this sf — every doc "
    "exceeds one trigram). The whole split adds ONE per-language "
    "window exchange to the scoring plan (whose trigram count tables "
    "broadcast, q94). Composes q94 -> bucket without re-reading the "
    "corpus.",
)
def q170_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.textstats import (
        ngram_lm_scores,
        perplexity_buckets,
    )

    docs = load_table(spark, sf_dir, "documents")
    scores = ngram_lm_scores(docs, "doc_id", "text", k=3, smooth=1.0)
    scored = docs.select("doc_id", "lang").join(
        scores.select("doc_id", "bits_per_char"), "doc_id"
    )
    return perplexity_buckets(
        scored, "doc_id", "lang", "bits_per_char", buckets=3
    )


@register(
    "q171_rlhf_data_report",
    oracle=_bt_oracle_sql(10).replace(
        """
    SELECT g.item, COALESCE(rw.n_wins, 0) AS n_wins, g.n_games,
           round(pf.p, 4) AS rating
    FROM rawg g
    LEFT JOIN raww rw USING (item)
    JOIN p10 pf ON pf.item = g.item
    """,
        """,
    kap AS MATERIALIZED (
        WITH picked AS (
            SELECT user_id AS item, event_type AS cat
            FROM (
                SELECT user_id, event_type,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events
            ) WHERE rn <= 6
        ),
        eligible AS (
            SELECT item FROM picked GROUP BY item HAVING count(*) = 6
        ),
        r2 AS (SELECT p.* FROM picked p JOIN eligible USING (item)),
        cell AS (SELECT item, cat, count(*) AS n FROM r2 GROUP BY item, cat),
        per_item AS (SELECT item, SUM(n * n) AS sq FROM cell GROUP BY item),
        pb AS (SELECT avg((sq - 6) / (6.0 * 5.0)) AS p_bar FROM per_item),
        shares AS (SELECT cat, SUM(n) AS tot FROM cell GROUP BY cat),
        pe AS (
            SELECT SUM(power(tot / (SELECT CAST(SUM(tot) AS DOUBLE)
                                    FROM shares), 2)) AS p_e
            FROM shares
        )
        SELECT round((pb.p_bar - pe.p_e) / (1 - pe.p_e), 4) AS kappa
        FROM pb, pe
    ),
    bias AS MATERIALIZED (
        SELECT round(
            SUM(CASE WHEN len_w > len_l THEN 1 ELSE 0 END)
                / CAST(count(*) AS DOUBLE), 4) AS longer_win_rate
        FROM (
            SELECT CASE WHEN value >= nv
                        THEN CAST(FLOOR(value * 10) AS BIGINT) + event_id % 37
                        ELSE CAST(FLOOR(nv * 10) AS BIGINT) + nid % 37
                   END AS len_w,
                   CASE WHEN value >= nv
                        THEN CAST(FLOOR(nv * 10) AS BIGINT) + nid % 37
                        ELSE CAST(FLOOR(value * 10) AS BIGINT) + event_id % 37
                   END AS len_l
            FROM (
                SELECT value, event_id, event_type,
                       lead(event_type) OVER w2 AS nt,
                       lead(value) OVER w2 AS nv,
                       lead(event_id) OVER w2 AS nid
                FROM events
                WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
            ) WHERE nt IS NOT NULL AND event_type != nt
        )
    )
    SELECT g.item, COALESCE(rw.n_wins, 0) AS n_wins, g.n_games,
           round(pf.p, 4) AS rating, kap.kappa, bias.longer_win_rate
    FROM rawg g
    LEFT JOIN raww rw USING (item)
    JOIN p10 pf ON pf.item = g.item
    CROSS JOIN kap CROSS JOIN bias
    """,
    ),
    doc="RLHF data-curation composite (preference.py end-to-end): ONE "
    "report joining the whole preference family — per-item "
    "Bradley-Terry strengths (q166's judgments and arithmetic), the "
    "corpus-level Fleiss' kappa label-quality gate (q169's ratings), "
    "and the global longer-win rate (q168's lengths) as report "
    "columns. The operators compose as DataFrames in one plan: the "
    "judgment synthesis window is shared, kappa and bias reduce to "
    "scalar frames crossed onto the 5 rating rows (broadcast-trivial)."
    " A reward-data pipeline reads this row set and decides: kappa "
    "too low -> relabel, bias too high -> debias sampling, else train "
    "on the ratings. Oracle = the three family oracles merged, "
    "iteration CTEs MATERIALIZED as ever.",
)
def q171_rlhf_data_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from atiesh_spark.operators.preference import (
        bradley_terry,
        fleiss_kappa,
        preference_length_bias,
    )

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "value",
        "event_id",
        F.lead("event_type").over(w).alias("nt"),
        F.lead("value").over(w).alias("nv"),
        F.lead("event_id").over(w).alias("nid"),
    ).filter(F.col("nt").isNotNull() & (F.col("event_type") != F.col("nt")))
    cur_wins = F.col("value") >= F.col("nv")
    comp = seq.select(
        F.when(cur_wins, F.col("event_type")).otherwise(F.col("nt")).alias("w"),
        F.when(cur_wins, F.col("nt")).otherwise(F.col("event_type")).alias("l"),
        F.when(
            cur_wins,
            F.floor(F.col("value") * 10).cast("long") + F.col("event_id") % 37,
        )
        .otherwise(F.floor(F.col("nv") * 10).cast("long") + F.col("nid") % 37)
        .alias("len_w"),
        F.when(
            cur_wins,
            F.floor(F.col("nv") * 10).cast("long") + F.col("nid") % 37,
        )
        .otherwise(
            F.floor(F.col("value") * 10).cast("long") + F.col("event_id") % 37
        )
        .alias("len_l"),
    )
    ratings_bt = bradley_terry(comp, "w", "l", iters=10)

    picked = (
        ev.select(
            F.col("user_id").alias("item"),
            F.col("event_type").alias("cat"),
            F.row_number().over(w).alias("rn"),
        ).filter(F.col("rn") <= 6)
    )
    eligible = (
        picked.groupBy("item").agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") == 6).select("item")
    )
    kappa = fleiss_kappa(
        picked.join(eligible, "item", "left_semi"), "item", "cat"
    ).select("kappa")

    bias = (
        preference_length_bias(comp, "len_w", "len_l", bins=1)
        .agg(
            F.round(
                F.sum("longer_wins") / F.sum("n"), 4
            ).alias("longer_win_rate")
        )
    )
    return ratings_bt.crossJoin(F.broadcast(kappa)).crossJoin(
        F.broadcast(bias)
    )


@register(
    "q172_ngram_novelty",
    oracle=r"""
    WITH ev AS (
        SELECT doc_id + 1000000 AS doc_id,
               array_to_string(
                   list_slice(list_filter(regexp_split_to_array(text, '\s+'),
                                          t -> length(t) > 0), 1, 15),
                   ' ')
               || ' zz' || md5(CAST(doc_id AS VARCHAR))
               || ' zz' || md5(CAST(doc_id + 3 AS VARCHAR)) AS text
        FROM documents WHERE doc_id % 4 = 0
    ),
    evg0 AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\s+'),
                           t -> length(t) > 0) AS ts
        FROM ev
    ),
    evg AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(ts) - 2, 1)),
                                     i -> CASE WHEN i + 2 <= len(ts)
                                          THEN ts[i] || ' ' || ts[i+1]
                                               || ' ' || ts[i+2]
                                          END)) AS sh
        FROM evg0
    ),
    evs AS (SELECT doc_id, sh FROM evg WHERE sh IS NOT NULL),
    trg0 AS (
        SELECT list_filter(regexp_split_to_array(text, '\s+'),
                           t -> length(t) > 0) AS ts
        FROM documents
    ),
    trg AS (
        SELECT DISTINCT
               unnest(list_transform(generate_series(1, greatest(len(ts) - 2, 1)),
                                     i -> CASE WHEN i + 2 <= len(ts)
                                          THEN ts[i] || ' ' || ts[i+1]
                                               || ' ' || ts[i+2]
                                          END)) AS sh
        FROM trg0
    ),
    trs AS (SELECT sh FROM trg WHERE sh IS NOT NULL),
    totals AS (SELECT doc_id, count(*) AS n_ngrams FROM evs GROUP BY doc_id),
    novel AS (
        SELECT e.doc_id, count(*) AS n_novel
        FROM evs e LEFT JOIN trs t USING (sh)
        WHERE t.sh IS NULL GROUP BY e.doc_id
    )
    SELECT e.doc_id,
           CAST(coalesce(t.n_ngrams, 0) AS BIGINT) AS n_ngrams,
           CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel,
           CASE WHEN coalesce(t.n_ngrams, 0) > 0
                THEN round(coalesce(nv.n_novel, 0)
                           / CAST(t.n_ngrams AS DOUBLE), 4)
           END AS novelty
    FROM ev e
    LEFT JOIN totals t USING (doc_id)
    LEFT JOIN novel nv USING (doc_id)
    """,
    doc="Word n-gram novelty (operators/decontaminate.py "
    "ngram_novelty): the memorization diagnostic — per eval doc, the "
    "fraction of DISTINCT word trigrams absent from the training "
    "corpus (low novelty on model outputs = regurgitation; low on an "
    "eval set = leakage q63 should have caught; Carlini-style "
    "extraction metrics reduce to this count at the n-gram level). "
    "Both sides digest shingles to md5 BEFORE the shuffle (text never "
    "leaves the scan), train is one DISTINCT digest set, eval "
    "left-anti-joins it; sub-n-word docs report counts 0 and NULL "
    "novelty (nothing measurable, not 1.0). The graded query builds "
    "eval docs as 15 memorized words from each doc_id % 4 == 0 "
    "original plus doc-unique md5-hex tokens — so every eval doc has "
    "BOTH a memorized prefix (novelty << 1 there) and guaranteed-"
    "novel tail grams, and the oracle recomputes the split exactly.",
)
def q172_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.decontaminate import ngram_novelty

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: F.length(t) > 0)
    ev = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.array_join(F.slice(toks, 1, 15), " "),
            F.lit(" zz"),
            F.md5(F.col("doc_id").cast("string")),
            F.lit(" zz"),
            F.md5((F.col("doc_id") + 3).cast("string")),
        ).alias("text"),
    )
    return ngram_novelty(ev, docs, "doc_id", "text", n=3)


@register(
    "q173_script_profile",
    oracle="""
    WITH aug AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 3 = 0 THEN ' привет мир' ELSE '' END
               || CASE WHEN doc_id % 5 = 0 THEN ' 你好世界' ELSE '' END
               || CASE WHEN doc_id % 7 = 0 THEN ' αβγδ εζηθ' ELSE '' END
                   AS text
        FROM documents
    ),
    c AS (
        SELECT doc_id, length(text) AS n,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS lat,
               length(regexp_replace(text, '[^\\x{0400}-\\x{04FF}]', '', 'g')) AS cyr,
               length(regexp_replace(text, '[^\\x{0370}-\\x{03FF}]', '', 'g')) AS grk,
               length(regexp_replace(text, '[^\\x{4E00}-\\x{9FFF}]', '', 'g')) AS cjk,
               length(regexp_replace(text, '[^\\x{0600}-\\x{06FF}]', '', 'g')) AS ara,
               length(regexp_replace(text, '[^0-9]', '', 'g')) AS dig,
               length(regexp_replace(text, '[^\\s]', '', 'g')) AS spc
        FROM aug
    ),
    d AS (
        SELECT *, lat + cyr + grk + cjk + ara AS letters,
               greatest(lat, cyr, grk, cjk, ara) AS mx
        FROM c
    ),
    e AS (
        SELECT *,
               CASE WHEN letters = 0 THEN 'none'
                    WHEN lat = mx THEN 'latin'
                    WHEN cyr = mx THEN 'cyrillic'
                    WHEN grk = mx THEN 'greek'
                    WHEN cjk = mx THEN 'cjk'
                    ELSE 'arabic' END AS dominant
        FROM d
    ),
    f AS (
        SELECT *,
               greatest(
                   CASE WHEN dominant != 'latin' THEN lat ELSE 0 END,
                   CASE WHEN dominant != 'cyrillic' THEN cyr ELSE 0 END,
                   CASE WHEN dominant != 'greek' THEN grk ELSE 0 END,
                   CASE WHEN dominant != 'cjk' THEN cjk ELSE 0 END,
                   CASE WHEN dominant != 'arabic' THEN ara ELSE 0 END
               ) AS second
        FROM e
    )
    SELECT doc_id, CAST(n AS INT) AS n_chars,
           round(lat / CAST(n AS DOUBLE), 4) AS frac_latin,
           round(cyr / CAST(n AS DOUBLE), 4) AS frac_cyrillic,
           round(grk / CAST(n AS DOUBLE), 4) AS frac_greek,
           round(cjk / CAST(n AS DOUBLE), 4) AS frac_cjk,
           round(ara / CAST(n AS DOUBLE), 4) AS frac_arabic,
           round(dig / CAST(n AS DOUBLE), 4) AS frac_digit,
           round(spc / CAST(n AS DOUBLE), 4) AS frac_space,
           round((n - letters - dig - spc) / CAST(n AS DOUBLE), 4)
               AS frac_other,
           dominant,
           (letters > 0 AND 10 * second >= letters AND second > 0) AS mixed
    FROM f
    """,
    doc="Unicode script profile (operators/textstats.py "
    "script_profile): the mixed-script spam/spoofing signal — "
    "per-doc fractions of latin/cyrillic/greek/cjk/arabic/digit/"
    "space/other chars, the dominant letter class (fixed priority "
    "tie-break), and a 'mixed' flag when a second script reaches 10% "
    "of letters (compared in exact INTEGER arithmetic, 10*second >= "
    "letters, so no engine can disagree on a boundary). One "
    "regexp_replace + length per class: row-local codegen, zero "
    "shuffles. The graded query plants Cyrillic (doc_id%3), CJK "
    "(doc_id%5) and Greek (doc_id%7) snippets onto the Latin corpus "
    "so every dominance/mixing combination occurs (15ths get two "
    "planted scripts, 105ths all three), and the oracle recomputes "
    "every fraction and both derived signals arithmetically.",
)
def q173_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.textstats import script_profile

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, " привет мир").otherwise(""),
            F.when(F.col("doc_id") % 5 == 0, " 你好世界").otherwise(""),
            F.when(F.col("doc_id") % 7 == 0, " αβγδ εζηθ").otherwise(""),
        ).alias("text"),
    )
    return script_profile(aug, "doc_id", "text")


def _logreg_oracle_generic(
    feats_sql: str, d: int, iters: int, lr: float, score_filter: str
) -> str:
    """Generalize _logreg_oracle_sql to ``d`` features named x1..xd:
    ``feats_sql`` must be a CTE BODY selecting (doc_id, y, x1..xd).
    Same MATERIALIZED-iteration discipline."""
    xs = [f"x{j}" for j in range(1, d + 1)]
    ws = [f"w{j}" for j in range(1, d + 1)]
    head = f"""
    WITH feats AS MATERIALIZED ({feats_sql}),
    nrow AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM feats),
    w0 AS MATERIALIZED (
        SELECT 0.0 AS b, {", ".join(f"0.0 AS {w}" for w in ws)}
    )"""
    z = "w.b + " + " + ".join(f"w.{w} * f.{x}" for w, x in zip(ws, xs))
    blocks = [head]
    for t in range(iters):
        gsel = ", ".join(f"SUM(r * {x}) AS g{j}" for j, x in enumerate(xs, 1))
        wsel = ", ".join(
            f"w.{w} - {lr} * g.g{j} / n.n AS {w}"
            for j, w in enumerate(ws, 1)
        )
        blocks.append(f""",
    g{t} AS MATERIALIZED (
        SELECT SUM(r) AS gb, {gsel}
        FROM (
            SELECT (1.0 / (1.0 + exp(-({z}))) - f.y) AS r,
                   {", ".join(f"f.{x} AS {x}" for x in xs)}
            FROM feats f, w{t} w
        )
    ),
    w{t + 1} AS MATERIALIZED (
        SELECT w.b - {lr} * g.gb / n.n AS b, {wsel}
        FROM w{t} w, g{t} g, nrow n
    )""")
        # noqa: the per-level doubling is why MATERIALIZED is mandatory
    blocks.append(f""",
    scored AS MATERIALIZED (
        SELECT f.doc_id, f.y, 1.0 / (1.0 + exp(-({z}))) AS p
        FROM feats f, w{iters} w
    )
    SELECT 'b' AS name, round(b, 4) AS value FROM w{iters}
    {"".join(f"UNION ALL SELECT 'w_x{j}', round(w{j}, 4) FROM w{iters} " for j in range(1, d + 1))}
    UNION ALL SELECT 'n', n FROM nrow
    UNION ALL SELECT 'loss',
        round(avg(-(y * ln(greatest(p, 1e-12))
                    + (1 - y) * ln(greatest(1 - p, 1e-12)))), 4)
    FROM scored
    UNION ALL
    SELECT 'score:' || CAST(doc_id AS VARCHAR), round(p, 4)
    FROM scored WHERE {score_filter}
    """)
    return "".join(blocks)


_HASHED_FEATS_SQL = """
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                      t -> length(t) > 0)) AS tok
            FROM documents
        ),
        bk AS (
            SELECT doc_id,
                   ('0x' || substring(md5(tok), 1, 15))::BIGINT % 8 AS bkt
            FROM toks
        ),
        cnt AS (
            SELECT doc_id, count(*) AS n_tokens,
                   {cells}
            FROM bk GROUP BY doc_id
        )
        SELECT d.doc_id,
               CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
               {feats}
        FROM documents d LEFT JOIN cnt USING (doc_id)
""".format(
    cells=", ".join(
        f"sum(CASE WHEN bkt = {j} THEN 1 ELSE 0 END) AS c{j}"
        for j in range(8)
    ),
    feats=", ".join(
        f"coalesce(c{j} / CAST(n_tokens AS DOUBLE), 0.0) AS x{j + 1}"
        for j in range(8)
    ),
)


@register(
    "q174_hashed_logreg",
    oracle=_logreg_oracle_generic(
        _HASHED_FEATS_SQL, d=8, iters=10, lr=0.5,
        score_filter="doc_id % 100 = 0",
    ),
    doc="Hashing-trick text classifier end-to-end (operators/"
    "classify.py hashed_features + logreg_train): the full fastText-"
    "shape pipeline — whitespace tokens md5-hash into 8 fixed buckets "
    "(Weinberger et al. ICML 2009: no vocabulary pass, no vocab state "
    "to version, identical features on any engine that can md5), "
    "bucket counts normalize by token count into a dense feature row "
    "(ONE explode + ONE map-side-combined conditional-sum aggregate, "
    "no pivot), and the q167 GD trainer fits an 'is-English' gate on "
    "top. Graded exactly like q167: the oracle rebuilds the features "
    "arithmetically and unrolls all 10 GD rounds as MATERIALIZED "
    "one-row weight CTEs, matching learned weights, final log-loss, "
    "and held-out sigmoid scores to 4dp — training on REAL text "
    "features is certified end-to-end, not just on synthetic columns.",
)
def q174_hashed_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.classify import (
        hashed_features,
        logreg_score,
        logreg_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = hashed_features(docs, "doc_id", "text", num_buckets=8).join(
        docs.select(
            "doc_id",
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        ),
        "doc_id",
    )
    fcols = [f"f{j}" for j in range(8)]
    model = logreg_train(feats, fcols, "y", iters=10, lr=0.5)
    rows = [("b", round(model["b"], 4))] + [
        (f"w_x{j + 1}", round(model[f"f{j}"], 4)) for j in range(8)
    ] + [("n", model["n"]), ("loss", round(model["loss"], 4))]
    model_df = spark.createDataFrame(rows, "name string, value double")
    scores = logreg_score(
        feats.filter(F.col("doc_id") % 100 == 0), model, fcols
    ).select(
        F.concat(F.lit("score:"), F.col("doc_id").cast("string")).alias("name"),
        F.round("p", 4).alias("value"),
    )
    return model_df.unionByName(scores)


@register(
    "q175_winnow_index_stream_replay",
    oracle="""
    WITH s AS (
        SELECT doc_id, lower(text) AS t FROM documents
        WHERE length(text) >= 5
    ),
    g AS (
        SELECT doc_id, length(t) - 4 AS n, u.i AS pos,
               ('0x' || substring(md5(substring(t, u.i, 5)), 1, 9))::BIGINT
                   * 16777216 + u.i AS hp
        FROM s, unnest(generate_series(1, length(t) - 4)) AS u(i)
    ),
    sel AS (
        SELECT doc_id, pos, n,
               min(hp) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
        FROM g
    ),
    fp AS (
        SELECT DISTINCT doc_id,
               m // 16777216 AS fp_hash, m % 16777216 AS fp_pos
        FROM sel WHERE pos <= greatest(n - 3, 1)
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
           CAST(sum(fp_hash) AS BIGINT) AS sum_fp,
           CAST(min(fp_hash) AS BIGINT) AS min_fp,
           CAST(max(fp_hash) AS BIGINT) AS max_fp,
           CAST(sum(fp_pos) AS BIGINT) AS sum_pos
    FROM fp GROUP BY doc_id
    """,
    doc="StreamingWinnowIndex's append-exactness contract, driver-"
    "graded (operators/textstats.py StreamingWinnowIndex): documents "
    "stream in as 3 hash-split batches through the foreachBatch "
    "maintenance loop (fingerprint selection is a pure function of "
    "the text — md5 gram hashes, deterministic window min, no RNG or "
    "corpus-global state — so keys replace and untouched rows pass "
    "through), the final batch replays under the same id, and the "
    "final store aggregated per doc must hash-equal q163's one-shot "
    "digest, mirrored independently by the DuckDB selection SQL. The "
    "continuously-maintained fingerprint index IS the batch index at "
    "every prefix — so MOSS-style copy detection matches each "
    "arriving batch against the full history (winnow_overlap_pairs "
    "fingerprints= slot) without ever re-fingerprinting it.",
)
def q175_winnow_index_stream_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from atiesh_spark.operators.textstats import StreamingWinnowIndex

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = [F.col("doc_id") % 3 == i for i in range(3)]
    tmp = tempfile.mkdtemp(prefix="winnow_index_replay_")
    try:
        idx = StreamingWinnowIndex(tmp, "doc_id", "text", k=5, w=4)
        _replay_chunks(docs, idx, chunks)
        final = (
            idx.read(spark)
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_fp"),
                F.sum("fp_hash").alias("sum_fp"),
                F.min("fp_hash").alias("min_fp"),
                F.max("fp_hash").alias("max_fp"),
                F.sum("fp_pos").cast("long").alias("sum_pos"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


@register(
    "q176_filter_reasons",
    oracle=r"""
    WITH aug AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 6 = 0 THEN ' привет мир всем' ELSE '' END AS text
        FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text
        FROM documents WHERE doc_id % 10 = 0
    ),
    feat AS (
        SELECT doc_id, text,
               len(list_filter(regexp_split_to_array(text, '\s+'),
                               t -> length(t) > 0)) AS n_words,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS lat,
               length(regexp_replace(text, '[^\x{0400}-\x{04FF}]', '', 'g'))
                   AS cyr,
               min(doc_id) OVER (PARTITION BY md5(text)) AS rep
        FROM aug
    ),
    flags AS (
        SELECT doc_id,
               (doc_id != rep) AS fail_exact_dup,
               (lat + cyr > 0 AND cyr > 0 AND lat > 0
                AND 10 * least(lat, cyr) >= lat + cyr) AS fail_mixed_script,
               (n_words < 30) AS fail_too_short
        FROM feat
    )
    SELECT doc_id, fail_exact_dup, fail_mixed_script, fail_too_short,
           CASE WHEN fail_exact_dup THEN 'exact_dup'
                WHEN fail_mixed_script THEN 'mixed_script'
                WHEN fail_too_short THEN 'too_short'
                ELSE 'keep' END AS verdict
    FROM flags
    """,
    doc="Reason-coded filtering (operators/curation.py filter_report): "
    "the FineWeb/RefinedWeb-style accounting table — per-rule "
    "fail_<name> booleans plus a 'verdict' naming the FIRST failing "
    "rule in fixed priority order (or 'keep'); NULL predicate results "
    "count as failures (a rule that cannot evaluate a doc has not "
    "passed it), coalesced so the verdict is never NULL. The operator "
    "is pure column composition over other operators' outputs — zero "
    "shuffles of its own, the whole chain one declarative plan. The "
    "graded query wires three real rules with planted truth for each: "
    "exact-dup survivorship (md5-window rep over a corpus with "
    "planted doc_id%10 copies — the COPY loses to the original's "
    "smaller id), the q173 two-script mixing test (Cyrillic planted "
    "on doc_id%6, compared in exact integer arithmetic), and a "
    "15-word... 30-word length gate; priority dup > script > short "
    "is graded through the verdict column.",
)
def q176_filter_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from atiesh_spark.operators.curation import filter_report

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 6 == 0, " привет мир всем").otherwise(""),
        ).alias("text"),
    ).unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: F.length(t) > 0)
    lat = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    cyr = F.length(F.regexp_replace("text", "[^Ѐ-ӿ]", ""))
    feat = aug.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        lat.alias("lat"),
        cyr.alias("cyr"),
        F.min("doc_id")
        .over(Window.partitionBy(F.md5(F.col("text"))))
        .alias("rep"),
    )
    return filter_report(
        feat,
        "doc_id",
        [
            ("exact_dup", F.col("doc_id") != F.col("rep")),
            (
                "mixed_script",
                (F.col("lat") + F.col("cyr") > 0)
                & (F.col("cyr") > 0)
                & (F.col("lat") > 0)
                & (
                    10 * F.least("lat", "cyr")
                    >= F.col("lat") + F.col("cyr")
                ),
            ),
            ("too_short", F.col("n_words") < 30),
        ],
    )


@register(
    "q177_preference_transitivity",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, value, ts, event_id,
               lead(event_type) OVER w AS nt, lead(value) OVER w AS nv
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    comp AS (
        SELECT CASE WHEN value >= nv THEN event_type ELSE nt END AS w,
               CASE WHEN value >= nv THEN nt ELSE event_type END AS l
        FROM seq WHERE nt IS NOT NULL AND event_type != nt
    ),
    counts AS MATERIALIZED (
        SELECT w, l, count(*) AS n FROM comp GROUP BY w, l
    ),
    und AS MATERIALIZED (
        SELECT least(w, l) AS i, greatest(w, l) AS j,
               SUM(CASE WHEN w < l THEN n ELSE 0 END) AS fwd,
               SUM(CASE WHEN w > l THEN n ELSE 0 END) AS rev
        FROM counts GROUP BY 1, 2
    ),
    edges AS MATERIALIZED (
        SELECT i, j,
               CASE WHEN fwd > rev THEN 1
                    WHEN fwd < rev THEN -1 ELSE 0 END AS dir
        FROM und
    ),
    dir_e AS MATERIALIZED (
        SELECT CASE WHEN dir = 1 THEN i ELSE j END AS s,
               CASE WHEN dir = 1 THEN j ELSE i END AS d
        FROM edges WHERE dir != 0
    ),
    circ AS (
        SELECT CAST(count(*) AS BIGINT) AS circular_triads
        FROM dir_e ab JOIN dir_e bc ON bc.s = ab.d
                      JOIN dir_e ca ON ca.s = bc.d AND ca.d = ab.s
        WHERE ab.s < bc.s AND ab.s < ca.s
    ),
    ue AS MATERIALIZED (
        SELECT least(s, d) AS x, greatest(s, d) AS y FROM dir_e
    ),
    closed AS (
        SELECT CAST(count(*) AS BIGINT) AS closed_triples
        FROM ue t1 JOIN ue t2 ON t2.x = t1.y
                   JOIN ue t3 ON t3.x = t1.x AND t3.y = t2.y
    ),
    scal AS (
        SELECT
            (SELECT CAST(count(DISTINCT x) AS BIGINT) FROM (
                SELECT i AS x FROM edges UNION SELECT j FROM edges))
                AS n_items,
            (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_pairs,
            (SELECT CAST(count(*) AS BIGINT) FROM edges WHERE dir = 0)
                AS n_ties
    )
    SELECT s.n_items, s.n_pairs, s.n_ties, c2.closed_triples,
           c1.circular_triads,
           CASE WHEN c2.closed_triples > 0
                THEN round(c1.circular_triads
                           / CAST(c2.closed_triples AS DOUBLE), 4)
           END AS circular_rate
    FROM scal s, circ c1, closed c2
    """,
    doc="Transitivity audit for preference data (operators/"
    "preference.py preference_transitivity — Kendall & Babington "
    "Smith, Biometrika 1940): circular triads (A>B>C>A) in the "
    "majority tournament are judgments NO scalar rating — q166's "
    "Bradley-Terry included — can honor, so the circular rate is the "
    "honest ceiling on reward-model fit. Judgments aggregate once to "
    "ordered-pair counts; majority edges derive per unordered pair "
    "(strict ties excluded as 'ties'); cycles and closed triples are "
    "two 3-way self-joins on the PAIR frame (size = observed item "
    "pairs, independent of judgment volume), each counted exactly "
    "once by anchoring the smallest vertex. Verified on a planted "
    "A>B>C>A cycle with a consistent dominator and a tie pair "
    "(1 circular / 4 closed) in tests; graded on q166's synthesized "
    "judgments with the oracle recomputing the tournament and both "
    "triangle counts arithmetically.",
)
def q177_preference_transitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    from atiesh_spark.operators.preference import preference_transitivity

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "value",
        F.lead("event_type").over(w).alias("nt"),
        F.lead("value").over(w).alias("nv"),
    ).filter(F.col("nt").isNotNull() & (F.col("event_type") != F.col("nt")))
    comp = seq.select(
        F.when(F.col("value") >= F.col("nv"), F.col("event_type"))
        .otherwise(F.col("nt"))
        .alias("w"),
        F.when(F.col("value") >= F.col("nv"), F.col("nt"))
        .otherwise(F.col("event_type"))
        .alias("l"),
    )
    return preference_transitivity(comp, "w", "l")


@register(
    "q178_winnow_dedup_clusters",
    oracle="""
    WITH RECURSIVE planted AS (
        SELECT doc_id,
               'xq ' || md5(CAST(doc_id AS VARCHAR)) || ' '
                     || md5(CAST(doc_id + 7 AS VARCHAR)) || ' qx'
                   AS passage,
               text
        FROM documents WHERE doc_id % 5 = 0
    ),
    corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               substring(text, 1, 40) || ' ' || passage || ' tail one' AS text
        FROM planted
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id,
               'another doc start ' || passage || ' '
                   || substring(text, 20, 40) AS text
        FROM planted
    ),
    s AS (
        SELECT doc_id, lower(text) AS t FROM corpus WHERE length(text) >= 5
    ),
    g AS (
        SELECT doc_id, length(t) - 4 AS n, u.i AS pos,
               ('0x' || substring(md5(substring(t, u.i, 5)), 1, 9))::BIGINT
                   * 16777216 + u.i AS hp
        FROM s, unnest(generate_series(1, length(t) - 4)) AS u(i)
    ),
    sel AS (
        SELECT doc_id, pos, n,
               min(hp) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
        FROM g
    ),
    docfp AS (
        SELECT DISTINCT doc_id, m // 16777216 AS fp_hash
        FROM sel WHERE pos <= greatest(n - 3, 1)
    ),
    keep AS (
        SELECT fp_hash FROM docfp GROUP BY fp_hash
        HAVING count(*) BETWEEN 2 AND 4
    ),
    rare AS (SELECT d.* FROM docfp d JOIN keep USING (fp_hash)),
    pairs AS (
        SELECT a.doc_id AS id_1, b.doc_id AS id_2
        FROM rare a JOIN rare b USING (fp_hash)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= 2
    ),
    edges AS (
        SELECT id_1 AS a, id_2 AS b FROM pairs
        UNION SELECT id_2, id_1 FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, min(b) AS min_reach FROM reach GROUP BY a)
    SELECT c.doc_id,
           coalesce(least(cm.min_reach, c.doc_id), c.doc_id) AS cluster_id
    FROM corpus c LEFT JOIN comp cm ON c.doc_id = cm.doc_id
    """,
    doc="Winnowing-based dedup clustering (textstats.winnow_overlap_"
    "pairs -> dedup.connected_components): the MOSS matching stage "
    "composed with the repo's pointer-jumping CC — cluster_id = min "
    "doc id = the dedup survivor, exactly q41's contract but with "
    "fingerprint-overlap edges instead of MinHash bands (winnowing "
    "catches partial/contained copies MinHash's symmetric Jaccard "
    "misses, per q133's containment analysis). Runs on q164's "
    "planted corpus: each planted pair of derived quoting docs lands "
    "in one cluster surviving as the smaller (+1M) id — the "
    "ORIGINALS stay singletons because their 40-char shared prefix "
    "is common-vocab and df-capped away, which is the boilerplate "
    "suppression doing its job (measured: 84 derived pairs + 9 "
    "natural same-vocab clusters at sf0.01, 0 false triples). "
    "Oracle: the q164 selection/pairing SQL feeding q41's "
    "recursive-CTE transitive closure.",
)
def q178_winnow_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.dedup import connected_components
    from atiesh_spark.operators.textstats import winnow_overlap_pairs

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.concat(
            F.lit("xq "),
            F.md5(F.col("doc_id").cast("string")),
            F.lit(" "),
            F.md5((F.col("doc_id") + 7).cast("string")),
            F.lit(" qx"),
        ).alias("passage"),
        "text",
    )
    da = planted.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 40), F.lit(" "), F.col("passage"),
            F.lit(" tail one"),
        ).alias("text"),
    )
    db = planted.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(
            F.lit("another doc start "), F.col("passage"), F.lit(" "),
            F.substring("text", 20, 40),
        ).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(da).unionByName(db)
    pairs = winnow_overlap_pairs(
        corpus, "doc_id", "text", k=5, w=4, max_df=4, min_shared=2
    ).select("id_1", "id_2")
    return connected_components(
        pairs, corpus.select("doc_id"), "doc_id"
    )


@register(
    "q179_bradley_terry_distributed",
    oracle=_bt_oracle_sql(10),
    doc="Distributed-ratings Bradley-Terry (operators/preference.py "
    "bradley_terry_distributed): the scale path past q166's max_items "
    "digest bound — with millions of response candidates no k-row "
    "ratings collect fits the driver, so each MM round joins the "
    "pair-count frame against the ratings FRAME (two pair-frame "
    "shuffles + one scalar normalization digest per round, lineage "
    "localCheckpoint-truncated per the connected-components "
    "discipline). Graded against the SAME unrolled-CTE oracle as "
    "q166: identical arithmetic must produce identical 4dp ratings "
    "even though the distributed normalization sum has no fixed "
    "accumulation order (the ulp-level difference vanishes at 4dp) — "
    "so the digest and distributed variants are certified "
    "interchangeable, which is what lets a pipeline switch paths on "
    "item count without re-validating results.",
)
def q179_bradley_terry_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    from atiesh_spark.operators.preference import bradley_terry_distributed

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "value",
        F.lead("event_type").over(w).alias("nt"),
        F.lead("value").over(w).alias("nv"),
    ).filter(F.col("nt").isNotNull() & (F.col("event_type") != F.col("nt")))
    comp = seq.select(
        F.when(F.col("value") >= F.col("nv"), F.col("event_type"))
        .otherwise(F.col("nt"))
        .alias("w"),
        F.when(F.col("value") >= F.col("nv"), F.col("nt"))
        .otherwise(F.col("event_type"))
        .alias("l"),
    )
    return bradley_terry_distributed(comp, "w", "l", iters=10)


@register(
    "q180_winnow_probe",
    oracle="""
    WITH hist AS (
        SELECT doc_id,
               text || ' xq' || md5(CAST(doc_id AS VARCHAR)) || ' qx' AS text
        FROM documents
    ),
    newb AS (
        SELECT doc_id + 1000000 AS doc_id,
               'probe doc referencing xq' || md5(CAST(doc_id AS VARCHAR))
                   || ' qx and nothing else' AS text
        FROM documents WHERE doc_id % 5 = 0
    ),
    hs AS (SELECT doc_id, lower(text) AS t FROM hist WHERE length(text) >= 5),
    hg AS (
        SELECT doc_id, length(t) - 4 AS n, u.i AS pos,
               ('0x' || substring(md5(substring(t, u.i, 5)), 1, 9))::BIGINT
                   * 16777216 + u.i AS hp
        FROM hs, unnest(generate_series(1, length(t) - 4)) AS u(i)
    ),
    hsel AS (
        SELECT doc_id, pos, n,
               min(hp) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
        FROM hg
    ),
    hfp AS (
        SELECT DISTINCT doc_id AS old_id, m // 16777216 AS fp_hash
        FROM hsel WHERE pos <= greatest(n - 3, 1)
    ),
    ns AS (SELECT doc_id, lower(text) AS t FROM newb WHERE length(text) >= 5),
    ng AS (
        SELECT doc_id, length(t) - 4 AS n, u.i AS pos,
               ('0x' || substring(md5(substring(t, u.i, 5)), 1, 9))::BIGINT
                   * 16777216 + u.i AS hp
        FROM ns, unnest(generate_series(1, length(t) - 4)) AS u(i)
    ),
    nsel AS (
        SELECT doc_id, pos, n,
               min(hp) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
        FROM ng
    ),
    nfp AS (
        SELECT DISTINCT doc_id AS new_id, m // 16777216 AS fp_hash
        FROM nsel WHERE pos <= greatest(n - 3, 1)
    ),
    nn AS (SELECT new_id, count(*) AS cn FROM nfp GROUP BY new_id),
    no_ AS (SELECT old_id, count(*) AS co FROM hfp GROUP BY old_id),
    keep AS (
        SELECT fp_hash FROM hfp GROUP BY fp_hash HAVING count(*) <= 4
    ),
    shared AS (
        SELECT n.new_id, h.old_id, CAST(count(*) AS BIGINT) AS shared_fp
        FROM nfp n
        JOIN (SELECT f.* FROM hfp f JOIN keep USING (fp_hash)) h
            USING (fp_hash)
        GROUP BY n.new_id, h.old_id
        HAVING count(*) >= 2
    )
    SELECT s.new_id, s.old_id, s.shared_fp,
           round(s.shared_fp / CAST(nn.cn AS DOUBLE), 4) AS frac_new,
           round(s.shared_fp / CAST(no_.co AS DOUBLE), 4) AS frac_old
    FROM shared s
    JOIN nn USING (new_id)
    JOIN no_ USING (old_id)
    """,
    doc="Incremental copy-detection probe (operators/textstats.py "
    "winnow_probe): a NEW batch matches the stored fingerprint index "
    "— only the batch is fingerprinted (work ∝ batch size, never "
    "history), the df cap is computed over the INDEX (boilerplate is "
    "a property of the accumulated corpus), and pairs are "
    "asymmetric (new_id, old_id). This completes the q163/q164/q175 "
    "winnowing story: maintain the index incrementally, probe each "
    "arriving batch against all history. The graded query appends a "
    "doc-unique md5 passage to every history doc and builds 100 probe "
    "docs quoting exactly one target's passage — each must hit "
    "precisely its target (passage grams have index-df 1); the "
    "oracle recomputes both fingerprint sets, the cap, and the "
    "asymmetric fractions arithmetically.",
)
def q180_winnow_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.textstats import (
        winnow_fingerprints,
        winnow_probe,
    )

    docs = load_table(spark, sf_dir, "documents")
    hist = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" xq"),
            F.md5(F.col("doc_id").cast("string")), F.lit(" qx"),
        ).alias("text"),
    )
    newb = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.lit("probe doc referencing xq"),
            F.md5(F.col("doc_id").cast("string")),
            F.lit(" qx and nothing else"),
        ).alias("text"),
    )
    index = winnow_fingerprints(hist, "doc_id", "text", k=5, w=4)
    return winnow_probe(
        newb, index, "doc_id", "text", k=5, w=4, max_df=4, min_shared=2
    )


@register(
    "q181_winnow_overlap_spans",
    oracle="""
    WITH planted AS (
        SELECT doc_id,
               'xq ' || md5(CAST(doc_id AS VARCHAR)) || ' '
                     || md5(CAST(doc_id + 7 AS VARCHAR)) || ' qx'
                   AS passage,
               text
        FROM documents WHERE doc_id % 5 = 0
    ),
    corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               substring(text, 1, 40) || ' ' || passage || ' tail one' AS text
        FROM planted
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id,
               'another doc start ' || passage || ' '
                   || substring(text, 20, 40) AS text
        FROM planted
    ),
    s AS (
        SELECT doc_id, lower(text) AS t FROM corpus WHERE length(text) >= 5
    ),
    g AS (
        SELECT doc_id, length(t) - 4 AS n, u.i AS pos,
               ('0x' || substring(md5(substring(t, u.i, 5)), 1, 9))::BIGINT
                   * 16777216 + u.i AS hp
        FROM s, unnest(generate_series(1, length(t) - 4)) AS u(i)
    ),
    sel AS (
        SELECT doc_id, pos, n,
               min(hp) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
        FROM g
    ),
    fp AS (
        SELECT DISTINCT doc_id,
               m // 16777216 AS fp_hash, m % 16777216 AS fp_pos
        FROM sel WHERE pos <= greatest(n - 3, 1)
    ),
    dist AS (SELECT DISTINCT doc_id, fp_hash FROM fp),
    keep AS (
        SELECT fp_hash FROM dist GROUP BY fp_hash
        HAVING count(*) BETWEEN 2 AND 4
    ),
    rare AS (SELECT f.* FROM fp f JOIN keep USING (fp_hash))
    SELECT a.doc_id AS id_1, b.doc_id AS id_2,
           CAST(count(DISTINCT fp_hash) AS BIGINT) AS shared_fp,
           CAST(min(a.fp_pos) AS INT) AS lo_1,
           CAST(max(a.fp_pos) AS INT) AS hi_1,
           CAST(min(b.fp_pos) AS INT) AS lo_2,
           CAST(max(b.fp_pos) AS INT) AS hi_2
    FROM rare a JOIN rare b USING (fp_hash)
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(DISTINCT fp_hash) >= 2
    """,
    doc="Overlap span localization (operators/textstats.py "
    "winnow_overlap_spans): q164's matching plus WHERE the shared "
    "material sits — min/max character position of the shared "
    "fingerprints on each side (the conservative hull over every "
    "selected position of every shared hash). This is what winnowing "
    "positions buy over MinHash/SimHash: reviewers and span-removal "
    "passes (Lee et al. 2022 shapes) get the overlapping REGION, not "
    "just the fact. Same df-capped candidate discipline as q164; "
    "spans aggregate in the same pass as the counts. Graded on the "
    "q164 planted corpus: each derived pair's span must bracket the "
    "68-char planted passage on both sides, which the oracle "
    "recomputes position-exactly.",
)
def q181_winnow_overlap_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.textstats import winnow_overlap_spans

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.concat(
            F.lit("xq "),
            F.md5(F.col("doc_id").cast("string")),
            F.lit(" "),
            F.md5((F.col("doc_id") + 7).cast("string")),
            F.lit(" qx"),
        ).alias("passage"),
        "text",
    )
    da = planted.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 40), F.lit(" "), F.col("passage"),
            F.lit(" tail one"),
        ).alias("text"),
    )
    db = planted.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(
            F.lit("another doc start "), F.col("passage"), F.lit(" "),
            F.substring("text", 20, 40),
        ).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(da).unionByName(db)
    return winnow_overlap_spans(
        corpus, "doc_id", "text", k=5, w=4, max_df=4, min_shared=2
    )


def _matryoshka_oracle_sql(dims: list[int], k: int = 10) -> str:
    """Prefix-cosine recall oracle: one positional pair-terms frame,
    FILTERed prefix sums per candidate dim, rank/semi-join per dim —
    mechanically generated, all iteration-free."""
    simsel = ",\n               ".join(
        f"round(SUM(xy) FILTER (WHERE pos <= {d}) / "
        f"(sqrt(SUM(xx) FILTER (WHERE pos <= {d})) * "
        f"sqrt(SUM(yy) FILTER (WHERE pos <= {d}))), 6) AS s{d}"
        for d in dims
    )
    full = max(dims)
    blocks = [f"""
    WITH v AS MATERIALIZED (
        SELECT vec_id,
               generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS pos,
               unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings
    ),
    pairterms AS MATERIALIZED (
        SELECT q.vec_id AS qid, e.vec_id AS id, e.pos,
               e.x * q.x AS xy, e.x * e.x AS xx, q.x * q.x AS yy
        FROM v e JOIN v q ON e.pos = q.pos
        WHERE q.vec_id % 25 = 0 AND e.vec_id != q.vec_id
    ),
    sims AS MATERIALIZED (
        SELECT qid, id,
               {simsel}
        FROM pairterms GROUP BY qid, id
    ),
    truth AS MATERIALIZED (
        SELECT qid, id FROM (
            SELECT qid, id, row_number() OVER (
                PARTITION BY qid ORDER BY s{full} DESC, id) AS rk
            FROM sims
        ) WHERE rk <= {k}
    )"""]
    for d in dims:
        blocks.append(f""",
    pred{d} AS MATERIALIZED (
        SELECT qid, id FROM (
            SELECT qid, id, row_number() OVER (
                PARTITION BY qid ORDER BY s{d} DESC, id) AS rk
            FROM sims
        ) WHERE rk <= {k}
    ),
    rec{d} AS (
        SELECT CAST({d} AS INT) AS dim,
               round(avg(coalesce(h.n, 0) / {k}.0), 4) AS avg_recall,
               CAST(count(*) AS BIGINT) AS n_queries
        FROM (SELECT DISTINCT qid FROM truth) t
        LEFT JOIN (
            SELECT p.qid, count(*) AS n
            FROM pred{d} p JOIN truth USING (qid, id)
            GROUP BY p.qid
        ) h USING (qid)
    )""")
    union = "\n    UNION ALL ".join(f"SELECT * FROM rec{d}" for d in dims)
    blocks.append(f"\n    {union}\n    ")
    return "".join(blocks)


@register(
    "q182_matryoshka_recall",
    oracle=_matryoshka_oracle_sql([8, 16, 32, 64], 10),
    doc="Matryoshka truncation evaluation (operators/similarity.py "
    "prefix_dim_recall — Kusupati et al. NeurIPS 2022): recall@10 of "
    "brute-force search over only the first d in {8,16,32,64} "
    "dimensions vs full-vector truth, averaged over every 25th "
    "vector as the probe set — the report that prices the "
    "memory/recall trade before truncating a deployment's vectors "
    "(MRL-trained embeddings hold recall at short prefixes; ordinary "
    "ones decay — this measures which you have). Ranking is "
    "deterministic (6dp cosine, id ties, query excluded); one pass "
    "computes every prefix cosine via sliced zip_with/aggregate "
    "codegen, one window per dim ranks, recall joins k-row truth "
    "sets. The scan is queries x corpus BY DESIGN — it audits the "
    "IVF/PQ serving family (q47/q137/q138), it is not the serving "
    "path. Oracle: positional pair-terms frame with FILTERed prefix "
    "sums, per-dim rank + semi-join, mechanically generated.",
)
def q182_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.similarity import prefix_dim_recall

    emb = load_table(spark, sf_dir, "embeddings")
    return prefix_dim_recall(
        emb, "vec_id", "embedding", dims=[8, 16, 32, 64], k=10
    )


@register(
    "q183_calibration_report",
    oracle="""
    WITH scored AS (
        SELECT doc_id,
               ((doc_id * 37) % 1000) / 999.0 AS p,
               CASE WHEN (doc_id * 91) % 997 < 800 * ((doc_id * 37) % 1000) / 999.0
                    THEN 1.0 ELSE 0.0 END AS y
        FROM documents
    ),
    binned AS (
        SELECT CASE WHEN p < 0.1 THEN 0 WHEN p < 0.2 THEN 1
                    WHEN p < 0.3 THEN 2 WHEN p < 0.4 THEN 3
                    WHEN p < 0.5 THEN 4 WHEN p < 0.6 THEN 5
                    WHEN p < 0.7 THEN 6 WHEN p < 0.8 THEN 7
                    WHEN p < 0.9 THEN 8 ELSE 9 END AS bin,
               p, y
        FROM scored
    ),
    g AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               avg(p) AS avs, avg(y) AS avy
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nn,
               SUM(n * abs(avs - avy)) AS wsum
        FROM g
    )
    SELECT CAST(g.bin AS INT) AS bin,
           round(g.bin / 10.0, 4) AS lo_edge, g.n,
           round(g.avs, 4) AS avg_score, round(g.avy, 4) AS avg_label,
           round(abs(g.avs - g.avy), 4) AS gap,
           round(tot.wsum / tot.nn, 4) AS ece
    FROM g, tot
    """,
    doc="Calibration report (operators/classify.py calibration_report "
    "- Guo et al. ICML 2017 binned ECE): reliability bins (equal-"
    "width over [0,1], CASE-chain comparisons on the raw double - no "
    "multiply-then-floor, whose last-ulp behavior engines can "
    "disagree on at bin edges) with per-bin observed positive rate, "
    "|gap|, and the corpus ECE repeated per row; out-of-range scores "
    "raise in-plan, NULLs are excluded. The graded scorer is "
    "synthetic and DELIBERATELY miscalibrated (p from one integer "
    "congruence, labels from another at 0.8x slope) so all ten bins "
    "populate with varied gaps and the full binning+ECE arithmetic "
    "is hash-checked - a first grading attempt scored q174's real "
    "logreg, whose near-zero-signal hashed features collapse every "
    "score into one bin (range 0.447-0.452 at sf0.01): true, "
    "measured, and useless for grading the binning, so the "
    "model-coupled path is exercised in test_classify.py instead. "
    "One map-side-combined groupBy + one scalar window.",
)
def q183_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.classify import calibration_report

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        (((F.col("doc_id") * 37) % 1000) / 999.0).alias("p"),
        F.when(
            (F.col("doc_id") * 91) % 997
            < 800 * ((F.col("doc_id") * 37) % 1000) / 999.0,
            1.0,
        )
        .otherwise(0.0)
        .alias("y"),
    )
    return calibration_report(scored, "p", "y", bins=10)


@register(
    "q184_winnow_span_removal",
    oracle="""
    WITH planted AS (
        SELECT doc_id,
               'xq ' || md5(CAST(doc_id AS VARCHAR)) || ' '
                     || md5(CAST(doc_id + 7 AS VARCHAR)) || ' qx'
                   AS passage,
               text
        FROM documents WHERE doc_id % 5 = 0
    ),
    corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               substring(text, 1, 40) || ' ' || passage || ' tail one' AS text
        FROM planted
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id,
               'another doc start ' || passage || ' '
                   || substring(text, 20, 40) AS text
        FROM planted
    ),
    s AS (
        SELECT doc_id, lower(text) AS t FROM corpus WHERE length(text) >= 5
    ),
    g AS (
        SELECT doc_id, length(t) - 4 AS n, u.i AS pos,
               ('0x' || substring(md5(substring(t, u.i, 5)), 1, 9))::BIGINT
                   * 16777216 + u.i AS hp
        FROM s, unnest(generate_series(1, length(t) - 4)) AS u(i)
    ),
    sel AS (
        SELECT doc_id, pos, n,
               min(hp) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
        FROM g
    ),
    fp AS (
        SELECT DISTINCT doc_id,
               m // 16777216 AS fp_hash, m % 16777216 AS fp_pos
        FROM sel WHERE pos <= greatest(n - 3, 1)
    ),
    dist AS (SELECT DISTINCT doc_id, fp_hash FROM fp),
    keep AS (
        SELECT fp_hash FROM dist GROUP BY fp_hash
        HAVING count(*) BETWEEN 2 AND 4
    ),
    rare AS (SELECT f.* FROM fp f JOIN keep USING (fp_hash)),
    spans AS (
        SELECT a.doc_id AS id_1, b.doc_id AS id_2,
               min(b.fp_pos) AS lo_2, max(b.fp_pos) AS hi_2
        FROM rare a JOIN rare b USING (fp_hash)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(DISTINCT fp_hash) >= 2
    ),
    regions AS (
        SELECT id_2 AS doc_id, lo_2 AS lo, hi_2 + 4 AS hi FROM spans
    ),
    pm AS (
        SELECT doc_id, lo, hi,
               COALESCE(MAX(hi) OVER (PARTITION BY doc_id ORDER BY lo, hi
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS prev_hi
        FROM regions
    ),
    isl AS (
        SELECT doc_id, lo, hi,
               SUM(CASE WHEN lo > prev_hi THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY lo, hi
                     ROWS UNBOUNDED PRECEDING) AS g
        FROM pm
    ),
    merged AS (
        SELECT doc_id, min(lo) AS lo, max(hi) AS hi
        FROM isl GROUP BY doc_id, g
    ),
    gaps AS (
        SELECT m.doc_id, m.lo,
               substring(c.text,
                   COALESCE(lag(m.hi) OVER (PARTITION BY m.doc_id
                                            ORDER BY m.lo), 0) + 1,
                   m.lo - COALESCE(lag(m.hi) OVER (PARTITION BY m.doc_id
                                                   ORDER BY m.lo), 0) - 1)
                   AS seg
        FROM merged m JOIN corpus c USING (doc_id)
    ),
    tails AS (
        SELECT m.doc_id, length(c.text) + 1 AS lo,
               substring(c.text, max(m.hi) + 1) AS seg
        FROM merged m JOIN corpus c USING (doc_id)
        GROUP BY m.doc_id, c.text
    ),
    rebuilt AS (
        SELECT doc_id, string_agg(seg, '' ORDER BY lo) AS text_clean
        FROM (SELECT * FROM gaps UNION ALL SELECT * FROM tails)
        GROUP BY doc_id
    )
    SELECT c.doc_id,
           md5(COALESCE(r.text_clean, c.text)) AS clean_md5,
           CAST(length(c.text)
                - length(COALESCE(r.text_clean, c.text)) AS BIGINT)
               AS n_removed
    FROM corpus c LEFT JOIN rebuilt r USING (doc_id)
    """,
    doc="Winnow-driven span removal (operators/textstats.py "
    "remove_overlap_spans): detect (q164) -> localize (q181) -> "
    "REMOVE — the shared hull (widened to gram ends) is cut from the "
    "lower-priority side of each pair (larger id, the min-id-"
    "survives convention); overlapping regions merge via gaps-and-"
    "islands, kept text rebuilds RELATIONALLY (per-region gap "
    "segments + tail, array_sort reassembly — no per-row Python, no "
    "quadratic surgery), untouched docs pass through. The winnow "
    "analog of Lee-et-al exact span removal: fingerprint hulls also "
    "cut partially-matching copies. Graded on the q164 planted "
    "corpus — every derived +2M doc loses its passage region (the "
    "hull is fingerprint-conservative: boundaries land on SELECTED "
    "grams, so a few residue chars at the edges are semantics, not "
    "error) — with the oracle recomputing selection, pairing, "
    "islands, and the string surgery char-exactly (md5 of the "
    "cleaned text).",
)
def q184_winnow_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.textstats import (
        remove_overlap_spans,
        winnow_overlap_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.concat(
            F.lit("xq "),
            F.md5(F.col("doc_id").cast("string")),
            F.lit(" "),
            F.md5((F.col("doc_id") + 7).cast("string")),
            F.lit(" qx"),
        ).alias("passage"),
        "text",
    )
    da = planted.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 40), F.lit(" "), F.col("passage"),
            F.lit(" tail one"),
        ).alias("text"),
    )
    db = planted.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(
            F.lit("another doc start "), F.col("passage"), F.lit(" "),
            F.substring("text", 20, 40),
        ).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(da).unionByName(db)
    spans = winnow_overlap_spans(
        corpus, "doc_id", "text", k=5, w=4, max_df=4, min_shared=2
    )
    return remove_overlap_spans(corpus, spans, "doc_id", "text", k=5).select(
        "doc_id",
        F.md5("text_clean").alias("clean_md5"),
        F.col("n_removed").cast("long").alias("n_removed"),
    )


@register(
    "q185_dedup_savings",
    oracle="""
    WITH RECURSIVE shingles AS (
        SELECT DISTINCT doc_id, substring(text, i, 3) AS sh
        FROM documents,
             unnest(generate_series(1, greatest(length(text) - 2, 1))) AS t(i)
        WHERE length(substring(text, i, 3)) = 3
    ),
    seeds AS (SELECT unnest(generate_series(0, 31)) AS seed),
    sig AS (
        SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || sh)) AS mh
        FROM shingles CROSS JOIN seeds GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, (seed // 8) AS band,
               md5(string_agg(mh, '|' ORDER BY seed)) AS band_sig
        FROM sig GROUP BY doc_id, (seed // 8)
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT id_1 AS a, id_2 AS b FROM pairs
        UNION SELECT id_2, id_1 FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, min(b) AS min_reach FROM reach GROUP BY a),
    clustered AS (
        SELECT d.doc_id,
               coalesce(least(c.min_reach, d.doc_id), d.doc_id) AS cluster_id,
               length(d.text) AS bytes
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ),
    per_cluster AS (
        SELECT cluster_id, count(*) AS sz, SUM(bytes) AS tot,
               arg_min(bytes, doc_id) AS surv_bytes
        FROM clustered GROUP BY cluster_id
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(sz - 1) AS BIGINT) AS n_removable,
           CAST(SUM(tot - surv_bytes) AS BIGINT) AS removable_bytes
    FROM per_cluster GROUP BY sz
    """,
    doc="Dedup impact forecast (operators/dedup.py "
    "dedup_savings_report): the go/no-go table before committing a "
    "dedup pass — per cluster SIZE: clusters, docs, removable docs "
    "(min-id survives), and removable BYTES (total minus the "
    "survivor's — arg_min/struct-min on (id, bytes), so both engines "
    "pick the same survivor). Singletons appear as the size-1 row "
    "with zero removable, making the corpus total reconstructible "
    "from the report (an honest report includes what dedup will NOT "
    "touch); the size distribution separates boilerplate explosions "
    "(few huge clusters) from organic duplication (many pairs). "
    "Clusters come from q41's exact MinHash-LSH + CC machinery; one "
    "doc-length join + two aggregates on top, report rows = distinct "
    "cluster sizes. Oracle: q41's recursive-closure SQL + the same "
    "two-level aggregation.",
)
def q185_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.dedup import (
        connected_components,
        dedup_savings_report,
        minhash_lsh_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", k=3, num_hashes=32, bands=4)
    clusters = connected_components(pairs, docs.select("doc_id"), "doc_id")
    return dedup_savings_report(clusters, docs, "doc_id", "text")


@register(
    "q186_temperature_fit",
    oracle="""
    WITH scored AS (
        SELECT doc_id,
               ((doc_id * 37) % 1000) / 999.0 AS p,
               CASE WHEN (doc_id * 91) % 997 < 800 * ((doc_id * 37) % 1000) / 999.0
                    THEN 1.0 ELSE 0.0 END AS y
        FROM documents
    ),
    w AS MATERIALIZED (
        SELECT least(greatest(p, 0.000001), 0.999999) AS pu, y,
               ln(least(greatest(p, 0.000001), 0.999999)
                  / (1 - least(greatest(p, 0.000001), 0.999999))) AS z
        FROM scored
    ),
    grid AS (SELECT unnest(generate_series(1, 25)) / 5.0 AS t),
    curve AS MATERIALIZED (
        SELECT g.t,
               avg(-(w.y * ln(greatest(1 / (1 + exp(-w.z / g.t)), 1e-12))
                     + (1 - w.y)
                       * ln(greatest(1 - 1 / (1 + exp(-w.z / g.t)), 1e-12))))
                   AS nll
        FROM w, grid g GROUP BY g.t
    ),
    best AS MATERIALIZED (SELECT t FROM curve ORDER BY nll, t LIMIT 1),
    calib AS MATERIALIZED (
        SELECT w.pu, w.y,
               1 / (1 + exp(-w.z / b.t)) AS pc
        FROM w, best b
    ),
    binned AS (
        SELECT CASE WHEN pu < 0.1 THEN 0 WHEN pu < 0.2 THEN 1
                    WHEN pu < 0.3 THEN 2 WHEN pu < 0.4 THEN 3
                    WHEN pu < 0.5 THEN 4 WHEN pu < 0.6 THEN 5
                    WHEN pu < 0.7 THEN 6 WHEN pu < 0.8 THEN 7
                    WHEN pu < 0.9 THEN 8 ELSE 9 END AS bu,
               CASE WHEN pc < 0.1 THEN 0 WHEN pc < 0.2 THEN 1
                    WHEN pc < 0.3 THEN 2 WHEN pc < 0.4 THEN 3
                    WHEN pc < 0.5 THEN 4 WHEN pc < 0.6 THEN 5
                    WHEN pc < 0.7 THEN 6 WHEN pc < 0.8 THEN 7
                    WHEN pc < 0.9 THEN 8 ELSE 9 END AS bc,
               pu, pc, y
        FROM calib
    ),
    eu AS (
        SELECT SUM(n * gap) / SUM(n) AS ece FROM (
            SELECT count(*) AS n, abs(avg(pu) - avg(y)) AS gap
            FROM binned GROUP BY bu
        )
    ),
    ec AS (
        SELECT SUM(n * gap) / SUM(n) AS ece FROM (
            SELECT count(*) AS n, abs(avg(pc) - avg(y)) AS gap
            FROM binned GROUP BY bc
        )
    )
    SELECT b.t AS best_t,
           round((SELECT nll FROM curve WHERE t = 1.0), 4) AS nll_uncal,
           round((SELECT nll FROM curve WHERE t = b.t), 4) AS nll_cal,
           round(eu.ece, 4) AS ece_uncal,
           round(ec.ece, 4) AS ece_cal
    FROM best b, eu, ec
    """,
    doc="Temperature scaling (operators/classify.py temperature_fit — "
    "Guo et al. ICML 2017): the one-parameter remedy for the "
    "miscalibration q183 measures — logits divided by the T "
    "minimizing NLL over a FIXED 25-point grid (0.2..5.0 step 0.2; a "
    "deterministic curve an oracle can replay, not a float-path-"
    "dependent line search; NLL ties take the smaller T). Scores "
    "clamp to [1e-6, 1-1e-6] before the logit (mirrored in the "
    "oracle). ONE aggregate computes the entire NLL curve (25 sum "
    "expressions over one scan), the argmin is a 25-double digest, "
    "calibrated ECE is one more binned pass. Graded on q183's "
    "deliberately-miscalibrated synthetic scorer: the report shows "
    "before/after NLL and ECE — measure (q183), then fix (q186).",
)
def q186_temperature_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.classify import temperature_fit

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        (((F.col("doc_id") * 37) % 1000) / 999.0).alias("p"),
        F.when(
            (F.col("doc_id") * 91) % 997
            < 800 * ((F.col("doc_id") * 37) % 1000) / 999.0,
            1.0,
        )
        .otherwise(0.0)
        .alias("y"),
    )
    return temperature_fit(scored, "p", "y", bins=10)


@register(
    "q187_win_rate_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, value, ts, event_id,
               lead(event_type) OVER w AS nt, lead(value) OVER w AS nv
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    comp AS (
        SELECT CASE WHEN value >= nv THEN event_type ELSE nt END AS w,
               CASE WHEN value >= nv THEN nt ELSE event_type END AS l
        FROM seq WHERE nt IS NOT NULL AND event_type != nt
    ),
    counts AS (SELECT w, l, count(*) AS n FROM comp GROUP BY w, l),
    und AS (
        SELECT least(w, l) AS item_1, greatest(w, l) AS item_2,
               CAST(SUM(CASE WHEN w < l THEN n ELSE 0 END) AS BIGINT)
                   AS wins_1,
               CAST(SUM(n) AS BIGINT) AS n
        FROM counts GROUP BY 1, 2
    )
    SELECT item_1, item_2, n, wins_1,
           round(wins_1 / CAST(n AS DOUBLE), 4) AS rate_1,
           round(((wins_1 / CAST(n AS DOUBLE)) + 1.96 * 1.96 / (2 * n))
                 / (1 + 1.96 * 1.96 / n)
                 - 1.96 * sqrt((wins_1 / CAST(n AS DOUBLE))
                               * (1 - wins_1 / CAST(n AS DOUBLE)) / n
                               + 1.96 * 1.96 / (4.0 * n * n))
                   / (1 + 1.96 * 1.96 / n), 4) AS lo_1,
           round(((wins_1 / CAST(n AS DOUBLE)) + 1.96 * 1.96 / (2 * n))
                 / (1 + 1.96 * 1.96 / n)
                 + 1.96 * sqrt((wins_1 / CAST(n AS DOUBLE))
                               * (1 - wins_1 / CAST(n AS DOUBLE)) / n
                               + 1.96 * 1.96 / (4.0 * n * n))
                   / (1 + 1.96 * 1.96 / n), 4) AS hi_1,
           (((wins_1 / CAST(n AS DOUBLE)) + 1.96 * 1.96 / (2 * n))
                 / (1 + 1.96 * 1.96 / n)
                 - 1.96 * sqrt((wins_1 / CAST(n AS DOUBLE))
                               * (1 - wins_1 / CAST(n AS DOUBLE)) / n
                               + 1.96 * 1.96 / (4.0 * n * n))
                   / (1 + 1.96 * 1.96 / n) > 0.5
            OR
            ((wins_1 / CAST(n AS DOUBLE)) + 1.96 * 1.96 / (2 * n))
                 / (1 + 1.96 * 1.96 / n)
                 + 1.96 * sqrt((wins_1 / CAST(n AS DOUBLE))
                               * (1 - wins_1 / CAST(n AS DOUBLE)) / n
                               + 1.96 * 1.96 / (4.0 * n * n))
                   / (1 + 1.96 * 1.96 / n) < 0.5) AS decided
    FROM und
    """,
    doc="Win-rate matrix with Wilson intervals (operators/"
    "preference.py win_rate_matrix — Wilson JASA 1927): per unordered "
    "item pair, the observed win share with a score interval that "
    "has correct coverage at the SMALL per-pair counts preference "
    "data actually has (never outside [0,1]); 'decided' = interval "
    "excludes 0.5 — pairs that straddle it are UNPOWERED and are "
    "where the next judgments should be collected (the active-"
    "collection companion to q166's ratings and q177's transitivity "
    "audit). Integer counts in, one sqrt out: engine-deterministic "
    "at 4dp. Judgments aggregate once to ordered-pair counts; "
    "everything else runs on the pair frame.",
)
def q187_win_rate_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from atiesh_spark.operators.preference import win_rate_matrix

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "value",
        F.lead("event_type").over(w).alias("nt"),
        F.lead("value").over(w).alias("nv"),
    ).filter(F.col("nt").isNotNull() & (F.col("event_type") != F.col("nt")))
    comp = seq.select(
        F.when(F.col("value") >= F.col("nv"), F.col("event_type"))
        .otherwise(F.col("nt"))
        .alias("w"),
        F.when(F.col("value") >= F.col("nv"), F.col("nt"))
        .otherwise(F.col("event_type"))
        .alias("l"),
    )
    return win_rate_matrix(comp, "w", "l")


@register(
    "q188_source_scorecard",
    oracle="""
    WITH aug AS (
        SELECT doc_id, source, lang, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, source, lang, text
        FROM documents WHERE doc_id % 9 = 0
    ),
    tri AS (
        SELECT doc_id, substring(text, i, 3) AS sh
        FROM aug,
             unnest(generate_series(1, greatest(length(text) - 2, 1))) AS t(i)
    ),
    tri3 AS (SELECT doc_id, sh FROM tri WHERE length(sh) = 3),
    ck AS (SELECT sh, count(*) AS c FROM tri3 GROUP BY sh),
    cp AS (SELECT substring(sh, 1, 2) AS pfx, sum(c) AS c FROM ck GROUP BY 1),
    v AS (SELECT count(DISTINCT substring(sh, 3, 1)) AS v FROM ck),
    scored AS (
        SELECT t.doc_id,
               round(avg(-log2((ck.c + 1.0) / (cp.c + 1.0 * v.v))), 4)
                   AS bits_per_char
        FROM tri3 t
        JOIN ck USING (sh)
        JOIN cp ON substring(t.sh, 1, 2) = cp.pfx
        CROSS JOIN v
        GROUP BY t.doc_id
    ),
    marked AS (
        SELECT a.source, a.doc_id, a.text,
               CASE WHEN a.lang = 'en' THEN 1 ELSE 0 END AS tgt,
               CASE WHEN count(*) OVER (PARTITION BY a.source, md5(a.text))
                    > 1 THEN 1 ELSE 0 END AS dup,
               s.bits_per_char
        FROM aug a LEFT JOIN scored s USING (doc_id)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           round(avg(length(text)), 4) AS mean_chars,
           round(avg(tgt), 4) AS pct_target_lang,
           round(avg(dup), 4) AS dup_rate,
           CAST(count(bits_per_char) AS BIGINT) AS n_scored,
           round(SUM(bits_per_char), 4) AS sum_bits_per_char
    FROM marked GROUP BY source
    """,
    doc="Per-source quality scorecard (operators/profile.py "
    "source_scorecard): the keep/trim/drop triage table for crawl "
    "sources — docs, chars, mean length, target-language share, "
    "WITHIN-source exact-dup rate (internal boilerplate; cross-source "
    "dup belongs to the dedup family), and the SUM of q94 LM bits/char scores (sum, not mean: "
    "per-doc scores are 4dp-rounded so the sum is an exact 0.0001 "
    "multiple that re-rounds safely, while the mean landed exactly "
    "on a .00005 boundary in the first attempt — measured, fixed, "
    "kept as the rule). One md5 window + one "
    "groupBy(source); the LM score joins by id. The graded query "
    "plants within-source duplicates (doc_id % 9 copies) so dup_rate "
    "is nonzero and source-varying; the oracle recomputes the LM "
    "model over the SAME augmented corpus (train-on-what-you-score, "
    "matching the engine exactly) plus every aggregate.",
)
def q188_source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.profile import source_scorecard
    from atiesh_spark.operators.textstats import ngram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", "source", "lang", "text").unionByName(
        docs.filter(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            "source",
            "lang",
            "text",
        )
    )
    lm = ngram_lm_scores(aug, "doc_id", "text", k=3, smooth=1.0)
    return source_scorecard(
        aug, "source", "doc_id", "text", "lang", lm_scores=lm
    )


@register(
    "q189_embedding_hygiene",
    oracle="""
    WITH aug AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, CAST(NULL AS DOUBLE[])
        FROM embeddings WHERE vec_id % 50 = 0
        UNION ALL
        SELECT vec_id + 2000000,
               list_slice(CAST(embedding AS DOUBLE[]), 1, 32)
        FROM embeddings WHERE vec_id % 50 = 1
        UNION ALL
        SELECT vec_id + 3000000,
               list_transform(CAST(embedding AS DOUBLE[]), x -> 0.0)
        FROM embeddings WHERE vec_id % 50 = 2
        UNION ALL
        SELECT vec_id + 4000000,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> x + 'nan'::DOUBLE)
        FROM embeddings WHERE vec_id % 50 = 3
    ),
    flagged AS (
        SELECT vec_id, v,
               (v IS NULL) AS is_null,
               (v IS NOT NULL AND len(v) != 64) AS wrong_dim,
               (v IS NOT NULL AND len(v) = 64
                AND len(list_filter(v, x -> isnan(x) OR abs(x) > 1e308)) > 0)
                   AS nonfinite,
               (v IS NOT NULL AND len(v) = 64
                AND len(list_filter(v, x -> isnan(x) OR abs(x) > 1e308)) = 0
                AND len(list_filter(v, x -> x != 0.0)) = 0) AS zero
        FROM aug
    ),
    final AS (
        SELECT *,
               (NOT is_null AND NOT wrong_dim AND NOT nonfinite AND NOT zero)
                   AS clean,
               sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum'))
                   AS norm
        FROM flagged
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(SUM(CASE WHEN wrong_dim THEN 1 ELSE 0 END) AS BIGINT)
               AS n_wrong_dim,
           CAST(SUM(CASE WHEN zero THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           CAST(SUM(CASE WHEN nonfinite THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nonfinite,
           CAST(SUM(CASE WHEN clean THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
           CAST(64 AS INT) AS expected_dim,
           round(avg(CASE WHEN clean THEN norm END), 4) AS mean_norm,
           round(min(CASE WHEN clean THEN norm END), 4) AS min_norm,
           round(max(CASE WHEN clean THEN norm END), 4) AS max_norm
    FROM final
    """,
    doc="Embedding ingestion hygiene gate (operators/similarity.py "
    "embedding_hygiene): the checks that catch a broken encoder "
    "BEFORE a 100 TB ANN build bakes it in — NULL vectors, wrong "
    "dimension, all-zero (cosine-undefined, silently poisons "
    "neighbor lists), non-finite components, plus norm-distribution "
    "digests over the clean rows (a collapsed encoder pinches the "
    "norm spread). One scan, scalar digests; a pipeline asserts "
    "n_clean == n_vectors or fails loudly before q47/q137/q138 run. "
    "The graded query plants every defect class (NULL / 32-dim / "
    "zeroed / NaN-injected copies of every 50th vector) so each "
    "counter is nonzero and the oracle recomputes all of it.",
)
def q189_embedding_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.similarity import embedding_hygiene

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    nan = F.lit(float("nan"))
    aug = (
        emb.unionByName(
            emb.filter(F.col("vec_id") % 50 == 0).select(
                (F.col("vec_id") + 1000000).alias("vec_id"),
                F.lit(None).cast("array<double>").alias("embedding"),
            )
        )
        .unionByName(
            emb.filter(F.col("vec_id") % 50 == 1).select(
                (F.col("vec_id") + 2000000).alias("vec_id"),
                F.slice("embedding", 1, 32).alias("embedding"),
            )
        )
        .unionByName(
            emb.filter(F.col("vec_id") % 50 == 2).select(
                (F.col("vec_id") + 3000000).alias("vec_id"),
                F.transform("embedding", lambda x: x * 0.0).alias("embedding"),
            )
        )
        .unionByName(
            emb.filter(F.col("vec_id") % 50 == 3).select(
                (F.col("vec_id") + 4000000).alias("vec_id"),
                F.transform("embedding", lambda x: x + nan).alias("embedding"),
            )
        )
    )
    return embedding_hygiene(aug, "vec_id", "embedding", expected_dim=64)


@register(
    "q190_edit_distance_pairs",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               replace(replace(text, 'e', '3'), 'o', '0')
        FROM documents WHERE doc_id % 7 = 0
    ),
    blocked AS (
        SELECT doc_id, text,
               md5(replace(replace(replace(replace(
                       substring(text, 1, 24), 'e', ''), 'o', ''),
                       '3', ''), '0', ''))
                   AS blk
        FROM corpus
    ),
    cand AS (
        SELECT a.doc_id AS id_1, b.doc_id AS id_2
        FROM blocked a JOIN blocked b
          ON a.blk = b.blk AND a.doc_id < b.doc_id
    )
    SELECT c.id_1, c.id_2,
           CAST(levenshtein(t1.text, t2.text) AS INT) AS lev,
           round(1 - levenshtein(t1.text, t2.text)
                 / CAST(greatest(length(t1.text), length(t2.text)) AS DOUBLE),
                 4) AS sim
    FROM cand c
    JOIN corpus t1 ON t1.doc_id = c.id_1
    JOIN corpus t2 ON t2.doc_id = c.id_2
    WHERE greatest(length(t1.text), length(t2.text)) > 0
      AND 1 - levenshtein(t1.text, t2.text)
          / CAST(greatest(length(t1.text), length(t2.text)) AS DOUBLE) >= 0.75
    """,
    doc="Edit-distance pair verification (operators/dedup.py "
    "edit_distance_pairs): the record-linkage step the shingle family "
    "cannot express — Levenshtein similarity catches char-level "
    "perturbations (typos, leet substitutions, OCR noise) that "
    "change every k-gram; cost is O(len^2) PER PAIR so the operator "
    "only ever runs on a candidate-bounded frame (the "
    "containment_pairs discipline), here e/o-insensitive prefix "
    "blocking. The graded query plants leetspeak copies (e->3, o->0 "
    "on every 7th doc) whose perturbation-blind block key (prefix with e/o AND their 3/0 replacements stripped) pairs them "
    "with their originals; each pair's exact integer Levenshtein "
    "equals its substitution count, verified cross-engine "
    "(F.levenshtein and DuckDB levenshtein are both exact DP).",
)
def q190_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.dedup import edit_distance_pairs

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.replace(
                F.replace(F.col("text"), F.lit("e"), F.lit("3")),
                F.lit("o"),
                F.lit("0"),
            ).alias("text"),
        )
    )
    blocked = corpus.select(
        "doc_id",
        F.md5(
            F.replace(
                F.replace(
                    F.replace(
                        F.replace(
                            F.substring("text", 1, 24), F.lit("e"), F.lit("")
                        ),
                        F.lit("o"),
                        F.lit(""),
                    ),
                    F.lit("3"),
                    F.lit(""),
                ),
                F.lit("0"),
                F.lit(""),
            )
        ).alias("blk"),
    )
    cand = (
        blocked.alias("a")
        .join(blocked.alias("b"), "blk")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_1"), F.col("b.doc_id").alias("id_2")
        )
    )
    return edit_distance_pairs(corpus, "doc_id", "text", cand, threshold=0.75)


@register(
    "q191_ks_drift",
    oracle="""
    WITH a AS (
        SELECT n_chars AS v, count(*) AS ca FROM documents
        WHERE lang = 'en' GROUP BY 1
    ),
    b AS (
        SELECT n_chars AS v, count(*) AS cb FROM documents
        WHERE lang != 'en' GROUP BY 1
    ),
    m AS (
        SELECT COALESCE(a.v, b.v) AS v,
               COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        FROM a FULL OUTER JOIN b ON a.v = b.v
    ),
    s AS (
        SELECT SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
               SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b,
               SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
        FROM m
    )
    SELECT CAST(max(na) AS BIGINT) AS n_a,
           CAST(max(nb) AS BIGINT) AS n_b,
           round(max(abs(cum_a / CAST(na AS DOUBLE)
                         - cum_b / CAST(nb AS DOUBLE))), 4) AS ks_d
    FROM s
    """,
    doc="Exact two-sample Kolmogorov-Smirnov drift statistic "
    "(operators/profile.py ks_statistic): the binning-free companion "
    "to q136's PSI — sup |F_a - F_b| over the EXACT empirical CDFs, "
    "no bin edges to argue about, null distribution known. Both "
    "samples reduce map-side to per-distinct-value counts, merge "
    "full-outer on the value axis, and ONE unpartitioned cumulative "
    "window over the distinct-value frame (bounded by cardinality, "
    "not rows — the threshold_sweep discipline) computes both CDFs; "
    "the sup lands exactly on CDF step points by construction. "
    "Graded comparing the n_chars distribution of English vs "
    "non-English documents; the oracle mirrors the merge and window "
    "arithmetic exactly (integer cumulative counts, two correctly-"
    "rounded divisions, one max).",
)
def q191_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.profile import ks_statistic

    docs = load_table(spark, sf_dir, "documents")
    return ks_statistic(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") != "en"),
        "n_chars",
    )


@register(
    "q192_chi2_independence",
    oracle="""
    WITH cells AS (
        SELECT lang AS a, source AS b, count(*) AS o
        FROM documents GROUP BY 1, 2
    ),
    m AS (
        SELECT o,
               SUM(o) OVER (PARTITION BY a) AS ra,
               SUM(o) OVER (PARTITION BY b) AS cb,
               SUM(o) OVER () AS n
        FROM cells
    ),
    dims AS (
        SELECT count(DISTINCT a) AS ka, count(DISTINCT b) AS kb FROM cells
    ),
    agg AS (
        SELECT max(n) AS n,
               SUM(o * o / (ra * cb / CAST(n AS DOUBLE))) - max(n) AS chi2
        FROM m
    )
    SELECT CAST(agg.n AS BIGINT) AS n,
           CAST(dims.ka AS BIGINT) AS rows_a,
           CAST(dims.kb AS BIGINT) AS cols_b,
           CAST((dims.ka - 1) * (dims.kb - 1) AS BIGINT) AS dof,
           round(agg.chi2, 4) AS chi2,
           round(sqrt(agg.chi2 / (agg.n * (least(dims.ka, dims.kb) - 1))), 4)
               AS cramers_v
    FROM agg, dims
    """,
    doc="Chi-squared independence test (operators/profile.py "
    "chi2_independence): the categorical companion to q191's KS "
    "(numeric) and q136's PSI (per-bucket) — is language independent "
    "of source, or is the corpus quietly confounded? Computed via "
    "the identity chi2 = sum(o^2/e) - n, which needs only the "
    "OBSERVED contingency cells (zero-observed cells contribute "
    "exactly their expectation e to the textbook sum, and all e's "
    "sum to n) — no empty-cell materialization, work bounded by the "
    "category product; Cramer's V normalizes to effect size. One "
    "map-side cell count, margins from the CELL frame (never a "
    "second corpus scan), one scalar aggregate; pinned to the "
    "textbook 2x2 value in tests. Graded on lang x source of the "
    "documents table with the oracle mirroring the identity.",
)
def q192_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.profile import chi2_independence

    docs = load_table(spark, sf_dir, "documents")
    return chi2_independence(docs, "lang", "source")


@register(
    "q193_spearman_score_length",
    oracle="""
    WITH tri AS (
        SELECT doc_id, substring(text, i, 3) AS sh
        FROM documents,
             unnest(generate_series(1, greatest(length(text) - 2, 1))) AS t(i)
    ),
    tri3 AS (SELECT doc_id, sh FROM tri WHERE length(sh) = 3),
    ck AS (SELECT sh, count(*) AS c FROM tri3 GROUP BY sh),
    cp AS (SELECT substring(sh, 1, 2) AS pfx, sum(c) AS c FROM ck GROUP BY 1),
    v AS (SELECT count(DISTINCT substring(sh, 3, 1)) AS v FROM ck),
    scored AS (
        SELECT t.doc_id,
               round(avg(-log2((ck.c + 1.0) / (cp.c + 1.0 * v.v))), 4)
                   AS bpc
        FROM tri3 t
        JOIN ck USING (sh)
        JOIN cp ON substring(t.sh, 1, 2) = cp.pfx
        CROSS JOIN v
        GROUP BY t.doc_id
    ),
    base AS (
        SELECT s.bpc AS x, CAST(d.n_chars AS DOUBLE) AS y
        FROM documents d JOIN scored s USING (doc_id)
    ),
    gx AS (SELECT x, count(*) AS g FROM base GROUP BY x),
    rx AS (
        SELECT x, COALESCE(SUM(g) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (g + 1) / 2.0 AS rnk
        FROM gx
    ),
    gy AS (SELECT y, count(*) AS g FROM base GROUP BY y),
    ry AS (
        SELECT y, COALESCE(SUM(g) OVER (ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (g + 1) / 2.0 AS rnk
        FROM gy
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(corr(rx.rnk, ry.rnk), 4) AS rho
    FROM base JOIN rx USING (x) JOIN ry USING (y)
    """,
    doc="Spearman rank correlation (operators/profile.py "
    "spearman_corr): the metric-redundancy detector — here q94's LM "
    "bits/char vs document length: rho near +-1 means the expensive "
    "score is mostly re-ranking by length and a curation gate could "
    "use the cheap signal; rho near 0 means it adds information. "
    "Spearman over Pearson because curation decisions are RANK "
    "decisions (thresholds, ntiles, top-k) and rank correlation is "
    "invariant to monotone rescaling. Exact average ranks via the "
    "threshold_sweep cumulative construction (tie group of g after c "
    "rows ranks c + (g+1)/2 — exact 0.5-multiples, engine-identical)"
    ", then one corr aggregate. Pinned to a hand-computed tied-rank "
    "case in tests; oracle mirrors ranks and corr arithmetic.",
)
def q193_spearman_score_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.profile import spearman_corr
    from atiesh_spark.operators.textstats import ngram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    lm = ngram_lm_scores(docs, "doc_id", "text", k=3, smooth=1.0)
    joined = docs.select("doc_id", F.col("n_chars").cast("double").alias("len")).join(
        lm.select("doc_id", F.col("bits_per_char")), "doc_id"
    )
    return spearman_corr(joined, "bits_per_char", "len")


@register(
    "q194_jpeg_decode",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(8 * (2 + doc_id % 2) AS INT) AS width,
               CAST(8 * (1 + doc_id % 3) AS INT) AS height,
               (2 + doc_id % 2) * (1 + doc_id % 3) AS nb
        FROM documents
    ),
    blocks AS (
        SELECT d.doc_id, d.width, d.height,
               (d.doc_id * 7 + 13 * t.b) % 256 AS v
        FROM dims d, unnest(generate_series(0, d.nb - 1)) AS t(b)
    )
    SELECT doc_id AS media_id, 'JFIF' AS format, width, height,
           CAST(1 AS INT) AS n_components,
           CAST(round(avg(v), 4) AS FLOAT) AS mean_r,
           CAST(round(avg(v), 4) AS FLOAT) AS mean_g,
           CAST(round(avg(v), 4) AS FLOAT) AS mean_b
    FROM blocks GROUP BY doc_id, width, height
    """,
    doc="REAL compressed-image decode (operators/jpeg.py): baseline "
    "sequential JPEG (ITU-T T.81) in pure numpy — marker parse, "
    "canonical huffman, dequant, zigzag, 8x8 IDCT — closing the last "
    "multimodal 'partial' (q161/q162 made netpbm/WAV real in round 6; "
    "JPEG-class formats stayed PIL-gated until now). The graded query "
    "synthesizes a grayscale JPEG per document whose 8x8 blocks are "
    "constants v_b = (doc_id*7 + 13*b) % 256 at quality 100: all-ones "
    "quant tables make the DC-only round trip bit-exact (DC = 8*(v-128) "
    "survives quantize/dequantize unchanged, AC are true zeros), so "
    "the oracle reproduces the decoded channel means arithmetically "
    "WITHOUT any decoder while the decode still runs the full marker/ "
    "huffman/IDCT path — including real DC-difference coding across "
    "blocks, since consecutive block values differ by 13. The lossy "
    "path (every AC category, ZRL, EOB, 4:2:0 upsampling, restart "
    "markers) is differential-tested in test_jpeg.py against the "
    "encoder. Progressive/12-bit/arithmetic-coded blobs become error "
    "ROWS, not task failures.",
)
def q194_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from atiesh_spark.operators.jpeg import decode_jpeg

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from atiesh_spark.operators.jpeg import encode_jpeg_baseline

        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 8 * (2 + did % 2), 8 * (1 + did % 3)
                px = np.zeros((h, w), dtype=np.uint8)
                b = 0
                for by in range(h // 8):
                    for bx in range(w // 8):
                        px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                            did * 7 + 13 * b
                        ) % 256
                        b += 1
                blobs.append(encode_jpeg_baseline(px, quality=100))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    media = widen_for_python_stage(docs).mapInPandas(synth, schema="doc_id long, blob binary")
    return decode_jpeg(media, "doc_id", "blob").select(
        "media_id", "format", "width", "height", "n_components",
        "mean_r", "mean_g", "mean_b",
    )


@register(
    "q195_shard_export_manifest",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, n_chars,
               row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS r
        FROM documents
    ),
    assigned AS (
        SELECT n_chars,
               CASE WHEN (r // 8) % 2 = 0 THEN r % 8
                    ELSE 7 - (r % 8) END AS shard
        FROM ranked
    )
    SELECT CAST(shard AS INT) AS shard,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(n_chars AS DOUBLE)) AS DOUBLE) AS total_weight,
           round(SUM(CAST(n_chars AS DOUBLE))
                 / (SELECT SUM(CAST(n_chars AS DOUBLE)) FROM documents),
                 4) AS weight_share
    FROM assigned GROUP BY shard
    """,
    doc="The pipeline's LAST step graded end-to-end (operators/"
    "compaction.py export_training_shards): the query writes the "
    "corpus as 8 byte-balanced JSONL shard directories plus the "
    "persisted _manifest.parquet to a scratch path, then READS BOTH "
    "BACK — the manifest rows it returns are recomputed from the "
    "shard files on disk (spark.read.json recovers the shard "
    "partition column) and inner-joined to the read-back persisted "
    "manifest on ALL four columns, so a row only survives if the "
    "write path, the read path, and the persisted manifest agree "
    "exactly. The oracle recomputes the serpentine assignment "
    "(q134's formulation) and aggregates it arithmetically — no "
    "filesystem on the DuckDB side, so a green row proves the "
    "export round-trips the same rows the assignment math says it "
    "should. Closes the round-6 verdict's 'only tests-only batch "
    "operator left' item.",
)
def q195_shard_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from atiesh_spark.operators.compaction import export_training_shards

    # Private scratch dir + localCheckpoint before rmtree (the q196
    # lifecycle): a fixed shared path races when two sessions on one
    # host (driver + parity + bench) export concurrently, and the
    # checkpoint lets us clean up eagerly instead of leaking the dir.
    path = tempfile.mkdtemp(prefix="atiesh_spark_q195_shards_")
    try:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
        export_training_shards(
            docs, path, "n_chars", "doc_id", num_shards=8, fmt="json"
        )
        back = spark.read.json(path)  # shard= partition dirs -> shard column
        recomputed = (
            back.groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("n_chars").cast("double")).alias("total_weight"),
            )
        )
        total = recomputed.agg(F.sum("total_weight").alias("__t"))
        recomputed = recomputed.crossJoin(F.broadcast(total)).select(
            F.col("shard").cast("int").alias("shard"),
            "n_rows",
            "total_weight",
            F.round(F.col("total_weight") / F.col("__t"), 4).alias("weight_share"),
        )
        persisted = spark.read.parquet(f"{path}/_manifest.parquet")
        return recomputed.join(
            persisted, ["shard", "n_rows", "total_weight", "weight_share"], "inner"
        ).localCheckpoint()
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q196_copy_detect_stream_replay",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               md5(CAST(doc_id + 500003 AS VARCHAR)) || ' '
                   || md5(CAST(doc_id + 600003 AS VARCHAR)) AS passage
        FROM documents
    ),
    corpus AS (
        SELECT doc_id,
               'alpha ' || md5(CAST(doc_id AS VARCHAR)) || ' ' || passage
                   || ' end' AS text
        FROM base
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               'second ' || md5(CAST(doc_id + 70001 AS VARCHAR)) || ' '
                   || passage || ' more' AS text
        FROM base WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id,
               'third ' || md5(CAST(doc_id + 90001 AS VARCHAR)) || ' '
                   || passage || ' fin' AS text
        FROM base WHERE doc_id % 4 = 0
    ),
    s AS (
        SELECT doc_id, lower(text) AS t FROM corpus WHERE length(text) >= 5
    ),
    g AS (
        SELECT doc_id, length(t) - 4 AS n, u.i AS pos,
               ('0x' || substring(md5(substring(t, u.i, 5)), 1, 9))::BIGINT
                   * 16777216 + u.i AS hp
        FROM s, unnest(generate_series(1, length(t) - 4)) AS u(i)
    ),
    sel AS (
        SELECT doc_id, pos, n,
               min(hp) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
        FROM g
    ),
    fp AS (
        SELECT DISTINCT doc_id,
               m // 16777216 AS fp_hash, m % 16777216 AS fp_pos
        FROM sel WHERE pos <= greatest(n - 3, 1)
    ),
    dist AS (SELECT DISTINCT doc_id, fp_hash FROM fp),
    keep AS (
        SELECT fp_hash FROM dist GROUP BY fp_hash
        HAVING count(*) >= 2
    ),
    rare AS (SELECT f.* FROM fp f JOIN keep USING (fp_hash))
    SELECT a.doc_id AS id_1, b.doc_id AS id_2,
           CAST(count(DISTINCT fp_hash) AS BIGINT) AS shared_fp,
           CAST(min(a.fp_pos) AS INT) AS lo_1,
           CAST(max(a.fp_pos) AS INT) AS hi_1,
           CAST(min(b.fp_pos) AS INT) AS lo_2,
           CAST(max(b.fp_pos) AS INT) AS hi_2
    FROM rare a JOIN rare b USING (fp_hash)
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(DISTINCT fp_hash) >= 2
    """,
    doc="The round-6 verdict's streaming composite #2, driver-graded "
    "(operators/textstats.py StreamingCopyDetector): the full winnow "
    "lifecycle — maintain the fingerprint index (q175), probe each "
    "arriving batch against all history (q180), localize the overlap "
    "span hull of every completed pair (q181) — composed in ONE "
    "foreachBatch function, incremental copy-detection as a user "
    "would deploy it. Three batches stream in (base docs, then "
    "+1M near-dup variants of the even docs, then +2M variants of "
    "the %4 docs), the final batch replays under the same id "
    "(VersionedStore convergence on BOTH stores), and the "
    "accumulated pair store must hash-equal the one-shot batch "
    "winnow_overlap_spans — which the oracle recomputes from "
    "scratch in SQL (q181's CTE pipeline over the same constructed "
    "corpus). Two constructions guarantee exactness: (a) the corpus "
    "has NO constant substrings shared across batches (markers like "
    "'xq' would create 16^3-class boundary grams whose document "
    "frequency GROWS over the stream, making a finite df cap's "
    "emission-time decisions diverge from full-corpus decisions — "
    "the first draft failed parity exactly this way), and (b) the "
    "cap is set above any realized df (max_df=10000 both sides), so "
    "a pair's shared hash set is time-invariant and streaming "
    "emission (pair appears when its later member arrives) is "
    "EXACTLY the batch computation — the prefix-df-vs-corpus-df "
    "caveat the operator docstring documents; the cap discipline "
    "itself stays graded by q164/q180/q181. "
    "Per-batch probe work is ∝ batch candidates: the a-side of the "
    "pair join is batch-restricted before the hash join, history "
    "pairs are never recomputed, and the index is never "
    "re-fingerprinted.",
)
def q196_copy_detect_stream_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from atiesh_spark.operators.textstats import StreamingCopyDetector

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.concat(
            F.md5((F.col("doc_id") + 500003).cast("string")),
            F.lit(" "),
            F.md5((F.col("doc_id") + 600003).cast("string")),
        ).alias("passage"),
    )
    b1 = base.select(
        "doc_id",
        F.concat(
            F.lit("alpha "), F.md5(F.col("doc_id").cast("string")),
            F.lit(" "), F.col("passage"), F.lit(" end"),
        ).alias("text"),
    )
    b2 = base.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.lit("second "),
            F.md5((F.col("doc_id") + 70001).cast("string")),
            F.lit(" "), F.col("passage"), F.lit(" more"),
        ).alias("text"),
    )
    b3 = base.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(
            F.lit("third "),
            F.md5((F.col("doc_id") + 90001).cast("string")),
            F.lit(" "), F.col("passage"), F.lit(" fin"),
        ).alias("text"),
    )
    corpus = b1.unionByName(b2).unionByName(b3)
    chunks = [
        F.col("doc_id") < 1000000,
        (F.col("doc_id") >= 1000000) & (F.col("doc_id") < 2000000),
        F.col("doc_id") >= 2000000,
    ]
    tmp = tempfile.mkdtemp(prefix="copydetect_replay_")
    try:
        det = StreamingCopyDetector(
            tmp, "doc_id", "text", k=5, w=4, max_df=10000, min_shared=2
        )
        _replay_chunks(corpus, det, chunks)
        final = det.read(spark).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


@register(
    "q197_png_decode",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(8 + doc_id % 9 AS INT) AS width,
               CAST(8 + doc_id % 7 AS INT) AS height
        FROM documents
    ),
    pix AS (
        SELECT d.doc_id, d.width, d.height, xx.x AS x, yy.y AS y
        FROM dims d,
             unnest(generate_series(0, d.width - 1)) AS xx(x),
             unnest(generate_series(0, d.height - 1)) AS yy(y)
    )
    SELECT doc_id AS media_id, 'PNG' AS format, width, height,
           CAST(3 AS INT) AS n_channels,
           CAST(round(avg((3 * x + 7 * y + doc_id) % 256), 4) AS FLOAT)
               AS mean_r,
           CAST(round(avg((3 * x + 7 * y + 41 + doc_id) % 256), 4) AS FLOAT)
               AS mean_g,
           CAST(round(avg((3 * x + 7 * y + 82 + doc_id) % 256), 4) AS FLOAT)
               AS mean_b
    FROM pix GROUP BY doc_id, width, height
    """,
    doc="REAL lossless-image decode (operators/png.py): chunk walk with "
    "CRC validation, stdlib inflate bounded by the IHDR-derived size, "
    "and full scanline unfiltering — the graded query synthesizes an "
    "RGB PNG per document with planted gradient pixels "
    "px[y,x,c] = (3x + 7y + 41c + doc_id) % 256 and filters=None so "
    "every scanline cycles through all FIVE filter types (None/Sub/Up/"
    "Average/Paeth): each decoded row exercises a different "
    "reconstruction path, and because PNG is lossless the oracle "
    "reproduces the channel means arithmetically without a decoder. "
    "Companion to q194 (JPEG, lossy, DC-exact planting); together the "
    "two prove both compressed-image decode families end-to-end. "
    "Malformed blobs (bad CRC, short IHDR, decompression bombs, "
    "oversized dims) become error ROWS, not task failures "
    "(test_png.py).",
)
def q197_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from atiesh_spark.operators.png import decode_png

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from atiesh_spark.operators.png import encode_png

        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 8 + did % 9, 8 + did % 7
                y, x = np.mgrid[0:h, 0:w]
                px = np.stack(
                    [(3 * x + 7 * y + 41 * c + did) % 256 for c in range(3)],
                    axis=-1,
                ).astype(np.uint8)
                blobs.append(encode_png(px, filters=None))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    media = widen_for_python_stage(docs).mapInPandas(synth, schema="doc_id long, blob binary")
    return decode_png(media, "doc_id", "blob").select(
        "media_id", "format", "width", "height", "n_channels",
        "mean_r", "mean_g", "mean_b",
    )


@register(
    "q198_countmin_tokens",
    oracle="""
    WITH toks AS (
        SELECT u.t AS token
        FROM documents,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                t -> length(t) > 0)) AS u(t)
    ),
    rws AS (SELECT r FROM unnest(generate_series(0, 3)) t(r)),
    sketch AS (
        SELECT r,
               ('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || token),
                                  1, 8))::BIGINT % 512 AS bucket,
               COUNT(*) AS cnt
        FROM toks, rws GROUP BY 1, 2
    ),
    exact AS (SELECT token, COUNT(*) AS exact_cnt FROM toks GROUP BY token),
    topk AS (
        SELECT token, exact_cnt FROM exact
        ORDER BY exact_cnt DESC, token LIMIT 20
    ),
    probe AS (
        SELECT k.token, k.exact_cnt, r.r,
               ('0x' || substring(md5(CAST(r.r AS VARCHAR) || ':' || k.token),
                                  1, 8))::BIGINT % 512 AS bucket
        FROM topk k, rws r
    ),
    est AS (
        SELECT p.token, p.exact_cnt, MIN(coalesce(s.cnt, 0)) AS est_cnt
        FROM probe p LEFT JOIN sketch s ON s.r = p.r AND s.bucket = p.bucket
        GROUP BY p.token, p.exact_cnt
    )
    SELECT token, CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(est_cnt AS BIGINT) AS est_cnt,
           est_cnt >= exact_cnt AS overcount_ok
    FROM est
    """,
    doc="Count-min sketch point estimates vs exact counts "
    "(operators/frequent.py countmin_sketch/countmin_estimate; Cormode "
    "& Muthukrishnan 2005) — the probabilistic complement to q145's "
    "Misra-Gries: CMS overcounts, never undercounts, and is graded "
    "EXACTLY because the hash family is md5-derived and the sketch is "
    "a RELATION the oracle rebuilds cell-for-cell. Plan shape: the "
    "build is one explode(x depth) + ONE groupBy(r, bucket) with "
    "map-side combine collapsing every partition to <= depth x width "
    "rows before the shuffle (mergeable-summary shape); the estimate "
    "broadcast-joins the <= 4x512-row sketch against the probe keys. "
    "At 100 TB the shuffle is bounded by partitions x depth x width "
    "regardless of token cardinality — the reason a CMS exists. The "
    "overcount_ok column is the sketch's defining invariant, graded "
    "per key.",
)
def q198_countmin_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.frequent import (
        countmin_estimate,
        countmin_sketch,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("token")
    ).filter(F.length("token") > 0)
    sketch = countmin_sketch(toks, "token", depth=4, width=512)
    topk = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("token"))
        .limit(20)
    )
    est = countmin_estimate(sketch, topk.select("token"), "token",
                            depth=4, width=512)
    return topk.join(est, "token").select(
        "token",
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        F.col("est").cast("long").alias("est_cnt"),
        (F.col("est") >= F.col("exact_cnt")).alias("overcount_ok"),
    )


@register(
    "q200_gif_frame_sample",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               CAST(8 + doc_id % 5 AS INT) AS width,
               CAST(8 + doc_id % 4 AS INT) AS height,
               CAST(3 + doc_id % 4 AS INT) AS n_frames
        FROM documents
    ),
    fr AS (
        SELECT m.*, ff.f AS frame_idx
        FROM m, unnest(generate_series(0, m.n_frames - 1)) AS ff(f)
        WHERE ff.f % 2 = 0
    ),
    pix AS (
        SELECT fr.doc_id, fr.frame_idx, fr.width, fr.height,
               (2 * xx.x + 5 * yy.y + 13 * fr.frame_idx + fr.doc_id) % 256
                   AS v
        FROM fr,
             unnest(generate_series(0, fr.width - 1)) AS xx(x),
             unnest(generate_series(0, fr.height - 1)) AS yy(y)
    )
    SELECT doc_id AS media_id, CAST(frame_idx AS INT) AS frame_idx,
           width, height,
           CAST(round(avg(v), 4) AS FLOAT) AS mean_r,
           CAST(round(avg((v + 85) % 256), 4) AS FLOAT) AS mean_g,
           CAST(round(avg((v + 170) % 256), 4) AS FLOAT) AS mean_b
    FROM pix GROUP BY doc_id, frame_idx, width, height
    """,
    doc="REAL animated-image decode with stride-based frame sampling "
    "(operators/gif.py): GIF89a container walk + variable-width LZW "
    "from the public spec (clear/EOI, width growth to 12 bits, KwKwK, "
    "clear-reset), palette expansion to RGB — the engine's video-"
    "shaped path, because 'decode every k-th frame' is the pipeline "
    "op a training-data system runs over video containers. The query "
    "synthesizes one multi-frame GIF per document (3 + doc_id % 4 "
    "frames of planted indices (2x + 5y + 13*frame + doc_id) % 256 "
    "into the identity-ish palette (i, i+85, i+170)) and samples "
    "stride=2; GIF is lossless so the oracle reproduces per-frame "
    "channel means arithmetically. The SKIP path matters at scale: "
    "sub-block framing lets non-sampled frames be skipped without "
    "LZW-decoding them (~1/k of the decode work — proven by a test "
    "whose skipped frame holds corrupt LZW, test_gif.py). Malformed "
    "blobs become error ROWS, never task failures.",
)
def q200_gif_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from atiesh_spark.operators.gif import sample_gif_frames

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from atiesh_spark.operators.gif import encode_gif

        i = np.arange(256, dtype=np.int64)
        pal = np.stack(
            [i % 256, (i + 85) % 256, (i + 170) % 256], axis=-1
        ).astype(np.uint8)
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 8 + did % 5, 8 + did % 4
                y, x = np.mgrid[0:h, 0:w]
                frames = [
                    ((2 * x + 5 * y + 13 * f + did) % 256).astype(np.uint8)
                    for f in range(3 + did % 4)
                ]
                blobs.append(encode_gif(frames, pal))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    media = widen_for_python_stage(docs).mapInPandas(synth, schema="doc_id long, blob binary")
    return sample_gif_frames(media, "doc_id", "blob", stride=2).select(
        "media_id", "frame_idx", "width", "height",
        "mean_r", "mean_g", "mean_b",
    )


@register(
    "q208_mojibake_repair",
    oracle="""
    WITH orig AS (
        SELECT doc_id,
               'caf' || chr(233) || ' ' || chr(8220)
                   || md5(CAST(doc_id AS VARCHAR)) || chr(8221)
                   || ' ' || chr(8364) || CAST(doc_id AS VARCHAR) AS t
        FROM documents
    )
    SELECT doc_id, t AS text_out, doc_id % 3 = 0 AS changed FROM orig
    """,
    doc="Encoding-damage repair for crawl text (functions/text.py "
    "fix_mojibake — the core of ftfy's UTF-8-read-as-cp1252 fixer, "
    "Speer 2019, as ONE codegen expression with no Python and no "
    "shuffle): cp1252 printable stand-ins translate back to C1 "
    "bytes, the latin1 codepoints re-encode to bytes, and the bytes "
    "re-read as UTF-8 — kept only when the input shows a UTF-8 "
    "lead+continuation pattern rendered as latin1 AND the "
    "reinterpretation is valid UTF-8 AND something changed (clean "
    "accented text and non-latin1 scripts pass through; the repair "
    "is idempotent). Spark 4's strict encode/decode raises on "
    "malformed data, so the operator rides the lenient binary->"
    "string cast gated by is_valid_utf8 and a per-row lazy WHEN. "
    "The query plants 'caf(e-acute) (left-quote)md5(right-quote) "
    "(euro)N' per doc — every damage class: 2-byte UTF-8, cp1252 "
    "C1 stand-ins, multi-byte punctuation — mangles every third "
    "doc with the graded to_mojibake inverse, and must restore the "
    "original EXACTLY (the oracle rebuilds it with chr() "
    "arithmetic) while leaving clean docs byte-identical.",
)
def q208_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.functions.text import fix_mojibake, to_mojibake

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    orig = F.concat(
        F.lit("café “"),
        F.md5(F.col("doc_id").cast("string")),
        F.lit("” €"),
        F.col("doc_id").cast("string"),
    )
    staged = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, to_mojibake(orig))
        .otherwise(orig)
        .alias("text"),
    )
    fixed = fix_mojibake(F.col("text"))
    return staged.select(
        "doc_id",
        fixed.alias("text_out"),
        (fixed != F.col("text")).alias("changed"),
    )


@register(
    "q209_retrieval_eval",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe,
               label AS qlabel
        FROM embeddings WHERE vec_id < 16
    ),
    scored AS (
        SELECT query_id, doc_id,
               round(SUM(a * b) / (sqrt(SUM(a * a)) * sqrt(SUM(b * b))), 4)
                   AS sim
        FROM (SELECT q.query_id, e.vec_id AS doc_id,
                     unnest(CAST(e.embedding AS DOUBLE[])) AS a,
                     unnest(q.qe) AS b
              FROM embeddings e, q WHERE e.vec_id <> q.query_id)
        GROUP BY query_id, doc_id
    ),
    ranked AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, doc_id) AS rnk
        FROM scored
    ),
    qrels AS (
        SELECT q.query_id, e.vec_id AS doc_id
        FROM q JOIN embeddings e
          ON e.label = q.qlabel AND e.vec_id <> q.query_id
    ),
    nrel AS (SELECT query_id, count(*) AS n_rel FROM qrels GROUP BY 1),
    hits AS (
        SELECT t.query_id, t.rnk
        FROM ranked t JOIN qrels r
          ON t.query_id = r.query_id AND t.doc_id = r.doc_id
        WHERE t.rnk <= 10
    ),
    perq AS (
        SELECT query_id, max(1.0 / rnk) AS mrr_raw,
               SUM(1.0 / log2(rnk + 1)) AS dcg,
               count(*) AS hits10
        FROM hits GROUP BY query_id
    ),
    ideal AS (
        SELECT n.query_id, SUM(1.0 / log2(t.i + 1)) AS idcg
        FROM nrel n,
             unnest(generate_series(1, least(10, n.n_rel))) AS t(i)
        GROUP BY n.query_id
    )
    SELECT q.query_id,
           CAST(round(coalesce(p.mrr_raw, 0), 4) AS DOUBLE) AS mrr,
           CAST(round(coalesce(p.dcg, 0) / i.idcg, 4) AS DOUBLE)
               AS ndcg_at_10,
           CAST(round(coalesce(p.hits10, 0) * 1.0 / n.n_rel, 4) AS DOUBLE)
               AS recall_at_10,
           CAST(n.n_rel AS BIGINT) AS n_rel
    FROM q
    LEFT JOIN perq p USING (query_id)
    JOIN nrel n USING (query_id)
    JOIN ideal i USING (query_id)
    """,
    doc="Ranking-quality evaluation (operators/retrieval.py "
    "retrieval_eval; Järvelin & Kekäläinen TOIS 2002): per-query "
    "MRR, binary-gain NDCG@10, and recall@10 — the loop every "
    "retrieval/RAG pipeline closes with, completing the evaluation "
    "family next to q156 (pairs), q159 (classifier), q160 "
    "(clustering). Graded end-to-end on a REAL ranking: 16 query "
    "vectors ranked against the corpus by exact cosine (q29's "
    "rounded-sim + id tie-break, so order is engine-independent), "
    "with relevance = the embeddings table's own label classes "
    "(self excluded) — the oracle replays ranking and metrics in "
    "SQL. Plan shape: top-k join against qrels + two grouped "
    "aggregations; ideal DCG is a JVM-side sequence fold, never a "
    "per-rank corpus explode. Metric cost is ∝ |top-k| + |qrels|, "
    "independent of corpus size.",
)
def q209_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from atiesh_spark.operators.retrieval import retrieval_eval
    from atiesh_spark.operators.similarity import as_double, cosine

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"),
        as_double("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    d = emb.select(
        F.col("vec_id").alias("doc_id"),
        as_double("embedding").alias("de"),
        "label",
    )
    scored = (
        d.crossJoin(F.broadcast(q))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id", "doc_id",
            F.round(cosine(F.col("qe"), F.col("de")), 4).alias("sim"),
        )
    )
    # two-phase top-k rank (cap_per_group discipline): the eval only
    # consumes ranks <= 10, and a per-query window over the brute-force
    # run would sort the whole corpus in one task per query
    from atiesh_spark.operators.sampling import hash_bucket

    w1 = Window.partitionBy("query_id", hash_bucket("doc_id", 16)).orderBy(
        F.desc("sim"), F.asc("doc_id")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("doc_id")
    )
    runs = (
        scored.withColumn("rank", F.row_number().over(w1))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id", "doc_id", F.row_number().over(w2).alias("rank")
        )
    )
    qrels = (
        q.select("query_id", "qlabel")
        .join(d.select("doc_id", "label"),
              F.col("label") == F.col("qlabel"))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id")
    )
    return retrieval_eval(runs, qrels, k=10)


@register(
    "q210_bitext_margin_mining",
    oracle="""
    WITH v AS (
        SELECT vec_id,
               generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS d,
               unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings
    ),
    signs AS (
        SELECT p, d,
               ((('0x' || substring(md5(p::VARCHAR || ':' || d::VARCHAR),
                                    1, 1))::INT % 2) * 2 - 1)::DOUBLE AS sgn
        FROM (SELECT unnest(generate_series(0, 3)) AS p),
             (SELECT unnest(generate_series(0, 63)) AS d)
    ),
    proj AS (
        SELECT v.vec_id, s.p, round(SUM(v.x * s.sgn), 6) AS pr
        FROM v JOIN signs s ON v.d = s.d
        GROUP BY v.vec_id, s.p
    ),
    buckets AS (
        SELECT vec_id,
               string_agg(CASE WHEN pr > 0 THEN '1' ELSE '0' END, ''
                          ORDER BY p) AS bucket
        FROM proj GROUP BY vec_id
    ),
    pairs AS (
        SELECT ba.vec_id AS id_a, bb.vec_id AS id_b
        FROM buckets ba JOIN buckets bb ON ba.bucket = bb.bucket
        WHERE ba.vec_id % 2 = 0 AND bb.vec_id % 2 = 1
    ),
    cand AS (
        SELECT id_a, id_b,
               round(SUM(x * y) / (sqrt(SUM(x * x)) * sqrt(SUM(y * y))), 4)
                   AS sim
        FROM (SELECT p.id_a, p.id_b,
                     unnest(CAST(ea.embedding AS DOUBLE[])) AS x,
                     unnest(CAST(eb.embedding AS DOUBLE[])) AS y
              FROM pairs p
              JOIN embeddings ea ON ea.vec_id = p.id_a
              JOIN embeddings eb ON eb.vec_id = p.id_b)
        GROUP BY id_a, id_b
    ),
    ka AS (
        SELECT id_a, avg(sim) AS knn_a
        FROM (SELECT id_a, sim,
                     row_number() OVER (PARTITION BY id_a
                                        ORDER BY sim DESC, id_b) AS r
              FROM cand)
        WHERE r <= 4 GROUP BY id_a
    ),
    kb AS (
        SELECT id_b, avg(sim) AS knn_b
        FROM (SELECT id_b, sim,
                     row_number() OVER (PARTITION BY id_b
                                        ORDER BY sim DESC, id_a) AS r
              FROM cand)
        WHERE r <= 4 GROUP BY id_b
    ),
    margins AS (
        SELECT c.id_a, c.id_b, c.sim,
               round(c.sim / ((ka.knn_a + kb.knn_b) / 2), 4) AS margin
        FROM cand c JOIN ka USING (id_a) JOIN kb USING (id_b)
    ),
    best AS (
        SELECT id_a, id_b, sim, margin,
               row_number() OVER (PARTITION BY id_a
                                  ORDER BY margin DESC, id_b) AS r
        FROM margins
    )
    SELECT id_a, id_b, sim, margin FROM best
    WHERE r = 1 AND margin > 1.0
    """,
    doc="Margin-based bitext mining (operators/similarity.py "
    "bitext_margin_pairs; Artetxe & Schwenk ACL 2019): align each "
    "even-id vector with its best odd-id candidate by the RATIO "
    "margin — cosine over the mean of both sides' 4-nearest-"
    "candidate cosines — which suppresses hub vectors near "
    "everything; ids whose only support is the pair itself (margin "
    "exactly 1.0) are excluded. The parallel-corpus mining step for "
    "translation data, built on the ANN family's md5-derived "
    "hyperplane buckets: candidates are bucket pairs, never A x B, "
    "and the oracle replays buckets, cosines, k-NN means, margins, "
    "and the best-pair selection in SQL (planes pinned to 4 for "
    "enumerability — the q110 precedent; production passes "
    "num_planes=None for corpus-sized buckets via auto_num_planes).",
)
def q210_bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.similarity import bitext_margin_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    emb_a = emb.filter(F.col("vec_id") % 2 == 0)
    emb_b = emb.filter(F.col("vec_id") % 2 == 1)
    return bitext_margin_pairs(emb_a, emb_b, k=4, num_planes=4)


@register(
    "q211_html_extract",
    oracle=r"""
    WITH pages AS (
        SELECT doc_id,
            '<html><head><title>' || source
            || '</title><style>p{color:red}</style></head><body>'
            || '<div id="nav"><a href="/">Home</a> <a href="/x">Archive</a>'
            || ' <a href="/y">About &amp; Contact</a></div>'
            || '<script type="text/javascript">var id=' || doc_id
            || '; if(id<10){id=10;}</script>'
            || '<h2>Doc ' || doc_id || '</h2>'
            || '<p>' || text
            || CASE WHEN doc_id % 3 = 0
                    THEN ' <a href="/more">Read more</a>' ELSE '' END
            || '</p>'
            || CASE WHEN doc_id % 2 = 0
                    THEN '<p>Short &quot;note&quot; &#39;n&#39; &lt;b&gt;'
                         || ' &nbsp; entity line here</p>'
                    ELSE '' END
            || '<div id="footer"><a href="/tos">Terms</a> &amp;'
            || ' <a href="/priv">Privacy</a> (c) 2026</div>'
            || '</body></html>' AS html
        FROM documents
    ),
    stripped AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(html,
                   '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                   '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS h
        FROM pages
    ),
    exarr AS (
        SELECT doc_id,
               regexp_split_to_array(h,
          '(?i)</(?:p|div|li|h1|h2|h3|h4|h5|h6|td|th|section|article|blockquote)>'
               ) AS arr
        FROM stripped
    ),
    ex AS (
        SELECT doc_id,
               unnest(arr) AS block,
               unnest(range(1, len(arr) + 1)) AS i
        FROM exarr
    ),
    btxt AS (
        SELECT doc_id, i,
            trim(regexp_replace(
                replace(replace(replace(replace(replace(replace(
                    regexp_replace(block, '<[^>]*>', ' ', 'g'),
                '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                '[ \t\r\n]+', ' ', 'g')) AS txt,
            coalesce(list_sum(list_transform(
                regexp_extract_all(block, '(?is)<a[^>]*>(.*?)</a>', 1),
                u -> length(trim(regexp_replace(
                    replace(replace(replace(replace(replace(replace(
                        regexp_replace(u, '<[^>]*>', ' ', 'g'),
                    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                    '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                    '[ \t\r\n]+', ' ', 'g'))))), 0) AS link_chars
        FROM ex
    ),
    judged AS (
        SELECT doc_id, i, txt, length(txt) AS text_chars,
               (length(txt) >= 25
                AND link_chars * 100 <= 33 * length(txt)) AS keep
        FROM btxt
        WHERE length(txt) > 0
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS kept_blocks,
           CAST(coalesce(sum(text_chars) FILTER (WHERE keep), 0)
                AS BIGINT) AS content_chars,
           CAST(coalesce(sum(text_chars) FILTER (WHERE NOT keep), 0)
                AS BIGINT) AS boiler_chars,
           md5(coalesce(string_agg(txt, chr(10) ORDER BY i)
                        FILTER (WHERE keep), '')) AS clean_md5
    FROM judged
    GROUP BY doc_id
    """,
    doc="HTML main-content extraction (operators/web.py "
    "extract_html_content): boilerplate removal for crawl pages — the "
    "jusText/trafilatura core signal (Pomikalek 2011) reduced to its "
    "deterministic skeleton: script/style elements removed, the page "
    "split into blocks at closing block-level tags, per-block visible "
    "text (tags stripped FIRST, then entities decoded so &lt;b&gt; "
    "stays literal, whitespace collapsed), and a block kept iff "
    "text_chars >= 25 AND link_chars*100 <= 33*text_chars — the "
    "density gate is integer arithmetic so engines cannot disagree on "
    "the boundary. Pages are synthesized deterministically from "
    "doc_id/source/text in BOTH engines (q144 pattern) with a "
    "link-dense nav, a script containing a literal '<', a short "
    "heading, the document body, an entity-only paragraph on even "
    "ids, and a link-dense footer — every rule fires. All row-local "
    "codegen (regexp + HOFs, Java-cap-RE2 dialect, zero shuffles, "
    "zero Python UDFs): extracting 100 TB of HTML rides the scan. "
    "Graded EXACTLY per page: block counts, content/boiler chars, "
    "and md5 of the extracted text.",
)
def q211_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.web import extract_html_content

    d = F.col("doc_id")
    pages = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>"),
            F.col("source"),
            F.lit("</title><style>p{color:red}</style></head><body>"),
            F.lit('<div id="nav"><a href="/">Home</a> <a href="/x">Archive</a>'),
            F.lit(' <a href="/y">About &amp; Contact</a></div>'),
            F.lit('<script type="text/javascript">var id='),
            d.cast("string"),
            F.lit("; if(id<10){id=10;}</script>"),
            F.lit("<h2>Doc "),
            d.cast("string"),
            F.lit("</h2>"),
            F.lit("<p>"),
            F.col("text"),
            F.when(d % 3 == 0, F.lit(' <a href="/more">Read more</a>'))
            .otherwise(F.lit("")),
            F.lit("</p>"),
            F.when(
                d % 2 == 0,
                F.lit(
                    "<p>Short &quot;note&quot; &#39;n&#39; &lt;b&gt;"
                    " &nbsp; entity line here</p>"
                ),
            ).otherwise(F.lit("")),
            F.lit('<div id="footer"><a href="/tos">Terms</a> &amp;'),
            F.lit(' <a href="/priv">Privacy</a> (c) 2026</div>'),
            F.lit("</body></html>"),
        ).alias("html"),
    )
    out = extract_html_content(pages, "html")
    return out.select(
        "doc_id",
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.col("kept_blocks").cast("long").alias("kept_blocks"),
        F.col("content_chars").cast("long").alias("content_chars"),
        F.col("boiler_chars").cast("long").alias("boiler_chars"),
        F.md5(F.col("clean_text")).alias("clean_md5"),
    )


@register(
    "q212_warc_roundtrip",
    oracle="""
    SELECT CAST(doc_id % 32 AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY doc_id % 32
                                   ORDER BY doc_id) - 1 AS BIGINT)
               AS rec_index,
           'response' AS warc_type,
           'https://corpus.example/doc/' || doc_id AS target_uri,
           CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
           md5(text) AS body_md5
    FROM documents
    """,
    doc="WARC archive ingestion end-to-end (sources/warc.py): the "
    "documents table is packed into 32 ISO 28500 WARC/1.0 blobs "
    "(encode_warc_records inside one applyInPandas over the shard "
    "key — version line, CRLF headers, Content-Length framing, "
    "record separators), then parse_warc_records splits the blobs "
    "back into record rows in one mapInPandas pass (no shuffle, "
    "work proportional to blob bytes, the codec-family error-row "
    "contract for truncated/corrupt archives — unit tests cover bad "
    "magic, truncation, missing separator, bad Content-Length). "
    "Graded EXACTLY: every record's shard, index-in-archive, type, "
    "target URI, payload byte length, and payload md5 must match "
    "the oracle computing them directly from the source rows — the "
    "write->read round trip proves both the framing and the parser "
    "on real multi-byte UTF-8 payloads. In production the blob "
    "frame comes from spark.read.format('binaryFile') over a crawl "
    "bucket; parallelism = archive files.",
)
def q212_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from atiesh_spark.sources.warc import (
        encode_warc_records,
        parse_warc_records,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("doc_id") % 32).alias("shard")
    )

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        recs = [
            (f"https://corpus.example/doc/{int(d)}", t.encode("utf-8"))
            for d, t in zip(pdf["doc_id"], pdf["text"])
        ]
        return pd.DataFrame(
            {"shard": [key[0]], "blob": [encode_warc_records(recs)]}
        )

    blobs = docs.groupBy("shard").applyInPandas(
        build, "shard bigint, blob binary"
    )
    recs = parse_warc_records(blobs, "blob", id_cols=("shard",))
    return recs.select(
        "shard",
        F.col("rec_index").cast("long").alias("rec_index"),
        "warc_type",
        "target_uri",
        "content_length",
        F.md5("body").alias("body_md5"),
    )


@register(
    "q213_compression_quality",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           true AS rep_below_nat_all,
           true AS ratios_in_bounds,
           true AS class_means_ordered
    FROM documents
    """,
    doc="Compression-ratio quality signal (operators/textstats.py "
    "compression_ratio): per-document zlib ratio (compressed/raw "
    "bytes, fixed level 6) — the Gopher/Dolma-class whole-document "
    "redundancy check: templated text compresses far below natural "
    "prose, high-entropy noise above it. The ratio is not "
    "SQL-expressible, so the grade is the sketch-family pattern "
    "(q45/q104): three deterministic variants per document — NAT "
    "(the text), REP (its first 40 chars repeated 10x), NOISE (8 "
    "chained md5 hex digests, built entirely in codegen) — and the "
    "oracle pins the class-separation truths measured to hold with "
    "wide margins at this corpus: every REP ratio below its NAT "
    "ratio (max rep 0.13 vs min nat 0.40 at sf0.01), all ratios in "
    "(0, 1.2] (tiny docs exceed 1.0 from the zlib header — "
    "documented, bounded), and strict ordering of the three class "
    "means. One Arrow-batched pandas UDF pass over the exploded "
    "variants, one groupBy(doc_id) shuffle of 3-row groups, one "
    "global digest.",
)
def q213_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.textstats import compression_ratio

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    noise = F.col("text")
    chain = []
    for _ in range(8):
        noise = F.md5(noise)
        chain.append(noise)
    variants = docs.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit("nat").alias("variant"),
                         F.col("text").alias("vtext")),
                F.struct(F.lit("rep").alias("variant"),
                         F.repeat(F.substring("text", 1, 40), 10).alias("vtext")),
                F.struct(F.lit("noise").alias("variant"),
                         F.concat(*chain).alias("vtext")),
            )
        ).alias("v"),
    ).select("doc_id", "v.variant", F.col("v.vtext").alias("vtext"))
    rated = compression_ratio(variants, "vtext")
    per_doc = rated.groupBy("doc_id").agg(
        F.max(F.when(F.col("variant") == "rep", F.col("zlib_ratio"))).alias("r_rep"),
        F.max(F.when(F.col("variant") == "nat", F.col("zlib_ratio"))).alias("r_nat"),
        F.max(F.when(F.col("variant") == "noise", F.col("zlib_ratio"))).alias("r_noise"),
    )
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.bool_and(F.col("r_rep") < F.col("r_nat")).alias("rep_below_nat_all"),
        F.bool_and(
            (F.col("r_rep") > 0) & (F.col("r_rep") <= 1.2)
            & (F.col("r_nat") > 0) & (F.col("r_nat") <= 1.2)
            & (F.col("r_noise") > 0) & (F.col("r_noise") <= 1.2)
        ).alias("ratios_in_bounds"),
        ((F.avg("r_rep") < F.avg("r_nat")) & (F.avg("r_nat") < F.avg("r_noise")))
        .alias("class_means_ordered"),
    )


@register(
    "q214_robots_admission",
    oracle="""
    WITH urls AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'a.example.com'
                    ELSE 'b.example.com' END AS host,
               CASE WHEN doc_id % 2 = 0
                    THEN '/docs/' || lang || '/p' || (doc_id % 5)
                         || CASE WHEN doc_id % 4 = 0 THEN '/print'
                                 ELSE '' END
                    ELSE CASE WHEN doc_id % 3 = 0
                              THEN '/private/f' || (doc_id % 5)
                              ELSE '/pub/f' || (doc_id % 5) END
               END AS path
        FROM documents
    ),
    rules(host, allow, pattern) AS (VALUES
        ('a.example.com', false, '/docs/'),
        ('a.example.com', true,  '/docs/en'),
        ('a.example.com', false, '/*/print$'),
        ('b.example.com', true,  '/'),
        ('b.example.com', false, '/private/'),
        ('b.example.com', false, '/pub/f1$'),
        ('b.example.com', true,  '/pub/*1$')
    ),
    hits AS (
        SELECT u.doc_id, u.host, u.path, r.allow, r.pattern,
               row_number() OVER (
                   PARTITION BY u.doc_id
                   ORDER BY length(r.pattern) DESC, r.allow DESC,
                            r.pattern
               ) AS rk
        FROM urls u
        JOIN rules r
          ON u.host = r.host
         AND regexp_matches(u.path,
               '^' || replace(
                   CASE WHEN r.pattern LIKE '%$'
                        THEN left(r.pattern, length(r.pattern) - 1)
                        ELSE r.pattern END, '*', '.*')
               || CASE WHEN r.pattern LIKE '%$' THEN '$' ELSE '' END)
    )
    SELECT doc_id, host, path, allow AS allowed, pattern AS matched_rule
    FROM hits WHERE rk = 1
    """,
    doc="robots.txt admission filtering (operators/web.py "
    "apply_robots_rules; RFC 9309): per-URL allow/deny under the "
    "longest-match rule — among a host's matching Allow/Disallow "
    "patterns the longest wins, a length tie goes to Allow, no match "
    "means allowed. Plan shape for 100 TB of URLs: the KB-sized rule "
    "dimension aggregates to one array row per host (the only "
    "shuffle, on the dimension), broadcast-joins onto the URL frame, "
    "and match + winner selection are row-local HOFs (filter by "
    "in-plan translated regex, array_max over the (length, allow) "
    "key) — the URL fact never shuffles. Patterns translate to "
    "regexes in-plan: '*' -> '.*', trailing '$' -> end anchor, "
    "metacharacters escaped. The synthesized fixture fires every "
    "branch: prefix-over-prefix override (/docs/en beats /docs/), "
    "wildcard-with-anchor dominance (/*/print$ beats both), an exact "
    "length tie decided by Allow (/pub/f1$ vs /pub/*1$), and a "
    "catch-all '/'. Graded EXACTLY per URL: decision + winning rule.",
)
def q214_robots_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.web import apply_robots_rules

    d = F.col("doc_id")
    urls = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(d % 2 == 0, F.lit("a.example.com"))
        .otherwise(F.lit("b.example.com"))
        .alias("host"),
        F.when(
            d % 2 == 0,
            F.concat(
                F.lit("/docs/"), F.col("lang"), F.lit("/p"),
                (d % 5).cast("string"),
                F.when(d % 4 == 0, F.lit("/print")).otherwise(F.lit("")),
            ),
        )
        .otherwise(
            F.when(
                d % 3 == 0,
                F.concat(F.lit("/private/f"), (d % 5).cast("string")),
            ).otherwise(
                F.concat(F.lit("/pub/f"), (d % 5).cast("string"))
            )
        )
        .alias("path"),
    )
    rules = spark.createDataFrame(
        [
            ("a.example.com", False, "/docs/"),
            ("a.example.com", True, "/docs/en"),
            ("a.example.com", False, "/*/print$"),
            ("b.example.com", True, "/"),
            ("b.example.com", False, "/private/"),
            ("b.example.com", False, "/pub/f1$"),
            ("b.example.com", True, "/pub/*1$"),
        ],
        "host string, allow boolean, pattern string",
    )
    return apply_robots_rules(urls, rules)


# ---------------------------------------------------------------------------
# Generation-quality evaluation: corpus BLEU / chrF (operators/evaluate.py)
# ---------------------------------------------------------------------------

_EVAL_TOKS = "filter(split(text, '\\\\s+'), x -> x != '')"

#: Shared candidate/reference fixture for q215/q216, mirrored verbatim in
#: both oracles: candidate = the document text; reference = the same word
#: list with every word at 0-based position i where (i + doc_id) % 7 == 0
#: replaced by 'alt<i>' (a per-doc-shifted ~1/7 substitution rate, so
#: precisions land strictly inside (0, 1)), then the first (doc_id % 4)
#: words appended again (references run LONGER than candidates, so the
#: brevity penalty branch exp(1 - r_len/c_len) actually fires per group).
#: The token array is materialized as its own column first — inlining
#: the split into the position lambda re-tokenizes per WORD (O(len^2)
#: per row; measured 2.8 s of pure fixture cost at sf0.1).
_EVAL_REF_EXPR = (
    "array_join(concat("
    "transform(sequence(1, size(__toks)), "
    "i -> IF((i - 1 + doc_id) % 7 = 0, "
    "concat('alt', cast(i - 1 AS string)), "
    "element_at(__toks, i))), "
    "slice(__toks, 1, cast(doc_id % 4 AS int))"
    "), ' ')"
)

#: DuckDB twin of the fixture (1-based list positions, hence i - 1).
_EVAL_PAIRS_SQL = r"""
    base AS (
        SELECT doc_id AS pair_id, lang, text AS cand,
               list_filter(string_split_regex(text, '\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    pairs AS (
        SELECT pair_id, lang, cand,
               array_to_string(list_concat(
                   list_transform(generate_series(1, len(toks)),
                       i -> CASE WHEN (i - 1 + pair_id) % 7 = 0
                                 THEN 'alt' || CAST(i - 1 AS VARCHAR)
                                 ELSE toks[CAST(i AS INT)] END),
                   toks[1:CAST(pair_id % 4 AS INT)]), ' ') AS ref
        FROM base WHERE len(toks) > 0
    )
"""


def _eval_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.session import widen_for_python_stage

    docs = widen_for_python_stage(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
    )
    toked = docs.select(
        "doc_id", "lang", "text", F.expr(_EVAL_TOKS).alias("__toks")
    ).filter(F.expr("size(__toks) > 0"))
    return toked.select(
        F.col("doc_id").alias("pair_id"),
        "lang",
        F.col("text").alias("cand"),
        F.expr(_EVAL_REF_EXPR).alias("ref"),
    )


@register(
    "q215_corpus_bleu",
    oracle="WITH "
    + _EVAL_PAIRS_SQL
    + r""",
    sides AS (
        SELECT pair_id, 'c' AS side,
               list_filter(string_split_regex(cand, '\s+'),
                           x -> x <> '') AS w
        FROM pairs
        UNION ALL
        SELECT pair_id, 'r',
               list_filter(string_split_regex(ref, '\s+'), x -> x <> '')
        FROM pairs
    ),
    grams AS (
        SELECT pair_id, side, nn.n AS n,
               unnest(list_transform(
                   generate_series(1, len(w) - nn.n + 1),
                   i -> array_to_string(
                       w[CAST(i AS INT):CAST(i + nn.n - 1 AS INT)], ' ')
               )) AS gram
        FROM sides, (SELECT unnest([1, 2, 3, 4]) AS n) nn
        WHERE len(w) >= nn.n
    ),
    cnt AS (
        SELECT pair_id, side, n, gram, count(*) AS c
        FROM grams GROUP BY pair_id, side, n, gram
    ),
    clip AS (
        SELECT c.pair_id, c.n, SUM(LEAST(c.c, r.c)) AS clipped
        FROM cnt c JOIN cnt r
          ON c.pair_id = r.pair_id AND c.n = r.n AND c.gram = r.gram
         AND c.side = 'c' AND r.side = 'r'
        GROUP BY c.pair_id, c.n
    ),
    tot AS (
        -- one-sided (pair, n) rows are KEPT (sacrebleu corpus
        -- aggregation): an empty-reference pair still counts its
        -- candidate grams in the precision denominator, mirroring
        -- keep_one_sided=True in operators/evaluate.py
        SELECT pair_id, n,
               COALESCE(SUM(CASE WHEN side = 'c' THEN c END), 0)
                   AS c_total,
               COALESCE(SUM(CASE WHEN side = 'r' THEN c END), 0)
                   AS r_total
        FROM cnt GROUP BY pair_id, n
    ),
    pern AS (
        SELECT p.lang AS grp, t.n,
               SUM(COALESCE(j.clipped, 0)) AS clipped,
               SUM(t.c_total) AS c_total,
               SUM(t.r_total) AS r_total,
               COUNT(*) AS n_pairs
        FROM tot t
        LEFT JOIN clip j ON j.pair_id = t.pair_id AND j.n = t.n
        JOIN pairs p ON p.pair_id = t.pair_id
        GROUP BY p.lang, t.n
    ),
    grid AS (
        SELECT g.grp, nn.n
        FROM (SELECT DISTINCT grp FROM pern) g,
             (SELECT unnest([1, 2, 3, 4]) AS n) nn
    ),
    filled AS (
        SELECT grid.grp, grid.n,
               COALESCE(p.clipped, 0) AS clipped,
               COALESCE(p.c_total, 0) AS c_total,
               COALESCE(p.r_total, 0) AS r_total,
               COALESCE(p.n_pairs, 0) AS n_pairs
        FROM grid LEFT JOIN pern p
          ON p.grp = grid.grp AND p.n = grid.n
    ),
    scored AS (
        SELECT grp,
               MAX(CASE WHEN n = 1 THEN n_pairs END) AS n_pairs,
               MAX(CASE WHEN n = 1 THEN c_total END) AS c_len,
               MAX(CASE WHEN n = 1 THEN r_total END) AS r_len,
               MAX(CASE WHEN n = 1 THEN clipped END) AS clip1,
               MAX(CASE WHEN n = 1
                        THEN round(CASE WHEN c_total > 0
                                        THEN clipped / c_total
                                        ELSE 0.0 END, 4) END) AS p1,
               MAX(CASE WHEN n = 2
                        THEN round((clipped + 1) / (c_total + 1), 4)
                   END) AS p2,
               MAX(CASE WHEN n = 3
                        THEN round((clipped + 1) / (c_total + 1), 4)
                   END) AS p3,
               MAX(CASE WHEN n = 4
                        THEN round((clipped + 1) / (c_total + 1), 4)
                   END) AS p4,
               SUM(ln(GREATEST(
                   CASE WHEN n = 1 THEN
                            CASE WHEN c_total > 0
                                 THEN clipped / c_total ELSE 0.0 END
                        ELSE (clipped + 1) / (c_total + 1) END,
                   1e-300))) / 4 AS logmean
        FROM filled GROUP BY grp
    )
    SELECT grp AS lang,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(c_len AS BIGINT) AS c_len,
           CAST(r_len AS BIGINT) AS r_len,
           CAST(round(CASE WHEN c_len >= r_len THEN 1.0
                           WHEN c_len > 0
                                THEN exp(1.0 - r_len / c_len)
                           ELSE 0.0 END, 4)
                AS DOUBLE) AS bp,
           CAST(p1 AS DOUBLE) AS p1, CAST(p2 AS DOUBLE) AS p2,
           CAST(p3 AS DOUBLE) AS p3, CAST(p4 AS DOUBLE) AS p4,
           CAST(round(CASE WHEN clip1 = 0 THEN 0.0
                           ELSE (CASE WHEN c_len >= r_len THEN 1.0
                                      WHEN c_len > 0
                                           THEN exp(1.0 - r_len / c_len)
                                      ELSE 0.0 END)
                                * exp(logmean) END, 4)
                AS DOUBLE) AS bleu
    FROM scored
    """,
    doc="Corpus-level BLEU per language group (operators/evaluate.py "
    "corpus_bleu; Papineni et al. ACL 2002, add-one smoothing for "
    "n >= 2 per Lin & Och 2004): the closing metric of any "
    "generation/translation pipeline. Fixture: reference = the "
    "candidate's word list with a per-doc-shifted 1-in-7 "
    "substitution plus doc_id%4 words re-appended, so precisions sit "
    "strictly inside (0,1), the brevity penalty fires (refs run "
    "longer), and both engines rebuild the identical pair table from "
    "documents alone. Plan shape for 100 TB: ONE n-gram explode per "
    "side covering all 4 orders -> map-side-combined per-(pair,n,"
    "gram) counts -> one equi-join that reuses the groupBy "
    "partitioning -> integer sums per (group,n). All precisions are "
    "ratios of exact integer sums; the only cross-engine float ops "
    "are the final ln/exp/divide, rounded to 4dp both sides. The "
    "(group,n) grid completion makes orders no candidate reaches an "
    "exact smoothed 1.0 instead of a NULL that poisons the log-mean.",
)
def q215_corpus_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.evaluate import corpus_bleu

    return corpus_bleu(
        _eval_pairs(spark, sf_dir), "pair_id", "cand", "ref", "lang"
    )


@register(
    "q216_corpus_chrf",
    oracle="WITH "
    + _EVAL_PAIRS_SQL
    + r""",
    sides AS (
        SELECT pair_id, 'c' AS side,
               regexp_replace(cand, '\s+', '', 'g') AS s
        FROM pairs
        UNION ALL
        SELECT pair_id, 'r', regexp_replace(ref, '\s+', '', 'g')
        FROM pairs
    ),
    grams AS (
        SELECT pair_id, side, nn.n AS n,
               unnest(list_transform(
                   generate_series(1, length(s) - nn.n + 1),
                   i -> substr(s, CAST(i AS INT), nn.n))) AS gram
        FROM sides, (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n) nn
        WHERE length(s) >= nn.n
    ),
    cnt AS (
        SELECT pair_id, side, n, gram, count(*) AS c
        FROM grams GROUP BY pair_id, side, n, gram
    ),
    clip AS (
        SELECT c.pair_id, c.n, SUM(LEAST(c.c, r.c)) AS clipped
        FROM cnt c JOIN cnt r
          ON c.pair_id = r.pair_id AND c.n = r.n AND c.gram = r.gram
         AND c.side = 'c' AND r.side = 'r'
        GROUP BY c.pair_id, c.n
    ),
    tot AS (
        -- one-sided (pair, n) rows KEPT (sacrebleu aggregation),
        -- mirroring keep_one_sided=True; the group-level HAVING
        -- below is the separate "effective order" filter
        SELECT pair_id, n,
               COALESCE(SUM(CASE WHEN side = 'c' THEN c END), 0)
                   AS c_total,
               COALESCE(SUM(CASE WHEN side = 'r' THEN c END), 0)
                   AS r_total
        FROM cnt GROUP BY pair_id, n
    ),
    pern AS (
        SELECT p.lang AS grp, t.n,
               SUM(COALESCE(j.clipped, 0)) AS clipped,
               SUM(t.c_total) AS c_total,
               SUM(t.r_total) AS r_total,
               COUNT(*) AS n_pairs
        FROM tot t
        LEFT JOIN clip j ON j.pair_id = t.pair_id AND j.n = t.n
        JOIN pairs p ON p.pair_id = t.pair_id
        GROUP BY p.lang, t.n
        HAVING SUM(t.c_total) > 0 AND SUM(t.r_total) > 0
    ),
    scored AS (
        SELECT grp, MAX(n_pairs) AS n_pairs,
               AVG(clipped / c_total) AS p,
               AVG(clipped / r_total) AS r
        FROM pern GROUP BY grp
    )
    SELECT grp AS lang,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(round(p, 4) AS DOUBLE) AS chr_p,
           CAST(round(r, 4) AS DOUBLE) AS chr_r,
           CAST(round(CASE WHEN p = 0 AND r = 0 THEN 0.0
                           ELSE 5 * p * r / (4 * p + r) END, 4)
                AS DOUBLE) AS chrf
    FROM scored
    """,
    doc="Corpus-level chrF2 per language group (operators/evaluate.py "
    "corpus_chrf; Popović WMT 2015): character n-gram (n=1..6, "
    "whitespace stripped) precision/recall averaged arithmetically "
    "over effective orders, combined recall-weighted (beta=2). Same "
    "engine-mirrored fixture as q215. The character explode is the "
    "heavy variant (6 orders x every char position x both sides), "
    "which is why this query carries the evaluation family's hot "
    "bench cell: one explode per side, map-side combine to "
    "per-(pair,n,gram) counts, one partitioning-reusing equi-join, "
    "integer sums per (group,n) — metric cost linear in corpus "
    "characters at any scale, never all-pairs.",
)
def q216_corpus_chrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.evaluate import corpus_chrf

    return corpus_chrf(
        _eval_pairs(spark, sf_dir), "pair_id", "cand", "ref", "lang"
    )


@register(
    "q217_corpus_rouge2",
    oracle="WITH "
    + _EVAL_PAIRS_SQL
    + r""",
    sides AS (
        SELECT pair_id, 'c' AS side,
               list_filter(string_split_regex(cand, '\s+'),
                           x -> x <> '') AS w
        FROM pairs
        UNION ALL
        SELECT pair_id, 'r',
               list_filter(string_split_regex(ref, '\s+'), x -> x <> '')
        FROM pairs
    ),
    grams AS (
        SELECT pair_id, side,
               unnest(list_transform(
                   generate_series(1, len(w) - 1),
                   i -> array_to_string(
                       w[CAST(i AS INT):CAST(i + 1 AS INT)], ' ')
               )) AS gram
        FROM sides WHERE len(w) >= 2
    ),
    cnt AS (
        SELECT pair_id, side, gram, count(*) AS c
        FROM grams GROUP BY pair_id, side, gram
    ),
    clip AS (
        SELECT c.pair_id, SUM(LEAST(c.c, r.c)) AS clipped
        FROM cnt c JOIN cnt r
          ON c.pair_id = r.pair_id AND c.gram = r.gram
         AND c.side = 'c' AND r.side = 'r'
        GROUP BY c.pair_id
    ),
    tot AS (
        SELECT pair_id,
               SUM(CASE WHEN side = 'c' THEN c END) AS c_total,
               SUM(CASE WHEN side = 'r' THEN c END) AS r_total
        FROM cnt GROUP BY pair_id
        HAVING SUM(CASE WHEN side = 'c' THEN c END) IS NOT NULL
           AND SUM(CASE WHEN side = 'r' THEN c END) IS NOT NULL
    ),
    perpair AS (
        SELECT p.lang AS grp,
               round(COALESCE(j.clipped, 0) / t.c_total, 4) AS pp,
               round(COALESCE(j.clipped, 0) / t.r_total, 4) AS rr,
               round(CASE WHEN COALESCE(j.clipped, 0) > 0
                          THEN 2 * (COALESCE(j.clipped, 0) / t.c_total)
                               * (COALESCE(j.clipped, 0) / t.r_total)
                               / ((COALESCE(j.clipped, 0) / t.c_total)
                                  + (COALESCE(j.clipped, 0) / t.r_total))
                          ELSE 0.0 END, 4) AS ff
        FROM tot t
        LEFT JOIN clip j ON j.pair_id = t.pair_id
        JOIN pairs p ON p.pair_id = t.pair_id
    )
    SELECT grp AS lang,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(round(SUM(pp), 4) AS DOUBLE) AS sum_p,
           CAST(round(SUM(rr), 4) AS DOUBLE) AS sum_r,
           CAST(round(SUM(ff), 4) AS DOUBLE) AS sum_f1
    FROM perpair GROUP BY grp
    """,
    doc="ROUGE-2 per language group (operators/evaluate.py "
    "corpus_rouge_n; Lin 2004): per-pair bigram precision/recall/F1 "
    "with reference-side clipping — the summarization-eval complement "
    "of q215's corpus-pooled BLEU, reported as SUMS of per-pair "
    "rounded scores (the registry canon: a mean of 4dp values can "
    "land exactly on a .00005 boundary; a sum of 0.0001-multiples "
    "cannot). Same engine-mirrored fixture and single-shuffle "
    "clipped-count kernel as q215/q216; per-pair ratios are exact "
    "integer divisions, so both engines compute bit-identical "
    "doubles before the one rounding.",
)
def q217_corpus_rouge2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.evaluate import corpus_rouge_n

    return corpus_rouge_n(
        _eval_pairs(spark, sf_dir), "pair_id", "cand", "ref", "lang", n=2
    )


#: Shared KN-bigram CTE chain (train + per-doc scoring) — q218 grades
#: the per-language report, q220 the streaming replay (same oracle),
#: q223 the mixture weights derived from the same perdoc relation.
_KN_PERDOC_SQL = r"""
    base AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(text, '\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    bg AS (
        SELECT doc_id, lang,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[CAST(i AS INT)])) AS w1,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[CAST(i + 1 AS INT)])) AS w2
        FROM base WHERE len(toks) >= 2
    ),
    c12 AS (
        SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
    ),
    w1s AS (
        SELECT w1, SUM(c12) AS c1, count(*) AS r1 FROM c12 GROUP BY w1
    ),
    w2s AS (
        SELECT w2, count(*) AS l2 FROM c12 GROUP BY w2
    ),
    total AS (SELECT count(*) AS d_total FROM c12),
    model AS (
        SELECT c.w1, c.w2,
               GREATEST(c.c12 - 0.75, 0.0) / a.c1
               + (0.75 * a.r1 / a.c1) * (b.l2 / t.d_total) AS p_kn
        FROM c12 c
        JOIN w1s a ON a.w1 = c.w1
        JOIN w2s b ON b.w2 = c.w2
        CROSS JOIN total t
    ),
    perdoc AS (
        SELECT g.doc_id, g.lang,
               count(*) AS n_bg,
               round(SUM(log2(m.p_kn)) / count(*), 4) AS mean_log2p
        FROM bg g JOIN model m ON m.w1 = g.w1 AND m.w2 = g.w2
        GROUP BY g.doc_id, g.lang
    )"""


@register(
    "q218_kn_bigram_ppl",
    oracle="WITH "
    + _KN_PERDOC_SQL
    + r"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bg) AS BIGINT) AS n_bigrams,
           CAST(round(SUM(mean_log2p), 4) AS DOUBLE) AS sum_log2p,
           CAST(round(pow(2.0, -round(SUM(mean_log2p), 4) / count(*)), 4)
                AS DOUBLE) AS ppl
    FROM perdoc GROUP BY lang
    """,
    doc="Interpolated Kneser-Ney bigram LM quality scores "
    "(operators/ngramlm.py kn_bigram_model + kn_score_docs; Kneser & "
    "Ney 1995, Chen & Goodman 1998, fixed discount 0.75): the "
    "KenLM-style word-vocabulary scorer next to q94's charset-bounded "
    "char-trigram model — trained on the corpus in the same plan, "
    "each doc scored by mean log2 P_KN over its bigrams, reported per "
    "language as SUM of per-doc 4dp-rounded means plus the group "
    "perplexity 2^(-mean). Scale: ONE corpus shuffle to the bigram "
    "count table; context totals, continuation counts, and left-"
    "context counts are grouped passes over that vocabulary-sized "
    "relation (never the corpus); the distinct-bigram total "
    "broadcasts as one row; scoring is a single (w1, w2) equi-join "
    "that reuses the model's groupBy partitioning. Self-scoring the "
    "training corpus makes every probability well-defined (no OOV), "
    "so the oracle can replay train+score exactly; all probabilities "
    "are fixed-shape arithmetic over exact integer counts.",
)
def q218_kn_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.ngramlm import kn_bigram_model, kn_score_docs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    model = kn_bigram_model(docs, "doc_id", "text", discount=0.75)
    scores = kn_score_docs(docs, model, "doc_id", "text")
    return (
        scores.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.round(F.sum("mean_log2p"), 4).alias("sum_log2p"),
        )
        .select(
            "lang", "n_docs", "n_bigrams", "sum_log2p",
            F.round(
                F.pow(F.lit(2.0), -F.col("sum_log2p") / F.col("n_docs")), 4
            ).alias("ppl"),
        )
    )


@register(
    "q219_semantic_dedup",
    oracle=r"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    fix AS (
        SELECT vec_id, v FROM e
        UNION ALL
        SELECT vec_id + 10000, list_transform(v, x -> x * 1.25)
        FROM e WHERE vec_id % 50 = 0
    ),
    seeds AS (
        SELECT v AS sv,
               row_number() OVER (
                   ORDER BY ('0x' || substring(md5(CAST(vec_id AS VARCHAR)),
                                               1, 15))::BIGINT, vec_id
               ) - 1 AS cl
        FROM (SELECT * FROM e
              ORDER BY ('0x' || substring(md5(CAST(vec_id AS VARCHAR)),
                                          1, 15))::BIGINT, vec_id
              LIMIT 16)
    ),
    dist AS (
        SELECT f.vec_id, s.cl, round(SUM((a - b) * (a - b)), 6) AS d
        FROM (SELECT vec_id, unnest(v) AS a,
                     generate_subscripts(v, 1) AS i FROM fix) f
        JOIN (SELECT cl, unnest(sv) AS b,
                     generate_subscripts(sv, 1) AS i FROM seeds) s
          ON f.i = s.i
        GROUP BY f.vec_id, s.cl
    ),
    asg AS (
        SELECT vec_id, cl AS cluster, d AS sq_dist,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d, cl) AS rk
        FROM dist
    ),
    av AS (
        SELECT a.vec_id, a.cluster, a.sq_dist, f.v
        FROM (SELECT * FROM asg WHERE rk = 1) a
        JOIN fix f USING (vec_id)
    ),
    nrm AS (
        SELECT vec_id, sqrt(SUM(a * a)) AS nv
        FROM (SELECT vec_id, unnest(v) AS a FROM av)
        GROUP BY vec_id
    ),
    avu AS (
        SELECT a.vec_id, a.cluster, a.sq_dist,
               list_transform(a.v, x -> x / n.nv) AS u
        FROM av a JOIN nrm n USING (vec_id)
        WHERE n.nv > 0
    ),
    pc AS (
        SELECT x.vec_id AS ia, y.vec_id AS ib,
               x.sq_dist AS da, y.sq_dist AS db,
               round(SUM(xa * ya), 4) AS cos
        FROM (SELECT vec_id, cluster, sq_dist, unnest(u) AS xa,
                     generate_subscripts(u, 1) AS i FROM avu) x
        JOIN (SELECT vec_id, cluster, sq_dist, unnest(u) AS ya,
                     generate_subscripts(u, 1) AS i FROM avu) y
          ON x.cluster = y.cluster AND x.i = y.i
         AND x.vec_id <> y.vec_id
        GROUP BY x.vec_id, y.vec_id, x.sq_dist, y.sq_dist
    ),
    dup AS (
        SELECT DISTINCT ia AS vec_id FROM pc
        WHERE cos >= 0.95
          AND (db > da OR (db = da AND ib < ia))
    )
    SELECT CAST(a.cluster AS BIGINT) AS cluster,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(d.vec_id) AS BIGINT) AS n_dup,
           CAST(COALESCE(MIN(d.vec_id), -1) AS BIGINT) AS min_dup_id,
           CAST(COALESCE(MAX(d.vec_id), -1) AS BIGINT) AS max_dup_id
    FROM avu a LEFT JOIN dup d USING (vec_id)
    GROUP BY a.cluster
    """,
    doc="SemDeDup semantic deduplication (operators/cluster.py "
    "semantic_dedup_exact — the oracle-replayable complement of q73's "
    "MLlib-KMeans variant; Abbas et al. 2023 arXiv:2303.09540): cluster-"
    "bucketed embedding dedup — assign to the nearest of k centroids "
    "(rounded-distance codegen argmin over literals, zero shuffles), "
    "pairwise cosine ONLY within a cluster, drop x when a same-"
    "cluster y has round(cos,4) >= 0.95 and is the better keeper "
    "(paper rule: lowest similarity to the centroid survives = larger "
    "sq_dist, ties to smaller id); vectors normalize ONCE before the "
    "pair join so the quadratic stage pays one dot product per pair, "
    "not two extra norm folds. The corpus has no natural cosine-"
    ">=0.95 pairs (measured max 0.51), so the fixture PLANTS them: "
    "every vec_id % 50 == 0 re-enters as id+10000 scaled by 1.25 — "
    "scaling preserves cosine exactly (1.0) while changing the "
    "centroid distance, so the keeper choice is exercised and both "
    "engines rebuild the identical fixture in-plan. Centroids are the "
    "4 md5-smallest-id seed VECTORS (kmeans_fit's init, replayable in "
    "SQL; the Lloyd-refined variant stays invariant-graded as q129). "
    "Scale: the clustering IS the blocking — quadratic only within a "
    "cluster, k grows ~sqrt(N) at corpus scale so join-key "
    "cardinality and per-cluster cost stay bounded; the assignment "
    "relation is localCheckpoint()ed once and feeds both join sides.",
)
def q219_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.functions.hashing import md5_long
    from atiesh_spark.operators.cluster import semantic_dedup_exact
    from atiesh_spark.operators.similarity import as_double

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("embedding")
    )
    copies = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.25).alias("embedding"),
    )
    fixture = emb.unionByName(copies)
    seeds = (
        emb.orderBy(md5_long(F.col("vec_id").cast("string"), 15), "vec_id")
        .limit(16)
        .select("embedding")
        .collect()
    )
    cents = [list(r["embedding"]) for r in seeds]
    out = semantic_dedup_exact(fixture, cents, threshold=0.95)
    return out.groupBy(F.col("cluster").cast("bigint").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("is_dup").cast("int")).cast("bigint").alias("n_dup"),
        F.coalesce(
            F.min(F.when(F.col("is_dup"), F.col("vec_id"))), F.lit(-1)
        ).cast("bigint").alias("min_dup_id"),
        F.coalesce(
            F.max(F.when(F.col("is_dup"), F.col("vec_id"))), F.lit(-1)
        ).cast("bigint").alias("max_dup_id"),
    )


from atiesh_spark.plans.registry import QUERIES as _QUERIES


@register(
    "q220_kn_lm_stream_replay",
    # Graded EQUAL to the batch path: the incremental model over the
    # three replayed chunks must reproduce q218's exact output, so the
    # oracle IS q218's oracle (the q154 two-stage == one-stage pattern).
    oracle=_QUERIES["q218_kn_bigram_ppl"].oracle,
    doc="Streaming KN-LM maintenance loop, replay-graded "
    "(operators/ngramlm.py StreamingNgramLM): the documents table "
    "arrives as three foreachBatch micro-batches (doc_id % 3) folded "
    "into a VersionedStore of (w1, w2, c12) counts — the model's "
    "mergeable sufficient statistic — with the LAST batch REPLAYED "
    "under its own batch id (the failure-recovery path Structured "
    "Streaming actually exercises). The final store-derived model "
    "scores the full corpus and must equal the batch q218 output "
    "bit-for-bit, which is why the oracle is literally q218's: "
    "incremental == batch is the graded contract. Per batch the loop "
    "shuffles only the batch's own bigrams plus the vocabulary-sized "
    "count relation; raw history is never re-read.",
)
def q220_kn_lm_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from atiesh_spark.operators.ngramlm import StreamingNgramLM, kn_score_docs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    chunks = [
        F.col("doc_id") % 3 == 0,
        F.col("doc_id") % 3 == 1,
        F.col("doc_id") % 3 == 2,
    ]
    tmp = tempfile.mkdtemp(prefix="knlm_replay_")
    try:
        lm = StreamingNgramLM(tmp, "doc_id", "text", discount=0.75)
        _replay_chunks(docs, lm, chunks)
        model = lm.model(spark)
        scores = kn_score_docs(docs, model, "doc_id", "text")
        result = (
            scores.join(docs.select("doc_id", "lang"), "doc_id")
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
                F.round(F.sum("mean_log2p"), 4).alias("sum_log2p"),
            )
            .select(
                "lang", "n_docs", "n_bigrams", "sum_log2p",
                F.round(
                    F.pow(F.lit(2.0),
                          -F.col("sum_log2p") / F.col("n_docs")), 4
                ).alias("ppl"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return result


@register(
    "q221_span_corruption",
    oracle=r"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    pos AS (
        SELECT doc_id, i, toks[CAST(i AS INT)] AS tok,
               (('0x' || substring(md5(doc_id::VARCHAR || ':'
                                       || i::VARCHAR), 1, 15))::BIGINT
                % 100) < 15 AS m
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks))) AS i
              FROM base WHERE len(toks) > 0)
    ),
    runs AS (
        SELECT *,
               CASE WHEN m AND NOT coalesce(
                        lag(m) OVER (PARTITION BY doc_id ORDER BY i),
                        false)
                    THEN 1 ELSE 0 END AS run_start
        FROM pos
    ),
    runnum AS (
        SELECT *,
               SUM(run_start) OVER (PARTITION BY doc_id
                                    ORDER BY i) AS run_id
        FROM runs
    ),
    inp AS (
        SELECT doc_id,
               string_agg(
                   CASE WHEN NOT m THEN tok
                        ELSE '<extra_id_' || (run_id - 1) || '>' END,
                   ' ' ORDER BY i) AS input
        FROM runnum WHERE NOT m OR run_start = 1
        GROUP BY doc_id
    ),
    tgt AS (
        SELECT doc_id,
               string_agg(
                   CASE WHEN run_start = 1
                        THEN '<extra_id_' || (run_id - 1) || '> ' || tok
                        ELSE tok END,
                   ' ' ORDER BY i) AS t,
               MAX(run_id) AS k
        FROM runnum WHERE m GROUP BY doc_id
    )
    SELECT i.doc_id,
           CAST(COALESCE(t.k, 0) AS BIGINT) AS n_spans,
           i.input AS input,
           CASE WHEN t.t IS NULL THEN '<extra_id_0>'
                ELSE t.t || ' <extra_id_' || t.k || '>' END AS target
    FROM inp i LEFT JOIN tgt t USING (doc_id)
    """,
    doc="T5 span-corruption pairs (operators/corpus.py span_corruption; "
    "Raffel et al. 2020 §3.1.4): the seq2seq denoising objective built "
    "deterministically — token i masks iff md5_long(doc_id:i) % 100 < "
    "15 (the repo's hash contract standing in for T5's RNG; runs are "
    "geometric rather than length-sampled, the sentinel structure is "
    "exact). Consecutive masks collapse to <extra_id_k> in the input; "
    "the target lists each sentinel + its span and closes with the "
    "final sentinel. Graded as EXACT STRINGS per document: the Spark "
    "side is one row-local aggregate() accumulator walk over the "
    "materialized token array (zero shuffles, one md5 per token), the "
    "oracle an independent window-function replay (lag run starts, "
    "running SUM run ids, ordered string_agg) — two different "
    "algorithms, same strings, which is the strongest equivalence the "
    "driver can check.",
)
def q221_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.corpus import span_corruption

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return span_corruption(docs, "doc_id", "text", rate_pct=15)


@register(
    "q222_vocab_growth",
    oracle=r"""
    WITH base AS (
        SELECT doc_id,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   ::BIGINT % 10 AS t,
               list_filter(string_split_regex(text, '\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    dt AS (
        SELECT t, count(*) AS docs, SUM(len(toks)) AS tokens
        FROM base GROUP BY t
    ),
    fs AS (
        SELECT first_t AS t, count(*) AS new_vocab
        FROM (SELECT g, MIN(t) AS first_t
              FROM (SELECT t, unnest(toks) AS g FROM base)
              GROUP BY g)
        GROUP BY first_t
    ),
    grid AS (SELECT unnest(generate_series(0, 9)) AS t)
    SELECT CAST(grid.t AS BIGINT) AS tranche,
           CAST(SUM(COALESCE(dt.docs, 0))
                OVER (ORDER BY grid.t) AS BIGINT) AS n_docs,
           CAST(SUM(COALESCE(dt.tokens, 0))
                OVER (ORDER BY grid.t) AS BIGINT) AS n_tokens,
           CAST(SUM(COALESCE(fs.new_vocab, 0))
                OVER (ORDER BY grid.t) AS BIGINT) AS vocab
    FROM grid
    LEFT JOIN dt ON dt.t = grid.t
    LEFT JOIN fs ON fs.t = grid.t
    """,
    doc="Heaps-law vocabulary-growth curve (operators/corpus.py "
    "vocab_growth; Heaps 1978): cumulative docs / tokens / distinct "
    "vocabulary over 10 md5-bucket corpus tranches — the "
    "data-acquisition planning report (diminishing vocabulary returns "
    "signal source exhaustion). The one-pass trick: a type's first "
    "appearance is its MINIMUM tranche, so every curve point falls "
    "out of ONE vocabulary-sized groupBy(gram)->min aggregate plus a "
    "10-row histogram and running sum — never a per-prefix "
    "distinct-count rescan of the corpus. The final window sorts a "
    "constant 10-row frame; integer-exact outputs end to end.",
)
def q222_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.corpus import vocab_growth

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return vocab_growth(docs, "doc_id", "text", tranches=10)


@register(
    "q223_domain_reweighting",
    oracle="WITH "
    + _KN_PERDOC_SQL
    + r""",
    pl AS (
        SELECT lang, count(*) AS n,
               -round(SUM(mean_log2p), 4) / count(*) AS bits
        FROM perdoc GROUP BY lang
    ),
    tot AS (SELECT SUM(n) AS tn, SUM(bits * n) AS tl FROM pl),
    b AS (
        SELECT lang, n, bits,
               n / t.tn AS share,
               GREATEST(bits - t.tl / t.tn, 0.0) AS excess
        FROM pl, tot t
    ),
    s AS (SELECT *, share * exp(1.0 * excess) AS raw FROM b),
    z AS (SELECT SUM(raw) AS z FROM s)
    SELECT lang,
           CAST(n AS BIGINT) AS n,
           CAST(round(bits, 4) AS DOUBLE) AS bits,
           CAST(round(excess, 4) AS DOUBLE) AS excess,
           CAST(round(raw / z.z, 4) AS DOUBLE) AS weight
    FROM s, z
    """,
    doc="DoReMi-style domain reweighting (operators/sampling.py "
    "excess_loss_weights; Xie et al. 2023 arXiv:2305.10429, one "
    "exponentiated-gradient step): per-language KN bits/bigram (from "
    "the q218 model, trained in the same plan) become mixture weights "
    "— share x exp(eta x max(0, bits - corpus_mean)), normalized, so "
    "hard domains are upweighted and at-or-below-mean domains keep "
    "their natural share. The weight math runs on a DOMAIN-sized "
    "relation (5 rows here): two broadcast-total crossJoins + row-"
    "local arithmetic; the per-example cost is the q218 scoring "
    "pipeline this composes. Graded end to end: the oracle replays "
    "train -> score -> per-lang bits -> weights in SQL.",
)
def q223_domain_reweighting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.ngramlm import kn_bigram_model, kn_score_docs
    from atiesh_spark.operators.sampling import excess_loss_weights

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    model = kn_bigram_model(docs, "doc_id", "text", discount=0.75)
    scores = kn_score_docs(docs, model, "doc_id", "text")
    per_lang = (
        scores.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum("mean_log2p"), 4).alias("__slp"),
        )
        .select(
            "lang", "n_docs",
            (-F.col("__slp") / F.col("n_docs")).alias("bits"),
        )
    )
    return excess_loss_weights(per_lang, "lang", "n_docs", "bits", eta=1.0)


@register(
    "q224_luhn_card_audit",
    oracle=r"""
    WITH fix AS (
        SELECT doc_id,
               text || CASE doc_id % 5
                   WHEN 0 THEN ' 4111111111111111'
                   WHEN 1 THEN ' 5500-0055-5555-5559'
                   WHEN 2 THEN ' 4111111111111112'
                   WHEN 3 THEN ' 340000000000009'
                   ELSE '' END AS text
        FROM documents
    ),
    cands AS (
        SELECT doc_id,
               list_filter(
                   list_transform(
                       list_filter(
                           list_filter(string_split_regex(text, '\s+'),
                                       x -> x <> ''),
                           t -> regexp_full_match(t, '[0-9]+(-[0-9]+)*')),
                       t -> replace(t, '-', '')),
                   d -> length(d) BETWEEN 13 AND 19) AS cs
        FROM fix
    ),
    per AS (
        SELECT doc_id, cs,
               list_filter(cs, d ->
                   list_aggregate(
                       list_transform(
                           generate_series(1, length(d)),
                           i -> CASE WHEN i % 2 = 0 THEN
                                    CASE WHEN CAST(substring(d,
                                             length(d) - i + 1, 1)
                                             AS INT) * 2 > 9
                                         THEN CAST(substring(d,
                                              length(d) - i + 1, 1)
                                              AS INT) * 2 - 9
                                         ELSE CAST(substring(d,
                                              length(d) - i + 1, 1)
                                              AS INT) * 2 END
                                ELSE CAST(substring(d,
                                     length(d) - i + 1, 1) AS INT)
                                END),
                       'sum') % 10 = 0) AS valid
        FROM cands WHERE len(cs) > 0
    )
    SELECT doc_id,
           CAST(len(cs) AS BIGINT) AS n_candidates,
           CAST(len(valid) AS BIGINT) AS n_valid,
           CAST(len(cs) - len(valid) AS BIGINT) AS n_invalid
    FROM per
    """,
    doc="Luhn-validated card-number audit (operators/textstats.py "
    "luhn_card_audit; ISO/IEC 7812 mod-10): the PRECISION gate on top "
    "of q42's regex-only PII scrub — a 13-19-digit token is only a "
    "card if its checksum verifies, so order ids and timestamps stop "
    "being redacted. The corpus has zero natural candidates "
    "(measured), so the fixture plants the public test PANs per "
    "doc_id % 5: two plain valid (Visa 16, Amex 15), one dashed valid "
    "(the digit-group normalization path), one checksum-broken, one "
    "clean — every branch of candidate extraction and validation "
    "fires and the expected counts are exact per document. All "
    "row-local: tokens materialize once, one aggregate() checksum "
    "fold per candidate, no lookaround regex (RE2-portable by "
    "construction, which is what lets the oracle replay it).",
)
def q224_luhn_card_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.textstats import luhn_card_audit

    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(d % 5 == 0, F.lit(" 4111111111111111"))
            .when(d % 5 == 1, F.lit(" 5500-0055-5555-5559"))
            .when(d % 5 == 2, F.lit(" 4111111111111112"))
            .when(d % 5 == 3, F.lit(" 340000000000009"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return luhn_card_audit(docs, "doc_id", "text")


@register(
    "q225_source_overlap_matrix",
    oracle=r"""
    WITH toks AS (
        SELECT source,
               list_filter(string_split_regex(text, '\s+'),
                           x -> x <> '') AS w
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT source,
               unnest(list_transform(generate_series(1, len(w) - 1),
                   i -> w[CAST(i AS INT)] || ' '
                        || w[CAST(i + 1 AS INT)])) AS sh
        FROM toks WHERE len(w) >= 2
    ),
    totals AS (SELECT source, count(*) AS ng FROM grams GROUP BY source),
    shared AS (
        SELECT a.source AS source_1, b.source AS source_2,
               count(*) AS shared
        FROM grams a JOIN grams b
          ON a.sh = b.sh AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT s.source_1, s.source_2,
           CAST(t1.ng AS BIGINT) AS n_grams_1,
           CAST(t2.ng AS BIGINT) AS n_grams_2,
           CAST(s.shared AS BIGINT) AS shared,
           CAST(round(s.shared / (t1.ng + t2.ng - s.shared), 4)
                AS DOUBLE) AS jaccard
    FROM shared s
    JOIN totals t1 ON t1.source = s.source_1
    JOIN totals t2 ON t2.source = s.source_2
    """,
    doc="Cross-source n-gram overlap matrix (operators/corpus.py "
    "source_overlap_matrix): distinct word-bigram Jaccard for every "
    "source pair — the corpus-composition audit that catches mirror "
    "sources (two crawls of one site) before any per-document dedup. "
    "ONE distinct (source, gram) relation feeds per-source totals and "
    "a gram-keyed self-join whose fan-out is S^2-bounded per gram "
    "(S = catalog-sized source count); totals broadcast back onto the "
    "S^2-row matrix. Exact integer counts, 4dp Jaccard.",
)
def q225_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.corpus import source_overlap_matrix

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    return source_overlap_matrix(docs, "text", "source", n=2)


@register(
    "q226_thread_tree_flatten",
    oracle=r"""
    WITH RECURSIVE tree AS (
        SELECT doc_id,
               CASE WHEN doc_id = 0 THEN NULL
                    ELSE (doc_id - 1) // 2 END AS parent
        FROM documents
    ),
    walk AS (
        -- seeds: true roots AND dangling parents (absent from the
        -- table) — mirroring flatten_tree's documented convention
        -- that a node with a missing parent roots in place
        SELECT doc_id, doc_id AS root, 0 AS depth,
               CAST(doc_id AS VARCHAR) AS path
        FROM tree WHERE parent IS NULL
           OR parent NOT IN (SELECT doc_id FROM tree)
        UNION ALL
        SELECT t.doc_id, w.root, w.depth + 1,
               w.path || '/' || t.doc_id
        FROM tree t JOIN walk w ON t.parent = w.doc_id
    )
    SELECT doc_id, CAST(root AS BIGINT) AS root,
           CAST(depth AS BIGINT) AS depth, path
    FROM walk
    """,
    doc="Parent-pointer hierarchy flattening (operators/sequences.py "
    "flatten_tree): forum/conversation trees -> root-to-node paths, "
    "the thread-ingestion step before assemble_sequences turns them "
    "into SFT training sequences. POINTER DOUBLING: every node "
    "splices its furthest-known ancestor's chain each round, so depth "
    "halves per self-join — ceil(log2(depth)) rounds on the narrow "
    "localCheckpoint()ed (id, anc, chain) state, the connected-"
    "components discipline, vs the oracle's natural recursive-CTE "
    "walk (two different algorithms, same exact paths). Fixture: the "
    "binary tree parent=(id-1)//2 over the documents ids — ~9 levels "
    "at sf0.01, every splice round exercised; dangling parents root "
    "in place rather than NULLing chains (unit-tested).",
)
def q226_thread_tree_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.sequences import flatten_tree

    d = F.col("doc_id")
    nodes = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(d == 0, F.lit(None).cast("bigint"))
        .otherwise(F.floor((d - 1) / 2).cast("bigint"))
        .alias("parent"),
    )
    return flatten_tree(nodes, "doc_id", "parent", max_depth=64)


@register(
    "q227_gale_church_align",
    oracle=r"""
    WITH ks AS (
        SELECT doc_id, doc_id % 5 AS m,
               unnest(generate_series(0, 4)) AS k
        FROM documents
    )
    SELECT doc_id AS pair_id,
           CAST(k AS INT) AS k,
           CASE WHEN k = m THEN '2-1' ELSE '1-1' END AS bead,
           CAST(CASE WHEN k <= m THEN k ELSE k + 1 END AS INT) AS src_lo,
           CAST(CASE WHEN k < m THEN k
                     WHEN k = m THEN m + 1
                     ELSE k + 1 END AS INT) AS src_hi,
           CAST(k AS INT) AS tgt_lo,
           CAST(k AS INT) AS tgt_hi
    FROM ks
    """,
    doc="Gale-Church sentence alignment (operators/align.py "
    "gale_church_align; Gale & Church CL 1993, the published priors "
    "and length model verbatim): the bitext step after q210's "
    "document mining — align sentence arrays by the char-length DP "
    "over beads 1-1/1-0/0-1/2-1/1-2/2-2. The DP is sequential per "
    "pair, so it runs as ONE widened mapInPandas pass (the codec-"
    "boundary rule) with O(n_src x n_tgt) work per pair and nothing "
    "corpus-quadratic. Graded against a PLANTED OPTIMUM (the "
    "q161/q194 planted-decode pattern): six synthetic sentences with "
    "doc-derived lengths, target merging sentences m and m+1 "
    "(m = doc_id % 5) — the merge position rotates through every "
    "slot, and the plant was verified to be the DP's unique optimum "
    "for ALL 500 fixture instances (length gaps are >= 4 chars, so "
    "any mis-placed merge pays a >= 2.3-sigma length penalty that "
    "exceeds the whole correct path's cost). The oracle emits the "
    "expected bead rows in closed form; the Spark side must EARN "
    "them through the dynamic program.",
)
def q227_gale_church_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.align import gale_church_align

    ln = "(20 + ((doc_id * 7 + {i} * 13) % 30))"
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("pair_id"),
        F.expr(
            "transform(sequence(0, 5), i -> repeat('a', "
            + ln.format(i="i") + "))"
        ).alias("src"),
        F.expr(
            "transform(sequence(0, 4), j -> repeat('b', "
            "CASE WHEN j < doc_id % 5 THEN " + ln.format(i="j") + " "
            "WHEN j = doc_id % 5 THEN " + ln.format(i="j")
            + " + " + ln.format(i="(j + 1)") + " + 1 "
            "ELSE " + ln.format(i="(j + 1)") + " END))"
        ).alias("tgt"),
    )
    return gale_church_align(docs, "pair_id", "src", "tgt")


@register(
    "q228_vocab_coverage",
    oracle=r"""
    WITH toks AS (
        SELECT lang AS grp,
               unnest(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> '')) AS tok
        FROM documents
    ),
    counts AS (
        SELECT grp, tok, count(*) AS n FROM toks GROUP BY grp, tok
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, SUM(n) AS total FROM counts GROUP BY tok
            ORDER BY total DESC, tok ASC LIMIT 50
        )
    )
    SELECT c.grp AS lang,
           CAST(SUM(c.n) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN c.n ELSE 0 END)
                AS BIGINT) AS covered,
           CAST(round(SUM(CASE WHEN v.tok IS NOT NULL THEN c.n
                               ELSE 0 END) * 1.0 / SUM(c.n), 4)
                AS DOUBLE) AS coverage,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS oov_types
    FROM counts c LEFT JOIN vocab v ON v.tok = c.tok
    GROUP BY c.grp
    """,
    doc="Fixed-vocabulary coverage per language (operators/textstats.py "
    "vocab_coverage): share of each language's token occurrences "
    "covered by the top-50 corpus-frequency vocabulary (deterministic "
    "count-desc/token-asc tie-break) plus its out-of-vocab type count "
    "— the vocabulary-planning twin of q222's Heaps curve; languages "
    "with low coverage are the ones a shared tokenizer shreds. ONE "
    "token-count shuffle, TakeOrderedAndProject top-k, K-row vocab "
    "broadcast back — the corpus never shuffles twice.",
)
def q228_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.textstats import vocab_coverage

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    return vocab_coverage(docs, "text", "lang", top_k=50)


@register(
    "q229_bootstrap_ci",
    oracle=r"""
    WITH vals AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '')) AS v
        FROM documents
    ),
    draws AS (
        SELECT doc_id, v, b,
               (('0x' || substring(md5(doc_id::VARCHAR || ':'
                                       || b::VARCHAR), 1, 15))::BIGINT)
               / 1152921504606846976.0 AS u
        FROM vals, (SELECT unnest(generate_series(0, 39)) AS b)
    ),
    w AS (
        SELECT b, v,
               CASE WHEN u < 0.36787944117144233 THEN 0
                    WHEN u < 0.7357588823428847 THEN 1
                    WHEN u < 0.9196986029286058 THEN 2
                    WHEN u < 0.9810118431238462 THEN 3
                    WHEN u < 0.9963401531726563 THEN 4
                    WHEN u < 0.9994058151824183 THEN 5
                    ELSE 6 END AS w
        FROM draws
    ),
    reps AS (
        SELECT b, SUM(w * v) * 1.0 / SUM(w) AS m FROM w GROUP BY b
    ),
    sorted AS (
        SELECT m, row_number() OVER (ORDER BY m) AS rk FROM reps
    ),
    base AS (SELECT count(*) AS n, SUM(v) AS sx FROM vals)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(round(sx * 1.0 / n, 4) AS DOUBLE) AS mean,
           CAST(round((SELECT m FROM sorted WHERE rk = 2), 4)
                AS DOUBLE) AS ci_lo,
           CAST(round((SELECT m FROM sorted WHERE rk = 38), 4)
                AS DOUBLE) AS ci_hi,
           CAST(40 AS BIGINT) AS replicas
    FROM base
    """,
    doc="Poisson-bootstrap confidence interval (operators/profile.py "
    "bootstrap_ci; Chamandy et al. 2012): a nearest-rank 90% CI for "
    "the corpus mean tokens/doc from 40 replicas whose per-(row, "
    "replica) Poisson(1) weights derive from md5(id:replica) — the "
    "one-pass, hash-deterministic stand-in for resampling that a "
    "distributed engine can actually run. Every replica mean is a "
    "ratio of EXACT integer sums (no float summation order anywhere "
    "until the final rounding), so both engines produce bit-identical "
    "intervals. Plan: ONE map-side-combined aggregate emitting 82 "
    "integer sums; the 40 replica means sort as a constant in-plan "
    "array. The statistics-lab companion to q183/q186/q192/q193.",
)
def q229_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.functions.text import ws_tokens
    from atiesh_spark.operators.profile import bootstrap_ci

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(ws_tokens(F.col("text"))).alias("n_toks")
    )
    return bootstrap_ci(docs, "doc_id", "n_toks", replicas=40)


@register(
    "q230_mann_whitney_drift",
    oracle=r"""
    WITH vals AS (
        SELECT len(list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '')) AS v,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_a
        FROM documents
    ),
    counts AS (
        SELECT v, SUM(is_a) AS na, count(*) - SUM(is_a) AS nb
        FROM vals GROUP BY v
    ),
    perv AS (
        SELECT na, nb,
               na * (2 * COALESCE(SUM(nb) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) + nb) AS u2,
               (na + nb) * (na + nb) * (na + nb) - (na + nb) AS t3t
        FROM counts
    ),
    agg AS (
        SELECT SUM(na) AS na, SUM(nb) AS nb,
               SUM(u2) AS u2, SUM(t3t) AS t
        FROM perv
    ),
    stat AS (
        SELECT na, nb, u2 / 2 AS u,
               (u2 / 2 - na * nb / 2)
               / sqrt(na * nb / 12.0
                      * ((na + nb + 1)
                         - t / ((na + nb) * (na + nb - 1)))) AS z
        FROM agg
    ),
    tail AS (
        SELECT na, nb, u, z, abs(z) / sqrt(2.0) AS x,
               1 / (1 + 0.3275911 * (abs(z) / sqrt(2.0))) AS tt
        FROM stat
    )
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           CAST(u AS DOUBLE) AS u,
           CAST(round(z, 4) AS DOUBLE) AS z,
           CAST(round(1 - (1 - (0.254829592 * tt
                                - 0.284496736 * tt * tt
                                + 1.421413741 * tt * tt * tt
                                - 1.453152027 * tt * tt * tt * tt
                                + 1.061405429 * tt * tt * tt * tt * tt)
                               * exp(-x * x)), 4) AS DOUBLE) AS p_value
    FROM tail
    """,
    doc="Mann-Whitney U drift test (operators/profile.py "
    "mann_whitney_u; Mann & Whitney 1947, midrank ties, tie-corrected "
    "normal approximation): does English documents' token-count "
    "distribution sit above or below the rest of the corpus — the "
    "nonparametric companion to q191's exact KS in the statistics "
    "lab. Scale shape: U computes from per-DISTINCT-VALUE counts "
    "(one map-side-combined groupBy); the only window sort is the "
    "histogram-sized distinct-value frame, never a corpus rank. 2U "
    "is an exact integer (midranks fold into the x2 algebra), so "
    "everything to the final z/p is engine-exact; the normal tail "
    "uses the Abramowitz-Stegun 7.1.26 erf polynomial (< 1.5e-7 "
    "error) mirrored VERBATIM in both engines because neither ships "
    "erf natively.",
)
def q230_mann_whitney_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.functions.text import ws_tokens
    from atiesh_spark.operators.profile import mann_whitney_u

    docs = load_table(spark, sf_dir, "documents").select(
        F.size(ws_tokens(F.col("text"))).alias("n_toks"),
        F.col("lang"),
    )
    return mann_whitney_u(docs, "n_toks", "lang", "en")


@register(
    "q231_phrase_search",
    oracle=r"""
    WITH fix AS (
        SELECT doc_id,
               text || CASE doc_id % 7
                   WHEN 0 THEN ' alpha beta gamma'
                   WHEN 3 THEN ' alpha beta gamma alpha beta gamma'
                   WHEN 5 THEN ' alpha beta delta'
                   ELSE '' END AS text
        FROM documents
    ),
    toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'),
                           x -> x <> '') AS w
        FROM fix
    )
    SELECT doc_id,
           CAST(len(list_filter(generate_series(1, len(w) - 2),
                i -> w[CAST(i AS INT)] = 'alpha'
                 AND w[CAST(i + 1 AS INT)] = 'beta'
                 AND w[CAST(i + 2 AS INT)] = 'gamma')) AS BIGINT)
               AS n_occurrences
    FROM toks
    WHERE len(list_filter(generate_series(1, len(w) - 2),
              i -> w[CAST(i AS INT)] = 'alpha'
               AND w[CAST(i + 1 AS INT)] = 'beta'
               AND w[CAST(i + 2 AS INT)] = 'gamma')) > 0
    """,
    doc="Exact phrase search over positional postings "
    "(operators/retrieval.py positional_postings + phrase_search): "
    "the phrase-capable extension of the BM25/inverted-index family — "
    "(token, doc, sorted positions) postings built in one explode + "
    "one map-side-combined groupBy, then a 3-term phrase query whose "
    "work is bounded by the PHRASE TERMS' postings (literal token "
    "filters prune the scan; k-way doc-id equi-join; alignment is one "
    "row-local HOF checking p+j membership per following term). The "
    "fixture plants 'alpha beta gamma' once (doc_id%7==0), twice "
    "(%7==3, overlapping-window robustness), and a near-miss 'alpha "
    "beta delta' (%7==5) that the alignment must REJECT; the oracle "
    "recomputes occurrences by direct window scan — index path vs "
    "scan path must agree exactly.",
)
def q231_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.retrieval import (
        phrase_search,
        positional_postings,
    )

    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(d % 7 == 0, F.lit(" alpha beta gamma"))
            .when(d % 7 == 3,
                  F.lit(" alpha beta gamma alpha beta gamma"))
            .when(d % 7 == 5, F.lit(" alpha beta delta"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    idx = positional_postings(docs)
    return phrase_search(idx, ["alpha", "beta", "gamma"])


@register(
    "q232_hybrid_rrf",
    oracle=r"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'),
                           t -> length(t) > 0) AS toks
        FROM documents
    ),
    lengths AS (SELECT doc_id, len(toks) AS dl FROM base),
    corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM lengths),
    tf AS (
        SELECT doc_id, t, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS t FROM base)
        WHERE t IN ('sort', 'hash', 'join')
        GROUP BY doc_id, t
    ),
    dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    bm AS (
        SELECT tf.doc_id,
               round(SUM(
                   ln(1.0 + (corpus.n - dfreq.df + 0.5)
                            / (dfreq.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (1.0 - 0.75
                       + 0.75 * lengths.dl / corpus.avgdl))), 4) AS s
        FROM tf
        JOIN dfreq USING (t)
        JOIN lengths USING (doc_id)
        CROSS JOIN corpus
        GROUP BY tf.doc_id
    ),
    bmrank AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY s DESC, doc_id) AS rnk
        FROM bm ORDER BY s DESC, doc_id LIMIT 20
    ),
    q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        WHERE vec_id = 0
    ),
    sims AS (
        SELECT e.vec_id AS doc_id,
               round(SUM(a * b)
                     / (sqrt(SUM(a * a)) * sqrt(SUM(b * b))), 4) AS sim
        FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS a,
                     generate_subscripts(CAST(embedding AS DOUBLE[]), 1)
                         AS i
              FROM embeddings) e
        JOIN (SELECT unnest(qv) AS b,
                     generate_subscripts(qv, 1) AS i FROM q) qq
          ON e.i = qq.i
        GROUP BY e.vec_id
    ),
    dnrank AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY sim DESC, doc_id) AS rnk
        FROM sims ORDER BY sim DESC, doc_id LIMIT 20
    ),
    contrib AS (
        SELECT doc_id, 1.0 / (60 + rnk) AS s FROM bmrank
        UNION ALL
        SELECT doc_id, 1.0 / (60 + rnk) AS s FROM dnrank
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lists,
           CAST(round(SUM(s), 4) AS DOUBLE) AS rrf
    FROM contrib GROUP BY doc_id
    ORDER BY round(SUM(s), 4) DESC, doc_id LIMIT 10
    """,
    doc="Hybrid retrieval via Reciprocal Rank Fusion "
    "(operators/retrieval.py rrf_fuse; Cormack, Clarke & Buettcher "
    "SIGIR 2009, c=60): BM25 top-20 for ['sort','hash','join'] fused "
    "with the dense top-20 by exact cosine to the vec_id-0 query "
    "embedding — the standard lexical+dense combiner, rank-only so "
    "score scales never need calibration. Both input rankings use "
    "the q107/q209 determinism discipline (rounded score, id "
    "tie-break); the fusion runs on lists x k rows (a digest, never "
    "the corpus), the two-list per-id sum is a single commutative "
    "addition, and the fused cut orders by rounded score with id "
    "tie-break. The oracle replays BM25, cosine, both rankings, and "
    "the fusion end to end.",
)
def q232_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from atiesh_spark.operators.retrieval import bm25_topk, rrf_fuse
    from atiesh_spark.operators.similarity import as_double, cosine

    docs = load_table(spark, sf_dir, "documents")
    bm = bm25_topk(docs, ["sort", "hash", "join"], k=20, round_to=4)
    bm_rank = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
        .alias("rank"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        as_double("embedding").alias("__q")
    )
    sims = (
        emb.crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(as_double("embedding"), F.col("__q")), 4)
            .alias("sim"),
        )
    )
    dn_rank = (
        sims.orderBy(F.desc("sim"), F.asc("doc_id"))
        .limit(20)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("sim"), F.asc("doc_id")))
            .alias("rank"),
        )
    )
    return rrf_fuse([bm_rank, dn_rank], "doc_id", "rank", c=60, top_k=10)


@register(
    "q233_phrase_index_stream_replay",
    # Graded EQUAL to the batch path: the incrementally maintained
    # index must answer the q231 phrase query identically, so the
    # oracle IS q231's (the q220/q154 equal-paths pattern).
    oracle=_QUERIES["q231_phrase_search"].oracle,
    doc="Streaming positional-index maintenance, replay-graded "
    "(operators/retrieval.py StreamingPositionalIndex): the q231 "
    "fixture corpus arrives as three foreachBatch micro-batches "
    "(doc_id % 3) upserted by doc id into a VersionedStore — a "
    "re-ingested doc's old postings drop via a broadcast anti-join on "
    "the batch's id set, history is never re-tokenized — with the "
    "LAST batch REPLAYED under its own batch id (the recovery path). "
    "The final store must answer the 3-term phrase query identically "
    "to the one-shot q231 index, so the oracle is literally q231's: "
    "incremental == batch is the graded contract, the continuous-"
    "crawler-indexing twin of q220's streaming KN-LM.",
)
def q233_phrase_index_stream_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from atiesh_spark.operators.retrieval import (
        StreamingPositionalIndex,
        phrase_search,
    )

    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(d % 7 == 0, F.lit(" alpha beta gamma"))
            .when(d % 7 == 3,
                  F.lit(" alpha beta gamma alpha beta gamma"))
            .when(d % 7 == 5, F.lit(" alpha beta delta"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    chunks = [
        F.col("doc_id") % 3 == 0,
        F.col("doc_id") % 3 == 1,
        F.col("doc_id") % 3 == 2,
    ]
    tmp = tempfile.mkdtemp(prefix="phraseidx_replay_")
    try:
        idx = StreamingPositionalIndex(tmp, "doc_id", "text")
        _replay_chunks(docs, idx, chunks)
        result = phrase_search(
            idx.postings(spark), ["alpha", "beta", "gamma"]
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return result


@register(
    "q234_avi_frame_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(8 * (2 + doc_id % 2) AS INT) AS width,
               CAST(8 * (1 + doc_id % 3) AS INT) AS height,
               1 + doc_id % 4 AS nf
        FROM documents
    ),
    frames AS (
        SELECT d.doc_id, d.width, d.height, t.f
        FROM dims d, unnest(generate_series(0, d.nf - 1, 2)) AS t(f)
    )
    SELECT doc_id AS media_id,
           CAST(f AS INT) AS frame_idx,
           CAST(f * 40 AS BIGINT) AS ts_ms,
           width, height,
           CAST((doc_id * 11 + 29 * f) % 256 AS FLOAT) AS mean_r,
           CAST((doc_id * 11 + 29 * f) % 256 AS FLOAT) AS mean_g,
           CAST((doc_id * 11 + 29 * f) % 256 AS FLOAT) AS mean_b
    FROM frames
    """,
    doc="REAL video path (operators/avi.py, round 9): MJPEG-in-AVI "
    "container walk — RIFF LIST/hdrl/avih/movi per the public AVI "
    "RIFF spec, the chunk-walk discipline proven by the WAV codec — "
    "with every sampled frame decoded through the baseline-JPEG "
    "decoder (ITU-T T.81, operators/jpeg.py). Retires the last fake "
    "data path in the media lab: sample_frames' sha256-stub payload "
    "is now real frame bytes for AVI containers. The graded query "
    "plants one AVI per document with 1 + doc_id % 4 constant-gray "
    "frames v_f = (doc_id*11 + 29*f) % 256 at quality 100 (the q194 "
    "DC-only device: decode is bit-exact so the oracle reproduces "
    "channel means arithmetically WITHOUT a decoder), 25 fps (ts_ms "
    "= 40*f from the container clock), sampled at stride 2 — so the "
    "oracle is generate_series(0, nf-1, 2) and both engines rebuild "
    "the identical frame table from documents alone. Malformed "
    "containers / frames are error ROWS (tested in test_avi.py), "
    "excluded here by construction. Plan shape for 100 TB: synth and "
    "sample/decode are TWO chained mapInPandas stages over pruned "
    "(id, blob) columns, zero exchanges, bytes never visit the "
    "driver; per-row cost is O(frames sampled), the cap/stride "
    "bound.",
)
def q234_avi_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from atiesh_spark.operators.avi import sample_frames_mjpeg

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from atiesh_spark.operators.jpeg import encode_jpeg_baseline
        from atiesh_spark.operators.avi import encode_avi_mjpeg

        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 8 * (2 + did % 2), 8 * (1 + did % 3)
                frames = [
                    encode_jpeg_baseline(
                        np.full((h, w), (did * 11 + 29 * f) % 256,
                                dtype=np.uint8),
                        quality=100,
                    )
                    for f in range(1 + did % 4)
                ]
                blobs.append(encode_avi_mjpeg(frames, w, h, fps=25))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    media = widen_for_python_stage(docs).mapInPandas(synth, schema="doc_id long, blob binary")
    return sample_frames_mjpeg(media, "doc_id", "blob", every_n=2).select(
        "media_id", "frame_idx", "ts_ms", "width", "height",
        "mean_r", "mean_g", "mean_b",
    )


def _crawl_page_html(d) -> "F.Column":
    """The q235 page body: q211-style chrome (link-dense nav, script
    with a literal '<', link-dense footer) around either the q213 REP
    class (doc%7=0: 40-char prefix repeated 10x) or a q208
    marker-bearing natural body — built identically by the oracle
    with chr()/repeat arithmetic."""
    body = F.when(
        d % 7 == 0, F.repeat(F.substring("text", 1, 40), 10)
    ).otherwise(
        F.concat(
            F.lit("café “"),
            F.md5(d.cast("string")),
            F.lit("” € "),
            F.col("text"),
        )
    )
    return F.concat(
        F.lit(
            "<html><head><title>t</title><style>p{color:red}</style>"
            "</head><body>"
            '<div id="nav"><a href="/">Home</a> <a href="/x">Archive</a>'
            ' <a href="/y">About &amp; Contact</a></div>'
            '<script type="text/javascript">var id=1;'
            " if(id<10){id=10;}</script>"
            "<p>"
        ),
        body,
        F.lit(
            "</p>"
            '<div id="footer"><a href="/tos">Terms</a> &amp;'
            ' <a href="/priv">Privacy</a> (c) 2026</div>'
            "</body></html>"
        ),
    )


@register(
    "q235_crawl_pipeline",
    oracle=r"""
    WITH src AS (
        SELECT doc_id, lang, text,
               CASE WHEN doc_id % 2 = 0 THEN 'a.example.com'
                    ELSE 'b.example.com' END AS host,
               CASE WHEN doc_id % 2 = 0
                    THEN '/docs/' || lang || '/p' || (doc_id % 5)
                         || CASE WHEN doc_id % 4 = 0 THEN '/print'
                                 ELSE '' END
                    ELSE CASE WHEN doc_id % 3 = 0
                              THEN '/private/f' || (doc_id % 5)
                              ELSE '/pub/f' || (doc_id % 5) END
               END AS path,
               CASE WHEN doc_id % 7 = 0
                    THEN repeat(substring(text, 1, 40), 10)
                    ELSE 'caf' || chr(233) || ' ' || chr(8220)
                         || md5(CAST(doc_id AS VARCHAR)) || chr(8221)
                         || ' ' || chr(8364) || ' ' || text
               END AS body
        FROM documents
    ),
    rules(rhost, allow, pattern) AS (VALUES
        ('a.example.com', false, '/docs/'),
        ('a.example.com', true,  '/docs/en'),
        ('a.example.com', false, '/*/print$'),
        ('b.example.com', true,  '/'),
        ('b.example.com', false, '/private/'),
        ('b.example.com', false, '/pub/f1$'),
        ('b.example.com', true,  '/pub/*1$')
    ),
    hits AS (
        SELECT s.doc_id, r.allow,
               row_number() OVER (
                   PARTITION BY s.doc_id
                   ORDER BY length(r.pattern) DESC, r.allow DESC,
                            r.pattern
               ) AS rk
        FROM src s
        JOIN rules r
          ON s.host = r.rhost
         AND regexp_matches(s.path,
               '^' || replace(
                   CASE WHEN r.pattern LIKE '%$'
                        THEN left(r.pattern, length(r.pattern) - 1)
                        ELSE r.pattern END, '*', '.*')
               || CASE WHEN r.pattern LIKE '%$' THEN '$' ELSE '' END)
    ),
    adm AS (
        SELECT s.doc_id, coalesce(h.allow, true) AS allowed
        FROM src s
        LEFT JOIN (SELECT doc_id, allow FROM hits WHERE rk = 1) h
            USING (doc_id)
    ),
    pages AS (
        SELECT doc_id,
            '<html><head><title>t</title><style>p{color:red}</style>'
            || '</head><body>'
            || '<div id="nav"><a href="/">Home</a> <a href="/x">Archive</a>'
            || ' <a href="/y">About &amp; Contact</a></div>'
            || '<script type="text/javascript">var id=1;'
            || ' if(id<10){id=10;}</script>'
            || '<p>' || body || '</p>'
            || '<div id="footer"><a href="/tos">Terms</a> &amp;'
            || ' <a href="/priv">Privacy</a> (c) 2026</div>'
            || '</body></html>' AS html
        FROM src
    ),
    stripped AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(html,
                   '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                   '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS h
        FROM pages
    ),
    exarr AS (
        SELECT doc_id,
               regexp_split_to_array(h,
          '(?i)</(?:p|div|li|h1|h2|h3|h4|h5|h6|td|th|section|article|blockquote)>'
               ) AS arr
        FROM stripped
    ),
    ex AS (
        SELECT doc_id,
               unnest(arr) AS block,
               unnest(range(1, len(arr) + 1)) AS i
        FROM exarr
    ),
    btxt AS (
        SELECT doc_id, i,
            trim(regexp_replace(
                replace(replace(replace(replace(replace(replace(
                    regexp_replace(block, '<[^>]*>', ' ', 'g'),
                '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                '[ \t\r\n]+', ' ', 'g')) AS txt,
            coalesce(list_sum(list_transform(
                regexp_extract_all(block, '(?is)<a[^>]*>(.*?)</a>', 1),
                u -> length(trim(regexp_replace(
                    replace(replace(replace(replace(replace(replace(
                        regexp_replace(u, '<[^>]*>', ' ', 'g'),
                    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                    '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                    '[ \t\r\n]+', ' ', 'g'))))), 0) AS link_chars
        FROM ex
    ),
    judged AS (
        SELECT doc_id, i, txt, length(txt) AS text_chars,
               (length(txt) >= 25
                AND link_chars * 100 <= 33 * length(txt)) AS keep
        FROM btxt
        WHERE length(txt) > 0
    ),
    perdoc AS (
        SELECT doc_id,
               count(*) FILTER (WHERE keep) AS kept_blocks,
               coalesce(sum(text_chars) FILTER (WHERE keep), 0)
                   AS content_chars,
               coalesce(len(list_filter(regexp_split_to_array(
                   coalesce(string_agg(txt, chr(10) ORDER BY i)
                            FILTER (WHERE keep), ''),
                   '\s+'), w -> w <> '')), 0) AS n_words
        FROM judged GROUP BY doc_id
    ),
    verdicts AS (
        SELECT s.host,
               CASE WHEN NOT a.allowed THEN 'robots'
                    WHEN coalesce(p.kept_blocks, 0) = 0 THEN 'no_content'
                    WHEN p.n_words < 15 THEN 'too_short'
                    WHEN s.doc_id % 7 = 0 THEN 'low_entropy'
                    ELSE 'ok' END AS reason,
               (s.doc_id % 3 = 0 AND s.doc_id % 7 <> 0) AS repaired,
               CASE WHEN a.allowed THEN coalesce(p.content_chars, 0)
                    ELSE 0 END AS cc
        FROM src s
        JOIN adm a USING (doc_id)
        LEFT JOIN perdoc p USING (doc_id)
    )
    SELECT host, reason,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE repaired) AS BIGINT) AS n_repaired,
           CAST(SUM(cc) AS BIGINT) AS content_chars
    FROM verdicts
    GROUP BY host, reason
    """,
    doc="The crawl-ingestion chain as ONE plan with a per-stage "
    "attrition report — the FineWeb/CCNet-shaped flagship a real "
    "crawl user runs first, composing seven already-graded operators "
    "end-to-end: WARC pack+parse (q212, sources/warc.py) -> mojibake "
    "repair (q208, functions/text.py fix_mojibake) -> URL "
    "canonicalization (q144, web.py canonicalize_urls: case/www/"
    "default-port/tracking-param normalization BEFORE admission) -> "
    "robots.txt longest-match admission (q214, apply_robots_rules) "
    "-> jusText-style HTML extraction (q211, extract_html_content) "
    "-> a Gopher min-words gate (q149's rule over the EXTRACTED "
    "text) -> zlib compression gate (q213, compression_ratio) -> "
    "first-failing reason code per page (the q176_filter_reasons "
    "verdict discipline), reported as (host, reason) -> n_docs / n_repaired "
    "/ content_chars. Fixture: each document becomes a WARC record "
    "whose payload is a q211-style page around either a mojibake-"
    "damaged marker+text body (doc%3=0 damaged, restored EXACTLY by "
    "the graded repair) or a repeated-substring body (doc%7=0, the "
    "q213 REP class) under a messy URL (q144 classes) with q214's "
    "rule set. Every count is mirrored arithmetically EXCEPT the "
    "compression verdict, which (q213's sketch-family justification) "
    "pins the measured class separation: REP ratios <= 0.13 < 0.25 "
    "< 0.40 <= natural ratios at this corpus, so 'low_entropy' is "
    "exactly the doc%7 class among pages that reach the gate. Plan "
    "shape for 100 TB: one applyInPandas pack (test harness only — "
    "production reads binaryFile archives), one mapInPandas parse, "
    "then EVERYTHING to the final groupBy is row-local: repair and "
    "extraction are codegen HOFs, canon is regexp codegen, robots "
    "broadcast-joins a KB dimension, the zlib UDF is the one Arrow "
    "stage; a single exchange lands the (host, reason) digest. At "
    "this harness's scale extraction runs before the robots FILTER "
    "would prune (one linear plan, no recompute); production would "
    "filter fetched pages on admission first.",
)
def q235_crawl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.web import crawl_verdict_rows

    blobs = _crawl_warc_blobs(spark, sf_dir)
    rated = crawl_verdict_rows(blobs, _crawl_robots_rules(spark))
    return rated.groupBy("host", "reason").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("repaired").cast("long")).cast("long")
        .alias("n_repaired"),
        F.sum("cc").cast("long").alias("content_chars"),
    )


def _crawl_robots_rules(spark: SparkSession) -> DataFrame:
    """The q235/q244 fixture rule set (q214's shapes)."""
    return spark.createDataFrame(
        [
            ("a.example.com", False, "/docs/"),
            ("a.example.com", True, "/docs/en"),
            ("a.example.com", False, "/*/print$"),
            ("b.example.com", True, "/"),
            ("b.example.com", False, "/private/"),
            ("b.example.com", False, "/pub/f1$"),
            ("b.example.com", True, "/pub/*1$"),
        ],
        "host string, allow boolean, pattern string",
    )


def _crawl_warc_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q235/q244 fixture: documents packed into 16 WARC shards
    of q211-style pages under q144-class messy URLs, doc%3 mojibake-
    damaged, doc%7 repeated-substring bodies. Returns (warc_shard,
    blob) — the shard key doubles as q244's micro-batch split."""
    import pandas as pd

    from atiesh_spark.functions.text import to_mojibake
    from atiesh_spark.sources.warc import encode_warc_records

    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (d % 16).alias("warc_shard"),
        F.concat(
            F.lit("HTTPS://"),
            F.when(d % 2 == 0, F.lit("WWW.A.Example.COM"))
            .otherwise(F.lit("B.Example.COM:443")),
            F.when(
                d % 2 == 0,
                F.concat(
                    F.lit("/docs/"), F.col("lang"), F.lit("/p"),
                    (d % 5).cast("string"),
                    F.when(d % 4 == 0, F.lit("/print"))
                    .otherwise(F.lit("")),
                ),
            ).otherwise(
                F.when(
                    d % 3 == 0,
                    F.concat(F.lit("/private/f"), (d % 5).cast("string")),
                ).otherwise(
                    F.concat(F.lit("/pub/f"), (d % 5).cast("string"))
                )
            ),
            F.lit("?utm_source=x&keep="),
            (d % 3).cast("string"),
            F.lit("#frag"),
        ).alias("url"),
        F.when(
            d % 3 == 0,
            to_mojibake(_crawl_page_html(d)),
        )
        .otherwise(_crawl_page_html(d))
        .alias("page"),
    )

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        recs = [
            (u, p.encode("utf-8"))
            for u, p in zip(pdf["url"], pdf["page"])
        ]
        return pd.DataFrame(
            {"warc_shard": [key[0]], "blob": [encode_warc_records(recs)]}
        )

    return docs.groupBy("warc_shard").applyInPandas(
        pack, "warc_shard bigint, blob binary"
    )


@register(
    "q236_jpeg_progressive_decode",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(8 * (2 + doc_id % 2) AS INT) AS width,
               CAST(8 * (1 + doc_id % 3) AS INT) AS height,
               (2 + doc_id % 2) * (1 + doc_id % 3) AS nb
        FROM documents
    ),
    blocks AS (
        SELECT d.doc_id, d.width, d.height,
               (d.doc_id * 5 + 17 * t.b) % 256 AS v
        FROM dims d, unnest(generate_series(0, d.nb - 1)) AS t(b)
    )
    SELECT doc_id AS media_id, 'JFIF' AS format, width, height,
           CAST(1 AS INT) AS n_components,
           CAST(round(avg(v), 4) AS FLOAT) AS mean_r,
           CAST(round(avg(v), 4) AS FLOAT) AS mean_g,
           CAST(round(avg(v), 4) AS FLOAT) AS mean_b
    FROM blocks GROUP BY doc_id, width, height
    """,
    doc="PROGRESSIVE JPEG decode (operators/jpeg_progressive.py, "
    "round 9): ITU-T T.81 Annex G huffman-progressive — spectral "
    "selection AND successive approximation — closing the last JPEG "
    "mode gap (q194 made baseline real in r7; progressive blobs were "
    "error rows until now). The graded query re-runs the q194 device "
    "through the DEFAULT progressive scan script (interleaved DC at "
    "Al=1 + DC refinement bit, AC bands at Al=2 refined down to full "
    "precision, EOB-run batching across the all-zero AC bands of "
    "constant blocks): grayscale JPEGs whose 8x8 blocks are "
    "constants v_b = (doc_id*5 + 17*b) % 256 at quality 100, where "
    "all-ones quant tables make the multi-scan DC reconstruction "
    "((DC >> 1) << 1 | refinement bit) bit-exact, so the oracle "
    "reproduces the decoded channel means arithmetically WITHOUT a "
    "decoder while the decode exercises the full multi-scan "
    "coefficient-accumulation path. decode_jpeg dispatches on SOF2 "
    "transparently, so one Spark frame can mix baseline and "
    "progressive blobs (tested). The lossy path (random pixels, odd "
    "dims, 4:2:0, deep bit-plane scripts, spectral-only scripts) is "
    "differential-tested in test_jpeg_progressive.py against the "
    "baseline codec, which shares its quantization arithmetic "
    "exactly. Plan shape: synth + decode are chained mapInPandas "
    "over pruned columns, zero exchanges, bytes never on the driver.",
)
def q236_jpeg_progressive_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from atiesh_spark.operators.jpeg import decode_jpeg

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from atiesh_spark.operators.jpeg_progressive import (
            encode_jpeg_progressive,
        )

        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 8 * (2 + did % 2), 8 * (1 + did % 3)
                px = np.zeros((h, w), dtype=np.uint8)
                b = 0
                for by in range(h // 8):
                    for bx in range(w // 8):
                        px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                            did * 5 + 17 * b
                        ) % 256
                        b += 1
                blobs.append(encode_jpeg_progressive(px, quality=100))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    media = widen_for_python_stage(docs).mapInPandas(synth, schema="doc_id long, blob binary")
    return decode_jpeg(media, "doc_id", "blob").select(
        "media_id", "format", "width", "height", "n_components",
        "mean_r", "mean_g", "mean_b",
    )


@register(
    "q237_bmp_decode",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(3 + doc_id % 4 AS INT) AS width,
               CAST(2 + doc_id % 5 AS INT) AS height
        FROM documents
    ),
    rows_ AS (
        SELECT d.doc_id, d.width, d.height,
               (d.doc_id * 5 + 11 * t.y) % 256 AS v
        FROM dims d, unnest(generate_series(0, d.height - 1)) AS t(y)
    )
    SELECT doc_id AS media_id, 'BMP' AS format, width, height,
           CAST(3 AS INT) AS n_channels,
           CAST(round(avg(v), 4) AS FLOAT) AS mean_r,
           CAST(round(avg((v + 40) % 256), 4) AS FLOAT) AS mean_g,
           CAST(round(avg((v + 80) % 256), 4) AS FLOAT) AS mean_b
    FROM rows_ GROUP BY doc_id, width, height
    """,
    doc="BMP/DIB decode (operators/bmp.py, round 9): uncompressed "
    "BI_RGB Windows bitmaps — 24-bit BGR, 32-bit BGRX, 8-bit palette "
    "— header walk, 4-byte row unpadding, BGR->RGB swizzle, and the "
    "SIGNED-height row-order rule (positive = bottom-up, negative = "
    "top-down; the sign is unit-pinned by a mirror test). BMP is "
    "lossless, so the oracle needs no quality-100 device: the query "
    "plants one 24-bit bottom-up BMP per document whose row y is the "
    "constant (R,G,B) = (v, (v+40)%256, (v+80)%256) with v = "
    "(doc_id*5 + 11y) % 256 and width 3+doc_id%4 (every 4-byte pad "
    "residue fires), and the oracle reproduces each channel mean "
    "arithmetically. Distinct per-channel values prove the BGR "
    "swizzle end-to-end (a swapped channel shifts the mean by ±40/"
    "±80). RLE/bitfield compressions are error ROWS. Plan "
    "shape: chained mapInPandas over pruned columns, zero exchanges.",
)
def q237_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from atiesh_spark.operators.bmp import decode_bmp

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from atiesh_spark.operators.bmp import encode_bmp

        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 3 + did % 4, 2 + did % 5
                px = np.zeros((h, w, 3), dtype=np.uint8)
                for y in range(h):
                    v = (did * 5 + 11 * y) % 256
                    px[y, :, 0] = v
                    px[y, :, 1] = (v + 40) % 256
                    px[y, :, 2] = (v + 80) % 256
                blobs.append(encode_bmp(px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    media = widen_for_python_stage(docs).mapInPandas(synth, schema="doc_id long, blob binary")
    return decode_bmp(media, "doc_id", "blob").select(
        "media_id", "format", "width", "height", "n_channels",
        "mean_r", "mean_g", "mean_b",
    )


@register(
    "q238_tiff_decode",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(3 + doc_id % 4 AS INT) AS width,
               CAST(2 + doc_id % 5 AS INT) AS height,
               doc_id % 5 AS layout
        FROM documents
    ),
    rows_ AS (
        SELECT d.doc_id, d.width, d.height, d.layout,
               (d.doc_id * 7 + 13 * t.y) % 256 AS v
        FROM dims d, unnest(generate_series(0, d.height - 1)) AS t(y)
    )
    SELECT doc_id AS media_id, 'TIFF' AS format, width, height,
           CAST(CASE WHEN layout IN (0, 1, 4) THEN 1 ELSE 3 END AS INT)
               AS n_channels,
           CAST(round(avg(v), 4) AS FLOAT) AS mean_r,
           CAST(round(avg(CASE WHEN layout IN (0, 1, 4) THEN v
                               ELSE (v + 40) % 256 END), 4) AS FLOAT)
               AS mean_g,
           CAST(round(avg(CASE WHEN layout IN (0, 1, 4) THEN v
                               ELSE (v + 80) % 256 END), 4) AS FLOAT)
               AS mean_b
    FROM rows_ GROUP BY doc_id, width, height, layout
    """,
    doc="Baseline TIFF decode (operators/tiff.py, round 9): the "
    "scanned-document format — IFD walk with the inline-vs-offset "
    "value rule, BOTH byte orders, multi-strip assembly, photometric "
    "normalization (WhiteIsZero scans invert back), palette-color "
    "expansion (16-bit ColorMap >> 8). Lossless, so the oracle is "
    "pure row-gradient arithmetic (the q237 device): per document, "
    "row y carries v = (doc_id*7 + 13y) % 256, delivered through one "
    "of four rotating layouts — (0) grayscale little-endian single "
    "strip, (1) grayscale WhiteIsZero big-endian 2-row strips (the "
    "wire bytes are INVERTED, so polarity normalization is on the "
    "graded path), (2) RGB little-endian with channel offsets "
    "(v, v+40, v+80 — a swapped channel shifts a mean), (3) palette "
    "big-endian with pal[y] holding the same offsets, (4) grayscale "
    "LZW big-endian 3-row strips (TIFF 6.0 section 13 MSB-first "
    "EarlyChange LZW, a different dialect than GIF's, decoded for "
    "real on the graded path). Layout 1 is PackBits-compressed "
    "(32773, the scanner RLE — also real decompression). Plan shape: chained mapInPandas over pruned columns, "
    "zero exchanges.",
)
def q238_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from atiesh_spark.operators.tiff import decode_tiff

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from atiesh_spark.operators.tiff import encode_tiff

        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 3 + did % 4, 2 + did % 5
                v = np.array(
                    [(did * 7 + 13 * y) % 256 for y in range(h)],
                    dtype=np.uint8,
                )
                layout = did % 5
                if layout == 0:
                    px = np.repeat(v[:, None], w, axis=1)
                    blob = encode_tiff(px)
                elif layout == 1:
                    px = np.repeat(v[:, None], w, axis=1)
                    blob = encode_tiff(
                        px, rows_per_strip=2, big_endian=True,
                        white_is_zero=True, packbits=True,
                    )
                elif layout == 2:
                    px = np.zeros((h, w, 3), dtype=np.uint8)
                    px[:, :, 0] = v[:, None]
                    px[:, :, 1] = (v[:, None].astype(int) + 40) % 256
                    px[:, :, 2] = (v[:, None].astype(int) + 80) % 256
                    blob = encode_tiff(px)
                elif layout == 3:
                    pal = np.zeros((h, 3), dtype=np.uint8)
                    pal[:, 0] = v
                    pal[:, 1] = (v.astype(int) + 40) % 256
                    pal[:, 2] = (v.astype(int) + 80) % 256
                    idx = np.repeat(
                        np.arange(h, dtype=np.uint8)[:, None], w, axis=1
                    )
                    blob = encode_tiff(idx, palette=pal, big_endian=True)
                else:
                    px = np.repeat(v[:, None], w, axis=1)
                    blob = encode_tiff(
                        px, rows_per_strip=3, big_endian=True, lzw=True
                    )
                blobs.append(blob)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    media = widen_for_python_stage(docs).mapInPandas(synth, schema="doc_id long, blob binary")
    return decode_tiff(media, "doc_id", "blob").select(
        "media_id", "format", "width", "height", "n_channels",
        "mean_r", "mean_g", "mean_b",
    )


@register(
    "q239_zip_roundtrip",
    oracle="""
    SELECT CAST(doc_id % 16 AS BIGINT) AS archive_id,
           CAST(row_number() OVER (PARTITION BY doc_id % 16
                                   ORDER BY doc_id) - 1 AS INT)
               AS member_index,
           'doc/' || doc_id || '.txt' AS name,
           CAST(8 AS INT) AS method,
           CAST(octet_length(encode(text)) AS BIGINT) AS size,
           md5(text) AS body_md5
    FROM documents
    """,
    doc="ZIP archive ingestion end-to-end (sources/zipsrc.py, round "
    "9): the documents table is packed into 16 ZIP blobs "
    "(encode_zip inside one applyInPandas over the shard key — "
    "PKWARE local headers, deflate members, central directory, "
    "EOCD; interop-tested against the stdlib zipfile BOTH ways), "
    "then parse_zip_members explodes the blobs back into member "
    "rows in one mapInPandas pass: EOCD located from the tail, the "
    "central directory walked as the authoritative member table "
    "(the APPNOTE rule — local headers can lie), payloads inflated "
    "with ballooning bounded at the declared size and every CRC-32 "
    "verified. Graded EXACTLY per member: shard, index-in-archive, "
    "name, method, inflated byte length, payload md5 — the write->"
    "read round trip proves framing and parser on real multi-byte "
    "UTF-8 payloads (the q212 WARC discipline; CRC and compressed "
    "size are parser-internal since no SQL engine reproduces "
    "deflate). Structural damage is one error row; a damaged member "
    "errors alone while siblings extract (tested). In production "
    "the blob frame comes from spark.read.format('binaryFile') over "
    "a dataset-dump bucket; parallelism = archive files.",
)
def q239_zip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from atiesh_spark.sources.zipsrc import encode_zip, parse_zip_members

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("doc_id") % 16).alias("archive_id")
    )

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        members = [
            (f"doc/{int(d)}.txt", t.encode("utf-8"))
            for d, t in zip(pdf["doc_id"], pdf["text"])
        ]
        return pd.DataFrame(
            {"archive_id": [key[0]], "blob": [encode_zip(members)]}
        )

    blobs = docs.groupBy("archive_id").applyInPandas(
        pack, "archive_id bigint, blob binary"
    )
    members = parse_zip_members(blobs, "blob", id_cols=("archive_id",))
    return members.select(
        "archive_id",
        "member_index",
        "name",
        "method",
        F.col("size").cast("long").alias("size"),
        F.md5("body").alias("body_md5"),
    )


@register(
    "q240_targz_roundtrip",
    oracle="""
    SELECT CAST(doc_id % 16 AS BIGINT) AS archive_id,
           CAST(row_number() OVER (PARTITION BY doc_id % 16
                                   ORDER BY doc_id) - 1 AS INT)
               AS member_index,
           'doc/' || doc_id || '.txt' AS name,
           '0' AS typeflag,
           CAST(octet_length(encode(text)) AS BIGINT) AS size,
           md5(text) AS body_md5
    FROM documents
    """,
    doc="tar.gz archive ingestion end-to-end (sources/tarsrc.py, "
    "round 9): the documents table is packed into 16 gzip-wrapped "
    "POSIX ustar blobs (encode_tar inside one applyInPandas over the "
    "shard key — 512-byte headers with real octal checksums, block "
    "padding, the two-zero-block trailer, deterministic mtime 0), "
    "then parse_tar_members explodes them back in one mapInPandas "
    "pass: budgeted gzip inflate sniffed from the 1f 8b magic, "
    "header checksums VERIFIED, pax 'x' records and GNU longnames "
    "honored for the following member (stdlib-tarfile interop tested "
    "BOTH ways, incl. PAX long paths). Graded EXACTLY per member: "
    "shard, index, name, typeflag, byte length, payload md5 — the "
    "q212/q239 archive-round-trip discipline, completing the "
    "dataset-dump container trio (WARC, ZIP, tar.gz). In production "
    "the blob frame comes from spark.read.format('binaryFile'); "
    "parallelism = archive files.",
)
def q240_targz_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from atiesh_spark.sources.tarsrc import encode_tar, parse_tar_members

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("doc_id") % 16).alias("archive_id")
    )

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        members = [
            (f"doc/{int(d)}.txt", t.encode("utf-8"))
            for d, t in zip(pdf["doc_id"], pdf["text"])
        ]
        return pd.DataFrame(
            {"archive_id": [key[0]],
             "blob": [encode_tar(members, gzipped=True)]}
        )

    blobs = docs.groupBy("archive_id").applyInPandas(
        pack, "archive_id bigint, blob binary"
    )
    members = parse_tar_members(blobs, "blob", id_cols=("archive_id",))
    return members.select(
        "archive_id",
        "member_index",
        "name",
        "typeflag",
        F.col("size").cast("long").alias("size"),
        F.md5("body").alias("body_md5"),
    )


@register(
    "q244_crawl_stream_replay",
    # Graded EQUAL to the one-shot composite: the streaming twin must
    # converge to exactly q235's report, so it shares q235's oracle.
    oracle=None,  # set right after registration: q235's oracle verbatim
    doc="StreamingCrawlIngest end-to-end, driver-graded (operators/"
    "web.py StreamingCrawlIngest — round 10, r9 verdict item 6: the "
    "continuous-crawler flagship that pairs with the batch one): the "
    "16 WARC shards of q235's fixture stream in as 4 micro-batches of "
    "archives; each batch runs the FULL ingestion chain — the "
    "identical crawl_verdict_rows code path the one-shot q235 "
    "executes: WARC parse -> mojibake repair -> URL canon -> robots "
    "broadcast admission -> jusText extraction -> Gopher/zlib gates "
    "-> first-failing reason — and merges the per-page verdicts into "
    "the incremental (host, reason) attrition store "
    "(VersionedStore). Per-page verdicts are functions of the page "
    "alone, so the merge is a plain monoid sum and after ANY prefix "
    "the store equals the one-shot report over pages seen "
    "(prefix-asserted in test_web.py); the final batch is replayed "
    "under the same batch id (VersionedStore convergence), and the "
    "result must hash-equal q235's oracle — which this query shares "
    "VERBATIM. 100 TB shape: per-batch work linear in batch bytes, "
    "store size O(hosts x reasons) — a digest, never page state.",
)
def q244_crawl_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from atiesh_spark.operators.web import StreamingCrawlIngest

    blobs = _crawl_warc_blobs(spark, sf_dir).localCheckpoint()
    tmp = tempfile.mkdtemp(prefix="crawl_replay_")
    try:
        ingest = StreamingCrawlIngest(tmp, _crawl_robots_rules(spark))
        _replay_chunks(blobs, ingest,
                       [F.col("warc_shard") % 4 == i for i in range(4)])
        final = ingest.read(spark).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


import dataclasses as _dc

_QUERIES["q244_crawl_stream_replay"] = _dc.replace(
    _QUERIES["q244_crawl_stream_replay"],
    oracle=_QUERIES["q235_crawl_pipeline"].oracle,
)


@register(
    "q246_tarxz_roundtrip",
    oracle="""
    SELECT CAST(doc_id % 16 AS BIGINT) AS archive_id,
           CAST(row_number() OVER (PARTITION BY doc_id % 16
                                   ORDER BY doc_id) - 1 AS INT)
               AS member_index,
           'doc/' || doc_id || '.txt' AS name,
           '0' AS typeflag,
           CAST(octet_length(encode(text)) AS BIGINT) AS size,
           md5(text) AS body_md5
    FROM documents
    """,
    doc="tar.xz / tar.bz2 archive ingestion end-to-end "
    "(sources/tarsrc.py, round 10): q240 grades the gzip wrapper; "
    "this completes the stream-compressor set real dataset dumps "
    "arrive under — the 16 ustar shards are wrapped in xz (even "
    "shards, the 0xFD '7zXZ' magic via stdlib lzma) or bz2 (odd "
    "shards, the 'BZh' magic via stdlib bz2), and parse_tar_members "
    "sniffs the magic and decompresses under the SAME pre-allocation "
    "budget discipline as the gzip path (max_length-capped "
    "decompress; output past MAX_ARCHIVE_BYTES stays buffered in "
    "the decompressor and the archive becomes one error row instead "
    "of an allocation). Oracle identical to q240's — the wrapper "
    "must be invisible to member content. Per-member grading: "
    "shard, index, name, typeflag, byte length, payload md5. "
    "Parallelism = archive files; per-archive work linear in bytes.",
)
def q246_tarxz_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from atiesh_spark.sources.tarsrc import encode_tar, parse_tar_members

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("doc_id") % 16).alias("archive_id")
    )

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        members = [
            (f"doc/{int(d)}.txt", t.encode("utf-8"))
            for d, t in zip(pdf["doc_id"], pdf["text"])
        ]
        comp = "xz" if key[0] % 2 == 0 else "bz2"
        return pd.DataFrame(
            {"archive_id": [key[0]],
             "blob": [encode_tar(members, compression=comp)]}
        )

    blobs = docs.groupBy("archive_id").applyInPandas(
        pack, "archive_id bigint, blob binary"
    )
    members = parse_tar_members(blobs, "blob", id_cols=("archive_id",))
    return members.select(
        "archive_id",
        "member_index",
        "name",
        "typeflag",
        F.col("size").cast("long").alias("size"),
        F.md5("body").alias("body_md5"),
    )


@register(
    "q247_warcgz_roundtrip",
    oracle="""
    SELECT CAST(doc_id % 32 AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY doc_id % 32
                                   ORDER BY doc_id) - 1 AS BIGINT)
               AS rec_index,
           'response' AS warc_type,
           'https://corpus.example/doc/' || doc_id AS target_uri,
           CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
           md5(text) AS body_md5
    FROM documents
    """,
    doc="Gzipped WARC ingestion end-to-end (sources/warc.py + "
    "sources/tarsrc.py gunzip_concat, round 10): CommonCrawl does "
    "not ship plain .warc — it ships .warc.gz with ONE GZIP MEMBER "
    "PER RECORD (record-granular range requests), so the inflate "
    "path must loop over concatenated members; a single-member "
    "decompressobj pass silently drops every record after the first "
    "into unused_data (the exact bug this round fixed in the tar.gz "
    "path, now regression-graded here). Fixture: q212's 32 shards "
    "written gzipped=True (one member per record, stdlib-gzip "
    "interop unit-tested), parsed back through the member-looping "
    "budgeted inflate; oracle identical to q212's — compression "
    "must be invisible to record content. Parallelism = archive "
    "files; budget cumulative across members, enforced BEFORE "
    "materialization.",
)
def q247_warcgz_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from atiesh_spark.sources.warc import (
        encode_warc_records,
        parse_warc_records,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("doc_id") % 32).alias("shard")
    )

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        recs = [
            (f"https://corpus.example/doc/{int(d)}", t.encode("utf-8"))
            for d, t in zip(pdf["doc_id"], pdf["text"])
        ]
        return pd.DataFrame(
            {"shard": [key[0]],
             "blob": [encode_warc_records(recs, gzipped=True)]}
        )

    blobs = docs.groupBy("shard").applyInPandas(
        build, "shard bigint, blob binary"
    )
    recs = parse_warc_records(blobs, "blob", id_cols=("shard",))
    return recs.select(
        "shard",
        F.col("rec_index").cast("long").alias("rec_index"),
        "warc_type",
        "target_uri",
        "content_length",
        F.md5("body").alias("body_md5"),
    )


@register(
    "q248_zip64_roundtrip",
    oracle="""
    SELECT CAST(doc_id % 16 AS BIGINT) AS archive_id,
           CAST(row_number() OVER (PARTITION BY doc_id % 16
                                   ORDER BY doc_id) - 1 AS INT)
               AS member_index,
           'doc/' || doc_id || '.txt' AS name,
           CAST(8 AS INT) AS method,
           CAST(octet_length(encode(text)) AS BIGINT) AS size,
           md5(text) AS body_md5
    FROM documents
    """,
    doc="ZIP64 archive ingestion end-to-end (sources/zipsrc.py, "
    "round 10): ANY archive over 4 GiB or 65535 members — i.e. "
    "every realistically-sized dump at 100 TB — carries the ZIP64 "
    "structures, so the reader must follow the EOCD64 locator to "
    "the 8-byte counts/offsets and resolve the 0xFFFFFFFF central-"
    "directory sentinels from the 0x0001 extra field (values "
    "present for exactly the maxed fields, in usize/csize/offset "
    "order — APPNOTE sections 4.3.14-15/4.5.3). Fixture: q239's 16 "
    "shards with the ZIP64 structures FORCED on even shards "
    "(encode_zip zip64=True, the same device zipfile's force_zip64 "
    "uses — stdlib interop unit-tested BOTH ways) and classic "
    "framing on odd, under the same oracle: the container "
    "generation must be invisible to member content. Budgets and "
    "CRC verification unchanged from q239; a damaged locator or a "
    "maxed field without its extra is a typed error row.",
)
def q248_zip64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from atiesh_spark.sources.zipsrc import encode_zip, parse_zip_members

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("doc_id") % 16).alias("archive_id")
    )

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        members = [
            (f"doc/{int(d)}.txt", t.encode("utf-8"))
            for d, t in zip(pdf["doc_id"], pdf["text"])
        ]
        return pd.DataFrame(
            {"archive_id": [key[0]],
             "blob": [encode_zip(members, zip64=(key[0] % 2 == 0))]}
        )

    blobs = docs.groupBy("archive_id").applyInPandas(
        pack, "archive_id bigint, blob binary"
    )
    members = parse_zip_members(blobs, "blob", id_cols=("archive_id",))
    return members.select(
        "archive_id",
        "member_index",
        "name",
        "method",
        F.col("size").cast("long").alias("size"),
        F.md5("body").alias("body_md5"),
    )


@register(
    "q250_robots_parse",
    oracle="""
    WITH d AS (SELECT doc_id, doc_id % 4 AS v FROM documents),
    r0 AS (
        SELECT 'h' || doc_id || '.example.com' AS host,
               0 AS rule_index,
               v = 3 AS allow,
               CASE v WHEN 0 THEN '/private/'
                      WHEN 1 THEN '/bot' || doc_id % 7 || '/'
                      WHEN 2 THEN '/x' || doc_id % 5
                      ELSE '/a' || doc_id % 3 || '/' END AS pattern
        FROM d
    ),
    r1 AS (
        SELECT 'h' || doc_id || '.example.com' AS host,
               1 AS rule_index,
               v = 0 AS allow,
               CASE WHEN v = 0 THEN '/private/pub$' ELSE '/y' END
                   AS pattern
        FROM d WHERE v IN (0, 2)
    )
    SELECT host, CAST(rule_index AS INT) AS rule_index, allow, pattern
    FROM r0
    UNION ALL
    SELECT host, CAST(rule_index AS INT) AS rule_index, allow, pattern
    FROM r1
    """,
    doc="robots.txt PARSING (operators/web.py parse_robots_rules, "
    "round 10): the last gap in the crawl-admission chain — q214/"
    "q235 grade rule APPLICATION from a rules table, this grades "
    "turning fetched robots.txt BODIES into that table under RFC "
    "9309 group semantics. Fixture: one robots body per document's "
    "host rotating four shapes — (0) wildcard group with Disallow + "
    "anchored Allow, (1) a specific atieshbot group that must WIN "
    "over (and fully displace) a deny-all wildcard group, (2) "
    "case-mixed field/agent names with comments (inline and "
    "full-line), an unknown field (Crawl-delay) mid-group that must "
    "not end the group, and two Disallow lines, (3) a multi-"
    "User-agent run sharing one group where an EMPTY Disallow value "
    "emits no rule (the RFC allow-all spelling). Output is the "
    "ordered (host, rule_index, allow, pattern) rule table the "
    "broadcast-join admission operator consumes; the oracle "
    "reconstructs every expected row arithmetically. Plan shape: "
    "codegen text synthesis -> one mapInPandas over the HOST "
    "dimension (KBs per host; hosts, never pages), zero exchanges.",
)
def q250_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.web import parse_robots_rules

    d = F.col("doc_id")
    v = d % 4
    docs = load_table(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), d.cast("string"),
                 F.lit(".example.com")).alias("host"),
        F.when(v == 0, F.lit(
            "User-agent: *\nDisallow: /private/\nAllow: /private/pub$\n"
        )).when(v == 1, F.concat(
            F.lit("User-agent: atieshbot\nDisallow: /bot"),
            (d % 7).cast("string"),
            F.lit("/\n\nUser-agent: *\nDisallow: /\n"),
        )).when(v == 2, F.concat(
            F.lit("# fetched robots\nUser-Agent: AtieshBot\nDisallow: /x"),
            (d % 5).cast("string"),
            F.lit(" # inline comment\nCrawl-delay: 3\nDisallow: /y\n"),
        )).otherwise(F.concat(
            F.lit("User-agent: foo\nUser-agent: atieshbot\n"
                  "Disallow:\nAllow: /a"),
            (d % 3).cast("string"),
            F.lit("/\n"),
        )).alias("robots_txt"),
    )
    return parse_robots_rules(docs, "host", "robots_txt", "atieshbot")
