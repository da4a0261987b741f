"""LLM training-data pipeline queries (dedup / similarity / text analysis).

Beyond the reference's surface (SURVEY.md §2.9 Q21-Q23 block): the
operators a 100 TB data pipeline needs, each checkable against a DuckDB
oracle because every hash is md5-derived (engine-independent) and every
float is rounded before comparison/ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atiesh_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from atiesh_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    ivf_ann_topk,
    lsh_ann_topk,
)
from atiesh_spark.operators.textstats import (
    fingerprint,
    language_id,
    text_stats,
    tf_idf_topk,
    token_counts,
)
from atiesh_spark.plans.registry import register
from atiesh_spark.sources.tables import load_table

# Shared oracle CTE fragments -------------------------------------------------

_SHINGLES_CTE = """
sh0 AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, greatest(length(text) - 2, 1)),
                                 i -> substring(text, i, 3))) AS sh
    FROM documents
),
shingles AS (SELECT DISTINCT doc_id, sh FROM sh0 WHERE length(sh) > 0)
"""

_SIMHASH_CTE = """
toks AS (
    SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok FROM documents
),
th AS (
    SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS th
    FROM toks WHERE length(tok) > 0
),
bitvotes AS (
    SELECT doc_id, b,
           CASE WHEN SUM(((th >> b) & 1) * 2 - 1) > 0
                THEN (1::BIGINT << b) ELSE 0 END AS bitval
    FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bs
    GROUP BY doc_id, b
),
sims AS (
    SELECT doc_id, CAST(SUM(bitval) AS BIGINT) AS simhash FROM bitvotes GROUP BY doc_id
)
"""

_BUCKETS_CTE = """
v AS (
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
),
buckets AS (
    SELECT vec_id,
           string_agg(CASE WHEN pr > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
    FROM proj GROUP BY vec_id
)
"""


@register(
    "q24_exact_dedup",
    oracle="""
    SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents GROUP BY md5(text)
    """,
    doc="Exact dedup by content hash: one shuffle on md5, min-id survivor "
    "policy. The canonical 100 TB first pass.",
)
def q24_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "q25_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_1, b.doc_id AS id_2, count(*) AS i
        FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_1, id_2,
           round(i / (sa.sz + sb.sz - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_1
    JOIN sizes sb ON sb.doc_id = id_2
    WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.7
    """,
    doc="Exact char-3-gram Jaccard near-dup pairs (threshold 0.7). The "
    "verifier for MinHash candidates; quadratic in the worst case — the "
    "scale path is q26.",
)
def q25_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.7)


@register(
    "q26_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    seeds AS (SELECT unnest(generate_series(0, 31)) AS seed),
    sig AS (
        SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || sh)) AS mh
        FROM shingles CROSS JOIN seeds GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, (seed // 8) AS band,
               md5(string_agg(mh, '|' ORDER BY seed)) AS band_sig
        FROM sig GROUP BY doc_id, (seed // 8)
    )
    SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    """,
    doc="MinHash+LSH near-dup candidates: 32 md5-family hashes, 4 bands x "
    "8 rows (r=8 keeps j~0.5 collision odds under 2% while j>=0.9 pairs "
    "collide at ~80%); pair join runs per (band, band_sig) bucket — "
    "linear shuffle, no cross product. The 100 TB dedup workhorse. "
    "The oracle mins full md5 hex digests while the engine mins the "
    "60-bit md5_long prefix (fixed-width agg buffer -> HashAggregate, "
    "never SortAggregate): both pick the same winning shingle per seed "
    "up to 2^-60 prefix ties, so the emitted PAIR SET is identical — "
    "band signatures are internal join keys on both sides.",
)
def q26_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", k=3, num_hashes=32, bands=4)


@register(
    "q48_deterministic_split",
    oracle="""
    SELECT split, lang, count(*) AS cnt FROM (
        SELECT lang,
               CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < 9000
                    THEN 'train' ELSE 'val' END AS split
        FROM documents
    ) GROUP BY split, lang
    """,
    doc="Deterministic 90/10 train/val split by md5 hash bucket of the "
    "key: the same doc lands in the same split on any engine, run, or "
    "partitioning, and new rows never reshuffle old assignments.",
)
def q48_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.sampling import deterministic_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        deterministic_split(docs, "doc_id", {"train": 0.9, "val": 0.1})
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "q49_token_budget_take",
    oracle="""
    SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars FROM (
        SELECT lang, n_chars,
               SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS running
        FROM documents
    ) WHERE (running - n_chars) < 5000
    GROUP BY lang
    """,
    doc="Token-budget sampling: per language, take docs in deterministic "
    "doc_id order until ~5000 chars are accumulated (first row over the "
    "line kept). Range-parallel cutoff plan (never a one-task-per-"
    "language window); driver state is the O(partitions + langs) offset "
    "digest — the per-source cap step of a data-mixture pipeline.",
)
def q49_token_budget_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.sampling import budgeted_take

    docs = load_table(spark, sf_dir, "documents")
    taken = budgeted_take(docs, "lang", "n_chars", budget=5000, order_col="doc_id")
    return taken.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "q41_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
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
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
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
    SELECT d.doc_id,
           coalesce(least(c.min_reach, d.doc_id), d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    """,
    doc="Dedup clustering: MinHash-LSH candidate pairs -> connected "
    "components via distributed min-label propagation (data stays "
    "distributed; driver loop carries only the converged bit). "
    "cluster_id = min doc id = the dedup survivor. Oracle: recursive-CTE "
    "transitive closure over the same pairs.",
)
def q41_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", k=3, num_hashes=32, bands=4)
    return connected_components(pairs, docs.select("doc_id"), "doc_id")


@register(
    "q42_tfidf_topk",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok
        FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, count(*) AS tf FROM toks
        WHERE length(tok) > 0 GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               round(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 4) AS tfidf
        FROM tf JOIN dfreq USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, tfidf, rank FROM (
        SELECT doc_id, tok, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, tok) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
    doc="Top-5 TF-IDF tokens per doc (add-one smoothed, scores rounded "
    "before ranking for engine-independent tie-breaks). df table is a "
    "broadcast dim; two shuffles total.",
)
def q42_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tf_idf_topk(load_table(spark, sf_dir, "documents"), "doc_id", "text", k=5)


@register(
    "q27_simhash",
    oracle=f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM sims",
    doc="SimHash 60-bit fingerprints (token-frequency weighted, md5 token "
    "hashes). Fingerprinting is a map-side pass + one small shuffle.",
)
def q27_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(load_table(spark, sf_dir, "documents"), "doc_id", "text", bits=60)


@register(
    "q28_simhash_pairs",
    oracle=f"""
    WITH {_SIMHASH_CTE}
    SELECT a.doc_id AS id_1, b.doc_id AS id_2,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sims a JOIN sims b
      ON (a.simhash >> 48) = (b.simhash >> 48) AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    """,
    doc="SimHash near-dup pairs: hamming <= 6, blocked on the top 12 bits "
    "of the 60-bit fingerprint so the join is per-block (multi-probe "
    "raises recall at scale; blocking is part of the contract).",
)
def q28_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sims = simhash(load_table(spark, sf_dir, "documents"), "doc_id", "text", bits=60)
    return simhash_near_pairs(sims, "doc_id", max_hamming=6, prefix_bits=12, total_bits=60)


@register(
    "q29_embedding_topk",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, round(SUM(a * b) / (sqrt(SUM(a * a)) * sqrt(SUM(b * b))), 4) AS sim
    FROM (SELECT vec_id,
                 unnest(CAST(embedding AS DOUBLE[])) AS a,
                 unnest((SELECT qe FROM q)) AS b
          FROM embeddings)
    GROUP BY vec_id
    ORDER BY sim DESC, vec_id LIMIT 10
    """,
    doc="Brute-force cosine top-k (query vec_id=0): broadcast query vector, "
    "zip_with/aggregate array algebra in codegen, TakeOrdered top-k. The "
    "exact baseline for ANN.",
)
def q29_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, query_vec_id=0, k=10)


@register(
    "q30_ann_lsh_topk",
    oracle=f"""
    WITH {_BUCKETS_CTE},
    qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
    cand AS (
        SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ve
        FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id
        WHERE b.bucket = (SELECT bucket FROM buckets WHERE vec_id = 0)
    )
    SELECT vec_id, round(SUM(a * b) / (sqrt(SUM(a * a)) * sqrt(SUM(b * b))), 4) AS sim
    FROM (SELECT vec_id, unnest(ve) AS a, unnest((SELECT qe FROM qv)) AS b FROM cand)
    GROUP BY vec_id
    ORDER BY sim DESC, vec_id LIMIT 10
    """,
    doc="ANN top-k via random-hyperplane LSH (4 md5-derived planes, 16 "
    "buckets): search touches only the query's bucket — the sub-linear "
    "scale path; q29 is its exact baseline.",
)
def q30_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_ann_topk(emb, query_vec_id=0, k=10, num_planes=4)


@register(
    "q47_ivf_ann_topk",
    oracle="SELECT true AS recall_ge_30pct, true AS self_hit",
    doc="IVF ANN: k-means cells (fixed seed) + 2-probe search, the "
    "inverted-file counterpart to q30's hyperplane LSH. Cell assignment "
    "is library-specific, so the checkable contract is the recall bound: "
    "the query joins the IVF top-10 against the exact (q29) top-10 "
    "in-plan and emits booleans (>=30% recall; query vector recovered); "
    "the oracle is the constant truth table.",
)
def q47_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ivf = ivf_ann_topk(emb, query_vec_id=0, k=10, n_cells=8, n_probe=2).select("vec_id")
    exact = brute_force_topk(emb, query_vec_id=0, k=10).select("vec_id")
    hits = ivf.join(exact, "vec_id")
    return hits.agg(
        (F.count(F.lit(1)) >= 3).alias("recall_ge_30pct"),
        # coalesce: max() over an empty join is NULL — a total recall
        # collapse must grade as a clean false, not a NULL hash mismatch
        F.coalesce(
            F.max((F.col("vec_id") == 0).cast("int")) == 1, F.lit(False)
        ).alias("self_hit"),
    )


@register(
    "q31_embedding_near_dup",
    oracle="""
    SELECT id_1, id_2, sim FROM (
        SELECT id_1, id_2,
               round(SUM(x * y) / (sqrt(SUM(x * x)) * sqrt(SUM(y * y))), 4) AS sim
        FROM (SELECT a.vec_id AS id_1, b.vec_id AS id_2,
                     unnest(CAST(a.embedding AS DOUBLE[])) AS x,
                     unnest(CAST(b.embedding AS DOUBLE[])) AS y
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        GROUP BY id_1, id_2
    ) WHERE sim >= 0.35
    """,
    doc="Embedding-cosine near-dup pairs (exact, threshold 0.35). The "
    "operator library's 'lsh' method is the scale path; exact mode is the "
    "oracle-checkable verifier.",
)
def q31_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.35, method="brute")


@register(
    "q32_text_stats",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars_calc,
           len(list_filter(regexp_split_to_array(text, '\\s+'), t -> length(t) > 0)) AS n_tokens,
           round(CAST(coalesce(list_sum(list_transform(list_filter(regexp_split_to_array(text, '\\s+'), t -> length(t) > 0), t -> length(t))), 0) AS DOUBLE)
                 / greatest(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> length(t) > 0)), 1), 4) AS avg_token_len,
           round(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1), 4) AS punct_ratio,
           round(CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                      t -> lower(t) IN ('the','a','an','and','of','to','in','is','that','it'))) AS DOUBLE)
                 / greatest(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> length(t) > 0)), 1), 4) AS stopword_ratio
    FROM documents
    """,
    doc="Per-doc quality scoring: char/token counts, avg token length, "
    "punctuation + stopword ratios — all codegen'd regex/array exprs.",
)
def q32_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_stats(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "q33_language_id",
    oracle="""
    SELECT doc_id, en_hits, fr_hits,
           CASE WHEN en_hits > fr_hits AND en_hits > 0 THEN 'en'
                WHEN fr_hits > en_hits AND fr_hits > 0 THEN 'fr'
                ELSE 'unknown' END AS lang_id
    FROM (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(text, '\\s+'),
                               t -> lower(t) IN ('the','a','an','and','of','to','in','is','that','it'))) AS en_hits,
               len(list_filter(regexp_split_to_array(text, '\\s+'),
                               t -> lower(t) IN ('le','la','les','et','de','un','une','est','que','dans'))) AS fr_hits
        FROM documents
    )
    """,
    doc="Stopword-vote language ID heuristic.",
)
def q33_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "q34_token_counts",
    oracle="""
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(text, '\\s+'), t -> length(t) > 0)) AS n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens
    FROM documents
    """,
    doc="Token counting: whitespace + BPE-ish pre-tokenizer regex.",
)
def q34_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "q35_fingerprint",
    oracle="""
    SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
    FROM documents
    """,
    doc="Normalized content fingerprint: case/punctuation/whitespace-"
    "insensitive md5 — the batch analog of a rolling-hash fingerprint.",
)
def q35_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "q51_jaccard_verified_candidates",
    oracle=f"""
    WITH {_SHINGLES_CTE},
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
    cand AS (
        SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
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
           round(i / (sa.sz + sb.sz - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_1
    JOIN sizes sb ON sb.doc_id = id_2
    WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.7
    """,
    doc="The 100 TB near-dup pipeline end-to-end: MinHash-LSH candidate "
    "generation (q26's linear bucket join) followed by exact Jaccard "
    "verification computed ONLY on the candidate pairs — shingles join "
    "onto candidates, so cost is |candidates| x shingles/doc and the "
    "quadratic shingle self-join of q25 never happens. This is the "
    "graded scale path; q25 remains the exhaustive verifier.",
)
def q51_jaccard_verified_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.dedup import char_shingles

    docs = load_table(spark, sf_dir, "documents")
    # candidate generation needs the EXPLODED shingle stream (hash-dim
    # join + per-id min agg) — materialized once for its two branches
    sh = char_shingles(docs, "doc_id", "text", k=3).localCheckpoint()
    # broadcast_dim: the injected shingles are char 3-grams, so the
    # distinct-shingle universe is bounded (~|charset|^3) and the
    # hash-family dim broadcast is safe (measured 2x on this query)
    cands = minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, num_hashes=32, bands=4,
        shingles=sh, broadcast_dim=True,
    )
    # verification does NOT take shingles=: it needs per-doc SETS, which
    # ngram_jaccard_pairs builds row-locally from the text (char_gram_set)
    # — re-deriving ~300 substrings per doc is far cheaper than the
    # collect_set shuffle of the exploded stream the injection forced
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.7, candidates=cands
    )


@register(
    "q52_embedding_near_dup_lsh",
    oracle=f"""
    WITH {_BUCKETS_CTE},
    cand AS (
        SELECT a.vec_id AS id_1, b.vec_id AS id_2
        FROM buckets a JOIN buckets b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_1, id_2, sim FROM (
        SELECT c.id_1, c.id_2,
               round(SUM(x * y) / (sqrt(SUM(x * x)) * sqrt(SUM(y * y))), 4) AS sim
        FROM (SELECT c0.id_1, c0.id_2,
                     unnest(CAST(a.embedding AS DOUBLE[])) AS x,
                     unnest(CAST(b.embedding AS DOUBLE[])) AS y
              FROM cand c0
              JOIN embeddings a ON a.vec_id = c0.id_1
              JOIN embeddings b ON b.vec_id = c0.id_2) c
        GROUP BY c.id_1, c.id_2
    ) WHERE sim >= 0.35
    """,
    doc="Embedding near-dup pairs, LSH mode (the scale path): cosine is "
    "evaluated only within hyperplane-LSH buckets (16 buckets, md5 "
    "planes), never as a full cross product — recall tradeoff at bucket "
    "boundaries is the standard LSH contract. q31's brute mode is the "
    "exhaustive verifier; this is what runs at 100 TB.",
)
def q52_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.35, method="lsh")


_WORD_SHINGLES_CTE = """
w0 AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\\s+'), t -> length(t) > 0) AS ts
    FROM documents
),
ws0 AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, greatest(len(ts) - 1, 1)),
                                 i -> ts[i] || ' ' || ts[i + 1])) AS sh
    FROM w0
),
shingles AS (SELECT DISTINCT doc_id, sh FROM ws0 WHERE sh IS NOT NULL)
"""


@register(
    "q53_word_jaccard_pairs",
    oracle=f"""
    WITH {_WORD_SHINGLES_CTE},
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
    cand AS (
        SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
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
           round(i / (sa.sz + sb.sz - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_1
    JOIN sizes sb ON sb.doc_id = id_2
    WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.5
    """,
    doc="Word-bigram Jaccard near-dup pairs via the same MinHash-LSH "
    "candidate pipeline as q51 — the shingle unit (word n-grams, the "
    "standard granularity for natural-text dedup) plugs into the generic "
    "shingles=/gram_sets= slots of both operators; ONE row-local "
    "gram-set build (word_gram_sets, checkpointed as compact per-doc "
    "arrays) serves verification directly and candidate generation via "
    "a cheap explode — no collect_set reassembly shuffle.",
)
def q53_word_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.dedup import word_gram_sets

    docs = load_table(spark, sf_dir, "documents")
    sets = word_gram_sets(docs, "doc_id", "text", n=2).localCheckpoint()
    sh = sets.select("doc_id", F.explode("__shs").alias("sh"))
    cands = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=32, bands=4, shingles=sh
    )
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, candidates=cands,
        gram_sets=sets,
    )


@register(
    "q62_cascade_rollup",
    oracle="""
    SELECT '10 minutes' AS level,
           time_bucket(INTERVAL '10 minutes', ts) AS bucket,
           count(*) AS n_events,
           round(CAST(sum(value) AS DOUBLE), 4) AS sum_value
    FROM events GROUP BY bucket
    UNION ALL
    SELECT '1 hour' AS level,
           time_bucket(INTERVAL '1 hour', ts) AS bucket,
           count(*) AS n_events,
           round(CAST(sum(value) AS DOUBLE), 4) AS sum_value
    FROM events GROUP BY bucket
    """,
    doc="Hypertable-style cascade rollup: 10-minute buckets from raw "
    "events, then HOURLY buckets re-aggregated from the 10-minute frame "
    "(never from raw — the continuous-aggregate maintenance pattern; at "
    "100 TB the hourly pass reads the tiny finer rollup). Oracle "
    "aggregates each level directly from raw, proving the cascade is "
    "exact for cascade-safe aggregates.",
)
def q62_cascade_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.rollup import cascade_rollup

    ev = load_table(spark, sf_dir, "events")
    out = cascade_rollup(
        ev, "ts", ["10 minutes", "1 hour"],
        aggs={"n_events": ("event_id", "count"), "sum_value": ("value", "sum")},
    )
    return out.select(
        "level", "bucket", "n_events",
        F.round(F.col("sum_value"), 4).alias("sum_value"),
    )


@register(
    "q61_range_join",
    oracle="""
    WITH pts AS (
        SELECT user_id, event_id,
               (CAST(ts AS DATE) - DATE '1970-01-01') * 86400
               + hour(ts) * 3600 + minute(ts) * 60 + CAST(date_part('second', ts) AS BIGINT) AS t
        FROM events
    ),
    m AS (
        SELECT user_id, event_id AS marker_id, t AS t0, t + 1800 AS t1
        FROM pts WHERE event_id % 20 = 0
    )
    SELECT m.marker_id, count(*) AS n_events
    FROM m JOIN pts p
      ON p.user_id = m.user_id AND p.t BETWEEN m.t0 AND m.t1
    GROUP BY m.marker_id
    """,
    doc="Range (interval) join: events counted into the 30-minute "
    "attribution window opening at each marker event, per user. "
    "Bin-bucketed equality join + range post-filter (operators/asof.py "
    "range_join) — never a nested-loop non-equi join. Timestamps become "
    "epoch seconds via timezone-free field arithmetic so both engines "
    "compute identical bins.",
)
def q61_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.asof import range_join

    ev = load_table(spark, sf_dir, "events")
    secs = F.expr(
        "datediff(CAST(ts AS DATE), DATE '1970-01-01') * 86400L"
        " + hour(ts) * 3600L + minute(ts) * 60L + second(ts)"
    )
    pts = ev.select("user_id", "event_id", secs.alias("t"))
    markers = pts.filter(F.col("event_id") % 20 == 0).select(
        "user_id",
        F.col("event_id").alias("marker_id"),
        F.col("t").alias("t0"),
        (F.col("t") + 1800).alias("t1"),
    )
    joined = range_join(
        pts, markers, on="t", by="user_id",
        start_col="t0", end_col="t1", bin_size=1800,
    )
    return joined.groupBy("marker_id").agg(F.count(F.lit(1)).alias("n_events"))


@register(
    "q60_asof_join",
    oracle="""
    WITH m AS (
        SELECT user_id, ts, max(event_id) AS marker_id
        FROM events WHERE event_id % 20 = 0
        GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id, e.ts, m.marker_id
    FROM events e
    ASOF LEFT JOIN m ON e.user_id = m.user_id AND e.ts >= m.ts
    """,
    doc="As-of (point-in-time) join: every event picks up the latest "
    "marker event (event_id % 20 = 0, deduped per (user, ts)) at or "
    "before it for the same user — the temporal-dimension attach Spark "
    "lacks natively, built as union + per-key window (one shuffle, "
    "codegen; see operators/asof.py). Oracle: DuckDB's native ASOF "
    "LEFT JOIN.",
)
def q60_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    markers = (
        ev.filter(F.col("event_id") % 20 == 0)
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("marker_id"))
    )
    return asof_join(ev, markers, on="ts", by="user_id")


@register(
    "q59_sequence_packing",
    oracle="""
    SELECT shard, pack_id, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM (
        SELECT shard, n_chars,
               CAST(floor((SUM(n_chars) OVER (PARTITION BY shard ORDER BY doc_id
                                              ROWS UNBOUNDED PRECEDING)
                           - n_chars) / 2000.0) AS BIGINT) AS pack_id
        FROM (
            SELECT doc_id, n_chars,
                   ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 16 AS shard
            FROM documents
        )
    )
    GROUP BY shard, pack_id
    """,
    doc="Sequence packing: docs greedily packed into ~2000-char bins per "
    "md5 shard (16 shards) — the corpus-to-training-sequences step. "
    "Capacity packing with overflow (a straddling doc stays in the pack "
    "where it starts); per-shard windows keep the running-sum scan "
    "parallel. Grading aggregates per-pack doc counts and costs.",
)
def q59_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.sampling import pack_documents

    docs = load_table(spark, sf_dir, "documents")
    packed = pack_documents(docs, "doc_id", "n_chars", budget=2000, shards=16)
    return packed.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "q58_incremental_dedup",
    oracle=f"""
    WITH {_SHINGLES_CTE},
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
    old_new AS (
        SELECT a.doc_id AS id_1, b.doc_id AS id_2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig
        WHERE a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
    ),
    new_new AS (
        SELECT a.doc_id AS id_1, b.doc_id AS id_2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
        WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 = 0
    )
    SELECT DISTINCT id_1, id_2 FROM
    (SELECT * FROM old_new UNION ALL SELECT * FROM new_new)
    """,
    doc="Incremental dedup (the production ingestion mode): a NEW batch "
    "(doc_id % 5 = 0 here) joins its MinHash band signatures against the "
    "persisted signature store of the OLD corpus (directional — old doc "
    "is the survivor) plus new-vs-new pairs within the batch. The old "
    "corpus is never re-shingled; cost scales with the batch, not the "
    "100 TB corpus.",
)
def q58_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.dedup import (
        incremental_lsh_candidates,
        minhash_band_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    old_docs = docs.filter(F.col("doc_id") % 5 != 0)
    new_docs = docs.filter(F.col("doc_id") % 5 == 0)
    old_bands = minhash_band_signatures(old_docs, "doc_id", "text", k=3)
    new_bands = minhash_band_signatures(new_docs, "doc_id", "text", k=3)
    return incremental_lsh_candidates(new_bands, old_bands)


@register(
    "q57_repetition_stats",
    oracle="""
    WITH l0 AS (
        SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents
    ),
    l1 AS (SELECT doc_id, line FROM l0 WHERE length(line) > 0),
    ls AS (
        SELECT doc_id, count(*) AS n_lines,
               round(1 - CAST(count(DISTINCT line) AS DOUBLE) / count(*), 4) AS dup_line_frac
        FROM l1 GROUP BY doc_id
    ),
    w0 AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'), t -> length(t) > 0) AS ts
        FROM documents
    ),
    ws AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(ts) - 1, 1)),
                                     i -> ts[i] || ' ' || ts[i + 1])) AS sh
        FROM w0
    ),
    bg AS (SELECT doc_id, sh, count(*) AS c FROM ws WHERE sh IS NOT NULL GROUP BY doc_id, sh),
    top AS (
        SELECT doc_id, sh, c FROM (
            SELECT doc_id, sh, c,
                   row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, sh) AS rn
            FROM bg
        ) WHERE rn = 1
    )
    SELECT d.doc_id,
           coalesce(ls.n_lines, 0) AS n_lines,
           coalesce(ls.dup_line_frac, 0.0) AS dup_line_frac,
           coalesce(t.sh, '') AS top_bigram,
           round(CAST(coalesce(t.c * length(t.sh), 0) AS DOUBLE)
                 / greatest(length(d.text), 1), 4) AS top_bigram_char_frac
    FROM documents d
    LEFT JOIN ls ON ls.doc_id = d.doc_id
    LEFT JOIN top t ON t.doc_id = d.doc_id
    """,
    doc="Gopher-style repetition quality signals: duplicate-line "
    "fraction (boilerplate detector) and characters covered by the most "
    "frequent word bigram (repeated-phrase rule), deterministic "
    "tie-breaks — the repetition filters every pretraining cleanup "
    "applies after q32's surface stats.",
)
def q57_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.textstats import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text")


@register(
    "q56_mixture_take",
    oracle="""
    SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM (
        SELECT lang, n_chars,
               SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS running,
               CASE lang WHEN 'en' THEN 8000 WHEN 'fr' THEN 3000
                         WHEN 'zh' THEN 2000 ELSE 0 END AS budget
        FROM documents
    )
    WHERE budget > 0 AND (running - n_chars) < budget
    GROUP BY lang
    """,
    doc="Data-mixture assembly: per-language char budgets (en 8000 / fr "
    "3000 / zh 2000, others excluded) via the range-parallel cutoff "
    "plan (never a one-task-per-language window) — the mixture-recipe "
    "step of a pretraining pipeline (q49 is the single-budget special "
    "case). Deterministic doc_id order; first row over each line kept.",
)
def q56_mixture_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.sampling import mixture_take

    docs = load_table(spark, sf_dir, "documents")
    taken = mixture_take(
        docs, "lang", "n_chars",
        budgets={"en": 8000, "fr": 3000, "zh": 2000},
        order_col="doc_id",
    )
    return taken.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "q54_pii_redaction",
    oracle="""
    WITH pii AS (
        SELECT doc_id,
               text || ' contact user' || doc_id || '@example.com or ' ||
               (doc_id % 256) || '.0.' || ((doc_id * 7) % 256) || '.1 tel ' ||
               lpad((doc_id % 900 + 100)::VARCHAR, 3, '0') || '-555-' ||
               lpad((doc_id % 10000)::VARCHAR, 4, '0') AS t
        FROM documents
    )
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
               '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g'),
               '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g')) AS redacted_md5,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(t, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS INT) AS n_ipv4,
           CAST(len(regexp_extract_all(t, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS INT) AS n_phone
    FROM pii
    """,
    doc="PII scrubbing (the pre-training redaction pass): emails, IPv4s, "
    "phone-shaped and SSN-shaped numbers collapse to typed placeholders "
    "via chained codegen regexp_replace; per-kind hit counts audit the "
    "scrub. Deterministic synthetic PII is injected from doc_id so the "
    "redaction is exercised on every row and the oracle reproduces it "
    "byte-for-byte (patterns restricted to the Java-regex ∩ RE2 dialect).",
)
def q54_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.textstats import pii_counts, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or "), (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."), ((F.col("doc_id") * 7) % 256).cast("string"),
        F.lit(".1 tel "),
        F.lpad((F.col("doc_id") % 900 + 100).cast("string"), 3, "0"),
        F.lit("-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    staged = docs.select("doc_id", pii_text.alias("__t"))
    counts = pii_counts("__t", kinds=["email", "ipv4", "phone"])
    return staged.select(
        "doc_id",
        F.md5(redact_pii("__t").cast("binary")).alias("redacted_md5"),
        counts["email"].cast("int").alias("n_email"),
        counts["ipv4"].cast("int").alias("n_ipv4"),
        counts["phone"].cast("int").alias("n_phone"),
    )


@register(
    "q55_knn_join",
    oracle=f"""
    WITH {_BUCKETS_CTE},
    pairs AS (
        SELECT a.vec_id AS id_1, b.vec_id AS id_2
        FROM buckets a JOIN buckets b
          ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    scored AS (
        SELECT id_1, id_2,
               round(SUM(x * y) / (sqrt(SUM(x * x)) * sqrt(SUM(y * y))), 4) AS sim
        FROM (SELECT p.id_1, p.id_2,
                     unnest(CAST(a.embedding AS DOUBLE[])) AS x,
                     unnest(CAST(b.embedding AS DOUBLE[])) AS y
              FROM pairs p
              JOIN embeddings a ON a.vec_id = p.id_1
              JOIN embeddings b ON b.vec_id = p.id_2)
        GROUP BY id_1, id_2
    )
    SELECT id_1, id_2, sim, rank FROM (
        SELECT id_1, id_2, sim,
               row_number() OVER (PARTITION BY id_1
                                  ORDER BY sim DESC, id_2) AS rank
        FROM scored
    ) WHERE rank <= 3
    """,
    doc="All-to-all k-NN join (top-3 neighbors for EVERY vector): the "
    "batch similarity-search workhorse behind near-dup clustering and "
    "retrieval-corpus construction. Candidates restricted to shared LSH "
    "buckets (never all-pairs); scores rounded before window ranking "
    "with id tie-breaks for engine determinism.",
)
def q55_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.similarity import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_join(emb, k=3, num_planes=4)


_SIDE_SHINGLES_CTE = """
t0 AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\\s+'), t -> length(t) > 0) AS ts
    FROM documents
),
s0 AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, greatest(len(ts) - 1, 1)),
                                 i -> ts[i] || ' ' || ts[i + 1])) AS sh
    FROM t0
),
allsh AS (SELECT DISTINCT doc_id, sh FROM s0 WHERE sh IS NOT NULL),
doc_sh AS (SELECT * FROM allsh WHERE doc_id % 50 <> 0),
ben_sh AS (SELECT * FROM allsh WHERE doc_id % 50 = 0)
"""


@register(
    "q63_decontaminate",
    oracle=f"""
    WITH {_SIDE_SHINGLES_CTE},
    nd AS (SELECT doc_id, count(*) AS n_doc FROM doc_sh GROUP BY doc_id),
    shared AS (
        SELECT d.doc_id, b.doc_id AS bench_id, count(*) AS n_shared
        FROM doc_sh d JOIN ben_sh b USING (sh)
        GROUP BY d.doc_id, b.doc_id
    ),
    bad AS (
        SELECT DISTINCT s.doc_id
        FROM shared s JOIN nd USING (doc_id)
        WHERE round(CAST(s.n_shared AS DOUBLE) / nd.n_doc, 4) >= 0.5
    )
    SELECT doc_id, lang FROM documents
    WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
    """,
    doc="Benchmark decontamination (operators/decontaminate.py): docs "
    "whose word-bigram containment in any held-out 'benchmark' doc "
    "(doc_id % 50 = 0 here) reaches 0.5 are removed before training — "
    "the eval-leakage hygiene step (GPT-3 App. C). Benchmark shingles "
    "broadcast; the corpus-side stream never shuffles for the match.",
)
def q63_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.decontaminate import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return decontaminate(corpus, bench, threshold=0.5, n=2).select("doc_id", "lang")


@register(
    "q64_stratified_sample",
    oracle="""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 10000 AS bucket,
               CASE lang WHEN 'en' THEN 2000 WHEN 'zh' THEN 8000 ELSE 500 END AS cutoff
        FROM documents
    ) WHERE bucket < cutoff
    """,
    doc="Stratified deterministic sampling (operators/sampling.py): "
    "per-language keep rates (en 20% cap, zh 80% upweight, 5% default) "
    "via md5 hash buckets — reproducible, nested (a 20% sample is a "
    "subset of the 50% sample), zero-shuffle codegen filter.",
)
def q64_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "lang", "doc_id", fractions={"en": 0.2, "zh": 0.8},
        default_fraction=0.05,
    ).select("doc_id", "lang")


@register(
    "q65_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
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
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
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
    clusters AS (
        SELECT d.doc_id,
               coalesce(least(c.min_reach, d.doc_id), d.doc_id) AS cluster_id,
               d.n_chars
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT cluster_id, doc_id, n_chars FROM (
        SELECT cluster_id, doc_id, n_chars,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, doc_id) AS rk
        FROM clusters
    ) WHERE rk = 1
    """,
    doc="The corpus AFTER dedup — q41's clusters reduced to one survivor "
    "each, keeping the LONGEST doc per cluster (content-preserving "
    "policy) with min-id ties: MinHash-LSH pairs -> connected components "
    "-> per-cluster rank window. The end-to-end near-dup removal a "
    "pretraining pipeline actually ships.",
)
def q65_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.dedup import select_representatives

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", k=3, num_hashes=32, bands=4)
    clusters = connected_components(pairs, docs.select("doc_id"), "doc_id")
    reps = select_representatives(docs, clusters, "doc_id", score_col="n_chars")
    return reps.select("cluster_id", "doc_id", "n_chars")


@register(
    "q66_ann_multiprobe",
    oracle="SELECT true AS self_hit, true AS recall_not_below_single_probe",
    doc="Multi-probe LSH ANN (probe_bits=1): the query searches its own "
    "bucket plus every 1-bit Hamming neighbor — the constant-memory "
    "recall remedy (the corpus is never re-hashed; the probe set is an "
    "exploded broadcast dim and the match stays an equi-join). Bucket "
    "membership is hash-layout-specific, so the checkable contract is "
    "the recall booleans vs the exact top-10 (q29), graded against a "
    "constant truth table like q47.",
)
def q66_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exact = brute_force_topk(emb, query_vec_id=0, k=10).select("vec_id")
    single = lsh_ann_topk(emb, query_vec_id=0, k=10, num_planes=4).select("vec_id")
    multi = lsh_ann_topk(
        emb, query_vec_id=0, k=10, num_planes=4, probe_bits=1
    ).select("vec_id")
    n_single = single.join(exact, "vec_id").agg(F.count(F.lit(1)).alias("n_s"))
    n_multi = multi.join(exact, "vec_id").agg(F.count(F.lit(1)).alias("n_m"))
    self_hit = multi.agg(
        F.coalesce(
            F.max((F.col("vec_id") == 0).cast("int")) == 1, F.lit(False)
        ).alias("self_hit")
    )
    # three single-row aggregates combined in-plan (no driver scalars)
    return self_hit.crossJoin(n_multi).crossJoin(n_single).select(
        "self_hit",
        (F.col("n_m") >= F.col("n_s")).alias("recall_not_below_single_probe"),
    )


@register(
    "q67_asof_join_bucketed",
    oracle="""
    WITH pts AS (
        SELECT user_id, event_id,
               (CAST(ts AS DATE) - DATE '1970-01-01') * 86400
               + hour(ts) * 3600 + minute(ts) * 60
               + CAST(date_part('second', ts) AS BIGINT) AS t
        FROM events
    ),
    m AS (
        SELECT user_id, t, max(event_id) AS marker_id
        FROM pts WHERE event_id % 20 = 0
        GROUP BY user_id, t
    )
    SELECT p.event_id, p.user_id, p.t, m.marker_id
    FROM pts p
    ASOF LEFT JOIN m ON p.user_id = m.user_id AND p.t >= m.t
    """,
    doc="q60's as-of join on the time-bucketed physical path "
    "(operators/asof.py asof_join_bucketed, 1-hour buckets + boundary "
    "carry): parallelism #keys x #buckets instead of #keys, answers "
    "frame-identical — the low-key-cardinality scale remedy, graded "
    "against DuckDB's native ASOF like q60. Epoch seconds via "
    "timezone-free field arithmetic (q61's convention).",
)
def q67_asof_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.asof import asof_join_bucketed

    ev = load_table(spark, sf_dir, "events")
    secs = F.expr(
        "datediff(CAST(ts AS DATE), DATE '1970-01-01') * 86400L"
        " + hour(ts) * 3600L + minute(ts) * 60L + second(ts)"
    )
    pts = ev.select("event_id", "user_id", secs.alias("t"))
    markers = (
        pts.filter(F.col("event_id") % 20 == 0)
        .groupBy("user_id", "t")
        .agg(F.max("event_id").alias("marker_id"))
    )
    return asof_join_bucketed(pts, markers, on="t", by="user_id", bucket_size=3600)


_LINES_CTE = """
d AS (SELECT doc_id, replace(text, ' batch ', chr(10)) AS text FROM documents),
t0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
lns AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(ls)),
                  i -> struct_pack(ord := i, line := ls[i]))) AS s
    FROM t0
),
l2 AS (SELECT doc_id, s.ord AS ord, s.line AS line, trim(s.line) AS norm FROM lns)
"""


@register(
    "q68_line_dedup",
    oracle=f"""
    WITH {_LINES_CTE},
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
    doc="Cross-document line dedup (operators/corpus.py line_dedup): the "
    "C4/RefinedWeb boilerplate-removal pass — any trimmed line occurring "
    "in >= 2 distinct docs is dropped from every doc, survivors "
    "reassembled in order. Docs here are single-line, so the query first "
    "synthesizes multi-line docs deterministically (' batch ' -> "
    "newline) in both engines. Frequency pass shuffles md5(line) only; "
    "the common-line set is broadcast for the anti-join.",
)
def q68_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.corpus import line_dedup

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.expr("replace(text, ' batch ', chr(10))")
    )
    return line_dedup(docs, "doc_id", "text", max_doc_freq=2)


@register(
    "q69_top_ngrams",
    oracle="""
    WITH t0 AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           t -> length(t) > 0) AS ts
        FROM documents
    ),
    s0 AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(ts) - 1, 1)),
                                     i -> ts[i] || ' ' || ts[i + 1])) AS sh
        FROM t0
    ),
    shn AS (SELECT doc_id, sh FROM s0 WHERE sh IS NOT NULL),
    agg AS (
        SELECT sh, count(DISTINCT doc_id) AS n_docs, count(*) AS n_total
        FROM shn GROUP BY sh
    ),
    top AS (SELECT * FROM agg ORDER BY n_total DESC, sh LIMIT 20)
    SELECT sh, n_docs, n_total,
           row_number() OVER (ORDER BY n_total DESC, sh) AS rank
    FROM top
    """,
    doc="Corpus-wide top-20 word bigrams by total count with doc-frequency "
    "(operators/corpus.py top_ngrams): the vocabulary/boilerplate report "
    "before filter selection. Ordered limit compiles to "
    "TakeOrderedAndProject (distributed per-partition top-k), never a "
    "global single-task window sort; the rank window runs over 20 rows.",
)
def q69_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.corpus import top_ngrams

    docs = load_table(spark, sf_dir, "documents")
    return top_ngrams(docs, "doc_id", "text", n=2, k=20)


@register(
    "q70_chunk_documents",
    oracle="""
    WITH t0 AS (
        SELECT doc_id, text,
               generate_series(0, greatest(length(text) - 1, 0), 150) AS starts
        FROM documents
    ),
    c AS (SELECT doc_id, text, unnest(starts) AS strt FROM t0)
    SELECT doc_id, strt // 150 AS chunk_id,
           substring(text, strt + 1, 200) AS chunk_text,
           length(substring(text, strt + 1, 200)) AS n_chunk_chars
    FROM c
    """,
    doc="Fixed-size overlapping chunking (operators/corpus.py "
    "chunk_documents, size=200 stride=150: 50-char overlap): the "
    "retrieval-indexing / long-document windowing step. sequence + "
    "posexplode + substr, all whole-stage codegen; every doc yields >= 1 "
    "chunk so none silently disappears.",
)
def q70_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.corpus import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    out = chunk_documents(docs, "doc_id", "text", size=200, stride=150)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "chunk_text",
        F.col("n_chunk_chars").cast("long").alias("n_chunk_chars"),
    )


@register(
    "q71_temperature_weights",
    oracle="""
    WITH per AS (
        SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n_cost
        FROM documents GROUP BY lang
    ),
    p AS (SELECT lang, n_cost, pow(CAST(n_cost AS DOUBLE), 0.3) AS pp FROM per),
    t AS (SELECT sum(pp) AS z, CAST(sum(n_cost) AS BIGINT) AS total FROM p)
    SELECT lang, n_cost, round(pp / z, 4) AS weight,
           round(pp / z * total / n_cost, 4) AS epochs_at_parity
    FROM p, t
    """,
    doc="Temperature-based mixture weights (operators/sampling.py "
    "temperature_weights, alpha=0.3): p_l proportional to n_l^alpha — the "
    "mBERT/XLM-R multilingual sampling rule — plus epochs_at_parity, the "
    "repeat-count each language would see under the full corpus budget. "
    "One groupBy + a broadcast single-row total.",
)
def q71_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.sampling import temperature_weights

    docs = load_table(spark, sf_dir, "documents")
    return temperature_weights(docs, "lang", "n_chars", alpha=0.3)


@register(
    "q73_semantic_dedup",
    oracle="SELECT true AS partition_ok, true AS one_keeper_per_cluster, "
    "true AS survivors_separated, true AS recall_at_least_04",
    doc="SemDeDup semantic dedup (operators/similarity.py semantic_dedup, "
    "arXiv:2303.09540): KMeans cells restrict the cosine pair search "
    "(IVF-style), threshold graph collapses via connected components, "
    "min-id survivor per group. Cell assignment is library-specific, so "
    "the checkable contract is invariants graded as booleans (q47's "
    "pattern): the output partitions the corpus, every cluster keeps "
    "exactly one row, no two survivors in a cell are >= threshold, and "
    ">= 40% of the exact brute-force near-dup pairs land in one cluster "
    "(SemDeDup trades recall for never materializing all-pairs).",
)
def q73_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.similarity import as_double, cosine, semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, threshold=0.35, n_cells=4)

    n_total = emb.agg(F.count(F.lit(1)).alias("__n"))
    counts = out.agg(
        F.count(F.lit(1)).alias("__no"), F.countDistinct("vec_id").alias("__ndist")
    )
    keepers = (
        out.groupBy("cluster_id")
        .agg(F.sum(F.col("keep").cast("int")).alias("__k"))
        .agg(F.min("__k").alias("__kmin"), F.max("__k").alias("__kmax"))
    )
    surv = out.filter("keep").join(emb, "vec_id")
    s1 = surv.select(
        F.col("vec_id").alias("id_1"), "cell", as_double("embedding").alias("__v1")
    )
    s2 = surv.select(
        F.col("vec_id").alias("id_2"), "cell", as_double("embedding").alias("__v2")
    )
    close_survivors = (
        s1.join(s2, "cell")
        .filter(F.col("id_1") < F.col("id_2"))
        .filter(F.round(cosine(F.col("__v1"), F.col("__v2")), 4) >= 0.35)
        .agg(F.count(F.lit(1)).alias("__viol"))
    )
    brute = embedding_near_dup_pairs(emb, threshold=0.35, method="brute").select(
        "id_1", "id_2"
    )
    o1 = out.select(F.col("vec_id").alias("id_1"), F.col("cluster_id").alias("__c1"))
    o2 = out.select(F.col("vec_id").alias("id_2"), F.col("cluster_id").alias("__c2"))
    nb = brute.agg(F.count(F.lit(1)).alias("__nb"))
    nm = (
        brute.join(o1, "id_1")
        .join(o2, "id_2")
        .filter(F.col("__c1") == F.col("__c2"))
        .agg(F.count(F.lit(1)).alias("__nm"))
    )
    # single-row aggregates combined in-plan; coalesce guards degenerate
    # empties so a collapse grades as a clean false (ADVICE r2)
    return (
        n_total.crossJoin(counts)
        .crossJoin(keepers)
        .crossJoin(close_survivors)
        .crossJoin(nb)
        .crossJoin(nm)
        .select(
            F.coalesce(
                (F.col("__no") == F.col("__n")) & (F.col("__ndist") == F.col("__n")),
                F.lit(False),
            ).alias("partition_ok"),
            F.coalesce(
                (F.col("__kmin") == 1) & (F.col("__kmax") == 1), F.lit(False)
            ).alias("one_keeper_per_cluster"),
            F.coalesce(F.col("__viol") == 0, F.lit(False)).alias("survivors_separated"),
            F.coalesce(
                F.col("__nm") >= 0.4 * F.col("__nb"), F.lit(False)
            ).alias("recall_at_least_04"),
        )
    )


@register(
    "q80_inverted_index",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                  t -> length(t) > 0)) AS token
        FROM documents
    ),
    pd AS (SELECT token, doc_id, count(*) AS tf FROM toks GROUP BY token, doc_id)
    SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS n_total,
           array_to_string(
               list_transform(list_sort(list(doc_id))[1:10], d -> CAST(d AS VARCHAR)),
               ',') AS postings
    FROM pd GROUP BY token HAVING count(*) >= 2
    """,
    doc="Inverted token index over documents (operators/corpus.py "
    "inverted_index, min_df=2, postings capped at 10): token -> exact "
    "doc-frequency + total count + the 10 smallest posting doc ids. "
    "One (token, doc) shuffle; the posting list is CAPPED so "
    "stopword-like tokens never materialize corpus-sized lists on one "
    "reducer. The retrieval-side complement of q69's n-gram report.",
)
def q80_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.corpus import inverted_index

    docs = load_table(spark, sf_dir, "documents")
    return inverted_index(docs, max_postings=10, min_df=2)


@register(
    "q81_char_entropy",
    oracle="""
    WITH ch AS (
        SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
    ),
    p AS (
        SELECT doc_id,
               CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (PARTITION BY doc_id) AS p
        FROM ch GROUP BY doc_id, c
    ),
    e AS (
        SELECT doc_id, round(-sum(p * log2(p)), 4) AS char_entropy,
               CAST(sum(1) AS INT) AS n_distinct
        FROM p GROUP BY doc_id
    )
    SELECT d.doc_id, length(d.text) AS n_chars_seen,
           coalesce(e.char_entropy, 0.0) AS char_entropy
    FROM documents d LEFT JOIN e USING (doc_id)
    """,
    doc="Per-document character-distribution Shannon entropy "
    "(operators/textstats.py char_entropy): the degenerate-text quality "
    "signal (repeated runs / base64 blobs / template spam sit far from "
    "the ~3.5-4.5 bit prose band). Computed row-local with nested "
    "higher-order functions — ZERO shuffles, vs the naive (doc, char) "
    "exploded groupBy that shuffles |text| rows per document.",
)
def q81_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.textstats import char_entropy

    docs = load_table(spark, sf_dir, "documents")
    return char_entropy(docs)


@register(
    "q82_curation_pipeline",
    oracle="""
    WITH ws AS (
        SELECT *, list_filter(regexp_split_to_array(text, '\\s+'),
                              w -> length(w) > 0) AS __w
        FROM documents
    ),
    gated AS (
        SELECT doc_id, text, lang, n_chars FROM ws
        WHERE n_chars BETWEEN 100 AND 450
          AND (CASE WHEN len(__w) > 0
                    THEN CAST(list_sum(list_transform(__w, w -> length(w)))
                              AS DOUBLE) / len(__w)
                    ELSE 0.0 END) <= 4.6
    ),
    deduped AS (
        SELECT g.* FROM gated g
        JOIN (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)) k
        USING (doc_id)
    ),
    selected AS (
        SELECT lang, n_chars FROM (
            SELECT lang, n_chars,
                   SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS running
            FROM deduped
        ) WHERE running - n_chars < 5000
    )
    SELECT c.lang,
           c.n_candidates,
           coalesce(q.n, 0) AS n_after_quality,
           coalesce(d.n, 0) AS n_after_dedup,
           coalesce(s.n, 0) AS n_selected,
           coalesce(s.cost, 0) AS cost_selected
    FROM (SELECT lang, count(*) AS n_candidates FROM documents GROUP BY lang) c
    LEFT JOIN (SELECT lang, count(*) AS n FROM gated GROUP BY lang) q USING (lang)
    LEFT JOIN (SELECT lang, count(*) AS n FROM deduped GROUP BY lang) d USING (lang)
    LEFT JOIN (SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS cost
               FROM selected GROUP BY lang) s USING (lang)
    """,
    doc="The composite LLM-curation flagship (operators/curation.py "
    "curate_corpus): quality gate (length bounds + mean-word-length "
    "screen; thresholds 100-450 chars / mean-wl 4.6 picked from the "
    "testdata quantiles so every stage visibly rejects) "
    "-> exact dedup (md5 min-id survivors via LEFT SEMI, text never "
    "shuffles twice) -> per-language 5000-char budget take (q49 "
    "contract), reported per language with the count surviving each "
    "stage. ONE declarative plan end-to-end: no materialization between "
    "stages, filters fused into the scan, ever-smaller frames per "
    "stage. The 'whole pipeline' counterpart of q50's event flagship.",
)
def q82_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.curation import curate_corpus

    docs = load_table(spark, sf_dir, "documents")
    return curate_corpus(
        docs, min_chars=100, max_chars=450, max_mean_word_len=4.6,
        budget=5_000,
    )


@register(
    "q85_global_index",
    oracle="""
    SELECT doc_id, n_chars,
           row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS global_idx
    FROM documents
    """,
    doc="Contiguous global sample ids in (n_chars, doc_id) order via "
    "operators/sampling.py global_index: repartitionByRange + "
    "sortWithinPartitions (total order across partitions), O(partitions) "
    "count collect, broadcast offsets, Arrow mapInPandas position pass — "
    "NEVER the single-task window the oracle's row_number() OVER "
    "(ORDER BY ...) implies. The frame is localCheckpoint-pinned so the "
    "count and index passes see identical range boundaries.",
)
def q85_global_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.sampling import global_index

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return global_index(docs, ["n_chars", "doc_id"])


@register(
    "q86_deterministic_shuffle",
    oracle="""
    SELECT doc_id,
           row_number() OVER (ORDER BY md5('epoch-1:' || CAST(doc_id AS VARCHAR)))
               - 1 AS shuffle_idx
    FROM documents
    """,
    doc="Epoch-seeded reproducible global corpus shuffle "
    "(operators/sampling.py deterministic_shuffle): position = rank of "
    "md5(seed || doc_id). Same seed => identical permutation on any "
    "cluster size or engine (md5 is portable — the oracle reproduces it "
    "in DuckDB); next epoch seed => independent permutation. ORDER BY "
    "rand() cannot give this: a retried map task re-draws. Executes as "
    "global_index over the hash key — range shuffle, no single-task "
    "sort.",
)
def q86_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.sampling import deterministic_shuffle

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(docs, "doc_id", seed="epoch-1")


@register(
    "q139_leakage_safe_split",
    oracle="""
    WITH h AS (SELECT doc_id, md5(text) AS hh FROM documents),
    reps AS (SELECT hh, MIN(doc_id) AS cluster_rep FROM h GROUP BY hh)
    SELECT h.doc_id, r.cluster_rep,
           CASE WHEN ('0x' || substring(md5(CAST(r.cluster_rep AS VARCHAR)), 1, 15))::BIGINT % 10000 < 8000
                THEN 'train'
                WHEN ('0x' || substring(md5(CAST(r.cluster_rep AS VARCHAR)), 1, 15))::BIGINT % 10000 < 9000
                THEN 'val' ELSE 'test' END AS split
    FROM h JOIN reps r USING (hh)
    """,
    doc="Leakage-safe 80/10/10 split (operators/sampling.py "
    "leakage_safe_split): duplicate clusters move between splits as "
    "ONE unit — split by doc id alone and two copies of the same page "
    "land in train AND val, inflating eval (the arXiv:2107.06499 "
    "deduplication finding). Rows map to a cluster representative "
    "(exact clusters: min id per md5(text); near-dup cluster frames "
    "from connected_components plug into the same operator), and the "
    "md5 hash-bucket split is taken on the REP — one md5 groupBy + "
    "one hash equi-join over the corpus, raw text never shuffles. "
    "Graded EXACTLY per doc: (doc_id, cluster_rep, split).",
)
def q139_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.sampling import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return leakage_safe_split(
        docs,
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
        text_col="text",
    ).select("doc_id", "cluster_rep", "split")
