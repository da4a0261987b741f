#!/usr/bin/env python
"""sf0.1 -> sf1 scale probe for the heaviest queries.

All the repo's 100 TB arguments are design-level (plan-shape gates,
shuffle discipline); this script turns them into MEASURED per-query
scaling factors. The driver only ships testdata up to sf0.1, so the
probe DERIVES a 10x corpus from it deterministically:

- documents: 10 perturbed copies per doc. Copy 0 keeps the original
  text; copy c applies a per-copy alphabet rotation (a->b->c...,
  0->1->..., rotate-by-c) so every shingle/window/trigram changes while
  length, word structure, and per-doc statistics are preserved — the
  near-dup RATE stays that of the base corpus instead of exploding
  quadratically inside copy groups (which would measure a different
  workload, not a bigger one).
- embeddings: 10 copies; copy c cyclically rolls the 64-dim vector by
  c positions (norm- and distribution-preserving, decorrelates copies
  so LSH buckets stay uniformly filled).

Output parquet is written with multiple row groups so the scan can
parallelize (the single-row-group testdata artifact would otherwise
serialize the 10x scan and pollute the ratio).

Usage:
    python scripts/scale_probe.py            # generate (if needed) + run
    python scripts/scale_probe.py --gen-only

Prints one JSON line: per-query seconds at sf0.1 and the derived sf1,
and the ratio (10x data -> ratio ~10 is linear; the fixed ~0.5-1 s
plan/codegen overhead in every cell biases ratios DOWN a bit at these
absolute times).
"""

from __future__ import annotations

import json
import os
import string
import sys
import time

BASE = "/root/testdata/sf0.1"
OUT = "/root/repo/.scale_probe/sf1"
COPIES = 10
HEAVY = [
    "q26_minhash_lsh",
    "q41_dedup_clusters",
    "q51_jaccard_verified_candidates",
    "q55_knn_join",
    "q94_lm_quality",
    # round 4 additions over the same derived tables
    "q105_bpe_pair_counts",
    "q107_bm25_topk",
    "q111_nb_classify",
    # round 5: the composite flagship — pandas UDF -> codegen md5 ->
    # budget window, the most production-shaped plan in the repo
    "q117_pretrain_pipeline",
    # round 5: iterative clustering — per-round full scan + k x d digest
    "q129_kmeans_clusters",
    # round 5b: quantization ANN family (embeddings-derived) and the
    # unigram tokenizer (documents-derived word table)
    "q137_pq_ann",
    "q138_ivf_pq_ann",
    "q141_unigram_tokenizer",
    # round 6 (session 2): winnowing explodes one row per char and
    # windows per doc (the heaviest new text path), the MOSS pair join
    # on top of it, and the 10-round full-batch GD trainer (10 scans)
    "q163_winnow_fingerprints",
    "q164_winnow_overlap_pairs",
    "q167_logreg_quality_gate",
    # round 7: the winnowing TAIL — q178 composes q164's pairs with
    # connected components (pointer jumping), q184 composes them with
    # span-hull string surgery, the two most allocation-heavy stages
    # in the family (round-6 verdict item 5)
    "q178_winnow_dedup_clusters",
    "q184_winnow_span_removal",
    # round 11: the PCA moment job after the upper-triangle + sentinel
    # fusion — should be ~linear (one scan, d^2-bounded shuffle)
    "q98_pca_embeddings",
    # round 8: the codec-heaviest row-local media cell (GIF encode +
    # stride-2 LZW decode per doc) — should scale ~linearly
    "q200_gif_frame_sample",
    # round 8 (session 2): the generation-eval family — the char-gram
    # explode (6 orders x every char x both sides) is the heaviest
    # relational text path added this round; BLEU is its word twin
    "q215_corpus_bleu",
    "q216_corpus_chrf",
    # round 8 (session 2): the KN bigram LM — the bigram count table
    # grows sublinearly (vocab-bounded), scoring rides one equi-join
    "q218_kn_bigram_ppl",
    # round 8 (session 2): span corruption (one per-doc window over
    # exploded positions), tree flattening (log-depth doubling joins),
    # Gale-Church (per-pair python DP), phrase search (postings joins)
    "q221_span_corruption",
    "q226_thread_tree_flatten",
    "q227_gale_church_align",
    "q231_phrase_search",
    # round 9: the MJPEG-AVI path (JPEG encode x frames + container
    # walk + decode per doc, row-local — should scale ~linearly) and
    # the crawl composite (WARC pack/parse + repair + extraction HOFs
    # + zlib UDF, one report shuffle)
    "q234_avi_frame_stats",
    "q235_crawl_pipeline",
    # round 9: multi-scan progressive decode (6 scans re-traverse the
    # coefficient planes per image — heavier per-byte than baseline,
    # still row-local)
    "q236_jpeg_progressive_decode",
    # round 9 (session close): the archive round trips — applyInPandas
    # pack + mapInPandas parse, both linear in corpus bytes; the 16
    # fixed shards mean per-shard groups grow 10x (the realistic
    # shape: archive size grows with the corpus, archive count with
    # the fleet)
    "q239_zip_roundtrip",
    "q240_targz_roundtrip",
    # round 9 (session close): remaining codec cells — all row-local
    "q237_bmp_decode",
    "q238_tiff_decode",
    "q241_image_resize",
    # round 10: MPEG-1 Layer I/II frame synth + bitstream decode — a
    # row-local mapInPandas chain whose scale axis is document count;
    # and the streaming
    # crawl twin (4 foreachBatch rounds over the q235 chain + an
    # O(hosts x reasons) store merge — fixed round count, so the
    # ratio tracks the underlying chain)
    "q242_mpeg_audio_decode",
    "q244_crawl_stream_replay",
    # round 10 (session close): the archive-compression closure —
    # same shard-parallel shape as q239/q240, scale axis = archive
    # count, per-shard work linear in bytes
    "q246_tarxz_roundtrip",
    "q247_warcgz_roundtrip",
    "q248_zip64_roundtrip",
]


def _rot_table(c: int) -> dict[int, int]:
    low, dig = string.ascii_lowercase, string.digits
    up = string.ascii_uppercase
    t = {}
    for alpha in (low, up, dig):
        for i, ch in enumerate(alpha):
            t[ord(ch)] = ord(alpha[(i + c) % len(alpha)])
    return t


def generate() -> None:
    import numpy as np
    import pandas as pd

    os.makedirs(OUT, exist_ok=True)
    docs = pd.read_parquet(os.path.join(BASE, "documents.parquet"))
    parts = []
    for c in range(COPIES):
        d = docs.copy()
        d["doc_id"] = d["doc_id"] * COPIES + c
        if c:
            table = _rot_table(c)
            d["text"] = d["text"].map(lambda s, t=table: s.translate(t))
        parts.append(d)
    big = pd.concat(parts, ignore_index=True)
    big.to_parquet(
        os.path.join(OUT, "documents.parquet"), row_group_size=16384, index=False
    )

    emb = pd.read_parquet(os.path.join(BASE, "embeddings.parquet"))
    parts = []
    for c in range(COPIES):
        e = emb.copy()
        e["vec_id"] = e["vec_id"] * COPIES + c
        if c:
            e["embedding"] = e["embedding"].map(
                lambda v, c=c: np.roll(np.asarray(v), c).tolist()
            )
        parts.append(e)
    bige = pd.concat(parts, ignore_index=True)
    bige.to_parquet(
        os.path.join(OUT, "embeddings.parquet"), row_group_size=4096, index=False
    )
    print(
        f"generated {OUT}: documents={len(big)}, embeddings={len(bige)}",
        file=sys.stderr,
    )


def main() -> None:
    # --copies N: probe at N x sf0.1 instead of the default 10x —
    # round 10 adds a second probe point (30x) so fixed-overhead
    # amortization in the row-local codec cells is demonstrable
    # (r9 verdict item 7). Output dir keyed by the factor.
    global COPIES, OUT
    for i, a in enumerate(sys.argv):
        if a == "--copies" and i + 1 < len(sys.argv):
            COPIES = int(sys.argv[i + 1])
            OUT = f"/root/repo/.scale_probe/sf{COPIES / 10:g}"
    if not os.path.exists(os.path.join(OUT, "embeddings.parquet")):
        generate()
    if "--gen-only" in sys.argv:
        return

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from atiesh_spark.plans import QUERIES
    from atiesh_spark.session import get_spark

    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str, sf_dir: str) -> float:
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            QUERIES[name].spark(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
        return round(best, 2)

    # --only q163,...: probe a subset of HEAVY and skip the custom
    # cells (for incremental re-measurement; full run re-records all)
    only = None
    for i, a in enumerate(sys.argv):
        if a == "--only" and i + 1 < len(sys.argv):
            only = set(sys.argv[i + 1].split(","))

    # warmup
    run("q26_minhash_lsh", "/root/testdata/sf0.01")
    out = {}
    # budgeted_take skew probe (round 12) — runs FIRST: its 50M-row
    # frames are the largest in the probe and need a clean heap, not
    # one littered with 45 cells of checkpoint blocks (a late slot
    # OOM'd the whole run once): the cumulative token-budget
    # take on a lang-skewed corpus (98% one language, budget = ~half
    # the dominant stratum). The one-window plan is ONE TASK for the
    # dominant language — wall-clock pinned to a single core (and that
    # task's sort spills) regardless of cluster size; the shipped
    # range-parallel cutoff plan spreads the same prefix sum over all
    # partitions. The sf0.1 documents table (60k rows) is far below the
    # single-core saturation point, so this cell synthesizes row counts
    # where the serialization is visible: 5M rows base, 5M x COPIES
    # scaled (row count is the probe's scale axis — the operator only
    # ever touches the narrow (lang, doc_id, cost) projection anyway).
    if only is None or "budgeted_take_skew" in only:
        import pandas as _pd
        from pyspark.sql import functions as _SF

        from atiesh_spark.operators.sampling import (
            _cumulative_take_window,
            mixture_take,
        )

        def skewed_rows(n: int):
            return spark.range(n).select(
                _SF.col("id").alias("doc_id"),
                _SF.when(_SF.col("id") % 50 > 0, _SF.lit("en"))
                .otherwise(_SF.lit("fr"))
                .alias("lang"),
                (_SF.pmod(_SF.col("id") * 2654435761, _SF.lit(997)) + 1)
                .alias("cost"),
            )

        def _warm(batches):
            yield _pd.DataFrame({"n": [sum(len(p) for p in batches)]})

        # warm the python workers so the range path isn't billed for
        # 32 cold interpreter starts the bench context never pays
        skewed_rows(1_000_000).repartition(32).mapInPandas(
            _warm, "n long"
        ).collect()

        base_n, big_n = 5_000_000, 5_000_000 * COPIES

        def run_take(n: int, fn) -> float:
            # budget ~ half the dominant stratum's total cost (mean
            # cost 499, 98% of rows are en)
            budget = int(n * 0.98 * 499 * 0.5)
            t0 = time.perf_counter()
            fn(
                skewed_rows(n), "lang", "cost", {},
                "doc_id", default_budget=budget,
            ).write.format("noop").mode("overwrite").save()
            el = round(time.perf_counter() - t0, 2)
            # drop the 50M-row checkpoint/window litter before the
            # next cell: this is the largest frame in the whole probe
            import gc as _gc

            _gc.collect()
            spark.sparkContext._jvm.System.gc()
            return el

        cell = {
            "rows_base": base_n,
            "rows_scaled": big_n,
            "window_base_sec": run_take(base_n, _cumulative_take_window),
            "window_scaled_sec": run_take(big_n, _cumulative_take_window),
            "range_base_sec": run_take(base_n, mixture_take),
            "range_scaled_sec": run_take(big_n, mixture_take),
        }
        cell["scaled_speedup"] = round(
            cell["window_scaled_sec"] / cell["range_scaled_sec"], 2
        )
        out["budgeted_take_skew"] = cell
        print(f"  budgeted_take_skew: {cell}", file=sys.stderr)

    for name in HEAVY if only is None else [n for n in HEAVY if n in only]:
        a = run(name, BASE)
        b = run(name, OUT)
        out[name] = {"sf0.1_sec": a, "sf1_sec": b, "ratio": round(b / a, 2)}
        print(f"  {name}: {a}s -> {b}s ({out[name]['ratio']}x)", file=sys.stderr)


    if only is not None:
        print(json.dumps({"copies": COPIES, "queries": out}))
        return

    # q55's registered form pins num_planes=4 (documented testdata
    # setting) and is expected to scale QUADRATICALLY; the operator's
    # scale path is num_planes=None (auto-sized buckets). Measure it so
    # the ratio table shows the discipline, not just the hazard.
    from atiesh_spark.operators.similarity import knn_join
    from atiesh_spark.sources.tables import load_table

    def run_auto(sf_dir: str) -> float:
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            knn_join(
                load_table(spark, sf_dir, "embeddings"), k=3, num_planes=None
            ).write.format("noop").mode("overwrite").save()
            el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
        return round(best, 2)

    a, b = run_auto(BASE), run_auto(OUT)
    out["knn_join_auto_planes"] = {"sf0.1_sec": a, "sf1_sec": b, "ratio": round(b / a, 2)}
    print(f"  knn_join_auto_planes: {a}s -> {b}s ({round(b/a,2)}x)", file=sys.stderr)

    # hard_negatives shares knn_join's pinned-planes hazard; measure its
    # auto-sized scale path the same way (the registered q110 pins
    # planes=4 only so its DuckDB oracle can enumerate the buckets).
    from atiesh_spark.operators.similarity import hard_negatives

    def run_hn_auto(sf_dir: str) -> float:
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            hard_negatives(
                load_table(spark, sf_dir, "embeddings"), k=2, num_planes=None
            ).write.format("noop").mode("overwrite").save()
            el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
        return round(best, 2)

    a, b = run_hn_auto(BASE), run_hn_auto(OUT)
    out["hard_negatives_auto_planes"] = {
        "sf0.1_sec": a, "sf1_sec": b, "ratio": round(b / a, 2)
    }
    print(f"  hard_negatives_auto_planes: {a}s -> {b}s ({round(b/a,2)}x)", file=sys.stderr)

    # SemDeDup's scale path sizes k WITH the corpus (the paper uses
    # ~sqrt(N) clusters); the registered q219 pins k=16 only so its
    # oracle can enumerate the seeds. Measure the k-proportional
    # variant: 16 clusters at sf0.1, 160 at the derived sf1, so the
    # per-cluster quadratic stays constant-sized as the corpus grows.
    from atiesh_spark.functions.hashing import md5_long
    from atiesh_spark.operators.cluster import semantic_dedup_exact as semantic_dedup
    from atiesh_spark.operators.similarity import as_double
    from pyspark.sql import functions as _F

    def run_semdedup(sf_dir: str, k: int) -> float:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", as_double("embedding").alias("embedding")
        )
        seeds = (
            emb.orderBy(md5_long(_F.col("vec_id").cast("string"), 15),
                        "vec_id")
            .limit(k).select("embedding").collect()
        )
        cents = [list(r["embedding"]) for r in seeds]
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            semantic_dedup(
                emb, cents, threshold=0.95
            ).write.format("noop").mode("overwrite").save()
            el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
        return round(best, 2)

    a, b = run_semdedup(BASE, 16), run_semdedup(OUT, 160)
    out["semdedup_k_proportional"] = {
        "sf0.1_sec": a, "sf1_sec": b, "ratio": round(b / a, 2)
    }
    print(f"  semdedup_k_proportional: {a}s -> {b}s ({round(b/a,2)}x)", file=sys.stderr)

    # Blocklist engine crossover: time inplan (one codegen contains per
    # pattern) vs automaton (broadcast Aho-Corasick, one scan) at
    # growing pattern counts over the sf0.1 corpus, so the `auto`
    # threshold (_INPLAN_MAX) is a measured constant, not a guess.
    # Patterns are deterministic letter trigrams/quadgrams — mostly
    # non-matching, which is the realistic shape (a blocklist hits a
    # tiny fraction of docs) and the worst case for both engines.
    from itertools import product as _prod

    from atiesh_spark.operators.blocklist import blocklist_hits

    letters = string.ascii_lowercase
    pool = ["".join(p) for p in _prod(letters, repeat=3)]
    pool += ["".join(p) for p in _prod(letters[:10], repeat=4)]
    docs_df = load_table(spark, BASE, "documents")
    cross = {}
    for n_pat in (16, 64, 256, 1024, 10000):
        pats = pool[:n_pat]
        cell = {}
        # inplan at 10k patterns means 10k contains per row — capped at
        # 1024 (the probe exists to show exactly this divergence).
        engines = ("inplan", "automaton") if n_pat <= 1024 else ("automaton",)
        for eng in engines:
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                blocklist_hits(docs_df, "text", pats, engine=eng).write.format(
                    "noop"
                ).mode("overwrite").save()
                el = time.perf_counter() - t0
                best = el if best is None else min(best, el)
            cell[eng] = round(best, 2)
        cross[n_pat] = cell
        print(f"  blocklist n={n_pat}: {cell}", file=sys.stderr)
    out["blocklist_engine_crossover"] = cross

    # PQ at production parameters: k=256 codes (Jegou et al.'s setting)
    # makes the nested-literal codebook 16x larger than q143's bench
    # cell — the round-4 Catalyst lesson says PLAN-ANALYSIS time is the
    # risk as literals grow, so measure it separately from execution:
    # t_analysis = force executedPlan() on the ADC scan (analyze +
    # optimize + physical-plan the m x 256 x sub_d literal tree),
    # t_total = fit(1 round) + encode + ADC executed end-to-end.
    from atiesh_spark.operators.similarity import (
        as_double,
        pq_adc_topk,
        pq_encode,
        pq_fit,
    )

    def run_pq256(sf_dir: str) -> dict:
        emb = load_table(spark, sf_dir, "embeddings")
        qv = list(
            emb.filter(emb.vec_id == 0)
            .select(as_double("embedding").alias("v"))
            .first()["v"]
        )
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            cbs = pq_fit(
                emb, num_subspaces=8, codebook_size=256, iterations=1
            )
            enc = pq_encode(emb, cbs).localCheckpoint()
            adc = pq_adc_topk(enc, cbs, qv, k=10)
            ta0 = time.perf_counter()
            adc._jdf.queryExecution().executedPlan()
            t_analysis = time.perf_counter() - ta0
            adc.write.format("noop").mode("overwrite").save()
            el = time.perf_counter() - t0
            if best is None or el < best["total_sec"]:
                best = {
                    "total_sec": round(el, 2),
                    "adc_analysis_sec": round(t_analysis, 2),
                }
        return best

    a, b = run_pq256(BASE), run_pq256(OUT)
    out["pq_ann_k256"] = {
        "sf0.1": a,
        "sf1": b,
        "ratio": round(b["total_sec"] / a["total_sec"], 2),
    }
    print(f"  pq_ann_k256: {a} -> {b}", file=sys.stderr)

    print(json.dumps({"copies": COPIES, "queries": out}))


if __name__ == "__main__":
    main()
