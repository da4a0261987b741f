#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Materialization uses the noop sink (full execution, no driver collect) —
the honest proxy for "write the result somewhere" at scale.

Each query runs TWICE and the faster pass is recorded ("passes": 2 in
the JSON): single-pass timings on a shared box showed 3-5x transient
outliers (co-tenant CPU, JVM GC) on plans that re-measure flat —
best-of-2 rejects that noise while still timing full execution. The
BASELINE.md round-3 table was recorded with the same methodology.

Round 14: variance adjudication is MECHANICAL. The artifact embeds a
q19 canary (best-of-3 at sweep start and end; quiet box < 0.30 s) and
an automatic solo best-of-3 re-measure for every per-cell anchor
breach; `--check-anchors` prints breach -> re-measure -> verdict
(LOAD vs REAL) per cell. See BASELINE.md "Mechanical adjudication".
"""

from __future__ import annotations

import json
import os
import sys
import time

from atiesh_spark.plans import QUERIES
from atiesh_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Two-tier cells (round-6 verdict item 7): the per-round diff should
# concentrate signal in the cells that can actually regress visibly.
# COLD_CELLS = every cell that benched < 0.5 s at sf0.1 in BENCH_r06
# (17 of 47; 4.6 s of the 66 s total) — trivially row-local plans whose
# round-over-round movement has been pure co-tenant noise (r6 verdict:
# "worst movers are all sub-second absolute ... noise band").  They are
# skipped by default and re-recorded with SPARK_GRAFT_BENCH_FULL=1
# (do that whenever one of their operators changes, or quarterly).
# Every heavy family (dedup, ANN/PQ, winnowing, tokenizers, BM25,
# Bradley-Terry, logreg, PCA, streaming replay) keeps >= 1 hot cell.
COLD_CELLS = frozenset({
    "q04_body_split", "q08_route_first_accepted", "q09_batch_assembly",
    "q12_window_tumbling", "q19_topk_orders", "q24_exact_dedup",
    "q29_embedding_topk", "q32_text_stats", "q37_session_window",
    "q135_threshold_sweep", "q139_leakage_safe_split",
    "q144_url_canonicalize", "q146_markup_strip",
    "q148_intra_doc_line_dedup", "q150_dataset_card",
    "q152_sentence_chunks", "q157_pack_offsets",
})

# THE canonical 2x-gate anchor table (round-11 verdict item 6): one
# number per benched cell, machine-parseable, so per-cell ratios come
# from `python bench.py --check-anchors <artifact.json>` instead of
# regexing BASELINE.md prose. Policy: each anchor is the LATEST
# solo/quiet-box recorded value in BASELINE.md for the cell (it
# reflects the cell's CURRENT plan — older recordings of since-improved
# or since-changed plans would leave dead slack in the gate); first
# bench recording where no later quiet re-measurement exists. Sources
# in BASELINE.md: r2 base table, r3 median table, the post-testdata-
# regeneration ts-layout rows (q12/q37/q46/q50 — the old values timed a
# conversion expression the data no longer needs), per-round "late
# additions" tables, and the r9/r10 solo anchor rows. Nine cells whose
# plans improved in past rounds (testdata regen, lambda
# materialization) were re-anchored to r11 quiet-box solo best-of-3
# values (BASELINE.md r11 table) — the old anchors carried 1.5-5x of
# dead slack that would have hidden real regressions.
ANCHORS: dict[str, float] = {
    # original relational/core set (r3 medians; ts cells post-regen)
    "q04_body_split": 0.39, "q08_route_first_accepted": 0.2,
    "q09_batch_assembly": 0.86, "q12_window_tumbling": 0.59,
    "q13_enrich_broadcast": 0.62, "q14_pricing_summary": 0.55,
    "q16_revenue_by_nation": 0.66, "q19_topk_orders": 0.16,
    "q22_window_rank": 0.57, "q24_exact_dedup": 0.28,
    "q26_minhash_lsh": 2.74, "q29_embedding_topk": 0.42,
    "q32_text_stats": 0.39, "q37_session_window": 0.37,
    "q41_dedup_clusters": 5.93, "q42_tfidf_topk": 1.03,
    "q44_percentiles": 0.86, "q46_schema_on_read": 0.63,
    "q50_session_funnel": 0.80, "q51_jaccard_verified_candidates": 6.17,
    "q52_embedding_near_dup_lsh": 3.27, "q55_knn_join": 3.55,
    # r3 late additions
    "q68_line_dedup": 1.06, "q93_window_overlap": 1.57,
    "q94_lm_quality": 2.2,
    # r4 additions
    "q85_global_index": 0.72, "q98_pca_embeddings": 2.07,
    "q107_bm25_topk": 1.22, "q111_nb_classify": 2.62,
    # r5 additions (q117 re-anchored 1.51 -> 1.64 and q82 below
    # 0.73 -> 1.77 in r12: the budget take went range-parallel and the
    # composites materialize their deduped stage — BASELINE.md r12 note)
    "q117_pretrain_pipeline": 1.64, "q135_threshold_sweep": 0.46,
    "q136_drift_report": 0.89, "q139_leakage_safe_split": 0.39,
    "q140_quantile_rollup": 0.84,
    # r6 additions (q163 re-anchored 0.79 -> 0.96 in r10, -> 1.12 in
    # r14 with q164 2.62 -> 3.45: winnow selection went row-local —
    # faster same-session than the window plan (1.12 vs 2.85) and two
    # exchanges lighter, re-anchored to healthy-canary solo best-of-3
    # of the new plan; BASELINE.md r14 note. q164 re-anchored again
    # 3.45 -> 2.18 late in r14: the overlap stage's distinct/sizes
    # exchanges and both size joins went row-local too — solo A/B
    # 3.46 -> 2.00, certified best-of-3 2.18; BASELINE.md r14 note)
    # q144 re-anchored 0.50 -> 1.00 (r13: PSL 490 -> 823 ICANN ccSLDs)
    # -> 1.59 (r14: +83 private-section suffixes, ALL_SUFFIXES_2 = 906;
    # steady solo over 6 passes on a near-quiet box, canary 0.27 — the
    # In-literal walk + compile are constant in data size, vanish at
    # scale; BASELINE.md r14 note)
    "q82_curation_pipeline": 1.77, "q143_ivf_pq_bench": 7.34,
    "q144_url_canonicalize": 1.59, "q146_markup_strip": 0.46,
    "q148_intra_doc_line_dedup": 0.32, "q149_gopher_rules": 1.65,
    "q150_dataset_card": 0.51, "q152_sentence_chunks": 0.35,
    "q163_winnow_fingerprints": 1.12, "q164_winnow_overlap_pairs": 2.18,
    # q166 re-anchored 5.22 -> 2.30 in r11: the MM rounds moved
    # driver-side onto the bounded pair digest (BASELINE.md r11 note)
    "q166_bradley_terry": 2.30, "q167_logreg_quality_gate": 2.36,
    # r8/r9/r10 additions
    "q200_gif_frame_sample": 4.27, "q211_html_extract": 1.53,
    # q216 re-anchored 4.56 -> 3.48 in r14: the clipped-count kernel
    # went row-local (sorted-run walk, no gram shuffle; BASELINE.md
    # r14 note) — canary-certified solo best-of-3 on the new plan
    "q216_corpus_chrf": 3.48, "q235_crawl_pipeline": 2.40,
    # first recorded value is BENCH_full_r10.json (no BASELINE.md row)
    "q157_pack_offsets": 0.32,
}


# Per-cell noise floor (round-11 verdict item 4): a cell only counts
# as a per-cell breach when BOTH hold. Sub-half-second cells move
# +-0.1s on JVM warm-state alone, and anchors tightened to a cell's own
# best-of invite phantom ratio breaches (the r11 q08 case: 0.47s vs a
# 0.20s anchor = 2.35x, solo re-measure 1.38x) — the absolute-excess
# floor makes the checker state the "aggregate is the machine gate,
# per-cell breaches need real seconds behind them" policy instead of
# leaving it to prose.
BREACH_RATIO = 2.0
BREACH_MIN_EXCESS_SEC = 0.5

# Mechanical variance adjudication (round-14 verdict item 4): the
# load-lottery story stops being prose. Every artifact embeds
#   (a) a CANARY — q19 best-of-3 timed at sweep start and end. A quiet
#       box lands 0.16-0.25 s (r13 recordings); >= CANARY_HEALTHY_SEC
#       means host co-tenancy (invisible to container loadavg) was
#       present and per-cell movement is suspect wholesale;
#   (b) for every per-cell breach of the noise-floor policy, an
#       automatic SOLO BEST-OF-3 RE-MEASURE taken after the sweep, with
#       its own loadavg snapshot.
# --check-anchors then prints breach -> re-measure -> verdict per cell
# (load vs REAL) with no human paragraph needed.
CANARY_CELL = "q19_topk_orders"
CANARY_HEALTHY_SEC = 0.30
REMEASURE_PASSES = 3
REMEASURE_MAX_CELLS = 10  # bound the tail under pathological load

# Round 15 (r14 verdict item 6): REACT to an unhealthy start canary
# instead of just recording it. Host co-tenancy is invisible to
# container loadavg and episodic (the r14 sweep started at 1.602 s
# canary and ended healthy at 0.158 s) — sleeping through the episode
# costs minutes; sweeping through it poisons every cell. If the start
# canary reads >= CANARY_HEALTHY_SEC, sleep CANARY_RETRY_SLEEP_SEC and
# re-take it, up to CANARY_MAX_RETRIES times; if it never recovers the
# sweep proceeds anyway (an artifact late is better than none) with
# "canary_unhealthy_start": true stamped in the JSON — ONE flag for
# PERF to read instead of per-cell forensics. Additions only: headline
# computation, cell set and best-of-2 protocol untouched.
CANARY_MAX_RETRIES = 6
CANARY_RETRY_SLEEP_SEC = 60


def check_anchors(artifact_path: str) -> int:
    """Compute per-cell ratio (artifact sec / anchor sec) for every
    anchored cell in a BENCH artifact, print the table plus the
    anchored-sum aggregate, and return nonzero if the AGGREGATE
    breaches the 2x gate. A per-cell BREACH requires ratio >=
    BREACH_RATIO AND >= BREACH_MIN_EXCESS_SEC absolute excess over the
    anchor (noise-floor policy); ratio-only exceedances under the floor
    print as 'noise-band'. Solo re-measurement is the prescribed
    follow-up for breaches — single cells move under co-tenant load;
    see the artifact's loadavg field."""
    with open(artifact_path) as fh:
        record = json.load(fh)
    if "queries" not in record and isinstance(record.get("parsed"), dict):
        record = record["parsed"]  # driver-wrapped BENCH_r{N}.json
    queries = record.get("queries", {})
    remeasures = record.get("remeasures", {})
    canary = record.get("canary")
    rows, missing = [], []
    for name, sec in sorted(queries.items()):
        if name in ANCHORS:
            rows.append((name, sec, ANCHORS[name], sec / ANCHORS[name]))
        else:
            missing.append(name)
    breaches = real = unadjudicated = 0
    for name, sec, anchor, ratio in sorted(rows, key=lambda r: -r[3]):
        flag = ""
        if ratio >= BREACH_RATIO:
            if sec - anchor >= BREACH_MIN_EXCESS_SEC:
                breaches += 1
                rm = remeasures.get(name)
                if rm is None:
                    unadjudicated += 1
                    flag = (" <-- BREACH, UNADJUDICATED (no re-measure"
                            " embedded in this artifact)")
                else:
                    r2 = rm["best3"] / anchor
                    excess2 = rm["best3"] - anchor
                    if r2 < BREACH_RATIO or excess2 < BREACH_MIN_EXCESS_SEC:
                        flag = (f" <-- breach, re-measure best3 "
                                f"{rm['best3']:.3f}s = {r2:.2f}x"
                                f" -> verdict: LOAD")
                    else:
                        real += 1
                        flag = (f" <-- BREACH, re-measure best3 "
                                f"{rm['best3']:.3f}s = {r2:.2f}x"
                                f" -> verdict: REAL")
            else:
                flag = " (noise-band: >=2x but under the 0.5s excess floor)"
        print(f"  {name}: {sec:.3f}s / {anchor:.2f}s = {ratio:.2f}x{flag}")
    got = sum(r[1] for r in rows)
    want = sum(r[2] for r in rows)
    agg = got / want if want else float("nan")
    print(f"anchored cells: {len(rows)}; unanchored: {missing or 'none'}")
    print(f"per-cell breaches (policy: >={BREACH_RATIO}x AND "
          f">={BREACH_MIN_EXCESS_SEC}s excess): {breaches} "
          f"(REAL after re-measure: {real}; load: "
          f"{breaches - real - unadjudicated}; unadjudicated: "
          f"{unadjudicated})")
    if canary:
        s, e = canary.get("start_best3"), canary.get("end_best3")
        hmax = canary.get("healthy_max", CANARY_HEALTHY_SEC)
        verdicts = []
        for label, v in (("start", s), ("end", e)):
            if v is None:
                verdicts.append(f"{label}: n/a")
            else:
                verdicts.append(
                    f"{label}: {v:.3f}s "
                    f"{'healthy' if v < hmax else 'LOADED'}"
                )
        print(f"canary {canary.get('cell')} (healthy < {hmax}s): "
              + "; ".join(verdicts))
        if record.get("canary_unhealthy_start"):
            print("canary_unhealthy_start: true — the sweep began under "
                  f"host co-tenancy that {canary.get('start_retries', 0)} "
                  "bounded retries could not wait out; per-cell movement "
                  "in this artifact is suspect wholesale")
    print(f"aggregate: {got:.1f}s / {want:.1f}s anchored = {agg:.2f}x"
          f" ({'FAIL' if agg >= 2.0 else 'pass'}; the aggregate is the"
          " machine gate)")
    if record.get("loadavg") is not None:
        print(f"artifact loadavg: {record['loadavg']} "
              f"cpus: {record.get('cpus')}")
    return 1 if agg >= 2.0 else 0


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _best_of(spark, name: str, passes: int) -> float:
    best = None
    for _ in range(passes):
        t0 = time.perf_counter()
        materialize(QUERIES[name].spark(spark, SF_DIR))
        elapsed = time.perf_counter() - t0
        best = elapsed if best is None else min(best, elapsed)
    return round(best, 3)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--check-anchors":
        default = sorted(
            p for p in os.listdir(".")
            if p.startswith("BENCH_r") and p.endswith(".json")
        )
        path = sys.argv[2] if len(sys.argv) > 2 else default[-1]
        print(f"checking {path} against bench.ANCHORS")
        sys.exit(check_anchors(path))

    load_start = os.getloadavg()
    spark = get_spark(app_name="atiesh-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    full = os.environ.get("SPARK_GRAFT_BENCH_FULL") == "1"
    names = [
        n for n, s in QUERIES.items()
        if s.headline and (full or n not in COLD_CELLS)
    ]

    # JVM/codegen warmup on the smallest table so q1 isn't charged for
    # it — then the START CANARY: q19 best-of-3 certifies the box state
    # the sweep begins under (quiet ~0.16-0.25s; host co-tenancy that
    # container loadavg can't see shows up here first).
    materialize(QUERIES[CANARY_CELL].spark(spark, SF_DIR))
    canary_start = _best_of(spark, CANARY_CELL, 3)
    canary_retries = 0
    while canary_start >= CANARY_HEALTHY_SEC and canary_retries < CANARY_MAX_RETRIES:
        canary_retries += 1
        print(
            f"  start canary {canary_start}s >= {CANARY_HEALTHY_SEC}s "
            f"(host co-tenancy); sleeping {CANARY_RETRY_SLEEP_SEC}s "
            f"(retry {canary_retries}/{CANARY_MAX_RETRIES})",
            file=sys.stderr,
        )
        time.sleep(CANARY_RETRY_SLEEP_SEC)
        canary_start = _best_of(spark, CANARY_CELL, 3)
    canary_unhealthy_start = canary_start >= CANARY_HEALTHY_SEC

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            try:
                materialize(QUERIES[name].spark(spark, SF_DIR))
            except Exception as exc:  # isolate: one broken query must not
                errors[name] = repr(exc)  # void the whole bench record
                print(f"  {name}: ERROR {exc!r}", file=sys.stderr)
                best = None
                break
            elapsed = time.perf_counter() - t0
            best = elapsed if best is None else min(best, elapsed)
        if best is None:
            continue
        timings[name] = round(best, 3)
        print(f"  {name}: {timings[name]}s", file=sys.stderr)

    # Automatic breach re-measure (mechanical adjudication): every cell
    # whose sweep timing breaches the noise-floor policy gets a solo
    # best-of-3 taken NOW, after the sweep, with its own loadavg — so
    # --check-anchors can print breach -> re-measure -> verdict without
    # a human paragraph. The worst offenders go first in case the
    # REMEASURE_MAX_CELLS bound bites.
    breached = sorted(
        (n for n, sec in timings.items()
         if n in ANCHORS
         and sec / ANCHORS[n] >= BREACH_RATIO
         and sec - ANCHORS[n] >= BREACH_MIN_EXCESS_SEC),
        key=lambda n: -(timings[n] / ANCHORS[n]),
    )
    remeasures: dict[str, dict] = {}
    for name in breached[:REMEASURE_MAX_CELLS]:
        try:
            best3 = _best_of(spark, name, REMEASURE_PASSES)
        except Exception as exc:
            errors[f"remeasure:{name}"] = repr(exc)
            continue
        remeasures[name] = {
            "best3": best3,
            "loadavg1m": round(os.getloadavg()[0], 2),
        }
        print(f"  remeasure {name}: {best3}s "
              f"(sweep {timings[name]}s)", file=sys.stderr)

    # END CANARY: certifies the box state the run closed under (and the
    # state the re-measures ran under).
    canary_end = _best_of(spark, CANARY_CELL, 3)

    total = round(sum(timings.values()), 3)
    record = {
        "metric": "headline_queries_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "passes": 2,
        # co-tenant-load provenance (round-11 verdict item 3b): a
        # polluted artifact is distinguishable from a regression
        # without archaeology. loadavg = [start 1m, end 1m, end 5m].
        "loadavg": [round(load_start[0], 2),
                    round(os.getloadavg()[0], 2),
                    round(os.getloadavg()[1], 2)],
        "cpus": len(os.sched_getaffinity(0)),
        "canary": {
            "cell": CANARY_CELL,
            "start_best3": canary_start,
            "end_best3": canary_end,
            "healthy_max": CANARY_HEALTHY_SEC,
        },
    }
    if canary_retries:
        record["canary"]["start_retries"] = canary_retries
    if canary_unhealthy_start:
        record["canary_unhealthy_start"] = True
    if remeasures:
        record["remeasures"] = remeasures
        if len(breached) > REMEASURE_MAX_CELLS:
            record["remeasures_capped"] = len(breached) - REMEASURE_MAX_CELLS
    if not full:
        skipped = sorted(
            n for n, s in QUERIES.items() if s.headline and n in COLD_CELLS
        )
        if skipped:
            record["cold_cells_skipped"] = skipped
    if errors:
        record["errors"] = errors
    print(json.dumps(record))


if __name__ == "__main__":
    main()
