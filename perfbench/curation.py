"""``curation_batch``: registry queries over seeded tables, checked
against each query's own DuckDB oracle.

After a warm pass over a second, differently seeded copy of the tables
(so no result or listing cache can serve the timed pass), each query
runs in a fixed order: the call to ``QUERIES[name].spark`` is timed as
*build* (it may run eager jobs) and ``collect()`` as *execute*. Passes
repeat until ``--seconds`` of query time have been measured; a query's
time is the median over passes.

The queries and the layer each one stands for:

* ``q16_revenue_by_nation``: relational star join (``plans``)
* ``q50_session_funnel``: windowed aggregation (``plans``)
* ``q55_knn_join``: ``operators.similarity``
* ``q107_bm25_topk``: ``operators.retrieval``
* ``q149_gopher_rules``: ``operators.textstats``
* ``q117_pretrain_pipeline``: ``operators.curation`` and
  ``functions.text`` (shared with the ``normalize`` interceptor)
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import statistics
import time

import datagen
from harness import Run

QUERY_NAMES = (
    "q16_revenue_by_nation",
    "q50_session_funnel",
    "q55_knn_join",
    "q107_bm25_topk",
    "q149_gopher_rules",
    "q117_pretrain_pipeline",
)
TABLES = ("region", "nation", "customer", "orders", "events", "documents", "embeddings")
WARM_SEED_OFFSET = 1_000_003


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return sorted((str(k), _canon(x)) for k, x in v.items())
    return v


def digest(columns: list[str], rows: list) -> str:
    """Order-insensitive digest: columns by name, rows sorted, values
    canonicalised the way the registry's oracle-parity tests do."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_digests(table_dir: str, names=QUERY_NAMES) -> dict[str, str]:
    import duckdb

    from atiesh_spark.plans.registry import QUERIES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
        out = {}
        for name in names:
            rel = con.sql(QUERIES[name].oracle)
            out[name] = digest(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()


def run_query(run: Run, name: str, table_dir: str) -> tuple[float, float, str]:
    from atiesh_spark.plans.registry import QUERIES

    t0 = time.perf_counter()
    with run.tracer.span(f"{name}.build"):
        df = QUERIES[name].spark(run.spark, table_dir)
    t1 = time.perf_counter()
    with run.tracer.span(f"{name}.exec"):
        rows = df.collect()
    t2 = time.perf_counter()
    return t1 - t0, t2 - t1, digest(df.columns, rows)


def job_counts(run: Run, group: str) -> tuple[int, int, int]:
    tracker = run.spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            st = tracker.getStageInfo(sid)
            tasks += st.numTasks if st is not None else 0
    return len(jobs), stages, tasks


def curation_batch(run: Run) -> dict:
    scale = 0.2 if run.tiny else 1.0
    tables = str(run.work / "tables")
    warm_tables = str(run.work / "warm_tables")
    datagen.write_tables(run.seed, tables, scale)
    datagen.write_tables(run.seed + WARM_SEED_OFFSET, warm_tables, scale)
    expected = oracle_digests(tables)

    t_setup = time.perf_counter()
    run.start_session()
    w0 = time.perf_counter()
    with run.tracer.span("session.warmup"):
        for name in QUERY_NAMES:
            run_query(run, name, warm_tables)
    run.layer["session.warmup_s"] = time.perf_counter() - w0
    setup_s = time.perf_counter() - t_setup

    sc = run.spark.sparkContext
    times: dict[str, list[tuple[float, float]]] = {n: [] for n in QUERY_NAMES}
    wrong: set[str] = set()
    attempted = failed = 0
    measured = 0.0
    passes = 0
    while passes == 0 or measured < run.seconds:
        passes += 1
        for name in QUERY_NAMES:
            if run.trace:
                sc.setJobGroup(f"perfbench-{name}-{passes}", name)
            with run.tracer.span("curation.query", query=name, pass_no=passes):
                build_s, exec_s, got = run_query(run, name, tables)
            if run.trace:
                sc.setLocalProperty("spark.jobGroup.id", None)
            attempted += 1
            measured += build_s + exec_s
            times[name].append((build_s, exec_s))
            if got != expected[name]:
                failed += 1
                wrong.add(name)
        if run.tiny:
            break

    per_query = []
    for name in QUERY_NAMES:
        build = statistics.median(b for b, _ in times[name])
        exe = statistics.median(e for _, e in times[name])
        per_query.append(build + exe)
        run.layer[f"{name}.build_s"] = build
        run.layer[f"{name}.exec_s"] = exe
        if run.trace:
            jobs, stages, tasks = job_counts(run, f"perfbench-{name}-1")
            run.layer[f"{name}.jobs"] = jobs
            run.layer[f"{name}.stages"] = stages
            run.layer[f"{name}.tasks"] = tasks
    per_query_ms = [t * 1e3 for t in per_query]
    run.notes["curation"] = {"passes": passes, "times": times, "wrong": sorted(wrong)}
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "setup_s": setup_s,
            "throughput_per_s": len(QUERY_NAMES) / sum(per_query),
            # over the per-query medians: six values, so the "p99" is the
            # slowest query; no percentile above the median has ten samples
            "latency_p50_ms": statistics.median(per_query_ms),
            "latency_p99_ms": max(per_query_ms),
        },
        "samples": passes * len(QUERY_NAMES),
    }
