"""``ingest_drain`` and ``ingest_live``: one Source -> Interceptor -> Sink
pipeline spec, driven through ``atiesh_spark.pipeline.Pipeline``.

dirwatch -> filter (drops ``error``) -> normalize -> transform (adds a
``kind`` header) -> first-accepted routing: click/view/purchase to an
``http`` sink (the load process's collector, batches of 500, gzip), the
rest to a ``parquet`` sink.

* ``ingest_drain`` writes a seeded backlog before timing and drains it
  under ``availableNow`` in five large micro-batches, so per-row cost
  weighs most: the catch-up capacity after an outage.
* ``ingest_live`` runs the same spec with ``processingTime: 0`` while the
  load process drops a 1,250-line file every 250 ms (5,000 events/s), so
  each micro-batch is small and its fixed cost sets the latency.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import statistics
import sys
import time

import datagen
from harness import LoadProcessHandle, Run, percentile

HTTP_PATH = "/main"
WARM_PATH = "/warm"
WARM_FIRST_ID = 10**9


class Sizing:
    """Input sizes. The drain backlog is 12.5k events per second of
    ``--seconds`` (a quiet 4-core box drains it in about that time); the live
    run offers 5,000 events/s for ``--seconds`` after a discarded warm
    period."""

    def __init__(self, run: Run) -> None:
        s = run.seconds
        if run.tiny:
            self.drain_events, self.drain_files, self.drain_batches = 6_000, 6, 2
            self.live_lines, self.live_warm_s = 100, 3.0
        else:
            self.drain_events = int(12_500 * s)
            # 5 batches, so the median delivery falls inside batch 3 and
            # not on a batch boundary, where it would jump a whole batch
            # between seeds; 8 files (tasks) a batch = 2 waves on 4 cores
            self.drain_files, self.drain_batches = 40, 5
            self.live_lines, self.live_warm_s = 1_250, 2.0
        self.warm_events = 1_000
        self.live_interval = 0.25


def pipeline_spec(in_dir: str, out_dir: str, checkpoint: str, url: str,
                  trigger: dict, max_files: int | None) -> dict:
    source = {"type": "dirwatch", "path": in_dir}
    if max_files is not None:
        source["max_files_per_trigger"] = max_files
    return {
        "sources": {"events": source},
        "interceptors": {
            "drop_errors": {
                "type": "filter",
                "predicate": "get_json_object(value, '$.type') <> 'error'",
            },
            "normalize": {"type": "normalize"},
            "kind": {
                "type": "transform",
                "exprs": {
                    "headers": "map_concat(headers, "
                    "map('kind', get_json_object(value, '$.type')))"
                },
            },
        },
        "sinks": {
            "http": {
                "type": "http", "url": url, "batch_size": 500, "gzip": True,
                "accept": "get_json_object(value, '$.type') IN ('click', 'view', 'purchase')",
            },
            "parquet": {"type": "parquet", "path": out_dir},
        },
        "pipelines": [{
            "name": "perfbench",
            "source": "events",
            "interceptors": ["drop_errors", "normalize", "kind"],
            "sinks": ["http", "parquet"],
            "trigger": trigger,
            "checkpoint": checkpoint,
        }],
    }


def install_writer_spans(run: Run):
    """Traced run only: wrap ``atiesh_spark.pipeline.build_sink_writer``
    so every writer call records a span tagged with its batch id.
    Returns a function that restores the original."""
    import atiesh_spark.pipeline as pipeline_mod

    original = pipeline_mod.build_sink_writer

    def traced_build(cfg):
        writer = original(cfg)
        name = f"sinks.{cfg['type']}.writer"

        def traced(batch_df, batch_id):
            t0 = time.time()
            try:
                writer(batch_df, batch_id)
            finally:
                run.tracer.add(name, t0, time.time(), batch=batch_id)

        return traced

    pipeline_mod.build_sink_writer = traced_build
    return lambda: setattr(pipeline_mod, "build_sink_writer", original)


def start_pipeline(run: Run, spec: dict):
    from atiesh_spark.pipeline import Pipeline

    pipe = Pipeline(run.spark, spec)
    (query,) = pipe.start()
    return pipe, query


def warm_up(run: Run, size: Sizing, load: LoadProcessHandle) -> None:
    """A one-batch drain through the full spec: starts the Python
    workers, compiles the plans and opens the sink paths before anything
    is timed (the first batch of a fresh session takes 10-15 s; later
    ones about 1 s)."""
    warm = run.work / "warm"
    batch = datagen.make_events(run.seed, WARM_FIRST_ID, size.warm_events)
    datagen.write_backlog(batch, str(warm / "in"), 1, run.seed)
    spec = pipeline_spec(str(warm / "in"), str(warm / "out"), str(warm / "ckpt"),
                         load.url(WARM_PATH), {"availableNow": True}, 1)
    _, query = start_pipeline(run, spec)
    query.awaitTermination()
    if query.exception() is not None:
        raise RuntimeError(f"warm-up pipeline failed: {query.exception()}")


# --- output checks ------------------------------------------------------------


def account(expected: dict[int, tuple[str | None, str]], requests: list,
            out_dir: str, types: dict[int, str]) -> dict:
    """Per-id accounting of what reached each sink.

    Every event whose type routes somewhere must arrive exactly once, at
    the right sink, normalized, and (parquet) with its ``kind`` header;
    ``error`` events must arrive nowhere. Returns counts and the receipt
    time of every http delivery.
    """
    import pyarrow.parquet as pq

    seen: dict[int, int] = {}
    lost = misrouted = duplicates = 0
    receipts: dict[int, float] = {}
    http_rows = http_requests = http_bytes = 0
    for t, path, wire_bytes, text in requests:
        if path != HTTP_PATH:
            continue
        http_requests += 1
        http_bytes += wire_bytes
        for line in text.split("\n"):
            http_rows += 1
            eid = datagen.parse_id(line)
            want = expected.get(eid)
            if want is None or want[0] != "http" or want[1] != line:
                misrouted += 1
                continue
            seen[eid] = seen.get(eid, 0) + 1
            receipts.setdefault(eid, t)

    parquet_files = parquet_bytes = 0
    if os.path.isdir(out_dir):
        files = [os.path.join(out_dir, f) for f in os.listdir(out_dir)
                 if f.endswith(".parquet")]
        parquet_files = len(files)
        parquet_bytes = sum(os.path.getsize(f) for f in files)
        if files:
            table = pq.read_table(files, columns=["value", "headers"])
            for line, headers in zip(table.column("value").to_pylist(),
                                     table.column("headers").to_pylist()):
                eid = datagen.parse_id(line)
                want = expected.get(eid)
                if (want is None or want[0] != "parquet" or want[1] != line
                        or dict(headers).get("kind") != types.get(eid)):
                    misrouted += 1
                    continue
                seen[eid] = seen.get(eid, 0) + 1

    delivered = 0
    for eid, (sink, _) in expected.items():
        n = seen.get(eid, 0)
        if sink is None:
            continue
        if n == 0:
            lost += 1
        else:
            delivered += 1
            duplicates += n - 1
    return {
        "delivered": delivered, "lost": lost, "misrouted": misrouted,
        "duplicates": duplicates, "receipts": receipts,
        "http_requests": http_requests, "http_bytes": http_bytes, "http_rows": http_rows,
        "parquet_files": parquet_files, "parquet_bytes": parquet_bytes,
        "routed": sum(1 for s, _ in expected.values() if s is not None),
    }


# --- per-batch progress -------------------------------------------------------


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def progress_records(query) -> list[dict]:
    """Progress of every micro-batch that read rows."""
    records = [json.loads(p.json) if hasattr(p, "json") else p
               for p in query.recentProgress]
    return [r for r in records if r.get("numInputRows", 0) > 0]


def progress_layers(run: Run, query, first_job: int | None, last_job: int | None) -> None:
    """Per-layer metrics from ``StreamingQueryProgress`` records, and
    per-batch spans laid out in MicroBatchExecution's phase order."""
    records = progress_records(query)
    run.notes["progress"] = records
    if not records:
        return
    d = lambda key: [float(r["durationMs"].get(key, 0)) for r in records]  # noqa: E731
    trig = d("triggerExecution")
    rows = [float(r["numInputRows"]) for r in records]
    layer = run.layer
    # the small phases are whole milliseconds: report them as means over
    # the batches, summed by layer, so two runs rarely read the same
    layer["sources.offset_ms"] = statistics.mean(
        a + b for a, b in zip(d("latestOffset"), d("getBatch")))
    layer["sources.rows_in"] = sum(rows)
    layer["sources.rows_per_batch"] = statistics.mean(rows)
    layer["pipeline.batches"] = len(records)
    layer["pipeline.trigger_ms_p50"] = statistics.median(trig)
    layer["pipeline.trigger_ms_p90"] = percentile(trig, 90)
    layer["pipeline.planning_commit_ms"] = statistics.mean(
        a + b + c for a, b, c in zip(d("queryPlanning"), d("walCommit"), d("commitOffsets")))
    layer["pipeline.add_batch_ms"] = statistics.mean(d("addBatch"))
    if first_job is not None and last_job is not None:
        layer["pipeline.jobs_per_batch"] = (last_job - first_job) / len(records)

    tracer = run.tracer
    if not tracer.enabled:
        return
    writer_spans: dict[int, list[int]] = {}
    for i, s in enumerate(tracer.spans):
        if s.name.startswith("sinks.") and "batch" in s.attrs:
            writer_spans.setdefault(s.attrs["batch"], []).append(i)
    route_self = []
    for r in records:
        start = _epoch(r["timestamp"])
        dur = r["durationMs"]
        trig_idx = tracer.add("pipeline.trigger", start,
                              start + dur["triggerExecution"] / 1e3, batch=r["batchId"])
        cursor = start
        for key, name in (("latestOffset", "sources.latest_offset"),
                          ("walCommit", "pipeline.wal_commit"),
                          ("getBatch", "sources.get_batch"),
                          ("queryPlanning", "pipeline.query_planning"),
                          ("addBatch", "pipeline.add_batch"),
                          ("commitOffsets", "pipeline.commit_offsets")):
            ms = dur.get(key, 0)
            idx = tracer.add(name, cursor, cursor + ms / 1e3, trig_idx, batch=r["batchId"])
            if key == "addBatch":
                # the writers ran inside addBatch: re-parent them and
                # align the estimated window on their measured one
                kids = writer_spans.get(r["batchId"], [])
                for k in kids:
                    tracer.spans[k].parent = idx
                if kids:
                    w_end = max(tracer.spans[k].end for k in kids)
                    tracer.spans[idx].start = w_end - ms / 1e3
                    tracer.spans[idx].end = w_end
                    cursor = w_end
                    continue
            cursor += ms / 1e3
    selfs = tracer.self_times()
    for i, s in enumerate(tracer.spans):
        if s.name == "pipeline.add_batch":
            route_self.append(selfs[i] * 1e3)
    if route_self:
        layer["pipeline.route_self_ms"] = statistics.median(route_self)
    for sink in ("http", "parquet"):
        spans = [s for s in tracer.spans if s.name == f"sinks.{sink}.writer"
                 and s.attrs.get("batch") in {r["batchId"] for r in records}]
        if spans:
            layer[f"sinks.{sink}.writer_ms"] = statistics.median(
                [(s.end - s.start) * 1e3 for s in spans])


def sink_layers(run: Run, acc: dict, rows_in: float | None) -> None:
    layer = run.layer
    layer["sinks.http.requests"] = acc["http_requests"]
    layer["sinks.http.bytes"] = acc["http_bytes"]
    layer["sinks.http.rows_per_request"] = acc["http_rows"] / max(1, acc["http_requests"])
    layer["sinks.http.duplicates"] = acc["duplicates"]
    layer["sinks.parquet.files"] = acc["parquet_files"]
    layer["sinks.parquet.bytes"] = acc["parquet_bytes"]
    if rows_in:
        layer["interceptors.selectivity"] = (acc["delivered"] + acc["duplicates"]) / rows_in


# --- workloads ------------------------------------------------------------------


def _setup(run: Run, size: Sizing, load: LoadProcessHandle) -> float:
    t0 = time.perf_counter()
    run.start_session()
    w0 = time.perf_counter()
    with run.tracer.span("session.warmup"):
        warm_up(run, size, load)
    run.layer["session.warmup_s"] = time.perf_counter() - w0
    return time.perf_counter() - t0


def _result(run: Run, acc: dict, expected: dict, setup_s: float, wall_s: float,
            latencies_ms: list[float], query, first_job, last_job,
            extra_failed: int = 0) -> dict:
    run.notes["accounting"] = {k: v for k, v in acc.items() if k != "receipts"}
    p50 = statistics.median(latencies_ms) if latencies_ms else None
    progress_layers(run, query, first_job, last_job)
    sink_layers(run, acc, run.layer.get("sources.rows_in"))
    return {
        "attempted": len(expected),
        "failed": acc["lost"] + acc["misrouted"] + acc["duplicates"] + extra_failed,
        "metrics": {
            "setup_s": setup_s,
            "throughput_per_s": acc["delivered"] / wall_s,
            "latency_p50_ms": p50,
            "latency_p99_ms": percentile(latencies_ms, 99) if latencies_ms else None,
        },
        "samples": len(latencies_ms),
    }


def ingest_drain(run: Run) -> dict:
    size = Sizing(run)
    batch = datagen.make_events(run.seed, 0, size.drain_events)
    expected = batch.expected()
    types = {int(i): t for i, t in zip(batch.ids, batch.types)}
    d = run.work / "drain"
    datagen.write_backlog(batch, str(d / "in"), size.drain_files, run.seed)
    max_files = math.ceil(size.drain_files / size.drain_batches)

    load = LoadProcessHandle(run.work / "collector.json")
    run.rss.exclude.add(load.proc.pid)
    try:
        setup_s = _setup(run, size, load)
        spec = pipeline_spec(str(d / "in"), str(d / "out"), str(d / "ckpt"),
                             load.url(HTTP_PATH), {"availableNow": True}, max_files)
        restore = install_writer_spans(run) if run.trace else None
        first_job = run.next_job_id() if run.trace else None
        try:
            started_at = time.time()
            t0 = time.perf_counter()
            with run.tracer.span("pipeline.query", workload="ingest_drain"):
                _, query = start_pipeline(run, spec)
                query.awaitTermination()
            wall_s = time.perf_counter() - t0
        finally:
            if restore:
                restore()
        if query.exception() is not None:
            raise RuntimeError(f"drain pipeline failed: {query.exception()}")
        last_job = run.next_job_id() if run.trace else None
        acc = account(expected, load.finish()["requests"], str(d / "out"), types)
        # drain latency: from the start of the drain to each delivery
        latencies = [(t - started_at) * 1e3 for t in acc["receipts"].values()]
        run.notes["drain_wall_s"] = wall_s
        return _result(run, acc, expected, setup_s, wall_s, latencies, query,
                       first_job, last_job)
    finally:
        load.close()


def ingest_live(run: Run) -> dict:
    size = Sizing(run)
    d = run.work / "live"
    (d / "in").mkdir(parents=True)
    load = LoadProcessHandle(run.work / "collector.json")
    run.rss.exclude.add(load.proc.pid)
    try:
        setup_s = _setup(run, size, load)
        spec = pipeline_spec(str(d / "in"), str(d / "out"), str(d / "ckpt"),
                             load.url(HTTP_PATH), {"processingTime": "0 seconds"}, None)
        restore = install_writer_spans(run) if run.trace else None
        first_job = run.next_job_id() if run.trace else None
        n_files = int(round((size.live_warm_s + run.seconds) / size.live_interval))
        try:
            with run.tracer.span("pipeline.query", workload="ingest_live"):
                pipe, query = start_pipeline(run, spec)
                t0 = time.time() + 0.5
                load.control("/control/drops", {
                    "t0": t0, "interval": size.live_interval, "n_files": n_files,
                    "lines_per_file": size.live_lines, "first_id": 0, "seed": run.seed,
                    "drop_dir": str(d / "in"), "staging_dir": str(d / "staging"),
                })
                end = t0 + n_files * size.live_interval
                time.sleep(max(0.0, end - time.time()) + 0.2)
                tail0 = time.perf_counter()
                query.processAllAvailable()
                tail_s = time.perf_counter() - tail0
                pipe.stop()
        finally:
            if restore:
                restore()
        if query.exception() is not None:
            raise RuntimeError(f"live pipeline failed: {query.exception()}")
        last_job = run.next_job_id() if run.trace else None

        # expected events: regenerate every dropped file from its stamp
        dump = load.finish()
        pool = datagen.pad_pool(run.seed)
        expected, types, stamps = {}, {}, {}
        for k, stamp_us, _ in dump["drops"]:
            b = datagen.make_events(run.seed, k * size.live_lines, size.live_lines,
                                    stamp_us, pool)
            expected.update(b.expected())
            for i, t in zip(b.ids, b.types):
                types[int(i)] = t
                stamps[int(i)] = stamp_us / 1e6
        lateness = [(renamed - stamp_us / 1e6) * 1e3 for _, stamp_us, renamed in dump["drops"]]
        run.layer["load.lateness_p50_ms"] = statistics.median(lateness)
        run.layer["load.lateness_max_ms"] = max(lateness)
        run.layer["pipeline.tail_s"] = tail_s
        run.notes["live"] = {"tail_s": tail_s, "files": len(dump["drops"])}
        acc = account(expected, dump["requests"], str(d / "out"), types)
        measured_from = t0 + size.live_warm_s
        latencies = [(t - stamps[eid]) * 1e3 for eid, t in acc["receipts"].items()
                     if stamps[eid] >= measured_from]
        rows = [r["numInputRows"] for r in progress_records(query)
                if _epoch(r["timestamp"]) >= measured_from]
        third = len(rows) // 3
        growth = (statistics.mean(rows[-third:]) / statistics.mean(rows[:third])
                  if third >= 2 else 1.0)
        run.layer["sources.rows_per_batch_growth"] = growth
        trig_s = statistics.median(
            r["durationMs"]["triggerExecution"] for r in progress_records(query)) / 1e3
        # a backlog that outgrows the pipeline shows as events still
        # undelivered at the end, a tail that takes more than a few
        # batches to drain, or batches that keep growing; its latency is
        # no steady-state figure, so the run fails instead of reporting it
        unsustainable = tail_s > max(5.0, 3 * trig_s) or acc["lost"] > 0 or growth > 1.5
        if unsustainable:
            print(f"perfbench: unsustainable rate (tail {tail_s:.1f} s, "
                  f"{acc['lost']} undelivered, rows/batch growth {growth:.2f})",
                  file=sys.stderr)
        wall_s = max(acc["receipts"].values(), default=t0 + 1.0) - t0
        out = _result(run, acc, expected, setup_s, wall_s, latencies, query,
                      first_job, last_job, int(unsustainable))
        if out["metrics"]["latency_p50_ms"] is not None:
            # how long an event waits for its batch to start
            run.layer["pipeline.wait_ms_p50"] = (
                out["metrics"]["latency_p50_ms"] - run.layer["pipeline.trigger_ms_p50"])
        return out
    finally:
        load.close()
