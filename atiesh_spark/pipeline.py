"""Pipeline assembly: spec dict -> running Structured Streaming queries.

The reference boots from a HOCON config: named sources/interceptors/sinks
are instantiated reflectively, name references are resolved into edges,
and components start in a fixed order (AtieshServer.scala:116-164,
Source.scala:59-121). Here the spec is a plain dict, "assembly" is
logical-plan construction, Catalyst analysis replaces name-wiring
validation of column refs, and query.start() replaces Open/Ready.
A component's options are its builder's keyword arguments, so
``Pipeline(...)`` rejects an unknown type, option or pipeline key
before any query starts.

Routing uses the reference's `first-accepted` strategy: each event goes
to the FIRST sink in the pipeline's list whose accept predicate holds;
events nothing accepts are discarded (Source.scala:46-56,339-365), and
the predicate is skipped entirely for single-sink pipelines
(`skip-accept-check-on-single`, Source.scala:48-50).

Delivery: each micro-batch's foreachBatch returns only after every sink
writer finished — the per-cycle Commit/Transaction barrier
(Source.scala:408-447) collapsed into the batch boundary; with
checkpointing this gives at-least-once into external sinks.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from atiesh_spark.config import bind_component
from atiesh_spark.operators.routing import route_first_accepted
from atiesh_spark.streaming.interceptors import INTERCEPTOR_BUILDERS, build_interceptor_chain
from atiesh_spark.streaming.sinks import SINK_BUILDERS, build_sink_writer
from atiesh_spark.streaming.sources import SOURCE_BUILDERS, build_source


#: every key a pipeline entry may carry
PIPELINE_KEYS = (
    "name", "source", "interceptors", "sinks",
    "trigger", "checkpoint", "skip_accept_check_on_single",
)


def _validate(spec: dict[str, Any]) -> None:
    sections = {
        "source": (spec.get("sources", {}), SOURCE_BUILDERS),
        "interceptor": (spec.get("interceptors", {}), INTERCEPTOR_BUILDERS),
        "sink": (spec.get("sinks", {}), SINK_BUILDERS),
    }
    for section, (components, registry) in sections.items():
        for name, cfg in components.items():
            try:
                bind_component(section, registry, cfg)
            except ValueError as exc:
                raise ValueError(f"{section} {name!r}: {exc}") from None
    pipelines = spec.get("pipelines", [])
    if not pipelines:
        raise ValueError("spec has no pipelines")
    for i, p in enumerate(pipelines):
        unknown = sorted(set(p) - set(PIPELINE_KEYS))
        if unknown:
            raise ValueError(
                f"pipeline[{i}]: unknown key {unknown[0]!r}; known: {list(PIPELINE_KEYS)}"
            )
        if not p.get("sinks"):
            raise ValueError(f"pipeline[{i}]: needs at least one sink")
        refs = {
            "source": [p.get("source")],
            "interceptor": p.get("interceptors", []),
            "sink": p["sinks"],
        }
        for section, names in refs.items():
            known = sections[section][0]
            for n in names:
                if n not in known:
                    raise ValueError(
                        f"pipeline[{i}]: unknown {section} {n!r}; known: {sorted(known)}"
                    )


class Pipeline:
    """Assembled but not-yet-started pipeline set."""

    def __init__(self, spark: SparkSession, spec: dict[str, Any]) -> None:
        _validate(spec)
        self.spark = spark
        self.spec = spec
        self._queries: list[StreamingQuery] = []

    def _batch_fn(self, pipe: dict[str, Any]):
        sink_cfgs = self.spec["sinks"]
        snames = pipe["sinks"]
        writers = {n: build_sink_writer(sink_cfgs[n]) for n in snames}
        skip_single = pipe.get("skip_accept_check_on_single", True)

        if len(snames) == 1 and skip_single:
            only = writers[snames[0]]

            def single(batch_df: DataFrame, batch_id: int) -> None:
                only(batch_df, batch_id)

            return single

        rules = [
            (n, F.expr(sink_cfgs[n].get("accept", "true"))) for n in snames
        ]

        def fanout(batch_df: DataFrame, batch_id: int) -> None:
            routed = route_first_accepted(batch_df, rules).persist()
            try:
                for n in snames:
                    writers[n](
                        routed.filter(F.col("route") == n).drop("route"), batch_id
                    )
            finally:
                routed.unpersist()

        return fanout

    def start(self) -> list[StreamingQuery]:
        for i, pipe in enumerate(self.spec["pipelines"]):
            df = build_source(self.spark, self.spec["sources"][pipe["source"]])
            chain = [self.spec["interceptors"][n] for n in pipe.get("interceptors", [])]
            df = build_interceptor_chain(df, chain)

            writer = df.writeStream.foreachBatch(self._batch_fn(pipe))
            trigger = pipe.get("trigger", {"availableNow": True})
            writer = writer.trigger(**trigger)
            if "checkpoint" in pipe:
                writer = writer.option("checkpointLocation", pipe["checkpoint"])
            name = pipe.get("name", f"atiesh-pipeline-{i}")
            self._queries.append(writer.queryName(name).start())
        return self._queries

    def await_all(self, timeout: float | None = None) -> None:
        for q in self._queries:
            q.awaitTermination(timeout)

    def stop(self) -> None:
        for q in self._queries:
            q.stop()

    def drain_and_stop(self, timeout: float | None = None) -> None:
        """Graceful shutdown: process everything already available, then
        stop — the reference's ordered drain-on-close
        (AtieshServer.scala:166-196, delayed closes in §2.7) without its
        bespoke machinery; checkpoints make a hard stop equally safe,
        this just avoids replaying the tail on next boot."""
        for q in self._queries:
            q.processAllAvailable()
        self.stop()


def run_pipeline(spark: SparkSession, spec: dict[str, Any]) -> Pipeline:
    p = Pipeline(spark, spec)
    p.start()
    return p
