"""Streaming end-to-end tests (SURVEY.md §5.2 items 3-4).

File-watch source -> interceptor chain -> routed sinks via the pipeline
assembler, with availableNow triggers; checkpoint restart proves the
at-least-once/resume contract that replaces the reference's dump/replay.
"""

from __future__ import annotations

import time

import pytest

from atiesh_spark.pipeline import Pipeline


def write_lines(path, lines):
    path.write_text("\n".join(lines) + "\n")


def base_spec(src_dir, collected, checkpoint):
    return {
        "sources": {
            "dir": {"type": "dirwatch", "path": str(src_dir), "max_line_length": 100}
        },
        "interceptors": {
            "keep_nonempty": {"type": "filter", "predicate": "length(value) > 0", "priority": 10},
            "upper": {"type": "transform", "exprs": {"value": "upper(value)"}, "priority": 5},
        },
        "sinks": {"mem": {"type": "memory", "collected": collected}},
        "pipelines": [
            {
                "source": "dir",
                "interceptors": ["keep_nonempty", "upper"],
                "sinks": ["mem"],
                "trigger": {"availableNow": True},
                "checkpoint": str(checkpoint),
            }
        ],
    }


def test_dirwatch_pipeline_end_to_end(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    write_lines(src / "a.txt", ["hello", "", "world", "x" * 200])
    collected: list = []
    p = Pipeline(spark, base_spec(src, collected, tmp_path / "ckpt"))
    p.start()
    p.await_all()

    values = sorted(r["value"] for r in collected)
    # empty line filtered, >100-char line dropped (reference drop policy),
    # remainder uppercased, fn header captured
    assert values == ["HELLO", "WORLD"]
    assert all("a.txt" in r["headers"]["fn"] for r in collected)


def test_dirwatch_offsets_header(spark, tmp_path):
    """`off` byte-offset provenance (reference dirwatch `off` header):
    exact byte positions, multibyte-aware; dropped long lines still
    advance the offset; truncated lines keep theirs."""
    from atiesh_spark.streaming.sources import dirwatch_source_with_offsets

    src = tmp_path / "in"
    src.mkdir()
    # 'héllo' = 6 bytes utf-8 -> 'world' at off 7; the 20-byte line is
    # dropped but still advances: 'tail' at 7 + (5+1) + (20+1) = 34
    (src / "a.txt").write_text("héllo\nworld\n" + "x" * 20 + "\ntail\n", encoding="utf-8")

    df = dirwatch_source_with_offsets(spark, str(src), max_line_length=10)
    q = (
        df.writeStream.format("memory")
        .queryName("offsets_sink")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["value"]: r["headers"] for r in spark.sql("SELECT * FROM offsets_sink").collect()}
    assert set(rows) == {"héllo", "world", "tail"}  # long line dropped
    assert rows["héllo"]["off"] == "0"
    assert rows["world"]["off"] == "7"    # 6 bytes + \n
    assert rows["tail"]["off"] == "34"    # 7 + 5+1 + 20+1
    assert all("a.txt" in h["fn"] for h in rows.values())


def test_dirwatch_offsets_truncate_keeps_offset(spark, tmp_path):
    from atiesh_spark.streaming.sources import dirwatch_source_with_offsets

    src = tmp_path / "in"
    src.mkdir()
    (src / "b.txt").write_text("aaaa\nbbbbbbbb\ncc\n")
    df = dirwatch_source_with_offsets(spark, str(src), max_line_length=4, truncate=True)
    q = (
        df.writeStream.format("memory")
        .queryName("offsets_sink2")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["headers"]["off"]: r["value"] for r in spark.sql("SELECT * FROM offsets_sink2").collect()}
    assert rows == {"0": "aaaa", "5": "bbbb", "14": "cc"}


def test_checkpoint_resume_no_reprocess(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    write_lines(src / "one.txt", ["r1", "r2"])
    collected: list = []
    spec = base_spec(src, collected, tmp_path / "ckpt")

    p = Pipeline(spark, spec)
    p.start()
    p.await_all()
    assert sorted(r["value"] for r in collected) == ["R1", "R2"]

    # restart with the same checkpoint + a new file: only the new file runs
    write_lines(src / "two.txt", ["r3"])
    p2 = Pipeline(spark, spec)
    p2.start()
    p2.await_all()
    assert sorted(r["value"] for r in collected) == ["R1", "R2", "R3"]


def test_first_accepted_routing(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    write_lines(src / "a.txt", ["click:1", "view:2", "click:3", "other:4"])
    got_a: list = []
    got_b: list = []
    spec = {
        "sources": {"dir": {"type": "dirwatch", "path": str(src), "with_headers": False}},
        "interceptors": {},
        "sinks": {
            "a": {"type": "memory", "collected": got_a, "accept": "value LIKE 'click%'"},
            "b": {"type": "memory", "collected": got_b, "accept": "value LIKE 'view%' OR value LIKE 'click%'"},
        },
        "pipelines": [
            {
                "source": "dir",
                "sinks": ["a", "b"],
                "trigger": {"availableNow": True},
                "checkpoint": str(tmp_path / "ckpt"),
            }
        ],
    }
    p = Pipeline(spark, spec)
    p.start()
    p.await_all()
    # first-accepted: clicks go ONLY to a (first match), views to b,
    # 'other' discarded
    assert sorted(r["value"] for r in got_a) == ["click:1", "click:3"]
    assert sorted(r["value"] for r in got_b) == ["view:2"]


def test_devzero_rate_source(spark, tmp_path):
    collected: list = []
    spec = {
        "sources": {"gen": {"type": "devzero", "rows_per_second": 100, "payload": "0"}},
        "interceptors": {},
        "sinks": {"mem": {"type": "memory", "collected": collected}},
        "pipelines": [
            {
                "source": "gen",
                "sinks": ["mem"],
                "trigger": {"processingTime": "1 seconds"},
                "checkpoint": str(tmp_path / "ckpt"),
            }
        ],
    }
    p = Pipeline(spark, spec)
    p.start()
    deadline = time.time() + 20
    while not collected and time.time() < deadline:
        time.sleep(0.5)
    p.stop()
    assert collected, "rate source produced no rows in 20s"
    assert all(r["value"] == "0" for r in collected)


def test_spec_validation_errors(spark):
    with pytest.raises(ValueError, match="unknown source"):
        Pipeline(spark, {"sources": {}, "sinks": {}, "pipelines": [{"source": "x", "sinks": ["y"]}]})
    with pytest.raises(ValueError, match="unknown sink"):
        Pipeline(
            spark,
            {
                "sources": {"g": {"type": "devzero"}},
                "sinks": {},
                "pipelines": [{"source": "g", "sinks": ["y"]}],
            },
        )
    with pytest.raises(ValueError, match="no pipelines"):
        Pipeline(spark, {"sources": {}, "sinks": {}, "pipelines": []})

    # every component binds against its builder's signature at assembly:
    # an unknown type, option or pipeline key fails before any query starts
    def spec():
        return {
            "sources": {"in": {"type": "dirwatch", "path": "/nonexistent"}},
            "interceptors": {"norm": {"type": "normalize", "priority": 5}},
            "sinks": {"out": {"type": "http", "url": "http://x", "accept": "true"}},
            "pipelines": [
                {"source": "in", "interceptors": ["norm"], "sinks": ["out"], "checkpoint": "/c"}
            ],
        }

    Pipeline(spark, spec())
    cases = [
        ("sources", "in", "max_file_per_trigger", 2, "source 'in'.*'max_file_per_trigger'.*options"),
        ("interceptors", "norm", "colum", "value", "interceptor 'norm'.*'colum'.*options"),
        ("sinks", "out", "max_retriez", 5, "sink 'out'.*'max_retriez'.*options"),
        ("sources", "in", "type", "dirwatchh", "source 'in'.*'dirwatchh'.*known"),
        ("interceptors", "norm", "type", "normalise", "interceptor 'norm'.*'normalise'.*known"),
        ("sinks", "out", "type", "kafka", "sink 'out'.*'kafka'.*known"),
    ]
    for section, name, key, value, match in cases:
        bad = spec()
        bad[section][name][key] = value
        with pytest.raises(ValueError, match=match):
            Pipeline(spark, bad)
    bad = spec()
    bad["pipelines"][0]["checkpiont"] = bad["pipelines"][0].pop("checkpoint")
    with pytest.raises(ValueError, match=r"pipeline\[0\].*'checkpiont'.*known"):
        Pipeline(spark, bad)


def test_sink_spec_options_reach_writer():
    from atiesh_spark.pipeline import build_sink_writer

    w = build_sink_writer({"type": "http", "url": "http://x", "timeout": 30, "query_key": "q"})
    assert (w.timeout, w.query_key) == (30, "q")


def test_json_file_source_pipeline(spark, tmp_path):
    """Schema'd JSON file source -> canonical events with header capture."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        '{"msg": "hello", "origin": "svc1"}\n{"msg": "world", "origin": "svc2"}\n'
    )
    collected: list = []
    spec = {
        "sources": {
            "j": {
                "type": "json",
                "path": str(src),
                "schema": "msg string, origin string",
                "value_col": "msg",
                "header_cols": ["origin"],
            }
        },
        "interceptors": {},
        "sinks": {"mem": {"type": "memory", "collected": collected}},
        "pipelines": [
            {
                "source": "j",
                "sinks": ["mem"],
                "trigger": {"availableNow": True},
                "checkpoint": str(tmp_path / "ck"),
            }
        ],
    }
    from atiesh_spark.pipeline import Pipeline

    p = Pipeline(spark, spec)
    p.start()
    p.await_all()
    rows = {r["value"]: r["headers"]["origin"] for r in collected}
    assert rows == {"hello": "svc1", "world": "svc2"}


def test_drain_and_stop(spark, tmp_path):
    """Graceful shutdown processes already-available input before stopping."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.txt").write_text("x\ny\n")
    collected: list = []
    from atiesh_spark.pipeline import Pipeline

    spec = {
        "sources": {"d": {"type": "dirwatch", "path": str(src), "with_headers": False}},
        "interceptors": {},
        "sinks": {"mem": {"type": "memory", "collected": collected}},
        "pipelines": [
            {
                "source": "d",
                "sinks": ["mem"],
                "trigger": {"processingTime": "10 seconds"},
                "checkpoint": str(tmp_path / "ck"),
            }
        ],
    }
    p = Pipeline(spark, spec)
    p.start()
    p.drain_and_stop()
    assert sorted(r["value"] for r in collected) == ["x", "y"]


def test_blocklist_interceptor_end_to_end(spark, tmp_path):
    """The batch blocklist gate runs as a streaming interceptor (the
    registry-by-type extension seam): flagged payloads never reach the
    sink, clean ones pass in order."""
    src = tmp_path / "in"
    src.mkdir()
    write_lines(
        src / "a.txt",
        ["hello world", "BUY cheap SPAM now", "plain line", "spam inside"],
    )
    collected: list = []
    spec = {
        "sources": {"dir": {"type": "dirwatch", "path": str(src), "with_headers": False}},
        "interceptors": {
            "gate": {"type": "blocklist", "patterns": ["spam", "cheap"]},
        },
        "sinks": {"mem": {"type": "memory", "collected": collected}},
        "pipelines": [
            {
                "source": "dir",
                "interceptors": ["gate"],
                "sinks": ["mem"],
                "trigger": {"availableNow": True},
                "checkpoint": str(tmp_path / "ckpt"),
            }
        ],
    }
    p = Pipeline(spark, spec)
    p.start()
    p.await_all()
    assert sorted(r["value"] for r in collected) == ["hello world", "plain line"]


def test_normalize_interceptor_before_blocklist(spark, tmp_path):
    """normalize -> blocklist chained by priority: a disguised banned
    phrase (case + doubled spaces + decomposed accent) is caught only
    because normalization ran first."""
    src = tmp_path / "in"
    src.mkdir()
    write_lines(
        src / "a.txt",
        ["ok line", "SPAM   alert", "café special", "clean text"],
    )
    collected: list = []
    spec = {
        "sources": {"dir": {"type": "dirwatch", "path": str(src), "with_headers": False}},
        "interceptors": {
            "norm": {"type": "normalize", "priority": 10},
            "gate": {"type": "blocklist", "priority": 5,
                     "patterns": ["spam alert", "café special"]},
        },
        "sinks": {"mem": {"type": "memory", "collected": collected}},
        "pipelines": [
            {
                "source": "dir",
                "interceptors": ["norm", "gate"],
                "sinks": ["mem"],
                "trigger": {"availableNow": True},
                "checkpoint": str(tmp_path / "ckpt"),
            }
        ],
    }
    p = Pipeline(spark, spec)
    p.start()
    p.await_all()
    assert sorted(r["value"] for r in collected) == ["clean text", "ok line"]
