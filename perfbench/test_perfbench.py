"""The benchmark's own tests.

    python -m pytest perfbench/test_perfbench.py -q

The unit tests run in seconds without Spark. The ``tiny`` tests run
every workload end to end on small inputs (about 30-60 s each) through
the same command the benchmark is driven with.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import harness  # noqa: E402
import ingest  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


# --- inputs ----------------------------------------------------------------------


def test_events_are_a_function_of_the_seed():
    a = datagen.make_events(7, 0, 500)
    b = datagen.make_events(7, 0, 500)
    c = datagen.make_events(8, 0, 500)
    assert a.lines == b.lines
    assert a.lines != c.lines
    assert sorted(a.ids.tolist()) == list(range(500))


def test_normalized_payload_differs_from_raw():
    line = datagen.event_line(3, "click", 0, "Café  BETA")
    assert datagen.normalized(line) == '{"id":3,"type":"click","stamp":0,"pad":"café beta"}'
    assert datagen.parse_id(datagen.normalized(line)) == 3


def test_backlog_split_keeps_every_line(tmp_path):
    batch = datagen.make_events(1, 0, 1000)
    paths = datagen.write_backlog(batch, str(tmp_path), 7, 1)
    lines = [ln for p in paths for ln in Path(p).read_text(encoding="utf-8").splitlines()]
    assert lines == batch.lines
    assert not list(tmp_path.glob(".*"))


# --- output checks --------------------------------------------------------------


def _deliver(batch):
    """What a correct pipeline delivers: http requests and parquet rows."""
    http, parquet = [], []
    for eid, etype, line in zip(batch.ids, batch.types, batch.lines):
        sink = datagen.sink_of(etype)
        if sink == "http":
            http.append(datagen.normalized(line))
        elif sink == "parquet":
            parquet.append((datagen.normalized(line), etype))
    return http, parquet


def _account(batch, http, parquet, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / "out"
    out.mkdir(exist_ok=True)
    table = pa.table({
        "value": [v for v, _ in parquet],
        "headers": pa.array([[("kind", k)] for _, k in parquet],
                            pa.map_(pa.string(), pa.string())),
    })
    pq.write_table(table, out / "part-0.parquet")
    requests = [[1.0, ingest.HTTP_PATH, 10, "\n".join(http)]]
    types = {int(i): t for i, t in zip(batch.ids, batch.types)}
    return ingest.account(batch.expected(), requests, str(out), types)


def test_accounting_passes_a_correct_delivery(tmp_path):
    batch = datagen.make_events(2, 0, 400)
    acc = _account(batch, *_deliver(batch), tmp_path)
    assert (acc["lost"], acc["misrouted"], acc["duplicates"]) == (0, 0, 0)
    assert acc["delivered"] == acc["routed"]


def test_accounting_catches_a_dropped_event(tmp_path):
    batch = datagen.make_events(2, 0, 400)
    http, parquet = _deliver(batch)
    acc = _account(batch, http[1:], parquet, tmp_path)
    assert acc["lost"] == 1


def test_accounting_catches_misrouting_duplicates_and_raw_payloads(tmp_path):
    batch = datagen.make_events(2, 0, 400)
    http, parquet = _deliver(batch)
    moved = parquet.pop()
    http.append(moved[0])  # a parquet event sent to http
    http.append(http[0])  # a duplicate delivery
    raw_of = {datagen.normalized(x): x for x in batch.lines}
    i = next(i for i in range(1, len(http) - 2) if raw_of[http[i]] != http[i])
    http[i] = raw_of[http[i]]  # skipped normalisation
    acc = _account(batch, http, parquet, tmp_path)
    assert acc["misrouted"] == 2
    assert acc["duplicates"] == 1
    assert acc["lost"] == 2


def test_digest_is_order_insensitive_and_catches_a_wrong_value():
    import curation

    rows = [(1, "a", 0.5), (2, "b", 1.25)]
    same = curation.digest(["k", "s", "v"], rows)
    assert curation.digest(["k", "s", "v"], list(reversed(rows))) == same
    assert curation.digest(["s", "k", "v"], [(r[1], r[0], r[2]) for r in rows]) == same
    assert curation.digest(["k", "s", "v"], [(1, "a", 0.5), (2, "b", 1.26)]) != same


# --- tracing --------------------------------------------------------------------


def test_self_time_subtracts_covered_child_time():
    tr = harness.Tracer("t", True)
    root = tr.add("root", 0.0, 10.0)
    tr.add("a", 1.0, 4.0, root)
    tr.add("b", 3.0, 6.0, root)  # overlaps a: covered union is 1..6
    selfs = tr.self_times()
    assert selfs[root] == pytest.approx(5.0)


def test_disabled_tracer_records_nothing():
    tr = harness.Tracer("t", False)
    with tr.span("x"):
        pass
    assert tr.add("y", 0, 1) is None
    assert tr.spans == []


# --- the command ------------------------------------------------------------------


def test_fails_without_the_program(tmp_path):
    """A directory holding only the benchmark must fail without a result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_drain", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


def _run_tiny(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "2", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric(workload, trace):
    result = _run_tiny(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(result["metrics"][m["name"]]["value"], float)
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_tiny_live_run_delivers_every_event():
    """``ingest_live`` is runnable though not in BENCHMARK.json."""
    result = _run_tiny("ingest_live", 0)
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert all(v["value"] > 0 for v in result["metrics"].values())
