"""Self-tests of the benchmark: the event-log parser, the plan shape of the
plain chain, and the correctness gate.

Run from the repository root::

    python3 -m pytest perfbench/selftest.py -q

The file name keeps these tests out of a bare ``python -m pytest`` of the
repository: they start their own Spark session, which would otherwise be the
session the repository's tests run in.

``fixtures/pit_chain_eventlog.jsonl`` is a recorded event log of one traced
``pit_chain`` pass over a 20-conversation table, cut down to the events the
parser reads. ``PYTHONPATH=. python3 perfbench/selftest.py`` records it
again.
"""

from __future__ import annotations

import os
import tempfile
import time

import pytest

import datagen
import eventlog
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixtures", "pit_chain_eventlog.jsonl")
TINY = datagen.Shape(conversations=20, min_turns=10, alpha=1.3, cap_turns=120, mega_turns=(400,))
# The plain chain's physical plan: the session/fill/lag windows share one
# exchange and sort on conv_id; the probes are deduplicated through their
# own exchange; the as-of window exchanges and sorts the union again.
PIT_CHAIN_SHAPE = {"Exchange": 3, "Sort": 2, "Window": 3}
_KEPT_EVENTS = ("SQLExecutionStart", "SQLAdaptiveExecutionUpdate", "SparkListenerJobStart",
                "SparkListenerTaskEnd", "DriverAccumUpdates")


def _session(log_dir: str):
    from featureextraction_spark.session import get_spark

    return get_spark("perfbench-selftest", parallelism=2, extra_conf={
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        **eventlog.trace_conf(log_dir),
    })


def _table(spark, work: str, seed: int = 5) -> workloads.Context:
    table = datagen.transcripts(spark, TINY, seed)
    path = os.path.join(work, "input")
    table.df.write.mode("overwrite").parquet(path)
    return workloads.Context(spark, path, work, seed, table.sizes)


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """A session with the event log on, the tiny table, and the log path."""
    base = tmp_path_factory.mktemp("perfbench")
    log_dir = base / "eventlog"
    log_dir.mkdir()
    spark = _session(str(log_dir))
    yield spark, _table(spark, str(base)), str(log_dir)
    spark.stop()


def test_parser_on_recorded_log():
    log = eventlog.read(FIXTURE)
    assert log.executions("warm"), "fixture has no pass tagged warm"
    for name, count in PIT_CHAIN_SHAPE.items():
        assert log.node_count("warm", name) == count, name
    m = eventlog.layer_metrics(log, "warm", passes=1)
    assert m["exchange.nodes"] == 3 and m["sort.nodes"] == 2 and m["window.nodes"] == 3
    assert m["exchange.bytes"] > 0 and m["scan.rows"] > 0 and m["window.stage_ms"] > 0
    assert m["kernel.python_run_ms"] == 0  # the plain chain runs no Python
    assert m["stage.task_ms_max_over_p50"] >= 1
    # every accumulator of a counted node was updated by some stage of the pass
    window_stages = log.stages_of("warm", "Window")
    assert window_stages and window_stages <= {t.stage for t in log.phase_tasks("warm")}
    # per-pass averaging
    half = eventlog.layer_metrics(log, "warm", passes=2)
    assert half["exchange.bytes"] == pytest.approx(m["exchange.bytes"] / 2)


def test_parser_skips_untagged_and_blank_lines():
    log = eventlog.parse(["", '{"Event": "SparkListenerLogStart", "Spark Version": "4.1"}'])
    assert log.executions("warm") == []
    assert eventlog.layer_metrics(log, "warm", 1)["exchange.nodes"] == 0


def test_pit_chain_plan_shape(traced):
    spark, ctx, log_dir = traced
    spark.sparkContext.setLocalProperty(eventlog.PHASE_PROPERTY, "shape")
    out = workloads.plain_chain(ctx.transcripts())
    workloads.force(out)
    spark.sparkContext.setLocalProperty(eventlog.PHASE_PROPERTY, None)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # The listener bus writes the log asynchronously; wait for the pass.
    (log_file,) = os.listdir(log_dir)
    deadline = time.monotonic() + 30
    while True:
        log = eventlog.read(os.path.join(log_dir, log_file))
        if log.node_count("shape", "Window") or time.monotonic() > deadline:
            break
        time.sleep(0.5)
    for name, count in PIT_CHAIN_SHAPE.items():
        assert log.node_count("shape", name) == count, name
    assert plan.count("Exchange hashpartitioning") == PIT_CHAIN_SHAPE["Exchange"]


def test_benchmark_json_matches_the_harness():
    import json

    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER


def _drop_one_probe(tr):
    out = workloads.plain_chain(tr)
    first = out.orderBy("conv_id", "ts").first()
    return out.filter((out.conv_id != first["conv_id"]) | (out.ts != first["ts"]))


def test_gate_passes_the_real_chain(traced):
    _, ctx, _ = traced
    problems, counts = workloads.gate_chain(ctx, workloads.plain_chain, workloads.CHAIN_VALUES)
    assert problems == []
    assert 0 < counts["asof.matched_frac"] <= 1


def test_gate_flags_a_dropped_probe_row(traced):
    _, ctx, _ = traced
    problems, _ = workloads.gate_chain(ctx, _drop_one_probe, workloads.CHAIN_VALUES)
    assert any("output rows for" in p for p in problems), problems


def _record(path: str) -> None:
    """Record the fixture: one traced pit_chain pass, trimmed."""
    import json

    with tempfile.TemporaryDirectory() as base:
        log_dir = os.path.join(base, "eventlog")
        os.makedirs(log_dir)
        spark = _session(log_dir)
        ctx = _table(spark, base)
        spark.sparkContext.setLocalProperty(eventlog.PHASE_PROPERTY, "warm")
        workloads.force(workloads.plain_chain(ctx.transcripts()))
        spark.stop()
        (log_file,) = os.listdir(log_dir)
        with open(os.path.join(log_dir, log_file), encoding="utf-8") as src, \
                open(path, "w", encoding="utf-8") as dst:
            for line in src:
                ev = json.loads(line)
                if ev["Event"].endswith(_KEPT_EVENTS):
                    ev.pop("physicalPlanDescription", None)
                    ev.pop("Task Executor Metrics", None)
                    dst.write(json.dumps(ev) + "\n")


if __name__ == "__main__":
    _record(FIXTURE)
