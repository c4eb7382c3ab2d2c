"""The benchmark's own tests, on inputs at sf0.001 (``PERFBENCH_SF``).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The end-to-end tests run the command ``perfbench/run.py`` (each
workload once, cached for the module; a few minutes in all); the rest
are unit tests of the statistics, spans and checks.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [ROOT, BENCH_DIR]
os.environ["PERFBENCH_SF"] = "0.001"

import compare  # noqa: E402
import datagen  # noqa: E402
import report  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)

_RUNS: dict[tuple[str, int], tuple[dict, dict]] = {}


def run_bench(workload: str, trace: int = 0) -> tuple[dict, dict]:
    """(record, result line) of one run, cached per module."""
    key = (workload, trace)
    if key not in _RUNS:
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
             "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=400,
        )
        assert out.returncode == 0, out.stderr[-3000:]
        lines = out.stdout.strip().splitlines()
        _RUNS[key] = json.loads(lines[-2]), json.loads(lines[-1])
    return _RUNS[key]


# -- end to end ---------------------------------------------------------------


@pytest.mark.parametrize(
    "workload", ["graph_serve", "graph_put_get", "graph_analytics", "llm_pipeline"]
)
def test_each_workload_completes_a_few_checked_ops(workload):
    rec, line = run_bench(workload)
    assert line["attempted"] >= 3
    assert line["failed"] == 0 and line["correct"] is True
    assert rec["measured_ops"] >= 1
    assert rec["error_rate"] == 0.0


def test_result_line_has_every_end_to_end_metric_with_its_unit():
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    for wl in ("graph_serve", "graph_analytics"):
        _, line = run_bench(wl)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert {k: v["unit"] for k, v in line["metrics"].items()} == want
        assert all(v["value"] > 0 for v in line["metrics"].values())


def test_record_has_each_workloads_own_metrics_and_host_facts():
    serve, _ = run_bench("graph_serve")
    putget, _ = run_bench("graph_put_get")
    analytics, _ = run_bench("graph_analytics")
    llm, _ = run_bench("llm_pipeline")
    gs = serve["phases"]["graph_serve"]
    assert {"p50_ms", "ops_per_s", "error_rate", "tail"} <= set(gs)
    assert f"{gs['tail']}_ms" in gs
    pg = putget["phases"]["graph_put_get"]
    assert {"put_p50_ms", "get_p50_ms", "fragments_per_s", "error_rate"} <= set(pg)
    assert pg["fragments_per_s"] > 0
    for rec, phase in ((analytics, "graph_analytics"), (llm, "llm_pipeline")):
        assert rec["phases"][phase]["pass_s"] > 0
    for rec in (serve, putget, analytics, llm):
        assert {"setup_s", "peak_rss_mb"} <= set(rec["end_to_end"])
        host = rec["host"]
        for k in ("nproc", "ram_gib", "git_sha", "spark", "python", "duckdb",
                  "SPARK_GRAFT_CPUS", "driver_heap"):
            assert k in host
        assert host["SPARK_GRAFT_CPUS"] == str(host["nproc"])


def test_traced_run_reports_every_per_layer_metric():
    rec, line = run_bench("serving", trace=1)
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want
    m = {k: v["value"] for k, v in line["metrics"].items()}
    for k in ("compiler.build_ms", "traverse.follow_ms", "server.handler_ms",
              "spark.jobs", "wire.bytes_in", "model.props_union_depth"):
        assert m[k] > 0, k
    assert rec["put_get_probe"] and all(p["jobs"] > 0 for p in rec["put_get_probe"])


def test_traced_self_times_sum_to_no_more_than_traced_wall_time():
    rec, _ = run_bench("serving", trace=1)
    assert rec["trace"] == 1
    ops = rec["trace_check"]["ops"]
    assert ops
    for op, t in ops.items():
        assert t["self_sum_s"] <= t["wall_s"] + 1e-6, op


def test_benchmark_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serving", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""


# -- the correctness check -----------------------------------------------------


class _Done:
    def __init__(self, value):
        self.value = value

    def result(self):
        return self.value


def test_wrong_expected_hash_raises_error_rate(tmp_path):
    from ekati_spark.session import get_spark

    import workloads as WL

    data = str(tmp_path / "data")
    datagen.write(data, WL.SF, 3)
    spark = get_spark("perfbench_tests", cores=2)
    run = WL.Run(spark, data, str(tmp_path), 3, 0.0)
    name = "r10_shipping_priority"
    right = WL.batch_oracles(data, [name])
    wrong = {name: ("0" * 64, right[name][1])}

    class Args:
        workload, seed, seconds, trace = "graph_analytics", 3, 0.0, 0

    def error_rate(oracles) -> float:
        raw = {"setup_times": [1.0], "session_s": 1.0,
               "batch": WL.batch(run, [name], {"sf_dir": data}, _Done(oracles))}
        host = {"SPARK_GRAFT_DRIVER_MEM": "1g"}
        return report.record(Args, host, {}, {}, raw, 1.0, None)["error_rate"]

    assert error_rate(right) == 0.0
    assert error_rate(wrong) > 0.0


# -- units -------------------------------------------------------------------------


def test_datagen_is_a_function_of_the_seed():
    a, b, c = datagen.tables(0.001, 5), datagen.tables(0.001, 5), datagen.tables(0.001, 6)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(c["orders"])


def test_self_times_subtract_child_cover():
    s = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 4.0, "end": 6.0},
        {"id": 4, "parent": 2, "start": 2.0, "end": 3.0},
        {"id": 5, "parent": 3, "start": 5.0, "end": 7.0},  # ends after its parent
    ]
    st = spans.self_times(s)
    assert st == {1: 5.0, 2: 2.0, 3: 1.0, 4: 1.0, 5: 2.0}


def test_tracer_records_nested_spans_once_per_recursion():
    t = spans.Tracer()

    def fact(n):
        return 1 if n == 0 else n * traced(n - 1)

    traced = t.wrap(fact, "x.fact")
    with t.op("op1"), t.span("root"):
        assert traced(3) == 6
    names = [s["name"] for s in t.spans]
    assert names.count("x.fact") == 1 and names.count("root") == 1
    assert {s["op"] for s in t.spans} == {"op1"}


def test_metric_text_and_plan_parsing():
    assert spans.parse_metric_value("26.3 KiB") == pytest.approx(26.3 * 1024)
    assert spans.parse_metric_value("5.1 s") == pytest.approx(5100)
    assert spans.parse_metric_value("1,234") == 1234
    assert spans.parse_metric_value("total (min, med, max)\n198 ms (1 ms, 2 ms, 3 ms)") == 198
    plan = ("AdaptiveSparkPlan (9)\n+- == Final Plan ==\n   SortMergeJoin (8)\n"
            "   :- Exchange (3)\n   +- BroadcastExchange (5)\n+- == Initial Plan ==\n"
            "   SortMergeJoin (1)\n   +- Exchange (2)\n\n\n(3) Exchange\n")
    assert spans.plan_counts(plan) == (1, 1)


def test_tail_needs_ten_samples_beyond():
    assert stats.tail(range(100))[0] == "p90"
    assert stats.tail(range(40))[0] == "p75"
    assert stats.tail(range(12))[0] == "p50"


def test_compare_verdicts():
    spec = {"better": "lower", "bound": 0.1}
    base = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
    faster = [v * 0.8 for v in base]
    assert compare.verdict(base, faster, list(zip(base, faster)), spec) == "better"
    assert compare.verdict(base, base, list(zip(base, base)), spec) == "same"
    slower = [v * 1.3 for v in base]
    assert compare.verdict(base, slower, list(zip(base, slower)), spec) == "regressed"
    noisy = [50, 150, 60, 140, 100, 70, 130, 90, 110, 100]
    assert compare.verdict(base, noisy, list(zip(base, noisy)), spec) == "unresolved"


def test_overhead_pairs_traced_with_untraced_records(tmp_path, capsys):
    for trace, pass_s in ((0, 10.0), (1, 12.0)):
        rec = {"workload": "batch", "seed": 1, "trace": trace,
               "end_to_end": {"pass_s": pass_s}}
        (tmp_path / f"batch-trace{trace}.json").write_text(json.dumps(rec))
    compare.overhead(str(tmp_path), {"pass_s": {}})
    out = capsys.readouterr().out
    assert "batch: 1 untraced, 1 traced runs" in out
    assert "overhead +20.0%" in out
