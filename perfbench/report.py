"""Turns one run's raw timings and spans into its record and result line.

End-to-end metrics (``END_TO_END``) are defined the same way on every
workload, so each workload reports all of them:

- ``setup_s``: median of ``workloads.SETUP_REPS`` cold set-ups.
- ``pass_s``: one op of each class, back to back: the sum over op
  classes of each class's median latency. A class is a DSL template, a
  Put or a Get, or one registered query (for a batch workload this is
  the median full pass).
- ``ops_per_s``: measured ops completed per second of measured wall time.
- ``peak_rss_mb``: the summed peak resident sets of the driver JVM, this
  Python process and the Python workers.

The record also carries each phase's own metrics under ``phases``:
``p50_ms``/tail/``ops_per_s`` for ``graph_serve``; ``put_p50_ms``,
``get_p50_ms`` and ``fragments_per_s`` for ``graph_put_get``; ``pass_s``
for ``graph_analytics`` and ``llm_pipeline``; and ``error_rate``.
"""

from __future__ import annotations

from stats import median, tail
from workloads import ANALYTICS, LLM, SETUP_REPS, STORE_QUERIES

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}

_SPARK = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
          "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
          "peak_execution_memory_bytes", "jvm_gc_ms")
_ARROW = ("python_total_ms", "python_boot_ms", "python_init_ms",
          "data_sent_bytes", "data_received_bytes")
_SELF_LAYERS = ("server", "parser", "compiler", "traverse", "wire", "spark",
                "catalog", "query")

PER_LAYER = {
    "parser.parse_ms": "ms",
    "compiler.build_ms": "ms",
    "compiler.build_jobs": "count",
    "model.props_union_depth": "count",
    "traverse.follow_ms": "ms",
    "traverse.follow_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "wire.decode_ms": "ms",
    "wire.encode_ms": "ms",
    "wire.bytes_in": "bytes",
    "wire.bytes_out": "bytes",
    "server.handler_ms": "ms",
    "server.encode_ms": "ms",
    **{f"spark.{k}": ("ms" if k.endswith("_ms") else "bytes" if k.endswith("bytes") else "count")
       for k in _SPARK},
    "spark.scan_rows_per_result_row": "ratio",
    "plan.exchanges": "count",
    "plan.sort_merge_joins": "count",
    **{f"arrow.{k}": "ms" if k.endswith("_ms") else "bytes" for k in _ARROW},
    "catalog.load_table_calls": "count",
    "catalog.load_table_ms": "ms",
    "catalog.setup_load_table_ms": "ms",
    "stores.cold_build_s": "s",
    **{f"query.{n}_s": "s" for n in ANALYTICS + LLM},
    **{f"self_ms.{k}": "ms" for k in _SELF_LAYERS},
}


def _lat(ops, key="lat_ms"):
    return [o[key] for o in ops]


def _serving(raw: dict, out: dict, classes: dict, checked: list) -> tuple[int, float]:
    warm, meas = raw["warm"], raw["measured"]
    n = 0
    for part in ("dsl", "putget"):
        if part in meas:
            checked += warm[part]["ops"] + meas[part]["ops"]
    if "dsl" in meas:
        ops = meas["dsl"]["ops"]
        lat = _lat(ops)
        name, value = tail(lat)
        by_t = {}
        for o in ops:
            by_t.setdefault(o["template"], []).append(o["lat_ms"])
        classes.update({t: median(v) for t, v in by_t.items()})
        out["graph_serve"] = {
            "p50_ms": median(lat), f"{name}_ms": value, "tail": name,
            "ops": len(ops), "ops_per_s": len(ops) / meas["dsl"]["wall_s"],
            "clients": len({o["client"] for o in ops}),
            "template_p50_ms": {t: median(v) for t, v in by_t.items()},
            "template_ops": {t: len(v) for t, v in by_t.items()},
        }
        n += len(ops)
    if "putget" in meas:
        ops = meas["putget"]["ops"]
        puts = [o for o in ops if o["kind"] == "put"]
        gets = [o for o in ops if o["kind"] == "get"]
        classes["put"], classes["get"] = median(_lat(puts)), median(_lat(gets))
        out["graph_put_get"] = {
            "put_p50_ms": classes["put"], "get_p50_ms": classes["get"],
            "fragments_per_s": sum(o.get("fragments", 0) for o in puts) / meas["putget"]["wall_s"],
            "puts": len(puts), "gets": len(gets),
            "get_ms_in_order": _lat(gets),
        }
        n += len(ops)
    return n, meas["wall_s"]


def _batch(raw: dict, out: dict, classes: dict, checked: list) -> tuple[int, float]:
    checked += raw["warm"]
    ops = [o for p in raw["passes"] for o in p]
    checked += ops
    by_q = {}
    for o in ops:
        by_q.setdefault(o["query"], []).append(o["s"] * 1e3)
    classes.update({q: median(v) for q, v in by_q.items()})
    for phase, names in (("graph_analytics", ANALYTICS), ("llm_pipeline", LLM)):
        mine = [q for q in names if q in by_q]
        if mine:
            out[phase] = {
                "pass_s": median(sum(o["s"] for o in p if o["query"] in mine)
                                 for p in raw["passes"]),
                "passes": len(raw["passes"]),
                "query_s": {q: median(by_q[q]) / 1e3 for q in mine},
                "warm_query_s": {o["query"]: o["s"] for o in raw["warm"] if o["query"] in mine},
            }
    return len(ops), raw["wall_s"]


def record(args, host, versions, rows, raw, peak_mb, tracer) -> dict:
    phases, classes, checked = {}, {}, []
    n = wall = 0
    warmup_s = 0.0
    if "serving" in raw:
        dn, dw = _serving(raw["serving"], phases, classes, checked)
        n, wall, warmup_s = n + dn, wall + dw, warmup_s + raw["serving"]["warmup_s"]
    if "batch" in raw:
        dn, dw = _batch(raw["batch"], phases, classes, checked)
        n, wall, warmup_s = n + dn, wall + dw, warmup_s + raw["batch"]["warmup_s"]
    failed = [o for o in checked if not o.get("ok")]
    e2e = {
        "setup_s": median(raw["setup_times"]),
        "pass_s": sum(classes.values()) / 1e3,
        "ops_per_s": n / wall if wall else 0.0,
        "peak_rss_mb": peak_mb,
    }
    rec = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {**host, **versions, "driver_heap": host["SPARK_GRAFT_DRIVER_MEM"]},
        "input_rows": rows,
        "end_to_end": e2e,
        "phases": phases,
        "class_p50_ms": classes,
        "attempted": len(checked),
        "failed": len(failed),
        "error_rate": len(failed) / len(checked) if checked else 0.0,
        "failures": [{k: o.get(k) for k in ("op", "template", "kind", "query", "status", "error")}
                     for o in failed][:20],
        "setup_times_s": raw["setup_times"],
        "session_start_s": raw["session_s"],
        "warmup_s": warmup_s,
        "measured_ops": n,
        "measured_wall_s": wall,
    }
    for p in phases.values():
        p["error_rate"] = rec["error_rate"]
    if tracer is not None:
        rec["per_layer"], rec["put_get_probe"] = per_layer(tracer, raw)
        rec["trace_check"] = trace_check(tracer, set(_kinds(raw)))
    return rec


def _kinds(raw: dict) -> dict[str, str]:
    kinds = {}
    meas = raw.get("serving", {}).get("measured", {})
    for o in meas.get("dsl", {}).get("ops", []):
        kinds[o["op"]] = o["template"]
    for o in meas.get("putget", {}).get("ops", []):
        kinds[o["op"]] = o["kind"]
    for p in raw.get("batch", {}).get("passes", []):
        for o in p:
            kinds[o["op"]] = o["query"]
    return kinds


def per_layer(tracer, raw: dict) -> tuple[dict, list]:
    """Per-layer metrics: means per measured op, except where named."""
    from spans import layer, self_times

    kinds = _kinds(raw)
    ops = [op for op in kinds if op in tracer.ops]
    n = max(len(ops), 1)
    recs = [tracer.ops[op] for op in ops]
    measured = [s for s in tracer.spans if s["op"] in kinds]
    selfs = self_times(tracer.spans)

    def dur_ms(*names) -> float:
        return sum(s["end"] - s["start"] for s in measured if s["name"] in names) * 1e3

    def total(key, sub=None) -> float:
        return sum((r.get(sub, {}) if sub else r).get(key, 0) for r in recs)

    m = {
        "parser.parse_ms": dur_ms("parser.parse") / n,
        "compiler.build_ms": dur_ms("compiler.run_get", "compiler.run_put") / n,
        "compiler.build_jobs": total("build_jobs") / n,
        "traverse.follow_ms": dur_ms("traverse.follow") / n,
        "traverse.follow_jobs": total("follow_jobs") / n,
        "wire.decode_ms": dur_ms("wire.decode") / n,
        "wire.encode_ms": dur_ms("wire.encode") / n,
        "wire.bytes_in": total("bytes_in") / n,
        "wire.bytes_out": total("bytes_out") / n,
        "server.encode_ms": dur_ms("server.encode") / n,
        "server.handler_ms": sum(selfs[s["id"]] for s in measured if s["name"] in
                                 ("server.request", "server.grpc", "server.rows")) * 1e3 / n,
        "catalog.load_table_calls": sum(s["name"] == "catalog.load_table" for s in measured) / n,
        "catalog.load_table_ms": dur_ms("catalog.load_table") / n,
        "catalog.setup_load_table_ms": sum(
            s["end"] - s["start"] for s in tracer.spans
            if s["name"] == "catalog.load_table" and (s["op"] or "").startswith("setup")
        ) * 1e3 / SETUP_REPS,
    }
    for k in ("analysis_ms", "optimization_ms", "planning_ms"):
        m[f"catalyst.{k}"] = total(k, "catalyst") / n
    for k in _SPARK:
        m[f"spark.{k}"] = total(k, "spark") / n
    result_rows = total("result_rows")
    m["spark.scan_rows_per_result_row"] = (
        total("input_rows", "spark") / result_rows if result_rows else 0.0)
    m["plan.exchanges"] = total("exchanges", "spark") / n
    m["plan.sort_merge_joins"] = total("sort_merge_joins", "spark") / n
    for k in _ARROW:
        m[f"arrow.{k}"] = total(k, "spark") / n
    gets = [tracer.ops[op] for op in ops if kinds[op] == "get"]
    m["model.props_union_depth"] = (
        sum(r.get("union_depth", 0) for r in gets) / len(gets) if gets else 0.0)

    batch = raw.get("batch")
    cold = 0.0
    q_s = {}
    if batch:
        by_q = {}
        for p in batch["passes"]:
            for o in p:
                by_q.setdefault(o["query"], []).append(o["s"])
        q_s = {q: median(v) for q, v in by_q.items()}
        first = {o["query"]: o["s"] for o in batch["warm"]}
        cold = sum(first[q] - q_s[q] for q in STORE_QUERIES if q in q_s)
    m["stores.cold_build_s"] = cold
    for q in ANALYTICS + LLM:
        m[f"query.{q}_s"] = q_s.get(q, 0.0)

    by_layer = {k: 0.0 for k in _SELF_LAYERS}
    for s in measured:
        lay = layer(s["name"])
        if lay in by_layer:
            by_layer[lay] += selfs[s["id"]]
    for k, v in by_layer.items():
        m[f"self_ms.{k}"] = v * 1e3 / n

    probe = [
        {"op": op, "union_depth": tracer.ops[op].get("union_depth", 0),
         "build_jobs": tracer.ops[op].get("build_jobs", 0),
         "jobs": tracer.ops[op].get("spark", {}).get("jobs", 0),
         "catalyst_ms": sum(tracer.ops[op].get("catalyst", {}).values())}
        for op in ops if kinds[op] == "get"
    ]
    return m, probe


def trace_check(tracer, ops: set[str]) -> dict:
    """Span count, and per measured op its root span's wall time against
    the sum of the self times of the op's spans (never larger)."""
    from spans import self_times

    selfs = self_times(tracer.spans)
    wall, self_sum = {}, {}
    for s in tracer.spans:
        if s["op"] in ops:
            self_sum[s["op"]] = self_sum.get(s["op"], 0.0) + selfs[s["id"]]
            if s["parent"] is None:
                wall[s["op"]] = wall.get(s["op"], 0.0) + s["end"] - s["start"]
    return {"spans": len(tracer.spans),
            "ops": {op: {"wall_s": wall.get(op, 0.0), "self_sum_s": self_sum[op]}
                    for op in self_sum}}


def result_line(rec: dict, trace: int) -> dict:
    if trace:
        metrics = {k: {"value": rec["per_layer"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": rec["end_to_end"][k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": rec["failed"] == 0, "attempted": rec["attempted"],
            "failed": rec["failed"], "metrics": metrics}
