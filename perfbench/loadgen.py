"""Load generator: the one client process of the serving workloads.

Reads a plan (JSON, written by ``workloads.py``), drives the server over
loopback with closed-loop clients, checks every response, and prints
one JSON object with every op's latency and verdict.

- ``dsl`` phase: one thread per client, each sending its own statement
  share of each round of the templates to ``POST /query``, starting
  rounds until ``seconds`` have passed and ``min_rounds`` are done; each reply
  is compared with a DuckDB replay of its statement (``oracle.py``),
  computed after the timed phase.
- ``putget`` phase: one client replaying a fixed op sequence over
  ``POST /grpc/Put`` and ``POST /grpc/Get`` with protobuf bodies; each
  Get is compared with the attributes and ``follows`` targets the client
  wrote (or the base graph holds).

Usage: python3 perfbench/loadgen.py PLAN.json
"""

from __future__ import annotations

import http.client
import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ekati_spark.wire import proto as W  # noqa: E402

import oracle  # noqa: E402


def post(port: int, path: str, body: bytes, op: str, ctype: str) -> tuple[int, bytes, float]:
    """One request on its own connection; returns (status, body, seconds
    from send to the last byte of the reply)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        t0 = time.perf_counter()
        conn.request("POST", path, body, {"Content-Type": ctype, "X-Bench-Op": op})
        resp = conn.getresponse()
        raw = resp.read()
        return resp.status, raw, time.perf_counter() - t0
    finally:
        conn.close()


def run_dsl(plan: dict) -> dict:
    port, deadline = plan["port"], time.perf_counter() + plan["seconds"]
    results: list[dict] = []
    lock = threading.Lock()
    errors: list[BaseException] = []

    def client(ops: list[dict]) -> None:
        cycle = None
        try:
            for op in ops:  # whole rounds, at least ``min_rounds``
                if (op["cycle"] != cycle and op["cycle"] >= plan["min_rounds"]
                        and time.perf_counter() >= deadline):
                    return
                cycle = op["cycle"]
                body = json.dumps({"q": op["q"], "limit": 10_000}).encode()
                status, raw, dt = post(port, "/query", body, op["op"], "application/json")
                with lock:
                    results.append({**op, "lat_ms": dt * 1e3, "status": status,
                                    "end": time.perf_counter(), "raw": raw})
        except BaseException as e:  # noqa: BLE001 -- re-raised by the caller
            errors.append(e)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client, args=(ops,)) for ops in plan["clients"]]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    wall = max((r["end"] for r in results), default=t0) - t0

    con = oracle.connect(plan["data_dir"], graph=True)
    for r in results:
        raw = r.pop("raw")
        r.pop("end")
        r["ok"] = False
        if r["status"] != 200:
            continue
        rows = json.loads(raw)["rows"]
        got = oracle.fingerprint(oracle.GET_COLS, [[row[c] for c in oracle.GET_COLS] for row in rows])
        want, n = oracle.expected(con, oracle.replay_sql(r["template"], r["ids"]))
        r["rows"] = len(rows)
        r["ok"] = got == want and len(rows) == n
    return {"ops": results, "wall_s": wall}


def _attrs(node: dict) -> list:
    """A Get reply node's attributes as sorted (key, value) pairs."""
    out = []
    for a in node.get("attributes", []):
        data = a["value"]["Data"]
        val = data["nodeid"]["iri"] if "nodeid" in data else data.get("str")
        out.append((a["key"]["Data"]["str"], val))
    return sorted(out)


def node_msg(iri: str, props: dict, follows: list[str]) -> dict:
    attrs = [{"key": {"Data": {"str": k}}, "value": {"Data": {"str": v}}} for k, v in props.items()]
    attrs += [{"key": {"Data": {"str": "follows"}}, "value": {"Data": {"nodeid": {"iri": f}}}}
              for f in follows]
    return {"id": {"iri": iri}, "attributes": attrs}


def query_msg(iri: str, hop: bool) -> dict:
    q = {"iris": [iri]}
    if hop:
        q["step"] = {"follow": {"followEdge": {"edgeRange": {
            "edge": {"str": "follows"}, "range": {"from": 1, "to": 1}}}}}
    return q


def run_putget(plan: dict) -> dict:
    port = plan["port"]
    graph = {n["iri"]: n for n in plan["base"]}
    bodies = []
    for op in plan["ops"]:  # encode before the clock starts
        if op["kind"] == "put":
            msg = node_msg(op["iri"], op["props"], op["follows"])
            bodies.append((op, "/grpc/Put", W.encode("Node", msg)))
        else:
            bodies.append((op, "/grpc/Get", W.encode("Query", query_msg(op["iri"], op["hop"]))))
    results = []
    t0 = time.perf_counter()
    for op, path, body in bodies:
        status, raw, dt = post(port, path, body, op["op"], "application/x-protobuf")
        rec = {"op": op["op"], "kind": op["kind"], "lat_ms": dt * 1e3, "status": status, "ok": False}
        if status == 200 and op["kind"] == "put":
            rec["ok"] = W.decode("PutResponse", raw) == {"success": True}
            if rec["ok"]:
                graph[op["iri"]] = op
                rec["fragments"] = len(op["props"]) + len(op["follows"])
        elif status == 200:
            got = {n["id"]["iri"]: _attrs(n) for n in map(lambda f: W.decode("Node", f), W.iter_frames(raw))}
            seeds = graph[op["iri"]]["follows"] if op["hop"] else [op["iri"]]
            want = {i: sorted([*graph[i]["props"].items(),
                               *(("follows", f) for f in graph[i]["follows"])])
                    for i in seeds}
            rec["ok"] = got == want
        results.append(rec)
    return {"ops": results, "wall_s": time.perf_counter() - t0}


def main() -> None:
    with open(sys.argv[1]) as fh:
        plan = json.load(fh)
    phases = {"dsl": run_dsl, "putget": run_putget}
    out, errors = {}, []

    def phase(k: str) -> None:
        try:
            out[k] = phases[k](plan[k])
        except BaseException as e:  # noqa: BLE001 -- re-raised below
            errors.append(e)

    # warm-up phases run side by side; measured phases one after the other
    t0 = time.perf_counter()
    threads = [threading.Thread(target=phase, args=(k,)) for k in phases if k in plan]
    for t in threads:
        t.start()
        if not plan.get("parallel"):
            t.join()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    out["wall_s"] = time.perf_counter() - t0
    print(json.dumps(out))


if __name__ == "__main__":
    main()
