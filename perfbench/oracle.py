"""Expected results for every benchmark op, computed with DuckDB over the
same generated parquet the engine reads.

- Batch queries: the query's registered oracle (``REGISTRY[name].oracle``).
- Serving statements: a relational replay of each DSL template over the
  tables, in the pattern of g46's oracle (``queries/graph.py``): the FK
  graph's nodes and edges as SQL views, then the template's hop, filter,
  paging and fields semantics as joins.

Results are compared as order-insensitive hashes with
``tools/verify_local.py``'s ``table_fingerprint``, the repository's
differential check.
"""

from __future__ import annotations

import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from verify_local import TABLES, table_fingerprint  # noqa: E402

# Columns of a ``get`` result row (compiler.py ``_materialize``).
GET_COLS = ("node_id", "remote", "key", "ts", "dtype", "str", "i64", "dbl", "bool", "ref")

# PropertyGraph.from_relational as SQL: every node's scalar props in long
# format (all strings, ts 0) and every FK edge.
_GRAPH_SQL = """
CREATE VIEW g_props AS
SELECT 'customer:' || c_custkey AS node_id, k AS key,
       CASE k WHEN 'name' THEN c_name WHEN 'mktsegment' THEN c_mktsegment
              WHEN 'acctbal' THEN CAST(c_acctbal AS VARCHAR) ELSE 'customer' END AS str
FROM customer, (VALUES ('name'), ('mktsegment'), ('acctbal'), ('labelV')) t(k)
UNION ALL
SELECT 'order:' || o_orderkey, k,
       CASE k WHEN 'orderstatus' THEN o_orderstatus
              WHEN 'orderpriority' THEN o_orderpriority
              WHEN 'totalprice' THEN CAST(o_totalprice AS VARCHAR) ELSE 'order' END
FROM orders, (VALUES ('orderstatus'), ('orderpriority'), ('totalprice'), ('labelV')) t(k)
UNION ALL
SELECT 'supplier:' || s_suppkey, k, CASE k WHEN 'name' THEN s_name ELSE 'supplier' END
FROM supplier, (VALUES ('name'), ('labelV')) t(k)
UNION ALL
SELECT 'nation:' || n_nationkey, k, CASE k WHEN 'name' THEN n_name ELSE 'nation' END
FROM nation, (VALUES ('name'), ('labelV')) t(k)
UNION ALL
SELECT 'region:' || r_regionkey, k, CASE k WHEN 'name' THEN r_name ELSE 'region' END
FROM region, (VALUES ('name'), ('labelV')) t(k);

CREATE VIEW g_edges AS
SELECT 'customer:' || o_custkey AS src, 'placed' AS label, 'order:' || o_orderkey AS dst FROM orders
UNION ALL
SELECT 'order:' || l_orderkey, 'contains', 'lineitem:' || l_orderkey || ':' || l_linenumber FROM lineitem
UNION ALL
SELECT 'lineitem:' || l_orderkey || ':' || l_linenumber, 'of_part', 'part:' || l_partkey FROM lineitem
UNION ALL
SELECT 'lineitem:' || l_orderkey || ':' || l_linenumber, 'from_supplier', 'supplier:' || l_suppkey FROM lineitem
UNION ALL
SELECT 'customer:' || c_custkey, 'in_nation', 'nation:' || c_nationkey FROM customer
UNION ALL
SELECT 'supplier:' || s_suppkey, 'in_nation', 'nation:' || s_nationkey FROM supplier
UNION ALL
SELECT 'nation:' || n_nationkey, 'in_region', 'region:' || n_regionkey FROM nation;
"""

_ROWS = """
SELECT p.node_id, '' AS remote, p.key, CAST(0 AS BIGINT) AS ts, 'str' AS dtype, p.str,
       CAST(NULL AS BIGINT) AS i64, CAST(NULL AS DOUBLE) AS dbl,
       CAST(NULL AS BOOLEAN) AS bool, CAST(NULL AS VARCHAR) AS ref
FROM g_props p JOIN ({nodes}) n ON p.node_id = n.node_id {where}
"""

G46_FIELDS = '|> fields ("totalprice":*, "orderstatus":*)'


def statement(template: str, ids: list[int]) -> str:
    """The DSL text of one serving op."""
    seeds = ", ".join(f'"customer:{i}"' for i in ids)
    if template == "point":
        return f"get {seeds}"
    if template == "g46":
        return f'get {seeds} |> follow "placed" 1 |> filter "orderstatus" == "F" {G46_FIELDS}'
    if template == "two_hop":
        return f'get {seeds} |> follow ("placed" 1 || "contains" 2)'
    if template == "paging":
        return f"get {seeds} |> follow * 0..2 |> skip 5 |> limit 20"
    raise ValueError(f"unknown template {template!r}")


def replay_sql(template: str, ids: list[int]) -> str:
    """DuckDB replay of ``statement(template, ids)``.

    Paging semantics checked: ``follow * 0..2`` emits the seed (hop 0)
    and every node one or two edges away over any label, each once;
    ``skip``/``limit`` then page that node stream in (remote, node_id)
    order, counting nodes that carry no props (lineitems) like any
    other; the rows returned are the props of the paged nodes."""
    seeds = ", ".join(f"('customer:{i}')" for i in ids)
    seed_sql = f"SELECT node_id FROM (VALUES {seeds}) s(node_id)"
    if template == "point":
        return _ROWS.format(nodes=seed_sql, where="")
    if template == "g46":
        nodes = (
            f"SELECT DISTINCT e.dst AS node_id FROM g_edges e JOIN ({seed_sql}) s "
            "ON e.src = s.node_id WHERE e.label = 'placed' AND EXISTS ("
            "SELECT 1 FROM g_props f WHERE f.node_id = e.dst "
            "AND f.key = 'orderstatus' AND f.str = 'F')"
        )
        return _ROWS.format(nodes=nodes, where="WHERE p.key IN ('totalprice', 'orderstatus')")
    if template == "two_hop":
        nodes = (
            f"WITH h1 AS (SELECT DISTINCT e.dst AS node_id FROM g_edges e JOIN ({seed_sql}) s "
            "ON e.src = s.node_id WHERE e.label = 'placed') "
            "SELECT node_id FROM h1 UNION "
            "SELECT e.dst FROM g_edges e JOIN h1 ON e.src = h1.node_id WHERE e.label = 'contains'"
        )
        return _ROWS.format(nodes=nodes, where="")
    if template == "paging":
        nodes = (
            f"WITH h0 AS ({seed_sql}), "
            "h1 AS (SELECT DISTINCT e.dst AS node_id FROM g_edges e JOIN h0 ON e.src = h0.node_id), "
            "h2 AS (SELECT DISTINCT e.dst AS node_id FROM g_edges e JOIN h1 ON e.src = h1.node_id), "
            "reach AS (SELECT node_id FROM h0 UNION SELECT node_id FROM h1 UNION SELECT node_id FROM h2) "
            "SELECT node_id FROM reach ORDER BY node_id OFFSET 5 LIMIT 20"
        )
        return _ROWS.format(nodes=nodes, where="")
    raise ValueError(f"unknown template {template!r}")


def connect(data_dir: str, graph: bool = False) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    if graph:
        con.execute(_GRAPH_SQL)
    return con


def fingerprint(cols, rows) -> str:
    return table_fingerprint(list(cols), [tuple(r) for r in rows])[0]


def expected(con, sql: str) -> tuple[str, int]:
    """(fingerprint, row count) of a DuckDB query."""
    res = con.sql(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    return fingerprint(cols, rows), len(rows)
