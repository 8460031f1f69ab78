"""Seeded input generator.

Writes the ten parquet tables the query builders read (``region nation
customer supplier part orders lineitem events documents embeddings``) with
the schemas, row counts and value ranges of the repository's test tables
at a chosen scale (``SIZES``), using DuckDB only.  Every value is a pure
function of ``(seed, row index)`` through DuckDB's ``hash``, and each file
is written as one snappy row group, so the same seed gives byte-identical
files.

Keys move with the seed so the derived views (intervals from
``o_orderkey`` / ``c_custkey`` / ``l_orderkey``, variants from
``s_suppkey`` / ``p_partkey``) differ between seeds: key ``i`` becomes
``4*i + hash(i, seed) % 4``.  That keeps row counts and the share of rows
a modulus filter such as ``o_orderkey % 50`` selects.  ``doc_id`` and
``vec_id`` stay dense ``0..n-1`` so ``doc_id % 3`` and ``vec_id < 50``
still select the same share; their text and vectors change with the seed.
"""

from __future__ import annotations

import os

import duckdb

#: Row counts per table, matching the repository's sf0.01 and sf0.001 tables.
SIZES = {
    "sf0.01": {
        "region": 5, "nation": 25, "customer": 1500, "supplier": 100,
        "part": 2000, "orders": 15000, "lineitem": 60000,
        "events": 10000, "documents": 500, "embeddings": 500,
    },
    "sf0.001": {
        "region": 5, "nation": 25, "customer": 150, "supplier": 10,
        "part": 200, "orders": 1500, "lineitem": 6000,
        "events": 1000, "documents": 500, "embeddings": 500,
    },
}

TABLES = list(SIZES["sf0.01"])

VOCAB = [
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "vector", "customer", "the", "join",
]


def _u(tag: str, *cols: str) -> str:
    """SQL for a uniform draw in [0, 1) keyed by the seed, a tag and cols."""
    args = ", ".join((*cols, "$seed", f"'{tag}'"))
    return f"(hash({args}) % 1000000007) / 1000000007.0"


def _pick(tag: str, n: int | str, *cols: str) -> str:
    """SQL for a uniform integer in [0, n)."""
    args = ", ".join((*cols, "$seed", f"'{tag}'"))
    return f"CAST(hash({args}) % CAST({n} AS UBIGINT) AS BIGINT)"


def _key(tag: str, idx: str) -> str:
    """Seeded sparse key for dense index ``idx``: 4*idx + (0..3)."""
    return f"(4 * CAST({idx} AS BIGINT) + {_pick('k' + tag, 4, idx)})"


def _day(tag: str, start: str, days: int, *cols: str) -> str:
    return f"(TIMESTAMP '{start}' + to_days(CAST({_pick(tag, days, *cols)} AS INTEGER)))"


def _statements(n: dict[str, int]) -> dict[str, str]:
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    return {
        "region": (
            "SELECT CAST(i AS INTEGER) AS r_regionkey, "
            "(['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])[i + 1] AS r_name "
            "FROM range(5) t(i)"
        ),
        "nation": (
            "SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
            "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)"
        ),
        "customer": (
            f"SELECT {_key('c', 'i')} AS c_custkey, "
            "'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name, "
            f"CAST({_pick('cn', 25, 'i')} AS INTEGER) AS c_nationkey, "
            f"round(-999.99 + 10999.98 * {_u('cb', 'i')}, 2) AS c_acctbal, "
            "(['FURNITURE', 'MACHINERY', 'AUTOMOBILE', 'BUILDING', 'HOUSEHOLD'])"
            f"[{_pick('cs', 5, 'i')} + 1] AS c_mktsegment "
            f"FROM range({n['customer']}) t(i)"
        ),
        "supplier": (
            f"SELECT {_key('s', 'i')} AS s_suppkey, "
            "'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name, "
            f"CAST({_pick('sn', 25, 'i')} AS INTEGER) AS s_nationkey, "
            f"round(-999.99 + 10999.98 * {_u('sb', 'i')}, 2) AS s_acctbal "
            f"FROM range({n['supplier']}) t(i)"
        ),
        "part": (
            f"SELECT {_key('p', 'i')} AS p_partkey, "
            "(['large', 'hot', 'blue', 'old', 'cold', 'small', 'red', 'new'])"
            f"[{_pick('pa', 8, 'i')} + 1] || ' ' || "
            "(['ring', 'bolt', 'plate', 'gear', 'widget', 'nut', 'pin', 'cog'])"
            f"[{_pick('pb', 8, 'i')} + 1] AS p_name, "
            f"'Brand#' || ({_pick('pr', 25, 'i')} + 1) AS p_brand, "
            "(['LARGE', 'ECONOMY', 'SMALL', 'STANDARD', 'MEDIUM', 'PROMO'])"
            f"[{_pick('pt', 6, 'i')} + 1] AS p_type, "
            f"CAST({_pick('ps', 50, 'i')} + 1 AS INTEGER) AS p_size, "
            "round(900.0 + (i % 1000) / 10.0, 1) AS p_retailprice "
            f"FROM range({n['part']}) t(i)"
        ),
        "orders": (
            f"SELECT {_key('o', 'i')} AS o_orderkey, "
            f"{_key('c', _pick('oc', n['customer'], 'i'))} AS o_custkey, "
            f"(['F', 'O', 'P'])[{_pick('os', 3, 'i')} + 1] AS o_orderstatus, "
            f"round(1000.0 + 450000.0 * {_u('op', 'i')}, 2) AS o_totalprice, "
            f"{_day('od', '1995-01-01', 2404, 'i')} AS o_orderdate, "
            "(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])"
            f"[{_pick('oq', 5, 'i')} + 1] AS o_orderpriority "
            f"FROM range({n['orders']}) t(i)"
        ),
        "lineitem": (
            "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
            "round(l_quantity * (900.0 + l_partkey % 1000 / 10.0), 2) AS l_extendedprice, "
            "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate FROM ("
            f"SELECT {_key('o', _pick('lo', n['orders'], 'i'))} AS l_orderkey, "
            f"{_key('p', _pick('lp', n['part'], 'i'))} AS l_partkey, "
            f"{_key('s', _pick('ls', n['supplier'], 'i'))} AS l_suppkey, "
            f"CAST({_pick('ln', 7, 'i')} + 1 AS INTEGER) AS l_linenumber, "
            f"CAST({_pick('lq', 50, 'i')} + 1 AS DOUBLE) AS l_quantity, "
            f"{_pick('ld', 11, 'i')} / 100.0 AS l_discount, "
            f"{_pick('lt', 9, 'i')} / 100.0 AS l_tax, "
            f"(['N', 'A', 'R'])[{_pick('lr', 3, 'i')} + 1] AS l_returnflag, "
            f"(['O', 'F'])[{_pick('lx', 2, 'i')} + 1] AS l_linestatus, "
            f"{_day('lsd', '1995-01-02', 2498, 'i')} AS l_shipdate "
            f"FROM range({n['lineitem']}) t(i))"
        ),
        "events": (
            "SELECT i AS event_id, "
            "TIMESTAMP '2024-01-01' + to_microseconds("
            f"{_pick('et', 30 * 86400 * 1000000, 'i')}) AS ts, "
            f"{_pick('eu', 1500, 'i')} AS user_id, "
            "(['error', 'view', 'signup', 'purchase', 'click'])"
            f"[{_pick('ey', 5, 'i')} + 1] AS event_type, "
            f"round(-50.0 * ln(1.0 - 0.9999 * {_u('ev', 'i')}), 2) AS value, "
            f"'{{\"k\": ' || {_pick('ek', 100, 'i')} || '}}' AS props "
            f"FROM range({n['events']}) t(i)"
        ),
        # ~0.2% of documents repeat an earlier document's text exactly, so
        # exact and near-duplicate detection have something to find.
        "documents": (
            f"WITH w AS (SELECT i, j, {vocab}[{_pick('dw', len(VOCAB), 'i', 'j')} + 1] AS word "
            f"FROM range({n['documents']}) a(i), range(100) b(j) "
            f"WHERE j < 10 + {_pick('dn', 91, 'i')}), "
            "base AS (SELECT i, string_agg(word, ' ' ORDER BY j) AS text FROM w GROUP BY i), "
            "src AS (SELECT i, CASE WHEN i > 0 AND "
            f"{_pick('dd', 500, 'i')} = 0 THEN {_pick('ds', 'greatest(i, 1)', 'i')} "
            "ELSE i END AS s FROM range("
            f"{n['documents']}) t(i)) "
            "SELECT src.i AS doc_id, base.text, "
            f"(['en', 'en', 'en', 'zh', 'fr', 'es', 'de'])[{_pick('dl', 7, 'src.i')} + 1] AS lang, "
            f"'src' || {_pick('dr', 20, 'src.i')} AS source, "
            "CAST(length(base.text) AS BIGINT) AS n_chars "
            "FROM src JOIN base ON base.i = src.s ORDER BY doc_id"
        ),
        # unit-norm Gaussian vectors (Box-Muller), labels 0..9
        "embeddings": (
            "WITH raw AS (SELECT i, list_transform(range(64), d -> "
            f"sqrt(-2.0 * ln(1.0 - {_u('ea', 'i', 'd')})) * "
            f"cos(2.0 * pi() * {_u('eb', 'i', 'd')})) AS v "
            f"FROM range({n['embeddings']}) t(i)) "
            "SELECT i AS vec_id, "
            "CAST(list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS FLOAT[]) "
            f"AS embedding, CAST({_pick('el', 10, 'i')} AS INTEGER) AS label "
            "FROM raw ORDER BY vec_id"
        ),
    }


def generate(out_dir: str, seed: int, size: str = "sf0.01", threads: int = 1,
             tables: list[str] | None = None) -> dict:
    """Write ``tables`` (default: all) for ``seed`` into ``out_dir``.

    Returns ``{table: {"rows": n, "bytes": size on disk}}``.
    """
    n = SIZES[size]
    tables = tables or TABLES
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect(config={"threads": max(1, min(threads, len(os.sched_getaffinity(0))))})
    try:
        con.execute("SET preserve_insertion_order = true")
        for table, sql in _statements(n).items():
            if table not in tables:
                continue
            path = os.path.join(out_dir, f"{table}.parquet")
            con.execute(
                f"COPY ({sql.replace('$seed', str(int(seed)))}) TO '{path}' "
                "(FORMAT parquet, COMPRESSION snappy, ROW_GROUP_SIZE 100000000)"
            )
    finally:
        con.close()
    return {
        t: {"rows": n[t], "bytes": os.path.getsize(os.path.join(out_dir, f"{t}.parquet"))}
        for t in tables
    }
