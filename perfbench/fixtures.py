"""Seeded db1/db2 parquet fixtures and their DuckDB-derived expectations.

Every table is generated by DuckDB from ``range()`` with values drawn from
``hash(row, salt)``, so the same (workload, seed, scale) always writes the
same bytes. The base tables follow the TPC-H-like star schema of
``lotad_spark.benchmarks.fixtures`` (plus an ``events`` table whose
``props`` strings carry JSON); the seed picks which key residues db2
mutates or deletes and the offset of regenerated surrogate keys.

The expectations are computed by DuckDB from the written files, never by
the program under test:

* drift per table: distinct raw rows of one side whose canonical form
  (JSON ``props`` reduced to its parsed values) is absent from the other
  side -- the set semantics of ``diff_tables``;
* wizard suggestions: shared columns whose lexicographically-first 10,000
  distinct values of db1 never occur in db2.

Fixtures are built under a temporary name and published with one
``os.rename``, so an interrupted build is never reused.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass, field

import duckdb

RELATIONAL_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events",
]
SUGGEST_SAMPLE = 10000  # lotad_spark.wizard.SAMPLE_LIMIT
FIXTURE_VERSION = 3  # bump on any change to the generated bytes
ROW_GROUP_ROWS = 32768  # several row groups per file, so scans split

# Rows per unit of scale factor (the table sizes of the TPC-H-like
# testdata this repository's bench uses).
ROWS_PER_SF = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "events": 1_000_000,
}

# Canonical projection per table for the drift expectation: JSON-bearing
# strings compare by parsed value, as the canonical row hash does.
_EVENTS_CANON = (
    "event_id, ts, user_id, event_type, value, "
    "json_extract(props, '$.k')::VARCHAR AS props_k, "
    "json_extract_string(props, '$.tag') AS props_tag"
)


def _h(expr: str, salt: str) -> str:
    """SQL for a deterministic pseudo-random UBIGINT of ``expr``."""
    return f"hash({expr}, '{salt}')"


def _base_sql(table: str, sf: float) -> str:
    """SELECT producing the db1 version of ``table`` at scale ``sf``."""
    n = {t: max(1, int(r * sf)) for t, r in ROWS_PER_SF.items()}
    if table == "region":
        return (
            "SELECT range::INTEGER AS r_regionkey, "
            "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][range + 1] "
            "AS r_name FROM range(5)"
        )
    if table == "nation":
        return (
            "SELECT range::INTEGER AS n_nationkey, "
            "'NATION_' || range AS n_name, "
            "(range % 5)::INTEGER AS n_regionkey FROM range(25)"
        )
    if table == "customer":
        return (
            "SELECT range::BIGINT AS c_custkey, "
            "'Customer#' || lpad(range::VARCHAR, 9, '0') AS c_name, "
            f"({_h('range', 'cn')} % 25)::INTEGER AS c_nationkey, "
            f"({_h('range', 'cb')} % 1099999)::DOUBLE / 100 - 999.99 "
            "AS c_acctbal, "
            "['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']"
            f"[({_h('range', 'cm')} % 5)::INTEGER + 1] AS c_mktsegment "
            f"FROM range({n['customer']})"
        )
    if table == "supplier":
        return (
            "SELECT range::BIGINT AS s_suppkey, "
            "'Supplier#' || lpad(range::VARCHAR, 9, '0') AS s_name, "
            f"({_h('range', 'sn')} % 25)::INTEGER AS s_nationkey, "
            f"({_h('range', 'sb')} % 1099999)::DOUBLE / 100 - 999.99 "
            "AS s_acctbal "
            f"FROM range({n['supplier']})"
        )
    if table == "part":
        return (
            "SELECT range::BIGINT AS p_partkey, "
            "['large','small','hot','cold','shiny','matte']"
            f"[({_h('range', 'pa')} % 6)::INTEGER + 1] || ' ' || "
            "['ring','bolt','gear','nut','plate','spring','valve']"
            f"[({_h('range', 'pb')} % 7)::INTEGER + 1] AS p_name, "
            f"'Brand#' || ({_h('range', 'pr')} % 50) AS p_brand, "
            "['ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD']"
            f"[({_h('range', 'pt')} % 6)::INTEGER + 1] AS p_type, "
            f"({_h('range', 'ps')} % 50 + 1)::INTEGER AS p_size, "
            "900.0 + (range % 1000)::DOUBLE / 10 AS p_retailprice "
            f"FROM range({n['part']})"
        )
    if table == "orders":
        return (
            "SELECT range::BIGINT AS o_orderkey, "
            f"({_h('range', 'oc')} % {n['customer']})::BIGINT AS o_custkey, "
            f"['F','O','P'][({_h('range', 'os')} % 3)::INTEGER + 1] "
            "AS o_orderstatus, "
            f"({_h('range', 'ot')} % 50000000)::DOUBLE / 100 + 900 "
            "AS o_totalprice, "
            "TIMESTAMP '1992-01-01' + "
            f"to_days(({_h('range', 'od')} % 2400)::INTEGER) AS o_orderdate, "
            "['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']"
            f"[({_h('range', 'op')} % 5)::INTEGER + 1] AS o_orderpriority "
            f"FROM range({n['orders']})"
        )
    if table == "lineitem":
        # 1-7 lines per order (4 on average, as in TPC-H).
        return (
            "SELECT o.range::BIGINT AS l_orderkey, "
            f"({_h('o.range * 8 + l.range', 'lp')} % {n['part']})::BIGINT "
            "AS l_partkey, "
            f"({_h('o.range * 8 + l.range', 'ls')} % {n['supplier']})::BIGINT "
            "AS l_suppkey, "
            "(l.range + 1)::INTEGER AS l_linenumber, "
            f"({_h('o.range * 8 + l.range', 'lq')} % 50 + 1)::DOUBLE "
            "AS l_quantity, "
            f"({_h('o.range * 8 + l.range', 'le')} % 10000000)::DOUBLE / 100 "
            "+ 900 AS l_extendedprice, "
            f"({_h('o.range * 8 + l.range', 'ld')} % 11)::DOUBLE / 100 "
            "AS l_discount, "
            f"({_h('o.range * 8 + l.range', 'lt')} % 9)::DOUBLE / 100 "
            "AS l_tax, "
            f"['A','N','R'][({_h('o.range * 8 + l.range', 'lr')} % 3)::INTEGER + 1] "
            "AS l_returnflag, "
            f"['F','O'][({_h('o.range * 8 + l.range', 'll')} % 2)::INTEGER + 1] "
            "AS l_linestatus, "
            "TIMESTAMP '1992-01-02' + "
            f"to_days(({_h('o.range * 8 + l.range', 'lh')} % 2500)::INTEGER) "
            "AS l_shipdate "
            f"FROM range({n['orders']}) o, range(7) l "
            f"WHERE l.range < {_h('o.range', 'ln')} % 7 + 1"
        )
    if table == "events":
        return (
            "SELECT range::BIGINT AS event_id, "
            "TIMESTAMP '2024-01-01' + "
            f"to_microseconds(({_h('range', 'et')} % 86400000000)::BIGINT) AS ts, "
            f"({_h('range', 'eu')} % 5000)::BIGINT AS user_id, "
            "['view','click','purchase','error','signup']"
            f"[({_h('range', 'ey')} % 5)::INTEGER + 1] AS event_type, "
            f"({_h('range', 'ev')} % 20000)::DOUBLE / 100 AS value, "
            f"'{{\"k\": ' || ({_h('range', 'ek')} % 100) || "
            f"', \"tag\": \"' || ['a','b','c','d'][({_h('range', 'eg')} % 4)::INTEGER + 1] "
            "|| '\"}' AS props "
            f"FROM range({n['events']})"
        )
    raise ValueError(f"unknown table {table!r}")


@dataclass
class Plan:
    """What one workload writes: per-table db1 SELECT, db2 SELECT (over the
    db1 file as ``{src}``), and the canonical projection for the drift
    expectation."""

    tables: dict[str, tuple[str, str]]  # name -> (db1 sql, db2 sql)
    canon: dict[str, str] = field(default_factory=dict)
    uncompressed: set[str] = field(default_factory=set)
    params: dict = field(default_factory=dict)
    # tables the wizard runs on each pass (those the reload regenerated)
    suggest_tables: list[str] = field(default_factory=list)
    # largest JSON-free and JSON-bearing table, for the hashing rates
    hash_tables: dict[str, str] = field(default_factory=dict)
    # small string tables whose Arrow-stage cost the trace measures
    arrow_cost_tables: list[str] = field(default_factory=list)
    # route each table is meant to exercise: [strategy, hash path or None]
    intent: dict[str, list] = field(default_factory=dict)


def _residue(rng: random.Random, mod: int) -> int:
    return rng.randrange(1, mod)


def plan_compare(seed: int, sf: float) -> Plan:
    """The reference's own workload: the 8 relational tables, db2 deleting
    and shifting the rows whose key falls in seed-chosen residues, and
    reformatting every ``events.props`` JSON string (no drift)."""
    rng = random.Random(seed)
    p = {
        "customer_shift": _residue(rng, 101),
        "customer_delete": _residue(rng, 97),
        "orders_delete": _residue(rng, 89),
        "lineitem_shift": _residue(rng, 211),
    }
    db2 = {
        "customer": (
            "SELECT c_custkey, c_name, c_nationkey, "
            f"CASE WHEN c_custkey % 101 = {p['customer_shift']} "
            "THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal, "
            f"c_mktsegment FROM {{src}} WHERE c_custkey % 97 != {p['customer_delete']}"
        ),
        "orders": f"SELECT * FROM {{src}} WHERE o_orderkey % 89 != {p['orders_delete']}",
        "lineitem": (
            "SELECT * REPLACE (CASE WHEN l_orderkey % 211 = "
            f"{p['lineitem_shift']} THEN l_quantity + 1 ELSE l_quantity END "
            "AS l_quantity) FROM {src}"
        ),
        # JSON reformat: key order and whitespace change, values do not.
        "events": (
            "SELECT * REPLACE ('{ \"tag\": \"' || json_extract_string(props, '$.tag') "
            "|| '\", \"k\": ' || json_extract(props, '$.k') || ' }' AS props) "
            "FROM {src}"
        ),
    }
    return Plan(
        tables={
            t: (_base_sql(t, sf), db2.get(t, "SELECT * FROM {src}"))
            for t in RELATIONAL_TABLES
        },
        canon={"events": _EVENTS_CANON},
        params=p,
        hash_tables={"fast": "lineitem", "arrow": "events"},
        arrow_cost_tables=["region", "customer"],
        intent={t: ["window", "arrow"] for t in RELATIONAL_TABLES},
    )


def _comment(n_md5: int) -> str:
    """SQL for an ``l_comment`` of ``32 * n_md5`` hex characters of
    incompressible text. The bulk lineitem tables are written uncompressed
    with it, so the optimizer's size estimate (which follows bytes on disk)
    clears the planner's probe floors at a row count a short run can
    afford."""
    return " || ".join(
        f"md5(l_orderkey::VARCHAR || '-{i}-' || l_linenumber)" for i in range(n_md5)
    )


def plan_bulk(seed: int, sf: float) -> Plan:
    """Three tables sized so every diff route runs:

    * ``lineitem`` with a 768-character comment: its combined estimate
      clears both probe floors (JSON-free -> fast hash; unique rows ->
      window);
    * ``lineitem_dup``: the same rows with a 128-character comment plus a
      constant row repeated ``2 * orders`` times (a third of the table) on
      both sides; its estimate clears only the density-probe floor
      (duplicates -> groupby, Arrow hash);
    * ``events``: JSON ``props``, small enough to skip both probes
      (window + Arrow hash), with db2 a reload that regenerated
      ``event_id`` (every row drifts; the wizard must name ``event_id``).
    """
    rng = random.Random(seed)
    n_orders = max(1, int(ROWS_PER_SF["orders"] * sf))
    p = {
        "lineitem_shift": _residue(rng, 211),
        "lineitem_delete": _residue(rng, 233),
        "event_id_offset": 10 ** 9 + rng.randrange(10 ** 6) * 1000,
    }
    li = _base_sql("lineitem", sf)
    wide = f"SELECT *, {_comment(24)} AS l_comment FROM ({li})"
    # The constant row comes from an unmutated key (residue 0 is never
    # chosen for a shift or delete), so its copies cancel on both sides.
    dup = (
        f"WITH li AS (SELECT *, {_comment(4)} AS l_comment FROM ({li})) "
        "SELECT * FROM li UNION ALL "
        "SELECT c.* FROM (SELECT * FROM li WHERE l_orderkey % 211 = 0 "
        "ORDER BY l_orderkey, l_linenumber LIMIT 1) c, "
        f"range({2 * n_orders})"
    )
    mutate = (
        "SELECT * REPLACE (CASE WHEN l_orderkey % 211 = "
        f"{p['lineitem_shift']} THEN l_quantity + 1 ELSE l_quantity END "
        f"AS l_quantity) FROM {{src}} WHERE l_orderkey % 233 != {p['lineitem_delete']}"
        " OR l_orderkey % 211 = 0"
    )
    return Plan(
        tables={
            "lineitem": (wide, mutate),
            "lineitem_dup": (dup, mutate),
            "events": (
                _base_sql("events", sf),
                "SELECT * REPLACE (event_id + "
                f"{p['event_id_offset']} AS event_id) FROM {{src}}",
            ),
        },
        canon={"events": _EVENTS_CANON},
        uncompressed={"lineitem", "lineitem_dup"},
        params=p,
        suggest_tables=["events"],
        hash_tables={"fast": "lineitem", "arrow": "events"},
        intent={
            "lineitem": ["window", "fast"],
            "lineitem_dup": ["groupby", "arrow"],
            "events": ["window", "arrow"],
        },
    )


PLANS = {"compare": plan_compare, "bulk": plan_bulk}


def _copy(con, sql: str, path: str, uncompressed: bool) -> None:
    codec = "UNCOMPRESSED" if uncompressed else "SNAPPY"
    con.execute(
        f"COPY ({sql}) TO '{path}' (FORMAT PARQUET, COMPRESSION {codec}, "
        f"ROW_GROUP_SIZE {ROW_GROUP_ROWS})"
    )


def _drift(con, p1: str, p2: str, canon: str) -> tuple[int, int]:
    """Distinct raw rows of each side whose canonical form is absent from
    the other side."""

    def keys(src: str) -> str:
        return f"SELECT md5(CAST(c AS VARCHAR)) AS k FROM (SELECT {canon} FROM {src}) c"

    def one_side(a: str, b: str) -> int:
        ka = keys(f"(SELECT DISTINCT * FROM '{a}')")
        kb = keys(f"'{b}'")
        return con.execute(
            f"WITH ka AS ({ka}), kb AS ({kb}) "
            "SELECT count(*) FROM ka WHERE k NOT IN (SELECT k FROM kb)"
        ).fetchone()[0]

    return one_side(p1, p2), one_side(p2, p1)


def _suggest(con, p1: str, p2: str) -> list[str]:
    """DuckDB re-derivation of ``wizard.suggest_ignore_columns``."""
    t1 = {r[0]: r[1] for r in con.execute(f"DESCRIBE SELECT * FROM '{p1}'").fetchall()}
    t2 = {r[0]: r[1] for r in con.execute(f"DESCRIBE SELECT * FROM '{p2}'").fetchall()}
    out = []
    for c in sorted(set(t1) & set(t2)):
        if t1[c] != t2[c]:
            continue
        q = f'"{c}"'
        hit = con.execute(
            f"WITH s AS (SELECT DISTINCT {q}::VARCHAR AS v FROM '{p1}' "
            f"WHERE {q} IS NOT NULL ORDER BY v LIMIT {SUGGEST_SAMPLE}) "
            f"SELECT count(*) FROM '{p2}' WHERE {q}::VARCHAR IN (SELECT v FROM s)"
        ).fetchone()[0]
        if hit == 0:
            out.append(c)
    return out


def _count(con, path: str) -> int:
    return con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]


def build(workload: str, seed: int, sf: float, root: str, keep: int = 2) -> dict:
    """Materialize (or reuse) the fixture for (workload, seed, sf) under
    ``root`` and return its manifest: db1/db2 paths, per-table rows per
    side, expected drift counts and expected wizard suggestions.

    At most ``keep`` fixtures stay cached; older ones are removed."""
    name = f"{workload}-v{FIXTURE_VERSION}-sf{sf}-seed{seed}"
    final = os.path.join(root, name)
    manifest_path = os.path.join(final, "manifest.json")
    if os.path.exists(manifest_path):
        os.utime(final)
        with open(manifest_path) as fh:
            return json.load(fh)
    os.makedirs(root, exist_ok=True)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    db1, db2 = os.path.join(tmp, "db1"), os.path.join(tmp, "db2")
    os.makedirs(db1)
    os.makedirs(db2)
    plan = PLANS[workload](seed, sf)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.join(root, '.duckdb_tmp')}'")
    tables = {}
    try:
        for t, (sql1, sql2) in plan.tables.items():
            p1, p2 = f"{db1}/{t}.parquet", f"{db2}/{t}.parquet"
            unc = t in plan.uncompressed
            _copy(con, sql1, p1, unc)
            _copy(con, sql2.replace("{src}", f"'{p1}'"), p2, unc)
            n1, n2 = _drift(con, p1, p2, plan.canon.get(t, "*"))
            tables[t] = {
                "rows": [_count(con, p1), _count(con, p2)],
                "drift": [n1, n2],
                "suggest": _suggest(con, p1, p2),
                "bytes": [os.path.getsize(p1), os.path.getsize(p2)],
            }
    finally:
        con.close()
    manifest = {
        "workload": workload, "seed": seed, "sf": sf,
        "params": plan.params, "tables": tables,
        "suggest_tables": plan.suggest_tables, "hash_tables": plan.hash_tables,
        "arrow_cost_tables": plan.arrow_cost_tables, "intent": plan.intent,
        "db1": os.path.join(final, "db1"), "db2": os.path.join(final, "db2"),
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    _evict(root, keep)
    return manifest


def _evict(root: str, keep: int) -> None:
    done = [
        os.path.join(root, d) for d in os.listdir(root)
        if os.path.exists(os.path.join(root, d, "manifest.json"))
    ]
    done.sort(key=os.path.getmtime, reverse=True)
    for old in done[keep:]:
        shutil.rmtree(old, ignore_errors=True)
