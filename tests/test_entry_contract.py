"""Driver-contract validation: run every queries() entry on Spark and its
oracle_sql() on DuckDB over the same parquet (sf0.001), compare row
counts, column names, and order-insensitive values — mimicking the
driver's CORRECTNESS check so mismatches surface before the real gate."""

import math
import re

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
# The driver gate runs at sf0.01 — precision-boundary rows (e.g. a cosine
# that rounds differently in float32 vs float64) only appear at the larger
# SF, so the contract must run there too (round-2 ann_cosine lesson).
SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

_CTE_HEAD = re.compile(r"(\bWITH\s+|,\s*)(\w+)\s+AS\s+\(", re.I)


def _materialize_ctes(sql: str) -> str:
    """Marks every CTE of a non-recursive query AS MATERIALIZED.  DuckDB
    1.0 inlines each CTE reference, so a chain whose every stage reads
    its predecessor twice (the unrolled PageRank oracle: r{i-1} feeds both
    c{i} and r{i}) runs 2^iters copies of the chain — pagerank_10iter
    outgrows DuckDB's default memory limit on a 16 GB host.  Materialized,
    each CTE is computed once; the relations, and so the rows, are the
    same (DuckDB >= 1.1 materializes multiply-referenced CTEs itself)."""
    if re.search(r"\bRECURSIVE\b", sql, re.I):
        return sql
    return _CTE_HEAD.sub(r"\1\2 AS MATERIALIZED (", sql)


def _duck(sql: str, sf_dir: str = SF_DIR):
    """Returns (columns, rows), fetched through pandas — the same path the
    driver uses, so DuckDB HUGEINT surfaces as float64 here exactly as it
    does at the real gate (fetchall() would mask it as Python int)."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    pdf = con.sql(_materialize_ctes(sql)).df()
    con.close()
    cols = list(pdf.columns)
    rows = [
        tuple(v.item() if hasattr(v, "item") else v for v in rec)
        for rec in pdf.itertuples(index=False, name=None)
    ]
    return cols, rows


def _normalize(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in sorted(cols):
            v = r[c] if not isinstance(r, tuple) else r[cols.index(c)]
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return out


def _entry_module():
    import importlib
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as m

    importlib.reload(m)
    return m


@pytest.fixture(scope="module")
def contract():
    m = _entry_module()
    return m.queries(), m.oracle_sql()


def _compare(spark, fn, sql, name, sf_dir=SF_DIR):
    sdf = fn(spark, sf_dir)
    scols = sdf.columns
    srows = sdf.collect()
    dcols, drows = _duck(sql, sf_dir)
    assert sorted(scols) == sorted(dcols), f"{name}: column mismatch {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: rowcount {len(srows)} vs {len(drows)}"
    got = _normalize([tuple(r[c] for c in dcols) for r in srows], dcols)
    want = _normalize(drows, dcols)
    for i, (g, w) in enumerate(zip(got, want)):
        for a, b in zip(g, w):
            # Type-strict: the driver hashes FORMATTED values, so a DuckDB
            # HUGEINT surfacing as 58.0 against Spark's BIGINT 58 is a
            # hash-amber even when numerically equal.  int-vs-float is a
            # failure here, not a tolerance case.
            if isinstance(a, float) or isinstance(b, float):
                assert isinstance(a, float) and isinstance(b, float), (
                    name, i, "int/float type mismatch", g, w,
                )
                assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6), (name, i, g, w)
            else:
                assert str(a) == str(b), (name, i, g, w)


ALL_NAMES = None


def _names():
    m = _entry_module()
    return sorted(set(m.queries()) & set(m.oracle_sql()))


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=["sf0.001", "sf0.01"])
@pytest.mark.parametrize("name", _names())
def test_query_matches_oracle(spark, contract, name, sf_dir):
    qs, os_ = contract
    _compare(spark, qs[name], os_[name], name, sf_dir)


def test_every_query_has_oracle(contract):
    qs, os_ = contract
    assert set(os_) <= set(qs)
    # every query in this round is SQL-expressible and oracled
    assert set(qs) == set(os_)


def test_all_54_plus_registered_entries_run_here(contract):
    """The driver gate samples 50 of the registered entries per round; the
    local contract parametrizes over ALL of them at BOTH SFs, so a sample
    rotation can never land on a silently-stale entry (r4 verdict item 4:
    62 registered as of round 5 — this pins the floor explicitly)."""
    qs, _ = contract
    assert len(qs) >= 62, f"registry shrank: {len(qs)} entries"
    assert set(_names()) == set(qs)  # every one is in the parametrization


def test_entry_smoke(spark):
    m = _entry_module()
    df = m.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "doc_id" in df.columns and "score" in df.columns
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_sessionize_subsecond_boundary(spark, tmp_path):
    """The round-1 latent bug: a gap in (1800.0, 1801.0) must be compared
    FRACTIONALLY on both sides — unix_timestamp truncation would split a
    1800.5s gap on one side only.  Crafted events hit both sides of the
    boundary."""
    import datetime as dt

    import duckdb
    import pandas as pd

    import __spark_entry__ as m

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: gap of exactly 1800.5s -> SPLITS (2 sessions)
        (1, t0, 10),
        (2, t0 + dt.timedelta(seconds=1800, microseconds=500000), 10),
        # user 2: gap of 1799.5s -> does NOT split (1 session)
        (3, t0, 20),
        (4, t0 + dt.timedelta(seconds=1799, microseconds=500000), 20),
        # user 3: gap of exactly 1800.0s -> does NOT split (> comparison)
        (5, t0, 30),
        (6, t0 + dt.timedelta(seconds=1800), 30),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id"])
    # Spark cannot read TIMESTAMP(NANOS) parquet; write microseconds
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf["event_type"] = "view"
    pdf["value"] = 1.0
    pdf["props"] = "{}"
    d = tmp_path / "sfx"
    d.mkdir()
    pdf.to_parquet(d / "events.parquet")

    got = {
        r["user_id"]: r["n_sessions"]
        for r in m.q_events_sessionize(spark, str(d)).collect()
    }
    assert got == {10: 2, 20: 1, 30: 1}

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
    want = {int(u): int(n) for u, n, _ in con.sql(m.SQL_EVENTS_SESSIONIZE).fetchall()}
    con.close()
    assert want == got


_PACKAGE_OPERATOR_MODULES = (
    "websearchengine_spark.operators.",
    "websearchengine_spark.streaming.",
)
# shared plumbing, not an operator an entry can be credited with
_NOT_OPERATORS = ("websearchengine_spark.operators.util",)


def _is_operator_module(module: str | None) -> bool:
    return (
        module is not None
        and module.startswith(_PACKAGE_OPERATOR_MODULES)
        and module not in _NOT_OPERATORS
    )


def test_entries_call_the_package():
    """Static guard for the oracle's reach: every registered entry either
    calls a package operator (an operators/streaming import, made in the
    entry itself or in a module helper it calls) or is listed in
    INLINE_ENTRIES with its one-line reason — so the DuckDB gate checks
    the code users run, not a copy of it.  INLINE_ENTRIES must list only
    registered entries that really stay inline."""
    import ast
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "__spark_entry__.py")) as f:
        tree = ast.parse(f.read())
    funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    # names bound at module level by an operator import
    op_names = {
        a.asname or a.name
        for n in tree.body
        if isinstance(n, ast.ImportFrom) and _is_operator_module(n.module)
        for a in n.names
    }
    inline = next(
        (
            ast.literal_eval(n.value)
            for n in tree.body
            if isinstance(n, ast.AnnAssign)
            and getattr(n.target, "id", None) == "INLINE_ENTRIES"
        ),
        None,
    )
    assert isinstance(inline, dict), "INLINE_ENTRIES: dict[str, str] missing"
    assert all(isinstance(v, str) and v.strip() for v in inline.values())

    registry = next(
        s.value for s in ast.walk(funcs["queries"]) if isinstance(s, ast.Return)
    )
    entries = {k.value: v.id for k, v in zip(registry.keys, registry.values)}

    def direct(fn: ast.FunctionDef) -> tuple[bool, set[str]]:
        calls_op, callees = False, set()
        for n in ast.walk(fn):
            if isinstance(n, ast.ImportFrom) and _is_operator_module(n.module):
                calls_op = True
            elif isinstance(n, ast.Call) and isinstance(n.func, ast.Name):
                calls_op |= n.func.id in op_names
                if n.func.id in funcs:
                    callees.add(n.func.id)
        return calls_op, callees

    def reaches(name: str, seen: set[str]) -> bool:
        if name in seen:
            return False
        seen.add(name)
        calls_op, callees = direct(funcs[name])
        return calls_op or any(reaches(c, seen) for c in callees)

    calling = {e for e, fn in entries.items() if reaches(fn, set())}
    assert not set(inline) - set(entries), "INLINE_ENTRIES lists unregistered names"
    assert not calling & set(inline), (
        "listed inline but calls the package:", sorted(calling & set(inline))
    )
    assert not set(entries) - calling - set(inline), (
        "entries neither calling a package operator nor in INLINE_ENTRIES:",
        sorted(set(entries) - calling - set(inline)),
    )
