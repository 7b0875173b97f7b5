"""Driver-contract conformance: every queries() entry matches its
oracle_sql() twin exactly (rows, column names, values) — the same
check the grading driver runs, here at sf0.001 for speed."""

from __future__ import annotations

import ast
import importlib.util
import math
import re
from pathlib import Path

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["customer", "orders", "documents"]


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", Path(__file__).resolve().parents[1] / "__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


ENTRY = _load_entry()
QUERIES = ENTRY.queries()
ORACLES = ENTRY.oracle_sql()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_oracle_coverage():
    missing = set(QUERIES) - set(ORACLES)
    assert not missing, f"queries without oracle: {missing}"
    stale = set(ORACLES) - set(QUERIES)
    assert not stale, f"oracles without query: {stale}"


def test_registered_tables_are_read():
    """Source scan, nothing executed: every table the harness registers
    is read by some query, and scripts/contract_check.py registers the
    same list. A registered table no query reads hides a deleted
    operator family's input; a missing one fails loudly instead."""
    repo = Path(__file__).resolve().parents[1]
    entry_src = (repo / "__spark_entry__.py").read_text()
    read = set(re.findall(r'_read\(\s*\w+,\s*\w+,\s*"(\w+)"\s*\)', entry_src))
    unread = sorted(set(TABLES) - read)
    assert not unread, f"registered but read by no query: {unread}"

    tree = ast.parse((repo / "scripts" / "contract_check.py").read_text())
    loops = [
        ast.literal_eval(n.iter)
        for n in ast.walk(tree)
        if isinstance(n, ast.For) and isinstance(n.iter, ast.List)
    ]
    assert loops == [TABLES], f"contract_check.py tables {loops} != {TABLES}"


def test_entry_smoke(spark):
    df = ENTRY.entry(spark)
    assert df.count() > 0
    assert df.columns == ["doc_id", "kind", "text", "media_ref", "offset"]


def _canon(v):
    if v is None:
        return (0, "")
    if isinstance(v, float):
        if math.isnan(v):
            return (2, "nan")
        return (1, repr(v))
    return (1, repr(v))


@pytest.fixture(scope="module")
def results(spark, request):
    """The SELECTED query/oracle pairs computed ONCE through one
    thread pool — Spark accepts concurrent job submission from one
    session (py4j releases the GIL on socket waits) and each DuckDB
    task gets its own connection. Per-query assertions are unchanged
    and stay in their own parameterized test below (an exception is
    stored and re-raised THERE, so a failing query fails exactly its
    own test); only the scheduling is batched. Computes only the
    names pytest actually collected, so `-k one_query` stays a
    seconds-long debug loop instead of a full sweep."""
    from concurrent.futures import ThreadPoolExecutor

    def spark_side(name):
        try:
            sdf = QUERIES[name](spark, SF_DIR)
            cols = sorted(sdf.columns)
            return cols, [tuple(r) for r in sdf.select(*cols).collect()]
        except Exception as exc:  # re-raised in the owning test
            return exc

    def oracle_side(name):
        c = duckdb.connect()
        try:
            for t in TABLES:
                c.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
                )
            return c.execute(ORACLES[name]).df()
        except Exception as exc:
            return exc
        finally:
            c.close()

    try:
        names = sorted({
            item.callspec.params["name"]
            for item in request.session.items
            if getattr(item, "function", None) is not None
            and item.function.__name__ == "test_query_matches_oracle"
        })
    except Exception:
        names = sorted(QUERIES)
    if not names:
        names = sorted(QUERIES)
    # two DEDICATED pools running concurrently: mixing both engines in
    # one pool starves Spark's submission threads behind GIL-holding
    # DuckDB execution (measured 139 s vs 82 s for the full sweep);
    # separate pools keep the JVM saturated while the oracles run
    with ThreadPoolExecutor(8) as sx, ThreadPoolExecutor(4) as ox:
        spark_futs = {n: sx.submit(spark_side, n) for n in names}
        oracle_futs = {n: ox.submit(oracle_side, n) for n in names}
        spark_res = {n: f.result() for n, f in spark_futs.items()}
        oracle_res = {n: f.result() for n, f in oracle_futs.items()}
    return spark_res, oracle_res


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, results):
    spark_res, oracle_res = results
    for r in (spark_res[name], oracle_res[name]):
        if isinstance(r, Exception):
            raise r
    spark_cols, got_rows = spark_res[name]
    oracle = oracle_res[name]
    assert sorted(oracle.columns) == spark_cols, (
        f"{name}: columns {sorted(oracle.columns)} != {spark_cols}"
    )
    want_rows = [
        tuple(r) for r in oracle[spark_cols].itertuples(index=False, name=None)
    ]
    assert len(got_rows) == len(want_rows), f"{name}: row count"
    gs = sorted([tuple(_canon(v) for v in r) for r in got_rows])
    ws = sorted([tuple(_canon(v) for v in r) for r in want_rows])
    for i, (g, w) in enumerate(zip(gs, ws)):
        assert g == w, f"{name}: row {i}: {g} != {w}"
