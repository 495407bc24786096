"""catalog_panel: a fixed panel of above-floor catalog entries over the
catalog's sf0.1 test tables.

Each operation is one entry, `plans.catalog.specs()[name].fn(spark,
tables)` followed by `count()`, as the catalog's own bench times it. The
tables are byte-identical copies of the sf0.1 tables the entries read,
kept in `tables/` beside this file so a run reads nothing outside its
checkout; the run's seed only sets the panel's order in every pass. The
untimed warm-up pass collects every entry's full result, which is then
compared with its `oracle_sql()` run by DuckDB over the same parquet
files; each timed operation checks its row count against that oracle.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

from core import PANEL, Context, Op, Outcome, closed_loop, median_by_key
from host import dir_bytes, settle

TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")
TABLE_NAMES = sorted({t for tables in PANEL.values() for t in tables})


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        return float(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, datetime.timedelta):
        return v.total_seconds()
    return v


def _rows(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [tuple(_canon(c) for c in r)
            for r in pdf[cols].astype(object).itertuples(index=False, name=None)]
    return sorted(rows, key=lambda r: repr(tuple(
        round(x, 6) if isinstance(x, float) else x for x in r)))


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def oracle(sql: str, tables_dir: str):
    con = duckdb.connect()
    try:
        for name in TABLE_NAMES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{tables_dir}/{name}.parquet')")
        return con.execute(sql).df()
    finally:
        con.close()


def expected(sql: str, tables_dir: str, cache_dir: str) -> dict:
    """The oracle's result as {"columns", "rows"} (canonical, sorted).

    The near-duplicate oracles are slow in DuckDB (8 s for dedup_components
    at sf0.1), and the panel tables are the same in every run, so results
    are cached in the checkout, keyed by the SQL text and the bytes of
    every table."""
    key = hashlib.sha256(sql.encode())
    for name in TABLE_NAMES:
        with open(os.path.join(tables_dir, f"{name}.parquet"), "rb") as f:
            key.update(f.read())
    path = os.path.join(cache_dir, f"oracle-{key.hexdigest()[:32]}.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        pass
    pdf = oracle(sql, tables_dir)
    out = {"columns": sorted(pdf.columns), "rows": _rows(pdf)}
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return json.loads(json.dumps(out))  # the same shape a cache hit returns


def compare(spark_pdf, want: dict) -> str | None:
    """None when the results match as multisets of rows (floats within
    1e-9 relative), else the first difference."""
    if sorted(spark_pdf.columns) != want["columns"]:
        return f"columns {sorted(spark_pdf.columns)} vs {want['columns']}"
    a, b = _rows(spark_pdf), [_canon(r) for r in want["rows"]]
    if len(a) != len(b):
        return f"{len(a)} rows vs oracle {len(b)}"
    for x, y in zip(a, b):
        if not _same(x, y):
            return f"row {x} vs oracle {y}"
    return None


def catalog_panel(ctx: Context, session_s: float) -> Outcome:
    from dsacord_spark.plans.catalog import specs

    spark, tracer, tables = ctx.spark, ctx.tracer, TABLES
    sizes = {t: pq.ParquetFile(os.path.join(tables, f"{t}.parquet")).metadata.num_rows
             for t in TABLE_NAMES}
    reg = specs()
    order_rng = np.random.default_rng([ctx.seed, 4])
    problems: list[str] = []

    wants = {name: expected(reg[name].sql, tables, ctx.cache_dir) for name in PANEL}
    expected_rows = {name: len(want["rows"]) for name, want in wants.items()}
    setup_s = session_s
    results = {}
    for name in PANEL:  # warm-up pass, collecting each full result
        t0 = time.perf_counter()
        results[name] = reg[name].fn(spark, tables).toPandas()
        setup_s += time.perf_counter() - t0
        settle(spark)
    for name, pdf in results.items():
        diff = compare(pdf, wants[name])
        if diff:
            problems.append(f"{name}: {diff}")

    queue: list[str] = []
    per_entry: dict[str, list[dict]] = {n: [] for n in PANEL}

    def step(i: int) -> Op:
        if not queue:
            queue.extend(order_rng.permutation(list(PANEL)).tolist())
        name = queue.pop(0)
        t0 = time.perf_counter()
        with tracer.span(f"plans.{name}.build"):
            df = reg[name].fn(spark, tables)
        with tracer.span(f"plans.{name}.exec"):
            n = df.count()
        wall = time.perf_counter() - t0
        ok = n == expected_rows[name]
        if not ok:
            problems.append(f"{name}: counted {n} rows, oracle {expected_rows[name]}")
        if ctx.trace:
            b = tracer.calls[f"plans.{name}.build"][-1]
            e = tracer.calls[f"plans.{name}.exec"][-1]
            per_entry[name].append({
                "build_s": b["wall_s"], "exec_s": e["wall_s"],
                **{k: b[k] + e[k] for k in ("jobs", "stages", "shuffle_bytes")}})
        return Op(name, wall, sum(sizes[t] for t in PANEL[name]), n, ok=ok)

    ops = closed_loop(ctx.seconds, step, len(PANEL), lambda: settle(spark),
                      group=len(PANEL))
    layers = {f"plans.{name}.{k}": v for name, calls in per_entry.items()
              for k, v in median_by_key(calls).items()}
    # the panel stores nothing: its footprint is the fixed input tables'
    _, size = dir_bytes(tables)
    return Outcome(setup_s, ops, size / sum(sizes.values()), problems, layers)
