"""The batch lane: a band of catalog queries, each timed as build (the
``QUERIES[name](spark, sf)`` call, which constructs the plan and runs any
driver-side jobs) and exec (the ``noop`` write of the returned plan)."""

from __future__ import annotations

import decimal
import math
import os
import time

from perfbench import gen
from perfbench.serving import Call, Outcome, traced_turn
from perfbench.trace import job_counts

# Construction-bound queries: most of their time is driver-side plan
# building and iterative driver jobs.  A construction-side change should
# move these and leave the controls flat.
CONSTRUCTION = ["supplier_bt", "parts_pagerank"]
# Execution-bound controls: plain SQL plans built in well under 0.1 s.
CONTROLS = ["tpch_q18", "tpch_q1"]
BAND = CONSTRUCTION + CONTROLS
# The tables the band reads through the table cache, cached the way
# bench.py caches them.
CACHED = ["lineitem", "orders", "customer"]
# Per-query medians over at least two timed rounds (one round is the
# first after the warm rep, which still runs slower than the next).
MIN_ROUNDS = 2


# The comparison rule of tools/check_parity.py (the local oracle gate),
# restated so the benchmark does not depend on a development script.
def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    return v


def _rows(cols: list[str], rows) -> list[tuple]:
    """Order-insensitive, float-tolerant canonical form of a result."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in idx) for r in rows]
    return sorted(out, key=lambda row: tuple((c is not None, type(c).__name__, repr(c)) for c in row))


def _places(v: float) -> int:
    """Decimal places of v's shortest repr (1e-05 shows 5, 25.5 shows 1)."""
    exp = decimal.Decimal(repr(v)).as_tuple().exponent
    return -exp if isinstance(exp, int) and exp < 0 else 0


def column_places(rows: list[tuple]) -> list[int]:
    """Per column, the most decimal places any float of ``rows`` shows, at
    most 9.  That is the column's rounding: a value whose trailing digits
    are zero (round(25.50004, 4) == 25.5) shows fewer places than the rest."""
    width = len(rows[0]) if rows else 0
    return [min(9, max((_places(r[i]) for r in rows if isinstance(r[i], float)
                        and math.isfinite(r[i])), default=0)) for i in range(width)]


def cells_match(got, want, places: int) -> bool:
    """Equal, or, for floats of a column rounded to ``places`` decimals,
    within one unit in that place: a float sum rounded to d places can land
    on either side of a rounding boundary, since Spark and DuckDB add in
    different orders (and Spark's order can change from run to run).  Two
    ulps more absorb the binary representation of the decimal values."""
    if isinstance(got, float) and isinstance(want, float) and math.isfinite(got) and math.isfinite(want):
        slack = 2 * math.ulp(max(abs(got), abs(want)))
        return abs(got - want) <= 10.0 ** -places + slack
    return got == want


def check_query(con, name: str, cols: list[str], rows) -> str | None:
    """None when the Spark result matches the query's ORACLES SQL run by
    DuckDB, else why not."""
    from mcpvectordb_spark.catalog import ORACLES

    cur = con.execute(ORACLES[name])
    want_cols = [d[0] for d in cur.description]
    want_rows = cur.fetchall()
    if sorted(cols) != sorted(want_cols):
        return f"columns {sorted(cols)} vs oracle {sorted(want_cols)}"
    got, want = _rows(cols, [tuple(r) for r in rows]), _rows(want_cols, want_rows)
    if len(got) != len(want):
        return f"{len(got)} rows vs oracle {len(want)}"
    places = column_places(want)
    for a, b in zip(got, want):
        if not all(cells_match(x, y, p) for x, y, p in zip(a, b, places)):
            return f"row {a} vs oracle {b}"
    return None


def run_catalog_band(spark, work: str, seed: int, seconds: float, tracer=None) -> Outcome:
    import duckdb

    from mcpvectordb_spark.catalog import QUERIES
    from mcpvectordb_spark.io import enable_table_cache

    out = Outcome()
    sf = os.path.join(work, "tables")
    t0 = time.perf_counter()
    gen.write_catalog_tables(seed, sf)
    enable_table_cache(spark, sf, CACHED)
    out.setup["build_s"] = time.perf_counter() - t0

    # untimed warm rep; its collected rows are checked against the oracles
    # (the check's own time is not part of the warm-up)
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    warm = 0.0
    for name in BAND:
        t0 = time.perf_counter()
        try:
            df = QUERIES[name](spark, sf)
            cols, rows = df.columns, df.collect()
        except Exception as exc:  # a query that raises fails its check
            out.errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            continue
        finally:
            warm += time.perf_counter() - t0
        why = check_query(con, name, cols, rows)
        if why:
            out.errors.append(f"{name}: {why}")
    con.close()
    out.setup["warmup_s"] = warm

    sc = spark.sparkContext
    t0 = time.perf_counter()
    rnd = 0
    while time.perf_counter() - t0 < seconds or rnd < MIN_ROUNDS:
        r0 = time.perf_counter()
        for i, name in enumerate(BAND):
            traced = tracer is not None and traced_turn(i, rnd)
            if tracer is not None:
                tracer.enabled = traced
            call = Call(name, 0.0, False, traced=traced)
            root = None
            if traced:
                call.call_id = tracer.call_id = rnd * len(BAND) + i + 1
                root = tracer.begin(f"client.{name}")
                tracer.call_root = root.sid
            try:
                if traced:
                    sc.setJobGroup(f"perfbench-{call.call_id}-build", name)
                c0 = time.perf_counter()
                df = QUERIES[name](spark, sf)
                c1 = time.perf_counter()
                if traced:
                    sc.setJobGroup(f"perfbench-{call.call_id}-exec", name)
                df.write.format("noop").mode("overwrite").save()
                c2 = time.perf_counter()
                call.latency, call.ok = c2 - c0, True
                call.split = (c1 - c0, c2 - c1)
            except Exception as exc:
                call.error = f"{type(exc).__name__}: {str(exc)[:200]}"
            finally:
                if traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    tracer.finish(root)
                    tracer.call_root = None
            if traced:
                b = job_counts(sc, f"perfbench-{call.call_id}-build")
                e = job_counts(sc, f"perfbench-{call.call_id}-exec")
                call.jobs = tuple(x + y for x, y in zip(b, e))
            out.calls.append(call)
        out.cycles.append(time.perf_counter() - r0)
        rnd += 1
    out.window_s = time.perf_counter() - t0
    if tracer is not None:
        tracer.enabled = False
    return out
