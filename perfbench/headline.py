"""The ``query-headline`` workload: the 14 ``bench.HEADLINE`` registry
queries on the sf0.01 tables, one caller, each query run to a noop sink
before the next starts.

This is the operator layer (dedup, ANN, merge); it never lists files
or touches a state store, so a gain on ``watch-tree`` should leave it
unchanged and the other way round. The first pass runs in a fresh
session and collects every result for the DuckDB oracle check
(``headline_cold_s``); later passes go to the noop sink, and
``steady_s`` is the sum of the per-query medians, as ``bench.py``
reports. The tables are fixed, so ``--seed`` changes nothing here; the
queries run in ``bench.HEADLINE`` order.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import duckdb
import pandas as pd

from bench import HEADLINE
from files_kraken_spark.queries import REGISTRY
from files_kraken_spark.session import get_session
from files_kraken_spark.sources.tables import load_table
from tools.oracle_check import TABLES, table_hash

from .trace import SPAN_KEYS, Tracer, span_metrics

# a copy of the sf0.01 test tables (TESTDATA.md), the oracle gate's scale
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
SETUP_REPS = 3
MIN_PASSES = 1
# the per-layer metrics this workload reports (run.py fails a traced
# run that leaves one of them without a value)
PER_LAYER = {"session.start_s", "fixture.build_s", "driver_peak_rss_mb", "headline_total_s",
             "headline_cold_s"} | {f"headline.{k}" for k in SPAN_KEYS} | {
    f"query.{n}_{m}" for n in HEADLINE for m in ("s", "jobs", "shuffle_bytes", "python_bytes")}


def _setup(spark) -> None:
    """Open every input table and resolve its schema."""
    for t in TABLES:
        load_table(spark, SF_DIR, t).columns


def _oracle():
    """A DuckDB connection with every input table as a view."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(SF_DIR, t)}.parquet'")
    return con


def _check(name: str, got: pd.DataFrame, con) -> bool:
    """The oracle gate's comparison: columns, row count, value hash."""
    spec = REGISTRY[name]
    if spec.oracle is None:
        return len(got) > 0  # rows-only in the gate
    want = con.execute(spec.oracle).df()
    problems = []
    if sorted(got.columns) != sorted(want.columns):
        problems.append(f"columns {sorted(got.columns)} vs {sorted(want.columns)}")
    elif len(got) != len(want):
        problems.append(f"{len(got)} rows vs {len(want)}")
    elif table_hash(got) != table_hash(want):
        problems.append("value hash differs")
    for p in problems:
        print(f"[perfbench] {name}: {p} (spark vs oracle)", file=sys.stderr)
    return not problems


def _collect(df) -> pd.DataFrame:
    """The result as the oracle gate reads it: collected rows, dtypes
    inferred by pandas."""
    return pd.DataFrame([tuple(r) for r in df.collect()], columns=df.columns).infer_objects()


def _noop(df) -> bool:
    """Execute every column of the result and drop it."""
    df.write.format("noop").mode("overwrite").save()
    return True


def _attempt(name: str, op):
    """Run one op; a failure is reported and returns None, and the run
    goes on."""
    try:
        return op()
    except Exception as e:
        print(f"[perfbench] {name} failed: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
        return None


def run(ctx) -> dict:
    # set-up, timed SETUP_REPS times: get the session and open the
    # tables (the fixture); the first time launches the JVM
    setups, fixtures = [], []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark = get_session("perfbench-headline", extra_conf=ctx.conf)
        if rep == 0:
            ctx.layer["session.start_s"] = time.perf_counter() - t0
            spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        _setup(spark)
        fixtures.append(time.perf_counter() - t1)
        setups.append(time.perf_counter() - t0)
    ctx.layer["fixture.build_s"] = statistics.median(fixtures)

    print(f"[perfbench] set-up {setups[0]:.3f} s + {SETUP_REPS - 1} x "
          f"{statistics.median(setups[1:]):.3f} s", file=sys.stderr)
    tracer = Tracer(spark, ctx.trace)
    order = list(HEADLINE)
    attempted = failed = 0
    correct = True
    cold: dict[str, float] = {}
    results: dict[str, pd.DataFrame] = {}
    for name in order:
        attempted += 1
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        with tracer.span(f"cold.{name}"):
            got = _attempt(name, lambda: _collect(REGISTRY[name].spark(spark, SF_DIR)))
        if got is None:
            failed += 1
            continue
        cold[name] = time.perf_counter() - t0
        results[name] = got

    print(f"[perfbench] cold pass: {sum(cold.values()):.3f} s", file=sys.stderr)
    runs: dict[str, list[float]] = {n: [] for n in order}
    start = time.perf_counter()
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() - start < ctx.seconds:
        passes += 1
        t1 = time.perf_counter()
        for name in order:
            attempted += 1
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            with tracer.span(f"query.{name}"):
                ok = _attempt(name, lambda: _noop(REGISTRY[name].spark(spark, SF_DIR)))
            if ok is None:
                failed += 1
                continue
            runs[name].append(time.perf_counter() - t0)
        print(f"[perfbench] pass {passes}: {time.perf_counter() - t1:.3f} s", file=sys.stderr)

    print(f"[perfbench] {passes} steady passes: {time.perf_counter() - start:.3f} s",
          file=sys.stderr)
    # untimed: every collected cold result against its DuckDB oracle
    t0 = time.perf_counter()
    con = _oracle()
    for name in order:
        if name not in results or not _check(name, results[name], con):
            correct = False
    con.close()
    print(f"[perfbench] oracle check: {time.perf_counter() - t0:.3f} s", file=sys.stderr)
    ctx.layer["driver_peak_rss_mb"] = ctx.driver_rss_mb(spark)
    tracer.close()

    med = {n: statistics.median(v) for n, v in runs.items() if v}
    if len(med) < len(order) or len(cold) < len(order):
        correct = False
    e2e = {
        "setup_s": statistics.median(setups),
        "cold_s": sum(cold.values()),
        "steady_s": sum(med.values()),
    }
    ctx.layer["headline_total_s"] = e2e["steady_s"]
    ctx.layer["headline_cold_s"] = e2e["cold_s"]
    for n in order:
        ctx.layer[f"query.{n}_s"] = med.get(n)  # None: no run succeeded
    if ctx.trace:
        jobs, stages = ctx.event_log(spark)
        totals = dict.fromkeys(SPAN_KEYS, 0.0)
        for n in order:
            per = [span_metrics(tracer, s, jobs, stages)
                   for s in tracer.spans if s.name == f"query.{n}"]
            if not per:
                totals = dict.fromkeys(SPAN_KEYS)
                continue
            m = {k: statistics.median(p[k] for p in per) for k in SPAN_KEYS + ("python_bytes",)}
            ctx.layer[f"query.{n}_jobs"] = m["jobs"]
            ctx.layer[f"query.{n}_shuffle_bytes"] = m["shuffle_write_bytes"]
            ctx.layer[f"query.{n}_python_bytes"] = m["python_bytes"]
            for k in SPAN_KEYS:
                if totals[k] is not None:
                    totals[k] += m[k]
        ctx.layer.update({f"headline.{k}": v for k, v in totals.items()})
    return {"correct": correct, "attempted": attempted, "failed": failed, "e2e": e2e}
