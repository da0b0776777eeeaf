"""Batch workload: ``__spark_entry__`` queries over seeded tables.

One untimed warm-up pass collects every query's result and checks it
against the query's ``oracle_sql()`` in DuckDB, canonicalised the way
``tools/gate_mirror.py`` does.  Timed passes then run each query
through the noop sink (the plan runs in full, nothing is collected),
in a seeded order that changes every pass.
"""

from __future__ import annotations

import importlib.util
import os
import time

import duckdb

from perfbench import inputs

# Three SHM-analytics queries (A1 channel stats, A2 latest row per key,
# J2 as-of join: scans and aggregates with small plans, no Spark jobs
# while building) beside setsim_pairs, a ROADMAP item-5 curation target
# whose build runs eager localCheckpoints (about six Spark jobs) before
# a six-shuffle plan.
QUERIES = ("channel_stats", "latest_per_user", "asof_join", "setsim_pairs")


def _gate_mirror(repo: str):
    spec = importlib.util.spec_from_file_location(
        "gate_mirror", os.path.join(repo, "tools", "gate_mirror.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class OracleCheck:
    """Compares a Spark result with the DuckDB oracle over the same
    parquet files: same column set, same multiset of canonical rows."""

    def __init__(self, repo: str, data_dir: str, oracles: dict[str, str]) -> None:
        self.canon = _gate_mirror(repo).canon
        self.oracles = oracles
        self.con = duckdb.connect()
        for t in inputs.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )

    def close(self) -> None:
        self.con.close()

    def mismatch(self, name: str, columns: list[str], rows: list[tuple]) -> str | None:
        """``None`` when the result matches, else a one-line reason."""
        if not rows:
            return "empty result"  # an empty result matches trivially
        cur = self.con.execute(self.oracles[name])
        dcols = [c[0] for c in cur.description]
        if sorted(columns) != sorted(dcols):
            return f"columns {sorted(columns)} != oracle {sorted(dcols)}"
        so = sorted(range(len(columns)), key=lambda i: columns[i])
        do = sorted(range(len(dcols)), key=lambda i: dcols[i])
        got = sorted(tuple(self.canon(r[i]) for i in so) for r in rows)
        want = sorted(tuple(self.canon(r[i]) for i in do) for r in cur.fetchall())
        if got != want:
            return f"{len(got)} rows differ from the oracle's {len(want)}"
        return None


def warmup(spark, queries, names, data_dir, check: OracleCheck, tracer):
    """The untimed correctness pass; returns (attempted, failed, notes,
    per-query seconds)."""
    failed, notes, secs = 0, [], {}
    for name in names:
        t0 = time.perf_counter()
        with tracer.span("query", spark, query=name, phase="warmup"):
            try:
                df = queries[name](spark, data_dir)
                rows = [tuple(r) for r in df.collect()]
                why = check.mismatch(name, df.columns, rows)
            except Exception as e:  # a query that raises counts as failed
                why = f"raised {type(e).__name__}: {str(e)[:200]}"
        secs[name] = time.perf_counter() - t0
        if why:
            failed += 1
            notes.append(f"{name}: {why}")
    return len(names), failed, notes, secs


def timed_pass(spark, queries, names, data_dir, tracer) -> tuple[list[float], int, list[str]]:
    """One pass through the noop sink; returns the per-query wall
    times, the number of queries that raised, and their reasons."""
    lat, failed, notes = [], 0, []
    for name in names:
        t0 = time.perf_counter()
        with tracer.span("query", query=name):
            try:
                if tracer.enabled:
                    with tracer.span("build", spark, query=name):
                        df = queries[name](spark, data_dir)
                    with tracer.span("plan", spark, query=name):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("exec", spark, query=name):
                        df.write.format("noop").mode("overwrite").save()
                else:
                    queries[name](spark, data_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
            except Exception as e:
                failed += 1
                notes.append(f"{name}: raised {type(e).__name__}: {str(e)[:200]}")
        lat.append(time.perf_counter() - t0)
    return lat, failed, notes
