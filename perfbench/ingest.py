"""``e1_ingest``: the paper's flagship flow as a backlog drain.

SGRF logger files are staged in a landing directory, then drained by
``FilePipeline.run_available()`` with its defaults (one file per
micro-batch).  The transform and sink are those of
``examples/e1_pipeline.py``: decode, cut the 10 s restart transient,
per-channel stats; then the Redis-style KV hash with the file stem,
the Modbus register image, and one ``write_versioned`` append of the
file's stats to a stats-history table.

A pass is one drain round: ``FILES_PER_PASS`` new files are staged
(untimed, like an uplink delivering a backlog) and drained (timed).
File ``i`` of the run is ``inputs.sgrf_bytes(seed, i)`` whatever the
speed of the program, so a faster program drains more of the same
files, never different ones.

Correctness: every healthy file must be archived and every corrupt
file quarantined; its KV fields, register values and history rows must
equal the expected values, computed from the generated matrix with the
``channel_stats`` oracle SQL in DuckDB.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
from pyspark.sql import functions as F

from perfbench import inputs

FILES_PER_PASS = 1
WARMUP_FILES = 2  # file 0 healthy, file 1 corrupt
METRICS = ("mean", "min", "max")


def channel_names() -> list[str]:
    return [c.replace("-", "_") for c in inputs.sgrf_channels()]


def register_map() -> list[tuple[str, int]]:
    """Register image layout: one float32 (two registers) per
    ``<channel>:<metric>`` field, from register 100 up."""
    fields = [f"{c}:{m}" for c in channel_names() for m in METRICS]
    return [(f, 100 + 2 * i) for i, f in enumerate(fields)]


def expected_stats(seed: int, index: int, oracle_sql: str) -> dict[str, dict[str, float]]:
    """Per channel: the mean/min/max the E1 transform must produce for
    file ``index``.  Decoding mirrors the SGRF reader (OLE days to
    integer microseconds); the stats come from the ``channel_stats``
    oracle SQL run over an ``events(event_type, value)`` view."""
    mat = inputs.sgrf_matrix(seed, index)
    micros = np.round((mat[:, 0] * 86400.0 + inputs.OLE_EPOCH_UNIX) * 1e6).astype("int64")
    keep = micros >= micros.min() + inputs.TRANSIENT_S * 1_000_000
    names = channel_names()
    import pandas as pd

    events = pd.DataFrame(
        {
            "event_type": np.repeat(names, int(keep.sum())),
            "value": np.concatenate([mat[keep, i + 1] for i in range(len(names))]),
        }
    )
    con = duckdb.connect()
    try:
        con.register("events", events)
        rows = con.execute(oracle_sql).fetchall()
        cols = [c[0] for c in con.description]
    finally:
        con.close()
    out = {}
    for r in rows:
        rec = dict(zip(cols, r))
        out[rec["channel"]] = {m: rec[m] for m in METRICS}
    return out


class IngestRun:
    """One e1_ingest run: owns the landing, archive, quarantine,
    checkpoint and history directories under ``work``."""

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        from sparkgraft import api as sg
        from sparkgraft.sinks.versioned import write_versioned

        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.dirs = {
            k: os.path.join(work, k)
            for k in ("landing", "finished", "failed", "checkpoint", "history")
        }
        for d in self.dirs.values():
            os.makedirs(d, exist_ok=True)
        self.next_index = 0
        self.kv: dict[str, dict[str, str]] = {}
        self.registers: dict[str, dict[int, float]] = {}
        self.completions: list[float] = []
        self.sg = sg
        self.write_versioned = write_versioned
        self.mapping = spark.createDataFrame(register_map(), "field string, register int")
        self._file_span = None
        self.pipeline = sg.FilePipeline(
            spark,
            name="e1_ingest",
            input_dir=self.dirs["landing"],
            schema="path string, modificationTime timestamp, length long, content binary",
            transform=self._transform,
            sink=self._sink,
            checkpoint_dir=self.dirs["checkpoint"],
            quarantine_dir=self.dirs["failed"],
            archive_dir=self.dirs["finished"],
            fmt="binaryFile",
            options={},
        )

    # -- pipeline callbacks ------------------------------------------------------

    def _transform(self, batch):
        tr = self.tracer
        self._file_span = tr.begin("file", parent=tr.drain_id)
        try:
            with tr.span("transform", self.spark):
                samples = self.sg.decode_sample_files(batch)
                t0 = samples.agg(F.min("ts")).collect()[0][0]
                cleaned = samples.filter(
                    F.col("ts") >= F.lit(t0) + F.expr(f"INTERVAL {inputs.TRANSIENT_S} SECONDS")
                )
                stats = self.sg.channel_stats(cleaned, ["channel"], "value")
            if tr.enabled:
                with tr.span("plan", self.spark):
                    stats._jdf.queryExecution().executedPlan()
            return stats
        except Exception:
            # A corrupt file fails here; FilePipeline quarantines it.
            self._done()
            raise

    def _sink(self, stats, stem: str) -> None:
        tr = self.tracer
        with tr.span("kv", self.spark):
            rows = self.sg.stats_to_kv(stats, "channel", file_stem=stem).collect()
        self.kv[stem] = {r["field"]: r["value"] for r in rows}
        with tr.span("register", self.spark):
            image = self.sg.register_image(self.sg.stats_to_kv(stats, "channel"), self.mapping)
            regs = image.collect()
        self.registers[stem] = {r["register"]: r["reg_value"] for r in regs}
        with tr.span("versioned", self.spark):
            self.write_versioned(stats.withColumn("file", F.lit(stem)), self.dirs["history"])
        self._done()

    def _done(self) -> None:
        self.completions.append(time.perf_counter())
        if self._file_span is not None:
            self.tracer.end(self._file_span)
            self._file_span = None

    # -- staging and draining ----------------------------------------------------

    def stage(self, n_files: int, out_dir: str | None = None) -> list[int]:
        """Write the next ``n_files`` files of the backlog."""
        idx = list(range(self.next_index, self.next_index + n_files))
        for i in idx:
            inputs.write_sgrf(self.seed, i, out_dir or self.dirs["landing"])
        if out_dir is None:
            self.next_index += n_files
        return idx

    def drain(self) -> tuple[float, list[float]]:
        """Run the pipeline over everything staged; returns the drain
        wall time and the per-file turnaround gaps (each file's
        completion minus the previous one's, the first measured from
        the drain start, so the gaps sum to the time of the last
        completion)."""
        self.completions = []
        with self.tracer.span("drain") as rec:
            self.tracer.drain_id = rec["id"] if rec else None
            t0 = time.perf_counter()
            self.pipeline.run_available()
            wall = time.perf_counter() - t0
        marks = [t0] + self.completions
        return wall, [b - a for a, b in zip(marks, marks[1:])]

    # -- correctness ----------------------------------------------------------------

    def check(self, oracle_sql: str) -> tuple[int, int, list[str]]:
        """Compare every staged file against its expected routing, KV,
        register and history rows; returns (attempted, failed, notes)."""
        from sparkgraft.sinks.versioned import read_versioned

        history: dict[str, dict[str, tuple]] = {}
        if os.listdir(self.dirs["history"]):
            for r in read_versioned(self.spark, self.dirs["history"]).collect():
                history.setdefault(r["file"], {})
                key = r["channel"]
                if key in history[r["file"]]:
                    history[r["file"]][key] = None  # duplicate row
                else:
                    history[r["file"]][key] = (r["mean"], r["min"], r["max"])
        regmap = dict(register_map())
        finished = set(os.listdir(self.dirs["finished"]))
        quarantined = set(os.listdir(self.dirs["failed"]))
        notes: list[str] = []
        for i in range(self.next_index):
            name = inputs.sgrf_name(i)  # FilePipeline's stem is the file name
            problem = self._check_file(i, name, finished, quarantined, history, regmap, oracle_sql)
            if problem:
                notes.append(f"{name}: {problem}")
        # One more check, of the table as a whole: no rows of other files.
        extra = set(history) - {
            inputs.sgrf_name(i) for i in range(self.next_index) if not inputs.is_corrupt(i)
        }
        if extra:
            notes.append(f"history holds rows of unexpected files {sorted(extra)[:3]}")
        return self.next_index + 1, len(notes), notes

    def _check_file(self, i, name, finished, quarantined, history, regmap, oracle_sql):
        if inputs.is_corrupt(i):
            if name not in quarantined or name in finished:
                return "corrupt file not quarantined"
            if name in self.kv or name in history:
                return "corrupt file reached a sink"
            return None
        if name not in finished or name in quarantined:
            return "healthy file not archived"
        exp = expected_stats(self.seed, i, oracle_sql)
        want_kv = {f"{name}:{ch}:{m}": v[m] for ch, v in exp.items() for m in METRICS}
        got_kv = self.kv.get(name, {})
        if set(got_kv) != set(want_kv) or any(float(got_kv[k]) != want_kv[k] for k in want_kv):
            return "KV fields differ"
        want_reg = {
            regmap[f"{ch}:{m}"]: float(np.float32(v[m])) for ch, v in exp.items() for m in METRICS
        }
        if self.registers.get(name) != want_reg:
            return "register image differs"
        want_hist = {ch: tuple(v[m] for m in METRICS) for ch, v in exp.items()}
        if history.get(name) != want_hist:
            return "history rows differ"
        return None
