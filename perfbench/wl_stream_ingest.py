"""stream_ingest: an open loop. A separate standard-library process
(``feeder.py``) lands one seed-generated events-schema parquet file into a
feed directory per fixed interval, while
``daily_tally(stream_table_dir(...))`` runs in update mode into
``foreach_batch_upserter(keys=[window_start, event_type])``.

Lag is measured from outside the program: each file's micro-batch comes
from the checkpoint's ``sources/0`` log, and the batch's commit time from
the modification time of ``commits/<batchId>``. At the end, the sink must
equal the batch ``daily_tally`` over every landed file.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import EventLog, median, percentile

# At --seconds 8 this lands 120 files, so lag p90 has 12 samples beyond it;
# the backlog stays bounded on 4 cores (40-65 files a micro-batch).
RATE_PER_S = 15          # files landed per second
FILE_ROWS = 200          # events per file
STEP_MIN = 15            # event-time advance per file
JITTER_H = 6             # out-of-order spread, well inside the 2-day watermark
KEYS = ["window_start", "event_type"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
T0 = dt.datetime(2024, 3, 1)
HERE = os.path.dirname(os.path.abspath(__file__))


def _events_file(rng, k: int) -> pa.Table:
    base = np.datetime64(T0, "us") + np.timedelta64(k * STEP_MIN * 60, "s")
    jitter = rng.integers(0, JITTER_H * 3600 * 10**6, FILE_ROWS).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(k * FILE_ROWS, (k + 1) * FILE_ROWS, dtype=np.int64),
        "ts": base - jitter,
        "user_id": rng.integers(0, 1500, FILE_ROWS),
        "event_type": np.asarray(EVENT_TYPES, dtype=object)[
            rng.integers(0, len(EVENT_TYPES), FILE_ROWS)],
        "value": rng.integers(0, 56_000, FILE_ROWS) / 100.0,
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, FILE_ROWS)],
    })


class StreamIngest:
    WARM_FILES = 1

    def __init__(self, run, spark):
        self.run, self.spark = run, spark
        self.feed = run.path("feed")
        self.staging = run.path("staging")
        self.ckpt = run.path("checkpoint")
        self.sink = run.path("sink")
        self.landed_log = run.path("landed.jsonl")

    def setup(self) -> dict:
        from ningaloo_turtle_etl_spark.sources.tables import stream_table_dir
        from ningaloo_turtle_etl_spark.streaming.sinks import foreach_batch_upserter
        from ningaloo_turtle_etl_spark.streaming.tallies import daily_tally

        facts = {}
        t0 = time.monotonic()
        rng = np.random.default_rng([self.run.seed, 0x5E])
        n = self.WARM_FILES + RATE_PER_S * self.run.seconds
        os.makedirs(self.feed)
        os.makedirs(self.staging)
        for k in range(n):
            d = self.feed if k < self.WARM_FILES else self.staging
            pq.write_table(_events_file(rng, k), os.path.join(d, f"part-{k:05d}.parquet"))
        facts["input_rows"] = {"events": n * FILE_ROWS, "files": n}
        facts["gen_s"] = time.monotonic() - t0

        t0 = time.monotonic()
        tally = daily_tally(stream_table_dir(self.spark, self.feed, "events"))
        self.query = (
            tally.writeStream.outputMode("update")
            .foreachBatch(foreach_batch_upserter(self.sink, KEYS))
            .option("checkpointLocation", self.ckpt)
            .start()
        )
        # Warm micro-batches: the seeding file's, then the no-data one that
        # follows because the file moved the watermark. The feed must not
        # queue behind either.
        if not self._await_committed(os.listdir(self.feed), timeout=120):
            raise RuntimeError("the stream did not commit its first micro-batch")
        if not self._await_idle(timeout=120):
            raise RuntimeError("the stream did not go idle after its warm micro-batches")
        self.warm_batches = max(self._commits()) + 1
        facts["warm_s"] = time.monotonic() - t0
        return facts

    # --- checkpoint, read from outside the query --------------------------------

    def _commits(self) -> dict[int, float]:
        out = {}
        for p in glob.glob(os.path.join(self.ckpt, "commits", "[0-9]*")):
            b = os.path.basename(p)
            if b.isdigit():
                out[int(b)] = os.stat(p).st_mtime
        return out

    def _await_committed(self, files: list[str], timeout: float) -> bool:
        """Wait until the micro-batches that consumed ``files`` committed."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            batches, commits = self._file_batches(), self._commits()
            if all(batches.get(f) in commits for f in files):
                return True
            if self.query.exception() is not None:
                raise RuntimeError(str(self.query.exception()))
            time.sleep(0.02)
        return False

    def _await_idle(self, timeout: float) -> bool:
        """Wait until every planned micro-batch has committed and no new one
        has been planned for half a second."""
        deadline = time.monotonic() + timeout
        last, since = None, time.monotonic()
        while time.monotonic() < deadline:
            planned = max(int(os.path.basename(p))
                          for p in glob.glob(os.path.join(self.ckpt, "offsets", "[0-9]*"))
                          if os.path.basename(p).isdigit())
            if planned != last or planned not in self._commits():
                last, since = planned, time.monotonic()
            elif time.monotonic() - since >= 0.5:
                return True
            time.sleep(0.02)
        return False

    def _file_batches(self) -> dict[str, int]:
        """File name -> the micro-batch that consumed it. The file source's
        own log (``sources/0``, plain and compacted) numbers its batches
        only when files arrive, so map them to micro-batch ids through the
        ``logOffset`` each micro-batch recorded in ``offsets/``: no-data
        micro-batches (watermark advances) keep the previous offset."""
        source = {}
        for p in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            b = os.path.basename(p)
            if b.isdigit() or b.endswith(".compact"):
                with open(p) as f:
                    next(f)  # version line
                    for line in f:
                        e = json.loads(line)
                        source[os.path.basename(e["path"])] = e["batchId"]
        first_batch = {}  # source batch -> first micro-batch whose offset covers it
        for p in sorted(glob.glob(os.path.join(self.ckpt, "offsets", "[0-9]*")),
                        key=lambda p: int(os.path.basename(p))):
            if not os.path.basename(p).isdigit():
                continue
            with open(p) as f:
                lines = f.read().splitlines()
            if len(lines) < 3:
                continue
            upto = json.loads(lines[2])["logOffset"]
            for sb in range(upto + 1):
                first_batch.setdefault(sb, int(os.path.basename(p)))
        return {f: first_batch[sb] for f, sb in source.items() if sb in first_batch}

    # --- run ------------------------------------------------------------------------

    def measure(self, seconds: float) -> None:
        self.t_start = time.time()
        feeder = subprocess.Popen([
            sys.executable, os.path.join(HERE, "feeder.py"),
            "--staging", self.staging, "--feed", self.feed,
            "--interval", str(1.0 / RATE_PER_S), "--log", self.landed_log,
        ])
        try:
            feeder.wait(timeout=seconds + 60)
        finally:
            if feeder.poll() is None:
                feeder.kill()
                feeder.wait()
        self.t_fed = time.time()
        with open(self.landed_log) as f:
            self.landed = [json.loads(line) for line in f]
        # Drain: wait until every landed file's micro-batch has committed.
        self._await_committed([e["file"] for e in self.landed], timeout=60)
        self.progress = [p for p in self.query.recentProgress
                         if p["numInputRows"] > 0 and p["batchId"] >= self.warm_batches]
        if self.run.trace:
            # Micro-batch spans, from the query's own progress reports.
            to_mono = time.monotonic() - time.time()
            for p in self.progress:
                start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
                t = start.timestamp() + to_mono
                self.run.add_span("micro_batch", t, t + p["durationMs"]["triggerExecution"] / 1e3,
                                  batch_id=p["batchId"], input_rows=p["numInputRows"])
        self.query_run_id = str(self.query.runId)  # Spark's job group for the query
        self.query.stop()
        self.batches, self.commits = self._file_batches(), self._commits()
        self._check()

    def _check(self) -> None:
        from ningaloo_turtle_etl_spark.streaming.tallies import daily_tally

        for e in self.landed:
            self.run.record(self.batches.get(e["file"]) in self.commits, e["file"])
        dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                      for p in self.progress for op in p["stateOperators"])
        cols = [*KEYS, "n", "total_value"]
        want = sorted(tuple(r) for r in daily_tally(
            self.spark.read.parquet(self.feed)).select(*cols).collect())
        got = sorted(tuple(r) for r in self.spark.read.parquet(self.sink).select(*cols).collect())
        self.run.record(want == got and dropped == 0, "sink equals batch tally")
        self.dropped = dropped

    # --- metrics ----------------------------------------------------------------------

    def _lags(self) -> list[float]:
        # From when the file was due, so a late feeder counts as lag too.
        return [self.commits[self.batches[e["file"]]] - e["due"]
                for e in self.landed if self.batches.get(e["file"]) in self.commits]

    def end_to_end(self) -> dict:
        """Median lag, and files committed per second from the first file
        due to the last commit, which includes draining the last batch."""
        lags = self._lags()
        last = max(self.commits[b] for b in self.batches.values() if b in self.commits)
        return {"op_p50_s": median(lags), "ops_per_s": len(lags) / (last - self.landed[0]["due"])}

    def extra(self) -> dict:
        """Stream-only end-to-end figures, shown in the table."""
        lags = self._lags()
        # Backlog: files landed but not yet committed, on a 50 ms grid over
        # the last third of the feed window.
        commit_of = [self.commits.get(self.batches.get(e["file"]), float("inf"))
                     for e in self.landed]
        t0 = self.t_start + 2 * (self.t_fed - self.t_start) / 3
        grid = np.arange(t0, self.t_fed, 0.05)
        backlog = [sum(1 for e, c in zip(self.landed, commit_of) if e["landed"] <= t < c)
                   for t in grid]
        return {
            "stream_lag_p50_s": median(lags),
            "stream_lag_p90_s": percentile(lags, 90),
            "stream_lag_samples": len(lags),
            "stream_backlog_files": float(np.mean(backlog)) if backlog else 0.0,
            "stream_generator_late_s": max(e["landed"] - e["due"] for e in self.landed),
        }

    def layers(self, log: EventLog):
        prog = self.progress
        dur = lambda k: median([p["durationMs"].get(k, 0) for p in prog])  # noqa: E731
        state = prog[-1]["stateOperators"][0] if prog else {}
        jobs = log.jobs_where(lambda g: g == self.query_run_id)
        jobs = {j for j in jobs if log.job_time[j][0] / 1e3 >= self.t_start}
        t = log.totals(jobs)
        in_bytes = sum(os.path.getsize(os.path.join(self.feed, e["file"])) for e in self.landed)
        n_batches = len({self.batches[e["file"]] for e in self.landed
                         if e["file"] in self.batches})
        out = {
            "stream.batches": n_batches,
            "stream.files_per_batch": len(self.landed) / max(n_batches, 1),
            "stream.batch_p50_ms": dur("triggerExecution"),
            "stream.add_batch_p50_ms": dur("addBatch"),
            "stream.planning_p50_ms": dur("queryPlanning"),
            "stream.wal_commit_p50_ms": dur("walCommit"),
            "stream.state_rows": state.get("numRowsTotal", 0),
            "stream.state_memory_bytes": state.get("memoryUsedBytes", 0),
            "stream.rows_dropped_by_watermark": self.dropped,
            "sink.write_amplification": t["bytes_written"] / in_bytes,
        }
        return out, jobs, max(n_batches, 1)
