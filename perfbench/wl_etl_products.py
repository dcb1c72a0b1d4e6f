"""etl_products: one operation is a full ``plans.etl_graph.run_batch_etl``
over seed-generated, reference-shaped inputs, writing every CSV product,
``sites.geojson`` and the QA report to a fresh directory.

The check is the pipeline's own QA verdict against the counts the
generator planted (``expected_qa=``), plus each CSV product's row count
against the count the generator's construction implies.
"""

from __future__ import annotations

import gc
import glob
import json
import os
import shutil
import time

from common import EventLog, JobGroups, median

# Untimed passes before timing: only the cold one. At these input sizes the
# passes after it show no further trend (5.6, 5.3, 5.2, 5.8, 5.7, 6.8 s on
# the 4-core host, after a 9.3 s cold pass).
WARM_PASSES = 1
PRODUCTS = ["sites", "surveys", "crawls", "summary_nests", "summary_nests_seasons"]


def _csv_rows(path: str) -> int:
    rows = 0
    for part in glob.glob(os.path.join(path, "part-*.csv")):
        with open(part, "rb") as f:
            rows += sum(1 for _ in f) - 1  # header
    return rows


class EtlProducts:
    def __init__(self, run, spark):
        self.run, self.spark = run, spark
        self.in_dir = run.path("inputs")
        self.ops: list[dict] = []
        self.groups = JobGroups(spark) if run.trace else None
        self.n = 0

    def setup(self) -> dict:
        import gen_etl

        facts = {}
        t0 = time.monotonic()
        facts["input_rows"], self.expected_qa, self.expected_rows = gen_etl.write(
            self.run.seed, self.in_dir
        )
        facts["gen_s"] = time.monotonic() - t0
        for k in range(WARM_PASSES):
            t0 = time.monotonic()
            ok = self._pass(warm=True)
            facts[f"warm_pass_{k}_s"] = time.monotonic() - t0
            self.run.record(ok, f"etl warm pass {k}")
        self.cold_run_s = facts["warm_pass_0_s"]
        return facts

    def _inputs(self) -> dict:
        from ningaloo_turtle_etl_spark.sources.tables import load_table

        names = ["raw_sites", "area_surveyed", "environment", "species",
                 "raw_crawls", "nests_joined"]
        return {n: load_table(self.spark, n, self.in_dir) for n in names}

    def _pass(self, warm: bool = False) -> bool:
        from ningaloo_turtle_etl_spark.plans.etl_graph import run_batch_etl

        self.n += 1
        out = self.run.path(f"products-{self.n}")
        group = self.groups.begin("etl") if self.groups and not warm else None
        with self.run.span("etl_pass", warm=warm) as op:
            result = run_batch_etl(self._inputs(), out, expected_qa=self.expected_qa)
        ok = self._check(result, out)
        if not warm:
            rec = {"latency_s": op.seconds}
            if group is not None:
                rec["group"] = group
                rec["jobs"] = len(self.groups.jobs(group))
                self.groups.end()
            self.ops.append(rec)
        shutil.rmtree(out, ignore_errors=True)
        return ok

    def _check(self, result, out: str) -> bool:
        if not all(r["ok"] for r in result.qa_detail.values()):
            return False
        with open(os.path.join(out, "qa_run_report.json")) as f:
            if not json.load(f)["ok"]:
                return False
        if not os.path.getsize(os.path.join(out, "sites.geojson")):
            return False
        return all(
            _csv_rows(os.path.join(out, f"{p}_csv")) == self.expected_rows[p]
            for p in PRODUCTS
        )

    def measure(self, seconds: float) -> None:
        """Whole passes until the timed passes add up to ``seconds``."""
        while True:
            try:
                ok = self._pass()
            except Exception as exc:  # a failed pass must not end the run
                ok = False
                self.ops.append({"error": repr(exc)})
            self.run.record(ok, "etl pass")
            gc.collect()
            if sum(o.get("latency_s", 0) for o in self.ops) >= seconds:
                break

    def end_to_end(self) -> dict:
        lat = [o["latency_s"] for o in self.ops if "latency_s" in o]
        return {"op_p50_s": median(lat), "ops_per_s": len(lat) / sum(lat)}

    def layers(self, log: EventLog):
        ok_ops = [o for o in self.ops if "latency_s" in o]
        groups = {o["group"] for o in ok_ops}
        n = len(ok_ops)
        jobs = log.jobs_where(lambda g: g in groups)
        # Split the passes' SQL executions by their root node: file writes
        # (the CSV products) against everything else (QA, GeoJSON).
        writes = {j for j in jobs if log.job_exec[j] in log.write_execs}
        t = log.totals(jobs)
        out = {
            "etl.cold_run_s": self.cold_run_s,
            "etl.jobs": t["jobs"] / n,
            "etl.bytes_written": t["bytes_written"] / n,
            "etl.write_task_skew": log.write_task_skew(writes),
            "etl.write_s": log.jobs_wall_s(writes) / n,
            "etl.qa_s": log.jobs_wall_s(jobs - writes) / n,
        }
        return out, jobs, n
