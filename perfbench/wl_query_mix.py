"""query_mix: a closed loop with one client over the 11 headline queries in
their registered form, each round in a seed-shuffled order.

One operation is ``registry.queries()[name](spark, sf_dir)`` plus
``toPandas()``, the action ``scripts/driver_sim.py`` takes. Every result is checked
against the DuckDB oracle (``registry.oracle_sql()``), outside the timed
interval. The loop runs whole rounds, at least ``MIN_ROUNDS``, until
``--seconds`` have passed, so every run times the same mix.
"""

from __future__ import annotations

import gc
import itertools
import random
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

from common import EventLog, JobGroups, median, python_exec_metrics

WARM_THREADS = 6
# A round takes 6-14 s on the 4-core host; runs of a single timed round
# spread by 0.31-0.35 (IQR/median over five seeds), two rounds by 0.09-0.16.
MIN_ROUNDS = 2

# bench.py's HEADLINE list, timed here as the registry serves it.
HEADLINE = [
    "pricing_summary",
    "lookup_chain_revenue",
    "flagship_summary_pivot",
    "pivot_event_types",
    "join_left_composite",
    "topk_per_group",
    "tumbling_daily_tally",
    "spatial_tag_regions",
    "dedup_exact",
    "minhash_near_dups",
    "embedding_cosine_topk",
]


def canonical(df) -> tuple[tuple[str, ...], Counter]:
    """The multiset of a result's rows under ``scripts/driver_sim.py``'s
    canonicalization: ``_canon`` on every value (computed once per distinct
    value of a column), columns lower-cased and sorted by name. Two frames
    compare equal exactly when driver_sim's sorted row lists do."""
    import pandas as pd

    from scripts.driver_sim import _canon

    df = df.rename(columns=str.lower)
    cols = sorted(df.columns)
    canon_cols = []
    for c in cols:
        codes, uniques = pd.factorize(df[c], use_na_sentinel=False)
        table = [_canon(v) for v in uniques]
        canon_cols.append([table[k] for k in codes])
    return tuple(cols), Counter(zip(*canon_cols))


class QueryMix:
    def __init__(self, run, spark):
        self.run, self.spark = run, spark
        self.sf_dir = run.path("sf0.1")
        self.ops: list[dict] = []
        self.groups = JobGroups(spark) if run.trace else None

    def setup(self) -> dict:
        import gen_tpch
        from ningaloo_turtle_etl_spark import registry

        facts = {}
        t0 = time.monotonic()
        facts["input_rows"] = gen_tpch.write(self.run.seed, self.sf_dir)
        facts["gen_s"] = time.monotonic() - t0

        # The untimed warm pass runs on WARM_THREADS threads, next to the
        # oracle (DuckDB); neither is measured, and the warm-up only has to
        # leave the JVM, the caches and the Python workers warm.
        self.fns = registry.queries()
        t0 = time.monotonic()
        with ThreadPoolExecutor(WARM_THREADS + 1) as pool:
            oracle = pool.submit(self._oracle, registry.oracle_sql(), list(facts["input_rows"]))
            for f in [pool.submit(self._warm, q) for q in HEADLINE]:
                f.result()
            self.expected = oracle.result()
        facts["warm_and_oracle_s"] = time.monotonic() - t0
        return facts

    def _oracle(self, oracle_sql: dict, tables: list[str]) -> dict:
        import duckdb

        con = duckdb.connect()
        try:
            for name in tables:
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{name}.parquet')")
            return {q: canonical(con.sql(oracle_sql[q]).df()) for q in HEADLINE}
        finally:
            con.close()

    def _warm(self, name: str) -> None:
        self.fns[name](self.spark, self.sf_dir).toPandas()

    def _op(self, name: str):
        group = self.groups.begin(name) if self.groups else None
        with self.run.span("operation", query=name) as op:
            with self.run.span("build") as build:
                df = self.fns[name](self.spark, self.sf_dir)
            with self.run.span("action"):
                pdf = df.toPandas()
        rec = {"query": name, "latency_s": op.seconds, "build_s": build.seconds}
        if group is not None:
            rec["group"] = group
            rec["jobs"] = len(self.groups.jobs(group))
            self.groups.end()
            if name == "spatial_tag_regions":
                rec |= python_exec_metrics(df)
        self.ops.append(rec)
        return pdf

    def _check(self, name: str, pdf) -> bool:
        try:
            return canonical(pdf) == self.expected[name]
        except Exception:
            return False

    def measure(self, seconds: float) -> None:
        """Whole rounds, at least MIN_ROUNDS, until the timed operations add
        up to ``seconds``."""
        rng = random.Random(self.run.seed)
        for rounds in itertools.count(1):
            order = HEADLINE[:]
            rng.shuffle(order)
            for name in order:
                try:
                    ok = self._check(name, self._op(name))
                except Exception as exc:  # one failed query must not end the run
                    ok = False
                    self.ops.append({"query": name, "error": repr(exc)})
                self.run.record(ok, name)
                gc.collect()  # the check's garbage is not the next query's cost
            if rounds >= MIN_ROUNDS and sum(o.get("latency_s", 0) for o in self.ops) >= seconds:
                break

    def end_to_end(self) -> dict:
        lat = [o["latency_s"] for o in self.ops if "latency_s" in o]
        return {
            "op_p50_s": median(lat),
            "ops_per_s": len(lat) / sum(lat),
        }

    def extra(self) -> dict:
        """Per-query median latency, shown in the table of every run."""
        ok_ops = [o for o in self.ops if "latency_s" in o]
        return {f"queries.{q}.p50_s": median([o["latency_s"] for o in ok_ops if o["query"] == q])
                for q in HEADLINE}

    def layers(self, log: EventLog):
        """(per-layer metrics, the timed operations' jobs, the number of
        timed operations)."""
        ok_ops = [o for o in self.ops if "latency_s" in o]
        groups = {o["group"] for o in ok_ops}
        out = self.extra()
        for q in HEADLINE:
            mine = [o for o in ok_ops if o["query"] == q]
            my_groups = {o["group"] for o in mine}
            t = log.totals(log.jobs_where(lambda g, s=my_groups: g in s))
            out[f"queries.{q}.jobs"] = median([o["jobs"] for o in mine])
            out[f"queries.{q}.build_s"] = median([o["build_s"] for o in mine])
            out[f"queries.{q}.task_cpu_s"] = t["task_cpu_s"] / len(mine)
        rounds = len(ok_ops) / len(HEADLINE)
        out["queries.jobs_total"] = sum(o["jobs"] for o in ok_ops) / rounds
        out["queries.build_share"] = (
            sum(o["build_s"] for o in ok_ops) / sum(o["latency_s"] for o in ok_ops)
        )
        spatial = [o for o in ok_ops if o["query"] == "spatial_tag_regions"]
        out["operators.python_boot_s"] = median([o["python_boot_s"] for o in spatial])
        out["operators.python_total_s"] = median([o["python_total_s"] for o in spatial])
        return out, log.jobs_where(lambda g: g in groups), len(ok_ops)
