"""The ``query_mix`` workload: one client running registry queries to the
``noop`` sink, one cycle over the query list per operation, in an order set
by the workload seed. The tables are a copy of the project's sf0.01 test
fixture (``data/sf0.01``, the scale its DuckDB correctness gate uses).
Results are compared with each query's ``oracle_sql()`` in DuckDB after the
timed loop, under the canonicalisation of ``tools/check_correctness.py``."""

from __future__ import annotations

import importlib.util
import os
import random
import statistics
import time

import duckdb
import pandas as pd
from probes import spark_delta, tree_cpu_s

from vbpl_web_crawl_spark.plans.queries import ORACLES, get_queries

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# three per class to fit a run; every query here has an oracle
RELATIONAL = (
    "tpch_q18_large_volume",
    "host_skew_gini",
    "ann_cosine_topk",
)
ITERATIVE = (
    "crawl_depth_bfs",
    "sssp_copurchase_cost",
    "pagerank_supply_graph",
)
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _canon():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "check_correctness.py"
    )
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._canon


class QueryLoop:
    def __init__(self, spark, seed: int, tracer):
        self.spark = spark
        self.data_dir = DATA_DIR
        self.tracer = tracer
        self.order = list(RELATIONAL + ITERATIVE)
        random.Random(seed).shuffle(self.order)
        self.queries = get_queries()
        self.cycles: list[dict] = []
        self.execs: list[dict] = []  # one per query execution
        self.first: dict = {}  # query name -> DataFrame of its first run
        self.failed: set[str] = set()

    def instrument(self) -> None:
        """Query spans are opened by ``run_op`` itself."""

    def prepare(self) -> None:
        """Nothing to prepare: a warm-up cycle costs as much as the timed
        one and does not fit the run, so the timed cycle is the first on the
        JVM the setup's warm-up job started."""

    def run_op(self) -> dict:
        start = time.time()
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        errors = 0
        with self.tracer.span("query.cycle"):
            for name in self.order:
                rec = {"query": name, "start": time.time()}
                try:
                    b0 = time.perf_counter()
                    with self.tracer.span(f"plans.{name}.build"):
                        df = self.queries[name](self.spark, self.data_dir)
                    b1 = time.perf_counter()
                    with self.tracer.span(f"plans.{name}.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    rec.update(build_s=b1 - b0, exec_s=time.perf_counter() - b1, ok=True)
                    self.first.setdefault(name, df)
                except Exception as e:  # one failed query must not stop the loop
                    rec.update(ok=False, error=repr(e))
                    self.failed.add(name)
                    errors += 1
                rec["end"] = time.time()
                self.execs.append(rec)
        cyc = {
            "start": start,
            "end": time.time(),
            "wall_s": time.perf_counter() - t0,
            "cpu_s": tree_cpu_s() - cpu0,
        }
        self.cycles.append(cyc)
        if errors:
            raise RuntimeError(f"{errors} queries failed in the cycle")
        return cyc

    def attempted(self) -> int:
        return len(self.execs)

    def check(self) -> int:
        """Number of executions whose query raised or whose result differs
        from its DuckDB oracle."""
        canon = _canon()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.data_dir, t)}.parquet'"
                )
            for name, df in self.first.items():
                got = canon(df.toPandas())
                sql = ORACLES[name]
                want = canon(con.execute(sql() if callable(sql) else sql).df())
                try:
                    if list(got.columns) != list(want.columns) or len(got) != len(want):
                        raise AssertionError("shape")
                    pd.testing.assert_frame_equal(
                        got, want, check_dtype=False, check_exact=False, rtol=1e-9, atol=1e-9
                    )
                except AssertionError:
                    self.failed.add(name)
        finally:
            con.close()
        return sum(1 for e in self.execs if e["query"] in self.failed)

    def _class_sums(self) -> tuple[list[float], list[float]]:
        rel, it = [], []
        for c in self.cycles:
            execs = [e for e in self.execs if c["start"] <= e["start"] <= c["end"] and e["ok"]]
            rel.append(sum(e["build_s"] + e["exec_s"] for e in execs if e["query"] in RELATIONAL))
            it.append(sum(e["build_s"] + e["exec_s"] for e in execs if e["query"] in ITERATIVE))
        return rel, it

    def end_to_end(self) -> dict:
        walls = [c["wall_s"] for c in self.cycles]
        ok = [e for e in self.execs if e["ok"]]
        rel, it = self._class_sums()
        return {
            "op_p50_s": statistics.median(walls),
            "work_per_s": len(ok) / sum(e["build_s"] + e["exec_s"] for e in ok),
            "cpu_s_per_op": statistics.median(c["cpu_s"] for c in self.cycles),
            "named": {
                "query_relational_s": (statistics.median(rel), "s"),
                "query_iterative_s": (statistics.median(it), "s"),
                "cycles": (len(walls), "count"),
            },
        }

    def layers(self, jobs: list[dict], stages: list[dict]) -> tuple[dict, float]:
        out: dict[str, float] = {}
        t = self.tracer
        covered = 0.0
        for name in self.order:
            for phase in ("build", "exec"):
                spans = t.by_name(f"plans.{name}.{phase}")
                covered += sum(s["end"] - s["start"] for s in spans)
                if spans:
                    out[f"plans.{name}.{phase}_s"] = statistics.median(
                        s["end"] - s["start"] for s in spans
                    )
            spans = t.by_name(f"plans.{name}.build") + t.by_name(f"plans.{name}.exec")
            deltas = [spark_delta(jobs, stages, s["start"], s["end"]) for s in spans]
            runs = max(len(spans) // 2, 1)
            out[f"plans.{name}.jobs"] = sum(d["jobs"] for d in deltas) / runs
            out[f"plans.{name}.shuffle_write_mb"] = sum(d["shuffle_write_mb"] for d in deltas) / runs
            out[f"plans.{name}.executor_cpu_s"] = sum(d["executor_cpu_s"] for d in deltas) / runs
        wall = sum(c["wall_s"] for c in self.cycles)
        return out, max(wall - covered, 0.0) / wall
