"""The operator suite: the registry layer. One query at a time over a
seeded star schema made by ``tools/gen_sf.py``: action-dominated queries
(the paper's LINK and relational shapes) and a build-dominated one (an
iterative graph). Each query is
``registry.queries()[q](spark, sf)`` followed by ``.count()``."""

from __future__ import annotations

import contextlib
import importlib.util
import os
import sys
import time

from library_beam_spark import registry

from .trace import Tracer

SF = 0.001
# Left out to fit the run budget (each run pays its own warm-up):
# stream_cdc_with_deletes, whose three micro-batches cost about 10 s warm
# and 13 s cold at any scale (the update feed measures a stream fold with
# tombstones instead), and containment_pairs, about 7 s warm plus cold.
QUERIES = (
    "latest_version_dedup",
    "join_star_revenue",
    "adjacency_matrix_500",
    "copurchase_communities",
)


def _tool(root: str, name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class OperatorSuite:
    def __init__(self, spark, work: str, seed: int, root: str):
        self.spark, self.seed, self.root = spark, seed, root
        self.sf = os.path.join(work, "sf")
        self.queries = registry.queries()
        self.pass_s: list[float] = []
        self.query_s: list[float] = []
        self.results: dict = {}

    def setup(self) -> None:
        with contextlib.redirect_stdout(sys.stderr):  # the generator prints row counts
            _tool(self.root, "gen_sf").generate(self.sf, SF, seed=self.seed)
        self._pass(Tracer.off())

    def _pass(self, tracer: Tracer) -> float:
        t_pass = time.perf_counter()
        for q in QUERIES:
            t0 = time.perf_counter()
            with tracer.span(f"registry.{q}.build"):
                df = self.queries[q](self.spark, self.sf)
            with tracer.span(f"registry.{q}.action"):
                df.count()
            self.query_s.append(time.perf_counter() - t0)
            self.results[q] = df
        return time.perf_counter() - t_pass

    def timed(self, seconds: float) -> None:
        self.query_s = []
        t_end = time.perf_counter() + seconds
        while not self.pass_s or time.perf_counter() < t_end:
            self.pass_s.append(self._pass(Tracer.off()))

    def check(self) -> list[str]:
        oracle = _tool(self.root, "verify_oracle")
        import duckdb

        con = duckdb.connect()
        for t in oracle.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        sql = registry.oracle_sql()
        problems = []
        for q in QUERIES:
            bad = [p for p in oracle.compare(self.results[q].toPandas(), con.execute(sql[q]).df())
                   if "WARNING" not in p]
            if bad:
                problems.append(f"{q}: {bad[0]}")
        con.close()
        return problems

    def traced(self, tracer: Tracer) -> float:
        return self._pass(tracer)

    def per_layer(self, tracer: Tracer, attrib: dict[int, dict]) -> dict[str, float]:
        out = {}
        for q in QUERIES:
            build, action = tracer.named(f"registry.{q}.build")[-1], tracer.named(f"registry.{q}.action")[-1]
            a, b = attrib[build["id"]], attrib[action["id"]]
            out[f"registry.{q}.build_s"] = build["end"] - build["start"]
            out[f"registry.{q}.action_s"] = action["end"] - action["start"]
            out[f"registry.{q}.jobs"] = a["jobs"] + b["jobs"]
            out[f"registry.{q}.task_s"] = a["task_s"] + b["task_s"]
            out[f"registry.{q}.shuffle_mb"] = (a["shuffle_bytes"] + b["shuffle_bytes"]) / 2**20
        return out
