"""``ad_mixed``: the two-phase ad-query engine under a mixed load.

Set-up is ``prepare()`` over the seeded base events (CSV -> partitioned
Parquet + five rollups). Every pass then

1. appends one seeded delta batch: ``refresh_rollups`` folds it into the
   rollups and ``RollupRouter.invalidate`` drops the cached frames;
2. runs six dashboard reads, the reference's five benchmark shapes and
   one judge shape (FIXTURES 3.1-3.2) with ``"round": 4`` and seeded
   day, country and publisher parameters. Each must be served from a rollup, and its
   answer must include every delta folded so far;
3. runs eight ad-hoc reads: the reference's five queries exactly as
   written, of which the router refuses four, plus three shapes off
   every rollup grain (``user_id``, hour x publisher, minute x country,
   ``in``/``neq``, ``limit``). Refused reads go through
   ``dsl.compiler``, partition pruning and the Parquet scan.

Deltas are folded into the rollups only; the partitioned base table
stays as prepared. A routed answer is therefore checked against DuckDB
over base + folded deltas, a scanned one against the base events.
"""

from __future__ import annotations

import copy
import json
from collections import defaultdict
import os
import sys
import time

import numpy as np

import inputs
import oracle
from harness import dir_bytes
from tracing import install_collect_hook, wrap

#: The reference's five benchmark queries exactly as written
#: (FIXTURES 3.1): unrounded fractional SUM/AVG, which the router
#: refuses, so four of the five scan.
REFERENCE_QUERIES = [
    {"select": ["day", {"SUM": "bid_price"}], "from": "events",
     "where": [{"col": "type", "op": "eq", "val": "impression"}],
     "group_by": ["day"]},
    {"select": ["publisher_id", {"SUM": "bid_price"}], "from": "events",
     "where": [{"col": "type", "op": "eq", "val": "impression"},
               {"col": "country", "op": "eq", "val": "JP"},
               {"col": "day", "op": "between",
                "val": ["2024-10-20", "2024-10-23"]}],
     "group_by": ["publisher_id"]},
    {"select": ["country", {"AVG": "total_price"}], "from": "events",
     "where": [{"col": "type", "op": "eq", "val": "purchase"}],
     "group_by": ["country"],
     "order_by": [{"col": "AVG(total_price)", "dir": "desc"}]},
    {"select": ["advertiser_id", "type", {"COUNT": "*"}], "from": "events",
     "group_by": ["advertiser_id", "type"],
     "order_by": [{"col": "COUNT(*)", "dir": "desc"}]},
    {"select": ["minute", {"SUM": "bid_price"}], "from": "events",
     "where": [{"col": "type", "op": "eq", "val": "impression"},
               {"col": "day", "op": "eq", "val": "2024-06-01"}],
     "group_by": ["minute"],
     "order_by": [{"col": "minute", "dir": "asc"}]},
]


def _eq(col, val):
    return {"col": col, "op": "eq", "val": val}


def _sum(col):
    return {"SUM": col, "round": 4}


def _avg(col):
    return {"AVG": col, "round": 4}


def dashboard_queries(rng: np.random.Generator, days: list[str]) -> list[dict]:
    """The five benchmark shapes and one judge shape with rounding set
    and seeded parameters; all six are within some rollup's grain."""
    def pick(xs):
        return str(xs[int(rng.integers(0, len(xs)))])

    i = int(rng.integers(0, len(days) - 1))
    lo, hi = days[i], days[int(rng.integers(i, len(days)))]
    country = pick(inputs.COUNTRIES)
    return [
        {"select": ["day", _sum("bid_price")], "from": "events",
         "where": [_eq("type", "impression")], "group_by": ["day"]},
        {"select": ["publisher_id", _sum("bid_price")], "from": "events",
         "where": [_eq("type", "impression"), _eq("country", country),
                   {"col": "day", "op": "between", "val": [lo, hi]}],
         "group_by": ["publisher_id"]},
        {"select": ["country", _avg("total_price")], "from": "events",
         "where": [_eq("type", "purchase")], "group_by": ["country"],
         "order_by": [{"col": "AVG(total_price)", "dir": "desc"}]},
        {"select": ["advertiser_id", "type", {"COUNT": "*"}],
         "from": "events", "group_by": ["advertiser_id", "type"],
         "order_by": [{"col": "COUNT(*)", "dir": "desc"}]},
        {"select": ["minute", _sum("bid_price")], "from": "events",
         "where": [_eq("type", "impression"), _eq("day", pick(days))],
         "group_by": ["minute"], "order_by": [{"col": "minute", "dir": "asc"}]},
        {"select": ["publisher_id", _avg("bid_price")], "from": "events",
         "where": [_eq("type", "impression"),
                   _eq("country", pick(inputs.COUNTRIES))],
         "group_by": ["publisher_id"],
         "order_by": [{"col": "AVG(bid_price)", "dir": "desc"}]},
    ]


def adhoc_queries(rng: np.random.Generator, days: list[str]) -> list[dict]:
    """The reference's five as written, plus three shapes outside every
    rollup grain: ``user_id`` with ``in`` and ``limit``, hour x
    publisher with ``neq``, minute x country."""
    day = str(days[int(rng.integers(0, len(days)))])
    c1, c2, c3 = (str(c) for c in rng.choice(inputs.COUNTRIES, 3,
                                              replace=False))
    pub = int(rng.integers(1, inputs.N_PUBLISHERS + 1))
    return copy.deepcopy(REFERENCE_QUERIES) + [
        {"select": ["user_id", {"COUNT": "*"}], "from": "events",
         "where": [{"col": "country", "op": "in", "val": [c1, c2, c3]},
                   _eq("day", day)],
         "group_by": ["user_id"],
         "order_by": [{"col": "COUNT(*)", "dir": "desc"},
                      {"col": "user_id", "dir": "asc"}],
         "limit": 20},
        {"select": ["hour", "publisher_id", _sum("bid_price")],
         "from": "events",
         "where": [_eq("type", "impression"), _eq("day", day),
                   {"col": "country", "op": "neq", "val": c1}],
         "group_by": ["hour", "publisher_id"]},
        {"select": ["minute", "country", {"COUNT": "*"}], "from": "events",
         "where": [_eq("type", "click"), _eq("day", day),
                   _eq("publisher_id", pub)],
         "group_by": ["minute", "country"]},
    ]


class AdMixed:
    name = "ad_mixed"

    def __init__(self, run):
        self.run = run
        self.tr = run.tracer
        self.answers: list[tuple] = []  # (class, query, rows, routed, state)
        self.ingest_rows = run.size["delta_rows"]

    # -- inputs and set-up ----------------------------------------------

    def generate(self) -> None:
        self.inputs = inputs.write_events(
            os.path.join(self.run.work, "input"), self.run.seed,
            self.run.size)

    def has_pass(self, index: int) -> bool:
        return index < len(self.inputs.delta_csvs)

    def setup(self) -> float:
        """``prepare()`` of the base events; returns its seconds."""
        from query_planner_optimizer_spark.catalog import Catalog
        from query_planner_optimizer_spark.prepare import prepare
        from query_planner_optimizer_spark.runner import QueryRunner

        spark = self.run.spark
        out = os.path.join(self.run.work, "prepared")
        self.tr.jobs_since_mark()
        t0 = time.perf_counter()
        with self.tr.span("prepare.prepare"):
            res = prepare(spark, self.inputs.base_csv, out)
        seconds = time.perf_counter() - t0
        _, tasks = self.tr.jobs_since_mark()
        files, size = dir_bytes(res.partitioned_dir)
        self.prepare_stats = {
            "s": seconds, "tasks": tasks, "files": files,
            "bytes": size + dir_bytes(res.aggregates_dir)[1]}
        self.prepared = res
        self.catalog = Catalog(spark, self.run.work, register_views=False,
                               overrides={"events": res.partitioned_dir})
        self.runner = QueryRunner(spark, self.catalog,
                                  aggregates_dir=res.aggregates_dir,
                                  use_cache=False)
        self.type_map = self.catalog.spark_type_map("events")
        if self.tr.enabled:
            install_collect_hook(self.tr)
            self._install_tracing()
        return seconds

    def _install_tracing(self) -> None:
        """Wrap the calls ``QueryRunner.run_one`` makes into the router,
        compiler and catalog (collect is hooked by ``setup``). The
        process runs one workload, so the patches are never undone."""
        import query_planner_optimizer_spark.runner as runner_mod
        from query_planner_optimizer_spark.dsl.compiler import compile_query

        tr = self.tr
        router = self.runner.router

        def name_route(result, span):
            span.name = "router.route" if result is not None else "router.refuse"

        router.route = wrap(tr, "router.route", router.route, name_route)
        self.catalog.table = wrap(tr, "catalog.table", self.catalog.table)
        runner_mod.compile_query = wrap(tr, "compiler.compile", compile_query)

    # -- passes ---------------------------------------------------------

    def run_pass(self, index: int) -> None:
        rng = inputs._rng(self.run.seed, f"queries{index}")
        self._ingest(index)
        for q in dashboard_queries(rng, self.inputs.days):
            self._query("dashboard", q, index)
        for q in adhoc_queries(rng, self.inputs.days):
            self._query("adhoc", q, index)

    def _ingest(self, index: int) -> None:
        from query_planner_optimizer_spark.catalog import augment_time_columns
        from query_planner_optimizer_spark.prepare import refresh_rollups
        from query_planner_optimizer_spark.sources.events_csv import (
            read_events_csv,
        )

        spark = self.run.spark
        agg_dir = self.prepared.aggregates_dir
        wall0 = time.time()
        with self.run.op("append"):
            with self.tr.span("prepare.refresh_rollups"):
                delta = augment_time_columns(
                    read_events_csv(spark, self.inputs.delta_csvs[index]))
                refresh_rollups(spark, delta, agg_dir)
            if self.tr.enabled:
                jobs, tasks = self.tr.jobs_since_mark()
                self.tr.count("exec.jobs", jobs)
                self.tr.count("exec.tasks", tasks)
                self.tr.count("refresh.tasks", tasks)
                self.tr.count("refresh.bytes",
                              dir_bytes(agg_dir, newer_than=wall0)[1])
            with self.tr.span("router.invalidate"):
                self.runner.router.invalidate()
        self.state = index + 1

    def _query(self, cls: str, q: dict, index: int) -> None:
        with self.run.op(cls):
            with self.tr.span("runner.run_one"):
                res = self.runner.run_one(q)
            if res.error:
                raise RuntimeError(res.error)
        if res.error:
            return
        if self.tr.enabled:
            self.tr.count(f"router.{cls}_queries")
            if res.routed:
                self.tr.count(f"router.{cls}_routed")
                self.tr.count("router.rollup_rows",
                              self.tr.last_plan.get("leaf_rows", 0))
        self.answers.append((cls, q, res.rows, res.routed, self.state))

    # -- results --------------------------------------------------------

    def corrupt_one_answer(self) -> None:
        """Test hook: change one value of the first non-empty answer."""
        i = next(i for i, a in enumerate(self.answers) if a[2])
        cls, q, rows, routed, state = self.answers[i]
        bad = tuple(rows[0])[:-1] + (-1,)
        self.answers[i] = (cls, q, [bad] + list(rows[1:]), routed, state)

    def check(self) -> int:
        """Wrong answers: every dashboard read must route, and every
        answer must equal DuckDB over the rows its source holds."""
        from query_planner_optimizer_spark.dsl.assembler import assemble_sql

        con = oracle.connect()
        oracle.load_events(con, "base", [self.inputs.base_csv])
        oracle.load_events(con, "delta", self.inputs.delta_csvs)
        expected: dict[tuple[str, int], list] = {}
        wrong = 0
        for cls, q, rows, routed, state in self.answers:
            if cls == "dashboard" and not routed:
                wrong += 1
                print(f"perfbench: dashboard read not routed: {q}",
                      file=sys.stderr)
                continue
            folded = state if routed else 0
            key = (json.dumps(q, sort_keys=True), folded)
            if key not in expected:
                con.execute(
                    "CREATE OR REPLACE VIEW events AS "
                    "SELECT * EXCLUDE (file_index) FROM base UNION ALL "
                    "SELECT * EXCLUDE (file_index) FROM delta "
                    f"WHERE file_index < {folded}")
                sql = assemble_sql(q, self.type_map, dialect="duckdb",
                                   ts_is_millis=True)
                expected[key] = con.execute(sql).fetchall()
            if not oracle.same_rows(rows, expected[key]):
                wrong += 1
                print(f"perfbench: wrong {cls} answer: {key[0]}",
                      file=sys.stderr)
        con.close()
        return wrong

    def stored_bytes(self) -> int:
        return dir_bytes(os.path.dirname(self.prepared.partitioned_dir))[1]

    def input_bytes(self) -> int:
        folded = self.inputs.delta_csvs[:self.state]
        return self.inputs.input_bytes + sum(os.path.getsize(p)
                                             for p in folded)

    def layer_metrics(self, spans: list, c: dict) -> dict:
        def mean_ms(name, self_time=False):
            xs = [(s.self_seconds if self_time else s.seconds)
                  for s in spans if s.name == name]
            return 1000.0 * sum(xs) / len(xs) if xs else 0.0

        c = defaultdict(float, c)
        batches = sum(1 for s in spans if s.name == "prepare.refresh_rollups")
        prep = self.prepare_stats
        return {
            "prepare.s": prep["s"],
            "prepare.tasks": prep["tasks"],
            "prepare.files_written": prep["files"],
            "prepare.bytes_written": prep["bytes"],
            "refresh.s_per_batch": mean_ms("prepare.refresh_rollups") / 1000.0,
            "refresh.tasks_per_batch": c["refresh.tasks"] / max(batches, 1),
            "refresh.bytes_rewritten_per_batch":
                c["refresh.bytes"] / max(batches, 1),
            "catalog.table_ms": mean_ms("catalog.table"),
            "compiler.compile_ms": mean_ms("compiler.compile", True),
            "router.route_ms": mean_ms("router.route"),
            "router.refuse_ms": mean_ms("router.refuse"),
            "router.hit_ratio": c["router.dashboard_routed"]
                / max(c["router.dashboard_queries"], 1),
            "router.adhoc_hit_ratio": c["router.adhoc_routed"]
                / max(c["router.adhoc_queries"], 1),
            "router.rollup_rows_read": c["router.rollup_rows"]
                / max(c["router.dashboard_routed"]
                      + c["router.adhoc_routed"], 1),
            "router.invalidate_ms": mean_ms("router.invalidate"),
            "runner.overhead_ms": mean_ms("runner.run_one", True),
        }
