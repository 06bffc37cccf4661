"""Headline workload: the pinned analytical queries over generated tables,
each forced with a count, in a seeded order per pass."""

from __future__ import annotations

import random

import duckdb

from pins import HEADLINE_OPS

PLAN_PHASES = ("analysis", "optimization", "planning")


class Headline:
    def __init__(self, ctx):
        from seoul_big_data_spark.queries import ORACLES, QUERIES
        from seoul_big_data_spark.sources.tables import TABLES
        from tools.local_verify import frame_digest

        self.ctx = ctx
        self.queries = QUERIES
        self.digest = frame_digest
        self.ops = list(HEADLINE_OPS)
        self.op_count = len(self.ops)
        # Oracle results, computed once per run and untimed.
        self.oracle: dict[str, tuple] = {}
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{ctx.data_dir}/{t}.parquet')"
                )
            for op in self.ops:
                if op in ORACLES:
                    cur = con.execute(ORACLES[op])
                    cols = [d[0] for d in cur.description]
                    self.oracle[op] = frame_digest(cols, cur.fetchall())
        finally:
            con.close()
        self.seen_count: dict[str, int] = {}  # ops without an oracle
        self.plan_s: dict[int, dict[str, float]] = {}

    def order(self, pass_no: int) -> list[str]:
        ops = list(self.ops)
        random.Random(f"{self.ctx.seed}:{pass_no}").shuffle(ops)
        return ops

    def warmup(self, tracer) -> tuple[float, list[str]]:
        """Pass 0: collect every op and compare its full order-insensitive
        hash with the oracle. Returns (seconds in engine calls, failed ops)."""
        spent, failed = 0.0, []
        for op in self.order(0):
            t0 = self.ctx.clock()
            try:
                df = self.queries[op](self.ctx.spark, self.ctx.data_dir)
                rows = [tuple(r) for r in df.collect()]
                cols = list(df.columns)
            except Exception as e:  # noqa: BLE001 — a failing op is a result
                spent += self.ctx.clock() - t0
                failed.append(f"{op}: {type(e).__name__}: {e}"[:300])
                continue
            spent += self.ctx.clock() - t0
            got = self.digest(cols, rows)
            if op in self.oracle:
                if got != self.oracle[op]:
                    failed.append(f"{op}: result differs from the oracle")
            else:
                self.seen_count[op] = got[0]
        return spent, failed

    def run_pass(self, tracer, pass_no: int) -> list[tuple[str, float, str | None]]:
        """One timed pass: (op, seconds, failure or None) per op."""
        out = []
        plan_s = self.plan_s.setdefault(pass_no, dict.fromkeys(PLAN_PHASES, 0.0))
        for op in self.order(pass_no):
            err = None
            t0 = self.ctx.clock()
            try:
                with tracer.span("op", op=op):
                    with tracer.span("queries.build", "build"):
                        df = self.queries[op](self.ctx.spark, self.ctx.data_dir)
                    with tracer.span("plan", "plan"):
                        counted = df.groupBy().count()
                        if tracer.enabled:
                            counted._jdf.queryExecution().executedPlan()
                    with tracer.span("exec", "exec"):
                        n = counted.collect()[0][0]
            except Exception as e:  # noqa: BLE001
                n, err = None, f"{type(e).__name__}: {e}"[:300]
            dt = self.ctx.clock() - t0
            if err is None:
                want = self.oracle[op][0] if op in self.oracle else self.seen_count.get(op)
                if n != want:
                    err = f"count {n} != expected {want}"
            if tracer.enabled and err is None:
                phases = counted._jdf.queryExecution().tracker().phases()
                for ph in PLAN_PHASES:
                    if phases.contains(ph):
                        plan_s[ph] += phases.apply(ph).durationMs() / 1000
            out.append((op, dt, err))
        return out

    def final_checks(self) -> list[str]:
        return []

    def install_tracing(self, tracer) -> None:
        from seoul_big_data_spark.sources import tables

        tracer.wrap(tables, "load", "sources.tables.load", "load")

    def layer_metrics(self, tracer, pass_no: int, ex: dict) -> dict:
        by_phase = ex["jobs_by_phase"]
        out = {
            "queries.build_s": tracer.total("queries.build", pass_no),
            "queries.build_jobs": by_phase["build"] + by_phase["load"],
            "sources.tables.load_s": tracer.total(
                "sources.tables.load", pass_no, outermost=True
            ),
            "sources.tables.load_calls": tracer.count("sources.tables.load", pass_no),
            "sources.tables.load_jobs": by_phase["load"],
        }
        for ph in PLAN_PHASES:
            out[f"plan.{ph}_s"] = self.plan_s[pass_no][ph]
        return out
