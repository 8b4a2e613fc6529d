"""Workload ``catalog``: a closed loop with one client over 17 fixed
catalog queries, one at a time, each built and then collected to the
driver.  Collecting (rather than writing to the ``noop`` sink) lets the
oracle check, which runs after the timed window, reuse the timed
execution's rows instead of executing every query a second time.

Why: ``plans`` and ``operators`` do all the work here; ``streaming`` and
``sinks`` do none.  The two sets stress opposite phases: the ``olap`` set
spends most of its time executing, the ``curation`` set in DataFrame build
and the eager side-jobs that build runs (counts, checkpoints).  The traced
run times each set on its own, so a change that trades one phase for the
other shows there.
"""

from __future__ import annotations

import contextlib
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.append(os.path.join(ROOT, "tools"))

import check_oracle  # noqa: E402 - the repository's exact oracle gate
import gen_scale_data  # noqa: E402 - the repository's replica of the test tables

SF = 0.01
OLAP = [
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume", "tpch_q6_forecast_revenue",
    "tpch_q9_product_type_profit", "j1_inner_equijoin", "j3_interval_join",
    "a2_traffic_window_pv", "a7_sku_order_window",
]
# The run budget leaves out three slower curation queries:
# pipeline_pretrain_curation_capped (its DuckDB oracle alone takes 5 s a
# run), text_dsir_logweights and graph_pagerank_suppliers.
CURATION = [
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh", "ann_cosine_pairs",
    "text_quality", "graph_triangle_counts", "ann_pq_topk", "dedup_keep_best_quality",
]
SETS = {"olap": OLAP, "curation": CURATION}
OPERATOR_MODULES = ("joins", "dedup", "text", "similarity", "graph")
MATERIALIZERS = ("cache", "persist", "localCheckpoint", "checkpoint")
_EXCHANGE = re.compile(r"^[\s:|+-]*(Exchange|BroadcastExchange)\b")
# Known engine/oracle difference, left standing: tpch_q9 rounds a profit
# that sits exactly on a half cent (an exact integer / 1e4) to 2 decimals,
# and Spark and DuckDB round such a double to different sides on some
# seeds.  Only these columns may differ, by one unit of the oracle's last
# decimal; each such value is counted and reported.
FLIP_COLUMNS = {"tpch_q9_product_type_profit": {"sum_profit"}}


def rounding_flip(a: str, b: str) -> bool:
    """True when a and b are fractional numbers one unit of b's last
    decimal apart."""
    if "." not in b:
        return False
    try:
        x, y = float(a), float(b)
    except ValueError:
        return False
    return abs(x - y) <= 1.000001 * 10.0 ** -len(b.split(".")[1])


def compare(q: str, sdf, srows, oracle) -> tuple[str | None, int]:
    """Order-insensitive comparison of a Spark result with its DuckDB
    oracle, as tools/check_oracle.py makes it.  Returns (mismatch
    description or None, number of tolerated rounding flips)."""
    ocols, orows, oschema = oracle
    tmis = check_oracle.type_mismatches(sdf.columns, sdf.dtypes, oschema)
    if tmis:
        return f"type kind mismatch (spark vs oracle): {tmis}", 0
    sc, sr = check_oracle.norm_rows(sdf.columns, srows)
    oc, orr = check_oracle.norm_rows(ocols, orows)
    if sc != oc:
        return f"columns {sc} vs {oc}", 0
    if len(sr) != len(orr):
        return f"rowcount {len(sr)} vs {len(orr)}", 0
    may_flip = {sc.index(c) for c in FLIP_COLUMNS.get(q, ())}
    flips = 0
    for a, b in zip(sr, orr):
        for i, (x, y) in enumerate(zip(a, b)):
            if x == y:
                continue
            if i in may_flip and rounding_flip(x, y):
                flips += 1
            else:
                return f"values differ, e.g. {a} vs {b}", flips
    return None, flips


class Workload:
    def __init__(self, seed: int, work: str) -> None:
        self.dir = os.path.join(work, "tables")
        gen_scale_data.SEED = seed
        self.table_rows = gen_scale_data.gen(SF, self.dir)
        self.queries = [q for qs in SETS.values() for q in qs]
        self.set_pass_s: dict[str, float] = {}
        self.failed_queries: set[str] = set()
        self.frames: dict = {}
        self.results: dict[str, list] = {}
        self.tracer = None
        self.rounding_flips = 0

    def warm(self, spark) -> None:
        spark.read.parquet(os.path.join(self.dir, "lineitem.parquet")) \
            .groupBy("l_returnflag").count().collect()

    # ---- traced run -----------------------------------------------------
    def install(self, tracer) -> None:
        """Hooks: catalog build and execution (in run), operator modules,
        the table loader, and every materialization call.  The classic
        DataFrame class is the one sessions hand out; patching the
        pyspark.sql.DataFrame alias would miss calls such as
        localCheckpoint."""
        import importlib

        from pyspark.sql.classic.dataframe import DataFrame

        from flink_realtime_dw4_0_spark.plans import _registry

        self.tracer = tracer
        for mod_name in OPERATOR_MODULES:
            mod = importlib.import_module(f"flink_realtime_dw4_0_spark.operators.{mod_name}")
            for name, fn in list(vars(mod).items()):
                if (callable(fn) and not name.startswith("_") and not isinstance(fn, type)
                        and getattr(fn, "__module__", None) == mod.__name__):
                    tracer.wrap(mod, name, f"operators.{mod_name}")
        tracer.wrap(_registry, "load_table", "sources.load_table")
        for meth in MATERIALIZERS:
            inner = getattr(DataFrame, meth)

            def counted(self_df, *a, _inner=inner, **kw):
                tracer.count(f"materializations:{tracer.request()}")
                return _inner(self_df, *a, **kw)

            setattr(DataFrame, meth, counted)

    # ---- timed part -----------------------------------------------------
    def _one(self, spark, q: str) -> None:
        from flink_realtime_dw4_0_spark.plans.catalog import CATALOG

        sc = spark.sparkContext
        span = self.tracer.span if self.tracer else lambda *_: contextlib.nullcontext()
        sc.setJobGroup(f"plans:{q}", q)
        with span("plans.build", q):
            df = CATALOG[q].fn(spark, self.dir)
        sc.setJobGroup(f"exec:{q}", q)
        with span("exec.collect", q):
            rows = df.collect()
        sc.setJobGroup("perfbench", "between queries")
        self.frames[q] = df
        self.results[q] = rows

    def run(self, spark, seconds: float, tracer) -> list[float]:
        passes = []
        start = time.perf_counter()
        while not passes or time.perf_counter() - start < seconds:
            p0 = time.perf_counter()
            for set_name, qs in SETS.items():
                s0 = time.perf_counter()
                for q in qs:
                    try:
                        self._one(spark, q)
                    except Exception as e:  # noqa: BLE001 - a failed query is a failed op
                        print(f"perfbench: {q} failed: {e!r}"[:2000], file=sys.stderr)
                        self.failed_queries.add(q)
                        self.frames.pop(q, None)
                        self.results.pop(q, None)
                self.set_pass_s[set_name] = time.perf_counter() - s0
            passes.append(time.perf_counter() - p0)
        return passes

    # ---- correctness ----------------------------------------------------
    def check(self, spark) -> tuple[int, int]:
        """Every query's last result against its DuckDB oracle twin; a
        query without one (ann_pq_topk) must return k=5 neighbours for
        each of its query vectors, all of them existing ids."""
        expected = self._oracle_results()
        failed = set(self.failed_queries)
        for q, srows in self.results.items():
            if q not in expected:
                n_vec = self.table_rows["embeddings"]
                n_query = len(range(0, n_vec, 25))
                ok = len(srows) == 5 * n_query and all(
                    0 <= v < n_vec for r in srows for v in r if isinstance(v, int))
                err = None if ok else f"{len(srows)} rows for {n_query} query vectors"
            else:
                err, flips = compare(q, self.frames[q], srows, expected[q])
                if flips:
                    self.rounding_flips += flips
                    print(f"perfbench: {q}: {flips} value(s) one rounding unit off "
                          "the oracle", file=sys.stderr)
            if err:
                print(f"perfbench: {q} mismatches its oracle: {err}"[:2000], file=sys.stderr)
                failed.add(q)
        return len(self.queries), len(failed)

    def _oracle_results(self) -> dict[str, tuple]:
        import duckdb

        from flink_realtime_dw4_0_spark.plans.catalog import CATALOG

        out = {}
        with duckdb.connect() as con:
            for name in self.table_rows:
                path = os.path.join(self.dir, f"{name}.parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
            for q in self.results:
                if CATALOG[q].oracle is not None:
                    tbl = con.execute(CATALOG[q].oracle).arrow()
                    out[q] = (tbl.schema.names, [tuple(r.values()) for r in tbl.to_pylist()],
                              tbl.schema)
        return out

    # ---- per-layer metrics ----------------------------------------------
    def layer_metrics(self, spark, tracer, passes) -> dict[str, tuple[float, str]]:
        import spans

        spans.wait_for_listeners(spark)
        m: dict[str, tuple[float, str]] = {}
        last = {(s["name"], s["rid"]): s["end"] - s["start"] for s in tracer.spans}
        for q in self.queries:
            df = self.frames.get(q)
            m[f"plans.{q}.build_s"] = (last.get(("plans.build", q), 0.0), "s")
            m[f"plans.{q}.materializations"] = (tracer.counts.get(f"materializations:{q}", 0), "count")
            m[f"exec.{q}.s"] = (last.get(("exec.collect", q), 0.0), "s")
            m[f"exec.{q}.exchanges"] = (_exchanges(df) if df is not None else 0, "count")
        for set_name, qs in SETS.items():
            m[f"plans.{set_name}.build_jobs"] = (
                sum(spans.jobs_in_group(spark, f"plans:{q}") for q in qs), "count")
            m[f"catalyst.{set_name}.plan_s"] = (
                sum(_catalyst_s(self.frames[q]) for q in qs if q in self.frames), "s")
            st = spans.stage_totals(spark, {f"{p}:{q}" for q in qs for p in ("plans", "exec")})
            m[f"exec.{set_name}.cpu_ms"] = (st["cpu_ms"], "ms")
            m[f"exec.{set_name}.shuffle_bytes"] = (st["shuffle_bytes"], "B")
            m[f"exec.{set_name}.spill_bytes"] = (st["spill_bytes"], "B")
            m[f"catalog.{set_name}.pass_s"] = (self.set_pass_s[set_name], "s")
        self_times = tracer.self_times()
        for mod_name in OPERATOR_MODULES:
            name = f"operators.{mod_name}"
            m[f"{name}.build_s"] = (
                sum(self_times[s["id"]] for s in tracer.spans if s["name"] == name), "s")
        m["sources.load_table_calls"] = (tracer.n("sources.load_table"), "count")
        m["catalog.rounding_flips"] = (self.rounding_flips, "count")
        m["trace.pass_s"] = (passes[-1], "s")
        return m


def _exchanges(df) -> int:
    """Exchange and BroadcastExchange nodes in the query's initial
    physical plan.  Under adaptive execution the executed plan is an
    AdaptiveSparkPlanExec whose text shows the final and the initial
    plan; its initialPlan is the plan before any re-optimization."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    return sum(1 for line in plan.toString().splitlines() if _EXCHANGE.match(line))


def _catalyst_s(df) -> float:
    """Analysis, optimization and planning time of the DataFrame's own
    query execution, from Catalyst's phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1000.0
