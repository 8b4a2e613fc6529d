"""Self-test of the traced run's layer hooks, on smoke-sized inputs.

    python3 perfbench/selftest.py

Runs a few catalog queries and a small warehouse drain with the hooks
installed, from a working directory outside the repository root, and
fails unless every span and counter fired at least once and every
per-layer metric the workloads report is declared in BENCHMARK.json.
It guards three ways a hook can silently read zero:

* Python workers that cannot import the program when the driver process
  runs outside the repository root (run.py sets their import path);
* materializations counted on the ``pyspark.sql.DataFrame`` alias, which
  misses ``localCheckpoint`` (graph_triangle_counts calls it);
* warehouse functions that streaming/warehouse.py imports by name, which
  must be patched in that module's namespace.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run
import wl_catalog
import wl_drain
from spans import Tracer

QUERIES = {
    "olap": ["tpch_q3_shipping_priority", "j1_inner_equijoin"],
    # ann_pq_topk's Python UDF is pickled by reference: its workers must
    # import the program; graph_triangle_counts calls localCheckpoint
    "curation": ["dedup_minhash_lsh", "text_quality", "ann_cosine_pairs",
                 "ann_pq_topk", "graph_triangle_counts"],
}
CATALOG_SPANS = ["plans.build", "exec.collect", "sources.load_table"] + [
    f"operators.{m}" for m in wl_catalog.OPERATOR_MODULES]
DRAIN_SPANS = [
    "streaming.warehouse.db_batch", "streaming.warehouse.log_batch",
    "streaming.dim.batch", "streaming.dwd_log.batch", "streaming.dwd_log.route_write",
    "sinks.serving.batch", "sinks.upsert.merge", "sinks.dim.merge",
    "streaming.dwd_trade.od_join", "operators.state.visitor_fix",
    "operators.state.first_seen", "sources.file_json_raw",
]
# counters that are legitimately zero on a healthy run
MAY_BE_ZERO = {"sinks.upsert.merge_retries", "streaming.dws.rows_dropped_late",
               "catalog.rounding_flips"}


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"] for m in json.load(f)["per_layer"]}
    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    run.configure_env(work)
    os.chdir(os.path.join(work, "tmp"))  # the driver process runs outside the repo root
    problems: list[str] = []
    wl_catalog.SETS = QUERIES
    wl_drain.N_LOG, wl_drain.N_DB = 400, 200
    spark = None
    try:
        for mod, expected_spans in ((wl_catalog, CATALOG_SPANS), (wl_drain, DRAIN_SPANS)):
            wl = mod.Workload(1, work)
            if spark is None:
                spark = run.new_session()
            wl.warm(spark)
            tracer = Tracer()
            wl.install(tracer)
            passes = wl.run(spark, 0, tracer)
            attempted, failed = wl.check(spark)
            if failed:
                problems.append(f"{mod.__name__}: {failed} of {attempted} checks failed")
            names = {s["name"] for s in tracer.spans}
            problems += [f"span {n} never fired" for n in expected_spans if n not in names]
            metrics = wl.layer_metrics(spark, tracer, passes)
            if mod is wl_catalog and not metrics["plans.graph_triangle_counts.materializations"][0]:
                problems.append("graph_triangle_counts counted no materializations")
            for name, (value, _unit) in metrics.items():
                if name not in declared:
                    problems.append(f"metric {name} is not declared in BENCHMARK.json")
                if not value and name not in MAY_BE_ZERO and not _zero_ok(name):
                    problems.append(f"metric {name} read 0")
    finally:
        if spark is not None:
            run.stop_session(spark)
        os.chdir(run.ROOT)
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"selftest: {p}", file=sys.stderr)
    print("selftest: ok" if not problems else f"selftest: {len(problems)} problem(s)")
    return 1 if problems else 0


def _zero_ok(name: str) -> bool:
    """Per-query counters a query may legitimately leave at zero."""
    return name.endswith((".materializations", ".exchanges")) or name.endswith(".spill_bytes")


if __name__ == "__main__":
    sys.exit(main())
