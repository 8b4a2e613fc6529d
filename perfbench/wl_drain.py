"""Workload ``wh_drain``: ``Warehouse.run_available_now`` over a generated,
gmall-shaped ``topic_db`` / ``topic_log`` stream held in a few large files.

Why: a drain processes a backlog in few, large micro-batches, so it
measures catch-up and backfill throughput through every warehouse layer
(ODS -> DIM/DWD -> first-seen flags -> DWS -> serving tables): sources,
streaming, operators.state and all three sink families.  At this size the
fixed cost of each micro-batch (Spark jobs, MERGE commits) still
dominates the cost of its rows.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import gen_gmall

N_LOG = 8_000
N_DB = 4_000
N_FILES = 4
# every file in one trigger: one data micro-batch per source, so the run
# fits its time budget (a second batch adds about 20 s of fixed cost)
MAX_FILES = N_FILES
DIM_CONFIG = [
    ("base_dic", "dim_base_dic", "dic_code,dic_name", "info", "dic_code", "r"),
    ("sku_info", "dim_sku_info", "id,sku_name,price,spu_id", "info", "id", "r"),
]
SERVING = {  # warehouse attribute -> (dimension columns, measure columns)
    "kw_serving": (["keyword"], ["keyword_count"]),
    "traffic_serving": (["vc", "ch", "ar", "is_new"], ["pv_ct", "sv_ct", "dur_sum"]),
    "uv_serving": ([], ["uv_ct"]),
    "cart_uu_serving": ([], ["cart_add_uu_ct"]),
}


class Workload:
    def __init__(self, seed: int, work: str) -> None:
        self.work = work
        self.db, self.log = gen_gmall.generate(seed, N_LOG, N_DB)
        self.src_db = os.path.join(work, "src_db")
        self.src_log = os.path.join(work, "src_log")
        gen_gmall.write_stream(self.db, self.src_db, N_FILES)
        gen_gmall.write_stream(self.log, self.src_log, N_FILES)
        self.wh = None
        self.handles: dict[str, list] = {"db": [], "log": [], "flags": [], "dws": []}
        self.commits: dict[str, int] = {}  # KeyedTable path -> versions committed

    def warm(self, spark) -> None:
        spark.read.text(self.src_log).selectExpr("count(*)").collect()

    # ---- traced run -----------------------------------------------------
    def install(self, tracer) -> None:
        """Hooks around the public functions of every warehouse layer.
        streaming/warehouse.py imports the foreachBatch builders and the
        route writers by name, so those are patched in its namespace."""
        from flink_realtime_dw4_0_spark.operators import state
        from flink_realtime_dw4_0_spark.sinks.dim import DimWarehouse
        from flink_realtime_dw4_0_spark.sinks.upsert import CommitConflictError, KeyedTable
        from flink_realtime_dw4_0_spark.sources import kafka
        from flink_realtime_dw4_0_spark.streaming import warehouse
        from flink_realtime_dw4_0_spark.streaming.dwd_trade import OrderDetailJoin

        def traced(fn, name):
            def body(batch, batch_id):
                with tracer.span(name, f"{name}:{batch_id}"):
                    return fn(batch, batch_id)

            return body

        def batch_spans(builder, name):
            return lambda *args, **kwargs: traced(builder(*args, **kwargs), name)

        W = warehouse.Warehouse
        W.db_foreach_batch = batch_spans(W.db_foreach_batch, "streaming.warehouse.db_batch")
        W.log_foreach_batch = batch_spans(W.log_foreach_batch, "streaming.warehouse.log_batch")
        warehouse.dim_foreach_batch = batch_spans(warehouse.dim_foreach_batch, "streaming.dim.batch")
        warehouse.dwd_log_foreach_batch = batch_spans(
            warehouse.dwd_log_foreach_batch, "streaming.dwd_log.batch")
        warehouse.serving_foreach_batch = batch_spans(
            warehouse.serving_foreach_batch, "sinks.serving.batch")
        routes = warehouse.parquet_route_writers
        warehouse.parquet_route_writers = lambda *args, **kwargs: {
            name: traced(w, "streaming.dwd_log.route_write")
            for name, w in routes(*args, **kwargs).items()}

        def capture(role, method):
            def started(self_wh, *args, **kwargs):
                out = method(self_wh, *args, **kwargs)
                if role == "ods":
                    self.handles["db"].append(out[0])
                    self.handles["log"].append(out[1])
                else:
                    self.handles[role].extend(out)
                return out

            return started

        W.start = capture("ods", W.start)
        W.flags_queries = capture("flags", W.flags_queries)
        W.dws_queries = capture("dws", W.dws_queries)

        merge = KeyedTable.merge

        def traced_merge(table, *args, **kwargs):
            before = table.history()[-1:]
            with tracer.span("sinks.upsert.merge"):
                try:
                    out = merge(table, *args, **kwargs)
                except CommitConflictError:
                    tracer.count("merge_retries")
                    raise
            self.commits[table.path] = (self.commits.get(table.path, 0)
                                        + (table.history()[-1:] != before))
            return out

        KeyedTable.merge = traced_merge
        tracer.wrap(DimWarehouse, "merge_dim_batch", "sinks.dim.merge")
        tracer.wrap(OrderDetailJoin, "process_batch", "streaming.dwd_trade.od_join")
        tracer.wrap(state, "visitor_fix_batch", "operators.state.visitor_fix")
        tracer.wrap(state, "first_seen", "operators.state.first_seen")
        tracer.wrap(kafka, "file_json_raw", "sources.file_json_raw")

    # ---- timed part -----------------------------------------------------
    def _drain(self, spark, root: str) -> None:
        from flink_realtime_dw4_0_spark import schemas
        from flink_realtime_dw4_0_spark.sources import kafka
        from flink_realtime_dw4_0_spark.streaming.warehouse import Warehouse, WarehousePaths

        config = spark.createDataFrame(DIM_CONFIG, schemas.TABLE_PROCESS_DIM)
        self.wh = Warehouse(spark, WarehousePaths(root), lambda s: config)
        self.wh.run_available_now(
            kafka.file_json_raw(spark, self.src_db, max_files=MAX_FILES),
            kafka.file_json_raw(spark, self.src_log, max_files=MAX_FILES),
            timeout=150,
        )
        active = spark.streams.active
        if active:
            for q in active:
                q.stop()
            raise RuntimeError(f"{len(active)} streaming queries did not finish the drain")

    def run(self, spark, seconds: float, tracer) -> list[float]:
        passes = []
        start = time.perf_counter()
        while not passes or time.perf_counter() - start < seconds:
            root = os.path.join(self.work, f"wh{len(passes)}")
            if self.wh is not None:
                shutil.rmtree(self.wh.paths.root, ignore_errors=True)
            for h in self.handles.values():
                h.clear()
            self.commits.clear()
            p0 = time.perf_counter()
            self._drain(spark, root)
            passes.append(time.perf_counter() - p0)
        return passes

    # ---- correctness ----------------------------------------------------
    def check(self, spark) -> tuple[int, int]:
        import oracle_gmall

        return oracle_gmall.check(spark, self.wh, self.db, self.log, DIM_CONFIG, SERVING)

    # ---- per-layer metrics ----------------------------------------------
    def layer_metrics(self, spark, tracer, passes) -> dict[str, tuple[float, str]]:
        import spans

        spans.wait_for_listeners(spark)

        def total(name, parent=None):
            return sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == name
                       and (parent is None or (s["parent"] is not None
                                               and tracer.spans[s["parent"]]["name"] == parent)))

        def progress(role):
            return [[json.loads(p.json) for p in q.recentProgress] for q in self.handles[role]]

        def jobs_per_batch(role):
            (q,) = self.handles[role]
            return spans.jobs_in_group(spark, str(q.runId)) / max(1, len(q.recentProgress))

        def scan_passes(role, generated):
            return sum(p["numInputRows"] for qp in progress(role) for p in qp) / generated

        def state(role):
            qps = progress(role)
            last_ops = [op for qp in qps if qp for op in qp[-1].get("stateOperators", [])]
            return {
                "batch_s": sum(p["durationMs"].get("triggerExecution", 0)
                               for qp in qps for p in qp) / 1000.0,
                "state_rows": sum(op["numRowsTotal"] for op in last_ops),
                "state_bytes": sum(op["memoryUsedBytes"] for op in last_ops),
                "dropped": sum(op.get("numRowsDroppedByWatermark", 0)
                               for qp in qps for p in qp for op in p.get("stateOperators", [])),
            }

        flags, dws = state("flags"), state("dws")
        serving = [s for s in tracer.spans if s["name"] == "sinks.serving.batch"]
        emitting = {s["parent"] for s in tracer.spans
                    if s["name"] == "sinks.upsert.merge" and s["parent"] is not None
                    and tracer.spans[s["parent"]]["name"] == "sinks.serving.batch"}
        table_bytes = sum(os.path.getsize(os.path.join(d, f))
                          for p in self.commits for d, _, fs in os.walk(p) for f in fs)
        return {
            "streaming.warehouse.db_batch_s": (total("streaming.warehouse.db_batch"), "s"),
            "streaming.warehouse.log_batch_s": (total("streaming.warehouse.log_batch"), "s"),
            "streaming.warehouse.db_jobs_per_batch": (jobs_per_batch("db"), "count"),
            "streaming.warehouse.log_jobs_per_batch": (jobs_per_batch("log"), "count"),
            "sinks.upsert.merge_s": (total("sinks.upsert.merge"), "s"),
            "sinks.upsert.merge_calls": (tracer.n("sinks.upsert.merge"), "count"),
            "sinks.upsert.merge_retries": (tracer.counts.get("merge_retries", 0), "count"),
            "sinks.upsert.table_bytes": (table_bytes, "B"),
            "sinks.upsert.versions": (sum(self.commits.values()), "count"),
            "sinks.dim.merge_s": (total("sinks.dim.merge"), "s"),
            "streaming.dwd_trade.od_join_s": (total("streaming.dwd_trade.od_join"), "s"),
            "operators.state.visitor_fix_s": (total("operators.state.visitor_fix"), "s"),
            "streaming.dwd_log.route_write_s": (total("streaming.dwd_log.route_write"), "s"),
            "sources.db.scan_passes": (scan_passes("db", len(self.db)), "ratio"),
            "sources.log.scan_passes": (scan_passes("log", len(self.log)), "ratio"),
            "operators.state.first_seen.batch_s": (flags["batch_s"], "s"),
            "operators.state.first_seen.state_rows": (flags["state_rows"], "count"),
            "operators.state.first_seen.state_bytes": (flags["state_bytes"], "B"),
            "streaming.dws.batch_s": (dws["batch_s"], "s"),
            "streaming.dws.state_rows": (dws["state_rows"], "count"),
            "streaming.dws.state_bytes": (dws["state_bytes"], "B"),
            "streaming.dws.rows_dropped_late": (dws["dropped"] + flags["dropped"], "count"),
            "streaming.dws.emit_ratio": (len(emitting) / max(1, len(serving)), "ratio"),
            "sinks.serving.merge_s": (total("sinks.upsert.merge", parent="sinks.serving.batch"), "s"),
            "trace.pass_s": (passes[-1], "s"),
        }
