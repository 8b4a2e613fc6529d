"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog|wh_drain --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout.  The benchmark generates its inputs from
the seed under ``.perfbench_work/``, builds a warm Spark session on
``local[<cores>]``, measures complete passes for at least ``--seconds``
seconds, checks the outputs against DuckDB outside the timed window, and
prints one JSON object as the last line of standard output.  With
``--trace 0`` the metrics are the end-to-end metrics; with ``--trace 1``
the layer hooks are installed and the metrics are the per-layer ones.
See perfbench/README.md.
"""

from __future__ import annotations

import os
import time


def _process_age() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T_START = time.perf_counter() - _process_age()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"
DEADLINE_S = 175  # a run that is not done by then exits non-zero


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str) -> None:
    """Everything the session and its Python workers read at JVM launch,
    and the program's import path.  All scratch paths stay inside the
    checkout."""
    if ROOT not in sys.path:
        sys.path.insert(1, ROOT)
    for d in ("tmp", "spark-local", "spark-warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "spark-warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher too: temp files in the checkout,
    # no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    # Python workers import the program by module path; the JVM starts
    # them with this environment, wherever the driver process was started.
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, path) if p)


SESSION_CONF = {
    "spark.ui.showConsoleProgress": "false",
    # the traced run counts jobs and stages through the status store
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "10000",
    # a fixed heap, touched at launch: otherwise G1 grows the heap by how
    # long its pauses took, and the share of it that a pass touches
    # depends on GC timing, so peak RSS tracked the host's load
    "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
}


def new_session():
    from flink_realtime_dw4_0_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=SESSION_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class PeakRss:
    """Peak resident set of the Spark JVM between start() and stop()."""

    def __init__(self, pid: int) -> None:
        self.pid = pid

    def _kb(self, field: str) -> int:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
        raise RuntimeError(f"{field} missing for pid {self.pid}")

    def start(self) -> None:
        with open(f"/proc/{self.pid}/clear_refs", "w") as f:
            f.write("5")  # resets VmHWM to the current RSS

    def stop(self) -> float:
        return self._kb("VmHWM:") / 1024.0


def host_facts() -> dict:
    import pyspark

    return {
        "nproc": _cores(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "loadavg": os.getloadavg(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("catalog", "wh_drain"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "flink_realtime_dw4_0_spark", "__init__.py")):
        print("perfbench: flink_realtime_dw4_0_spark not found; run from the "
              "root of a checkout of the repository", file=sys.stderr)
        return 2
    watchdog = threading.Timer(DEADLINE_S, lambda: os._exit(3))
    watchdog.daemon = True
    watchdog.start()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    phases = {}
    spark = None
    try:
        # importing a workload module (for catalog, the program's catalog
        # too) counts as set-up; generating the inputs does not
        if args.workload == "catalog":
            import wl_catalog as workload_mod
        else:
            import wl_drain as workload_mod
        t_gen = time.perf_counter()
        wl = workload_mod.Workload(args.seed, work)
        phases["generate_s"] = time.perf_counter() - t_gen
        spark = new_session()
        wl.warm(spark)
        # process start to warm session, less the input generation
        setup_s = time.perf_counter() - T_START - phases["generate_s"]

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer()
            wl.install(tracer)
        rss = PeakRss(spark._jvm.java.lang.ProcessHandle.current().pid())
        rss.start()
        passes = wl.run(spark, args.seconds, tracer)
        peak_mb = rss.stop()
        t_check = time.perf_counter()
        attempted, failed = wl.check(spark)
        phases["check_s"] = time.perf_counter() - t_check

        if tracer is None:
            metrics = {
                "setup_s": (setup_s, "s"),
                "mem_peak_mb": (peak_mb, "MB"),
                "pass_s": (statistics.median(passes), "s"),
            }
        else:
            metrics = wl.layer_metrics(spark, tracer, passes)
            metrics["session.setup_s"] = (setup_s, "s")
            # a traced run reports every declared per-layer metric; those of
            # layers this workload does not touch read 0
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                for m in json.load(f)["per_layer"]:
                    metrics.setdefault(m["name"], (0, m["unit"]))
            traces = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            stop_session(spark)
        phases["stop_s"] = time.perf_counter() - t_stop
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"host": host_facts(), "setup_s": setup_s, "passes_s": passes,
                      **phases}), file=sys.stderr)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
