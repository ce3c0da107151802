"""One fresh benchmark process: engine import, session boot, a first
trivial job, then a fixed number of passes over one workload's query
list.

A pass runs every query once, in order, one at a time (a closed loop
with one client).  Each query is timed from the ``queries()[name]`` call
to the end of collecting its result as Arrow; the result hash, the
oracle comparison and ``spark.catalog.clearCache()`` happen after the
timer stops.  The record goes to ``--out`` as JSON.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402

import procfs  # noqa: E402


def _trace_listener():
    """A ProgressCollector that also keeps each micro-batch's start time,
    phase durations and emptiness, which its per-query counters lack:
    the start time attributes a query id to a timed span."""
    from golang_mapreduce_spark.streaming.metrics import ProgressCollector

    class PhaseCollector(ProgressCollector):
        def __init__(self) -> None:
            super().__init__()
            self.phases: list[dict] = []

        def onQueryProgress(self, event) -> None:  # noqa: N802
            super().onQueryProgress(event)
            p = event.progress
            with self._lock:
                self.phases.append(
                    {
                        "id": str(p.id),
                        "ts": p.timestamp,
                        "ms": dict(p.durationMs or {}),
                        "empty": not p.numInputRows,
                    }
                )

    return PhaseCollector()


def _cache_mb(spark) -> tuple[float, int]:
    """Storage held by persisted RDDs, and how many are registered."""
    jsc = spark.sparkContext._jsc
    held = sum(
        info.memSize() + info.diskSize() for info in jsc.sc().getRDDStorageInfo()
    )
    return held / 2**20, int(jsc.getPersistentRDDs().size())


def run_query(spark, fn, data_dir: str, expect: dict, collector) -> dict:
    me = os.getpid()
    cpu0 = procfs.cpu_by_role(me)
    w0 = time.time()
    t0 = time.perf_counter()
    rec: dict = {"ok": False}
    try:
        df = fn(spark, data_dir)
        t1 = time.perf_counter()
        table = df.toArrow()
        t2 = time.perf_counter()
    except Exception as exc:  # a failed query counts against ok_frac
        rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        spark.catalog.clearCache()
        return rec
    w1 = time.time()
    cpu1 = procfs.cpu_by_role(me)
    rec.update(
        call_s=t1 - t0,
        force_s=t2 - t1,
        wall=[w0, w1],
        cpu={k: cpu1[k] - cpu0[k] for k in cpu0},
    )
    from oracle import result_hash  # after the timer: it loads DuckDB

    got = result_hash(table)
    rec["ok"] = got == expect
    if not rec["ok"]:
        rec["error"] = f"result {got} != oracle {expect}"
    if collector is not None:
        rec["cache_mb"], rec["persists"] = _cache_mb(spark)
        collector.poll()
    spark.catalog.clearCache()
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--oracle", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--passes", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    t = time.perf_counter()
    import __spark_entry__
    from golang_mapreduce_spark.session import get_session

    t_import = time.perf_counter() - t
    work = os.environ["GRAFTBENCH_WORK"]
    conf = {
        # local mode runs every task in the driver JVM; the 1g default
        # heap runs out in the connected-components loop by the third
        # pass (the repo's bench and tests raise it for the same reason).
        # A fixed heap size (-Xms), touched whole at launch, keeps the
        # collector's resizing, and how much of the heap its regions
        # happened to touch by the peak, out of the memory and cold-pass
        # figures.  Two JIT compiler threads and two collector threads
        # (one concurrent) with the two task threads keep the JVM within
        # the host's cores during the cold pass, where compilation and
        # tasks run at once.
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": (
            "-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData"
            " -XX:CICompilerCount=2 -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"
            f" -Djava.io.tmpdir={os.environ['TMPDIR']}"
        ),
    }
    t = time.perf_counter()
    spark = get_session(app_name="graftbench", extra_conf=conf)
    t_boot = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    t_first = time.perf_counter() - t
    out: dict = {
        "setup_s": time.perf_counter() - T_START,
        "import_s": t_import,
        "boot_s": t_boot,
        "first_job_s": t_first,
        "master": spark.sparkContext.master,
    }
    try:
        out.update(run_passes(spark, __spark_entry__.queries(), args))
    finally:
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(out, f)


def run_passes(spark, registry: dict, args) -> dict:
    with open(args.oracle) as f:
        expect = json.load(f)
    names = args.queries.split(",")
    listener = collector = None
    if args.trace:
        from layers import RestCollector

        listener = _trace_listener()
        spark.streams.addListener(listener)
        collector = RestCollector(spark.sparkContext)
    passes = []
    for _ in range(args.passes):
        h0 = procfs.host_ticks()
        queries = {
            name: run_query(spark, registry[name], args.data, expect[name], collector)
            for name in names
        }
        passes.append({"queries": queries, "host": procfs.host_shares(h0, procfs.host_ticks())})
    out: dict = {"passes": passes}
    if args.trace:
        time.sleep(1.0)  # let the listener bus deliver the last events
        spark.streams.removeListener(listener)
        out["trace"] = {
            **collector.close(),
            "batches": listener.phases,
            "streams": {
                "batches": listener.batches,
                "input_rows": listener.input_rows,
                "peak_state_rows": listener.peak_state_rows,
            },
        }
    return out


if __name__ == "__main__":
    main()
