"""Seeded benchmark of the engine's ``__spark_entry__.queries()`` contract.

    python3 graftbench/run.py --workload corpus_dedup --seed 1 --seconds 16 --trace 0

Generates the workload's inputs from ``--seed`` (cached under
``graftbench/_work``), computes the DuckDB oracle hash of every query
(cached per workload and seed), then runs one fresh process: set-up, a
cold pass and a fixed number of timed passes.  Prints a detail line and,
last, one JSON line: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  Every execution's result is
checked against the oracle outside the timers.  See graftbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
sys.path.insert(0, ROOT)

import procfs  # noqa: E402
import layers  # noqa: E402
from gen import generate  # noqa: E402
from oracle import oracle_hashes  # noqa: E402

#: Query lists and table rows of each workload.  The rows are the repo's
#: sf0.01 fixture sizes (the correctness tier's scale), a tenth of the
#: sf0.1 the repo's bench.py runs at, so fixed per-query overhead
#: (planning, job scheduling, codegen) weighs more than the data path.
#: ``warm_pass_s`` is a warm pass's wall time at ``local[2]`` on a quiet
#: 4-core host; it turns ``--seconds`` into a fixed timed-pass count,
#: never a wall-time loop, so every run times the same pass indices
#: whatever the host's steal.
WORKLOADS = {
    "corpus_dedup": {
        "queries": ["neardup_clusters"],
        "size": {"documents": 500},
        "warm_pass_s": 4.6,
    },
    "stream_drain": {
        "queries": ["stateful_sessionize"],
        "size": {"events": 10_000},
        "warm_pass_s": 4.2,
    },
}
ALL_QUERIES = [q for wl in WORKLOADS.values() for q in wl["queries"]]
#: Fewest timed passes: the median of three resists one pass slowed by a
#: burst of host steal, which a two-pass median (their mean) does not.
MIN_TIMED = 3
#: Spark task threads.  A cold pass keeps the JVM's JIT compiler and
#: collector threads busy beside the tasks; with four task threads on a
#: 4-core host the tasks, those threads and the driver outnumber the
#: cores, and the cold pass timed the scheduler: corpus_dedup's
#: cold_pass_s spread (IQR / median over ten seeds) was 0.18-0.29 at
#: local[4] and 0.10-0.12 at local[2] on a 4-core VM.
TASK_THREADS = 2
#: A run is killed, and fails, past this many seconds.
DEADLINE_S = 170.0


def _spawn(args: list[str], env: dict, deadline: float) -> tuple[dict, float]:
    """Run one worker process to completion, sampling its process tree's
    resident memory; return its JSON record and the peak in MB."""
    out = os.path.join(WORK, f"worker-{os.getpid()}.json")
    log = open(os.path.join(WORK, "worker.log"), "ab")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), "--out", out, *args],
        env=env,
        stdout=log,
        stderr=log,
        start_new_session=True,
    )
    peak = 0.0
    try:
        while proc.poll() is None:
            if time.monotonic() > deadline:
                raise TimeoutError("benchmark deadline passed")
            peak = max(peak, procfs.tree_pss_mb(proc.pid))
            time.sleep(0.1)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        _reap_group(proc.pid)
        log.close()
    if proc.returncode != 0:
        raise RuntimeError(f"worker exited with {proc.returncode}; see {log.name}")
    with open(out) as f:
        rec = json.load(f)
    os.remove(out)
    return rec, peak


def _reap_group(pgid: int, grace_s: float = 15.0) -> None:
    """Wait until the JVM and Python workers the worker started (its
    process group) have exited too; kill what outlives the grace time."""
    for sig, wait_s in ((0, grace_s), (signal.SIGKILL, 5.0)):
        end = time.monotonic() + wait_s
        while time.monotonic() < end:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def input_key(size: dict) -> str:
    """Names the cached inputs after the generator and the sizes, so a
    change to either regenerates them."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        h = hashlib.sha256(f.read())
    h.update(json.dumps(size, sort_keys=True).encode())
    return h.hexdigest()[:12]


def _child_env(cpus: int) -> dict:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT, HERE, env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        SPARK_GRAFT_CPUS=str(cpus),
        GRAFTBENCH_WORK=WORK,
        TMPDIR=tmp,
        # no /tmp/hsperfdata file from the JVM that assembles the launch
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
    )
    return env


def _wall(p: dict) -> float:
    """A pass's timed seconds: every query's call plus force."""
    return sum(q.get("call_s", 0.0) + q.get("force_s", 0.0) for q in p["queries"].values())


def _cpu(p: dict) -> float:
    """A pass's process-tree CPU seconds inside the timed regions."""
    return sum(sum(q["cpu"].values()) for q in p["queries"].values() if "cpu" in q)


def end_to_end(rec: dict, peak_rss: float, timed: range) -> dict:
    passes = rec["passes"]
    n_ok, n_exec = _ok(passes)
    return {
        "setup_s": (rec["setup_s"], "s"),
        "cold_pass_s": (_wall(passes[0]), "s"),
        "pass_s": (statistics.median(_wall(passes[i]) for i in timed), "s"),
        "cpu_s": (statistics.median(_cpu(passes[i]) for i in timed), "s"),
        "peak_rss_mb": (peak_rss, "MB"),
        "ok_frac": (n_ok / n_exec, "ratio"),
    }


def _ok(passes: list[dict]) -> tuple[int, int]:
    execs = [q for p in passes for q in p["queries"].values()]
    return sum(1 for q in execs if q["ok"]), len(execs)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    wl = WORKLOADS[args.workload]
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "worker.log"), "wb"):
        pass  # one run's log at a time

    data = os.path.join(WORK, "data", f"{args.workload}-{args.seed}-{input_key(wl['size'])}")
    props_path = os.path.join(data, "props.json")
    t0 = time.monotonic()
    if os.path.exists(props_path):
        with open(props_path) as f:
            props = json.load(f)
    else:
        props = generate(data, args.seed, wl["size"])
    oracle_path = os.path.join(data, "oracle.json")
    oracle_hashes(oracle_path, data, wl["queries"])
    prepare_s = time.monotonic() - t0

    cpus = min(TASK_THREADS, os.cpu_count() or 1)
    env = _child_env(cpus)
    timed_n = max(MIN_TIMED, round(args.seconds / wl["warm_pass_s"]))
    n_passes = 1 + timed_n
    timed = range(1, n_passes)  # pass 0 is the cold pass
    h0 = procfs.host_ticks()
    rec, peak_rss = _spawn(
        [
            "--data", data,
            "--oracle", oracle_path,
            "--queries", ",".join(wl["queries"]),
            "--passes", str(n_passes),
            "--trace", str(args.trace),
        ],
        env,
        deadline,
    )
    host = procfs.host_shares(h0, procfs.host_ticks())
    n_ok, n_exec = _ok(rec["passes"])
    unattributed = 0
    if args.trace:
        values, unattributed = layers.layers(rec, ALL_QUERIES, timed)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            listed = json.load(f)["per_layer"]
        metrics = {m["name"]: (values[m["name"]], m["unit"]) for m in listed}
    else:
        metrics = end_to_end(rec, peak_rss, timed)
    errors = sorted({q["error"] for p in rec["passes"] for q in p["queries"].values() if not q["ok"]})
    detail = {
        "workload": args.workload,
        "queries": wl["queries"],
        "inputs": props,
        "host": {**host, "nproc": os.cpu_count(), "master": rec["master"]},
        "passes": {"cold": 1, "timed": timed_n},
        "setup_s": {k: rec[k] for k in ("setup_s", "import_s", "boot_s", "first_job_s")},
        "pass_walls_s": [_wall(p) for p in rec["passes"]],
        "pass_cpu_s": [_cpu(p) for p in rec["passes"]],
        "prepare_s": prepare_s,
        "run_s": time.monotonic() - t0,
        "errors": errors,
        "trace_items": {"unattributed": unattributed, "lost": rec.get("trace", {}).get("lost", 0)},
    }
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": n_ok == n_exec,
                "attempted": n_exec,
                "failed": n_exec - n_ok,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
