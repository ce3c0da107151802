"""The benchmark's own check.

    python3 graftbench/selfcheck.py

1. Runs every workload traced twice on one seed and requires every
   per-layer metric that BENCHMARK.json marks ``exact_count`` to repeat
   exactly.
2. Runs every workload untraced on the default seed and on a held-out
   seed: table sizes, layouts and the shares the generator fixes must
   be equal, the data must differ (different oracle hashes), and
   ``ok_frac`` must be 1.0 on both.

Exits non-zero on the first failed requirement.  Takes about ten
minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 1
HELD_OUT_SEED = 1_000_003
#: Input properties the generator holds fixed across seeds.
FIXED = ("tables", "pair_doc_share", "exactdup_share", "users")


def run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2])["detail"], json.loads(out[-1])


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    exact = [m["name"] for m in bench["per_layer"] if m["unit"] == "exact_count"]
    for workload in workloads:
        a, b = (run(workload, DEFAULT_SEED, 1)[1]["metrics"] for _ in range(2))
        for name in exact:
            va, vb = a[name]["value"], b[name]["value"]
            check(va == vb, f"{workload} {name} repeats: {va} {vb}")

    sys.path.insert(0, HERE)
    from run import WORKLOADS, input_key

    data = os.path.join(HERE, "_work", "data")
    for workload in workloads:
        details = {}
        for seed in (DEFAULT_SEED, HELD_OUT_SEED):
            det, res = run(workload, seed, 0)
            details[seed] = det["inputs"]
            ok_frac = res["metrics"]["ok_frac"]["value"]
            check(ok_frac == 1.0, f"{workload} seed {seed} ok_frac {ok_frac}")
        p, q = details[DEFAULT_SEED], details[HELD_OUT_SEED]
        for key in (k for k in FIXED if k in p):
            check(p.get(key) == q.get(key), f"{workload} {key} equal: {p.get(key)}")
        hashes = []
        for seed in (DEFAULT_SEED, HELD_OUT_SEED):
            key = input_key(WORKLOADS[workload]["size"])
            with open(os.path.join(data, f"{workload}-{seed}-{key}", "oracle.json")) as f:
                hashes.append(json.load(f))
        check(
            all(hashes[0][n]["hash"] != hashes[1][n]["hash"] for n in WORKLOADS[workload]["queries"]),
            f"{workload} every query's oracle result differs between seeds",
        )


if __name__ == "__main__":
    main()
