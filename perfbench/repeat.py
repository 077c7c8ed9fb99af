"""Runs one workload over several seeds and summarises each metric by its
median and quartile spread (interquartile distance ÷ median).

    python3 perfbench/repeat.py --workload ingest_upsert --seeds 1-10 --seconds 15
    python3 perfbench/repeat.py --workload curation_dedup --seeds 1-3 --seconds 15 --trace both

With `--trace both` every seed runs untraced and traced (alternating which
goes first), and the tracing overhead of each end-to-end metric is printed:
the traced median minus the untraced median.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    """(result line, end-to-end metrics from the run's report)."""
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                          workload, "--seed", str(seed), "--seconds", str(seconds),
                          "--trace", str(trace)],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    with open(os.path.join(".bench_run", "reports",
                           f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return result, json.load(f)["end_to_end"]


def summary(values):
    q1, q2, q3 = stats.quartiles(values) if len(values) > 1 else (values[0],) * 3
    return {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2 if q2 else None,
            "n": len(values)}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", choices=("0", "1", "both"), default="0")
    a = ap.parse_args()
    modes = (0, 1) if a.trace == "both" else (int(a.trace),)
    metrics = {m: {} for m in modes}
    e2e = {m: {} for m in modes}
    failed = attempted = 0
    for i, seed in enumerate(a.seeds):
        for trace in (modes if i % 2 == 0 else modes[::-1]):
            result, ends = run(a.workload, seed, a.seconds, trace)
            failed += result["failed"]
            attempted += result["attempted"]
            print(json.dumps({"seed": seed, "trace": trace, "correct": result["correct"],
                              "metrics": {k: v["value"] for k, v in result["metrics"].items()}}),
                  flush=True)
            for k, v in result["metrics"].items():
                metrics[trace].setdefault(k, []).append(v["value"])
            for k, v in ends.items():
                e2e[trace].setdefault(k, []).append(v["value"])
    for trace in modes:
        for k, v in metrics[trace].items():
            print(json.dumps({"trace": trace, "metric": k, **summary(v)}))
    if len(modes) == 2:
        for k in e2e[0]:
            off, on = statistics.median(e2e[0][k]), statistics.median(e2e[1][k])
            print(json.dumps({"metric": k, "tracing_overhead": on - off,
                              "overhead_share": (on - off) / off if off else None}))
    print(json.dumps({"workload": a.workload, "attempted": attempted, "failed": failed}))


if __name__ == "__main__":
    main()
