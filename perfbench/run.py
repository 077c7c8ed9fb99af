"""The repository's benchmark: one workload per invocation, run from the root
of a checkout.

    python3 perfbench/run.py --workload pgwire_kafsql --seed 1 --seconds 10 --trace 0

Builds graft and the harness from source (see build.py), generates the
workload's inputs from the seed (gen.py), starts the system under test in its
own JVM, drives and checks it, and prints one JSON object as the last line:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
A full report (every metric by name, sample counts, input properties,
environment stamp, spans) goes to `.bench_run/reports/`.
"""

import argparse
import json
import os
import platform
import queue
import shutil
import statistics
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402

DEADLINE_S = 170  # the whole run, build excluded
# A fixed, pre-touched heap: with a floating heap the peak RSS follows G1's
# time-based sizing and the moment a concurrent mark samples Spark's
# buffers (which Spark sizes from the maximum heap), and moves by up to a
# fifth between runs of the same code. Pinned, the heap adds a constant and
# peak RSS moves with the memory graft keeps outside it (metaspace, code,
# threads, direct and native buffers); heap pressure shows as GC time.
JVM_HEAP = "1536m"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class Jvm:
    """The system-under-test process and its line protocol (`@@ ...` on
    stdout, commands on stdin)."""

    def __init__(self, classes, workload, run_dir, trace, seconds, cores, deadline):
        self.deadline = deadline
        self.log_path = os.path.join(run_dir, "jvm.log")
        scratch = os.path.join(run_dir, "spark-local")
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(scratch)
        os.makedirs(tmp)
        # two malloc arenas: glibc's default (8 per core) leaves the native
        # part of RSS to which threads happened to allocate first
        env = dict(os.environ, SPARK_LOCAL_DIRS=scratch, SPARK_GRAFT_LOCAL_DIR=scratch,
                   MALLOC_ARENA_MAX="2")
        opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cmd = [build.java(), f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", *opens,
               "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
               f"-Djava.io.tmpdir={tmp}",
               "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               "-Dspark.driver.host=127.0.0.1",
               "-Dspark.driver.bindAddress=127.0.0.1",
               f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
               "-cp", build.classpath(classes), "graftbench.Main",
               workload, run_dir, str(trace), str(seconds)]
        self.scratch = scratch
        self.msgs = queue.Queue()
        self.log = open(self.log_path, "w")
        self.launch_ns = time.monotonic_ns()
        self.proc = subprocess.Popen(cmd, cwd=run_dir, env=env, text=True,
                                     stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log)
        self.reader = threading.Thread(target=self._pump, daemon=True)
        self.reader.start()

    def _pump(self):
        for line in self.proc.stdout:
            if line.startswith("@@ "):
                self.msgs.put(line[3:].strip())
            else:
                self.log.write(line)
        self.msgs.put(None)

    def send(self, cmd):
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def expect(self, prefix):
        while True:
            left = self.deadline - time.monotonic()
            try:
                msg = self.msgs.get(timeout=max(0.1, left))
            except queue.Empty:
                raise RuntimeError(f"timed out waiting for {prefix}")
            if msg is None:
                raise RuntimeError(f"JVM exited before {prefix}:\n{self.log_tail()}")
            if msg.startswith(prefix):
                return msg[len(prefix):].strip()

    def log_tail(self, n=40):
        self.log.flush()
        with open(self.log_path, errors="replace") as f:
            return "".join(f.readlines()[-n:])

    def close(self):
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
            except OSError:
                pass
            try:
                self.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.reader.join(timeout=5)
        self.log.close()


def fs_type(path):
    """Filesystem type of the mount holding `path` (longest mount prefix)."""
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt = parts[1]
                if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                    best, kind = mnt, parts[2]
    except OSError:
        pass
    return kind


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(workloads.LOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        sys.stderr.write("run from the root of a graft checkout "
                         "(src/main/scala/graft not found)\n")
        return 2
    classes = build.build(root)

    start = time.monotonic()
    load_start = os.getloadavg()
    cores = max(1, min(3, len(os.sched_getaffinity(0)) - 1))
    t0 = time.monotonic_ns()
    inputs = gen.generate(a.workload, a.seed, a.seconds)
    run_dir = os.path.join(root, ".bench_run", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    for name, text in inputs.files.items():
        with open(os.path.join(run_dir, name), "w") as f:
            f.write(text)
    params = dict(inputs.params, cores=cores)
    with open(os.path.join(run_dir, "params.json"), "w") as f:
        json.dump(params, f)
    gen_ns = time.monotonic_ns() - t0

    jvm = Jvm(classes, a.workload, run_dir, a.trace, a.seconds, cores,
              deadline=start + DEADLINE_S)
    try:
        client = workloads.LOADS[a.workload](jvm, inputs, a.seconds, a.trace == 1)
        jvm.expect("DONE")
        jvm.proc.wait(timeout=max(1, start + DEADLINE_S - time.monotonic()))
        with open(os.path.join(run_dir, "result.json")) as f:
            result = json.load(f)
    except Exception:
        sys.stderr.write(jvm.log_tail() + "\n")
        raise
    finally:
        jvm.close()

    outcome = workloads.EVALUATORS[a.workload](inputs, result, client, a.trace == 1)
    builds = result["builds_ns"]
    first_op = client.get("first_op_ns", result.get("first_op_ns"))
    # JVM launch to first timed op, counting the median estate build once;
    # the generator's own time (gen_ns) is reported apart, not counted
    setup_ns = (first_op - jvm.launch_ns) - sum(builds) + statistics.median(builds)
    e2e = dict(outcome.e2e)
    e2e["setup_s"] = (setup_ns / 1e9, "s")
    e2e["peak_rss_mb"] = (result["peak_rss_mb"], "MB")
    assert {k: u for k, (_, u) in e2e.items()} == workloads.END_TO_END, e2e

    env = {
        "nproc": os.cpu_count(),
        "cores_used": cores,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "jvm_version": result.get("jvm_version"),
        "spark_version": result.get("spark_version"),
        "python": platform.python_version(),
        "git_commit": git_commit(root),
        "build": os.path.basename(os.path.dirname(classes)),
        "spark_scratch": result.get("spark_local_dir"),
        "spark_scratch_fs": fs_type(jvm.scratch),
        "spark_scratch_tmpfs": fs_type(jvm.scratch) == "tmpfs",
    }
    env.update(outcome.env)
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "input_digest": inputs.digest(),
        "generator": inputs.generator,
        "input_properties": dict(inputs.props, kfs_segment_bytes=result["kfs_bytes"]),
        "attempted": outcome.attempted, "failed": outcome.failed,
        "failures": outcome.failures[:50],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "workload_metrics": outcome.extras,
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in outcome.layer.items()},
        "environment": env,
        "setup": {"generate_s": gen_ns / 1e9, "builds_s": [b / 1e9 for b in builds],
                  "launch_to_first_op_s": (first_op - jvm.launch_ns) / 1e9},
    }
    reports = os.path.join(root, ".bench_run", "reports")
    os.makedirs(reports, exist_ok=True)
    stem = os.path.join(reports, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    if a.trace:
        with open(stem + "-spans.json", "w") as f:
            json.dump(outcome.spans, f)
    shutil.rmtree(run_dir, ignore_errors=True)  # a failed run keeps it

    for name, m in sorted(outcome.extras.items()):
        n = f" n={m['n']}" if "n" in m else ""
        print(f"# {a.workload} {name} = {m['value']:.6g} {m['unit']}{n}")
    for f in outcome.failures[:10]:
        print(f"# FAILED {f}")
    chosen = outcome.layer if a.trace else e2e
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
