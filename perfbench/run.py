#!/usr/bin/env python3
"""carpet-spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {redact,headline} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  The run writes its seeded inputs under
``.perfbench/run-<pid>/`` (``gen.py``), starts ``worker.py`` in a fresh
Python process with its own Spark session on ``local[<cores>]``, samples
the resident memory of that process tree (worker, JVM, Python workers)
from ``/proc``, and removes the run directory at the end.  The last line
on stdout is ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of one extra pass traced through spans and Spark's event log.
The traced run also leaves its spans in ``.perfbench/trace-<workload>.json``.

The launch environment, not the program, is set up here: ``PYTHONPATH``
names the repository root so Spark's Python workers import
``carpet_spark``, ``TMPDIR``/``SPARK_LOCAL_DIRS``/``java.io.tmpdir`` point
into the run directory, and the event log is enabled with launch-time
``--conf`` flags that ``get_spark`` keeps.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import proctree  # noqa: E402
from metrics import UNITS  # noqa: E402

K_HEADLINE = 0.5  # `headline` queries: the tables at 0.5 x sf0.1
K_TAIL = 0.1  # `headline`'s registry-tail ops: the tables at 0.1 x sf0.1
JVM_HEAP = "2g"
TIMEOUT_S = 160  # then at most ~10 s to stop everything: the whole run stays under 180 s


class Tree:
    """The worker's process tree, polled from ``/proc``; remembers every
    process it has seen so all can be stopped, even after re-parenting."""

    def __init__(self, root: int):
        self.root = root
        self.seen: dict[int, int] = {}  # pid -> start time
        self.peak = 0
        self.sampling = True

    def poll(self) -> None:
        pids = proctree.members(self.root)
        for pid in pids:
            start = proctree.start_time(pid)
            if start is not None:
                self.seen.setdefault(pid, start)
        if self.sampling:
            self.peak = max(self.peak, proctree.rss_bytes(pids))

    def alive(self) -> list[int]:
        return [p for p, start in self.seen.items() if proctree.start_time(p) == start]

    def stop_all(self) -> None:
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in self.alive():
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            deadline = time.time() + 5
            while self.alive() and time.time() < deadline:
                time.sleep(0.05)


def work_dirs(work: str) -> dict[str, str]:
    dirs = {d: os.path.join(work, d) for d in ("data", "tmp", "local", "events", "out")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    return dirs


def launch_env(root: str, dirs: dict[str, str], cpus: int, trace: bool) -> dict[str, str]:
    """Environment for the worker: workers import ``carpet_spark`` from
    ``root``; temp, shuffle and event-log files stay under ``dirs``."""
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's temp files (native libraries, perf data) in the run directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{dirs['events']}",
        })
    pypath = os.environ.get("PYTHONPATH")
    return dict(
        os.environ,
        PYTHONPATH=root + (os.pathsep + pypath if pypath else ""),
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=JVM_HEAP,
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell",
    )


def make_inputs(workload: str, seed: int, data: str) -> None:
    if workload == "redact":
        gen.write_redact_batch(os.path.join(data, "redact"), seed)
    else:
        gen.write_tables(data, seed, K_HEADLINE)
        gen.write_tables(os.path.join(data, "tail"), seed, K_TAIL)


def main() -> int:
    ap = argparse.ArgumentParser(description="carpet-spark benchmark (one run)")
    ap.add_argument("--workload", required=True, choices=["redact", "headline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # clean up below on SIGTERM too

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "carpet_spark", "__init__.py")):
        print("perfbench: run from the repository root (carpet_spark/ not found)", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    dirs = work_dirs(work)
    tree = None
    t0 = time.perf_counter()
    try:
        make_inputs(args.workload, args.seed, dirs["data"])
        gen_s = time.perf_counter() - t0
        env = launch_env(root, dirs, cpus, bool(args.trace))
        result_path = os.path.join(work, "result.json")
        cmd = [sys.executable, os.path.join(HERE, "worker.py"),
               "--workload", args.workload, "--data", dirs["data"],
               "--seconds", str(args.seconds), "--seed", str(args.seed), "--trace", str(args.trace),
               "--events", dirs["events"], "--cpus", str(cpus), "--out", result_path]
        with open(os.path.join(work, "worker.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=log, text=True)
        tree = Tree(proc.pid)

        def watch_stdout() -> None:
            for line in proc.stdout:
                if line.startswith("PERFBENCH window-done"):
                    tree.sampling = False

        reader = threading.Thread(target=watch_stdout, daemon=True)
        reader.start()
        while proc.poll() is None and time.perf_counter() - t0 < TIMEOUT_S:
            tree.poll()
            time.sleep(0.1)
        if proc.poll() is None:
            print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
            return 1
        reader.join(timeout=5)
        if proc.returncode != 0 or not os.path.exists(result_path):
            with open(os.path.join(work, "worker.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
            return 1
        with open(result_path) as fh:
            res = json.load(fh)
    finally:
        if tree is not None:
            tree.stop_all()
        shutil.rmtree(work, ignore_errors=True)

    print(f"perfbench: {res['passes']} pass(es); inputs {gen_s:.1f} s, "
          + ", ".join(f"{k} {v:.1f} s" for k, v in res["timeline_s"].items())
          + f", total {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    print("perfbench: wall s (CPU s) per call: "
          + " ".join(f"{n}={w and round(w, 2)}({c and round(c, 2)})" for n, w, c in res["samples"]), file=sys.stderr)
    if "window" in res:
        print("perfbench: " + json.dumps(res["window"]), file=sys.stderr)
    if res["problems"]:
        for item, why in sorted(res["problems"].items()):
            print(f"perfbench: FAILED {item}: {why.strip().splitlines()[-1]}", file=sys.stderr)
    if res["casing_leak"]:
        print("perfbench: known defect, outside the workload (ROADMAP D3): an upper-cased file "
              f"redacted with lower-case flags: {res['casing_leak']}", file=sys.stderr)
    peak = {"mem.peak_rss_mb": tree.peak / 1e6}
    if args.trace:
        res["metrics"].update(peak)
        with open(os.path.join(base, f"trace-{args.workload}.json"), "w") as fh:
            json.dump({"seed": args.seed, "spans": res["spans"], "metrics": res["metrics"]}, fh, indent=1)
    else:
        print("perfbench: " + json.dumps(peak), file=sys.stderr)
    metrics = {n: {"value": v, "unit": UNITS[n]} for n, v in res["metrics"].items()}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
