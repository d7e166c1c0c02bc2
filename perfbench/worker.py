"""One benchmark run inside one Spark session (started by ``run.py``).

Sequence: set-up (import ``carpet_spark`` and its 694 ops, ``get_spark``,
and a warm-up pass that runs each of the workload's calls once: the JVM's
first job, each plan's compilation and the ``tables`` source cache are
paid there), the timed window (whole passes, one call at a time, until
``--seconds`` have gone by), with ``--trace 1`` one untraced and one
traced pass more, then the output checks: each query's ``toPandas()``
result from the window's last pass, each redacted file as last written,
and each ``noop`` op's warm-up call, which pulls its result with
``toPandas()`` because its timed runs write to the noop sink and keep
nothing.  A ``redact`` run also probes a known defect outside the
workload (``Session.casing_probe``).  The result goes to ``--out`` as JSON; ``run.py`` adds the
memory figure and prints it.

A call is one of three kinds (inputs written by ``gen.py``):

- ``redact``: ``carpet_spark.cli.main`` on one file of the redact batch;
- ``query``: ``REGISTRY[op].fn(spark, dir).toPandas()``;
- ``noop``: ``REGISTRY[op].fn(spark, dir)`` executed to the noop sink.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

import proctree
from metrics import HEADLINE, MODULE, PER_LAYER, RANKS_OPS, TAIL
from spans import Tracer, read_eventlog, union_seconds


def redact_config(seed: int) -> dict:
    return {
        "drop": ["c_email", "c_address"], "nullify": ["c_phone"],
        "hash": ["c_custkey", "c_name"], "hash_salt": f"salt-{seed}",
        "mask": ["c_comment"], "mask_pattern": "[0-9]", "mask_replacement": "X",
        "bucket": ["c_acctbal"], "bucket_width": 1000.0,
    }


def redact_argv(src: str, out: str, cfg: dict, upper: bool = False) -> list[str]:
    """``cli.main`` arguments; ``upper`` names the columns upper-cased, as
    they are in the file."""
    argv = [src, out]
    for flag in ("drop", "nullify", "hash", "mask", "bucket"):
        for col in cfg[flag]:
            argv += [f"--{flag}", col.upper() if upper else col]
    return argv + [
        "--hash-salt", cfg["hash_salt"], "--mask-pattern", cfg["mask_pattern"],
        "--mask-replacement", cfg["mask_replacement"], "--bucket-width", str(cfg["bucket_width"]),
    ]


@dataclass(frozen=True)
class Call:
    name: str  # file stem or op id
    kind: str  # redact | query | noop
    src: str  # input file (redact) or table directory
    upper: bool = False  # redact: the file's columns are upper-cased, and so are its flags


def workload_calls(workload: str, data: str) -> list[Call]:
    if workload == "redact":
        import pyarrow.parquet as pq

        batch = os.path.join(data, "redact")
        paths = [os.path.join(batch, f) for f in sorted(os.listdir(batch)) if f.endswith(".parquet")]
        return [Call(os.path.basename(p)[:-8], "redact", p, pq.read_schema(p).names[0].isupper())
                for p in paths]
    return ([Call(op, "query", data) for op in HEADLINE]
            + [Call(op, "noop", os.path.join(data, "tail")) for op in TAIL])


class Session:
    """Runs calls in one Spark session: ``timed`` as measured, returning a
    query's result for the checks; ``phased`` split into construct,
    execute and (query) transfer, each a span when given a tracer."""

    def __init__(self, spark, out: str, cfg: dict):
        from carpet_spark import cli
        from carpet_spark.registry import REGISTRY

        self.spark, self.out, self.cfg = spark, out, cfg
        self.cli, self.registry = cli, REGISTRY

    def out_dir(self, c: Call) -> str:
        return os.path.join(self.out, c.name)

    def _redact(self, c: Call) -> None:
        with contextlib.redirect_stdout(io.StringIO()):
            self.cli.main(redact_argv(c.src, self.out_dir(c), self.cfg, c.upper))

    def timed(self, c: Call):
        if c.kind == "redact":
            return self._redact(c)
        df = self.registry[c.name].fn(self.spark, c.src)
        if c.kind == "query":
            return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
        return None

    def result(self, c: Call):
        """A ``noop`` call's output, pulled with ``toPandas()`` to be checked."""
        return self.registry[c.name].fn(self.spark, c.src).toPandas()

    def phased(self, c: Call, tr: Tracer | None = None, span=None) -> None:
        """The traced pass's sequence; without ``tr`` the same calls
        untraced, the base of ``trace.overhead_ratio``."""
        def phase(name: str):
            return tr.span("phase", name, f"{c.kind}:{c.name}:{name}") if tr else contextlib.nullcontext()

        if c.kind == "redact":
            with phase("execute"):
                self._redact(c)
            if span is not None:
                out = self.out_dir(c)
                span.attrs["bytes_in"] = os.path.getsize(c.src)
                span.attrs["bytes_out"] = sum(
                    os.path.getsize(os.path.join(out, f)) for f in os.listdir(out) if f.endswith(".parquet"))
            return
        with phase("construct"):
            df = self.registry[c.name].fn(self.spark, c.src)
        with phase("execute"):
            df.write.format("noop").mode("overwrite").save()
        if c.kind == "query":
            with phase("transfer"):
                rows = len(df.toPandas())
        if span is None:
            return
        if c.kind == "query":
            span.attrs["rows"] = rows
        phases = df._jdf.queryExecution().tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            got = phases.get(ph)
            span.attrs[ph] = got.get().durationMs() / 1e3 if got.isDefined() else 0.0

    def casing_probe(self, calls: list[Call]) -> str | None:
        """ROADMAP D3, outside the workload: an upper-cased file of the
        batch redacted with the lower-case flags.  The check's reason when
        a configured column is left unredacted, else None."""
        c = next(c for c in calls if c.upper)
        probe = Call(f"{c.name}-lower-flags", "redact", c.src)
        self._redact(probe)
        from checks import redact_problem

        return redact_problem(c.src, self.out_dir(probe), self.cfg)

    def problems(self, calls: list[Call], kept: dict) -> dict[str, str]:
        """Check every kept output (``redact``: the files last written);
        call name -> reason, for each failure."""
        from carpet_spark.testing import duck_connect
        from checks import oracle_problem, redact_problem

        bad: dict[str, str] = {}
        cons: dict[str, object] = {}
        try:
            for c in calls:
                if c.name not in kept:
                    continue
                if c.kind == "redact":
                    why = redact_problem(c.src, self.out_dir(c), self.cfg)
                elif self.registry[c.name].oracle:
                    if c.src not in cons:
                        cons[c.src] = duck_connect(c.src)
                    oracle = cons[c.src].execute(self.registry[c.name].oracle).df()
                    why = oracle_problem(kept[c.name], oracle)
                else:  # rows-only contract: the op ran
                    why = None
                if why:
                    bad[c.name] = why
        finally:
            for con in cons.values():
                con.close()
        return bad


def p90(xs: list[float]) -> float:
    """90th percentile, linearly interpolated (numpy's default method)."""
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else xs[0]


def layer_metrics(tr: Tracer, jobs, stages, cpus: int) -> dict[str, float]:
    """Per-layer figures for the one traced pass."""
    m = dict.fromkeys((name for name, _, _ in PER_LAYER), 0.0)
    span_jobs: dict[int, list] = {}
    for j in jobs.values():
        span_jobs.setdefault(j.span, []).append(j)
    job_tasks: dict[int, list] = {}
    for st in stages.values():
        job_tasks.setdefault(st.job, []).extend(st.tasks)

    spans = [s for s in tr.spans if s.kind == "call"]
    files = [s for s in spans if s.attrs["kind"] == "redact"]
    for span in spans:
        for ph in tr.children(span.id):
            pj = span_jobs.get(ph.id, [])
            if span.attrs["kind"] == "redact":
                tasks = [t for j in pj for t in job_tasks.get(j.id, [])]
                m["cli.jobs_per_file"] += len(pj) / len(files)
                m["cli.nonjob_s"] += (ph.wall - union_seconds([(j.submit, j.end) for j in pj])) / len(files)
                m["cli.write_task_s"] += sum(t["run_s"] for t in tasks) / len(files)
                continue
            key = f"ops.{MODULE[span.name]}.{span.name}"
            if ph.name == "construct":
                m["ops.construct_s"] += ph.wall
                m["ops.construct_jobs"] += len(pj)
                m[f"{key}.construct_s"] += ph.wall
                m[f"{key}.construct_jobs"] += len(pj)
                if span.name in RANKS_OPS:
                    m["ranks.construct_s"] += ph.wall
            elif ph.name == "execute":
                m["ops.execute_s"] += ph.wall
                m[f"{key}.execute_s"] += ph.wall
            else:  # transfer: toPandas; the time outside its Spark jobs is Arrow collection and conversion
                m["arrow.transfer_s"] += ph.wall - union_seconds([(j.submit, j.end) for j in pj])
                m["arrow.result_mb"] += sum(t["result_b"] for j in pj for t in job_tasks.get(j.id, [])) / 1e6
        for ph in ("analysis", "optimization", "planning"):
            m[f"plan.{ph}_s"] += span.attrs.get(ph, 0.0)
        m["arrow.result_rows"] += span.attrs.get("rows", 0)
    if files:
        b_in = sum(s.attrs["bytes_in"] for s in files)
        m["cli.bytes_out_per_in"] = sum(s.attrs["bytes_out"] for s in files) / b_in
        m["cli.mb_s"] = b_in / 1e6 / sum(s.wall for s in files)

    traced = {j.id for j in jobs.values() if j.span is not None}
    run_stages = [st for st in stages.values() if st.tasks and st.job in traced]
    tasks = [t for st in run_stages for t in st.tasks]
    pass_wall = sum(s.wall for s in tr.spans if s.kind == "pass")
    m["exec.jobs"] = len(traced)
    m["exec.stages"] = len(run_stages)
    m["exec.tasks"] = len(tasks)
    for key, field in (("task_s", "run_s"), ("cpu_s", "cpu_s"), ("gc_s", "gc_s")):
        m[f"exec.{key}"] = sum(t[field] for t in tasks)
    for key, field in (("input_mb", "input_b"), ("output_mb", "output_b"), ("shuffle_read_mb", "shuffle_read_b"),
                       ("shuffle_write_mb", "shuffle_write_b"), ("spill_mb", "spill_b")):
        m[f"exec.{key}"] = sum(t[field] for t in tasks) / 1e6
    m["exec.failed_tasks"] = sum(t["failed"] for t in tasks)
    m["exec.slot_util"] = m["exec.task_s"] / (pass_wall * cpus)
    ratios = []
    for st in run_stages:
        runs = [t["run_s"] for t in st.tasks]
        if len(runs) >= 2 and statistics.median(runs) > 0:
            ratios.append(max(runs) / statistics.median(runs))
    m["exec.straggler_ratio"] = statistics.median(ratios) if ratios else 1.0
    return m


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["redact", "headline"])
    ap.add_argument("--data", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--events", help="event-log directory (traced runs)")
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    me = os.getpid()

    t0 = time.perf_counter()  # nothing of pyspark, pandas or numpy is imported before this
    import carpet_spark.ops  # noqa: F401  (registers the ops)
    from carpet_spark.session import get_spark
    t1 = time.perf_counter()
    spark = get_spark("perfbench", cpus=args.cpus)
    t2 = time.perf_counter()
    calls = workload_calls(args.workload, args.data)
    sess = Session(spark, os.path.join(os.getcwd(), "out"), redact_config(args.seed))
    errors, noop_out = {}, {}
    for c in calls:  # the warm-up: each call's first run in the session
        try:
            if c.kind == "noop":  # its timed runs keep no output, so check this one
                noop_out[c.name] = sess.result(c)
            else:
                sess.timed(c)
        except Exception:
            errors[c.name] = traceback.format_exc(limit=3)
    t3 = time.perf_counter()

    passes, samples = [], []  # (wall s, CPU s) per pass; (name, wall s, CPU s) per call
    start = time.perf_counter()
    while True:
        kept = {}  # the outputs of the last pass, checked after the window
        pass_cpu, p0 = proctree.cpu_seconds(me), time.perf_counter()
        for c in calls:
            call_cpu, c0 = proctree.cpu_seconds(me), time.perf_counter()
            try:
                out = sess.timed(c)
                samples.append((c.name, time.perf_counter() - c0, proctree.cpu_seconds(me) - call_cpu))
                if c.kind != "noop":
                    kept[c.name] = out
            except Exception:
                errors.setdefault(c.name, traceback.format_exc(limit=3))
                samples.append((c.name, None, None))
        passes.append((time.perf_counter() - p0, proctree.cpu_seconds(me) - pass_cpu))
        if time.perf_counter() - start >= args.seconds:
            break
    window_end = time.perf_counter()
    print("PERFBENCH window-done", flush=True)

    tr = None
    if args.trace:
        b0 = time.perf_counter()  # the traced pass's calls untraced, the base of the overhead ratio
        for c in calls:
            sess.phased(c)
        baseline = time.perf_counter() - b0
        tr = Tracer(spark.sparkContext)
        with tr.span("pass", "traced"):
            for c in calls:
                with tr.span("call", c.name) as span:
                    span.attrs["kind"] = c.kind
                    sess.phased(c, tr, span)
    leak = sess.casing_probe(calls) if args.workload == "redact" else None
    t4 = time.perf_counter()
    spark.stop()

    bad = {**sess.problems(calls, {**kept, **noop_out}), **errors}
    failed = sum(1 for name, wall, _ in samples if wall is None or name in bad)
    ok = [(wall, cpu) for _, wall, cpu in samples if wall is not None]
    if not ok:
        raise SystemExit(f"no call succeeded: {bad}")
    window = {  # these repeat only to a quarter or worse on a shared host, so they are per-layer
        "wall.pass_s": statistics.median(w for w, _ in passes),
        "wall.call_p50_s": statistics.median(w for w, _ in ok),
        "wall.call_p90_s": p90([w for w, _ in ok]),
        "cpu.call_p50_s": statistics.median(c for _, c in ok),
        "cpu.call_p90_s": p90([c for _, c in ok]),
    }
    result = {
        "correct": not bad, "attempted": len(samples), "failed": failed, "problems": bad, "casing_leak": leak,
        "samples": samples, "passes": len(passes),
        "timeline_s": {"setup": t3 - t0, "window": window_end - start, "trace+probe": t4 - window_end,
                       "stop+checks": time.perf_counter() - t4},
    }
    if args.trace:
        jobs, stages = read_eventlog(args.events, tr)
        m = layer_metrics(tr, jobs, stages, args.cpus)
        m.update(window)
        m.update({"session.import_s": t1 - t0, "session.get_spark_s": t2 - t1, "session.warmup_s": t3 - t2,
                  "trace.overhead_ratio": tr.spans[0].wall / baseline,
                  "cli.casing_leak": float(leak is not None),
                  "fail_ratio": failed / len(samples)})
        result["metrics"] = m
        result["spans"] = [
            {**s.__dict__, "self_s": tr.self_time(s.id),
             "jobs": sorted(j.id for j in jobs.values() if j.span == s.id)}
            for s in tr.spans
        ]
    else:
        result["metrics"] = {"setup_s": t3 - t0, "pass_cpu_s": statistics.median(c for _, c in passes)}
        result["window"] = window
    with open(args.out, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    sys.exit(main())
