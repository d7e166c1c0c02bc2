"""Self-tests for the benchmark: python3 -m pytest perfbench -q (from the
repository root).  All but the last run without Spark."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import run
from checks import oracle_problem, redact_problem
from metrics import END_TO_END, PER_LAYER
from spans import Tracer, read_eventlog, union_seconds
from worker import redact_argv, redact_config

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for base, _, names in os.walk(d):
        for n in names:
            with open(os.path.join(base, n), "rb") as fh:
                out[os.path.relpath(os.path.join(base, n), d)] = fh.read()
    return out


@pytest.fixture
def small_batch(monkeypatch):
    monkeypatch.setattr(gen, "REDACT_SMALL", (4, 500))
    monkeypatch.setattr(gen, "REDACT_LARGE", (2, 4000, 4))


def test_generator_is_deterministic_per_seed(tmp_path, small_batch):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.write_tables(str(tmp_path / name), seed, 0.02)
        gen.write_redact_batch(str(tmp_path / name / "redact"), seed)
    a, b, c = (_files(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[f] != c[f] for f in a if f not in ("region.parquet", "nation.parquet"))


def test_generated_tables_keep_keys_consistent(tmp_path):
    gen.write_tables(str(tmp_path), 3, 0.05)
    con = duckdb.connect()
    t = {n: f"read_parquet('{tmp_path}/{n}.parquet')" for n in gen.BASE_ROWS}
    assert con.execute(f"SELECT count(*) FROM {t['lineitem']} WHERE l_orderkey NOT IN "
                       f"(SELECT o_orderkey FROM {t['orders']})").fetchone()[0] == 0
    assert con.execute(f"SELECT count(*) FROM {t['orders']} WHERE o_custkey NOT IN "
                       f"(SELECT c_custkey FROM {t['customer']})").fetchone()[0] == 0
    assert con.execute(f"SELECT count(*) - count(DISTINCT text) FROM {t['documents']}").fetchone()[0] > 0
    assert pq.ParquetFile(f"{tmp_path}/lineitem.parquet").metadata.num_row_groups == 1
    gen.write_tables(str(tmp_path), 3, 0.5)
    assert pq.ParquetFile(f"{tmp_path}/lineitem.parquet").metadata.num_row_groups == gen.ROW_GROUPS


def test_redact_batch_has_upper_cased_and_large_files(tmp_path, small_batch):
    shapes = set()
    for seed in (9, 10, 11):
        files = [pq.ParquetFile(p) for p in gen.write_redact_batch(str(tmp_path / str(seed)), seed)]
        groups = [f.metadata.num_row_groups for f in files]
        upper = [f for f in files if f.schema_arrow.names[0] == "C_CUSTKEY"]
        assert groups == [1, 1, 4, 1, 1, 4]  # same work on every seed
        assert len(upper) == gen.REDACT_UPPER and all(f.metadata.num_row_groups == 1 for f in upper)
        shapes.add(tuple(f.schema_arrow.names[0] for f in files))
    assert len(shapes) > 1  # the seed picks which small files are upper-cased


def test_oracle_check_catches_one_wrong_row():
    con = duckdb.connect()
    duck = con.execute(
        "SELECT i AS k, i * 0.5 AS v, 'w' || i AS s FROM range(1000) t(i)").df()
    spark = duck.sample(frac=1.0, random_state=1).reset_index(drop=True)
    spark.columns = ["K", "v", "S"]  # order and case of rows / names do not matter
    assert oracle_problem(spark, duck) is None
    wrong = spark.copy()
    wrong.loc[17, "v"] += 1e-9
    assert "value mismatch in" in oracle_problem(wrong, duck)
    assert "row count" in oracle_problem(spark.iloc[1:], duck)
    as_float = spark.assign(K=spark["K"].astype(float))  # 242 vs 242.0 is a mismatch
    assert oracle_problem(as_float, duck) is not None
    nulls = pd.DataFrame({"k": [1.0, np.nan], "d": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 10:00"])})
    assert oracle_problem(nulls, nulls.iloc[::-1].reset_index(drop=True)) is None


def _redacted(src: str, out_dir: str, cfg: dict, leak: bool = False) -> None:
    """A correct redaction of ``src`` written with pandas and hashlib, or
    one that keeps a dropped column (under its original, upper-cased name)."""
    df = pq.read_table(src).to_pandas()
    low = {c.lower(): c for c in df.columns}
    out = pd.DataFrame({
        low["c_custkey"]: [hashlib.sha256(f"{cfg['hash_salt']}{v}".encode()).hexdigest() for v in df[low["c_custkey"]]],
        low["c_name"]: [hashlib.sha256(f"{cfg['hash_salt']}{v}".encode()).hexdigest() for v in df[low["c_name"]]],
        low["c_phone"]: pd.Series([None] * len(df), dtype=object),
        low["c_comment"]: df[low["c_comment"]].str.replace("[0-9]", "X", regex=True),
        low["c_acctbal"]: np.floor(df[low["c_acctbal"]] / cfg["bucket_width"]).astype("int64"),
        low["c_nationkey"]: df[low["c_nationkey"]],
        low["c_mktsegment"]: df[low["c_mktsegment"]],
    })
    if leak:
        out[low["c_email"]] = df[low["c_email"]]
    os.makedirs(out_dir)
    pq.write_table(pa.Table.from_pandas(out, preserve_index=False), f"{out_dir}/part-0.parquet")


def test_redact_checker_passes_a_correct_output_and_catches_a_leak(tmp_path, small_batch):
    cfg = redact_config(4)
    paths = gen.write_redact_batch(str(tmp_path / "in"), 4)
    upper = next(p for p in paths if pq.ParquetFile(p).schema_arrow.names[0] == "C_CUSTKEY")
    _redacted(paths[0], str(tmp_path / "ok"), cfg)
    assert redact_problem(paths[0], str(tmp_path / "ok"), cfg) is None
    _redacted(upper, str(tmp_path / "leak"), cfg, leak=True)
    assert "C_EMAIL" in redact_problem(upper, str(tmp_path / "leak"), cfg)
    _redacted(paths[0], str(tmp_path / "salt"), {**cfg, "hash_salt": "other"})
    assert "differ" in redact_problem(paths[0], str(tmp_path / "salt"), cfg)


def test_redact_flags_follow_the_file_casing():
    cfg = redact_config(4)
    lower, upper = redact_argv("in", "out", cfg), redact_argv("in", "out", cfg, upper=True)
    assert lower[lower.index("--drop") + 1] == "c_email"
    assert upper[upper.index("--drop") + 1] == "C_EMAIL"
    assert upper[upper.index("--hash-salt") + 1] == cfg["hash_salt"]  # values keep their case


def test_span_self_times_and_event_log_attribution(tmp_path):
    ticks = iter([0.0, 1.0, 1.5, 4.0, 4.0, 4.5, 6.0, 10.0])
    tr = Tracer(clock=lambda: next(ticks))
    with tr.span("call", "op"):  # 0 .. 10
        with tr.span("phase", "construct"):  # 1 .. 4, holds the next span
            with tr.span("phase", "inner"):  # 1.5 .. 4
                pass
        with tr.span("phase", "execute"):  # 4.5 .. 6
            pass
    assert [s.wall for s in tr.spans] == [10.0, 3.0, 2.5, 1.5]
    assert tr.self_time(0) == 10.0 - 3.0 - 1.5
    assert tr.self_time(1) == 0.5
    assert sum(tr.self_time(s.id) for s in tr.spans) == tr.spans[0].wall
    assert union_seconds([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4.0

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1100, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "perfbench:3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000, "Stage IDs": [1, 2],
         "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1900},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Failed": False},
         "Task Metrics": {"Executor Run Time": 250, "Input Metrics": {"Bytes Read": 7}}},
    ]
    log = tmp_path / "eventlog_v2_local-1"
    log.mkdir()
    (log / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, stages = read_eventlog(str(tmp_path), tr)
    assert jobs[0].span == 3 and jobs[0].end - jobs[0].submit == pytest.approx(0.8)
    assert jobs[1].span == 2  # no description: the innermost span open at 2.0 s
    assert stages[1].job == 0  # the first job that lists a stage runs it
    assert stages[1].tasks[0]["run_s"] == 0.25 and stages[1].tasks[0]["input_b"] == 7


def test_benchmark_json_lists_the_metrics_the_worker_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == ["redact", "headline"]


def test_python_worker_op_imports_carpet_spark_from_outside_the_repo(tmp_path):
    """The launch environment alone makes ``carpet_spark`` importable in
    Spark's Python workers: the job runs with the working directory
    outside the repository and Python's own path not naming it."""
    dirs = run.work_dirs(str(tmp_path / "work"))
    gen.write_tables(dirs["data"], 1, 0.01)
    code = (
        "import carpet_spark.ops\n"
        "from carpet_spark.registry import REGISTRY\n"
        "from carpet_spark.session import get_spark\n"
        f"spark = get_spark('perfbench-selftest', cpus=2)\n"
        f"n = len(REGISTRY['mm_image_channel_stats'].fn(spark, {dirs['data']!r}).toPandas())\n"
        "spark.stop()\n"
        "print('rows', n)\n"
    )
    env = run.launch_env(ROOT, dirs, 2, trace=False)
    done = subprocess.run([sys.executable, "-c", code], cwd=dirs["tmp"], env=env,
                          capture_output=True, text=True, timeout=170)
    assert done.returncode == 0, done.stderr[-3000:]
    assert int(done.stdout.split("rows")[-1]) > 0
