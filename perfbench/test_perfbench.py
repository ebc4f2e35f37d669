"""The benchmark's own tests, on the smoke configuration.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import physics, queries, run  # noqa: E402
from perfbench.lake import write_lake  # noqa: E402
from ubparquet_spark.io import DRIVER_TABLES  # noqa: E402


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_what_the_runs_print():
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run_prints_every_metric(workload, trace):
    p = _bench("--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = run.per_layer_units() if trace == "1" else run.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
    stem = os.path.join(HERE, "results", f"{workload}-seed3-trace{trace}")
    with open(stem + ".json") as f:
        record = json.load(f)
    assert record["run"]["seed"] == 3 and record["run"]["nproc"] >= 1
    assert set(record["run"]["versions"]) >= {"pyspark", "pyarrow", "duckdb"}
    figures = record["workload_metrics"]
    assert figures["failed_frac"] == 0 and figures["peak_rss_mb"] > 0
    if workload == "physics":
        assert set(figures) >= {
            "ingest_events_per_s",
            "stored_bytes_per_input_byte",
            "analysis_s",
            "epoch_events_per_s",
            "first_batch_s",
            "lookup_p50_ms",
            "lookup_p90_ms",
        }
    else:
        assert figures["query_p90_s"] >= figures["query_p50_s"] > 0
    if trace == "1":
        assert len(record["passes"]) == 3  # untraced, traced, untraced
        with open(stem + ".spans.jsonl") as f:
            spans = [json.loads(line) for line in f]
        assert spans and all(
            {"id", "parent", "name", "start", "end", "self_s", "workload", "pass"}
            <= set(s)
            for s in spans
        )
        assert all(s["self_s"] <= s["end"] - s["start"] + 1e-9 for s in spans)
        assert "trace.overhead_s" in out["metrics"]


def test_run_outside_a_checkout_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "results"))
    p = _bench("--workload", "olap", "--seed", "1", "--seconds", "1", "--trace", "0",
               cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_lake_depends_only_on_seed(tmp_path):
    def files(d):
        return [(tmp_path / d / f"{t}.parquet").read_bytes() for t in DRIVER_TABLES]

    write_lake(str(tmp_path / "a"), 0.001, 5)
    write_lake(str(tmp_path / "b"), 0.001, 5)
    write_lake(str(tmp_path / "c"), 0.001, 6)
    assert files("a") == files("b")
    assert files("a") != files("c")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("spark"))
    run._prepare_env(work, 2)
    session = run._start_session(work)
    yield session
    run._stop_session(session)


def test_wrong_query_answer_counts_as_failure(spark, tmp_path, monkeypatch):
    import __spark_entry__ as entry

    from perfbench.trace import Tracer

    names = ["q1_pricing_summary", "q_price_deciles"]
    lake = write_lake(str(tmp_path / "lake"), 0.001, 2)
    sqls = entry.oracle_sql()
    exp = {n: sqls[n] for n in names}
    off = Tracer(spark, False, "olap")
    clean = queries.run_pass(spark, off, entry.queries(), names, lake, exp, "x")
    assert clean.failures == [] and clean.attempted == 2

    real, calls = queries.rows_to_pandas, []

    def drop_a_row_of_the_first_result(rows, schema):
        calls.append(schema)
        pdf = real(rows, schema)
        return pdf.iloc[:-1] if len(calls) == 1 else pdf

    monkeypatch.setattr(queries, "rows_to_pandas", drop_a_row_of_the_first_result)
    bad = queries.run_pass(spark, off, entry.queries(), names, lake, exp, "x")
    assert len(bad.failures) == 1 and "wrong answer: row count" in bad.failures[0]


def test_wrong_served_tensor_counts_as_failure(spark, tmp_path, monkeypatch):
    from perfbench.trace import Tracer

    cfg = physics.SMOKE
    exp = physics.expected(4, cfg)
    off = Tracer(spark, False, "physics")
    clean = physics.run_pass(spark, off, cfg, 4, str(tmp_path), exp, pass_id=1)
    assert clean.failures == [], clean.failures

    class Mutated(physics.EventDataset):
        def get_entry(self, *key):
            ent = super().get_entry(*key)
            ent["spacepoint_t"] = ent["spacepoint_t"] + 1e-9
            return ent

    monkeypatch.setattr(physics, "EventDataset", Mutated)
    bad = physics.run_pass(spark, off, cfg, 4, str(tmp_path), exp, pass_id=2)
    assert len(bad.failures) == cfg.lookups
    assert all("get_entry" in f for f in bad.failures)
