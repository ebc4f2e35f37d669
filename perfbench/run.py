"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Workloads: ``olap`` and ``curation`` (query passes over a seeded lake, every
answer checked against DuckDB) and ``physics`` (the reference workflow on
seeded detector events, checked against the generator). All load comes
from this one process, one call at a time, on a ``local[N]`` session with
N = the CPUs this process may run on.

A run generates its inputs from ``--seed``, starts the session and runs an
untimed warm pass (that is ``setup_s``), then times whole passes until
``--seconds`` have gone by. With ``--trace 1`` it instead runs an untraced,
a traced and another untraced pass, and prints the per-layer metrics of the
traced one. Details land in ``perfbench/results/``; the last stdout line is
the summary.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("olap", "curation", "physics")

# The p90s stay in the run record only: a query pass has fewer than ten
# queries beyond its p90, and the lookup p90 spreads too much from run to
# run on a shared host to gate on.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_ms": "ms",
}

# Queries a --smoke run keeps: one or more per plan module and family.
SMOKE_QUERIES = {
    "olap": ["q_price_deciles", "q_brand_pagerank", "q1_pricing_summary", "q_events_sessionize"],
    "curation": [
        "q_semantic_dedup_smallk",
        "q_doc_dedup_decisions",
        "q_kmeans_clusters",
        "q_pii_redaction",
        "q_pack_sequences",
    ],
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    from perfbench.queries import FAMILIES, PLAN_MODULES

    u = {"session.start_s": "s", "session.warm_s": "s"}
    for mod in PLAN_MODULES:
        u |= {f"plans.{mod}.construct_s": "s", f"plans.{mod}.collect_s": "s"}
        u[f"plans.{mod}.jobs"] = "count"
    for fam in FAMILIES:
        u |= {f"family.{fam}.construct_s": "s", f"family.{fam}.collect_s": "s"}
        u |= {f"family.{fam}.jobs": "count", f"family.{fam}.tasks_per_stage": "ratio"}
        u[f"family.{fam}.shuffle_write_mb"] = "MB"
    u |= {
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.tasks_per_stage": "ratio",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.gc_s": "s",
        "spark.core_busy_frac": "ratio",
        "spark.shuffle_write_mb": "MB",
        "spark.shuffle_read_mb": "MB",
        "spark.spill_mb": "MB",
        "spark.input_mb": "MB",
        "spark.output_mb": "MB",
        "spark.planning_ms": "ms",
        "spark.result_rows": "count",
        "ingest.convert_and_write_s": "s",
        "ingest.tasks": "count",
        "ingest.events": "count",
        "ingest.events_per_s": "events/s",
        "io.input_bytes": "bytes",
        "io.stored_bytes": "bytes",
        "io.stored_bytes_per_input_byte": "ratio",
        "io.write_parquet_s": "s",
        "voxel.mask_points_s": "s",
        "voxel.voxelize_s": "s",
        "voxel.instance_regrain_s": "s",
        "voxel.dedup_audit_s": "s",
        "voxel.analysis_s": "s",
        "voxel.points": "count",
        "voxel.cells": "count",
        "sampling.iter_arrow_batches_s": "s",
        "serving.open_s": "s",
        "serving.epoch_batches_s": "s",
        "serving.next_wait_s": "s",
        "serving.collate_s": "s",
        "serving.first_batch_s": "s",
        "serving.epoch_events_per_s": "events/s",
        "serving.epoch_jobs": "count",
        "serving.lookup_jobs": "count",
        "serving.lookup_rows_read_per_hit": "ratio",
        "process.peak_rss_mb": "MB",
        "trace.overhead_s": "s",
    }
    return u


def _git_commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
    )
    return out.stdout.strip() or None


def _source_digest() -> str:
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "ubparquet_spark"))):
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        with open(p, "rb") as f:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return kb / 1024


def _prepare_env(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and size the session to ``cores``."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _start_session(work: str):
    from ubparquet_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    return get_session(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Workload:
    """Inputs, warm pass and timed passes of one workload."""

    def __init__(self, name: str, seed: int, smoke: bool, work: str) -> None:
        self.name, self.seed, self.smoke, self.work = name, seed, smoke, work

    def make_inputs(self) -> None:
        if self.name == "physics":
            from perfbench import physics

            self.cfg = physics.SMOKE if self.smoke else physics.FULL
            self.warm_cfg = physics.SMOKE if self.smoke else physics.WARM
            self.exp = physics.expected(self.seed, self.cfg)
            self.warm_exp = physics.expected(self.seed, self.warm_cfg)
            return
        import __spark_entry__ as entry

        from perfbench.lake import write_lake
        from perfbench.queries import QUERY_LISTS

        self.names = SMOKE_QUERIES[self.name] if self.smoke else QUERY_LISTS[self.name]
        self.fns = entry.queries()
        sqls = entry.oracle_sql()
        self.oracle_sql = {n: sqls[n] for n in self.names}
        self.lake = write_lake(
            os.path.join(self.work, "lake"), 0.001 if self.smoke else 0.01, self.seed
        )

    def warm(self, spark, tracer) -> None:
        if self.name == "physics":
            from perfbench import physics

            physics.run_pass(
                spark, tracer, self.warm_cfg, self.seed, self.work, self.warm_exp,
                pass_id=0, check=False,
            )
        else:
            from perfbench import queries

            queries.run_pass(
                spark, tracer, self.fns, self.names, self._alias(0), None,
                order_seed=f"{self.seed}:0",
            )

    def timed_pass(self, spark, tracer, i: int):
        if self.name == "physics":
            from perfbench import physics

            return physics.run_pass(
                spark, tracer, self.cfg, self.seed, self.work, self.exp, pass_id=i
            )
        from perfbench import queries

        return queries.run_pass(
            spark, tracer, self.fns, self.names, self._alias(i), self.oracle_sql,
            order_seed=f"{self.seed}:{i}",
        )

    def _alias(self, i: int) -> str:
        """A fresh path to the lake for pass ``i``, so path-keyed memos
        filled by one pass cannot serve the next."""
        alias = os.path.join(self.work, f"lake-pass{i}")
        os.symlink(self.lake, alias)
        return alias


def layer_metrics(spans, traced, untraced, setup, cores, rss_mb, wl) -> dict[str, float]:
    """Per-layer metrics of the traced pass (``traced``); ``untraced`` are
    the untraced passes run just before and just after it."""
    from perfbench.trace import totals

    units = per_layer_units()
    m = dict.fromkeys(units, 0.0)
    m["session.start_s"], m["session.warm_s"] = setup
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def tree(s):
        return [s] + [d for k in kids.get(s["id"], []) for d in tree(k)]

    def dur(s):
        return s["end"] - s["start"]

    for q in (s for s in spans if s["name"] == "query"):
        child = {k["name"]: dur(k) for k in kids.get(q["id"], [])}
        c = totals(tree(q))
        groups = [f"plans.{q['module']}"]
        if q["family"]:
            groups.append(f"family.{q['family']}")
        for g in groups:
            m[f"{g}.construct_s"] += child.get("construct", 0.0)
            m[f"{g}.collect_s"] += child.get("collect", 0.0)
            m[f"{g}.jobs"] += c["jobs"]
        if q["family"]:
            g = f"family.{q['family']}"
            m[f"{g}.shuffle_write_mb"] += c["shuffle_write_b"] / 2**20
            m[f"{g}._stages"] = m.get(f"{g}._stages", 0) + c["stages"]
            m[f"{g}._tasks"] = m.get(f"{g}._tasks", 0) + c["tasks"]
    for fam in [k[:-8] for k in m if k.endswith("._stages")]:
        stages, tasks = m.pop(f"{fam}._stages"), m.pop(f"{fam}._tasks")
        m[f"{fam}.tasks_per_stage"] = tasks / stages if stages else 0.0

    c = totals(spans)
    run_s = c["run_ms"] / 1000
    m |= {
        "spark.jobs": c["jobs"],
        "spark.stages": c["stages"],
        "spark.tasks": c["tasks"],
        "spark.tasks_per_stage": c["tasks"] / c["stages"] if c["stages"] else 0.0,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": c["cpu_ns"] / 1e9,
        "spark.gc_s": c["gc_ms"] / 1000,
        "spark.core_busy_frac": run_s / (traced.pass_s * cores),
        "spark.shuffle_write_mb": c["shuffle_write_b"] / 2**20,
        "spark.shuffle_read_mb": c["shuffle_read_b"] / 2**20,
        "spark.spill_mb": c["spill_b"] / 2**20,
        "spark.input_mb": c["input_b"] / 2**20,
        "spark.output_mb": c["output_b"] / 2**20,
        "spark.planning_ms": c["planning_ms"],
        "spark.result_rows": c["result_rows"],
        "process.peak_rss_mb": rss_mb,
        "trace.overhead_s": traced.pass_s - statistics.mean(p.pass_s for p in untraced),
    }

    if wl.name == "physics":
        from perfbench import physics

        lay = traced.layer

        def jobs_of(name):
            return totals([d for s in spans if s["name"] == name for d in tree(s)])

        ingest_c = jobs_of("ingest.convert_and_write")
        lookup_c = jobs_of("serving.get_entry")
        m |= {
            "ingest.convert_and_write_s": lay["ingest.convert_and_write"],
            "ingest.tasks": ingest_c["tasks"],
            "ingest.events": wl.cfg.events,
            "ingest.events_per_s": wl.cfg.events / lay["ingest.convert_and_write"],
            "io.input_bytes": lay["io.input_bytes"],
            "io.stored_bytes": lay["io.stored_bytes"],
            "io.stored_bytes_per_input_byte": lay["io.stored_bytes"] / lay["io.input_bytes"],
            "io.write_parquet_s": lay["io.write_parquet"],
            "voxel.mask_points_s": lay["voxel.mask_points"],
            "voxel.voxelize_s": lay["voxel.voxelize"],
            "voxel.instance_regrain_s": lay["voxel.instance_regrain"],
            "voxel.dedup_audit_s": lay["voxel.dedup_audit"],
            "voxel.analysis_s": sum(lay[k] for k in physics.ANALYSIS_STEPS),
            "voxel.points": lay["voxel.points"],
            "voxel.cells": lay["voxel.cells"],
            "sampling.iter_arrow_batches_s": lay["sampling.iter_arrow_batches"],
            "serving.open_s": lay["serving.open"],
            "serving.epoch_batches_s": lay["serving.epoch_batches"],
            "serving.next_wait_s": lay["serving.next"],
            "serving.collate_s": lay["serving.collate"],
            "serving.first_batch_s": lay["serving.first_batch"],
            "serving.epoch_events_per_s": lay["serving.events"] / lay["serving.epoch_batches"],
            "serving.epoch_jobs": jobs_of("serving.epoch_batches")["jobs"],
            "serving.lookup_jobs": lookup_c["jobs"],
            "serving.lookup_rows_read_per_hit": lookup_c["input_records"]
            / max(1, len(traced.op_s)),
        }
    return m


def workload_metrics(wl, e2e, untraced, attempted, failed, rss_mb) -> dict:
    """The workload's end-to-end figures under the names the stdout summary
    cannot carry, all from untraced passes: the summary holds only metrics
    every workload has, and none that is 0 on a correct run."""
    out = {
        "setup_s": e2e["setup_s"],
        "pass_s": e2e["pass_s"],
        "failed_frac": failed / attempted,
        "peak_rss_mb": rss_mb,
    }
    if wl.name != "physics":
        out["query_p50_s"] = e2e["op_p50_ms"] / 1000
        out["query_p90_s"] = e2e["op_p90_ms"] / 1000
        return out
    from perfbench import physics

    clean = [p for p in untraced if not p.failures]
    return out | (physics.workload_metrics(clean, wl.cfg) if clean else {})


def run(args) -> dict:
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    _prepare_env(work, cores)
    sys.path.insert(0, ROOT)
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    from perfbench.trace import Tracer

    wl = Workload(args.workload, args.seed, args.smoke, work)
    spark = None
    try:
        t0 = time.perf_counter()
        wl.make_inputs()
        inputs_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark = _start_session(work)
        start_s = time.perf_counter() - t0
        off = Tracer(spark, False, wl.name)
        t0 = time.perf_counter()
        wl.warm(spark, off)
        warm_s = time.perf_counter() - t0

        passes, t_measure = [], time.perf_counter()
        if args.trace:
            # untraced, traced, untraced: the mean of the two untraced
            # passes is the reference for the tracing overhead
            tracer = Tracer(spark, True, wl.name)
            tracer.pass_id = 2
            for i, t in enumerate((off, tracer, off), start=1):
                passes.append(wl.timed_pass(spark, t, i))
        else:
            while not passes or time.perf_counter() - t_measure < args.seconds:
                passes.append(wl.timed_pass(spark, off, len(passes) + 1))
        measure_s = time.perf_counter() - t_measure
        rss_mb = _hwm_mb("self") + _hwm_mb(spark.sparkContext._gateway.proc.pid)
        session_cores = spark.sparkContext.defaultParallelism
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(p.attempted for p in passes)
    failures = [f for p in passes for f in p.failures]
    untraced = [p for i, p in enumerate(passes) if not (args.trace and i == 1)]
    op_ms = [t * 1000 for p in untraced for t in p.op_s]
    e2e = {
        "setup_s": start_s + warm_s,
        "pass_s": statistics.median(p.pass_s for p in untraced),
        "op_p50_ms": float(numpy.percentile(op_ms, 50)),
        "op_p90_ms": float(numpy.percentile(op_ms, 90)),
    }
    if args.trace:
        units = per_layer_units()
        values = layer_metrics(
            tracer.spans, passes[1], untraced, (start_s, warm_s), cores, rss_mb, wl
        )
    else:
        units, values = END_TO_END, e2e
    summary = {
        "correct": not failures,
        "attempted": attempted,
        "failed": min(len(failures), attempted),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    stem = os.path.join(results, f"{wl.name}-seed{args.seed}-trace{int(args.trace)}")
    record = {
        "summary": summary,
        "run": {
            "workload": wl.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "smoke": args.smoke,
            "nproc": cores,
            "session_cores": session_cores,
            "versions": {
                "python": sys.version.split()[0],
                "pyspark": pyspark.__version__,
                "pyarrow": pyarrow.__version__,
                "duckdb": duckdb.__version__,
                "numpy": numpy.__version__,
            },
            "git_commit": _git_commit(),
            "source_digest": _source_digest(),
            "inputs_s": inputs_s,
            "measure_s": measure_s,
        },
        "workload_metrics": workload_metrics(
            wl, e2e, untraced, attempted, summary["failed"], rss_mb
        ),
        "passes": [
            {"pass_s": p.pass_s, "op_s": p.op_s, "attempted": p.attempted}
            for p in passes
        ],
        "failures": failures,
    }
    if args.trace:
        tracer.write(stem + ".spans.jsonl")
        record["spans_file"] = os.path.basename(stem + ".spans.jsonl")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    for line in failures:
        print(f"perfbench: {line}", file=sys.stderr)
    return summary


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--smoke", action="store_true",
        help="tiny inputs and a few queries, for the benchmark's own tests",
    )
    args = ap.parse_args(argv)
    missing = [
        p for p in ("ubparquet_spark", "__spark_entry__.py")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found under {ROOT}", file=sys.stderr)
        return 2
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
