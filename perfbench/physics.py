"""The physics workload: the reference workflow on seeded synthetic detector
events, checked against the generator.

One pass converts the detector files to ragged-tensor Parquet, reads them
back, masks the true space points, voxelizes them with a majority label,
regrains the voxel tensors into instances, writes the cells, audits the
written cells for duplicate coordinates, serves two epochs of collated
batches and finally looks up events at seeded keys. Output directories are
deleted after the pass.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from ubparquet_spark import ingest, io
from ubparquet_spark.operators import voxel
from ubparquet_spark.operators.sampling import epoch_order, iter_arrow_batches
from ubparquet_spark.serving import EventDataset, collate_batch

TENSORS = (
    "spacepoint_t",
    "ssnet_label",
    "truetriplet_t",
    "voxcoord",
    "voxlabel",
    "voxssnet",
    "voxinstance",
)
SCHEMA = "run long, subrun long, event long, " + ", ".join(
    f"{t} array<{'double' if t == 'spacepoint_t' else 'long'}>, "
    f"{t}_shape array<long>"
    for t in TENSORS
)
KEY_BYTES = 3 * 8
# The steps between ingest and serving; their summed time is ``analysis_s``.
# ``voxel.voxelize`` only builds the lazy frame: the voxelize work itself
# runs inside ``io.write_parquet``.
ANALYSIS_STEPS = (
    "io.read_parquet",
    "voxel.mask_points",
    "voxel.voxelize",
    "io.write_parquet",
    "voxel.instance_regrain",
    "voxel.dedup_audit",
)


@dataclass(frozen=True)
class Config:
    files: int
    events_per_file: int
    min_points: int
    max_points: int
    lookups: int
    epochs: int = 2
    batch: int = 16

    @property
    def events(self) -> int:
        return self.files * self.events_per_file


FULL = Config(files=8, events_per_file=64, min_points=500, max_points=1500, lookups=100)
WARM = Config(files=4, events_per_file=8, min_points=100, max_points=200, lookups=10)
SMOKE = Config(files=2, events_per_file=4, min_points=20, max_points=60, lookups=4)


def file_paths(seed: int, cfg: Config) -> list[str]:
    return [
        f"detector-{seed}-{i}-{cfg.events_per_file}-{cfg.min_points}-{cfg.max_points}"
        for i in range(cfg.files)
    ]


def detector_reader(path: str):
    """Seeded stand-in for the ROOT reader: the path names the seed, the
    file id, the event count and the point-count range."""
    _, seed, fid, n_events, lo, hi = path.split("-")
    fid = int(fid)
    rng = np.random.default_rng([int(seed), fid])
    for ev in range(int(n_events)):
        n = int(rng.integers(int(lo), int(hi) + 1))
        spt = np.column_stack(
            [
                rng.uniform(0, 256.4, n),
                rng.uniform(-117, 117, n),
                rng.uniform(0, 1036, n),
                rng.uniform(0, 200, n),
            ]
        )
        v = max(1, n // 8)
        cells = rng.choice(64**3, size=v, replace=False)
        yield {
            "run": 1,
            "subrun": fid,
            "event": ev,
            "spacepoint_t": spt,
            "ssnet_label": rng.integers(0, 7, n, dtype=np.int64),
            "truetriplet_t": (rng.random(n) < 0.6).astype(np.int64),
            "voxcoord": np.stack(
                [cells // 4096, (cells // 64) % 64, cells % 64], axis=1
            ).astype(np.int64),
            "voxlabel": (rng.random(v) < 0.7).astype(np.int64),
            "voxssnet": rng.integers(0, 7, v, dtype=np.int64),
            "voxinstance": rng.integers(0, 5, v, dtype=np.int64),
        }


def digest(event: dict) -> tuple:
    """Bit-exact fingerprint of an event's tensors (shape, dtype, bytes)."""
    out = []
    for t in TENSORS:
        a = np.ascontiguousarray(event[t])
        out.append((a.shape, a.dtype.str, hashlib.sha1(a.tobytes()).hexdigest()))
    return tuple(out)


@dataclass
class Expected:
    digests: dict = field(default_factory=dict)
    true_points: int = 0
    instances: int = 0
    raw_bytes: int = 0


def expected(seed: int, cfg: Config) -> Expected:
    exp = Expected()
    for path in file_paths(seed, cfg):
        for ev in detector_reader(path):
            key = (ev["run"], ev["subrun"], ev["event"])
            exp.digests[key] = digest(ev)
            exp.true_points += int(ev["truetriplet_t"].sum())
            keep = (ev["voxlabel"] == 1) & (ev["voxinstance"] != 0)
            exp.instances += len(np.unique(ev["voxinstance"][keep]))
            exp.raw_bytes += KEY_BYTES + sum(ev[t].nbytes for t in TENSORS)
    return exp


@dataclass
class PassResult:
    op_s: list[float] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    attempted: int = 0
    pass_s: float = 0.0
    layer: dict = field(default_factory=dict)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def run_pass(spark, tracer, cfg, seed, workdir, exp, pass_id, check=True) -> PassResult:
    res = PassResult()
    n_batches = cfg.epochs * math.ceil(cfg.events / cfg.batch)
    # ingest, 5 analysis steps, open, every served batch, every lookup
    res.attempted = 7 + n_batches + cfg.lookups
    done = 0
    lay = res.layer
    ev_path = os.path.join(workdir, f"events-{pass_id}")
    cells_path = os.path.join(workdir, f"cells-{pass_id}")

    def timed(name, fn):
        t0 = time.perf_counter()
        with tracer.span(name):
            out = fn()
        lay[name] = lay.get(name, 0.0) + time.perf_counter() - t0
        return out

    def fail(msg):
        res.failures.append(msg)

    try:
        timed(
            "ingest.convert_and_write",
            lambda: ingest.convert_and_write(
                spark, file_paths(seed, cfg), detector_reader, SCHEMA, ev_path
            ),
        )
        done += 1
        lay["io.stored_bytes"] = _dir_bytes(ev_path)
        lay["io.input_bytes"] = exp.raw_bytes
        df = timed("io.read_parquet", lambda: spark.read.parquet(ev_path))

        def mask_points():
            true_pts = voxel.mask_filter(
                df, ["spacepoint_t", "ssnet_label"], "truetriplet_t"
            )
            pts = voxel.points_view(true_pts, "spacepoint_t", extra_cols=["ssnet_label"])
            pts = pts.withColumn("lbl", F.element_at("ssnet_label", 1)).drop("ssnet_label")
            return pts, pts.count()

        pts, n_points = timed("voxel.mask_points", mask_points)
        done += 1
        cells = timed(
            "voxel.voxelize",
            lambda: voxel.voxelize(
                pts, voxel_size=2.0, origin=(0.0, -117.0, 0.0), label_col="lbl"
            ),
        )
        done += 1
        timed("io.write_parquet", lambda: io.write_parquet(cells, cells_path))
        done += 1
        n_inst = timed(
            "voxel.instance_regrain", lambda: voxel.instance_regrain(df).count()
        )
        done += 1
        n_dup = timed(
            "voxel.dedup_audit",
            lambda: voxel.dedup_audit(
                spark.read.parquet(cells_path), ["vx", "vy", "vz"]
            ).count(),
        )
        done += 1
        lay["voxel.points"] = n_points
        if check:
            n_cells, summed = spark.read.parquet(cells_path).agg(
                F.count(F.lit(1)), F.sum("n_points")
            ).first()
            lay["voxel.cells"] = n_cells
            if n_points != exp.true_points:
                fail(f"mask_points: {n_points} points, expected {exp.true_points}")
            if summed != exp.true_points:
                fail(f"voxelize: cells hold {summed} points, expected {exp.true_points}")
            if n_inst != exp.instances:
                fail(f"instance_regrain: {n_inst} rows, expected {exp.instances}")
            if n_dup != 0:
                fail(f"dedup_audit: {n_dup} duplicate coordinates")

        def open_ds():
            ds = EventDataset(spark, ev_path)
            return ds, len(ds)

        ds, n_events = timed("serving.open", open_ds)
        done += 1
        if check and n_events != cfg.events:
            fail(f"ingest: {n_events} events, expected {cfg.events}")

        first, served = [], 0
        for epoch in range(cfg.epochs):
            seen = set()
            t0 = time.perf_counter()
            with tracer.span("serving.epoch_batches", epoch=epoch):
                it = ds.epoch_batches(cfg.batch, epoch=epoch, seed=seed)
                while True:
                    batch = timed("serving.next", lambda: next(it, None))
                    if batch is None:
                        break
                    if len(first) == epoch:
                        first.append(time.perf_counter() - t0)
                    timed(
                        "serving.collate",
                        lambda: collate_batch(
                            batch,
                            ["spacepoint_t", "ssnet_label"],
                            batch_index_cols=["spacepoint_t"],
                        ),
                    )
                    done += 1
                    served += len(batch)
                    if check:
                        keys = [(ev["run"], ev["subrun"], ev["event"]) for ev in batch]
                        bad = [
                            k
                            for k, ev in zip(keys, batch)
                            if k in seen or exp.digests.get(k) != digest(ev)
                        ]
                        seen.update(keys)
                        if bad:
                            fail(f"epoch {epoch}: events {bad[:3]} served wrong")
            if check and len(seen) != cfg.events:
                fail(f"epoch {epoch}: served {len(seen)} of {cfg.events} events")
        lay["serving.epoch_batches"] = lay.get("serving.next", 0.0) + lay.get(
            "serving.collate", 0.0
        )
        lay["serving.first_batch"] = float(np.median(first))
        lay["serving.events"] = served

        if tracer.enabled:
            # the same epoch order drained without decoding: the gap to
            # serving.epoch_batches is the decode share
            order = epoch_order(ds.df, 0, seed, num_partitions=8)
            t0 = time.perf_counter()
            with tracer.span("sampling.iter_arrow_batches"):
                for _ in iter_arrow_batches(
                    order, batch_rows=max(256, cfg.batch * 8), first_rows=cfg.batch
                ):
                    pass
            lay["sampling.iter_arrow_batches"] = time.perf_counter() - t0

        keys = sorted(exp.digests)
        rng = np.random.default_rng([seed, 7, pass_id])
        for i in rng.choice(len(keys), size=cfg.lookups, replace=cfg.lookups > len(keys)):
            key = keys[int(i)]
            t0 = time.perf_counter()
            with tracer.span("serving.get_entry"):
                ent = ds.get_entry(*key)
            res.op_s.append(time.perf_counter() - t0)
            done += 1
            if check and (ent is None or exp.digests[key] != digest(ent)):
                fail(f"get_entry{key}: wrong tensors")
        lay["serving.get_entry"] = sum(res.op_s)
    except Exception as e:
        fail(f"{type(e).__name__}: {str(e)[:300]}")
        res.failures.extend(["not run"] * (res.attempted - done - 1))
    finally:
        shutil.rmtree(ev_path, ignore_errors=True)
        shutil.rmtree(cells_path, ignore_errors=True)
    steps = (
        "ingest.convert_and_write",
        *ANALYSIS_STEPS,
        "serving.open",
        "serving.epoch_batches",
        "serving.get_entry",
    )
    res.pass_s = sum(lay.get(s, 0.0) for s in steps)
    return res


def workload_metrics(passes: list[PassResult], cfg: Config) -> dict[str, float]:
    """The physics end-to-end figures, each the median over ``passes``."""

    def med(f):
        return float(np.median([f(p.layer) for p in passes]))

    lookups = [t * 1000 for p in passes for t in p.op_s]
    return {
        "ingest_events_per_s": med(lambda d: cfg.events / d["ingest.convert_and_write"]),
        "stored_bytes_per_input_byte": med(
            lambda d: d["io.stored_bytes"] / d["io.input_bytes"]
        ),
        "analysis_s": med(lambda d: sum(d[k] for k in ANALYSIS_STEPS)),
        "epoch_events_per_s": med(
            lambda d: d["serving.events"] / d["serving.epoch_batches"]
        ),
        "first_batch_s": med(lambda d: d["serving.first_batch"]),
        "lookup_p50_ms": float(np.percentile(lookups, 50)),
        "lookup_p90_ms": float(np.percentile(lookups, 90)),
    }
