"""In-process workload driver: one SparkSession, a closed loop of operations.

Started by ``run.py`` as its own subprocess, pinned with ``taskset``. It
reports each step as one ``PB {json}`` line on stdout:

- ``ready``: session up, every Python worker slot warm, input listed;
- ``op``: one timed operation (wall seconds, CPU seconds of this process
  tree, result counts, and for ``analytics`` the time of each query);
- ``result``: the collected outputs of one untimed pass, for the checks;
- ``peak``: peak RSS of the tree at the end of a phase;
- ``done``: every phase finished.

A traced run has three phases in one JVM: ``untraced``, ``traced`` (a new
session with the event log on) and, for ``enrich``, ``onecore`` (the whole
tree pinned to one CPU at ``local[1]``).

Only the engine's public entry points are called. The loop waits for
each operation before it starts the next (closed loop, one client).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import proctree  # noqa: E402


def emit(kind: str, **kw) -> None:
    sys.stdout.write("PB " + json.dumps(dict(kind=kind, t=time.time(), **kw)) + "\n")
    sys.stdout.flush()


def session(cfg: dict, cores: int, traced: bool):
    from jimmy_spark.session import get_spark

    work = cfg["work"]
    conf = {
        "spark.sql.files.maxPartitionBytes": str(cfg["split_bytes"]),
        "spark.driver.memory": cfg["driver_mem"],
        "spark.local.dir": f"{work}/tmp",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # a fixed-size heap: RSS then tracks the pages the work touches,
        # not when the collector decided to grow the heap
        "spark.driver.extraJavaOptions": cfg["java_opts"],
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + cfg["eventlog_dir"]
    return get_spark(
        f"perfbench-{cfg['workload']}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )


def pin_tree_to(cpus: str) -> None:
    """Pin every thread of this process and its descendants (the JVM)."""
    for pid in proctree.descendants(os.getpid()):
        subprocess.run(
            ["taskset", "-a", "-p", "-c", cpus, str(pid)],
            check=True,
            stdout=subprocess.DEVNULL,
        )


# --- enrich --------------------------------------------------------------


class Enrich:
    def __init__(self, spark, data: str):
        import pandas as pd

        self.spark = spark
        self.images = spark.read.parquet(f"{data}/images.parquet")
        self.polygons = pd.read_parquet(f"{data}/polygons.parquet")
        self.rows = self.images.count()

    def warm(self, cores: int) -> None:
        # one untimed full pass: every Python worker slot has imported the
        # engine and the JIT has compiled the scan and Arrow paths
        self.op()

    def op(self) -> dict:
        from jimmy_spark.operators import fused

        fused.fused_spatial_stage(self.images, self.polygons).write.format(
            "noop"
        ).mode("overwrite").save()
        return {"rows": self.rows}

    def collect(self) -> dict:
        from jimmy_spark.operators import fused

        cols = [
            "image_id", "ok", "error", "px_checksum", "lat_e7", "lon_e7",
            "hex_r7", "hex_r8", "hex_r9", "s2_l12", "s2_l14", "s2_l16",
            "tile_z8_x", "tile_z8_y", "tile_z12_x", "tile_z12_y",
            "tile_z16_x", "tile_z16_y", "polygon_ids",
        ]
        out = fused.fused_spatial_stage(self.images, self.polygons).select(*cols)
        return {"fused": out.toPandas()}


# --- analytics -----------------------------------------------------------


class Analytics:
    QUERIES = ("rollup", "knn", "distjoin", "region")

    def __init__(self, spark, data: str):
        import pandas as pd

        self.spark = spark
        self.points = spark.read.parquet(f"{data}/points.parquet")
        self.polygons = spark.read.parquet(f"{data}/polygons.parquet")
        self.queries = pd.read_parquet(f"{data}/knn_queries.parquet")
        self.rows = self.points.count()

    def frames(self, name: str) -> list:
        """The query's result frames. Building them is part of the query:
        ``knn_join`` and ``region_select`` plan on the driver here."""
        from jimmy_spark.operators import distjoin, knn, s2region, tiling

        if name == "rollup":
            from pyspark.sql import functions as F

            from jimmy_spark.operators.cells import hex_cell_expr

            hex_points = self.points.withColumn(
                "hex_r8", hex_cell_expr(F.col("lat_e7"), F.col("lon_e7"), 8)
            )
            return [
                tiling.salted_counts(hex_points, ["hex_r8"]),
                tiling.pyramid_counts(self.points),
            ]
        if name == "knn":
            return [knn.knn_join(self.points, self.queries)]
        if name == "distjoin":
            return [distjoin.distance_join_grid(self.points, d=100)]
        return [
            s2region.region_select(self.points, self.polygons, min_level=11, max_level=16)
        ]

    def warm(self, cores: int) -> None:
        # the same four queries over a small slice: codegen, broadcast and
        # Python UDF workers are warm before the first timed operation
        full = self.points
        self.points = full.limit(4096).repartition(cores * 2)
        try:
            self.op()
        finally:
            self.points = full

    def op(self) -> dict:
        # pyramid_counts persists its finest level; a cached frame from an
        # earlier operation would turn the next rollup into a cache read
        self.spark.catalog.clearCache()
        parts: dict[str, float] = {}
        counts: dict[str, list[int]] = {}
        sc = self.spark.sparkContext
        base = sc.getLocalProperty("spark.job.description") or ""
        for name in self.QUERIES:
            sc.setJobDescription(f"{base}/{name}")
            t = time.monotonic()
            counts[name] = [df.count() for df in self.frames(name)]
            parts[name] = time.monotonic() - t
        sc.setJobDescription(base)
        return {"rows": self.rows, "parts": parts, "counts": counts}

    def collect(self) -> dict:
        self.spark.catalog.clearCache()
        return {name: [df.toPandas() for df in self.frames(name)] for name in self.QUERIES}


WORKLOADS = {"enrich": Enrich, "analytics": Analytics}


def run_phase(cfg: dict, cores: int, traced: bool, phase: str, seconds: float,
              min_ops: int, collect: bool, probe=None) -> None:
    t0 = time.time()
    spark = session(cfg, cores, traced)
    sc = spark.sparkContext
    t1 = time.time()
    w = WORKLOADS[cfg["workload"]](spark, cfg["data"])
    t2 = time.time()
    sc.setJobDescription(f"{phase}:warm")
    w.warm(cores)
    emit("ready", phase=phase, cores=cores, traced=traced, rows=w.rows,
         app_id=sc.applicationId, session_s=t1 - t0, list_s=t2 - t1,
         warm_s=time.time() - t2)
    me = os.getpid()
    t_end = time.monotonic() + seconds
    n = 0
    while n < min_ops or time.monotonic() < t_end:
        probe_t0 = time.time()
        probe_s = probe() if probe else 0.0
        sc.setJobDescription(f"{phase}:op{n}")
        cpu0 = proctree.tree_cpu_s(me)
        t0 = time.time()
        m0 = time.monotonic()
        res = w.op()
        wall = time.monotonic() - m0
        cpu = proctree.tree_cpu_s(me) - cpu0
        emit("op", phase=phase, n=n, start=t0, wall_s=wall, cpu_s=cpu, probe_s=probe_s,
             probe_t0=probe_t0, **res)
        n += 1
    if collect:
        sc.setJobDescription(f"{phase}:check")
        got = w.collect()
        path = Path(cfg["work"]) / "result.pkl"
        import pickle

        with open(path, "wb") as f:
            pickle.dump(got, f)
        emit("result", phase=phase, path=str(path))
    emit("peak", phase=phase, peak_rss_mb=proctree.tree_peak_rss_mb(me))
    spark.stop()


def main() -> int:
    import hostprobe

    cfg = json.loads(sys.argv[1])
    n = cfg["cores"]
    secs = cfg["seconds"]
    # started before the JVM, while this process has no other threads
    probe = hostprobe.Probe(n)
    try:
        if not cfg["trace"]:
            run_phase(cfg, n, False, "timed", secs, 1, collect=True, probe=probe)
        else:
            # untraced and traced passes in one JVM: their difference is the
            # tracing overhead; then the same pass pinned to one core
            run_phase(cfg, n, False, "untraced", secs / 2, 1, collect=False, probe=probe)
            run_phase(cfg, n, True, "traced", secs, 1, collect=True, probe=probe)
            if cfg["workload"] == "enrich":
                pin_tree_to(str(cfg["cpus"][0]))
                run_phase(cfg, 1, True, "onecore", 0, 1, collect=False)
    finally:
        probe.close()
        proctree.stop_resource_tracker()
    emit("done")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
