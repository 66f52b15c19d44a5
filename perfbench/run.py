#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload enrich --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each was chosen):

- ``enrich``: the fused spatial map over an image table, noop sink;
- ``analytics``: salted rollups, kNN, distance join and S2 region
  selection over a points table;
- ``job``: ``jobs/spatial_job.py`` through ``spark-submit --py-files``,
  then the same command again with the same run id.

The workload runs in its own subprocess tree pinned with ``taskset`` to
the CPUs this process may use, as a closed loop with one client. Every
output is checked against the repo's DuckDB oracles before the result is
printed. With ``--trace 0`` the last stdout line holds the end-to-end
metrics; with ``--trace 1`` a separate traced pass gives the per-layer
metrics, the span file and the lanes x layers table.

All inputs, outputs, logs and caches live under ``.perfbench/`` at the
root of the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK = REPO / ".perfbench"
RUN_LIMIT_S = 170  # a run, traced or not, must end within 180 s
SETUP_REPS = 21  # job: zip build + directory preparation repeats
DRIVER_MEM = "1g"  # fixed JVM heap (-Xms = -Xmx) for a steady peak RSS
# JVM options for every driver: scratch files inside the checkout, a fixed
# heap, and no hsperfdata files in the system temp directory
JAVA_OPTS = f"-Djava.io.tmpdir={WORK / 'tmp'} -Xms{DRIVER_MEM} -XX:-UsePerfData"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "cpu_s_per_mrow": "CPU-s/Mrow",
    "peak_rss_mb": "MB",
}


class RunFailed(RuntimeError):
    """The workload process failed: no result can be printed."""


def host_info(cpus: list[int]) -> dict:
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True)
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": len(cpus),
        "cpus": cpus,
        "cpu_model": model,
        "java": (java.stderr.splitlines() or [""])[0],
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def child_env() -> dict:
    env = dict(os.environ)
    tmp = str(WORK / "tmp")
    env.update(
        PYTHONPATH=str(REPO),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
    )
    return env


def cpu_list(cpus: list[int]) -> str:
    return ",".join(str(c) for c in cpus)


def deadline_left(t_start: float) -> float:
    return RUN_LIMIT_S - (time.monotonic() - t_start)


# --- enrich / analytics: worker subprocess ------------------------------------


def run_worker(args, data: Path, run_dir: Path, cpus: list[int], t_start: float,
               probe) -> dict:
    import proctree

    cfg = {
        "workload": args.workload,
        "data": str(data),
        "work": str(WORK),
        "cores": len(cpus),
        "cpus": cpus,
        "seconds": args.seconds,
        "trace": args.trace,
        "split_bytes": 2 * 1024 * 1024,
        "driver_mem": DRIVER_MEM,
        "java_opts": JAVA_OPTS,
        "eventlog_dir": str(run_dir / "events"),
    }
    (run_dir / "events").mkdir(parents=True, exist_ok=True)
    cmd = ["taskset", "-c", cpu_list(cpus), sys.executable, str(HERE / "worker.py"),
           json.dumps(cfg)]
    events: list[dict] = []
    setup_probe = probe()
    before = set(proctree.descendants(os.getpid(), include_root=False))
    with open(run_dir / "worker.log", "wb") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=child_env(),
                                cwd=str(WORK))
        # leave time for the output checks and the trace after the worker
        timer = _Watchdog(proc.pid, deadline_left(t_start) - 15)
        with proctree.TreeSampler(proc.pid) as sampler:
            for raw in proc.stdout:
                line = raw.decode(errors="replace")
                if line.startswith("PB "):
                    events.append(json.loads(line[3:]))
            rc = proc.wait()
        timer.cancel()
    proctree.reap_orphans(before)
    if rc != 0 or not events or events[-1]["kind"] != "done":
        tail = (run_dir / "worker.log").read_text(errors="replace")[-3000:]
        raise RunFailed(f"worker exited {rc}{' (timed out)' if timer.fired else ''}:\n{tail}")
    return {"t_spawn": t_spawn, "events": events, "sampler_peak_mb": sampler.peak_rss_mb,
            "setup_probe_s": setup_probe}


class _Watchdog:
    """Kills a process tree that outlives the run limit."""

    def __init__(self, pid: int, seconds: float):
        import threading

        self.fired = False
        self._timer = threading.Timer(max(seconds, 1.0), self._kill, args=(pid,))
        self._timer.daemon = True
        self._timer.start()

    def _kill(self, pid: int) -> None:
        import proctree

        self.fired = True
        for p in reversed(proctree.descendants(pid)):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass

    def cancel(self) -> None:
        self._timer.cancel()


def end_to_end(rows: int, setup_s: float, setup_probes: list[float], walls: list[float],
               cpus: list[float], probes: list[float], peak: float) -> tuple[dict, dict]:
    """End-to-end metrics as measured, and at the reference host speed.

    The host's per-core speed drifts over minutes (see hostprobe). Each
    operation's wall and CPU time is scaled by ``NOMINAL_S / probe`` with the
    probe taken next to it, and the set-up by the mean of the probes just
    before and just after it; then the median is taken. Peak RSS is not
    scaled."""
    import hostprobe

    nom = hostprobe.NOMINAL_S
    wall = statistics.median(walls)
    cpu = statistics.median(cpus)
    wall_n = statistics.median(w * nom / p for w, p in zip(walls, probes))
    cpu_n = statistics.median(c * nom / p for c, p in zip(cpus, probes))
    raw = {"setup_s": setup_s, "wall_s": wall, "rows_per_s": rows / wall,
           "cpu_s_per_mrow": cpu / rows * 1e6, "peak_rss_mb": peak}
    norm = {"setup_s": setup_s * nom / statistics.mean(setup_probes), "wall_s": wall_n, "rows_per_s": rows / wall_n,
            "cpu_s_per_mrow": cpu_n / rows * 1e6, "peak_rss_mb": peak}
    return raw, norm


def worker_metrics(res: dict, phase: str) -> dict:
    ev = res["events"]
    ready = next(e for e in ev if e["kind"] == "ready")
    ops = [e for e in ev if e["kind"] == "op" and e["phase"] == phase]
    peak = max([e["peak_rss_mb"] for e in ev if e["kind"] == "peak"] + [res["sampler_peak_mb"]])
    raw, norm = end_to_end(
        ops[0]["rows"], ready["t"] - res["t_spawn"], [res["setup_probe_s"], ops[0]["probe_s"]],
        [o["wall_s"] for o in ops], [o["cpu_s"] for o in ops], [o["probe_s"] for o in ops], peak)
    return {
        "raw": raw,
        "norm": norm,
        "samples": len(ops),
        "walls": [o["wall_s"] for o in ops],
        "probes": [res["setup_probe_s"]] + [o["probe_s"] for o in ops],
        "setup_parts": {k: ready[k] for k in ("session_s", "list_s", "warm_s")},
        "ops": ops,
    }


# --- job: spark-submit ------------------------------------------------------------


def job_command(data: Path, out: Path, cp: Path, zip_path: Path, cpus: list[int],
                eventlog: Path | None) -> list[str]:
    n = len(cpus)
    tmp = WORK / "tmp"
    cmd = [
        "taskset", "-c", cpu_list(cpus), "spark-submit",
        "--master", f"local[{n}]",
        "--driver-memory", DRIVER_MEM,
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.shuffle.partitions={n}",
        "--conf", f"spark.local.dir={tmp}",
        "--conf", f"spark.driver.extraJavaOptions={JAVA_OPTS}",
        "--conf", f"spark.sql.warehouse.dir={WORK / 'warehouse'}",
    ]
    if eventlog is not None:
        eventlog.mkdir(parents=True, exist_ok=True)
        cmd += ["--conf", "spark.eventLog.enabled=true",
                "--conf", f"spark.eventLog.dir=file://{eventlog}"]
    cmd += [
        "--py-files", str(zip_path),
        str(REPO / "jobs" / "spatial_job.py"),
        "--images", str(data / "images.parquet"),
        "--polygons", str(data / "polygons.parquet"),
        "--out", str(out),
        "--checkpoint", str(cp),
        "--run-id", "bench",
        "--buckets", str(n),
        "--scene-dup-d", "100",
        "--keep-best",
    ]
    return cmd


def job_setup(job_dir: Path) -> tuple[float, Path, Path, Path]:
    """Build the --py-files zip and prepare empty output directories."""
    from scripts.make_pyfiles_zip import build

    t0 = time.monotonic()
    job_dir.mkdir(exist_ok=True)
    zip_path = build(job_dir / "jimmy_spark.zip")
    out, cp = job_dir / "out", job_dir / "cp"
    for d in (out, cp):
        if d.exists():
            shutil.rmtree(d)
        d.mkdir(parents=True)
    return time.monotonic() - t0, zip_path, out, cp


def submit(cmd: list[str], run_dir: Path, tag: str, t_start: float, reserve: float = 0.0) -> dict:
    """One spark-submit, killed if it would leave less than ``reserve``
    seconds of the run limit."""
    import proctree

    before = set(proctree.descendants(os.getpid(), include_root=False))
    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    with open(run_dir / f"{tag}.log", "wb") as log:
        t0 = time.time()
        m0 = time.monotonic()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=child_env(),
                                cwd=str(WORK))
        timer = _Watchdog(proc.pid, deadline_left(t_start) - reserve)
        with proctree.TreeSampler(os.getpid(), exclude_root=True) as sampler:
            stdout = proc.communicate()[0].decode(errors="replace")
            wall = time.monotonic() - m0
            proctree.reap_orphans(before)
        timer.cancel()
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    if proc.returncode != 0:
        tail = (run_dir / f"{tag}.log").read_text(errors="replace")[-3000:]
        raise RunFailed(f"spark-submit ({tag}) exited {proc.returncode}:\n{tail}")
    summary = json.loads(stdout.strip().splitlines()[-1])
    cpu = (ru1.ru_utime - ru0.ru_utime) + (ru1.ru_stime - ru0.ru_stime)
    return {"start": t0, "wall_s": wall, "cpu_s": cpu, "peak_rss_mb": sampler.peak_rss_mb,
            "summary": summary}


def run_job(seconds: float, data: Path, run_dir: Path, cpus: list[int], t_start: float,
            traced: bool, probe, reserve: float = 0.0) -> dict:
    """Closed loop of job submissions on fresh directories. The traced pass
    submits once more with the same run id: the idempotent rerun."""
    tag = "traced" if traced else "untraced"
    setup_probe = probe()
    setups = []
    for _ in range(SETUP_REPS):
        dt, zip_path, out, cp = job_setup(run_dir / tag)
        setups.append(dt)
    ops = []
    t_end = time.monotonic() + seconds
    ev = run_dir / "events" if traced else None
    while not ops or time.monotonic() < t_end:
        if ops:
            _, zip_path, out, cp = job_setup(run_dir / tag)
        n = len(ops)
        cmd = job_command(data, out, cp, zip_path, cpus, ev)
        # one submission spans tens of seconds: bracket it with three probes
        # on each side, so one probe caught in a spike does not decide
        before = [probe() for _ in range(3)]
        op = {"first": submit(cmd, run_dir, f"{tag}-first{n}", t_start, reserve)}
        op["probes"] = before + [probe() for _ in range(3)]
        if traced:
            op["rerun"] = submit(cmd, run_dir, f"{tag}-rerun{n}", t_start)
        ops.append(op)
    return {"setups": setups, "setup_probe_s": setup_probe, "ops": ops, "out": out, "cp": cp}


def job_metrics(res: dict, rows: int) -> dict:
    ops = res["ops"]
    probes = [statistics.median(o["probes"]) for o in ops]
    raw, norm = end_to_end(
        rows, statistics.median(res["setups"]),
        [res["setup_probe_s"], statistics.median(ops[0]["probes"][:3])],
        [o["first"]["wall_s"] for o in ops], [o["first"]["cpu_s"] for o in ops], probes,
        max(o["first"]["peak_rss_mb"] for o in ops))
    return {
        "raw": raw,
        "norm": norm,
        "samples": len(ops),
        "walls": [o["first"]["wall_s"] for o in ops],
        "probes": [res["setup_probe_s"]] + [p for o in ops for p in o["probes"]],
    }


# --- checks -----------------------------------------------------------------------


def check_worker_result(args, res: dict, data: Path, expected: dict) -> list[dict]:
    import pickle

    import oracles

    fails: list[dict] = []
    ev = res["events"]
    ops = [e for e in ev if e["kind"] == "op"]
    # counts every timed operation must repeat exactly
    if args.workload == "analytics":
        first = ops[0]["counts"]
        for o in ops[1:]:
            if o["counts"] != first:
                fails.append(oracles.fail("analytics.repeat", "count differs between operations",
                                           f"{o['counts']} vs {first}"))
        exact = oracles.analytics_counts(data, WORK)
        if first["rollup"] != [exact["rollup_hex_groups"], exact["rollup_tiles"]]:
            fails.append(oracles.fail("analytics.rollup_counts", "mismatch vs oracle",
                                       f"{first['rollup']} vs {exact}"))
    result = next((e for e in ev if e["kind"] == "result"), None)
    if result is None:
        return fails
    with open(result["path"], "rb") as f:
        got = pickle.load(f)
    os.unlink(result["path"])
    if args.workload == "enrich":
        fails += oracles.check_enrich(got, data, WORK, expected["rows"])
    else:
        fails += oracles.check_analytics(got, data, WORK)
    return fails


# --- output ---------------------------------------------------------------------------


def fmt_row(name: str, value, unit: str, note: str = "") -> str:
    v = f"{value:.6g}" if isinstance(value, float) else str(value)
    return f"  {name:<34} {v:>14} {unit:<12} {note}"


def main(argv: list[str] | None = None) -> int:
    """Runs the benchmark; on every way out, including SIGTERM, waits for
    (or after a grace period kills) every process it started."""
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    sys.path.insert(0, str(HERE))
    import proctree

    proctree.become_subreaper()
    try:
        return run(argv)
    finally:
        proctree.stop_resource_tracker()
        proctree.reap_orphans(set(), timeout=5)


def run(argv: list[str] | None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("enrich", "analytics", "job"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="shrink every input (self-check only; not comparable)")
    args = ap.parse_args(argv)

    if not (REPO / "jimmy_spark").is_dir() or not (REPO / "jobs" / "spatial_job.py").is_file():
        print(f"perfbench: no engine sources next to {HERE}", file=sys.stderr)
        return 2
    if shutil.which("spark-submit") is None or shutil.which("taskset") is None:
        print("perfbench: spark-submit and taskset are required", file=sys.stderr)
        return 2
    t_start = time.monotonic()
    sys.path.insert(0, str(REPO))
    for d in ("tmp", "data", "runs", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    import tempfile

    tempfile.tempdir = str(WORK / "tmp")

    import datagen
    import hostprobe
    import oracles

    cpus = sorted(os.sched_getaffinity(0))
    if args.tiny:
        datagen.tiny()
    host = host_info(cpus)
    data = datagen.ensure(args.workload, args.seed, WORK / "data", len(cpus))
    expected = datagen.expected(data)
    run_dir = WORK / "runs" / f"{args.workload}{'-tiny' if args.tiny else ''}-s{args.seed}-t{args.trace}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    run_dir.mkdir(parents=True)

    probe = hostprobe.Probe(len(cpus))
    try:
        if args.workload == "job":
            if args.trace:
                # the traced pass (first run + rerun, event log on) goes first;
                # the untraced submission that gives the tracing overhead
                # follows when the run limit still leaves room for it
                trace_res = run_job(0, data, run_dir, cpus, t_start, True, probe)
                try:
                    res = run_job(0, data, run_dir, cpus, t_start, False, probe, reserve=15)
                except RunFailed as e:
                    print(f"perfbench: untraced submission skipped: {e}".splitlines()[0],
                          file=sys.stderr)
                    res = None
            else:
                res = trace_res = run_job(args.seconds, data, run_dir, cpus, t_start, False, probe)
            m = job_metrics(res or trace_res, expected["rows"])
            runs = [r for o in trace_res["ops"] + (res["ops"] if res and args.trace else [])
                    for k, r in o.items() if k in ("first", "rerun")]
            attempted = len(runs)
            first = runs[0]["summary"]
            fails = [oracles.fail("job.summary", "run summary differs between runs",
                                   json.dumps(r["summary"]))
                     for r in runs[1:] if r["summary"] != first]
            fails += oracles.check_job(trace_res["out"], data, WORK, first, expected)
        else:
            res = run_worker(args, data, run_dir, cpus, t_start, probe)
            phase = "untraced" if args.trace else "timed"
            m = worker_metrics(res, phase)
            attempted = len([e for e in res["events"] if e["kind"] == "op"]) + 1
            fails = check_worker_result(args, res, data, expected)
            trace_res = res
    except RunFailed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        probe.close()

    failed = min(len(fails), attempted)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "rows": expected["rows"],
        "samples": m["samples"], "op_walls": m["walls"], "probes": m["probes"],
        "setup_parts": m.get("setup_parts", {}), "raw": m["raw"], "end_to_end": m["norm"],
        "failures": fails, "attempted": attempted, "failed": failed,
    }
    print(f"perfbench {args.workload} seed={args.seed} rows={expected['rows']} "
          f"nproc={host['nproc']} cpu='{host['cpu_model']}' pyspark={host['pyspark']} "
          f"python={host['python']} java='{host['java']}'")
    norm = m["norm"]
    print(f"  end-to-end (tracing off, median of {m['samples']} operation(s)) at the reference "
          f"host speed; host probe median {statistics.median(m['probes']):.4f} s "
          f"vs nominal {hostprobe.NOMINAL_S} s:")
    for k, unit in END_TO_END.items():
        print(fmt_row(k, norm[k], unit, f"as measured: {m['raw'][k]:.6g}"))
    print(fmt_row("fail_rate", failed / attempted, "share", f"{failed}/{attempted}"))
    extra = {}
    if args.workload == "job" and args.trace:
        extra["rerun_s"] = trace_res["ops"][0]["rerun"]["wall_s"]
        print(fmt_row("rerun_s", extra["rerun_s"], "s", "same run id, traced pass"))
    elif args.workload == "analytics":
        for q, name in (("knn", "knn_s"), ("distjoin", "distjoin_s")):
            extra[name] = statistics.median(o["parts"][q] for o in m["ops"])
            print(fmt_row(name, extra[name], "s", f"{q} query alone"))
    record["workload_metrics"] = extra
    for f in fails:
        print(f"  FAILED {f['check']}: {f['cause']} ({f['detail']})")

    if args.trace:
        import trace

        layer = trace.build(args, res, trace_res, data, run_dir, m, host, expected)
        record["per_layer"] = layer["metrics"]
        print(layer["table"])
        metrics = {k: {"value": v, "unit": trace.UNITS[k]} for k, v in layer["metrics"].items()}
    else:
        metrics = {k: {"value": norm[k], "unit": u} for k, u in END_TO_END.items()}
    (run_dir / "result.json").write_text(json.dumps(record, indent=1, default=str))
    print(json.dumps({"correct": not fails, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
