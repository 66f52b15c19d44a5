"""Traced run: spans, per-layer metrics and the lanes x layers table.

Spans nest as ``workload -> operation -> SQL execution -> Spark job ->
stage``. The workload and operation spans come from the harness's own
clock; SQL executions, jobs and stages come from the Spark event log,
with each stage's task aggregates attached. Kernel-replay calls get spans
of their own. Spans are kept in memory and written once, to
``spans.json`` in the run directory.

Self time is a span's duration minus the part its children cover. The
lanes x layers table sums self time by layer. A stage's self time is
split by where its tasks spent their time: the share spent running Python
workers goes to the layer that owns the Python code (``fused`` for the
fused map, ``operators`` for other operators), the rest to ``spark``.
For the fused map, the Python share is split again: ``codecs`` gets the
kernel-replay decode cost of every cache miss, ``functions`` the replayed
vector-kernel cost of every row, and ``fused`` the rest (the per-row loop,
digest, cache and frame build).
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

import eventlog
import replay

LAYERS = ("session", "spark", "fused", "codecs", "functions", "operators",
          "checkpoint", "jobs", "harness")

JOB_OUTPUTS = ("enriched", "cell_counts", "tile_counts", "features", "scene_dups", "keep_best")

UNITS: dict[str, str] = {
    "session.setup_s": "s",
    "session.restart_s": "s",
    "fused.digest_us_per_row": "us/row",
    "fused.frame_us_per_row": "us/row",
    "fused.blob_hit_share": "share",
    "codecs.decode_us_per_blob": "us/blob",
    "codecs.png_us_per_blob": "us/blob",
    "codecs.jpeg_us_per_blob": "us/blob",
    "codecs.bmp_us_per_blob": "us/blob",
    "codecs.distinct_blob_share": "share",
    "functions.georef_us_per_row": "us/row",
    "functions.hexgrid_us_per_row": "us/row",
    "functions.s2_us_per_row": "us/row",
    "functions.tiles_us_per_row": "us/row",
    "functions.rtree_us_per_row": "us/row",
    "functions.raycast_us_per_row": "us/row",
    "functions.kernels_us_per_row": "us/row",
    "functions.pip_match_ratio": "ratio",
    "spark.py_run_s": "slot-s",
    "spark.py_start_s": "slot-s",
    "spark.py_sent_mb": "MB",
    "spark.py_returned_mb": "MB",
    "spark.scan_s": "slot-s",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.fetch_wait_s": "slot-s",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_s": "slot-s",
    "spark.jvm_cpu_s": "CPU-s",
    "spark.gc_s": "slot-s",
    "spark.slot_idle_share": "share",
    "spark.rows_per_s_1core": "rows/s",
    "spark.scale_eff": "ratio",
    "operators.rollup_s": "s",
    "operators.knn_s": "s",
    "operators.distjoin_s": "s",
    "operators.region_s": "s",
    "operators.rollup_groups": "count",
    "operators.knn_rows": "count",
    "operators.dist_pairs": "count",
    "operators.region_pairs": "count",
    "jobs.jvm_start_s": "s",
    "jobs.driver_s": "s",
    **{f"jobs.sql_{o}_s": "s" for o in JOB_OUTPUTS},
    "checkpoint.lineage_s": "s",
    "checkpoint.jobs_per_chunk": "count",
    "checkpoint.files_written": "count",
    "checkpoint.rerun_skipped_share": "share",
    "checkpoint.rerun_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_share": "share",
    "trace.child_cover_share": "share",
    "trace.op_sql_cover_share": "share",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
}

MB = 1024 * 1024


# --- span helpers -------------------------------------------------------------------


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    covered, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        covered += e - max(s, end)
        end = e
    return covered


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span id."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"]:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _union(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def add_app_spans(spans: replay.Spans, app: eventlog.App, parents: dict[int, str],
                  sql_layer) -> None:
    """SQL executions under ``parents[sql_id]``, their jobs, their stages."""
    for q in sorted(app.sql.values(), key=lambda q: q.start):
        if q.id not in parents:
            continue
        qid = spans.add(f"sql {q.id}: {app.output_dir(q.id) or q.desc[:60]}",
                        sql_layer(app, q), q.start, q.end, parents[q.id])
        for j in sorted((j for j in app.jobs.values() if j.sql_id == q.id), key=lambda j: j.start):
            jid = spans.add(f"job {j.id}", "spark", j.start, j.end, qid)
            for sid in j.stages:
                st = app.stages.get(sid)
                if st is None or not st.tasks:
                    continue  # skipped stage: its shuffle output was reused
                spans.add(f"stage {sid}", "spark", st.submit, st.complete, jid,
                          tasks=st.tasks, run_s=sum(st.run_ms) / 1000,
                          cpu_s=st.cpu_ns / 1e9, gc_s=st.gc_ms / 1000,
                          py_run_s=st.sql.get("py_run_ms", 0) / 1000,
                          shuffle_read_mb=st.shuffle_read_b / MB,
                          shuffle_write_mb=st.shuffle_write_b / MB,
                          spill_mb=st.spill_b / MB)


def spark_metrics(app: eventlog.App, sql_ids: set[int], wall: float, n_ops: int,
                  slots: int) -> dict[str, float]:
    """Event-log aggregates over the given SQL executions, per operation."""
    jobs = [j for j in app.jobs.values() if j.sql_id in sql_ids]
    stages = [app.stages[s] for j in jobs for s in j.stages if s in app.stages and app.stages[s].tasks]
    per = max(n_ops, 1)

    def tot(fn) -> float:
        return sum(fn(st) for st in stages) / per

    task_s = tot(lambda st: sum(st.run_ms)) / 1000
    skews = [
        max(st.run_ms) / max(statistics.median(st.run_ms), 1)
        for st in stages
        if st.shuffle_read_b and len(st.run_ms) >= 2
    ]
    return {
        "spark.py_run_s": tot(lambda st: st.sql.get("py_run_ms", 0)) / 1000,
        "spark.py_start_s": tot(lambda st: st.sql.get("py_start_ms", 0)) / 1000,
        "spark.py_sent_mb": tot(lambda st: st.sql.get("py_sent_b", 0)) / MB,
        "spark.py_returned_mb": tot(lambda st: st.sql.get("py_returned_b", 0)) / MB,
        "spark.scan_s": tot(lambda st: st.sql.get("scan_ms", 0)) / 1000,
        "spark.input_mb": tot(lambda st: st.input_b) / MB,
        "spark.output_mb": tot(lambda st: st.output_b) / MB,
        "spark.shuffle_write_mb": tot(lambda st: st.shuffle_write_b) / MB,
        "spark.shuffle_read_mb": tot(lambda st: st.shuffle_read_b) / MB,
        "spark.fetch_wait_s": tot(lambda st: st.fetch_wait_ms) / 1000,
        "spark.spill_mb": tot(lambda st: st.spill_b) / MB,
        "spark.task_skew": max(skews, default=0.0),
        "spark.jobs": len(jobs) / per,
        "spark.tasks": tot(lambda st: st.tasks),
        "spark.task_s": task_s,
        "spark.jvm_cpu_s": tot(lambda st: st.cpu_ns) / 1e9,
        "spark.gc_s": tot(lambda st: st.gc_ms) / 1000,
        "spark.slot_idle_share": max(0.0, 1 - task_s / (slots * wall)) if wall else 0.0,
    }


def layer_table(spans: list[dict], roots: list[str], py_layer,
                split_fused: dict[str, float]) -> dict[str, float]:
    """Self seconds per layer over the subtrees of ``roots``; a stage's
    self time is split by its task-time shares."""
    st = self_times(spans)
    parent = {s["id"]: s["parent"] for s in spans}

    def under_root(sid: str) -> bool:
        while sid is not None:
            if sid in roots:
                return True
            sid = parent[sid]
        return False

    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        if not under_root(s["id"]):
            continue
        t = st[s["id"]]
        a = s["attrs"]
        if s["name"].startswith("stage ") and a.get("run_s"):
            py = min(a.get("py_run_s", 0.0) / a["run_s"], 1.0) * t
            out["spark"] += t - py
            layer = py_layer(s)
            if layer == "fused" and split_fused:
                for k, share in split_fused.items():
                    out[k] += py * share
            else:
                out[layer] += py
        else:
            out[s["layer"]] += t
    return out


def fused_split(m: dict, rows: int, py_s: float) -> dict[str, float]:
    """Shares of the fused map's Python time (``py_s`` slot-seconds for
    ``rows`` rows) by layer: kernel-replay costs for decode misses and the
    vector kernels; the rest is the per-row loop, digest and frame build."""
    if py_s <= 0:
        return {}
    codecs = rows * (1 - m["fused.blob_hit_share"]) * m["codecs.decode_us_per_blob"] / 1e6
    functions = rows * m["functions.kernels_us_per_row"] / 1e6
    codecs, functions = min(codecs / py_s, 1.0), min(functions / py_s, 1.0)
    return {"codecs": codecs, "functions": functions,
            "fused": max(0.0, 1.0 - codecs - functions)}


# --- worker workloads -------------------------------------------------------------


def build_worker(args, res: dict, data: Path, run_dir: Path, m: dict, spans: replay.Spans,
                 metrics: dict) -> tuple[str, object]:
    ev = res["events"]
    t_spawn = res["t_spawn"]
    done = next(e for e in ev if e["kind"] == "done")
    root = spans.add(f"workload {args.workload}", "harness", t_spawn, done["t"], None)
    readies = [e for e in ev if e["kind"] == "ready"]
    lane = [spans.add("session start + warm-up", "session", t_spawn, readies[0]["t"], root)]
    metrics["session.setup_s"] = readies[0]["t"] - t_spawn
    restarts = []
    # a phase ends at its 'peak' event; the next session starts there
    peaks = [e for e in ev if e["kind"] == "peak"]
    for prev, nxt in zip(peaks, readies[1:]):
        rid = spans.add(f"session restart ({nxt['phase']})", "session", prev["t"], nxt["t"], root)
        if nxt["phase"] == "traced":
            lane.append(rid)
        restarts.append(nxt["t"] - prev["t"])
    metrics["session.restart_s"] = statistics.median(restarts) if restarts else 0.0
    op_layer = "fused" if args.workload == "enrich" else "operators"
    by_key: dict[str, str] = {}
    last_end = {}
    for e in ev:
        if e["kind"] != "op":
            continue
        end = e["start"] + e["wall_s"]
        if e["probe_s"]:
            spans.add("host probe", "harness", e["probe_t0"], e["start"], root)
        sid = spans.add(f"{e['phase']} op{e['n']}", op_layer, e["start"], end, root)
        by_key[f"{e['phase']}:op{e['n']}"] = sid
        if e["phase"] == "traced":
            lane.append(sid)
        last_end[e["phase"]] = end
        t = e["start"]
        for q, dt in e.get("parts", {}).items():
            by_key[f"{e['phase']}:op{e['n']}/{q}"] = spans.add(
                f"{q}", "operators", t, t + dt, sid)
            t += dt
    for p in peaks:
        if p["phase"] in last_end:
            spans.add(f"{p['phase']} end (checks, peak RSS)", "harness",
                      last_end[p["phase"]], p["t"], root)

    apps = {}
    for d in eventlog.find_logs(run_dir / "events"):
        app = eventlog.parse(d)
        apps[app.app_id] = app
    traced_ready = next(e for e in readies if e["phase"] == "traced")
    app = apps[traced_ready["app_id"]]
    parents = {q.id: by_key[q.desc] for q in app.sql.values() if q.desc in by_key}
    add_app_spans(spans, app, parents, lambda a, q: "spark")
    traced_ops = [e for e in ev if e["kind"] == "op" and e["phase"] == "traced"]
    wall = statistics.median(e["wall_s"] for e in traced_ops)
    op_sql = {q.id for q in app.sql.values() if q.desc.startswith("traced:op")}
    metrics.update(spark_metrics(app, op_sql, wall, len(traced_ops), app.cores or m["cores"]))
    untraced = statistics.median(
        e["wall_s"] for e in ev if e["kind"] == "op" and e["phase"] == "untraced")
    metrics["trace.overhead_s"] = wall - untraced
    metrics["trace.overhead_share"] = (wall - untraced) / untraced
    op_time = sum(e["wall_s"] for e in traced_ops)
    metrics["trace.op_sql_cover_share"] = sum(
        _union([(app.sql[i].start, app.sql[i].end) for i in op_sql],
               e["start"], e["start"] + e["wall_s"]) for e in traced_ops) / op_time

    if args.workload == "enrich":
        one = [e for e in ev if e["kind"] == "op" and e["phase"] == "onecore"]
        rows = one[0]["rows"]
        r1 = rows / statistics.median(e["wall_s"] for e in one)
        metrics["spark.rows_per_s_1core"] = r1
        metrics["spark.scale_eff"] = (rows / wall) / (m["cores"] * r1)
    else:
        for q in ("rollup", "knn", "distjoin", "region"):
            metrics[f"operators.{q}_s"] = statistics.median(e["parts"][q] for e in traced_ops)
        c = traced_ops[0]["counts"]
        metrics["operators.rollup_groups"] = float(sum(c["rollup"]))
        metrics["operators.knn_rows"] = float(c["knn"][0])
        metrics["operators.dist_pairs"] = float(c["distjoin"][0])
        metrics["operators.region_pairs"] = float(c["region"][0])
    fused_py = metrics["spark.py_run_s"] if args.workload == "enrich" else 0.0
    return root, {args.workload: lane}, (lambda s: op_layer), fused_py


# --- job ----------------------------------------------------------------------------


def _job_sql_layer(app: eventlog.App, q: eventlog.SqlExec) -> str:
    if "checkpoint.py" in q.desc or app.output_dir(q.id).endswith("/enriched"):
        return "checkpoint"
    return "spark"


def build_job(args, res: dict, trace_res: dict, data: Path, run_dir: Path, m: dict,
              spans: replay.Spans, metrics: dict) -> tuple[str, object]:
    op = trace_res["ops"][0]
    first, rerun = op["first"], op["rerun"]
    untraced = res["ops"][0]["first"] if res else None
    end = untraced["start"] + untraced["wall_s"] if untraced else rerun["start"] + rerun["wall_s"]
    root = spans.add("workload job", "harness", first["start"], end, None)
    if untraced:
        spans.add("submit (untraced)", "jobs", untraced["start"], end, root)
    apps = sorted((eventlog.parse(d) for d in eventlog.find_logs(run_dir / "events")),
                  key=lambda a: a.start)
    a_first, a_rerun = apps[0], apps[-1]
    py_layer_of: dict[str, str] = {}
    lanes = {}
    for tag, sub, app in (("first", first, a_first), ("rerun", rerun, a_rerun)):
        sid = spans.add(f"submit ({tag}, traced)", "jobs", sub["start"],
                        sub["start"] + sub["wall_s"], root)
        lanes["job" if tag == "first" else "job-rerun"] = [sid]
        spans.add("JVM + SparkContext start", "session", sub["start"], app.start, sid)
        add_app_spans(spans, app, {q: sid for q in app.sql}, _job_sql_layer)
    for s in spans.items:
        if s["name"].startswith("sql "):
            name = s["name"]
            py_layer_of[s["id"]] = (
                "fused" if name.endswith("/enriched")
                else "codecs" if name.endswith("/features") else "operators")

    metrics["jobs.jvm_start_s"] = a_first.start - first["start"]
    metrics["session.setup_s"] = metrics["jobs.jvm_start_s"]
    for o in JOB_OUTPUTS:
        metrics[f"jobs.sql_{o}_s"] = sum(
            q.end - q.start for q in a_first.sql.values()
            if a_first.output_dir(q.id).endswith(f"/{o}"))
    sql_ids = set(a_first.sql)
    covered = _union([(q.start, q.end) for q in a_first.sql.values()],
                     first["start"], first["start"] + first["wall_s"])
    metrics["jobs.driver_s"] = first["wall_s"] - metrics["jobs.jvm_start_s"] - covered
    metrics["trace.op_sql_cover_share"] = covered / first["wall_s"]
    metrics.update(spark_metrics(a_first, sql_ids, first["wall_s"], 1, a_first.cores or m["cores"]))
    if untraced:  # else no room was left for it: the overhead reads 0
        metrics["trace.overhead_s"] = first["wall_s"] - untraced["wall_s"]
        metrics["trace.overhead_share"] = metrics["trace.overhead_s"] / untraced["wall_s"]

    # checkpoint layer: the lineage jobs run before the first downstream write
    cell = [q.start for q in a_first.sql.values() if a_first.output_dir(q.id).endswith("/cell_counts")]
    stage_sql = [q for q in a_first.sql.values() if q.start < min(cell, default=float("inf"))]
    metrics["checkpoint.jobs_per_chunk"] = float(
        sum(1 for j in a_first.jobs.values() if j.sql_id in {q.id for q in stage_sql}))
    metrics["checkpoint.lineage_s"] = sum(
        q.end - q.start for q in a_first.sql.values() if "checkpoint.py" in q.desc)
    out = trace_res["out"]
    metrics["checkpoint.files_written"] = float(
        sum(1 for p in (out / "enriched").rglob("*.parquet")))
    commits = list((trace_res["cp"] / "bench" / "metrics").glob("*.parquet"))
    # the rerun commits nothing new when every bucket was already committed
    import pyarrow.parquet as pq

    committed = sum(pq.read_metadata(p).num_rows for p in commits)
    n_buckets = m["cores"]
    metrics["checkpoint.rerun_skipped_share"] = 1.0 - (committed - n_buckets) / n_buckets
    metrics["checkpoint.rerun_s"] = rerun["wall_s"]

    fused_py = sum(
        a_first.stages[sid].sql.get("py_run_ms", 0) / 1000
        for q in a_first.sql.values() if a_first.output_dir(q.id).endswith("/enriched")
        for j in a_first.jobs.values() if j.sql_id == q.id
        for sid in j.stages if sid in a_first.stages)

    def py_layer(stage_span: dict) -> str:
        p = stage_span["parent"]
        while p is not None and p not in py_layer_of:
            p = next(s["parent"] for s in spans.items if s["id"] == p)
        return py_layer_of.get(p, "operators")

    return root, lanes, py_layer, fused_py


# --- entry ----------------------------------------------------------------------------


def build(args, res: dict, trace_res: dict, data: Path, run_dir: Path, m: dict, host: dict,
          expected: dict) -> dict:
    metrics = {k: 0.0 for k in UNITS}
    spans = replay.Spans()
    m = dict(m, cores=host["nproc"])
    if args.workload == "job":
        root, lanes, py_layer, fused_py = build_job(args, res, trace_res, data, run_dir, m, spans, metrics)
    else:
        root, lanes, py_layer, fused_py = build_worker(args, res, data, run_dir, m, spans, metrics)

    if args.workload in ("enrich", "job"):
        import time

        t0 = time.time()
        rid = spans.add("kernel replay", "harness", t0, t0, root)
        metrics.update(replay.replay(data, spans, rid))
        t1 = time.time()
        for s in spans.items:
            if s["id"] == rid:
                s["end"] = t1
            if s["id"] == root:
                s["end"] = max(s["end"], t1)
    split = fused_split(metrics, expected["rows"], fused_py) if args.workload != "analytics" else {}
    root_span = next(s for s in spans.items if s["id"] == root)
    dur = root_span["end"] - root_span["start"]
    children = [(s["start"], s["end"]) for s in spans.items if s["parent"] == root]
    metrics["trace.child_cover_share"] = _union(children, root_span["start"], root_span["end"]) / dur
    by_id = {s["id"]: s for s in spans.items}
    tables = {}
    for name, roots in lanes.items():
        table = layer_table(spans.items, roots, py_layer, split)
        wall = sum(by_id[r]["end"] - by_id[r]["start"] for r in roots)
        tables[name] = {"table": table, "wall": wall}
    for layer, v in tables[next(iter(lanes))]["table"].items():
        metrics[f"self.{layer}_s"] = v

    (run_dir / "spans.json").write_text(json.dumps(spans.items))
    lanes_dir = run_dir.parent / ("lanes-tiny" if args.tiny else "lanes")
    return {"metrics": metrics, "table": _render(_merge_lanes(lanes_dir, tables), metrics)}


def _merge_lanes(runs: Path, tables: dict) -> dict:
    """This run's lanes plus the latest traced lanes of other workloads."""
    runs.mkdir(exist_ok=True)
    for name, lane in tables.items():
        (runs / f"lane-{name}.json").write_text(json.dumps(lane))
    return {p.stem[5:]: json.loads(p.read_text()) for p in sorted(runs.glob("lane-*.json"))}


def _render(lanes: dict, metrics: dict) -> str:
    head = f"  {'lane':<10}{'wall s':>9}" + "".join(f"{layer:>11}" for layer in LAYERS)
    lines = ["  self seconds by layer in one traced operation plus its session start",
             "  (stage time split by task-time shares):", head]
    for name, lane in lanes.items():
        lines.append(f"  {name:<10}{lane['wall']:>9.2f}" +
                     "".join(f"{lane['table'][layer]:>11.2f}" for layer in LAYERS))
    lines.append("  per-layer metrics:")
    for k, v in metrics.items():
        lines.append(f"    {k:<36}{v:>14.6g} {UNITS[k]}")
    return "\n".join(lines)
