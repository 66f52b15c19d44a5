"""Structured-Streaming twin of the spatial hot path: continuous ingest.

North_rule ties the engine to "resumes idempotently mid-tier"; the batch
side is streaming/checkpoint.py's bucket-committed StageRunner. This module
is the §2.9 continuous-arrival twin: at 10^12-image scale the images table
is never "done" — new partitions land while the job runs. Here new parquet
files under the source directory arrive as micro-batches through a file
stream, flow through the SAME fused spatial kernel as the batch job
(operators/fused.py — decode -> georef -> hex/S2 cells -> XYZ tiles ->
broadcast R-tree PIP, one Arrow crossing, zero shuffle, so the streaming
plan is stateless and append-only), and land in a parquet file sink whose
``_spark_metadata`` transaction log gives exactly-once file commits across
restarts (Spark's own sink guarantee — the streaming analogue of the
StageRunner's write-then-commit rows).

Reference analogue: jimmy converts one export at a time and re-running is
safe by idempotent naming (common.py:171-202); here re-running the stream
is safe by source offsets + sink log.

Trigger discipline: ``availableNow`` processes everything currently in the
source then stops — the deployment shape for incremental backfill ("drain
what has arrived, exit, resume later"), and what the tests drive. A
production continuous deployment drops the trigger for micro-batching.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from jimmy_spark.operators import fused
from jimmy_spark.sources.images import IMAGES_SCHEMA


def spatial_ingest_stream(
    spark: SparkSession,
    images_dir: str,
    polygons: pd.DataFrame,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming DataFrame: fused spatial enrichment over arriving files.

    The fused stage is stateless (mapInArrow + closure-broadcast R-tree),
    so it composes with a streaming source unchanged — one definition
    serves batch job, bench, and stream (no semantic twin to drift).
    """
    reader = spark.readStream.schema(IMAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    images = reader.parquet(images_dir)
    return fused.fused_spatial_stage(images, polygons)


def run_spatial_ingest(
    spark: SparkSession,
    images_dir: str,
    polygons: pd.DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain everything currently in ``images_dir`` into the parquet sink,
    exactly-once across restarts (source offsets in ``checkpoint_dir``,
    file commits in the sink's ``_spark_metadata`` log), then return.

    Calling again after more files arrive processes ONLY the new files;
    calling again with nothing new is a no-op — both are the idempotent
    resume semantics of the batch StageRunner, inherited from Spark's
    source/sink logs instead of a hand-kept bucket table.
    """
    enriched = spatial_ingest_stream(
        spark, images_dir, polygons, max_files_per_trigger
    )
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


POINTS_SCHEMA = "image_id string, lat_e7 long, lon_e7 long"


def run_proximity_stream(
    spark: SparkSession,
    points_dir: str,
    d: int,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Continuous within-distance pair maintenance: as point files arrive,
    emit exactly the NEW pairs (new x new ∪ new x old) via
    ``distance_join_grid_incremental`` — after any number of batches the
    union of emitted pairs equals the batch ``distance_join_grid`` over
    all points, each pair exactly once. Old x old mass is never
    recomputed: per-batch work is proportional to the new points' own
    neighborhoods (the streaming analogue of the grid join's
    output-proportional candidate bound).

    Exactly-once across restarts WITHOUT a sink transaction log:
    ``foreachBatch`` is at-least-once, so both writes are keyed by the
    deterministic batch id and use overwrite — a replayed batch (same
    source offsets -> same rows) overwrites itself byte-identically:

    - ``<out_dir>/b=<id>``   new pairs of this batch
    - ``<state_dir>/b=<id>`` this batch's points (the OLD side of later
      batches; a replayed batch reads only ids < its own, so its own
      half-written state never leaks into its OLD side)

    Reference analogue: jimmy's idempotent re-run naming
    (common.py:171-202) — here idempotence comes from source offsets +
    deterministic batch-keyed overwrite. Long streams accumulate one dir
    per batch in both families; ``compact_pair_stream_state`` folds them
    into one dir each between drained runs (observationally a no-op).
    """
    from jimmy_spark.operators.distjoin import distance_join_grid_incremental

    def _process(batch_df, batch_id: int) -> None:
        pts = batch_df.select("image_id", "lat_e7", "lon_e7")
        older = _curation_ids(state_dir, below=batch_id)  # repairs swaps
        if older:
            old = spark.read.parquet(*[f"{state_dir}/b={i}" for i in older])
        else:
            old = spark.createDataFrame([], POINTS_SCHEMA)
        pairs = distance_join_grid_incremental(pts, old, d=d)
        pairs.write.mode("overwrite").parquet(f"{out_dir}/b={batch_id}")
        pts.write.mode("overwrite").parquet(f"{state_dir}/b={batch_id}")

    reader = spark.readStream.schema(POINTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(points_dir)
    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


SCENE_SCHEMA = "image_id string, lat_e7 long, lon_e7 long, ahash long"


def run_scene_dup_stream(
    spark: SparkSession,
    points_dir: str,
    d: int,
    threshold: int,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Continuous scene near-dup maintenance (the geo x image fusion lane,
    streaming): as georeferenced+hashed image files arrive, emit exactly
    the NEW pairs within distance ``d`` AND within ``threshold`` Hamming
    bits on the content hash, via
    ``imagedup.scene_dup_pairs_incremental`` — after any number of
    batches the union of emitted pairs equals the batch
    ``scene_dup_pairs`` over all images, each pair exactly once.

    State/idempotence discipline is ``run_proximity_stream``'s verbatim
    (batch-id-keyed overwrite, replays read only older state,
    ``compact_pair_stream_state`` between drained runs); like that
    stream — and unlike the tau-bounded contact stream — every old image
    stays relevant forever (a new shot can near-dup any historical one),
    so state is the full point+hash set, 28 bytes/row.
    """
    from jimmy_spark.operators.imagedup import scene_dup_pairs_incremental

    def _process(batch_df, batch_id: int) -> None:
        pts = batch_df.select("image_id", "lat_e7", "lon_e7", "ahash")
        older = _curation_ids(state_dir, below=batch_id)  # repairs swaps
        if older:
            old = spark.read.parquet(*[f"{state_dir}/b={i}" for i in older])
        else:
            old = spark.createDataFrame([], SCENE_SCHEMA)
        pairs = scene_dup_pairs_incremental(pts, old, d=d, threshold=threshold)
        pairs.write.mode("overwrite").parquet(f"{out_dir}/b={batch_id}")
        pts.write.mode("overwrite").parquet(f"{state_dir}/b={batch_id}")

    reader = spark.readStream.schema(SCENE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(points_dir)
    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


CURATE_SCHEMA = (
    "image_id string, lat_e7 long, lon_e7 long, ahash long, "
    "sharp_e3 long, clip_e3 long"
)


def _curation_ids(out_dir: str, below: int | None = None) -> list[int]:
    import os

    from jimmy_spark.streaming.raster import _recover_compact

    if not os.path.isdir(out_dir):
        return []
    _recover_compact(out_dir)  # complete any interrupted compaction swap
    ids = [
        int(e.split("=", 1)[1])
        for e in os.listdir(out_dir)
        if e.startswith("b=")
    ]
    if below is not None:
        ids = [i for i in ids if i < below]
    return sorted(ids)


def _fold_curation(spark: SparkSession, out_dir: str, ids: list[int]):
    """Latest row per image across the given batch dirs — each batch
    writes labels only for the components its pair delta touched (the
    dirty-group discipline of the quantile/heat-tile/hull lanes), so
    the highest batch id per image owns its current label."""
    from pyspark.sql import Window

    if not ids:
        return None
    df = spark.read.option("basePath", out_dir).parquet(
        *[f"{out_dir}/b={i}" for i in ids]
    )
    w = Window.partitionBy("image_id").orderBy(F.col("b").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_rn", "b")
    )


def latest_curation(spark: SparkSession, out_dir: str):
    """The current COMPLETE keep-best curation table (folded across the
    dirty-component batch dirs), or None before the first batch."""
    return _fold_curation(spark, out_dir, _curation_ids(out_dir))


def run_keep_best_stream(
    spark: SparkSession,
    points_dir: str,
    d: int,
    threshold: int,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    num_id_sql: str = "CAST(image_id AS BIGINT)",
    max_files_per_trigger: int | None = None,
) -> None:
    """Continuous keep-best curation maintenance: as new shots arrive,
    ``latest_curation`` (latest row per image across ``<out_dir>/b=<id>``
    dirs) is the COMPLETE (image_id, cluster_id, keep) curation over
    every image seen so far — equal to the batch
    ``imagedup.scene_dedup_keep_best`` over all points, exactly.
    A sharper late arrival near an existing scene group takes the keep
    flag over (and merged groups re-elect).

    Incrementality lives at BOTH ends of the quadratic risk (r6): per
    batch only the new x (new ∪ old) pair DELTA is computed (the
    incremental grid join; union of deltas == the batch pair set, each
    pair once) — old x old candidate mass is never regenerated — and the
    grouping + argmax half re-runs ONLY over components the delta
    touches (dirty = previous clusters containing a delta endpoint, plus
    the new points; the dirty node set is edge-closed, so the restricted
    CC equals the full run on those nodes). Untouched components'
    committed labels are never rewritten — per-batch cost tracks the
    delta, not stream lifetime (the r5 full-refresh was VERDICT #3's
    remaining streaming scale-killer).

    State under ``state_dir``: ``points/b=<id>`` (the batch's quality-
    carrying points — the incremental join's old side) and
    ``edges/b=<id>`` (that batch's pair delta in numeric-id space).
    Idempotence discipline is ``run_proximity_stream``'s: every write is
    keyed by the deterministic batch id and overwrites; a replayed batch
    reads only state strictly below its own id and recomputes its delta
    and output byte-identically. Long streams accumulate one dir per
    batch in all three families; ``compact_keep_best_state`` folds them
    into one dir each between drained runs (observationally a no-op).
    """
    import os

    from jimmy_spark.operators.imagedup import (
        keep_best_from_pairs,
        scene_dup_pairs_incremental,
    )
    from jimmy_spark.streaming.raster import _recover_compact

    pts_dir = f"{state_dir}/points"
    edge_dir = f"{state_dir}/edges"

    def _older(dir_: str, batch_id: int) -> list[str]:
        if not os.path.isdir(dir_):
            return []
        _recover_compact(dir_)  # complete any interrupted compaction swap
        return [
            f"{dir_}/b={i}"
            for i in sorted(
                int(e.split("=", 1)[1])
                for e in os.listdir(dir_)
                if e.startswith("b=") and int(e.split("=", 1)[1]) < batch_id
            )
        ]

    def _process(batch_df, batch_id: int) -> None:
        nid = F.expr(num_id_sql).alias("_nid")
        pts = batch_df.select(
            "image_id", "lat_e7", "lon_e7", "ahash", "sharp_e3", "clip_e3"
        )
        older_pts = _older(pts_dir, batch_id)
        old = (
            spark.read.parquet(*older_pts)
            if older_pts
            else spark.createDataFrame([], CURATE_SCHEMA)
        )
        delta = scene_dup_pairs_incremental(
            pts.select("image_id", nid, "lat_e7", "lon_e7", "ahash"),
            old.select("image_id", nid, "lat_e7", "lon_e7", "ahash"),
            d=d,
            threshold=threshold,
            id_col="_nid",
        ).select("a_id", "b_id")
        delta.write.mode("overwrite").parquet(f"{edge_dir}/b={batch_id}")

        older_edges = _older(edge_dir, batch_id)
        edges = spark.read.parquet(f"{edge_dir}/b={batch_id}", *older_edges)
        base = old.unionByName(pts).select(
            "image_id", nid, "sharp_e3", "clip_e3"
        )
        # DIRTY-COMPONENT restriction (r6, VERDICT #3 — the quantile/
        # heat-tile/hull lanes' dirty-group discipline): only components
        # the batch's pair delta can touch need re-grouping/re-election.
        # A previous cluster is dirty iff it contains a delta endpoint
        # (new edges all touch new nodes, so every old cluster in a
        # merge chain is hit by some delta edge directly — no transitive
        # closure needed); dirty nodes = those clusters' members plus
        # the batch's new points. The dirty node set is closed under the
        # accumulated edge set (old edges stay inside their cluster), so
        # CC over the restricted subgraph equals the full run restricted
        # to dirty nodes, and untouched rows keep their committed labels
        # (latest_curation folds latest-per-image across batch dirs).
        prev = _fold_curation(
            spark, out_dir, _curation_ids(out_dir, below=batch_id)
        )
        if prev is None:
            labels = keep_best_from_pairs(base, edges)
        else:
            delta_committed = spark.read.parquet(f"{edge_dir}/b={batch_id}")
            seeds = (
                delta_committed.select(F.col("a_id").alias("_nid"))
                .unionByName(delta_committed.select(F.col("b_id").alias("_nid")))
                .distinct()
            )
            prev_n = prev.join(base.select("image_id", "_nid"), "image_id")
            dirty_clusters = (
                prev_n.join(seeds, "_nid").select("cluster_id").distinct()
            )
            dirty_prev = prev_n.join(dirty_clusters, "cluster_id").select(
                "image_id", "_nid"
            )
            dirty_nodes = dirty_prev.unionByName(pts.select("image_id", nid))
            base_dirty = base.join(
                dirty_nodes.select("image_id"), "image_id", "left_semi"
            )
            edges_dirty = edges.join(
                dirty_nodes.select(F.col("_nid").alias("a_id")),
                "a_id",
                "left_semi",
            )
            labels = keep_best_from_pairs(base_dirty, edges_dirty)
        labels.write.mode("overwrite").parquet(f"{out_dir}/b={batch_id}")
        pts.write.mode("overwrite").parquet(f"{pts_dir}/b={batch_id}")

    reader = spark.readStream.schema(CURATE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(points_dir)
    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def compact_keep_best_state(
    spark: SparkSession, out_dir: str, state_dir: str
) -> None:
    """Fold the keep-best stream's accumulated batch dirs into single
    dirs (id = highest existing batch): labels to latest-per-image (the
    ``latest_curation`` fold), points and edges to their exact row
    union (each point/pair is written once, at its arrival batch, so
    the union IS the state). Observationally a no-op for
    ``latest_curation`` and for the next drain's state reads; bounds the
    per-batch read fan-in for long-lived streams — without it the
    edge/point dir count grows with stream lifetime (the heat-tile
    lane's ``compact_state`` discipline: same crash-safe tombstone swap,
    same ``_recover_compact`` read-side repair). Call between drained
    runs only — never between a crash and its restart, where the
    checkpoint may replay the highest batch id against state folded
    INTO that id."""
    from jimmy_spark.streaming.raster import _promote_compact

    ids = _curation_ids(out_dir)  # also completes any interrupted swap
    if len(ids) > 1:
        cur = _fold_curation(spark, out_dir, ids)
        cur.write.mode("overwrite").parquet(f"{out_dir}/_compact")
        _promote_compact(out_dir, ids)
    for sub in ("points", "edges"):
        _compact_union_dir(spark, f"{state_dir}/{sub}")


def _compact_union_dir(spark: SparkSession, dir_: str) -> None:
    """Fold a union-semantics ``b=<id>`` dir family (each row written
    once, at its arrival batch; state = the exact row union) into one
    dir at the highest existing id, with the shared crash-safe swap."""
    from jimmy_spark.streaming.raster import _promote_compact

    ids = _curation_ids(dir_)  # also completes any interrupted swap
    if len(ids) > 1:
        rows = spark.read.parquet(*[f"{dir_}/b={i}" for i in ids])
        rows.write.mode("overwrite").parquet(f"{dir_}/_compact")
        _promote_compact(dir_, ids)


def compact_pair_stream_state(
    spark: SparkSession, out_dir: str, state_dir: str
) -> None:
    """Compaction for ``run_proximity_stream`` / ``run_scene_dup_stream``:
    both families are union folds — ``out_dir`` is the emitted-pair log
    (each pair exactly once across the stream), ``state_dir`` the
    accumulated points. Observationally a no-op for pair readers (they
    glob ``b=*``) and for the next drain's OLD side; bounds the
    per-batch read fan-in. Same contract as ``compact_keep_best_state``:
    call between drained runs only."""
    _compact_union_dir(spark, out_dir)
    _compact_union_dir(spark, state_dir)


PINGS_SCHEMA = "entity_id long, seq long, ts timestamp, lat_e7 long, lon_e7 long"


def retained_state_batches(state_dir: str, batch_id: int, cutoff_ep: int):
    """Older state batches that can still contact the current batch:
    ids < ``batch_id`` whose recorded max event time is >= ``cutoff_ep``
    (current batch's min event time - tau). Deterministic given the same
    source offsets, so replays read identical state. Returns (paths,
    skipped_count) — the skip count is what makes state BOUNDED: at a
    steady event-time rate the retained set is O(tau / batch-span)
    batches, independent of stream lifetime."""
    import json
    import os

    if not os.path.isdir(state_dir):
        return [], 0
    keep, skipped = [], 0
    for e in sorted(os.listdir(state_dir)):
        if not e.startswith("b="):
            continue
        bid = int(e.split("=", 1)[1])
        if bid >= batch_id:
            continue
        meta_path = os.path.join(state_dir, e, "_max_ts.json")
        try:
            with open(meta_path) as f:
                max_ep = json.load(f)["max_ep"]
        except Exception:
            max_ep = None  # unreadable meta: keep (correctness first)
        if max_ep is not None and max_ep < cutoff_ep:
            skipped += 1
            continue
        keep.append(os.path.join(state_dir, e))
    return keep, skipped


def run_contact_stream(
    spark: SparkSession,
    pings_dir: str,
    d: int,
    tau: int,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Continuous spatio-temporal contact maintenance: as ping files
    arrive, emit exactly the NEW contacts (new x new ∪ new x old) via
    ``stjoin.contact_join_incremental`` — after any number of batches the
    union of emitted contacts equals the batch ``contact_join`` over all
    pings, each pair exactly once.

    BOUNDED STATE — the improvement over ``run_proximity_stream`` (whose
    static points stay relevant forever): a contact needs |Δt| <= tau, so
    an old ping whose event time is more than tau below the current
    batch's minimum can never pair with it or anything later, PROVIDED
    event time is non-decreasing across batches (the file-source contract
    here; an out-of-order feed would set the cutoff from a watermark
    rather than the batch minimum — same pruning, extra slack). Each
    state batch records its max event time; ``retained_state_batches``
    skips expired ones, so per-batch reads are O(tau / batch-span)
    regardless of stream lifetime.

    Exactly-once across restarts by the proximity stream's discipline:
    ``foreachBatch`` is at-least-once, both writes are keyed by the
    deterministic batch id and overwrite — a replayed batch rewrites
    itself byte-identically and reads only state ids < its own.
    """
    import json
    import os

    from jimmy_spark.operators.stjoin import contact_join_incremental

    def _process(batch_df, batch_id: int) -> None:
        pings = batch_df.select("entity_id", "seq", "ts", "lat_e7", "lon_e7")
        bounds = pings.selectExpr(
            "min(cast(cast(ts as timestamp_ltz) as long)) AS lo",
            "max(cast(cast(ts as timestamp_ltz) as long)) AS hi",
        ).first()
        if bounds["lo"] is None:
            return  # empty batch: nothing to emit, no state to record
        keep, _ = retained_state_batches(
            state_dir, batch_id, int(bounds["lo"]) - int(tau)
        )
        if keep:
            old = spark.read.parquet(*keep)
        else:
            old = spark.createDataFrame([], PINGS_SCHEMA)
        delta = contact_join_incremental(pings, old, d=d, tau=tau)
        delta.write.mode("overwrite").parquet(f"{out_dir}/b={batch_id}")
        pings.write.mode("overwrite").parquet(f"{state_dir}/b={batch_id}")
        with open(f"{state_dir}/b={batch_id}/_max_ts.json", "w") as f:
            json.dump({"max_ep": int(bounds["hi"])}, f)

    reader = spark.readStream.schema(PINGS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(pings_dir)
    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
