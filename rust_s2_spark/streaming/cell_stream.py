"""Structured-Streaming cell assignment + windowed hypertable rollups.

The cell-id kernels are stateless pandas UDFs, so the same column
functions used in batch drive ``readStream`` pipelines unchanged
(SURVEY.md §2.9). The rollup is the streaming twin of the batch
tile-aggregation: event-time window × parent cell, with a watermark
for late data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import s2_biased, s2_cell_from_latlng, s2_parent
from ..plans.frames import local_frame


def assign_cells(
    stream: DataFrame,
    lat_col: str = "lat",
    lng_col: str = "lng",
    partition_level: int = 5,
) -> DataFrame:
    """Add cell_id / cell_id_biased / parentN columns to a stream.

    Works identically on batch and streaming DataFrames (the UDF is
    stateless and Arrow-batched).
    """
    out = stream.withColumn("cell_id", s2_cell_from_latlng(lat_col, lng_col))
    return out.withColumn("cell_id_biased", s2_biased("cell_id")).withColumn(
        f"parent{partition_level}", s2_parent("cell_id", partition_level)
    )


def streaming_first_seen(
    stream: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    watermark: str = "2 hours",
    state_ttl_hours: float | None = None,
) -> DataFrame:
    """Custom stateful operator: emit only the FIRST occurrence of each
    key (streaming exact-dedup — e.g. key = phash or md5(text)) via
    applyInPandasWithState.

    State per key is one timestamp (first_seen). At 100 TB-of-stream
    scale the state store is partitioned by key hash across executors;
    optional TTL bounds it for unbounded key spaces (keys recurring
    after the TTL re-emit — the contract is at-most-once per TTL
    window, which is what training-data ingest dedup needs).

    ⚠ With a TTL set, use a processingTime trigger: availableNow never
    terminates once ProcessingTimeTimeout is armed (the engine keeps
    scheduling state-cleanup batches — observed on Spark 4.1; pinned by
    tests/test_streaming_tiles_lineage.py::test_streaming_first_seen_ttl_expiry,
    which also covers the hasTimedOut expiry/re-emit path).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("key", LongType()),
            StructField("first_ts", TimestampType()),
            StructField("n_dups_in_batch", LongType()),
        ]
    )
    state_schema = StructType([StructField("seen", LongType())])

    ttl_ms = int(state_ttl_hours * 3_600_000) if state_ttl_hours else None

    def dedup_fn(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()  # TTL expiry: forget the key
            return iter(())
        n = 0
        first_ts = None
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            batch_min = pdf[ts_col].min()
            if first_ts is None or batch_min < first_ts:
                first_ts = batch_min
        if n == 0:
            return iter(())
        if state.exists:
            # already emitted once — swallow duplicates
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            return iter(())
        state.update((1,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        return iter(
            [pd.DataFrame({"key": [key[0]], "first_ts": [first_ts], "n_dups_in_batch": [n]})]
        )

    marked = stream.withWatermark(ts_col, watermark)
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return marked.groupBy(key_col).applyInPandasWithState(
        dedup_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )


def windowed_cell_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    agg_level: int = 6,
    value_col: str | None = "value",
) -> DataFrame:
    """Event-time windowed counts (and value sums) per cell at
    ``agg_level`` — the streaming hypertable rollup. Late rows beyond
    the watermark are dropped; state is bounded by (windows × cells)."""
    withmark = stream.withWatermark(ts_col, watermark)
    aggs = [F.count("*").alias("n")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("value_sum"))
    return withmark.groupBy(
        F.window(F.col(ts_col), window).alias("w"),
        s2_parent("cell_id", agg_level).alias("cell"),
    ).agg(*aggs)


def streaming_region_rollup(
    spark,
    stream: DataFrame,
    regions: list,
    region_ids: list,
    ts_col: str = "ts",
    window: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming spatial join + windowed rollup: a geotagged point
    stream joined against a STATIC region set (operators/covering_join.
    region_join — the stream's cell ancestors equi-joined against a
    broadcast covering LocalRelation, then the exact refine; it runs
    unchanged on a streaming DataFrame as a stateless stream-static
    join), then event-time windows x region counts with a watermark for
    late data.

    At 100 TB-of-stream scale this is the ingest-side geofencing shape:
    the static side is broadcast once per micro-batch, the stream never
    shuffles before the windowed aggregation, and state is one count
    per (window, region)."""
    from ..operators.covering_join import region_join

    pts = assign_cells(stream)
    joined = region_join(spark, pts, regions, region_ids)
    return (
        joined.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window).alias("w"),
            F.col("region_id"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )


def streaming_sessions(
    stream: DataFrame,
    gap: str = "15 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Event-time SESSION WINDOWS on a stream: Spark's native
    session_window aggregation (merge events with gaps < ``gap``) with
    a watermark; append mode emits a session once the watermark passes
    its end (last event + gap). The streaming twin of
    operators/sessions.sessionize — note the boundary difference:
    session_window CUTS at diff >= gap, the batch op cuts at
    diff > gap (both are pinned by their own oracles)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(user_col))
        .agg(F.count("*").cast("long").alias("n_events"))
    )


def streaming_hll_registers(
    stream: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    window: str = "6 hours",
    watermark: str = "1 hour",
    p: int = 9,
) -> DataFrame:
    """Streaming half of the deterministic HLL rollup: per event-time
    window, maintain the sketch REGISTERS as streaming state — the
    register is a max, and max is exactly the mergeable aggregate
    Structured Streaming's incremental state model wants, so the state
    per window is bounded at 2^p rows regardless of stream volume.

    Finalization (register fold → estimate) is a BATCH query over the
    emitted registers (operators/sketches.hll_finalize) — streaming
    forbids chained aggregates, and splitting state-maintenance from
    query-time finalize is exactly how production sketch stores work.
    """
    from ..operators.sketches import hll_register_cols

    bucket, rho = hll_register_cols(value_col, p)
    return (
        stream.withColumn("__b", bucket)
        .withColumn("__rho", rho)
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("__b"))
        .agg(F.max("__rho").alias("__reg"), F.count("*").alias("__n"))
    )


def streaming_cm_counters(
    stream: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    window: str = "6 hours",
    watermark: str = "1 hour",
    d: int = 4,
    w: int = 256,
) -> DataFrame:
    """Streaming half of the Count-Min rollup: per event-time window,
    maintain the d x w COUNTERS as streaming state — a counter is a
    COUNT, and counts ADD, so (like the HLL register max) this is
    exactly the mergeable aggregate the incremental state model wants;
    state per window is bounded at d*w rows regardless of volume.

    Estimation (grid keys x counters -> min) is a BATCH query over the
    emitted counters (operators/sketches.cm_estimate_from_counters) —
    the same state-maintenance/query-time-finalize split as the HLL
    rollup."""
    from ..operators.sketches import _cm_bucket

    v = F.col(value_col).cast("string")
    tags = F.array(
        *[
            F.struct(F.lit(i).alias("i"), _cm_bucket(i, v, w).alias("b"))
            for i in range(d)
        ]
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .withColumn("__t", F.explode(tags))
        .groupBy(
            F.window(F.col(ts_col), window).alias("w"),
            F.col("__t.i").alias("i"),
            F.col("__t.b").alias("b"),
        )
        .agg(F.count("*").alias("c"))
    )


def streaming_knn(
    facts: DataFrame,
    probe_stream: DataFrame,
    kk: int,
    sink_path: str,
    checkpoint_path: str,
    stats: DataFrame | None = None,
    trigger: dict | None = None,
    **cols,
):
    """Exact kNN join with a STREAMING probe side against a STATIC
    fact table — "for every incoming ping, its k nearest indexed
    assets" (the streaming twin of ``operators.knn.knn_join_df``;
    reference semantics: point_index.rs kNN).

    Unlike the fixed-radius join, kNN is NOT a static plan: the batch
    operator widens data-dependently (retry rounds until every probe
    proves coverage), which Structured Streaming cannot express as one
    continuous query. The sanctioned lift is ``foreachBatch``: each
    micro-batch runs knn_join_df's own body (``_knn_join_df_lazy``) —
    identical semantics row-for-row — and writes its result straight
    into an IDEMPOTENT sink, without the batch operator's checkpoint.
    A micro-batch of at most ``_TAIL_COLLECT_MAX`` probes takes the
    driver-literal regime: it starts no Python worker, each widening
    round is one Spark job, and the sink writes the driver-held result
    rows without re-running any round. Results are written with
    dynamic partition overwrite keyed by the micro-batch id, so a
    replayed batch (after failure, before the offset commit)
    overwrites its own partition and the sink stays exactly-once while
    the engine guarantees only at-least-once execution (the
    ``plans.lineage`` resume discipline, applied to a stream).

    ``stats`` SHOULD be the precomputed density table
    (``plans.stats.build_cell_stats(facts, levels=(7,))``, maintained
    at write time): with it, a micro-batch pays only its own join
    work; without it the wrapper builds the stats ONCE up front (one
    fact scan total — never one per batch). Stats the caller passes
    without ``n_rows`` are confirmed by ONE count of ``facts`` up
    front, given to every batch as ``knn_join_df``'s ``n_rows``: a
    wrong-corpus mismatch then fails the first batch, and a literal
    round may ship its raw pairs to the driver under the histogram's
    bound instead of pre-trimming them in Spark.

    The fact side is not cached: each round reads only the row groups
    its rings cover (the merged-range pushdown), while a cache would pin
    executor memory for the stream's life (nothing could unpersist it
    once the stream stops), cannot exist for a 100 TB table, and its
    build would land inside the first micro-batch. Later batches did
    not slow down for it: ``bench_extra.py stream_knn_8batch`` (eight
    micro-batches over the sf0.1 tables, local[4] on a 4-core VM) took
    19.1 s without the cache against 27.2 s for the previous engine,
    which cached (medians of 4 interleaved pairs, faster in all 4); the
    cache's share alone was not measured.

    Returns the started StreamingQuery; callers using
    ``trigger={"availableNow": True}`` await termination then read
    ``sink_path`` back.
    """
    from ..operators.knn import _knn_join_df_lazy
    from ..plans.stats import build_cell_stats

    spark = facts.sparkSession
    built = stats is None
    if built:
        stats = build_cell_stats(facts, levels=(7,))
    # materialize ONCE up front, whatever the caller passed: a lazy
    # stats frame would re-evaluate its lineage (a full fact scan +
    # aggregation) inside EVERY micro-batch's knn_join_df — exactly
    # the per-batch cost this parameter exists to eliminate. The
    # result is bounded (≤ Σ 6·4^L rows), so collect + rebuild.
    rows = stats.collect()
    stats = local_frame(
        spark,
        [[r[c] for r in rows] for c in ("level", "cell", "n")],
        "level int, cell long, n long",
    )
    if cols.get("n_rows") is None:
        # stats built here count every row of facts at level 7
        cols["n_rows"] = (
            sum(r["n"] for r in rows if r["level"] == 7) if built else facts.count()
        )

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        # the sink write is the one read of the result, made before any
        # relational round frames are released: no checkpoint job and no
        # storage block per batch. coalesce(4) keeps a micro-batch from
        # committing one tiny file per shuffle partition through the
        # dynamic-overwrite protocol (guide §6 file sizing); it never
        # raises the partition count and adds no shuffle
        with _knn_join_df_lazy(facts, batch_df, kk, stats=stats, **cols) as out:
            (
                out.coalesce(4)
                .withColumn("__batch_id", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("__batch_id")
                .parquet(sink_path)
            )

    writer = (
        probe_stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
