"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Architecture matches the 100 TB deployment: the images table is
materialized ONCE, range-partitioned + sorted by the biased cell id
(Iceberg-layout stand-in), and every query reads the stored table so
covering-range predicates prune parquet row groups via min/max stats.

Extra env:
  SPARK_GRAFT_SCALING=1 — additionally run the full generate+encode+
  covering-join pipeline at two parallelism levels
  (SPARK_GRAFT_SCALE_CORES, default "2,8" — both on dedicated physical
  cores of this box; "8,32" spans the SMT threads where 4x threads is
  only ~2x hardware) over SPARK_GRAFT_SCALE_MULT x the input (default
  90 → 13.5M rows) and report throughput at both plus scaling
  efficiency — the sandbox proxy for the N→4N-executor criterion in
  BASELINE.json north_rule. For the cleanest numbers run each level in
  its own process (JVM state pollutes back-to-back sessions); the
  BASELINE.md table was measured that way.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time


def make_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("rust_s2_spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(16, 2 * cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def timed(fn):
    """min-of-N wall time (SPARK_GRAFT_REPEATS, default 2): this shared
    sandbox swings 3-5x run-to-run; the min is the capability estimate
    (BASELINE.md uses the same convention)."""
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "2"))
    best, out = None, None
    for _ in range(max(1, repeats)):
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        if best is None or dt < best:
            best = dt
    return best, out


def spatial_pipeline(spark, img) -> int:
    """Headline job: covering-join 3 city caps against the stored
    table, aggregate per level-8 cell. Returns images matched."""
    from pyspark.sql import functions as F

    from rust_s2_spark.functions import s2_parent
    from rust_s2_spark.geometry import Cap
    from rust_s2_spark.operators.covering_join import region_join

    caps = [
        Cap.from_latlng_degrees(40.7128, -74.0060, 3.0),
        Cap.from_latlng_degrees(51.5074, -0.1278, 3.0),
        Cap.from_latlng_degrees(35.6762, 139.6503, 3.0),
    ]
    joined = region_join(spark, img, caps, [0, 1, 2])
    agg = joined.groupBy("region_id", s2_parent("cell_id", 8).alias("cell8")).agg(
        F.count("*").alias("n"), F.countDistinct("phash").alias("np")
    )
    rows = agg.collect()
    return sum(r["n"] for r in rows)


def _scale_docs(docs, mult: int):
    """mult unique-text replicas per doc: text = md5 blocks to ~the
    original length (UNIQUE corpora measure signature/banding throughput;
    replicating near-dup text would make the pair OUTPUT quadratic in
    mult and measure result materialization instead — see BASELINE.md)."""
    from pyspark.sql import functions as F

    # the new id must be MATERIALIZED in its own projection before the
    # md5 references it: inside a single select, `doc_id` in an expr
    # resolves to the INPUT column, not the sibling alias — which made
    # every replica share the original doc's seed (identical texts,
    # caught by review: the corpus was mult-sized exact-dup groups)
    d = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("__i"),
        F.length("text").alias("__len"),
    ).select(
        (F.col("doc_id") * mult + F.col("__i")).alias("doc_id"), "__len"
    )
    return d.select(
        "doc_id",
        F.expr(
            "array_join(transform(sequence(1, greatest(int(__len / 32), 1)),"
            " j -> md5(concat(cast(doc_id as string), '_', cast(j as string)))), ' ')"
        ).alias("text"),
    )


def _scale_emb(emb, mult: int):
    from pyspark.sql import functions as F

    return emb.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("__i"),
        "embedding",
    ).select(
        (F.col("vec_id") * mult + F.col("__i")).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x + F.col("__i").cast("float") / 1000.0
        ).alias("embedding"),
    )


def run_queries(spark, sf_dir: str, table_path: str, mult: int = 1) -> dict[str, float]:
    from pyspark.sql import functions as F

    from rust_s2_spark.functions import s2_biased, s2_parent
    from rust_s2_spark.operators.dedup import (
        minhash_lsh_pairs,
        phash_hamming_pairs,
        simhash64,
    )
    from rust_s2_spark.operators.knn import knn_join
    from rust_s2_spark.operators.multimodal import average_hash
    from rust_s2_spark.operators.similarity import brute_force_topk
    from rust_s2_spark.sources import images_from_orders
    from rust_s2_spark.sources.images import read_images_table, write_images_table

    out: dict[str, float] = {}

    # ingest: generate + encode + cluster-by-Hilbert write (the once-per
    # -dataset cost; also the encode-throughput number)
    out["ingest_encode"], _ = timed(
        lambda: write_images_table(
            spark, sf_dir, table_path, with_bytes=False, multiplier=mult
        )
    )

    img = read_images_table(spark, table_path)
    n_images = img.count()

    # fidelity spot-check (BASELINE.json input_hint invariant): stored
    # captions must match the first-principles derivation on a 1-in-97
    # sample of the laid-out table (bytes are audited end-to-end by the
    # fidelity_roundtrip driver query; the bench table omits them)
    # null-safe comparison: a NULLed caption column must FAIL the gate,
    # not vanish from it (caption != expected is NULL for null rows and
    # a plain where() would drop them)
    bad = (
        img.where(F.col("image_id").cast("long") % 97 == 0)
        .where(
            ~F.col("caption").eqNullSafe(
                F.concat(F.lit("img "), F.col("image_id"))
            )
        )
        .count()
    )
    assert bad == 0, f"fidelity: {bad} stored captions diverged"

    out["spatial_join"], _ = timed(lambda: spatial_pipeline(spark, img))

    def q_tile():
        return (
            img.groupBy(s2_parent("cell_id", 7).alias("c"))
            .count()
            .orderBy(F.desc("count"))
            .limit(20)
            .collect()
        )

    out["tile_agg"], _ = timed(q_tile)

    queries_pts = [
        (0, 40.7128, -74.0060),
        (1, 51.5074, -0.1278),
        (2, 35.6762, 139.6503),
        (3, 0.0, 0.0),
        (4, -33.8688, 151.2093),
    ]
    out["knn"], _ = timed(
        lambda: knn_join(spark, img, queries_pts, 10, radius_guess_deg=2.0).collect()
    )

    # DataFrame probe side: every 3rd image probes for its 3 nearest —
    # 50k probe ROWS at sf0.1, zero driver-side probe materialization
    from rust_s2_spark.operators.knn import knn_join_df

    iid = F.col("image_id").cast("long")
    probes_df = img.where(iid % 3 == 0).select(
        iid.alias("query_id"), F.col("lat").alias("qlat"), F.col("lng").alias("qlng")
    )
    out["knn_df"], _ = timed(
        lambda: knn_join_df(img, probes_df, 3).count()
    )

    # REPEATED kNN workload: 3 calls each re-scanning the fact table
    # for density stats vs build-once + inject (table metadata — the
    # write-time _cell_stats path). The delta is the per-call stats
    # scan a 100 TB repeated workload pays N× without injection.
    from rust_s2_spark.plans.stats import build_cell_stats

    probes_rep = img.where(iid % 41 == 0).select(
        iid.alias("query_id"), F.col("lat").alias("qlat"), F.col("lng").alias("qlng")
    )

    def _knn_rep(stats):
        for _ in range(3):
            knn_join_df(img, probes_rep, 3, stats=stats).count()

    # INTERLEAVED min-of-N (the skew-pair methodology): this pair is a
    # comparison, and at sf0.1 the eliminated stats scan (~0.7 s/call)
    # competes with box drift — back-to-back windows let a steal spike
    # invert the real gap (it did, in the first round-8 pass)
    stats_df = build_cell_stats(img, levels=(7,)).localCheckpoint(eager=True)
    rep_n = max(1, int(os.environ.get("SPARK_GRAFT_REPEATS", "2")))
    t_none, t_stats = [], []
    for _ in range(rep_n):
        t0 = time.perf_counter()
        _knn_rep(None)
        t_none.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        _knn_rep(stats_df)
        t_stats.append(time.perf_counter() - t0)
    out["knn_df_repeat3"] = min(t_none)
    out["knn_df_repeat3_stats"] = min(t_stats)

    # fixed-radius twin: same probe table, all facts within 0.8 deg —
    # one ring round, one equi-join (aggregate forces the exact filter).
    # radius/sqrt(mult) = fixed SELECTIVITY under replica densification:
    # the round-9 mult=10 pass measured 736 s at the fixed radius —
    # ~100x the pairs, result materialization, not the join (the same
    # r3 lesson already applied to within_distance below)
    from rust_s2_spark.operators.covering_join import within_distance_join_df

    out["within_distance_df"], _ = timed(
        lambda: within_distance_join_df(img, probes_df, 0.8 / (mult ** 0.5))
        .agg(F.sum(F.col("image_id").cast("long") % 1000003))
        .collect()
    )

    # mutual-kNN graph (symmetric edges for density clustering): the
    # 1-in-3 corpus (50k rows at sf0.1) builds its own k=3 graph —
    # one knn_join_df self-join at k+1 + one edge-table swap join.
    # Stats must describe the GRAPH CORPUS: seeding with the full
    # table's stats (3x the corpus density) starts probes too fine and
    # costs 2.7x in widening rounds (46.7 vs 17.3 s measured) — the
    # result is identical either way (exactness is stats-independent,
    # pinned by test_knn_stale_stats_only_affect_performance)
    from rust_s2_spark.operators.knn import mutual_knn_pairs

    graph_corpus = img.where(iid % 3 == 0)
    corpus_stats = build_cell_stats(graph_corpus, levels=(7,)).localCheckpoint(
        eager=True
    )
    out["mutual_knn"], _ = timed(
        lambda: mutual_knn_pairs(graph_corpus, 3, stats=corpus_stats).count()
    )

    # geofence exclusion: full table, 5 caps, ancestor-equi-join
    # candidates + left_anti (the anti-join must touch every row —
    # the measured cost IS the 100 TB cost shape)
    from rust_s2_spark.geometry import Cap
    from rust_s2_spark.operators.covering_join import region_anti_join

    anti_caps = [
        Cap.from_latlng_degrees(40.7128, -74.0060, 3.0),
        Cap.from_latlng_degrees(51.5074, -0.1278, 3.0),
        Cap.from_latlng_degrees(35.6762, 139.6503, 3.0),
        Cap.from_latlng_degrees(-33.8688, 151.2093, 5.0),
        Cap.from_latlng_degrees(-22.9068, -43.1729, 5.0),
    ]
    out["region_anti"], _ = timed(
        lambda: region_anti_join(spark, img, anti_caps).count()
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if mult > 1:
        docs = _scale_docs(docs, mult).localCheckpoint(eager=True)
    out["minhash_lsh"], _ = timed(
        lambda: minhash_lsh_pairs(docs, "text", "doc_id", n=5, bands=4).count()
    )

    # simhash64 over the same corpus (round-3 verdict: measure it — the
    # explode hazard fixed this round only shows up under a bench)
    # aggregate over the hash itself (mod a prime: raw sum of int64
    # hashes overflows under ANSI): a bare count() lets Catalyst prune
    # the 64 vote aggregates AND the md5 — same pruning hazard as
    # redact_pii
    out["simhash"], _ = timed(
        lambda: simhash64(docs, "text", "doc_id")
        .agg(F.sum(F.col("simhash") % 1000003))
        .collect()
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    if mult > 1:
        emb = _scale_emb(emb, mult).localCheckpoint(eager=True)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out["similarity_topk"], _ = timed(lambda: brute_force_topk(emb, q, 10).count())

    # IVF-flat ANN over the same queries (the scale path next to the
    # brute-force verifier): 64 sampled centroids, nprobe=4 — candidates
    # are ~1/16 of the table instead of all of it
    import numpy as np

    from rust_s2_spark.operators.similarity import ivf_flat_topk

    cents = np.array(
        [
            list(r.embedding)
            for r in emb.where(F.col("vec_id") < 64).orderBy("vec_id").collect()
        ],
        dtype=np.float64,
    )
    out["ivf_ann"], _ = timed(lambda: ivf_flat_topk(emb, q, 10, cents, nprobe=4).count())

    imgn = img.select(F.col("image_id").cast("long").alias("img"), "phash")
    out["phash_hamming"], _ = timed(
        lambda: phash_hamming_pairs(imgn, "img", "phash", max_dist=6).count()
    )

    from rust_s2_spark.geometry.loop import Loop
    from rust_s2_spark.operators.pip import pip_filter

    lp = Loop.from_latlng_degrees(
        [(38.5, -76.5), (38.5, -71.5), (43.0, -71.5), (43.0, -76.5)]
    )
    out["pip"], _ = timed(lambda: pip_filter(img, lp).count())

    from rust_s2_spark.operators.polyline import near_polyline

    line = [(38.0, -76.0), (40.7, -74.0), (43.0, -72.0), (45.0, -70.0)]
    out["polyline"], _ = timed(lambda: near_polyline(img, line, 1.0).count())

    # 1000-region containment join via the ancestor-expansion equi-join
    # (round 3): batched vectorized coverings + hash join on the ancestor
    # key — the many-region shape that replaced BroadcastNestedLoopJoin
    from rust_s2_spark.plans.driver_queries import _many_region_caps

    def q_region_1k():
        from rust_s2_spark.operators.covering_join import region_join_ancestors

        caps, ids = _many_region_caps()
        joined = region_join_ancestors(spark, img, caps, ids)
        return joined.groupBy("region_id").count().count()

    out["region_join_1k"], _ = timed(q_region_1k)

    # per-row footprint coverings (vectorized batch fast_covering — the
    # round-3 fix for the last per-row-Python hot path); images/sec =
    # n_images / this time
    from rust_s2_spark.functions import s2_cap_covering

    out["footprint_covering"], _ = timed(
        lambda: img.select(
            F.explode(
                s2_cap_covering("lat", "lng", (F.col("phash") % 20 + 1) / 10.0)
            ).alias("c")
        ).count()
    )

    # from-pixels average hash: decode + resize-to-8x8 + integer hash
    # over every image's bytes (vectorized numpy inside mapInPandas);
    # images/sec through the hash stage = n_images / this time
    imgb = images_from_orders(spark, sf_dir, with_bytes=True, multiplier=mult)
    out["image_ahash"], _ = timed(lambda: average_hash(imgb).count())

    # lossy qdct codec end-to-end: re-encode 1-in-3 of the byte corpus
    # through the deterministic quantized-DCT codec, run the production
    # layout write of the MIXED raw+qdct corpus, read it back, decode
    # EVERY row and integer-SSE-audit it against the first-principles
    # source pixels (the fidelity_lossy gate's shape at bench scale);
    # images/sec through encode+write+read+audit = n_images / this time
    from rust_s2_spark.operators.multimodal import (
        encode_images_qdct,
        image_fidelity_audit,
    )
    from rust_s2_spark.sources.images import layout_write, read_images_table

    def q_qdct():
        import shutil
        import tempfile

        key = F.col("image_id").cast("long")
        lossy = encode_images_qdct(imgb.where(key % 3 == 0))
        mixed = imgb.where(key % 3 != 0).unionByName(lossy)
        path = tempfile.mkdtemp(prefix="s2qdctb_") + "/images"
        try:
            layout_write(mixed, path)
            stored = read_images_table(spark, path)
            blocks = [F.md5(F.col("image_id"))]
            for _ in range(11):
                blocks.append(F.md5(blocks[-1]))
            stored = stored.withColumn("orig_bytes", F.unhex(F.concat(*blocks)))
            audit = image_fidelity_audit(stored)
            n_rows, sse_sum, sse_max = audit.agg(
                F.count("*"), F.sum("sse"), F.max("sse")
            ).first()
            assert n_rows == n_images, f"qdct roundtrip lost rows: {n_rows}"
            # the PSNR >= 40 dB clause: sse*10^4 <= 255^2*192 per row
            assert sse_max <= (255 * 255 * 192) // 10_000, sse_max
            assert sse_sum > 0, "lossy rows must carry quantization error"
        finally:
            shutil.rmtree(os.path.dirname(path), ignore_errors=True)

    out["qdct_pipeline"], _ = timed(q_qdct)

    # ---- planted-skew demonstration (north_rule: 'skew from dense
    # cells (cities)') ---- tile-partitioned feature extraction: the
    # decode+hash runs AFTER the co-locating shuffle on the tile key,
    # so the three city cells (~10% of rows EACH) pin three straggler
    # tasks in the unsalted layout; salted_repartition spreads only the
    # hot cells over 8 salt buckets. Same rows, same result (the
    # skew_salted driver query gates invariance against an oracle) —
    # the delta between these two entries is the tail-task win.
    from rust_s2_spark.plans.skew import hot_cells, salted_repartition

    imgb_c = imgb.localCheckpoint(eager=True)  # encode once, shuffle twice
    n_skew = imgb_c.count()
    # one task wave: partitions == cores, so the hot-cell straggler is
    # the measured tail instead of hiding behind a second wave
    n_cores = spark.sparkContext.defaultParallelism
    # hot-cell detection is table metadata (computed once per dataset,
    # reused by every job) — keep it out of the timed path
    hot_counts = hot_cells(imgb_c, 7, max(1, n_skew // (n_cores * 128)))
    hot = [c for c, v in hot_counts.items() if v > max(1, n_skew // 50)]

    def _hash_after(df):
        # aggregate over the hash output — a bare count() would let
        # Catalyst prune the decode entirely (the redact_pii lesson)
        return average_hash(df).agg(F.sum(F.col("ahash") % 1000003)).collect()

    parent7 = s2_parent("cell_id", 7)
    unsalted_df = imgb_c.repartition(n_cores, parent7)
    salted_df = salted_repartition(
        imgb_c, level=7, threshold=max(1, n_skew // 50),
        n_partitions=n_cores, n_salt=8, hot=hot,
    )
    # AUTO (size-proportional) salting: buckets capped at ideal/oversub
    # so no fixed-k chunkiness plateau — the r7 10x regime measured
    # 1.98 max/ideal at k=8 vs ~1.1 proportional. Detection stays out
    # of the timed path (hot_counts dict + n_rows = zero-scan plan).
    salted_auto_df = salted_repartition(
        imgb_c, level=7, threshold=0, n_partitions=n_cores, n_salt=None,
        hot=hot_counts, n_rows=n_skew,
    )
    # INTERLEAVED min-of-N: the pair is a comparison, so both legs must
    # see the same box drift (back-to-back min-of-2 windows let steal
    # spikes invert a real gap)
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_REPEATS", "2")))
    t_un, t_s, t_a = [], [], []
    for _ in range(repeats):
        t0 = time.perf_counter()
        _hash_after(unsalted_df)
        t_un.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        _hash_after(salted_df)
        t_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        _hash_after(salted_auto_df)
        t_a.append(time.perf_counter() - t0)
    out["skew_unsalted"] = min(t_un)
    out["skew_salted"] = min(t_s)
    out["skew_salted_auto"] = min(t_a)

    # the noise-free tail-task evidence: rows in the largest partition
    # vs the balanced ideal. At sf0.1 per-task work is ~0.1 s so the
    # wall-clock delta competes with fixed overhead; at 100 TB a task is
    # hours and the max-partition fraction IS the job's critical path.
    def _max_part(df) -> int:
        return (
            df.groupBy(F.spark_partition_id().alias("p"))
            .count()
            .agg(F.max("count"))
            .first()[0]
        )

    ideal = n_skew / n_cores
    out["_skew_balance_unsalted"] = round(_max_part(unsalted_df) / ideal, 2)
    out["_skew_balance_salted"] = round(_max_part(salted_df) / ideal, 2)
    out["_skew_balance_auto"] = round(_max_part(salted_auto_df) / ideal, 2)

    # ---- round-4/5 operators: the 10x scale rows VERDICT r4 asked for ----
    from rust_s2_spark.operators.dedup import ensemble_dedup_vote
    from rust_s2_spark.operators.text import (
        redact_pii,
        surprisal_score,
        winnow_fingerprints,
    )

    out["winnow"], _ = timed(
        lambda: winnow_fingerprints(docs, "text", "doc_id", k=8, w=8).count()
    )
    out["surprisal"], _ = timed(
        lambda: surprisal_score(docs, "text", "doc_id")
        .agg(F.sum("sum_surprisal"))
        .collect()
    )
    out["dedup_vote"], _ = timed(
        lambda: ensemble_dedup_vote(docs, "text", "doc_id").count()
    )
    # aggregate over the OUTPUT columns: redact_pii is a map-only
    # projection, so a bare count() lets Catalyst prune every regex
    # (the first measurement read 0.1 s at both 1x and 10x — it was
    # measuring nothing)
    out["redact_pii"], _ = timed(
        lambda: redact_pii(docs, "text", "doc_id")
        .agg(F.sum(F.length("redacted")), F.sum("n_email"), F.sum("n_ssn"))
        .collect()
    )

    from rust_s2_spark.operators.text import ngram_decontaminate, repetition_stats

    out["decontaminate"], _ = timed(
        lambda: ngram_decontaminate(
            docs.where(F.col("doc_id") % 17 != 0),
            docs.where(F.col("doc_id") % 17 == 0),
            n=4,
        ).count()
    )
    # group keys include the computed dup fractions, so count() cannot
    # prune them; the top-share agg is forced by the sum
    out["repetition"], _ = timed(
        lambda: repetition_stats(docs, "text", "doc_id")
        .agg(F.sum("top_token_share"), F.sum("dup2_frac"))
        .collect()
    )

    from rust_s2_spark.operators.sessions import session_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if mult > 1:
        # replicate USERS (shifted ids, timestamps unchanged): per-user
        # session structure is preserved, partition count scales
        ev = ev.select(
            F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("__i"),
            (F.col("event_id")).alias("event_id"),
            "ts",
            "user_id",
        ).select(
            (F.col("event_id") + F.col("__i") * F.lit(10_000_000)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("__i") * F.lit(10_000_000)).alias("user_id"),
        ).localCheckpoint(eager=True)
    out["sessionize"], _ = timed(lambda: session_stats(ev, gap_seconds=900).count())

    from rust_s2_spark.operators.multimodal import audio_features, dct_phash
    from rust_s2_spark.sources.images import (
        audio_from_orders,
        images_mixed_sizes,
        images_near_dup_corpus,
    )

    out["audio_features"], _ = timed(
        lambda: audio_features(
            audio_from_orders(spark, sf_dir, modulus=5, multiplier=mult)
        ).count()
    )

    def q_neardup():
        h = average_hash(
            images_near_dup_corpus(spark, sf_dir, modulus=5, multiplier=mult)
        ).select(F.col("image_id").alias("img"), "ahash")
        return phash_hamming_pairs(h, "img", "ahash", max_dist=6).count()

    out["image_neardup"], _ = timed(q_neardup)

    out["image_phash_dct"], _ = timed(
        lambda: dct_phash(
            images_mixed_sizes(spark, sf_dir, modulus=5, multiplier=mult)
        ).count()
    )

    from rust_s2_spark.operators.multimodal import audio_fingerprint, image_edge_stats

    out["image_edges"], _ = timed(
        lambda: image_edge_stats(
            images_mixed_sizes(spark, sf_dir, modulus=5, multiplier=mult)
        ).count()
    )
    out["audio_fingerprint"], _ = timed(
        lambda: audio_fingerprint(
            audio_from_orders(spark, sf_dir, modulus=5, multiplier=mult)
        ).count()
    )

    from rust_s2_spark.operators.multimodal import video_scene_cuts
    from rust_s2_spark.sources.images import videos_from_orders

    out["scene_cuts"], _ = timed(
        lambda: video_scene_cuts(
            videos_from_orders(spark, sf_dir, modulus=5, multiplier=mult)
        ).count()
    )

    from rust_s2_spark.operators.sketches import hll_count_distinct

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    if mult > 1:
        # value-shifted replicas: the DISTINCT orderkey count scales
        # honestly with the data (a plain row copy would leave the
        # sketch's input set unchanged)
        li = li.select(
            F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("__i"),
            "l_orderkey",
            "l_returnflag",
        ).select(
            (F.col("l_orderkey") + F.col("__i") * F.lit(10_000_000)).alias(
                "l_orderkey"
            ),
            "l_returnflag",
        ).localCheckpoint(eager=True)
    out["hll_distinct"], _ = timed(
        lambda: hll_count_distinct(li, "l_orderkey", ["l_returnflag"]).count()
    )

    # within-distance spatial self-join on a 1-in-7 sample (the driver
    # query's shape); replicas derive NEW positions from new keys, so
    # density — and the pair output — scales honestly
    from rust_s2_spark.operators.covering_join import within_distance_pairs

    sub = img.withColumn("image_id", F.col("image_id").cast("long")).where(
        F.col("image_id") % 7 == 0
    )
    # fixed-SELECTIVITY scaling: replicas densify the same city
    # hotspots, so at a fixed radius the pair OUTPUT is quadratic in
    # mult (the r3 near-dup-replica lesson); shrinking the radius by
    # sqrt(mult) keeps expected pairs-per-point constant and measures
    # the join machinery, not result materialization
    wd_radius = 0.2 / (mult ** 0.5)
    out["within_distance"], _ = timed(
        lambda: within_distance_pairs(sub, wd_radius).count()
    )

    # ---- round-9: density clustering + interpolation rows (the r8
    # verdict's only zero-perf-evidence operators) ----
    from rust_s2_spark.operators.clustering import (
        chord2_to_deg,
        dbscan_clusters,
        suggest_eps,
    )

    # eps selection at the hotspot NN scale: the k-dist curve over this
    # corpus is sharply bimodal (city-hotspot plateau ~0.01-0.04 deg,
    # uniform background ~4-9 deg — measured at sf0.01), so the q=0.25
    # order statistic sits ON the plateau: eps lands at the hotspot NN
    # scale, the non-degenerate regime the r8 verdict asked to pin.
    # Self-tuning keeps the bench at fixed selectivity under mult
    # scaling (denser replicas shrink the plateau, so neighbor counts
    # — and the pair output — stay ~constant per point)
    def q_eps():
        tab = {
            float(r["q"]): float(r["eps_chord2"])
            for r in suggest_eps(
                sub, 6, quantiles=(0.25,)
            ).collect()
        }
        return tab[0.25]

    out["suggest_eps"], eps_c2 = timed(q_eps)
    eps_deg = chord2_to_deg(eps_c2)

    # DBSCAN at the suggested eps, min_pts=6 (closed): roles forced by
    # the groupBy — the full label assignment must materialize
    out["dbscan"], _ = timed(
        lambda: dict(
            (r["role"], r["count"])
            for r in dbscan_clusters(sub, eps_deg, 6, max_iter=40)
            .groupBy("role")
            .count()
            .collect()
        )
    )
    # the honest output-size axis: neighbor pairs at this eps (DBSCAN's
    # cost is bounded by TRUE pair count, never n² — report it)
    out["_dbscan_pairs"] = float(within_distance_pairs(sub, eps_deg).count())
    out["_dbscan_eps_deg"] = eps_deg

    # IDW interpolation: every 1-in-3 image estimates a value surface
    # from its 3 nearest facts; stats injected WITH the n_rows guard
    # (the production path after this round's corpus-match check)
    from rust_s2_spark.operators.knn import idw_interpolate

    facts_idw = img.withColumn("val", (F.col("phash") % 997).cast("double"))
    out["idw"], _ = timed(
        lambda: idw_interpolate(
            facts_idw, probes_df, 3, "val",
            stats=stats_df, n_rows=n_images,
        )
        .agg(F.sum("est"))
        .collect()
    )

    # variable-radius production shape with the round-9 levels=
    # injection: per-probe radius class from the id (three classes
    # spanning three ring levels), the active-level histogram computed
    # ONCE by the caller (untimed — the repeated-workload contract),
    # radii scaled 1/sqrt(mult) for fixed selectivity
    import math as _math

    from rust_s2_spark.operators.covering_join import (
        radius_level_expr,
        within_distance_join_df_var,
    )

    def _c2(deg):
        s = 2.0 * _math.sin(0.5 * min(_math.radians(deg), _math.pi))
        return s * s

    var_c2 = F.element_at(
        F.array(*[F.lit(_c2(r / (mult ** 0.5))) for r in (0.1, 0.4, 1.6)]),
        (F.col("query_id") % 3).cast("int") + 1,
    )
    probes_var = probes_rep.withColumn("chord2_max", var_c2)
    var_levels = sorted(
        int(r["l"])
        for r in probes_var.select(
            radius_level_expr("chord2_max").alias("l")
        ).distinct().collect()
    )
    out["within_distance_var"], _ = timed(
        lambda: within_distance_join_df_var(img, probes_var, levels=var_levels)
        .agg(F.sum(F.col("image_id").cast("long") % 1000003))
        .collect()
    )

    # ---- round-9: streaming per-batch cost (r8 verdict #3: streaming
    # ops had oracle gates but zero bench evidence). 8 probe files →
    # 8 micro-batches under availableNow; the foreachBatch lift makes
    # per-batch cost = the batch operator on that slice, so wall/8 is
    # the per-batch latency at a fixed ~1-in-41 probe rate.
    from rust_s2_spark.streaming import streaming_knn

    def q_stream_knn():
        base = tempfile.mkdtemp(prefix="s2streamknn_")
        try:
            probes_rep.repartition(8).write.parquet(f"{base}/in")
            stream = (
                spark.readStream.schema(probes_rep.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{base}/in")
            )
            qy = streaming_knn(
                img, stream, 3, f"{base}/out", f"{base}/ckpt",
                stats=stats_df,
                trigger={"availableNow": True},
            )
            assert qy.awaitTermination(600)
            n = spark.read.parquet(f"{base}/out").count()
            assert n > 0
            return n
        finally:
            shutil.rmtree(base, ignore_errors=True)

    out["stream_knn_8batch"], _ = timed(q_stream_knn)

    # ---- round-6: bench rows for the families the r5 verdict flagged ----
    from rust_s2_spark.operators.similarity import (
        ivf_pq_topk,
        pq_topk,
        train_pq_codebooks,
    )

    # PQ training is the once-per-corpus cost; topk rows measure the
    # encode + ADC scan with the trained books
    out["pq_train"], books = timed(lambda: train_pq_codebooks(emb, 4, 8))
    out["pq_topk"], _ = timed(lambda: pq_topk(emb, q, 10, books).count())
    out["ivf_pq_topk"], _ = timed(
        lambda: ivf_pq_topk(emb, q, 10, cents[:16], books, nprobe=4).count()
    )

    from rust_s2_spark.operators.text import train_bpe_merges

    out["bpe_train"], _ = timed(lambda: train_bpe_merges(docs, "text", 8))

    from rust_s2_spark.operators.dedup import substring_containment_join

    snips = docs.where(
        (F.col("doc_id") % 31 == 0) & (F.length("text") >= 120)
    ).select(
        F.col("doc_id").alias("snip_id"),
        F.expr("substring(text, 21, 100)").alias("text"),
    )
    out["substring_hosts"], _ = timed(
        lambda: substring_containment_join(docs, snips).count()
    )

    from rust_s2_spark.operators.sketches import cm_sketch_estimate

    out["cm_counts"], _ = timed(
        lambda: cm_sketch_estimate(li, "l_orderkey", d=4, w=256).count()
    )

    # histogram-quantile sketch: one bounded groupBy + cumulative
    # window (the deterministic t-digest alternative); value column
    # derived from the key so the mult-scaled frame carries it
    from rust_s2_spark.operators.sketches import histogram_quantiles

    out["hist_quantiles"], _ = timed(
        lambda: histogram_quantiles(
            li.withColumn("v", (F.col("l_orderkey") % 97).cast("double")),
            "v",
            ["l_returnflag"],
            n_bins=97,
            lo=0.0,
            hi=97.0,
        ).count()
    )

    # exact heavy hitters: CM-literal map-side filter + exact verify.
    # TPC-H keys are uniform (no true skew), so CM collisions keep most
    # rows past the filter — this measures the WORST-case regime
    # (sketch build + d lookups/row + full-width exact verify), an
    # upper bound on the Zipfian deployments the operator targets
    from rust_s2_spark.operators.sketches import heavy_hitters

    out["heavy_hitters"], _ = timed(
        lambda: heavy_hitters(li, "l_orderkey", 10, d=4, w=256).count()
    )

    # wide-alphabet audio landmark retrieval: fp precomputed (decode +
    # fingerprint cost is the audio_fingerprint row) — this measures the
    # landmark self-join + key equi-join + offset vote
    from rust_s2_spark.operators.multimodal import (
        AUDIO_FP_BINS_WIDE,
        audio_landmark_match,
    )

    fp_w = audio_fingerprint(
        audio_from_orders(spark, sf_dir, modulus=5, multiplier=mult),
        bins=AUDIO_FP_BINS_WIDE,
    ).localCheckpoint(eager=True)
    # query batch FIXED to the replica-0 keyspace (clip_id < 10^7 —
    # replicas shift by i*10^7): retrieval scales as fixed-queries x
    # growing-corpus; letting the query set grow with mult made the
    # vote join quadratic in mult (the near-dup-replica lesson) and
    # measured result materialization, not the engine
    out["audio_match_wide"], _ = timed(
        lambda: audio_landmark_match(
            fp_w,
            fp_w.where(
                (F.col("clip_id") % 3 == 0)
                & (F.col("clip_id") < 10_000_000)
            ),
            max_bin=31,
            quantize_power=True,
            min_alphabet=100_000,
        ).count()
    )

    # trajectory-crossing self-join on a 1-in-4 track sample (full-set
    # sf0.1 numbers are in BASELINE.md; the sample keeps the bench row
    # affordable while exercising the identical sampled-ring machinery)
    from rust_s2_spark.operators.polyline import polyline_crossing_join
    from rust_s2_spark.plans.driver_queries import TRAJ_MAX_SEG_DEG, _trajectories

    traj = _trajectories(spark, sf_dir).where(F.col("traj_id") % 4 == 0)
    out["traj_crossings"], _ = timed(
        lambda: polyline_crossing_join(traj, TRAJ_MAX_SEG_DEG).count()
    )

    out["_n_images"] = float(n_images)
    return out


def _read_steal() -> tuple[int, int]:
    """(steal_ticks, total_ticks) from /proc/stat — the hypervisor
    stole-time counter that adjudicates whether a slow bench number is
    the code or a contended box (r5's artifact recorded a steal-
    contended pass with nothing in the JSON to say so)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)
    except (OSError, ValueError, IndexError):
        return 0, 0


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]
    mult = int(os.environ.get("SPARK_GRAFT_MULT", "1"))
    table_path = tempfile.mkdtemp(prefix="s2img_") + "/images"

    try:
        spark = make_spark(cpus)
        st0, tt0 = _read_steal()
        la0 = os.getloadavg()[0]
        t0 = time.perf_counter()
        q = run_queries(spark, sf_dir, table_path, mult)
        total = time.perf_counter() - t0
        st1, tt1 = _read_steal()
        n_images = int(q.pop("_n_images"))
        skew_balance = {
            "unsalted_max_over_ideal": q.pop("_skew_balance_unsalted"),
            "salted_max_over_ideal": q.pop("_skew_balance_salted"),
            "auto_max_over_ideal": q.pop("_skew_balance_auto"),
        }
        dbscan_pairs = int(q.pop("_dbscan_pairs", 0))
        dbscan_eps_deg = q.pop("_dbscan_eps_deg", None)
        spark.stop()

        result = {
            "metric": "spatial-join + tiling throughput",
            # sum of per-query minimums — comparable across repeat counts
            # (total wall includes min-of-N repeat overhead)
            "value": round(sum(q.values()), 3),
            "wall_sec": round(total, 3),
            "unit": "sec",
            "queries": {k: round(v, 3) for k, v in q.items()},
            "sf": sf,
            "mult": mult,
            "cpus": cpus,
            "n_images": n_images,
            "images_per_sec": round(n_images / q["spatial_join"], 1),
            "encode_images_per_sec": round(n_images / q["ingest_encode"], 1),
            # self-adjudication: per-query values are min-of-N
            # (SPARK_GRAFT_REPEATS, default 2); steal_pct is the
            # hypervisor steal share of ALL cpu ticks over the run —
            # compare a slow round against this, not against luck
            "repeats": int(os.environ.get("SPARK_GRAFT_REPEATS", "2")),
            "steal_pct": round(
                100.0 * (st1 - st0) / max(1, tt1 - tt0), 2
            ),
            "skew_balance": skew_balance,
            # DBSCAN's honest output axis: its cost is bounded by TRUE
            # neighbor-pair count at the (self-tuned) eps, never n²
            "dbscan_pairs": dbscan_pairs,
            "dbscan_eps_deg": (
                round(dbscan_eps_deg, 6) if dbscan_eps_deg else None
            ),
            "loadavg_start": round(la0, 2),
            "loadavg_end": round(os.getloadavg()[0], 2),
        }

        if os.environ.get("SPARK_GRAFT_SCALING") == "1":
            # N→4N core proxy: same job, same input, local[8] vs local[32].
            # Input is scaled (multiplier) so per-core work dominates task
            # scheduling overhead — at raw sf0.1 the whole pipeline runs in
            # ~2s and measures nothing but fixed costs.
            from rust_s2_spark.sources.images import (
                images_from_orders,
                write_images_table,
            )

            mult = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "90"))
            pair = [
                int(x)
                for x in os.environ.get("SPARK_GRAFT_SCALE_CORES", "2,8").split(",")
            ]
            # layout-constant split count — identical at every core
            # count (round-7 methodology). For wide pairs (8,32) raise
            # BOTH mult and splits so the parallel portion dominates
            # the ~4.4 s session fixed cost (round-8: mult=360,
            # splits=64 for the 8→32 leg)
            n_splits = int(os.environ.get("SPARK_GRAFT_SCALE_SPLITS", "32"))
            # shuffle partitions must ALSO be layout-constant across the
            # pair (make_spark scales them with the core count, which is
            # a config-varying comparison); 0 = keep make_spark's value
            n_shuffle = int(os.environ.get("SPARK_GRAFT_SCALE_SHUFFLE", "0"))
            scaling = {}
            for c in pair:
                s = make_spark(c)
                if n_shuffle:
                    s.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))

                def job():
                    # headline job: generate + encode (pandas UDF) +
                    # covering join + per-cell agg, end to end.
                    # n_splits pinned: on a real cluster the split
                    # count comes from the table layout, identical at
                    # every cluster size — letting the small leg run
                    # cores-many giant tasks hands it artificially
                    # perfect granularity and understates efficiency
                    # (round-7 finding: 0.72 apparent vs 0.89 with
                    # layout-constant splits, matching the Amdahl-fit
                    # parallel portion 0.885)
                    df = images_from_orders(
                        s, sf_dir, with_bytes=False, multiplier=mult,
                        n_splits=n_splits,
                    )
                    return spatial_pipeline(s, df)

                job()  # warm-up (JVM codegen + Python worker spin-up)
                # min of 3 trials — this sandbox shows large run-to-run
                # JIT/GC noise; the min is the stable capability estimate
                dt = min(timed(job)[0] for _ in range(3))
                n_big = n_images * mult
                scaling[str(c)] = {
                    "sec": round(dt, 3),
                    "images_per_sec": round(n_big / dt, 1),
                }
                s.stop()
            lo, hi = str(pair[0]), str(pair[1])
            eff = (
                scaling[hi]["images_per_sec"] / scaling[lo]["images_per_sec"]
            ) / (pair[1] / pair[0])
            result["scaling"] = scaling
            result["scaling_rows"] = n_images * mult
            result[f"scaling_efficiency_{pair[0]}_to_{pair[1]}"] = round(eff, 3)

        print(json.dumps(result))
    finally:
        shutil.rmtree(os.path.dirname(table_path), ignore_errors=True)


if __name__ == "__main__":
    main()
