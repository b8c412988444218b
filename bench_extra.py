"""Round-10 optimization side-bench: the kNN ring-join family rows,
reproduced EXACTLY as bench.py times them (same data, same calls, same
min-of-N), so per-change effects can be measured without a full bench
pass. bench.py itself is frozen for measurement — this file only
supplies evidence for OPTIMIZATION_r10.md.

Usage: python bench_extra.py [row ...]   (default: all rows)
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_REPEATS as in
bench.py.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    only = set(sys.argv[1:])

    from bench import make_spark, timed

    from pyspark.sql import functions as F

    spark = make_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from rust_s2_spark.operators.clustering import (
        chord2_to_deg,
        dbscan_clusters,
        suggest_eps,
    )
    from rust_s2_spark.operators.covering_join import (
        radius_level_expr,
        within_distance_join_df,
        within_distance_join_df_var,
        within_distance_pairs,
    )
    from rust_s2_spark.operators.knn import (
        idw_interpolate,
        knn_join_df,
        mutual_knn_pairs,
    )
    from rust_s2_spark.plans.stats import build_cell_stats
    from rust_s2_spark.sources.images import read_images_table, write_images_table
    from rust_s2_spark.streaming import streaming_knn

    out: dict[str, float] = {}
    table_path = tempfile.mkdtemp(prefix="s2extra_") + "/images"
    try:
        write_images_table(spark, sf_dir, table_path, with_bytes=False)
        img = read_images_table(spark, table_path)
        n_images = img.count()
        iid = F.col("image_id").cast("long")
        probes_df = img.where(iid % 3 == 0).select(
            iid.alias("query_id"), F.col("lat").alias("qlat"), F.col("lng").alias("qlng")
        )
        probes_rep = img.where(iid % 41 == 0).select(
            iid.alias("query_id"), F.col("lat").alias("qlat"), F.col("lng").alias("qlng")
        )
        stats_df = build_cell_stats(img, levels=(7,)).localCheckpoint(eager=True)

        def want(name: str) -> bool:
            return not only or name in only

        if want("knn_df"):
            out["knn_df"], _ = timed(
                lambda: knn_join_df(img, probes_df, 3).count()
            )

        if want("knn_df_repeat3"):

            def _rep(stats):
                for _ in range(3):
                    knn_join_df(img, probes_rep, 3, stats=stats).count()

            out["knn_df_repeat3"], _ = timed(lambda: _rep(None))
            out["knn_df_repeat3_stats"], _ = timed(lambda: _rep(stats_df))

        if want("within_distance_df"):
            out["within_distance_df"], _ = timed(
                lambda: within_distance_join_df(img, probes_df, 0.8)
                .agg(F.sum(F.col("image_id").cast("long") % 1000003))
                .collect()
            )

        if want("mutual_knn"):
            graph_corpus = img.where(iid % 3 == 0)
            corpus_stats = build_cell_stats(
                graph_corpus, levels=(7,)
            ).localCheckpoint(eager=True)
            out["mutual_knn"], _ = timed(
                lambda: mutual_knn_pairs(graph_corpus, 3, stats=corpus_stats).count()
            )

        sub = img.withColumn("image_id", iid).where(iid % 7 == 0)
        eps_deg = None
        if want("suggest_eps") or want("dbscan"):

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

        if want("dbscan") and eps_deg is not None:
            out["dbscan"], _ = timed(
                lambda: dict(
                    (r["role"], r["count"])
                    for r in dbscan_clusters(sub, eps_deg, 6, max_iter=40)
                    .groupBy("role")
                    .count()
                    .collect()
                )
            )
            out["_dbscan_pairs"] = float(within_distance_pairs(sub, eps_deg).count())

        if want("idw"):
            facts_idw = img.withColumn("val", (F.col("phash") % 997).cast("double"))
            out["idw"], _ = timed(
                lambda: idw_interpolate(
                    facts_idw, probes_df, 3, "val",
                    stats=stats_df, n_rows=n_images,
                )
                .agg(F.sum("est"))
                .collect()
            )

        if want("within_distance_var"):
            import math as _math

            def _c2(deg):
                s = 2.0 * _math.sin(0.5 * min(_math.radians(deg), _math.pi))
                return s * s

            var_c2 = F.element_at(
                F.array(*[F.lit(_c2(r)) for r in (0.1, 0.4, 1.6)]),
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

        if want("dedup_vote"):
            from rust_s2_spark.operators.dedup import ensemble_dedup_vote

            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            out["dedup_vote"], _ = timed(
                lambda: ensemble_dedup_vote(docs, "text", "doc_id").count()
            )

        if want("winnow"):
            from rust_s2_spark.operators.text import winnow_fingerprints

            docsw = spark.read.parquet(f"{sf_dir}/documents.parquet")
            out["winnow"], _ = timed(
                lambda: winnow_fingerprints(docsw, "text", "doc_id", k=8, w=8).count()
            )

        if want("substring_hosts"):
            from rust_s2_spark.operators.dedup import substring_containment_join

            docs2 = spark.read.parquet(f"{sf_dir}/documents.parquet")
            snips = docs2.where(
                (F.col("doc_id") % 31 == 0) & (F.length("text") >= 120)
            ).select(
                F.col("doc_id").alias("snip_id"),
                F.expr("substring(text, 21, 100)").alias("text"),
            )
            out["substring_hosts"], _ = timed(
                lambda: substring_containment_join(docs2, snips).count()
            )

        if want("traj_crossings"):
            from rust_s2_spark.operators.polyline import polyline_crossing_join
            from rust_s2_spark.plans.driver_queries import (
                TRAJ_MAX_SEG_DEG,
                _trajectories,
            )

            traj = _trajectories(spark, sf_dir).where(F.col("traj_id") % 4 == 0)
            out["traj_crossings"], _ = timed(
                lambda: polyline_crossing_join(traj, TRAJ_MAX_SEG_DEG).count()
            )

        if want("ingest_encode"):
            import tempfile as _tf

            def _ing():
                p = _tf.mkdtemp(prefix="s2ing_") + "/images"
                try:
                    write_images_table(spark, sf_dir, p, with_bytes=False)
                finally:
                    shutil.rmtree(os.path.dirname(p), ignore_errors=True)

            out["ingest_encode"], _ = timed(_ing)

        if want("qdct_pipeline"):
            from rust_s2_spark.operators.multimodal import (
                encode_images_qdct,
                image_fidelity_audit,
            )
            from rust_s2_spark.sources import images_from_orders
            from rust_s2_spark.sources.images import layout_write

            imgb_q = images_from_orders(spark, sf_dir, with_bytes=True)

            def q_qdct():
                import tempfile as _tf

                key = F.col("image_id").cast("long")
                lossy = encode_images_qdct(imgb_q.where(key % 3 == 0))
                mixed = imgb_q.where(key % 3 != 0).unionByName(lossy)
                path = _tf.mkdtemp(prefix="s2qdctx_") + "/images"
                try:
                    layout_write(mixed, path)
                    stored = read_images_table(spark, path)
                    blocks = [F.md5(F.col("image_id"))]
                    for _ in range(11):
                        blocks.append(F.md5(blocks[-1]))
                    stored = stored.withColumn(
                        "orig_bytes", F.unhex(F.concat(*blocks))
                    )
                    audit = image_fidelity_audit(stored)
                    n_rows, sse_sum, sse_max = audit.agg(
                        F.count("*"), F.sum("sse"), F.max("sse")
                    ).first()
                    assert n_rows == n_images, n_rows
                finally:
                    shutil.rmtree(os.path.dirname(path), ignore_errors=True)

            out["qdct_pipeline"], _ = timed(q_qdct)

        if want("stream_knn_8batch"):

            def q_stream_knn():
                base = tempfile.mkdtemp(prefix="s2streamknnx_")
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

        if want("cm_counts") or want("heavy_hitters"):
            # the two late-round sketch rows, bench-identical calls
            from rust_s2_spark.operators.sketches import (
                cm_sketch_estimate,
                heavy_hitters,
            )

            li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            if want("cm_counts"):
                out["cm_counts"], _ = timed(
                    lambda: cm_sketch_estimate(
                        li, "l_orderkey", d=4, w=256
                    ).count()
                )
            if want("heavy_hitters"):
                out["heavy_hitters"], _ = timed(
                    lambda: heavy_hitters(li, "l_orderkey", 10, d=4, w=256).count()
                )

        print(json.dumps({k: round(v, 3) for k, v in out.items()}))
    finally:
        shutil.rmtree(os.path.dirname(table_path), ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
