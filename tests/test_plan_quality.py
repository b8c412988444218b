"""Plan-quality regression tests: the properties that matter at 100 TB
must not silently regress — parquet pushdown of covering ranges,
native (codegen) key expressions, broadcast of small join sides."""

from __future__ import annotations

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from rust_s2_spark.geometry import Cap, CellUnion
from rust_s2_spark.geometry.loop import Loop
from rust_s2_spark.kernels import cellid as k
from rust_s2_spark.kernels import edges as ek
from rust_s2_spark.operators.covering_join import region_filter, region_join
from rust_s2_spark.operators.pip import pip_filter
from rust_s2_spark.sources.images import read_images_table, write_images_table


@pytest.fixture(scope="module")
def stored(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="s2plan_")
    path = f"{tmp}/images"
    write_images_table(spark, sf_dir, path, with_bytes=False)
    yield read_images_table(spark, path)
    shutil.rmtree(tmp, ignore_errors=True)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_literal_side_is_local(plan: str) -> None:
    """The driver-built covering table must be an Arrow LocalRelation:
    a ``Scan ExistingRDD`` is a pickled Python RDD, and every query
    reading it starts Python-worker tasks just to unpickle literals."""
    assert "LocalTableScan" in plan, plan
    assert "Scan ExistingRDD" not in plan, plan


def test_region_filter_pushes_ranges(stored):
    cap = Cap.from_latlng_degrees(40.7128, -74.0060, 3.0)
    plan = _plan(region_filter(stored, cap))
    scan = plan[plan.find("PushedFilters") :][:200]
    # Spark truncates long plan strings; assert ranges are pushed
    # (non-empty Or-tree) rather than matching the full predicate
    assert "PushedFilters: []" not in scan, scan
    assert "Or(" in scan, scan
    assert "*(1)" in plan  # '*' prefix = whole-stage codegen


def test_pip_filter_pushes_both_scans(stored):
    lp = Loop.from_latlng_degrees(
        [(39.5, -75.5), (39.5, -72.5), (42.0, -72.5), (42.0, -75.5)]
    )
    plan = _plan(pip_filter(stored, lp))
    import re

    pushed = re.findall(r"PushedFilters: (\[[^\]]{0,60})", plan)
    nonempty = [p for p in pushed if "Or(" in p or "GreaterThan" in p]
    assert len(nonempty) >= 2, pushed  # interior scan AND boundary scan
    # the crossing-parity UDF must appear exactly once (boundary branch)
    assert plan.count("ArrowEvalPython") == 1 or "BatchEvalPython" not in plan


def test_region_join_broadcasts_ranges(stored, spark):
    caps = [Cap.from_latlng_degrees(40.7128, -74.0060, 2.0)]
    plan = _plan(region_join(spark, stored, caps, [0]))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # fact table must not shuffle
    _assert_literal_side_is_local(plan)


def test_native_keys_stay_in_codegen(stored):
    from rust_s2_spark.functions import s2_level, s2_parent, s2_range_min

    df = stored.select(
        s2_parent("cell_id", 7).alias("p"),
        s2_level("cell_id").alias("l"),
        s2_range_min("cell_id").alias("r"),
    )
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "*(1)" in plan  # '*' prefix = whole-stage codegen


def test_cellunion_difference():
    base = CellUnion([int(k.from_face(np.array([1]))[0])])
    child = k.children(k.from_face(np.array([1])))[0]
    sub = CellUnion([int(child[2])])
    diff = base.difference(sub)
    # exactly the other three children remain
    want = {int(child[0]), int(child[1]), int(child[3])}
    assert set(int(c) for c in diff.ids) == want
    assert not diff.intersects_union(sub)


def test_regular_points():
    pts = ek.regular_points((0.0, 0.0, 1.0), 0.1, 12)
    assert pts.shape == (12, 3)
    # all at the requested angular radius from the center
    d = np.degrees(np.arccos(np.clip(pts @ np.array([0.0, 0.0, 1.0]), -1, 1)))
    assert np.allclose(d, np.degrees(0.1), atol=1e-9)
    # and they form a loop that contains the center
    lp = Loop(pts)
    assert lp.contains_point((0.0, 0.0, 1.0))


def test_phash_pairs_single_shuffle_no_python(stored):
    """The exact multi-index banding must stay: one groupBy shuffle for
    bucket assembly + one distinct on survivors, zero Python, map-side
    partial aggregation (ObjectHashAggregate for collect_list)."""
    from rust_s2_spark.operators.dedup import phash_hamming_pairs

    df = stored.select(
        F.col("image_id").cast("long").alias("img"), "phash"
    )
    plan = _plan(phash_hamming_pairs(df, "img", "phash", max_dist=6))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange") <= 3, plan.count("Exchange")
    assert "ObjectHashAggregate" in plan
    # no join at all — pair generation happens inside buckets
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_near_polyline_pushes_ranges(stored):
    from rust_s2_spark.operators.polyline import near_polyline

    out = near_polyline(
        stored, [(38.5, -76.5), (40.7, -74.0), (42.4, -71.1)], 1.5
    )
    plan = _plan(out)
    scan = plan[plan.find("PushedFilters") :][:200]
    assert "PushedFilters: []" not in scan, scan


def _many_caps(n: int):
    caps, ids = [], []
    for i in range(n):
        lat = (i * 2654435761 % 4294967296) / 4294967296 * 140 - 70
        lng = (i * 40503 % 4294967296) / 4294967296 * 360 - 180
        caps.append(Cap.from_latlng_degrees(lat, lng, 0.3 + (i % 17) * 0.1))
        ids.append(i)
    return caps, ids


def test_region_join_ancestors_is_equi_join(stored, spark):
    """Many-region containment must be a hash/sort-merge EQUI-join on the
    ancestor key — never a BroadcastNestedLoopJoin (which tests every fact
    row against every region's ranges)."""
    from rust_s2_spark.operators.covering_join import region_join_ancestors

    caps, ids = _many_caps(40)
    out = region_join_ancestors(spark, stored, caps, ids)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan, "ancestor join degenerated"
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    # ancestor explode is native (Generate over bit arithmetic), no Python
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    _assert_literal_side_is_local(plan)


def test_region_join_ancestors_matches_range_join(stored, spark):
    """The equi-join form must produce row-for-row the same result as the
    broadcast range-join form (same exact post-filter semantics)."""
    from rust_s2_spark.operators.covering_join import (
        region_join,
        region_join_ancestors,
    )

    caps, ids = _many_caps(60)
    cols = ["region_id", "image_id"]
    a = {
        tuple(r) for r in region_join(spark, stored, caps, ids)
        .select(*cols).collect()
    }
    b = {
        tuple(r) for r in region_join_ancestors(spark, stored, caps, ids)
        .select(*cols).collect()
    }
    c = {
        tuple(r)
        for r in region_join_ancestors(spark, stored, caps, ids, fast=False)
        .select(*cols).collect()
    }
    assert len(a) > 0, "test caps matched nothing — widen them"
    assert a == b
    assert a == c


def test_knn_attempt_pushes_candidate_ranges(stored):
    """Each kNN widening attempt must push its candidate rings' merged
    leaf ranges to the scan — never rescan the full table per attempt."""
    from rust_s2_spark.kernels import metric as metrics
    from rust_s2_spark.operators.covering_join import _ring_cells_np
    from rust_s2_spark.operators.knn import (
        _merged_biased_ranges,
        _pushdown_candidate_ranges,
    )

    lat = np.array([40.7128]); lng = np.array([-74.0060])
    lvl = metrics.MIN_WIDTH.max_level(np.radians(2.0))
    cand = _ring_cells_np(lat, lng, np.full(1, lvl))
    src = _pushdown_candidate_ranges(stored, cand, lvl, "cell_id_biased")
    plan = _plan(src)
    scan = plan[plan.find("PushedFilters") :][:200]
    assert "PushedFilters: []" not in scan, scan
    assert "Or(" in scan or "GreaterThan" in scan, scan
    # ranges are merged: a 3x3 same-level ring yields far fewer than 9
    # BETWEEN terms when cells are Hilbert-adjacent
    ranges = _merged_biased_ranges(np.concatenate(cand))
    assert 1 <= len(ranges) <= len(np.concatenate(cand))
    # level 0 / missing column → no-op, never a wrong filter
    assert _pushdown_candidate_ranges(stored, cand, 0, "cell_id_biased") is stored
    assert _pushdown_candidate_ranges(stored, cand, lvl, "nope") is stored


def test_new_embedding_ops_stay_native(spark, sf_dir):
    """IVF assignment/probing, int8 quantization, and stratified
    sampling are pure native SQL — no Python anywhere in their plans
    (the 100 TB contract: map-only scan-speed passes)."""
    import numpy as np

    from rust_s2_spark.operators.sampling import stratified_sample
    from rust_s2_spark.operators.similarity import ivf_flat_topk, quantize_embeddings

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = np.array(
        [list(r.embedding) for r in emb.where(F.col("vec_id") < 8).collect()],
        dtype=np.float64,
    )
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for df in (
        ivf_flat_topk(emb, q, 5, cents, nprobe=2),
        quantize_embeddings(emb),
        stratified_sample(
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            "lang",
            {"en": 0.5},
        ),
    ):
        plan = _plan(df)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_within_distance_is_equi_join(stored, spark):
    """The within-distance self-join must be an equi-join on the ring
    cell key — no cross/nested-loop join, no Python in the candidate
    path besides the neighbor-ring Arrow kernel."""
    from rust_s2_spark.operators.covering_join import within_distance_pairs

    df = stored.withColumn("image_id", F.col("image_id").cast("long"))
    plan = _plan(within_distance_pairs(df, 0.7))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def _literal_cell_facts(spark):
    """Facts whose cell ids are literals (no encode UDF in the plan),
    so every Python node left in a within-distance plan is the ring
    core's own."""
    rng = np.random.default_rng(11)
    lat = rng.uniform(-60.0, 60.0, 300)
    lng = rng.uniform(-180.0, 180.0, 300)
    cells = k.cell_from_latlng(lat, lng).view(np.int64)
    return spark.createDataFrame(
        [
            (i, float(a), float(b), int(c))
            for i, (a, b, c) in enumerate(zip(lat, lng, cells))
        ],
        "image_id long, lat double, lng double, cell_id long",
    )


def test_within_distance_family_one_python_stage(spark):
    """All three within-distance forms cross into Python ONCE: the ring
    core's single ring UDF (lat, lng, level) → ring, with a constant
    level, a per-row level over four radius classes, or as a self-join
    — never an encode UDF chained into a neighbor UDF, nor one pair of
    them per active level. The variable-radius join is an equi-join on
    ONE key (a cell id encodes its level; no (level, cell) composite)."""
    import math
    import re

    from rust_s2_spark.operators.covering_join import (
        radius_level_expr,
        within_distance_join_df,
        within_distance_join_df_var,
        within_distance_pairs,
    )

    facts = _literal_cell_facts(spark)

    def c2(deg):
        s = 2.0 * math.sin(0.5 * math.radians(deg))
        return s * s

    c2col = F.element_at(
        F.array(*[F.lit(c2(r)) for r in (0.2, 1.5, 8.0, 30.0)]),
        (F.col("image_id") % 4).cast("int") + 1,
    )
    probes = facts.where(F.col("image_id") % 7 == 0).select(
        F.col("image_id").alias("query_id"),
        F.col("lat").alias("qlat"),
        F.col("lng").alias("qlng"),
        c2col.alias("chord2_max"),
    )
    assert probes.select(radius_level_expr("chord2_max")).distinct().count() == 4

    def n_python(df):
        return _plan(df).count("ArrowEvalPython [")

    assert n_python(within_distance_join_df(facts, probes, 2.0)) == 1
    assert n_python(within_distance_pairs(facts, 2.0)) == 1
    var_plan = _plan(within_distance_join_df_var(facts, probes))
    assert var_plan.count("ArrowEvalPython [") == 1, var_plan
    keys = re.findall(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"
        r" \[([^\]]*)\], \[([^\]]*)\]",
        var_plan,
    )
    assert keys, var_plan
    assert all("," not in lk and "," not in rk for lk, rk in keys), keys


def test_connected_components_round_shape(spark):
    """Each hash-to-min round must be equi-join + groupBy only: no
    nested-loop join, no Python; the pair graph and labels are
    checkpointed so rounds never replay the upstream pipeline."""
    from rust_s2_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "a long, b long"
    )
    out = connected_components(pairs, driver_max_edges=0)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_pack_documents_single_shuffle_one_python(spark):
    """Packing = ONE shuffle on the group key + ONE Python node (the
    per-group greedy walk)."""
    from rust_s2_spark.operators.packing import pack_documents

    df = spark.createDataFrame(
        [("s", i, 10 + i) for i in range(50)],
        "source string, doc_id long, n_tokens long",
    )
    plan = _plan(pack_documents(df, 128))
    assert plan.count("Exchange") <= 1, plan.count("Exchange")
    assert plan.count("FlatMapGroupsInPandas") == 1


def _small_docs(spark):
    return spark.createDataFrame(
        [(i, f"document number {i} with some shared text") for i in range(50)],
        "doc_id long, text string",
    )


def test_simhash_one_vote_aggregate(spark):
    """simhash64 votes in ONE sum over (doc, bit) rows — not 64 per-bit
    aggregate columns, whose expression tree costs seconds of driver
    planning per call."""
    from rust_s2_spark.operators.dedup import simhash64

    plan = (
        simhash64(_small_docs(spark), "text", "doc_id")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("sum(") == 1, plan.count("sum(")


def test_dedup_vote_no_shingle_shuffle(spark):
    """ensemble_dedup_vote intersects per-doc shingle sets in place:
    no exchange is hash-partitioned on the shingle (the candidate ×
    shingle join and the (doc, shingle) dropDuplicates are gone)."""
    from rust_s2_spark.operators.dedup import ensemble_dedup_vote

    plan = _plan(ensemble_dedup_vote(_small_docs(spark), "text", "doc_id"))
    parts = [
        line for line in plan.splitlines() if "Exchange hashpartitioning(" in line
    ]
    assert parts, plan
    assert not [line for line in parts if "shingle" in line], parts


def test_minhash_bucket_cap_adds_no_python(stored, spark):
    from rust_s2_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"document number {i} with some shared text") for i in range(50)],
        "doc_id long, text string",
    )
    plan = _plan(
        minhash_lsh_pairs(docs, "text", "doc_id", bands=4, materialize_sigs=False)
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_within_distance_radius_sweep(spark, sf_dir):
    """Ring recall across radius regimes (deep level, metro, continental,
    level-0 fan-out): exact vs a brute-force cross-join at sf0.001."""
    from rust_s2_spark.functions import chord2_expr, xyz_cols
    from rust_s2_spark.operators.covering_join import within_distance_pairs
    from rust_s2_spark.sources import images_from_orders

    import math

    img = (
        images_from_orders(spark, sf_dir, with_bytes=False)
        .withColumn("image_id", F.col("image_id").cast("long"))
        .where(F.col("image_id") % 3 == 0)
        .cache()
    )
    img.count()
    for radius_deg in (0.05, 1.0, 25.0, 120.0):
        got = {
            (r.a, r.b)
            for r in within_distance_pairs(img, radius_deg).collect()
        }
        rad = math.radians(radius_deg)
        s = 2.0 * math.sin(0.5 * min(rad, math.pi))
        left = img.select(
            F.col("image_id").alias("a"),
            F.col("lat").alias("alat"),
            F.col("lng").alias("alng"),
        )
        right = img.select(
            F.col("image_id").alias("b"),
            F.col("lat").alias("blat"),
            F.col("lng").alias("blng"),
        )
        ax, ay, az = xyz_cols("alat", "alng")
        bx, by, bz = xyz_cols("blat", "blng")
        want = {
            (r.a, r.b)
            for r in left.crossJoin(right)
            .where(F.col("a") < F.col("b"))
            .where(chord2_expr(ax, ay, az, bx, by, bz) <= F.lit(s * s))
            .collect()
        }
        assert got == want, f"radius {radius_deg}: {len(got)} vs {len(want)}"


def test_round4_text_ops_stay_native(spark, sf_dir):
    """lang_id_profiles (7-profile argmax) and bpe_token_count (encode
    join) are pure native SQL with zero Python nodes, and the BPE vocab
    join is a broadcast hash join (the vocabulary is tiny next to the
    occurrence stream at 100 TB)."""
    from rust_s2_spark.operators.text import (
        bpe_token_count,
        lang_id_profiles,
        train_bpe_merges,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lang = lang_id_profiles(docs, "text", "doc_id")
    plan = _plan(lang)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    _, words = train_bpe_merges(docs.limit(50), "text", n_merges=2)
    enc = bpe_token_count(docs, "text", "doc_id", words)
    plan = _plan(enc)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_bpe_training_round_shape(spark, sf_dir):
    """Each BPE training round is one explode+groupBy over the DISTINCT
    word table plus a LIMIT-1 argmax — the pair-count aggregation plan
    has no Python node and aggregates with partial (map-side) combine."""
    from rust_s2_spark.operators.text import _chars_expr

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select("word", "freq", _chars_expr("word").alias("syms"))
    )
    pairs = words.select(
        "freq",
        F.explode(
            F.zip_with(
                F.slice(F.col("syms"), 1, F.size("syms") - 1),
                F.slice(F.col("syms"), 2, F.size("syms") - 1),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
        ).alias("p"),
    )
    agg = (
        pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("s"))
        .orderBy(F.desc("s"), F.asc("a"), F.asc("b"))
        .limit(1)
    )
    plan = _plan(agg)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan
    assert "TakeOrderedAndProject" in plan  # argmax = top-1, never a full sort


def test_ivf_training_round_shape(spark, sf_dir):
    """A trained-IVF Lloyd round = native assignment + ONE groupBy on
    the cell id with per-dimension integer sums (map-side combined down
    to nc partials) — no posexplode shuffle of rows*dim, no Python."""
    import numpy as np

    from rust_s2_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = np.array(
        [list(r.embedding) for r in emb.where(F.col("vec_id") < 4).collect()],
        dtype=np.float64,
    )
    qv = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * F.lit(1e6), 0).cast("long")
    )
    base = emb.select("vec_id", "embedding", qv.alias("__q"))
    assigned = ivf_assign(base, cents, "embedding", "cid")
    dim = cents.shape[1]
    aggs = [F.sum(F.col("__q")[j]).alias(f"s{j}") for j in range(dim)]
    upd = assigned.groupBy("cid").agg(F.count("*").alias("n"), *aggs)
    plan = _plan(upd)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Generate" not in plan  # no explode in the update pass


def test_pq_plans_native_one_scan(spark, sf_dir):
    """PQ encoding is a zero-Python native map pass, and the ADC top-k
    scores ALL queries in one pass over the coded table (broadcast
    query positions — never one scan per query)."""
    import numpy as np

    from rust_s2_spark.operators.similarity import (
        pq_assign_codes,
        pq_topk,
        train_pq_codebooks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = train_pq_codebooks(emb, m=4, k=8, n_iter=1)
    enc = pq_assign_codes(emb, books, "embedding", "codes")
    plan = _plan(enc)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    q = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = pq_topk(emb, q, 5, books)
    plan = _plan(top)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("FileScan parquet") == 1  # one scan for all queries
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_lsh_single_join_shape(spark, sf_dir):
    """lsh_bucket_topk computes ALL tables in one explode and joins once
    on (tbl, bkt): the plan carries exactly ONE broadcast join and ONE
    bucket-cap window — not n_tables of each (r5 restructure) — and
    stays fully native (the bucket exprs are parsed SQL, zero Python)."""
    import numpy as np

    from rust_s2_spark.operators.similarity import lsh_bucket_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    planes = np.random.default_rng(3).standard_normal((4, 6, 64))
    out = lsh_bucket_topk(spark, emb, q, 5, planes=planes, max_bucket=100)
    plan = _plan(out)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    joins = plan.count("BroadcastHashJoin") + plan.count("SortMergeJoin")
    # 1 candidate join + 1 bucket-cap join (count-filter); the old
    # per-table loop had 4 of each
    assert joins <= 2, plan


def test_dct_phash_single_python_stage(spark, sf_dir):
    """dct_phash is ONE mapInPandas over the byte scan — no shuffle, no
    second Python node: the 100 TB shape is a pure map pass."""
    from rust_s2_spark.operators.multimodal import dct_phash
    from rust_s2_spark.sources.images import images_mixed_sizes

    out = dct_phash(images_mixed_sizes(spark, sf_dir, modulus=5))
    plan = _plan(out)
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan.split("MapInPandas")[0]


def test_pq_big_regime_no_collect_plan(spark, sf_dir):
    """Above the literal budget, pq_topk's plan ships the per-query ADC
    tables as a broadcast COLUMN: still one scan, one broadcast join,
    no Python, and no nested per-query literal arrays."""
    import numpy as np

    from rust_s2_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = np.random.default_rng(5).standard_normal((4, 8, 16))
    q = emb.where(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    orig = sim.PQ_NATIVE_MAX_LITERALS
    try:
        # 40 queries * m*k=32 = 1280 > 600 -> column regime; codebook
        # m*k*subdim = 512 <= 600 -> native table expression (the
        # pandas fallback is exercised by test_pq_regimes)
        sim.PQ_NATIVE_MAX_LITERALS = 600
        out = sim.pq_topk(emb, q, 5, books)
        plan = _plan(out)
    finally:
        sim.PQ_NATIVE_MAX_LITERALS = orig
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("FileScan parquet") <= 2  # coded scan + query scan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_audio_landmark_match_broadcasts_queries(spark):
    """The retrieval join must broadcast the (small) query-side
    landmarks: the corpus landmark table comes out of mapInPandas with
    no stats, so without the hint the planner shuffles the full corpus
    on the landmark key."""
    from rust_s2_spark.operators.multimodal import (
        AUDIO_FP_BINS_WIDE,
        audio_fingerprint,
        audio_landmark_match,
    )

    clips = spark.createDataFrame(
        [(i, bytes(range(256)) * 2, "pcm16") for i in range(6)],
        "clip_id long, bytes binary, fmt string",
    )
    fp = audio_fingerprint(clips, bins=AUDIO_FP_BINS_WIDE)
    out = audio_landmark_match(
        fp, fp.where(F.col("clip_id") < 2), max_bin=31, quantize_power=True
    )
    plan = _plan(out)
    # the h-key join is a broadcast join; the only exchanges left are
    # the vote aggregation and the per-query window
    assert "BroadcastHashJoin" in plan, plan
    head = plan.split("BroadcastHashJoin")[0]
    assert "SortMergeJoin" not in head, head


def test_mutual_knn_swap_join_is_equi_join(stored, spark):
    """The mutual step (edge table joined with its swap) must be a hash
    or sort-merge equi-join on (src, dst) — never a nested loop — and
    the edge table never leaves the executors."""
    from rust_s2_spark.operators.knn import mutual_knn_pairs

    df = stored.withColumn("image_id", F.col("image_id").cast("long"))
    corpus = df.where(F.col("image_id") % 101 == 0)
    plan = _plan(mutual_knn_pairs(corpus, 2))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_region_anti_join_is_left_anti_equi_join(stored, spark):
    """Geofence exclusion: the final anti step must be a hashable
    LeftAnti equi-join on the row id, and the candidate path stays the
    ancestor equi-join (no nested loop anywhere)."""
    from rust_s2_spark.operators.covering_join import region_anti_join

    caps = [
        Cap.from_latlng_degrees(40.7128, -74.0060, 3.0),
        Cap.from_latlng_degrees(-33.8688, 151.2093, 5.0),
    ]
    plan = _plan(region_anti_join(spark, stored, caps))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    _assert_literal_side_is_local(plan)


def test_region_anti_filter_single_scan_no_join(stored):
    """The few-regions regime is ONE scan with a negated native
    predicate — no join operator at all, no Python."""
    from rust_s2_spark.operators.covering_join import region_anti_filter

    caps = [
        Cap.from_latlng_degrees(40.7128, -74.0060, 3.0),
        Cap.from_latlng_degrees(-33.8688, 151.2093, 5.0),
    ]
    plan = _plan(region_anti_filter(stored, caps))
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_suggest_eps_plan_shape(stored):
    """k-dist eps selection: the quantile-target frame (a handful of
    rows) must be BROADCAST against the ranked k-dist table, and no
    nested loop or cartesian product may appear anywhere in the
    composed plan (the knn self-join underneath is the pinned
    mutual_knn shape)."""
    from pyspark.sql import functions as F

    from rust_s2_spark.operators.clustering import suggest_eps

    df = stored.withColumn("image_id", F.col("image_id").cast("long"))
    corpus = df.where(F.col("image_id") % 101 == 0)
    plan = _plan(suggest_eps(corpus, 3, quantiles=(0.5, 0.9)))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_connected_components_no_nested_loop_rounds(spark):
    """Large-star/small-star rounds are groupBy-min + equi-joins only:
    the returned label frame's plan (checkpoint-truncated) and a probe
    round built on a live edge frame must both be free of nested
    loops, cartesian products, and Python evaluation."""
    from pyspark.sql import functions as F

    from rust_s2_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, (i * 7 + 3) % 50) for i in range(50)], "a long, b long"
    ).where(F.col("a") != F.col("b"))
    out = connected_components(pairs, driver_max_edges=0)
    plan = _plan(out)
    for bad in ("BroadcastNestedLoopJoin", "CartesianProduct",
                "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan
