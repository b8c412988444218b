"""The benchmark's two workloads.

Each is a closed loop with one client. ``generate`` makes the seeded
inputs once; ``setup`` is one timed set-up pass of the program (stored
table, stats); ``prepare`` builds the inputs of op ``i`` outside the
timed region; ``run`` is the timed call into the package and returns
the op's output; ``check`` verifies that output against an independent
computation after the session has stopped. Every call into a package
layer sits inside a tracer span.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

import inputs as gen
from rust_s2_spark import kernels as k
from rust_s2_spark.functions import s2_all_neighbors, s2_cell_from_latlng
from rust_s2_spark.geometry import Cap
from rust_s2_spark.geometry.loop import Loop
from rust_s2_spark.operators.covering_join import (
    DEFAULT_COVERER,
    region_anti_join,
    region_join,
    region_join_ancestors,
    within_distance_join_df,
)
from rust_s2_spark.operators.dedup import (
    ensemble_dedup_vote,
    minhash_lsh_pairs,
    ngram_jaccard,
    simhash64,
)
from rust_s2_spark.operators.knn import knn_join_df
from rust_s2_spark.operators.pip import pip_filter
from rust_s2_spark.operators.polyline import near_polyline
from rust_s2_spark.plans.oracle_sql import hilbert_encode_ctes, xyz_to_ij_sql
from rust_s2_spark.plans.stats import build_cell_stats
from rust_s2_spark.sources import images_from_orders
from rust_s2_spark.sources.images import layout_write, oracle_images_sql
from rust_s2_spark.streaming.cell_stream import streaming_knn


class CheckFailed(Exception):
    pass


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: object
    digest: gen.Digest


class Workload:
    name = ""
    kinds: list[str] = []
    # the first ops of the fixed order run untraced before measuring,
    # as warm-up; the harness sets warmed_ops to the number it ran
    warmup_ops = 1
    warmed_ops = 0
    # measured ops at least, however long they take
    min_measured = 1
    # kinds a traced run calls once each, traced, after its measured
    # pairs: layer calls that the measured mix leaves out
    extra_kinds: list[str] = []

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.span = ctx.tracer.span
        self.stored: list[str] = []  # tables the set-up passes wrote

    def kind(self, i: int) -> str:
        """Kind of spec ``i``; a negative ``i`` is extra kind ``-1 - i``."""
        return self.extra_kinds[-1 - i] if i < 0 else self.kinds[i % len(self.kinds)]

    def generate(self) -> None:
        """The seeded inputs, made once by the harness (not timed)."""
        raise NotImplementedError

    def setup(self, p: int) -> None:
        """One timed set-up pass of the program."""
        raise NotImplementedError

    def check_setup(self, p: int) -> None:
        """Verify what set-up pass ``p`` stored."""

    def start(self) -> None:
        """Once, after the set-up passes and before the warm-up."""

    def prepare(self, i: int, j: int):
        """The inputs of op ``i``, made from the spec of op ``j`` (``i``
        itself, or an earlier op that a traced op repeats)."""
        raise NotImplementedError

    def run(self, i: int, prep):
        """Timed. Returns (output, items of work done)."""
        raise NotImplementedError

    def check(self, i: int, prep, out) -> None:
        raise NotImplementedError

    def layer_extras(self) -> dict:
        """Traced runs only: extra layer calls and their metrics."""
        return {}

    def close(self) -> None:
        """Stop whatever the workload started in the session."""


def table_check(orders: str, table: str, n: int) -> str | None:
    """Recompute every stored row in DuckDB from the table's keys: the
    derived columns and caption (the fidelity gate), and the cell ids
    through the pure-SQL S2 encoder of ``plans/oracle_sql.py``."""
    proj = xyz_to_ij_sql("x", "y", "z")
    lsb5 = 1 << 50
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{orders}/orders.parquet')")
        con.execute(f"CREATE VIEW stored AS SELECT * FROM read_parquet('{table}/*.parquet')")
        con.execute(f"""
CREATE TABLE enc AS
WITH pts AS (SELECT image_id, cos(radians(lng))*cos(radians(lat)) AS x,
                    sin(radians(lng))*cos(radians(lat)) AS y, sin(radians(lat)) AS z
             FROM stored),
fuv AS (SELECT image_id, x, y, z, {proj['face']} AS face FROM pts),
uv AS (SELECT image_id, face, {proj['u']} AS u, {proj['v']} AS v FROM fuv),
st AS (SELECT image_id, face, {proj['s']} AS s, {proj['t']} AS t FROM uv),
ij AS (SELECT image_id, face, {proj['i']} AS i, {proj['j']} AS j FROM st),
{hilbert_encode_ctes('ij', 'image_id')}
SELECT image_id, cell_id FROM encoded""")
        n_rows, n_ids, n_fields, n_cells = con.execute(f"""
SELECT
  (SELECT count(*) FROM stored),
  (SELECT count(DISTINCT image_id) FROM stored),
  (SELECT count(*) FROM stored s JOIN ({oracle_images_sql()}) o USING (image_id)
    WHERE s.lat = o.lat AND s.lng = o.lng AND s.phash = o.phash
      AND s.caption IS NOT DISTINCT FROM o.caption AND s.bytes IS NULL),
  (SELECT count(*) FROM stored s JOIN enc e USING (image_id)
    WHERE s.cell_id = e.cell_id
      AND s.cell_id_biased = xor(s.cell_id, -9223372036854775808)
      AND s.parent5 = ((s.cell_id & {-lsb5}) | {lsb5}))""").fetchone()
    finally:
        con.close()
    if n_rows != n or n_ids != n:
        return f"{n_rows} rows / {n_ids} ids stored, expected {n}"
    if n_fields != n:
        return f"{n - n_fields} rows differ from the derivation (fidelity gate)"
    if n_cells != n:
        return f"{n - n_cells} stored cell ids differ from the pure-SQL encoder"
    return None


# --------------------------------------------------------------------------
# spatial_query


class SpatialQuery(Workload):
    """A fixed-order mix of requests against one stored table, laid out
    by Hilbert order, reusing the same DataFrame object: six batch
    queries and one micro-batch of a running ``streaming_knn`` query
    (one seeded probe file per trigger, ``knn_join_df`` plus a
    dynamic-overwrite sink commit). Each request counts as one item.

    A batch ``knn_join_df`` call is not in the measured mix: it costs
    5-8 s, as much as three other requests, and the micro-batch runs
    the same operator. Traced runs call it once for the kNN layer's
    own figures."""

    name = "spatial_query"
    kinds = [
        "region_join", "region_join_ancestors", "pip_filter", "near_polyline",
        "region_anti_join", "within_distance_join_df", "stream_knn",
    ]
    extra_kinds = ["knn_join_df"]
    LAYER = {
        "region_join": "operators.covering_join",
        "region_join_ancestors": "operators.covering_join",
        "region_anti_join": "operators.covering_join",
        "within_distance_join_df": "operators.covering_join",
        "pip_filter": "operators.pip",
        "near_polyline": "operators.polyline",
        "knn_join_df": "operators.knn",
        "stream_knn": "streaming",
    }
    N = 60_000
    N_FILES = 16  # range buckets of the stored table: ~4k rows a file
    ROUNDS = 3  # distinct seeded specs per kind; the loop cycles through them
    PROBES = 100  # within-distance probes
    KNN_PROBES = 100
    STREAM_PROBES = 100
    K = 5
    SCHEMA = "query_id long, qlat double, qlng double"
    # no warm-up: each measured request is the first of its kind after
    # the set-up passes, and the micro-batch also fills the stream's
    # cache of the static side. A warm-up round costs 15-25 s on a
    # 4-core machine; with it a run took 60-80 s, too long for the 22
    # runs of a comparison to fit the hour
    warmup_ops = 0

    def generate(self) -> None:
        shift = gen.key_shift(self.ctx.seed)
        self.orders = gen.write_orders(f"{self.ctx.work}/table", shift + np.arange(self.N))
        self.pts = gen.oracle_points(self.orders)
        self.ctx.digest.add("table", shift, self.N)
        rng = np.random.default_rng([self.ctx.seed, 2])
        self.specs = [self._spec(kind, rng) for _ in range(self.ROUNDS) for kind in self.kinds]
        self.extra_specs = [self._spec(kind, rng) for kind in self.extra_kinds]
        for s in self.specs + self.extra_specs:
            self.ctx.digest.add(sorted((a, str(b)) for a, b in s.items()))

    def setup(self, p: int) -> None:
        """Encode and write the table through the production layout
        (range-partitioned, sorted by the biased cell id), read it back
        and build its level-7 stats."""
        path = f"{self.orders}/images{p}"
        with self.span("sources", "encode_write", items=self.N):
            layout_write(
                images_from_orders(self.spark, self.orders, with_bytes=False),
                path, n_buckets=self.N_FILES,
            )
        img = self.spark.read.parquet(path)
        old = getattr(self, "stats", None)
        with self.span("plans", "build_cell_stats"):
            stats = build_cell_stats(img, levels=(7,)).persist()
            stats.count()
        if old is not None:
            old.unpersist()
        self.img, self.stats = img, stats
        self.stored.append(path)

    def check_setup(self, p: int) -> None:
        bad = table_check(self.orders, self.stored[p], self.N)
        if bad:
            raise CheckFailed(f"table of set-up pass {p}: {bad}")

    def start(self) -> None:
        s = f"{self.ctx.work}/stream"
        self.src, self.stage, self.sink = f"{s}/src", f"{s}/stage", f"{s}/sink"
        os.makedirs(self.src)
        os.makedirs(self.stage)
        probes = (
            self.spark.readStream.schema(self.SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        self.query = streaming_knn(
            self.img, probes, self.K, self.sink, f"{s}/checkpoint", stats=self.stats
        )
        self.n_batches = 0

    def _caps(self, rng, n: int, k_rows: int):
        out = []
        for la, lo in gen.pick_centres(rng, self.pts, n):
            out.append((la, lo, gen.midpoint_radius(gen.chord2(self.pts, la, lo), k_rows)))
        return out

    def _spec(self, kind: str, rng) -> dict:
        pts = self.pts
        if kind == "region_join":
            return {"kind": kind, "caps": self._caps(rng, 3, 300)}
        if kind == "region_join_ancestors":
            return {"kind": kind, "caps": self._caps(rng, 40, 25)}
        if kind == "region_anti_join":
            return {"kind": kind, "caps": self._caps(rng, 4, 300)}
        if kind == "pip_filter":
            (la, lo), = gen.pick_centres(rng, pts, 1)
            r = gen.midpoint_radius(gen.chord2(pts, la, lo), 400) * 1.1
            return {"kind": kind, "verts": gen.hexagon(la, lo, r)}
        if kind == "near_polyline":
            (la, lo), = gen.pick_centres(rng, pts, 1)
            step = 2.0 * gen.midpoint_radius(gen.chord2(pts, la, lo), 400)
            verts = [(la, lo)]
            for b in rng.uniform(0.0, 360.0, 3):
                verts.append(gen.destination(*verts[-1], float(b), step))
            radius = gen.midpoint_radius(gen.polyline_dist2(pts, verts), 400)
            return {"kind": kind, "verts": verts, "radius": radius}
        if kind == "stream_knn":
            return {"kind": kind, "probes": gen.probe_rows(rng, pts, self.STREAM_PROBES)}
        if kind == "knn_join_df":
            return {"kind": kind, "probes": gen.probe_rows(rng, pts, self.KNN_PROBES)}
        rows = gen.probe_rows(rng, pts, self.PROBES)
        # within_distance_join_df: one radius giving ~15 pairs per probe
        target = 15 * self.PROBES
        near = np.concatenate([
            np.partition(gen.chord2(pts, pts["lat"][r], pts["lng"][r]), target)[: target + 1]
            for r in rows
        ])
        return {"kind": kind, "probes": rows, "radius": gen.midpoint_radius(near, target)}

    def prepare(self, i: int, j: int) -> dict:
        spec = self.extra_specs[-1 - j] if j < 0 else self.specs[j % len(self.specs)]
        if "probes" not in spec:
            return spec
        r = spec["probes"]
        cols = {"query_id": self.pts["id"][r], "qlat": self.pts["lat"][r],
                "qlng": self.pts["lng"][r]}
        if spec["kind"] == "stream_knn":
            path = f"{self.stage}/p{i:05d}.parquet"
            pq.write_table(pa.table(cols), path)
            return {**spec, "file": path}
        return {**spec, "frame": self.spark.createDataFrame(pd.DataFrame(cols))}

    def run(self, i: int, spec: dict):
        kind, spark, img = spec["kind"], self.spark, self.img
        iid = F.col("image_id").cast("long").alias("id")
        if kind == "stream_knn":
            # one file per trigger: micro-batch ids follow the file order
            batch = self.n_batches
            with self.span("streaming", kind, batches=[batch]):
                os.rename(spec["file"], f"{self.src}/{os.path.basename(spec['file'])}")
                self.query.processAllAvailable()
            self.n_batches += 1
            return batch, 1
        with self.span(self.LAYER[kind], kind) as rec:
            if kind in ("region_join", "region_join_ancestors"):
                caps = [Cap.from_latlng_degrees(*c) for c in spec["caps"]]
                fn = region_join if kind == "region_join" else region_join_ancestors
                rows = fn(spark, img, caps, list(range(len(caps)))).select("region_id", iid).collect()
                out = {(int(r[0]), int(r[1])) for r in rows}
            elif kind == "region_anti_join":
                caps = [Cap.from_latlng_degrees(*c) for c in spec["caps"]]
                r = region_anti_join(spark, img, caps).agg(
                    F.count("*"), F.sum(F.col("image_id").cast("long"))
                ).first()
                out = (int(r[0]), int(r[1] or 0))
            elif kind == "pip_filter":
                rows = pip_filter(img, Loop.from_latlng_degrees(spec["verts"])).select(iid).collect()
                out = {int(r[0]) for r in rows}
            elif kind == "near_polyline":
                rows = near_polyline(img, spec["verts"], spec["radius"]).select(iid).collect()
                out = {int(r[0]) for r in rows}
            elif kind == "knn_join_df":
                rows = knn_join_df(img, spec["frame"], self.K, stats=self.stats).select(
                    "query_id", "rank", iid
                ).collect()
                out = [(int(a), int(b), int(c)) for a, b, c in rows]
                rec["probes"] = self.KNN_PROBES
            else:
                rows = within_distance_join_df(img, spec["frame"], spec["radius"]).select(
                    "query_id", iid
                ).collect()
                out = {(int(a), int(b)) for a, b in rows}
            rec["matches"] = out[0] if isinstance(out, tuple) else len(out)
        return out, 1

    def check(self, i: int, spec: dict, out) -> None:
        pts, kind = self.pts, spec["kind"]
        if kind in ("region_join", "region_join_ancestors", "region_anti_join"):
            member = [
                gen.chord2(pts, la, lo) <= Cap.from_latlng_degrees(la, lo, r).radius2
                for la, lo, r in spec["caps"]
            ]
            if kind == "region_anti_join":
                keep = pts["id"][~np.any(member, axis=0)]
                want = (len(keep), int(keep.sum()))
            else:
                want = {(rid, int(x)) for rid, m in enumerate(member) for x in pts["id"][m]}
        elif kind == "pip_filter":
            want = set(pts["id"][gen.in_convex_loop(pts, spec["verts"])].tolist())
        elif kind == "near_polyline":
            d2 = gen.polyline_dist2(pts, spec["verts"])
            want = set(pts["id"][d2 <= gen.deg_to_chord2(spec["radius"])].tolist())
        elif kind == "knn_join_df":
            knn_check(pts, spec["probes"], out, self.K)
            return
        elif kind == "stream_knn":
            part = f"{self.sink}/__batch_id={out}"
            if not os.path.isdir(part):
                raise CheckFailed(f"op {i}: micro-batch {out} left no sink partition")
            got = pq.read_table(part).to_pandas()
            rows = zip(got["query_id"], got["rank"], got["image_id"].astype(np.int64))
            knn_check(pts, spec["probes"], list(rows), self.K)
            return
        else:
            lim = gen.deg_to_chord2(spec["radius"])
            want = set()
            for r in spec["probes"]:
                d2 = gen.chord2(pts, pts["lat"][r], pts["lng"][r])
                want.update((int(pts["id"][r]), int(x)) for x in pts["id"][d2 <= lim])
        if out != want:
            n_out = out[0] if isinstance(out, tuple) else len(out)
            n_want = want[0] if isinstance(want, tuple) else len(want)
            raise CheckFailed(f"op {i} {kind}: {n_out} rows, brute force gives {n_want}")

    def layer_extras(self) -> dict:
        """Covering cost and size on this run's own regions, measured on
        the coverer directly (no Spark); what the table writes stored;
        per-micro-batch durations from the streaming query's progress."""
        regions = []
        for s in self.specs:
            regions += [Cap.from_latlng_degrees(*c) for c in s.get("caps", [])]
            if s["kind"] == "pip_filter":
                regions.append(Loop.from_latlng_degrees(s["verts"]))
        times, cells = [], []
        for reg in regions:
            t = time.perf_counter()
            cov = DEFAULT_COVERER.covering(reg)
            times.append(time.perf_counter() - t)
            cells.append(len(cov.ids))
        files = [[f for f in os.listdir(t) if f.endswith(".parquet")] for t in self.stored]
        size = sum(os.path.getsize(f"{t}/{f}") for t, fs in zip(self.stored, files) for f in fs)
        # the warm-up micro-batches come first
        warm = sum(self.kind(i) == "stream_knn" for i in range(self.warmed_ops))
        prog = [p for p in self.query.recentProgress
                if p["numInputRows"] > 0 and p["batchId"] >= warm]
        dur = [p["durationMs"] for p in prog]
        sink_files = [
            len([f for f in os.listdir(f"{self.sink}/__batch_id={p['batchId']}")
                 if f.endswith(".parquet")])
            for p in prog
        ]
        return {
            "geometry.covering_s.p50": statistics.median(times),
            "geometry.covering_cells.mean": statistics.mean(cells),
            "sources.bytes_per_image": size / (self.N * len(self.stored)),
            "sources.files_per_write": statistics.mean(len(fs) for fs in files),
            "streaming.add_batch_s.p50": statistics.median(d["addBatch"] for d in dur) / 1e3,
            "streaming.trigger_overhead_s.p50": statistics.median(
                d["triggerExecution"] - d["addBatch"] for d in dur
            ) / 1e3,
            "streaming.sink_files_per_batch": statistics.mean(sink_files),
        }

    def close(self) -> None:
        q = getattr(self, "query", None)
        if q is not None and q.isActive:
            q.stop()


def knn_check(pts: dict, probe_rows: np.ndarray, out, kk: int) -> None:
    """Brute-force k nearest per probe over the whole table, ties broken
    by id; a rank may differ only between candidates whose distances
    agree to 1e-12 (two trig libraries rounding differently)."""
    if len(out) != kk * len(probe_rows):
        raise CheckFailed(f"knn: {len(out)} rows for {len(probe_rows)} probes x {kk}")
    got: dict[int, list] = {}
    for q, rank, x in sorted(out):
        got.setdefault(int(q), []).append(int(x))
    pos = {int(v): j for j, v in enumerate(pts["id"])}
    for r in probe_rows:
        q = int(pts["id"][r])
        d2 = gen.chord2(pts, pts["lat"][r], pts["lng"][r])
        near = np.flatnonzero(d2 <= np.partition(d2, kk - 1)[kk - 1])
        order = near[np.lexsort((pts["id"][near], d2[near]))][:kk]
        ids = got.get(q, [])
        if ids == [int(x) for x in pts["id"][order]]:
            continue
        got_d2 = np.array([d2[pos[x]] if x in pos else np.inf for x in ids])
        if len(ids) != kk or not np.allclose(got_d2, d2[order], rtol=1e-12, atol=1e-18):
            raise CheckFailed(f"knn: probe {q} neighbours differ from brute force")


# --------------------------------------------------------------------------
# doc_dedup


class DocDedup(Workload):
    """Repeated ensemble_dedup_vote calls on seeded subsets of a stored
    document corpus. No S2 code runs here."""

    name = "doc_dedup"
    kinds = ["ensemble_dedup_vote"]
    # on 4 cores the first call takes 12-16 s, the next ones 6-7, 5.5-6
    # and 5 s, then they settle near 4-5 s. One warm-up call takes the
    # cold start (worker start, imports, code generation) out of the
    # measured calls. They are still settling, so every run measures
    # the same two calls, the second and third: throughput then does
    # not depend on how many calls fit in the window. A second warm-up
    # call would cost 6-7 s a run
    warmup_ops = 1
    min_measured = 2
    POOL = 5000  # the size of the test corpus
    SUBSET = 600
    SAMPLE = 40  # emitted pairs whose Jaccard is recomputed per call

    def generate(self) -> None:
        ids, self.texts = gen.documents(self.ctx.seed, self.POOL)
        self.path = f"{self.ctx.work}/docs/documents.parquet"
        os.makedirs(os.path.dirname(self.path))
        pq.write_table(pa.table({"doc_id": ids, "text": self.texts}), self.path)
        self.ctx.digest.add("docs", *self.texts)

    def setup(self, p: int) -> None:
        self.docs = self.spark.read.parquet(self.path)

    def prepare(self, i: int, j: int):
        sub = np.sort(np.random.default_rng([self.ctx.seed, 5, j]).choice(
            self.POOL, self.SUBSET, replace=False
        ))
        if i == 0:
            self.ctx.digest.add("subset", sub)
        return sub, self.docs.where(F.col("doc_id").isin([int(x) for x in sub]))

    def run(self, i: int, prep):
        _, frame = prep
        with self.span("operators.dedup", "ensemble_dedup_vote") as rec:
            rows = ensemble_dedup_vote(frame, "text", "doc_id").collect()
            rec["candidates"] = len(rows)
            rec["kept"] = sum(bool(r["keep"]) for r in rows)
        self.last = prep
        return [tuple(r) for r in rows], self.SUBSET

    def check(self, i: int, prep, rows) -> None:
        sub = set(int(x) for x in prep[0])
        pairs = [(a, b) for a, b, *_ in rows]
        if len(set(pairs)) != len(pairs) or any(
            not (a < b and a in sub and b in sub) for a, b in pairs
        ):
            raise CheckFailed(f"call {i}: pairs outside the subset, unordered or repeated")
        rng = np.random.default_rng([self.ctx.seed, 6, i])
        for j in rng.choice(len(rows), min(self.SAMPLE, len(rows)), replace=False):
            a, b, jac, ham, keep = rows[int(j)]
            sa, sb = gen.shingle_set(self.texts[a]), gen.shingle_set(self.texts[b])
            want = round(len(sa & sb) / len(sa | sb), 9)
            if not math.isclose(jac, want, abs_tol=1e-9):
                raise CheckFailed(f"call {i}: jaccard({a},{b}) = {jac}, recomputed {want}")
            if keep != (jac >= 0.5 and (ham is None or ham <= 16)):
                raise CheckFailed(f"call {i}: keep flag of ({a},{b}) inconsistent")

    def layer_extras(self) -> dict:
        """The three signals of the last call, each timed on its own."""
        _, frame = self.last
        out = {}
        t = time.perf_counter()
        with self.span("operators.dedup", "minhash_lsh_pairs"):
            pairs = minhash_lsh_pairs(frame, "text", "doc_id", n=5, bands=4).persist()
            pairs.count()
        out["operators.dedup.minhash_lsh_pairs_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with self.span("operators.dedup", "ngram_jaccard"):
            ngram_jaccard(frame, pairs, "text", "doc_id", n=5).agg(F.sum("jaccard")).collect()
        out["operators.dedup.ngram_jaccard_s"] = time.perf_counter() - t
        pairs.unpersist()
        t = time.perf_counter()
        with self.span("operators.dedup", "simhash64"):
            simhash64(frame, "text", "doc_id").agg(F.sum(F.col("simhash") % 1000003)).collect()
        out["operators.dedup.simhash64_s"] = time.perf_counter() - t
        return out


WORKLOADS = {w.name: w for w in (SpatialQuery, DocDedup)}


# --------------------------------------------------------------------------
# kernel vs crossing microbench (traced runs)


def kernel_microbench(ctx: Ctx) -> dict:
    """The encode and neighbour kernels timed directly in numpy and
    through their pandas UDFs on identical seeded inputs.

    For the encode UDF the same rows also run, interleaved and three
    times each, without any UDF and through a null pandas UDF (the same
    two columns in, a column of zeros out, no kernel). Each query is
    one stage of scan, projection and partial sum plus a one-row final
    sum, so the differences of their task times split the UDF's cost
    into the Arrow crossing (null UDF minus no UDF) and the kernel
    inside Spark (encode UDF minus null UDF). The rows sit in one
    partition, so each of these queries runs one task at a time."""
    rng = np.random.default_rng([ctx.seed, 7])
    # enough rows that the kernel's share of the UDF's task time (about
    # 0.1 s of kernel) stands out from task-time noise, few enough that
    # the fifteen encode queries stay a small part of a traced run
    n_enc, n_nbr, level = 250_000, 5_000, 10
    lat = rng.uniform(-80.0, 80.0, n_enc)
    lng = rng.uniform(-180.0, 180.0, n_enc)
    ids10 = k.parent(k.cell_from_latlng(lat[:n_nbr], lng[:n_nbr]), level)

    def best(fn) -> float:
        ts = []
        for _ in range(3):
            t = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t)
        return statistics.median(ts)

    @pandas_udf(LongType())
    def null_udf(lat: pd.Series, lng: pd.Series) -> pd.Series:
        return pd.Series(np.zeros(len(lat), dtype=np.int64))

    t_enc = best(lambda: k.cell_from_latlng(lat, lng))
    t_nbr = best(lambda: k.all_neighbors(ids10, level))
    # one partition: each query is one task with the machine to itself,
    # so its task time is not inflated by the other tasks' contention
    enc_frame = ctx.spark.createDataFrame(
        pd.DataFrame({"lat": lat, "lng": lng})).coalesce(1).persist()
    nbr_frame = ctx.spark.createDataFrame(pd.DataFrame({"c10": ids10.view(np.int64)})).persist()
    enc_frame.count()
    nbr_frame.count()

    def total(c):
        return enc_frame.select(c.alias("c")).agg(F.sum(F.col("c") % 1000003))

    # a fresh DataFrame per run: re-running one object would reuse its
    # materialized shuffle output and skip the UDF stage
    queries = {
        ("functions.baseline", "no_udf"): lambda: total(
            (F.col("lat") * 1e6).cast("long") + (F.col("lng") * 1e6).cast("long")),
        ("functions.baseline", "null_udf"): lambda: total(null_udf("lat", "lng")),
        ("functions", "s2_cell_from_latlng"): lambda: total(s2_cell_from_latlng("lat", "lng")),
    }
    for query in queries.values():
        query().collect()  # warm the worker-side imports
    enc_s = []
    for _ in range(3):
        for (layer, name), query in queries.items():
            with ctx.tracer.span(layer, name, items=n_enc):
                t = time.perf_counter()
                query().collect()
                if name == "s2_cell_from_latlng":
                    enc_s.append(time.perf_counter() - t)
    def nbr_query():
        return nbr_frame.select(
            F.size(s2_all_neighbors("c10", level)).alias("n")).agg(F.sum("n"))

    nbr_query().collect()
    with ctx.tracer.span("functions", "s2_all_neighbors", items=n_nbr):
        t = time.perf_counter()
        nbr_query().collect()
        nbr_s = time.perf_counter() - t
    enc_frame.unpersist()
    nbr_frame.unpersist()
    return {
        "kernels.cell_from_latlng.rows_per_s": n_enc / t_enc,
        "kernels.all_neighbors.rows_per_s": n_nbr / t_nbr,
        "functions.s2_cell_from_latlng.rows_per_s": n_enc / statistics.median(enc_s),
        "functions.s2_all_neighbors.rows_per_s": n_nbr / nbr_s,
    }
