"""Deduplication operators for training-data pipelines.

All hot paths are native Spark SQL (md5/array functions — JVM
codegen); the hash function is md5 so a DuckDB oracle can reproduce
every intermediate bit-for-bit.

* exact_dedup          — hash-groupBy keep-first
* minhash_lsh_pairs    — shingle → per-band minhash → bucket join
* ngram_jaccard        — exact n-gram Jaccard for candidate verification:
                         per-doc shingle sets joined to each pair side,
                         size(array_intersect) — no shingle-keyed shuffle
* phash_hamming_pairs  — near-dup images by phash hamming distance
* simhash64            — 64-bit simhash over token md5s (Spark native):
                         one vote aggregate over (doc, bit) rows

minhash and Jaccard both read ``_doc_shingles``, one per-doc aggregate
over a single shingle pass (band signatures + the distinct shingle
set); ``ensemble_dedup_vote`` builds it once for both.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.frames import local_frame

# minhash_lsh_pairs' banding defaults; ensemble_dedup_vote uses the same
# values, so its candidate set stays the one minhash_lsh_pairs proposes
_ROWS_PER_BAND = 4
_MAX_BUCKET = 1_000


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest id per distinct text (hash-groupBy; map-side
    partial aggregation keeps the shuffle tiny)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(F.min(F.col(id_col)).alias(id_col), F.count("*").alias("dup_count"))
    )


def shingles(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """Character n-gram md5s per row: (id cols..., shingle), one row
    per position — a doc's repeated n-grams stay repeated. The
    consumer (``_doc_shingles``) is duplicate-insensitive: a min over
    dup shingles is unchanged, and collect_set drops the dups per doc.

    explode(sequence) + top-level substring/md5 keeps the hashing in
    whole-stage codegen (a lambda inside transform() runs interpreted),
    and the text column is PRUNED before any shuffle — downstream
    carries (id, 32-byte hash), never the documents themselves.
    """
    keys = [c for c in df.columns if c != text_col]
    # the shingle explode multiplies rows ~1000x and every shingle pays
    # an md5 — if the input arrives as a handful of file-partitions
    # (benchmark corpora are often one parquet file), that CPU runs on
    # one core; spread the docs first (tiny shuffle, rows are pre-explode)
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par, *keys) if keys else df.repartition(par)
    pos = F.explode(
        F.sequence(
            F.lit(1), F.greatest(F.length(text_col) - F.lit(n - 1), F.lit(1))
        )
    ).alias("__pos")
    with_pos = df.select("*", pos)
    sh = F.md5(F.expr(f"substring({text_col}, __pos, {n})")).alias("shingle")
    return with_pos.select(*keys, sh)


def _doc_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    bands: int,
    rows_per_band: int,
) -> DataFrame:
    """The per-doc shingle aggregate that minhash and Jaccard share:
    (id, shingle_set, sig0..sig{bands-1}) from ONE groupBy over the
    non-distinct shingle stream.

    ``shingle_set`` is collect_set(shingle) — the distinct shingle md5s
    the exact Jaccard needs, deduplicated inside the per-doc aggregate
    instead of by a (doc, shingle) dropDuplicates shuffle. The band
    signatures come from bands × rows_per_band minhashes (see
    ``minhash_lsh_pairs``); a min over duplicate shingles equals the
    min over distinct ones, so the partial aggregation absorbs the
    duplicates map-side. A consumer that reads only one side gets the
    other pruned from the aggregate by Catalyst.
    """
    nh = bands * rows_per_band
    sh = shingles(df.select(id_col, text_col), text_col, n)
    # minhash h_i: slice four independent 32-bit (8-hex) values out of
    # each md5 instead of hashing once per i — 128 bits of md5 feed 4
    # minhashes, so ceil(nh/4) md5 calls per shingle instead of nh
    aggs = [F.collect_set("shingle").alias("shingle_set")]
    for i in range(nh):
        grp, sl = divmod(i, 4)
        src = F.md5(F.concat(F.lit(f"g{grp}:"), F.col("shingle")))
        aggs.append(F.min(F.substring(src, 1 + 8 * sl, 8)).alias(f"h{i}"))
    band_sigs = [
        F.md5(
            F.concat(
                *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
        ).alias(f"sig{b}")
        for b in range(bands)
    ]
    return sh.groupBy(id_col).agg(*aggs).select(id_col, "shingle_set", *band_sigs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    bands: int = 8,
    rows_per_band: int = _ROWS_PER_BAND,
    max_bucket: int | None = _MAX_BUCKET,
    materialize_sigs: bool = True,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded minhash (b bands ×
    r rows): minhash h_i = min over shingles of the (i mod 4)-th 8-hex
    slice of md5('g{i div 4}:' || shingle); band
    signature = md5(h_{rb} || ... || h_{rb+r-1}). Collision
    probability per band ≈ J^r, so common-vocabulary corpora don't
    explode the buckets. Rows sharing a (band, signature) bucket
    become candidate pairs (a < b). All portable SQL (DuckDB
    oracle-able); one shingle pass computes every minhash (map-side
    partial min aggregation, see ``_doc_shingles``).

    ``materialize_sigs`` (default): the per-doc signature table (one
    row per doc — ~1000× smaller than the shingle stream) is
    localCheckpoint'ed before the bucket self-join, so the shingle +
    minhash pipeline runs ONCE instead of once per join side (~6×
    end-to-end at sf0.1). Pass False to keep the plan fully lazy
    (plan-inspection tests).
    """
    docs = _doc_shingles(df, text_col, id_col, n, bands, rows_per_band)
    return _band_pairs(docs, id_col, bands, max_bucket, materialize_sigs)


def _band_pairs(
    docs: DataFrame,
    id_col: str,
    bands: int,
    max_bucket: int | None,
    materialize_sigs: bool,
) -> DataFrame:
    """minhash_lsh_pairs' bucket self-join over ``_doc_shingles`` rows."""
    wide = docs.select(id_col, *[f"sig{b}" for b in range(bands)])
    if materialize_sigs:
        wide = wide.localCheckpoint(eager=True)
    sigs = wide.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"sig{b}").alias("sig"))
                    for b in range(bands)
                ]
            )
        ).alias("bs"),
    ).select(id_col, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    sigs = _cap_buckets(sigs, ["band", "sig"], max_bucket)
    left = sigs.select(F.col(id_col).alias("a"), "band", "sig")
    right = sigs.select(F.col(id_col).alias("b"), "band", "sig")
    pairs = (
        left.join(right, ["band", "sig"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return pairs


def _cap_buckets(df: DataFrame, keys: list[str], max_bucket: int | None) -> DataFrame:
    """Drop rows whose bucket has more than ``max_bucket`` members.

    A single degenerate bucket (empty/boilerplate docs sharing one band
    signature) makes the LSH self-join O(n²) in that bucket; at 100 TB one
    hot signature is enough to wedge a stage. The groupBy is a map-side
    partial count over the same keys the join shuffles on, so the guard
    costs one cheap pre-pass. Dropped buckets are (by construction) near-
    duplicate *clusters* larger than max_bucket — callers that want those
    should handle them via exact_dedup instead of pairwise output.
    """
    if max_bucket is None:
        return df
    counts = (
        df.groupBy(*keys)
        .agg(F.count("*").alias("__bucket_n"))
        .where(F.col("__bucket_n") <= max_bucket)
        .drop("__bucket_n")
    )
    return df.join(counts, keys)


def ngram_jaccard(
    df: DataFrame, pairs: DataFrame, text_col: str, id_col: str, n: int = 5
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    Each pair joins the per-doc shingle sets of ``_doc_shingles`` once
    per side and intersects them in place:
    inter = size(array_intersect(S_a, S_b)), jaccard = inter /
    (|S_a| + |S_b| - inter). No shuffle is keyed on the shingle. Pairs
    that share no shingle (inter = 0) get no row. ``pairs`` holds
    DISTINCT (a, b) rows; a repeated pair is judged once per copy.
    Returns (a, b, jaccard)."""
    docs = _doc_shingles(df, text_col, id_col, n, bands=0, rows_per_band=0)
    return _pair_jaccard(docs, pairs, id_col)


def _pair_jaccard(docs: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """ngram_jaccard over ``_doc_shingles`` rows."""
    def side(key: str) -> DataFrame:
        return docs.select(
            F.col(id_col).alias(key), F.col("shingle_set").alias(f"__s{key}")
        )

    j = pairs.select("a", "b").join(side("a"), "a").join(side("b"), "b")
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("long")
    sizes = F.size("__sa").cast("long") + F.size("__sb").cast("long")
    jaccard = F.col("__i") / (F.col("__n") - F.col("__i"))
    return (
        j.select("a", "b", inter.alias("__i"), sizes.alias("__n"))
        .where(F.col("__i") > 0)
        .select("a", "b", jaccard.alias("jaccard"))
    )


def _phash_band_plan(max_dist: int) -> tuple[int, int]:
    """Pick (nblocks m, blocks-per-band c) so banding is EXACT for
    max_dist: partition the 64 bits into m equal blocks and emit one band
    per c-subset of blocks. A pair within hamming distance d has clean
    (identical) blocks in all but ≤ d positions, so it shares ≥ C(m-d, c)
    complete bands — ≥ 1 whenever m - c >= d (pigeonhole). The ladder
    trades band count (C(m,c) candidate passes) against band width
    (64·c/m bits of selectivity):

      d ≤ 3  → (4, 1):   4 bands × 16 bits
      d ≤ 6  → (8, 2):  28 bands × 16 bits
      d ≤ 14 → (16, 2): 120 bands × 8 bits
      d ≤ 28 → (32, 4): ~36k bands — rejected; threshold is unusable
    """
    for m, c in ((4, 1), (8, 2), (16, 2)):
        if max_dist <= m - c:
            return m, c
    raise ValueError(
        f"max_dist={max_dist} needs more than 120 bands for exact recall on "
        "a 64-bit phash; thresholds above 14 bits are not meaningful "
        "near-duplicate tests — lower max_dist or pre-cluster instead"
    )


def phash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    phash_col: str = "phash",
    max_dist: int = 8,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Near-dup images: ALL pairs with hamming(phash_a, phash_b) <= max_dist.

    Exact multi-index banding (see _phash_band_plan): the 64-bit phash is
    split into m blocks and every c-subset of blocks forms a band, which
    guarantees every pair within max_dist shares at least one band — the
    single-block scheme only guarantees d < nblocks, which silently drops
    distant pairs. Verified against an exhaustive bit_count(xor) oracle
    (driver query phash_recall). Bands ride one union + one self-join;
    everything is native bit math in whole-stage codegen.
    """
    m, c = _phash_band_plan(max_dist)
    block_bits = 64 // m
    mask = (1 << block_bits) - 1

    def block(i: int):
        return F.shiftrightunsigned(F.col(phash_col), i * block_bits).bitwiseAND(
            F.lit(mask)
        )

    combos = list(itertools.combinations(range(m), c))

    def band_val(combo):
        # fold the c blocks into ONE long (numeric group key — a string
        # key costs ~3× in the explode+shuffle at 150k rows)
        v = block(combo[0])
        for i in combo[1:]:
            v = F.shiftleft(v, block_bits).bitwiseOR(block(i))
        return v

    band_structs = [
        F.struct(F.lit(bi).alias("blk"), band_val(combo).alias("blk_val"))
        for bi, combo in enumerate(combos)
    ]
    blocked = df.select(
        F.col(id_col).alias("id"),
        F.col(phash_col).alias("ph"),
        F.explode(F.array(*band_structs)).alias("bv"),
    ).select("id", "ph", F.col("bv.blk").alias("blk"), F.col("bv.blk_val").alias("blk_val"))
    # ONE shuffle (groupBy), then in-bucket pair generation via nested
    # explode — ~1.8× faster than the two-sided self-join form at sf0.1.
    # max_bucket bounds the collect_list buffer (10k structs ≈ 160 KB) and
    # drops degenerate buckets that would otherwise be O(n²); dropped
    # clusters belong to exact_dedup, not pairwise output.
    buckets = (
        blocked.groupBy("blk", "blk_val")
        .agg(F.collect_list(F.struct("id", "ph")).alias("xs"))
        .where(F.size("xs") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.where(F.size("xs") <= max_bucket)
    x = buckets.select(F.explode("xs").alias("x"), "xs").select(
        "x", F.explode("xs").alias("y")
    )
    # hamming BEFORE distinct: one codegen bit-op per candidate copy vs a
    # shuffle over all copies — dedup only the (tiny) surviving pair set
    return (
        x.where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("a"),
            F.col("y.id").alias("b"),
            F.bit_count(F.col("x.ph").bitwiseXOR(F.col("y.ph"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_dist)
        .distinct()
    )


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit simhash over whitespace tokens (Spark-native bit math).

    Token hash = all 128 md5 bits folded to 64 via two 8-hex-char halves
    (conv() on 16 hex chars would overflow the signed long in ANSI mode,
    so the two 32-bit halves are combined with shiftleft/OR — exact);
    each bit votes ±1; sign of the vote per bit forms the fingerprint.

    The votes are ONE sum over (doc, bit) rows — every token is
    exploded over bits 0..63 — and a second groupBy ORs the bits whose
    vote is positive. 64 per-bit aggregate columns and a 64-deep OR
    chain would cost over a second of driver planning per call. Docs
    with no token get no row.
    """
    # same hazard as shingles(): the token explode multiplies rows and
    # every token pays an md5 — a single-file corpus would run all of it
    # on one core; spread the docs pre-explode (tiny shuffle)
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par, id_col)
    tokens = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("tok"),
    ).where(F.length("tok") > 0)
    md5 = F.md5(F.col("tok"))
    hi = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(md5, 9, 8), 16, 10).cast("long")
    h = F.shiftleft(hi, 32).bitwiseOR(lo)
    # hash in its own projection: an expression beside the explode
    # would be evaluated once per (token, bit) row, not once per token
    votes = (
        tokens.select(F.col(id_col), h.alias("th"))
        .select(id_col, "th", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bit"))
        .groupBy(id_col, "bit")
        .agg(F.expr("sum(IF(shiftrightunsigned(th, bit) & 1 = 1, 1, -1))").alias("v"))
    )
    return votes.groupBy(id_col).agg(
        F.expr("bit_or(IF(v > 0, shiftleft(1L, bit), 0L))").alias("simhash")
    )


def _union_find_labels(rows: list) -> tuple[list, list]:
    """Exact driver-side union-find (path halving + union by attaching
    to the smaller root): returns the columns (v, component) with
    component = the MINIMUM member id — precisely the large-star/
    small-star fixed point's labeling, so the two paths are
    interchangeable row-for-row.
    """
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    vertices = list(parent)
    return vertices, [find(v) for v in vertices]


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 25,
    driver_max_edges: int = 200_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph: the cluster
    step of dedup (each component keeps one canonical doc = the min id).

    Algorithm: alternating LARGE-STAR / SMALL-STAR edge rewrites
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the published O(log n)-round algorithm whose round count
    is INDEPENDENT of how vertex ids are laid out along the graph.
    History of this function, kept because each step failed at scale:
    hash-to-min label propagation is O(diameter) rounds and a
    geographic DBSCAN core graph is chain-like (blew past 40 rounds at
    sf0.1); adding PRAM pointer jumping (label-of-label) only helps
    when ids are ordered along the chain — with random ids (the real
    case: image ids are uncorrelated with position) a 1000-vertex path
    still needed 228 rounds in simulation, because short pointers never
    compose into long ones. Large/small-star rewrites the EDGE SET
    instead of a label table: each round every vertex connects its
    larger (then not-larger) neighbors directly to the minimum of its
    neighborhood, so stars form in ~log rounds whatever the id order
    (simulated: 20k-vertex random-id path = 13 rounds, 100x100 grid =
    8; verified against union-find on 200 random graphs).

    Exactness: both rewrites preserve the connected-component partition
    (every new edge connects two vertices already connected; every
    dropped edge (u,v) is dropped only while u and v stay connected
    through min(\u0393(u))), and the fixed point is an exact EDGE-SET
    equality check (counts + set difference — no hashes, no witnesses
    that can collide). At the fixed point the edge set is a disjoint
    union of stars centered at each component's minimum; the star shape
    is VALIDATED structurally before returning (every non-root has
    exactly one incident edge; no vertex is both root and non-root) and
    ``max_iter`` exhaustion raises rather than returning split
    components.

    At scale each round is two groupBy-min + join shuffles over the
    current edge set (which the paper bounds by |E| + n); edges are
    localCheckpoint'ed per round to truncate the iterative lineage.

    Returns (v, component): one row per vertex that appears in a
    NON-self pair (isolated docs have no pair rows and stay out, by
    construction; a vertex appearing ONLY in self-pairs (v, v) is
    likewise treated as isolated — the a != b filter drops such rows,
    and downstream select_canonical keeps absent docs by construction).

    ``driver_max_edges``: edge sets at or below this bound skip the
    distributed rounds and run exact union-find over the collected
    edges (driver traffic bounded by the parameter; the labeling —
    component = min member id — is identical to the star fixed point,
    pinned by test). At small scale each distributed round costs ~1 s
    of scheduler latency whatever the data size, so this is the
    broadcast-join analogy: same semantics, size-appropriate physical
    plan. Set 0 to always run distributed.
    """
    edges = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count()
    if driver_max_edges and n_edges <= driver_max_edges:
        # small-input fast path (round-10): below the bound the edge
        # set is driver-bounded by construction, and each distributed
        # star round costs ~1 s of pure scheduler latency regardless
        # of data size — exact union-find over the collected edges
        # reproduces the star fixed point's (v, min-id) labeling
        # row-for-row (pinned by test vs the distributed path). Large
        # edge sets (the 100 TB regime) take the distributed rounds
        # below, unchanged; pass driver_max_edges=0 to force them.
        labels = _union_find_labels(
            [(r["a"], r["b"]) for r in edges.collect()]
        )
        spark = pairs.sparkSession
        schema = edges.select(
            F.col("a").alias("v"), F.col("a").alias("component")
        ).schema
        return local_frame(spark, labels, schema).localCheckpoint(eager=True)
    vertices = (
        edges.select(F.col("a").alias("v"))
        .unionByName(edges.select(F.col("b").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    converged = n_edges == 0
    for _ in range(max_iter):
        if converged:
            break
        # LARGE-STAR: every vertex u connects each STRICTLY LARGER
        # neighbor v to m = min(neighbors(u) + [u]); m <= u < v so the
        # emitted edge is already canonical (m, v)
        sym = edges.select(
            F.col("a").alias("u"), F.col("b").alias("v")
        ).unionByName(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("__mv"))
            .select("u", F.least(F.col("__mv"), F.col("u")).alias("m"))
        )
        e1 = (
            sym.join(mins, "u")
            .where((F.col("v") > F.col("u")) & (F.col("v") != F.col("m")))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # SMALL-STAR: every vertex h connects its NOT-LARGER neighbors
        # (plus itself) to m = min of them; on canonical edges (a, b)
        # the center is b and the smaller neighbors are its a-values
        smins = e1.groupBy("b").agg(F.min("a").alias("m"))
        j = e1.join(smins, "b")
        new_edges = (
            j.where(F.col("a") != F.col("m"))
            .select(F.col("m").alias("a"), F.col("a").alias("b"))
            .unionByName(
                j.select(F.col("m").alias("a"), F.col("b").alias("b"))
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_count = new_edges.count()
        # exact fixed point: identical edge SETS (both sides distinct)
        if new_count == n_edges and new_edges.exceptAll(edges).count() == 0:
            converged = True
        edges = new_edges
        n_edges = new_count
    if not converged:
        raise RuntimeError(
            f"connected_components did not reach its fixed point in "
            f"{max_iter} rounds (pair-graph diameter exceeds max_iter); "
            "raise max_iter"
        )
    # the fixed point must be a disjoint union of stars rooted at each
    # component minimum: no vertex appears as BOTH a root and a leaf,
    # and every leaf hangs off exactly one root
    bad = (
        edges.groupBy("b").count().where(F.col("count") > 1).limit(1).count()
        + edges.select("a")
        .join(edges.select(F.col("b").alias("a")), "a", "left_semi")
        .limit(1)
        .count()
    )
    if bad:
        raise RuntimeError(
            "connected_components fixed point is not a star decomposition "
            "- this is a bug, not an input problem"
        )
    labels = edges.select(F.col("b").alias("v"), F.col("a").alias("component"))
    roots = vertices.join(
        edges.select(F.col("b").alias("v")), "v", "left_anti"
    ).select("v", F.col("v").alias("component"))
    return labels.unionByName(roots).localCheckpoint(eager=True)


def select_canonical(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
) -> DataFrame:
    """The dedup DECISION step: per near-dup cluster keep the best doc.

    clusters: (v, component) from connected_components; scores:
    (id_col, score_col). Keeper = highest score, ties to the lowest id
    (deterministic). Returns (component, keeper, n_docs) — one shuffle
    on the component key; the keeper choice is a window rank, so the
    whole decision stays relational and reproducible.
    """
    j = clusters.join(
        scores.select(F.col(id_col).alias("v"), F.col(score_col).alias("__s")),
        "v",
    )
    w = Window.partitionBy("component").orderBy(
        F.col("__s").desc(), F.col("v").asc()
    )
    ranked = j.withColumn("__rn", F.row_number().over(w))
    return (
        ranked.groupBy("component")
        .agg(
            F.max(F.when(F.col("__rn") == 1, F.col("v"))).alias("keeper"),
            F.count("*").alias("n_docs"),
        )
    )


def ensemble_dedup_vote(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    bands: int = 4,
    jaccard_min: float = 0.5,
    simhash_max_dist: int = 16,
) -> DataFrame:
    """Multi-signal near-dup DECISION: minhash banding proposes the
    candidates (recall machinery), then TWO independent exact signals
    judge each pair — n-gram Jaccard on the shingle sets and hamming
    distance between 64-bit simhashes — and ``keep`` requires both.
    The ensemble is what a production dedup pipeline actually ships:
    one probabilistic recall stage, several cheap precise verifiers, a
    conjunctive decision (each signal kills a different false-positive
    family: Jaccard kills shared-boilerplate collisions, simhash kills
    shingle-set coincidences with different token distributions).

    All three signals are existing operators (candidates join the
    simhash table twice — broadcastable); minhash and Jaccard read one
    shared per-doc shingle aggregate (``_doc_shingles``). Outputs are
    deterministic (rounded jaccard, integer hamming, boolean keep).
    Returns (a, b, jaccard, hamming, keep)."""
    shingled = _doc_shingles(docs, text_col, id_col, n, bands, _ROWS_PER_BAND)
    # materializing changes only how often the signatures are computed,
    # never the pairs
    pairs = _band_pairs(shingled, id_col, bands, _MAX_BUCKET, materialize_sigs=True)
    jac = _pair_jaccard(shingled, pairs, id_col)
    sh = simhash64(docs, text_col, id_col)
    # LEFT joins: a token-less (empty/whitespace) doc has NO simhash row
    # — with inner joins the most common duplicate class (blank docs)
    # would silently get no verdict at all (review finding). A missing
    # simhash ABSTAINS: hamming is null and the signal passes.
    j = (
        jac.join(
            sh.select(F.col(id_col).alias("a"), F.col("simhash").alias("__ha")),
            "a",
            "left",
        ).join(
            sh.select(F.col(id_col).alias("b"), F.col("simhash").alias("__hb")),
            "b",
            "left",
        )
    )
    ham = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
    return j.select(
        "a",
        "b",
        F.round("jaccard", 9).alias("jaccard"),
        ham.cast("int").alias("hamming"),
        (
            (F.col("jaccard") >= F.lit(jaccard_min))
            & (ham.isNull() | (ham <= F.lit(simhash_max_dist)))
        ).alias("keep"),
    )


def substring_containment_join(
    docs: DataFrame,
    snippets: DataFrame,
    doc_text: str = "text",
    doc_id: str = "doc_id",
    snip_text: str = "text",
    snip_id: str = "snip_id",
    k: int = 8,
    w: int = 8,
    min_matches: int = 1,
    doc_fingerprints: DataFrame | None = None,
    allow_lossy_min_matches: bool = False,
) -> DataFrame:
    """Exact substring-containment join (quote/boilerplate detection —
    'which corpus documents contain this snippet verbatim?') at scale:

      1. candidates: winnowing fingerprints of BOTH sides joined on the
         gram hash — by the winnowing guarantee any shared substring of
         length >= w + k - 1 shares at least one selected fingerprint,
         so every true containment (snippet length >= w+k-1) survives
         candidate generation: RECALL IS GUARANTEED, not probabilistic;
      2. verification: native instr() on the candidate pairs only.

    One fingerprint join + one groupBy + an exact map-side check — never
    the quadratic docs x snippets instr scan the oracle runs. The
    driver oracle IS that exhaustive scan, so the gate proves the
    candidate stage misses nothing.

    The guaranteed-recall contract holds ONLY for ``min_matches=1``
    (winnowing guarantees >= 1 shared fingerprint, not more) and for
    snippets of length >= w + k - 1 (shorter snippets may select no
    fingerprint at all). ``min_matches > 1`` is a deliberate
    precision/recall trade (fewer candidates, possible misses) and must
    be opted into explicitly via ``allow_lossy_min_matches=True``."""
    from .text import winnow_fingerprints  # circular-safe: function-level

    if min_matches != 1 and not allow_lossy_min_matches:
        raise ValueError(
            f"min_matches={min_matches} voids the guaranteed-recall "
            "contract (winnowing guarantees exactly one shared "
            "fingerprint); pass allow_lossy_min_matches=True to opt "
            "into the lossy candidate filter deliberately"
        )

    # ``doc_fingerprints``: precomputed winnow_fingerprints(docs, k, w)
    # output — the corpus fingerprint table is the expensive side and is
    # typically materialized once and shared across consumers
    fp_d = (
        doc_fingerprints
        if doc_fingerprints is not None
        else winnow_fingerprints(docs, doc_text, doc_id, k=k, w=w)
    )
    df_d = fp_d.select(F.col(doc_id).alias("__d"), F.col("gram_hash"))
    df_s = winnow_fingerprints(snippets, snip_text, snip_id, k=k, w=w).select(
        F.col(snip_id).alias("__s"), F.col("gram_hash")
    ).dropDuplicates(["__s", "gram_hash"])
    cand = (
        df_d.dropDuplicates(["__d", "gram_hash"])
        .join(df_s, "gram_hash")
        .groupBy("__d", "__s")
        .agg(F.count("*").alias("__m"))
        .where(F.col("__m") >= min_matches)
    )
    verified = (
        cand.join(docs.select(F.col(doc_id).alias("__d"), F.col(doc_text).alias("__dt")), "__d")
        .join(
            snippets.select(F.col(snip_id).alias("__s"), F.col(snip_text).alias("__st")),
            "__s",
        )
        .where(F.expr("instr(__dt, __st) > 0"))
    )
    return verified.select(
        F.col("__s").alias(snip_id), F.col("__d").alias(doc_id)
    )
