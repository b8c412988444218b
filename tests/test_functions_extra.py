"""Per-row covering UDF, simhash, text operators (API-level tests)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rust_s2_spark.functions import s2_cap_covering
from rust_s2_spark.sources import images_from_orders


@pytest.fixture(scope="module")
def images(spark, sf_dir):
    df = images_from_orders(spark, sf_dir, with_bytes=False).cache()
    df.count()
    return df


def test_per_row_cap_covering_fast_default(spark, images):
    """Default = VECTORIZED batch fast covering: per-row output equals the
    scalar RegionCoverer.fast_covering bit-for-bit (which is itself
    refdump-pinned), and the covering contains its own center leaf."""
    out = (
        images.limit(50)
        .withColumn(
            "cov", s2_cap_covering("lat", "lng", F.lit(0.5), max_cells=8)
        )
        .select("lat", "lng", "cov")
        .collect()
    )
    from rust_s2_spark.geometry import Cap, CellUnion, RegionCoverer
    from rust_s2_spark.kernels import cellid as k

    rc = RegionCoverer(min_level=0, max_level=30, level_mod=1, max_cells=8)
    for r in out:
        assert 1 <= len(r.cov) <= 6
        want = rc.fast_covering(Cap.from_latlng_degrees(r.lat, r.lng, 0.5))
        got = np.array(r.cov, dtype=np.int64).view(np.uint64)
        assert np.array_equal(got, want.ids)
        cu = CellUnion(got, normalized=True)
        leaf = k.cell_from_latlng(np.array([r.lat]), np.array([r.lng]))
        assert cu.contains_ids(leaf)[0]


def test_per_row_cap_covering_exact(spark, images):
    out = (
        images.limit(20)
        .withColumn(
            "cov",
            s2_cap_covering("lat", "lng", F.lit(0.5), max_cells=8, exact=True),
        )
        .select("lat", "lng", "cov")
        .collect()
    )
    from rust_s2_spark.geometry import Cap, CellUnion, RegionCoverer
    from rust_s2_spark.kernels import cellid as k

    rc = RegionCoverer(min_level=0, max_level=30, level_mod=1, max_cells=8)
    for r in out:
        assert 1 <= len(r.cov) <= 8
        want = rc.covering(Cap.from_latlng_degrees(r.lat, r.lng, 0.5))
        got = np.array(r.cov, dtype=np.int64).view(np.uint64)
        assert np.array_equal(np.sort(got), np.sort(want.ids))
        cu = CellUnion(got, normalized=True)
        leaf = k.cell_from_latlng(np.array([r.lat]), np.array([r.lng]))
        assert cu.contains_ids(leaf)[0]


def test_batch_fast_covering_kernel_parity():
    """cap_fast_covering == scalar fast_covering over a broad random mix
    of radii (tiny, metro, continental, >=hemisphere) and positions."""
    from rust_s2_spark.geometry import Cap, RegionCoverer
    from rust_s2_spark.kernels import cellid as k

    rng = np.random.default_rng(123)
    n = 600
    lat = rng.uniform(-89.99, 89.99, n)
    lng = rng.uniform(-180, 180, n)
    rad = np.concatenate(
        [
            rng.uniform(1e-9, 1e-3, n // 4),
            rng.uniform(1e-3, 5.0, n // 4),
            rng.uniform(5.0, 100.0, n // 4),
            rng.uniform(100.0, 180.0, n - 3 * (n // 4)),
        ]
    )
    pad, cnt = k.cap_fast_covering(lat, lng, rad)
    rc = RegionCoverer()
    for i in range(n):
        want = rc.fast_covering(Cap.from_latlng_degrees(lat[i], lng[i], rad[i])).ids
        assert np.array_equal(pad[i, : cnt[i]], want), (lat[i], lng[i], rad[i])


def test_simhash_similar_docs_close(spark):
    from rust_s2_spark.operators.dedup import simhash64

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "completely different words entirely unrelated topic matter"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.simhash for r in simhash64(df, "text", "doc_id").collect()}
    ham01 = bin(out[0] ^ out[1]).count("1")
    ham02 = bin(out[0] ^ out[2]).count("1")
    assert ham01 < ham02


def test_quality_and_langid_api(spark, sf_dir):
    from rust_s2_spark.operators.text import lang_id, quality_score, token_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = quality_score(docs, "text", "doc_id")
    assert q.where((F.col("quality") < 0) | (F.col("quality") > 1)).count() == 0
    t = token_stats(docs, "text", "doc_id")
    assert t.where(F.col("n_tokens") <= 0).count() == 0
    l = lang_id(docs, "text", "doc_id")
    vals = set(r.lang_guess for r in l.select("lang_guess").distinct().collect())
    assert vals <= {"en", "unknown"}


def test_lsh_bucket_topk_recall(spark, sf_dir):
    from rust_s2_spark.operators.similarity import brute_force_topk, lsh_bucket_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, 5).collect()
    # near-random embeddings → low-cosine neighbors; few planes + many
    # tables is the right operating point (P(bucket match) ~ (1-θ/π)^planes)
    approx = lsh_bucket_topk(spark, emb, queries, 5, n_tables=8, n_planes=4).collect()
    exact_set = {(r.query_id, r.vec_id) for r in exact}
    approx_set = {(r.query_id, r.vec_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.35  # ANN: partial recall expected, not exactness


def test_connected_components(spark):
    """Hash-to-min components: a path graph (needs multiple propagation
    rounds), a clique, and a separate pair — labels = min id per
    component; vertices not in any pair stay out."""
    from rust_s2_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # path 1-2-3-4-5 (diameter 4), clique {10,11,12}, pair {20,21}
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (10, 12), (11, 12),
         (20, 21)],
        "a long, b long",
    )
    got = {(r.v, r.component) for r in connected_components(pairs).collect()}
    want = {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
            (10, 10), (11, 10), (12, 10),
            (20, 20), (21, 20)}
    assert got == want


def test_connected_components_raises_when_not_converged(spark, monkeypatch):
    """A path far longer than 2^max_iter hops CANNOT converge (hop +
    pointer-jump covers at most ~doubling reach per round) — the
    operator must raise, never silently return split components
    (round-3 ADVICE, re-pinned after the round-9 pointer-jump
    upgrade)."""
    import pytest

    from rust_s2_spark.operators import dedup
    from rust_s2_spark.operators.dedup import connected_components

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "a long, b long"
    )
    # a 0-edge driver bound forces the distributed star rounds
    monkeypatch.setattr(dedup, "_DRIVER_MAX_EDGES", 0)
    with pytest.raises(RuntimeError, match="fixed point"):
        connected_components(path, max_iter=2)
    # and with enough rounds the same graph is one component
    got = {r.component for r in
           connected_components(path, max_iter=12).collect()}
    assert got == {0}


def test_connected_components_log_rounds_on_chains(spark, monkeypatch):
    """The round-9 scale fix: a 2000-vertex PATH (diameter 1999 — the
    chain shape a geographic DBSCAN core graph produces, which blew
    past 40 hash-to-min rounds at sf0.1) converges within the DEFAULT
    max_iter=25, with vertex ids SHUFFLED relative to the chain order
    — the real case (image ids are uncorrelated with position) and the
    one that killed the pointer-jumping attempt: label-of-label only
    composes long pointers when ids are ordered along the chain (a
    1000-vertex random-id path needed 228 rounds in simulation).
    Large-star/small-star is id-layout-independent: ~log n rounds."""
    import random

    from rust_s2_spark.operators import dedup
    from rust_s2_spark.operators.dedup import connected_components

    rng = random.Random(9)
    ids = list(range(2000))
    rng.shuffle(ids)
    path = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(1999)], "a long, b long"
    )
    # a 0-edge driver bound forces the distributed star rounds (the
    # small-input union-find path would otherwise shortcut this)
    monkeypatch.setattr(dedup, "_DRIVER_MAX_EDGES", 0)
    out = connected_components(path).collect()
    assert len(out) == 2000
    assert {r.component for r in out} == {0}


def test_pack_documents_invariants(spark):
    """Greedy packing: per-pack token totals never exceed the budget
    (except single oversized docs, which pack alone), packs are
    contiguous in doc order, and every doc appears exactly once."""
    from rust_s2_spark.operators.packing import pack_documents

    rows = [("s", i, t) for i, t in enumerate([100, 250, 300, 700, 50, 50, 650, 10])]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    out = pack_documents(df, 600).orderBy("doc_id").collect()
    assert [r.doc_id for r in out] == list(range(8))
    # budget 600: [100,250] (350), [300] then 700 overflows -> 700 alone...
    # walk: 100+250=350, +300=650>600 -> pack1 starts at 300; 300+700>600
    # -> pack2 = [700] (oversized alone since next also overflows);
    # 700+50>600 -> pack3 = [50,50]; +650>600 -> pack4 = [650]; 650+10>600
    # -> pack5 = [10]
    assert [(r.pack_id, r.pack_pos) for r in out] == [
        (0, 0), (0, 1), (1, 0), (2, 0), (3, 0), (3, 1), (4, 0), (5, 0)
    ]
    # invariant over the real corpus shape: totals within budget unless solo
    import itertools

    big = spark.createDataFrame(
        [("g", i, 37 + (i * 97) % 400) for i in range(200)],
        "source string, doc_id long, n_tokens long",
    )
    packed = pack_documents(big, 512).collect()
    key = lambda r: r.pack_id
    for pid, grp in itertools.groupby(sorted(packed, key=key), key=key):
        grp = list(grp)
        total = sum(r.n_tokens for r in grp)
        assert total <= 512 or len(grp) == 1


def test_lang_id_profiles_classifies_obvious_sentences(spark):
    """The multi-language profile scorer must pick the right language on
    unambiguous sentences in each of its 7 profiles, prefer 'unknown'
    for non-language noise, and resolve shared function words (de/nl
    'de', en/it overlap) by the argmax, not the first hit."""
    from rust_s2_spark.operators.text import LANGS, lang_id_profiles

    rows = [
        (0, "the cat sat on the mat and it was happy for the rest of the day", "en"),
        (1, "der hund und die katze sind nicht mit dem kind zu hause", "de"),
        (2, "le chat est dans la maison et les enfants sont pour une fois", "fr"),
        (3, "el perro y la casa son un lugar que no es para los gatos", "es"),
        (4, "il gatto non è che una bestia per la casa e gli amici", "it"),
        (5, "de hond en het huis zijn niet met de kat op een boot", "nl"),
        (6, "o gato e a casa não são um lugar que os cães para ver", "pt"),
        (7, "zzz qqq xxx yyy www vvv", "unknown"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    got = {r.doc_id: r.lang for r in lang_id_profiles(df, "text", "doc_id").collect()}
    for i, _, want in rows:
        assert got[i] == want, (i, got[i], want)
    assert set(LANGS) == {"de", "en", "es", "fr", "it", "nl", "pt"}


def test_bpe_train_and_encode(spark):
    """Merge-table BPE as a DataFrame job: on a corpus where 'ab' is the
    dominant pair the first merge must be (a,b); the greedy fold must
    handle overlapping pairs ('aaa' + merge (a,a) -> [aa, a]); encoding
    counts must equal len(encoded symbols) per word with char-level
    fallback for unseen words."""
    from rust_s2_spark.operators.text import (
        bpe_token_count,
        train_bpe_merges,
    )

    docs = spark.createDataFrame(
        [(0, "abab abab abx"), (1, "abab cd cd"), (2, "aaa aaa")],
        "doc_id long, text string",
    )
    merges, words = train_bpe_merges(docs, "text", n_merges=2)
    assert merges[0] == ("a", "b")
    w = {r.word: list(r.syms) for r in words.collect()}
    assert w["abab"] in ([["ab", "ab"]], [["abab"]]) or w["abab"][0] in ("ab", "abab")
    # overlapping-pair greediness: if (a,a) was ever merged, 'aaa' -> [aa, a]
    counts = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in bpe_token_count(docs, "text", "doc_id", words).collect()
    }
    assert counts[0][0] == 3 and counts[1][0] == 3 and counts[2][0] == 2
    # every encoded count is <= the raw char count and >= the word count
    for did, (nw, nb) in counts.items():
        assert nb >= nw

    # explicit greedy-fold check through the public path: train (a,a)
    aa_docs = spark.createDataFrame([(0, "aaa aaa aaa")], "doc_id long, text string")
    m2, w2 = train_bpe_merges(aa_docs, "text", n_merges=1)
    assert m2 == [("a", "a")]
    syms = list(w2.collect()[0].syms)
    assert syms == ["aa", "a"]


def test_winnowing_guarantee_and_density(spark):
    """The winnowing contract (Schleimer et al.): two documents sharing
    a substring of length >= w + k - 1 MUST share at least one selected
    fingerprint hash; density over random text is ~2/(w+1); tie rule is
    rightmost (verified by an all-equal-hash doc selecting one
    fingerprint per window, at the window's last position)."""
    from rust_s2_spark.operators.text import winnow_fingerprints

    k, w = 5, 4
    shared = "thequickbrownfoxjumps"  # length 21 >= w + k - 1 = 8
    rows = [
        (0, "aaaaaa" + shared + "zzzzzz"),
        (1, "qqqqqqqqqq" + shared + "pppp"),
        (2, "completely unrelated content here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, "text", "doc_id", k=k, w=w).collect()
    per = {}
    for r in fps:
        per.setdefault(r.doc_id, set()).add(r.gram_hash)
    assert per[0] & per[1], "shared substring must share a fingerprint"

    # rightmost tie rule: a doc of one repeated char has ONE distinct
    # k-gram hash; every window picks its rightmost position
    one = spark.createDataFrame([(9, "aaaaaaaaaaaa")], "doc_id long, text string")
    sel = winnow_fingerprints(one, "text", "doc_id", k=k, w=w).collect()
    n_grams = 12 - k + 1  # 8 grams, 5 windows (j=1..5)
    positions = sorted(r.pos for r in sel)
    # window j covers grams j..j+w-1; rightmost min = j+w-1
    assert positions == [j + w - 1 for j in range(1, n_grams - w + 2)]
    assert len({r.gram_hash for r in sel}) == 1


def test_sessionize_boundaries(spark):
    """Session cuts: a gap strictly greater than the threshold starts a
    new session, a gap exactly equal does NOT; the event-id tiebreak
    makes simultaneous events deterministic; stats are integer-exact."""
    from datetime import datetime

    from rust_s2_spark.operators.sessions import session_stats, sessionize

    t0 = datetime(2024, 1, 1, 0, 0, 0)

    def at(sec):
        return datetime(2024, 1, 1, 0, 0, 0).replace(second=0) if sec == 0 else t0.fromtimestamp(t0.timestamp() + sec)

    rows = [
        (1, 10, t0),
        (2, 10, at(600)),    # exactly the 600 s gap: same session
        (3, 10, at(1201)),   # 601 s after event 2: new session
        (4, 20, t0),         # other user independent
        (5, 20, t0),         # simultaneous: tiebreak by event_id
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp_ntz")
    s = {r.event_id: r.session_idx for r in sessionize(df, gap_seconds=600).collect()}
    assert s[1] == 1 and s[2] == 1 and s[3] == 2
    assert s[4] == 1 and s[5] == 1

    stats = {
        (r.user_id, r.session_idx): (r.n_events, r.duration_us, r.first_event)
        for r in session_stats(df, gap_seconds=600).collect()
    }
    assert stats[(10, 1)] == (2, 600_000_000, 1)
    assert stats[(10, 2)] == (1, 0, 3)
    assert stats[(20, 1)] == (2, 0, 4)


def test_review_fix_regressions(spark):
    """Pins for the post-round review fixes: degenerate trajectories
    are filtered (not ANSI crashes), odd pcm buffers trim, BPE keeps
    its vocabulary when merges exhaust, and bench's doc replicas are
    genuinely unique."""
    import pathlib
    import sys

    from rust_s2_spark.operators.multimodal import audio_features
    from rust_s2_spark.operators.polyline import polyline_crossing_join
    from rust_s2_spark.operators.text import bpe_token_count, train_bpe_merges

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
    from bench import _scale_docs

    # 1-vertex and empty trajectories must not kill the job
    t = spark.createDataFrame(
        [
            (1, [40.0, 40.4], [-74.4, -74.0]),
            (2, [40.4, 40.0], [-74.4, -74.0]),
            (3, [41.0], [-74.2]),
            (4, [], []),
        ],
        "traj_id long, lats array<double>, lngs array<double>",
    )
    pairs = {(r.a, r.b) for r in polyline_crossing_join(t, 0.8).collect()}
    assert pairs == {(1, 2)}

    # odd-length pcm16 buffer: trailing byte trimmed, not a crash
    a = spark.createDataFrame([(0, bytes([1, 2, 3]))], "clip_id long, bytes binary")
    row = audio_features(a).collect()[0]
    assert row.n_samples == 1 and row.peak == 513

    # BPE merges exhaust before n_merges: vocab kept, encode consistent
    deg = spark.createDataFrame([(0, "ab ab"), (1, "ab")], "doc_id long, text string")
    merges, words = train_bpe_merges(deg, "text", n_merges=4)
    assert merges == [("a", "b")]
    counts = {
        r.doc_id: r.n_bpe_tokens
        for r in bpe_token_count(deg, "text", "doc_id", words).collect()
    }
    assert counts == {0: 2, 1: 1}

    # _scale_docs replicas are unique per replicated id
    docs = spark.createDataFrame([(0, "x" * 100), (1, "y" * 100)], "doc_id long, text string")
    texts = [r.text for r in _scale_docs(docs, 3).collect()]
    assert len(set(texts)) == len(texts) == 6


def test_ivf_assign_zero_centroid_sentinel(spark, monkeypatch):
    """A zero-norm (dead) centroid must never win assignment in EITHER
    regime — the native path's 0/0 NaN previously sorted greatest and
    captured every row (review finding)."""
    import numpy as np

    from rust_s2_spark.operators import similarity
    from rust_s2_spark.operators.similarity import ivf_assign

    emb = spark.createDataFrame(
        [(i, [float(i + 1), 1.0, -0.5, 2.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    cents = np.array(
        [[0.0, 0.0, 0.0, 0.0], [1.0, 1.0, 0.0, 1.0], [-1.0, 0.5, 1.0, -1.0]]
    )
    nat = {r.vec_id: r.cid for r in ivf_assign(emb, cents).collect()}
    # a 0-literal budget forces the pandas-UDF matmul regime
    monkeypatch.setattr(similarity, "IVF_NATIVE_MAX_LITERALS", 0)
    pud = {r.vec_id: r.cid for r in ivf_assign(emb, cents).collect()}
    assert nat == pud
    assert 0 not in set(nat.values())


def test_surprisal_score_semantics(spark):
    """Corpus-trained surprisal: frequent tokens score less than rare
    ones, OOV (outside top_k) scores the max, sums are integer-exact,
    and empty-token docs vanish (SQL-twin semantics)."""
    from rust_s2_spark.operators.text import surprisal_score

    # 'the' x 8, 'rare' x 1  -> total 9 tokens (plus doc 2's words)
    docs = spark.createDataFrame(
        [
            (0, "the the the the the the the the"),
            (1, "rare the"),
            (2, "unseen1 unseen2"),
            (3, "   "),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in surprisal_score(docs, "text", "doc_id").collect()}
    # total = 12 tokens -> len(bin(12)) = 4
    # the: c=9  -> 4 - len(bin(10)) = 0 ; rare/unseen*: c=1 -> 4 - len(bin(2)) = 2
    assert out[0].sum_surprisal == 0
    assert out[1].sum_surprisal == 2 + 0
    assert out[2].sum_surprisal == 4
    assert 3 not in out  # whitespace-only doc has no tokens

    # top_k cutoff: with top_k=1 only 'the' is in vocab, others are OOV
    oov = {r.doc_id: r.sum_surprisal for r in surprisal_score(docs, "text", "doc_id", top_k=1).collect()}
    # OOV: 4 - len(bin(1)) = 3 per token
    assert oov[2] == 6

    # clamp: a token holding ~ALL the mass raw-scores -1 (total=1, c=1
    # -> 1 - len(bin(2))); engine AND oracle clamp the staircase at 0
    solo = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    assert surprisal_score(solo, "text", "doc_id").collect()[0].sum_surprisal == 0


def test_redact_pii_semantics(spark):
    """Redaction: emails/SSN-shapes/phones replaced with tags, counts
    on the original text, non-PII digits untouched, SSN (3-2-4) never
    confused with phone (3-3-4)."""
    from rust_s2_spark.operators.text import redact_pii

    rows = [
        (0, "mail a.b+c@test.org or x@y.io now"),
        (1, "ssn 123-45-6789 phone 555-867-5309"),
        (2, "order 12345 costs 12.50 at 3-4-5"),
        (3, "dotted 555.867.5309 works too"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in redact_pii(df, "text", "doc_id").collect()}
    assert got[0].n_email == 2 and "[EMAIL]" in got[0].redacted
    assert "@" not in got[0].redacted
    assert got[1].n_ssn == 1 and got[1].n_phone == 1
    assert got[1].redacted == "ssn [SSN] phone [PHONE]"
    assert got[2].n_email == got[2].n_ssn == got[2].n_phone == 0
    assert got[2].redacted == rows[2][1]
    assert got[3].n_phone == 1 and got[3].redacted == "dotted [PHONE] works too"


def test_ensemble_vote_blank_docs_get_verdicts(spark):
    """Blank/token-less docs are the most common real duplicate class:
    they must receive a verdict (simhash abstains via the LEFT join),
    never silently vanish from the decision output (review finding)."""
    from rust_s2_spark.operators.dedup import ensemble_dedup_vote

    docs = spark.createDataFrame(
        [(0, ""), (1, ""), (2, "real content words here " * 10), (3, "")],
        "doc_id long, text string",
    )
    out = {(r.a, r.b): r for r in ensemble_dedup_vote(docs, "text", "doc_id").collect()}
    blank_pairs = {(0, 1), (0, 3), (1, 3)}
    assert blank_pairs <= set(out)
    for p in blank_pairs:
        assert out[p].jaccard == 1.0
        assert out[p].hamming is None  # simhash abstained
        assert out[p].keep is True


_AWKWARD_DOCS = [
    (0, None),
    (1, ""),
    (2, ""),
    (3, "   "),
    (4, " \t\n "),
    (5, " " * 8),
    (6, " " * 9),
    (7, "abc"),
    (8, "abc"),
    (9, "abcd"),
    (10, "the quick brown fox jumps over the lazy dog"),
    (11, "the quick brown fox jumps over the lazy dog"),
    (12, "the quick brown fox jumps over the lazy cat"),
    (13, None),
    (14, "  lead and trail  "),
]


def test_dedup_awkward_docs_match_oracles(spark):
    """Null text, empty text, whitespace-only text, text shorter than
    n and exact-duplicate texts: ensemble_dedup_vote and simhash64
    return what the driver oracles o_dedup_vote and o_simhash return in
    DuckDB on the same rows."""
    import duckdb
    import pandas as pd

    from rust_s2_spark.operators.dedup import ensemble_dedup_vote, simhash64
    from rust_s2_spark.plans.driver_queries import o_dedup_vote, o_simhash

    docs = spark.createDataFrame(_AWKWARD_DOCS, "doc_id long, text string")
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(_AWKWARD_DOCS, columns=["doc_id", "text"])
    )

    want_sim = {tuple(r) for r in con.execute(o_simhash()).fetchall()}
    got_sim = {tuple(r) for r in simhash64(docs, "text", "doc_id").collect()}
    assert got_sim == want_sim

    want = sorted(con.execute(o_dedup_vote()).fetchall())
    got = sorted(tuple(r) for r in ensemble_dedup_vote(docs, "text", "doc_id").collect())
    assert [(a, b, h, k) for a, b, _, h, k in got] == [
        (a, b, h, k) for a, b, _, h, k in want
    ]
    for g, w in zip(got, want):
        assert g[2] == pytest.approx(w[2], abs=1e-9), (g, w)
    # the awkward classes really are in play: the two empty docs, the
    # two whitespace runs longer than n, the two short and the two
    # long exact duplicates each form a pair with Jaccard 1
    assert {(1, 2), (5, 6), (7, 8), (10, 11)} <= {(a, b) for a, b, *_ in got}
    con.close()


def test_decontaminate_and_repetition_semantics(spark):
    """Planted decontamination + Gopher-repetition cases: only the doc
    sharing an n-gram with the benchmark is flagged (with the right
    distinct-gram count); dup fractions and top-token share are exact;
    token-less docs vanish; short docs guard the descending-sequence
    hazard."""
    from rust_s2_spark.operators.text import ngram_decontaminate, repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different content with no overlap whatsoever here"),
            (3, "spam spam spam spam spam spam"),
            (4, "one two"),
            (5, "   "),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "we saw the quick brown fox jumps over a fence")],
        "doc_id long, text string",
    )
    hits = {r.doc_id: r.n_hits for r in ngram_decontaminate(docs, bench, n=5).collect()}
    # doc 1 shares exactly two 5-grams: 'the quick brown fox jumps'
    # and 'quick brown fox jumps over'
    assert hits == {1: 2}

    rs = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert 5 not in rs  # whitespace-only doc has no tokens
    assert rs[3].dup2_frac == 0.8 and rs[3].dup3_frac == 0.75
    assert rs[3].top_token_share == 1.0
    assert rs[4].n_tokens == 2 and rs[4].dup2_frac == 0.0 and rs[4].dup3_frac == 0.0
    assert rs[1].top_token_share == 0.2  # 'the' twice in 10 tokens


def test_hll_count_distinct_properties(spark):
    """Deterministic HLL: estimate within the expected band, EXACT
    invariance under row duplication (the sketch sees values, not
    rows), and determinism across runs (identical register sums)."""
    from pyspark.sql import functions as F

    from rust_s2_spark.operators.sketches import hll_count_distinct

    df = spark.range(30000).select((F.col("id") % 3).alias("g"), (F.col("id") % 9973).alias("v"))
    one = hll_count_distinct(df, "v", ["g"]).collect()
    exact = {r.g: r.c for r in df.groupBy("g").agg(F.countDistinct("v").alias("c")).collect()}
    for r in one:
        assert abs(r.hll_estimate - exact[r.g]) / exact[r.g] < 0.15, r
    # duplication invariance: union with itself -> identical sketch
    dup = hll_count_distinct(df.unionAll(df), "v", ["g"]).collect()
    assert {(r.g, r.hll_s, r.hll_estimate) for r in dup} == {
        (r.g, r.hll_s, r.hll_estimate) for r in one
    }
    # determinism: a second independent evaluation is bit-identical
    two = hll_count_distinct(df, "v", ["g"]).collect()
    assert sorted(map(tuple, two)) == sorted(map(tuple, one))


def test_cm_sketch_properties(spark):
    """Count-Min: estimates NEVER undercount, are exact when a key's d
    counters are collision-free, and are deterministic across runs."""
    from pyspark.sql import functions as F

    from rust_s2_spark.operators.sketches import cm_sketch_estimate

    df = spark.range(40000).select((F.col("id") % 400).alias("v"))
    est = {r.key: r.cm_count for r in cm_sketch_estimate(df, "v", d=4, w=256).collect()}
    exact = {str(r.v): r.c for r in df.groupBy("v").agg(F.count("*").alias("c")).collect()}
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)  # one-sided error
    # a wide sketch vs few keys: no collisions -> exact everywhere
    small = spark.range(3000).select((F.col("id") % 10).alias("v"))
    est2 = {r.key: r.cm_count for r in cm_sketch_estimate(small, "v", d=4, w=4096).collect()}
    exact2 = {str(r.v): r.c for r in small.groupBy("v").agg(F.count("*").alias("c")).collect()}
    assert est2 == exact2
    again = {r.key: r.cm_count for r in cm_sketch_estimate(df, "v", d=4, w=256).collect()}
    assert again == est


def test_cm_counters_equal_raw_row_fold(spark):
    """Round-10 restructure pin: cm_sketch_estimate derives its d x w
    counters from per-key counts (one explode over DISTINCT keys)
    instead of exploding every raw row. The counter a key reads must
    equal the raw-row fold — duplicates summed through the per-key
    path, null values contributing nothing — so estimates are
    bit-identical to the pre-restructure (and oracle) definition."""
    from pyspark.sql import functions as F

    from rust_s2_spark.operators.sketches import _cm_bucket, cm_sketch_estimate

    d, w = 3, 8  # tiny grid -> guaranteed collisions exercise the sums
    rows = [("a",)] * 7 + [("b",)] * 5 + [("c",)] * 2 + [(None,)] * 4 + [("d",)]
    df = spark.createDataFrame(rows, "v string").repartition(5)
    est = {r.key: r.cm_count for r in cm_sketch_estimate(df, "v", d=d, w=w).collect()}
    # raw-row reference: counter(i,b) = #rows whose value hashes there
    raw = (
        df.where(F.col("v").isNotNull())
        .select(
            *[_cm_bucket(i, F.col("v").cast("string"), w).alias(f"b{i}") for i in range(d)]
        )
        .collect()
    )
    counters: dict = {}
    for r in raw:
        for i in range(d):
            counters[(i, r[f"b{i}"])] = counters.get((i, r[f"b{i}"]), 0) + 1
    vals = {r.v for r in df.where(F.col("v").isNotNull()).distinct().collect()}
    bucket_of = {
        (i, r.v): r[f"b{i}"]
        for r in df.where(F.col("v").isNotNull())
        .distinct()
        .select(
            "v",
            *[_cm_bucket(i, F.col("v").cast("string"), w).alias(f"b{i}") for i in range(d)],
        )
        .collect()
        for i in range(d)
    }
    want = {
        v: min(counters[(i, bucket_of[(i, v)])] for i in range(d)) for v in vals
    }
    assert est == want
    assert None not in est  # null keys never surface


def test_heavy_hitters_null_keys_excluded(spark, monkeypatch):
    """Round-10 xxhash64 pin: md5 bucketing dropped null keys via null
    buckets; xxhash64 never returns null, so the exclusion now rides an
    explicit isNotNull — a corpus whose NULLs alone clear the threshold
    must still emit no null-key row, in BOTH regimes (d*w = 48 is
    literal; a 0 literal budget forces the join regime)."""
    from rust_s2_spark.operators import sketches
    from rust_s2_spark.operators.sketches import heavy_hitters

    rows = [(None,)] * 20 + [("x",)] * 6 + [("y",)] * 2
    df = spark.createDataFrame(rows, "k string").repartition(4)
    for mode, budget in (("literal", sketches.HH_LITERAL_BUDGET), ("join", 0)):
        monkeypatch.setattr(sketches, "HH_LITERAL_BUDGET", budget)
        out = {r.key: r.n for r in heavy_hitters(df, "k", 5, d=3, w=16).collect()}
        assert out == {"x": 6}, (mode, out)


def test_substring_containment_join_planted(spark):
    """Planted quotes: the snippet lives verbatim in two docs (host +
    origin), a mutated snippet matches nothing, and a short-overlap
    fragment below w+k-1 chars is legitimately not guaranteed."""
    from rust_s2_spark.operators.dedup import substring_containment_join

    base = "the winnowing fingerprint guarantee holds for any shared run of characters"
    docs = spark.createDataFrame(
        [
            (1, "prefix text " + base + " and a suffix here"),
            (2, base),
            (3, "completely unrelated content with different words entirely"),
        ],
        "doc_id long, text string",
    )
    snips = spark.createDataFrame(
        [
            (100, base),
            (101, base.replace("guarantee", "guaranteX")),
        ],
        "snip_id long, text string",
    )
    got = {
        (r.snip_id, r.doc_id)
        for r in substring_containment_join(docs, snips).collect()
    }
    assert got == {(100, 1), (100, 2)}
