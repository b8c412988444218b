#!/usr/bin/env python
"""Fail loudly when the newest CORRECTNESS_r*.json artifact leaves an
operator FAMILY uncovered (VERDICT r4/r5: the driver records at most
50 rows — a count cap — while the registry exposes ~84 queries).

The coverage contract (round 6): positions 1-50 of the registry hold
one representative per operator family; every query past the cap must
be COVERED by a recorded representative — either the multi-section
suite that contains it verbatim (identity-cast slot mapping, see
driver_queries._suites) or a strictly-stronger twin. This script
derives the suite containments from _suites() itself and checks:

  1. every registry query is either recorded in the artifact or has a
     recorded coverer;
  2. every recorded row is green (rows+schema+hash, no err).

Usage: python check_correctness_coverage.py
Exit 0 = contract holds and all rows green; 1 otherwise.
"""

from __future__ import annotations

import glob
import json
import sys

# Twins past the cap whose operator is covered by a strictly-stronger
# recorded representative (suite containments are derived, not listed).
TWIN_COVERED_BY = {
    "pip_triangle": "pip_polygon",     # same PIP kernel, small polygon
    "ivf_topk": "ivf_topk_trained",    # same probe plan, fixed centroids
    "dedup_keepers": "dedup_clusters", # keeper = argmin over CC output
    "bpe_tokens": "bpe_encode",        # regex stand-in for trained BPE
    "audio_match": "audio_match_wide", # demo alphabet of the same plan
    "heavy_hitters_wide": "heavy_hitters",  # join regime, same oracle
    # both forms run the same driver-literal engine
    # (_tail_literal_rounds) under one exactness contract;
    # test_knn_df.py pins knn_join == knn_join_df on identical probes,
    # so the recorded 10^4-probe gate transitively gates the list form
    "knn": "knn_df",
    # same ring+chord kernels and threshold as the recorded self-join;
    # test_within_distance_df.py pins the two orchestrations produce
    # the identical pair set in the self configuration
    "within_distance_df": "within_distance",
    # variable-radius form on the same ring-join core (one ring UDF
    # with a per-row level, one equi-join, same chord² gate as
    # within_distance_join_df); brute-force equality across mixed
    # levels pinned in pytest
    "within_distance_var": "within_distance",
    # the identical operator lifted stateless onto a probe stream (the
    # wrapper delegates to within_distance_join_df verbatim); its own
    # driver query also carries the same exhaustive oracle shape
    "stream_within_distance": "within_distance",
    # foreachBatch runs knn_join_df's own body (_knn_join_df_lazy,
    # the core knn_join_df checkpoints) per micro-batch;
    # test_streaming_knn.py pins multi-batch == one-shot batch operator
    # == brute force, so the recorded knn_df gate extends to the lift
    "stream_knn": "knn_df",
    # one knn_join_df self-join (the recorded knn_df gate) + a swap
    # equi-join of the bounded edge table; the mutual step is pinned
    # against an independent brute force in test_mutual_knn.py
    "mutual_knn": "knn_df",
    # complement of the recorded covering-join family: candidates come
    # from the same region_join_ancestors plan the recorded
    # region_join_1k gates; test_region_anti.py pins the complement
    # partition property (anti ∪ per-region matches tile the table)
    "region_anti": "region_join_1k",
    # same relational family as the recorded cells_per_parent7 (Hilbert
    # encode + parent bit-math groupBy, same row universe); the
    # streaming merge == batch build is pinned in test_cell_stats.py
    "stream_cell_stats": "cells_per_parent7",
    # composition of two recorded families: neighborhoods are the
    # recorded within_distance machinery (exhaustive-oracle gated) and
    # components are the recorded dedup_clusters propagation; the
    # composed roles/labels are pinned vs an independent brute-force
    # DBSCAN in test_dbscan.py, and its own oracle replays everything
    "dbscan": "within_distance",
    # the k-nearest core is the recorded knn_df machinery; the IDW
    # weighted fold and exact-hit rule are pinned vs hand computation
    # in test_idw.py, and its own oracle replays the rank-order fold
    "idw": "knn_df",
    # the identical stateless negated predicate lifted onto a stream
    # (the wrapper delegates to region_anti_filter verbatim); its own
    # driver query shares o_region_anti verbatim as the oracle
    "stream_region_anti": "region_join_1k",
    # the k-dist curve is the recorded knn_df machinery verbatim
    # (kth_nn_chord2 = knn_join_df self-join, mutual_knn's shape); the
    # order-statistic step is pinned vs a numpy brute force and the
    # planted-cluster recovery contract in test_suggest_eps.py, and its
    # own oracle replays exact kth-NN + ceil(q·n) ranks relationally
    "suggest_eps": "knn_df",
}


def covered_by() -> dict[str, str]:
    from rust_s2_spark.plans.driver_queries import _suites

    out = dict(TWIN_COVERED_BY)
    # component -> suite, derived from the suite definitions so the map
    # cannot drift from the code
    name_of = {}
    for suite, parts in _suites().items():
        for _sec, q_fn, _o_fn, _mp in parts:
            assert q_fn.__name__.startswith("q_"), q_fn.__name__
            name_of[q_fn.__name__[2:]] = suite
    out.update(name_of)
    return out


def main() -> int:
    import __spark_entry__ as m

    want = set(m.queries().keys())
    arts = sorted(glob.glob("CORRECTNESS_r*.json"))
    if not arts:
        print("no CORRECTNESS_r*.json artifact found")
        return 1
    newest = arts[-1]
    rows = json.load(open(newest))
    have = set(rows.keys())
    cov = covered_by()
    uncovered = sorted(
        q for q in want - have if cov.get(q) not in have
    )
    extra = sorted(have - want)
    red = sorted(
        k
        for k, v in rows.items()
        if not (v.get("rows_match") and v.get("schema_match"))
        or (k in m.oracle_sql() and not v.get("hash_match"))
        or v.get("err")
    )
    n_via = sum(1 for q in want - have if cov.get(q) in have)
    print(
        f"{newest}: {len(have & want)}/{len(want)} recorded directly, "
        f"{n_via} covered via suite/twin representatives"
    )
    if uncovered:
        print(f"UNCOVERED ({len(uncovered)}): {uncovered}")
    if extra:
        print(f"stale rows for removed queries: {extra}")
    if red:
        print(f"RED ({len(red)}): {red}")
    return 1 if (uncovered or red) else 0


if __name__ == "__main__":
    sys.exit(main())
