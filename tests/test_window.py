"""Driver-window invariants (SURVEY §7.5, r02 VERDICT item 1).

The driver's CORRECTNESS run covers exactly the first 50 entries of
``queries()`` and canonicalizes results via pandas ``sort_values`` + hash —
which raises ``TypeError: unhashable type`` on array/map cells (that is how
fn_array burned a verification slot in round 2).  These tests make sure a
window regression can never ship again:

- the window is the first 50 names of ``_DRIVER_ORDER``: registered,
  duplicate-free, and the head of ``queries()``;
- the rest of ``_DRIVER_ORDER`` cuts into later windows of 50 that are
  registered, duplicate-free and disjoint;
- ``_DRIVER_ORDER`` queues every op the driver has not banked yet;
- every windowed op with an oracle produces only scalar (hashable)
  top-level columns;
- rows-only ops in the window are limited to the documented by-design set.
"""

import glob
import hashlib
import json
import os

from pyspark.sql.types import ArrayType, MapType

from carpet_spark.registry import REGISTRY, _DRIVER_ORDER, oracle_sql, queries

SF_SMOKE = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = _DRIVER_ORDER[:50]


# Approximate / streaming ops whose SURVEY §2 downgrade rule allows a
# rows-only driver check.  Anything else in the window must carry an oracle.
ROWS_ONLY_BY_DESIGN = {
    "agg_approx_distinct",
    # stream_dedup_watermark / stream_late_data were in this set through
    # r6; r7 promoted both to hash oracles (single availableNow batch +
    # epoch-zero watermark == batch twin), so they no longer need the
    # allowance.
    # r4 window (rotated out, kept documented) — approximate/RNG/model-backed:
    "agg_hll_merge",        # HLL sketch estimate (property-tested bounds)
    # sample_seeded was in this set through r7; r8 promoted it to a hash
    # oracle (seeded Bernoulli reformulated as an md5-threshold filter).
    "quality_train_score",  # MLlib LR scores; no closed-form SQL oracle
    # r5 window addition:
    "agg_approx_percentile",  # approx_percentile sketch; property-tested
    # r6 window additions — approximate/model-backed by design:
    "sim_knn_join_topk",  # ANN-tier knn join; recall property-tested vs brute
    "sim_ann_ivf",        # IVF buckets from trained centroids; recall-tested
    "emb_pca_project",    # power-iteration PCA basis; variance property-tested
    # mm_phash_dedup was here through r7; r8 promoted it to a hash oracle
    # (exact byte-level block-mean recomputation in SQL).
    # r7 window addition — the last never-sampled rows-only op:
    # sim_mmr_rerank was here through r7; r8 promoted it to a hash oracle
    # (6dp-grid greedy + DuckDB recursive-CTE twin).
}


def test_window_shape():
    assert len(WINDOW) == 50
    assert len(set(WINDOW)) == 50, "duplicate names in the window"
    missing = [n for n in WINDOW if n not in REGISTRY]
    assert not missing, f"window names not registered: {missing}"
    assert list(queries())[:50] == list(WINDOW)


def test_window_oracle_coverage():
    rows_only = [
        n for n in WINDOW if REGISTRY[n].oracle is None
    ]
    assert set(rows_only) <= ROWS_ONLY_BY_DESIGN, (
        f"hash-able op in window without an oracle: "
        f"{set(rows_only) - ROWS_ONLY_BY_DESIGN}"
    )


# Ops already banked by the driver that are DELIBERATELY scheduled for a
# second sample because their earlier bank was vacuous (spark_rows == 0,
# an empty==empty hash-pass proving nothing).  Each re-bank must follow a
# re-parameterization that makes the op non-vacuous at sf0.01.
PLANNED_REBANKS = {
    "dedup_containment_pairs",  # r9 bank empty; %9 -> %3 slice (r10)
    "text_collocations_pmi",  # r8 bank empty at sf0.01; floor 50 -> 20 (r10)
    # non-vacuous banks gone STALE: the r10 sf0.1 sweep forced both ops'
    # float-round displays onto exact integer arithmetic
    "ts_pacing_vs_target",
    "emb_label_centroids",
    "agg_inventory_turns_gmroi",  # r10 magnitude-scan hardening changed values
    # r11 near-cliff probe hardenings changed displayed values (see the
    # ops' Determinism docstrings)
    "agg_price_volume_mix",
    "ts_seasonality_strength",
    "ts_holt_linear_smoothing",
    "ts_holt_winters_additive",
    "ts_ar1_forecast_backtest",
    "agg_allocation_by_share",  # sampled checksum now exact micro sum
}


def test_planned_windows_shape():
    """The queue after the window, _DRIVER_ORDER[50:], is a valid rotation
    schedule: cut into windows of 50, every window is registered and
    duplicate-free, and disjoint from the live window and every other."""
    seen: set[str] = set(WINDOW)
    queue = _DRIVER_ORDER[50:]
    assert queue, "nothing queued after the live window"
    for start in range(0, len(queue), 50):
        win = queue[start : start + 50]
        assert len(set(win)) == len(win), f"window @{start} has duplicates"
        missing = [n for n in win if n not in REGISTRY]
        assert not missing, f"window @{start} names not registered: {missing}"
        overlap = set(win) & seen
        assert not overlap, f"window @{start} overlaps earlier windows: {overlap}"
        seen.update(win)


def test_planned_windows_cover_all_unbanked():
    """_DRIVER_ORDER schedules EVERY op that lacks a driver bank, and queues
    nothing already banked except the documented re-banks — so working
    through it leaves zero rotation debt."""
    banked: set[str] = set()  # keys of every CORRECTNESS_r*.json
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(path) as f:
            banked.update(json.load(f))
    unscheduled = set(REGISTRY) - banked - set(_DRIVER_ORDER)
    assert not unscheduled, (
        f"unbanked ops missing from _DRIVER_ORDER: {sorted(unscheduled)}"
    )
    rebanks = set(_DRIVER_ORDER[50:]) & banked
    assert rebanks <= PLANNED_REBANKS, (
        f"already-banked ops scheduled without a re-bank rationale: "
        f"{sorted(rebanks - PLANNED_REBANKS)}"
    )


def test_window_outputs_are_hashable(spark):
    """No array/map top-level columns for oracled window ops — the driver's
    pandas canonicalizer cannot hash them."""
    bad = {}
    for name in WINDOW:
        op = REGISTRY[name]
        if op.oracle is None:
            continue
        df = op.fn(spark, SF_SMOKE)
        cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType))
        ]
        if cols:
            bad[name] = cols
    assert not bad, f"array/map outputs would crash the driver: {bad}"


# sha256 of "\n".join(...) over the driver-facing order.  Any change to
# queries()/oracle_sql() order (a window rotation, a new op) must update
# these on purpose.
QUERIES_ORDER_SHA256 = (
    "1e9cb1a4bee73689e74bd6432182ce0eebf7d97fe589863f36f3563fbc5a2122"
)
ORACLE_ORDER_SHA256 = (
    "0886840d7767afee71da0812bfbe8e4a39a64978228a1734d8c031e863d88a45"
)


def test_driver_order_pinned():
    def digest(names):
        return hashlib.sha256("\n".join(names).encode()).hexdigest()

    assert digest(queries()) == QUERIES_ORDER_SHA256
    assert digest(oracle_sql()) == ORACLE_ORDER_SHA256
