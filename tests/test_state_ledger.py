"""Delta state ledger (pipeline/state_ledger.py) — r10 verdict #1:
the nightly refresh state as an epoch-delta ledger instead of a full
per-night rewrite.

Contracts pinned here:

1. VIEW SEMANTICS — latest-per-doc over ``epoch <= e``: changed rows
   shadow older ones, tombstones delete, an untouched doc is carried
   by NOT being written (empty delta ⇒ no epoch partition).
2. FROM-SCRATCH EQUIVALENCE — each night's refreshed as-of view is
   row-for-row the features/bands/audit a from-scratch init_state of
   the same snapshot lands in a second ledger, while the epoch
   partition holds only the night's delta.
3. kept_churn FAST PATH — consecutive ledger epochs compute churn
   from the delta partitions; the three frames equal the generic
   computation over the from-scratch references.
4. COMPACTION — folding completed epochs into ``epoch=-1`` preserves
   the as-of view, bounds retention, records a floor that rejects
   older as-of reads, and is superset-monotone (a crash that leaves
   folded partitions behind changes nothing; a re-fold heals).
5. CRASH REPLAY — a partial ``epoch=N`` from a crashed night is
   cleared by the rewrite, even when the replay's delta is empty.
"""

from __future__ import annotations

import os

import pytest

# Whole-module slow tier (r15): multi-second Spark e2e tests dominate
# this module's wall; deselected by default so the driver's verify
# window fits — run with -m slow (see COVERAGE.md).
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from radares_spark.pipeline.refresh import (
    init_state,
    kept_churn,
    refresh,
)
from radares_spark.pipeline.state_ledger import (
    LedgerState,
    compact_state_ledger,
    compaction_floor,
    read_state,
    write_state_epoch,
)
from tests.test_refresh import _df, mk_text, near_variant


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


FEATURE_COLS = [
    "doc_id", "text_hash", "raw_hash", "quality_pass", "pred_lang", "exact_keep",
]


def _epochs(led, table):
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(os.path.join(led, table))
        if d.startswith("epoch=")
    )


def test_view_semantics_shadow_tombstone_carry(spark, tmp_path):
    led = str(tmp_path / "led")
    schema = "doc_id long, v string"
    e0 = LedgerState(led, 0)
    write_state_epoch(
        spark, e0, "audit",
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], schema),
        spark.createDataFrame([], "doc_id long"),
    )
    # epoch 1: rewrite 2, remove 3, add 4 — doc 1 carried by silence
    e1 = LedgerState(led, 1)
    write_state_epoch(
        spark, e1, "audit",
        spark.createDataFrame([(2, "B"), (4, "d")], schema),
        spark.createDataFrame([(3,)], "doc_id long"),
    )
    assert _rows(read_state(spark, e0, "audit"), ["doc_id", "v"]) == [
        (1, "a"), (2, "b"), (3, "c")
    ]
    assert _rows(read_state(spark, e1, "audit"), ["doc_id", "v"]) == [
        (1, "a"), (2, "B"), (4, "d")
    ]
    # carry = no write: an empty night leaves no epoch partition
    e2 = LedgerState(led, 2)
    write_state_epoch(
        spark, e2, "audit",
        spark.createDataFrame([], schema),
        spark.createDataFrame([], "doc_id long"),
    )
    assert _epochs(led, "audit") == [0, 1]
    assert _rows(read_state(spark, e2, "audit"), ["doc_id", "v"]) == [
        (1, "a"), (2, "B"), (4, "d")
    ]


def test_partial_epoch_from_crashed_attempt_is_cleared(spark, tmp_path):
    led = str(tmp_path / "led")
    schema = "doc_id long, v string"
    write_state_epoch(
        spark, LedgerState(led, 0), "audit",
        spark.createDataFrame([(1, "a")], schema),
        spark.createDataFrame([], "doc_id long"),
    )
    # a crashed night left garbage in epoch=1; tonight's deterministic
    # replay has an EMPTY delta — the stale partition must still go
    junk = spark.createDataFrame([(9, "junk")], schema).withColumn(
        "_deleted", F.lit(False)
    ).withColumn("epoch", F.lit(1))
    junk.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("epoch").parquet(f"{led}/audit")
    assert _epochs(led, "audit") == [0, 1]
    write_state_epoch(
        spark, LedgerState(led, 1), "audit",
        spark.createDataFrame([], schema),
        spark.createDataFrame([], "doc_id long"),
    )
    assert _epochs(led, "audit") == [0]
    assert _rows(read_state(spark, LedgerState(led, 1), "audit"),
                 ["doc_id", "v"]) == [(1, "a")]


BASE = [
    (1, mk_text(1)),
    (2, mk_text(2)),
    (3, mk_text(1)),       # exact dup of 1
    (4, near_variant(2)),  # near dup of 2
    (5, mk_text(5)),
    (6, "short text"),     # quality fail
    (7, mk_text(7)),
]

NIGHT1 = [
    (1, mk_text(1)),
    (2, mk_text(2)),
    (3, mk_text(1)),
    (4, near_variant(2)),
    (5, mk_text(55)),      # rewritten
    (6, "short text"),
    (8, mk_text(8)),       # added; 7 removed
]

NIGHT2 = [r for r in NIGHT1 if r[0] != 1] + [(9, mk_text(9))]  # keeper 1 gone


def _all_views(spark, state):
    return {
        "features": _rows(read_state(spark, state, "features"), FEATURE_COLS),
        "bands": _rows(
            read_state(spark, state, "bands"), ["doc_id", "band", "band_hash"]
        ),
        "audit": _rows(read_state(spark, state, "audit"), ["doc_id", "outcome"]),
    }


@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_ledger_refresh_matches_from_scratch_init(spark, tmp_path):
    led = str(tmp_path / "led")
    L = [LedgerState(led, e) for e in range(3)]
    init_state(spark, _df(spark, BASE), L[0])
    a1, _ = refresh(spark, _df(spark, NIGHT1), L[0], L[1])
    a2, _ = refresh(spark, _df(spark, NIGHT2), L[1], L[2])

    # reference: each night's snapshot batch-curated from scratch into
    # its own ledger — the refreshed as-of views must equal it
    ref = [LedgerState(str(tmp_path / f"ref{e}"), 0) for e in range(3)]
    ref_audits = [
        init_state(spark, _df(spark, snap), r)
        for snap, r in zip((BASE, NIGHT1, NIGHT2), ref)
    ]
    for led_state, ref_state in zip(L, ref):
        assert _all_views(spark, led_state) == _all_views(spark, ref_state)
    assert _rows(a1, ["doc_id", "outcome"]) == _rows(
        ref_audits[1], ["doc_id", "outcome"]
    )
    assert _rows(a2, ["doc_id", "outcome"]) == _rows(
        ref_audits[2], ["doc_id", "outcome"]
    )

    # the nightly write is the DELTA, not the corpus: night-1 features
    # epoch holds only the affected rows (5 rewritten, 7 removed
    # tombstone, 8 added — plus any same-hash group members), far
    # fewer than the full ledger
    e1_feats = spark.read.parquet(f"{led}/features").filter(F.col("epoch") == 1)
    assert e1_feats.count() <= 4
    full = len(_all_views(spark, L[1])["features"])
    assert e1_feats.count() < full

    # knobs land ONCE at the ledger root
    assert os.path.isdir(f"{led}/knobs")

    # kept_churn fast path (consecutive epochs) == the generic path
    # (non-consecutive states: two separate reference ledgers)
    for i in (0, 1):
        gen = [sorted(r["doc_id"] for r in f.collect())
               for f in kept_churn(spark, ref[i], ref[i + 1])]
        fast = [sorted(r["doc_id"] for r in f.collect())
                for f in kept_churn(spark, L[i], L[i + 1])]
        assert fast == gen


@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_compaction_preserves_view_bounds_retention(spark, tmp_path):
    led = str(tmp_path / "led")
    L = [LedgerState(led, e) for e in range(3)]
    init_state(spark, _df(spark, BASE), L[0])
    refresh(spark, _df(spark, NIGHT1), L[0], L[1])
    refresh(spark, _df(spark, NIGHT2), L[1], L[2])
    want1 = _all_views(spark, L[1])
    want = _all_views(spark, L[2])

    # fold nights 0..1 (completed); epoch 2 stays a live delta
    folded = compact_state_ledger(spark, led, 1)
    assert folded["features"] == 2 and folded["audit"] == 2
    assert compaction_floor(spark, led) == 1
    assert _epochs(led, "features") == [-1, 2]
    assert _all_views(spark, L[2]) == want
    # the floor view itself survives (it IS the base)
    assert _all_views(spark, L[1]) == want1

    # as-of reads below the floor are gone — fail fast, never serve a
    # base-polluted view
    with pytest.raises(ValueError, match="compacted through"):
        refresh(spark, _df(spark, NIGHT1), L[0], LedgerState(led, 9))

    # superset-monotonicity: a crashed fold that resurfaces a
    # superseded partition changes nothing (shadowed duplicates), and
    # the next fold heals it
    import shutil

    saved = str(tmp_path / "saved_e2")
    shutil.copytree(f"{led}/features/epoch=2", saved)
    again = compact_state_ledger(spark, led, 2)
    assert again["features"] == 1  # folded the one remaining epoch
    assert _epochs(led, "features") == [-1]
    assert _all_views(spark, LedgerState(led, 2)) == want
    shutil.copytree(saved, f"{led}/features/epoch=2")
    assert _all_views(spark, LedgerState(led, 2)) == want
    compact_state_ledger(spark, led, 2)
    assert _epochs(led, "features") == [-1]
    assert _all_views(spark, LedgerState(led, 2)) == want
    # refresh night 3 on the fully compacted ledger still works
    a3, _ = refresh(
        spark, _df(spark, NIGHT2 + [(10, mk_text(10))]), L[2], LedgerState(led, 3)
    )
    assert {r["doc_id"] for r in a3.collect()} >= {9, 10}
