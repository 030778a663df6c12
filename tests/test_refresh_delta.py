"""Delta-direct nightly refresh (pipeline/refresh.refresh_night) —
the O(delta)-I/O entry point behind corpus-nightly (r9 verdict #1).

Contracts pinned here:

1. EQUIVALENCE — refresh_night over (tonight, kept_store) produces
   row-for-row the same state, audit, stats and serving stores as
   the generic refresh() over the materialized virtual snapshot
   ``kept_store ∖ tonight ∪ tonight`` (the frame corpus-nightly used
   to write to nights/<night>/snapshot), across adds, content
   rewrites, exact-dup demotions and near-dup drops.
2. SCALE LAW — with a FIXED tonight delta, 4x the resident corpus
   changes neither the recompute counters nor the I/O counters
   (n_store_buckets_read, n_buckets_rewritten): the night's text
   I/O is delta-proportional, never O(corpus).
3. FAIL-FAST — a kept store holding docs the state never
   fingerprinted (foreign store / manual edit) is rejected, never
   silently hashed or diverged from.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from radares_spark.pipeline.refresh import (
    apply_refresh_to_ivf_store,
    apply_refresh_to_postings_store,
    apply_refresh_to_store,
    init_ivf_from_state,
    init_postings_from_state,
    init_state,
    init_store,
    kept_churn,
    night_snapshot_source,
    refresh,
    refresh_night,
)
from radares_spark.pipeline.state_ledger import LedgerState, read_state
from tests.test_refresh import _df, mk_text, near_variant

# Whole-module slow tier: every test here is a multi-second e2e /
# sweep (r15 durations log); deselected by default so the driver's
# verify window fits — run with -m slow (see COVERAGE.md).
pytestmark = pytest.mark.slow


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _state_rows(spark, state):
    return {
        "features": _rows(
            read_state(spark, state, "features"),
            ["doc_id", "text_hash", "raw_hash", "quality_pass", "pred_lang", "exact_keep"],
        ),
        "bands": _rows(
            read_state(spark, state, "bands"), ["doc_id", "band", "band_hash"]
        ),
        "audit": _rows(read_state(spark, state, "audit"), ["doc_id", "outcome"]),
    }


def _bootstrap(spark, root, docs):
    """Night zero: state + all three serving stores (the nightly
    bootstrap composition)."""
    s0 = LedgerState(f"{root}/state_ledger", 0)
    store = f"{root}/kept_store"
    postings = f"{root}/postings_store"
    ivf = f"{root}/ivf_store"
    init_state(spark, docs, s0)
    init_store(spark, docs, s0, store)
    init_postings_from_state(spark, docs, s0, postings)
    init_ivf_from_state(spark, docs, s0, ivf)
    return s0, store, postings, ivf


def _apply_all(spark, docs, s_in, s_out, store, postings, ivf, night):
    """The cmd_corpus_refresh store ladder: postings (old text) ->
    ivf -> kept store."""
    churn = tuple(f.localCheckpoint() for f in kept_churn(spark, s_in, s_out))
    stats = {}
    stats.update(
        apply_refresh_to_postings_store(
            spark, docs, s_in, s_out, store, postings, night=night, churn=churn
        )
    )
    stats.update(
        apply_refresh_to_ivf_store(spark, docs, s_in, s_out, ivf, churn=churn)
    )
    stats.update(
        apply_refresh_to_store(spark, docs, s_in, s_out, store, churn=churn)
    )
    return stats


def _base_corpus(n=24, offset=100):
    rows = [(offset + i, mk_text(offset + i)) for i in range(n)]
    rows.append((offset + n, mk_text(offset)))  # exact dup of first doc
    return rows


def _tonight_rows(offset=100):
    """A delta exercising every churn path: an added doc, a content
    rewrite of a resident, a near-dup of a resident, an exact dup of
    a resident (keeper demotion via lower id would need id < resident;
    use higher id -> new doc loses), and an unchanged re-crawl."""
    return [
        (9000, mk_text(9000)),                # added
        (offset + 3, mk_text(7777)),          # resident rewritten
        (9001, near_variant(offset + 5)),     # near-dup of resident 105
        (9002, mk_text(offset + 7)),          # exact dup of resident 107
        (offset + 9, mk_text(offset + 9)),    # unchanged re-crawl
    ]


def test_refresh_night_matches_generic_snapshot_path(spark, tmp_path):
    base = _base_corpus()
    tonight = _tonight_rows()

    results = {}
    for mode in ("generic", "delta"):
        root = str(tmp_path / mode)
        docs0 = _df(spark, base)
        s0, store, postings, ivf = _bootstrap(spark, root, docs0)
        s1 = LedgerState(f"{root}/state_ledger", 1)
        tonight_df = _df(spark, tonight)

        if mode == "generic":
            # yesterday's path: materialize the virtual snapshot, hash
            # every doc, feed the full frame to every store apply
            snapshot = (
                spark.read.parquet(store)
                .select("doc_id", "text")
                .join(tonight_df.select("doc_id"), "doc_id", "left_anti")
                .unionByName(tonight_df)
                .localCheckpoint()
            )
            audit, stats = refresh(spark, snapshot, s0, s1)
            stats.update(
                _apply_all(spark, snapshot, s0, s1, store, postings, ivf, "n1")
            )
        else:
            audit, stats = refresh_night(spark, tonight_df, s0, s1, store)
            churn = tuple(
                f.localCheckpoint() for f in kept_churn(spark, s0, s1)
            )
            stats.update(
                apply_refresh_to_postings_store(
                    spark, tonight_df, s0, s1, store, postings,
                    night="n1", churn=churn,
                )
            )
            stats.update(
                apply_refresh_to_ivf_store(
                    spark, tonight_df, s0, s1, ivf, churn=churn
                )
            )
            src = night_snapshot_source(spark, tonight_df, store, churn)
            stats.update(
                apply_refresh_to_store(spark, src, s0, s1, store, churn=churn)
            )

        results[mode] = {
            "state": _state_rows(spark, s1),
            "audit": _rows(audit, ["doc_id", "outcome"]),
            "store": _rows(spark.read.parquet(store), ["doc_id", "text"]),
            "postings": _rows(
                spark.read.parquet(f"{postings}/postings"),
                ["tok", "doc_id", "tf", "dl", "df"],
            ),
            "ivf": _rows(spark.read.parquet(ivf), ["vec_id", "cell"]),
            "stats": {
                k: v for k, v in stats.items() if k != "n_store_buckets_read"
            },
        }

    g, d = results["generic"], results["delta"]
    for key in ("state", "audit", "store", "postings", "ivf", "stats"):
        assert d[key] == g[key], key


def test_refresh_night_io_counters_are_corpus_independent(spark, tmp_path):
    """The scale law (r7 test_scale pattern, extended to I/O): 4x the
    resident corpus with the SAME tonight delta leaves every recompute
    counter AND every I/O counter unchanged — the night reads a
    delta-bounded set of store buckets and rewrites a delta-bounded
    set, independent of how many residents exist."""
    footprints = []
    for scale, tag in ((1, "a"), (4, "b")):
        root = str(tmp_path / tag)
        docs0 = _df(spark, _base_corpus(n=24 * scale))
        s0, store, postings, ivf = _bootstrap(spark, root, docs0)
        s1 = LedgerState(f"{root}/state_ledger", 1)
        tonight_df = _df(spark, _tonight_rows())
        _, stats = refresh_night(spark, tonight_df, s0, s1, store)
        churn = tuple(f.localCheckpoint() for f in kept_churn(spark, s0, s1))
        src = night_snapshot_source(spark, tonight_df, store, churn)
        stats.update(
            apply_refresh_to_store(spark, src, s0, s1, store, churn=churn)
        )
        footprints.append(stats)
    small, big = footprints
    for k in ("n_delta", "n_removed", "n_rebanded", "n_store_buckets_read",
              "n_churned_docs", "n_buckets_rewritten"):
        assert big[k] == small[k], k
    # the read set is the delta neighborhood, nowhere near the corpus
    assert big["n_store_buckets_read"] <= 8
    assert big["n_near_affected"] <= small["n_near_affected"] + 8


def test_refresh_night_rejects_store_state_divergence(spark, tmp_path):
    root = str(tmp_path / "r")
    docs0 = _df(spark, _base_corpus())
    s0, store, _, _ = _bootstrap(spark, root, docs0)
    # plant a foreign doc in the store that the state never saw
    _df(spark, [(777777, mk_text(777777))]).withColumn(
        "part_bucket", F.lit(777777 % 64)
    ).write.mode("append").partitionBy("part_bucket").parquet(store)
    with pytest.raises(ValueError, match="out of step"):
        refresh_night(
            spark, _df(spark, _tonight_rows()), s0,
            LedgerState(f"{root}/state_ledger", 1), store,
        )


def test_refresh_night_text_bytes_are_corpus_independent(spark, tmp_path):
    """The BYTES half of the scale law (r9 verdict #1's Done bar):
    with bucket size held constant (n_buckets sized with the corpus —
    init_store's 100 TB contract), 4x the residents with the SAME
    tonight delta writes the same text bytes: the night's text I/O is
    the delta neighborhood, never the corpus. The state ledger's bytes
    are pinned separately (test_state_ledger_bytes_are_delta_proportional)."""
    import glob
    import os

    written_bytes = {}
    for scale, nb, tag in ((1, 16, "a"), (4, 64, "b")):
        root = str(tmp_path / tag)
        store = f"{root}/kept_store"
        docs0 = _df(spark, _base_corpus(n=24 * scale))
        s0, s1 = (LedgerState(f"{root}/state_ledger", e) for e in (0, 1))
        init_state(spark, docs0, s0)
        init_store(spark, docs0, s0, store, n_buckets=nb)
        tonight_df = _df(spark, _tonight_rows())

        def _files():
            return {
                f: os.stat(f).st_size
                for f in glob.glob(f"{store}/**/*.parquet", recursive=True)
            }

        before = _files()
        _, _stats = refresh_night(spark, tonight_df, s0, s1, store)
        churn = tuple(f.localCheckpoint() for f in kept_churn(spark, s0, s1))
        apply_refresh_to_store(
            spark,
            night_snapshot_source(spark, tonight_df, store, churn),
            s0, s1, store, n_buckets=nb, churn=churn,
        )
        after = _files()
        written_bytes[tag] = sum(
            sz for f, sz in after.items() if f not in before
        )
    assert written_bytes["a"] > 0  # the delta did rewrite something
    # equal-up-to-parquet-jitter, nowhere near the 4x a corpus-
    # proportional write would show
    assert written_bytes["b"] <= 1.8 * written_bytes["a"] + 4096, written_bytes


def test_pruned_store_read_partition_filters_in_plan(spark, tmp_path):
    """Plan-asserted (the bucketed-join snapshot idiom): the stable-
    text point read reaches the parquet scan as a PartitionFilters
    IN-list on part_bucket — Spark opens only the ids' partitions,
    which is the physical mechanism behind n_store_buckets_read."""
    from radares_spark.pipeline.refresh import (
        _pruned_store_text,
        _store_n_buckets,
    )

    root = str(tmp_path)
    docs = _df(spark, _base_corpus())
    s0, store = LedgerState(f"{root}/state_ledger", 0), f"{root}/kept_store"
    init_state(spark, docs, s0)
    init_store(spark, docs, s0, store)
    ids = _df(spark, [(101, "x"), (105, "y")]).select("doc_id")
    out = _pruned_store_text(spark, store, ids, _store_n_buckets(spark, store))
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[part_bucket#\d+ IN \((\d+(?:,\d+)*)\)\]", plan)
    assert m, plan
    assert set(m.group(1).split(",")) == {str(101 % 64), str(105 % 64)}


def test_state_ledger_bytes_are_delta_proportional(spark, tmp_path):
    """r10 verdict #1's Done bar: the per-night STATE write joins the
    text I/O under the scale law — 4x the residents with the SAME
    tonight delta writes the same state-ledger bytes (night zero's
    base epoch is excluded: a deployment initializes once), because a
    night appends only its changed rows + tombstones, never the
    corpus-wide ledger."""
    import glob
    import os

    from radares_spark.pipeline.refresh import init_state

    written_bytes = {}
    for scale, tag in ((1, "a"), (4, "b")):
        root = str(tmp_path / tag)
        led = f"{root}/state_ledger"
        store = f"{root}/kept_store"
        docs0 = _df(spark, _base_corpus(n=24 * scale))
        L0, L1 = LedgerState(led, 0), LedgerState(led, 1)
        init_state(spark, docs0, L0)
        init_store(spark, docs0, L0, store)

        def _files():
            return {
                f: os.stat(f).st_size
                for f in glob.glob(f"{led}/**/*.parquet", recursive=True)
            }

        before = _files()
        refresh_night(spark, _df(spark, _tonight_rows()), L0, L1, store)
        after = _files()
        # prior epochs are never touched...
        assert all(after.get(f) == sz for f, sz in before.items()), tag
        # ...and the new bytes are the night's delta
        written_bytes[tag] = sum(
            sz for f, sz in after.items() if f not in before
        )
    assert written_bytes["a"] > 0
    assert (
        written_bytes["b"] <= 1.8 * written_bytes["a"] + 4096
    ), written_bytes
