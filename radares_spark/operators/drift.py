"""Distribution-drift monitoring — the nightly data-quality telemetry
a production crawl pipeline runs over every ingest cohort (PSI, the
population stability index of Siddiqi 2006 credit-scorecard practice,
the standard drift score in ML data-quality monitors): compare the
distribution of a categorical or binned-numeric feature between two
cohorts (last night's crawl vs tonight's, reference corpus vs new
source) and flag buckets whose share moved.

Reference anchor: the reference engine declares downstream analysis
only (/root/reference/README.md:3); this extends the BASELINE.json
text-analysis/monitoring surface the same way the Gopher/C4 quality
blocks do. Driver-tier since the r12 window rotation (strict DuckDB
oracle, ``PSI_SQL`` below).

Scale shape: one linear scan computing the cohort flag, ONE map-side-
combined aggregate per dimension (shuffle keys = the low-cardinality
bucket values). Every row lands in exactly one bucket per dim (the
null bucket included), so each dim's bucket sums ARE the cohort
totals: a window over the kilobyte bucket rows derives them, with no
separate total aggregate and no cross join. Nothing is quadratic,
nothing collects; at 100 TB the cost is one scan per dim.

PSI convention: ``psi_term = (share_a - share_b) * ln(share_a /
share_b)`` per bucket with shares clamped to ``PSI_MIN_SHARE`` so a
bucket present in only one cohort contributes a large-but-finite term
(the standard zero-protection); consumers sum terms per dim and alert
on the usual 0.1 / 0.25 thresholds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from radares_spark.io.tables import load_table
from radares_spark.registry import QuerySpec

# Deterministic cohort split for the testdata's one-month event range
# (2024-01): first half of the month vs the rest. A deployment passes
# its own predicate (last night vs tonight).
DRIFT_SPLIT_TS = "2024-01-16 00:00:00"
PSI_VALUE_BIN_W = 50.0  # fixed-width bins over events.value (0..490)
PSI_MIN_SHARE = 1e-6


def _psi_terms(buckets: DataFrame) -> DataFrame:
    """``(dim, bucket, n_a, n_b)`` bucket counts -> the same rows plus
    ``share_a``, ``share_b`` and ``psi_term``. Shares divide by each
    dim's own bucket sums (the cohort totals, floored at 1); the
    ``PSI_MIN_SHARE`` clamp and 6-place rounding are applied here
    only, for every PSI this module computes."""
    per_dim = Window.partitionBy("dim")
    share_a = F.col("n_a") / F.greatest(F.sum("n_a").over(per_dim), F.lit(1))
    share_b = F.col("n_b") / F.greatest(F.sum("n_b").over(per_dim), F.lit(1))
    ca = F.greatest(share_a, F.lit(PSI_MIN_SHARE))
    cb = F.greatest(share_b, F.lit(PSI_MIN_SHARE))
    return buckets.select(
        "dim",
        "bucket",
        "n_a",
        "n_b",
        F.round(share_a, 6).alias("share_a"),
        F.round(share_b, 6).alias("share_b"),
        F.round((ca - cb) * F.log(ca / cb), 6).alias("psi_term"),
    )


def distribution_drift_psi(
    events: DataFrame, cohort_a, dims: dict[str, "F.Column"]
) -> DataFrame:
    """Per-bucket PSI between the ``cohort_a`` rows and the rest, for
    each named dimension expression in ``dims``. Bucket expressions
    are cast to string: pre-bin numerics into the buckets you want,
    or accept their string rendering. A null bucket value is a bucket
    of its own and counts toward its dim's shares. Returns
    ``(dim, bucket, n_a, n_b, share_a, share_b, psi_term)``.

    Plan: one codegen'd groupBy per dim over the flagged events,
    unioned, then :func:`_psi_terms` derives the cohort totals from
    the bucket rows. The events are read once per dim; re-scans hit
    the page cache at bench SF, where every one-pass variant measured
    slower (Generate/Expand pay per row)."""
    if not dims:
        raise ValueError("dims must be non-empty")
    flagged = events.select(
        cohort_a.alias("__a"),
        *[
            expr.cast("string").alias(f"__dim_{name}")
            for name, expr in dims.items()
        ],
    )
    out = None
    for name in dims:
        part = flagged.groupBy(
            F.lit(name).alias("dim"), F.col(f"__dim_{name}").alias("bucket")
        ).agg(
            F.count(F.when(F.col("__a"), 1)).alias("n_a"),
            F.count(F.when(~F.col("__a"), 1)).alias("n_b"),
        )
        out = part if out is None else out.unionByName(part)
    return _psi_terms(out)


def events_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return distribution_drift_psi(
        events,
        cohort_a=F.col("ts") < F.lit(DRIFT_SPLIT_TS).cast("timestamp"),
        dims={
            "event_type": F.col("event_type"),
            "value_bin": F.concat(
                F.lit("bin_"),
                F.floor(F.col("value") / F.lit(PSI_VALUE_BIN_W))
                .cast("int")
                .cast("string"),
            ),
        },
    )


_PSI_BUCKETS = f"""
    e AS (
        SELECT (ts < TIMESTAMP '{DRIFT_SPLIT_TS}') AS a,
               event_type,
               'bin_' || (floor(value / {PSI_VALUE_BIN_W})::INT)::VARCHAR
                   AS value_bin
        FROM events
    ),
    tot AS (
        SELECT greatest(count(*) FILTER (WHERE a), 1) AS ta,
               greatest(count(*) FILTER (WHERE NOT a), 1) AS tb
        FROM e
    ),
    buckets AS (
        SELECT 'event_type' AS dim, event_type AS bucket,
               count(*) FILTER (WHERE a) AS n_a,
               count(*) FILTER (WHERE NOT a) AS n_b
        FROM e GROUP BY 2
        UNION ALL
        SELECT 'value_bin' AS dim, value_bin AS bucket,
               count(*) FILTER (WHERE a) AS n_a,
               count(*) FILTER (WHERE NOT a) AS n_b
        FROM e GROUP BY 2
    )
"""

PSI_SQL = f"""
    WITH {_PSI_BUCKETS}
    SELECT dim, bucket, n_a, n_b,
           round(n_a / ta, 6) AS share_a,
           round(n_b / tb, 6) AS share_b,
           round((greatest(n_a / ta, {PSI_MIN_SHARE})
                  - greatest(n_b / tb, {PSI_MIN_SHARE}))
                 * ln(greatest(n_a / ta, {PSI_MIN_SHARE})
                      / greatest(n_b / tb, {PSI_MIN_SHARE})), 6) AS psi_term
    FROM buckets, tot
"""


# r12 window rotation: promoted into the driver's 50-entry window
# (plans/__init__.py appends DRIVER_SPECS) — q7_nation_volume moved to
# the library tier in plans/tpch_more.py to make room.
DRIVER_SPECS: dict[str, QuerySpec] = {
    "events_drift_psi": QuerySpec(
        name="events_drift_psi",
        fn=events_drift_psi,
        oracle=PSI_SQL,
        survey="LLM-pipeline (nightly distribution-drift monitor: "
        "per-bucket PSI between ingest cohorts)",
        doc="Population stability index per event_type bucket and "
        f"fixed-width value bin (width {PSI_VALUE_BIN_W}) between the "
        "two halves of the event month; one map-side-combined "
        "aggregate per dim, cohort totals summed from the bucket "
        "rows, zero collects.",
    ),
}

LIBRARY_SPECS: dict[str, QuerySpec] = {}


# --- nightly crawl-profile drift (the corpus-nightly composition) -----------

PROFILE_TOK_BIN_W = 64  # token-count histogram bin width
PROFILE_HOST_TOPN = 32  # hosts kept by name; the long tail lumps to __other


def crawl_profile(docs: DataFrame) -> DataFrame:
    """``(dim, bucket, n)`` bucket counts of one night's kept docs —
    the tiny persisted sidecar (``nights/<night>/drift_profile``)
    nightly drift monitoring compares across nights. Dims: token-count
    bin (width ``PROFILE_TOK_BIN_W``) and the url host when a ``url``
    column is present. One map-side-combined aggregate over tonight's
    kept docs — delta-sized, never the corpus; the profile itself is
    kilobytes.

    The host dimension is naturally unbounded-cardinality, and natural
    host churn between crawls would leave most buckets one-sided —
    each contributing a large clamp term, so the PSI stays permanently
    elevated as noise (r11 advice). The profile therefore keeps only
    the night's ``PROFILE_HOST_TOPN`` hosts by count (ties broken by
    name, so the set is deterministic) and folds the tail into one
    ``__other`` bucket: the cross-night comparison sees at most
    ``2*N + 2`` host buckets and only a top-host composition shift —
    a real distribution change — moves the score."""
    from radares_spark.operators.dedup import normalize_text

    norm = normalize_text(F.coalesce(F.col("text"), F.lit("")))
    toks = F.when(norm == "", F.lit(0)).otherwise(F.size(F.split(norm, " ")))
    dims = [
        F.concat(
            F.lit("tok_"),
            F.floor(toks / F.lit(PROFILE_TOK_BIN_W)).cast("int").cast("string"),
        ).alias("__dim_tok_bin")
    ]
    names = ["tok_bin"]
    if "url" in docs.columns:
        dims.append(
            F.lower(
                F.regexp_extract(F.col("url"), "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1)
            ).alias("__dim_host")
        )
        names.append("host")
    staged = docs.select(*dims)
    out = None
    for name in names:
        part = staged.groupBy(
            F.col(f"__dim_{name}").alias("bucket")
        ).agg(F.count(F.lit(1)).alias("n"))
        if name == "host":
            # distributed top-N over the aggregated per-host counts
            # (TakeOrderedAndProject — never a single-partition sort),
            # then one broadcast membership join relabels the tail
            top = (
                part.orderBy(F.desc("n"), F.asc("bucket"))
                .limit(PROFILE_HOST_TOPN)
                .select("bucket", F.lit(True).alias("__top"))
            )
            part = (
                part.join(F.broadcast(top), "bucket", "left")
                .withColumn(
                    "bucket",
                    F.when(F.col("__top"), F.col("bucket")).otherwise(
                        F.lit("__other")
                    ),
                )
                .groupBy("bucket")
                .agg(F.sum("n").alias("n"))
            )
        part = part.select(F.lit(name).alias("dim"), "bucket", "n")
        out = part if out is None else out.unionByName(part)
    return out


def profile_psi(prior: DataFrame, tonight: DataFrame) -> DataFrame:
    """Per-bucket PSI between two stored crawl profiles (already
    aggregated — kilobyte frames): full-outer join on (dim, bucket)
    with zero-fill, then the same shares and clamp as
    :func:`distribution_drift_psi`. Returns
    ``(dim, bucket, n_a, n_b, share_a, share_b, psi_term)``."""
    a = prior.select("dim", "bucket", F.col("n").alias("n_a"))
    b = tonight.select("dim", "bucket", F.col("n").alias("n_b"))
    j = a.join(b, ["dim", "bucket"], "full_outer").fillna(0, subset=["n_a", "n_b"])
    return _psi_terms(j)
