"""End-to-end ingest: synthetic xlsx landing dir -> binaryFile scan ->
mapInPandas parse -> clean -> idempotent partitioned write (golden
semantics: re-running the same input is a no-op). SURVEY §5.2."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from radares_spark.io.ingest import clean_flows, parse_reports, quarantined
from radares_spark.io.report_parser import build_bad_report, build_report
from radares_spark.pipeline.audit import completeness_audit
from radares_spark.pipeline.backfill import backfill_plan
from radares_spark.pipeline import ledger as ledger_mod
from radares_spark.pipeline.ledger import (
    compact_partitions,
    idempotent_append,
    merge_flows,
    reingest_overwrite,
)
from radares_spark.schemas import BIN_COLS

EQUIPS = ["FS551JOI", "FS655JOI", "FS661JOI"]
DATES = [dt.date(2024, 3, 15), dt.date(2024, 3, 16)]


@pytest.fixture(scope="module")
def landing(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("landing")
    for i, eq in enumerate(EQUIPS):
        for day in DATES:
            t = i % 3 + 1
            (d / f"{eq}-{day}.xlsx").write_bytes(build_report(t, day, eq))
    (d / "broken.xlsx").write_bytes(build_bad_report())
    return str(d)


def test_parse_and_quarantine(spark, landing):
    raw = parse_reports(spark, landing)
    counts = dict(raw.groupBy("status").count().collect())
    # t1=96, t2=192, t3=192 rows per file, 2 days each + 1 bad file
    assert counts["parsed"] == 2 * (96 + 192 + 192)
    assert counts["quarantined"] == 1
    q = quarantined(raw).collect()
    assert len(q) == 1 and "unknown layout" in q[0]["error"]


def test_clean_flows_semantics(spark, landing):
    flows = clean_flows(parse_reports(spark, landing))
    rows = flows.filter(
        (F.col("equipment") == "FS551JOI") & (F.col("pubdate") == "2024-03-15")
    ).collect()
    assert len(rows) == 96
    r0 = sorted(rows, key=lambda r: r["initial_time"])[0]
    assert r0["direction"] == "Norte"  # ".../N" cleaned
    assert r0["initial_time"] == "00:00" and r0["end_time"] == "00:15"
    assert r0["slot_start"] == dt.datetime(2024, 3, 15, 0, 0)
    # A2 invariant survives cleaning
    bad = flows.filter(
        sum(F.col(c) for c in BIN_COLS) != F.col("total")
    ).count()
    assert bad == 0


def test_idempotent_append(spark, landing, tmp_path):
    wh = str(tmp_path / "warehouse")
    flows = clean_flows(parse_reports(spark, landing))
    n1, skipped1 = idempotent_append(spark, flows, wh)
    assert n1 == flows.count() and skipped1 == 0
    n2, skipped2 = idempotent_append(spark, flows, wh)  # re-run: no-op
    assert n2 == 0 and skipped2 == len(EQUIPS) * len(DATES)
    stored = spark.read.parquet(f"{wh}/flows")
    assert stored.count() == n1
    # partitioned by pubdate on disk
    parts = {p.name for p in Path(wh, "flows").iterdir() if p.is_dir()}
    assert parts == {f"pubdate={d.isoformat()}" for d in DATES}


def test_reingest_overwrites_only_touched_partitions(spark, landing, tmp_path):
    """Repair path: dynamic partition overwrite replaces ONLY the
    pubdates present in the corrected input (ledger.reingest_overwrite),
    and the touched days' ledger rows follow the rewritten flows."""
    wh = str(tmp_path / "warehouse")
    flows = clean_flows(parse_reports(spark, landing))
    idempotent_append(spark, flows, wh)
    before_day1 = (
        spark.read.parquet(f"{wh}/flows").filter(F.col("pubdate") == str(DATES[0])).count()
    )

    def kept_row():
        # the ledger row of the device every repair below keeps
        return (
            spark.read.parquet(f"{wh}/equipment_files")
            .filter((F.col("pubdate") == str(DATES[1])) & (F.col("equipment") == EQUIPS[0]))
            .select("id", "date_created")
            .collect()
        )

    original = kept_row()
    # "corrected" day-2 data: only one device's report survives review
    fixed = flows.filter(
        (F.col("pubdate") == str(DATES[1])) & (F.col("equipment") == EQUIPS[0])
    )
    n = reingest_overwrite(spark, fixed, wh)
    assert n == 96  # template 1 report

    stored = spark.read.parquet(f"{wh}/flows")
    # day 2 fully replaced by the corrected subset...
    assert stored.filter(F.col("pubdate") == str(DATES[1])).count() == 96
    # ...day 1 untouched
    assert stored.filter(F.col("pubdate") == str(DATES[0])).count() == before_day1

    def keys(df, day):
        return {
            tuple(r)
            for r in df.filter(F.col("pubdate") == str(day))
            .select("pubdate", "equipment")
            .distinct()
            .collect()
        }

    def ledger_matches_flows():
        ledger = spark.read.parquet(f"{wh}/equipment_files")
        flows_now = spark.read.parquet(f"{wh}/flows")
        for day in DATES:
            assert keys(ledger, day) == keys(flows_now, day), day
        assert ledger.count() == ledger.select("pubdate", "equipment").distinct().count()

    # the devices the repair dropped lost their ledger rows, so the
    # audit lists them as missing again
    ledger_matches_flows()
    assert len(keys(spark.read.parquet(f"{wh}/equipment_files"), DATES[1])) == 1

    # a repair that adds a device ledgers it: a later append skips it
    added = fixed.withColumn("equipment", F.lit("FS999JOI"))
    reingest_overwrite(spark, fixed.unionByName(added), wh)
    ledger_matches_flows()
    assert idempotent_append(spark, added, wh) == (0, 1)
    # a device both repairs kept keeps its original ledger row
    assert kept_row() == original


def test_ledger_swap_crash_recovers(spark, landing, tmp_path, monkeypatch):
    """A repair killed between moving the old ledger away and renaming
    the rewritten one into place leaves no ``equipment_files``. The
    next write must put the staged copy back, not read the missing
    ledger as a first write and append every group again."""
    wh = str(tmp_path / "warehouse")
    flows = clean_flows(parse_reports(spark, landing))
    idempotent_append(spark, flows, wh)
    fixed = flows.filter(
        (F.col("pubdate") == str(DATES[1])) & (F.col("equipment") == EQUIPS[0])
    )

    rename = ledger_mod.iofs.rename

    def crash_on_staged(spark_, src, dst):
        if src.endswith(ledger_mod.STAGED):
            raise OSError("killed")
        rename(spark_, src, dst)

    monkeypatch.setattr(ledger_mod.iofs, "rename", crash_on_staged)
    with pytest.raises(OSError, match="killed"):
        reingest_overwrite(spark, fixed, wh)
    monkeypatch.undo()
    left = {p.name for p in Path(wh).iterdir()}
    assert "equipment_files" not in left and "equipment_files.rewrite" in left

    # day 1's three devices and the repaired day 2 device are ledgered
    # and skipped; the two devices the repair dropped are appended
    assert idempotent_append(spark, flows, wh) == (192 + 192, 4)
    left = {p.name for p in Path(wh).iterdir()}
    assert not {n for n in left if n.startswith("equipment_files.")}
    ledger = spark.read.parquet(f"{wh}/equipment_files")
    assert ledger.count() == len(EQUIPS) * len(DATES)
    assert ledger.select("pubdate", "equipment").distinct().count() == ledger.count()

    # a rerun of the crashed repair keeps every other day's rows
    monkeypatch.setattr(ledger_mod.iofs, "rename", crash_on_staged)
    with pytest.raises(OSError, match="killed"):
        reingest_overwrite(spark, fixed, wh)
    monkeypatch.undo()
    reingest_overwrite(spark, fixed, wh)
    ledger = spark.read.parquet(f"{wh}/equipment_files")
    day1 = ledger.filter(F.col("pubdate") == str(DATES[0]))
    assert {r["equipment"] for r in day1.collect()} == set(EQUIPS)
    assert [r["equipment"] for r in ledger.filter(F.col("pubdate") == str(DATES[1])).collect()] == [
        EQUIPS[0]
    ]


def test_merge_flows_upserts_groups(spark, landing, tmp_path):
    """MERGE semantics: matched (pubdate, equipment) groups replaced,
    unmatched kept, new keys inserted + ledgered; only touched pubdate
    partitions rewritten."""
    wh = str(tmp_path / "warehouse")
    flows = clean_flows(parse_reports(spark, landing))
    idempotent_append(spark, flows, wh)
    before_day1 = (
        spark.read.parquet(f"{wh}/flows").filter(F.col("pubdate") == str(DATES[0])).count()
    )

    # corrected report for (day2, equip0): zero out the bins; plus a
    # brand-new device for day2
    corrected = (
        flows.filter(
            (F.col("pubdate") == str(DATES[1])) & (F.col("equipment") == EQUIPS[0])
        )
        .withColumn(BIN_COLS[0], F.lit(0))
    )
    new_dev = corrected.withColumn("equipment", F.lit("FS999JOI"))
    merge_flows(spark, corrected.unionByName(new_dev).drop("equipment_files_id"), wh)

    stored = spark.read.parquet(f"{wh}/flows")
    day2 = stored.filter(F.col("pubdate") == str(DATES[1]))
    # replaced group carries the correction
    assert (
        day2.filter(F.col("equipment") == EQUIPS[0]).agg(F.sum(BIN_COLS[0])).collect()[0][0]
        == 0
    )
    # untouched groups in the same partition survive
    assert day2.filter(F.col("equipment") == EQUIPS[1]).count() == 192
    # new key inserted and ledgered
    assert day2.filter(F.col("equipment") == "FS999JOI").count() == 96
    ledger = spark.read.parquet(f"{wh}/equipment_files")
    assert ledger.filter(F.col("equipment") == "FS999JOI").count() == 1
    # other partition untouched
    assert stored.filter(F.col("pubdate") == str(DATES[0])).count() == before_day1


def test_compact_partitions(spark, landing, tmp_path):
    wh = str(tmp_path / "warehouse")
    flows = clean_flows(parse_reports(spark, landing))
    idempotent_append(spark, flows, wh)
    # second batch for the same days -> extra files per partition
    extra = flows.withColumn("equipment", F.concat(F.col("equipment"), F.lit("X")))
    idempotent_append(spark, extra, wh)

    def files_per_part():
        return {
            p.name: len(list(p.glob("*.parquet")))
            for p in Path(wh, "flows").iterdir()
            if p.is_dir()
        }

    before_total = spark.read.parquet(f"{wh}/flows").count()
    assert all(n >= 2 for n in files_per_part().values())
    compacted = compact_partitions(spark, f"{wh}/flows")
    assert compacted == len(DATES)
    assert all(n == 1 for n in files_per_part().values())
    assert spark.read.parquet(f"{wh}/flows").count() == before_total


def test_e2e_ingested_flows_feed_analytics(spark, landing, tmp_path):
    """Full reference workflow: landed xlsx -> parse -> clean ->
    warehouse -> the declared analytics (SURVEY §2.7 A3) over the REAL
    11-bin speed histogram columns — a reference user's entire daily
    loop plus the analysis Postgres was supposed to serve."""
    from radares_spark.functions.histogram import (
        bins_long,
        percentile_from_bins,
        speeding_ratio,
        weighted_mean_speed,
    )
    from radares_spark.schemas import SPEED_BINS

    wh = str(tmp_path / "warehouse")
    idempotent_append(spark, clean_flows(parse_reports(spark, landing)), wh)
    flows = spark.read.parquet(f"{wh}/flows")
    n_rows = flows.count()

    hist = flows.groupBy("equipment", "pubdate").agg(
        *[F.sum(c).alias(c) for c, _, _ in SPEED_BINS]
    )
    stats = hist.select(
        "equipment",
        "pubdate",
        weighted_mean_speed().alias("wm"),
        speeding_ratio(60).alias("sr"),
    ).collect()
    assert len(stats) == len(EQUIPS) * len(DATES)
    for r in stats:
        assert 0.0 <= r["wm"] <= 120.0  # inside the bin range
        assert 0.0 <= r["sr"] <= 1.0

    p85 = percentile_from_bins(hist, ["equipment", "pubdate"], 0.85).collect()
    uppers = {hi for _, _, hi in SPEED_BINS}
    assert all(r["p85_speed"] in uppers for r in p85)

    long = bins_long(flows, ["equipment", "pubdate", "slot_start"])
    assert long.count() == n_rows * len(SPEED_BINS)
    # unpivot conserves mass: Σ cnt == Σ total
    assert (
        long.agg(F.sum("cnt")).collect()[0][0]
        == flows.agg(F.sum("total")).collect()[0][0]
    )


def test_audit_and_backfill(spark, landing, tmp_path):
    wh = str(tmp_path / "warehouse")
    flows = clean_flows(parse_reports(spark, landing))
    idempotent_append(spark, flows, wh)
    ledger = spark.read.parquet(f"{wh}/equipment_files")

    audit = completeness_audit(ledger, expected=4).collect()
    assert {(r["pubdate"], r["n_equipments"]) for r in audit} == {
        (DATES[0], 3),
        (DATES[1], 3),
    }

    equip_dim = spark.createDataFrame([(e,) for e in EQUIPS + ["FS999JOI"]], ["equipment"])
    plan = backfill_plan(spark, equip_dim, ledger, DATES[0], DATES[1])
    missing = {(r["pubdate"], r["equipment"]) for r in plan.collect()}
    assert missing == {(d, "FS999JOI") for d in DATES}
