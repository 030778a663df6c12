"""radar-ingest: the paper's own nightly ETL.

Each night lands one Monitran report per device (99 devices, templates
1/2/3) plus planted malformed files and re-landed duplicates, runs
``streaming.ingest_stream.run_ingest_stream`` (which appends through
``pipeline.ledger.idempotent_append``), then the analysts' morning
round: p85, weighted mean and speeding ratio per device x direction
(``functions.histogram``), ``pipeline.audit.completeness_audit`` and
``pipeline.backfill.backfill_plan``. After the measured nights one
backfill batch lands every planted missing device-day at once (the
``gen.HISTORY_DAYS`` days before night 0, which no device landed, plus
night 0's gaps: 238 files), and a last morning round must find nothing
missing.

The one-time work (counted in ``setup_s``) is night 0 into an empty
warehouse.
"""

from __future__ import annotations

import os
import time

import gen
from spans import span

SPEED_LIMIT = 60


class Radar:
    name = "radar-ingest"
    MIN_CYCLES = 1
    # generic end-to-end metric -> this workload's sample series
    GENERIC = {"cycle_s": "ingest_night_s", "bulk_per_s": "backfill_files_per_s"}
    UNITS = {"ingest_night_s": "s", "query_s": "s", "backfill_files_per_s": "files/s"}

    def __init__(self, seed: int, ledger):
        self.ledger = ledger
        self.plan = gen.radar_plan(seed, n_nights=64)
        self.tap = {"rows_written": 0, "groups_skipped": 0}
        self._files: dict[int, list] = {}
        self.samples = {"ingest_night_s": [], "query_s": [], "backfill_files_per_s": []}
        self.counts = {"ingest.rows_written": 0, "ingest.groups_skipped": 0, "ingest.quarantined": 0}
        self.cycles = 0

    def taps(self) -> dict:
        def on_append(out):
            n, skipped = out
            self.tap["rows_written"] += n
            self.tap["groups_skipped"] += skipped

        return {("radares_spark.pipeline.ledger", "idempotent_append"): on_append}

    def files(self, n: int) -> list:
        if n not in self._files:
            self._files[n] = gen.radar_night_files(self.plan, n)
        return self._files[n]

    def prepare(self, seconds: float) -> None:
        """Build the backfill batch; nights are built before each
        night's clock starts."""
        self.backfill = gen.radar_backfill_files(self.plan)

    # -- one warehouse ----------------------------------------------------

    def setup(self, spark, root: str) -> None:
        self.spark = spark
        self.landing = os.path.join(root, "landing")
        self.warehouse = os.path.join(root, "warehouse")
        self.checkpoint = os.path.join(root, "checkpoint")
        self.night = 0
        self.backfilled = False
        self.resume(spark)
        self.run_night()
        self.night = 1

    def resume(self, spark) -> None:
        """Carry on in a new session over the same warehouse."""
        self.spark = spark
        self.devices_df = spark.createDataFrame([(d,) for d in self.plan["devices"]], "equipment string")

    def _land(self, files: list) -> None:
        for rel, data in files:
            p = os.path.join(self.landing, rel)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "wb") as f:
                f.write(data)

    def _ingest(self, files: list) -> tuple[float, int, int]:
        from radares_spark.streaming import ingest_stream

        before = dict(self.tap)
        t0 = time.perf_counter()
        self._land(files)
        ingest_stream.run_ingest_stream(self.spark, self.landing, self.warehouse, self.checkpoint)
        wall = time.perf_counter() - t0
        return (
            wall,
            self.tap["rows_written"] - before["rows_written"],
            self.tap["groups_skipped"] - before["groups_skipped"],
        )

    def _run_log_fails(self) -> int:
        from radares_spark.pipeline.run_log import read_run_log

        if not os.path.isdir(os.path.join(self.warehouse, "run_log")):
            return 0
        return read_run_log(self.spark, self.warehouse).filter("status = 'fail'").count()

    def run_night(self) -> float:
        n = self.night
        night = self.plan["nights"][n]
        fails_before = self._run_log_fails()
        wall, rows, skipped = self._ingest(self.files(n))
        quarantined = self._run_log_fails() - fails_before
        self.ledger.op(
            f"ingest night {n}",
            {
                "flow rows = 96 x blocks per well-formed file": rows
                == gen.radar_expected_rows(self.plan, night["present"]),
                "skipped groups = planted re-landings": skipped == len(night["relands"]),
                "quarantined files = planted malformed": quarantined == len(night["bad"]),
            },
        )
        self.last = {"ingest.rows_written": rows, "ingest.groups_skipped": skipped,
                     "ingest.quarantined": quarantined}
        return wall

    def morning_round(self) -> float:
        """The analysts' queries over the warehouse, checked."""
        from pyspark.sql import functions as F

        from radares_spark.functions import histogram
        from radares_spark.pipeline import audit, backfill
        from radares_spark.schemas import BIN_COLS

        nights = self.plan["nights"][: self.night + 1]
        day = nights[-1]["day"]
        t0 = time.perf_counter()
        with span("functions.histogram"):
            flows = self.spark.read.parquet(os.path.join(self.warehouse, "flows"))
            per_dir = (
                flows.filter(F.col("pubdate") == F.lit(day.isoformat()).cast("date"))
                .groupBy("equipment", "direction")
                .agg(*[F.sum(c).alias(c) for c in BIN_COLS])
            )
            stats = per_dir.select(
                "equipment",
                "direction",
                histogram.percentile_col(0.85).alias("p85"),
                histogram.weighted_mean_speed().alias("mean_speed"),
                histogram.speeding_ratio(SPEED_LIMIT).alias("speeding_ratio"),
            ).collect()
        with span("pipeline.audit"):
            led = self.spark.read.parquet(os.path.join(self.warehouse, "equipment_files"))
            flagged = audit.completeness_audit(led).collect()
            todo = backfill.backfill_plan(self.spark, self.devices_df, led, self.plan["history"][0], day).collect()
        wall = time.perf_counter() - t0

        # history days lie before the ledger's first day: backfill_plan
        # lists them, completeness_audit (ledger min..max) does not
        gaps = set() if self.backfilled else set(gen.radar_backfill_gaps(self.plan))
        want_days: dict = {}
        for d, _ in gaps:
            if d >= nights[0]["day"]:
                want_days[d] = want_days.get(d, 0) + 1
        present = [d for d in self.plan["devices"] if d not in nights[-1]["gaps"] or self.backfilled]
        self.ledger.op(
            f"morning round {self.night}",
            {
                "audit flags exactly the planted gaps since night 0": {
                    r["pubdate"]: gen.N_DEVICES - r["n_equipments"] for r in flagged
                } == want_days,
                "backfill plan = planted missing device-days": {(r["pubdate"], r["equipment"]) for r in todo} == gaps,
                "one stats row per device x direction": len(stats)
                == sum(2 if self.plan["template"][d] == 2 else 1 for d in present),
                "p85 sample matches recomputation": self._p85_ok(stats, day),
            },
        )
        return wall

    def _p85_ok(self, stats: list, day) -> bool:
        """Every 17th device's p85 against a pure-Python recomputation
        from the report bytes the generator built."""
        from radares_spark.io.report_parser import parse_report
        from radares_spark.schemas import DIRECTION_MAP, SPEED_BINS

        got = {(r["equipment"], r["direction"]): r["p85"] for r in stats}
        files = dict(self.files(self.night))
        for dev in self.plan["nights"][self.night]["present"][::17]:
            per_dir: dict[str, list[int]] = {}
            for row in parse_report(files[f"{dev}/{day}.xlsx"]):
                acc = per_dir.setdefault(DIRECTION_MAP[row["direction_raw"][-1]], [0] * len(SPEED_BINS))
                for i, v in enumerate(row["bins"]):
                    acc[i] += v
            for direction, bins in per_dir.items():
                target, cum, want = 0.85 * sum(bins), 0, SPEED_BINS[-1][2]
                for (_, _, hi), v in zip(SPEED_BINS, bins):
                    cum += v
                    if cum >= target:
                        want = hi
                        break
                if got.get((dev, direction)) != want:
                    return False
        return True

    # -- the measured part ------------------------------------------------

    def measure(self, seconds: float, min_cycles: int) -> None:
        """Nights, each with its morning round, until ``seconds`` have
        passed and at least ``min_cycles`` nights ran."""
        deadline = time.perf_counter() + seconds
        start = self.cycles
        while self.cycles - start < min_cycles or time.perf_counter() < deadline:
            self.samples["ingest_night_s"].append(self.run_night())
            self.samples["query_s"].append(self.morning_round())
            for k, v in self.last.items():
                self.counts[k] += v
            self.cycles += 1
            self.night += 1

    def finish(self) -> None:
        """The backfill batch, then a morning round that must find
        nothing missing."""
        self.night -= 1  # the morning round reads the last ingested day
        wall, rows, _ = self._ingest(self.backfill)
        self.samples["backfill_files_per_s"].append(len(self.backfill) / wall)
        gaps = [d for _, d in gen.radar_backfill_gaps(self.plan)]
        self.ledger.op(
            "backfill batch",
            {"backfill rows = 96 x blocks per missing file": rows == gen.radar_expected_rows(self.plan, gaps)},
        )
        self.backfilled = True
        self.samples["query_s"].append(self.morning_round())
        self.night += 1
