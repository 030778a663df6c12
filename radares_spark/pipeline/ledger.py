"""Idempotent fact-table writes + the ingestion ledger.

The reference enforces at-most-one report per (pubdate, equipment)
with a Postgres unique index + check-then-insert
(database/schema.sql:31-33, src/clean_data.py:168-180). Without a
transactional RDBMS, the engine gets the same exactly-once semantics
from: deterministic surrogate keys (hash of the natural key — replaces
SERIAL, SURVEY §1.2), a left-anti join against the ledger before
append, and partition-scoped parquet writes.

Scale: the anti-join broadcasts the *new* side's keys when small, or
shuffles on (pubdate, equipment) otherwise; the fact write is
``partitionBy(pubdate)`` so each ingest touches only its own
partitions (dynamic overwrite would give atomic re-ingest per
partition; Delta/Iceberg MERGE is the drop-in upgrade when those jars
are on the classpath).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radares_spark.io import fs as iofs

NATURAL_KEY = ["pubdate", "equipment"]


def file_id(pubdate_col, equipment_col):
    """Deterministic 64-bit surrogate for the (pubdate, equipment)
    natural key — idempotent across re-ingests, unlike SERIAL."""
    return F.xxhash64(pubdate_col.cast("string"), equipment_col)


def build_ledger(flows: DataFrame) -> DataFrame:
    """One ledger row per ingested (pubdate, equipment) — the
    equipment_files table (schema.sql:22-29) with a hash id."""
    return (
        flows.select(*NATURAL_KEY)
        .distinct()
        .select(
            file_id(F.col("pubdate"), F.col("equipment")).alias("id"),
            F.concat_ws(
                "/", F.col("equipment"), F.concat(F.col("pubdate").cast("string"), F.lit(".csv"))
            ).alias("file_name"),
            "pubdate",
            "equipment",
            F.current_timestamp().alias("date_created"),
        )
    )


def idempotent_append(
    spark: SparkSession, flows: DataFrame, warehouse: str
) -> tuple[int, int]:
    """Append only not-yet-ingested (pubdate, equipment) groups.

    Returns (n_rows_written, n_groups_skipped). Re-running the same
    input is a no-op — the reference's unique-index guard, as a plan.
    """
    flows_path = os.path.join(warehouse, "flows")
    ledger_path = os.path.join(warehouse, "equipment_files")

    new = flows
    skipped = 0
    # First-write detection must be EXPLICIT: a broad except here would
    # treat any transient read failure (corrupt footer, permissions,
    # storage blip) as "no ledger yet" and re-append the full input,
    # silently breaking the unique-(pubdate, equipment) guarantee the
    # reference enforces with a DB index (schema.sql:31-33). Only a
    # genuinely missing ledger path skips the anti-join; every other
    # error propagates and fails the ingest.
    if recover_ledger(spark, ledger_path):
        existing = spark.read.parquet(ledger_path).select(*NATURAL_KEY)
        before = flows.select(*NATURAL_KEY).distinct()
        new_keys = before.join(existing, NATURAL_KEY, "left_anti")
        skipped = before.count() - new_keys.count()
        new = flows.join(F.broadcast(new_keys), NATURAL_KEY, "left_semi")

    new = new.withColumn("equipment_files_id", file_id(F.col("pubdate"), F.col("equipment")))
    n = new.count()
    if n:
        new.write.mode("append").partitionBy("pubdate").parquet(flows_path)
        build_ledger(new).write.mode("append").parquet(ledger_path)
    return n, skipped


def merge_flows(spark: SparkSession, updates: DataFrame, warehouse: str) -> int:
    """MERGE semantics without Delta: for every (pubdate, equipment)
    group in ``updates``, replace the stored group; groups not in
    ``updates`` are kept. Equivalent to ``MERGE INTO flows USING
    updates ON (pubdate, equipment) WHEN MATCHED THEN REPLACE GROUP
    WHEN NOT MATCHED THEN INSERT`` — the upsert the reference's
    unique-index + check-then-insert cannot express (it can only skip).

    Physical shape: only the pubdate partitions present in ``updates``
    are rewritten (dynamic partition overwrite); inside each touched
    partition the kept remainder is ``existing LEFT ANTI updates`` on
    the natural key. Cost is proportional to the touched days, never
    the table. Returns rows written into the touched partitions.
    """
    flows_path = os.path.join(warehouse, "flows")
    ledger_path = os.path.join(warehouse, "equipment_files")
    # localCheckpoint BEFORE the partition overwrite below: the natural
    # repair flow builds ``updates`` by READING flows_path (read, fix
    # rows, merge back). Without materializing here, the post-overwrite
    # ledger update re-executes a plan whose source files were just
    # replaced — FileNotFoundException at best, silently re-reading the
    # merged output at worst. Same self-read hazard the ``merged``
    # checkpoint guards; ``stamped`` needs the guard for the same reason.
    stamped = updates.withColumn(
        "equipment_files_id", file_id(F.col("pubdate"), F.col("equipment"))
    ).localCheckpoint(eager=True)

    days = stamped.select("pubdate").distinct()
    existing = spark.read.parquet(flows_path).join(
        F.broadcast(days), "pubdate", "left_semi"
    )
    kept = existing.join(
        F.broadcast(stamped.select(*NATURAL_KEY).distinct()), NATURAL_KEY, "left_anti"
    )
    merged = kept.unionByName(stamped)
    n = merged.count()

    # merged reads flows_path too (via ``kept``) — same guard
    merged.localCheckpoint(eager=True).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("pubdate").parquet(flows_path)

    # ledger gains any genuinely new natural keys (idempotent)
    recover_ledger(spark, ledger_path)
    new_keys = (
        stamped.select(*NATURAL_KEY)
        .distinct()
        .join(spark.read.parquet(ledger_path).select(*NATURAL_KEY), NATURAL_KEY, "left_anti")
    )
    if new_keys.count():
        build_ledger(new_keys).write.mode("append").parquet(ledger_path)
    return n


def compact_partitions(
    spark: SparkSession, path: str, partition_col: str = "pubdate"
) -> int:
    """Bin small files: rewrite each partition of a partitioned parquet
    table as one file (append-heavy ingest leaves one file per batch;
    at 100 TB the scan's file-listing and per-file open costs dominate
    long before the bytes do). Returns partitions compacted.

    One-file-per-partition fits this table's grain (a day is ≤ ~19k
    rows); for partitions beyond a row-group target, swap the
    ``repartition(col)`` for ``repartitionByRange(n, col, key)``.
    """
    df = spark.read.parquet(path)
    n_parts = df.select(partition_col).distinct().count()
    df.repartition(F.col(partition_col)).localCheckpoint(eager=True).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy(partition_col).parquet(path)
    return n_parts


def reingest_overwrite(spark: SparkSession, flows: DataFrame, warehouse: str) -> int:
    """Re-ingest corrected data for the pubdates present in ``flows``,
    atomically replacing ONLY those partitions (dynamic partition
    overwrite). This is the repair path the reference lacks entirely —
    its fix for a bad day is manual DELETE + re-run. Partitions not in
    the input are untouched, so a repair of one day never rewrites the
    other ~3650 days of a 10-year fact table.

    The touched days' ledger keys then follow the repaired keys: a
    device the repair dropped loses its row (so the audit and the
    backfill planner list it as missing again), a device it added
    gains one (so a later append of it is skipped), and a device kept
    keeps its row and ``date_created``. Additions alone are a plain
    append; only a drop rewrites the ledger (:func:`_swap_ledger`).
    A crash after the flows write leaves the old ledger keys; rerun
    the repair.
    """
    flows_path = os.path.join(warehouse, "flows")
    ledger_path = os.path.join(warehouse, "equipment_files")
    # ``flows`` may be read from flows_path (read, fix, write back):
    # materialize it before the overwrite, as merge_flows does
    stamped = flows.withColumn(
        "equipment_files_id", file_id(F.col("pubdate"), F.col("equipment"))
    ).localCheckpoint(eager=True)
    n = stamped.count()
    stamped.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("pubdate").parquet(flows_path)

    keys = stamped.select(*NATURAL_KEY).distinct()
    if not recover_ledger(spark, ledger_path):
        build_ledger(keys).write.mode("append").parquet(ledger_path)
        return n
    ledger = spark.read.parquet(ledger_path)
    dropped = (
        ledger.select(*NATURAL_KEY)
        .join(F.broadcast(keys.select("pubdate").distinct()), "pubdate", "left_semi")
        .join(keys, NATURAL_KEY, "left_anti")
    )
    added = build_ledger(keys.join(ledger.select(*NATURAL_KEY), NATURAL_KEY, "left_anti"))
    if dropped.isEmpty():
        added.write.mode("append").parquet(ledger_path)
    else:
        _swap_ledger(
            spark,
            ledger_path,
            ledger.join(F.broadcast(dropped), NATURAL_KEY, "left_anti").unionByName(added),
        )
    return n


# Siblings of a ledger being rewritten: the new copy is STAGED beside
# it, the old one RETIRED to a second name, then the staged copy takes
# the ledger's name.
STAGED, RETIRED = ".rewrite", ".retired"


def _swap_ledger(spark: SparkSession, ledger_path: str, rows: DataFrame) -> None:
    """Replace the ledger with ``rows`` (which may read it) in three
    steps: write ``rows`` to the staged sibling, rename the ledger to
    the retired sibling, rename the staged copy into place, then drop
    the retired copy. Renames are atomic on HDFS and local disk, so a
    crash leaves either the ledger or a complete staged or retired
    copy, and :func:`recover_ledger` puts one back before the next
    write reads the ledger. (On object stores a rename is a copy;
    the window is that copy.)"""
    staged, retired = ledger_path + STAGED, ledger_path + RETIRED
    # fully written before the ledger it reads moves away
    rows.write.mode("overwrite").parquet(staged)
    iofs.rename(spark, ledger_path, retired)
    iofs.rename(spark, staged, ledger_path)
    iofs.delete(spark, retired)


def recover_ledger(spark: SparkSession, ledger_path: str) -> bool:
    """Finish or undo a :func:`_swap_ledger` a crash cut short, and
    return whether the ledger exists. Every ledger writer calls this
    before it reads the ledger: a missing ledger would read as a first
    write and re-append every group, breaking the unique
    (pubdate, equipment) guarantee. A staged copy without a ledger is
    complete (the ledger is only moved after the staged write), so it
    wins over the retired one; with the ledger present, both siblings
    are leftovers. One directory listing when nothing is left over.
    Assumes one writer per warehouse, as the ingest does."""
    parent, name = os.path.split(ledger_path)
    present = set(iofs.list_names(spark, parent))
    leftovers = [ledger_path + s for s in (STAGED, RETIRED) if name + s in present]
    if name not in present:
        if not leftovers:
            return False
        iofs.rename(spark, leftovers.pop(0), ledger_path)
    for path in leftovers:
        iofs.delete(spark, path)
    return True
