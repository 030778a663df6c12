"""corpus-nightly: the LLM-corpus night, through ``cli.cmd_corpus_nightly``.

The one-time work (counted in ``setup_s``) bootstraps a seeded
resident corpus. Each measured night lands seeded pages
``(doc_id, url, html)`` with planted fresh pages, URL re-crawls, exact
re-syndications and one-word-edit twins, runs ``cmd_corpus_nightly``
and then ``cmd_nightly_verify``. Nights carry about 2% of the
residents; one night per run carries about 20%, which separates the
per-night fixed cost from the marginal cost.

This is the only workload that exercises the stores, the refresh,
the ledgers, the root lease and the shard append.
"""

from __future__ import annotations

import os
import time

import gen

RESIDENTS = 300
SMALL = RESIDENTS // 50  # ~2% of residents
LARGE = RESIDENTS // 5  # ~20% of residents
N_MERGES = 16
CTX_LEN = 64


class Corpus:
    name = "corpus-nightly"
    MIN_CYCLES = 2
    # generic end-to-end metric -> this workload's sample series
    GENERIC = {"cycle_s": "night_s", "bulk_per_s": "large_pages_per_s"}
    UNITS = {"night_s": "s", "night_large_s": "s", "large_pages_per_s": "pages/s", "verify_s": "s"}

    def __init__(self, seed: int, ledger):
        self.seed = seed
        self.ledger = ledger
        self.samples = {"night_s": [], "night_large_s": [], "verify_s": [], "large_pages_per_s": []}
        self.counts = {"crawl.kept": 0, "refresh.n_store_buckets_read": 0}
        self.cycles = 0

    def taps(self) -> dict:
        return {}

    def prepare(self, seconds: float) -> None:
        self.residents = gen.corpus_residents(self.seed, RESIDENTS)["rows"]

    def setup(self, spark, root: str) -> None:
        from radares_spark import cli

        self.spark = spark
        self.root = os.path.join(root, "corpus")
        self.pages = os.path.join(root, "pages")
        os.makedirs(self.pages)
        self.night = 0
        path = os.path.join(self.pages, "n0.parquet")
        gen.write_pages(path, self.residents)
        counts = cli.cmd_corpus_nightly(spark, path, self.root, "n0", n_merges=N_MERGES, ctx_len=CTX_LEN)
        self.ledger.op("bootstrap night", {"every resident kept": counts.get("kept") == RESIDENTS})
        self.night = 1

    def resume(self, spark) -> None:
        """Carry on in a new session over the same root."""
        self.spark = spark

    def run_night(self, n_pages: int) -> float:
        from radares_spark import cli

        n = self.night
        delta = gen.corpus_delta(self.seed, n, self.residents, n_pages)
        path = os.path.join(self.pages, f"n{n}.parquet")
        gen.write_pages(path, delta["rows"])
        t0 = time.perf_counter()
        counts = cli.cmd_corpus_nightly(self.spark, path, self.root, f"n{n}", n_merges=N_MERGES)
        wall = time.perf_counter() - t0
        t1 = time.perf_counter()
        verify = cli.cmd_nightly_verify(self.spark, self.root)
        self.samples["verify_s"].append(time.perf_counter() - t1)

        kept = {
            r["doc_id"]
            for r in self.spark.read.parquet(os.path.join(self.root, "nights", f"n{n}", "kept"))
            .select("doc_id")
            .collect()
        }
        cat = delta["category"]
        self.ledger.op(
            f"night n{n}",
            {
                "fresh pages kept": all(d in kept for d, c in cat.items() if c == "fresh"),
                "re-crawls dropped": not any(d in kept for d, c in cat.items() if c == "recrawl"),
                "re-syndications dropped": not any(d in kept for d, c in cat.items() if c == "resyndication"),
                "nightly-verify clean": bool(verify.get("ok")),
            },
        )
        self.counts["crawl.kept"] += counts.get("kept", 0)
        self.counts["refresh.n_store_buckets_read"] += counts.get("refresh_n_store_buckets_read", 0)
        self.night += 1
        self.cycles += 1
        return wall

    def measure(self, seconds: float, min_cycles: int) -> None:
        """~2% nights until ``seconds`` have passed and at least
        ``min_cycles`` nights ran; the second night of the first call
        with ``min_cycles`` >= 2 is the ~20% night."""
        deadline = time.perf_counter() + seconds
        start = self.cycles
        while self.cycles - start < min_cycles or time.perf_counter() < deadline:
            if self.cycles - start == 1 and min_cycles >= 2 and not self.samples["night_large_s"]:
                wall = self.run_night(LARGE)
                self.samples["night_large_s"].append(wall)
                self.samples["large_pages_per_s"].append(LARGE / wall)
            else:
                self.samples["night_s"].append(self.run_night(SMALL))

    def finish(self) -> None:
        pass

    def final_counts(self) -> dict:
        """Bytes under the nightly root per kept text byte."""
        from pyspark.sql import functions as F

        total = 0
        for dirpath, _, names in os.walk(self.root):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in names)
        kept = (
            self.spark.read.parquet(os.path.join(self.root, "kept_store"))
            .agg(F.sum(F.length("text")))
            .first()[0]
        )
        return {"store_bytes_per_kept_byte": total / kept if kept else 0.0}
