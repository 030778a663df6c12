"""curation-batch: one full pass of the batch curation plans over a
seeded corpus written in the testdata schema.

A pass materializes, each through the noop sink, the dedup
(``dedup_exact``, ``dedup_embedding_lsh``), quality
(``text_quality_score``), embed
(``hashed_tf`` at dim 4096, as ``text_hash_embed_4k``), retrieval
(``text_bm25_topk``), DSIR
(``corpus_dsir_select``) and pack (``encode_ids`` + ``pack_ids``, as
``shards_pack``) plans. Per-row kernels and the Python/Arrow boundary
dominate; there is no store I/O and no per-night fixed cost.

Two timings per pass: the whole pass (``curation_pass_s``, about 70%
per-plan fixed cost at this size) and the two plans whose rows cross to
Python workers, ``dedup_embedding_lsh`` and the 4k hashed embedding
(``curation_docs_per_s`` = documents over their wall), so a change to
the Python/Arrow path and a change to a JVM-only plan move the two
differently.

The one-time work (counted in ``setup_s``) is training the 16-merge
BPE table the pack plan encodes with, plus a warm-up pass.
"""

from __future__ import annotations

import time

import gen
from spans import span

N_DOCS = 1000
N_MERGES = 16  # one training round: BPE training is set-up, and set-up is most of a run
# plans whose rows cross to Python workers (curation_docs_per_s)
PYTHON_BOUND = ("dedup_embedding_lsh", "text_hash_embed_4k")


def _embed_4k(spark, sf_dir):
    from radares_spark.io.tables import spread
    from radares_spark.operators.embed import hashed_tf

    return hashed_tf(spread(spark, sf_dir, "documents").select("doc_id", "text"), dim=4096)


class Curation:
    name = "curation-batch"
    MIN_CYCLES = 1
    # generic end-to-end metric -> this workload's sample series
    GENERIC = {"cycle_s": "curation_pass_s", "bulk_per_s": "curation_docs_per_s"}
    UNITS = {"curation_pass_s": "s", "curation_docs_per_s": "docs/s", "retrieval_s": "s"}

    def __init__(self, seed: int, ledger):
        self.seed = seed
        self.ledger = ledger
        self.samples = {"curation_pass_s": [], "curation_docs_per_s": [], "retrieval_s": []}
        self.counts: dict = {}
        self.cycles = 0
        self.reference: dict | None = None

    def taps(self) -> dict:
        return {}

    def prepare(self, seconds: float) -> None:
        self.tables = gen.curation_tables(self.seed, N_DOCS)
        self.planted = self.tables["planted"]

    def plans(self):
        """``(span, name, build)`` in pass order; ``build`` resolves the
        program function at call time so traced runs see the wrapper."""
        from radares_spark.operators import dedup, dsir, retrieval, text
        from radares_spark.pipeline import shards

        sf = self.sf_dir
        return [
            ("operators.dedup", "dedup_exact", lambda s: dedup.dedup_exact(s, sf)),
            ("operators.dedup", "dedup_embedding_lsh", lambda s: dedup.dedup_embedding_lsh(s, sf)),
            ("operators.text", "text_quality_score", lambda s: text.text_quality_score(s, sf)),
            ("operators.embed", "text_hash_embed_4k", lambda s: _embed_4k(s, sf)),
            ("operators.retrieval", "text_bm25_topk", lambda s: retrieval.text_bm25_topk(s, sf)),
            ("operators.dsir", "corpus_dsir_select", lambda s: dsir.corpus_dsir_select(s, sf)),
            ("pipeline.shards", "shards_pack",
             lambda s: shards.pack_ids(shards.encode_ids(self._docs(s), self.word_syms, self.merges))),
        ]

    def _docs(self, spark):
        from radares_spark.io.tables import load_table

        return load_table(spark, self.sf_dir, "documents").select("doc_id", "text")

    def setup(self, spark, root: str) -> None:
        from radares_spark.operators.bpe import train_bpe_batched, word_counts

        self.spark = spark
        self.sf_dir = root
        gen.write_curation(root, self.tables)
        self.merges, word_syms, _ = train_bpe_batched(
            word_counts(self._docs(spark)), n_merges=N_MERGES, batch_size=N_MERGES
        )
        # the trained word table, kept as rows so a later session can use it
        self.word_table = (word_syms.schema, word_syms.collect())
        self.resume(spark)
        self.reference = self.run_pass("warm-up pass")

    def resume(self, spark) -> None:
        """Carry on in a new session over the same tables."""
        self.spark = spark
        schema, rows = self.word_table
        self.word_syms = spark.createDataFrame(rows, schema)

    def run_pass(self, label: str) -> dict:
        """One full pass, checked: rows and wall (s) per plan."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        rows, walls = {}, {}
        extra = None
        for span_name, name, build in self.plans():
            obs = Observation(f"{name}_{time.time_ns()}")
            metrics = [F.count(F.lit(1)).alias("rows")]
            if name == "dedup_exact":
                metrics.append(F.sum(F.col("group_size") - 1).alias("removed"))
            t0 = time.perf_counter()
            with span(span_name):
                build(self.spark).observe(obs, *metrics).write.format("noop").mode("overwrite").save()
            walls[name] = time.perf_counter() - t0
            got = obs.get
            rows[name] = got["rows"]
            if name == "dedup_exact":
                extra = got["removed"]
        checks = {
            "dedup_exact removes exactly the planted copies": extra == self.planted["exact_copies"],
            "every plan returns rows": all(v > 0 for v in rows.values()),
        }
        if self.reference is not None:
            checks["row counts identical across passes"] = rows == self.reference["rows"]
        self.ledger.op(label, checks)
        return {"rows": rows, "walls": walls}

    def measure(self, seconds: float, min_cycles: int) -> None:
        """Passes until ``seconds`` have passed and at least
        ``min_cycles`` passes ran."""
        deadline = time.perf_counter() + seconds
        start = self.cycles
        while self.cycles - start < min_cycles or time.perf_counter() < deadline:
            walls = self.run_pass(f"pass {self.cycles + 1}")["walls"]
            self.samples["curation_pass_s"].append(sum(walls.values()))
            self.samples["curation_docs_per_s"].append(N_DOCS / sum(walls[p] for p in PYTHON_BOUND))
            self.samples["retrieval_s"].append(walls["text_bm25_topk"])
            self.cycles += 1

    def finish(self) -> None:
        pass
