"""Feature-hashing text embeddings (operators/embed.py): near-dup
separation, unit norms, spine rules, IDF downweighting, and the
end-to-end bridge into the similarity stack (cosine_topk over vectors
derived from TEXT, no external model)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from radares_spark.operators.embed import EMBED_DIM, hashed_tf


@pytest.fixture(scope="module")
def frame(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3, 4],
                "text": [
                    base,
                    base + " again",  # near-dup of 0
                    "completely different subject matter about stellar fusion physics",
                    None,  # no tokens -> dropped
                    "",  # no tokens -> dropped
                ],
            }
        )
    )


def _vecs(df):
    return {r["doc_id"]: np.array(r["embedding"]) for r in df.collect()}


def test_norms_spine_and_neardup_separation(spark, frame):
    vecs = _vecs(hashed_tf(frame))
    assert set(vecs) == {0, 1, 2}  # token-less docs dropped, by contract
    for v in vecs.values():
        assert len(v) == EMBED_DIM
        assert abs(np.linalg.norm(v) - 1.0) < 1e-9
    sim_near = float(vecs[0] @ vecs[1])
    sim_far_a = float(vecs[0] @ vecs[2])
    assert sim_near > 0.9, sim_near
    assert sim_near > sim_far_a + 0.3, (sim_near, sim_far_a)


def test_tf_idf_downweights_ubiquitous_tokens(spark):
    """A token present in EVERY doc gets IDF ln(N+1 / N+1) = 0 — it
    must vanish from the tf-idf vectors entirely, so two docs whose
    only overlap is the ubiquitous token become orthogonal."""
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    "common alpha beta",
                    "common gamma delta",
                    "common epsilon zeta",
                ],
            }
        )
    )
    plain = _vecs(hashed_tf(docs))
    weighted = _vecs(hashed_tf(docs, tf_idf=True))
    # with plain TF the shared token gives positive similarity
    assert float(plain[0] @ plain[1]) != 0.0
    # with IDF=0 on 'common', remaining vocab is disjoint AND (checked
    # by construction at dim=16) hashes to non-overlapping buckets up
    # to sign cancellation: similarity collapses toward 0
    assert abs(float(weighted[0] @ weighted[1])) < abs(float(plain[0] @ plain[1]))


def test_bridges_into_similarity_stack(spark, frame):
    """The point of the operator: ANN over vectors derived from text.
    cosine_topk consumes (vec_id, label, v, nrm); the near-dup doc
    must be every query's nearest non-self neighbor."""
    from radares_spark.operators.similarity import cosine_topk

    emb = hashed_tf(frame)
    normed = emb.select(
        F.col("doc_id").alias("vec_id"),
        F.lit("doc").alias("label"),
        F.col("embedding").alias("v"),
    ).withColumn("nrm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)))
    q = normed.filter(F.col("vec_id") == 0)
    rows = cosine_topk(normed, q, k=2).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in rows] == [1, 2]  # near-dup first
    assert rows[0]["cos_sim"] > rows[1]["cos_sim"] + 0.3


SF_BIG = "/root/testdata/sf0.1"
BIG_DIM = 4096  # production-plausible hashing dim (2^12)


@pytest.fixture(scope="module")
def big_text_vectors(spark):
    """sf0.1 documents (5000 docs) embedded at dim 2^12 — the corpus
    every bridge test below shares. Pinned once: truth, index training,
    probing, and semdedup all consume it."""
    from radares_spark.io.tables import load_table

    docs = load_table(spark, SF_BIG, "documents").select("doc_id", "text")
    emb = hashed_tf(docs, dim=BIG_DIM)
    normed = (
        emb.select(
            F.col("doc_id").alias("vec_id"),
            F.lit("doc").alias("label"),
            F.col("embedding").alias("v"),
            # hashed_tf L2-normalizes by construction; recomputing a
            # 4096-term norm per row would only re-derive 1.0
            F.lit(1.0).alias("nrm"),
        )
        # spread before pinning: AQE coalesces the small post-agg frame
        # to ~1 partition, which would serialize every downstream
        # Arrow-batched scoring pass onto one core
        .repartition(32)
        .localCheckpoint(eager=True)
    )
    return normed


@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_hashed_tf_ivf_bridge_recall_at_sf01(spark, big_text_vectors):
    """r6 verdict #6: the text → hashed_tf → build_ivf_index → probe
    chain at sf0.1 and dim 2^12, with a recall floor vs brute force —
    the same pinning discipline as test_pq's sf0.1 gates. Searching
    n_probe=4 of 16 cells reads ~25% of the corpus, so unclustered
    data would give recall ~0.25; real text clusters, and the floor
    sits below measured but above the unclustered baseline."""
    from radares_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk,
        ivf_probe_topk,
    )

    normed = big_text_vectors
    assignment, centroids = build_ivf_index(
        normed, n_cells=16, iters=2, dim=BIG_DIM
    )
    q = normed.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(normed, q, k=10).collect()
    }
    ann = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_probe_topk(
            normed, assignment, centroids, q, n_probe=4, k=10, dim=BIG_DIM
        ).collect()
    }
    recall = len(exact & ann) / len(exact)
    assert recall >= 0.35, f"ivf recall {recall} at sf0.1/dim={BIG_DIM}"

    # full probe must equal brute force exactly (pruning composes
    # without changing scores — the test_pq identity, text-vector form)
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_probe_topk(
            normed, assignment, centroids, q, n_probe=16, k=10, dim=BIG_DIM
        ).collect()
    }
    assert full == exact


@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_hashed_tf_semdedup_bridge_at_sf01(spark, big_text_vectors):
    """text → hashed_tf → k-means cells → SemDeDup at dim 2^12:
    planted near-verbatim twins (same text + one extra token) must be
    deduplicated — for every twin pair at most one side survives —
    while the corpus at large is not decimated. Runs on a 1500-doc
    slice: within-cell pairwise cosine at 4096 dims is quadratic per
    cell, and the slice keeps the test inside CI budget while
    exercising the identical plan."""
    from radares_spark.io.tables import load_table
    from radares_spark.operators.semdedup import semdedup_audit
    from radares_spark.operators.similarity import build_ivf_index

    docs = (
        load_table(spark, SF_BIG, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 1500)
    )
    twin_ids = list(range(10))
    twins = docs.filter(F.col("doc_id").isin(twin_ids)).select(
        (F.col("doc_id") + 100_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended marker token")).alias("text"),
    )
    emb = hashed_tf(docs.unionByName(twins), dim=BIG_DIM)
    normed = (
        emb.select(
            F.col("doc_id").alias("vec_id"),
            F.col("embedding").alias("v"),
            F.lit(1.0).alias("nrm"),
        )
        .repartition(32)
        .localCheckpoint(eager=True)
    )
    assignment, centroids = build_ivf_index(
        normed, n_cells=16, iters=2, dim=BIG_DIM
    )
    members = normed.join(assignment, "vec_id")
    audit = semdedup_audit(members, centroids, tau=0.9)
    kept = {r["vec_id"]: r["kept"] for r in audit.collect()}
    assert len(kept) == normed.count()  # audit covers every vector
    # every twin pair collapses to at most one survivor
    both_kept = [i for i in twin_ids if kept.get(i) and kept.get(i + 100_000)]
    assert both_kept == [], f"twin pairs surviving whole: {both_kept}"
    # and the corpus is not decimated: the overwhelming majority of
    # genuinely distinct docs survive a 0.9 threshold
    n_kept = sum(1 for v in kept.values() if v)
    assert n_kept >= 0.8 * len(kept), n_kept


def test_zero_norm_vectors_are_dropped_not_emitted(spark):
    """Review finding: a doc whose every token is corpus-ubiquitous
    gets IDF 0 on all of them -> zero raw vector; the old nrm==0
    branch EMITTED it (poisoning downstream cosines with divide-by-
    zero NULLs). It must be dropped, same as token-less docs."""
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": ["common", "common alpha beta", "common gamma delta"],
            }
        )
    )
    out = hashed_tf(docs, tf_idf=True)
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {1, 2}  # doc 0's only token has IDF 0 -> dropped
    for r in out.collect():
        assert abs(np.linalg.norm(np.array(r["embedding"])) - 1.0) < 1e-9


@pytest.mark.parametrize(
    "ddl, ids",
    [("int", [10, 11, 12, 13, 14]), ("string", ["a", "b", "c", "d", "e"])],
)
def test_doc_id_type_passes_through(spark, frame, ddl, ids):
    """The kernel passes doc_id through in its input type: an int or
    string key comes back with the same type and yields the vectors
    the bigint key does, row for row."""
    want = _vecs(hashed_tf(frame))
    remap = dict(zip(range(5), ids))
    rows = [(remap[r["doc_id"]], r["text"]) for r in frame.collect()]
    docs = spark.createDataFrame(rows, f"doc_id {ddl}, text string")
    out = hashed_tf(docs)
    assert out.schema["doc_id"].dataType.simpleString() == ddl
    got = _vecs(out)
    assert set(got) == {remap[i] for i in want}
    for i, v in want.items():
        assert np.array_equal(got[remap[i]], v)
