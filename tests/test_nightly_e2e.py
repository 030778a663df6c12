"""The WHOLE production-nightly story, pinned end to end through the
public CLI across three nights: crawl-nightly (URL ledger + semantic
gate + content ledger) -> corpus-refresh (incremental state + IVF
serving store) -> tokenizer-train (frozen artifact + sealed shard
store) -> shards-append -> shards-export.

The money assertion is night 3: a semantic twin of a doc that first
appeared on night 2 is dropped by the gate — which proves the
REFRESH-maintained IVF store (not a hand-built one) is what the crawl
gates against, i.e. the commands actually compose into one living
pipeline. Token accounting closes the loop: the shard store's global
offset equals the encoded token count of exactly the docs every gate
let through."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from radares_spark.cli import main
from radares_spark.operators.bpe import load_tokenizer
from radares_spark.pipeline.shards import encode_ids

_PROSE = {
    "alpha": "the quick brown fox jumps over the lazy dog while rain "
    "falls on the plain and the morning train arrives at the station ",
    "beta": "an entirely different article about the history of early "
    "astronomy and the telescopes that mapped the sky for centuries ",
    "gamma": "a long report on river navigation describing locks and "
    "barges and the seasonal floods that shaped trade along the banks ",
    "delta": "notes from a kitchen garden covering soil compost beds "
    "and the slow patient work of growing vegetables through summer ",
}


def _body(tag, tail="ends here today"):
    return (_PROSE[tag] * 5) + tail


def _write_pages(spark, path, rows):
    spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [i for i, _, _ in rows],
                "url": [u for _, u, _ in rows],
                "html": [
                    f"<html><body><p>{b}</p></body></html>" for _, _, b in rows
                ],
            }
        )
    ).write.parquet(str(path))


@pytest.mark.slow
def test_three_night_production_pipeline(spark, tmp_path, capsys):
    A, B, C, D = (_body(t) for t in ("alpha", "beta", "gamma", "delta"))
    # one-word edits: semantic twins (hashed-TF cosine ~1) that are
    # NOT byte-identical, so only the semantic gate can be what drops
    # them (it runs before the content ledger's near-dup either way)
    A_sem = _body("alpha", tail="ends here tonight")
    C_sem = _body("gamma", tail="ends here tonight")

    url_led = str(tmp_path / "url_ledger")
    con_led = str(tmp_path / "content_ledger")
    ivf = str(tmp_path / "ivf_store")
    tok = str(tmp_path / "tokenizer")
    shards = str(tmp_path / "shards")

    def crawl(n, rows, semantic=False):
        src = tmp_path / f"pages{n}"
        _write_pages(spark, src, rows)
        out = tmp_path / f"out{n}"
        argv = [
            "crawl-nightly", "--pages", str(src), "--url-ledger", url_led,
            "--out", str(out), "--content-ledger", con_led,
        ]
        if semantic:
            argv += ["--semantic-store", ivf, "--semantic-tau", "0.95"]
        assert main(argv) == 0
        capsys.readouterr()
        return out, {
            r["doc_id"]: r["outcome"]
            for r in spark.read.parquet(str(out / "audit")).collect()
        }

    # ---- night 1: two novel pages; bootstrap every store ------------
    out1, a1 = crawl(1, [(1, "https://a.example.com/1", A),
                         (2, "https://b.example.com/2", B)])
    assert a1 == {1: "kept", 2: "kept"}
    snap1 = str(tmp_path / "snap1")
    spark.read.parquet(str(out1 / "kept")).select("doc_id", "text").write.parquet(snap1)
    state = str(tmp_path / "state_ledger")
    assert main(["corpus-refresh", "--docs", snap1, "--state-ledger", state,
                 "--epoch", "0", "--ivf-store", ivf]) == 0
    capsys.readouterr()
    assert main(["tokenizer-train", "--docs", snap1, "--out", tok,
                 "--n-merges", "12", "--shards", shards, "--ctx-len", "16"]) == 0
    capsys.readouterr()
    assert main(["shards-append", "--docs", str(out1 / "kept"),
                 "--tokenizer", tok, "--shards", shards, "--night", "n1"]) == 0
    capsys.readouterr()

    # ---- night 2: semantic twin of night-1 doc + a novel page -------
    out2, a2 = crawl(2, [(10, "https://c.example.com/10", A_sem),
                         (11, "https://d.example.com/11", C)], semantic=True)
    assert a2 == {10: "semantic_dup", 11: "kept"}
    snap2 = str(tmp_path / "snap2")
    (
        spark.read.parquet(str(out1 / "kept"))
        .unionByName(spark.read.parquet(str(out2 / "kept")))
        .select("doc_id", "text")
        .write.parquet(snap2)
    )
    assert main(["corpus-refresh", "--docs", snap2, "--state-ledger", state,
                 "--epoch", "1", "--ivf-store", ivf]) == 0
    printed = capsys.readouterr().out
    assert "ivf_" in printed  # the serving store was refresh-maintained
    assert main(["shards-append", "--docs", str(out2 / "kept"),
                 "--tokenizer", tok, "--shards", shards, "--night", "n2"]) == 0
    capsys.readouterr()

    # ---- night 3: THE composition proof — a semantic twin of the doc
    # that first appeared on night 2 drops against the refreshed store
    out3, a3 = crawl(3, [(20, "https://e.example.com/20", C_sem),
                         (21, "https://f.example.com/21", D)], semantic=True)
    assert a3 == {20: "semantic_dup", 21: "kept"}
    assert main(["shards-append", "--docs", str(out3 / "kept"),
                 "--tokenizer", tok, "--shards", shards, "--night", "n3"]) == 0
    capsys.readouterr()

    # ---- the loop closes: shard tokens == encoded tokens of exactly
    # the docs every gate let through ({1,2}, {11}, {21})
    kept_all = (
        spark.read.parquet(str(out1 / "kept"))
        .unionByName(spark.read.parquet(str(out2 / "kept")))
        .unionByName(spark.read.parquet(str(out3 / "kept")))
        .select("doc_id", "text")
    )
    assert {r["doc_id"] for r in kept_all.select("doc_id").collect()} == {1, 2, 11, 21}
    word_syms, merges = load_tokenizer(spark, tok)
    want_tokens = (
        encode_ids(kept_all, word_syms, merges)
        .agg(F.sum("n_tokens"))
        .head()[0]
    )
    meta = spark.read.parquet(f"{shards}/_meta").head()
    assert meta["next_token_offset"] == want_tokens
    assert meta["next_epoch"] == 3

    # ---- one training epoch out the door ----------------------------
    ep = str(tmp_path / "epoch1")
    assert main(["shards-export", "--shards", shards, "--out", ep,
                 "--seed", "1", "--n-shards", "4"]) == 0
    printed = capsys.readouterr().out
    n_sealed = int(want_tokens) // 16
    assert f"n_sequences: {n_sealed}" in printed
    back = spark.read.parquet(ep)
    assert back.count() == n_sealed
    assert back.select(F.sum(F.size("input_ids"))).head()[0] == n_sealed * 16

    # ---- the two frozen-artifact lifecycle events (r9), still through
    # the public CLI: (a) a TOKENIZER BUMP — retrain on the grown
    # corpus, re-shard into a NEW store, verify it, and the next night
    # appends under the new vocab while the old store stays sealed;
    # (b) an IVF RETRAIN — rebuild the serving store from its resident
    # vectors and prove the semantic gate still composes against the
    # RETRAINED store.
    snap3 = str(tmp_path / "snap3")
    kept_all.write.parquet(snap3)
    tok2 = str(tmp_path / "tokenizer_v2")
    assert main(["tokenizer-train", "--docs", snap3, "--out", tok2,
                 "--n-merges", "4"]) == 0
    capsys.readouterr()
    # the bump fail-fasts on the sealed store (no silent no-op even
    # though the night tag was already completed)
    with pytest.raises(ValueError, match="tokenizer changed"):
        main(["shards-append", "--docs", str(out3 / "kept"),
              "--tokenizer", tok2, "--shards", shards, "--night", "n3"])
    shards2 = str(tmp_path / "shards_v2")
    assert main(["shards-reshard", "--docs", snap3, "--tokenizer", tok2,
                 "--shards", shards, "--out", shards2,
                 "--night", "reshard-0"]) == 0
    printed = capsys.readouterr().out
    assert "tokenizer_changed: 1" in printed
    # the old store is still sealed under the OLD vocab, untouched
    assert spark.read.parquet(f"{shards}/_meta").head().asDict() == meta.asDict()
    # the new store verifies against the new artifact, rejects the old
    assert main(["shards-verify", "--shards", shards2,
                 "--tokenizer", tok2]) == 0
    capsys.readouterr()
    assert main(["shards-verify", "--shards", shards2,
                 "--tokenizer", tok]) == 1
    capsys.readouterr()
    # token accounting under the new vocab closes the same loop
    ws2, m2 = load_tokenizer(spark, tok2)
    want2 = encode_ids(kept_all, ws2, m2).agg(F.sum("n_tokens")).head()[0]
    assert (
        spark.read.parquet(f"{shards2}/_meta").head()["next_token_offset"]
        == want2
    )

    # (b) retrain the IVF store; night 4 gates against the NEW store:
    # a WORD-REVERSED twin of doc 2 (IVF-resident since night 1) is
    # lexically disjoint from every ledger shingle yet tf-identical —
    # only the semantic gate against the RETRAINED store can drop it;
    # a novel page keeps, and its shards land in the RE-SHARDED store
    ivf2 = str(tmp_path / "ivf_store_v2")
    assert main(["ivf-retrain", "--store", ivf, "--out", ivf2]) == 0
    capsys.readouterr()
    B_rev = " ".join(reversed(B.split()))
    E = (
        "a field guide to coastal birds cataloging plumage calls and "
        "the long migrations that trace the shoreline every autumn " * 5
        + "ends here today"
    )
    out4 = tmp_path / "out4"
    src4 = tmp_path / "pages4"
    _write_pages(spark, src4, [(30, "https://g.example.com/30", B_rev),
                               (31, "https://h.example.com/31", E)])
    assert main([
        "crawl-nightly", "--pages", str(src4), "--url-ledger", url_led,
        "--out", str(out4), "--content-ledger", con_led,
        "--semantic-store", ivf2, "--semantic-tau", "0.95",
    ]) == 0
    capsys.readouterr()
    a4 = {
        r["doc_id"]: r["outcome"]
        for r in spark.read.parquet(str(out4 / "audit")).collect()
    }
    assert a4 == {30: "semantic_dup", 31: "kept"}
    assert main(["shards-append", "--docs", str(out4 / "kept"),
                 "--tokenizer", tok2, "--shards", shards2,
                 "--night", "n4"]) == 0
    capsys.readouterr()
    meta2 = spark.read.parquet(f"{shards2}/_meta").head()
    assert meta2["next_epoch"] == 2  # reshard epoch + night 4
    want_after4 = (
        encode_ids(
            kept_all.unionByName(
                spark.read.parquet(str(out4 / "kept")).select("doc_id", "text")
            ),
            ws2, m2,
        ).agg(F.sum("n_tokens")).head()[0]
    )
    assert meta2["next_token_offset"] == want_after4
