"""The benchmark's input generators: the same seed gives byte-identical
inputs, and the planted-category counts are what the workloads check
against.

Run with ``python3 -m pytest perfbench/tests -q -p no:cacheprovider``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import gen  # noqa: E402


def _digest(tree) -> str:
    return hashlib.sha256(repr(tree).encode()).hexdigest()


def _radar_bytes(seed: int) -> str:
    plan = gen.radar_plan(seed, n_nights=4)
    files = [gen.radar_night_files(plan, n) for n in range(4)] + [gen.radar_backfill_files(plan)]
    return _digest(files)


def test_radar_same_seed_same_bytes():
    assert _radar_bytes(5) == _radar_bytes(5)
    assert _radar_bytes(5) != _radar_bytes(6)


def test_radar_planted_counts():
    plan = gen.radar_plan(5, n_nights=4)
    nights = plan["nights"]
    assert len(plan["devices"]) == gen.N_DEVICES == len(set(plan["devices"]))
    assert [len(n["gaps"]) for n in nights] == [40, 0, 0, 0]
    assert len(plan["history"]) == gen.HISTORY_DAYS
    assert plan["history"][-1] + dt.timedelta(days=1) == nights[0]["day"]
    assert [len(n["relands"]) for n in nights] == [0, 2, 2, 2]
    assert [len(n["bad"]) for n in nights] == [2, 2, 2, 2]
    for n in nights:
        assert len(n["present"]) + len(n["gaps"]) == gen.N_DEVICES
    for prev, n in zip(nights, nights[1:]):  # a re-landing repeats an ingested device-day
        assert all(day == prev["day"] and d in prev["present"] for day, d in n["relands"])
    files = gen.radar_night_files(plan, 1)
    assert len(files) == len(nights[1]["present"]) + 2 + 2
    gaps = gen.radar_backfill_gaps(plan)
    assert len(gaps) == len(set(gaps)) == 40 + gen.HISTORY_DAYS * gen.N_DEVICES
    assert len(gen.radar_backfill_files(plan)) == len(gaps)
    assert set(plan["template"].values()) == {1, 2, 3}


def test_radar_reports_parse_to_planted_rows():
    from radares_spark.io.report_parser import TemplateError, parse_report

    plan = gen.radar_plan(5, n_nights=1)
    files = dict(gen.radar_night_files(plan, 0))
    dev = plan["nights"][0]["present"][0]
    day = plan["nights"][0]["day"]
    rows = parse_report(files[f"{dev}/{day}.xlsx"])
    assert len(rows) == gen.ROWS_PER_TEMPLATE[plan["template"][dev]]
    bad = plan["nights"][0]["bad"][0]
    try:
        parse_report(files[f"{bad}/{day}_bad.xlsx"])
    except TemplateError:
        pass
    else:
        raise AssertionError("a planted malformed file parsed")


def test_corpus_same_seed_same_pages_and_counts(tmp_path):
    res = gen.corpus_residents(3, 50)["rows"]
    assert res == gen.corpus_residents(3, 50)["rows"]
    a = gen.corpus_delta(3, 1, res, 12)
    assert a == gen.corpus_delta(3, 1, res, 12)
    assert a != gen.corpus_delta(4, 1, res, 12)
    assert a["planted"] == {"fresh": 6, "recrawl": 2, "resyndication": 2, "twin": 2}
    texts = {t for _, _, t in res}
    assert all(t.startswith("the ") for t in texts)  # every page reads as English
    for doc_id, _, text in a["rows"]:
        cat = a["category"][doc_id]
        assert (text in texts) == (cat in ("recrawl", "resyndication"))
    gen.write_pages(str(tmp_path / "a.parquet"), a["rows"])
    gen.write_pages(str(tmp_path / "b.parquet"), a["rows"])
    assert (tmp_path / "a.parquet").read_bytes() == (tmp_path / "b.parquet").read_bytes()


def test_curation_same_seed_same_tables_and_counts(tmp_path):
    a = gen.curation_tables(9, 400)
    assert a == gen.curation_tables(9, 400)
    assert a["planted"] == {"docs": 400, "exact_copies": 20, "near_copies": 20, "clusters": 12}
    texts = [d[1] for d in a["documents"]]
    assert len(texts) - len(set(texts)) == 20
    assert sorted(d[0] for d in a["documents"]) == list(range(400))
    assert {e[2] for e in a["embeddings"]} <= set(range(12))
    for sub in ("x", "y"):
        os.makedirs(tmp_path / sub)
        gen.write_curation(str(tmp_path / sub), a)
    for name in ("documents.parquet", "embeddings.parquet"):
        assert (tmp_path / "x" / name).read_bytes() == (tmp_path / "y" / name).read_bytes()
