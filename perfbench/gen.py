"""Seeded input generators for the three benchmark workloads.

Everything here is pure Python (plus pyarrow for parquet): no Spark,
no clock, no global RNG. The same seed gives byte-identical inputs,
and every generator returns a manifest of what it planted so the
workload can check the program's outputs against it.

- :func:`radar_plan` + :func:`radar_night_files` — daily Monitran
  report landings for 99 devices, built with
  ``io.report_parser.build_report`` (templates 1, 2, 3), with planted
  malformed files, missing device-days and re-landed duplicates.
- :func:`corpus_residents` + :func:`corpus_delta` — crawled pages
  ``(doc_id, url, html)`` for the corpus-nightly lifecycle, with
  planted fresh pages, URL re-crawls, exact re-syndications and
  one-word-edit twins.
- :func:`curation_tables` — ``documents`` and ``embeddings`` tables
  in the testdata schema, with planted exact and near duplicates and
  planted embedding clusters.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import io
import math
import random
import zipfile

N_DEVICES = 99
GAPS_NIGHT0 = 40  # device-days missing from night 0, the set-up night
HISTORY_DAYS = 2  # days before night 0 that no device landed: the backload
BAD_PER_NIGHT = 2
RELANDS_PER_NIGHT = 2
ROWS_PER_TEMPLATE = {1: 96, 2: 192, 3: 192}  # 96 x blocks (template 3: one 192-row block)


def _rng(seed: int, *tag) -> random.Random:
    """An independent stream per (seed, tag): adding a draw to one
    generator never shifts another's inputs."""
    h = hashlib.sha256(repr((seed, *tag)).encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def _fixed_zip(data: bytes) -> bytes:
    """Re-pack an xlsx zip with a fixed member timestamp, so the bytes
    depend only on the cells (the fixture writer stamps wall time)."""
    src = zipfile.ZipFile(io.BytesIO(data))
    out = io.BytesIO()
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for info in src.infolist():
            fixed = zipfile.ZipInfo(info.filename, date_time=(2020, 1, 1, 0, 0, 0))
            fixed.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(fixed, src.read(info.filename))
    return out.getvalue()


# ---------------------------------------------------------------------------
# radar-ingest
# ---------------------------------------------------------------------------


def radar_plan(seed: int, n_nights: int) -> dict:
    """The whole landing schedule, as data.

    Night 0 is the set-up night. Gaps are planted only there (so every
    measured night lands the same number of files) and on the
    ``HISTORY_DAYS`` days before it, when no device landed at all; the
    backfill batch lands both at once, and has the same size however
    many nights a run gets through. Re-landings copy a device-day
    ingested on the previous night (never a gap) under a new file
    name; malformed files are extra files, so they never remove a
    device-day.
    """
    r = _rng(seed, "radar")
    ids = sorted(r.sample(range(100, 1000), N_DEVICES))
    devices = [f"FS{i}JOI" for i in ids]
    template = {d: r.choice((1, 2, 3)) for d in devices}
    start = dt.date(2024, 1, 1) + dt.timedelta(days=r.randrange(300))
    nights = []
    for n in range(n_nights):
        day = start + dt.timedelta(days=n)
        rn = _rng(seed, "radar-night", n)
        gaps = sorted(rn.sample(devices, GAPS_NIGHT0)) if n == 0 else []
        present = [d for d in devices if d not in gaps]
        relands = []
        if n >= 1:
            prev = nights[n - 1]
            relands = [(prev["day"], d) for d in sorted(rn.sample(prev["present"], RELANDS_PER_NIGHT))]
        bad = sorted(rn.sample(devices, BAD_PER_NIGHT))
        nights.append(
            {
                "night": n,
                "day": day,
                "present": present,
                "gaps": gaps,
                "relands": relands,
                "bad": bad,
            }
        )
    history = [start - dt.timedelta(days=HISTORY_DAYS - k) for k in range(HISTORY_DAYS)]
    return {"devices": devices, "template": template, "nights": nights, "history": history}


def _report(plan: dict, day: dt.date, device: str) -> bytes:
    from radares_spark.io.report_parser import build_report

    return _fixed_zip(build_report(plan["template"][device], day, device))


def _bad() -> bytes:
    from radares_spark.io.report_parser import build_bad_report

    return _fixed_zip(build_bad_report())


def radar_night_files(plan: dict, n: int) -> list[tuple[str, bytes]]:
    """``(relative_path, bytes)`` for everything landing on night ``n``,
    under the fetcher's ``<equipment>/<date>.xlsx`` layout."""
    night = plan["nights"][n]
    day = night["day"]
    files = [(f"{d}/{day}.xlsx", _report(plan, day, d)) for d in night["present"]]
    files += [(f"{d}/{pday}_r{n}.xlsx", _report(plan, pday, d)) for pday, d in night["relands"]]
    files += [(f"{d}/{day}_bad.xlsx", _bad()) for d in night["bad"]]
    return files


def radar_backfill_gaps(plan: dict) -> list[tuple[dt.date, str]]:
    """Every planted missing device-day ``(day, device)``: the history
    days, then the set-up night's gaps."""
    return [(day, d) for day in plan["history"] for d in plan["devices"]] + [
        (night["day"], d) for night in plan["nights"] for d in night["gaps"]
    ]


def radar_backfill_files(plan: dict) -> list[tuple[str, bytes]]:
    """Every planted missing device-day, landed at once."""
    return [(f"{d}/{day}.xlsx", _report(plan, day, d)) for day, d in radar_backfill_gaps(plan)]


def radar_expected_rows(plan: dict, devices: list[str]) -> int:
    return sum(ROWS_PER_TEMPLATE[plan["template"][d]] for d in devices)


# ---------------------------------------------------------------------------
# corpus-nightly
# ---------------------------------------------------------------------------

# A closed English-like vocabulary: the stopwords the quality and
# language gates look for, plus content words built from syllables so
# two independent pages share almost no 5-word shingles.
_STOP = ["the", "a", "and", "of", "to", "in", "is", "it", "on", "for", "with", "at"]
_SYL = ["ka", "lo", "mi", "ren", "to", "sa", "vel", "dor", "pin", "qua", "ber", "nu",
        "tas", "gri", "mon", "fe", "lis", "zor", "hap", "wen"]


def _vocab() -> list[str]:
    r = random.Random(7)
    words = set()
    while len(words) < 4000:
        words.add("".join(r.choice(_SYL) for _ in range(r.randint(2, 3))))
    return sorted(words)


_VOCAB = _vocab()


def _prose(r: random.Random, n_words: int) -> str:
    """English-like text. Every 14-word sentence opens with "the", so
    the language gate (stopword-marker votes) always reads English; a
    page drawn with no marker at all would drop as another language."""
    out = []
    for i in range(n_words):
        if i % 14 == 0:
            out.append("the")
        else:
            out.append(r.choice(_STOP) if r.random() < 0.22 else r.choice(_VOCAB))
        if i % 14 == 13:
            out[-1] += "."
    return " ".join(out)


def _html(text: str) -> str:
    return f"<html><body><p>{text}</p></body></html>"


def _edit_one_word(r: random.Random, text: str) -> str:
    words = text.split(" ")
    i = r.randrange(len(words))
    words[i] = r.choice([w for w in _VOCAB if w != words[i].rstrip(".")])
    return " ".join(words)


def corpus_residents(seed: int, n: int) -> dict:
    """The bootstrap night: ``n`` distinct fresh pages."""
    r = _rng(seed, "corpus-residents")
    rows = []
    for i in range(n):
        host = f"site{r.randrange(40)}.example.com"
        rows.append((i + 1, f"https://{host}/a/{i + 1}", _prose(r, r.randint(60, 110))))
    return {"rows": rows, "planted": {"fresh": n}}


def corpus_delta(seed: int, night: int, residents: list, n_pages: int) -> dict:
    """One delta night of ``n_pages`` pages over the resident corpus:
    half fresh, the rest split between URL re-crawls (a resident URL
    in cosmetic variation), exact re-syndications (a resident text at
    a new URL) and one-word-edit twins (a resident text with one word
    changed, at a new URL). Page ids never collide across nights."""
    r = _rng(seed, "corpus-delta", night)
    base = 1_000_000 * (night + 1)
    n_fresh = max(1, n_pages // 2)
    rest = n_pages - n_fresh
    n_recrawl = rest // 3
    n_resyn = rest // 3
    n_twin = rest - n_recrawl - n_resyn
    picks = r.sample(residents, n_recrawl + n_resyn + n_twin)
    rows, cats = [], {}
    k = 0

    def add(cat, url, text):
        nonlocal k
        k += 1
        rows.append((base + k, url, text))
        cats[base + k] = cat

    for _ in range(n_fresh):
        add("fresh", f"https://fresh{night}.example.org/p/{k + 1}", _prose(r, r.randint(60, 110)))
    for doc_id, url, text in picks[:n_recrawl]:
        add("recrawl", url.replace("https://", "https://www.") + "/?utm_source=feed", text)
    for doc_id, url, text in picks[n_recrawl : n_recrawl + n_resyn]:
        add("resyndication", f"https://mirror{night}.example.net/copy/{doc_id}", text)
    for doc_id, url, text in picks[n_recrawl + n_resyn :]:
        add("twin", f"https://twin{night}.example.net/t/{doc_id}", _edit_one_word(r, text))
    planted = {c: sum(1 for v in cats.values() if v == c) for c in ("fresh", "recrawl", "resyndication", "twin")}
    return {"rows": rows, "category": cats, "planted": planted}


def write_pages(path: str, rows: list) -> None:
    """Pages parquet ``(doc_id long, url string, html string)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "doc_id": pa.array([i for i, _, _ in rows], pa.int64()),
            "url": pa.array([u for _, u, _ in rows], pa.string()),
            "html": pa.array([_html(t) for _, _, t in rows], pa.string()),
        }
    )
    pq.write_table(t, path)


# ---------------------------------------------------------------------------
# curation-batch
# ---------------------------------------------------------------------------

_OTHER_LANG = {
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ein"],
}


def _doc_text(r: random.Random, lang: str) -> str:
    if lang == "en":
        return _prose(r, r.randint(20, 90))
    words = []
    for _ in range(r.randint(20, 90)):
        words.append(r.choice(_OTHER_LANG[lang]) if r.random() < 0.25 else r.choice(_VOCAB))
    return " ".join(words)


EXACT_SHARE = 0.05
NEAR_SHARE = 0.05
N_CLUSTERS = 12
EMBED_DIM = 64  # the testdata embeddings' width


def curation_tables(seed: int, n_docs: int) -> dict:
    """``documents`` and ``embeddings`` rows in the testdata schema.

    Planted: ``EXACT_SHARE`` of the documents are byte-identical copies
    of distinct base documents, ``NEAR_SHARE`` are one-word edits of
    base documents, and the embeddings are drawn around ``N_CLUSTERS``
    unit-norm centres (label = cluster id).
    """
    r = _rng(seed, "curation")
    n_exact = int(n_docs * EXACT_SHARE)
    n_near = int(n_docs * NEAR_SHARE)
    n_base = n_docs - n_exact - n_near
    docs = []
    for i in range(n_base):
        lang = "en" if r.random() < 0.7 else r.choice(sorted(_OTHER_LANG))
        text = _doc_text(r, lang)
        docs.append((i, text, lang, f"src{r.randrange(8)}", len(text)))
    bases = r.sample(range(n_base), n_exact + n_near)
    for j, b in enumerate(bases):
        _, text, lang, src, _ = docs[b]
        if j >= n_exact:
            text = _edit_one_word(r, text)
        docs.append((n_base + j, text, lang, src, len(text)))
    order = list(range(n_docs))
    r.shuffle(order)
    ids = {old: new for new, old in enumerate(order)}
    docs = sorted(((ids[d[0]], *d[1:]) for d in docs), key=lambda d: d[0])

    centres = []
    for _ in range(N_CLUSTERS):
        v = [r.gauss(0, 1) for _ in range(EMBED_DIM)]
        norm = math.sqrt(sum(x * x for x in v))
        centres.append([x / norm for x in v])
    emb = []
    for i in range(n_docs):
        c = r.randrange(N_CLUSTERS)
        emb.append((i, [x + r.gauss(0, 0.05) for x in centres[c]], c))
    return {
        "documents": docs,
        "embeddings": emb,
        "planted": {"docs": n_docs, "exact_copies": n_exact, "near_copies": n_near, "clusters": N_CLUSTERS},
    }


def write_curation(sf_dir: str, tables: dict) -> None:
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = tables["documents"]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "text": pa.array([d[1] for d in docs], pa.string()),
                "lang": pa.array([d[2] for d in docs], pa.string()),
                "source": pa.array([d[3] for d in docs], pa.string()),
                "n_chars": pa.array([d[4] for d in docs], pa.int64()),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )
    emb = tables["embeddings"]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([e[0] for e in emb], pa.int64()),
                "embedding": pa.array([e[1] for e in emb], pa.list_(pa.float32())),
                "label": pa.array([e[2] for e in emb], pa.int32()),
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
