"""Seeded input generators for both benchmark workloads.

Every generator takes a ``random.Random`` built from the ``--seed``
argument and writes plain files (JSON, CSV, Parquet) into a directory;
the engine only ever sees those files. Each also returns the facts
the output checks need (expected counts, planted duplicate pairs), so
no check depends on running the engine twice.

Same seed -> byte-identical files; a different seed -> different
files (``test_gen.py`` checks both at a tiny size).
"""

from __future__ import annotations

import csv
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

FAIL_MOD = 97  # sources.synthetic.FAIL_MOD: ids that fail every attempt
STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")
SOURCES = ("web", "news", "forum", "wiki")
EXPORT_COLUMNS = (
    "id_negocio", "nombre", "direccion", "localidad", "telefonos",
    "whatsapp", "sitio_web", "email", "facebook", "instagram",
)

# ---------------------------------------------------------------- bulk


def gen_bulk(rng: random.Random, out_dir: str, n_ids: int) -> dict:
    """A contiguous id window (``worklist.json``), the scrape's whole
    input. Expected values are closed forms of
    ``sources.synthetic.synthetic_detail_page``."""
    start = rng.randrange(1, 5_000_000)
    end = start + n_ids - 1
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "worklist.json")
    with open(path, "w") as f:
        json.dump({"start_id": start, "end_id": end}, f)
    ids = range(start, end + 1)
    ok = [n for n in ids if n % FAIL_MOD != 0]
    return {
        "path": path,
        "start_id": start,
        "end_id": end,
        "input_records": n_ids,
        "records": len(ok),
        "fetch_failed": n_ids - len(ok),
        "with_email": sum(1 for n in ok if n % 4 == 0),
        "sample_ids": sorted(rng.sample(ok, min(25, len(ok)))),
    }


def _phone_rule(s: str) -> str | None:
    """``functions.contact.normalize_phone``: < 10 digits is invalid,
    10 -> 3-4-3, 11 -> 2-3-3-3, longer stays bare digits."""
    d = "".join(ch for ch in s if ch.isdigit())
    if len(d) < 10:
        return None
    if len(d) == 10:
        return f"{d[:3]}-{d[3:7]}-{d[7:]}"
    if len(d) == 11:
        return f"{d[:2]}-{d[2:5]}-{d[5:8]}-{d[8:]}"
    return d


def bulk_expected_row(n: int) -> dict:
    """Gold CSV fields of detail page ``n`` after the clean stage: the
    page's landline, plus its mobile on even ids, each normalized and
    dropped when invalid."""
    raw = [f"+54 342 4{n:06d}"] + ([f"15-4{n + 1:06d}"] if n % 2 == 0 else [])
    phones = [p for p in map(_phone_rule, raw) if p]
    return {"nombre": f"Negocio {n}", "telefonos": ", ".join(phones) or "N/A"}


# --------------------------------------------------------------- clean

_FIRST = ("Ferreteria", "Kiosco", "Panaderia", "Taller", "Farmacia",
          "Libreria", "Veterinaria", "Optica", "Carniceria", "Almacen")
_CITIES = ("Neuquen", "Cipolletti", "Plottier", "Centenario", "Cutral Co")


def _phone(rng: random.Random) -> str:
    area, num = rng.randrange(200, 400), rng.randrange(4000000, 4999999)
    style = rng.randrange(4)
    if style == 0:
        return f"+54 {area} {num}"
    if style == 1:
        return f"({area}) {str(num)[:3]}-{str(num)[3:]}"
    if style == 2:
        return f"{area}-{num}"
    return f"15{num}"


def _lead_row(rng: random.Random, key: str | None, biz: int) -> list[str]:
    def pad(s: str) -> str:
        return f"  {s} " if rng.random() < 0.1 else s

    name = f"{_FIRST[biz % len(_FIRST)]} {biz}"
    email = rng.choice(
        (f"info{biz}@example.com", f"info{biz}@example", "N/A", f"ventas{biz}@mail.com.ar")
    )
    site = rng.choice(
        (f"https://www.guiacores.com.ar/index.php?r=search/detail&id={biz}",
         f"https://negocio{biz}.example.com", "N/A")
    )
    phones = ", ".join(_phone(rng) for _ in range(rng.randrange(1, 3)))
    return [
        "" if key is None else key,
        pad(name),
        pad(f"Calle {biz % 300} {biz % 977} - ({8300 + biz % 5}) {_CITIES[biz % 5]}"),
        rng.choice(("N/A", _CITIES[biz % 5])),
        phones,
        rng.choice(("N/A", _phone(rng))),
        site,
        email,
        rng.choice(("N/A", f"https://facebook.com/biz{biz}")),
        rng.choice(("N/A", f"https://instagram.com/biz{biz}")),
    ]


def gen_clean(rng: random.Random, out_dir: str, n_rows: int, n_runs: int = 8) -> dict:
    """``n_runs`` run CSVs in the gold export layout. About 30% of
    rows repeat an id seen in an earlier row (possibly padded with
    whitespace), about 1% carry a missing, blank or ``N/A`` id."""
    os.makedirs(out_dir, exist_ok=True)
    keys: list[str] = []
    distinct: set[str] = set()
    quarantined = 0
    next_id = rng.randrange(1, 1_000_000)
    paths, total_bytes = [], 0
    per_run = n_rows // n_runs
    for run in range(n_runs):
        path = os.path.join(out_dir, f"guiaCores_leads_run{run:02d}.csv")
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(EXPORT_COLUMNS)
            for _ in range(per_run):
                r = rng.random()
                if r < 0.01:
                    raw = rng.choice((None, "N/A", "   "))
                    quarantined += 1
                    w.writerow(_lead_row(rng, raw, rng.randrange(10**6)))
                    continue
                if r < 0.31 and keys:
                    key = rng.choice(keys)
                else:
                    key = str(next_id)
                    next_id += rng.randrange(1, 4)
                    keys.append(key)
                distinct.add(key)
                raw = f" {key}  " if rng.random() < 0.05 else key
                w.writerow(_lead_row(rng, raw, int(key)))
        paths.append(path)
        total_bytes += os.path.getsize(path)
    return {
        "glob": os.path.join(out_dir, "*.csv"),
        "input_records": per_run * n_runs,
        "input_bytes": total_bytes,
        "distinct_keys": len(distinct),
        "quarantined": quarantined,
    }


# -------------------------------------------------------------- corpus


def _vocab(rng: random.Random, n: int) -> list[str]:
    syl = ("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "fa", "gu", "ve", "zo", "bi")
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(syl) for _ in range(rng.randrange(2, 5))))
    return sorted(words)


def _doc(rng: random.Random, vocab: list[str], lo: int, hi: int) -> list[str]:
    toks = [rng.choice(vocab) for _ in range(rng.randrange(lo, hi))]
    for i in range(0, len(toks), 7):
        toks[i] = rng.choice(STOPWORDS)
    return toks


def _edit(rng: random.Random, toks: list[str], vocab: list[str]) -> list[str]:
    """One-word substitution away from the ends (a near-duplicate)."""
    out = list(toks)
    i = rng.randrange(3, len(out) - 3)
    out[i] = rng.choice([w for w in rng.sample(vocab, 3) if w != out[i]])
    return out


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 1.0


def _write_docs(path: str, rows: list[tuple[int, str, str]]) -> int:
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _plant(rng, vocab, n_docs, first_id, exact_p, near_p, junk_p):
    """``n_docs`` rows with ids from ``first_id`` upward. A planted
    duplicate always gets a higher id than its origin, so the engine's
    keep-lowest-id rules must keep every origin."""
    rows, planted = [], {}
    texts: set[str] = set()
    pool: list[tuple[int, str]] = []
    doc_id = first_id
    while len(rows) < n_docs:
        r = rng.random()
        src = SOURCES[rng.randrange(len(SOURCES))]
        if r < exact_p and pool:
            oid, otext = rng.choice(pool)
            text = otext + " " if rng.random() < 0.5 else " " + otext
            planted[doc_id] = ("exact", oid)
        elif r < exact_p + near_p and pool:
            oid, otext = rng.choice(pool)
            text = " ".join(_edit(rng, otext.split(), vocab))
            if text in texts:
                continue
            planted[doc_id] = ("near", oid)
        elif r < exact_p + near_p + junk_p:
            # < 10 tokens, no stopword: quality 1/3, below the 0.5 gate
            text = " ".join(rng.choice(vocab) for _ in range(rng.randrange(4, 8)))
            planted[doc_id] = ("junk", None)
        else:
            text = " ".join(_doc(rng, vocab, 40, 90))
            if text in texts:
                continue
            pool.append((doc_id, text))
        texts.add(text.strip())
        rows.append((doc_id, text, src))
        doc_id += 1
    return rows, planted


def gen_corpus(rng: random.Random, out_dir: str, n_docs: int) -> dict:
    """One documents parquet over 4 sources: ~10% exact duplicates
    (whitespace-padded copies), ~20% one-word-edit near-duplicates,
    ~2% junk documents below the quality gate."""
    os.makedirs(out_dir, exist_ok=True)
    vocab = _vocab(rng, 3000)
    rows, planted = _plant(rng, vocab, n_docs, 1, 0.10, 0.20, 0.02)
    path = os.path.join(out_dir, "docs.parquet")
    size = _write_docs(path, rows)
    return {
        "path": path,
        "input_records": len(rows),
        "input_bytes": size,
        "texts": {d: t for d, t, _ in rows},
        "planted": planted,
    }


def gen_batch(
    rng: random.Random, out_dir: str, index: int, first_id: int, n_docs: int,
    origins: list[tuple[int, str]],
) -> dict:
    """Stream batch ``index``: ``n_docs`` documents with ids from
    ``first_id`` (after every history id), ~20% of them one-word-edit
    near-duplicates of ``origins`` (the history's unplanted docs).
    Batches only duplicate history, never each other, so each batch's
    truth is independent of how many batches a run lands."""
    os.makedirs(out_dir, exist_ok=True)
    vocab = _vocab(rng, 3000)
    fresh, _ = _plant(rng, vocab, n_docs, first_id, 0.0, 0.0, 0.0)
    rows, planted = [], {}
    for d, t, s in fresh:
        if rng.random() < 0.2:
            oid, otext = rng.choice(origins)
            t = " ".join(_edit(rng, otext.split(), vocab))
            planted[d] = ("near", oid)
        rows.append((d, t, s))
    path = os.path.join(out_dir, f"batch_{index:04d}.parquet")
    return {
        "path": path,
        "bytes": _write_docs(path, rows),
        "texts": {d: t for d, t, _ in rows},
        "planted": planted,
    }
