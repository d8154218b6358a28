"""Seeded arXiv-shaped raw JSON-lines plus offline enrichment stand-ins.

The raw records follow ``io.sources.ARXIV_RAW_SCHEMA`` and keep the
ingestion edge cases the reference's behaviour depends on (FIXTURES.md
family A): null DOIs, duplicate ids whose later copy must lose, the
``cs.`` wildcard-regex trap (``ics.yy``), ``physics`` cross-lists that are
excluded, dot-less category codes, short titles, accented and punctuated
names, empty first names and author ids shorter than four characters.

The Crossref, CWTS and first-name stand-ins are pure functions of their
input with the semantics of the test fixtures: some DOIs fail (row left
untouched), some are proceedings, some journal articles lack an ISSN, some
ISSNs are absent from CWTS or only match its electronic ISSN, and the
names list carries a duplicate first name.
"""

from __future__ import annotations

import json
import random
import zlib

FIRST_NAMES = [
    "Maria", "John", "Wei", "Anna", "Pierre", "Sinivälï", "José", "X",
    "Olga", "Chen", "Lars", "Amélie", "", "Ahmed", "Yuki", "Ines", "Tomás",
    "Priya", "Kofi", "Élodie", "Mateo", "Ana", "Jan", "Sofía",
]
_SYLLABLES = [
    "ka", "mu", "ler", "son", "ber", "ri", "to", "na", "vic", "sen", "ova",
    "ez", "li", "zhang", "an", "do", "ström", "ck", "müll", "o'b", "ien",
    "gar", "cía", "næ", "kov", "ač", "ta", "ki", "al-", "war", "iz", "mi",
]
CS_SUBS = [
    "AI", "CL", "CC", "CE", "CG", "GT", "CV", "CY", "CR", "DS", "DB", "DL",
    "DM", "DC", "ET", "FL", "GL", "GR", "AR", "HC", "IR", "IT", "LO", "LG",
    "MS", "MA", "MM", "NI", "NE", "NA", "OS", "OH", "PF", "PL", "RO", "SI",
    "SE", "SD", "SC", "SY",
]
OTHER_CATS = [
    "math.ST", "math.CO", "math.OC", "math.PR", "stat.ML", "stat.ME",
    "q-bio.NC", "econ.EM", "eess.SP", "eess.IV", "quant-ph", "adap-org",
    "physics.optics", "physics.comp-ph", "ics.yy", "hep-th",
]
N_JOURNAL_ROWS, N_JOURNAL_COLS = 40, 50


def _last_names(rng: random.Random, n: int) -> list[str]:
    names: set[str] = set()
    while len(names) < n:
        k = rng.randint(2, 4)
        s = "".join(rng.choice(_SYLLABLES) for _ in range(k))
        names.add(s[0].upper() + s[1:])
    return sorted(names)


def _categories(rng: random.Random, i: int) -> str:
    if i % 41 == 0:
        return "ics.yy"                       # kept: 'cs.' regex wildcard trap
    if i % 43 == 0:
        return "physics.optics cs.AI"         # dropped: contains 'physics'
    if i % 47 == 0:
        return "math.ST"                      # dropped: no 'cs.' match
    k = rng.randint(1, 3)
    cats = [f"cs.{rng.choice(CS_SUBS)}" for _ in range(k)]
    if rng.random() < 0.3:
        cats.append(rng.choice(OTHER_CATS[:12]))  # incl. dot-less adap-org
    return " ".join(dict.fromkeys(cats))


def gen_raw_records(n: int, seed: int) -> list[dict]:
    rng = random.Random(seed)
    last_names = _last_names(rng, max(50, n // 2))
    records = []
    for i in range(n):
        n_auth = min(1 + int(rng.expovariate(0.45)), 12)
        authors = []
        for _ in range(n_auth):
            last = rng.choice(last_names)
            if rng.random() < 0.02:
                last = last[:2]                # author_id shorter than 4
            first = rng.choice(FIRST_NAMES)
            middle = "K." if rng.random() < 0.2 else ""
            authors.append([last, (first + " " + middle).strip(), ""])
        year = rng.randint(1995, 2021)
        records.append({
            "id": f"{year % 100:02d}{rng.randint(1, 12):02d}.{i:05d}",
            "submitter": f"submitter{i}",
            "title": "Short" if i % 29 == 0 else f"On topic {i} of synthetic computer science",
            "doi": None if rng.random() < 0.14 else f"10.1000/bench.{i}",
            "categories": _categories(rng, i),
            "update_date": f"{year}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
            "abstract": "lorem ipsum " * 3,
            "authors_parsed": authors,
        })
    # exact duplicate ids with a different title: keep-first parity
    for i in rng.sample(range(n), max(1, n // 200)):
        dup = dict(records[i])
        dup["title"] = "A DIFFERENT title for the duplicate record!!"
        records.append(dup)
    rng.shuffle(records)
    return records


def write_arxiv_raw(path: str, n: int, seed: int) -> int:
    """Write ``n`` raw records (plus duplicates) as JSON-lines; returns the
    number of lines written."""
    records = gen_raw_records(n, seed)
    with open(path, "w", encoding="utf-8") as f:
        for rec in records:
            f.write(json.dumps(rec) + "\n")
    return len(records)


def _issn(j: int, k: int) -> str:
    return f"{1000 + j:04d}-{5000 + k:04d}"


def fetcher(dois: list[str]) -> dict[str, tuple[str, int, str | None]]:
    """Deterministic Crossref stand-in: doi -> (type, n_cites, issn)."""
    out = {}
    for doi in dois:
        h = zlib.crc32(doi.encode())
        if h % 13 == 6:
            continue  # request error: row left untouched
        cites = (h // 13) % 450
        if h % 5 == 0:
            out[doi] = ("proceedings-article", cites, None)
        else:
            j, k = (h // 7) % N_JOURNAL_ROWS, (h // 311) % N_JOURNAL_COLS
            out[doi] = ("journal-article", cites, None if h % 11 == 7 else _issn(j, k))
    return out


def cwts_rows() -> list[tuple[str, str, str, float, int]]:
    """source_title, print_issn, electronic_issn, snip, year."""
    rows = []
    for j in range(N_JOURNAL_ROWS):
        for k in range(N_JOURNAL_COLS):
            issn = _issn(j, k)
            if (j + k) % 6 == 1:   # electronic-only match: dropped by the reference
                rows.append((f"Journal E{j}-{k}", f"9{j:03d}-{k:04d}", issn, 1.1, 2021))
            elif (j + k) % 6 == 2:
                pass               # ISSN absent from CWTS: journal dropped
            else:
                rows.append((f"Journal {j}-{k}", issn, f"8{j:03d}-{k:04d}",
                             round(0.5 + ((j * 23 + k) % 40) / 10, 2), 2021))
    rows.append(("Old Journal", _issn(0, 0), "", 9.9, 2019))      # non-2021 year
    rows.append(("Journal 0-0 DUP", _issn(0, 0), "", 7.7, 2021))  # dup print ISSN
    return rows


def names_genders_rows() -> list[tuple[str, str, str, str]]:
    rows = [
        (name, str(i), "F" if i % 2 else "M", f"0.{90 + i % 10}")
        for i, name in enumerate(FIRST_NAMES)
        if name and i % 5 != 4
    ]
    rows.append(("Maria", "99", "F", "0.98"))  # duplicate first name (fan-out hazard)
    return rows
