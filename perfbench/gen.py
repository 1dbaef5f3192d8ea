"""Seeded input generator for the repo benchmark.

Every workload's inputs come from here, and nothing else: the engine
only ever sees the files written below. Each generator is a pure function
of ``(seed, sizes)``; the same seed gives byte-identical files, and every
input set is written with a planted-truth file beside it.

Layout under ``root`` (one call per workload):

- ``etm_batch``:
  - ``landing/{cards,table,nested}_NNNN.html`` scorecard pages;
  - ``vsdb/{candidate,election,office}.csv`` VSDB-shaped snapshot;
  - ``truth.csv`` (x_id, candidate_id) for every scraped candidacy.
- ``corpus_dedup``: ``docs.parquet``, ``truth.csv`` (doc_id, family_id,
  kind) where ``kind`` is ``exact``, ``near`` or ``single``.
"""

from __future__ import annotations

import csv
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Two-letter codes with rough population weights; the hot state (CA) gets
# the share the caller asks for.
STATES = (
    "AL AK AZ AR CA CO CT DE FL GA HI ID IL IN IA KS KY LA ME MD MA MI MN MS MO "
    "MT NE NV NH NJ NM NY NC ND OH OK OR PA RI SC SD TN TX UT VT VA WA WV WI WY"
).split()
_WEIGHTS = dict.fromkeys(STATES, 1.0)
_WEIGHTS.update({"TX": 8.0, "FL": 6.0, "NY": 6.0, "PA": 4.0, "IL": 4.0, "OH": 4.0})

# (formal first name, nickname) pairs; "" when the name has no common short form.
FIRST = (
    ("Robert", "Bob"), ("William", "Bill"), ("James", "Jim"), ("Richard", "Dick"),
    ("Thomas", "Tom"), ("Michael", "Mike"), ("Elizabeth", "Liz"), ("Katherine", "Kate"),
    ("Margaret", "Peggy"), ("Jennifer", "Jen"), ("Christopher", "Chris"),
    ("Daniel", "Dan"), ("Joseph", "Joe"), ("Patricia", "Pat"), ("Deborah", "Debbie"),
    ("Anthony", "Tony"), ("Steven", "Steve"), ("Andrew", "Andy"), ("Susan", "Sue"),
    ("Rebecca", "Becky"), ("Jonathan", "Jon"), ("Timothy", "Tim"), ("Kenneth", "Ken"),
    ("Nicholas", "Nick"), ("Samantha", "Sam"), ("Victoria", "Vicky"),
    ("Maria", ""), ("Laura", ""), ("Kevin", ""), ("Brian", ""), ("Sarah", ""),
    ("Karen", ""), ("Angela", ""), ("Gary", ""), ("Helen", ""), ("Jason", ""),
    ("Monica", ""), ("Carlos", ""), ("Lucia", ""), ("Diane", ""), ("Marcus", ""),
    ("Tamika", ""), ("Wei", ""), ("Priya", ""), ("Omar", ""), ("Ingrid", ""),
)
# Surnames whose scraped spelling carries diacritics (VSDB stores ASCII).
ACCENTED = {
    "Garcia": "García", "Munoz": "Muñoz", "Pena": "Peña", "Sanchez": "Sánchez",
    "Nunez": "Núñez", "Gomez": "Gómez", "Hernandez": "Hernández",
    "Lopez": "López", "Perez": "Pérez", "Ramirez": "Ramírez", "Bjorn": "Björn",
    "Muller": "Müller", "Jose": "José", "Ibanez": "Ibáñez", "Rodriguez": "Rodríguez",
}
_ONSETS = "b br c ch d f g gr h j k kl l m n p pr r s sh st t tr v w z".split()
_VOWELS = "a e i o u ai ea ou io".split()
_CODAS = ("", "n", "r", "s", "l", "th", "ck", "m", "rd", "nt")
SUFFIXES = ("Jr", "Sr", "II", "III")
HONORIFICS = ("Rep.", "Sen.", "Hon.", "Dr.", "Mr.", "Ms.", "Del.")
PARTIES = ("R", "D", "I", "L", "G")
GLYPHS = ("Y", "N", "+", "-", "X", "?", "A")
_HOT = "CA"


def _rng(seed: int, part: str) -> random.Random:
    return random.Random(f"{seed}:{part}")


def _state_picker(rng: random.Random, hot_share: float):
    """Weighted state sampler where the hot state holds ``hot_share``."""
    cold = [s for s in STATES if s != _HOT]
    total = sum(_WEIGHTS[s] for s in cold)
    weights = [_WEIGHTS[s] / total * (1.0 - hot_share) for s in cold] + [hot_share]
    states = cold + [_HOT]
    return lambda: rng.choices(states, weights)[0]


def _surname(rng: random.Random) -> str:
    if rng.random() < 0.08:
        return rng.choice(sorted(ACCENTED))
    n = rng.choice((2, 2, 3))
    s = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(n))
    return (s + rng.choice(_CODAS)).capitalize()


def _typo(rng: random.Random, s: str) -> str:
    """One substitution, never in the first character."""
    if len(s) < 4:
        return s
    i = rng.randrange(1, len(s))
    c = rng.choice("aeioulnrst".replace(s[i].lower(), ""))
    return s[:i] + c + s[i + 1 :]


def _people(rng: random.Random, n: int, pick_state) -> list[dict]:
    out = []
    for i in range(n):
        first, nick = rng.choice(FIRST)
        out.append({
            "candidate_id": str(100000 + i),
            "firstname": first,
            "nickname": nick if rng.random() < 0.7 else "",
            "middlename": rng.choice("ABCDEFGHJKLMNPRSTW") if rng.random() < 0.4 else "",
            "lastname": _surname(rng),
            "suffix": rng.choice(SUFFIXES) if rng.random() < 0.06 else "",
            "state_id": pick_state(),
        })
    return out


def _write_csv(path: str, header: list[str], rows) -> None:
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


# ---------------------------------------------------------------------------
# etm_batch: scorecard landing zone + VSDB snapshot
# ---------------------------------------------------------------------------

def _scraped_name(rng: random.Random, p: dict) -> str:
    """Render a VSDB person the way a scorecard page prints them."""
    first = p["firstname"]
    if p["nickname"] and rng.random() < 0.15:
        first = p["nickname"]  # goes by the nickname
    last = p["lastname"]
    if last in ACCENTED and rng.random() < 0.7:
        last = ACCENTED[last]
    if rng.random() < 0.08:
        last = _typo(rng, last)
    middle = f"{p['middlename']}." if p["middlename"] and rng.random() < 0.5 else ""
    quoted = f'"{p["nickname"]}"' if p["nickname"] and rng.random() < 0.15 else ""
    suffix = f" {p['suffix']}." if p["suffix"] and rng.random() < 0.8 else ""
    if rng.random() < 0.15:  # "Last, First M."
        name = f"{last}, " + " ".join(t for t in (first, quoted, middle) if t)
    else:
        name = " ".join(t for t in (first, quoted, middle, last) if t) + suffix
    if rng.random() < 0.35:
        name = f"{rng.choice(HONORIFICS)} {name}"
    return name


def _party_tag(rng: random.Random, state: str) -> str:
    district = rng.randrange(1, 40)
    d = f"{district:02d}" if rng.random() < 0.6 else str(district)
    return f"({rng.choice(PARTIES)}-{state}-{d})"


def _votes(rng: random.Random) -> str:
    return " ".join(rng.choice(GLYPHS) for _ in range(rng.randrange(4, 16)))


_FIELDS = ("rec", "full_name", "party", "votes")


def _spans(r: dict, extra: list[str]) -> str:
    return "".join(f'<span data-field="{k}">{r[k]}</span>' for k in (*_FIELDS, *extra))


def _render_cards(recs: list[dict], extra: list[str]) -> str:
    cards = []
    for r in recs:
        link = f'<a href="https://scores.example.org/people/{r["rec"]}">profile</a>'
        cards.append(f'<div class="card">{_spans(r, extra)}{link}</div>')
    return "<html><body><main>" + "".join(cards) + "</main></body></html>"


def _render_table(recs: list[dict], extra: list[str]) -> str:
    cols = [*_FIELDS, *extra]
    head = "".join(f"<th>{c}</th>" for c in cols)
    body = "".join(
        "<tr>" + "".join(f"<td>{r[c]}</td>" for c in cols) + "</tr>" for r in recs
    )
    return (
        f"<html><body><table><thead><tr>{head}</tr></thead>"
        f"<tbody>{body}</tbody></table></body></html>"
    )


def _render_nested(recs: list[dict], extra: list[str], year: str) -> str:
    by_office: dict[str, list[dict]] = {}
    for r in recs:
        by_office.setdefault(r["office"], []).append(r)
    positions = []
    for office, rs in by_office.items():
        cands = "".join(f'<div class="candidate">{_spans(r, extra)}</div>' for r in rs)
        positions.append(f'<div class="position" data-office="{office}">{cands}</div>')
    return (
        f'<html><body><div class="group" data-year="{year}" data-chamber="Legislature">'
        + "".join(positions)
        + "</div></body></html>"
    )


def gen_etm(root: str, seed: int, pages: int, candidates: int) -> dict:
    """Scorecard landing zone + VSDB snapshot. Returns counts."""
    rng = _rng(seed, "etm")
    people = _people(rng, candidates, _state_picker(rng, 0.12))
    years = ("2020", "2022", "2024")
    offices = [("1", "U.S. House", "1"), ("2", "U.S. Senate", "2"),
               ("3", "State House", "3"), ("4", "State Senate", "4"),
               ("5", "Governor", "5")]

    os.makedirs(os.path.join(root, "vsdb"), exist_ok=True)
    os.makedirs(os.path.join(root, "landing"), exist_ok=True)
    _write_csv(
        os.path.join(root, "vsdb", "candidate.csv"),
        ["candidate_id", "firstname", "nickname", "middlename", "lastname", "suffix"],
        ([p[k] for k in ("candidate_id", "firstname", "nickname", "middlename",
                          "lastname", "suffix")] for p in people),
    )
    election_rows = []
    eid = 500000
    for p in people:
        for y in rng.sample(years, rng.randrange(1, 4)):
            eid += 1
            election_rows.append(
                [str(eid), p["candidate_id"], y, rng.choice(("P", "G")),
                 p["state_id"], rng.choice(offices)[0], str(rng.randrange(1, 40))]
            )
    _write_csv(
        os.path.join(root, "vsdb", "election.csv"),
        ["election_id", "candidate_id", "election_year", "stage", "state_id",
         "office_id", "district"],
        election_rows,
    )
    _write_csv(os.path.join(root, "vsdb", "office.csv"), ["office_id", "name", "rank"], offices)

    truth = []
    n_records = 0
    optional = ("district_note", "score_pct", "updated")
    # Ragged page sizes from 30 to 90 rows, but a fixed total per page count.
    sizes = [30 + (60 * i) // max(pages - 1, 1) for i in range(pages)]
    rng.shuffle(sizes)
    for page, size in enumerate(sizes):
        layout = ("cards", "table", "nested")[page % 3]
        year = rng.choice(years)
        extra = [k for k in optional if rng.random() < 0.4]
        recs = []
        for i in range(size):
            rec = f"r{page:04d}{i:03d}"
            people_here = [rng.choice(people) for _ in range(2 if rng.random() < 0.03 else 1)]
            names, tags = [], []
            for k, p in enumerate(people_here, start=1):
                if rng.random() < 0.04:  # not in VSDB: must come back unmatched
                    first, _ = rng.choice(FIRST)
                    names.append(f"{first} {_surname(rng)}zz")
                    truth.append((f"{rec}#{k}", ""))
                else:
                    names.append(_scraped_name(rng, p))
                    truth.append((f"{rec}#{k}", p["candidate_id"]))
                tags.append(_party_tag(rng, p["state_id"]))
            r = {
                "rec": rec,
                "full_name": " / ".join(names),
                "party": " / ".join(tags),
                "votes": _votes(rng),
                "office": rng.choice(offices)[1],
                "district_note": f"District {rng.randrange(1, 40)}",
                "score_pct": f"{rng.randrange(0, 101)}%",
                "updated": f"{year}-{rng.randrange(1, 13):02d}-01",
            }
            if layout != "nested":
                r["year"] = year
            recs.append(r)
        n_records += len(recs)
        if layout == "cards":
            html = _render_cards(recs, ["year", *extra])
        elif layout == "table":
            html = _render_table(recs, ["year", *extra])
        else:
            html = _render_nested(recs, extra, year)
        with open(os.path.join(root, "landing", f"{layout}_{page:04d}.html"), "w",
                  encoding="utf-8") as fh:
            fh.write(html)
    _write_csv(os.path.join(root, "truth.csv"), ["x_id", "candidate_id"], truth)
    return {"pages": pages, "records": n_records, "candidacies": len(truth),
            "candidates": candidates}


# ---------------------------------------------------------------------------
# corpus_dedup: documents with planted exact and near-duplicate families
# ---------------------------------------------------------------------------

def _edit(rng: random.Random, toks: list[str], vocab: list[str], edits: int) -> str:
    toks = list(toks)
    for _ in range(edits):
        toks[rng.randrange(len(toks))] = rng.choice(vocab)
    return " ".join(toks)


def gen_corpus(root: str, seed: int, docs: int) -> dict:
    """Every near-duplicate family is a base document (its lowest id) and
    copies that each stay close to the base. The pair graph is then a star
    around its minimum whatever copy-to-copy pairs LSH misses, so
    connected components takes the same number of rounds for every seed."""
    rng = _rng(seed, "corpus")
    vocab = sorted({_surname(rng).lower() for _ in range(4000)})
    os.makedirs(root, exist_ok=True)
    ids, texts, quality, truth = [], [], [], []

    def add(text: str, family: int, kind: str) -> None:
        doc_id = len(ids) + 1
        ids.append(doc_id)
        texts.append(text)
        quality.append(round(rng.random(), 6))
        truth.append((str(doc_id), str(family), kind))

    family = 0
    while len(ids) < docs:  # the last family may be cut short
        family += 1
        base = [rng.choice(vocab) for _ in range(rng.randrange(40, 121))]
        r = rng.random()
        if r < 0.55:
            add(" ".join(base), family, "single")
        elif r < 0.80:  # exact copies up to whitespace
            for _ in range(min(rng.randrange(2, 6), docs - len(ids))):
                sep = rng.choice((" ", "  ", "\n", " \t "))
                add(sep.join(base) + rng.choice(("", " ", "\n")), family, "exact")
        elif r < 0.92:  # the base and copies with one token edited
            add(" ".join(base), family, "near")
            for _ in range(min(rng.randrange(2, 5), docs - len(ids))):
                add(_edit(rng, base, vocab, 1), family, "near")
        else:  # the base and one copy with 8-12% of tokens edited: found only sometimes
            add(" ".join(base), family, "near")
            if len(ids) < docs:
                frac = rng.choice((0.08, 0.10, 0.12))
                add(_edit(rng, base, vocab, int(len(base) * frac)), family, "near")
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts,
                  "quality": pa.array(quality, pa.float64())}),
        os.path.join(root, "docs.parquet"),
    )
    _write_csv(os.path.join(root, "truth.csv"), ["doc_id", "family_id", "kind"], truth)
    return {"docs": len(ids), "families": family}
