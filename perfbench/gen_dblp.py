"""Seeded generator of a line-per-record DBLP XML corpus.

Each line is one trimmed record element, the layout `graft.model.Dblp.
readLineXml` reads. The corpus covers every dblp.dtd record type this
engine parses and the quirk branches of FIXTURES.md section 1:

- editor-only records (authors fall back to editors)
- `www` records, whose venue is the first three '/'-segments of the key
- records with zero or two <year> elements (dropped by t2)
- commas in author and venue names, and `&amp;` in venues and titles
- articles with no journal (venue falls back to booktitle) or no venue

Author and venue popularity follow a Zipf law, so a few venues and
authors hold most records, as in the real bibliography.

Next to the XML the generator writes the ground truth: the normalized
publication relation (key, recordType, venue, authors, title, years) that
the parse must produce, as parquet. The same seed gives the same bytes.
"""
import bisect
import hashlib
import itertools
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

RECORD_MIX = [
    ("article", 34), ("inproceedings", 38), ("proceedings", 3), ("book", 3),
    ("incollection", 5), ("phdthesis", 3), ("mastersthesis", 2), ("www", 12),
]
FIRST = ["Anna", "Bo", "Carlos", "Dana", "Elif", "Femi", "Gita", "Hiro",
         "Ines", "Jun", "Kofi", "Lena", "Mateo", "Nadia", "Omar", "Priya",
         "Quinn", "Rosa", "Sven", "Tariq", "Uma", "Viktor", "Wen", "Yara"]
LAST = ["Abe", "Berg", "Chen", "Diaz", "Eze", "Fuchs", "Garcia", "Hahn",
        "Ito", "Jensen", "Kim", "Lopez", "Moreau", "Novak", "Okafor",
        "Patel", "Quist", "Rossi", "Sato", "Tan", "Ueda", "Vogel", "Wang",
        "Yilmaz", "Zhou"]
WORDS = ["adaptive", "query", "graph", "stream", "index", "learning",
         "parallel", "secure", "sparse", "temporal", "robust", "scalable",
         "join", "cache", "model", "network", "logic", "search", "storage",
         "sampling", "privacy", "compiler", "vector", "schema"]
YEARS = (1980, 2023)


def _zipf_cum(n, s):
    acc, out = 0.0, []
    for i in range(n):
        acc += 1.0 / (i + 1) ** s
        out.append(acc)
    return out


class _Zipf:
    def __init__(self, items, s, rng):
        self.items, self.rng = items, rng
        self.cum = _zipf_cum(len(items), s)

    def draw(self):
        x = self.rng.random() * self.cum[-1]
        return self.items[bisect.bisect_left(self.cum, x)]


def _esc(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _people(rng, n):
    names = []
    for i in range(n):
        name = f"{rng.choice(FIRST)} {rng.choice(LAST)} {i:04d}"
        if i % 50 == 7:  # a comma inside the name (FIXTURES Q1)
            name = f"{rng.choice(LAST)} {i:04d}, {rng.choice(FIRST)}"
        names.append(name)
    return names


def _venues(rng, prefix, n):
    out = []
    for i in range(n):
        w = rng.choice(WORDS).capitalize()
        v = f"{prefix} {w} {i:03d}"
        if i % 40 == 3:
            v = f"{prefix} {w} {i:03d}, Part B"
        elif i % 40 == 11:
            v = f"{prefix} {w} & Systems {i:03d}"
        out.append(v)
    return out


def generate(seed, n_records, out_dir):
    """Write `dblp.xml` and `truth.parquet` under out_dir; return the
    metadata (record count, byte size, sha256 of the XML)."""
    rng = random.Random(seed)
    authors = _Zipf(_people(rng, max(200, n_records // 6)), 0.9, rng)
    journals = _Zipf(_venues(rng, "J.", 120), 1.0, rng)
    confs = _Zipf(_venues(rng, "Proc.", 160), 1.0, rng)
    publishers = _Zipf(_venues(rng, "Press", 20), 1.0, rng)
    schools = _Zipf(_venues(rng, "Univ.", 40), 1.0, rng)
    types = [t for t, _ in RECORD_MIX]
    type_cum = list(itertools.accumulate(w for _, w in RECORD_MIX))

    os.makedirs(out_dir, exist_ok=True)
    xml_path = os.path.join(out_dir, "dblp.xml")
    truth = {"key": [], "recordType": [], "venue": [], "authors": [],
             "title": [], "years": []}
    with open(xml_path, "w", encoding="utf-8", newline="\n") as f:
        for i in range(n_records):
            rt = rng.choices(types, cum_weights=type_cum)[0]
            rec = _record(rng, i, rt, authors, journals, confs, publishers,
                          schools)
            f.write(rec["xml"] + "\n")
            for k in truth:
                truth[k].append(rec[k])
    pq.write_table(pa.table({
        "key": pa.array(truth["key"], pa.string()),
        "recordType": pa.array(truth["recordType"], pa.string()),
        "venue": pa.array(truth["venue"], pa.string()),
        "authors": pa.array(truth["authors"], pa.list_(pa.string())),
        "title": pa.array(truth["title"], pa.string()),
        "years": pa.array(truth["years"], pa.list_(pa.int32())),
    }), os.path.join(out_dir, "truth.parquet"))
    with open(xml_path, "rb") as f:
        blob = f.read()
    return {"records": n_records, "bytes": len(blob),
            "sha256": hashlib.sha256(blob).hexdigest()}


def _years(rng):
    r = rng.random()
    if r < 0.02:
        return []
    y = rng.randint(*YEARS)
    if r < 0.04:
        return [y, min(YEARS[1], y + 1)]
    return [y]


def _title(rng, i):
    t = f"{rng.choice(WORDS).capitalize()} {rng.choice(WORDS)} {i}"
    if i % 97 == 5:
        t = f"{t} & beyond"
    return t


def _record(rng, i, rt, authors, journals, confs, publishers, schools):
    title = _title(rng, i)
    years = _years(rng)
    names, editors = [], []
    fields = {}  # venue source fields, emitted in dblp order after <title>
    if rt == "www":
        bucket = rng.randint(0, 19)
        # 4-segment keys share a venue (first 3 segments); 3-segment keys
        # are their own venue
        key = (f"homepages/{bucket}/g{rng.randint(0, 4)}/p{i}"
               if i % 3 else f"homepages/{bucket}/p{i}")
        names = [authors.draw()]
        title = "Home Page"
        years = []
    elif rt == "proceedings":
        key = f"conf/c{i % 160}/{i}"
        editors = _distinct(rng, authors, rng.randint(1, 3))
        if i % 4:
            fields["publisher"] = publishers.draw()
        else:
            fields["booktitle"] = confs.draw()
    elif rt == "book":
        key = f"books/b/{i}"
        if i % 5 == 0:
            editors = _distinct(rng, authors, rng.randint(1, 2))
        else:
            names = _distinct(rng, authors, rng.randint(1, 3))
        fields["publisher"] = publishers.draw()
    elif rt in ("phdthesis", "mastersthesis"):
        key = f"phd/{i}"
        names = [authors.draw()]
        fields["school"] = schools.draw()
    elif rt == "article":
        key = f"journals/j{i % 120}/{i}"
        names = _distinct(rng, authors, rng.randint(1, 6))
        r = rng.random()
        if r < 0.93:
            fields["journal"] = journals.draw()
        elif r < 0.98:
            fields["booktitle"] = confs.draw()
        # else: no venue field at all -> NULL venue, dropped by the filters
    else:  # inproceedings, incollection
        key = f"conf/c{i % 160}/{i}"
        names = _distinct(rng, authors, rng.randint(1, 5))
        fields["booktitle"] = confs.draw()

    parts = [f'<{rt} key="{key}" mdate="2020-01-0{1 + i % 9}">']
    parts += [f"<author>{_esc(a)}</author>" for a in names]
    parts += [f"<editor>{_esc(e)}</editor>" for e in editors]
    parts.append(f"<title>{_esc(title)}</title>")
    parts += [f"<year>{y}</year>" for y in years]
    for tag in ("journal", "booktitle", "publisher", "school"):
        if tag in fields:
            parts.append(f"<{tag}>{_esc(fields[tag])}</{tag}>")
    parts.append(f"</{rt}>")
    return {
        "xml": "".join(parts), "key": key, "recordType": rt,
        "venue": _venue_of(rt, key, fields),
        "authors": names if names else editors,
        "title": title, "years": years if years else None,
    }


def _distinct(rng, zipf, n):
    out = []
    for _ in range(4 * n):
        a = zipf.draw()
        if a not in out:
            out.append(a)
        if len(out) == n:
            break
    return out


def _venue_of(rt, key, f):
    """graft.model.Dblp.venueOf, for records whose fields are never empty."""
    if rt == "article":
        return f.get("journal") or f.get("booktitle")
    if rt in ("inproceedings", "incollection"):
        return f.get("booktitle")
    if rt in ("book", "proceedings"):
        return f.get("publisher") or f.get("booktitle")
    if rt in ("phdthesis", "mastersthesis"):
        return f.get("school")
    if rt == "www":
        return "/".join(key.split("/")[:3])
    return "No venue available"
