"""Seeded benchmark inputs, generated once and cached inside the checkout.

Two inputs:

- ``star_schema(sf)``: the ten fixture tables the registered queries read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), with the schemas of FIXTURES.md section B and
  row counts that scale the same way (lineitem = 6M x sf).  The star
  schema uses one fixed seed: the benchmark seed only permutes the mix.
- ``netflix_csv(seed, rows, drop)``: a netflix_titles CSV drawn from the
  dirty-value classes of FIXTURES.md section A (multi-country lists,
  quotes and commas, dirty years, invalid ratings, unmatched genres,
  column-shifted rows) with description lengths like the real catalogue.
  The same seed and drop number give a byte-identical file.

Both are plain numpy/pyarrow/csv code, so no Spark session is needed to
build them.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import shutil

import numpy as np

STAR_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _atomic_dir(final: str, build) -> str:
    """Build into ``final + '.tmp'`` and rename, so a killed run never
    leaves a half-written input behind."""
    if os.path.isdir(final):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)
    return final


# -- star schema --------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "spring"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "D")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _star_tables(sf: float) -> dict:
    import pyarrow as pa

    rng = np.random.default_rng(STAR_SEED)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_evt = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    def names(prefix, n):
        return [f"{prefix}#{i:09d}" for i in range(n)]

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": np.char.add(
            np.char.add(np.array(_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    odate = _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1))
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lok = rng.integers(0, n_ord, n_line)
    ship = odate[lok] + rng.integers(1, 96, n_line).astype("timedelta64[D]")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })
    # Distinct, sorted event timestamps over 30 days of January 2024.
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(span_us, n_evt, replace=False))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array((np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"))),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), i64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.gamma(2.0, 40.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    # Documents: random word strings; 5% are an earlier document plus a
    # " dup" marker (near duplicates) and a handful are exact copies.
    words = np.array(_WORDS)
    lens = rng.integers(8, 100, n_docs)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    for i in range(1, n_docs):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif r < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], i64),
    })
    # Embeddings: unit-norm 64-d gaussian vectors, 10 labels.
    v = rng.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return t


def star_schema(cache_dir: str, sf: float) -> str:
    """Directory holding ``<table>.parquet`` for every fixture table at
    scale factor ``sf``; built on first use."""
    import pyarrow.parquet as pq

    def build(out):
        for name, table in _star_tables(sf).items():
            pq.write_table(table, os.path.join(out, f"{name}.parquet"))

    return _atomic_dir(os.path.join(cache_dir, f"star_sf{sf:g}"), build)


# -- netflix_titles CSV ------------------------------------------------------

NETFLIX_KEEP = 9  # cached CSV files: a few seeds' drops
NETFLIX_HEADER = [
    "show_id", "type", "title", "director", "cast", "country",
    "date_added", "release_year", "rating", "duration", "listed_in",
    "description",
]
_COUNTRIES = [
    "France", "England", "United States, Spain", "Japan", "", "West Germany",
    "Italy, France", "Scotland", "United States", "Norway, Japan",
    '"  Sweden , Poland "', "South Korea", "Ukraine", "Turkey",
    "Brazil, Portugal", "Iceland", "Czech Republic", "Wales", "India",
    "Germany", "Spain", "United Kingdom", "Canada, Ireland", "Mexico",
    '"Belgium, Netherlands"', "Greece", "Denmark, Finland", "Russia",
]
_RATINGS = [
    "TV-G", "TV-Y", "TV-Y7", "TV-Y7-FV", "TV-PG", "TV-14", "TV-MA",
    "G", "PG", "PG-13", "R", "NC-17", "NR", "74 min", "INVALID", "",
]
_GENRES = [
    "Crime TV Shows, International TV Shows", "Kids' TV", "Anime Series",
    "British TV Shows", "Docuseries", "Reality TV", "Romantic TV Shows",
    "Classic TV", "Stand-Up Comedy, Talk Shows", "Horror TV", "Action TV",
    "Telenovelas", "Science & Nature TV", "Kids' TV Drama", "Spanish Dramas",
    "TV Comedies, TV Dramas", "International Movies, Thrillers",
    "Documentaries", "Independent Movies",
]
_YEARS_DIRTY = ["2019 ", " 2018a", "abc", "20x5", "", "2020s", " 1998 "]
_MONTHS = [
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
]
_PEOPLE = [
    "Ana Ruiz", "Ben Okafor", "Chen Wei", "Dana Levi", "Emil Novak",
    "Farah Khan", "Gus Moreau", "Hana Sato", "Ivan Petrov", "Jude O'Neil",
]
_DESC_WORDS = (
    "a an the young detective family secret town war love story city old new "
    "friends must face dark past journey world team mystery life crime two "
    "brothers after years hidden truth small village comedy series follows "
    "documentary explores struggle power survive island night school"
).split()


def _netflix_rows(seed: int, rows: int, drop: int):
    rng = np.random.default_rng([seed % 2**32, drop])  # any int seed
    typ = rng.random(rows) < 0.7
    title_cls = rng.integers(0, 10, rows)
    country = rng.integers(0, len(_COUNTRIES), rows)
    year_dirty = rng.random(rows) < 0.12
    years = rng.integers(1960, 2022, rows)
    dirty = rng.integers(0, len(_YEARS_DIRTY), rows)
    rating = rng.integers(0, len(_RATINGS), rows)
    genre = rng.integers(0, len(_GENRES), rows)
    seasons = rng.integers(1, 9, rows)
    minutes = rng.integers(60, 180, rows)
    added = rng.random(rows) < 0.9
    months = rng.integers(0, 12, rows)
    mdays = rng.integers(1, 29, rows)
    ayears = rng.integers(2008, 2022, rows)
    n_cast = rng.integers(0, 5, rows)
    director = rng.integers(-3, len(_PEOPLE), rows)
    desc_len = np.clip(rng.normal(24, 6, rows), 6, 48).astype(int)
    desc_quote = rng.random(rows) < 0.05
    shifted = rng.random(rows) < 0.005
    dwords = np.array(_DESC_WORDS)
    cuts = np.cumsum(desc_len)[:-1]
    desc_words = np.split(dwords[rng.integers(0, len(dwords), int(desc_len.sum()))], cuts)
    for i in range(rows):
        c = title_cls[i]
        if c == 0:
            title = f'  "Show, {i}" extra  '
        elif c == 1:
            title = f"Comma, Title {i}"
        elif c == 2:
            title = f"  Padded {i} "
        else:
            title = f"Title {i}"
        desc = " ".join(desc_words[i]).capitalize() + "."
        if desc_quote[i]:
            desc = f'"{desc[:-1]}," they said.'
        cast = ", ".join(_PEOPLE[(i + k) % len(_PEOPLE)] for k in range(n_cast[i]))
        row = [
            f"s{i + 1}",
            "TV Show" if typ[i] else "Movie",
            title,
            _PEOPLE[director[i]] if director[i] >= 0 else "",
            cast,
            _COUNTRIES[country[i]],
            f"{_MONTHS[months[i]]} {mdays[i]}, {ayears[i]}" if added[i] else "",
            _YEARS_DIRTY[dirty[i]] if year_dirty[i] else str(years[i]),
            _RATINGS[rating[i]],
            f"{seasons[i]} Seasons" if typ[i] else f"{minutes[i]} min",
            _GENRES[genre[i]],
            desc,
        ]
        if shifted[i]:
            # A column-shifted garbage row: an empty field inserted after
            # the title pushes every later value one column right and the
            # description falls off the end (still 12 fields).
            row = row[:3] + [""] + row[3:11]
        yield row


def netflix_csv(cache_dir: str, seed: int, rows: int, drop: int = 0) -> str:
    """Directory holding one seeded ``netflix_titles.csv`` -- drop number
    ``drop`` of a day's CSV drops (the pipeline's extract step picks the
    newest CSV in a directory).  Only the ``NETFLIX_KEEP`` most recently
    used files stay cached."""
    root = os.path.join(cache_dir, "netflix")
    final = os.path.join(root, f"rows{rows}_seed{seed}_drop{drop}")

    def build(out):
        with open(os.path.join(out, "netflix_titles.csv"), "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(NETFLIX_HEADER)
            w.writerows(_netflix_rows(seed, rows, drop))

    path = _atomic_dir(final, build)
    os.utime(path)
    entries = sorted(
        (e for e in os.scandir(root) if e.is_dir() and ".tmp" not in e.name),
        key=lambda e: e.stat().st_mtime,
    )
    for e in entries[:-NETFLIX_KEEP]:
        shutil.rmtree(e.path, ignore_errors=True)
    return path
