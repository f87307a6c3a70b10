"""Seeded input generators for the benchmark workloads.

Everything here is plain NumPy + PyArrow: the program under test only
ever sees the files (or frames) these functions produce, and the same
seed always produces the same bytes.

- :func:`write_tpch_tables` — the ten tables the registered queries
  read (``region nation customer supplier part orders lineitem events
  documents embeddings``), shaped like the repository's query testdata at the
  given scale factor: same schemas, same key/value domains, exact
  copies plus " dup" suffixes among the documents so the dedup
  operators have work.
- :func:`landing_batches` — bronze reviews at the ``RAW_REVIEWS`` grain
  (five banks, eight cities, French snippets the lexicon and
  language-ID code fire on, ~1% re-collected ``review_id``s) offered as
  micro-batches in which a fifth of the rows are exact re-scrapes of
  rows offered before.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("small", "hot", "red", "blue", "large", "old", "cold", "new")
_NOUN = ("widget", "gear", "plate", "bolt", "ring", "rod", "gizmo", "anvil")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def _us(day: str) -> int:
    """Microseconds since the epoch for a naive ISO date."""
    return int(dt.datetime.fromisoformat(day)
               .replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts drawn in integer cents (no float-rounding
    drift between writers)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _day_span(rng, first: str, last: str, n: int) -> np.ndarray:
    days = (_us(last) - _us(first)) // 86_400_000_000
    return _us(first) + rng.integers(0, days + 1, n) * 86_400_000_000


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    n_words = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in n_words]
    # ~5% near-duplicates: another document's text plus " dup"
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype="int64")
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(_LANGS, n),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype("int32")
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = rng.normal(0.0, 1.0, (n, dim)) + 0.6 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    })


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten query-input tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_li = max(400, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = 500
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part),
                                              rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_day_span(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_li),
        "l_linestatus": rng.choice(("F", "O"), n_li),
        "l_shipdate": _ts(_day_span(rng, "1995-01-02", "2001-11-04", n_li))})
    gaps = rng.exponential(30 * 86_400_000_000 / n_ev, n_ev).astype("int64") + 1
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(_us("2024-01-01") + np.cumsum(gaps)),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_docs)
    return t


def write_tpch_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; return row
    counts by table."""
    os.makedirs(out_dir)
    rows = {}
    for name, tbl in tpch_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows


_BANKS = ("Attijariwafa Bank", "Banque Populaire", "BMCE Bank",
          "CIH Bank", "Credit Agricole")
_CITIES = ("Casablanca", "Rabat", "Marrakech", "Fès", "Tanger",
           "Agadir", "Oujda", "Meknès")
_SNIPPETS = (
    "service excellent et accueil rapide je recommande",
    "tres bonne banque personnel aimable et professionnel",
    "attente trop longue service mauvais je deconseille",
    "personnel desagreable et guichet ferme sans explication",
    "agence correcte rien de special horaires classiques",
    "bon conseiller mais application mobile lente",
    "retrait rapide distributeur toujours disponible super",
    "frais eleves et reponse tardive tres decevant",
)


def raw_reviews(seed: int, n: int) -> tuple[pa.Table, int]:
    """``n`` bronze review rows and the number of distinct
    ``review_id``s among them.  Every row passes the silver filters
    (non-null keys and bank, 10..5000-character text, rating 1..5), so
    the distinct id count is exactly the fact table's row count."""
    rng = np.random.default_rng([seed, 2])
    ids = np.arange(n)
    # ~1% of rows re-collect an earlier review (same id, later
    # collection time, different text) — keep-first dedup has work
    rid = np.where(rng.random(n) < 0.01, np.maximum(ids - 1, 0), ids)
    bank = rng.integers(0, len(_BANKS), n)
    city = rng.integers(0, len(_CITIES), n)
    place = rng.integers(0, 1810, n)
    epoch = 1_609_459_200 + rng.integers(0, 126_144_000, n)
    banks = np.array(_BANKS, dtype=object)
    cities = np.array(_CITIES, dtype=object)
    snippets = np.array(_SNIPPETS, dtype=object)[rng.integers(0, len(_SNIPPETS), n)]
    collected = (epoch + 86_400 + (rid != ids) * 3_600) * 1_000_000
    tbl = pa.table({
        "review_id": [f"r{i}" for i in rid],
        "place_id": [f"place_{p}" for p in place],
        "bank_name": banks[bank],
        "branch_name": [f"Agence {b} {c}" for b, c in zip(banks[bank], cities[city])],
        "author_name": [f"author_{a}" for a in rng.integers(0, 120, n)],
        "author_url": pa.nulls(n, pa.string()),
        "language": ["fr"] * n,
        "original_language": pa.nulls(n, pa.string()),
        "profile_photo_url": pa.nulls(n, pa.string()),
        "rating": rng.integers(1, 6, n).astype("int32"),
        "text": [f"{s} ref {i}" for s, i in zip(snippets, ids)],
        "time": epoch.astype("int64"),
        "translated": np.zeros(n, dtype=bool),
        "relative_time_description": ["il y a 2 mois"] * n,
        "collected_at": pa.array(collected.astype("int64"),
                                 type=pa.timestamp("us", tz="UTC")),
    })
    return tbl, int(len(np.unique(rid)))


def landing_batches(seed: int, n: int, n_batches: int,
                    repeat_share: float = 0.2) -> tuple[list[pa.Table], dict]:
    """The ``n`` bronze reviews of :func:`raw_reviews`, offered as
    ``n_batches`` landing micro-batches the way a collector re-scraping
    overlapping pages delivers them: on top of its share of new rows,
    each batch repeats ``repeat_share`` as many exact copies of rows
    offered earlier (in an earlier batch or this one), in shuffled
    order.  Returns the batches and the expected counts."""
    tbl, fact_rows = raw_reviews(seed, n)
    rng = np.random.default_rng([seed, 4])
    bounds = np.linspace(0, n, n_batches + 1).astype(int)
    batches = []
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        repeats = rng.integers(0, hi, int(repeat_share * (hi - lo)))
        rows = rng.permutation(np.concatenate([np.arange(lo, hi), repeats]))
        batches.append(tbl.take(pa.array(rows)))
    offered = sum(b.num_rows for b in batches)
    return batches, {"offered": offered, "distinct_contents": n,
                     "expected_fact_rows": fact_rows}
