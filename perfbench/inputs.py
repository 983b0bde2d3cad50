"""Seeded input generation for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and writes plain files (CSV or parquet) into a directory the
benchmark owns; the program under test only ever receives those files.
The same seed always gives byte-identical files.

* :func:`write_staging` -- the ``stg_population`` INSEE-shaped CSV at
  commune grain (same header as the warehouse test fixtures), with a
  seeded share of dirty rows (non-numeric ``OBS_VALUE``, exact
  duplicate lines).
* :func:`write_star` -- the TPC-H-like star (``region`` ... ``lineitem``)
  plus ``events``, with the value domains of the engine's test data.
* :func:`write_corpus` -- ``documents`` and ``embeddings`` with the
  test data's vocabulary and shapes, plus a seeded share of exact and
  near-duplicate documents.
* :func:`read_deck` -- the seeded read/upsert operation sequence of the
  ``warehouse_reads`` workload.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from metrics import CORPUS_OPS

DEPTS = ["02", "59", "60", "62", "80"]
YEARS = list(range(2010, 2025))  # the dim_temps range

# stg_population fan-out per (commune, year): sex x age x pcs
_SEXES = ["M", "F", "_T"]
_AGES = ["Y15T24", "Y25T54", "Y_GE55", "_T"]
_PCS = ["1", "5", "_T"]
_DIRTY_VALUES = ["n/a", "s", "nd", "x", "?"]

STAGING_HEADERS = {
    "stg_population": "GEO_ID,PCS_CODE,SEX,TIME_PERIOD,RP_MEASURE,AGE_GROUP,OBS_VALUE,DEPARTEMENT_CODE",
}

# Per (commune, year): the non-value fields of each table's rows and
# the (low, high) range of its clean OBS_VALUE.
_ROW_TEMPLATES = {
    "stg_population": (
        [
            f"{{geo}},{pcs},{sex},{{y}},POP,{age}"
            for pcs in _PCS
            for sex in _SEXES
            for age in _AGES
        ],
        (10, 9000),
    ),
}


def communes(rng: np.random.Generator, n: int) -> list[tuple[str, str, str, int]]:
    """(commune_code, commune_nom, departement_code, population) rows,
    spread round-robin over the five departments; about one commune in
    eight is large enough to host an agency."""
    out = []
    for i in range(n):
        dept = DEPTS[i % len(DEPTS)]
        code = f"{dept}{i // len(DEPTS) + 1:03d}"
        big = rng.random() < 0.125
        pop = int(rng.integers(10_000, 250_000) if big else rng.integers(50, 9_999))
        out.append((code, f"Commune {code}", dept, pop))
    return out


DIRTY_SHARE = 0.01


def write_staging(rng: np.random.Generator, root: str, n_communes: int) -> dict:
    """Write the staging CSVs; returns paths and input statistics.

    ``DIRTY_SHARE`` of the rows are dirty, split evenly between a
    non-numeric ``OBS_VALUE`` (coerced to NULL by staging) and an exact
    duplicate of the line before it (removed by staging's dedup)."""
    os.makedirs(root, exist_ok=True)
    coms = communes(rng, n_communes)
    paths, rows, dirty = {}, {}, {}
    for name, (templates, (lo, hi)) in _ROW_TEMPLATES.items():
        keys = [
            tpl.format(geo=f"{y}-COM-{code}", y=y) + f",{{v}},{dept}"
            for code, _, dept, _ in coms
            for y in YEARS
            for tpl in templates
        ]
        values = rng.integers(lo, hi, size=len(keys))
        draw = rng.random(len(keys))
        lines, n_dirty = [], 0
        for key, v, r in zip(keys, values, draw):
            if r < DIRTY_SHARE / 2:
                lines.append(key.format(v=_DIRTY_VALUES[int(r * 1e6) % len(_DIRTY_VALUES)]))
                n_dirty += 1
            else:
                lines.append(key.format(v=int(v)))
                if r < DIRTY_SHARE:
                    lines.append(lines[-1])
                    n_dirty += 1
        path = os.path.join(root, f"{name}.csv")
        with open(path, "w") as fh:
            fh.write(STAGING_HEADERS[name] + "\n" + "\n".join(lines) + "\n")
        paths[name] = path
        rows[name] = len(lines)
        dirty[name] = n_dirty
    total_rows = sum(rows.values())
    return {
        "paths": paths,
        "communes": coms,
        "rows": rows,
        "total_rows": total_rows,
        "bytes": sum(os.path.getsize(p) for p in paths.values()),
        "dirty_rows": sum(dirty.values()),
        "dirty_share": sum(dirty.values()) / total_rows,
    }


# --- TPC-H-like star + events ---------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_WORDS = (["small", "red", "blue", "green", "large", "shiny"],
               ["ring", "widget", "bolt", "gear", "panel", "spring"])
_PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# rows per unit of scale; 1.0 is the engine's sf0.1 test data
_STAR_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
              "orders": 150_000, "lineitem": 600_000, "events": 100_000,
              "users": 1_500}


def _ts(rng: np.random.Generator, n: int, start: str, end: str, unit: str) -> np.ndarray:
    lo = np.datetime64(start, unit).astype(np.int64)
    hi = np.datetime64(end, unit).astype(np.int64)
    return rng.integers(lo, hi, size=n).astype(f"datetime64[{unit}]").astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def write_star(rng: np.random.Generator, root: str, scale: float) -> dict:
    """Write ``region`` ... ``lineitem`` and ``events`` as single-file
    parquet tables with the test data's schemas; returns row counts."""
    os.makedirs(root, exist_ok=True)
    n = {k: max(10, int(v * scale)) for k, v in _STAR_ROWS.items()}
    pick = lambda vals, k: np.array(vals, dtype=object)[rng.integers(0, len(vals), k)]  # noqa: E731
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": _REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": pick(_SEGMENTS, c),
    })
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    tables["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(_PART_WORDS[0], p), pick(_PART_WORDS[1], p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": pick(_PART_TYPES, p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
    })
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": pick(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts(rng, o, "1995-01-01", "2001-08-02", "D"),
        "o_orderpriority": pick(_PRIORITIES, o),
    })
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], li),
        "l_linestatus": pick(["F", "O"], li),
        "l_shipdate": _ts(rng, li, "1995-01-02", "2001-11-05", "D"),
    })
    e = n["events"]
    tables["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": np.sort(_ts(rng, e, "2024-01-01", "2024-01-31", "us")),
        "user_id": rng.integers(0, n["users"], e).astype(np.int64),
        "event_type": pick(_EVENT_TYPES, e),
        "value": _money(rng, 0.0, 100.0, e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    nbytes = sum(_write(t, os.path.join(root, f"{k}.parquet")) for k, t in tables.items())
    return {"rows": {k: t.num_rows for k, t in tables.items()}, "bytes": nbytes}


# --- corpus ----------------------------------------------------------------

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]


EXACT_DUP_SHARE = 0.002
NEAR_DUP_SHARE = 0.01


def write_corpus(rng: np.random.Generator, root: str, n_docs: int, n_vecs: int) -> dict:
    """Write ``documents`` and ``embeddings``.

    Documents are 10-100 tokens drawn from the test data's 31-word
    vocabulary. A seeded ``EXACT_DUP_SHARE`` of them copies an earlier
    document verbatim, and ``NEAR_DUP_SHARE`` copies one with a single
    token replaced, so the dedup stages have pairs to find. Embeddings
    are 64-d unit vectors with ten labels."""
    os.makedirs(root, exist_ok=True)
    vocab = np.array(VOCAB, dtype=object)
    texts: list[str] = []
    n_exact = n_near = 0
    lengths = rng.integers(10, 101, n_docs)
    kinds = rng.random(n_docs)
    for i in range(n_docs):
        if i > 0 and kinds[i] < EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
            n_exact += 1
        elif i > 0 and kinds[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(toks))
            n_near += 1
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lengths[i])]))
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS, dtype=object)[rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    nbytes = _write(docs, os.path.join(root, "documents.parquet"))
    nbytes += _write(emb, os.path.join(root, "embeddings.parquet"))
    return {
        "documents": n_docs,
        "embeddings": n_vecs,
        "bytes": nbytes,
        "exact_dup_share": n_exact / n_docs,
        "near_dup_share": n_near / n_docs,
    }


# --- warehouse_reads operation sequence -----------------------------------

# One deck of 28 operations: 26 reads and 2 SCD2 upserts. Each analytic
# read and each corpus-curation operator appears once; the rest are
# read-API and row-level-security reads, as on a served warehouse. Every deck holds the same
# requests -- the API requests below cover each table, each limit-clamp
# case and one refused table -- shuffled with the run's seed, so every
# deck does the same work while the order, the data, the RLS logins
# and the upsert batches vary with the seed.
DECK = (
    ["dashboard", "tpch_q3", "tpch_q5"]
    + ["agg_groupby_sum", "win_version_latest", "join_asof"]
    + CORPUS_OPS
    + ["api_get"] * 10
    + ["api_summary", "rls"]
    + ["upsert"] * 2
)
API_TABLES = ["region", "nation", "customer", "supplier", "part", "orders"]
API_REQUESTS = [  # (table, limit); lineitem is not on the allowlist
    ("region", -5), ("nation", 0), ("customer", 1), ("supplier", 7), ("part", 100),
    ("orders", 999), ("customer", 1000), ("orders", 5000), ("part", 1000), ("lineitem", 100),
]
EPOCH = dt.datetime(2024, 6, 1)  # SCD2 effective-time base: no wall clock in the data


def read_deck(rng: np.random.Generator, n_decks: int) -> list[dict]:
    """The seeded operation sequence: ``n_decks`` shuffled decks. An
    ``rls`` op's ``user`` indexes the sorted login list the workload
    resolves at run time; an ``upsert`` carries its batch's share and
    seed."""
    ops = []
    for _ in range(n_decks):
        requests = iter(rng.permutation(len(API_REQUESTS)))
        for kind in rng.permutation(np.array(DECK, dtype=object)):
            op = {"kind": str(kind)}
            if kind == "api_get":
                op["table"], op["limit"] = API_REQUESTS[next(requests)]
            elif kind == "rls":
                op["user"] = int(rng.integers(0, 2**31))
            elif kind == "upsert":
                op["share"] = float(rng.uniform(0.01, 0.02))
                op["seed"] = int(rng.integers(0, 2**31))
            ops.append(op)
    return ops


def write_geo_fact(rng: np.random.Generator, path: str, coms: list, n_rows: int) -> int:
    """A commune-grain measure table carrying ``departement_code``: the
    table row-level security filters by the reader's zone."""
    idx = rng.integers(0, len(coms), n_rows)
    table = pa.table({
        "commune_code": np.array([c[0] for c in coms], dtype=object)[idx],
        "departement_code": np.array([c[2] for c in coms], dtype=object)[idx],
        "annee": rng.integers(YEARS[0], YEARS[-1] + 1, n_rows).astype(np.int32),
        "valeur": _money(rng, 0.0, 5000.0, n_rows),
    })
    return _write(table, path)


def write_zones(coms: list, path: str) -> int:
    """The login -> visible-department table row-level security reads,
    shaped like the one the warehouse load publishes: the regional
    director has a NULL scope (sees everything), department and agency
    directors their department. Agencies are the communes of 10,000
    inhabitants or more."""
    rows = [("direction.regionale", None)]
    rows += [(f"directeur.departement{d}", d) for d in DEPTS]
    rows += [(f"directeur.agence{c[0]}", c[2]) for c in coms if c[3] >= 10_000]
    table = pa.table({"login": [r[0] for r in rows], "scope": [r[1] for r in rows]})
    return _write(table, path)


def changed_customers(seed: int, n_customers: int, share: float, version: int):
    """One SCD2 upsert batch: a seeded 1-2% of customers with a new
    segment and balance (segments are tagged with the batch number, so
    every batch really changes them)."""
    rng = np.random.default_rng(seed)
    k = max(1, int(n_customers * share))
    keys = np.sort(rng.choice(n_customers, size=k, replace=False)).astype(np.int64)
    seg = np.array(_SEGMENTS, dtype=object)[rng.integers(0, len(_SEGMENTS), k)]
    return [
        (int(key), f"{s}-V{version}", float(bal))
        for key, s, bal in zip(keys, seg, _money(rng, -999.99, 9999.99, k))
    ]
