"""Shared plumbing for the query registry."""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.datapipe import (
    CHUNK_OVERLAP,
    CHUNK_SIZE,
)
from evolution_data_warehouse_spark.operators.dedup import (
    DEFAULT_MAX_BUCKET,
    MERSENNE_P,
    MINHASH_COEFFS,
    N_BANDS,
    N_MINHASH,
    ROWS_PER_BAND,
    content_hash64_sql,
)
from evolution_data_warehouse_spark.operators.textops import word_ngrams

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

# --- events.ts precision pinning (oracle side) -----------------------------
#
# events.parquet stores ts as TIMESTAMP(NANOS). Spark always µs-truncates
# (see t() below); DuckDB 1.0 also reads µs, but DuckDB ≥1.1 surfaces the
# column as TIMESTAMP_NS. Any oracle that orders by ts, lags/leads over it,
# or emits ts-derived values would then see sub-µs tiebreaks Spark cannot
# see. Rather than trust each query author to remember a CAST, every
# registered oracle is rewritten to read events through a µs-pinned inline
# view — a no-op on µs-reading DuckDB, and exactly the Spark semantics on a
# ns-reading one.

_EVENTS_US_SQL = "(SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)"

# words that can follow "FROM events" without being an alias
_SQL_KEYWORDS = frozenset(
    "group order where join left right inner outer cross full on union "
    "window limit having qualify using natural select except intersect "
    "and or not "
    # remaining DuckDB clause starters that can follow a table ref —
    # without these, `FROM events ASOF JOIN x` would capture ASOF as a
    # table alias and silently change oracle semantics
    "asof semi anti positional pivot unpivot tablesample fetch offset".split()
)

_EVENTS_REF_RE = re.compile(
    r"\b(FROM|JOIN)\s+events\b(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?",
    re.IGNORECASE,
)


def pin_events_us(sql: str) -> str:
    """Rewrite every ``FROM/JOIN events [alias]`` table reference in an
    oracle to the µs-pinned inline view, preserving any alias (the view
    is aliased ``events`` when the query used the bare table name, so
    qualified ``events.col`` references keep resolving)."""

    def _sub(m: re.Match) -> str:
        kw, alias = m.group(1), m.group(2)
        if alias and alias.lower() not in _SQL_KEYWORDS:
            return f"{kw} {_EVENTS_US_SQL} {alias}"
        tail = f" {alias}" if alias else ""
        return f"{kw} {_EVENTS_US_SQL} events{tail}"

    return _EVENTS_REF_RE.sub(_sub, sql)


@dataclass(frozen=True)
class Query:
    """One registry entry: a Spark query plus its DuckDB oracle."""

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → non-SQL-expressible; driver does rows-only
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    """Decorator: add a (spark, sf_dir) -> DataFrame callable to REGISTRY."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            # a silent overwrite hides one of two implementations from
            # the driver forever (r12 nearly shipped a duplicate
            # quality_k_anonymity this way) — collide loudly instead
            raise ValueError(
                f"duplicate registry name {name!r}: already registered "
                f"by {REGISTRY[name].fn.__module__}"
            )
        pinned = pin_events_us(oracle) if oracle is not None else None
        REGISTRY[name] = Query(name=name, fn=fn, oracle=pinned, doc=doc)
        return fn

    return deco


REPO_DIR = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def latest_verdicts() -> dict[str, tuple[int, bool]]:
    """name → (round, passed) of each query's latest driver verdict, read
    from the committed ``CORRECTNESS_r{N}.json`` artifacts (empty when
    there are none). The highest round wins, not file order: a
    lexicographic glob puts r10 before r2."""
    latest: dict[str, tuple[int, bool]] = {}
    for path in glob.glob(os.path.join(REPO_DIR, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            data = json.load(f)
        for name, rec in data.items():
            ok = (
                rec.get("err") is None
                and rec.get("rows_match")
                and rec.get("schema_match") is not False
                and rec.get("hash_match") is not False
            )
            if name not in latest or rnd >= latest[name][0]:
                latest[name] = (rnd, bool(ok))
    return latest


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Parquet scan → Catalyst gets pushdown
    and column pruning for free.

    events.ts is TIMESTAMP(NANOS) parquet. Engine versions differ in how
    they surface it — older readers need `nanosAsLong` (int64 nanos we
    floor-truncate to µs; integer `div`, not `/`, avoids double-precision
    loss at epoch-nanos magnitudes), Spark 4.1.x reads it directly as
    TIMESTAMP_NTZ (µs-truncated, the legacy conf is inert). Either way
    the contract downstream is the same: `ts` is a TIMESTAMP_LTZ whose
    epoch-µs equal DuckDB's µs timestamps on the oracle side, so epoch
    casts (`cast(ts as long)`, `unix_micros`) and streaming watermarks
    all work. The NTZ→LTZ cast interprets the wall-clock in the session
    TZ, which we pin to UTC so the mapping is the identity everywhere.
    """
    # Session-scoped safety knobs (idempotent; also applied when the caller
    # owns the session, e.g. the driver's verify harness):
    # ICU title-case map construction (CollationAwareUTF8String <clinit>)
    # can stall interpreted string expressions for ~90s in sandboxed envs.
    spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def cpu_repartition(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition to core count for per-row-CPU-heavy narrow stages
    (codec decode, fingerprinting, token explode): the parquet scan
    splits by BYTES (`maxPartitionBytes`), so a narrow id/payload
    projection often yields far fewer partitions than cores and the
    expensive stage idles most of the machine (profiled r11: 10
    splits on 32 cores = 3.2× wall-clock on mm_video_frames). The
    shuffle moves only the slim projected columns — negligible next
    to the CPU it parallelizes — and is SKIPPED when the input is
    already at least core-wide (an exchange on an already-wide scan
    is pure waste). Placement is round-robin, or hash on ``cols``
    when given (for callers whose downstream shuffle key benefits);
    result hashing is row-order-independent so either placement is
    safe under the determinism rules."""
    width = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= width:
        return df
    if cols:
        return df.repartition(width, *cols)
    return df.repartition(width)


# Source-size ceiling for gated_broadcast hints: the guide §3.1 "a few
# hundred MB is usually fine" bound (sf1 orders+customer ≈ 24 MB).
BROADCAST_GATE_BYTES = 256 << 20


def gated_broadcast(df: DataFrame, sf_dir: str, *tables: str) -> DataFrame:
    """Broadcast hint gated on the hinted branch's SOURCE bytes.

    A hard ``F.broadcast`` on a branch derived from scaling tables
    (e.g. ``orders ⋈ customer`` in the TPC-H star shapes) bypasses the
    size threshold entirely: right at the bench SFs, an OOM at 100 TB
    (r14 verdict item 3). But simply dropping the hint lets the
    planner's post-filter size ESTIMATE pick the build side, and at
    small SFs it picks the filtered FACT side — the exact inverted
    orientation the r14 star fix removed. This gate keeps the hint
    exactly while it is provably safe: apply it only when the branch's
    source parquet files total under ``BROADCAST_GATE_BYTES`` (a
    100 TB run is orders of magnitude over). Past the gate the hint
    vanishes and AQE picks the strategy from measured sizes. File
    metadata only — no data is read and nothing about the query's
    result changes.
    """
    total = 0
    for name in tables:
        path = f"{sf_dir}/{name}.parquet"
        if os.path.isdir(path):
            total += sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(path)
                for f in fs
            )
        elif os.path.exists(path):
            total += os.path.getsize(path)
        else:  # unknown source (e.g. a remote URI): be scale-safe
            return df
    return F.broadcast(df) if total < BROADCAST_GATE_BYTES else df


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent double sum.

    Casting each row to DECIMAL before summing makes the aggregate
    exact (decimal addition is associative), so Spark's parallel
    partial/final aggregation and DuckDB's single-threaded sum produce
    bit-identical results. Cast back to DOUBLE for a stable schema.

    Cost (measured at sf0.1, local[32], steady state): the per-row
    decimal cast adds ~10% to the TPC-H Q1-shaped agg_groupby_sum
    (0.36s vs 0.28s plain-double, 8 aggregates) and ~10% to the star
    join join_inner_equi (whose countDistinct adds another ~15% — the
    extra shuffle for exact distinct is likewise a correctness choice).
    That is the whole headroom vs the plain plan: it is all
    determinism tax, deliberately paid so results are reproducible
    across partitionings, engines, and cluster sizes — at 100 TB a
    non-associative double sum would differ run-to-run.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(28,{scale})")).cast("double")


def dsum_sql(expr: str, scale: int = 2) -> str:
    """DuckDB-side mirror of :func:`dsum`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(28,{scale}))) AS DOUBLE)"


def davg(col: Column | str, scale: int = 4) -> Column:
    """Order-independent average: exact decimal sum / count, in double."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast(f"decimal(28,{scale})")).cast("double")
        / F.count(c).cast("double")
    )


def davg_sql(expr: str, scale: int = 4) -> str:
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(28,{scale}))) AS DOUBLE)"
        f" / CAST(COUNT({expr}) AS DOUBLE)"
    )


def fpq(col: Column | str, digits: int = 6) -> Column:
    """Fixed-point quantize an interpolated double for oracle comparison.

    ``floor(x·10^digits + 0.5) / 10^digits`` — nearest-integer in fixed
    point, spelled with floor so both engines share one rounding rule
    (no native round(): its tie-break differs across engines). The +0.5
    matters: interpolated percentiles over 2-decimal money land exactly
    ON fine-grained quantization boundaries, where a raw floor would
    AMPLIFY a 1-ulp engine difference instead of absorbing it; nearest-
    integer puts every true value at the centre of its bucket. digits=6
    keeps the product ~1e11 ≪ 2^53, so the multiply is ulp-clean.
    """
    c = F.col(col) if isinstance(col, str) else col
    m = F.lit(float(10**digits))
    return (F.floor(c * m + F.lit(0.5)) / m).cast("double")


def fpq_sql(expr: str, digits: int = 6) -> str:
    """DuckDB-side mirror of :func:`fpq`."""
    m = float(10**digits)
    return f"CAST(CAST(floor(({expr}) * {m} + 0.5) AS BIGINT) / {m} AS DOUBLE)"


# ===========================================================================
# Helpers and fixtures shared by more than one query family — each is
# defined once, here, instead of one family importing another's
# private names.
# ===========================================================================

SCRATCH = os.path.join(REPO_DIR, ".scratch")


def scratch(name: str, sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(SCRATCH, f"{name}_{tag}")


DIM = 64  # embedding dimensionality of the testdata


SHINGLES_SQL = """
SELECT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 1, 1)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
           ))) AS shingle
    FROM (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents)
)
"""


def doc_shingles(spark: SparkSession, sf_dir: str, *keep: str) -> DataFrame:
    """doc_id (+ ``keep`` columns) → distinct 3-gram word shingles
    (exploded).

    The shingle build (split + transform + array_distinct + explode) is
    the CPU-heavy stage of every dedup pipeline; a corpus that arrives
    in fewer input splits than the cluster has cores would serialize
    it. Spread the raw docs to full width first — the raw-text shuffle
    is tiny next to the exploded output, and the guard never *reduces*
    an already-wide scan (the 100 TB case, where the scan brings
    thousands of splits on its own; r14 profile: split_leakage_audit's
    shingle stage held 57.5 s of executorRunTime in the 10 scan tasks
    at sf1).
    """
    docs = cpu_repartition(t(spark, sf_dir, "documents"), "doc_id")
    shingles = word_ngrams(F.split(F.lower(F.col("text")), " "), 3)
    return docs.select(
        "doc_id", *keep, F.explode(F.array_distinct(shingles)).alias("shingle")
    )


def dot_sql(a: str, b: str) -> str:
    return " + ".join(
        f"CAST({a}.embedding[{i}] AS DOUBLE) * CAST({b}.embedding[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1)
    )


def sqnorm_sql(alias: str) -> str:
    return " + ".join(
        f"CAST({alias}.embedding[{i}] AS DOUBLE) * CAST({alias}.embedding[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup, SimHash, hyperplane-LSH ANN
# ---------------------------------------------------------------------------


def mh_sql_fragments() -> dict[str, str]:
    """Shared SQL fragments for every MinHash oracle: the universal-hash
    input, the K minima aggregate, the banded-key expansion, and the
    equal-minhash count. One source of truth — a change to coefficient
    handling or band-key formatting cannot silently diverge one oracle.
    """
    hm = f"{content_hash64_sql('shingle')} % {MERSENNE_P}"
    mh_cols = ", ".join(
        f"MIN(({a} * hm + {b}) % {MERSENNE_P}) AS mh{j}"
        for j, (a, b) in enumerate(MINHASH_COEFFS)
    )
    band_selects = []
    for b in range(N_BANDS):
        cols = [f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        key = (
            "concat_ws('|', "
            + ", ".join(f"CAST({c} AS VARCHAR)" for c in cols)
            + ")"
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {key} AS band_key FROM mh"
        )
    eq = " + ".join(
        f"(CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END)"
        for j in range(N_MINHASH)
    )
    return {
        "hm": hm,
        "mh_cols": mh_cols,
        "bands": " UNION ALL ".join(band_selects),
        "eq": eq,
    }


PLANES = np.random.default_rng(20260813).normal(size=(8, DIM)).tolist()


# ---------------------------------------------------------------------------
# dedup clustering (connected components over minhash-banded pairs)
# ---------------------------------------------------------------------------

CLUSTERS_ORACLE = f"""
WITH RECURSIVE
sh AS ({SHINGLES_SQL}),
h AS (SELECT doc_id, ({content_hash64_sql('shingle')}) % {MERSENNE_P} AS hm FROM sh),
mh AS (SELECT doc_id, {", ".join(
    f"MIN(({a} * hm + {b}) % {MERSENNE_P}) AS mh{j}"
    for j, (a, b) in enumerate(MINHASH_COEFFS)
)} FROM h GROUP BY doc_id),
bands_raw AS ({" UNION ALL ".join(
    "SELECT doc_id, %d AS band, concat_ws('|', %s) AS band_key FROM mh"
    % (b, ", ".join(
        f"CAST(mh{b * ROWS_PER_BAND + r} AS VARCHAR)"
        for r in range(ROWS_PER_BAND)
    ))
    for b in range(N_BANDS)
)}),
bands AS (
    SELECT doc_id, band, band_key FROM (
        SELECT doc_id, band, band_key,
               COUNT(*) OVER (PARTITION BY band, band_key) AS bucket_n
        FROM bands_raw
    ) WHERE bucket_n <= {DEFAULT_MAX_BUCKET}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (
    SELECT doc_a AS n, doc_b AS m FROM cand
    UNION SELECT doc_b, doc_a FROM cand
),
reach(node, label) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.n, r.label FROM reach r JOIN edges e ON e.m = r.node
)
SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
"""


# DuckDB mirror of operators.datapipe.hash_bucket.
def bucket_sql(expr: str, buckets: int) -> str:
    return f"({content_hash64_sql(f'CAST({expr} AS VARCHAR)')} % {buckets})"


# ---------------------------------------------------------------------------
# URL canonicalization (web-corpus dedup prerequisite)
# ---------------------------------------------------------------------------

# The testdata has no URL column; synthesize a deliberately messy URL
# per doc (upper-case scheme/host, www, default port, utm_* params,
# fragment) and canonicalize it. The operator is the regex pipeline —
# identical patterns on both sides.
URL_RAW_SQL = (
    "'HTTPS://WWW.' || source || '.Example.COM:443/Docs/' || doc_id"
    " || '?utm_source=feed&id=' || doc_id"
    " || '&utm_campaign=c' || (doc_id % 7)"
    " || '&ref=kept#sec' || (doc_id % 5)"
)


# ---------------------------------------------------------------------------
# Image near-duplicate detection — perceptual dHash + banded pairs
# ---------------------------------------------------------------------------

# Near-dup image families, closed-form in doc_id (the mm_decode_real
# fixture discipline): docs in the same `doc_id div 10` family render
# the SAME pseudo-random 9x8 cell pattern, subjected to per-doc
# transformations dHash is exactly invariant to — uniform brightness
# shift (doc_id % 5)*10 and pixel-replication upscaling (sx=1+d%3,
# sy=1+d%2) — through three REAL lossless codecs (BMP/PPM/PNG by
# d % 3). Every 10th doc (d % 10 == 5) additionally swaps two pinned
# cell pairs, flipping EXACTLY dHash bits 0 and 56 (the swap changes
# one adjacent comparison each; the next comparison is unchanged
# because the third pinned cell exceeds both swapped values), so the
# family contains true near-duplicates at Hamming distance 2, not just
# exact copies. The oracle states the expected pair set in closed
# form. Cross-family hash collisions within distance 2 are ~2e-12
# likely for pseudo-random 64-bit hashes and the data is fixed —
# verified absent at the tested SFs, cannot flake.


def splitmix64(n: int) -> int:
    # splitmix64-style finalizer: a LINEAR formula here is not
    # enough — (base*c + y*a + x*b) mod 96 has at most 96
    # distinct patterns, so distinct families would collide
    # within the Hamming threshold (observed: 5498 pairs vs
    # the expected 2250 at sf0.01)
    mask = (1 << 64) - 1
    n = (n * 0x9E3779B97F4A7C15) & mask
    n ^= n >> 29
    n = (n * 0xBF58476D1CE4E5B9) & mask
    n ^= n >> 32
    return n


def phash_family_pixels(d: int) -> np.ndarray:
    """The near-dup family pixel construction above for one doc id —
    shared by dedup_image_phash and the r10 image-curation composite
    (same bytes → the closed-form pair claims hold in both)."""
    base = d // 10
    cells = np.zeros((8, 9), dtype=np.int64)
    for y in range(8):
        for x in range(9):
            cells[y, x] = 32 + splitmix64(base * 72 + y * 9 + x) % 96
    # pinned triples controlling bits 0 and 56
    cells[0, 0:3] = (10, 20, 30)
    cells[7, 0:3] = (10, 20, 30)
    if d % 10 == 5:
        cells[0, 0], cells[0, 1] = 20, 10
        cells[7, 0], cells[7, 1] = 20, 10
    cells = cells + (d % 5) * 10  # brightness: dHash-invariant
    sx, sy = 1 + d % 3, 1 + d % 2
    gray = np.repeat(np.repeat(cells, sy, axis=0), sx, axis=1)
    return np.repeat(gray.astype(np.uint8)[:, :, None], 3, axis=2)


def phash_payload_batch():
    """mapInPandas fn: doc_id → a REAL encoded image payload from the
    near-dup family construction above."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from evolution_data_warehouse_spark.operators.multimodal import (
            encode_bmp,
            encode_png,
            encode_ppm,
        )

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                px = phash_family_pixels(d)
                enc = (encode_bmp, encode_ppm, encode_png)[d % 3]
                payloads.append(enc(px))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": payloads,
                }
            )

    return gen


# ---------------------------------------------------------------------------
# Audio near-duplicate detection — energy fingerprint + banded pairs
# ---------------------------------------------------------------------------

# Near-dup audio families, closed-form in doc_id (the dedup_image_phash
# fixture discipline): docs in the same `doc_id div 10` family render
# the SAME 65-block energy profile (per-block alternating-sign
# amplitude from a splitmix64 mix — the r9 lesson: a linear formula
# collides across families), subjected to a per-doc transformation the
# fingerprint is exactly invariant to (uniform amplitude scaling
# 1 + d % 3; energies scale by s^2, comparisons unchanged) through the
# engine's REAL PCM16 WAV round-trip. Every 10th doc (d % 10 == 5)
# additionally swaps two pinned block pairs — (0,1) and (56,57) —
# flipping EXACTLY fingerprint bits 0 and 56: blocks 2, 55 and 58 are
# pinned to a 7500 amplitude exceeding every other block (random
# blocks cap at 5099), so the neighboring comparisons cannot flip.
# The oracle states the expected pair set in closed form.

AFP_AMP_CAP = 5000


AFP_PINNED = {0: 1000, 1: 2000, 2: 7500, 55: 7500, 56: 1000, 57: 2000,
               58: 7500}


def afp_family_signal(d: int) -> np.ndarray:
    """One doc's near-dup family signal (the construction above):
    65 blocks of 64 alternating-sign samples at splitmix64-mixed,
    pinned-anchor amplitudes, swapped pair for d % 10 == 5, scaled
    1 + d % 3. ONE definition — shared by dedup_audio_fingerprint and
    mm_audio_curation so their closed-form pair/funnel oracles can
    never diverge (review finding)."""
    from evolution_data_warehouse_spark.operators.audio_fp import (
        N_BUCKETS,
    )

    base = d // 10
    amps = np.array(
        [
            100 + splitmix64(base * N_BUCKETS + b) % AFP_AMP_CAP
            for b in range(N_BUCKETS)
        ],
        dtype=np.int64,
    )
    for b, a in AFP_PINNED.items():
        amps[b] = a
    if d % 10 == 5:
        amps[0], amps[1] = amps[1], amps[0]
        amps[56], amps[57] = amps[57], amps[56]
    amps = amps * (1 + d % 3)  # scale: fingerprint-invariant
    sig = np.repeat(amps, 64)
    sig[1::2] *= -1  # alternating sign: no DC
    return sig


# ---------------------------------------------------------------------------
# BM25 ranked retrieval — the standard IR scorer beside text_tfidf
# ---------------------------------------------------------------------------

# Pinned query sets (query_id -> terms), drawn from the documents
# fixture vocabulary. k1 = 1.2 and b = 0.75 are the textbook BM25
# constants; they enter the math only as the exact integer factors
# 22 (= 10·(k1+1)), 3 (= 10·k1·(1-b)) and 9 (= 10·k1·b) after
# multiplying numerator and denominator through by 10·T (T = total
# corpus tokens), so no float constant ever appears.
BM25_QUERIES = (
    (1, ("hash", "join")),
    (2, ("window", "sort", "merge")),
    (3, ("spark", "vector", "scan")),
)


# Per-term scores quantize to floor(score * 1e6) via exact integer
# floor-division BEFORE the per-query sum, so the summed score and the
# ranking are pure int64 arithmetic on both engines.
BM25_FP = 1_000_000


def bm25_scored_cte() -> str:
    """The shared WITH chain ending in scored(query_id, doc_id,
    score_q) — one source of truth so text_bm25_topk's and
    sim_rrf_fusion's oracles cannot silently diverge."""
    vals = ", ".join(
        f"({qid}, '{term}')"
        for qid, terms in BM25_QUERIES
        for term in terms
    )
    return f"""
WITH tk AS (
    SELECT doc_id,
           unnest(str_split(lower(COALESCE(text, '')), ' ')) AS token
    FROM documents
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tk GROUP BY 1),
g AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS total_tokens
    FROM dl
),
tf AS (
    SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tk GROUP BY 1, 2
),
dft AS (
    SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM tk GROUP BY 1
),
q(query_id, token) AS (VALUES {vals}),
terms AS (
    SELECT q.query_id, tf.doc_id,
           CAST((CAST(2 * g.n_docs - 2 * dft.df + 1 AS HUGEINT)
                      * 22 * tf.tf * g.total_tokens * {BM25_FP})
                // (CAST(2 * dft.df + 1 AS HUGEINT)
                    * (10 * g.total_tokens * tf.tf
                       + 3 * g.total_tokens
                       + 9 * dl.dl * g.n_docs)) AS BIGINT) AS term_q
    FROM tf
    JOIN dft USING (token)
    JOIN q ON q.token = tf.token
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN g
),
scored AS (
    SELECT query_id, doc_id, CAST(SUM(term_q) AS BIGINT) AS score_q
    FROM terms GROUP BY 1, 2
)"""


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer BM25 scores (query_id, doc_id, score_q) for the
    pinned query sets — the engine twin of bm25_scored_cte(), shared
    by text_bm25_topk and sim_rrf_fusion."""
    wide = cpu_repartition(t(spark, sf_dir, "documents"), "doc_id")
    tk = wide.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
        ).alias("token"),
    )
    # dl and df derive from the tf aggregate, never from the exploded
    # relation: tf has one row per (doc, token), so COUNT(*) per token
    # IS the document frequency and SUM(tf) per doc IS the length —
    # shuffling the compact tf rows instead of the corpus-token
    # explode three times (review finding; text_inverted_index uses
    # the same derivation).
    tf = tk.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    g = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
    )
    dft = tf.groupBy("token").agg(F.count("*").alias("df"))
    q = spark.createDataFrame(
        [
            (qid, term)
            for qid, terms in BM25_QUERIES
            for term in terms
        ],
        "query_id int, token string",
    )
    # Widen BEFORE multiplying: the numerator product grows ~scale²
    # (N·22·tf·T·1e6 ≈ 3e34 at the 100 TB shape) and the denominator's
    # (2df+1) factor pushes it past int64 too, so the FIRST factor of
    # each chain casts to DECIMAL(38,0) (HUGEINT on the DuckDB side)
    # and the whole product stays exact — a silent int64 wrap on the
    # Spark side while DuckDB errors loudly would be a cross-engine
    # divergence. The inner saturation term (10·T·tf + 3·T + 9·dl·N)
    # is linear in corpus tokens (tf and dl are per-doc-bounded) and
    # stays int64 with ~70x margin at 100 TB.
    terms = (
        tf.join(F.broadcast(dft.join(F.broadcast(q), "token")), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(g))
        .select(
            "query_id",
            "doc_id",
            F.expr(
                f"CAST(CAST(2 * n_docs - 2 * df + 1 AS DECIMAL(38,0)) "
                f"* 22 * tf * total_tokens * {BM25_FP} DIV "
                f"(CAST(2 * df + 1 AS DECIMAL(38,0)) "
                f"* (10 * total_tokens * tf "
                f"+ 3 * total_tokens + 9 * dl * n_docs)) AS BIGINT)"
            ).alias("term_q"),
        )
    )
    return terms.groupBy("query_id", "doc_id").agg(
        F.sum("term_q").cast("bigint").alias("score_q")
    )


# ---------------------------------------------------------------------------
# agg_hll_distinct — deterministic HyperLogLog distinct sketch
# ---------------------------------------------------------------------------

HLL_M = 256  # registers (p=8)


HLL_CAP = 50  # max rho: 60-bit hash - 8 register bits leaves 52 value


# bits; capping at 50 keeps the integer inverse-power sum <= 2^58
HLL_ALPHA = 0.7182725932495458  # 0.7213/(1 + 1.079/256), the m=256


# bias constant from Flajolet et al. 2007 — identical literal on both
# sides, so the single float multiply/divide chain is IEEE-identical


def hll_oracle() -> str:

    h = content_hash64_sql("'hll:' || CAST(o_custkey AS VARCHAR)")
    raw = (
        f"CAST({HLL_ALPHA!r} AS DOUBLE) * CAST({HLL_M * HLL_M} AS "
        f"DOUBLE) * CAST({2 ** HLL_CAP} AS DOUBLE) / CAST(s AS DOUBLE)"
    )
    # small-range correction (Flajolet et al. fig. 3): below 2.5m the
    # raw estimator is badly biased; with V empty registers, linear
    # counting m*ln(m/V) is the standard fix — same CASE on both sides
    est = (
        f"CASE WHEN ({raw}) <= {2.5 * HLL_M} AND n_registers < {HLL_M}"
        f" THEN CAST({HLL_M} AS DOUBLE) * ln(CAST({HLL_M} AS DOUBLE)"
        f" / CAST({HLL_M} - n_registers AS DOUBLE))"
        f" ELSE ({raw}) END"
    )
    return f"""
WITH h AS (
    SELECT o_orderpriority AS grp, {h} AS hv, o_custkey
    FROM orders
),
r AS (
    SELECT grp, hv % {HLL_M} AS reg,
           CASE WHEN hv // {HLL_M} = 0 THEN {HLL_CAP}
                ELSE LEAST(bit_count(((hv // {HLL_M})
                           & -(hv // {HLL_M})) - 1) + 1, {HLL_CAP})
           END AS rho
    FROM h
),
m AS (SELECT grp, reg, MAX(rho) AS mr FROM r GROUP BY grp, reg),
s AS (
    SELECT grp,
           CAST(SUM(CAST(2 AS HUGEINT) ** ({HLL_CAP} - mr)) AS BIGINT)
               + ({HLL_M} - COUNT(*)) * CAST({2 ** HLL_CAP} AS BIGINT)
               AS s,
           CAST(COUNT(*) AS BIGINT) AS n_registers
    FROM m GROUP BY grp
),
x AS (
    SELECT grp, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
    FROM h GROUP BY grp
)
SELECT s.grp, x.n_exact, s.n_registers,
       {fpq_sql(est, 4)} AS est_distinct
FROM s JOIN x ON s.grp = x.grp
"""


CHUNK_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP


# ---------------------------------------------------------------------------
# chunk_overlap_spans — fixed-token retrieval chunks with provenance
# ---------------------------------------------------------------------------


def chunk_oracle() -> str:
    return f"""
WITH d AS (
    SELECT doc_id, str_split(COALESCE(text, ''), ' ') AS toks
    FROM documents
),
tok AS (
    SELECT doc_id,
           unnest(range(1, len(toks) + 1)) - 1 AS pos,
           unnest(toks) AS tok
    FROM d
),
tr AS (
    SELECT doc_id, pos, length(tok) AS tlen,
           COALESCE(SUM(length(tok) + 1) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS char_off,
           COUNT(*) OVER (PARTITION BY doc_id) AS n_toks
    FROM tok
),
starts AS (
    SELECT doc_id, pos AS tok_start, char_off AS char_start,
           LEAST(pos + {CHUNK_SIZE}, n_toks) AS end_excl
    FROM tr
    WHERE pos % {CHUNK_STRIDE} = 0
      AND (pos = 0 OR pos < n_toks - {CHUNK_OVERLAP})
),
ends AS (
    SELECT doc_id, pos AS tok_end, char_off + tlen AS char_end FROM tr
)
SELECT s.doc_id,
       CAST(s.tok_start // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(s.tok_start AS BIGINT) AS tok_start,
       CAST(e.tok_end AS BIGINT) AS tok_end,
       CAST(s.char_start AS BIGINT) AS char_start,
       CAST(e.char_end AS BIGINT) AS char_end,
       CAST(e.tok_end - s.tok_start + 1 AS BIGINT) AS n_chunk_tokens
FROM starts s
JOIN ends e ON e.doc_id = s.doc_id AND e.tok_end = s.end_excl - 1
"""


# ---------------------------------------------------------------------------
# view_session_durations — connexion-session report (gap-and-island)
# ---------------------------------------------------------------------------

# 30-minute inactivity gap: the classic web/DB session boundary (the
# reference's active-session view reports "duree_connexion_min" per
# live connection; over an event log the same report is sessionization).
SESSION_GAP_US = 30 * 60 * 1_000_000


def session_oracle() -> str:
    return f"""
WITH e AS (
    SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events
),
g AS (
    SELECT user_id, event_id, ts, us,
           CASE WHEN us - LAG(us) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                ) > {SESSION_GAP_US} OR LAG(us) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                ) IS NULL
                THEN 1 ELSE 0 END AS new_sess
    FROM e
),
s AS (
    SELECT user_id, ts, us,
           SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_seq
    FROM g
)
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       CAST((MAX(us) - MIN(us)) // 60000000 AS BIGINT) AS duration_min,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s
GROUP BY user_id, session_seq
"""
