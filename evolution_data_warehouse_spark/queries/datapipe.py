"""Registry queries for the training-data pipeline operators
(operators/datapipe.py): deterministic splits, context-window packing,
eval-set decontamination, stratified sampling, incremental dedup,
corpus mixing and token budgets, and web-crawl curation (URL quality,
robots, charset, main-content extraction, crawl frontier).

All hash-based (md5) so every query has an exact DuckDB oracle; see
operators/datapipe.py for the 100 TB plan shapes.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.datapipe import (
    DECONTAM_DROP_AT,
    DECONTAM_FLAG_AT,
    PACK_CAPACITY,
    PACK_SHARDS,
    SPLIT_BUCKETS,
    decontaminate,
    hash_split,
    incremental_new,
    ngram_overlap,
    pack_contiguous,
    stratified_hash_sample,
)
from evolution_data_warehouse_spark.operators.dedup import (
    content_hash64,
    content_hash64_sql,
)
from evolution_data_warehouse_spark.operators.textops import word_ngrams
from evolution_data_warehouse_spark.queries.common import (
    bucket_sql,
    cpu_repartition,
    doc_shingles,
    register,
    t,
)


# --------------------------------------------------------------------------
# deterministic train/val/test split
# --------------------------------------------------------------------------

_SPLIT_ORACLE = f"""
SELECT doc_id,
       {bucket_sql('doc_id', SPLIT_BUCKETS)} AS bucket,
       CASE WHEN {bucket_sql('doc_id', SPLIT_BUCKETS)} < 90 THEN 'train'
            WHEN {bucket_sql('doc_id', SPLIT_BUCKETS)} < 95 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


@register(
    "split_train_hash",
    _SPLIT_ORACLE,
    doc="Deterministic train/val/test split (90/5/5) by md5 hash bucket "
    "of the document id — no shuffle, stable across runs and engines, "
    "so re-ingestion can never leak documents across splits.",
)
def split_train_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hash_split(t(spark, sf_dir, "documents")).select(
        "doc_id", "bucket", "split"
    )


# --------------------------------------------------------------------------
# context-window packing
# --------------------------------------------------------------------------

_PACK_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           CAST(len(str_split(text, ' ')) AS INT) AS n_tokens,
           {bucket_sql('doc_id', PACK_SHARDS)} AS shard
    FROM documents
),
runs AS (
    SELECT doc_id, n_tokens, shard,
           COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS cum_before
    FROM toks
)
SELECT doc_id, n_tokens, shard,
       CAST((shard << 40) + (cum_before // {PACK_CAPACITY}) AS BIGINT) AS bin_id,
       CAST(cum_before % {PACK_CAPACITY} AS BIGINT) AS bin_pos
FROM runs
"""


@register(
    "pack_sequences",
    _PACK_ORACLE,
    doc="Contiguous-fill context-window packing: docs shard by id hash, "
    "each shard packs independently by running token count into "
    f"{PACK_CAPACITY}-token bins — the distributed greedy packer (no "
    "global sort; shards scale with the cluster).",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    return pack_contiguous(docs).select(
        "doc_id", "n_tokens", "shard", "bin_id", "bin_pos"
    )


# --------------------------------------------------------------------------
# eval-set decontamination
# --------------------------------------------------------------------------

_SHINGLES_SRC_SQL = """
SELECT doc_id, source, shingle FROM (
    SELECT doc_id, source,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 1, 1)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
           ))) AS shingle
    FROM (SELECT doc_id, source, str_split(lower(text), ' ') AS toks
          FROM documents)
)
"""

_DECONTAM_ORACLE = f"""
WITH sh AS ({_SHINGLES_SRC_SQL}),
bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
cand AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
ov AS (
    SELECT doc_id, COUNT(DISTINCT shingle) AS n_shared
    FROM cand JOIN bench USING (shingle) GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(ov.n_shared, 0) AS n_shared,
       COALESCE(ov.n_shared, 0) > 0 AS contaminated
FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
WHERE d.source <> 'src0'
"""


@register(
    "decontaminate_ngram",
    _DECONTAM_ORACLE,
    doc="Eval-set decontamination: per-training-doc count of distinct "
    "3-gram shingles shared with the benchmark corpus (source 'src0' "
    "stands in for the eval set). Shingle equi-join + hash aggregate — "
    "work scales with matches, never doc x doc.",
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = doc_shingles(spark, sf_dir, "source")
    bench = sh.filter(F.col("source") == "src0").select("shingle")
    cand = sh.filter(F.col("source") != "src0").select("doc_id", "shingle")
    ov = ngram_overlap(cand, bench)
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("source") != "src0")
        .select("doc_id")
    )
    return docs.join(ov, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
        (F.coalesce(F.col("n_shared"), F.lit(0)) > 0).alias("contaminated"),
    )


# Thresholds interpolated into the oracle from the operator constants
# (same pattern as the minhash hot-bucket guard) so engine and oracle
# can't drift apart.
_DECONTAM_APPLY_ORACLE = f"""
WITH sh AS ({_SHINGLES_SRC_SQL}),
bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
cand AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
tot AS (
    SELECT doc_id, COUNT(DISTINCT shingle) AS n_shingles
    FROM cand GROUP BY doc_id
),
ov AS (
    SELECT doc_id, COUNT(DISTINCT shingle) AS n_shared
    FROM cand JOIN bench USING (shingle) GROUP BY doc_id
),
j AS (
    SELECT tot.doc_id, tot.n_shingles,
           COALESCE(ov.n_shared, 0) AS n_shared,
           CAST(COALESCE(ov.n_shared, 0) AS DOUBLE)
               / CAST(tot.n_shingles AS DOUBLE) AS overlap_frac
    FROM tot LEFT JOIN ov ON tot.doc_id = ov.doc_id
)
SELECT d.doc_id,
       COALESCE(j.n_shingles, 0) AS n_shingles,
       COALESCE(j.n_shared, 0) AS n_shared,
       COALESCE(j.overlap_frac, 0.0) AS overlap_frac,
       CASE WHEN COALESCE(j.overlap_frac, 0.0) >= {DECONTAM_DROP_AT} THEN 'drop'
            WHEN COALESCE(j.overlap_frac, 0.0) >= {DECONTAM_FLAG_AT} THEN 'flag'
            ELSE 'keep' END AS decision
FROM documents d LEFT JOIN j ON d.doc_id = j.doc_id
WHERE d.source <> 'src0'
"""


@register(
    "decontaminate_apply",
    _DECONTAM_APPLY_ORACLE,
    doc="Decontamination policy layer over decontaminate_ngram's "
    f"counts: per-doc overlap fraction thresholded into drop (≥"
    f"{DECONTAM_DROP_AT}) / flag (≥{DECONTAM_FLAG_AT}) / keep, with "
    "the audit columns (shingle total, shared count, fraction) in the "
    "output — the report IS the result. Zero-shingle docs (too short "
    "to fingerprint) are kept explicitly rather than dropped silently.",
)
def decontaminate_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = doc_shingles(spark, sf_dir, "source")
    bench = sh.filter(F.col("source") == "src0").select("shingle")
    cand = sh.filter(F.col("source") != "src0").select("doc_id", "shingle")
    res = decontaminate(cand, bench)
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("source") != "src0")
        .select("doc_id")
    )
    return docs.join(res, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_shingles"), F.lit(0)).alias("n_shingles"),
        F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
        F.coalesce(F.col("overlap_frac"), F.lit(0.0)).alias("overlap_frac"),
        F.coalesce(F.col("decision"), F.lit("keep")).alias("decision"),
    )


# --------------------------------------------------------------------------
# stratified deterministic sampling
# --------------------------------------------------------------------------

_STRAT_K = 5
_STRAT_ORACLE = f"""
SELECT doc_id, source, CAST(rn AS INT) AS rn FROM (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {bucket_sql('doc_id', 1000000007)} ASC, doc_id ASC
           ) AS rn
    FROM documents
) WHERE rn <= {_STRAT_K}
"""


@register(
    "sample_stratified_hash",
    _STRAT_ORACLE,
    doc=f"Deterministic stratified sample: {_STRAT_K} docs per source, "
    "ranked by md5-hash order with an id tie-break. Rank-limit pushes "
    "below the per-stratum sort (WindowGroupLimit), so no stratum ever "
    "fully sorts at scale.",
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stratified_hash_sample(
        t(spark, sf_dir, "documents"), "source", k=_STRAT_K
    ).select("doc_id", "source", "rn")


# --------------------------------------------------------------------------
# incremental dedup (new batch vs corpus)
# --------------------------------------------------------------------------

_INCR_ORACLE = """
SELECT d.doc_id, md5(d.text) AS content_hash
FROM documents d
WHERE d.source = 'src1' AND NOT EXISTS (
    SELECT 1 FROM documents c
    WHERE c.source <> 'src1' AND md5(c.text) = md5(d.text)
)
"""


@register(
    "dedup_incremental",
    _INCR_ORACLE,
    doc="Incremental exact dedup: new-batch docs (source 'src1' stands "
    "in for today's ingest) whose content hash is absent from the "
    "existing corpus — anti-join on the hash, corpus side pruned to "
    "one column.",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("source") == "src1")
    corpus = docs.filter(F.col("source") != "src1")
    return incremental_new(batch, corpus).select("doc_id", "content_hash")


# --------------------------------------------------------------------------
# packing efficiency report
# --------------------------------------------------------------------------

_PACK_EFF_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           CAST(len(str_split(text, ' ')) AS INT) AS n_tokens,
           {bucket_sql('doc_id', PACK_SHARDS)} AS shard
    FROM documents
),
runs AS (
    SELECT doc_id, n_tokens, shard,
           COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS cum_before
    FROM toks
),
packed AS (
    SELECT shard, n_tokens,
           CAST((shard << 40) + (cum_before // {PACK_CAPACITY}) AS BIGINT)
               AS bin_id
    FROM runs
)
SELECT shard,
       COUNT(DISTINCT bin_id) AS n_bins,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_tokens) AS DOUBLE)
           / (COUNT(DISTINCT bin_id) * {PACK_CAPACITY}.0) AS fill_rate
FROM packed
GROUP BY shard
"""


@register(
    "pack_efficiency",
    _PACK_EFF_ORACLE,
    doc="Packing-efficiency report over pack_sequences: bins, docs, "
    "token totals and fill rate per shard — the pipeline-health number "
    "a packing job publishes (fill_rate can exceed 1.0 because "
    "contiguous fill lets one doc straddle each bin boundary). Exact "
    "integer arithmetic end-to-end; the only double is the final "
    "int÷int ratio, bit-identical across engines.",
)
def pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    packed = pack_contiguous(docs)
    return packed.groupBy("shard").agg(
        F.countDistinct("bin_id").alias("n_bins"),
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        (
            F.sum("n_tokens").cast("double")
            / (F.countDistinct("bin_id") * F.lit(float(PACK_CAPACITY)))
        ).alias("fill_rate"),
    )


# --------------------------------------------------------------------------
# cross-split contamination audit
# --------------------------------------------------------------------------

_LEAK_ORACLE = f"""
WITH sh AS (
    SELECT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 1, 1)),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
               ))) AS shingle
        FROM (SELECT doc_id, str_split(lower(text), ' ') AS toks
              FROM documents)
    )
),
splits AS (
    SELECT doc_id,
           CASE WHEN {bucket_sql('doc_id', SPLIT_BUCKETS)} < 90 THEN 'train'
                WHEN {bucket_sql('doc_id', SPLIT_BUCKETS)} < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
),
train_sh AS (
    SELECT DISTINCT shingle FROM sh JOIN splits USING (doc_id)
    WHERE split = 'train'
),
test_sh AS (
    SELECT doc_id, shingle FROM sh JOIN splits USING (doc_id)
    WHERE split = 'test'
),
ov AS (
    SELECT doc_id, COUNT(DISTINCT shingle) AS n_in_train
    FROM test_sh JOIN train_sh USING (shingle) GROUP BY doc_id
),
tot AS (
    SELECT doc_id, COUNT(DISTINCT shingle) AS n_shingles
    FROM test_sh GROUP BY doc_id
)
SELECT tot.doc_id, tot.n_shingles,
       COALESCE(ov.n_in_train, 0) AS n_in_train,
       CAST(COALESCE(ov.n_in_train, 0) AS DOUBLE)
           / CAST(tot.n_shingles AS DOUBLE) AS leak_frac
FROM tot LEFT JOIN ov ON tot.doc_id = ov.doc_id
"""


@register(
    "split_leakage_audit",
    _LEAK_ORACLE,
    doc="Cross-split contamination audit: for every test-split document "
    "(hash_split assignment), the fraction of its 3-gram shingles that "
    "also occur in the train split — the leakage number a train/val/"
    "test pipeline must publish before anyone trains on the split. "
    "Distinct train shingles join test shingles on the shingle value; "
    "work scales with matches, never doc x doc.",
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    splits = hash_split(docs).select("doc_id", "split")
    sh = doc_shingles(spark, sf_dir, "source").select("doc_id", "shingle")
    sh_split = sh.join(splits, "doc_id")
    train_sh = (
        sh_split.filter(F.col("split") == "train").select("shingle").distinct()
    )
    test_sh = sh_split.filter(F.col("split") == "test").select(
        "doc_id", "shingle"
    )
    tot = test_sh.groupBy("doc_id").agg(
        F.countDistinct("shingle").alias("n_shingles")
    )
    ov = ngram_overlap(test_sh, train_sh)
    n_in_train = F.coalesce(F.col("n_shared"), F.lit(0))
    return tot.join(ov, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        n_in_train.alias("n_in_train"),
        (
            n_in_train.cast("double") / F.col("n_shingles").cast("double")
        ).alias("leak_frac"),
    )


# --------------------------------------------------------------------------
# corpus mixing (language rebalance)
# --------------------------------------------------------------------------

def _mix_case_sql() -> str:
    from evolution_data_warehouse_spark.operators.datapipe import (
        MIX_BUCKETS,
        MIX_RATES,
    )

    whens = " ".join(
        f"WHEN lang = '{g}' THEN {int(r * MIX_BUCKETS)}"
        for g, r in sorted(MIX_RATES.items())
    )
    return f"CASE {whens} ELSE {MIX_BUCKETS} END"


def _mix_oracle() -> str:
    from evolution_data_warehouse_spark.operators.datapipe import MIX_BUCKETS

    return f"""
SELECT doc_id, lang, source,
       {bucket_sql('doc_id', MIX_BUCKETS)} AS mix_bucket,
       {_mix_case_sql()} AS keep_under
FROM documents
WHERE {bucket_sql('doc_id', MIX_BUCKETS)} < {_mix_case_sql()}
"""


@register(
    "corpus_mix_sample",
    _mix_oracle(),
    doc="Deterministic corpus-mixing sampler (language rebalance): "
    "per-language keep rates applied as an md5-bucket threshold on the "
    "doc id — exact, reproducible Bernoulli mixing with zero shuffle; "
    "the rates are interpolated from operators/datapipe.py MIX_RATES "
    "into the oracle so engine and oracle cannot drift.",
)
def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.datapipe import mix_sample

    return mix_sample(t(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "source", "mix_bucket", "keep_under"
    )


# --------------------------------------------------------------------------
# per-source curation report
# --------------------------------------------------------------------------

def _source_report_oracle() -> str:
    from evolution_data_warehouse_spark.queries.common import davg_sql

    h = content_hash64_sql("text")
    return f"""
WITH hashed AS (
    SELECT source, lang, n_chars,
           COUNT(*) OVER (PARTITION BY {h}) AS n_same
    FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_same > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_docs,
       {davg_sql('n_chars', 2)} AS avg_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM hashed
GROUP BY source
"""


@register(
    "source_quality_report",
    _source_report_oracle(),
    doc="Per-source curation rollup (the domain-level report a crawl "
    "pipeline uses to drop whole sources): doc counts, exact-duplicate "
    "counts via a window count over the content hash (shares one "
    "shuffle keyed on the hash), decimal-exact mean length, distinct "
    "languages. Two shuffles total regardless of corpus size.",
)
def source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.queries.common import davg
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents").select(
        "source", "lang", "n_chars", content_hash64(F.col("text")).alias("h")
    )
    n_same = F.count("*").over(Window.partitionBy("h"))
    return (
        docs.withColumn("n_same", n_same)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("n_same") > 1, 1).otherwise(0)).alias(
                "n_dup_docs"
            ),
            davg("n_chars", 2).alias("avg_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


# --------------------------------------------------------------------------
# packed-sample rendering
# --------------------------------------------------------------------------

_PACK_RENDER_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, text,
           CAST(len(str_split(text, ' ')) AS INT) AS n_tokens,
           {bucket_sql('doc_id', PACK_SHARDS)} AS shard
    FROM documents
),
runs AS (
    SELECT doc_id, text, n_tokens, shard,
           COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS cum_before
    FROM toks
),
packed AS (
    SELECT doc_id, text, n_tokens, shard,
           CAST((shard << 40) + (cum_before // {PACK_CAPACITY}) AS BIGINT)
               AS bin_id
    FROM runs
)
SELECT bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       string_agg(text, '<|endofdoc|>' ORDER BY doc_id) AS packed_text
FROM packed
GROUP BY bin_id
"""


@register(
    "pack_render",
    _PACK_RENDER_ORACLE,
    doc="Packed-sample rendering — the output half of sequence packing: "
    "each bin's documents concatenated in id order with a separator "
    "token, one training row per bin. One hash aggregate keyed on "
    "bin_id (collect_list is bounded by the bin capacity, so per-group "
    "state is O(context window), never O(corpus)).",
)
def pack_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    packed = pack_contiguous(docs)
    parts = F.array_sort(
        F.collect_list(F.struct("doc_id", "text")),
    )
    return packed.groupBy("bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
        F.array_join(
            F.transform(parts, lambda s: s.getField("text")),
            "<|endofdoc|>",
        ).alias("packed_text"),
    )


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (integer priorities)
# ---------------------------------------------------------------------------

_WSAMPLE_ORACLE = """
WITH pri AS (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                AS BIGINT)
           // CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS priority
    FROM orders
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY o_orderpriority ORDER BY priority, o_orderkey
    ) AS rk
    FROM pri
)
SELECT o_orderpriority, o_orderkey, o_totalprice, rk
FROM ranked WHERE rk <= 5
"""


@register(
    "sample_weighted_det",
    _WSAMPLE_ORACLE,
    doc="Deterministic weighted sampling, 5 per group: "
    "Efraimidis–Spirakis-style priorities with an INTEGER surrogate — "
    "priority = hash64(key) ÷ weight (integer division), smallest "
    "first — so heavier rows win proportionally more often, reruns and "
    "engines agree bit-for-bit (no float pow/ln at quantization "
    "boundaries), and the rank filter compiles to WindowGroupLimit "
    "(partial top-5 map-side before the group shuffle). The zero-"
    "float cousin of sample_stratified_hash for weighted quotas.",
)
def sample_weighted_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # `div`, not `/`: float division of a 60-bit hash loses low bits to
    # the double mantissa while DuckDB's `//` stays exact — integer
    # division on both sides is what makes the sample bit-reproducible.
    pri = t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice",
        content_hash64(F.col("o_orderkey").cast("string")).alias("h"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("w"),
    ).select(
        "o_orderpriority", "o_orderkey", "o_totalprice",
        F.expr("h div w").alias("priority"),
    )
    w = W.partitionBy("o_orderpriority").orderBy("priority", "o_orderkey")
    return (
        pri.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .drop("priority")
    )


# ---------------------------------------------------------------------------
# Temperature-flattened corpus mixing (α = 0.5)
# ---------------------------------------------------------------------------


def _tmix_oracle() -> str:
    from evolution_data_warehouse_spark.operators.datapipe import MIX_BUCKETS

    return f"""
WITH counts AS (
    SELECT lang, COUNT(*) AS n_g FROM documents GROUP BY lang
),
mn AS (SELECT MIN(n_g) AS n_min FROM counts),
thresh AS (
    SELECT lang,
           CAST(floor({MIX_BUCKETS} * sqrt(CAST(n_min AS DOUBLE)
                                           / CAST(n_g AS DOUBLE)))
                AS BIGINT) AS keep_under
    FROM counts, mn
)
SELECT d.doc_id, d.lang,
       {bucket_sql('d.doc_id', MIX_BUCKETS)} AS mix_bucket,
       t.keep_under
FROM documents d JOIN thresh t ON d.lang = t.lang
WHERE {bucket_sql('d.doc_id', MIX_BUCKETS)} < t.keep_under
"""


@register(
    "corpus_mix_temperature",
    _tmix_oracle(),
    doc="Temperature-flattened corpus mixing (α = 0.5): keep rates "
    "derived from the data itself — rate_g = √(n_min/n_g), so the "
    "smallest language keeps everything and kept sizes flatten to "
    "∝ √n_g, the standard multilingual rebalance. Two tiny "
    "aggregates (language cardinality + 1-row min) broadcast back; "
    "the keep decision stays the zero-shuffle md5-bucket projection "
    "of corpus_mix_sample. Thresholds are floor(MIX_BUCKETS·√ratio) "
    "computed with the IDENTICAL IEEE expression on both sides.",
)
def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.datapipe import (
        MIX_BUCKETS,
        hash_bucket,
    )

    docs = t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_g"))
    mn = counts.agg(F.min("n_g").alias("n_min"))
    thresh = counts.crossJoin(F.broadcast(mn)).select(
        "lang",
        F.floor(
            MIX_BUCKETS
            * F.sqrt(F.col("n_min").cast("double") / F.col("n_g").cast("double"))
        )
        .cast("bigint")
        .alias("keep_under"),
    )
    bucket = hash_bucket(F.col("doc_id"), MIX_BUCKETS)
    return (
        docs.join(F.broadcast(thresh), "lang")
        .withColumn("mix_bucket", bucket)
        .filter(F.col("mix_bucket") < F.col("keep_under"))
        .select("doc_id", "lang", "mix_bucket", "keep_under")
    )


# ---------------------------------------------------------------------------
# End-to-end curation funnel report
# ---------------------------------------------------------------------------


def _funnel_oracle() -> str:
    from evolution_data_warehouse_spark.operators import textops

    langs = sorted(textops.STOPWORDS)
    score_cols = ", ".join(
        "CAST(len(list_filter(str_split(lower(text), ' '), "
        f"x -> list_contains([{', '.join(repr(w) for w in textops.STOPWORDS[lang])}], x))) AS INT)"
        f" AS s_{lang}"
        for lang in langs
    )
    best = f"greatest({', '.join('s_' + lang for lang in langs)})"
    chain = " ".join(f"WHEN s_{lang} >= {best} THEN '{lang}'" for lang in langs)
    return f"""
WITH staged AS (
    SELECT doc_id, source, lang, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(str_split(lower(text), ' '),
                    x -> list_contains({_EN_STOPS_SQL_R6}, x))) AS BIGINT)
               AS stop_hits,
           {score_cols}
    FROM documents
),
flags AS (
    SELECT source,
           rn = 1 AS exact_survivor,
           rn = 1 AND n_tokens >= 20 AND stop_hits * 20 >= n_tokens
               AS quality_pass,
           rn = 1 AND n_tokens >= 20 AND stop_hits * 20 >= n_tokens
               AND (CASE {chain} END) = lang AS lang_match,
           n_tokens
    FROM staged
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN exact_survivor THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact_unique,
       CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS BIGINT)
           AS n_quality_pass,
       CAST(SUM(CASE WHEN lang_match THEN 1 ELSE 0 END) AS BIGINT)
           AS n_final,
       CAST(SUM(CASE WHEN lang_match THEN n_tokens ELSE 0 END) AS BIGINT)
           AS n_tokens_final
FROM flags GROUP BY source
"""


_EN_STOPS_SQL_R6 = "['the','and','of','to','a']"


@register(
    "curation_funnel_report",
    _funnel_oracle(),
    doc="End-to-end curation funnel, the per-source report every "
    "corpus pipeline publishes: docs in → exact-dedup survivors "
    "(keep-lowest-id per content hash) → quality gate (length + "
    "stopword density, INTEGER cross-multiplied thresholds so no "
    "float boundary exists) → language-consistency gate (stopword "
    "argmax == label) → surviving token mass. One content-hash window "
    "+ one source-grain aggregate; every stage is a column flag on "
    "the same scan, so the funnel costs one pass however many gates "
    "it grows.",
)
def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.operators import textops

    docs = t(spark, sf_dir, "documents")
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    scores = textops.lang_scores(F.col("text"))
    staged = docs.select(
        "source", "lang",
        F.row_number().over(w).alias("rn"),
        F.size(textops.tokens_ws(F.col("text"))).cast("bigint").alias(
            "n_tokens"
        ),
        textops.stopword_hits(F.col("text"), textops.STOPWORDS["en"])
        .cast("bigint")
        .alias("stop_hits"),
        textops.predict_lang(scores).alias("pred_lang"),
    )
    exact = F.col("rn") == 1
    quality = (
        exact & (F.col("n_tokens") >= 20)
        & (F.col("stop_hits") * 20 >= F.col("n_tokens"))
    )
    final = quality & (F.col("pred_lang") == F.col("lang"))
    return staged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(exact.cast("int")).cast("bigint").alias("n_exact_unique"),
        F.sum(quality.cast("int")).cast("bigint").alias("n_quality_pass"),
        F.sum(final.cast("int")).cast("bigint").alias("n_final"),
        F.sum(F.when(final, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("n_tokens_final"),
    )


# ---------------------------------------------------------------------------
# Token-distribution drift between two corpus halves (exact L1)
# ---------------------------------------------------------------------------

_DRIFT_ORACLE = """
WITH toks AS (
    SELECT doc_id % 2 AS half, unnest(str_split(lower(text), ' ')) AS tok
    FROM documents
),
tc AS (
    SELECT tok,
           SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c0,
           SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c1
    FROM toks WHERE tok <> '' GROUP BY tok
),
tot AS (SELECT CAST(SUM(c0) AS BIGINT) AS t0,
               CAST(SUM(c1) AS BIGINT) AS t1 FROM tc)
SELECT t0, t1,
       COUNT(*) AS vocab,
       CAST(SUM(abs(c0 * t1 - c1 * t0)) AS DOUBLE)
       / CAST(t0 * t1 AS DOUBLE) AS l1_distance
FROM tc, tot
GROUP BY t0, t1
"""


@register(
    "corpus_token_drift",
    _DRIFT_ORACLE,
    doc="Exact L1 (total-variation x2) distance between the token "
    "distributions of two corpus halves (doc_id parity) — the "
    "distribution-drift check run between crawl snapshots before "
    "mixing them into a training set. Computed in exact integer "
    "arithmetic: sum |c0*T1 - c1*T0| as BIGINT with ONE final "
    "division by T0*T1, so no float accumulation anywhere. The "
    "1-row totals broadcast; the token aggregate is vocabulary-"
    "sized. (counts ~1e7 x totals ~1e9 stays under 2^63 at 100 TB "
    "per-shard; shard-then-merge for a global number.)",
)
def corpus_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.split(F.lower("text"), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    tc = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
    )
    tot = tc.agg(
        F.sum("c0").alias("t0"), F.sum("c1").alias("t1")
    )
    return (
        tc.crossJoin(F.broadcast(tot))
        .groupBy("t0", "t1")
        .agg(
            F.count("*").alias("vocab"),
            (
                F.sum(
                    F.abs(F.col("c0") * F.col("t1") - F.col("c1") * F.col("t0"))
                ).cast("double")
                / (F.col("t0") * F.col("t1")).cast("double")
            ).alias("l1_distance"),
        )
        .select("t0", "t1", "vocab", "l1_distance")
    )


# ---------------------------------------------------------------------------
# End-to-end web-corpus curation: WARC → strip → gates → dedup → report
# ---------------------------------------------------------------------------

_HTML_PREFIX = '<div class="post"><p>'


_HTML_SUFFIX = "</p><br/>&amp; <b>more</b></div>"


def _warc_html_batch():
    """mapInPandas fn: wrap each document in deterministic HTML, mux it
    into a Common Crawl-layout WARC (warcinfo + response, each record
    its own gzip member), parse the archive back, and emit the text the
    PARSER recovered — downstream gates consume what came out of the
    WARC path, not the original column, so the whole ingestion stack is
    on the hook for every row."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from evolution_data_warehouse_spark.sources.warc import (
            build_warc,
            parse_warc,
        )

        for pdf in batches:
            rows = []
            for doc_id, text, lang, source in zip(
                pdf["doc_id"], pdf["text"], pdf["lang"], pdf["source"]
            ):
                d = int(doc_id)
                body = "" if text is None else str(text)
                html = f"{_HTML_PREFIX}{body}{_HTML_SUFFIX}"
                payload = html.encode("utf-8")
                data = build_warc(
                    [
                        ("warcinfo", "", b"software: engine\r\n"),
                        ("response", f"http://corpus.local/doc/{d}", payload),
                    ],
                    per_record_gzip=True,
                )
                recs = parse_warc(data)
                resp = recs[-1]
                ok = (
                    len(recs) == 2
                    and resp["type"] == "response"
                    and resp["payload"] == payload
                )
                rows.append(
                    {
                        "doc_id": d,
                        "lang": lang,
                        "source": source,
                        "html": resp["payload"].decode("utf-8"),
                        "warc_ok": bool(ok),
                    }
                )
            yield pd.DataFrame(rows)

    return fn


#: the funnel's Gopher word-count floor — the corpus-tuned bound the
#: module documents (the synthetic documents run 10-99 words; the
#: published 50 floor is a web-scale default), aligned with the
#: funnel's existing n_tokens >= 20 quality gate.
_FUNNEL_GOPHER_MIN_WORDS = 20


def _web_funnel_oracle() -> str:
    from evolution_data_warehouse_spark.operators import textops
    from evolution_data_warehouse_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET,
        N_MINHASH,
    )
    from evolution_data_warehouse_spark.operators.gopher import (
        gopher_flags_sql,
        gopher_metrics_sql,
    )
    from evolution_data_warehouse_spark.queries.common import mh_sql_fragments

    langs = sorted(textops.STOPWORDS)
    score_cols = ", ".join(
        "CAST(len(list_filter(str_split(lower(ctext), ' '), "
        f"x -> list_contains([{', '.join(repr(w) for w in textops.STOPWORDS[lang])}], x))) AS INT)"
        f" AS s_{lang}"
        for lang in langs
    )
    en = ", ".join(repr(w) for w in textops.STOPWORDS["en"])
    best = f"greatest({', '.join('s_' + lang for lang in langs)})"
    chain = " ".join(
        f"WHEN s_{lang} >= {best} THEN '{lang}'" for lang in langs
    )
    f = mh_sql_fragments()
    gm = gopher_metrics_sql("ctext", prefix="g_")
    gm_cols = ", ".join(f"{sql} AS {name}" for name, sql in gm.items())
    gpass = gopher_flags_sql(
        min_words=_FUNNEL_GOPHER_MIN_WORDS, prefix="g_"
    )["g_gopher_pass"]
    return f"""
WITH raw AS (
    SELECT doc_id, lang, source,
           '{_HTML_PREFIX}' || COALESCE(text, '') || '{_HTML_SUFFIX}' AS html
    FROM documents
),
clean AS (
    SELECT doc_id, lang, source,
           trim(regexp_replace(
               replace(replace(replace(replace(replace(
                   regexp_replace(html, '<[^>]*>', ' ', 'g'),
                   '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                   '&quot;', '"'), '&#39;', ''''),
               ' +', ' ', 'g')) AS ctext
    FROM raw
),
staged AS (
    SELECT doc_id, lang, source, ctext,
           row_number() OVER (PARTITION BY md5(ctext) ORDER BY doc_id)
               AS rn,
           CAST(len(str_split(ctext, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(str_split(lower(ctext), ' '),
                    x -> list_contains([{en}], x))) AS BIGINT) AS stop_hits,
           {score_cols},
           {gm_cols}
    FROM clean
),
flags AS (
    SELECT doc_id, source, ctext, n_tokens,
           rn = 1 AS exact_survivor,
           rn = 1 AND n_tokens >= 20 AND stop_hits * 20 >= n_tokens
               AS quality_pass,
           rn = 1 AND n_tokens >= 20 AND stop_hits * 20 >= n_tokens
               AND (CASE {chain} END) = lang AS lang_match,
           rn = 1 AND n_tokens >= 20 AND stop_hits * 20 >= n_tokens
               AND (CASE {chain} END) = lang AND {gpass} AS gopher_pass
    FROM staged
),
gated AS (
    SELECT doc_id, source, ctext, n_tokens FROM flags WHERE gopher_pass
),
sh AS (
    SELECT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 1, 1)),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
               ))) AS shingle
        FROM (SELECT doc_id, str_split(lower(ctext), ' ') AS toks
              FROM gated)
    )
),
h AS (SELECT doc_id, {f["hm"]} AS hm FROM sh),
mh AS (SELECT doc_id, {f["mh_cols"]} FROM h GROUP BY doc_id),
bands_raw AS ({f["bands"]}),
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
      ON a.band = b.band AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
),
removed AS (
    SELECT DISTINCT doc_b AS doc_id
    FROM cand
    JOIN mh sa ON doc_a = sa.doc_id
    JOIN mh sb ON doc_b = sb.doc_id
    WHERE CAST(({f["eq"]}) AS DOUBLE) / CAST({N_MINHASH} AS DOUBLE) >= 0.5
),
kept AS (
    SELECT g.source, g.n_tokens FROM gated g
    LEFT JOIN removed r ON g.doc_id = r.doc_id
    WHERE r.doc_id IS NULL
),
agg_flags AS (
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(*) AS n_warc_ok,
           CAST(SUM(CASE WHEN exact_survivor THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_unique,
           CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quality_pass,
           CAST(SUM(CASE WHEN lang_match THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lang_match,
           CAST(SUM(CASE WHEN gopher_pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gopher_pass
    FROM flags GROUP BY source
),
agg_kept AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_near_unique,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_final
    FROM kept GROUP BY source
)
SELECT a.source, a.n_docs, a.n_warc_ok, a.n_exact_unique,
       a.n_quality_pass, a.n_lang_match, a.n_gopher_pass,
       COALESCE(k.n_near_unique, 0) AS n_near_unique,
       COALESCE(k.n_tokens_final, 0) AS n_tokens_final
FROM agg_flags a LEFT JOIN agg_kept k ON a.source = k.source
"""


@register(
    "web_corpus_curation",
    _web_funnel_oracle(),
    doc="The actual Common Crawl workflow as ONE query: every document "
    "is wrapped in HTML, muxed into a per-record-gzip WARC "
    "(sources/warc.py, the ISO 28500 Common Crawl layout) and parsed "
    "back — downstream consumes the PARSER's output — then "
    "html-stripped (tag/entity column expressions, text_html_strip's "
    "chain), exact-deduped (content-hash window), quality-gated "
    "(integer cross-multiplied length + stopword density), "
    "language-verified (stopword argmax == label), Gopher-rule-gated "
    "(the complete published suite from operators/gopher.py — "
    "text_quality_gopher's rules as a drop-in funnel stage, word "
    "floor tuned to this corpus), MinHash-LSH "
    "near-deduped (operators/dedup.py's banded pair join with its "
    "default-ON hot-bucket guard, est_jaccard >= 0.5 removes the "
    "higher id), and rolled into the per-source curation funnel "
    "report. One WARC pass feeds every gate (the parsed frame is "
    "locally checkpointed — reclaimable blocks, not a session-pinned "
    "cache — and reused by the flag aggregate and the near-dup path); at "
    "100 TB the same plan reads member-boundary-split WARC files at "
    "record granularity with no shuffle before the funnel aggregate.",
)
def web_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.operators import textops
    from evolution_data_warehouse_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from evolution_data_warehouse_spark.operators.gopher import (
        gopher_flags,
        gopher_metrics,
    )

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    parsed = docs.mapInPandas(
        _warc_html_batch(),
        "doc_id long, lang string, source string, html string, "
        "warc_ok boolean",
    )
    stripped = F.regexp_replace("html", "<[^>]*>", " ")
    for ent, ch in [("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", '"'), ("&#39;", "'")]:
        stripped = F.replace(stripped, F.lit(ent), F.lit(ch))
    ctext = F.trim(F.regexp_replace(stripped, " +", " "))
    w = W.partitionBy(F.md5("ctext")).orderBy("doc_id")
    scores = textops.lang_scores(F.col("ctext"))
    staged = (
        parsed.withColumn("ctext", ctext)
        .select(
            "doc_id", "lang", "source", "ctext", "warc_ok",
            F.row_number().over(w).alias("rn"),
            F.size(textops.tokens_ws(F.col("ctext")))
            .cast("bigint")
            .alias("n_tokens"),
            textops.stopword_hits(F.col("ctext"), textops.STOPWORDS["en"])
            .cast("bigint")
            .alias("stop_hits"),
            textops.predict_lang(scores).alias("pred_lang"),
        )
        # ONE WARC pass feeds the flag aggregate + the dedup path.
        # localCheckpoint, not cache: blocks are reclaimed when the
        # result is dropped instead of pinning the parsed corpus in the
        # CacheManager for the rest of the session (the lifecycle
        # dedup.py prescribes for composition into longer pipelines).
        .localCheckpoint(eager=False)
    )
    exact = F.col("rn") == 1
    quality = (
        exact
        & (F.col("n_tokens") >= 20)
        & (F.col("stop_hits") * 20 >= F.col("n_tokens"))
    )
    lang_match = quality & (F.col("pred_lang") == F.col("lang"))
    gm = gopher_metrics(F.col("ctext"))
    gopher_ok = gopher_flags(gm, min_words=_FUNNEL_GOPHER_MIN_WORDS)[
        "gopher_pass"
    ]
    gopher_gate = lang_match & gopher_ok
    gated = staged.filter(gopher_gate).select(
        "doc_id", "source", "ctext", "n_tokens"
    )
    sh3 = word_ngrams(F.split(F.lower(F.col("ctext")), " "), 3)
    shingled = gated.select(
        "doc_id", F.explode(F.array_distinct(sh3)).alias("shingle")
    )
    removed = (
        minhash_lsh_pairs(shingled, sig_storage="checkpoint")
        .filter(F.col("est_jaccard") >= 0.5)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    kept = gated.join(removed, "doc_id", "left_anti")
    agg_flags = staged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("warc_ok").cast("int")).cast("bigint").alias("n_warc_ok"),
        F.sum(exact.cast("int")).cast("bigint").alias("n_exact_unique"),
        F.sum(quality.cast("int")).cast("bigint").alias("n_quality_pass"),
        F.sum(lang_match.cast("int")).cast("bigint").alias("n_lang_match"),
        F.sum(gopher_gate.cast("int")).cast("bigint").alias("n_gopher_pass"),
    )
    agg_kept = kept.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_near_unique"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens_final"),
    )
    return agg_flags.join(agg_kept, "source", "left").select(
        "source", "n_docs", "n_warc_ok", "n_exact_unique",
        "n_quality_pass", "n_lang_match", "n_gopher_pass",
        F.coalesce(F.col("n_near_unique"), F.lit(0))
        .cast("bigint")
        .alias("n_near_unique"),
        F.coalesce(F.col("n_tokens_final"), F.lit(0))
        .cast("bigint")
        .alias("n_tokens_final"),
    )


# ---------------------------------------------------------------------------
# Charset detection + decode — bytes → str for crawled payloads
# ---------------------------------------------------------------------------

_CHARSET_ORACLE = """
SELECT doc_id,
       CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-8'
            WHEN 2 THEN 'utf-16-le' ELSE 'windows-1252' END AS charset,
       CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN 'utf8-valid' WHEN 1 THEN 'bom'
            WHEN 2 THEN 'bom' ELSE 'meta' END AS method,
       CAST(CASE WHEN doc_id % 4 = 3
                 THEN 51 + length(CAST(doc_id AS VARCHAR))
                 ELSE length(COALESCE(text, '')) END AS BIGINT) AS n_chars,
       TRUE AS text_match
FROM documents
"""


@register(
    "web_charset_detect",
    _CHARSET_ORACLE,
    doc="Charset detection + decode (sources/charset.py) — the "
    "bytes-to-str step between WARC ingestion and every text "
    "operator, as the practical WHATWG sniff ladder: BOM (UTF-8 and "
    "UTF-16-LE payloads built per doc), meta-declared charset "
    "(windows-1252 pages carrying a real 0xE9 byte that strict UTF-8 "
    "would reject), and strict-UTF-8 validation for bare payloads. "
    "text_match demands the decoded string equal the original "
    "exactly; charset/method/char counts are closed-form in doc_id. "
    "decode_payload never raises — the fallback leg accepts every "
    "byte string, so this stage needs no quarantine at all. One "
    "narrow mapInPandas pass, zero shuffle.",
)
def web_charset_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_decode(batches):
        from evolution_data_warehouse_spark.sources.charset import (
            decode_payload,
        )

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                s = "" if text is None else str(text)
                leg = d % 4
                if leg == 0:
                    payload, expect = s.encode("utf-8"), s
                elif leg == 1:
                    payload = b"\xef\xbb\xbf" + s.encode("utf-8")
                    expect = s
                elif leg == 2:
                    payload = b"\xff\xfe" + s.encode("utf-16-le")
                    expect = s
                else:
                    # meta-declared legacy page with a genuine non-UTF-8
                    # byte (0xE9 = e-acute in cp1252) so the UTF-8
                    # validator could never claim it
                    expect = (
                        f'<meta charset="windows-1252"><p>café '
                        f"page {d} body</p>"
                    )
                    payload = expect.encode("windows-1252")
                charset, method, decoded = decode_payload(payload)
                rows.append(
                    {
                        "doc_id": d,
                        "charset": charset,
                        "method": method,
                        "n_chars": len(decoded),
                        "text_match": decoded == expect,
                    }
                )
            yield pd.DataFrame(rows)

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        synth_and_decode,
        "doc_id long, charset string, method string, n_chars long, "
        "text_match boolean",
    )


# ---------------------------------------------------------------------------
# Main-content extraction — text-density boilerplate removal
# ---------------------------------------------------------------------------

_BLOCK_RX = "</?(?:p|li|ul|nav|footer|header|h1|div)[^>]*>"


_LINK_RX = "<a[^>]*>([^<]*)</a>"


_MAIN_MIN_CHARS = 25  # blocks shorter than this are chrome/junk


# keep iff 3*link_chars < text_chars (link density < 1/3) — integer
# cross-multiplied, no float boundary

_MAIN_PAGE_SQL = """
SELECT doc_id,
       '<nav><li><a href="/">Home</a></li><li><a href="/a">About</a>'
       || '</li></nav><h1>Title ' || CAST(doc_id AS VARCHAR)
       || '</h1><p>' || text || '</p><p>ad</p><footer>'
       || '<a href="/t">Terms</a> <a href="/p">Privacy</a></footer>'
           AS html
FROM documents
"""


def _main_content_oracle() -> str:
    return f"""
WITH pages AS ({_MAIN_PAGE_SQL}),
segs AS (
    SELECT doc_id,
           CAST(unnest(range(1, len(parts) + 1)) AS INT) AS pos,
           unnest(parts) AS seg
    FROM (SELECT doc_id, str_split_regex(html, '{_BLOCK_RX}') AS parts
          FROM pages)
),
scored AS (
    SELECT doc_id, pos,
           trim(regexp_replace(regexp_replace(seg, '<[^>]*>', ' ', 'g'),
                ' +', ' ', 'g')) AS txt,
           -- COALESCE: DuckDB array_to_string([]) is NULL where Spark
           -- array_join([]) is '' — an un-coalesced NULL silently
           -- fails the keep predicate for every linkless block
           COALESCE(length(array_to_string(
               regexp_extract_all(seg, '{_LINK_RX}', 1), '')), 0)
               AS link_chars
    FROM segs
),
kept AS (
    SELECT doc_id, pos, txt
    FROM scored
    WHERE length(txt) >= {_MAIN_MIN_CHARS}
      AND 3 * link_chars < length(txt)
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN k.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       CAST(COALESCE(SUM(CASE WHEN k.pos IS NOT NULL
                         THEN length(k.txt) ELSE 0 END), 0) AS BIGINT)
           AS main_chars,
       md5(COALESCE(string_agg(k.txt, ' ' ORDER BY k.pos), ''))
           AS main_text_md5
FROM scored s
LEFT JOIN kept k ON s.doc_id = k.doc_id AND s.pos = k.pos
GROUP BY s.doc_id
"""


@register(
    "web_main_content",
    _main_content_oracle(),
    doc="Main-content extraction (text-density boilerplate removal — "
    "the Readability/Boilerpipe family, Kohlschütter et al. 2010 "
    "public heuristic): pages split into block-level segments; each "
    "block keeps or drops on two INTEGER rules — minimum text length "
    "and link density (3*link_chars < text_chars, cross-multiplied so "
    "no float boundary exists) — and the kept blocks reassemble in "
    "document order. Navigation, footers, and short junk blocks are "
    "exactly the high-link-density/short segments the rules drop; the "
    "synthetic pages wrap each document's real text in that chrome, "
    "and the oracle recomputes the identical regex chain (split / "
    "strip / extract-all verified byte-equal across both engines). "
    "Pure column expressions at scan speed — the curation stage "
    "between html_strip and the quality gates at 100 TB; main text "
    "verified via md5 so the hash check covers every byte of every "
    "kept block without shipping megabytes through the compare.",
)
def web_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit('<nav><li><a href="/">Home</a></li><li><a href="/a">'),
            F.lit("About</a></li></nav><h1>Title "),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit('</p><p>ad</p><footer><a href="/t">Terms</a> '),
            F.lit('<a href="/p">Privacy</a></footer>'),
        ).alias("html"),
    )
    segs = pages.select(
        "doc_id",
        F.posexplode(F.split("html", _BLOCK_RX)).alias("pos0", "seg"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "seg")
    stripped = F.regexp_replace("seg", "<[^>]*>", " ")
    txt = F.trim(F.regexp_replace(stripped, " +", " "))
    link_chars = F.length(
        F.array_join(
            F.regexp_extract_all(F.col("seg"), F.lit(_LINK_RX), 1), ""
        )
    )
    scored = segs.select(
        "doc_id", "pos", txt.alias("txt"), link_chars.alias("link_chars")
    )
    keep = (F.length("txt") >= _MAIN_MIN_CHARS) & (
        3 * F.col("link_chars") < F.length("txt")
    )
    flagged = scored.withColumn("_keep", keep)
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.sum(F.col("_keep").cast("int")).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("_keep"), F.length("txt")).otherwise(0))
        .cast("bigint")
        .alias("main_chars"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_keep"),
                                F.struct("pos", F.col("txt").alias("t")),
                            )
                        )
                    ),
                    lambda x: x["t"],
                ),
            )
        ).alias("main_text_md5"),
    )


# ---------------------------------------------------------------------------
# robots.txt URL filtering — the crawl-compliance gate
# ---------------------------------------------------------------------------

# Pre-parsed per-host rule groups (what operators/robots.py::
# parse_robots_txt emits for the crawler's agent — parsing itself is
# unit-tested against RFC 9309 semantics in test_operators_misc).
# The fixture exercises longest-match override (h0), '*' wildcard with
# '$' anchor (h1), allow-carve-out under a disallow-all (h2), the
# tie→Allow rule (h3), and the empty group → allow-all default (h4).
_ROBOTS_RULES: dict[str, list[tuple[bool, str]]] = {
    "h0": [(False, "/private/"), (True, "/private/stats$")],
    "h1": [(False, "/tmp/*/index.htm$")],
    "h2": [(False, "/"), (True, "/public/")],
    "h3": [(False, "/public/page"), (True, "/public/page")],
    "h4": [],
}


def _robots_rule_rows() -> list[tuple[str, int, int, str]]:
    from evolution_data_warehouse_spark.operators.robots import (
        robots_pattern_regex,
    )

    return [
        (host, 1 if allow else 0, len(pattern),
         robots_pattern_regex(pattern))
        for host, rules in sorted(_ROBOTS_RULES.items())
        for allow, pattern in rules
    ]


_ROBOTS_URL_SQL = """
SELECT doc_id, 'h' || CAST(doc_id % 5 AS VARCHAR) AS host,
       CASE doc_id % 4
            WHEN 0 THEN '/private/doc' || CAST(doc_id AS VARCHAR)
            WHEN 1 THEN '/public/page' || CAST(doc_id AS VARCHAR)
                 || '.html'
            WHEN 2 THEN '/tmp/x' || CAST(doc_id AS VARCHAR)
                 || '/index.htm'
            ELSE '/private/stats' END AS path
FROM documents
"""


def _robots_oracle() -> str:
    vals = ", ".join(
        f"('{h}', {a}, {p}, '{rx}')" for h, a, p, rx in _robots_rule_rows()
    )
    return f"""
WITH urls AS ({_ROBOTS_URL_SQL}),
rules(host, allow_i, plen, rx) AS (VALUES {vals}),
m AS (
    SELECT u.doc_id, MAX(2 * r.plen + r.allow_i) AS best,
           COUNT(*) AS n_matching
    FROM urls u
    JOIN rules r ON u.host = r.host AND regexp_matches(u.path, r.rx)
    GROUP BY u.doc_id
)
SELECT u.doc_id, u.host, u.path,
       COALESCE(m.best % 2 = 1, TRUE) AS allowed,
       CAST(COALESCE(m.n_matching, 0) AS BIGINT) AS n_matching
FROM urls u LEFT JOIN m ON u.doc_id = m.doc_id
"""


@register(
    "web_robots_filter",
    _robots_oracle(),
    doc="robots.txt URL filtering (RFC 9309; operators/robots.py) — "
    "the crawl-compliance gate between WARC ingestion and curation: "
    "corpus URLs join the (dimension-sized, broadcast) parsed rule "
    "table on host; each rule's path pattern evaluates as ONE shared "
    "regex translation on both engines ('*' wildcard, '$' anchor, "
    "longest-match override, tie goes to Allow, no match means "
    "allowed); the RFC's winner selection compiles to a single hash "
    "aggregate — max(2*pattern_len + allow) odd — so the whole gate "
    "is scan, broadcast join, aggregate: the only shape that holds "
    "against 100 TB of URLs. Group selection inside robots.txt "
    "(longest user-agent token, '*' fallback) is parse_robots_txt, "
    "unit-tested against RFC examples.",
)
def web_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    urls = t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "'h' || CAST(doc_id % 5 AS STRING) AS host",
        "CASE CAST(doc_id % 4 AS INT) "
        "WHEN 0 THEN '/private/doc' || CAST(doc_id AS STRING) "
        "WHEN 1 THEN '/public/page' || CAST(doc_id AS STRING) || '.html' "
        "WHEN 2 THEN '/tmp/x' || CAST(doc_id AS STRING) || '/index.htm' "
        "ELSE '/private/stats' END AS path",
    )
    rules = spark.createDataFrame(
        _robots_rule_rows(), "host string, allow_i int, plen int, rx string"
    )
    m = (
        urls.join(F.broadcast(rules), "host")
        .filter(F.expr("path RLIKE rx"))
        .groupBy("doc_id")
        .agg(
            F.max(2 * F.col("plen") + F.col("allow_i")).alias("best"),
            F.count("*").alias("n_matching"),
        )
    )
    return urls.join(m, "doc_id", "left").select(
        "doc_id", "host", "path",
        F.coalesce(F.col("best") % 2 == 1, F.lit(True)).alias("allowed"),
        F.coalesce(F.col("n_matching"), F.lit(0))
        .cast("bigint")
        .alias("n_matching"),
    )


# ---------------------------------------------------------------------------
# Crawl-frontier build — sitemap discovery ∘ canonicalize ∘ robots
# ---------------------------------------------------------------------------

# Frontier fixture: urlset docs (d % 10 != 0; index shards are the
# recursion src_sitemap_urls already verifies) publish 1 + d % 7 URLs
# for share-group g = d % 20 — docs in the same group publish the SAME
# logical pages (the cross-site syndication that makes frontier dedup
# real), dressed in canonicalization fodder (uppercase scheme/host,
# leading www., explicit :80, tracking query). Note g determines the
# host (d % 20 = g ⇒ d % 5 = g % 5), so colliding URLs collide fully.
_FRONTIER_PATHS = (
    "/private/doc{g}_{i}",
    "/public/page{g}_{i}.html",
    "/tmp/x{g}_{i}/index.htm",
    "/private/stats",
)


def _frontier_oracle() -> str:

    vals = ", ".join(
        f"('{h}', {a}, {p}, '{rx}')" for h, a, p, rx in _robots_rule_rows()
    )
    return f"""
WITH docs AS (
    SELECT doc_id, doc_id % 20 AS g, 1 + doc_id % 7 AS n
    FROM documents WHERE doc_id % 10 <> 0
),
pairs AS (
    SELECT doc_id, g, unnest(range(0, n)) AS i FROM docs
),
urls AS (
    SELECT doc_id,
           'h' || CAST(g % 5 AS VARCHAR) AS host_key,
           CASE CAST((g + i) % 4 AS INT)
                WHEN 0 THEN '/private/doc' || CAST(g AS VARCHAR)
                     || '_' || CAST(i AS VARCHAR)
                WHEN 1 THEN '/public/page' || CAST(g AS VARCHAR)
                     || '_' || CAST(i AS VARCHAR) || '.html'
                WHEN 2 THEN '/tmp/x' || CAST(g AS VARCHAR)
                     || '_' || CAST(i AS VARCHAR) || '/index.htm'
                ELSE '/private/stats' END AS path
    FROM pairs
),
frontier AS (
    SELECT 'http://h' || CAST(g % 5 AS VARCHAR) || '.corpus.local'
               || path AS url,
           host_key, path,
           MIN(doc_id) AS discovered_by,
           CAST(COUNT(*) AS BIGINT) AS n_sources
    FROM urls JOIN docs USING (doc_id)
    GROUP BY 1, 2, 3
),
rules(host, allow_i, plen, rx) AS (VALUES {vals}),
m AS (
    SELECT f.url, MAX(2 * r.plen + r.allow_i) AS best,
           COUNT(*) AS n_matching
    FROM frontier f
    JOIN rules r ON f.host_key = r.host AND regexp_matches(f.path, r.rx)
    GROUP BY f.url
)
SELECT f.url, f.host_key, f.path, f.discovered_by, f.n_sources,
       COALESCE(m.best % 2 = 1, TRUE) AS allowed,
       CAST(COALESCE(m.n_matching, 0) AS BIGINT) AS n_matching
FROM frontier f LEFT JOIN m ON f.url = m.url
"""


@register(
    "web_frontier_build",
    _frontier_oracle(),
    doc="Crawl-frontier build — the composition the r9 stages verified "
    "separately, run as ONE plan the way web_corpus_curation composes "
    "the post-fetch stages: sitemap discovery (sources/sitemap.py — "
    "real urlset XML built AND parsed back per publisher, one "
    "mapInPandas scan), URL canonicalization (the fn_url_canonicalize "
    "regex pipeline of dedup_url_canonical: lowercase host, strip "
    "www./default port/query) collapsing syndicated duplicates to one "
    "frontier row (keep-lowest discoverer + source count — same URL "
    "never fetched twice at 100 TB), then robots.txt compliance "
    "(operators/robots.py: the dimension-sized rule table broadcast, "
    "RFC 9309 winner as one integer hash aggregate, no match = "
    "allowed). Plan shape: one sitemap scan → hash-agg dedup → "
    "broadcast rules join + aggregate — every stage scan-shaped, no "
    "all-pairs, no unbounded shuffle.",
)
def web_frontier_build(spark: SparkSession, sf_dir: str) -> DataFrame:

    def discover(batches):
        from evolution_data_warehouse_spark.sources.sitemap import (
            build_sitemap,
            parse_sitemap,
        )

        for pdf in batches:
            doc_ids: list[int] = []
            locs: list[str] = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                if d % 10 == 0:
                    continue  # index shards: src_sitemap_urls' scope
                g = d % 20
                built = [
                    {
                        "loc": (
                            f"HTTP://WWW.H{d % 5}.Corpus.Local:80"
                            + _FRONTIER_PATHS[(g + i) % 4].format(g=g, i=i)
                            + "?utm_source=sitemap"
                        )
                    }
                    for i in range(1 + d % 7)
                ]
                for e in parse_sitemap(build_sitemap(built))["entries"]:
                    doc_ids.append(d)
                    locs.append(e["loc"])
            yield pd.DataFrame({"doc_id": doc_ids, "loc": locs})

    ids = t(spark, sf_dir, "documents").select("doc_id")
    discovered = ids.mapInPandas(discover, "doc_id long, loc string")
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract("loc", r"^[A-Za-z]+://([^/?#]+)", 1)),
            r"^www\.",
            "",
        ),
        r":80$",
        "",
    )
    path = F.regexp_extract("loc", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    frontier = (
        discovered.select(
            "doc_id",
            F.concat(F.lit("http://"), host, path).alias("url"),
            F.regexp_extract(host, r"^([^.]+)", 1).alias("host_key"),
            path.alias("path"),
        )
        .groupBy("url", "host_key", "path")
        .agg(
            F.min("doc_id").alias("discovered_by"),
            F.count("*").cast("bigint").alias("n_sources"),
        )
    )
    rules = spark.createDataFrame(
        _robots_rule_rows(), "host string, allow_i int, plen int, rx string"
    )
    m = (
        frontier.join(
            F.broadcast(rules), frontier.host_key == rules.host
        )
        .filter(F.expr("path RLIKE rx"))
        .groupBy("url")
        .agg(
            F.max(2 * F.col("plen") + F.col("allow_i")).alias("best"),
            F.count("*").alias("n_matching"),
        )
    )
    return frontier.join(m, "url", "left").select(
        "url", "host_key", "path", "discovered_by", "n_sources",
        F.coalesce(F.col("best") % 2 == 1, F.lit(True)).alias("allowed"),
        F.coalesce(F.col("n_matching"), F.lit(0))
        .cast("bigint")
        .alias("n_matching"),
    )


# ---------------------------------------------------------------------------
# Semantic eval-set decontamination — embedding-similarity leakage scan
# ---------------------------------------------------------------------------

_DECON_N_EVAL = 25


_DECON_PLANT_MOD = 19


_DECON_COS = 0.9


def _decon_semantic_oracle() -> str:
    from evolution_data_warehouse_spark.queries.common import DIM

    dot = " + ".join(f"(c.cv[{i}] * e.ev[{i}])" for i in range(1, DIM + 1))
    ncv = " + ".join(f"(c.cv[{i}] * c.cv[{i}])" for i in range(1, DIM + 1))
    nev = " + ".join(f"(e.ev[{i}] * e.ev[{i}])" for i in range(1, DIM + 1))
    return f"""
WITH e AS (
    SELECT vec_id AS eval_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
    FROM embeddings WHERE vec_id < {_DECON_N_EVAL}
),
c0 AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ov
    FROM embeddings WHERE vec_id >= {_DECON_N_EVAL}
),
cm AS (
    SELECT c0.vec_id,
           CASE WHEN c0.vec_id % {_DECON_PLANT_MOD} = 0
                THEN list_transform(e.ev, (x, i) -> x + c0.ov[i] / 100.0)
                ELSE c0.ov END AS cv
    FROM c0 JOIN e ON e.eval_id = c0.vec_id % {_DECON_N_EVAL}
),
scored AS (
    SELECT c.vec_id, e.eval_id,
           ({dot}) / NULLIF(sqrt({ncv}) * sqrt({nev}), 0.0) AS cosine
    FROM cm c, e
),
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cosine DESC, eval_id ASC) AS rn
    FROM scored
)
SELECT vec_id, eval_id AS nearest_eval, cosine AS max_cos,
       cosine >= {_DECON_COS} AS contaminated
FROM r WHERE rn = 1
"""


@register(
    "decontaminate_semantic",
    _decon_semantic_oracle(),
    doc="Semantic eval-set decontamination — the embedding-similarity "
    "leakage scan modern pipelines run beside decontaminate_ngram's "
    "exact n-gram pass (paraphrased benchmark questions share no "
    "13-gram but sit next to the eval vector in embedding space): "
    "the first 25 vectors stand as the benchmark set; every corpus "
    "vector reports its max cosine and nearest eval item, flagged at "
    ">= 0.9. Contamination is PLANTED closed-form (every 19th corpus "
    "vector is its eval twin plus 1% of itself — cosine ~0.999 "
    "against a 0.49 random background, so the verdict margin is "
    "wide). Scale shape: eval sets are KBs — the eval side BROADCASTS "
    "and the corpus streams through one narrow pass (the allowlisted "
    "broadcast nested-loop, same as sim_ann_bruteforce), one "
    "max-struct aggregate picks the nearest item (ties to the lowest "
    "eval id, mirrored by the oracle's row_number). All double "
    "arithmetic is sequential-fold order on both engines.",
)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators import similarity as sim

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ev = emb.filter(F.col("vec_id") < _DECON_N_EVAL).select(
        F.col("vec_id").alias("eval_id"),
        sim.as_double(F.col("embedding")).alias("_ev"),
    )
    evn = ev.withColumn("_ne", sim.vec_norm(F.col("_ev")))
    c0 = emb.filter(F.col("vec_id") >= _DECON_N_EVAL)
    mixed = F.when(
        F.col("vec_id") % _DECON_PLANT_MOD == 0,
        F.zip_with(
            F.col("_ev"),
            sim.as_double(F.col("embedding")),
            lambda x, o: x + o / F.lit(100.0),
        ),
    ).otherwise(sim.as_double(F.col("embedding")))
    cm = (
        c0.join(
            F.broadcast(ev),
            F.col("vec_id") % _DECON_N_EVAL == F.col("eval_id"),
        )
        .select("vec_id", mixed.alias("_vec"))
        .withColumn("_norm", sim.vec_norm(F.col("_vec")))
    )
    scored = cm.crossJoin(F.broadcast(evn)).select(
        "vec_id",
        "eval_id",
        sim.cosine(
            F.col("_vec"), F.col("_ev"), F.col("_norm"), F.col("_ne")
        ).alias("cosine"),
    )
    best = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(
                F.col("cosine").alias("c"),
                (-F.col("eval_id")).alias("negid"),
            )
        ).alias("m")
    )
    return best.select(
        "vec_id",
        (-F.col("m.negid")).cast("bigint").alias("nearest_eval"),
        F.col("m.c").alias("max_cos"),
        (F.col("m.c") >= _DECON_COS).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# URL quality filters — the pre-fetch gate on the crawl frontier
# ---------------------------------------------------------------------------

_URLQ_BLOCK_DOMAINS = ("spam-mill.example", "link-farm.example")


_URLQ_BLOCK_WORDS = ("casino", "viagra")


# The string cast is a {STR} template slot formatted per engine
# (VARCHAR for DuckDB, STRING for Spark) — never a post-hoc
# str.replace over shared SQL, which would silently rewrite any future
# literal containing the type name (r10 ADVICE).
_URLQ_URL_SQL_T = """
CASE CAST(doc_id % 6 AS INT)
     WHEN 0 THEN 'http://spam-mill.example/page/'
          || CAST(doc_id AS {STR})
     WHEN 1 THEN 'http://h' || CAST(doc_id % 5 AS {STR})
          || '.corpus.local/' || repeat('x', 300)
     WHEN 2 THEN 'http://99887766554433221100.corpus.local/doc/'
          || CAST(doc_id AS {STR})
     WHEN 3 THEN 'http://h' || CAST(doc_id % 5 AS {STR})
          || '.corpus.local' || repeat('/d', 12) || '/'
          || CAST(doc_id AS {STR})
     WHEN 4 THEN 'http://h' || CAST(doc_id % 5 AS {STR})
          || '.corpus.local/best-casino-bonus/'
          || CAST(doc_id AS {STR})
     ELSE 'http://h' || CAST(doc_id % 5 AS {STR})
          || '.corpus.local/article/' || CAST(doc_id AS {STR})
          || '?ref=home&utm_campaign=c' || CAST(doc_id % 7 AS {STR})
     END
"""


_URLQ_URL_SQL = _URLQ_URL_SQL_T.format(STR="VARCHAR")


def _urlq_oracle() -> str:
    blocked_host = " OR ".join(
        f"host = '{d}' OR host LIKE '%.{d}'" for d in _URLQ_BLOCK_DOMAINS
    )
    blocked_word = " OR ".join(
        f"contains(lower(url), '{w}')" for w in _URLQ_BLOCK_WORDS
    )
    return f"""
WITH u AS (SELECT doc_id, {_URLQ_URL_SQL} AS url FROM documents),
parts AS (
    SELECT doc_id, url,
           lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS host,
           regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path
    FROM u
),
m AS (
    SELECT doc_id, url, host,
           CAST(length(url) AS BIGINT) AS url_len,
           CAST(length(host) - length(regexp_replace(host, '[0-9]', '',
                'g')) AS BIGINT) AS host_digits,
           CAST(length(host) AS BIGINT) AS host_len,
           CAST(length(path) - length(replace(path, '/', '')) AS BIGINT)
               AS path_depth,
           CASE WHEN contains(url, '?')
                THEN CAST(1 + length(url) - length(replace(url, '&', ''))
                          AS BIGINT)
                ELSE 0 END AS n_params,
           ({blocked_host}) AS blocked_domain,
           ({blocked_word}) AS blocked_word
    FROM parts
)
SELECT doc_id, url_len, host_digits, path_depth, n_params,
       blocked_domain, blocked_word,
       url_len <= 256 AS r_length,
       2 * host_digits <= host_len AS r_host_digits,
       path_depth <= 10 AS r_path_depth,
       n_params <= 8 AS r_params,
       (url_len <= 256 AND 2 * host_digits <= host_len
        AND path_depth <= 10 AND n_params <= 8
        AND NOT blocked_domain AND NOT blocked_word) AS url_keep
FROM m
"""


@register(
    "web_url_quality",
    _urlq_oracle(),
    doc="URL quality filters (the RefinedWeb/FineWeb pre-fetch gate — "
    "judging a page by its address is free; fetching it is not): URL "
    "length <= 256, digit fraction of the host <= 50% (integer "
    "cross-multiplied), path depth <= 10, query params <= 8, plus "
    "pinned blocklists for domains (exact or subdomain suffix) and "
    "URL substrings. The fixture schedule is closed-form in doc_id — "
    "every 6th URL a blocklisted domain, 6th+1 a 300-char tail, "
    "6th+2 a digit-mill host, 6th+3 a 12-deep path, 6th+4 a spam "
    "keyword; the rest clean article URLs. Pure column expressions "
    "over one scan — composes in FRONT of web_frontier_build's "
    "robots gate, so at 100 TB the cheap string rules prune before "
    "any rule-table join.",
)
def web_url_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    url = F.expr(_URLQ_URL_SQL_T.format(STR="STRING"))
    docs = t(spark, sf_dir, "documents").select("doc_id", url.alias("url"))
    host = F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]+)", 1))
    path = F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    m = docs.select(
        "doc_id",
        "url",
        host.alias("host"),
        F.length("url").cast("bigint").alias("url_len"),
        (
            F.length(host)
            - F.length(F.regexp_replace(host, "[0-9]", ""))
        )
        .cast("bigint")
        .alias("host_digits"),
        F.length(host).cast("bigint").alias("host_len"),
        (F.length(path) - F.length(F.replace(path, F.lit("/"), F.lit(""))))
        .cast("bigint")
        .alias("path_depth"),
        F.when(
            F.contains("url", F.lit("?")),
            1
            + F.length("url")
            - F.length(F.replace(F.col("url"), F.lit("&"), F.lit(""))),
        )
        .otherwise(0)
        .cast("bigint")
        .alias("n_params"),
    )
    blocked_domain = None
    for dname in _URLQ_BLOCK_DOMAINS:
        c = (F.col("host") == dname) | F.col("host").like(f"%.{dname}")
        blocked_domain = c if blocked_domain is None else blocked_domain | c
    blocked_word = None
    for wname in _URLQ_BLOCK_WORDS:
        c = F.contains(F.lower(F.col("url")), F.lit(wname))
        blocked_word = c if blocked_word is None else blocked_word | c
    r_len = F.col("url_len") <= 256
    r_dig = 2 * F.col("host_digits") <= F.col("host_len")
    r_depth = F.col("path_depth") <= 10
    r_par = F.col("n_params") <= 8
    return m.select(
        "doc_id", "url_len", "host_digits", "path_depth", "n_params",
        blocked_domain.alias("blocked_domain"),
        blocked_word.alias("blocked_word"),
        r_len.alias("r_length"),
        r_dig.alias("r_host_digits"),
        r_depth.alias("r_path_depth"),
        r_par.alias("r_params"),
        (
            r_len & r_dig & r_depth & r_par
            & ~blocked_domain & ~blocked_word
        ).alias("url_keep"),
    )


# ---------------------------------------------------------------------------
# Curriculum ordering — quality-phased training schedule
# ---------------------------------------------------------------------------


def _curriculum_oracle() -> str:
    from evolution_data_warehouse_spark.operators.gopher import (
        gopher_metrics_sql,
    )

    m = gopher_metrics_sql("COALESCE(text, '')")
    return f"""
WITH s AS (
    SELECT doc_id,
           {m['n_words']} AS n_words,
           {m['stop_hits']} AS stop_hits
    FROM documents
),
scored AS (
    SELECT doc_id, n_words,
           1000 * stop_hits + n_words AS quality_score
    FROM s
),
phased AS (
    SELECT doc_id, n_words, quality_score,
           NTILE(4) OVER (ORDER BY quality_score DESC, doc_id)
               AS phase
    FROM scored
)
SELECT CAST(phase AS INT) AS phase,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_tokens,
       CAST(MIN(quality_score) AS BIGINT) AS min_score,
       CAST(MAX(quality_score) AS BIGINT) AS max_score
FROM phased GROUP BY phase
"""


@register(
    "pack_curriculum",
    _curriculum_oracle(),
    doc="Curriculum schedule — the training-order stage after "
    "filtering and packing: documents rank by an integer quality "
    "score (1000x stop-word hits + word count — stop-word mass "
    "dominates until length differences reach ~1000 words, the cheap "
    "proxy a curriculum pipeline derives from its gate metrics) and "
    "NTILE into 4 equal phases, highest-quality first, "
    "ties broken by doc_id so the phase assignment is deterministic "
    "on any engine/partitioning. The report gives each phase's doc "
    "and token budget plus its score band — what a trainer consumes "
    "to schedule epochs. One scan + one rank pass; at 100 TB the "
    "NTILE becomes the two-pass bucketed rank every sort-based "
    "layout op here uses (zorder_layout's repartitionByRange shape).",
)
def pack_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.operators.gopher import (
        gopher_metrics,
    )

    m = gopher_metrics(F.coalesce(F.col("text"), F.lit("")))
    scored = t(spark, sf_dir, "documents").select(
        "doc_id",
        m["n_words"].alias("n_words"),
        (1000 * m["stop_hits"] + m["n_words"]).alias("quality_score"),
    )
    phased = scored.select(
        "*",
        F.ntile(4)
        .over(W.orderBy(F.col("quality_score").desc(), "doc_id"))
        .alias("phase"),
    )
    return phased.groupBy("phase").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_tokens"),
        F.min("quality_score").cast("bigint").alias("min_score"),
        F.max("quality_score").cast("bigint").alias("max_score"),
    ).select(
        F.col("phase").cast("int").alias("phase"),
        "n_docs", "n_tokens", "min_score", "max_score",
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weights — hashed-feature domain reweighting
# ---------------------------------------------------------------------------

# Hashed feature space (DSIR, Xie et al. 2023: hash n-grams into
# buckets, weight documents by how target-like their feature counts
# are). Target domain = lang 'en'. The per-bucket likelihood ratio
# p_target(b)/p_raw(b) = (c_t(b)·T_r)/(c_r(b)·T_t) quantizes to
# floor(ratio·1e6) by exact integer floor-division (DECIMAL DIV /
# HUGEINT //; c_t·1e6·T_r can pass int64); a document's importance
# score is the count-weighted sum of its buckets' ratios —
# 'oversample' when the mean ratio is >= 1 (score >= 1e6·n_tokens).
# The paper uses log-ratios; the rational form keeps every value an
# exact integer on both engines (the text_tfidf log-free discipline).
_DSIR_BUCKETS = 64


_DSIR_TARGET_LANG = "en"


_DSIR_FP = 1_000_000


def _dsir_oracle() -> str:

    b = content_hash64_sql("token")
    return f"""
WITH d AS (
    SELECT doc_id, lang,
           unnest(str_split(lower(COALESCE(text, '')), ' ')) AS token
    FROM documents
),
tf AS (
    SELECT doc_id, lang, token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM d GROUP BY 1, 2, 3
),
bk AS (
    SELECT doc_id, lang, ({b} % {_DSIR_BUCKETS}) AS bucket, tf
    FROM tf
),
bc AS (
    SELECT bucket,
           CAST(SUM(tf) AS BIGINT) AS c_r,
           CAST(SUM(CASE WHEN lang = '{_DSIR_TARGET_LANG}'
                         THEN tf ELSE 0 END) AS BIGINT) AS c_t
    FROM bk GROUP BY 1
),
g AS (
    SELECT CAST(SUM(c_r) AS BIGINT) AS t_r,
           CAST(SUM(c_t) AS BIGINT) AS t_t
    FROM bc
),
q AS (
    SELECT bucket,
           CAST((CAST(c_t AS HUGEINT) * {_DSIR_FP} * t_r)
                // (CAST(c_r AS HUGEINT) * t_t) AS BIGINT) AS ratio_q
    FROM bc, g
),
s AS (
    SELECT bk.doc_id,
           CAST(SUM(bk.tf) AS BIGINT) AS n_tokens,
           CAST(SUM(bk.tf * q.ratio_q) AS BIGINT) AS dsir_q
    FROM bk JOIN q USING (bucket) GROUP BY 1
)
SELECT doc_id, n_tokens, dsir_q,
       (dsir_q >= {_DSIR_FP} * n_tokens) AS oversample
FROM s
"""


@register(
    "corpus_dsir_weights",
    _dsir_oracle(),
    doc="DSIR-style importance weights (Xie et al. 2023, Data "
    "Selection with Importance Resampling): hash tokens into 64 "
    "feature buckets, estimate the target-domain (lang='en') vs raw "
    "likelihood ratio per bucket, and weight every document by its "
    "count-weighted mean ratio — the reweighting step that tilts a "
    "web-scale mixture toward a target domain. Determinism: ratios "
    "quantize to floor(ratio*1e6) by exact integer floor-division; "
    "document scores and the oversample flag are pure int64. Scale "
    "shape: md5 runs once per DISTINCT (doc, token) pair (after the "
    "tf hash-aggregate, the r10 md5-cost lesson), the bucket stats "
    "are a 64-row broadcast, and the per-doc score is one more hash "
    "aggregate — two map-side-combinable shuffles over corpus "
    "tokens, linear at 100 TB.",
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:

    wide = cpu_repartition(t(spark, sf_dir, "documents"), "doc_id")
    tk = wide.select(
        "doc_id",
        "lang",
        F.explode(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
        ).alias("token"),
    )
    tf = tk.groupBy("doc_id", "lang", "token").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    bk = tf.select(
        "doc_id",
        "lang",
        (content_hash64(F.col("token")) % _DSIR_BUCKETS).alias("bucket"),
        "tf",
    )
    bc = bk.groupBy("bucket").agg(
        F.sum("tf").cast("bigint").alias("c_r"),
        F.sum(
            F.when(
                F.col("lang") == _DSIR_TARGET_LANG, F.col("tf")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("c_t"),
    )
    g = bc.agg(
        F.sum("c_r").cast("bigint").alias("t_r"),
        F.sum("c_t").cast("bigint").alias("t_t"),
    )
    # Both sides of the division widen before multiplying: c_t·1e6·T_r
    # and c_r·T_t are products of corpus-token-scale totals (~scale²),
    # so an unwidened int64 product would wrap silently on the Spark
    # side while DuckDB errors loudly — the same divergence class the
    # BM25 terms guard against.
    q = bc.crossJoin(F.broadcast(g)).select(
        "bucket",
        F.expr(
            f"CAST(CAST(c_t AS DECIMAL(38,0)) * {_DSIR_FP} * t_r "
            f"DIV (CAST(c_r AS DECIMAL(38,0)) * t_t) AS BIGINT)"
        ).alias("ratio_q"),
    )
    s = (
        bk.join(F.broadcast(q), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("ratio_q"))
            .cast("bigint")
            .alias("dsir_q"),
        )
    )
    return s.select(
        "doc_id",
        "n_tokens",
        "dsir_q",
        (F.col("dsir_q") >= _DSIR_FP * F.col("n_tokens")).alias(
            "oversample"
        ),
    )


# ---------------------------------------------------------------------------
# Multimodal sequence packing — MMC4/LLaVA-style interleaved windows
# ---------------------------------------------------------------------------

# Images on a closed-form schedule (doc_id % 3: 1 -> one image,
# 2 -> two images, else text-only), each costing the ViT patch budget
# a vision-language trainer reserves per image (24x24 = 576 tokens,
# the LLaVA-1.5 number). Context windows are 4096 tokens — a real VLM
# capacity, and large enough that every doc fits.
_MM_PACK_IMAGE_TOKENS = 576


_MM_PACK_CAPACITY = 4096


def _mm_pack_oracle() -> str:

    return f"""
WITH m AS (
    SELECT doc_id,
           CAST(len(str_split(lower(COALESCE(text, '')), ' '))
                AS BIGINT) AS n_text_tokens,
           CAST(CASE CAST(doc_id % 3 AS INT)
                WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 0 END
                AS BIGINT) AS n_images,
           {bucket_sql('doc_id', PACK_SHARDS)} AS shard
    FROM documents
),
toks AS (
    SELECT doc_id, n_text_tokens, n_images, shard,
           n_text_tokens + {_MM_PACK_IMAGE_TOKENS} * n_images
               AS n_mm_tokens
    FROM m
),
runs AS (
    SELECT doc_id, n_text_tokens, n_images, n_mm_tokens, shard,
           COALESCE(SUM(n_mm_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS cum_before
    FROM toks
)
SELECT doc_id, n_text_tokens, n_images,
       CAST(n_mm_tokens AS BIGINT) AS n_mm_tokens, shard,
       CAST((shard << 40) + (cum_before // {_MM_PACK_CAPACITY})
            AS BIGINT) AS bin_id,
       CAST(cum_before % {_MM_PACK_CAPACITY} AS BIGINT) AS bin_pos
FROM runs
"""


@register(
    "pack_multimodal",
    _mm_pack_oracle(),
    doc="Multimodal sequence packing — the MMC4/LLaVA interleaved-"
    "window builder: a document's window cost is its text tokens "
    "plus 576 per image (the ViT patch budget a VLM trainer "
    "reserves), and documents pack into 4096-token context windows "
    "with the same sharded contiguous-fill machinery as "
    "pack_sequences (operators/datapipe.py::pack_contiguous — hash "
    "shard, per-shard running sum, (shard << 40) | local_bin ids; "
    "no global sort, shards scale with the cluster). Image counts "
    "are a closed-form doc_id schedule, so the oracle states the "
    "whole layout exactly. The cost column is the only multimodal "
    "delta — packing at 100 TB is identical to the text path.",
)
def pack_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:

    n_images = (
        F.when(F.col("doc_id") % 3 == 1, 1)
        .when(F.col("doc_id") % 3 == 2, 2)
        .otherwise(0)
        .cast("bigint")
    )
    n_text = F.size(
        F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
    ).cast("bigint")
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        n_text.alias("n_text_tokens"),
        n_images.alias("n_images"),
    ).withColumn(
        "n_mm_tokens",
        (
            F.col("n_text_tokens")
            + _MM_PACK_IMAGE_TOKENS * F.col("n_images")
        ).cast("bigint"),
    )
    return pack_contiguous(
        docs, token_col="n_mm_tokens", capacity=_MM_PACK_CAPACITY
    ).select(
        "doc_id", "n_text_tokens", "n_images", "n_mm_tokens",
        "shard", "bin_id", "bin_pos",
    )


# ---------------------------------------------------------------------------
# split_kfold_hash — deterministic k-fold cross-validation assignment
# ---------------------------------------------------------------------------

_K_FOLDS = 5


def _kfold_bucket_sql() -> str:
    h = content_hash64_sql("'kfold:' || CAST(doc_id AS VARCHAR)")
    return f"({h} % {_K_FOLDS})"


_KFOLD_ORACLE = f"""
SELECT {_kfold_bucket_sql()} AS fold,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY 1
"""


@register(
    "split_kfold_hash",
    _KFOLD_ORACLE,
    doc="Deterministic k-fold cross-validation assignment (k=5) by md5 "
    "hash bucket of the salted document id — the CV counterpart of "
    "split_train_hash's fixed 90/5/5 split. Every document lands in "
    "exactly one fold by construction (a single modulo — no sampling, "
    "no state), so fold membership is reproducible across runs, "
    "engines, and re-ingestions, and fold i's train set is simply "
    "'fold != i' computed on the fly. The salt ('kfold:') makes the "
    "fold assignment independent of split_train_hash's buckets, so "
    "CV folds don't correlate with the train/val/test split. Output "
    "is the per-fold count/id/char checksums; zero shuffle beyond one "
    "5-group hash aggregate.",
)
def split_kfold_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    fold = content_hash64(
        F.concat(F.lit("kfold:"), F.col("doc_id").cast("string"))
    ) % _K_FOLDS
    return (
        docs.select(fold.alias("fold"), "doc_id", "n_chars")
        .groupBy("fold")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


# ---------------------------------------------------------------------------
# corpus_epoch_schedule — data-budget planner with repeat factors
# ---------------------------------------------------------------------------

# Pinned training-token budget and the max number of passes (epochs)
# any single source may be repeated for — the data-constrained-scaling
# knob (repeating a small source more than ~4 epochs stops helping).
_EPOCH_BUDGET = 200_000


_EPOCH_MAX_REPEAT = 4


_EPOCH_FP = 1_000_000


_EPOCH_SCHED_ORACLE = f"""
WITH toks AS (
    SELECT source,
           CAST(SUM(len(str_split(COALESCE(text, ''), ' '))) AS BIGINT)
               AS tokens_available
    FROM documents GROUP BY source
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sources FROM toks),
plan AS (
    SELECT t.source, t.tokens_available,
           CAST({_EPOCH_BUDGET} // n.n_sources AS BIGINT) AS alloc_target
    FROM toks t CROSS JOIN n
)
SELECT source, tokens_available, alloc_target,
       CAST(least(alloc_target,
                  {_EPOCH_MAX_REPEAT} * tokens_available) AS BIGINT)
           AS tokens_granted,
       CAST(greatest(alloc_target
                     - {_EPOCH_MAX_REPEAT} * tokens_available, 0)
            AS BIGINT) AS shortfall,
       CAST(CASE WHEN tokens_available = 0 THEN 0
            ELSE (least(alloc_target,
                        {_EPOCH_MAX_REPEAT} * tokens_available)
                  * {_EPOCH_FP}) // tokens_available END AS BIGINT)
           AS repeat_fp
FROM plan
"""


@register(
    "corpus_epoch_schedule",
    _EPOCH_SCHED_ORACLE,
    doc="Training-data budget planner: given a pinned token budget "
    "split uniformly across sources, how many passes (epochs) over "
    "each source does its allocation imply, capped at the data-"
    "constrained-scaling limit of 4 repeats (Muennighoff et al. 2023: "
    "returns from re-reading data decay past ~4 epochs) — the "
    "planning table a run reads BEFORE corpus_mix_sample does the "
    "actual md5-bucket sampling. Emits per source: available tokens, "
    "uniform target, granted tokens (capped), the unfillable "
    "shortfall, and the repeat factor at 1e6 fixed point — all "
    "integer arithmetic (floor divisions both engines). Plan: one "
    "token-count aggregate + a 1-row source-count broadcast; the "
    "whole planner is O(sources).",
)
def corpus_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(
                F.size(
                    F.split(F.coalesce(F.col("text"), F.lit("")), " ")
                )
            )
            .cast("bigint")
            .alias("tokens_available")
        )
    )
    n = toks.agg(F.count("*").cast("bigint").alias("n_sources"))
    plan = toks.crossJoin(F.broadcast(n)).select(
        "source",
        "tokens_available",
        F.expr(f"{_EPOCH_BUDGET} DIV n_sources")
        .cast("bigint")
        .alias("alloc_target"),
    )
    granted = F.least(
        F.col("alloc_target"),
        F.lit(_EPOCH_MAX_REPEAT) * F.col("tokens_available"),
    )
    shortfall = F.greatest(
        F.col("alloc_target")
        - F.lit(_EPOCH_MAX_REPEAT) * F.col("tokens_available"),
        F.lit(0),
    )
    repeat = F.when(F.col("tokens_available") == 0, F.lit(0)).otherwise(
        F.expr(
            f"(least(alloc_target, {_EPOCH_MAX_REPEAT} * tokens_available)"
            f" * {_EPOCH_FP}) DIV tokens_available"
        )
    )
    return plan.select(
        "source",
        "tokens_available",
        "alloc_target",
        granted.cast("bigint").alias("tokens_granted"),
        shortfall.cast("bigint").alias("shortfall"),
        repeat.cast("bigint").alias("repeat_fp"),
    )


# ---------------------------------------------------------------------------
# corpus_doremi_weights — DoReMi-style domain reweighting (Xie et al.)
# ---------------------------------------------------------------------------

_DRM_T = 10  # pinned iteration count (the pagerank discipline)


_DRM_FP = 10**9  # weight fixed-point scale (weights sum to ~1e9)


_DRM_EFP = 10**6  # excess-loss fixed-point scale


_DRM_SMOOTH_KEEP, _DRM_SMOOTH_DEN = 4, 5  # w <- (4*norm + uniform)/5


def _doremi_oracle() -> str:
    steps = []
    prev = "w0"
    for i in range(1, _DRM_T + 1):
        steps.append(
            f"""u{i} AS MATERIALIZED (
    SELECT domain, n_docs, excess_q, nk,
           (CAST(w AS HUGEINT) * ({_DRM_EFP} + excess_q)) // {_DRM_EFP}
               AS wu
    FROM {prev}
),
s{i} AS (SELECT CAST(SUM(wu) AS HUGEINT) AS tot FROM u{i}),
w{i} AS (
    SELECT domain, n_docs, excess_q, nk,
           CAST(({_DRM_SMOOTH_KEEP} * ((CAST(wu AS HUGEINT) * {_DRM_FP})
                // tot) + ({_DRM_FP} // nk)) // {_DRM_SMOOTH_DEN}
               AS BIGINT) AS w
    FROM u{i}, s{i}
)"""
        )
        prev = f"w{i}"
    chain = ",\n".join(steps)
    return f"""
WITH st AS MATERIALIZED (
    SELECT source AS domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(COALESCE(text, ''))) AS BIGINT) AS sc,
           CAST(SUM(len(str_split(lower(COALESCE(text, '')), ' ')))
               AS BIGINT) AS stk
    FROM documents GROUP BY 1
),
gl AS (SELECT CAST(SUM(sc) AS BIGINT) AS tc,
              CAST(SUM(stk) AS BIGINT) AS tt FROM st),
k0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS nk FROM st),
base AS (
    SELECT domain, n_docs, nk,
           GREATEST(
               CAST((CAST({_DRM_EFP} AS HUGEINT) * sc) // stk AS BIGINT)
               - CAST((CAST({_DRM_EFP} AS HUGEINT) * tc) // tt AS BIGINT),
               0) AS excess_q
    FROM st, gl, k0
),
w0 AS (SELECT domain, n_docs, excess_q, nk,
              CAST({_DRM_FP} // nk AS BIGINT) AS w FROM base),
{chain}
SELECT domain, n_docs, excess_q, CAST(w AS BIGINT) AS weight_fp
FROM {prev}
"""


@register(
    "corpus_doremi_weights",
    _doremi_oracle(),
    doc="DoReMi-style domain reweighting (Xie et al. 2023, 'DoReMi: "
    "Optimizing Data Mixtures Speeds Up Language Model Pretraining'): "
    "Group-DRO multiplicative-weights over domains (= source), 10 "
    "pinned iterations — w <- w·(1 + eta·excess), normalize, then "
    "smooth against uniform (the paper's (1-c)·alpha + c·u step, "
    "c=1/5), which couples the domains through normalization so the "
    "trajectory has no closed form and the iteration is real. The "
    "per-domain excess loss is a deterministic proxy (domain mean "
    "token length above the corpus mean, fixed-point) standing in "
    "for the proxy-vs-reference model loss gap the paper trains — "
    "deployments swap in their measured loss columns; the update "
    "machinery is what the engine owns. EVERY step is exact integer "
    "arithmetic (HUGEINT/DECIMAL(38,0) widening before each "
    "floor-division, the corpus_dsir_weights discipline), so 10 "
    "chained nonlinear steps stay bit-identical on both engines. "
    "Scale: one corpus scan builds K domain rows; the iteration "
    "runs agg+broadcast-join over the K-row frame, eagerly "
    "localCheckpointed per step (constant lineage depth, the "
    "graph_pagerank discipline, operators/dedup.py:424).",
)
def corpus_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    text = F.coalesce(F.col("text"), F.lit(""))
    toks = F.split(F.lower(text), " ")
    # one corpus scan → K domain rows, materialized once; gl/k0/base
    # all derive from the checkpoint (without it the scan runs 3×),
    # and the K-row frame collapses to one partition so the 10
    # iteration steps don't each shuffle K rows across 200 reducers
    st = (
        t(spark, sf_dir, "documents")
        .groupBy(F.col("source").alias("domain"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length(text)).cast("bigint").alias("sc"),
            F.sum(F.size(toks)).cast("bigint").alias("stk"),
        )
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    gl = st.agg(
        F.sum("sc").cast("bigint").alias("tc"),
        F.sum("stk").cast("bigint").alias("tt"),
    )
    k0 = st.agg(F.count("*").cast("bigint").alias("nk"))
    base = (
        st.crossJoin(F.broadcast(gl))
        .crossJoin(F.broadcast(k0))
        .select(
            "domain",
            "n_docs",
            "nk",
            F.greatest(
                F.expr(
                    f"CAST(CAST({_DRM_EFP} AS DECIMAL(38,0)) * sc "
                    f"DIV stk AS BIGINT)"
                )
                - F.expr(
                    f"CAST(CAST({_DRM_EFP} AS DECIMAL(38,0)) * tc "
                    f"DIV tt AS BIGINT)"
                ),
                F.lit(0).cast("bigint"),
            ).alias("excess_q"),
        )
    )
    w = base.select(
        "domain",
        "n_docs",
        "excess_q",
        "nk",
        F.expr(f"CAST({_DRM_FP} DIV nk AS BIGINT)").alias("w"),
    ).localCheckpoint(eager=True)
    for _ in range(_DRM_T):
        wu = w.select(
            "domain",
            "n_docs",
            "excess_q",
            "nk",
            F.expr(
                f"CAST(CAST(w AS DECIMAL(38,0)) * ({_DRM_EFP} + excess_q) "
                f"DIV {_DRM_EFP} AS BIGINT)"
            ).alias("wu"),
        )
        tot = wu.agg(F.sum("wu").cast("decimal(38,0)").alias("tot"))
        w = (
            wu.crossJoin(F.broadcast(tot))
            .select(
                "domain",
                "n_docs",
                "excess_q",
                "nk",
                F.expr(
                    f"CAST(({_DRM_SMOOTH_KEEP} * (CAST(wu AS "
                    f"DECIMAL(38,0)) * {_DRM_FP} DIV tot) "
                    f"+ ({_DRM_FP} DIV nk)) DIV {_DRM_SMOOTH_DEN} "
                    f"AS BIGINT)"
                ).alias("w"),
            )
            .localCheckpoint(eager=True)
        )
    return w.select(
        "domain", "n_docs", "excess_q", F.col("w").alias("weight_fp")
    )


# ---------------------------------------------------------------------------
# corpus_dup_rate_by_source — per-source curation yield from the
# near-dup clustering
# ---------------------------------------------------------------------------


def _dup_rate_oracle() -> str:
    from evolution_data_warehouse_spark.queries.common import CLUSTERS_ORACLE

    return f"""
WITH clusters AS ({CLUSTERS_ORACLE}),
sizes AS (
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
    FROM clusters GROUP BY 1
),
j AS (
    SELECT d.source,
           CASE WHEN s.sz > 1 THEN 1 ELSE 0 END AS in_dup,
           CASE WHEN s.sz > 1 AND c.doc_id <> c.cluster_id THEN 1 ELSE 0
           END AS removable
    FROM documents d
    JOIN clusters c ON c.doc_id = d.doc_id
    JOIN sizes s ON s.cluster_id = c.cluster_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(in_dup) AS BIGINT) AS n_in_dup_clusters,
       CAST(SUM(removable) AS BIGINT) AS n_removable,
       CAST(SUM(removable) * 1000000 // COUNT(*) AS BIGINT)
           AS dup_rate_ppm
FROM j GROUP BY source
"""


@register(
    "corpus_dup_rate_by_source",
    _dup_rate_oracle(),
    doc="Per-source near-duplicate yield report: join the MinHash-LSH "
    "connected-component clustering (dedup_clusters, composed as the "
    "same oracle subquery / engine callable) back to each document's "
    "source and report, per source, how many documents sit in "
    "multi-member clusters and how many a keep-canonical pass would "
    "REMOVE (cluster members that are not the min-label canonical) — "
    "the curation dashboard number that decides which crawl/source "
    "needs upstream dedup before it wastes 100 TB-scale tokens "
    "(per-source dup rate is the standard corpus-quality metric, cf. "
    "the C4/Gopher per-source filters). Cluster sizes come from one "
    "hash aggregate over the assignment; the source join is a slim "
    "(doc_id, source) projection; the rate is integer ppm.",
)
def corpus_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.queries.dedup import dedup_clusters

    cc = dedup_clusters(spark, sf_dir)
    sizes = cc.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("sz")
    )
    src = t(spark, sf_dir, "documents").select("doc_id", "source")
    j = (
        src.join(cc, "doc_id")
        .join(sizes, "cluster_id")
        .select(
            "source",
            F.when(F.col("sz") > 1, 1).otherwise(0).alias("in_dup"),
            F.when(
                (F.col("sz") > 1) & (F.col("doc_id") != F.col("cluster_id")),
                1,
            )
            .otherwise(0)
            .alias("removable"),
        )
    )
    return j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("in_dup").cast("bigint").alias("n_in_dup_clusters"),
        F.sum("removable").cast("bigint").alias("n_removable"),
        F.expr("sum(removable) * 1000000 DIV count(*)")
        .cast("bigint")
        .alias("dup_rate_ppm"),
    )


# ---------------------------------------------------------------------------
# corpus_token_budget_plan — weights -> an executable sampling plan
# ---------------------------------------------------------------------------

_BUDGET_TOKENS = 1_000_000  # pinned training-run token budget


_BUDGET_FP = 1_000_000


def _budget_plan_oracle() -> str:

    return f"""
WITH w AS ({_doremi_oracle()}),
tok AS (
    SELECT source AS domain,
           CAST(SUM(len(str_split(lower(COALESCE(text, '')), ' ')))
               AS BIGINT) AS available_tokens
    FROM documents GROUP BY 1
),
s AS (SELECT CAST(SUM(weight_fp) AS BIGINT) AS tw FROM w),
plan AS (
    SELECT w.domain, w.n_docs, tok.available_tokens, w.weight_fp,
           CAST({_BUDGET_TOKENS} * w.weight_fp // s.tw AS BIGINT)
               AS target_tokens
    FROM w JOIN tok ON tok.domain = w.domain, s
)
SELECT domain, n_docs, available_tokens, weight_fp, target_tokens,
       CAST(target_tokens * {_BUDGET_FP} // available_tokens AS BIGINT)
           AS epochs_fp
FROM plan
"""


@register(
    "corpus_token_budget_plan",
    _budget_plan_oracle(),
    doc="Token-budget sampling plan: turn the DoReMi domain weights "
    "(corpus_doremi_weights, composed from its single source of "
    "truth) into the executable numbers a data loader needs for a "
    "pinned 1M-token training run — per domain, the target token "
    "count (budget x normalized weight, integer floor-division) and "
    "the implied epoch count over what the domain actually has "
    "(epochs_fp > 1e6 means the domain REPEATS — the upsampling "
    "decision Hoffmann/Muennighoff-style repetition analyses price; "
    "< 1e6 means subsampling). The bridge between the mixing family's "
    "weight estimators and corpus_mix_sample's executable Bernoulli "
    "gate. All-integer arithmetic end to end; one aggregate over "
    "documents plus the (domain-count)-sized weight table.",
)
def corpus_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:

    w = corpus_doremi_weights(spark, sf_dir).select(
        "domain", "n_docs", "weight_fp"
    )
    tok = (
        t(spark, sf_dir, "documents")
        .groupBy(F.col("source").alias("domain"))
        .agg(
            F.sum(
                F.size(
                    F.split(
                        F.lower(F.coalesce(F.col("text"), F.lit(""))), " "
                    )
                )
            )
            .cast("bigint")
            .alias("available_tokens")
        )
    )
    tw = w.agg(F.sum("weight_fp").cast("bigint").alias("tw"))
    return (
        w.join(tok, "domain")
        .crossJoin(F.broadcast(tw))
        .select(
            "domain",
            "n_docs",
            "available_tokens",
            "weight_fp",
            F.expr(f"{_BUDGET_TOKENS} * weight_fp DIV tw")
            .cast("bigint")
            .alias("target_tokens"),
        )
        .select(
            "domain",
            "n_docs",
            "available_tokens",
            "weight_fp",
            "target_tokens",
            F.expr(
                f"target_tokens * {_BUDGET_FP} DIV available_tokens"
            )
            .cast("bigint")
            .alias("epochs_fp"),
        )
    )


# ---------------------------------------------------------------------------
# corpus_quality_mix_report — the curation dashboard rollup
# ---------------------------------------------------------------------------

# Integer-fence quality gate (no float ever compares): a doc passes
# when it has >= 30 whitespace tokens AND its mean token length lies
# in [3, 12] chars, cross-multiplied to 3*nt <= nc-(nt-1) <= 12*nt.
_MIX_MIN_TOKENS = 30


_MIX_LEN_LO, _MIX_LEN_HI = 3, 12


_MIX_ORACLE = f"""
WITH q AS (
    SELECT source, lang,
           CAST(length(text) AS BIGINT) AS nc,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS nt
    FROM documents
),
g AS (
    SELECT source, lang,
           (nt >= {_MIX_MIN_TOKENS}
            AND {_MIX_LEN_LO} * nt <= nc - (nt - 1)
            AND nc - (nt - 1) <= {_MIX_LEN_HI} * nt) AS quality_pass,
           nt
    FROM q
),
agg AS (
    SELECT source, lang, quality_pass,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens
    FROM g GROUP BY 1, 2, 3
)
SELECT source, lang, quality_pass, n_docs, n_tokens,
       CAST(n_tokens * 1000000 // SUM(n_tokens) OVER () AS BIGINT)
           AS token_share_ppm
FROM agg
"""


@register(
    "corpus_quality_mix_report",
    _MIX_ORACLE,
    doc="The curation dashboard rollup: joint (source x language x "
    "quality-gate) composition of the corpus in documents AND tokens, "
    "with each cell's share of total tokens (integer ppm) — the table "
    "a pretraining-data owner actually reads before setting mixture "
    "weights (which sources are mostly low-quality? which languages "
    "carry the token mass? what does the gate cost per source?). The "
    "gate is an INTEGER fence (>= 30 tokens, mean token length in "
    "[3,12] cross-multiplied — no float fence can flip between "
    "engines); one scan + one hash aggregate at cell cardinality; the "
    "corpus total folds in as an unpartitioned window over the "
    "(bounded) aggregate, so the plan has no broadcast at all.",
)
def corpus_quality_mix_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    q = t(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.length("text").cast("bigint").alias("nc"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("nt"),
    )
    avg_num = F.col("nc") - (F.col("nt") - 1)
    g = q.select(
        "source",
        "lang",
        (
            (F.col("nt") >= _MIX_MIN_TOKENS)
            & (F.lit(_MIX_LEN_LO) * F.col("nt") <= avg_num)
            & (avg_num <= F.lit(_MIX_LEN_HI) * F.col("nt"))
        ).alias("quality_pass"),
        "nt",
    )
    agg = g.groupBy("source", "lang", "quality_pass").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("n_tokens"),
    )
    return agg.select(
        "source",
        "lang",
        "quality_pass",
        "n_docs",
        "n_tokens",
        F.expr("n_tokens * 1000000")
        .cast("bigint")
        .alias("_scaled"),
        F.sum("n_tokens").over(W.partitionBy()).alias("_total"),
    ).select(
        "source",
        "lang",
        "quality_pass",
        "n_docs",
        "n_tokens",
        F.expr("_scaled DIV _total").cast("bigint").alias(
            "token_share_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# corpus_cross_source_overlap — the source x source contamination matrix
# ---------------------------------------------------------------------------

_XSO_FP = 1_000_000


def _cross_source_oracle() -> str:
    from evolution_data_warehouse_spark.queries.common import SHINGLES_SQL

    return f"""
WITH sh0 AS ({SHINGLES_SQL}),
ss AS (
    SELECT DISTINCT d.source,
           {content_hash64_sql('sh0.shingle')} AS shingle_h
    FROM sh0 JOIN documents d ON d.doc_id = sh0.doc_id
),
tot AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh FROM ss GROUP BY 1
),
inter AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_common
    FROM ss a JOIN ss b
      ON a.shingle_h = b.shingle_h AND a.source < b.source
    GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, i.n_common,
       ta.n_sh AS n_sh_a, tb.n_sh AS n_sh_b,
       CAST(i.n_common * {_XSO_FP} // ta.n_sh AS BIGINT)
           AS containment_a_ppm,
       CAST(i.n_common * {_XSO_FP} // tb.n_sh AS BIGINT)
           AS containment_b_ppm
FROM inter i
JOIN tot ta ON ta.source = i.source_a
JOIN tot tb ON tb.source = i.source_b
"""


@register(
    "corpus_cross_source_overlap",
    _cross_source_oracle(),
    doc="Cross-source contamination matrix: for every source pair, the "
    "count of shared distinct 3-gram shingles and each side's "
    "CONTAINMENT (shared / own shingles, integer ppm) — the "
    "dump-level provenance table that tells a corpus owner which "
    "crawls re-collect the same web (dedup_crawl_snapshots answers "
    "it per URL, dedup_substring_cross per document pair; this is "
    "the planning-grain rollup that decides which SOURCE to drop or "
    "decontaminate first). The self-join key is the (shingle, "
    "source)-DISTINCT relation, so fan-out per shingle is bounded by "
    "the SOURCE COUNT (~5), not document frequency — no df cap "
    "needed, structurally never quadratic in corpus size; shingle "
    "hashing and construction reuse the registered single sources of "
    "truth. Output is source-pair-cardinality.",
)
def corpus_cross_source_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:

    src = t(spark, sf_dir, "documents").select("doc_id", "source")
    ss = (
        doc_shingles(spark, sf_dir)
        .join(src, "doc_id")
        .select(
            "source", content_hash64(F.col("shingle")).alias("shingle_h")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    tot = ss.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_sh")
    )
    a = ss.select(F.col("source").alias("source_a"), "shingle_h")
    b = ss.select(F.col("source").alias("source_b"), "shingle_h")
    inter = (
        a.join(b, "shingle_h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    ta = tot.select(
        F.col("source").alias("source_a"), F.col("n_sh").alias("n_sh_a")
    )
    tb = tot.select(
        F.col("source").alias("source_b"), F.col("n_sh").alias("n_sh_b")
    )
    return (
        inter.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_sh_a",
            "n_sh_b",
            F.expr(f"n_common * {_XSO_FP} DIV n_sh_a")
            .cast("bigint")
            .alias("containment_a_ppm"),
            F.expr(f"n_common * {_XSO_FP} DIV n_sh_b")
            .cast("bigint")
            .alias("containment_b_ppm"),
        )
    )
