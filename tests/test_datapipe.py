"""Semantic properties of the training-data pipeline operators
(operators/datapipe.py) — beyond the DuckDB oracle parity that
test_oracle_parity already enforces per query."""

from __future__ import annotations

from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.datapipe import (
    PACK_CAPACITY,
    hash_split,
    pack_contiguous,
    stratified_hash_sample,
    incremental_new,
)
from evolution_data_warehouse_spark.queries.common import t


def test_hash_split_partition_and_stability(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    out = hash_split(docs)
    n = docs.count()
    # Total preserved; every row lands in exactly one named split.
    by_split = {r.split: r.n for r in out.groupBy("split").count().withColumnRenamed("count", "n").collect()}
    assert sum(by_split.values()) == n
    assert set(by_split) <= {"train", "val", "test"}
    # 90/5/5 within a generous tolerance at 500 docs.
    assert by_split["train"] / n > 0.75
    # Deterministic: identical assignment across independent runs.
    again = {r.doc_id: r.split for r in hash_split(docs).select("doc_id", "split").collect()}
    first = {r.doc_id: r.split for r in out.select("doc_id", "split").collect()}
    assert first == again


def test_pack_contiguous_fill_property(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    out = pack_contiguous(docs)
    # Every row assigned to a bin; bins are per-shard (id prefix).
    assert out.filter(F.col("bin_id").isNull()).count() == 0
    assert (
        out.filter(
            F.shiftright(F.col("bin_id"), 40) != F.col("shard")
        ).count()
        == 0
    )
    # Contiguous-fill invariant: a document whose bin_pos is not 0
    # starts strictly inside the capacity window.
    assert out.filter(F.col("bin_pos") >= PACK_CAPACITY).count() == 0
    # A bin's documents occupy consecutive positions: within (shard,
    # bin), positions strictly increase with doc order — pairwise
    # distinct is the cheap check.
    dup_pos = (
        out.groupBy("bin_id", "bin_pos").count().filter(F.col("count") > 1).count()
    )
    assert dup_pos == 0


def test_stratified_sample_exact_k(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    k = 3
    out = stratified_hash_sample(docs, "source", k=k)
    sizes = {r.source: r.n for r in docs.groupBy("source").count().withColumnRenamed("count", "n").collect()}
    got = {r.source: r.n for r in out.groupBy("source").count().withColumnRenamed("count", "n").collect()}
    assert got == {s: min(k, n) for s, n in sizes.items()}
    # rn is 1..k within each stratum.
    assert out.filter((F.col("rn") < 1) | (F.col("rn") > k)).count() == 0


def test_incremental_new_disjoint_from_corpus(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("source") == "src1")
    corpus = docs.filter(F.col("source") != "src1")
    out = incremental_new(batch, corpus)
    # Nothing returned may share a content hash with the corpus…
    overlap = out.join(
        corpus.select(F.md5("text").alias("content_hash")).distinct(),
        "content_hash",
    ).count()
    assert overlap == 0
    # …and everything batch-only must be returned.
    batch_only = (
        batch.select(F.md5("text").alias("content_hash"))
        .distinct()
        .join(
            corpus.select(F.md5("text").alias("content_hash")).distinct(),
            "content_hash",
            "left_anti",
        )
        .count()
    )
    assert out.select("content_hash").distinct().count() == batch_only


def test_hash_split_rejects_uncovering_cuts(spark):
    import pytest

    from evolution_data_warehouse_spark.operators.datapipe import hash_split

    df = spark.createDataFrame([(1,), (2,)], "doc_id long")
    # final bound short of the bucket space → rows past it would get a
    # NULL split; must fail loudly instead
    with pytest.raises(ValueError, match="bucket space"):
        hash_split(df, cuts=((80, "train"), (95, "val")))
    # non-increasing bounds
    with pytest.raises(ValueError, match="increase"):
        hash_split(df, cuts=((95, "train"), (90, "val"), (100, "test")))
    # a full covering split works and assigns every row
    out = hash_split(df, cuts=((50, "a"), (100, "b"))).collect()
    assert all(r.split in ("a", "b") for r in out)


def test_pack_bin_ids_unique_across_shards(spark):
    # The shard<<40 namespace: local bins from different shards can
    # never collide even at bin counts far beyond the testdata's.
    from evolution_data_warehouse_spark.operators.datapipe import (
        pack_contiguous,
    )

    rows = [(i, 30) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    out = pack_contiguous(df).select("shard", "bin_id").distinct().collect()
    by_bin = {}
    for r in out:
        assert r.bin_id >> 40 == r.shard  # namespace carries the shard
        by_bin.setdefault(r.bin_id, set()).add(r.shard)
    assert all(len(s) == 1 for s in by_bin.values())


def test_gen_sf1_replication_integrity(spark, tmp_path):
    # The sf1 generator must produce copies x rows with disjoint key
    # spaces, fixed dims, and per-copy distinct document text (so
    # near-dup density is preserved, not inflated 10x).
    from tools.gen_sf1 import OFFSET, generate

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path / "sf_scaled")
    generate(spark, src_dir=src, dst_dir=dst, copies=3)

    orders_src = spark.read.parquet(f"{src}/orders.parquet")
    orders = spark.read.parquet(f"{dst}/orders.parquet")
    assert orders.count() == 3 * orders_src.count()
    assert orders.select("o_orderkey").distinct().count() == orders.count()

    # copy i's keys live in [i*OFFSET, (i+1)*OFFSET)
    from pyspark.sql import functions as F

    per_copy = (
        orders.groupBy((F.col("o_orderkey") / OFFSET).cast("int").alias("c"))
        .count()
        .collect()
    )
    assert {r.c for r in per_copy} == {0, 1, 2}
    assert len({r["count"] for r in per_copy}) == 1

    # dims don't scale
    nation_src = spark.read.parquet(f"{src}/nation.parquet").count()
    assert spark.read.parquet(f"{dst}/nation.parquet").count() == nation_src

    # document text unique per copy: total distinct texts scale with
    # copies (up to source-internal exact dups, which stay within-copy)
    docs_src = spark.read.parquet(f"{src}/documents.parquet")
    docs = spark.read.parquet(f"{dst}/documents.parquet")
    d_src = docs_src.select("text").distinct().count()
    assert docs.select("text").distinct().count() == 3 * d_src
    # n_chars stays consistent with the rewritten text
    bad = docs.filter(F.length("text") != F.col("n_chars")).count()
    assert bad == 0


def test_corpus_prep_end_to_end(spark, sf_dir):
    # The operators are built to COMPOSE into the standard corpus-prep
    # flow: exact dedup -> near-dup cluster + keep-canonical ->
    # decontaminate vs the benchmark slice -> deterministic split ->
    # pack. One pass over sf0.001 asserting the end-state properties a
    # training pipeline depends on.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.operators.datapipe import (
        decontaminate,
        hash_split,
        pack_contiguous,
    )
    from evolution_data_warehouse_spark.queries.common import doc_shingles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # 1. exact dedup: one row per content hash
    deduped = (
        docs.withColumn("content_hash", F.md5("text"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("content_hash").orderBy("doc_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    assert (
        deduped.groupBy("content_hash").count().filter("count > 1").count() == 0
    )

    # 2. decontaminate against the src0 slice (stand-in eval set)
    sh = doc_shingles(spark, sf_dir, "source")
    bench = sh.filter(F.col("source") == "src0").select("shingle")
    cand = (
        sh.join(deduped.select("doc_id"), "doc_id")
        .filter(F.col("source") != "src0")
        .select("doc_id", "shingle")
    )
    decisions = decontaminate(cand, bench)
    kept_ids = decisions.filter(F.col("decision") != "drop").select("doc_id")
    clean = deduped.join(kept_ids, "doc_id", "left_semi").filter(
        F.col("source") != "src0"
    )
    # dropped docs are gone; and nothing kept exceeds the drop threshold
    over = decisions.filter(
        (F.col("decision") != "drop") & (F.col("overlap_frac") >= 0.5)
    )
    assert over.count() == 0

    # 3. split: every clean doc in exactly one named split
    split = hash_split(clean)
    assert split.filter(F.col("split").isNull()).count() == 0
    assert split.count() == clean.count()

    # 4. pack: bins well-formed (bin_pos < capacity, shard consistent)
    packed = pack_contiguous(
        split.select(
            "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
        )
    )
    assert packed.filter(F.col("bin_pos") >= 64).count() == 0
    assert (
        packed.filter(
            F.shiftright(F.col("bin_id"), 40) != F.col("shard")
        ).count()
        == 0
    )
    assert packed.count() == clean.count()
