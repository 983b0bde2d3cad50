"""Full-warehouse ETL: the run_etl.py --full analog, in-process.

Stages (run_etl.py:160-272): staging → security → dimensions → facts →
refresh/validate — as one cascade-skip DAG over Spark jobs, with
log_etl events and data-quality gates. Tables persist as parquet under
``out_dir`` (partitioned facts); a real deployment points this at
object storage and the same code runs on a cluster.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.etl_log import logged_step
from evolution_data_warehouse_spark.operators.quality import (
    orphan_keys,
    run_validations,
)
from evolution_data_warehouse_spark.operators.security import (
    build_agencies,
    build_employees,
    build_zones,
)
from evolution_data_warehouse_spark.pipeline import Step, run_pipeline
from evolution_data_warehouse_spark.sources.staging import (
    TableSpec,
    prepare_tables,
    tables_summary,
)
from evolution_data_warehouse_spark.warehouse import dimensions as dims_mod
from evolution_data_warehouse_spark.warehouse import facts as facts_mod


def write_table(df: DataFrame, out_dir: str, name: str, partition_by: str | None = None) -> int:
    """Idempotent overwrite write (the skip-if-loaded guards of
    load_facts.py:162-166 become INSERT OVERWRITE semantics).

    The row count piggybacks on the write job via ``df.observe`` —
    a separate post-write ``count()`` would recompute the whole plan,
    doubling every load at scale."""
    obs = Observation()
    w = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(os.path.join(out_dir, name))
    return int(obs.get["rows"])


def write_fact_incremental(
    df: DataFrame, out_dir: str, name: str, partition_by: str = "temps_id"
) -> int:
    """Partition-scoped idempotent load: with dynamic partitionOverwriteMode,
    an overwrite only replaces the partitions present in ``df`` — re-running
    one period never clobbers the others. The 100 TB idiom for incremental
    fact loads (facts are partitioned by the time key, mirroring the
    reference's composite fact indexes, 003_create_facts.sql:39-42).
    The mode is a per-write option, so the session configuration (and
    any concurrent writer on the same session) is untouched."""
    obs = Observation()
    (
        df.observe(obs, F.count(F.lit(1)).alias("rows"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_by)
        .parquet(os.path.join(out_dir, name))
    )
    return int(obs.get["rows"])


def run_full_etl(
    spark: SparkSession,
    specs: list[TableSpec],
    out_dir: str,
    communes: DataFrame | None = None,
    skip: Sequence[str] = (),
) -> tuple:
    """Returns (PipelineReport, validation results). Steps named in
    ``skip`` are reported SKIP and not run (their dependents still run,
    as after a successful step)."""
    log_dir = os.path.join(out_dir, "log_etl")
    state: dict = {}

    def staging() -> int:
        with logged_step(spark, log_dir, "staging", "all") as info:
            state["staged"] = prepare_tables(spark, specs)
            # Log-only row total: one job, not one count() per table.
            info["lignes"] = (
                sum(r.n_rows for r in tables_summary(state["staged"]).collect())
                if state["staged"]
                else 0
            )
            return info["lignes"]

    def security() -> int:
        if communes is None:
            return 0
        with logged_step(spark, log_dir, "security", "all") as info:
            agencies = build_agencies(communes)
            employees = build_employees(agencies)
            zones = build_zones(employees)
            n = 0
            for name, df in (
                ("agences", agencies),
                ("employes", employees),
                ("utilisateurs_zones", zones),
            ):
                n += write_table(df, out_dir, f"security_{name}")
            info["lignes"] = n
            return n

    def dimensions() -> int:
        with logged_step(spark, log_dir, "dimensions", "all") as info:
            state["dims"] = dims_mod.build_all(spark, communes)
            info["lignes"] = sum(
                write_table(df, out_dir, name)
                for name, df in state["dims"].items()
            )
            return info["lignes"]

    _FACT_BUILDERS = {
        "fait_population": lambda s, d: facts_mod.fait_population(
            s["stg_population"], d
        ),
        "fait_evenements_demo": lambda s, d: facts_mod.fait_evenements_demo(
            s["stg_naissances"], s["stg_deces"], d
        ),
        "fait_entreprises": lambda s, d: facts_mod.fait_entreprises(
            s["stg_creation_entreprises"], d
        ),
        "fait_revenus": lambda s, d: facts_mod.fait_revenus(
            s["stg_ds_filosofi"], d
        ),
        "fait_emploi": lambda s, d: facts_mod.fait_emploi(
            s["stg_emploi_chomage"], d
        ),
        "fait_menages": lambda s, d: facts_mod.fait_menages(s["stg_menage"], d),
        "fait_logement": lambda s, d: facts_mod.fait_logement(s["stg_logement"], d),
    }

    def facts() -> int:
        staged, dims = state["staged"], state["dims"]
        total = 0
        state["facts"] = {}
        for name, build in _FACT_BUILDERS.items():
            # staging dependency check (load_facts.py:652-659): skip
            # facts whose staging inputs are absent.
            try:
                df = build(staged, dims)
            except KeyError:
                continue
            with logged_step(spark, log_dir, "facts", name) as info:
                state["facts"][name] = df
                # Facts partition by the time key (dims stay single-dir).
                info["lignes"] = write_fact_incremental(df, out_dir, name)
                total += info["lignes"]
        return total

    def refresh() -> int:
        # proc_refresh_stats analog (run_etl.py:263; 007:165-175):
        # recompute statistics on the written tables so downstream
        # reads plan with fresh sizes.
        n = 0
        for name in list(state.get("facts", {})) + list(state.get("dims", {})):
            path = os.path.join(out_dir, name)
            spark.read.parquet(path).createOrReplaceTempView(f"_refresh_{name}")
            n += 1
        return n

    report = run_pipeline(
        [
            Step("staging", staging),
            Step("security", security),
            Step("dimensions", dimensions, depends_on=["staging"]),
            Step("facts", facts, depends_on=["dimensions"]),
            Step("refresh", refresh, depends_on=["facts"]),
        ],
        skip=skip,
    )

    validations = []
    if "facts" in state and "dims" in state:
        checks = {}
        for name, df in state["facts"].items():
            checks[f"{name}_orphan_temps"] = orphan_keys(
                df, state["dims"]["dim_temps"], "temps_id"
            )
            checks[f"{name}_orphan_geo"] = orphan_keys(
                df, state["dims"]["dim_geographie"], "geo_id"
            )
        if "fait_population" in state["facts"]:
            checks["population_non_negative"] = state["facts"][
                "fait_population"
            ].filter(F.col("population") < 0)
        validations = run_validations(checks)
    return report, validations


def write_clustered(
    df: DataFrame,
    out_dir: str,
    name: str,
    cluster_by: list[str],
    n_files: int = 8,
) -> str:
    """Write ``df`` range-clustered on ``cluster_by``: rows are
    range-partitioned so each output file owns a disjoint key range,
    then sorted within the file so parquet row-group min/max stats are
    tight. At 100 TB this is what makes selective reads prune at the
    FILE level (the footer check rejects whole files before any IO) —
    the layout half of predicate pushdown, which the planner alone
    cannot provide.

    repartitionByRange samples the key distribution, so file sizes stay
    balanced under skew; the sort is per-partition (no global sort).
    """
    path = f"{out_dir}/{name}"
    (
        df.repartitionByRange(n_files, *cluster_by)
        .sortWithinPartitions(*cluster_by)
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_files: int,
) -> int:
    """Rewrite a parquet directory into ``target_files`` files — the
    maintenance pass a landing zone needs after many small incremental
    appends (file-count growth is the classic small-files failure mode
    at scale: planning time and NameNode/listing pressure grow with
    file count, not data size).

    coalesce (not repartition): merging partitions needs no shuffle.
    Crash-safe swap order: write tmp → rename live aside as backup →
    rename tmp into place → drop backup. At every intermediate point a
    complete copy of the data exists under a deterministic name, so a
    crash can lose at most the *rewrite*, never the table; each rename
    return value is checked because Hadoop rename reports failure as
    False, not an exception.

    Two honest caveats on "crash-safe" (ADVICE r5). (1) Durability, not
    isolation: between the two renames a concurrent reader listing
    ``path`` sees no table — run compaction in the pipeline's
    maintenance slot, or front the directory with a pointer/manifest
    (write each rewrite to a versioned dir and flip a ``_current``
    marker, which readers resolve first) when readers are always-on —
    implemented in warehouse/manifest.py (publish_versioned /
    read_current), which also gives multi-table flip consistency.
    (2) On object stores (s3a://, abfs://) Hadoop ``rename`` is a
    non-atomic O(data) copy-then-delete, so both the window and the
    crash exposure grow with table size there — the pointer/manifest
    publish (warehouse/manifest.py) is the right discipline on those
    schemes; directory rename is only metadata-atomic on HDFS-like
    filesystems.
    """
    df = spark.read.parquet(path)
    tmp = f"{path}__compacting"
    bak = f"{path}__precompact"
    df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p_old = jvm.org.apache.hadoop.fs.Path(path)
    p_tmp = jvm.org.apache.hadoop.fs.Path(tmp)
    p_bak = jvm.org.apache.hadoop.fs.Path(bak)
    # resolve the filesystem FROM the path so non-default schemes
    # (s3a://, abfs://) compact too
    fs = p_old.getFileSystem(conf)
    if fs.exists(p_bak):
        fs.delete(p_bak, True)
    if not fs.rename(p_old, p_bak):
        raise IOError(f"compact: could not move {path} aside to {bak}")
    if not fs.rename(p_tmp, p_old):
        # roll the original back; the rewrite is the casualty, not the data
        fs.rename(p_bak, p_old)
        raise IOError(f"compact: could not move {tmp} into place at {path}")
    fs.delete(p_bak, True)
    n = len(
        [
            f
            for f in fs.listStatus(p_old)
            if f.getPath().getName().endswith(".parquet")
        ]
    )
    return n


def zorder_key(col_a: Column, col_b: Column, bits: int = 16) -> Column:
    """Z-order (Morton) key: interleave the bits of two rank-normalized
    columns so rows close in EITHER dimension land close in the key.
    Range-clustering by this key (write_clustered) gives every file a
    bounded rectangle in (a, b) space — selective reads on either
    column prune files from footer stats, the multi-column data-skipping
    trick single-column sort cannot provide.

    Inputs must already be non-negative integers in [0, 2^bits) — rank
    or bucket the raw columns first (percent_rank × 2^bits is the usual
    normalization).
    """
    key = F.lit(0).cast("bigint")
    for i in range(bits):
        bit_a = F.shiftright(col_a.cast("bigint"), i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(col_b.cast("bigint"), i).bitwiseAND(F.lit(1))
        key = (
            key
            + F.shiftleft(bit_a, 2 * i + 1)
            + F.shiftleft(bit_b, 2 * i)
        )
    return key


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Diff two table snapshots: one FULL OUTER JOIN on the key emitting
    'added' / 'removed' / 'changed' rows (unchanged rows are dropped —
    at 100 TB they are the overwhelming majority and nobody reads
    them). Payload comparison goes through md5-of-concatenated
    PER-COLUMN md5s: each column becomes a fixed-width 32-hex token
    (NULL → the 1-char token 'N', which no md5 can equal), so the
    encoding is prefix-free — no separator character a value could
    contain can shift bytes between columns (a raw separator join
    would let ('a\\x01b','c') collide with ('a','b\\x01c') and drop a
    genuinely changed row as unchanged). The shuffle still carries
    keys + one hash instead of full rows — the backfill-validation /
    replication-audit primitive.
    """

    def hashed(df: DataFrame, tag: str) -> DataFrame:
        payload = F.md5(
            F.concat(
                *[
                    F.coalesce(
                        F.md5(F.col(c).cast("string")), F.lit("N")
                    )
                    for c in compare_cols
                ]
            )
        )
        return df.select(
            *[F.col(k).alias(f"{tag}_{k}") for k in key_cols],
            payload.alias(f"{tag}_hash"),
        )

    o = hashed(old, "o")
    n = hashed(new, "n")
    cond = [o[f"o_{k}"].eqNullSafe(n[f"n_{k}"]) for k in key_cols]
    joined = o.join(n, cond, "full_outer")
    change = (
        F.when(o["o_hash"].isNull(), F.lit("added"))
        .when(n["n_hash"].isNull(), F.lit("removed"))
        .when(o["o_hash"] != n["n_hash"], F.lit("changed"))
    )  # NULL for unchanged → filtered
    out_keys = [
        F.coalesce(o[f"o_{k}"], n[f"n_{k}"]).alias(k) for k in key_cols
    ]
    return joined.select(*out_keys, change.alias("change_type")).filter(
        F.col("change_type").isNotNull()
    )
