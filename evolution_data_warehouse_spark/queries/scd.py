"""SCD merges, RLS, and the as-of join as oracle-checked queries.

Each query synthesizes a deterministic staged/current pair from the
customer table (fixed literal effective timestamps), runs the engine
operator, and is hash-checked against a DuckDB SQL restatement of the
same merge semantics — making the SCD write-path algorithms themselves
part of the correctness gate. ``stream_scd2_ingest`` feeds the same
SCD2 merge from a micro-batch stream; ``warehouse_time_travel`` reads
versioned snapshots back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.asof import asof_join
from evolution_data_warehouse_spark.operators.rls import secured
from evolution_data_warehouse_spark.operators.scd import (
    scd1_apply,
    scd2_apply,
    scd2_rekey_apply,
    scd3_apply,
)
from evolution_data_warehouse_spark.queries.common import register, t

_T0 = "2020-01-01 00:00:00"
_T1 = "2024-01-01 00:00:00"


def _current_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current dimension snapshot: every customer at version 1, active."""
    return t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_key"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(1).alias("version"),
        F.lit(True).alias("est_actif"),
        F.lit(_T0).cast("timestamp").alias("date_debut_validite"),
        F.lit(None).cast("timestamp").alias("date_fin_validite"),
    )


def _staged_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged snapshot: delinquent accounts reclassified + new keys."""
    c = t(spark, sf_dir, "customer")
    updates = c.select(
        F.col("c_custkey").alias("customer_key"),
        F.when(F.col("c_acctbal") < 0, F.lit("DELINQUENT"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
    )
    new_keys = c.filter(F.col("c_custkey") % 50 == 0).select(
        (F.col("c_custkey") + 1000000).alias("customer_key"),
        F.lit("NEWSEG").alias("segment"),
    )
    return updates.unionByName(new_keys)


_STAGED_SQL = """
SELECT c_custkey AS customer_key,
       CASE WHEN c_acctbal < 0 THEN 'DELINQUENT' ELSE c_mktsegment END AS segment
FROM customer
UNION ALL
SELECT c_custkey + 1000000, 'NEWSEG' FROM customer WHERE c_custkey % 50 = 0
"""

_SCD1_ORACLE = f"""
WITH staged AS ({_STAGED_SQL})
SELECT customer_key, segment FROM staged
"""
# (Every current key appears in staged, so SCD1's output == staged here;
# the Spark side still runs the full overwrite-merge.)


@register(
    "proc_scd1",
    _SCD1_ORACLE,
    doc="SCD Type 1 overwrite-in-place. Ref: 010_scd_dimensions.sql:30-91; "
    "load_dimensions.py:88-132.",
)
def proc_scd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    current = _current_dim(spark, sf_dir).select("customer_key", "segment")
    staged = _staged_dim(spark, sf_dir)
    return scd1_apply(current, staged, "customer_key", ["segment"])


_SCD2_ORACLE = f"""
WITH staged AS ({_STAGED_SQL})
-- unchanged active rows
SELECT c_custkey AS customer_key, c_mktsegment AS segment,
       CAST(1 AS INT) AS version, TRUE AS est_actif,
       TIMESTAMP '{_T0}' AS date_debut_validite,
       CAST(NULL AS TIMESTAMP) AS date_fin_validite
FROM customer WHERE c_acctbal >= 0
UNION ALL
-- closed previous versions of changed keys
SELECT c_custkey, c_mktsegment, CAST(1 AS INT), FALSE,
       TIMESTAMP '{_T0}', TIMESTAMP '{_T1}'
FROM customer WHERE c_acctbal < 0
UNION ALL
-- new active versions of changed keys
SELECT c_custkey, 'DELINQUENT', CAST(2 AS INT), TRUE,
       TIMESTAMP '{_T1}', CAST(NULL AS TIMESTAMP)
FROM customer WHERE c_acctbal < 0
UNION ALL
-- brand-new business keys
SELECT customer_key, segment, CAST(1 AS INT), TRUE,
       TIMESTAMP '{_T1}', CAST(NULL AS TIMESTAMP)
FROM staged WHERE customer_key >= 1000000
"""


@register(
    "proc_scd2",
    _SCD2_ORACLE,
    doc="SCD Type 2 batch merge: close changed rows, insert v+1, insert "
    "brand-new keys. Ref: 010_scd_dimensions.sql:391-522. One full-outer "
    "join; replaces the reference's 5-minute recency pairing hack "
    "(010:449-456) with an explicit changed-keys set.",
)
def proc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    current = _current_dim(spark, sf_dir)
    staged = _staged_dim(spark, sf_dir)
    return scd2_apply(
        current,
        staged,
        "customer_key",
        ["segment"],
        F.lit(_T1).cast("timestamp"),
    )


_SCD3_ORACLE = f"""
WITH staged AS ({_STAGED_SQL})
SELECT c_custkey AS customer_key,
       CASE WHEN c_acctbal < 0 THEN 'DELINQUENT' ELSE c_mktsegment END AS segment,
       CASE WHEN c_acctbal < 0 THEN c_mktsegment END AS ancien_segment,
       CASE WHEN c_acctbal < 0 THEN TIMESTAMP '{_T1}' END AS date_changement
FROM customer
UNION ALL
SELECT customer_key, segment, CAST(NULL AS VARCHAR), CAST(NULL AS TIMESTAMP)
FROM staged WHERE customer_key >= 1000000
"""


@register(
    "proc_scd3",
    _SCD3_ORACLE,
    doc="SCD Type 3: shift current value into ancien_*, stamp "
    "date_changement. Ref: 010_scd_dimensions.sql:312-373; "
    "load_dimensions.py:224-270.",
)
def proc_scd3(spark: SparkSession, sf_dir: str) -> DataFrame:
    current = _current_dim(spark, sf_dir).select("customer_key", "segment")
    staged = _staged_dim(spark, sf_dir)
    return scd3_apply(
        current,
        staged,
        "customer_key",
        "segment",
        F.lit(_T1).cast("timestamp"),
    )


_SCD2_REKEY_ORACLE = f"""
-- untouched actives
SELECT c_custkey AS customer_key, c_mktsegment AS segment,
       CAST(1 AS INT) AS version, TRUE AS est_actif,
       TIMESTAMP '{_T0}' AS date_debut_validite,
       CAST(NULL AS TIMESTAMP) AS date_fin_validite
FROM customer WHERE c_custkey % 97 != 0 AND c_custkey % 89 != 0
UNION ALL
-- closed previous versions of fused/renamed entities
SELECT c_custkey, c_mktsegment, CAST(1 AS INT), FALSE,
       TIMESTAMP '{_T0}', TIMESTAMP '{_T1}'
FROM customer WHERE c_custkey % 97 = 0 OR c_custkey % 89 = 0
UNION ALL
-- fusion successors: NEW business key, version lineage continues
SELECT c_custkey + 2000000, 'FUSION', CAST(2 AS INT), TRUE,
       TIMESTAMP '{_T1}', CAST(NULL AS TIMESTAMP)
FROM customer WHERE c_custkey % 97 = 0
UNION ALL
-- rename-only successors: key kept (ISNULL(@nouveau_code, code));
-- % 97 != 0 keeps the two mapping sets disjoint (custkey 0 is in both)
SELECT c_custkey, 'RENAMED', CAST(2 AS INT), TRUE,
       TIMESTAMP '{_T1}', CAST(NULL AS TIMESTAMP)
FROM customer WHERE c_custkey % 89 = 0 AND c_custkey % 97 != 0
"""


@register(
    "proc_scd2_rekey",
    _SCD2_REKEY_ORACLE,
    doc="SCD2 re-keyed-entity merge (commune fusion): close the old "
    "business key and insert its successor — possibly under a NEW key — "
    "at version+1, in one batch. Ref: 010_scd_dimensions.sql:179-268 "
    "(close :210-225, ISNULL(@nouveau_code, commune_code) re-keyed "
    "insert :228-252); docs/E6_SCALABILITY_PROCEDURES.md:253-276.",
)
def proc_scd2_rekey(spark: SparkSession, sf_dir: str) -> DataFrame:
    current = _current_dim(spark, sf_dir)
    c = t(spark, sf_dir, "customer")
    fusions = c.filter(F.col("c_custkey") % 97 == 0).select(
        F.col("c_custkey").alias("old_key"),
        (F.col("c_custkey") + 2000000).alias("new_key"),
        F.lit("FUSION").alias("new_segment"),
    )
    renames = c.filter(
        (F.col("c_custkey") % 89 == 0) & (F.col("c_custkey") % 97 != 0)
    ).select(
        F.col("c_custkey").alias("old_key"),
        F.lit(None).cast("bigint").alias("new_key"),
        F.lit("RENAMED").alias("new_segment"),
    )
    return scd2_rekey_apply(
        current,
        fusions.unionByName(renames),
        "customer_key",
        ["segment"],
        F.lit(_T1).cast("timestamp"),
    )


@register(
    "udtf_rls_predicate",
    "SELECT c_custkey, c_name, c_nationkey FROM customer "
    "WHERE c_nationkey IN (1, 2)",
    doc="Row-level security predicate as a view factory — the scoped-user "
    "branch. Ref: 011_security_rls.sql:165-214. The unregistered-user and "
    "NULL-grant branches are covered behaviorally in tests/test_rls.py.",
)
def udtf_rls_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    zones = spark.createDataFrame(
        [("analyst_a", 1), ("analyst_a", 2), ("manager", None)],
        schema="login string, scope int",
    )
    dim = t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    return secured(dim, zones, "analyst_a", "c_nationkey")


_SCD_HISTORY_ORACLE = f"""
WITH merged AS ({_SCD2_ORACLE})
SELECT customer_key, segment, version, est_actif,
       date_debut_validite, date_fin_validite,
       CASE WHEN est_actif THEN 'Version courante'
            ELSE 'Version historique (v' || CAST(version AS VARCHAR) || ')'
       END AS statut_version
FROM merged
"""


@register(
    "view_scd_history",
    _SCD_HISTORY_ORACLE,
    doc="Full-history SCD2 analytic view: every version with its "
    "validity window and a human-readable statut_version. Ref: "
    "010_scd_dimensions.sql:537-553 (v_historique_geographie).",
)
def view_scd_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    merged = proc_scd2(spark, sf_dir)
    return merged.select(
        "customer_key",
        "segment",
        "version",
        "est_actif",
        "date_debut_validite",
        "date_fin_validite",
        F.when(F.col("est_actif"), F.lit("Version courante"))
        .otherwise(
            F.concat(
                F.lit("Version historique (v"),
                F.col("version").cast("string"),
                F.lit(")"),
            )
        )
        .alias("statut_version"),
    )


_SCD3_CHANGES_ORACLE = f"""
WITH merged AS ({_SCD3_ORACLE})
SELECT customer_key,
       segment AS libelle_actuel,
       ancien_segment AS libelle_precedent,
       date_changement,
       CASE WHEN ancien_segment IS NOT NULL THEN 'Modifie'
            ELSE 'Original' END AS statut_changement
FROM merged
"""


@register(
    "view_scd3_changes",
    _SCD3_CHANGES_ORACLE,
    doc="SCD3 change-audit view: current vs previous value side by side "
    "with a Modifie/Original status. Ref: 010_scd_dimensions.sql:559-576 "
    "(v_changements_pcs).",
)
def view_scd3_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    merged = proc_scd3(spark, sf_dir)
    return merged.select(
        "customer_key",
        F.col("segment").alias("libelle_actuel"),
        F.col("ancien_segment").alias("libelle_precedent"),
        "date_changement",
        F.when(F.col("ancien_segment").isNotNull(), F.lit("Modifie"))
        .otherwise(F.lit("Original"))
        .alias("statut_changement"),
    )


_SCD_LOG_ROWS = [
    ("SCD_TYPE1", "dim_geographie", "SUCCES", "2024-01-01 10:00:00"),
    ("SCD_TYPE2", "dim_geographie", "SUCCES", "2024-02-01 10:00:00"),
    ("SCD_TYPE2", "dim_geographie", "ERREUR", "2024-02-02 10:00:00"),
    ("SCD_TYPE3", "dim_demographie", "SUCCES", "2024-03-01 10:00:00"),
    ("MERGE_SCD2", "dim_geographie", "SUCCES", "2024-04-01 10:00:00"),
    ("MERGE_SCD2", "dim_geographie", "SUCCES", "2024-04-02 10:00:00"),
    ("STAGING", "stg_population", "SUCCES", "2024-04-03 10:00:00"),
]

_SCD_SUMMARY_ORACLE = (
    "WITH log_etl(etape, table_cible, statut, date_execution) AS (VALUES "
    + ", ".join(
        f"('{e}', '{t_}', '{s}', TIMESTAMP '{ts}')"
        for e, t_, s, ts in _SCD_LOG_ROWS
    )
    + """)
SELECT etape AS type_scd, table_cible AS dimension,
       CAST(COUNT(*) AS BIGINT) AS nb_operations,
       CAST(SUM(CASE WHEN statut = 'SUCCES' THEN 1 ELSE 0 END) AS BIGINT)
           AS nb_succes,
       CAST(SUM(CASE WHEN statut = 'ERREUR' THEN 1 ELSE 0 END) AS BIGINT)
           AS nb_erreurs,
       MAX(date_execution) AS derniere_execution
FROM log_etl
WHERE etape LIKE 'SCD_%' OR etape = 'MERGE_SCD2'
GROUP BY etape, table_cible
"""
)


@register(
    "view_scd_summary",
    _SCD_SUMMARY_ORACLE,
    doc="SCD operations dashboard: per-(type, dimension) operation / "
    "success / error counts + last execution over the ETL log. Ref: "
    "010_scd_dimensions.sql:582-596 (v_resume_scd); log schema "
    "008_configure_logging.sql:15-25 (operators/etl_log.py analog). "
    "Deterministic literal log so the aggregation shape is "
    "oracle-checkable.",
)
def view_scd_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = spark.createDataFrame(
        _SCD_LOG_ROWS,
        schema="etape string, table_cible string, statut string, "
        "date_execution string",
    ).withColumn("date_execution", F.col("date_execution").cast("timestamp"))
    return (
        log.filter(
            F.col("etape").like("SCD_%") | (F.col("etape") == "MERGE_SCD2")
        )
        .groupBy(
            F.col("etape").alias("type_scd"),
            F.col("table_cible").alias("dimension"),
        )
        .agg(
            F.count("*").alias("nb_operations"),
            F.sum(F.when(F.col("statut") == "SUCCES", 1).otherwise(0))
            .cast("long")
            .alias("nb_succes"),
            F.sum(F.when(F.col("statut") == "ERREUR", 1).otherwise(0))
            .cast("long")
            .alias("nb_erreurs"),
            F.max("date_execution").alias("derniere_execution"),
        )
    )


_ASOF_ORACLE = """
SELECT purchase_id, user_id, purchase_ts, last_view_id, last_view_ts FROM (
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           v.event_id AS last_view_id, v.ts AS last_view_ts,
           row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY v.ts DESC NULLS LAST, v.event_id DESC NULLS LAST
           ) AS rn
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
) WHERE rn = 1
"""


@register(
    "join_asof",
    _ASOF_ORACLE,
    doc="Backward as-of join (latest prior view per purchase) — engine "
    "extension motivated by the SCD2 validity window (SURVEY §2.3). "
    "Equi-join on key + window; asof_join_pandas is the high-fanout path.",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("last_view_id"),
        F.col("ts").alias("last_view_ts"),
    )
    return asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="purchase_ts",
        right_ts="last_view_ts",
        left_key="purchase_id",
        right_cols=["last_view_id", "last_view_ts"],
        tie_breaker="last_view_id",
    )


# ---------------------------------------------------------------------------
# Manifest time travel (versioned snapshot store round trip)
# ---------------------------------------------------------------------------

_TT_ORACLE = """
SELECT 0 AS version, o_orderstatus, COUNT(*) AS n_orders
FROM orders GROUP BY o_orderstatus
UNION ALL
SELECT 1 AS version, o_orderstatus, COUNT(*) AS n_orders
FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_orderstatus
"""


@register(
    "warehouse_time_travel",
    _TT_ORACLE,
    doc="Time travel on the manifest-pointer snapshot store "
    "(warehouse/manifest.py): publish two versions of an orders "
    "aggregate (v0 full, v1 evens-only), flip the _current marker "
    "atomically each time, then read BOTH the historical v0 (via "
    "read_version) and the live v1 (via read_current) back. The "
    "oracle recomputes both snapshots from the base table, so any "
    "marker/versioning/publish bug — wrong version served, torn "
    "flip, history clobbered — breaks the hash. The store root is "
    "rebuilt from scratch per run, so version numbering is "
    "deterministic.",
)
def warehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from evolution_data_warehouse_spark.queries.common import scratch
    from evolution_data_warehouse_spark.warehouse.manifest import (
        list_versions,
        publish_versioned,
        read_current,
        read_version,
    )

    root = scratch("time_travel", sf_dir)
    if os.path.exists(root):
        shutil.rmtree(root)
    base = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    v0 = publish_versioned(spark, {"orders": base}, root)
    v1 = publish_versioned(
        spark, {"orders": base.filter(F.col("o_orderkey") % 2 == 0)}, root
    )
    assert (v0, v1) == (0, 1) and list_versions(spark, root) == [0, 1]
    hist = (
        read_version(spark, root, "orders", 0)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
        .select(F.lit(0).alias("version"), "o_orderstatus", "n_orders")
    )
    live = (
        read_current(spark, root, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
        .select(F.lit(1).alias("version"), "o_orderstatus", "n_orders")
    )
    return hist.unionByName(live)


# ---------------------------------------------------------------------------
# stream_scd2_ingest — streaming SCD2 dimension maintenance
# ---------------------------------------------------------------------------

_SCD2S_T1 = "2024-01-01 00:00:00"


_SCD2S_T2 = "2024-06-01 00:00:00"


def _scd2s_oracle() -> str:

    return f"""
-- unchanged active rows (never touched by either batch)
SELECT c_custkey AS customer_key, c_mktsegment AS segment,
       CAST(1 AS INT) AS version, TRUE AS est_actif,
       TIMESTAMP '{_T0}' AS date_debut_validite,
       CAST(NULL AS TIMESTAMP) AS date_fin_validite
FROM customer WHERE c_acctbal >= 0
UNION ALL
-- closed previous versions of keys batch 1 reclassified
SELECT c_custkey, c_mktsegment, CAST(1 AS INT), FALSE,
       TIMESTAMP '{_T0}', TIMESTAMP '{_SCD2S_T1}'
FROM customer WHERE c_acctbal < 0
UNION ALL
-- batch 1's new active versions
SELECT c_custkey, 'DELINQUENT', CAST(2 AS INT), TRUE,
       TIMESTAMP '{_SCD2S_T1}', CAST(NULL AS TIMESTAMP)
FROM customer WHERE c_acctbal < 0
UNION ALL
-- batch 2's brand-new business keys, effective at the LATER ts
SELECT c_custkey + 1000000, 'NEWSEG', CAST(1 AS INT), TRUE,
       TIMESTAMP '{_SCD2S_T2}', CAST(NULL AS TIMESTAMP)
FROM customer WHERE c_custkey % 50 = 0
"""


@register(
    "stream_scd2_ingest",
    _scd2s_oracle(),
    doc="Streaming SCD2 dimension maintenance (warehouse/scd_store.py::"
    "scd2_foreach_batch over the versioned store): two change batches "
    "drain IN ORDER through one availableNow file stream + checkpoint "
    "— batch 1 reclassifies delinquent customers (effective T1, "
    "closing v1 rows and inserting v2), batch 2 lands brand-new keys "
    "(effective T2, v1 inserts; existing keys pass through "
    "untouched) — and the drained store must equal the composed SCD2 "
    "history exactly (versions, activity flags, validity intervals). "
    "An idempotence drain between the two batches must process 0 rows "
    "and leave the store identical (asserted in-query). This gives "
    "the streaming MERGE path (SURVEY §2.9) the same oracle-checked "
    "evidence as the batch twin proc_scd2; restart/version-GC "
    "behavior is covered by tests/test_scd_store_api.py. Scale: each "
    "merge is scd2_apply's single full-outer shuffle on the business "
    "key; the store is version-directory parquet (atomic publish).",
)
def stream_scd2_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from evolution_data_warehouse_spark.warehouse.scd_store import (
        read_dimension,
        scd2_foreach_batch,
        upsert_scd2,
    )

    root = tempfile.mkdtemp(prefix="stream_scd2_")
    table_dir = f"{root}/dim_customer"
    src = f"{root}/src"
    ckpt = f"{root}/ckpt"
    c = t(spark, sf_dir, "customer")

    # seed the store with the current dimension (version-1 snapshot)
    current = _current_dim(spark, sf_dir)
    from evolution_data_warehouse_spark.warehouse.scd_store import (
        _publish,
    )

    _publish(current, table_dir)

    batch1 = c.select(
        F.col("c_custkey").alias("customer_key"),
        F.when(F.col("c_acctbal") < 0, F.lit("DELINQUENT"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.lit(_SCD2S_T1).cast("timestamp").alias("_effective_ts"),
    )
    batch2 = c.filter(F.col("c_custkey") % 50 == 0).select(
        (F.col("c_custkey") + 1000000).alias("customer_key"),
        F.lit("NEWSEG").alias("segment"),
        F.lit(_SCD2S_T2).cast("timestamp").alias("_effective_ts"),
    )

    schema = (
        "customer_key long, segment string, _effective_ts timestamp"
    )
    apply_batch = scd2_foreach_batch(
        table_dir, "customer_key", ["segment"]
    )
    drained: list[int] = []

    def process(batch_df, batch_id):
        n = batch_df.count()
        if n:
            drained.append(n)
            apply_batch(batch_df, batch_id)

    def drain() -> int:
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n = sum(drained)
        drained.clear()
        return n

    batch1.coalesce(1).write.mode("append").parquet(src)
    n1 = drain()
    n_idem = drain()  # nothing new: must merge nothing
    batch2.coalesce(1).write.mode("append").parquet(src)
    n2 = drain()
    if n1 < 1 or n_idem != 0 or n2 < 1:
        raise AssertionError(
            f"availableNow SCD2 idempotence violated: drains processed "
            f"{n1}, {n_idem}, {n2} rows (expected >0, 0, >0)"
        )
    dim = read_dimension(spark, table_dir)
    return dim.select(
        "customer_key",
        "segment",
        F.col("version").cast("int").alias("version"),
        "est_actif",
        "date_debut_validite",
        "date_fin_validite",
    )
