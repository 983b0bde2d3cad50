"""Acquisition-edge, sink and procedural operators as registry queries:
REST fetch, blob listing, file-format sources (CSV, JSON Lines, XML,
ORC, WARC, sitemaps, Python data sources), partitioned and sharded
sinks, the staging transform hook, ANALYZE stats, maintenance and
orchestration procedures.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.dedup import (
    content_hash64,
    content_hash64_sql,
)
from evolution_data_warehouse_spark.queries.common import register, scratch, t
from evolution_data_warehouse_spark.sources.external import (
    jdbc_available,
    list_blobs,
    read_jdbc,
    rest_to_dataframe,
    write_jdbc,
)
from evolution_data_warehouse_spark.sources.staging import (
    TableSpec,
    load_table,
)

_TESTDATA_FILES = (
    "customer documents embeddings events lineitem nation orders part "
    "region supplier"
).split()


@register(
    "src_blob_list",
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{n}.parquet')" for n in _TESTDATA_FILES)
    + ") AS t(object_name)",
    doc="List objects under a prefix via the Hadoop FS API (catalog op). "
    "Ref: analytics/data_loader.py:44-45 (list_blobs). Same call works "
    "for s3a:// / abfss:// at scale.",
)
def src_blob_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = list_blobs(spark, sf_dir, suffix=".parquet")
    return spark.createDataFrame([(n,) for n in names], schema="object_name string")


def _stub_fetcher(url: str) -> str:
    """Deterministic stand-in for the paged government API (the real
    fetcher is requests-based; network egress is out of scope here)."""
    import json

    dept = url.rsplit("=", 1)[-1]
    return json.dumps(
        {
            "communes": [
                {
                    "code": f"{dept}00{i}",
                    "nom": f"Commune-{dept}-{i}",
                    "codeDepartement": dept,
                }
                for i in range(1, 4)
            ]
        }
    )


_REST_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"('{d}00{i}', 'Commune-{d}-{i}', '{d}')"
    for d in ("59", "62")
    for i in range(1, 4)
) + ") AS t(code, nom, codeDepartement)"


@register(
    "src_rest_api",
    _REST_ORACLE,
    doc="Paged REST fetch per department → DataFrame. Ref: ingestion/API/"
    "fetch_communes.py:116-154. Acquisition is driver-side by nature; "
    "the fetcher is injected (stubbed here — no network egress).",
)
def src_rest_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rest_to_dataframe(
        spark,
        _stub_fetcher,
        "https://geo.example/communes?dept={}",
        ["59", "62"],
        schema="code string, nom string, codeDepartement string",
    )


_XFORM_ORACLE = """
SELECT r_regionkey, r_name, concat('R-', r_name) AS region_label,
       'region.csv' AS source_file, 'region_spec' AS dataset
FROM region
"""


@register(
    "udf_extra_transform",
    _XFORM_ORACLE,
    doc="Pluggable per-table DataFrame→DataFrame transform hook in the "
    "staging pipeline (a plan hook, not a row UDF). Ref: notebook cell 4 "
    "(TableSpec.extra_transform).",
)
def udf_extra_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch("udf_extra_transform", sf_dir)
    t(spark, sf_dir, "region").coalesce(1).write.mode("overwrite").option(
        "header", True
    ).csv(path)
    csv_file = next(
        os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".csv")
    )
    # Stable lineage name regardless of Spark's part-file naming.
    stable = os.path.join(path, "region.csv")
    if csv_file != stable:
        os.replace(csv_file, stable)
    spec = TableSpec(
        name="region_spec",
        source_path=stable,
        dtype_overrides={"r_regionkey": "int"},
        extra_transform=lambda df: df.withColumn(
            "region_label", F.concat(F.lit("R-"), F.col("r_name"))
        ),
    )
    return load_table(spark, spec)


@register(
    "proc_refresh_stats",
    "SELECT CAST(COUNT(*) AS BIGINT) AS num_rows FROM region",
    doc="ANALYZE TABLE COMPUTE STATISTICS post-load (sp_updatestats "
    "analog). Ref: run_etl.py:263; 007:165-175. Returns the row count "
    "recorded in the catalog (not a fresh scan).",
)
def proc_refresh_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    tbl = f"stats_region_{tag}"
    # External table at a scratch location: survives catalog resets
    # (a fresh session's in-memory catalog doesn't know about leftover
    # managed-table dirs and refuses the location otherwise).
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    path = scratch("refresh_stats", sf_dir)
    t(spark, sf_dir, "region").write.mode("overwrite").option(
        "path", path
    ).saveAsTable(tbl)
    spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
    stats = (
        spark.sql(f"DESC EXTENDED {tbl}")
        .filter(F.col("col_name") == "Statistics")
        .select("data_type")
        .first()
    )
    import re

    m = re.search(r"(\d+) rows", stats.data_type if stats else "")
    num_rows = int(m.group(1)) if m else -1
    return spark.createDataFrame([(num_rows,)], schema="num_rows long")


@register(
    "proc_log_etl",
    "SELECT * FROM (VALUES "
    "('staging', 'stg_x', 'OK', CAST(5 AS BIGINT)), "
    "('facts', 'fait_y', 'ERREUR', CAST(0 AS BIGINT))"
    ") AS t(etape, nom_table, statut, lignes_traitees)",
    doc="Structured ETL event log: timed steps append OK/ERREUR rows "
    "with row counts (sp_log_etl shape). Ref: 008_configure_logging.sql"
    ":94-133; load_facts.py:43-57. Runs one success + one failing step "
    "and reads the log back (duration excluded — wall-clock).",
)
def proc_log_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from evolution_data_warehouse_spark.operators.etl_log import (
        logged_step,
        read_log,
    )

    log_dir = scratch("log_etl_q", sf_dir)
    shutil.rmtree(log_dir, ignore_errors=True)
    with logged_step(spark, log_dir, "staging", "stg_x") as info:
        info["lignes"] = 5
    try:
        with logged_step(spark, log_dir, "facts", "fait_y") as info:
            raise ValueError("boom")
    except ValueError:
        pass
    return read_log(spark, log_dir).select(
        "etape", "nom_table", "statut", "lignes_traitees"
    )


_ERR_ROWS = [
    (1, "2024-01-01 08:00:00", "staging", "SchemaError", "bad column", True),
    (2, "2024-01-02 09:30:00", "facts", "FKViolation", "orphan geo_id", False),
    (3, "2024-01-03 12:00:00", "api", "Timeout", "geo API timeout", False),
]
_ERR_AS_OF = "2024-01-04 00:00:00"

_OPEN_ERRORS_ORACLE = f"""
WITH log_erreurs(erreur_id, date_erreur, source, type_erreur,
                 message_erreur, est_resolu) AS (VALUES
    {", ".join(f"(CAST({i} AS BIGINT), TIMESTAMP '{d}', '{s}', '{ty}', '{m}', {str(r).upper()})" for i, d, s, ty, m, r in _ERR_ROWS)}
)
SELECT erreur_id, date_erreur, source, type_erreur, message_erreur,
       CAST(floor((epoch(TIMESTAMP '{_ERR_AS_OF}') - epoch(date_erreur))
                  / 3600) AS BIGINT) AS heures_depuis_erreur
FROM log_erreurs WHERE NOT est_resolu
"""


@register(
    "view_open_errors",
    _OPEN_ERRORS_ORACLE,
    doc="Unresolved-errors dashboard view: error log rows with "
    "est_resolu = false and their age in whole hours. Ref: "
    "008_configure_logging.sql:59-68 (log_erreurs), :190-205 "
    "(v_erreurs_ouvertes); pinned as-of timestamp instead of GETDATE() "
    "for determinism.",
)
def view_open_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from evolution_data_warehouse_spark.operators.etl_log import (
        log_error,
        open_errors,
        read_error_log,
    )

    err_dir = scratch("err_log_q", sf_dir)
    shutil.rmtree(err_dir, ignore_errors=True)
    for row in _ERR_ROWS:
        log_error(spark, err_dir, *row[:5], est_resolu=row[5])
    return open_errors(
        read_error_log(spark, err_dir),
        F.lit(_ERR_AS_OF).cast("timestamp"),
    )


@register(
    "proc_backup",
    "SELECT r_regionkey, r_name FROM region",
    doc="Snapshot backup + keep-last-N retention + restore-latest "
    "round trip. Ref: backup_to_datalake.py:74-189 (BACPAC export, "
    "30-day retention) as stamped parquet snapshot copies.",
)
def proc_backup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from evolution_data_warehouse_spark.operators.backup import (
        restore_snapshot,
        retention_cleanup,
        snapshot_table,
    )

    root = scratch("backup_q", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    df = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    for stamp in ("20240101", "20240201", "20240301"):
        snapshot_table(df, root, "region", stamp)
    retention_cleanup(root, "region", keep_last=2)
    return restore_snapshot(spark, root, "region")


@register(
    "proc_orchestration",
    "SELECT * FROM (VALUES "
    "('staging', 'OK'), ('optional', 'SKIP'), "
    "('facts', 'ERREUR'), ('datamarts', 'IGNORE')"
    ") AS t(step_name, status)",
    doc="Cascade-skip orchestration DAG: OK / explicit SKIP / failing "
    "step ERREUR / dependent IGNORE — run_etl.py:206-224 and "
    "load_facts.py:726-734 semantics, returned as the step report.",
)
def proc_orchestration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.pipeline import Step, run_pipeline

    def ok() -> int:
        return t(spark, sf_dir, "region").count()

    def boom() -> int:
        raise ValueError("simulated load failure")

    report = run_pipeline(
        [
            Step("staging", ok),
            Step("optional", ok),
            Step("facts", boom, depends_on=["staging"]),
            Step("datamarts", ok, depends_on=["facts"]),
        ],
        skip=["optional"],
    )
    rows = [(r.name, r.status) for r in report.results]
    return spark.createDataFrame(rows, "step_name string, status string")


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount"]

_PROFILE_ORACLE = " UNION ALL ".join(
    f"""
SELECT '{c}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT({c}) AS BIGINT) AS n_nonnull,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(MIN({c}) AS DOUBLE) AS min_value,
       CAST(MAX({c}) AS DOUBLE) AS max_value,
       CAST(SUM(CAST({c} AS DECIMAL(28,4))) AS DOUBLE)
           / CAST(COUNT({c}) AS DOUBLE) AS mean_value
FROM lineitem"""
    for c in _PROFILE_COLS
)


@register(
    "profile_columns",
    _PROFILE_ORACLE,
    doc="Column profiling: per-column row/non-null/distinct counts + "
    "min/max/mean in ONE scan (all aggregates in a single hash "
    "aggregate, stacked to long form) — the data-profiling step of "
    "quality monitoring, vs the oracle's per-column scans. Mean is "
    "decimal-exact (order-independent).",
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
            (
                F.sum(F.col(c).cast("decimal(28,4)")).cast("double")
                / F.count(c).cast("double")
            ).alias(f"{c}__mean"),
        ]
    wide = li.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__n").alias("n_rows"),
                F.col(f"{c}__nn").alias("n_nonnull"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
                F.col(f"{c}__mean").alias("mean_value"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return wide.select(F.explode(rows).alias("s")).select("s.*")


_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

_JDBC_ORACLE = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


@register(
    "snk_jdbc_roundtrip",
    _JDBC_ORACLE,
    doc="JDBC sink + source round trip over embedded Derby (the driver "
    "jar Spark ships for its Hive metastore — no network, no install). "
    "Exercises the same write_jdbc/read_jdbc path the reference uses "
    "for Azure SQL (export_to_sql.py:160-203 chunked to_sql; "
    "load_facts.py:105 read_sql): pandas if_exists modes → save modes, "
    "chunked inserts → connector batchsize, distributed writers.",
)
def snk_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    if not jdbc_available(spark, _DERBY_DRIVER):
        raise RuntimeError(
            f"embedded Derby ({_DERBY_DRIVER}) missing from the Spark "
            "classpath"
        )
    home = scratch("jdbc_derby", sf_dir)
    # Keep Derby's engine log out of the process CWD.
    spark._jvm.java.lang.System.setProperty(  # noqa: SLF001
        "derby.system.home", home
    )
    url = f"jdbc:derby:{os.path.join(home, 'db')};create=true"
    src = t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    write_jdbc(
        src, url, "nation_t", _DERBY_DRIVER,
        if_exists="replace", driver=_DERBY_DRIVER,
    )
    back = read_jdbc(spark, url, "nation_t", _DERBY_DRIVER, driver=_DERBY_DRIVER)
    # Derby round-trips INTEGER/CLOB; project back to the source dtypes
    # so the schema check compares like for like.
    src_types = dict(src.dtypes)
    return back.select(
        *[F.col(c).cast(src_types[c]).alias(c) for c in src.columns]
    )


_ORC_ORACLE = """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
"""


@register(
    "src_orc",
    _ORC_ORACLE,
    doc="ORC scan round trip — format breadth beyond the reference's "
    "CSV/JSON/parquet/xlsx (SURVEY §2.1); same columnar pushdown "
    "properties as parquet.",
)
def src_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch("src_orc", sf_dir)
    t(spark, sf_dir, "supplier").write.mode("overwrite").orc(path)
    return spark.read.orc(path).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )


_EXPECT_ORACLE = """
WITH agg AS (
    SELECT COUNT(*) AS n_rows,
           SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS p_price,
           SUM(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                     AND o_orderdate < TIMESTAMP '2002-01-01 00:00:00'
                    THEN 1 ELSE 0 END) AS p_date,
           SUM(CASE WHEN o_orderpriority IN
                    ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
                    THEN 1 ELSE 0 END) AS p_prio,
           SUM(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS p_cust
    FROM orders
)
SELECT rule, CAST(n_pass AS BIGINT) AS n_pass,
       CAST(n_rows - n_pass AS BIGINT) AS n_fail,
       CAST(n_rows AS BIGINT) AS n_rows
FROM (
    SELECT 'positive_price' AS rule, p_price AS n_pass, n_rows FROM agg
    UNION ALL SELECT 'date_in_range', p_date, n_rows FROM agg
    UNION ALL SELECT 'known_priority', p_prio, n_rows FROM agg
    UNION ALL SELECT 'custkey_not_null', p_cust, n_rows FROM agg
)
"""


@register(
    "quality_expectations",
    _EXPECT_ORACLE,
    doc="Declarative data-quality expectations (operators/quality.py "
    "expectations_report): four rules over orders evaluated as "
    "conditional sums in ONE aggregate — one scan however many rules "
    "run, vs one rescan per rule in the validator-per-check shape. "
    "NULL predicates count as failures.",
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.quality import (
        expectations_report,
    )

    orders = t(spark, sf_dir, "orders")
    rules = {
        "positive_price": F.col("o_totalprice") > 0,
        "date_in_range": (
            F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp")
        )
        & (F.col("o_orderdate") < F.lit("2002-01-01").cast("timestamp")),
        "known_priority": F.col("o_orderpriority").isin(
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
        ),
        "custkey_not_null": F.col("o_custkey").isNotNull(),
    }
    return expectations_report(orders, rules)


_MAINT_ORACLE = """
SELECT 'files_before' AS metric, CAST(16 AS BIGINT) AS value
UNION ALL SELECT 'compacted_to_at_most_4', 1
UNION ALL SELECT 'rows_preserved', (SELECT COUNT(*) FROM orders)
"""


@register(
    "proc_maintenance_layout",
    _MAINT_ORACLE,
    doc="Layout maintenance — the immutable-parquet analog of the "
    "reference's index-maintenance proc (Terraform/sql/"
    "007_configure_performance.sql): fragment a table to 16 files, run "
    "compact_small_files down to 4 with the crash-safe swap, and "
    "report file counts + row preservation. On parquet the B-tree "
    "rebuild becomes compaction + clustering + stats refresh; this is "
    "the compaction leg, deterministic because coalesce targets are "
    "exact.",
)
def proc_maintenance_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    from evolution_data_warehouse_spark.warehouse.etl import (
        compact_small_files,
    )

    path = scratch("proc_maintenance_layout", sf_dir)
    orders = t(spark, sf_dir, "orders")
    n_rows = orders.count()
    orders.repartition(16).write.mode("overwrite").parquet(path)
    before = len(glob.glob(f"{path}/*.parquet"))
    compact_small_files(spark, path, target_files=4)
    after = len(glob.glob(f"{path}/*.parquet"))
    preserved = spark.read.parquet(path).count()
    # coalesce cannot RAISE partition counts, so on low-core hosts the
    # 16 tiny files may pack into fewer than 4 read partitions — the
    # oracle-stable claim is "at most the target", not an exact count
    rows = [
        ("files_before", before),
        ("compacted_to_at_most_4", 1 if 1 <= after <= 4 else 0),
        ("rows_preserved", preserved if preserved == n_rows else -1),
    ]
    return spark.createDataFrame(rows, "metric string, value long")


# ---------------------------------------------------------------------------
# Error-tolerant CSV ingestion (PERMISSIVE + corrupt-record column)
# ---------------------------------------------------------------------------

_PERMISSIVE_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 13 = 0 THEN NULL ELSE n_chars END AS n_chars_parsed,
       lang,
       doc_id % 13 = 0 AS is_corrupt
FROM documents
"""


@register(
    "src_csv_permissive",
    _PERMISSIVE_ORACLE,
    doc="Error-tolerant CSV ingestion: a landing file with malformed "
    "numeric cells (synthesized on one row in 13) read in PERMISSIVE "
    "mode with columnNameOfCorruptRecord — bad cells null out and the "
    "raw line is preserved for the quarantine path instead of killing "
    "the load (FAILFAST's behavior, fatal at 100 TB) or silently "
    "vanishing (DROPMALFORMED's). The oracle reconstructs the "
    "expected null/corrupt pattern from the synthesis rule. Pairs "
    "with quality.py route_quarantine downstream.",
)
def src_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:

    path = scratch("src_csv_permissive", sf_dir)
    docs = t(spark, sf_dir, "documents")
    lines = docs.select(
        F.concat_ws(
            ",",
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 13 == 0, F.lit("NOT_A_NUMBER"))
            .otherwise(F.col("n_chars").cast("string")),
            F.col("lang"),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(path)
    raw = (
        spark.read.schema(
            "doc_id long, n_chars_parsed long, lang string, _bad string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(path)
    )
    return raw.select(
        "doc_id", "n_chars_parsed", "lang",
        F.col("_bad").isNotNull().alias("is_corrupt"),
    )


# ---------------------------------------------------------------------------
# WARC web-archive ingestion (Common Crawl layout) — source-format evidence
# ---------------------------------------------------------------------------

_WARC_ORACLE = """
SELECT doc_id,
       CAST(2 AS INT) AS n_records,
       'response' AS rec_type,
       'http://corpus.local/doc/' || CAST(doc_id AS VARCHAR) AS uri,
       CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT)
           AS content_len,
       TRUE AS payload_match
FROM documents
"""


@register(
    "src_warc_records",
    _WARC_ORACLE,
    doc="WARC (ISO 28500) web-archive ingestion — the source format of "
    "web-scale LLM corpora (sources/warc.py): per document a 2-record "
    "WARC (warcinfo + response) is written in the Common Crawl layout "
    "(each record its OWN gzip member, concatenated) and parsed back — "
    "version line, CRLF headers, Content-Length framing, trailing "
    "CRLFCRLF, multistream gzip inflate. The member-per-record layout "
    "is the scale property: any worker can start at a member boundary, "
    "so a 100 TB crawl ingests parallel at record granularity with no "
    "shuffle (one mapInPandas pass, like every codec here). "
    "payload_match demands the response payload round-trip "
    "byte-exactly; content_len is cross-checked against the oracle's "
    "octet_length(encode(text)) — UTF-8 octets on both sides, "
    "NULL-safe via COALESCE.",
)
def src_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:

    def mux_and_parse(batches):
        from evolution_data_warehouse_spark.sources.warc import (
            build_warc,
            parse_warc,
        )

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                payload = ("" if text is None else str(text)).encode(
                    "utf-8"
                )
                uri = f"http://corpus.local/doc/{d}"
                data = build_warc(
                    [
                        ("warcinfo", "", b"software: engine\r\n"),
                        ("response", uri, payload),
                    ],
                    per_record_gzip=True,
                )
                recs = parse_warc(data)
                resp = recs[-1]
                rows.append(
                    {
                        "doc_id": d,
                        "n_records": len(recs),
                        "rec_type": resp["type"],
                        "uri": resp["uri"],
                        "content_len": resp["content_length"],
                        "payload_match": resp["payload"] == payload,
                    }
                )
            yield pd.DataFrame(rows)

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        mux_and_parse,
        "doc_id long, n_records int, rec_type string, uri string, "
        "content_len long, payload_match boolean",
    )


# ---------------------------------------------------------------------------
# Sitemap URL discovery — the crawl frontier source
# ---------------------------------------------------------------------------

_SITEMAP_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 10 = 0 THEN 'index' ELSE 'urlset' END AS kind,
       CAST(CASE WHEN doc_id % 10 = 0 THEN 2
                 ELSE 1 + doc_id % 7 END AS BIGINT) AS n_entries,
       CASE WHEN doc_id % 10 = 0
            THEN 'http://h' || CAST(doc_id % 5 AS VARCHAR)
                 || '.corpus.local/sitemap/' || CAST(doc_id AS VARCHAR)
                 || '/0.xml'
            ELSE 'http://h' || CAST(doc_id % 5 AS VARCHAR)
                 || '.corpus.local/page/' || CAST(doc_id AS VARCHAR)
                 || '/0' END AS first_loc,
       CAST(CASE WHEN doc_id % 10 = 0 THEN 2
                 ELSE (2 + doc_id % 7) // 2 END AS BIGINT)
           AS n_with_lastmod,
       TRUE AS roundtrip_ok
FROM documents
"""


@register(
    "src_sitemap_urls",
    _SITEMAP_ORACLE,
    doc="Sitemap (sitemaps.org) URL discovery (sources/sitemap.py) — "
    "the third crawl-ingestion member beside WARC (archive format) "
    "and robots.txt (compliance): per doc a real sitemap XML is built "
    "and parsed back — every 10th doc a <sitemapindex> (the sharding "
    "mechanism the protocol mandates above 50k URLs), the rest "
    "<urlset> documents with per-URL lastmod on alternating entries. "
    "roundtrip_ok demands every parsed loc/lastmod equal what was "
    "built; entry counts, first loc, and lastmod coverage are "
    "closed-form in doc_id. The protocol's 50,000-entry cap is the "
    "parser's bomb guard, and malformed XML is ValueError-only — the "
    "same per-row quarantine contract as WARC. One narrow mapInPandas "
    "pass; sitemaps are independent rows, so discovery parallelizes "
    "at host granularity with no shuffle.",
)
def src_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    def mux_and_parse(batches):
        from evolution_data_warehouse_spark.sources.sitemap import (
            build_sitemap,
            build_sitemap_index,
            parse_sitemap,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                host = f"http://h{d % 5}.corpus.local"
                if d % 10 == 0:
                    built = [
                        {
                            "loc": f"{host}/sitemap/{d}/{i}.xml",
                            "lastmod": f"2026-0{1 + i}-01",
                        }
                        for i in range(2)
                    ]
                    data = build_sitemap_index(built)
                else:
                    n = 1 + d % 7
                    built = [
                        {
                            "loc": f"{host}/page/{d}/{i}",
                            "lastmod": (
                                f"2026-0{1 + i % 9}-15"
                                if i % 2 == 0
                                else None
                            ),
                            "priority": "0.5" if i == 0 else None,
                        }
                        for i in range(n)
                    ]
                    data = build_sitemap(built)
                parsed = parse_sitemap(data)
                entries = parsed["entries"]
                ok = len(entries) == len(built) and all(
                    e["loc"] == b["loc"]
                    and e.get("lastmod") == b.get("lastmod")
                    for e, b in zip(entries, built)
                )
                rows.append(
                    {
                        "doc_id": d,
                        "kind": parsed["kind"],
                        "n_entries": len(entries),
                        "first_loc": entries[0]["loc"],
                        "n_with_lastmod": sum(
                            1 for e in entries if e["lastmod"]
                        ),
                        "roundtrip_ok": bool(ok),
                    }
                )
            yield pd.DataFrame(rows)

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return ids.mapInPandas(
        mux_and_parse,
        "doc_id long, kind string, n_entries long, first_loc string, "
        "n_with_lastmod long, roundtrip_ok boolean",
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout — multi-dimensional clustering evidence
# ---------------------------------------------------------------------------


def _zorder_oracle() -> str:
    from evolution_data_warehouse_spark.operators.layout import (
        grid_sql,
        zvalue_sql,
    )

    return f"""
WITH b AS (
    SELECT MIN(l_partkey) AS xmin, MAX(l_partkey) AS xmax,
           MIN(l_suppkey) AS ymin, MAX(l_suppkey) AS ymax
    FROM lineitem
),
g AS (
    SELECT l.l_orderkey, l.l_linenumber, l.l_partkey,
           {grid_sql("l.l_partkey", "b.xmin", "b.xmax")} AS xg,
           {grid_sql("l.l_suppkey", "b.ymin", "b.ymax")} AS yg
    FROM lineitem l, b
),
z AS (SELECT *, {zvalue_sql("xg", "yg")} AS zv FROM g),
t AS (
    SELECT xg, yg,
           NTILE(16) OVER (ORDER BY zv, l_orderkey, l_linenumber) AS zb,
           NTILE(16) OVER (ORDER BY l_partkey, l_orderkey, l_linenumber)
               AS lb
    FROM z
),
za AS (
    SELECT zb AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MAX(xg) - MIN(xg) AS BIGINT) AS x_span_z,
           CAST(MAX(yg) - MIN(yg) AS BIGINT) AS y_span_z
    FROM t GROUP BY zb
),
la AS (
    SELECT lb AS bucket,
           CAST(MAX(xg) - MIN(xg) AS BIGINT) AS x_span_lin,
           CAST(MAX(yg) - MIN(yg) AS BIGINT) AS y_span_lin
    FROM t GROUP BY lb
)
SELECT CAST(za.bucket AS INT) AS bucket, za.n_rows,
       za.x_span_z, za.y_span_z, la.x_span_lin, la.y_span_lin
FROM za JOIN la ON za.bucket = la.bucket
"""


@register(
    "proc_zorder_report",
    _zorder_oracle(),
    doc="Z-order (Morton curve) multi-dimensional clustering "
    "(operators/layout.py) — the OPTIMIZE ZORDER BY leg of layout "
    "maintenance beside proc_maintenance_layout's compaction leg: "
    "lineitem rows grid-normalize (exact BIGINT arithmetic over a "
    "1-row min/max broadcast) and bit-interleave (l_partkey, "
    "l_suppkey) into a 16-bit curve value; 16 equal buckets in curve "
    "order report their per-dimension grid spans NEXT TO the same "
    "buckets under a plain single-key sort. The output IS the pruning "
    "evidence: z-buckets bound BOTH dimensions (y_span_z well below "
    "the 255 grid span every single-key bucket shows), which is what "
    "lets parquet min/max footer stats prune scans filtered on either "
    "column at 100 TB. NTILE here makes bucket assignment "
    "oracle-checkable; the physical write path (zorder_layout) uses "
    "repartitionByRange — one range shuffle — and is asserted on real "
    "files in test_warehouse.",
)
def proc_zorder_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.operators.layout import (
        grid_expr,
        zvalue,
    )

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    bounds = li.agg(
        F.min("l_partkey").alias("xmin"), F.max("l_partkey").alias("xmax"),
        F.min("l_suppkey").alias("ymin"), F.max("l_suppkey").alias("ymax"),
    )
    g = (
        li.join(F.broadcast(bounds))
        .withColumn("xg", F.expr(grid_expr("l_partkey", "xmin", "xmax")))
        .withColumn("yg", F.expr(grid_expr("l_suppkey", "ymin", "ymax")))
        .withColumn("zv", zvalue(F.col("xg"), F.col("yg")))
    )
    tiled = g.select(
        "xg", "yg",
        F.ntile(16)
        .over(W.orderBy("zv", "l_orderkey", "l_linenumber"))
        .alias("zb"),
        F.ntile(16)
        .over(W.orderBy("l_partkey", "l_orderkey", "l_linenumber"))
        .alias("lb"),
    )
    za = tiled.groupBy("zb").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        (F.max("xg") - F.min("xg")).cast("bigint").alias("x_span_z"),
        (F.max("yg") - F.min("yg")).cast("bigint").alias("y_span_z"),
    )
    la = tiled.groupBy("lb").agg(
        (F.max("xg") - F.min("xg")).cast("bigint").alias("x_span_lin"),
        (F.max("yg") - F.min("yg")).cast("bigint").alias("y_span_lin"),
    )
    return za.join(la, za["zb"] == la["lb"]).select(
        F.col("zb").cast("int").alias("bucket"),
        "n_rows", "x_span_z", "y_span_z", "x_span_lin", "y_span_lin",
    )


# ---------------------------------------------------------------------------
# WARC revisit records — the multi-snapshot crawl workflow
# ---------------------------------------------------------------------------

_REVISIT_PROFILE = (
    "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"
)


_REVISIT_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'response' ELSE 'revisit' END
           AS rec2_type,
       CAST(CASE WHEN doc_id % 3 = 0
                 THEN octet_length(encode(COALESCE(text, ''))) + 3
                 ELSE 0 END AS BIGINT) AS n_bytes_2,
       TRUE AS digest_ok,
       TRUE AS refers_ok
FROM documents
"""


@register(
    "src_warc_revisit",
    _REVISIT_ORACLE,
    doc="WARC revisit-record handling (sources/warc.py) — the "
    "multi-snapshot Common Crawl shape: a recrawled URL whose payload "
    "is unchanged is stored as a 'revisit' record (ISO 28500 / the "
    "netpreserve identical-payload-digest profile) carrying only the "
    "sha1-base32 WARC-Payload-Digest of the payload it did NOT "
    "re-store, plus WARC-Refers-To-Target-URI. Per doc, crawl 1's "
    "response and crawl 2's record (unchanged docs → revisit; every "
    "third doc changes → a fresh response) mux into one per-record-"
    "gzip WARC and parse back. digest_ok demands the engine-computed "
    "digest of the ORIGINAL payload equal the revisit record's header "
    "(the exact cross-crawl match a dedup stage joins on) — for "
    "changed docs, that the new digest header verifies AND differs "
    "from crawl 1's; refers_ok checks the back-reference URI. "
    "rec2_type and the stored byte count are closed-form in doc_id. "
    "One narrow mapInPandas stage, zero shuffle.",
)
def src_warc_revisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_parse(batches):
        from evolution_data_warehouse_spark.sources.warc import (
            build_warc,
            parse_warc,
            payload_digest,
        )

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                body = ("" if text is None else str(text)).encode("utf-8")
                uri = f"http://corpus.local/doc/{d}"
                dig1 = payload_digest(body)
                recs = [
                    (
                        "response",
                        uri,
                        body,
                        {"WARC-Payload-Digest": dig1},
                    )
                ]
                if d % 3 == 0:
                    body2 = body + b" v2"
                    recs.append(
                        (
                            "response",
                            uri,
                            body2,
                            {"WARC-Payload-Digest": payload_digest(body2)},
                        )
                    )
                else:
                    recs.append(
                        (
                            "revisit",
                            uri,
                            b"",
                            {
                                "WARC-Payload-Digest": dig1,
                                "WARC-Profile": _REVISIT_PROFILE,
                                "WARC-Refers-To-Target-URI": uri,
                            },
                        )
                    )
                parsed = parse_warc(build_warc(recs, per_record_gzip=True))
                r1, r2 = parsed[0], parsed[1]
                h2 = r2["headers"]
                if r2["type"] == "revisit":
                    digest_ok = (
                        h2.get("warc-payload-digest")
                        == payload_digest(r1["payload"])
                        and r2["payload"] == b""
                        and h2.get("warc-profile") == _REVISIT_PROFILE
                    )
                    refers_ok = h2.get("warc-refers-to-target-uri") == uri
                else:
                    digest_ok = (
                        h2.get("warc-payload-digest")
                        == payload_digest(r2["payload"])
                        and h2.get("warc-payload-digest") != dig1
                    )
                    refers_ok = r2["uri"] == uri
                rows.append(
                    {
                        "doc_id": d,
                        "rec2_type": r2["type"],
                        "n_bytes_2": len(r2["payload"]),
                        "digest_ok": bool(digest_ok),
                        "refers_ok": bool(refers_ok),
                    }
                )
            yield pd.DataFrame(rows)

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        synth_and_parse,
        "doc_id long, rec2_type string, n_bytes_2 long, "
        "digest_ok boolean, refers_ok boolean",
    )


# ---------------------------------------------------------------------------
# Sharded JSONL sink — the training-data handoff format
# ---------------------------------------------------------------------------

_JSONL_SHARDS = 8


def _jsonl_shards_oracle() -> str:
    from evolution_data_warehouse_spark.queries.common import bucket_sql

    return f"""
SELECT {bucket_sql('doc_id', _JSONL_SHARDS)} AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM documents GROUP BY 1
"""


@register(
    "snk_jsonl_shards",
    _jsonl_shards_oracle(),
    doc="Sharded JSONL export — the handoff format LLM training "
    "toolchains actually consume (one JSON object per line, "
    "hash-sharded files a data loader streams independently): "
    "documents serialize with to_json, write partitioned by the "
    "md5-derived shard (split_train_hash's bucket primitive, so "
    "assignment is reproducible anywhere), and the query re-reads "
    "the written TEXT files back, re-parses each line with "
    "from_json, and aggregates per shard — counts, id checksum, and "
    "language cardinality only prove out if serialization, sharded "
    "layout, and re-parse are all lossless. Shard directories are "
    "independent at 100 TB (each file a self-contained JSONL "
    "stream); the write is one hash-partitioned pass.",
)
def snk_jsonl_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T
    from evolution_data_warehouse_spark.operators.datapipe import (
        hash_bucket,
    )

    path = scratch("snk_jsonl_shards", sf_dir)
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    payload = F.to_json(F.struct("doc_id", "lang", "source", "text"))
    (
        docs.select(
            hash_bucket(F.col("doc_id"), _JSONL_SHARDS).alias("shard"),
            payload.alias("value"),
        )
        .write.mode("overwrite")
        .partitionBy("shard")
        .text(path)
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    lines = spark.read.text(path)
    parsed = lines.select(
        F.from_json("value", schema).alias("r"),
        F.input_file_name().alias("_f"),
    ).select(
        "r.doc_id",
        "r.lang",
        F.regexp_extract("_f", r"shard=(\d+)", 1)
        .cast("bigint")
        .alias("shard"),
    )
    return parsed.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )


# ---------------------------------------------------------------------------
# Deterministic epoch-shuffle training sink — completes snk_jsonl_shards
# + pack_curriculum with the trainer-side shuffled epoch order
# ---------------------------------------------------------------------------

# Epoch seed is pinned; a trainer would pass epoch number here. The
# permutation rank of a doc is the 60-bit md5 key of 'epoch{seed}:id'
# (content_hash64 — the repo's cross-engine hash primitive), so ANY
# worker reproduces the full epoch order from ids alone, with no RNG
# state and no coordination.
_EPOCH_SEED = 11


_EPOCH_SHARDS = 8


# Shard = rank-key range: rk div 2^57 for 8 shards over the 60-bit key
# space. md5 uniformity balances the shards by construction — no
# sampled range boundaries (repartitionByRange samples, which is not
# reproducible), no global sort, no driver state. Reading shard 0..7,
# each ordered by (rk, doc_id), IS the epoch permutation.
_EPOCH_RANGE_DIV = 1 << 57


def _shuffled_shards_oracle() -> str:

    rk = content_hash64_sql(
        f"'epoch{_EPOCH_SEED}:' || CAST(doc_id AS VARCHAR)"
    )
    return f"""
WITH r AS (
    SELECT doc_id, {rk} AS rk FROM documents
),
s AS (
    SELECT doc_id, rk, rk // {_EPOCH_RANGE_DIV} AS shard FROM r
),
p AS (
    SELECT shard, doc_id, rk,
           ROW_NUMBER() OVER (
               PARTITION BY shard ORDER BY rk, doc_id) AS epoch_pos
    FROM s
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(MIN(rk) AS BIGINT) AS min_rk,
       CAST(MAX(rk) AS BIGINT) AS max_rk,
       CAST(SUM(epoch_pos * doc_id) AS BIGINT) AS pos_checksum,
       CAST(0 AS BIGINT) AS n_misplaced,
       CAST(0 AS BIGINT) AS n_bad_rk
FROM p GROUP BY 1
"""


@register(
    "snk_shuffled_shards",
    _shuffled_shards_oracle(),
    doc="Deterministic epoch-shuffle training sink — the trainer-side "
    "op that completes snk_jsonl_shards + pack_curriculum: each "
    "document's permutation rank is the 60-bit md5 key of "
    "'epoch{seed}:doc_id', its shard is the KEY RANGE rk div 2^57 "
    "(md5 uniformity balances shards by construction — deliberately "
    "NOT repartitionByRange, whose sampled boundaries are not "
    "reproducible), and shard files are written pre-sorted by "
    "(rk, doc_id), so reading shards 0..7 in order IS the shuffled "
    "epoch and any worker reproduces it from ids alone. The query "
    "re-reads the written JSONL, recomputes rank and shard from the "
    "payload, asserts the directory layout matches (n_misplaced must "
    "be 0) and the stored ranks agree (n_bad_rk must be 0), and "
    "emits per-shard count/id-checksum/key-range plus a "
    "POSITIONAL checksum sum(epoch_pos*doc_id) that only matches the "
    "oracle if the permutation is exactly right. Scale: one hash "
    "shuffle + per-shard sort; shard count would be O(cluster "
    "cores) at 100 TB (pinned 8 here), shards stream independently "
    "into loaders.",
)
def snk_shuffled_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    from pyspark.sql import types as T

    def rank_key(doc_id_col):
        return content_hash64(
            F.concat(
                F.lit(f"epoch{_EPOCH_SEED}:"), doc_id_col.cast("string")
            )
        )

    path = scratch("snk_shuffled_shards", sf_dir)
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    keyed = docs.select(
        "doc_id",
        "lang",
        rank_key(F.col("doc_id")).alias("rk"),
    ).withColumn("shard", F.expr(f"rk DIV {_EPOCH_RANGE_DIV}"))
    (
        keyed.repartition(_EPOCH_SHARDS, "shard")
        .sortWithinPartitions("shard", "rk", "doc_id")
        .select(
            "shard",
            F.to_json(F.struct("doc_id", "lang", "rk")).alias("value"),
        )
        .write.mode("overwrite")
        .partitionBy("shard")
        .text(path)
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("rk", T.LongType()),
        ]
    )
    parsed = (
        spark.read.text(path)
        .select(
            F.from_json("value", schema).alias("r"),
            F.regexp_extract(F.input_file_name(), r"shard=(\d+)", 1)
            .cast("bigint")
            .alias("file_shard"),
        )
        .select("r.doc_id", "r.rk", "file_shard")
    )
    # Everything below recomputes from the payload: rank from the id,
    # shard from the rank. The file layout (coalesced to -1 so a path
    # that fails the shard= extraction COUNTS as misplaced instead of
    # null-ing out of the sum) and the rank STORED in the JSONL both
    # have to agree with the recomputation (review finding: the
    # stored rk was previously parsed but never compared).
    checked = parsed.select(
        "doc_id",
        F.coalesce("file_shard", F.lit(-1)).alias("file_shard"),
        F.col("rk").alias("stored_rk"),
        rank_key(F.col("doc_id")).alias("rk"),
    ).withColumn("shard", F.expr(f"rk DIV {_EPOCH_RANGE_DIV}"))
    pos = F.row_number().over(
        W.partitionBy("shard").orderBy("rk", "doc_id")
    )
    placed = checked.withColumn("epoch_pos", pos)
    bad_rk = F.coalesce(
        (F.col("stored_rk") != F.col("rk")).cast("int"), F.lit(1)
    )
    return placed.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        F.min("rk").cast("bigint").alias("min_rk"),
        F.max("rk").cast("bigint").alias("max_rk"),
        F.sum(F.col("epoch_pos") * F.col("doc_id"))
        .cast("bigint")
        .alias("pos_checksum"),
        F.sum((F.col("file_shard") != F.col("shard")).cast("int"))
        .cast("bigint")
        .alias("n_misplaced"),
        F.sum(bad_rk).cast("bigint").alias("n_bad_rk"),
    )


# ---------------------------------------------------------------------------
# Schema-evolution source read — mergeSchema over heterogeneous snapshots
# ---------------------------------------------------------------------------

_MERGESCHEMA_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_with_source,
       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_source,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents
"""


@register(
    "src_parquet_mergeschema",
    _MERGESCHEMA_ORACLE,
    doc="Schema-evolution read — the lake-format reality at 100 TB: "
    "old partitions were written before a column existed. Two "
    "snapshots of the corpus are written side by side (v1: even "
    "doc_ids WITHOUT the source column — the pre-evolution schema; "
    "v2: odd doc_ids with it), then read back as ONE relation via "
    "spark.read.option('mergeSchema', true) — the widened schema "
    "back-fills NULL for v1's missing column. The aggregate (row "
    "count, non-null vs null source split exactly on the snapshot "
    "boundary, language cardinality, id checksum) only matches the "
    "oracle's closed-form expectation if the union, the back-fill, "
    "and the column alignment are all correct. Note mergeSchema "
    "reads every footer — production pins the merged schema in the "
    "catalog instead; this query proves the mechanics the catalog "
    "automates.",
)
def src_parquet_mergeschema(spark: SparkSession, sf_dir: str) -> DataFrame:

    path = scratch("src_parquet_mergeschema", sf_dir)
    docs = t(spark, sf_dir, "documents")
    (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", "lang")
        .write.mode("overwrite")
        .parquet(f"{path}/v1")
    )
    (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "lang", "source")
        .write.mode("overwrite")
        .parquet(f"{path}/v2")
    )
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    return merged.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.col("source").isNotNull().cast("int"))
        .cast("bigint")
        .alias("n_with_source"),
        F.sum(F.col("source").isNull().cast("int"))
        .cast("bigint")
        .alias("n_null_source"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


# ---------------------------------------------------------------------------
# snk_webdataset_shards — WebDataset-style tar shard training sink
# ---------------------------------------------------------------------------

_WDS_SHARDS = 8


# Per-sample body hashes are summed mod this prime so the checksum can
# never overflow int64 at any corpus size (60-bit raw hashes would at
# ~8k rows/shard).
_WDS_MOD = 1_000_000_007


def _wds_oracle() -> str:
    rk = content_hash64_sql("'wds:' || CAST(doc_id AS VARCHAR)")
    body_h = content_hash64_sql("body")
    return f"""
WITH k AS (
    SELECT doc_id, COALESCE(text, '') AS body,
           {rk} AS rk
    FROM documents
),
p AS (
    SELECT doc_id, body, rk, rk % {_WDS_SHARDS} AS shard,
           CAST(row_number() OVER (
               PARTITION BY rk % {_WDS_SHARDS} ORDER BY rk, doc_id
           ) AS BIGINT) AS pos
    FROM k
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(SUM(strlen(body)) AS BIGINT) AS bytes_text,
       CAST(SUM(pos * doc_id) AS BIGINT) AS pos_checksum,
       CAST(SUM({body_h} % {_WDS_MOD}) AS BIGINT) AS body_checksum,
       CAST(0 AS BIGINT) AS n_bad_rk
FROM p GROUP BY shard
"""


@register(
    "snk_webdataset_shards",
    _wds_oracle(),
    doc="WebDataset-style tar shard training sink — the multimodal "
    "loader format (Beaumont et al.'s img2dataset / LAION tooling "
    "convention: one tar per shard, one sample = same-basename member "
    "files, loaders stream tars sequentially with zero coordination). "
    "Each document's shard is its salted md5 hash mod 8; within a "
    "shard, samples are laid out in (rank, doc_id) order and written "
    "as {doc_id}.txt (the body) + {doc_id}.json (metadata incl. the "
    "rank key) with pinned mtime/uid so the tar bytes are fully "
    "deterministic. The writer is one applyInPandas per shard group "
    "(atomic tmp+rename, so task retries are idempotent); the reader "
    "re-opens every tar in a second Arrow stage, walks members IN TAR "
    "ORDER, recomputes the rank from the payload, and checks the "
    "stored rank (n_bad_rk must be 0). The emitted per-shard count / "
    "id / byte / POSITIONAL checksums only match the oracle if shard "
    "assignment, sample order, and bodies are all exactly right. "
    "Scale: shard count would be O(cluster cores) at 100 TB (pinned "
    "8 here); each shard writes and verifies independently — no "
    "global sort, no driver data path.",
)
def snk_webdataset_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    import io
    import json
    import shutil
    import tarfile
    import tempfile
    from hashlib import md5

    base = scratch("snk_webdataset_shards", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("body")
    )
    keyed = docs.select(
        "doc_id",
        "body",
        content_hash64(
            F.concat(F.lit("wds:"), F.col("doc_id").cast("string"))
        ).alias("rk"),
    ).withColumn("shard", F.col("rk") % _WDS_SHARDS)

    def _write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        pdf = pdf.sort_values(["rk", "doc_id"])
        path = os.path.join(base, f"shard-{shard:05d}.tar")
        fd, tmp = tempfile.mkstemp(dir=base, suffix=".tmp")
        with os.fdopen(fd, "wb") as fh:
            with tarfile.open(fileobj=fh, mode="w") as tar:
                for doc_id, body, rk in zip(
                    pdf["doc_id"], pdf["body"], pdf["rk"]
                ):
                    key = f"{int(doc_id):012d}"
                    txt = str(body).encode("utf-8")
                    meta = json.dumps(
                        {"doc_id": int(doc_id), "rk": int(rk)},
                        sort_keys=True,
                    ).encode("utf-8")
                    for suffix, payload in ((".txt", txt), (".json", meta)):
                        info = tarfile.TarInfo(name=key + suffix)
                        info.size = len(payload)
                        info.mtime = 0  # pinned: byte-deterministic tars
                        tar.addfile(info, io.BytesIO(payload))
        os.replace(tmp, path)  # atomic publish — retries are idempotent
        return pd.DataFrame(
            {"shard": [shard], "path": [path], "n": [len(pdf)]}
        )

    manifest = (
        keyed.repartition(_WDS_SHARDS, "shard")
        .groupBy("shard")
        .applyInPandas(_write_shard, "shard bigint, path string, n bigint")
    )

    def _read_shards(batches):
        for pdf in batches:
            out = {
                "shard": [],
                "pos": [],
                "doc_id": [],
                "octet_len": [],
                "body_h": [],
                "bad_rk": [],
            }
            for shard, path in zip(pdf["shard"], pdf["path"]):
                with tarfile.open(path, "r") as tar:
                    pos = 0
                    pending: dict[str, bytes] = {}
                    for member in tar:
                        key, suffix = os.path.splitext(member.name)
                        payload = tar.extractfile(member).read()
                        pending[suffix] = payload
                        if len(pending) < 2:
                            continue
                        # one full sample (.txt + .json) collected
                        pos += 1
                        body = pending[".txt"]
                        meta = json.loads(pending[".json"])
                        pending = {}
                        doc_id = int(key)
                        expect_rk = int(
                            md5(f"wds:{doc_id}".encode()).hexdigest()[:15],
                            16,
                        )
                        bad = (
                            int(meta["doc_id"]) != doc_id
                            or int(meta["rk"]) != expect_rk
                        )
                        out["shard"].append(int(shard))
                        out["pos"].append(pos)
                        out["doc_id"].append(doc_id)
                        out["octet_len"].append(len(body))
                        out["body_h"].append(
                            int(md5(body).hexdigest()[:15], 16) % _WDS_MOD
                        )
                        out["bad_rk"].append(1 if bad else 0)
            yield pd.DataFrame(out)

    samples = manifest.repartition(_WDS_SHARDS).mapInPandas(
        _read_shards,
        "shard bigint, pos bigint, doc_id bigint, octet_len bigint, "
        "body_h bigint, bad_rk bigint",
    )
    return samples.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_samples"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        F.sum("octet_len").cast("bigint").alias("bytes_text"),
        F.sum(F.col("pos") * F.col("doc_id"))
        .cast("bigint")
        .alias("pos_checksum"),
        F.sum("body_h").cast("bigint").alias("body_checksum"),
        F.sum("bad_rk").cast("bigint").alias("n_bad_rk"),
    )


# ---------------------------------------------------------------------------
# src_xml_roundtrip — native XML datasource (Spark 4 built-in)
# ---------------------------------------------------------------------------

_XML_ORACLE = """
SELECT n.n_regionkey, r.r_name,
       CAST(COUNT(*) AS BIGINT) AS n_nations,
       CAST(SUM(n.n_nationkey) AS BIGINT) AS sum_nationkey
FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY n.n_regionkey, r.r_name
"""


@register(
    "src_xml_roundtrip",
    _XML_ORACLE,
    doc="XML source/sink round-trip via Spark 4's NATIVE xml datasource "
    "(spark-xml was merged into core in 4.0 — no external package): "
    "the nation-region join is written as <rows><row>...</row></rows> "
    "documents, read back with an EXPLICIT schema (never inference — "
    "schema drift must fail loudly, and an inference pass is a second "
    "full scan at 100 TB), and aggregated per region. The aggregate "
    "only matches the oracle if the XML writer/parser preserved every "
    "row and type. Dimension-sized here by design: XML is a feed "
    "format for reference data, not a fact-table format.",
)
def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    path = scratch("src_xml_roundtrip", sf_dir)
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    joined = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_regionkey", "r_name"
    )
    (
        joined.coalesce(1)
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "rows")
        .option("rowTag", "row")
        .save(path)
    )
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema(schema)
        .load(path)
    )
    return back.groupBy("n_regionkey", "r_name").agg(
        F.count("*").cast("bigint").alias("n_nations"),
        F.sum("n_nationkey").cast("bigint").alias("sum_nationkey"),
    )


# ---------------------------------------------------------------------------
# src_python_datasource — custom Python DataSource (Spark 4 API)
# ---------------------------------------------------------------------------

_SYNTH_N = 100_000


_SYNTH_PARTS = 8


def _pyds_oracle() -> str:
    from evolution_data_warehouse_spark.sources.pydatasource import (
        SYNTH_MOD,
        SYNTH_MULT,
    )

    return f"""
WITH rows AS (
    SELECT g AS row_id,
           CAST(g % {_SYNTH_PARTS} AS INT) AS part_id,
           (g * {SYNTH_MULT}) % {SYNTH_MOD} AS val
    FROM generate_series(0, {_SYNTH_N - 1}) t(g)
)
SELECT part_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(val) AS BIGINT) AS sum_val,
       CAST(MIN(row_id) AS BIGINT) AS min_row,
       CAST(MAX(row_id) AS BIGINT) AS max_row,
       CAST(SUM((row_id * val) % {SYNTH_MOD}) AS BIGINT) AS mix_checksum
FROM rows GROUP BY part_id
"""


@register(
    "src_python_datasource",
    _pyds_oracle(),
    doc="Custom Python DataSource via Spark 4's official "
    "pyspark.sql.datasource extension API (sources/pydatasource.py) — "
    "the sanctioned way to teach Spark a source only Python can read "
    "(bespoke feeds, internal formats), superseding driver-side "
    "collect-then-parallelize loaders. The source PLANS one "
    "InputPartition per round-robin slice and each task generates "
    "only its own rows, so the scan parallelizes like a file source "
    "(no driver data path); the per-partition min/max/count/checksum "
    "aggregate only matches the oracle's generate_series replay if "
    "every partition produced exactly its slice — a partition-"
    "planning bug (dup/missing/shifted slice) breaks min_row/"
    "max_row/mix_checksum. Row values are int64 Knuth-hash "
    "arithmetic kept below 2^63 (both engines exact).",
)
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.sources.pydatasource import (
        SYNTH_MOD,
        register_synth_source,
    )

    register_synth_source(spark)
    df = (
        spark.read.format("synthrange")
        .option("n", _SYNTH_N)
        .option("parts", _SYNTH_PARTS)
        .load()
    )
    return df.groupBy("part_id").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("val").cast("bigint").alias("sum_val"),
        F.min("row_id").cast("bigint").alias("min_row"),
        F.max("row_id").cast("bigint").alias("max_row"),
        F.sum((F.col("row_id") * F.col("val")) % SYNTH_MOD)
        .cast("bigint")
        .alias("mix_checksum"),
    )


# ---------------------------------------------------------------------------
# snk_python_datasource — custom Python DataSource WRITER (2-phase commit)
# ---------------------------------------------------------------------------

_PYSNK_ORACLE = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
FROM documents GROUP BY lang
"""


@register(
    "snk_python_datasource",
    _PYSNK_ORACLE,
    doc="Custom Python DataSource WRITER via Spark 4's "
    "pyspark.sql.datasource API (sources/pydatasource.py JsonlSink) — "
    "the sink-side twin of src_python_datasource, demonstrating the "
    "API's TWO-PHASE COMMIT protocol: every task publishes a "
    "uniquely-named file via tmp + atomic rename and returns a "
    "commit message; only the driver-side commit() writes the "
    "manifest that makes work visible. The query re-reads ONLY the "
    "manifest-listed files (uncommitted or retried-task orphans are "
    "invisible by construction — the exactly-once story object "
    "stores need) and aggregates per language; the totals only "
    "match the oracle if no task output was lost or double-counted. "
    "Scale: tasks write independently, commit is O(tasks) metadata "
    "— the same shape as a Hadoop commit protocol.",
)
def snk_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql import types as T

    from evolution_data_warehouse_spark.sources.pydatasource import (
        read_manifest,
        register_jsonl_sink,
    )

    register_jsonl_sink(spark)
    base = scratch("snk_python_datasource", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    (
        docs.repartition(8, "doc_id")
        .write.format("jsonlsink")
        .option("path", base)
        .mode("append")
        .save()
    )
    manifest = read_manifest(base)
    files = [os.path.join(base, f) for f in manifest["files"]]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    if not files:  # empty input relation → manifest lists zero files
        back = spark.createDataFrame([], schema)
    else:
        back = spark.read.schema(schema).json(files)
    return back.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
    )


# ---------------------------------------------------------------------------
# snk_partitioned_prune — hive-partitioned sink + partition-pruned re-read
# ---------------------------------------------------------------------------

_PART_PRUNE_VALUE = "1-URGENT"


_PART_PRUNE_ORACLE = f"""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders WHERE o_orderpriority = '{_PART_PRUNE_VALUE}'
"""


@register(
    "snk_partitioned_prune",
    _PART_PRUNE_ORACLE,
    doc="Hive-partitioned parquet sink + partition-pruned re-read: the "
    "table is written partitionBy(o_orderpriority) (one directory per "
    "value) and re-read with an equality filter on the partition "
    "column, so the scan lists and reads ONLY the matching directory — "
    "pruning happens at FILE LISTING time, before any footer or page "
    "IO (the directory-layout half of the story next to "
    "snk_clustered_prune's footer-stats half; at 100 TB, partition "
    "pruning is what turns a full-table scan into a 1/N-of-the-table "
    "scan for time/tenant/priority-scoped queries). The plan carries "
    "the filter as PartitionFilters on the scan (locked in "
    "tests/test_plan_invariants.py). Round-trip values are "
    "oracle-checked against the unpartitioned source.",
)
def snk_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    target = scratch("snk_partitioned", sf_dir)
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(
        target
    )
    return (
        spark.read.parquet(target)
        .filter(F.col("o_orderpriority") == _PART_PRUNE_VALUE)
        .select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        )
    )


# ---------------------------------------------------------------------------
# src_jsonl_quarantine — permissive JSONL ingest with corrupt routing
# ---------------------------------------------------------------------------

_JSONL_BAD_MOD = 11  # every 11th doc id emits a syntactically broken line


_JSONL_ORACLE = f"""
SELECT CASE WHEN doc_id % {_JSONL_BAD_MOD} = 0 THEN NULL
       ELSE doc_id END AS doc_id,
       CASE WHEN doc_id % {_JSONL_BAD_MOD} = 0 THEN NULL
       ELSE n_chars END AS n_chars,
       (doc_id % {_JSONL_BAD_MOD} = 0) AS is_corrupt
FROM documents
"""


@register(
    "src_jsonl_quarantine",
    _JSONL_ORACLE,
    doc="Error-tolerant JSONL ingestion: a landing file where one line "
    "in 11 is SYNTACTICALLY broken JSON (truncated object — the "
    "structural failure class src_csv_permissive's bad-cell case "
    "doesn't cover: here the whole record is unparseable, not one "
    "field) read in PERMISSIVE mode with columnNameOfCorruptRecord — "
    "broken lines surface as all-null rows with the raw text "
    "preserved in the corrupt column for the quarantine path, instead "
    "of killing the load (FAILFAST) or silently vanishing "
    "(DROPMALFORMED). At 100 TB of crawled JSONL, a per-record "
    "quarantine is the only ingestion contract that survives reality. "
    "The oracle reconstructs the expected parse/corrupt pattern from "
    "the synthesis rule (nulls for broken lines, parsed values "
    "elsewhere).",
)
def src_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:

    path = scratch("src_jsonl_quarantine", sf_dir)
    docs = t(spark, sf_dir, "documents")
    good = F.concat(
        F.lit('{"doc_id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "n_chars": '),
        F.col("n_chars").cast("string"),
        F.lit("}"),
    )
    broken = F.concat(  # no closing brace: structurally invalid JSON
        F.lit('{"doc_id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "n_chars": '),
    )
    docs.select(
        F.when(F.col("doc_id") % _JSONL_BAD_MOD == 0, broken)
        .otherwise(good)
        .alias("value")
    ).write.mode("overwrite").text(path)
    raw = (
        spark.read.schema("doc_id long, n_chars long, _bad string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(path)
    )
    return raw.select(
        "doc_id", "n_chars", F.col("_bad").isNotNull().alias("is_corrupt")
    )
