"""End-to-end warehouse tests: dimension seeds, the six fact builders,
and the full ETL DAG over FIXTURES.md-shaped staging CSVs."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from evolution_data_warehouse_spark.sources.staging import prepare_tables
from evolution_data_warehouse_spark.warehouse import dimensions as dims_mod
from evolution_data_warehouse_spark.warehouse import facts as facts_mod
from evolution_data_warehouse_spark.warehouse.etl import run_full_etl
from tests.warehouse_fixtures import DEPTS, YEARS, make_specs, write_fixtures


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("warehouse_fixtures"))
    paths = write_fixtures(root)
    return prepare_tables(spark, make_specs(paths))


@pytest.fixture(scope="module")
def dims(spark):
    return dims_mod.build_all(spark)


def test_dimension_seeds(spark, dims):
    assert dims["dim_temps"].count() == 15  # 2010-2024 (BASELINE: 14+1)
    census = dims["dim_temps"].filter(F.col("est_annee_recensement"))
    assert {r.annee for r in census.collect()} == {2010, 2015, 2021}
    assert dims["dim_geographie"].count() == 5
    assert dims["dim_demographie"].count() == 12  # 3 sexes × 4 ages
    assert dims["dim_activite"].count() == 27  # 20 NAF + 7 legal forms
    # surrogate keys dense + deterministic
    ids = sorted(r.temps_id for r in dims["dim_temps"].collect())
    assert ids == list(range(1, 16))


def test_fait_population(spark, staged, dims):
    fact = facts_mod.fait_population(staged["stg_population"], dims)
    assert fact.count() > 0
    # every key resolves against its dimension (FK integrity)
    assert (
        fact.join(dims["dim_temps"], "temps_id", "left_anti").count() == 0
    )
    assert fact.filter(F.col("population") < 0).count() == 0


def test_fait_evenements_solde(spark, staged, dims):
    fact = facts_mod.fait_evenements_demo(
        staged["stg_naissances"], staged["stg_deces"], dims
    )
    rows = fact.collect()
    assert len(rows) == len(YEARS) * len(DEPTS)
    for r in rows:
        assert r.solde_naturel == r.naissances - r.deces


def test_fait_entreprises_excludes_unknown_naf(spark, staged, dims):
    fact = facts_mod.fait_entreprises(staged["stg_creation_entreprises"], dims)
    act = dims["dim_activite"]
    assert fact.join(act, "activite_id", "left_anti").count() == 0
    assert fact.count() > 0


def test_fait_revenus_pivot(spark, staged, dims):
    fact = facts_mod.fait_revenus(staged["stg_ds_filosofi"], dims)
    assert {
        "niveau_vie_median", "decile_1", "decile_9", "taux_pauvrete",
    } <= set(fact.columns)
    assert fact.count() == len(YEARS) * len(DEPTS)
    assert fact.filter(F.col("niveau_vie_median").isNull()).count() == 0


def test_fait_emploi_rate(spark, staged, dims):
    fact = facts_mod.fait_emploi(staged["stg_emploi_chomage"], dims)
    row = fact.first()
    assert row.taux_chomage == pytest.approx(
        row.population_chomage / row.population_active * 100.0
    )


def test_fait_menages_taille(spark, staged, dims):
    fact = facts_mod.fait_menages(staged["stg_menage"], dims)
    row = fact.first()
    assert row.taille_moyenne == pytest.approx(row.nb_personnes / row.nb_menages)


def test_fait_logement_rate(spark, staged, dims):
    fact = facts_mod.fait_logement(staged["stg_logement"], dims)
    assert fact.filter(F.col("taux_suroccupation") > 100.0).count() == 0


def test_full_etl_end_to_end(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("etl_src"))
    out = str(tmp_path_factory.mktemp("etl_out"))
    specs = make_specs(write_fixtures(root))
    communes = spark.createDataFrame(
        [
            ("59350", "Lille", "59", 236_000),
            ("62041", "Arras", "62", 42_000),
            ("59001", "Petit", "59", 500),
        ],
        schema="commune_code string, commune_nom string, "
        "departement_code string, population long",
    )
    report, validations = run_full_etl(spark, specs, out, communes)
    statuses = {r.name: r.status for r in report.results}
    assert statuses == {
        "staging": "OK", "security": "OK", "dimensions": "OK",
        "facts": "OK", "refresh": "OK",
    }
    assert all(v.ok for v in validations), [v for v in validations if not v.ok]
    # written tables readable + communes landed in dim_geographie
    geo = spark.read.parquet(f"{out}/dim_geographie")
    assert geo.filter(F.col("niveau_geo") == "COMMUNE").count() == 3
    pop = spark.read.parquet(f"{out}/fait_population")
    assert pop.count() > 0


def test_run_etl_skip_reaches_pipeline(spark, tmp_path, capsys, monkeypatch):
    """`run_etl --skip security` reports the step SKIP and writes no
    security_* tables; the rest of the cascade still runs."""
    import json
    import os

    from evolution_data_warehouse_spark import run_etl, session

    # the CLI builds its own session; hand it the test session as is
    # (get_spark would re-apply the engine confs to the shared session)
    monkeypatch.setattr(session, "get_spark", lambda **_: spark)
    out = str(tmp_path / "wh")
    rc = run_etl.main(["--demo", "--out", out, "--skip", "security"])
    report = json.loads(capsys.readouterr().out)
    statuses = {s["name"]: s["status"] for s in report["steps"]}
    assert statuses["security"] == "SKIP", statuses
    assert statuses["dimensions"] == statuses["facts"] == "OK", statuses
    assert not [d for d in os.listdir(out) if d.startswith("security_")]
    assert rc == 0


def test_incremental_fact_partition_overwrite(spark, tmp_path):
    from evolution_data_warehouse_spark.warehouse.etl import (
        write_fact_incremental,
    )

    out = str(tmp_path / "wh")
    full = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 110.0), (2, 10, 200.0), (2, 20, 210.0)],
        schema="temps_id int, geo_id int, measure double",
    )
    write_fact_incremental(full, out, "fait_x")
    assert spark.read.parquet(f"{out}/fait_x").count() == 4

    # Re-load ONLY period 2 with corrected numbers: period 1 untouched.
    fixed = spark.createDataFrame(
        [(2, 10, 999.0)], schema="temps_id int, geo_id int, measure double"
    )
    write_fact_incremental(fixed, out, "fait_x")
    got = spark.read.parquet(f"{out}/fait_x")
    assert got.count() == 3  # 2 rows of period 1 + 1 corrected row
    assert got.filter("temps_id = 1").count() == 2
    assert got.filter("temps_id = 2").first().measure == 999.0
    # partition pruning: a period-1 read lists only its partition
    plan = got.filter("temps_id = 1")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(temps_id" in plan


def test_write_table_runs_single_job(spark, sf_dir, tmp_path):
    # The row count must piggyback on the write job via observe() — a
    # post-write count() would recompute the plan as a second job,
    # doubling every load at scale. A shuffle-free write is exactly one
    # job; only AQE shuffle-stage materialization may add more.
    from evolution_data_warehouse_spark.queries.common import t
    from evolution_data_warehouse_spark.warehouse.etl import write_table

    sc = spark.sparkContext
    df = t(spark, sf_dir, "region")
    sc.setJobGroup("wt_single_job_probe", "write_table probe")
    try:
        n = write_table(df, str(tmp_path), "region_copy")
    finally:
        sc.setJobGroup("wt_other", "")
    jobs = sc.statusTracker().getJobIdsForGroup("wt_single_job_probe")
    assert len(jobs) == 1
    assert n == df.count()
    assert spark.read.parquet(str(tmp_path / "region_copy")).count() == n


def test_write_clustered_files_own_disjoint_ranges(spark, sf_dir, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from evolution_data_warehouse_spark.warehouse.etl import write_clustered

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = write_clustered(df, str(tmp_path), "orders_clustered", ["o_custkey"])

    # parquet footer stats per file: the clustered layout must give each
    # file a key range that overlaps no other file — that is what lets a
    # selective read prune whole files from the footer alone
    ranges = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.row_group(rg).num_columns)
                if md.row_group(rg).column(i).path_in_schema == "o_custkey"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) > 1
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"file ranges overlap: ({lo1},{hi1}) vs ({lo2},{hi2})"

    # and nothing was lost or duplicated
    assert spark.read.parquet(path).count() == df.count()


def test_compact_small_files_preserves_data(spark, sf_dir, tmp_path):
    import glob

    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.warehouse.etl import compact_small_files

    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    path = str(tmp_path / "nation_many")
    src.repartition(16).write.mode("overwrite").parquet(path)
    assert len(glob.glob(f"{path}/*.parquet")) == 16

    n_files = compact_small_files(spark, path, target_files=2)
    assert n_files <= 2
    assert len(glob.glob(f"{path}/*.parquet")) == n_files
    assert len(glob.glob(f"{path}__compacting/*")) == 0  # temp dir gone

    after = spark.read.parquet(path)
    assert after.count() == src.count()
    assert after.exceptAll(src).count() == 0


def test_partitioned_fact_join_triggers_dynamic_partition_pruning(
    spark, sf_dir, tmp_path
):
    from pyspark.sql import functions as F

    # fact partitioned on the join key's dim attribute: the classic
    # warehouse layout where a selective dim filter must prune fact
    # PARTITIONS at runtime (DPP), not just push a column predicate
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    fact_path = str(tmp_path / "orders_by_status")
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(
        fact_path
    )

    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [("F", "closed"), ("O", "open"), ("P", "pending")],
        "status string, label string",
    ).filter(F.col("label") == "open")

    joined = fact.join(dim, fact.o_orderstatus == dim.status)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]

    # and the pruning is semantically right: only the 'O' partition rows
    expected = orders.filter(F.col("o_orderstatus") == "O").count()
    assert joined.count() == expected


def test_zorder_clustering_bounds_both_dimensions(spark, sf_dir, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.warehouse.etl import (
        write_clustered,
        zorder_key,
    )

    from pyspark.sql import Window as W

    BITS = 8
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # true rank normalization (zorder_key's documented contract) so the
    # test holds at ANY fixture scale, not just custkey < 2^BITS
    def ranked(col):
        pr = F.percent_rank().over(W.orderBy(F.col(col)))
        return F.least(
            F.floor(pr * (2**BITS)).cast("bigint"), F.lit(2**BITS - 1)
        )

    z = orders.withColumn(
        "zk", zorder_key(ranked("o_custkey"), ranked("o_totalprice"), bits=BITS)
    )
    path = write_clustered(z, str(tmp_path), "orders_z", ["zk"], n_files=8)

    def file_ranges(col_name):
        out = []
        for f in sorted(glob.glob(f"{path}/*.parquet")):
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                col = next(
                    md.row_group(rg).column(i)
                    for i in range(md.row_group(rg).num_columns)
                    if md.row_group(rg).column(i).path_in_schema == col_name
                )
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            out.append((min(mins), max(maxs)))
        return out

    # Z-order clustering must bound BOTH dimensions per file: the sum
    # of per-file ranges should be well under n_files × the global
    # range (which is what a random layout gives on both, and what a
    # single-column sort gives on the second column)
    n = len(glob.glob(f"{path}/*.parquet"))
    assert n > 1
    for col_name in ("o_custkey", "o_totalprice"):
        ranges = file_ranges(col_name)
        glo = max(hi for _, hi in ranges) - min(lo for lo, _ in ranges)
        covered = sum(hi - lo for lo, hi in ranges)
        # random layout: covered ≈ n × glo; z-order must do better
        assert covered < 0.8 * n * glo, (col_name, covered, n * glo)

    assert spark.read.parquet(path).count() == orders.count()


def test_manifest_publish_atomic_and_consistent(spark, sf_dir, tmp_path):
    """Manifest-pointer publishing: readers resolve _current first, so
    a half-written next version is invisible; multi-table flips are
    all-or-nothing; retention keeps the window."""
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.queries.common import t
    from evolution_data_warehouse_spark.warehouse.manifest import (
        current_version,
        publish_versioned,
        read_current,
    )

    root = str(tmp_path / "store")
    orders = t(spark, sf_dir, "orders").limit(100)
    cust = t(spark, sf_dir, "customer").limit(50)

    v0 = publish_versioned(spark, {"orders": orders, "customer": cust}, root)
    assert v0 == 0 and current_version(spark, root) == 0
    assert read_current(spark, root, "orders").count() == 100

    # v1 changes BOTH tables; readers must never see a mixed pair
    v1 = publish_versioned(
        spark,
        {"orders": orders.limit(10), "customer": cust.limit(5)},
        root,
    )
    assert v1 == 1
    assert read_current(spark, root, "orders").count() == 10
    assert read_current(spark, root, "customer").count() == 5

    # crash-before-flip simulation: write a v2 directory WITHOUT
    # flipping the marker — readers stay on v1, garbage is invisible
    orders.limit(3).write.parquet(f"{root}/v2/orders")
    assert current_version(spark, root) == 1
    assert read_current(spark, root, "orders").count() == 10

    # retention: publish past the keep window drops v0
    import os

    publish_versioned(spark, {"orders": orders}, root, keep_last=2)
    # marker skipped the crashed v2? No: next version = current+1 = 2 —
    # the half-written dir is OVERWRITTEN by the real publish (mode
    # overwrite), which is exactly the recovery semantics we want
    assert current_version(spark, root) == 2
    assert read_current(spark, root, "orders").count() == 100
    publish_versioned(spark, {"orders": orders.limit(7)}, root, keep_last=2)
    assert current_version(spark, root) == 3
    assert not os.path.exists(f"{root}/v0")
    assert not os.path.exists(f"{root}/v1")
    assert os.path.exists(f"{root}/v2")
    # marker flips go through write-temp-then-rename-overwrite (the r7
    # ADVICE fix: bare create-with-overwrite truncates in place on
    # HDFS/local, exposing an empty marker mid-write) — no temp objects
    # may survive a publish
    assert not [f for f in os.listdir(root) if f.endswith(".tmp")]


def test_manifest_unreadable_marker_fails_loudly(spark, tmp_path):
    """An EXISTING but unparseable _current marker means a publish
    happened and something is wrong — current_version must raise, not
    return -1 (which would restart numbering at v0 and clobber live
    data). A missing marker still means 'never published'."""
    import pytest

    from evolution_data_warehouse_spark.warehouse.manifest import (
        current_version,
    )

    root = str(tmp_path / "store")
    assert current_version(spark, root) == -1  # missing → never published
    (tmp_path / "store").mkdir()
    (tmp_path / "store" / "_current").write_text("")  # torn write residue
    with pytest.raises(RuntimeError, match="marker"):
        current_version(spark, root)
    (tmp_path / "store" / "_current").write_text("{not json")
    with pytest.raises(RuntimeError, match="marker"):
        current_version(spark, root)
    # valid-JSON non-dict content must hit the same documented
    # RuntimeError, not escape as TypeError from the subscript
    (tmp_path / "store" / "_current").write_text("123")
    with pytest.raises(RuntimeError, match="marker"):
        current_version(spark, root)
    (tmp_path / "store" / "_current").write_text("[1]")
    with pytest.raises(RuntimeError, match="marker"):
        current_version(spark, root)
    # a marker that becomes valid while retrying succeeds instead of
    # failing with the stale error (the final re-read is parsed too)
    import threading

    (tmp_path / "store" / "_current").write_text("")

    def heal():
        (tmp_path / "store" / "_current").write_text('{"version": 7}')

    t = threading.Timer(0.15, heal)
    t.start()
    try:
        assert current_version(spark, root) == 7
    finally:
        t.cancel()


def test_route_quarantine_single_scan_with_reasons(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.operators.quality import (
        route_quarantine,
    )
    from evolution_data_warehouse_spark.queries.common import t

    out = str(tmp_path / "routed")
    orders = t(spark, sf_dir, "orders")
    rules = {
        "price_positive": F.col("o_totalprice") > 0,
        "key_mod7": F.col("o_orderkey") % 7 != 0,
        "status_known": F.col("o_orderstatus").isin("O", "F", "P"),
    }
    counts = route_quarantine(orders, rules, out)
    n = orders.count()
    assert counts["clean"] + counts["quarantined"] == n
    expected_bad = orders.filter(
        ~((F.col("o_totalprice") > 0)
          & (F.col("o_orderkey") % 7 != 0)
          & F.col("o_orderstatus").isin("O", "F", "P"))
    ).count()
    assert counts["quarantined"] == expected_bad > 0

    routed = spark.read.parquet(out)
    bad = routed.filter(F.col("_route") == "quarantined")
    # every quarantined row carries at least one named reason
    assert bad.filter(F.col("_reason") == "").count() == 0
    assert bad.filter(F.col("_reason").contains("key_mod7")).count() > 0
    # clean rows carry no reason
    assert routed.filter(
        (F.col("_route") == "clean") & (F.col("_reason") != "")
    ).count() == 0


def test_route_quarantine_null_rule_result_quarantines(spark, tmp_path):
    """A NULL rule evaluation (e.g. `col > 0` on NULL) must route to
    quarantine WITH the rule's name — unknown is not a pass (r6 ADVICE:
    the bare ~cond formulation silently passed NULLs)."""
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.operators.quality import (
        route_quarantine,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, -5.0)], "id long, amount double"
    )
    out = str(tmp_path / "routed_null")
    counts = route_quarantine(df, {"amount_positive": F.col("amount") > 0}, out)
    assert counts == {"clean": 1, "quarantined": 2}
    routed = spark.read.parquet(out)
    bad = {
        r.id: r._reason
        for r in routed.filter(F.col("_route") == "quarantined").collect()
    }
    assert set(bad) == {2, 3}
    assert all("amount_positive" in v for v in bad.values())


def test_snapshot_diff_separator_collision_detected(spark):
    """Prefix-free payload hashing (r6 ADVICE): values containing the
    old separator byte must not let ('a\\x01b','c') vs ('a','b\\x01c')
    hash equal — a raw separator join dropped such rows as unchanged."""
    from evolution_data_warehouse_spark.warehouse.etl import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a\x01b", "c"), (2, "same", "same")], "id long, x string, y string"
    )
    new = spark.createDataFrame(
        [(1, "a", "b\x01c"), (2, "same", "same")], "id long, x string, y string"
    )
    got = {
        (r.id, r.change_type)
        for r in snapshot_diff(old, new, ["id"], ["x", "y"]).collect()
    }
    assert got == {(1, "changed")}

    # NULL vs empty-string still distinct
    old2 = spark.createDataFrame([(1, None)], "id long, x string")
    new2 = spark.createDataFrame([(1, "")], "id long, x string")
    got2 = {
        (r.id, r.change_type)
        for r in snapshot_diff(old2, new2, ["id"], ["x"]).collect()
    }
    assert got2 == {(1, "changed")}


def test_manifest_time_travel_api(spark, sf_dir, tmp_path):
    """read_version serves retained history, refuses unpublished or
    retention-dropped versions; list_versions excludes garbage past
    the marker."""
    import pytest
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.queries.common import t
    from evolution_data_warehouse_spark.warehouse.manifest import (
        list_versions,
        publish_versioned,
        read_version,
    )

    root = str(tmp_path / "store")
    orders = t(spark, sf_dir, "orders").limit(50)
    publish_versioned(spark, {"orders": orders}, root)           # v0
    publish_versioned(spark, {"orders": orders.limit(20)}, root)  # v1
    assert list_versions(spark, root) == [0, 1]
    assert read_version(spark, root, "orders", 0).count() == 50
    assert read_version(spark, root, "orders", 1).count() == 20

    # unpublished directory past the marker is not a version
    orders.limit(3).write.parquet(f"{root}/v9/orders")
    assert list_versions(spark, root) == [0, 1]
    with pytest.raises(FileNotFoundError, match="not published"):
        read_version(spark, root, "orders", 9)
    with pytest.raises(FileNotFoundError):
        read_version(spark, root, "orders", -1)

    # retention drops v0 (+ overwrites the v9 garbage on its way to v2)
    publish_versioned(spark, {"orders": orders.limit(5)}, root, keep_last=2)
    assert 0 not in list_versions(spark, root)
    with pytest.raises(FileNotFoundError, match="retention"):
        read_version(spark, root, "orders", 0)


def test_zorder_layout_bounds_both_dimensions(spark, sf_dir, tmp_path):
    """Physical Z-order layout (operators/layout.py::zorder_layout):
    the files written in curve order bound BOTH dimensions, so their
    per-file (x span x y span) rectangles are far smaller than a
    single-key-sorted layout's — the property that makes parquet
    min/max footer stats prune scans filtered on either column."""
    import glob

    from evolution_data_warehouse_spark.operators.layout import (
        zorder_layout,
    )
    from evolution_data_warehouse_spark.queries.common import t

    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    zdir = str(tmp_path / "zorder")
    ldir = str(tmp_path / "linear")
    zorder_layout(li, "l_partkey", "l_suppkey", zdir, n_files=8)
    (
        li.repartitionByRange(8, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(ldir)
    )

    def spans(d: str) -> list[tuple[int, int]]:
        out = []
        for f in sorted(glob.glob(f"{d}/part-*.parquet")):
            st = (
                spark.read.parquet(f)
                .agg(
                    F.max("l_partkey") - F.min("l_partkey"),
                    F.max("l_suppkey") - F.min("l_suppkey"),
                )
                .collect()[0]
            )
            out.append((int(st[0]), int(st[1])))
        assert len(out) == 8, d
        return out

    gx, gy = (
        li.agg(
            F.max("l_partkey") - F.min("l_partkey"),
            F.max("l_suppkey") - F.min("l_suppkey"),
        ).collect()[0]
    )
    zs, ls = spans(zdir), spans(ldir)
    assert (
        spark.read.parquet(zdir).count()
        == spark.read.parquet(ldir).count()
        == li.count()
    )
    # single-key sort: every file's y span is the FULL global range —
    # a filter on l_suppkey prunes nothing
    assert all(y == gy for _, y in ls), (ls, gy)
    # z-order: both dimensions bounded simultaneously (each file covers
    # a small rectangle), so min/max stats prune on EITHER predicate
    assert sum(x for x, _ in zs) / 8 < 0.66 * gx, (zs, gx)
    assert sum(y for _, y in zs) / 8 < 0.66 * gy, (zs, gy)
