"""The benchmark's workloads.

Each workload owns its seeded inputs, the operations of its timed loop,
the checks of those operations' outputs (run outside the timed region),
the span wrappers of its traced run and the per-layer metrics derived
from those spans and the Spark event log.

* ``etl_batch_load`` -- one cold warehouse load per run: the
  population staging CSV through security, dimensions, the partitioned
  population fact, the post-load validations and the ETL log.
* ``warehouse_reads`` -- one closed-loop client over the star schema
  and a small document corpus: datamart/registry reads, the eight
  corpus-curation operators (quality, repetition, exact/minhash/semantic
  dedup, BPE, LM scoring, image curation), read-API requests,
  row-level-security reads and SCD2 upserts.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import numpy as np
from pyspark.sql import functions as F

import inputs
from metrics import CORPUS_OPS, READ_GROUPS
from tracing import Tracer, median, self_times, subtree_ids

from evolution_data_warehouse_spark import api as api_mod
from evolution_data_warehouse_spark.operators import rls as rls_mod
from evolution_data_warehouse_spark.plans import datamarts as datamarts_mod
from evolution_data_warehouse_spark.queries import REGISTRY
from evolution_data_warehouse_spark.warehouse import scd_store
from tests.oracle_utils import compare


class _Collected:
    """Rows collected from a DataFrame, shaped for ``compare``."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


class Workload:
    """Base: ``setup`` writes inputs and attaches a session, ``op(i)``
    runs the i-th operation of the seeded sequence and returns its kind,
    ``check`` returns the list of wrong results. ``items(kind)`` is the
    work one operation of that kind completes (reads or staged rows) and
    ``in_latency(kind)`` whether its time is an operation latency
    sample. In the first round of the sequence, registry operations
    collect their output for the checks instead of writing it to the
    noop sink."""

    name = ""
    round_len = 1  # the loop only stops on a multiple of this many ops

    def __init__(self, seed: int):
        self.seed = seed
        self.spark = None
        self.tracer = Tracer(enabled=False)
        self.checking = False
        self.outputs: list[tuple] = []  # (query, columns, rows) to check
        self._dbs: dict[str, duckdb.DuckDBPyConnection] = {}

    def attach(self, spark) -> None:
        self.spark = spark

    def op(self, i: int) -> str:
        """Run the i-th operation of the seeded sequence inside its root
        span; returns the operation's kind."""
        o = self.sequence(i)
        self.checking = i < self.round_len
        with self.tracer.span(f"op.{o['kind']}", kind=o["kind"]):
            self.run(o)
        return o["kind"]

    def in_latency(self, kind: str) -> bool:
        return True

    def trace_patch(self, tr: Tracer) -> None:
        """Wrap the layer functions the workload calls indirectly."""

    def registry_op(self, kind: str, query: str) -> None:
        q = REGISTRY[query]
        with self.tracer.span("queries.build", kind=kind):
            df = q.fn(self.spark, self.root)
        with self.tracer.span("queries.exec", kind=kind):
            if self.checking:
                self.outputs.append((query, df.columns, df.collect()))
            else:
                df.write.format("noop").mode("overwrite").save()

    def check_outputs(self) -> list[str]:
        """Compare the collected registry outputs with their DuckDB
        oracles; an oracle that fails to run is a wrong result too."""
        bad = []
        for query, columns, rows in self.outputs:
            try:
                ok, msg = compare(_Collected(columns, rows), self.oracle_db(self.root), REGISTRY[query].oracle)
            except Exception as e:  # noqa: BLE001 - reported as a wrong result
                ok, msg = False, f"oracle check failed: {e!r}"
            if not ok:
                bad.append(f"{query}: {msg}")
        return bad

    def oracle_db(self, root: str) -> duckdb.DuckDBPyConnection:
        """A DuckDB connection with one view per parquet table in root."""
        if root not in self._dbs:
            con = duckdb.connect()
            for f in sorted(os.listdir(root)):
                if f.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{root}/{f}'")
            self._dbs[root] = con
        return self._dbs[root]

    def close(self) -> None:
        for con in self._dbs.values():
            con.close()
        self._dbs.clear()


# --- warehouse_reads ------------------------------------------------------

_REGISTRY_READS = {
    "dashboard": "view_dashboard_twograin",
    "tpch_q3": "tpch_q3",
    "tpch_q5": "tpch_q5",
    "agg_groupby_sum": "agg_groupby_sum",
    "win_version_latest": "win_version_latest",
    "join_asof": "join_asof",
}
_SCD_ATTRS = ["c_mktsegment", "c_acctbal"]
_UNREGISTERED = "visiteur.inconnu"  # no zone row: RLS lets it see everything


class WarehouseReads(Workload):
    name = "warehouse_reads"
    round_len = len(inputs.DECK)  # whole decks only: the mix is exact
    STAR_SCALE = 0.1  # 1.0 = the engine's sf0.1 test data
    N_COMMUNES = 60
    GEO_ROWS = 50_000
    N_DECKS = 40
    N_DOCS = 500  # 0.1x the engine's sf0.1 corpus
    N_VECS = 200

    def setup(self, spark, root: str) -> dict:
        self.root = root
        rng = np.random.default_rng(self.seed)
        star = inputs.write_star(rng, root, self.STAR_SCALE)
        corpus = inputs.write_corpus(rng, root, self.N_DOCS, self.N_VECS)
        star["bytes"] += corpus.pop("bytes")
        self.nrows = star["rows"]
        self.communes = inputs.communes(rng, self.N_COMMUNES)
        geo_bytes = inputs.write_geo_fact(rng, os.path.join(root, "geo_fact.parquet"),
                                          self.communes, self.GEO_ROWS)
        geo_bytes += inputs.write_zones(self.communes, os.path.join(root, "utilisateurs_zones.parquet"))
        self.deck = inputs.read_deck(rng, self.N_DECKS)
        self.scd_dir = os.path.join(root, "dim_customer_scd")
        self.records: list[tuple] = []
        self.n_upserts = 0
        self.attach(spark)
        cust = spark.read.parquet(f"{root}/customer.parquet").select("c_custkey", *_SCD_ATTRS)
        scd_store.upsert_scd2(spark, self.scd_dir, cust, "c_custkey", _SCD_ATTRS,
                              F.lit(inputs.EPOCH).cast("timestamp"))
        return {"rows": star["rows"], "bytes": star["bytes"] + geo_bytes, "corpus": corpus,
                "geo_fact_rows": self.GEO_ROWS, "ops_in_sequence": len(self.deck)}

    def attach(self, spark) -> None:
        super().attach(spark)
        datamarts_mod.register_star_views(spark, self.root)
        self.api = api_mod.TableReadAPI(spark, inputs.API_TABLES)
        self.zones = spark.read.parquet(os.path.join(self.root, "utilisateurs_zones.parquet"))
        self.zone_rows = sorted((r.login, r.scope) for r in self.zones.collect())
        self.logins = sorted({z[0] for z in self.zone_rows}) + [_UNREGISTERED]

    def touch(self) -> None:
        """First use of the attached session: one read-API request."""
        self.api.get_table("region", 1)

    def sequence(self, i: int) -> dict:
        return self.deck[i % len(self.deck)]

    def run(self, o: dict) -> None:
        kind, spark = o["kind"], self.spark
        rec = None
        if kind in _REGISTRY_READS:
            self.registry_op(kind, _REGISTRY_READS[kind])
        elif kind in CORPUS_OPS:
            self.registry_op(kind, kind)
        elif kind == "api_get":
            try:
                rec = ("api_get", o["table"], o["limit"], len(self.api.get_table(o["table"], o["limit"])))
            except PermissionError:
                rec = ("api_get", o["table"], o["limit"], None)
        elif kind == "api_summary":
            rec = ("api_summary", self.api.summary())
        elif kind == "rls":
            user = self.logins[o["user"] % len(self.logins)]
            with self.tracer.span("operators.rls.build"):
                df = rls_mod.secured(spark.read.parquet(f"{self.root}/geo_fact.parquet"),
                                     self.zones, user, "departement_code")
            with self.tracer.span("queries.exec", kind=kind):
                row = df.agg(F.count(F.lit(1)).alias("n"),
                             F.sum(F.col("valeur").cast("decimal(28,2)")).alias("s")).first()
            rec = ("rls", user, row.n, row.s)
        elif kind == "upsert":
            self.n_upserts += 1
            batch = inputs.changed_customers(o["seed"], self.nrows["customer"], o["share"], self.n_upserts)
            staged = spark.createDataFrame(batch, "c_custkey long, c_mktsegment string, c_acctbal double")
            eff = inputs.EPOCH + dt.timedelta(minutes=self.n_upserts)
            v = scd_store.upsert_scd2(spark, self.scd_dir, staged, "c_custkey", _SCD_ATTRS,
                                      F.lit(eff).cast("timestamp"))
            rec = ("upsert", v, batch)
        else:
            raise ValueError(f"unknown operation kind {kind!r}")
        if rec is not None:
            self.records.append(rec)

    def in_latency(self, kind: str) -> bool:
        return kind != "upsert"

    def items(self, kind: str) -> float:
        return 1.0 if kind != "upsert" else 0.0

    # -- output checks (outside the timed region) --

    def check(self) -> list[str]:
        """The registry reads and corpus operators of the first deck
        against their oracles, and the recorded API, RLS and upsert
        results against DuckDB."""
        bad = self.check_outputs()
        con = self.oracle_db(self.root)
        ncols = {t: len(con.execute(f"SELECT * FROM {t} LIMIT 0").description) for t in inputs.API_TABLES}
        scopes: dict[str, list] = {}
        for login, scope in self.zone_rows:
            scopes.setdefault(login, []).append(scope)
        geo = f"read_parquet('{self.root}/geo_fact.parquet')"
        for rec in self.records:
            kind = rec[0]
            if kind == "api_get":
                _, table, limit, got = rec
                want = None if table not in inputs.API_TABLES else min(max(1, limit), 1000, self.nrows[table])
                if got != want:
                    bad.append(f"api_get {table} limit={limit}: {got} rows, want {want}")
            elif kind == "api_summary":
                want = [{"table": t, "n_rows": self.nrows[t], "n_cols": ncols[t]} for t in sorted(inputs.API_TABLES)]
                if rec[1] != want:
                    bad.append(f"api_summary: {rec[1]} != {want}")
            elif kind == "rls":
                _, user, n, s = rec
                sc = scopes.get(user)
                where = "" if sc is None or None in sc else \
                    "WHERE departement_code IN (" + ",".join(f"'{x}'" for x in sc) + ")"
                want = con.execute(f"SELECT count(*), sum(CAST(valeur AS DECIMAL(28,2))) FROM {geo} {where}").fetchone()
                if (n, s) != tuple(want):
                    bad.append(f"rls {user}: {(n, s)} != {want}")
            elif kind == "upsert":
                bad.extend(self._check_upsert(con, *rec[1:]))
        self.close()
        return bad

    def _check_upsert(self, con, v: int, batch: list) -> list[str]:
        path = f"read_parquet('{self.scd_dir}/v{v}/*.parquet')"
        n_active, max_per_key = con.execute(
            f"SELECT count(*), max(k) FROM (SELECT c_custkey, count(*) k FROM {path} "
            f"WHERE est_actif GROUP BY c_custkey)").fetchone()
        bad = []
        if n_active != self.nrows["customer"] or max_per_key != 1:
            bad.append(f"upsert v{v}: {n_active} keys active, up to {max_per_key} active rows per key")
        con.execute("CREATE OR REPLACE TEMP TABLE _batch (c_custkey BIGINT, c_mktsegment VARCHAR, c_acctbal DOUBLE)")
        con.executemany("INSERT INTO _batch VALUES (?, ?, ?)", batch)
        missing = con.execute(
            f"SELECT count(*) FROM _batch b LEFT JOIN (SELECT * FROM {path} WHERE est_actif) d "
            f"USING (c_custkey) WHERE d.c_mktsegment IS DISTINCT FROM b.c_mktsegment "
            f"OR d.c_acctbal IS DISTINCT FROM b.c_acctbal").fetchone()[0]
        if missing:
            bad.append(f"upsert v{v}: {missing} changed keys not visible")
        return bad

    # -- traced run --

    def trace_patch(self, tr: Tracer) -> None:
        tr.wrap(datamarts_mod, "create_datamarts", "plans.datamarts.create")
        tr.wrap(api_mod.TableReadAPI, "get_table", "api.get_table")
        tr.wrap(api_mod.TableReadAPI, "summary", "api.summary")
        tr.wrap(rls_mod, "secured", "operators.rls.secured")
        tr.wrap(scd_store, "upsert_scd2", "warehouse.scd_store.upsert")
        tr.wrap(scd_store, "read_dimension", "warehouse.scd_store.read")

    def layer_metrics(self, spans, groups, cores: int) -> dict:
        by = _by_name(spans)
        roots = [s for s in spans if s.parent is None]
        out = {}
        for g in ("dashboard", "star_join", "agg_window"):
            for part in ("build", "exec"):
                xs = [s.dur for s in by.get(f"queries.{part}", ()) if READ_GROUPS.get(s.attrs.get("kind")) == g]
                out[f"queries.{part}_ms.{g}"] = 1e3 * median(xs)
        reads = [s for s in roots if s.attrs.get("kind") in _REGISTRY_READS]
        tot = _sum_groups(spans, reads, groups)
        n = max(1, len(reads))
        out["queries.spark_jobs_per_read"] = tot["jobs"] / n
        out["queries.tasks_per_read"] = tot["tasks"] / n
        out["queries.shuffle_write_bytes_per_read"] = tot["shuffle_write_bytes"] / n
        busy = sum(s.dur for s in reads) * cores * 1e3
        out["queries.idle_frac"] = 1.0 - tot["executor_run_ms"] / busy if busy else 0.0
        out["plans.datamarts.create_ms"] = 1e3 * median([s.dur for s in by.get("plans.datamarts.create", ())])
        out["api.get_table_ms"] = 1e3 * median([s.dur for s in by.get("api.get_table", ())])
        summ = by.get("api.summary", [])
        out["api.summary_ms"] = 1e3 * median([s.dur for s in summ])
        out["api.summary.spark_jobs"] = _sum_groups(spans, summ, groups)["jobs"] / max(1, len(summ))
        out["operators.rls.secured_ms"] = 1e3 * median([s.dur for s in roots if s.attrs.get("kind") == "rls"])
        out["warehouse.scd_store.upsert_ms"] = 1e3 * median([s.dur for s in by.get("warehouse.scd_store.upsert", ())])
        out["warehouse.scd_store.read_ms"] = 1e3 * median([s.dur for s in by.get("warehouse.scd_store.read", ())])
        versions = scd_store.list_versions(self.scd_dir)  # the newest is the live one
        out["warehouse.scd_store.versions"] = float(len(versions))
        out["warehouse.scd_store.bytes_per_live_byte"] = (
            _dir_bytes(self.scd_dir) / max(1, _dir_bytes(os.path.join(self.scd_dir, f"v{versions[-1]}"))))
        for kind in CORPUS_OPS:
            mine = [s for s in roots if s.attrs.get("kind") == kind]
            n = max(1, len(mine))
            tot = _sum_groups(spans, mine, groups)
            out[f"queries.{kind}.wall_s"] = median([s.dur for s in mine])
            out[f"queries.{kind}.executor_run_s"] = tot["executor_run_ms"] / 1e3 / n
            out[f"queries.{kind}.shuffle_write_bytes"] = tot["shuffle_write_bytes"] / n
            out[f"queries.{kind}.python_worker_s"] = tot["python_worker_ms"] / 1e3 / n
        return out


# --- etl_batch_load ---------------------------------------------------------


class EtlBatchLoad(Workload):
    """One load per run, in a cold process: a batch load runs once per
    process, so the cold load is the one users wait for."""

    name = "etl_batch_load"
    N_COMMUNES = 100
    # orphan time and geography keys of the fact, non-negative population
    N_VALIDATIONS = 3

    def setup(self, spark, root: str) -> dict:
        from tests.warehouse_fixtures import make_specs

        self.root = root
        stats = inputs.write_staging(np.random.default_rng(self.seed), os.path.join(root, "staging"),
                                     self.N_COMMUNES)
        self.paths = stats["paths"]
        self.specs = make_specs(self.paths)
        self.communes = stats.pop("communes")
        self.stats = stats
        self.records = []
        self.attach(spark)
        return {k: v for k, v in stats.items() if k != "paths"}

    def touch(self) -> None:
        self.spark.read.option("header", True).csv(self.paths["stg_population"]).schema

    def sequence(self, i: int) -> dict:
        return {"kind": "load", "i": i}

    def run(self, o: dict) -> None:
        from evolution_data_warehouse_spark.warehouse.etl import run_full_etl

        out = os.path.join(self.root, f"out{o['i']}")
        report, validations = run_full_etl(
            self.spark, self.specs, out, self.spark.createDataFrame(
                self.communes, "commune_code string, commune_nom string, departement_code string, population long"))
        self.records.append((out, [(r.name, r.status) for r in report.results],
                             [(v.name, v.ok) for v in validations]))

    def items(self, kind: str) -> float:
        return float(self.stats["total_rows"])

    def check(self) -> list[str]:
        bad = []
        con = duckdb.connect()
        expect = _etl_oracle(con, self.paths)
        for out, statuses, validations in self.records:
            bad += [f"{out}: step {n} {s}" for n, s in statuses if s != "OK"]
            bad += [f"{out}: validation {n} failed" for n, ok in validations if not ok]
            if len(validations) != self.N_VALIDATIONS:
                bad.append(f"{out}: {len(validations)} validations, want {self.N_VALIDATIONS}")
            for fact, (sql, want) in expect.items():
                got = con.execute(sql.format(src=f"read_parquet('{out}/{fact}/*/*.parquet')")).fetchone()
                if tuple(got) != tuple(want):
                    bad.append(f"{out}: {fact} {got} != {want}")
        con.close()
        return bad

    def trace_patch(self, tr: Tracer) -> None:
        from evolution_data_warehouse_spark.operators import etl_log
        from evolution_data_warehouse_spark.warehouse import dimensions, etl, facts

        tr.wrap(etl, "prepare_tables", "sources.staging")
        tr.wrap(dimensions, "build_all", "warehouse.dimensions")
        for b in ("build_agencies", "build_employees", "build_zones"):
            tr.wrap(etl, b, "operators.security")
        for name in dir(facts):
            if name.startswith("fait_"):
                tr.wrap(facts, name, "warehouse.facts")
        table = lambda df, out_dir, name, *a, **k: {"table": name}  # noqa: E731
        tr.wrap(etl, "write_table", "warehouse.etl.write", table)
        tr.wrap(etl, "write_fact_incremental", "warehouse.etl.write", table)
        tr.wrap(etl, "run_validations", "operators.quality")
        tr.wrap(etl_log, "log_event", "operators.etl_log")

    def layer_metrics(self, spans, groups, cores: int) -> dict:
        by = _by_name(spans)
        roots = [s for s in spans if s.parent is None]
        n = max(1, len(roots))

        def tot(ss):
            return _sum_groups(spans, ss, groups)

        writes = by.get("warehouse.etl.write", [])
        tagged = lambda p: [s for s in writes if s.attrs.get("table", "").startswith(p)]  # noqa: E731
        staging = by.get("sources.staging", [])
        dims = by.get("warehouse.dimensions", []) + tagged("dim_")
        sec = by.get("operators.security", []) + tagged("security_")
        facts = by.get("warehouse.facts", []) + tagged("fait_")
        quality = by.get("operators.quality", [])
        logs = by.get("operators.etl_log", [])
        wall = lambda ss: sum(s.dur for s in ss) / n  # noqa: E731
        out = {
            "sources.staging.wall_s": wall(staging),
            "sources.staging.input_bytes": tot(staging)["input_bytes"] / n,
            "warehouse.dimensions.wall_s": wall(dims),
            "operators.security.wall_s": wall(sec),
            "warehouse.facts.wall_s": wall(facts),
            "warehouse.facts.spark_jobs": tot(facts)["jobs"] / n,
            "warehouse.facts.shuffle_write_bytes": tot(facts)["shuffle_write_bytes"] / n,
            "warehouse.facts.csv_reread_ratio":
                (tot(facts)["input_bytes"] + tot(quality)["input_bytes"]) / n / self.stats["bytes"],
            "warehouse.etl.write.wall_s": wall(writes),
            "warehouse.etl.write.output_bytes": tot(writes)["output_bytes"] / n,
            "warehouse.etl.write.files": _count_files(self.records[-1][0], "log_etl") if self.records else 0.0,
            "operators.quality.wall_s": wall(quality),
            "operators.quality.spark_jobs": tot(quality)["jobs"] / n,
            "operators.etl_log.wall_s": wall(logs),
            "operators.etl_log.files": _count_files(os.path.join(self.records[-1][0], "log_etl"))
            if self.records else 0.0,
        }
        own_time = self_times(spans)
        out["pipeline.overhead_s"] = sum(own_time[r.id] for r in roots) / n
        return out


_FACT_ORACLES = {
    # fact -> (DuckDB aggregate over the staged rows, the same
    #          aggregate over the written fact)
    "fait_population": (
        "SELECT count(*), sum(v) FROM (SELECT sum(v) v FROM pop GROUP BY y, d, SEX, AGE_GROUP)",
        "SELECT count(*), sum(population) FROM {src}"),
}
_STG_ALIAS = {"pop": "stg_population"}


def _etl_oracle(con, paths: dict) -> dict:
    """Per fact: (SQL over the written fact, expected (rows, sums))
    computed by DuckDB from the same CSVs with staging's semantics:
    all-text read, numeric coercion to NULL, exact-row dedup."""
    for alias, table in _STG_ALIAS.items():
        con.execute(
            f"CREATE OR REPLACE VIEW {alias} AS SELECT DISTINCT * EXCLUDE (OBS_VALUE), "
            f"TRY_CAST(OBS_VALUE AS DOUBLE) v, CAST(TIME_PERIOD AS INT) y, DEPARTEMENT_CODE d "
            f"FROM read_csv('{paths[table]}', all_varchar=true, header=true)")
    return {fact: (got, con.execute(want).fetchone()) for fact, (want, got) in _FACT_ORACLES.items()}


# --- helpers ----------------------------------------------------------------


def _by_name(spans) -> dict:
    out: dict = {}
    for s in spans:
        out.setdefault(s.name, []).append(s)
    return out


def _sum_groups(spans, roots, groups) -> dict:
    """Summed job metrics of the given spans and all their descendants."""
    tot = {"jobs": 0, "tasks": 0, "executor_run_ms": 0.0, "gc_ms": 0.0, "input_bytes": 0,
           "output_bytes": 0, "shuffle_write_bytes": 0, "python_worker_ms": 0.0}
    seen = set()
    for r in roots:
        for sid in subtree_ids(spans, r.id):
            if sid in seen or sid not in groups:
                continue
            seen.add(sid)
            for k in tot:
                tot[k] += groups[sid][k]
    return tot


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def _count_files(path: str, skip: str | None = None) -> float:
    n = 0
    for r, dirs, fs in os.walk(path):
        if skip and skip in dirs:
            dirs.remove(skip)
        n += sum(f.endswith(".parquet") for f in fs)
    return float(n)


WORKLOADS = {w.name: w for w in (EtlBatchLoad, WarehouseReads)}
