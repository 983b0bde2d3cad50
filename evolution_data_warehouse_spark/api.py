"""Read-layer API: the FastAPI service's engine-side semantics.

Re-expresses analytics/api/app/routers/tables.py:22-42 +
config.py:25-36: an allowlist of readable tables, a bounded TOP(limit)
row cap (limit ∈ [1, 1000], default 100), and a summary endpoint. The
HTTP layer itself is presentation, not engine (SURVEY §3.3) — any web
framework can wrap these two functions; a minimal WSGI wrapper is
provided for completeness without third-party dependencies.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from evolution_data_warehouse_spark.sources.staging import tables_summary

DEFAULT_LIMIT = 100
MAX_LIMIT = 1000


class TableReadAPI:
    def __init__(self, spark: SparkSession, allowed_tables: list[str]):
        self.spark = spark
        self.allowed = set(allowed_tables)

    def get_table(self, name: str, limit: int = DEFAULT_LIMIT) -> list[dict]:
        """GET /tables/{name}?limit=N — allowlist + clamped limit."""
        if name not in self.allowed:
            raise PermissionError(f"table '{name}' is not exposed")
        limit = max(1, min(int(limit), MAX_LIMIT))
        df: DataFrame = self.spark.table(name).limit(limit)
        return [row.asDict(recursive=True) for row in df.collect()]

    def summary(self) -> list[dict]:
        """GET /tables/summary — name + row/column counts, all tables
        counted in one Spark job."""
        if not self.allowed:
            return []
        tables = {name: self.spark.table(name) for name in self.allowed}
        rows = sorted(tables_summary(tables).collect(), key=lambda r: r.table_name)
        return [
            {"table": r.table_name, "n_rows": r.n_rows, "n_cols": r.n_cols}
            for r in rows
        ]

    def wsgi_app(self, environ, start_response):
        """Minimal WSGI surface: /tables/summary and /tables/<name>."""
        from urllib.parse import parse_qs

        path = environ.get("PATH_INFO", "")
        try:
            if path == "/tables/summary":
                body = self.summary()
            elif path.startswith("/tables/"):
                qs = parse_qs(environ.get("QUERY_STRING", ""))
                limit = int(qs.get("limit", [DEFAULT_LIMIT])[0])
                body = self.get_table(path.split("/", 2)[2], limit)
            else:
                start_response("404 Not Found", [("Content-Type", "application/json")])
                return [b'{"error": "not found"}']
        except PermissionError as exc:
            start_response("403 Forbidden", [("Content-Type", "application/json")])
            return [json.dumps({"error": str(exc)}).encode()]
        payload = json.dumps(body, default=str).encode()
        start_response("200 OK", [("Content-Type", "application/json")])
        return [payload]
