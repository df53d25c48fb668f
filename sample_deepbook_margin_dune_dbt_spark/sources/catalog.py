"""Source catalog: named external inputs → storage paths.

Replaces the reference's dbt source declarations
(``models/sources/_sources.yml:4-10``) plus the database-rebinding override
(``macros/dune_dbt_overrides/source.sql:1-5`` — which repoints every source
to Dune's ``delta_prod``): here a source is a ``"database.table"`` key mapped
to a parquet/Delta path, and rebinding is just a different mapping (SURVEY
§2.1 S4, §2.9 C2/C6).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


class SourceCatalog:
    """Named sources with per-source format/schema/options.

    A source value is either a plain parquet path (the common case) or a
    spec dict ``{"path": ..., "format": "parquet|csv|json|delta", "schema":
    DDL-string, "options": {...}}`` — covering file-format diversity without
    leaking reader mechanics into model code. For text formats, pass an
    explicit schema: schema inference is a full extra pass over the data,
    which is unacceptable at scale (and nondeterministic on dirty data).
    """

    def __init__(self, mapping: dict[str, object] | None = None):
        self._mapping: dict[str, object] = dict(mapping or {})

    def add(
        self,
        database: str,
        table: str,
        path: str,
        format: str = "parquet",
        schema: str | None = None,
        options: dict[str, str] | None = None,
    ) -> "SourceCatalog":
        self._mapping[f"{database}.{table}"] = {
            "path": path,
            "format": format,
            "schema": schema,
            "options": options or {},
        }
        return self

    def _spec(self, database: str, table: str) -> dict:
        key = f"{database}.{table}"
        if key not in self._mapping:
            raise KeyError(f"source {key!r} not registered (have: {sorted(self._mapping)})")
        raw = self._mapping[key]
        if isinstance(raw, str):
            return {"path": raw, "format": "parquet", "schema": None, "options": {}}
        return {"schema": None, "options": {}, "format": "parquet", **raw}

    def path(self, database: str, table: str) -> str:
        return self._spec(database, table)["path"]

    def mapping(self) -> dict[str, object]:
        return dict(self._mapping)

    def read(self, spark: SparkSession, database: str, table: str) -> DataFrame:
        spec = self._spec(database, table)
        reader = spark.read.format(spec["format"]).options(**spec["options"])
        if spec["schema"]:
            reader = reader.schema(spec["schema"])
        return reader.load(spec["path"])

    def register_views(self, spark: SparkSession) -> None:
        """Register every source as ``database_table`` temp view for spark.sql."""
        for key in self._mapping:
            db, _, table = key.partition(".")
            self.read(spark, db, table).createOrReplaceTempView(key.replace(".", "_"))


def testdata_sources(sf_dir: str) -> dict[str, str]:
    """Map the driver's generic tables (TESTDATA.md) under the ``main`` db."""
    names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    return {f"main.{n}": os.path.join(sf_dir, f"{n}.parquet") for n in names}
