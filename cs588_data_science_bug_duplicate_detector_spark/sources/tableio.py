"""Thin table-IO abstraction: Parquet locally, Iceberg when the runtime
jar + catalog are present (SURVEY.md §0: no Iceberg jar in this sandbox,
so the checkpoint layer is written against this seam).

Every stage checkpoint carries lineage in a sidecar ``_meta.json``:
stage name, input fingerprint, config fingerprint, row count, metrics.
``valid_checkpoint`` gates resume — a stale or mismatched checkpoint is
recomputed, never silently reused.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession


class TableIO:
    def __init__(self, root: str, fmt: str = "parquet", catalog: str | None = None):
        self.root = root
        self.fmt = fmt
        self.catalog = catalog  # e.g. "iceberg_cat.db" when the jar is present
        if fmt == "parquet":
            os.makedirs(root, exist_ok=True)

    # --- paths / identifiers ---
    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _meta_path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}._meta.json")

    # --- data ---
    def write(self, df: DataFrame, name: str) -> None:
        if self.fmt == "iceberg":
            df.writeTo(f"{self.catalog}.{name}").using("iceberg").createOrReplace()
            return
        df.write.mode("overwrite").parquet(self._path(name))

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        if self.fmt == "iceberg":
            return spark.read.table(f"{self.catalog}.{name}")
        return spark.read.parquet(self._path(name))

    def exists(self, name: str, spark: SparkSession | None = None) -> bool:
        if self.fmt == "iceberg":
            if spark is None:
                spark = SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError("iceberg exists() needs an active SparkSession")
            return spark.catalog.tableExists(f"{self.catalog}.{name}")
        return os.path.exists(os.path.join(self._path(name), "_SUCCESS"))

    # --- lineage / resume ---
    def write_meta(self, name: str, meta: dict) -> None:
        with open(self._meta_path(name), "w") as f:
            json.dump(meta, f, indent=2, sort_keys=True)

    def read_meta(self, name: str) -> dict | None:
        try:
            with open(self._meta_path(name)) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None

    def valid_checkpoint(self, name: str, input_fingerprint: str) -> bool:
        if not self.exists(name):
            return False
        meta = self.read_meta(name)
        return bool(meta) and meta.get("input_fingerprint") == input_fingerprint
