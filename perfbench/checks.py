"""Correctness gate: canonical result hashes, DuckDB oracles, and the
reference hashes of results that have no oracle of their own.

A result's hash is order-free: columns sorted by name, every value as
text, rows sorted. The DuckDB oracles in `entry_queries` run once per
seed and input size, and their hashes are stored in the work directory
so later runs of the same seed compare against them. The element
identity set has no oracle: `identity.json` holds its hash for seeds
1-10 at the benchmark's sizes, generated when the benchmark was
defined; for any other seed the first local run's hash is the reference.
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "identity.json")) as f:
    IDENTITY: dict[str, str] = json.load(f)


def frame_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)].astype(object)
    pdf = pdf.where(pdf.notna(), None).astype(str)
    rows = pdf.sort_values(list(pdf.columns)).to_csv(index=False)
    return hashlib.md5(rows.encode()).hexdigest()


def spark_hash(df) -> str:
    from pyspark.sql.types import MapType

    pdf = df.toPandas()
    for f in df.schema.fields:
        if isinstance(f.dataType, MapType):
            # a map's entry order is not part of its value
            pdf[f.name] = pdf[f.name].map(
                lambda m: None if m is None else tuple(sorted(dict(m).items()))
            )
    return frame_hash(pdf)


class Record:
    """Per-seed store of reference hashes (`key` -> hash). Keys name the
    input (seed and size), so a changed input size never meets a stale
    hash."""

    def __init__(self, work: str, name: str):
        self.path = os.path.join(work, "oracle", name + ".json")
        self.data: dict[str, str] = {}
        if os.path.isfile(self.path):
            with open(self.path) as f:
                self.data = json.load(f)

    def get_or_compute(self, key: str, compute) -> str:
        if key not in self.data:
            self.data[key] = compute()
            self._save()
        return self.data[key]

    def first(self, key: str, value: str) -> bool:
        """Store `value` if `key` is new; True when it equals the stored one."""
        if key not in self.data:
            self.data[key] = value
            self._save()
        return self.data[key] == value

    def _save(self) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.data, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)


def duckdb_hash(views: dict[str, str], sql: str, transform=None) -> str:
    """Hash of `sql` run by DuckDB over parquet views {name: glob}."""
    import duckdb

    con = duckdb.connect()
    try:
        for name, pattern in views.items():
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{pattern}')"
            )
        pdf = con.execute(sql).fetchdf()
    finally:
        con.close()
    return frame_hash(transform(pdf) if transform else pdf)
