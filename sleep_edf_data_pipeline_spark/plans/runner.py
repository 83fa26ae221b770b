"""Fail-fast model-DAG runner (SURVEY §2.4 V7, §3.2).

The reference's ``dbt build`` interleaves each model with its tests and
stops dependents on failure (``pipeline.py:156-173``).  Here a model is
a pure DataFrame function plus optional checks; the runner builds nodes
topologically, and every node takes the same path: build the frame,
materialize it, register it as a temp view, gate it with
:func:`~..quality.validate.assert_checks`, record it in ``built``.  A
failing gate raises before any dependent builds.

Materialization mirrors dbt configs: "view" → nothing (recomputed by
Catalyst at each use), "cached" → persisted (the shared intermediate two
marts consume; the reference gets this for free inside one DuckDB
process, Spark needs the explicit persist to avoid recompute), "table"
→ parquet overwritten under ``warehouse_dir`` and read back (marts).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..quality.validate import Check, assert_checks


@dataclass
class Model:
    name: str
    build: Callable[[SparkSession], DataFrame]
    materialization: str = "view"  # "view" | "table" | "cached"
    checks: Sequence[Check] = field(default_factory=tuple)
    unique_keys: Sequence[Sequence[str]] = field(default_factory=tuple)
    depends_on: Sequence[str] = field(default_factory=tuple)


class ModelRunner:
    """Topological, fail-fast execution of a model DAG."""

    def __init__(self, spark: SparkSession, warehouse_dir: str | None = None):
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.built: dict[str, DataFrame] = {}

    def run(self, models: Sequence[Model]) -> dict[str, DataFrame]:
        by_name = {m.name: m for m in models}
        done: set[str] = set()

        def build(name: str) -> None:
            if name in done:
                return
            m = by_name[name]
            for dep in m.depends_on:
                build(dep)
            df = m.build(self.spark)
            if m.materialization == "cached":
                df = df.persist()
            elif m.materialization == "table":
                if not self.warehouse_dir:
                    raise ValueError(f"table model {m.name} needs a warehouse_dir")
                path = f"{self.warehouse_dir}/{m.name}"
                df.write.mode("overwrite").parquet(path)
                df = self.spark.read.parquet(path)
            df.createOrReplaceTempView(m.name)
            assert_checks(df, m.checks, m.unique_keys, context=f" in {m.name}")
            self.built[m.name] = df
            done.add(name)

        for m in models:
            build(m.name)
        return self.built
