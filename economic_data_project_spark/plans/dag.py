"""Model DAG executor — the engine's replacement for dbt's ref() graph.

The reference materializes ~136 dbt models layer-by-layer
(dbt_project/dbt_project.yml:23-63: staging=view, marts/signals=table,
backtesting=incremental; lifecycle in SURVEY.md §3.1). Here each model is
a named transformation registered with its dependencies; the executor
topologically orders them and materializes per layer policy:

- ``view``        -> createOrReplaceTempView (lazy; Catalyst inlines the
                     plan into downstream consumers — CTE-style fusion,
                     zero extra I/O)
- ``cached_view`` -> view over ``df.cache()``: for a small aggregate
                     consumed by several downstream branches, the fused
                     plan would rescan the fact table once per branch;
                     caching the aggregate pins one scan total while
                     staying lazy (dbt's ephemeral-vs-table tradeoff,
                     priced for a fact table 1000x the aggregate)
- ``table``       -> warehouse parquet write, then registered as a view
                     (cuts re-computation for fan-out consumers)
- ``incremental`` -> Warehouse.incremental_upsert on key/watermark

``ref(name)`` inside a model body is just ``spark.table(name)`` — the
temp-view catalog is the manifest.

Scale: view-materialization keeps whole chains in one Catalyst plan
(filter/projection pushdown crosses model boundaries — dbt can't do
that); table-materialization is the explicit cut point where you pay I/O
to amortize fan-out, exactly the staging-vs-mart tradeoff the reference
encodes in its layer map.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Model:
    name: str
    build: Callable[[SparkSession], DataFrame]
    deps: tuple[str, ...] = ()
    materialization: str = "view"  # view | cached_view | table | incremental
    key_columns: tuple[str, ...] = ()
    watermark_column: str | None = None


@dataclass
class ModelGraph:
    models: dict[str, Model] = field(default_factory=dict)

    def model(
        self,
        name: str,
        deps: tuple[str, ...] = (),
        materialization: str = "view",
        key_columns: tuple[str, ...] = (),
        watermark_column: str | None = None,
    ):
        """Decorator: register ``fn(spark) -> DataFrame`` as a model."""

        def deco(fn: Callable[[SparkSession], DataFrame]):
            if name in self.models:
                raise ValueError(f"duplicate model {name!r}")
            for d in deps:
                if d not in self.models:
                    raise ValueError(
                        f"model {name!r} depends on unknown {d!r}"
                    )
            self.models[name] = Model(
                name, fn, deps, materialization, key_columns, watermark_column
            )
            return fn

        return deco

    def topo_order(self, targets: list[str] | None = None) -> list[str]:
        order: list[str] = []
        seen: set[str] = set()
        onpath: set[str] = set()

        def visit(n: str) -> None:
            if n in seen:
                return
            if n in onpath:
                raise ValueError(f"cycle through model {n!r}")
            onpath.add(n)
            for d in self.models[n].deps:
                visit(d)
            onpath.remove(n)
            seen.add(n)
            order.append(n)

        for t in targets or list(self.models):
            visit(t)
        return order

    def run(
        self,
        spark: SparkSession,
        targets: list[str] | None = None,
        warehouse=None,
    ) -> dict[str, DataFrame]:
        """Materialize models in dependency order; returns name -> frame."""
        out: dict[str, DataFrame] = {}
        for name in self.topo_order(targets):
            m = self.models[name]
            df = m.build(spark)
            if m.materialization == "cached_view":
                # cached_view entries outlive run() — downstream views
                # read them lazily. CacheManager dedups repeat runs on
                # the same sf_dir; each NEW sf_dir adds one generation
                # until a session owner calls caches.free_session_caches.
                df.cache()
                df.createOrReplaceTempView(name)
            elif m.materialization == "view" or warehouse is None:
                df.createOrReplaceTempView(name)
            elif m.materialization == "table":
                warehouse.write_table(df, name)
                warehouse.table(name).createOrReplaceTempView(name)
            elif m.materialization == "incremental":
                warehouse.incremental_upsert(
                    df,
                    name,
                    list(m.key_columns),
                    m.watermark_column,
                    grace=None,
                )
                warehouse.table(name).createOrReplaceTempView(name)
            else:
                raise ValueError(
                    f"unknown materialization {m.materialization!r}"
                )
            out[name] = spark.table(name)
        return out
