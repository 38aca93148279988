"""The workloads: what one pass runs, and how each op is checked.

An op is one user-visible request: build the frame through the engine's
public entry point, then sink it (a warehouse write, a parquet write, or
a capped collect to the client). Its latency covers build and sink; the
output check runs afterwards, outside the timed region.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from . import inputs

# The NL->SQL safety limit (sources/nl_sql.py default); registry reads
# are capped at the same row count when collected to the client.
ROW_LIMIT = 1000

# Econ-side headline rows of bench.py whose cold build plus DuckDB check
# fit the run budget: an aggregate, a three-layer ModelGraph and a signal
# (each further model adds about 3 s to a cold build).
ECON_MODELS = [
    "pricing_summary",
    "dag_model_chain",
    "signal_fear_greed",
]

# Per-token corpus products whose DuckDB oracles stay affordable on long
# documents (the dedup, screening and manifest oracles take 17-83 s on
# twenty 2000-token documents; text_repetition_scores' oracle costs
# seconds per document, and its cold build does not fit the run budget).
CORPUS_PRODUCTS = [
    "dsir_importance_weights",
    "nb_quality_classifier",
]

# Search and dashboard reads that fit the run budget (hybrid_rrf_search,
# series_latest_aggregates and signal_current_setups add 1-2 s each per
# warm pass); dedup_embedding_cosine brings the pandas worker boundary.
ANALYST_READS = [
    "ann_cosine_topk_filtered",
    "keyword_search_topk",
    "latest_order_per_customer",
    "treasury_yield_curve_spreads",
    "dedup_embedding_cosine",
]

MART = "customer_revenue"
MART_TABLES = ["customer", "orders", "lineitem", MART]

# Questions the template generator answers; every answer is fully
# determined (no LIMIT over ties, no unordered LIMIT that could bind).
# Three read the mart the upserts write.
QUESTIONS = [
    f"how many rows in {MART}",
    f"total revenue by c_nationkey in {MART}",
    f"{MART} rows where revenue is over 880000",
    "average l_extendedprice by l_returnflag in lineitem",
]


@dataclass
class Op:
    name: str
    kind: str  # model | product | read | nl | upsert
    build: Callable[[], object]
    sink: Callable[[object], object]
    check: Callable[[object], str | None]
    write_dir: str | None = None


@dataclass
class Sizes:
    """Input sizes printed with every run."""

    docs: int = 0
    tokens: int = 0
    rows: int = 0
    bytes: int = 0
    requests: int = 0

    def as_dict(self) -> dict[str, int]:
        return dict(self.__dict__)


def _collect(df):
    return df.columns, [tuple(r) for r in df.collect()]


class Workload:
    name = ""
    # A build: engine caches are freed at the start of every pass, and the
    # measured pass is the first in the process (a cold build, as a
    # scheduled job runs it). Otherwise a warm session.
    build = True

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.sizes = Sizes()

    def generate(self, out_dir: str) -> None:
        raise NotImplementedError

    def prepare(self, checker) -> None:
        """Session-side set-up after the inputs exist (views, marts)."""

    def ops(self, pass_no: int) -> list[Op]:
        raise NotImplementedError

    def _add_sizes(self, tables, sizes_by_table) -> None:
        self.sizes.rows += sum(t.num_rows for t in tables.values())
        self.sizes.bytes += sum(sizes_by_table.values())
        docs = tables.get("documents")
        if docs is not None:
            self.sizes.docs += docs.num_rows
            self.sizes.tokens += sum(len(x.split()) for x in docs.column("text").to_pylist())


def _registry():
    from economic_data_project_spark import registry

    return registry.all_queries(), registry.all_oracles()


class _WriteAll(Workload):
    """A build pass: each target is built and written to the warehouse,
    then read back and compared to its registry oracle."""

    targets: list[str] = []

    def prepare(self, checker) -> None:
        from economic_data_project_spark.sources.warehouse import Warehouse

        self.queries, self.oracles = _registry()
        self.checker = checker
        self.wh = Warehouse(self.spark, os.path.join(self.work, "warehouse", self.name))
        self.sizes.requests = len(self.targets)

    def _check(self, name: str):
        def check(_result) -> str | None:
            df = self.spark.read.parquet(self.wh.table_path(name))
            return self.checker.compare(*_collect(df), self.oracles[name])

        return check

    def ops(self, pass_no: int) -> list[Op]:
        return [
            Op(
                name,
                self.kind,
                lambda n=name: self.queries[n](self.spark, self.sf_dir),
                lambda df, n=name: self.wh.write_table(df, n),
                self._check(name),
                write_dir=self.wh.table_path(name),
            )
            for name in self.targets
        ]


class EconBuild(_WriteAll):
    name = "econ_build"
    kind = "model"
    targets = ECON_MODELS

    def generate(self, out_dir: str) -> None:
        tables = inputs.star_tables(self.seed, 0.001)
        self._add_sizes(tables, inputs.write_tables(tables, out_dir))
        self.sf_dir = out_dir


class CorpusLongdoc(_WriteAll):
    name = "corpus_longdoc"
    kind = "product"
    targets = CORPUS_PRODUCTS

    def generate(self, out_dir: str) -> None:
        docs = inputs.longdoc_documents(self.seed, 40, 2000)
        self._add_sizes({"documents": docs}, inputs.write_tables({"documents": docs}, out_dir))
        self.sf_dir = out_dir


class AnalystMix(Workload):
    """Warm session, one client, closed loop, zero think time."""

    name = "analyst_mix"
    build = False

    def generate(self, out_dir: str) -> None:
        tables = inputs.star_tables(self.seed, 0.001)
        self._add_sizes(tables, inputs.write_tables(tables, out_dir))
        self.sf_dir = out_dir
        # the mart the questions read and the upserts write
        self.mart = inputs.analyst_mart(tables)
        self.sizes.rows += self.mart.num_rows
        # every pass serves the same multiset of requests: each registry
        # read and each question once, plus upserts at about one request
        # in ten; only the order is seeded
        n_up = max(1, round((len(ANALYST_READS) + len(QUESTIONS)) / 9))
        self.plan = (
            [("read", r) for r in ANALYST_READS]
            + [("nl", q) for q in QUESTIONS]
            + [("upsert", MART)] * n_up
        )
        order = np.random.default_rng([self.seed, 4]).permutation(len(self.plan))
        self.plan = [self.plan[i] for i in order]
        self.sizes.requests = len(self.plan)

    def prepare(self, checker) -> None:
        from economic_data_project_spark.catalog import load_table
        from economic_data_project_spark.sources.warehouse import Warehouse

        self.queries, self.oracles = _registry()
        self.checker = checker
        self.wh = Warehouse(self.spark, os.path.join(self.work, "warehouse", self.name))
        for t in MART_TABLES[:-1]:
            load_table(self.spark, self.sf_dir, t).createOrReplaceTempView(t)
        inputs.write_tables({"part-0": self.mart}, self.wh.table_path(MART))
        self.wh.register_views(MART)
        checker.view(MART, self.wh.table_path(MART))
        self.keys = self.mart.column("c_custkey").to_numpy()
        self.watermark = self.mart.column("updated_at").to_pandas().max().to_pydatetime()
        self.next_key = int(self.keys.max()) + 1
        self.step = 0

    def ops(self, pass_no: int) -> list[Op]:
        out = []
        for kind, arg in self.plan:
            if kind == "read":
                out.append(self._read(arg))
            elif kind == "nl":
                out.append(self._nl(arg))
            else:
                out.append(self._upsert())
        return out

    def _read(self, name: str) -> Op:
        def check(result) -> str | None:
            cols, rows = result
            if len(rows) >= ROW_LIMIT:  # capped: the full answer is larger
                return None
            return self.checker.compare(cols, rows, self.oracles[name])

        return Op(
            name,
            "read",
            lambda: self.queries[name](self.spark, self.sf_dir),
            lambda df: _collect(df.limit(ROW_LIMIT)),
            check,
        )

    def _nl(self, question: str) -> Op:
        from economic_data_project_spark.sources import nl_sql
        from economic_data_project_spark.sources.warehouse import add_safety_limit

        generated = {}

        def generator(q: str, hint: str) -> str:
            generated["sql"] = nl_sql.template_generator(q, hint)
            return generated["sql"]

        def check(result) -> str | None:
            sql = add_safety_limit(generated["sql"], ROW_LIMIT)
            return self.checker.compare_close(*result, sql)

        return Op(
            "nl_to_sql",
            "nl",
            lambda: nl_sql.nl_to_sql(
                self.spark, question, MART_TABLES, generator=self.generator(generator),
                row_limit=ROW_LIMIT,
            ),
            _collect,
            check,
        )

    def generator(self, fn):
        """Hook for the traced run to time generator calls."""
        return fn

    def _upsert(self) -> Op:
        self.step += 1
        batch = inputs.analyst_batch(
            self.seed, self.step, self.keys, self.next_key, self.watermark, 8
        )
        path = os.path.join(self.work, "batches", f"b{self.step}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(batch, path)
        new_keys = batch.column("c_custkey").to_numpy()
        expect = len(np.union1d(self.keys, new_keys))
        self.keys = np.union1d(self.keys, new_keys)
        self.next_key = int(self.keys.max()) + 1
        self.watermark = batch.column("updated_at").to_pandas().max().to_pydatetime()

        def sink(df):
            self.wh.incremental_upsert(df, MART, ["c_custkey"], "updated_at")
            # the swap replaced the files: re-point the view NL reads use
            self.wh.register_views(MART)

        def check(_result) -> str | None:
            mart = pq.read_table(self.wh.table_path(MART), columns=["c_custkey"])
            keys = mart.column("c_custkey").to_numpy()
            if len(keys) != expect:
                return f"{len(keys)} rows after upsert, expected {expect}"
            if len(np.unique(keys)) != len(keys):
                return "duplicate keys after upsert"
            return None

        return Op(
            "upsert",
            "upsert",
            lambda: self.spark.read.parquet(path),
            sink,
            check,
            write_dir=self.wh.table_path(MART),
        )


WORKLOADS = {w.name: w for w in (EconBuild, CorpusLongdoc, AnalystMix)}
