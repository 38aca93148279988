"""Warehouse API: the programmatic query/write surface of the engine.

Re-implements the reference's warehouse resource contract on Spark:
- ``execute_query``   — read-only-gated, named-parameter SQL
  (bigquery_warehouse.py:266-299 + bigquery_query.py:14-120)
- ``write_table``     — drop-and-replace load (bigquery_warehouse.py:111-122)
- ``upsert``          — staging + MERGE on key columns
  (bigquery_warehouse.py:124-179)
- ``append_aligned``  — append with column alignment: missing columns
  padded NULL, order matched to the target (bigquery_warehouse.py:310-348)
- ``normalize_column_types`` — drifted-type normalization via try_cast
  (bigquery_warehouse.py:181-243)
- sampling helpers    — top-|metric| / random / mixed reads
  (bigquery_warehouse.py:351-398)

Storage is path-based parquet (one directory per table) so the API works
against any filesystem; on a cluster deployment the same call shapes map
onto Delta/Iceberg ``MERGE INTO`` — the upsert here is the engine-neutral
join-merge plan (anti-join survivors + new rows), which is exactly what a
MERGE executes physically when every matched row is replaced.

Scale notes: upsert shuffles both sides once on the key; at 100 TB the
target should be partitioned (``partition_by``) so the rewrite touches
only affected partitions (dynamic partition overwrite), mirroring
incremental-model behavior (SURVEY.md §2.1).
"""

from __future__ import annotations

import os
import re
from datetime import date, datetime
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_parquet


class QueryValidationError(ValueError):
    pass


# ------------------------------------------------------------ query gate
#
# The gate lexes strings and comments in ONE left-to-right scan, the way
# Spark's lexer does. Two sequential regex passes desync from the real
# lexer: stripping comments before strings turns `SELECT 'x--'; DROP ...`
# into a single commented-out statement, and modelling '' doubling but
# not backslash escapes misplaces string boundaries on quoted params.
# Escaping matched here: backslash escapes in '...' and "..." literals
# ('' is two adjacent literals in Spark, not an escape — the scan treats
# the second quote as closing, which tokenizes identically), `...`
# identifiers with `` doubling, `--` line comments, nested /* */.


def _scan(sql: str):
    """Yield (start, end, kind) spans; kind in code|string|comment|ident."""
    i, n, last = 0, len(sql), 0
    while i < n:
        ch = sql[i]
        if ch == "-" and sql.startswith("--", i):
            if last < i:
                yield (last, i, "code")
            j = sql.find("\n", i)
            j = n if j == -1 else j
            yield (i, j, "comment")
            i = last = j
        elif ch == "/" and sql.startswith("/*", i):
            if last < i:
                yield (last, i, "code")
            depth, j = 1, i + 2
            while j < n and depth:
                if sql.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif sql.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            yield (i, j, "comment")
            i = last = j
        elif ch in ("'", '"'):
            if last < i:
                yield (last, i, "code")
            j = i + 1
            while j < n:
                if sql[j] == "\\" and j + 1 < n:
                    j += 2
                elif sql[j] == ch:
                    j += 1
                    break
                else:
                    j += 1
            yield (i, j, "string")
            i = last = j
        elif ch == "`":
            if last < i:
                yield (last, i, "code")
            j = i + 1
            while j < n:
                if sql[j] == "`":
                    if sql.startswith("``", j):
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
            yield (i, j, "ident")
            i = last = j
        else:
            i += 1
    if last < n:
        yield (last, n, "code")


def _strip_literals(sql: str) -> str:
    out = []
    for a, b, kind in _scan(sql):
        if kind == "code":
            out.append(sql[a:b])
        elif kind == "string":
            out.append("''")
        elif kind == "ident":
            out.append("`x`")
        else:  # comment
            out.append(" ")
    return "".join(out)


def validate_read_only(sql: str) -> None:
    """Single-statement SELECT gate (the reference parses with sqlglot,
    bigquery_query.py:57-103; same checks, parser-free)."""
    stripped = _strip_literals(sql).strip().rstrip(";")
    if ";" in stripped:
        raise QueryValidationError("multiple statements are not allowed")
    head = stripped.lstrip("( \n\t").split(None, 1)
    if not head or head[0].upper() not in ("SELECT", "WITH", "VALUES"):
        raise QueryValidationError(
            f"read-only queries must be SELECT; got {head[0] if head else ''!r}"
        )
    forbidden = re.compile(
        r"\b(INSERT|UPDATE|DELETE|MERGE|DROP|CREATE|ALTER|TRUNCATE|GRANT)\b",
        re.I,
    )
    m = forbidden.search(stripped)
    if m:
        raise QueryValidationError(f"forbidden statement keyword {m.group(0)}")


def _render_param(value) -> str:
    """Literal-render a named parameter (scalar / array / decimal), the
    typed-binding surface of bigquery_query.py:14-54."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, float):
        if value != value:  # NaN
            return "CAST('NaN' AS DOUBLE)"
        if value in (float("inf"), float("-inf")):
            sign = "-" if value < 0 else ""
            return f"CAST('{sign}Infinity' AS DOUBLE)"
        return repr(value)
    if isinstance(value, int):
        return repr(value)
    if isinstance(value, Decimal):
        return f"CAST('{value}' AS DECIMAL(38,9))"
    if isinstance(value, (date, datetime)):
        kind = "TIMESTAMP" if isinstance(value, datetime) else "DATE"
        return f"{kind} '{value.isoformat()}'"
    if isinstance(value, (list, tuple)):
        return "ARRAY(" + ", ".join(_render_param(v) for v in value) + ")"
    if isinstance(value, str):
        escaped = value.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{escaped}'"
    raise QueryValidationError(f"unsupported parameter type {type(value)!r}")


_PARAM_RE = re.compile(r"@([A-Za-z_][A-Za-z_0-9]*)")


def bind_params(sql: str, params: dict | None) -> str:
    params = params or {}
    used: set[str] = set()

    def sub(m: re.Match) -> str:
        name = m.group(1)
        if name not in params:
            raise QueryValidationError(f"missing query parameter @{name}")
        used.add(name)
        return _render_param(params[name])

    # Substitute only in code spans — never inside string literals or
    # quoted identifiers (same lexer as the read-only gate, so the
    # binder's notion of string boundaries cannot desync from the gate's).
    out = []
    for a, b, kind in _scan(sql):
        seg = sql[a:b]
        out.append(_PARAM_RE.sub(sub, seg) if kind == "code" else seg)
    unused = set(params) - used
    if unused:
        raise QueryValidationError(f"unused parameters: {sorted(unused)}")
    return "".join(out)


def add_safety_limit(sql: str, limit: int = 1000) -> str:
    """Wrap a validated SELECT in an outer LIMIT — the NL->SQL guard
    (nl_to_sql_module.py:172 auto LIMIT 1000). Wrapping (not appending)
    is limit-idempotent: an inner LIMIT still wins if smaller."""
    validate_read_only(sql)
    return f"SELECT * FROM ({sql.strip().rstrip(';')}) __guarded LIMIT {limit}"


class Warehouse:
    """Path-based parquet warehouse with the reference's resource API."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    # ------------------------------------------------------------ reads

    def table_path(self, name: str) -> str:
        if not re.fullmatch(r"[A-Za-z_][A-Za-z_0-9]*", name):
            raise QueryValidationError(f"invalid table name {name!r}")
        return os.path.join(self.base_dir, name)

    def _recover(self, name: str) -> str:
        """Crash recovery for the upsert swap: if a previous upsert died
        between moving the live dir aside and moving the staged dir in,
        the ``__old`` dir is the recovery marker — restore it."""
        path = self.table_path(name)
        old = path + "__old"
        if not os.path.exists(path) and os.path.exists(old):
            os.rename(old, path)
        return path

    def exists(self, name: str) -> bool:
        return os.path.exists(self._recover(name))

    def table(self, name: str) -> DataFrame:
        return read_parquet(self.spark, self._recover(name))

    def register_views(self, *names: str) -> None:
        for n in names:
            self.table(n).createOrReplaceTempView(n)

    def execute_query(
        self,
        sql: str,
        params: dict | None = None,
        read_only: bool = True,
    ) -> DataFrame:
        bound = bind_params(sql, params)
        if read_only:
            validate_read_only(bound)
        return self.spark.sql(bound)

    # ----------------------------------------------------------- writes

    def write_table(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        """Drop-and-replace (WRITE_TRUNCATE)."""
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.table_path(name))

    def upsert(
        self,
        df: DataFrame,
        name: str,
        key_columns: list[str],
        partition_by: list[str] | None = None,
    ) -> None:
        """MERGE: update matched keys, insert new ones. Engine-neutral
        join-merge; maps 1:1 onto Delta/Iceberg MERGE INTO on a cluster.

        Durability: the staged result is swapped in via two renames with
        the displaced live dir kept as a ``__old`` recovery marker until
        the swap completes — a crash at any point leaves either the old
        or the new table recoverable (``_recover``). Concurrent READS
        during the swap window are unsafe (no transactional log); use the
        Delta-backed warehouse for reader isolation.
        """
        if not key_columns:
            raise QueryValidationError("upsert requires key columns")
        path = self._recover(name)
        if not os.path.exists(path):
            self.write_table(df, name, partition_by)
            return
        target = self.table(name)
        missing = [c for c in df.columns if c not in target.columns]
        if missing:
            raise QueryValidationError(
                f"columns {missing} not in target table {name}"
            )
        staged = self._align(df, target.columns)
        survivors = target.join(
            staged.select(*key_columns).distinct(), key_columns, "left_anti"
        )
        merged = survivors.unionByName(staged)
        # Parquet source can't overwrite in place while reading itself —
        # stage to a sibling dir, then swap (what a transactional format
        # does under the hood with its log).
        import shutil

        tmp = path + "__staging"
        w = merged.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        old = path + "__old"
        if os.path.exists(old):  # stale marker from an interrupted swap
            shutil.rmtree(old)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)

    def append_aligned(self, df: DataFrame, name: str) -> None:
        """Append, padding missing columns with NULL and matching the
        target's column order (bigquery_warehouse.py:310-348)."""
        target_cols = self.table(name).schema
        extra = [
            c for c in df.columns if c not in {f.name for f in target_cols}
        ]
        if extra:
            raise QueryValidationError(
                f"dataframe has columns {extra} not present in {name}"
            )
        aligned = df.select(
            *[
                F.col(f.name).cast(f.dataType)
                if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in target_cols
            ]
        )
        aligned.write.mode("append").parquet(self.table_path(name))

    @staticmethod
    def _align(df: DataFrame, cols: list[str]) -> DataFrame:
        return df.select(
            *[
                F.col(c) if c in df.columns else F.lit(None).alias(c)
                for c in cols
            ]
        )

    def normalize_column_types(
        self, df: DataFrame, schema: dict[str, str]
    ) -> DataFrame:
        """try_cast drifted columns to the canonical type
        (bigquery_warehouse.py:181-243 SAFE_CAST normalization)."""
        return df.select(
            *[
                F.expr(f"try_cast({c} AS {schema[c]})").alias(c)
                if c in schema
                else F.col(c)
                for c in df.columns
            ]
        )

    # --------------------------------------------------------- sampling

    def sample_top(
        self, name: str, metric: str, k: int, columns: list[str] | None = None
    ) -> DataFrame:
        df = self.table(name)
        if columns:
            df = df.select(*columns, metric)
        return df.orderBy(F.abs(F.col(metric)).desc()).limit(k)

    def sample_random(self, name: str, k: int, seed: int = 42) -> DataFrame:
        return self.table(name).orderBy(F.rand(seed)).limit(k)

    def sample_mixed(
        self, name: str, metric: str, k: int, seed: int = 42
    ) -> DataFrame:
        half = k // 2
        top = self.sample_top(name, metric, half)
        rnd = self.sample_random(name, k - half, seed)
        return top.unionByName(rnd).dropDuplicates()

    def distinct_values(self, name: str, column: str) -> DataFrame:
        return (
            self.table(name)
            .select(column)
            .where(F.col(column).isNotNull())
            .distinct()
            .orderBy(column)
        )

    # ----------------------------------------------- incremental pattern

    def incremental_upsert(
        self,
        source: DataFrame,
        name: str,
        key_columns: list[str],
        watermark_column: str,
        grace=None,
    ) -> None:
        """Filter source to rows newer than MAX(watermark) - grace, then
        MERGE (agent_treasury_yield_curve_spreads.sql:26-31 shape). The
        MAX(watermark) guard is the is_incremental() scan window
        (SURVEY.md §2.1); a target whose watermark is all NULL keeps
        every source row, and an absent target is a plain write.

        The watermark is never collected: the target's one-row MAX is
        broadcast and cross-joined into the source, so the filter runs
        inside the merge plan. A collected value would reach generated
        code as a literal, and every upsert (each with a newer
        watermark) would compile fresh classes (4 per upsert).
        The cost: a filter on a joined column is not pushed into the
        source's parquet scan, so row groups older than the watermark
        are read, not skipped. A scalar-subquery filter would be pushed
        but still compiles per value, and its ``hw IS NULL OR`` arm is
        not pushable. On a 4-core VM, upserting into a 100-row target
        from a 32M-row (252 MB, 32 files) source sorted on the
        watermark, with about 0.1% of rows newer, took a median 2.0 s
        here against 0.94 s with a pushed literal; at the 8-row batches
        of the analyst workload the saved compiles win.

        ``grace=None`` means strictly-newer rows only. For date/timestamp
        watermarks, ``grace`` may be a ``timedelta``, an int day count
        (both become an interval literal), or a Column interval
        expression (e.g. ``F.expr("INTERVAL 2 DAYS")``); for numeric
        watermarks it must be a number or a Column.
        """
        if self.exists(name):
            target = self.table(name)
            wm, hw = F.col(watermark_column), F.col("__hw")
            newer = (
                wm > hw
                if grace is None
                else wm >= self._grace_cutoff(
                    hw, grace, target.schema[watermark_column].dataType
                )
            )
            high = target.agg(F.max(watermark_column).alias("__hw"))
            source = (
                source.crossJoin(F.broadcast(high))
                .where(hw.isNull() | newer)
                .drop("__hw")
            )
        self.upsert(source, name, key_columns)

    @staticmethod
    def _grace_cutoff(hw, grace, dtype):
        """``hw - grace`` for a watermark column of type ``dtype``."""
        from datetime import timedelta

        from pyspark.sql import Column
        from pyspark.sql.types import (
            DateType,
            NumericType,
            TimestampNTZType,
            TimestampType,
        )

        if isinstance(grace, Column):  # interval expression
            return hw - grace
        number = isinstance(grace, (int, float)) and not isinstance(
            grace, bool
        )
        if isinstance(dtype, (DateType, TimestampType, TimestampNTZType)):
            if number and isinstance(grace, int):
                grace = timedelta(days=grace)
            if isinstance(grace, timedelta):
                return hw - F.lit(grace)
            raise QueryValidationError(
                "grace for a date/timestamp watermark must be a"
                f" timedelta, int days, or interval Column; got"
                f" {type(grace)!r}"
            )
        if number and isinstance(dtype, NumericType):
            return hw - F.lit(grace)
        raise QueryValidationError(
            f"unsupported grace {type(grace)!r} for watermark type"
            f" {dtype.simpleString()}"
        )


def delta_available(spark: SparkSession | None = None) -> bool:
    """Probe for Delta Lake support (delta-spark package + jars).

    Probed 2026-08-13 in the build sandbox: NOT available (no ``delta``
    module, no delta jars under pyspark/jars, package installs
    forbidden), so ``make_warehouse`` always falls back to the parquet
    join-merge engine here. On a cluster with delta-spark installed the
    Delta path activates automatically and ``upsert`` becomes a
    transactional ``DeltaTable.merge`` (reference:
    bigquery_warehouse.py:124-179 MERGE; dbt_project.yml:59-63 Iceberg
    backtesting layer).
    """
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


class DeltaWarehouse(Warehouse):
    """Warehouse over Delta tables: physical MERGE INTO + time travel.

    Requires delta-spark; constructing it without raises ImportError.
    Only ``upsert`` and ``table`` differ from the parquet base — the
    query gate, binder, sampling, and incremental logic are shared.
    """

    def __init__(self, spark: SparkSession, base_dir: str):
        if not delta_available(spark):
            raise ImportError("delta-spark is not installed")
        super().__init__(spark, base_dir)

    def table(self, name: str) -> DataFrame:
        return self.spark.read.format("delta").load(self.table_path(name))

    def write_table(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        w = df.write.format("delta").mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(self.table_path(name))

    def upsert(
        self,
        df: DataFrame,
        name: str,
        key_columns: list[str],
        partition_by: list[str] | None = None,
    ) -> None:
        if not key_columns:
            raise QueryValidationError("upsert requires key columns")
        path = self.table_path(name)
        if not os.path.exists(path):
            self.write_table(df, name, partition_by)
            return
        from delta.tables import DeltaTable

        target = DeltaTable.forPath(self.spark, path)
        cond = " AND ".join(f"t.{k} <=> s.{k}" for k in key_columns)
        (
            target.alias("t")
            .merge(df.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )

    def table_at_version(self, name: str, version: int) -> DataFrame:
        """Time travel — the backtesting-layer read (Iceberg/Delta
        snapshot isolation)."""
        return (
            self.spark.read.format("delta")
            .option("versionAsOf", version)
            .load(self.table_path(name))
        )


def iceberg_available(spark: SparkSession) -> bool:
    """Probe for an Iceberg runtime (catalog extension + jars).

    Probed 2026-08-13 in the build sandbox: NOT available (no iceberg
    jars under pyspark/jars, no pyiceberg, installs forbidden) — same
    result as the Delta probe above; README documents both. Reference:
    the Iceberg-backed backtesting layer, dbt_project.yml:59-63.
    """
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def iceberg_sink_write(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    partition_by: list[str] | None = None,
    mode: str = "createOrReplace",
) -> None:
    """Iceberg sink (dbt_project.yml:59-63 backtesting layer): DSv2
    ``writeTo`` with hidden partitioning. Raises with the probe result
    when the runtime lacks Iceberg (this sandbox — see README)."""
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime not available: no iceberg-spark jars on the"
            " classpath (probed via SparkCatalog). Deploy with"
            " iceberg-spark-runtime + a catalog config to activate;"
            " see README 'Table-format availability'."
        )
    writer = df.writeTo(table).using("iceberg")
    if partition_by:
        writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
    if mode == "createOrReplace":
        writer.createOrReplace()
    elif mode == "append":
        writer.append()
    else:
        raise QueryValidationError(f"unknown iceberg write mode {mode!r}")


def make_warehouse(
    spark: SparkSession, base_dir: str, fmt: str = "auto"
) -> Warehouse:
    """Factory: Delta-backed warehouse when the runtime supports it,
    parquet join-merge engine otherwise (``fmt`` forces either)."""
    if fmt == "delta" or (fmt == "auto" and delta_available(spark)):
        return DeltaWarehouse(spark, base_dir)
    return Warehouse(spark, base_dir)


def scd2_apply(
    current: DataFrame | None,
    changes: DataFrame,
    key_columns: list[str],
    compare_columns: list[str],
    effective_column: str,
):
    """Type-2 slowly-changing-dimension merge (the point-in-time snapshot
    discipline of the backtesting layer, SURVEY.md §1.1: SCD2-style
    tables keyed by snapshot_date for look-ahead-free backtesting).

    ``current`` is the existing SCD2 table (or None on first load) with
    bookkeeping columns valid_from / valid_to / is_current; ``changes``
    is the new snapshot of the dimension at ``effective_column``'s value
    per row. Rows whose compared attributes changed close the old version
    (valid_to = new effective date) and open a new current one. Pure
    DataFrame plan — one join on the business key, no driver loops.
    """
    from pyspark.sql import functions as F

    eff = F.col(effective_column)
    fresh = changes.select(
        *key_columns,
        *compare_columns,
        eff.alias("valid_from"),
        F.lit(None).cast(changes.schema[effective_column].dataType).alias(
            "valid_to"
        ),
        F.lit(True).alias("is_current"),
    )
    if current is None:
        return fresh

    cur = current.where(F.col("is_current"))
    hist = current.where(~F.col("is_current"))

    cmp_cond = None
    for c in compare_columns:
        diff = ~F.col(f"cur.{c}").eqNullSafe(F.col(f"chg.{c}"))
        cmp_cond = diff if cmp_cond is None else (cmp_cond | diff)

    joined = cur.alias("cur").join(
        fresh.alias("chg"), key_columns, "full_outer"
    )
    key_is_new = F.col(f"cur.{compare_columns[0]}").isNull() & F.col(
        "cur.valid_from"
    ).isNull()
    changed = cmp_cond & F.col("chg.valid_from").isNotNull()

    # old versions to close (attribute changed): valid_to = change date
    closed = (
        joined.where(changed & ~key_is_new)
        .select(
            *key_columns,
            *[F.col(f"cur.{c}").alias(c) for c in compare_columns],
            F.col("cur.valid_from").alias("valid_from"),
            F.col("chg.valid_from").alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
    )
    # unchanged current rows survive as-is
    unchanged = joined.where(
        F.col("chg.valid_from").isNull()
        | (~changed & F.col("cur.valid_from").isNotNull())
    ).select(
        *key_columns,
        *[F.col(f"cur.{c}").alias(c) for c in compare_columns],
        F.col("cur.valid_from").alias("valid_from"),
        F.col("cur.valid_to").alias("valid_to"),
        F.col("cur.is_current").alias("is_current"),
    )
    # new versions: changed attributes or brand-new keys
    opened = joined.where(
        F.col("chg.valid_from").isNotNull()
        & (changed | F.col("cur.valid_from").isNull())
    ).select(
        *key_columns,
        *[F.col(f"chg.{c}").alias(c) for c in compare_columns],
        F.col("chg.valid_from").alias("valid_from"),
        F.col("chg.valid_to").alias("valid_to"),
        F.col("chg.is_current").alias("is_current"),
    )
    return hist.unionByName(closed).unionByName(unchanged).unionByName(
        opened
    )
