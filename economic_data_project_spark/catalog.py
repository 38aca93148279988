"""Table catalog over the synthetic parquet star schema.

Mirrors the reference's "default dataset" resolution (bare table names
resolve against a configured dataset, bigquery_warehouse.py:266-299): here a
scale-factor directory is the dataset and each parquet file is a table.

Design for 100 TB: tables are read lazily via ``spark.read.parquet`` so
Catalyst keeps predicate pushdown and column pruning; nothing is cached or
collected at registration time. Small dimension tables are flagged so
callers can ``broadcast()`` them in joins.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at any realistic scale factor.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# The one parquet reader: every catalog and warehouse table read goes
# through ``read_parquet``. A plain ``spark.read.parquet`` of a path
# runs a one-task schema-inference job (Spark reads a footer on an
# executor and converts it) before any query runs: one tiny job per
# table reference per builder, hundreds across a registry sweep, about
# 0.1 s each even warm, and noise that would drown the "builders run no
# jobs at construction" gate (tests/test_plans.py). The reader reads
# with ``spark.read.schema(s)`` instead, where ``s`` is always a schema
# Spark itself inferred earlier in this process, at two levels:
#
# 1. Path memo, keyed by (resolved path, mtime): a re-read of an
#    unchanged path, served only while the inference confs it was read
#    under (``_INFERENCE_CONFS``) are unchanged. The mtime component is
#    the invalidation for rewrites: load_table also serves GENERATED
#    corpora (the bench longdoc lane, test
#    fixtures writing documents.parquet to scratch dirs) and the
#    warehouse rewrites its tables, and a path rewritten in-process with
#    a different schema must re-infer — reading with a stale explicit
#    schema silently drops new columns and nulls renamed ones instead of
#    erroring. A parquet dir's mtime changes whenever files are added or
#    replaced (any Spark write creates and removes ``_temporary`` in
#    it). One schema per path is live at a time: the insert evicts the
#    previous entry for the same path, so repeated scratch-dir rewrites
#    cannot grow the memo unboundedly.
#    FLAT-LAYOUT ASSUMPTION (ADVICE r11 #3): the mtime watches the table
#    path itself, so a non-Spark rewrite that only replaces files inside
#    PARTITION SUBDIRECTORIES (leaving the parent dir untouched) would
#    serve a stale schema from this memo; such a writer must touch the
#    table dir on schema change.
# 2. Footer key: a path the memo misses (new, or rewritten) whose data
#    files carry a footer the process has already resolved. Most such
#    reads are the re-read after a same-schema rewrite: an upsert's
#    swap, a ModelGraph table model's next run, an overwrite. A daily
#    three-model ModelGraph re-run over sf0.01 served 3 of its 7 reads
#    here and ran 10 jobs instead of 13. The key is
#    computed on the driver with pyarrow from exactly the inputs of
#    Spark 4.1.2's inference (ParquetFileFormat.mergeSchemasInParallel):
#    the parquet message type and the Spark row-metadata value of the
#    data files (names not starting with ``_`` or ``.``, all of which
#    must agree), plus every session conf the conversion reads
#    (``_INFERENCE_CONFS``). Equal keys mean Spark's inference would
#    return the same schema, so the cached one is served and no job
#    runs. The key is None, and Spark infers as a plain read does, when
#    Spark is not the version those inputs were audited for, the
#    table has subdirectories (partitioned, or a streaming sink's
#    ``_spark_metadata``), carries ``_metadata``/``_common_metadata``
#    summary files, has more files than Spark's own driver-listing
#    cutoff (``parallelPartitionDiscovery.threshold``), has a footer
#    pyarrow cannot read or a type annotation it does not know, or
#    when its part files disagree. Entries hold one StructType per
#    distinct (footer, conf) seen, so the dict stays as small as the
#    set of schemas the process reads.
_SCHEMA_CACHE: dict[str, tuple[int, object, tuple]] = {}
_FOOTER_SCHEMAS: dict[tuple, object] = {}

_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
# The session confs Spark's parquet schema inference reads, as audited
# for _AUDITED_SPARK: the five converter flags mergeSchemasInParallel
# passes, plus the two that decide which footers it reads and how their
# fields are matched. Another Spark version may read more, so under one
# the footer key is None and Spark infers.
_AUDITED_SPARK = "4.1.2"
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
)
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _footer_key(spark: SparkSession, real: str, confs: tuple) -> tuple | None:
    """What Spark's schema inference of ``real`` depends on, or None
    when it depends on more than this key can see (see above)."""
    import pyarrow.parquet as pq

    if spark.version != _AUDITED_SPARK:
        return None
    if os.path.isdir(real):
        entries = list(os.scandir(real))
        if any(
            e.is_dir() or e.name in ("_metadata", "_common_metadata")
            for e in entries
        ):
            return None
        files = [
            e.path for e in entries if not e.name.startswith(("_", "."))
        ]
    else:
        files = [real]
    if not files or len(files) > int(spark.conf.get(_LISTING_THRESHOLD)):
        return None
    footers = set()
    for f in files:
        try:
            md = pq.read_metadata(f)
        except Exception:  # noqa: BLE001 — let Spark raise or infer
            return None
        # str() opens with the Python object's address: drop that line
        message = str(md.schema).split("\n", 1)[1]
        if "(Undefined)" in message:
            return None
        footers.add((message, (md.metadata or {}).get(_SPARK_ROW_METADATA)))
    if len(footers) != 1:
        return None
    return footers.pop(), confs


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job
    whenever this process already knows the schema Spark would infer
    (the path memo, then the footer key; see above)."""
    real = os.path.realpath(path)
    try:
        mtime = os.stat(real).st_mtime_ns
    except OSError:
        # missing path: let spark.read raise its own (clearer) error
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    hit = _SCHEMA_CACHE.get(real)
    if hit is not None and (hit[0], hit[2]) == (mtime, confs):
        return spark.read.schema(hit[1]).parquet(path)
    key = _footer_key(spark, real, confs)
    schema = _FOOTER_SCHEMAS.get(key)  # None is never a stored key
    if schema is None:
        df = spark.read.parquet(path)
        schema = df.schema
        if key is not None:
            _FOOTER_SCHEMAS[key] = schema
    else:
        df = spark.read.schema(schema).parquet(path)
    _SCHEMA_CACHE[real] = (mtime, schema, confs)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return read_parquet(spark, table_path(sf_dir, name))


def spread_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Spread a narrow-split scan across the cluster BEFORE CPU-heavy
    per-row expressions (optimization guide §2.5/§6: Spark sizes scan
    partitions by BYTES, but per-char/per-token expression work — md5
    window hashing, shingle folds, gram explodes — is compute-bound,
    so a byte-small single-row-group parquet file arrives as ONE scan
    task and serializes the whole operator on one core while the rest
    of the cluster idles; AQE cannot help because it only coalesces,
    never splits, and a one-row-group file cannot be split at scan
    time).

    Scale-adaptive, not a local[32] constant: a NO-OP whenever the scan
    already carries >= defaultParallelism input partitions — the 100 TB
    case, where file count provides scan parallelism and an extra
    exchange would be pure cost. When it does fire, the explicit
    partition count pins the exchange against AQE coalescing
    (REPARTITION_BY_NUM shuffle origin), which would otherwise fold the
    byte-tiny-but-compute-heavy frame straight back to one partition.
    Hash-partitioning on ``keys`` (vs round-robin) keeps the row-to-
    partition map deterministic under task retry (SPARK-38388 hazard)
    and skips round-robin's sort-before-repartition.

    The ``df.rdd.getNumPartitions()`` probe is driver-side physical
    planning only — no job runs (the builders-run-no-jobs gate in
    tests/test_plans.py stays satisfied)."""
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    try:
        if df.rdd.getNumPartitions() >= n:
            return df
    except Exception:
        return df  # unplannable frame (e.g. streaming): leave as-is
    return df.repartition(n, *keys) if keys else df.repartition(n)


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an events timestamp column to tz-aware TIMESTAMP —
    shared by the batch catalog and the streaming reader so the two
    paths cannot drift as new testdata formats appear.

    Handles the formats the testdata has shipped so far:
    - TIMESTAMP(NANOS) read as long (``nanosAsLong``): truncate ns->us,
      the same truncation DuckDB applies, so timestamps stay comparable;
    - TIMESTAMP_NTZ: cast to TIMESTAMP. That cast resolves against the
      session timezone at EXECUTION time, so it is wall-clock-identical
      only under UTC — require it loudly here instead of letting a
      non-UTC external session silently shift every timestamp
      (``session.tune_session`` sets UTC; the check catches sessions
      that skipped it)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        # integer `div`, NOT `/1000`: epoch nanos (~1.7e18) exceed 2^53,
        # so a double-precision quotient rounds at a 256ns ulp and can
        # land on the wrong microsecond before the cast truncates —
        # DuckDB truncates in exact integer arithmetic. `div` truncates
        # TOWARD ZERO, and so does DuckDB's ns->us parquet conversion
        # for pre-1970 values (verified on DuckDB 1.0.0: -1500 ns reads
        # back as -1 us, not floor's -2), so parity holds on negative
        # epochs too — do not "fix" this to floor division
        # (tests/test_catalog_ts.py pins the negative-epoch case).
        return df.withColumn(
            col, F.timestamp_micros(F.expr(f"{col} div 1000"))
        )
    if isinstance(dt, TimestampNTZType):
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00"):
            raise ValueError(
                f"events '{col}' is TIMESTAMP_NTZ and the session"
                f" timezone is {tz!r}: the NTZ->TIMESTAMP cast would"
                " shift wall clocks. Call session.tune_session(spark)"
                " (sets UTC) before loading events."
            )
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet carries TIMESTAMP(NANOS) which Spark rejects by
    default; read nanos as long, then normalize (see normalize_ts).
    The nanosAsLong conf must be set BEFORE the first (schema-inferring)
    read; cached-schema re-reads keep it set anyway since the executor
    readers honor it at scan time."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_ts(
        read_parquet(spark, table_path(sf_dir, "events"))
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table present in ``sf_dir`` (missing files are skipped)."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            out[name] = load_table(spark, sf_dir, name)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view (the SQL entry point's catalog)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
