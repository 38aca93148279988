"""Warehouse API tests: read-only gate, named params, write/upsert/append
semantics — mirrors the reference's resource tests
(macro_agents/tests/, run against the DuckDB stub there; here against
Spark itself on a tmp path-based warehouse)."""

from __future__ import annotations

from datetime import date
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from economic_data_project_spark.sources.warehouse import (
    QueryValidationError,
    Warehouse,
    bind_params,
    validate_read_only,
)


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def test_read_only_gate_accepts_select():
    validate_read_only("SELECT 1")
    validate_read_only("WITH t AS (SELECT 1 AS x) SELECT * FROM t")
    validate_read_only("-- note\nSELECT 1; ")


@pytest.mark.parametrize(
    "sql",
    [
        "DROP TABLE t",
        "SELECT 1; SELECT 2",
        "INSERT INTO t VALUES (1)",
        "WITH t AS (SELECT 1) DELETE FROM x",
    ],
)
def test_read_only_gate_rejects(sql):
    with pytest.raises(QueryValidationError):
        validate_read_only(sql)


def test_bind_params_typed():
    out = bind_params(
        "SELECT * FROM t WHERE a = @a AND b IN (@lst) AND d > @d AND "
        "n = @n AND s = @s",
        {
            "a": 5,
            "lst": [1, 2],
            "d": date(2020, 1, 2),
            "n": Decimal("1.5"),
            "s": "it's",
        },
    )
    assert "a = 5" in out
    assert "ARRAY(1, 2)" in out
    assert "DATE '2020-01-02'" in out
    assert "DECIMAL(38,9)" in out
    assert "\\'" in out


def test_bind_params_missing_and_unused():
    with pytest.raises(QueryValidationError):
        bind_params("SELECT @x", {})
    with pytest.raises(QueryValidationError):
        bind_params("SELECT 1", {"x": 1})
    # @tokens inside string literals are not parameters
    assert bind_params("SELECT '@x'", None) == "SELECT '@x'"


def test_execute_query_with_params(spark, wh):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    wh.write_table(df, "t")
    wh.register_views("t")
    out = wh.execute_query(
        "SELECT v FROM t WHERE id = @id", {"id": 2}
    ).collect()
    assert [r.v for r in out] == ["b"]
    with pytest.raises(QueryValidationError):
        wh.execute_query("DROP TABLE t")


def test_upsert_merge_semantics(spark, wh):
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], ["id", "v", "x"]
    )
    wh.write_table(base, "t")
    updates = spark.createDataFrame(
        [(2, "B", 99.0), (3, "c", 30.0)], ["id", "v", "x"]
    )
    wh.upsert(updates, "t", ["id"])
    rows = {r.id: (r.v, r.x) for r in wh.table("t").collect()}
    assert rows == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0)}


def test_upsert_creates_when_absent(spark, wh):
    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    wh.upsert(df, "fresh", ["id"])
    assert wh.table("fresh").count() == 1


def test_append_aligned_pads_and_orders(spark, wh):
    base = spark.createDataFrame([(1, "a", 1.0)], ["id", "v", "x"])
    wh.write_table(base, "t")
    partial = spark.createDataFrame([("b", 2)], ["v", "id"])
    wh.append_aligned(partial, "t")
    rows = sorted(wh.table("t").collect(), key=lambda r: r.id)
    assert rows[1].id == 2 and rows[1].v == "b" and rows[1].x is None
    bad = spark.createDataFrame([(1, "z")], ["id", "nope"])
    with pytest.raises(QueryValidationError):
        wh.append_aligned(bad, "t")


def test_normalize_column_types(spark, wh):
    df = spark.createDataFrame(
        [("1", "2020-01-01"), ("oops", "nope")], ["n", "d"]
    )
    out = wh.normalize_column_types(df, {"n": "BIGINT", "d": "DATE"})
    rows = out.collect()
    assert rows[0].n == 1 and str(rows[0].d) == "2020-01-01"
    assert rows[1].n is None and rows[1].d is None


def test_incremental_upsert_watermark(spark, wh):
    base = spark.createDataFrame(
        [(1, date(2020, 1, 1), 1.0), (2, date(2020, 1, 5), 2.0)],
        ["id", "d", "x"],
    )
    wh.write_table(base, "t")
    src = spark.createDataFrame(
        [
            (2, date(2020, 1, 5), 99.0),  # inside window -> applied
            (3, date(2020, 1, 6), 3.0),  # new -> inserted
            (4, date(2019, 1, 1), 4.0),  # before watermark-grace -> skipped
        ],
        ["id", "d", "x"],
    )
    wh.incremental_upsert(src, "t", ["id"], "d", F.expr("INTERVAL 2 DAYS"))
    rows = {r.id: r.x for r in wh.table("t").collect()}
    assert rows == {1: 1.0, 2: 99.0, 3: 3.0}


def _xs(wh, name="t"):
    return {r.id: r.x for r in wh.table(name).collect()}


def test_incremental_upsert_without_grace_is_strictly_newer(spark, wh):
    """grace=None: a row AT the watermark is dropped; newer rows update
    matched keys and insert new ones."""
    wh.write_table(
        spark.createDataFrame(
            [(1, date(2020, 1, 1), 1.0), (2, date(2020, 1, 5), 2.0)],
            ["id", "d", "x"],
        ),
        "t",
    )
    src = spark.createDataFrame(
        [
            (2, date(2020, 1, 5), 99.0),  # equal to the watermark
            (1, date(2020, 1, 7), 11.0),  # newer, matched key
            (3, date(2020, 1, 6), 3.0),  # newer, new key
        ],
        ["id", "d", "x"],
    )
    wh.incremental_upsert(src, "t", ["id"], "d")
    assert _xs(wh) == {1: 11.0, 2: 2.0, 3: 3.0}


def test_incremental_upsert_timedelta_grace_on_timestamp(spark, wh):
    from datetime import datetime, timedelta

    wh.write_table(
        spark.createDataFrame(
            [(1, datetime(2020, 1, 5, 12), 1.0)], ["id", "ts", "x"]
        ),
        "t",
    )
    src = spark.createDataFrame(
        [
            (1, datetime(2020, 1, 5, 7), 9.0),  # inside the 6 h grace
            (2, datetime(2020, 1, 5, 5, 59), 2.0),  # before it
            (3, datetime(2020, 1, 5, 6), 3.0),  # on the cutoff: kept
        ],
        ["id", "ts", "x"],
    )
    wh.incremental_upsert(src, "t", ["id"], "ts", timedelta(hours=6))
    assert _xs(wh) == {1: 9.0, 3: 3.0}


def test_incremental_upsert_int_day_grace_on_date(spark, wh):
    wh.write_table(
        spark.createDataFrame(
            [(1, date(2020, 1, 10), 1.0)], ["id", "d", "x"]
        ),
        "t",
    )
    src = spark.createDataFrame(
        [(2, date(2020, 1, 7), 2.0), (3, date(2020, 1, 6), 3.0)],
        ["id", "d", "x"],
    )
    wh.incremental_upsert(src, "t", ["id"], "d", 3)
    assert _xs(wh) == {1: 1.0, 2: 2.0}


def test_incremental_upsert_numeric_grace(spark, wh):
    wh.write_table(
        spark.createDataFrame(
            [(1, 100, 1.0), (2, 50, 2.0)], ["id", "w", "x"]
        ),
        "t",
    )
    src = spark.createDataFrame(
        [(2, 98, 22.0), (3, 97, 3.0)], ["id", "w", "x"]
    )
    wh.incremental_upsert(src, "t", ["id"], "w", 2.5)  # cutoff 97.5
    assert _xs(wh) == {1: 1.0, 2: 22.0}


def test_incremental_upsert_rejects_bad_grace(spark, wh):
    from datetime import timedelta

    wh.write_table(
        spark.createDataFrame(
            [(1, date(2020, 1, 10), 7)], ["id", "d", "w"]
        ),
        "t",
    )
    src = spark.createDataFrame(
        [(2, date(2020, 1, 11), 8)], ["id", "d", "w"]
    )
    with pytest.raises(QueryValidationError):
        wh.incremental_upsert(src, "t", ["id"], "d", "2 days")
    with pytest.raises(QueryValidationError):
        wh.incremental_upsert(src, "t", ["id"], "w", timedelta(days=1))
    assert [r.id for r in wh.table("t").collect()] == [1]


def test_incremental_upsert_all_null_watermark_applies_all(spark, wh):
    wh.write_table(
        spark.createDataFrame(
            [(1, None, 1.0)], "id long, d date, x double"
        ),
        "t",
    )
    src = spark.createDataFrame(
        [(1, date(2019, 1, 1), 9.0), (2, date(2018, 1, 1), 2.0)],
        ["id", "d", "x"],
    )
    wh.incremental_upsert(src, "t", ["id"], "d")
    assert _xs(wh) == {1: 9.0, 2: 2.0}


def test_incremental_upsert_absent_target_writes(spark, wh):
    src = spark.createDataFrame(
        [(1, date(2019, 1, 1), 1.0), (2, date(2018, 1, 1), 2.0)],
        ["id", "d", "x"],
    )
    wh.incremental_upsert(src, "fresh", ["id"], "d", 3)
    assert _xs(wh, "fresh") == {1: 1.0, 2: 2.0}


def test_sampling(spark, wh):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 2.0).alias("m")
    )
    wh.write_table(df, "t")
    top = wh.sample_top("t", "m", 5).collect()
    assert [r.id for r in top] == [99, 98, 97, 96, 95]
    assert wh.sample_random("t", 7).count() == 7
    assert wh.distinct_values("t", "id").count() == 100


def test_scd2_apply_versions_dimension(spark):
    from economic_data_project_spark.sources.warehouse import scd2_apply

    day1 = spark.createDataFrame(
        [(1, "retail", date(2020, 1, 1)), (2, "tech", date(2020, 1, 1))],
        ["id", "sector", "as_of"],
    )
    t = scd2_apply(None, day1, ["id"], ["sector"], "as_of")
    assert t.where("is_current").count() == 2

    # id 1 changes sector; id 3 appears; id 2 unchanged
    day2 = spark.createDataFrame(
        [
            (1, "energy", date(2020, 2, 1)),
            (2, "tech", date(2020, 2, 1)),
            (3, "health", date(2020, 2, 1)),
        ],
        ["id", "sector", "as_of"],
    )
    t2 = scd2_apply(t, day2, ["id"], ["sector"], "as_of")
    rows = {(r.id, r.is_current): r for r in t2.collect()}
    assert len(rows) == 4  # 1-old, 1-new, 2-current, 3-new
    old1 = rows[(1, False)]
    assert old1.sector == "retail" and str(old1.valid_to) == "2020-02-01"
    assert rows[(1, True)].sector == "energy"
    assert rows[(2, True)].sector == "tech"
    assert str(rows[(2, True)].valid_from) == "2020-01-01"  # untouched
    assert rows[(3, True)].sector == "health"

    # point-in-time query: as of Jan 15, id 1 is still retail
    asof = t2.where(
        "valid_from <= DATE'2020-01-15' AND "
        "(valid_to IS NULL OR valid_to > DATE'2020-01-15')"
    )
    assert {r.id: r.sector for r in asof.collect()} == {
        1: "retail",
        2: "tech",
    }


def test_upsert_crash_recovery_marker(spark, wh):
    import os

    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    wh.write_table(df, "t")
    path = wh.table_path("t")
    # Simulate a crash between the two swap renames: live dir moved
    # aside, staged dir never moved in.
    os.rename(path, path + "__old")
    assert not os.path.exists(path)
    rows = wh.table("t").collect()  # must transparently recover
    assert [(r.id, r.v) for r in rows] == [(1, "a")]
    assert os.path.exists(path) and not os.path.exists(path + "__old")


def test_warehouse_factory_probes_delta(spark, tmp_path):
    from economic_data_project_spark.sources.warehouse import (
        DeltaWarehouse,
        Warehouse,
        delta_available,
        make_warehouse,
    )

    wh = make_warehouse(spark, str(tmp_path / "wfac"))
    if delta_available(spark):
        assert isinstance(wh, DeltaWarehouse)
    else:
        # sandbox path (README "Delta Lake availability"): clean fallback
        assert type(wh) is Warehouse
        with pytest.raises(ImportError):
            DeltaWarehouse(spark, str(tmp_path / "wdelta"))


def test_iceberg_sink_probe_and_gate(spark):
    from economic_data_project_spark.sources.warehouse import (
        iceberg_available,
        iceberg_sink_write,
    )

    df = spark.range(3)
    if iceberg_available(spark):
        iceberg_sink_write(spark, df, "local.tmp_iceberg_probe")
    else:
        # sandbox path (README "Table-format availability")
        with pytest.raises(RuntimeError, match="Iceberg runtime"):
            iceberg_sink_write(spark, df, "t")
