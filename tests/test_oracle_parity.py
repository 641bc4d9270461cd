"""Local mirror of the driver's correctness gate: run every
`queries()` entry and its DuckDB `oracle_sql()` side-by-side at
sf0.001 and require identical row counts, column names, and
order-insensitive values (exact equality — the driver hashes values,
so 'close' is not enough).
"""

from __future__ import annotations

import datetime
import math
import os

import duckdb
import pytest

import __spark_entry__ as entrymod

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            # Python equality treats -0.0 == 0.0, but a bit-pattern
            # value hash (the driver's pandas path, selfcheck's %.6g)
            # distinguishes them — same asymmetric-canonicalizer class
            # as the r7 array-output bug, guarded explicitly.
            return "-0.0"
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    try:  # Decimal → float
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(v)
    except ImportError:
        pass
    return v


def _rows_key(rows, colnames):
    # NULLs (cube/rollup grouping rows, outer joins) sort before any
    # value via the (is_null, value) pair — Python can't order None
    # against str/float directly.
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(
        tuple((r[i] is None, _norm(r[i]) if r[i] is not None else "") for i in order)
        for r in rows
    )


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def _assert_driver_hashable(name, schema):
    """The driver's canonicalizer (pandas sort_values + hash) dies on
    array/map cells with `TypeError: unhashable type: 'list'` — the
    exact failure mode of CORRECTNESS_r07's embedding trio. The local
    Python tuple-sort happily orders list cells, so without this guard
    the mirror passes what the driver fails. Oracle-checked queries
    must emit scalar (hashable) columns only: posexplode the array to
    long form, serialize to CSV/JSON, or unpack fixed-width vectors
    into columns."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name}: oracle-checked output has non-scalar columns {bad} — "
        "the external hash-compare cannot canonicalize array/map/struct "
        "cells; reshape to scalar columns (posexplode / CSV / unpack)"
    )


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, sf_dir, name):
    _assert_parity(QUERIES[name](spark, sf_dir), sf_dir, name)


def test_oracle_parity_interval_count_dense_route(spark, sf_dir, monkeypatch):
    """The fixture is sparse, so the parametrized parity run above only
    checks feature_interval_join's sparse route. With the threshold at 0
    points per bin the dispatcher takes the dense prefix-sum route,
    which must match the oracle as well."""
    from seqdatapipeline_spark.ops import joins as jn

    monkeypatch.setattr(jn, "MAX_POINTS_PER_BIN", 0)
    sdf = QUERIES["feature_interval_join"](spark, sf_dir)
    assert "__sbcum" in sdf._jdf.queryExecution().optimizedPlan().toString()
    _assert_parity(sdf, sf_dir, "feature_interval_join")


def _assert_parity(sdf, sf_dir, name):
    _assert_driver_hashable(name, sdf.schema)
    s_rows = [tuple(r) for r in sdf.collect()]
    s_cols = sdf.columns

    con = _duck(sf_dir)
    cur = con.execute(ORACLES[name])
    d_cols = [c[0] for c in cur.description]
    d_rows = cur.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: columns {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: rows {len(s_rows)} vs {len(d_rows)}"
    sk = _rows_key(s_rows, s_cols)
    dk = _rows_key(d_rows, d_cols)
    mism = [i for i, (a, b) in enumerate(zip(sk, dk)) if a != b][:3]
    assert sk == dk, f"{name}: first value mismatches at {[(i, sk[i], dk[i]) for i in mism]}"


def test_hashable_guard_rejects_array_output(spark):
    """The guard itself must fire on a deliberately array-outputting
    frame (and on map/struct), and pass a scalar-only one — otherwise
    it guards nothing."""
    import pyspark.sql.functions as F

    arr = spark.range(1).select(F.array(F.lit(1), F.lit(2)).alias("v"))
    with pytest.raises(AssertionError, match="non-scalar"):
        _assert_driver_hashable("fixture_arr", arr.schema)
    mp = spark.range(1).select(F.create_map(F.lit("k"), F.lit(1)).alias("m"))
    with pytest.raises(AssertionError, match="non-scalar"):
        _assert_driver_hashable("fixture_map", mp.schema)
    st = spark.range(1).select(F.struct(F.lit(1).alias("a")).alias("s"))
    with pytest.raises(AssertionError, match="non-scalar"):
        _assert_driver_hashable("fixture_struct", st.schema)
    ok = spark.range(1).select(F.lit("x").alias("a"), F.lit(1.5).alias("b"))
    _assert_driver_hashable("fixture_ok", ok.schema)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
