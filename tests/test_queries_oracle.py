"""Driver-contract rehearsal: every SQL twin runs in Spark AND DuckDB on the
same parquet and must agree on row count, column names, and values —
mirroring the driver's CORRECTNESS gate locally at sf0.001/sf0.01."""

import math
import os

import duckdb
import pytest

from cl_readability_spark.functions.sqltwins import SQL_TWINS
from local_twins import LOCAL_TWINS

# driver-registered twins + local-only twins (DuckDB parity without a
# driver registry slot — the 50-entry cap is full); same compare
ALL_TWINS = {**SQL_TWINS, **LOCAL_TWINS}

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")

pytestmark = pytest.mark.spark


def duck_con():
    con = duckdb.connect()
    for t in ("documents", "embeddings", "lineitem", "orders", "customer",
              "supplier", "part", "nation", "region", "events"):
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def normalize(rows, columns):
    out = []
    for row in rows:
        vals = []
        for c in columns:
            v = row[c]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return out


@pytest.mark.parametrize("name", sorted(ALL_TWINS))
def test_twin_matches_oracle(spark, name):
    builder, sql = ALL_TWINS[name]
    sdf = builder(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [r.asDict() for r in sdf.collect()]

    con = duck_con()
    res = con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = [dict(zip(duck_cols, row)) for row in res.fetchall()]

    assert sorted(spark_cols) == sorted(duck_cols), (spark_cols, duck_cols)
    assert len(spark_rows) == len(duck_rows)

    cols = sorted(spark_cols)
    a = normalize(spark_rows, cols)
    b = normalize(duck_rows, cols)
    for ra, rb in zip(a, b):
        for va, vb in zip(ra, rb):
            if isinstance(va, float) or isinstance(vb, float):
                assert va is not None and vb is not None
                assert math.isclose(va, vb, rel_tol=1e-6, abs_tol=1e-6), (name, ra, rb)
            else:
                assert va == vb, (name, ra, rb)
