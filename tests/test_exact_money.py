"""Money is summed exactly: ``q13_dense_rank_suppliers`` and its DuckDB
oracle accumulate revenue as DECIMAL, so a half-cent total rounds the
same way on both engines."""

from __future__ import annotations

import sys
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq

from conftest import REPO

sys.path.insert(0, str(REPO / "tools"))


def test_q13_half_cent_revenue_agrees_with_oracle(spark, tmp_path):
    """A lone 1.005 line at no discount is a half-cent total: summed as
    doubles, Spark's round gave 1.01 and DuckDB's gave 1.0. Summed as
    DECIMAL(18,4) both engines give 1.01, and ranks follow."""
    import duckdb

    import __spark_entry__ as entrymod
    from check_oracle import canon

    ship = [datetime(1994, 3, 1), datetime(1994, 5, 2),
            datetime(1994, 6, 3), datetime(1995, 1, 4)]
    pq.write_table(pa.table({
        "l_suppkey": pa.array([0, 1, 1, 2], pa.int64()),
        "l_extendedprice": [1.005, 0.335, 0.67, 19.99],
        "l_discount": [0.0, 0.0, 0.0, 0.05],
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    }), tmp_path / "lineitem.parquet")

    name = "q13_dense_rank_suppliers"
    sdf = entrymod.queries()[name](spark, str(tmp_path))
    cols = sorted(sdf.columns)
    got = sorted(tuple(canon(r[c]) for c in cols) for r in sdf.collect())

    con = duckdb.connect()
    con.execute("CREATE VIEW lineitem AS SELECT * FROM "
                f"'{tmp_path / 'lineitem.parquet'}'")
    odf = con.execute(entrymod.oracle_sql()[name]).fetch_df()
    con.close()
    want = sorted(tuple(canon(v) for v in row)
                  for row in odf[cols].itertuples(index=False, name=None))

    assert got == want
    revenue = {(r["ship_year"], r["l_suppkey"]): r["revenue"]
               for r in sdf.collect()}
    assert revenue == {(1994, 0): 1.01, (1994, 1): 1.01, (1995, 2): 18.99}
