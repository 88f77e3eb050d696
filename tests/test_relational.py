"""Relational rows on small crafted tables: edge cases the generated
test data does not reach."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pandas as pd
import pytest

from hgn_spark.registry import load_all
from tests.conftest import SF_SMOKE

SPECS = load_all()


def _write(sf_dir, **tables: pd.DataFrame) -> str:
    for name, df in tables.items():
        df.to_parquet(sf_dir / f"{name}.parquet", index=False)
    return str(sf_dir)


def test_scan_projection_pushdown_empty_pandas_subset(spark, tmp_path):
    """The pandas_roundtrip branch reads back the l_orderkey % 29 == 0
    subset of the scan; when no row qualifies, the branch is empty
    instead of failing on a schema that pandas cannot carry."""
    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    li = li[(li["l_orderkey"] % 29 != 0) & (li["l_quantity"] > 45)].head(100)
    sf_dir = _write(tmp_path, lineitem=li)
    rows = SPECS["scan_projection_pushdown"].fn(spark, sf_dir).collect()
    ios = {r["io"] for r in rows}
    assert "parquet" in ios and "pandas_roundtrip" not in ios


# Nation 0's exact revenue is 12.25 * (1 - 0.02) + 0.50 + 0.25 + 1.00
# = 13.755, which rounds half up to 13.76. In doubles the first term is
# 12.004999999999999 and, as every partial sum stays in [8, 16), each
# addition is exact in any order: the double total rounds to 13.75.
_LINEITEM = [
    # (l_orderkey, l_extendedprice, l_discount, l_quantity)
    (1, 12.25, 0.02, 1.0),
    (2, 0.50, 0.0, 2.0),
    (2, 0.25, 0.0, 3.0),
    (3, 1.00, 0.0, 4.0),
    (4, 100.00, 0.10, 5.0),
]
_ORDER_NATION = {1: 0, 2: 0, 3: 0, 4: 1}


def _exact_revenue() -> dict[str, float]:
    total: dict[str, Decimal] = {}
    for okey, price, disc, _ in _LINEITEM:
        nation = f"N{_ORDER_NATION[okey]}"
        rev = Decimal(str(price)) * (1 - Decimal(str(disc)))
        total[nation] = total.get(nation, Decimal(0)) + rev
    return {
        n: float(v.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))
        for n, v in total.items()
    }


@pytest.fixture
def half_cent_dir(tmp_path):
    okeys = sorted(_ORDER_NATION)
    return _write(
        tmp_path,
        lineitem=pd.DataFrame(
            _LINEITEM,
            columns=["l_orderkey", "l_extendedprice", "l_discount", "l_quantity"],
        ),
        orders=pd.DataFrame(
            {"o_orderkey": okeys, "o_custkey": okeys, "o_orderstatus": "F"}
        ),
        customer=pd.DataFrame(
            {
                "c_custkey": okeys,
                "c_nationkey": pd.array(
                    [_ORDER_NATION[k] for k in okeys], dtype="int32"
                ),
            }
        ),
        nation=pd.DataFrame(
            {"n_nationkey": pd.array([0, 1], dtype="int32"), "n_name": ["N0", "N1"]}
        ),
    )


@pytest.mark.parametrize("partitions", [1, 8])
def test_flagship_revenue_exact_on_half_cent(spark, half_cent_dir, partitions):
    """Revenue is summed exactly, so a nation whose revenue ends in a
    half cent rounds up — in Spark under any shuffle partitioning, and
    in the DuckDB oracle."""
    want = _exact_revenue()
    assert want == {"N0": 13.76, "N1": 90.0}
    spec = SPECS["flagship_revenue_by_nation"]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        got = spec.fn(spark, half_cent_dir).toPandas()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert got["revenue"].dtype == "float64"
    assert dict(zip(got["nation"], got["revenue"])) == want

    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "nation"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{half_cent_dir}/{t}.parquet'"
        )
    oracle = con.execute(spec.oracle).fetchdf()
    con.close()
    assert oracle["revenue"].dtype == "float64"
    assert dict(zip(oracle["nation"], oracle["revenue"])) == want
