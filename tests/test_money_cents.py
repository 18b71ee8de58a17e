"""The integer-cents money sums in suite/star.py (join_left_agg's
``l_extendedprice``, groupby_flag_status's ``l_quantity``) are exact
only if every value has at most 2 decimals.  Check that on every
lineitem table present, and check that the same check catches a
3-decimal value."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from datamart_spark.suite import table

_MONEY = ("l_extendedprice", "l_quantity")
_SF_DIRS = sorted(
    d for d in glob.glob("/root/testdata/sf*")
    if os.path.exists(os.path.join(d, "lineitem.parquet"))
)


def _off_cent_rows(df) -> int:
    """Rows where a money column is not a whole number of cents:
    |x*100 - round(x*100)| >= 1e-6."""
    off = None
    for c in _MONEY:
        cents = F.col(c) * 100
        bad = F.abs(cents - F.round(cents)) >= 1e-6
        off = bad if off is None else off | bad
    return df.where(off).count()


@pytest.mark.skipif(not _SF_DIRS, reason="TPC-H testdata absent")
@pytest.mark.parametrize("sf_dir", _SF_DIRS, ids=os.path.basename)
def test_lineitem_money_is_whole_cents(spark, sf_dir):
    assert _off_cent_rows(table(spark, sf_dir, "lineitem")) == 0


def test_check_catches_three_decimals(spark):
    schema = "l_extendedprice double, l_quantity double"
    ok = spark.createDataFrame([(1.01, 17.0), (0.29, 0.07)], schema)
    assert _off_cent_rows(ok) == 0
    bad = spark.createDataFrame([(1.005, 17.0), (0.29, 0.07)], schema)
    assert _off_cent_rows(bad) == 1
