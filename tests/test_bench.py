"""The headline query sweep (``bench.py``) names only registered queries.
No SparkSession: importing ``bench`` builds none."""

import bench
from starchart_spark.queries import QUERIES


def test_headline_queries_registered_and_unique():
    names = bench.HEADLINE_QUERIES
    assert len(names) == 68
    assert len(set(names)) == len(names)
    assert [n for n in names if n not in QUERIES] == []
