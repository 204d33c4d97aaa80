"""The parquet table store (sources/tables.py)."""

from __future__ import annotations

import os

from addressparser_spark.sources.tables import TableStore


def test_replace_from_itself_swaps_by_rename(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    store.write("t", spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    added = spark.createDataFrame([(3, "c")], "k int, v string")
    # the new content reads the table it replaces
    store.replace("t", store.read("t").unionByName(added))
    assert sorted(tuple(r) for r in store.read("t").collect()) == [
        (1, "a"), (2, "b"), (3, "c")
    ]
    assert store.exists("t")
    assert not os.path.exists(os.path.join(str(tmp_path), "t.staging"))

