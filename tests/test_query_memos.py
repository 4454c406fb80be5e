"""Plan-metadata memos of the query surface (``queries.load`` and
``queries.load_balanced``) follow a regenerated fixture without
growing."""

import os

from datalake_iceberg_spark import queries


def test_scan_parts_memo_keeps_one_entry_per_fixture(spark, tmp_path):
    path = str(tmp_path / "docs.parquet")
    for i in range(3):  # write the fixture, then regenerate it twice
        spark.range(10 + i).write.mode("overwrite").parquet(path)
        os.utime(path, ns=(10**18 + i, 10**18 + i))  # the fingerprint moves
        assert queries.load_balanced(spark, str(tmp_path), "docs").count() == 10 + i
    entries = [k for k in queries._SCAN_PARTS_CACHE if k[0] == path]
    assert len(entries) == 1
    assert queries._SCAN_PARTS_CACHE[entries[0]][0] == queries._fingerprint(path)
