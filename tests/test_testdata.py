"""Scan-split estimate behind ``testdata.load(parallelize=True)``."""

from __future__ import annotations

import glob
import math
import os
from types import SimpleNamespace

from biomedical_knowledge_graph_spark.sources.testdata import (
    _estimated_scan_splits,
    _parse_bytes,
)


def test_parse_bytes_suffixes():
    assert _parse_bytes("134217728") == 128 << 20
    assert _parse_bytes("128m") == _parse_bytes("128MB") == 128 << 20
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("64kb") == _parse_bytes(" 64K ") == 64 << 10
    for bad in ("1.5g", "12x", "", "b", "-1"):
        assert _parse_bytes(bad) is None


def test_estimated_splits_suffixed_conf_and_hive_dirs(spark, tmp_path):
    """Suffixed ``maxPartitionBytes`` values parse (they used to raise),
    one that does not parse yields None, and a hive-partitioned table's bytes
    are summed from the files under its ``col=value`` dirs."""
    path = str(tmp_path / "t.parquet")
    spark.range(0, 30000).selectExpr("id", "id % 3 AS p").repartition(
        2
    ).write.partitionBy("p").parquet(path)
    files = [
        f for f in glob.glob(f"{path}/p=*/*") if not os.path.basename(f).startswith(".")
    ]
    total = sum(os.path.getsize(f) for f in files)

    def with_conf(value):  # conf.get(key, default) is all the estimate reads
        return SimpleNamespace(conf={"spark.sql.files.maxPartitionBytes": value})

    assert _estimated_scan_splits(with_conf("128m"), path) == len(files)
    assert _estimated_scan_splits(with_conf("1k"), path) == math.ceil(total / 1024)
    assert _estimated_scan_splits(with_conf("1.5g"), path) is None
