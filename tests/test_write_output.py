"""``sources.write_output`` overwrite contract for the file formats: a
partitioned write replaces the whole location (static overwrite), not just
the partitions the new frame holds."""

import pytest

from extractor_spark.spark.sources import write_output

pytestmark = pytest.mark.spark


def test_partitioned_parquet_write_is_static_overwrite(spark, tmp_path):
    out = str(tmp_path / "out")
    first = spark.createDataFrame(
        [(f"https://a.test/{i}", i % 2) for i in range(6)], "url string, bucket int"
    )
    second = spark.createDataFrame(
        [(f"https://b.test/{i}", 2 + i % 2) for i in range(4)], "url string, bucket int"
    )
    write_output(first, out)
    write_output(second, out)
    got = sorted(tuple(r) for r in spark.read.parquet(out).select("url", "bucket").collect())
    assert got == sorted(tuple(r) for r in second.collect())
