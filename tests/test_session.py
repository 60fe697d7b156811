"""Session factory settings that decide whether a run fits its host."""

from __future__ import annotations

import math

from opay_datalake_script_spark.session import driver_heap, host_memory_bytes


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal:"))


def test_driver_heap_fits_host_memory(spark):
    """A heap above physical memory lets the JVM grow until the kernel
    OOM-kills it mid-suite; the test session's heap must be the
    host-derived default and sit below MemTotal."""
    mem_total = _mem_total_bytes()
    assert host_memory_bytes() <= mem_total
    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    assert conf == driver_heap()
    assert int(conf.removesuffix("m")) << 20 < mem_total
    max_heap = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert 0 < max_heap < mem_total


# --- zstd on every byte stream the JVM writes -------------------------------


def _cell(v):
    """One toPandas() or collect() cell in a form both paths agree on.
    Timestamps come out as naive UTC: toPandas() renders them in the
    session time zone (UTC), collect() in the host's local time zone."""
    import datetime

    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (list, np.ndarray)):
        return [_cell(x) for x in v]
    if isinstance(v, np.generic):
        return _cell(v.item())
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def _arrow_rows(df):
    return [tuple(_cell(v) for v in row) for row in df.toPandas().itertuples(index=False)]


def _collected_rows(df):
    return [tuple(_cell(v) for v in row) for row in df.collect()]


def _mixed_frame(spark):
    """Nulls in every column, strings, arrays, decimals and timestamps."""
    import datetime
    from decimal import Decimal

    schema = (
        "k INT, s STRING, arr ARRAY<BIGINT>, d DECIMAL(18,4), "
        "ts TIMESTAMP, x DOUBLE"
    )
    rows = [
        (1, "alpha", [1, 2, 3], Decimal("12345.6789"),
         datetime.datetime(2024, 1, 2, 3, 4, 5, 678901), 1.5),
        (2, None, None, None, None, None),
        (1, "", [], Decimal("-0.0001"), datetime.datetime(1970, 1, 1), -0.0),
        (3, "héllo wörld " * 20, [None, 7], Decimal("99999999999999.9999"),
         datetime.datetime(2038, 1, 19, 3, 14, 7), float("inf")),
        (2, "beta", [2**62], Decimal("0.0000"),
         datetime.datetime(2000, 2, 29, 23, 59, 59), 2.0),
    ]
    return spark.createDataFrame(rows, schema)


def test_byte_streams_use_zstd(spark):
    """Shuffle/spill/broadcast blocks and the Arrow batches to Python are
    both zstd-compressed."""
    assert spark.conf.get("spark.io.compression.codec") == "zstd"
    assert spark.conf.get("spark.sql.execution.arrow.compression.codec") == "zstd"


def test_compressed_arrow_collect_is_exact(spark):
    """toPandas() over zstd Arrow batches returns exactly what collect()
    returns: mixed types with nulls, an empty frame, and a frame whose
    single partition spans several Arrow batches."""
    from pyspark.sql import functions as F

    mixed = _mixed_frame(spark)
    assert _arrow_rows(mixed) == _collected_rows(mixed)

    empty = mixed.where(F.lit(False))
    assert _arrow_rows(empty) == _collected_rows(empty) == []
    assert list(empty.toPandas().columns) == mixed.columns

    n = 3 * int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")) + 17
    big = spark.range(0, n, numPartitions=1).select(
        "id",
        F.concat(F.lit("row-"), F.col("id").cast("string")).alias("s"),
        F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id") * 0.5).alias("x"),
    )
    got = _arrow_rows(big)
    assert len(got) == n
    assert got == _collected_rows(big)


def test_compressed_arrow_udf_round_trip_is_exact(spark):
    """An identity applyInPandas sends every group to a Python worker and
    back over zstd Arrow batches; its output rows equal its input rows."""
    mixed = _mixed_frame(spark)
    out = mixed.groupBy("k").applyInPandas(lambda pdf: pdf, schema=mixed.schema)

    def key(r):
        return tuple((v is None, repr(v)) for v in r)

    assert sorted(_collected_rows(out), key=key) == sorted(_collected_rows(mixed), key=key)
