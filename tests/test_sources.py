"""Source-layer unit semantics: epoch→NTZ conversion across the full
signed range (pre-1970 epochs floor correctly) and its TZ independence,
and the per-session parquet schema memo."""

from pyspark.sql import functions as F

from impractical_impala_spark.sources.readers import (
    load_table, ntz_from_epoch_us)

from .conftest import spark_jobs


def _convert(spark, epochs_us):
    df = spark.createDataFrame([(e,) for e in epochs_us], "us long")
    rows = (
        df.select("us", F.date_format(ntz_from_epoch_us(F.col("us")),
                                      "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("s"))
        .collect()
    )
    return {r.us: r.s for r in rows}


def test_ntz_epoch_round_trip_including_pre_1970(spark):
    from datetime import datetime, timedelta

    cases = [
        0,                          # the epoch itself
        1,                          # smallest positive
        -1,                         # 1969-12-31 23:59:59.999999
        -86_400_000_000,            # exactly one day before
        -86_400_000_001,            # one us earlier: must floor, not truncate
        -123_456_789_654_321,       # arbitrary pre-1970 instant
        1_700_000_000_000_000,      # 2023
    ]
    got = _convert(spark, cases)
    for us in cases:
        want = datetime(1970, 1, 1) + timedelta(microseconds=us)
        assert got[us] == want.strftime("%Y-%m-%d %H:%M:%S.%f"), us


def test_ntz_is_timezone_independent(spark):
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        us = [-123_456_789_654_321, 1_700_000_000_000_000]
        base = _convert(spark, us)
        spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
        assert _convert(spark, us) == base
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_schema_memo_skips_inference_and_reinfers_a_rewritten_file(
        spark, tmp_path):
    """load_table infers a file's schema once per session and file
    version: a repeat load runs no Spark job, and a file rewritten at
    the same path is inferred again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)

    def jobs_and_columns():
        out = []
        n = spark_jobs(spark, lambda: out.append(
            load_table(spark, str(tmp_path), "region").columns))
        return n, out[0]

    n_first, cols = jobs_and_columns()
    assert n_first > 0 and cols == ["r_regionkey"]
    assert jobs_and_columns() == (0, ["r_regionkey"])

    pq.write_table(pa.table({"r_name": ["AFRICA"], "r_comment": ["x"]}),
                   path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_name", "r_comment"]
    assert [tuple(r) for r in df.collect()] == [("AFRICA", "x")]
