"""get_spark on a session that is already running."""

from amazon_security_lake_transformation_library_spark.session import get_spark

PARTITIONS = "spark.sql.shuffle.partitions"
CODEC = "spark.sql.parquet.compression.codec"


def test_get_spark_keeps_a_running_sessions_conf(spark):
    """A second get_spark returns the running session with the conf the
    caller set since it started: no default is applied again. Only the new
    call's extra_conf changes anything."""
    before = {k: spark.conf.get(k) for k in (PARTITIONS, CODEC)}
    try:
        spark.conf.set(PARTITIONS, "3")
        spark.conf.set(CODEC, "snappy")
        again = get_spark()
        assert again.sparkContext is spark.sparkContext
        assert again.conf.get(PARTITIONS) == "3"
        assert again.conf.get(CODEC) == "snappy"

        get_spark("other-name", extra_conf={CODEC: "gzip"})
        assert spark.conf.get(CODEC) == "gzip"
        assert spark.conf.get(PARTITIONS) == "3"
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
