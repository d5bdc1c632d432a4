import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from webcrawler_spark.session import get_spark

    os.environ.setdefault("SPARK_LOCAL_DIRS", "/tmp")
    s = get_spark(
        "webcrawler-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.session.timeZone": "UTC"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def substring_verdicts(spark):
    """pairs [(a, b)] + docs(doc_id, text) -> the engine's substring
    verdicts: the pairs take text lengths as (len_a, len_b), the way tier-1
    survivors carry them, then pass lsh._length_gate and
    suffix.verify_substring_pairs."""
    from pyspark.sql import functions as F

    from webcrawler_spark.operators.lsh import _length_gate
    from webcrawler_spark.operators.suffix import verify_substring_pairs

    def run(pairs, docs):
        lens = docs.select("doc_id", F.length("text").alias("n"))
        tier1 = (
            spark.createDataFrame(pairs, "a long, b long")
            .join(lens.select(F.col("doc_id").alias("a"), F.col("n").alias("len_a")), "a")
            .join(lens.select(F.col("doc_id").alias("b"), F.col("n").alias("len_b")), "b")
        )
        return verify_substring_pairs(_length_gate(tier1), docs).collect()

    return run
