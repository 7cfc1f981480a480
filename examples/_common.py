"""Shared bootstrap for the runnable examples (the PySpark analogue of the
reference's morpheus-examples module — each file mirrors one reference
example's behavior; none of them copy its code).

Every example exposes ``run(spark) -> None`` so tests can drive them all on
one shared session; executing a file directly spins up a throwaway
``local[*]`` session.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from cypher_for_apache_spark_spark import build_spark_session


def local_session() -> SparkSession:
    return build_spark_session(
        master="local[*]",
        app_name="examples",
        extra_confs={
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.session.timeZone": "UTC",
            "spark.ui.enabled": "false",
        },
    )


def main(run) -> None:
    spark = local_session()
    spark.sparkContext.setLogLevel("ERROR")
    run(spark)
