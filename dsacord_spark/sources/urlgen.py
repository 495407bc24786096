"""S1 — date-range URL generation (/root/reference/main.go:146-154).

One row per day in [date_from, date_to] with the daily dump URL, in two
forms built from the one template (config.URL_TEMPLATE). `url_table` is
a DataFrame (sequence + explode) partitioned to `workers` partitions,
which is what the reference's worker pool becomes in Spark when the
tasks download (SURVEY §2.12 O1). `day_urls` is the same list on the
driver, for the driver-side stager: collecting the table cost 2 of a
6-day backfill's 5 jobs (about 0.1 s) for a few dozen strings.
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import DataFrame, SparkSession, functions as F

from dsacord_spark.config import URL_TEMPLATE
from dsacord_spark.functions.parsing import url_for_day


def day_urls(days: list[date]) -> list[tuple[str, str]]:
    """(dt, url) per day, in day order; no Spark job."""
    return [(d.isoformat(), URL_TEMPLATE % d.isoformat()) for d in days]


def url_table(
    spark: SparkSession, date_from: date, date_to: date, workers: int = 1
) -> DataFrame:
    days = spark.sql(
        "SELECT explode(sequence(to_date(:f), to_date(:t), interval 1 day)) AS day",
        args={"f": date_from.isoformat(), "t": date_to.isoformat()},
    )
    df = days.select(
        F.col("day"),
        F.date_format("day", "yyyy-MM-dd").alias("dt"),
        url_for_day(F.col("day")).alias("url"),
    )
    return df.repartition(max(workers, 1))
