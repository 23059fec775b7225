"""Aggregate + metrics stage (A1/A2 in SURVEY.md §2.4).

A1: per-country / per-lang rollups — plain Catalyst hash aggregates
(partial map-side combine + final), the correctness oracle of
BASELINE.json:2 ("per-sink count equality").

A2: accumulator metrics — the reference-era equivalent would be fluentd
counters; Spark-native form is ``DataFrame.observe`` (Arrow-safe, computed
inside the same job, no second pass and no accumulator double-counting on
task retries).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def country_lang_columns(country_col: str = "country"
                         ) -> tuple[list[Column], list[Column]]:
    """Grouping keys and aggregate of :func:`country_lang_counts`."""
    return ([F.coalesce(F.col(country_col), F.lit("__miss__")).alias("country"),
             F.col("lang")],
            [F.count("*").alias("n")])


def country_lang_counts(df: DataFrame, country_col: str = "country") -> DataFrame:
    keys, aggs = country_lang_columns(country_col)
    return df.groupBy(*keys).agg(*aggs)


def pipeline_metric_columns(country_col: str = "country",
                            ip_col: str = "client_ip") -> list[Column]:
    """rows_total / rows_parsed / rows_enriched / rows_missed counters, for
    ``DataFrame.observe``: they materialize when the observed DataFrame is
    consumed by an action; read them via ``Observation.get``.

    ``rows_parsed`` counts rows whose ``ip_col`` is dotted-quad text; IPv6
    text is not counted, parsed or not, so on dual-stack input it can read
    below ``rows_enriched``. ``rows_enriched`` counts rows with a non-null
    ``country_col``, ``rows_missed`` the rest."""
    return [
        F.count(F.lit(1)).alias("rows_total"),
        F.count(F.when(F.col(ip_col).rlike(r"^\d+\.\d+\.\d+\.\d+$"), 1))
         .alias("rows_parsed"),
        F.count(F.col(country_col)).alias("rows_enriched"),
        F.count(F.when(F.col(country_col).isNull(), 1)).alias("rows_missed"),
    ]
