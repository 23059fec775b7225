"""The flagship parse → enrich → route → aggregate plan (north_rule,
BASELINE.json:14) composed from the stage operators.

Every Column of the plan — parse, enrich, route key, observed counters,
aggregate — is built once (the parse Columns once per process, the rest
when the pipeline is constructed or first sees an input schema); a run
only applies them (the reference, too,
compiles its config once at configure time, filter_geoip.rb:60, 86).

The logical plan is fully declarative: parse is native regex projection,
enrich is broadcast hash joins against prefix-bucketed range tables (no
Python worker), route adds an AQE ``REBALANCE`` on the country key (the
ONLY shuffle before the sink), aggregate is a Catalyst partial+final hash
agg. At 1000 executors nothing here changes: the scan parallelizes by
file split, the enrich stage is a narrow map, the broadcast range tables
replicate once per executor, and REBALANCE splits hot countries into
size-targeted write partitions.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession, types as T

from ..config import GeoipConfig
from ..operators.aggregate import (
    country_lang_columns, pipeline_metric_columns,
)
from ..operators.enrich import GeoipEnricher, apply_plan
from ..operators.geolookup import GeoDatabase
from ..operators.parse import parse_pages
from ..operators.route import UNROUTED, route_and_write, route_key_column
from ..sources.fixtures import world_db

# The flagship <record> config — Spark restatement of the reference tutorial
# (/root/reference/README.md:248-276: host → city / lat / lon) plus the
# country key the router needs.
FLAGSHIP_RECORDS = {
    "country": "${country.iso_code['client_ip']}",
    "city": "${city.names.en['client_ip']}",
    "latitude": "${location.latitude['client_ip']}",
    "longitude": "${location.longitude['client_ip']}",
}


COUNTS_SCHEMA = T.StructType([
    T.StructField("country", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("n", T.LongType()),
])


@dataclass
class PipelineResult:
    """What :meth:`GeoipPipeline.run` returns.

    ``counts``: (country, lang, n) rows, a local DataFrame
    (``COUNTS_SCHEMA``). It holds the already-computed rollup, so reading
    it runs no job and starts no Python worker; it is not cached and
    needs no ``unpersist``. ``metrics``: the observed row counters (with
    ``collect_metrics``; ``aggregate.pipeline_metric_columns``:
    ``rows_parsed`` counts dotted-quad ``client_ip`` text only, so on
    dual-stack input it can read below ``rows_enriched``), ``plan_build_s``
    and ``table_stats``, the shape
    of each expanded range table the enrich joins probe:
    ``{"city": {"v4": {"rows", "max_bucket_rows", "coarse_bits",
    "split_levels"}, "v6": ...}}`` (the coarse level and split levels the
    layout rule chose, ``geolookup.BucketLayout.stats``), plus an
    ``"asn"`` entry when ASN enrichment is on (``GeoipEnricher.
    table_stats``, taken from the NumPy layout when the plan is compiled,
    so reporting it runs no job). City and ASN probe ``client_ip`` with
    one join, so both entries describe the one table they share, that of
    the overlay of the two databases (``geolookup.overlay``). ``manifest``: the routed run's per-sink
    lineage.

    On a routed run, ``counts`` comes from the post-write audit aggregate,
    so with ``resume=True`` it covers only the partitions written in this
    run, not the ones a previous run completed.
    """
    enriched: DataFrame
    counts: DataFrame
    metrics: dict = field(default_factory=dict)
    manifest: dict = field(default_factory=dict)


ASN_RECORDS = {
    "asn": "${asn['client_ip']}",
    "as_org": "${as_org['client_ip']}",
}


class GeoipPipeline:
    """parse → enrich → route → aggregate over a pages DataFrame.

    Two lookup stages (city DB + ASN DB, per the north_star's "city/ASN"
    enrichment) compile into one enrich plan: ``client_ip`` is parsed
    once and probed by one broadcast hash join, against the range table
    of the overlay of both databases (each piece carries the city and the
    ASN attributes), fused into the scan's codegen stage. The plan is
    compiled per input column list and ``spark.sql.caseSensitive``
    (``_plans``) and reused for every later input, batch or streaming.
    """

    def __init__(self, spark: SparkSession, database: GeoDatabase | None = None,
                 records: dict[str, str] | None = None,
                 skip_adding_null_record: bool = False,
                 asn_database: GeoDatabase | None = None,
                 enable_asn: bool = False):
        self.spark = spark
        self.db = database or world_db()
        cfg = GeoipConfig(
            lookup_keys=["client_ip"],
            records=dict(records or FLAGSHIP_RECORDS),
            skip_adding_null_record=skip_adding_null_record,
        )
        self.enricher = GeoipEnricher(spark, cfg, self.db)
        self.asn_enricher = None
        if enable_asn:
            from ..sources.fixtures import asn_db
            adb = asn_database or asn_db()
            asn_cfg = GeoipConfig(lookup_keys=["client_ip"],
                                  records=dict(ASN_RECORDS))
            self.asn_enricher = GeoipEnricher(spark, asn_cfg, adb)
        self._enrichers = [e for e in (self.enricher, self.asn_enricher)
                           if e is not None]
        self._plans: dict = {}
        self._route_key = route_key_column()
        self._metrics = pipeline_metric_columns()
        self._count_keys, self._count_aggs = country_lang_columns()

    def enrich(self, pages: DataFrame) -> DataFrame:
        out = apply_plan(self._enrichers, self._plans, parse_pages(pages))
        return out.withColumn("route_country", self._route_key)

    def run(self, pages: DataFrame, out_dir: str | None = None,
            resume: bool = False, collect_metrics: bool = True,
            audit: str = "full") -> PipelineResult:
        """Enrich ``pages``, then either route them to per-country sinks
        under ``out_dir`` or, with no ``out_dir``, only aggregate them.

        The aggregate-only run is one Spark action: the small country ×
        lang rollup is collected once, as Arrow, and ``counts`` is built
        from it locally. ``metrics["plan_build_s"]`` is the wall time
        from entry to the call that runs the first action.

        A routed run takes ``counts`` from the audit's read-back, so
        ``audit`` is ``"full"`` or ``"counts"``; to route with no read-back
        call ``route_and_write(..., audit="off")`` directly."""
        if audit == "off":
            raise ValueError(
                "run() builds counts from the audit read-back, so audit='off'"
                " would return empty counts; call route_and_write(enriched,"
                " out_dir, audit='off') to route without it")
        t0 = time.perf_counter()
        enriched = self.enrich(pages)
        obs = None
        if collect_metrics:
            obs = Observation("geoip_pipeline")
            enriched = enriched.observe(obs, *self._metrics)
        manifest = {}
        if out_dir is not None:
            plan_build_s = time.perf_counter() - t0
            manifest, stats = route_and_write(
                enriched, out_dir, resume=resume, stat_cols=("lang",),
                audit=audit)
            # counts derive from the SAME lineage aggregate (no extra scan);
            # on resume the stats cover only partitions written this run
            table = pa.table([
                pa.array(["__miss__" if r["route_country"] == UNROUTED
                          else r["route_country"] for r in stats], pa.string()),
                pa.array([r["lang"] for r in stats], pa.string()),
                pa.array([r["rows"] for r in stats], pa.int64()),
            ], names=COUNTS_SCHEMA.names)
        else:
            rollup = enriched.groupBy(*self._count_keys).agg(*self._count_aggs)
            plan_build_s = time.perf_counter() - t0
            table = rollup.toArrow()
        # a small Arrow table becomes a local relation: reading counts
        # starts no Python worker and no job, and nothing is cached
        counts = self.spark.createDataFrame(table, schema=COUNTS_SCHEMA)
        metrics = dict(obs.get) if obs is not None else {}
        metrics["plan_build_s"] = plan_build_s
        tables = metrics["table_stats"] = {
            "city": dict(self.enricher.table_stats)}
        if self.asn_enricher is not None:
            tables["asn"] = dict(self.asn_enricher.table_stats)
        return PipelineResult(enriched=enriched, counts=counts,
                              metrics=metrics, manifest=manifest)
