"""fluent_plugin_geoip_spark — a PySpark-native parse→enrich→route→aggregate engine.

A brand-new engine (NOT a port) with the query/data-processing capabilities of
the reference fluentd filter plugin ``y-ken/fluent-plugin-geoip`` v1.3.2
(/root/reference/lib/fluent/plugin/filter_geoip.rb), re-expressed Spark-first:

- the per-record enrich operator becomes a broadcast interval lookup
  (range tables expanded into IP-prefix buckets, probed by broadcast hash
  joins inside the JVM) — see ``operators/geolookup.py`` and
  ``operators/enrich.py``;
- the ``<record>`` placeholder template DSL becomes a compile-time
  template→Column compiler — see ``functions/templates.py``;
- fluentd tag routing becomes deterministic multi-sink fan-out to per-country
  partitions through an AQE rebalance — see ``operators/route.py``;
- plus the aggregate/metrics/lineage/resume stages the north rule mandates and
  a library of large-scale training-data operators (dedup, similarity search,
  text analysis, multimodal plumbing) — see ``operators/``.

Everything is DataFrame-declarative so Catalyst handles pushdown, pruning and
whole-stage codegen; Python appears only in Arrow-batched pandas UDFs.
"""

__version__ = "0.2.0"
