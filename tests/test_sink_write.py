"""The sink write path. Every partitioned sink write goes through one
writer that caps parquet's dictionary, checked in the written files'
footers: an all-distinct column stops being dictionary encoded, a
low-cardinality one keeps its dictionary, and the rows read back equal.
Input lineage comes from the scan leaves of the analyzed plan, with no
second optimization."""

import ast
import glob
import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fluent_plugin_geoip_spark.operators import route
from fluent_plugin_geoip_spark.operators.route import (
    UNROUTED, compact_sinks, input_files, read_input_lineage, route_and_write,
    write_manifest,
)
from fluent_plugin_geoip_spark.plans.pipeline import GeoipPipeline
from fluent_plugin_geoip_spark.sources.pages import generate_pages
from fluent_plugin_geoip_spark.streaming import stream
from fluent_plugin_geoip_spark.streaming.stream import make_batch_handler

N = 20_000
# A sink file of more rows than this holds more distinct warc_ts values
# than a 16 KiB dictionary does (1,365 INT96 timestamps; 2,048 at 8 B).
BIG = 2_048


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sink_pages") / "pages.parquet")
    generate_pages(spark, N, seed=11, partitions=4).write.parquet(d)
    return d


@pytest.fixture(scope="module")
def frame(spark, pages_dir):
    """The frame ``GeoipPipeline.run`` routes."""
    pipe = GeoipPipeline(spark)
    return pipe.enrich(spark.read.parquet(pages_dir)).drop("access")


def _dictionary_pages(path: str) -> dict[str, bool]:
    """Per column: whether any row group of the file has a dictionary
    page, read from the parquet footer."""
    md = pq.ParquetFile(path).metadata
    out: dict[str, bool] = {}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for i in range(rg.num_columns):
            c = rg.column(i)
            out[c.path_in_schema] = (out.get(c.path_in_schema, False)
                                     or c.has_dictionary_page)
    return out


def _assert_capped(root: str) -> None:
    """Every routed-country sink file under ``root`` of more than ``BIG``
    rows has no ``warc_ts`` dictionary page, while ``lang`` and
    ``country`` keep theirs (the unrouted sink's ``country`` is all
    null, so it is left out)."""
    big = 0
    for f in glob.glob(f"{root}/**/route_country=*/*.parquet",
                       recursive=True):
        if f"route_country={UNROUTED}" in f:
            continue
        if pq.ParquetFile(f).metadata.num_rows <= BIG:
            continue
        big += 1
        pages = _dictionary_pages(f)
        assert not pages["warc_ts"], f
        assert pages["lang"] and pages["country"], f
        # all distinct: no dictionary page with or without the cap
        assert not any(pages[c] for c in ("html", "text", "url")), f
    assert big >= 2, f"no sink file of more than {BIG} rows under {root}"


def _assert_same_rows(spark, path: str, frame) -> None:
    back = spark.read.parquet(path).select(*frame.columns)
    assert back.count() == frame.count()
    assert back.exceptAll(frame).count() == 0


def test_route_and_write_caps_dictionary(spark, frame, tmp_path):
    out = str(tmp_path / "routed")
    manifest, _ = route_and_write(frame, out, stat_cols=("lang",))
    _assert_capped(out)
    _assert_same_rows(spark, out, frame)
    assert sum(v["rows"] for v in manifest.values()) == N


def test_stream_batch_caps_dictionary(spark, frame, tmp_path):
    out = str(tmp_path / "stream")
    make_batch_handler(out)(frame, 0)
    _assert_capped(f"{out}/data")
    _assert_same_rows(spark, f"{out}/data", frame)


def test_compact_sinks_caps_dictionary(spark, frame, tmp_path):
    out = str(tmp_path / "routed")
    route_and_write(frame, out)
    # a second, fragmented copy of every sink, written outside the router;
    # its timestamps are shifted so that the compacted sinks' warc_ts
    # values stay distinct
    later = frame.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 MILLISECOND"))
    (later.repartition(4).write.mode("append")
     .partitionBy("route_country").parquet(out))
    assert compact_sinks(spark, out, resume_manifest=False)
    _assert_capped(out)
    _assert_same_rows(spark, out, frame.unionAll(later))


def _leaf_classes(df) -> list[str]:
    it = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    out = []
    while it.hasNext():
        out.append(it.next().getClass().getSimpleName())
    return sorted(out)


def test_input_lineage_equals_input_files(spark, pages_dir, tmp_path):
    """A 4-file parquet input through a city + ASN run: the plan's leaves
    are the scan and the one range table both databases share, and the
    recorded lineage is the scan's files."""
    pages = spark.read.parquet(pages_dir)
    assert len(pages.inputFiles()) == 4
    out = str(tmp_path / "routed")
    res = GeoipPipeline(spark, enable_asn=True).run(pages, out_dir=out)
    assert _leaf_classes(res.enriched) == ["LocalRelation", "LogicalRelation"]
    assert read_input_lineage(out) == sorted(pages.inputFiles())


def test_input_lineage_of_local_input_is_empty(spark, tmp_path):
    df = spark.createDataFrame([("http://a.example/", "US")],
                               "url string, route_country string")
    assert input_files(df) == []
    out = str(tmp_path / "routed")
    route_and_write(df, out)
    with open(f"{out}/_lineage/inputs.json") as f:
        assert json.load(f)["input_files"] == []


def test_input_lineage_runs_no_optimizer(spark, pages_dir):
    """Listing the input files reads the already-analyzed plan: no
    analyzer or optimizer rule runs. ``inputFiles()`` optimizes the plan
    again, which the same counter sees."""
    rules = spark._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
    pipe = GeoipPipeline(spark, enable_asn=True)
    df = pipe.enrich(spark.read.parquet(pages_dir))
    rules.resetMetrics()
    files = input_files(df)
    assert rules.getCurrentMetrics().numRuns() == 0
    assert len(files) == 4
    assert files == sorted(df.inputFiles())
    assert rules.getCurrentMetrics().numRuns() > 0


# The dedup handlers' batch_id-partitioned state tables (signature store,
# docs, pairs, paragraph store output) are not sinks.
STATE_WRITERS = {"make_incremental_dedup_handler",
                 "make_paragraph_dedup_handler"}
SINK_WRITERS = {"route_and_write", "compact_sinks", "compact_stream_sinks",
                "_finish_stream_compaction", "make_batch_handler"}


def _top_level_calls(module, attr: str) -> set[str]:
    """Names of the module's top-level definitions that call ``.<attr>(``
    or ``<attr>(``."""
    with open(module.__file__) as f:
        tree = ast.parse(f.read())
    owners = set()
    for node in tree.body:
        for sub in ast.walk(node):
            if not isinstance(sub, ast.Call):
                continue
            fn = sub.func
            name = fn.attr if isinstance(fn, ast.Attribute) else \
                getattr(fn, "id", None)
            if name == attr:
                owners.add(getattr(node, "name", "<module>"))
    return owners


def test_sink_writes_go_through_one_writer():
    assert _top_level_calls(route, "partitionBy") == {"_write_sinks"}
    assert _top_level_calls(stream, "partitionBy") <= STATE_WRITERS
    assert (_top_level_calls(route, "_write_sinks")
            | _top_level_calls(stream, "_write_sinks")) == SINK_WRITERS
    # the overwrite mode is _write_sinks' argument, not a caller's block
    assert not _top_level_calls(route, "dynamic_overwrite")
    assert _top_level_calls(stream, "dynamic_overwrite") <= STATE_WRITERS


def test_escaped_route_values(spark, tmp_path):
    """Spark escapes a route value's special characters in its partition
    directory name (``A/B`` is written to ``route_country=A%2FB``). The
    manifest and the audit stats still hold every value with its rows and
    files, on a fresh run, a re-run and a ``resume=True`` run, which
    rewrites only the partition missing from the manifest."""
    values = ["A/B", "A/B", "US", "x:y", "a=b", "50%"]
    df = spark.createDataFrame([(f"u{i}", v) for i, v in enumerate(values)],
                               "url string, route_country string")
    want = {"A/B": 2, "US": 1, "x:y": 1, "a=b": 1, "50%": 1}
    out = str(tmp_path / "routed")
    fresh, stats = route_and_write(df, out)
    assert sorted(os.path.basename(d)
                  for d in glob.glob(f"{out}/route_country=*")) == [
        "route_country=50%25", "route_country=A%2FB", "route_country=US",
        "route_country=a%3Db", "route_country=x%3Ay"]
    assert {k: v["rows"] for k, v in fresh.items()} == want
    assert {r["route_country"]: r["rows"] for r in stats} == want
    assert all(v["files"] == 1 and v["bytes"] > 0 for v in fresh.values())
    rerun, _ = route_and_write(df, out)
    assert {k: v["rows"] for k, v in rerun.items()} == want
    partial = {k: v for k, v in rerun.items() if k != "x:y"}
    write_manifest(out, partial)
    resumed, stats = route_and_write(df, out, resume=True)
    assert [r["route_country"] for r in stats] == ["x:y"]
    assert {k: v["rows"] for k, v in resumed.items()} == want
    assert all(resumed[k] == v for k, v in partial.items())
    again, stats = route_and_write(df, out, resume=True)
    assert stats == [] and again == resumed
