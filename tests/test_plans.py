"""Physical-plan shape tests — the scale properties the engine promises:

- column pruning reaches the parquet scan (a rollup must not read html)
- predicate pushdown reaches the scan (PushedFilters)
- the enrich stage is broadcast hash joins with no Python worker and no
  shuffle (narrow map): one per lookup key, however many databases probe
  it, each key parsed once, and its largest generated method under
  HotSpot's JIT limit
- the routed fan-out introduces exactly one Exchange (the REBALANCE on the
  route key)
- aggregates run as partial+final hash aggregation (map-side combine)

These are the .explain() checks SURVEY.md §4.2 commits to; they pin the plan
so a regression (e.g. a UDF blocking pruning) fails loudly.
"""

import pytest
from pyspark.sql import functions as F

from fluent_plugin_geoip_spark.plans.pipeline import GeoipPipeline
from fluent_plugin_geoip_spark.sources.pages import generate_pages


def explain(df, mode: str = "formatted") -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(jmode.fromString(mode))


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plans") / "pages.parquet")
    generate_pages(spark, 1000, partitions=2).write.parquet(d)
    return d


def test_rollup_prunes_html(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    counts = (GeoipPipeline(spark).enrich(pages)
              .groupBy("route_country", "lang").agg(F.count("*").alias("n")))
    plan = explain(counts)
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "html" not in scan, scan
    assert "warc_ts" not in scan, scan
    assert "text" in scan and "lang" in scan


def test_filter_pushdown_to_scan(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet).filter(F.col("lang") == "en")
    plan = explain(pages)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan


def _shuffles(tree: str) -> int:
    """Shuffle Exchange nodes only (BroadcastExchange is not a shuffle)."""
    return tree.count("Exchange") - tree.count("BroadcastExchange")


def test_default_enrich_is_jvm_join_no_python(spark, pages_parquet):
    """The pipeline's enrich stage runs with NO Python worker and NO
    shuffle — only a broadcast build per lookup DB."""
    pages = spark.read.parquet(pages_parquet)
    enriched = GeoipPipeline(spark).enrich(pages)
    plan = explain(enriched)
    tree = plan.split("\n\n")[0]
    assert "ArrowEvalPython" not in tree, tree
    assert "BatchEvalPython" not in tree, tree
    assert tree.count("BroadcastHashJoin") == 1, tree
    assert _shuffles(tree) == 0, tree


def test_route_rebalance_plan_is_single_aqe_exchange(spark, pages_parquet):
    """The fan-out: ONE exchange, keyed on the route column, flagged
    REBALANCE so AQE sizes/splits/merges the write partitions (files per
    sink track data volume)."""
    pages = spark.read.parquet(pages_parquet)
    enriched = GeoipPipeline(spark).enrich(pages)
    routed = enriched.hint("rebalance", "route_country")
    plan = explain(routed)
    tree = plan.split("\n\n")[0]
    assert _shuffles(tree) == 1, tree
    assert "REBALANCE_PARTITIONS_BY_COL" in plan, plan
    assert "hashpartitioning(route_country" in plan, plan


def test_aggregate_partial_final(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    counts = pages.groupBy("lang").agg(F.count("*").alias("n"))
    plan = explain(counts)
    tree = plan.split("\n\n")[0]
    # partial + final hash aggregate (map-side combine before the shuffle)
    assert tree.count("HashAggregate") == 2, tree


def test_asn_enrich_jvm_join_one_broadcast_per_key_no_python(spark,
                                                             pages_parquet):
    """City + ASN on two v4-only databases: one broadcast join for the one
    lookup key, against the overlay of both databases; still zero Python
    workers and zero shuffles."""
    pages = spark.read.parquet(pages_parquet)
    enriched = GeoipPipeline(spark, enable_asn=True).enrich(pages)
    plan = explain(enriched)
    tree = plan.split("\n\n")[0]
    assert "ArrowEvalPython" not in tree, tree
    assert tree.count("BroadcastHashJoin") == 1, tree
    assert _shuffles(tree) == 0, tree


def test_near_dupes_bucket_shuffle_is_narrow(spark):
    """The LSH bucket exchange must move (id, t, bucket) rows only — never
    embedding vectors (round-4 plan shape): exactly TWO Python crossings
    (all-tables signature + candidate cosine), and the pre-aggregate
    exchange's hashpartitioning is on (t, bucket)."""
    import numpy as np

    from fluent_plugin_geoip_spark.operators.similarity import (
        embedding_near_dupes,
    )
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(16)])
            for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_near_dupes(df, threshold=0.9, dim=16)
    plan = explain(out)
    tree = plan.split("\n\n")[0]
    assert tree.count("ArrowEvalPython") == 2, tree
    # the signature crossing feeds a posexplode then the bucket exchange;
    # the vector column must not appear in any Exchange's partitioning or
    # in the aggregate keys
    assert "hashpartitioning(t" in plan or "hashpartitioning(bucket" in plan, plan


def test_quality_scores_is_native_and_pruned(spark, tmp_path_factory):
    """quality_scores: no Python in the plan, and the parquet scan reads
    only (doc_id, text)."""
    d = str(tmp_path_factory.mktemp("qs") / "documents.parquet")
    spark.createDataFrame(
        [(1, "some text here", "en", 3)],
        "doc_id long, text string, lang string, extra long"
    ).write.parquet(d)
    # build directly on the written table (q_quality_scores expects an
    # sf_dir layout; replicate its projection here)
    from fluent_plugin_geoip_spark.operators.textstats import (
        bpe_ish_token_count, quality_score_raw,
    )
    df = spark.read.parquet(d)
    t = F.col("text")
    out = df.select(
        "doc_id",
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        F.round(quality_score_raw(t) * 1e6).cast("long").alias("quality_micros"))
    plan = explain(out)
    assert "Python" not in plan and "Arrow" not in plan
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "lang" not in scan and "extra" not in scan, scan


def test_incremental_dedup_never_resignatures_corpus(spark, tmp_path_factory):
    """Round-5 plan shape for the daily incremental dedup: corpus
    signatures come from a parquet SCAN of the store (never recomputed),
    and the only signature kernel (mapInPandas) in the candidate plan runs
    over the new batch. The store probe is a plain equi-join on the narrow
    (band, key) columns."""
    from fluent_plugin_geoip_spark.operators.dedup import (
        incremental_minhash_dedup, write_signature_store,
    )
    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} text " * 3) for i in range(20)],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(100, "corpus document number 3 text " * 3)],
        "doc_id long, text string")
    store = str(tmp_path_factory.mktemp("incr") / "store")
    write_signature_store(corpus, store, bands=16, rows=8)

    # plan-pin the candidate stage (the operator's verify stage materializes
    # eagerly, so rebuild the probe plan exactly as the operator does)
    from fluent_plugin_geoip_spark.operators.dedup import (
        signature_band_entries,
    )
    new_entries = signature_band_entries(new, bands=16, rows=8)
    probe = (new_entries.select("band", "key", F.col("id").alias("id_new"))
             .join(spark.read.parquet(store)
                   .select("band", "key", F.col("id").alias("id_old")),
                   ["band", "key"]))
    plan = explain(probe)
    tree = plan.split("\n\n")[0]
    # exactly one Python stage: the new batch's signature kernel
    assert (tree.count("MapInPandas") + tree.count("ArrowEvalPython")) == 1, tree
    # corpus side is a parquet scan of the store, pruned to (band, key, id)
    assert "Scan parquet" in plan, plan
    scan_schema = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "text" not in scan_schema and "id" in scan_schema, scan_schema
    # end-to-end result still correct through the real operator
    out = incremental_minhash_dedup(new, corpus, store, bands=16, rows=8,
                                    threshold=0.8, exact_grams=True)
    assert {(r.id_a, r.id_b) for r in out.collect()} == {(3, 100)}


def test_bucketed_store_probe_has_no_store_side_exchange(spark,
                                                         tmp_path_factory):
    """Round-6 plan shape for the bucketed incremental-dedup store: the
    probe equi-joins on the store's bucket column (`key`) alone, so the
    bucketed scan satisfies the join's required distribution — NO exchange
    on the store side; only the new batch's entries shuffle. At a
    16-trillion-row store this is the difference between a daily probe
    that costs O(new batch) and one that re-shuffles the store every run."""
    from fluent_plugin_geoip_spark.operators.dedup import (
        incremental_minhash_dedup, signature_band_entries,
        write_signature_store,
    )
    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} text " * 3) for i in range(20)],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(100, "corpus document number 3 text " * 3)],
        "doc_id long, text string")
    store = str(tmp_path_factory.mktemp("bincr") / "store")
    table = write_signature_store(corpus, store, bands=16, rows=8,
                                  bucket_by=8, table="t_sig_store_pin")
    assert table == "t_sig_store_pin"

    new_entries = signature_band_entries(new, bands=16, rows=8)
    probe = (new_entries.select("key", F.col("id").alias("id_new"))
             .join(spark.table(table)
                   .select("key", F.col("id").alias("id_old")), ["key"]))
    # pin the non-broadcast (production big-batch) plan: at scale the new
    # batch exceeds any broadcast threshold and the join is sort-merge
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain(probe, "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # the store scan reads its bucket layout...
    assert "Bucketed: true" in plan, plan
    assert "SelectedBucketsCount: 8 out of 8" in plan, plan
    # ...and exactly ONE exchange exists: the probe side. Nothing between
    # the store FileScan and the join.
    assert plan.count("Exchange") == 1, plan
    store_side = plan[plan.index("FileScan"):]
    assert "Exchange" not in store_side, plan

    # end-to-end through the real operator stays correct on the bucketed path
    out = incremental_minhash_dedup(new, corpus, store, bands=16, rows=8,
                                    threshold=0.8, exact_grams=True,
                                    store_table=table)
    assert {(r.id_a, r.id_b) for r in out.collect()} == {(3, 100)}


def test_jvm_join_enrich_no_python_and_broadcast(spark):
    """The geolocate probe is a broadcast-hash prefix-bucket join — the
    whole enrich stage must run with NO Python worker (no
    ArrowEvalPython/BatchEvalPython), no shuffle Exchange, and a
    BroadcastHashJoin per lookup key."""
    from fluent_plugin_geoip_spark.config import GeoipConfig
    from fluent_plugin_geoip_spark.operators.enrich import GeoipEnricher
    from fluent_plugin_geoip_spark.sources.fixtures import world_db
    df = spark.createDataFrame(
        [("8.8.8.8",), ("garbage",), ("",)], "ip string")
    cfg = GeoipConfig(
        lookup_keys=["ip"],
        records={"country": "${country.iso_code['ip']}",
                 "latlon": "${location.latitude['ip']}"})
    out = GeoipEnricher(spark, cfg, world_db()).transform(df)
    plan = explain(out)
    tree = plan.split("\n\n")[0]
    assert "ArrowEvalPython" not in tree, tree
    assert "BatchEvalPython" not in tree, tree
    assert tree.count("BroadcastHashJoin") == 1, tree
    assert "Exchange hashpartitioning" not in tree, tree
    assert out.count() == 3  # left join preserves rows (garbage/empty miss)


def test_jvm_join_v6_db_no_python_two_broadcasts(spark):
    """A v6-capable database must STILL enrich with no Python worker —
    the address parses JVM-side (functions.ipv6), and the v4 and native-v6
    probes share ONE BroadcastHashJoin against the database's one range
    table (v4 pieces and bias-flipped 128-bit v6 pieces under one bucket
    key). No shuffle Exchange; the left join preserves row count."""
    from fluent_plugin_geoip_spark.config import GeoipConfig
    from fluent_plugin_geoip_spark.operators.enrich import GeoipEnricher
    from fluent_plugin_geoip_spark.operators.geolookup import GeoDatabase
    db = GeoDatabase.from_mmdb(
        "tests/fixtures/geolite2-city-v6-test.mmdb")
    assert db.has_ipv6
    cfg = GeoipConfig(
        lookup_keys=["ip"],
        records={"country": "${country.iso_code['ip']}",
                 "latlon": "${location.latitude['ip']}"})
    df = spark.createDataFrame(
        [("2001:db8::1234",), ("::ffff:66.102.3.80",), ("66.102.3.80",),
         ("garbage",), ("",)], "ip string")
    out = GeoipEnricher(spark, cfg, db).transform(df)
    plan = explain(out)
    tree = plan.split("\n\n")[0]
    assert "ArrowEvalPython" not in tree, tree
    assert "BatchEvalPython" not in tree, tree
    assert tree.count("BroadcastHashJoin") == 1, tree
    assert "Exchange hashpartitioning" not in tree, tree
    assert out.count() == 5


def test_jvm_join_v6_matches_arrow_kernel(spark):
    """The enrich joins on the v6 fixture against the NumPy searchsorted
    probe the Arrow kernel ran, ``GeoDatabase.lookup_batch``, on every
    textual address class: native v6 hit (incl. the exact /32 range end),
    v4-mapped, v4-compat, country-only hit (lat nil → 0.0 default), v6
    miss, v4 hit/miss, empty, null, garbage."""
    import pandas as pd
    from fluent_plugin_geoip_spark.config import GeoipConfig
    from fluent_plugin_geoip_spark.operators.enrich import GeoipEnricher
    from fluent_plugin_geoip_spark.operators.geolookup import GeoDatabase
    db = GeoDatabase.from_mmdb(
        "tests/fixtures/geolite2-city-v6-test.mmdb")
    ips = ["2001:db8::1234", "::ffff:66.102.3.80", "::66.102.3.80",
           "2400:cb00:dead::1", "2001:db9::1", "", "66.102.3.80",
           "8.8.8.8", None, "not:an:ip::g", "0",
           "2001:db8:ffff:ffff:ffff:ffff:ffff:ffff"]
    df = spark.createDataFrame(
        [(i, ip) for i, ip in enumerate(ips)], "id long, ip string")
    cfg = GeoipConfig(lookup_keys=["ip"], records={
        "city": "${city.names.en['ip']}",
        "country": "${country.iso_code['ip']}",
        "latitude": "${location.latitude['ip']}"})
    j = [(r.city, r.country, r.latitude) for r in GeoipEnricher(
        spark, cfg, db).transform(df).orderBy("id").collect()]
    ref = db.lookup_batch(pd.Series(ips, dtype=object), [
        "city.names.en", "country.iso_code", "location.latitude"])
    want = [(city, cc, 0.0 if pd.isna(lat) else float(lat)) if hit
            else (None, None, None)
            for hit, city, cc, lat in zip(
                ref["__hit__"], ref["city_names_en"],
                ref["country_iso_code"], ref["location_latitude"])]
    assert j == want
    assert j[0][0] == "V6 City" and j[1][0] == "Mountain View"


def test_paragraph_dedup_partial_agg_no_window(spark, tmp_path_factory):
    """dedup_paragraphs' winner-per-paragraph must be an aggregate pair
    (partial map-side combine before the shuffle — on boilerplate-heavy
    web text the hot paragraphs collapse to one row per task before the
    wire) and NOT a window over partitionBy(para), which would ship every
    occurrence. min(struct) has no mutable hash buffer so the pair shows
    as Sort/ObjectHash aggregates; the pin is the pair + the absence of
    any Window node."""
    from fluent_plugin_geoip_spark.operators.curation import dedup_paragraphs

    d = str(tmp_path_factory.mktemp("paradedup") / "docs.parquet")
    spark.createDataFrame(
        [(i, f"para {i}\nshared footer\ntail {i % 3}") for i in range(40)],
        "doc_id long, text string").write.parquet(d)
    out = dedup_paragraphs(spark.read.parquet(d))
    plan = explain(out)
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree, tree
    # two agg pairs (winner selection + reassembly), each partial+final
    # (count word-exactly: "ObjectHashAggregate" contains "HashAggregate")
    import re as _re
    aggs = len(_re.findall(
        r"\b(?:SortAggregate|ObjectHashAggregate|HashAggregate)\b", tree))
    assert aggs == 4, tree
    # exactly two shuffles: the paragraph winner shuffle + the doc rebuild
    assert _shuffles(tree) == 2, tree


def test_jvm_join_v6_multi_key(spark):
    """Two lookup keys through the v6 jvm path: each key gets its own
    parse columns + one broadcast join against the database's range table
    (2 BroadcastHashJoins, no Python), and the per-key values stay
    independent."""
    from fluent_plugin_geoip_spark.config import GeoipConfig
    from fluent_plugin_geoip_spark.operators.enrich import GeoipEnricher
    from fluent_plugin_geoip_spark.operators.geolookup import GeoDatabase
    db = GeoDatabase.from_mmdb(
        "tests/fixtures/geolite2-city-v6-test.mmdb")
    cfg = GeoipConfig(
        lookup_keys=["src", "dst"],
        records={"src_c": "${country.iso_code['src']}",
                 "dst_c": "${country.iso_code['dst']}"})
    df = spark.createDataFrame(
        [("2001:db8::1", "66.102.3.80"),
         ("8.8.8.8", "2400:cb00::9"),
         ("garbage", "")],
        "src string, dst string")
    out = GeoipEnricher(spark, cfg, db).transform(df)
    plan = explain(out)
    tree = plan.split("\n\n")[0]
    assert "ArrowEvalPython" not in tree, tree
    assert tree.count("BroadcastHashJoin") == 2, tree
    rows = {(r.src, r.src_c, r.dst_c) for r in out.collect()}
    assert ("2001:db8::1", "V6", "US") in rows
    assert ("8.8.8.8", "US", "AU") in rows
    assert ("garbage", None, None) in rows


def _net_doc(cc: str, k: int) -> dict:
    return {"country": {"iso_code": cc}, "city": {"names": {"en": f"{cc}-{k}"}},
            "location": {"latitude": float(k % 90), "longitude": -1.0},
            "asn": 64500 + k % 4000, "as_org": f"AS{k % 4000}"}


def _dual_stack_pipeline(spark, tmp_path, nets):
    from fluent_plugin_geoip_spark.operators.geolookup import GeoDatabase
    from fluent_plugin_geoip_spark.sources.mmdb import build_mmdb
    path = tmp_path / "dual.mmdb"
    path.write_bytes(build_mmdb(nets))
    db = GeoDatabase.from_mmdb(str(path))
    assert db.has_ipv6
    return GeoipPipeline(spark, database=db, enable_asn=True,
                         asn_database=db)


def _dual_pages(spark):
    ips = ["1.2.3.4", "2001:db8::1", "::ffff:1.2.3.4", "2400:cb00:7::1",
           "garbage"]
    return spark.createDataFrame(
        [(f"http://www.site{i}.com/p", f"{ip} - - [10/Oct/2000:13:55:36 "
          f"-0700] \"GET / HTTP/1.0\" 200 1", "en")
         for i, ip in enumerate(ips)], "url string, text string, lang string")


def test_city_asn_dual_stack_one_parse_one_broadcast(spark, tmp_path):
    """City + ASN on a dual-stack database: ``client_ip`` is parsed once
    (the v6 parse appears once in the optimized plan) and probed by one
    BroadcastHashJoin, against the overlay the two enrichers share; no
    Python, no shuffle."""
    nets = [("1.2.0.0/16", _net_doc("US", 1)), ("2001:db8::/32",
                                               _net_doc("DE", 2))]
    nets += [(f"2400:cb00:{k:x}::/48", _net_doc("FR", 10 + k))
             for k in range(40)]
    enriched = _dual_stack_pipeline(spark, tmp_path, nets).enrich(
        _dual_pages(spark))
    tree = explain(enriched).split("\n\n")[0]
    assert "ArrowEvalPython" not in tree, tree
    assert tree.count("BroadcastHashJoin") == 1, tree
    assert _shuffles(tree) == 0, tree
    # substring_index isolates the dotted-quad tail, once per v6 parse
    optimized = enriched._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("substring_index(") == 1, optimized
    rows = {r.url: (r.country, r.asn) for r in enriched.collect()}
    assert rows["http://www.site1.com/p"] == ("DE", 64502)
    assert rows["http://www.site2.com/p"] == ("US", 64501)
    assert rows["http://www.site3.com/p"] == ("FR", 64517)


def _rollup_bigdb_nets(seed: int = 5) -> list:
    """A database of the benchmark's rollup kind: 8,192 v4 /18s scattered
    over unicast space and 4,096 v6 /48s in three /32 allocations
    (90/7/3 %), each with a city + ASN document."""
    import ipaddress

    import numpy as np
    rng = np.random.default_rng(seed)
    slots = 1024 + np.sort(rng.choice((224 - 1) << 10, 8192, replace=False))
    nets = [(f"{ipaddress.IPv4Address(int(s) << 14)}/18",
             _net_doc("C%02d" % (k % 40), k)) for k, s in enumerate(slots)]
    for a, n in zip(rng.choice(1 << 16, 3, replace=False).tolist(),
                    (3686, 287, 123)):
        for s in rng.choice(1 << 16, n, replace=False).tolist():
            net = (0x2400 << 112) | (a << 96) | (s << 80)
            nets.append((f"{ipaddress.IPv6Address(net)}/48",
                         _net_doc("C%02d" % (s % 40), 8192 + s)))
    return nets


def _deep_nets() -> list:
    """Dense buckets at every split level: 200 v4 /24s in one /16 and 64
    /30s in one /24 (three v4 split levels), 300 v6 /48s in one /32 and
    50 /72s sharing one /64 (seven v6 split levels, down to /60)."""
    import ipaddress
    nets = [(f"10.1.{k}.0/24", _net_doc("A", k)) for k in range(200)]
    nets += [(f"10.2.3.{4 * k}/30", _net_doc("B", k)) for k in range(64)]
    nets += [(f"2400:5678:{k:x}::/48", _net_doc("C", k)) for k in range(300)]
    hi = 0x2400ABCD00010002
    nets += [(f"{ipaddress.IPv6Address((hi << 64) | (k << 56))}/72",
              _net_doc("D", k)) for k in range(50)]
    return nets


def _half_cluster_nets() -> list:
    """``half_cluster`` of tests/test_geolookup_expand.py as a database
    file: in each family a /1 beside 40 ranges in one bucket of the last
    split level (v4 /16 with three split levels, v6 /16 with eleven)."""
    import ipaddress
    nets = [("128.0.0.0/1", _net_doc("H", 0))]
    nets += [(f"10.2.3.{4 * k}/30", _net_doc("H", 1 + k)) for k in range(40)]
    nets += [("8000::/1", _net_doc("H", 41))]
    hi = 0x2400ABCD00010200
    nets += [(f"{ipaddress.IPv6Address((hi | k) << 64)}/64",
              _net_doc("H", 42 + k)) for k in range(40)]
    return nets


_NETS = {"rollup_bigdb": _rollup_bigdb_nets, "deep": _deep_nets,
         "half_cluster": _half_cluster_nets}


@pytest.mark.parametrize("kind", ["rollup_bigdb", "deep", "half_cluster"])
def test_fused_enrich_stage_method_under_jit_limit(spark, tmp_path, kind):
    """The fused city + ASN enrich stage's largest generated method stays
    under HotSpot's 8,000-byte limit (a larger method is never
    JIT-compiled and the stage runs interpreted), on the benchmark's
    rollup database, on a database with the deepest split levels, and on
    one split at every level below /16 in both families."""
    import re
    nets = _NETS[kind]()
    pipe = _dual_stack_pipeline(spark, tmp_path, nets)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        enriched = pipe.enrich(_dual_pages(spark))
        codegen = spark._jvm.PythonSQLUtils.explainString(
            enriched._jdf.queryExecution(), "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    sizes = [int(m) for m in re.findall(r"maxMethodCodeSize:(\d+)", codegen)]
    assert sizes and max(sizes) < 8000, sizes
    stats = pipe.enricher.table_stats
    assert stats["v4"]["max_bucket_rows"] <= 32
    if kind == "rollup_bigdb":
        # the /18s fit 2n rows at /16; the 90 % /32 is split twice
        assert stats["v4"] == {"rows": 8192, "max_bucket_rows": 3,
                               "coarse_bits": 16, "split_levels": []}
        assert stats["v6"]["rows"] == 4096
        assert stats["v6"]["coarse_bits"] == 32
        assert stats["v6"]["split_levels"] == [32, 36]
    if kind == "deep":
        assert stats["v6"]["max_bucket_rows"] == 50  # one /60 holds them
