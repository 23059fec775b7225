"""Round-8 hygiene: operators that need partitionOverwriteMode=dynamic
must restore the caller's previous value (round-7 VERDICT item 4), the
estimate-screen margin must scale with signature length, seeded label
propagation must clamp out-of-contract seeds, and duplicate store sig
rows must not fan the screened pair table out (round-7 ADVICE)."""

import pytest
from pyspark.sql import functions as F

from fluent_plugin_geoip_spark.confutil import OVERWRITE_MODE, scoped_conf
from fluent_plugin_geoip_spark.operators import dedup
from fluent_plugin_geoip_spark.operators.curation import (
    incremental_dedup_paragraphs,
)
from fluent_plugin_geoip_spark.operators.route import (
    compact_sinks, route_and_write,
)


@pytest.fixture()
def pages(spark):
    return spark.createDataFrame(
        [(f"http://x{i}.example/{i}", "US" if i % 2 else "JP")
         for i in range(40)],
        "url string, route_country string")


def _mode(spark):
    return spark.conf.get(OVERWRITE_MODE)


def test_scoped_conf_restores_on_error(spark):
    before = _mode(spark)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, OVERWRITE_MODE, "dynamic"):
            assert _mode(spark) == "dynamic"
            raise RuntimeError("boom")
    assert _mode(spark) == before


def test_route_and_write_restores_overwrite_mode(spark, pages, tmp_path):
    spark.conf.set(OVERWRITE_MODE, "static")
    try:
        route_and_write(pages, str(tmp_path / "sinks"))
        assert _mode(spark) == "static"
        # a caller relying on dynamic keeps dynamic too
        spark.conf.set(OVERWRITE_MODE, "dynamic")
        route_and_write(pages, str(tmp_path / "sinks2"))
        assert _mode(spark) == "dynamic"
    finally:
        spark.conf.unset(OVERWRITE_MODE)


def test_compact_sinks_restores_overwrite_mode(spark, pages, tmp_path):
    out = str(tmp_path / "sinks")
    route_and_write(pages.repartition(8), out)
    spark.conf.set(OVERWRITE_MODE, "static")
    try:
        compact_sinks(spark, out, max_files_per_sink=1)
        assert _mode(spark) == "static"
    finally:
        spark.conf.unset(OVERWRITE_MODE)


def test_incremental_minhash_store_update_restores_mode(spark, tmp_path):
    base = "the quick brown fox jumps over the lazy dog " * 6
    corpus = spark.createDataFrame([(1, base)], "doc_id long, text string")
    new = spark.createDataFrame([(10, base)], "doc_id long, text string")
    store = str(tmp_path / "store")
    empty_store = spark.createDataFrame([], "band int, key long, id long")
    spark.conf.set(OVERWRITE_MODE, "static")
    try:
        dedup.incremental_minhash_dedup(
            new, corpus, store, bands=32, rows=4, threshold=0.6,
            exact_grams=True, update_store=True, store_batch_id=7,
            store_df=empty_store).count()
        assert _mode(spark) == "static"
    finally:
        spark.conf.unset(OVERWRITE_MODE)


def test_incremental_paragraphs_restores_mode(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma\n\ncommon paragraph here"),
         (2, "common paragraph here\n\ndelta epsilon")],
        "doc_id long, text string")
    store = str(tmp_path / "pstore")
    empty_store = spark.createDataFrame([], "phash long, para string")
    spark.conf.set(OVERWRITE_MODE, "static")
    try:
        incremental_dedup_paragraphs(
            docs, store, min_chars=1, update_store=True,
            store_batch_id=0, store_df=empty_store).count()
        assert _mode(spark) == "static"
    finally:
        spark.conf.unset(OVERWRITE_MODE)


def test_screen_margin_auto_scales_with_num_hashes():
    m128 = dedup._screen_margin("auto", 0.8, 128)
    m32 = dedup._screen_margin("auto", 0.8, 32)
    assert abs(m128 - 0.2828) < 1e-3          # matches the old calibration
    assert abs(m32 - 2 * m128) < 1e-9         # σ doubles at 1/4 the hashes


def test_screen_margin_warns_below_six_sigma(caplog):
    import logging
    with caplog.at_level(logging.WARNING, logger=dedup.__name__):
        m = dedup._screen_margin(0.28, 0.8, 32)   # ~4σ at 32 hashes
    assert m == 0.28
    assert "σ" in caplog.text or "sigma" in caplog.text.lower()


def test_seeded_labels_clamped_to_id(spark):
    """A seed ABOVE the node id (or naming a phantom node) must not
    survive as a label: comp ≤ id is label propagation's invariant, and a
    phantom comp would make keep=(id==comp) false for the whole cluster."""
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    bad_seeds = spark.createDataFrame(
        [(1, 99), (2, 99), (3, 99)], "id long, comp long")  # phantom 99 > ids
    labels = dedup.connected_components(
        pairs, algorithm="label_prop", initial_labels=bad_seeds)
    got = {(r.id, r.comp) for r in labels.collect()}
    dedup.release_checkpoint(labels)
    assert got == {(1, 1), (2, 1), (3, 1)}


def test_seeded_labels_below_id_still_honored(spark):
    """A legitimate seed (prior cluster min, possibly outside the touched
    subgraph) still propagates — the clamp must not break update_clusters'
    contract."""
    pairs = spark.createDataFrame([(5, 6)], "id_a long, id_b long")
    seeds = spark.createDataFrame([(5, 2)], "id long, comp long")
    labels = dedup.connected_components(
        pairs, algorithm="label_prop", initial_labels=seeds)
    got = {(r.id, r.comp) for r in labels.collect()}
    dedup.release_checkpoint(labels)
    assert got == {(5, 2), (6, 2)}


def test_incremental_sig_store_no_duplicate_pairs(spark, tmp_path):
    """Duplicate (id, sig) rows in the store companion (append over
    overlapping corpora) must not duplicate returned pairs (round-7
    ADVICE: the screen's two left joins fanned out)."""
    base = "the quick brown fox jumps over the lazy dog " * 6
    corpus = spark.createDataFrame(
        [(1, base), (2, "unrelated words about something else " * 5)],
        "doc_id long, text string")
    new = spark.createDataFrame([(10, base)], "doc_id long, text string")
    store = str(tmp_path / "store")
    table = dedup.write_signature_store(
        corpus, store, bands=32, rows=4, bucket_by=4,
        table="t_dupsig_store", keep_sigs=True)
    # simulate an overlapping re-append: duplicate every companion row
    sig_dir = dedup.sig_store_path(store)
    spark.read.parquet(sig_dir).write.mode("append").parquet(sig_dir)
    out = dedup.incremental_minhash_dedup(
        new, corpus, store, bands=32, rows=4, threshold=0.6,
        exact_grams=True, store_table=table, use_sig_store=True)
    rows = [(r.id_a, r.id_b) for r in out.collect()]
    assert len(rows) == len(set(rows))
    assert (1, 10) in rows
    spark.sql("DROP TABLE IF EXISTS t_dupsig_store")


def test_ipv6_parse_survives_ansi_mode(spark):
    """The v6 jvm kernel's parse uses element_at/conv/shiftleft, whose
    error behavior changes under ANSI mode; the expression is constructed
    so no out-of-bounds access or invalid cast can occur on ANY input
    (groups is always ≥8 elements by construction) — pinned here by
    running the accept/reject matrix with ANSI on."""
    import socket

    from pyspark.sql import functions as F

    from fluent_plugin_geoip_spark.functions.ipv6 import ipv6_str_to_longs
    cases = ["1:2:3:4:5:6:7::", "::", "1:2:3:4:5:6:7:8", "::ffff:1.2.3.4",
             "garbage", "1::2::3", ":::", "", "8000::", "12345::",
             "ffff:ffff:ffff:ffff:ffff:ffff:ffff:ffff",
             "1:2:3:4:5:6:7:1.2.3.4"]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    with scoped_conf(spark, "spark.sql.ansi.enabled", "true"):
        rows = df.withColumn("p", ipv6_str_to_longs(F.col("s"))).collect()
    for r in rows:
        c = r.s or ""
        try:
            b = socket.inet_pton(socket.AF_INET6, c)
            v = int.from_bytes(b, "big")

            def sg(u):
                return u - (1 << 64) if u >= (1 << 63) else u
            want = (sg(v >> 64), sg(v & ((1 << 64) - 1)))
        except OSError:
            want = None
        got = (r.p.hi, r.p.lo) if r.p is not None else None
        assert got == want, (c, got, want)


def test_memoized_trees_not_reused_across_resolved_plans(spark):
    """Round-9 regression pin: the ipv6-parse and simhash expression-tree
    memos key on Column.toString(), which PRINTS a DataFrame-resolved
    attribute without its exprId. Caching a tree built from ``df.ip``
    would re-bind the first plan's exprId into every later query with a
    same-named column and fail analysis (MISSING_ATTRIBUTES) — found by
    the hypothesis differential, which builds a fresh DataFrame per
    example. Resolved inputs must bypass the memo; unresolved inputs
    (the production accessor shape) stay memoized."""
    from pyspark.sql import functions as F

    from fluent_plugin_geoip_spark.functions.binding import (
        is_plan_independent)
    from fluent_plugin_geoip_spark.functions.ipv6 import ipv6_str_to_longs
    from fluent_plugin_geoip_spark.operators.dedup import simhash

    assert is_plan_independent(F.col("ip").cast("string"))

    df1 = spark.createDataFrame([("::1", "a b")], "ip string, t string")
    df2 = spark.createDataFrame([("::2", "a b")], "ip string, t string")
    assert not is_plan_independent(df1.ip)

    # resolved columns from two DIFFERENT plans, same names: both must
    # analyze and compute (the broken memo failed the second select)
    r1 = df1.select(ipv6_str_to_longs(df1.ip).alias("p"),
                    simhash(df1.t).alias("s")).collect()[0]
    r2 = df2.select(ipv6_str_to_longs(df2.ip).alias("p"),
                    simhash(df2.t).alias("s")).collect()[0]
    assert r1.p == (0, 1) and r2.p == (0, 2)
    assert r1.s == r2.s  # same text, same signature

    # unresolved form still resolves against both plans (memo hit path)
    for df in (df1, df2):
        df.select(ipv6_str_to_longs(F.col("ip"))).collect()


def test_resolved_column_node_sentinel(spark):
    """``is_plan_independent`` keys on Spark rendering a resolved leaf as
    ``ExpressionColumnNode`` in the JVM ColumnNode string. Pin that
    rendering for each shape a resolved column reaches the memos in, so a
    Spark upgrade that renames the node fails here, by name, instead of
    silently re-enabling the stale-exprId memo."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("::1",)], "ip string")
    for col in (df.ip, df["ip"], df.ip.cast("string"),
                F.concat(F.lit("x"), df.ip)):
        assert "ExpressionColumnNode" in col._jc.node().toString(), col
