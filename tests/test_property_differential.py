"""Property-based differential testing: for randomly generated template
configs and records, the Spark engine's output must equal the independent
pure-Python reference interpreter (tests/reference_interpreter.py), which
follows the Ruby control flow of filter_geoip.rb directly.

Strategy note: each hypothesis example compiles one random config and runs
ALL sampled records through one Spark job (batch comparison), keeping
example count low but record coverage high.
"""

import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import types as T

from fluent_plugin_geoip_spark.config import GeoipConfig, GeoipConfigError
from fluent_plugin_geoip_spark.operators.enrich import SKIP_FLAG, GeoipEnricher
from fluent_plugin_geoip_spark.sources.fixtures import GEOIP2_CITY_ROWS, geoip2_city_db
from tests.reference_interpreter import RefGeoipFilter

# interval list for the interpreter, built from the same fixture rows
RANGES = [(r["range_start"], r["range_end"],
           {k: v for k, v in r.items() if k not in ("range_start", "range_end")})
          for r in GEOIP2_CITY_ROWS]

STRING_ATTRS = ["city.names.en", "country.iso_code", "country.names.en",
                "postal.code", "subdivisions.0.iso_code", "nonexistent.attr"]
FLOAT_ATTRS = ["location.latitude", "location.longitude"]
RECORD_KEYS = ["host", "host2", "unknown_key"]

IPS = ["66.102.3.80", "8.8.8.8", "125.54.15.42", "180.94.85.84",
       "203.0.113.1", "0", "", None, "256.1.2.3", "66.102.15.255",
       "66.102.16.0", "not an ip"]


def ph(attr: str, key: str, dq: bool) -> str:
    return "${" + attr + ('["' + key + '"]' if dq else "['" + key + "']") + "}"


ph_string = st.builds(ph, st.sampled_from(STRING_ATTRS),
                      st.sampled_from(RECORD_KEYS), st.booleans())
ph_float = st.builds(ph, st.sampled_from(FLOAT_ATTRS),
                     st.sampled_from(RECORD_KEYS), st.booleans())
ph_any = st.one_of(ph_string, ph_float)

literal = st.sampled_from([" ", ",", "x:", "[geo] ", "msg => ", "-", "| "])

mode1 = ph_any

mode3 = st.lists(
    st.one_of(ph_any, literal,
              ph_any.map(lambda p: "'" + p + "'")),  # quoted → hash miss → ''
    min_size=1, max_size=5,
).map("".join).filter(lambda t: t.strip() and not t.startswith(("{", "[")))

json_array = st.one_of(
    st.lists(ph_string, min_size=1, max_size=3)
      .map(lambda ps: "[" + ", ".join(ps) + "]"),
    st.lists(st.one_of(ph_float, ph_float.map(lambda p: '"' + p + '"')),
             min_size=1, max_size=3)
      .map(lambda ps: "[" + ", ".join(ps) + "]"),
)

json_object = st.dictionaries(
    st.sampled_from(["k1", "k2", "lat", "name"]),
    st.one_of(ph_any, ph_any.map(lambda p: '"' + p + '"')),
    min_size=1, max_size=3,
).map(lambda d: "{ " + ", ".join(f'"{k}" : {v}' for k, v in d.items()) + " }")

template = st.one_of(mode1, mode3, json_array, json_object)

records_cfg = st.dictionaries(
    st.sampled_from(["out_a", "out_b", "out_c", "geo.city"]),
    template, min_size=1, max_size=4)


HOST_SCHEMA = T.StructType([T.StructField("host", T.StringType()),
                            T.StructField("host2", T.StringType())])
host_pairs = st.lists(st.tuples(st.sampled_from(IPS), st.sampled_from(IPS)),
                      min_size=1, max_size=8, unique=True)


def _enricher_or_none(spark, records, skip):
    cfg = GeoipConfig(lookup_keys=["host", "host2"], records=records,
                      skip_adding_null_record=skip)
    try:
        return GeoipEnricher(spark, cfg, geoip2_city_db())
    except GeoipConfigError:
        return None  # generator produced a config the compiler rejects — fine


def _assert_matches_reference(out_rows, records, skip, hosts):
    ref = RefGeoipFilter(["host", "host2"], records, RANGES,
                         skip_adding_null_record=skip)
    for (h1, h2), got in zip(hosts, out_rows):
        expected = ref.filter({"host": h1, "host2": h2})
        skipped = got.pop(SKIP_FLAG, False)
        if skipped:
            # reference returns the record untouched; Spark carries nulls
            for k in records:
                assert got.get(k) is None, (records, h1, h2, got)
                got.pop(k, None)
                expected.pop(k, None)
        # input columns: interpreter keeps python Nones identically
        assert got == expected, (records, skip, h1, h2, got, expected)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(records=records_cfg, skip=st.booleans(), hosts=host_pairs)
# no placeholder at all: the reference's placeholder hash is empty, so
# skip_adding_null_record skips every record
@example(records={"out_a": ","}, skip=True,
         hosts=[("66.102.3.80", "66.102.3.80")])
def test_spark_matches_reference_interpreter(spark, records, skip, hosts):
    """The enricher (broadcast prefix-bucket joins) against the reference
    interpreter: template modes, quoting, skip semantics, miss/garbage
    handling."""
    enr = _enricher_or_none(spark, records, skip)
    if enr is None:
        return
    df = spark.createDataFrame(list(hosts), HOST_SCHEMA)
    out_rows = [r.asDict(recursive=True) for r in enr.transform(df).collect()]
    _assert_matches_reference(out_rows, records, skip, hosts)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(records=records_cfg, skip=st.booleans(), hosts=host_pairs)
def test_jvm_join_matches_reference_interpreter(spark, records, skip, hosts):
    """The same differential through a reused compiled plan: the enricher
    first transforms one input, then a second, separately created
    DataFrame with the same columns, whose range-table join output must
    equal the reference interpreter's."""
    enr = _enricher_or_none(spark, records, skip)
    if enr is None:
        return
    enr.transform(spark.createDataFrame([("8.8.8.8", None)], HOST_SCHEMA))
    df = spark.createDataFrame(list(hosts), HOST_SCHEMA)
    out_rows = [r.asDict(recursive=True) for r in enr.transform(df).collect()]
    assert len(enr._plans) == 1
    _assert_matches_reference(out_rows, records, skip, hosts)


ipv4ish = st.one_of(
    st.from_regex(r"\d{1,4}\.\d{1,4}\.\d{1,4}\.\d{1,4}", fullmatch=True),
    st.text(alphabet="0123456789. abc", max_size=18),
    st.sampled_from(["", "0", "255.255.255.255", "0.0.0.0", " 8.8.8.8 ",
                     "1.2.3.4.5", "1..2.3", "01.2.3.4"]),
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(ips=st.lists(ipv4ish, min_size=1, max_size=60))
def test_jvm_and_pandas_ipv4_parse_agree(spark, ips):
    """The JVM codegen parse (the enrich hot path) and the pandas parse
    (``GeoDatabase.lookup_batch``, the driver-side reference) must agree
    on every input."""
    import pandas as pd
    from fluent_plugin_geoip_spark.functions.ipv4 import (
        ipv4_str_to_long, ipv4_to_uint32)
    vals, valid = ipv4_to_uint32(pd.Series(ips, dtype=object))
    expected = [int(v) if ok else None for v, ok in zip(vals, valid)]
    df = spark.createDataFrame([(s,) for s in ips], "ip string")
    got = [r.x for r in df.select(
        ipv4_str_to_long(df.ip).alias("x")).collect()]
    assert got == expected, list(zip(ips, got, expected))


ipv6ish = st.one_of(
    st.from_regex(r"[0-9a-fA-F]{0,4}(::?[0-9a-fA-F]{0,4}){1,8}",
                  fullmatch=True),
    st.from_regex(r"(::|[0-9a-f]{1,4}::)(ffff:)?"
                  r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", fullmatch=True),
    st.text(alphabet="0123456789abcdefg:. %", max_size=40),
    st.sampled_from([
        "::", "::1", "1::", "1:2:3:4:5:6:7:8", "1:2:3:4:5:6:7::",
        "1:2:3:4:5:6:7:8::", "::ffff:1.2.3.4", "::ffff:010.1.1.1",
        "::1.2.3.4", "64:ff9b::1.2.3.4", "1:2:3:4:5:6:1.2.3.4",
        "1:2:3:4:5:6:7:1.2.3.4", "fe80::1%eth0", "00001::", "1::2::3",
        ":::", " ::1", "::1 ", "ABCD::EF01", "12345::",
        "ffff:ffff:ffff:ffff:ffff:ffff:ffff:ffff", "8000::",
        "::ffff:256.1.1.1", "1:::2", "1.2.3.4::", "g::1",
    ]),
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(ips=st.lists(ipv6ish, min_size=1, max_size=60))
def test_jvm_ipv6_parse_matches_inet_pton(spark, ips):
    """The Catalyst IPv6 parse (the v6 leg of the enrich joins) must
    agree exactly with the driver-side reference's authority
    (``GeoDatabase.lookup_batch``), glibc inet_pton:
    same accept/reject set, same 128-bit value as two signed longs."""
    import socket
    from fluent_plugin_geoip_spark.functions.ipv6 import ipv6_str_to_longs

    def pton(s):
        try:
            b = socket.inet_pton(socket.AF_INET6, s)
        except (OSError, TypeError):
            return None
        v = int.from_bytes(b, "big")

        def sg(u):
            return u - (1 << 64) if u >= (1 << 63) else u
        return (sg(v >> 64), sg(v & ((1 << 64) - 1)))

    expected = [pton(s) for s in ips]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(ips)],
                               "i long, ip string")
    got_rows = (df.select("i", ipv6_str_to_longs(df.ip).alias("p"))
                .orderBy("i").collect())
    got = [(r.p.hi, r.p.lo) if r.p is not None else None for r in got_rows]
    assert got == expected, [
        (s, g, e) for s, g, e in zip(ips, got, expected) if g != e][:5]
