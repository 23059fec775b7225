"""MaxMind DB loader tests: from-scratch writer → from-scratch reader →
GeoDatabase → end-to-end enrich, plus the dump CLI.

The committed fixture (tests/fixtures/geolite2-city-test.mmdb) encodes the
reference suite's golden ranges (GEOIP2_CITY_ROWS) in the real GeoLite2
layout (ip_version=6, record_size=28); scripts/build_test_mmdb.py
regenerates it deterministically.
"""

import json
import os
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import types as T

from fluent_plugin_geoip_spark.config import GeoipConfig, GeoipConfigError
from fluent_plugin_geoip_spark.operators.enrich import GeoipEnricher
from fluent_plugin_geoip_spark.operators.geolookup import GeoDatabase
from fluent_plugin_geoip_spark.sources.fixtures import geoip2_city_db
from fluent_plugin_geoip_spark.sources.mmdb import (
    MMDBReader, build_mmdb, decode_value, encode_value, flatten_doc,
    unflatten_doc,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures",
                       "geolite2-city-test.mmdb")

NETS = [
    ("10.0.0.0/8", {"country": {"iso_code": "XX"},
                    "location": {"latitude": 1.5},
                    "flags": {"eu": True, "big": 5375480},
                    "subdivisions": [{"iso_code": "AA"}, {"iso_code": "BB"}]}),
    ("192.168.4.0/24", {"country": {"iso_code": "YY"}}),
    ("192.168.4.0/32", None),  # placeholder replaced below
]
NETS[2] = ("203.0.113.128/25", {"n": -42})


@pytest.mark.parametrize("ip_version", [4, 6])
@pytest.mark.parametrize("record_size", [24, 28, 32])
def test_writer_reader_roundtrip(ip_version, record_size):
    blob = build_mmdb(NETS, ip_version=ip_version, record_size=record_size)
    r = MMDBReader.from_bytes(blob)
    assert r.ip_version == ip_version and r.record_size == record_size
    got = sorted(r.iter_ipv4_ranges())
    assert [(s, e) for s, e, _ in got] == [
        (10 << 24, (10 << 24) + (1 << 24) - 1),
        ((192 << 24) | (168 << 16) | (4 << 8),
         (192 << 24) | (168 << 16) | (4 << 8) | 255),
        ((203 << 24) | (113 << 8) | 128, (203 << 24) | (113 << 8) | 255),
    ]
    doc = got[0][2]
    assert doc["country"]["iso_code"] == "XX"
    assert doc["location"]["latitude"] == 1.5
    assert doc["flags"] == {"eu": True, "big": 5375480}
    assert doc["subdivisions"][1]["iso_code"] == "BB"
    assert got[2][2] == {"n": -42}  # int32 negative path


def test_encode_decode_size_boundaries():
    for n in (0, 1, 28, 29, 30, 284, 285, 286, 5000):
        s = "x" * n
        val, off = decode_value(encode_value(s), 0)
        assert val == s and off == len(encode_value(s))
    for v in (0, 1, 255, 65535, 65536, (1 << 32) - 1, 1 << 32, (1 << 56) + 3,
              -1, -(1 << 31)):
        assert decode_value(encode_value(v), 0)[0] == v
    for v in (0.0, -122.0574, 37.419200000000004, 1e300):
        assert decode_value(encode_value(v), 0)[0] == v
    assert decode_value(encode_value(True), 0)[0] is True
    assert decode_value(encode_value(False), 0)[0] is False
    assert decode_value(encode_value([1, "a", {"k": 2.5}]), 0)[0] == \
        [1, "a", {"k": 2.5}]


def test_pointer_decoding():
    """Hand-built data section exercising all four pointer widths
    (the writer never emits pointers; real GeoLite2 files always do)."""
    target = encode_value("shared")
    for ss, pad in ((0, 0), (1, 2048), (2, 526336), (3, 0)):
        # place the target at data-section offset `pad`; the stored pointer
        # value is the offset minus the width-class base
        data = b"\x00" * pad + target
        stored = pad - (0, 2048, 526336, 0)[ss]
        if ss == 0:
            ptr = bytes([(1 << 5) | (0 << 3) | (stored >> 8), stored & 0xFF])
        elif ss == 1:
            ptr = bytes([(1 << 5) | (1 << 3) | (stored >> 16)]) + \
                (stored & 0xFFFF).to_bytes(2, "big")
        elif ss == 2:
            ptr = bytes([(1 << 5) | (2 << 3) | (stored >> 24)]) + \
                (stored & 0xFFFFFF).to_bytes(3, "big")
        else:
            ptr = bytes([(1 << 5) | (3 << 3)]) + pad.to_bytes(4, "big")
        buf = data + ptr
        val, _ = decode_value(buf, len(data), data_start=0, cache={})
        assert val == "shared", f"ss={ss}"


def test_flatten_unflatten_inverse():
    doc = {"a": {"b": [{"c": 1}, {"c": 2}], "d": "x"}, "e": 2.5}
    flat = flatten_doc(doc)
    assert flat == {"a.b.0.c": 1, "a.b.1.c": 2, "a.d": "x", "e": 2.5}
    assert unflatten_doc(flat) == doc


def test_fixture_matches_inmemory_db():
    db = GeoDatabase.from_mmdb(FIXTURE)
    ref = geoip2_city_db()
    assert list(db.starts) == list(ref.starts)
    assert list(db.ends) == list(ref.ends)
    out = db.lookup_batch(
        pd.Series(["66.102.3.80", "203.0.113.1", "125.54.15.42"]),
        ["city.names.en", "country.iso_code", "location.latitude",
         "subdivisions.0.iso_code"])
    assert list(out["__hit__"]) == [True, False, True]
    assert out["city_names_en"][0] == "Mountain View"
    assert out["location_latitude"][0] == 37.419200000000004
    assert out["subdivisions_0_iso_code"][0] == "CA"
    assert out["city_names_en"][2] == "Tokorozawa"


def test_fixture_compat_profile():
    db = GeoDatabase.from_mmdb(FIXTURE, profile="geoip2_compat")
    out = db.lookup_batch(pd.Series(["66.102.3.80"]),
                          ["city", "country_code", "latitude", "region_name"])
    assert out["city"][0] == "Mountain View"
    assert out["country_code"][0] == "US"
    assert out["latitude"][0] == 37.419200000000004
    assert out["region_name"][0] == "California"


def test_from_mmdb_is_cached_per_path_and_profile():
    """Same (path, profile, mtime, size) → cached object; the compat
    profile is a distinct cache entry (different attr projection)."""
    a = GeoDatabase.from_mmdb(FIXTURE)
    assert a is GeoDatabase.from_mmdb(FIXTURE)
    b = GeoDatabase.from_mmdb(FIXTURE, profile="geoip2_compat")
    assert b is not a
    assert b is GeoDatabase.from_mmdb(FIXTURE, profile="geoip2_compat")


def test_from_mmdb_cache_invalidates_on_rewrite(tmp_path):
    import time
    p = tmp_path / "c.mmdb"
    p.write_bytes(build_mmdb([("10.0.0.0/8", {"country": {"iso_code": "AA"}})],
                             ip_version=4))
    a = GeoDatabase.from_mmdb(str(p))
    time.sleep(0.01)  # ensure mtime_ns differs
    p.write_bytes(build_mmdb([("10.0.0.0/8", {"country": {"iso_code": "BB"}})],
                             ip_version=4))
    b = GeoDatabase.from_mmdb(str(p))
    assert b is not a
    assert b.attrs["country.iso_code"][0] == "BB"


def test_from_mmdb_rejects_legacy_profile():
    with pytest.raises(ValueError, match="dat"):
        GeoDatabase.from_mmdb(FIXTURE, profile="geoip")


def test_enrich_through_mmdb_config(spark):
    """The reference's primary config path — a DB file location — end to
    end: geoip2_database in config, no explicit GeoDatabase, reference
    golden values out (test:258-291 restated)."""
    cfg = GeoipConfig(
        lookup_keys=["host"],
        geoip2_database=FIXTURE,
        records={"city": "${city.names.en['host']}",
                 "latitude": "${location.latitude['host']}",
                 "region": "${subdivisions.0.iso_code['host']}"})
    enr = GeoipEnricher(spark, cfg)  # database resolved from config
    df = spark.createDataFrame([("66.102.3.80",), ("203.0.113.1",)],
                               T.StructType([T.StructField("host", T.StringType())]))
    out = [r.asDict() for r in enr.transform(df).collect()]
    assert out[0]["city"] == "Mountain View"
    assert out[0]["latitude"] == 37.419200000000004
    assert out[0]["region"] == "CA"
    assert out[1]["city"] is None and out[1]["latitude"] is None


def test_no_database_config_error(spark):
    cfg = GeoipConfig(lookup_keys=["host"],
                      records={"c": "${city.names.en['host']}"})
    with pytest.raises(GeoipConfigError, match="no database"):
        GeoipEnricher(spark, cfg)


def test_dump_cli_golden():
    """utils/dump.rb counterpart: one JSON line per IP with the raw
    per-backend record."""
    out = subprocess.run(
        [sys.executable, "-m", "fluent_plugin_geoip_spark", "dump",
         "--mmdb", FIXTURE, "66.102.3.80", "203.0.113.1"],
        capture_output=True, text=True, check=True,
        cwd=os.path.join(os.path.dirname(__file__), ".."))
    lines = [json.loads(l) for l in out.stdout.strip().splitlines()]
    assert lines[0]["record"]["city"]["names"]["en"] == "Mountain View"
    assert lines[0]["record"]["location"]["latitude"] == 37.419200000000004
    assert lines[0]["record"]["subdivisions"][0]["iso_code"] == "CA"
    assert lines[1]["record"] is None


def test_build_script_is_deterministic(tmp_path):
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "build_test_mmdb",
        os.path.join(os.path.dirname(__file__), "..", "scripts",
                     "build_test_mmdb.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    from fluent_plugin_geoip_spark.sources.fixtures import GEOIP2_CITY_ROWS
    networks = []
    for row in GEOIP2_CITY_ROWS:
        flat = {k: v for k, v in row.items()
                if k not in ("range_start", "range_end")}
        networks.append((mod.range_to_cidr(row["range_start"], row["range_end"]),
                         unflatten_doc(flat)))
    blob = build_mmdb(networks, database_type="GeoLite2-City-Test",
                      ip_version=6, record_size=28)
    with open(FIXTURE, "rb") as f:
        assert f.read() == blob


# ---------------------------------------------------------------------------
# hardening (round 3): malformed files raise MMDBError — never hang,
# over-read, or blow the stack — and a differential vs the official reader
# ---------------------------------------------------------------------------

def _mk_ptr(p: int) -> bytes:
    """Encode a small (<2048) pointer control sequence."""
    assert p < 2048
    return bytes([(1 << 5) | ((p >> 8) & 0x7), p & 0xFF])


def test_fuzz_truncated_values():
    from fluent_plugin_geoip_spark.sources.mmdb import MMDBError
    # string claiming 10 bytes with 2 present
    with pytest.raises(MMDBError, match="truncated"):
        decode_value(bytes([(2 << 5) | 10]) + b"ab", 0)
    # offset beyond buffer
    with pytest.raises(MMDBError, match="truncated"):
        decode_value(b"", 0)
    # extended-type byte missing
    with pytest.raises(MMDBError, match="truncated"):
        decode_value(bytes([0 << 5]), 0)
    # size-extension bytes missing (size==30 wants 2 bytes)
    with pytest.raises(MMDBError, match="truncated"):
        decode_value(bytes([(2 << 5) | 30]), 0)
    # pointer operand missing
    with pytest.raises(MMDBError, match="truncated"):
        decode_value(bytes([(1 << 5) | (3 << 3)]), 0)


def test_fuzz_pointer_loop():
    from fluent_plugin_geoip_spark.sources.mmdb import MMDBError
    # a pointer at data offset 0 pointing at data offset 0 → self-loop
    with pytest.raises(MMDBError, match="pointer loop"):
        decode_value(_mk_ptr(0), 0, data_start=0)
    # two pointers chasing each other
    a, b = _mk_ptr(2), _mk_ptr(0)
    with pytest.raises(MMDBError, match="pointer loop"):
        decode_value(a + b, 0, data_start=0)
    # a legitimate pointer chain still decodes (ptr → ptr → value)
    blob = _mk_ptr(2) + _mk_ptr(4) + bytes([(2 << 5) | 2]) + b"ok"
    assert decode_value(blob, 0, data_start=0)[0] == "ok"


def test_fuzz_truncated_tree_and_bad_metadata():
    from fluent_plugin_geoip_spark.sources.mmdb import (
        METADATA_MARKER, MMDBError, encode_value,
    )
    # node_count far larger than the bytes before the marker
    meta = encode_value({"node_count": 1 << 20, "record_size": 28})
    with pytest.raises(MMDBError, match="implausible"):
        MMDBReader.from_bytes(b"\x00" * 64 + METADATA_MARKER + meta)
    # metadata missing node_count
    meta = encode_value({"record_size": 28})
    with pytest.raises(MMDBError, match="node_count"):
        MMDBReader.from_bytes(b"\x00" * 64 + METADATA_MARKER + meta)
    # metadata not a map
    with pytest.raises(MMDBError, match="not a map"):
        MMDBReader.from_bytes(
            b"\x00" * 64 + METADATA_MARKER + encode_value("nope"))
    # node_count of the wrong type must raise MMDBError, not TypeError
    # (the isinstance check must run BEFORE tree_size arithmetic)
    meta = encode_value({"node_count": "12", "record_size": 28})
    with pytest.raises(MMDBError, match="implausible node_count"):
        MMDBReader.from_bytes(b"\x00" * 64 + METADATA_MARKER + meta)
    # record value pointing into the separator
    blob = build_mmdb([("10.0.0.0/8", {"x": 1})], ip_version=4)
    r = MMDBReader.from_bytes(blob)
    with pytest.raises(MMDBError, match="separator"):
        r.record_data(r.node_count + 1)


def test_fuzz_random_mutations_never_hang():
    """Bit-flip the fixture at random positions: any exception must be an
    MMDBError (or a clean miss), never a hang/recursion blowup."""
    import random
    from fluent_plugin_geoip_spark.sources.mmdb import MMDBError
    with open(FIXTURE, "rb") as f:
        base = bytearray(f.read())
    rng = random.Random(3)
    for _ in range(200):
        blob = bytearray(base)
        for _ in range(rng.randint(1, 4)):
            blob[rng.randrange(len(blob))] ^= 1 << rng.randrange(8)
        try:
            r = MMDBReader.from_bytes(bytes(blob))
            for _s, _e, _d in r.iter_ipv4_ranges():
                pass
        except MMDBError:
            pass  # the only acceptable failure mode


@pytest.mark.parametrize("ip_version,cidr,slot", [
    (4, "10.0.0.0/8", 0),        # node 0's left record points at node 0
    (6, "2001:db8::/32", 3),     # node 0's right record, off the v4 spine
])
def test_node_loop_bounded(ip_version, cidr, slot):
    """A node whose record points back at itself would loop forever in a
    naive walker; the walk's depth is bounded by the address width."""
    from fluent_plugin_geoip_spark.sources.mmdb import MMDBError
    blob = bytearray(build_mmdb([(cidr, {"n": 1})], ip_version=ip_version,
                                record_size=24))
    blob[slot:slot + 3] = bytes(3)
    r = MMDBReader.from_bytes(bytes(blob))
    with pytest.raises(MMDBError, match="deeper"):
        list(r.iter_ipv4_ranges())
        list(r.iter_ipv6_ranges())


@pytest.mark.parametrize("cidr,ip_version", [("::/0", 6), ("0.0.0.0/0", 4)])
def test_build_mmdb_rejects_default_route(cidr, ip_version):
    """A /0 has an empty bit path, and the format has no record above the
    root node: the writer raises instead of writing an empty tree."""
    from fluent_plugin_geoip_spark.sources.mmdb import MMDBError
    with pytest.raises(MMDBError, match="not representable"):
        build_mmdb([(cidr, {"n": 1})], ip_version=ip_version)


def test_differential_against_official_reader(tmp_path):
    """Our reader vs the maxminddb package on our writer's output (skipped
    when the package isn't installed — it isn't in this sandbox)."""
    maxminddb = pytest.importorskip("maxminddb")
    p = tmp_path / "diff.mmdb"
    p.write_bytes(build_mmdb(V6_NETS, ip_version=6))
    db = GeoDatabase.from_mmdb(str(p))
    with maxminddb.open_database(str(p)) as official:
        for ip in ["66.102.3.80", "66.102.15.255", "8.8.8.8",
                   "2001:db8::1234", "2400:cb00:dead::1", "::ffff:66.102.3.80"]:
            assert db.lookup_doc(ip) == official.get(ip)


# ---------------------------------------------------------------------------
# IPv6 (round 2): native-v6 table + v4-mapped text addresses
# ---------------------------------------------------------------------------

V6_NETS = [
    ("66.102.0.0/20", {"city": {"names": {"en": "Mountain View"}},
                       "country": {"iso_code": "US"},
                       "location": {"latitude": 37.419200000000004}}),
    ("2001:db8::/32", {"city": {"names": {"en": "V6 City"}},
                       "country": {"iso_code": "V6"},
                       "location": {"latitude": -5.5}}),
    ("2400:cb00::/32", {"country": {"iso_code": "AU"}}),
]


@pytest.fixture(scope="module")
def v6_mmdb_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("mmdb") / "v6.mmdb"
    p.write_bytes(build_mmdb(V6_NETS, ip_version=6))
    return str(p)


def test_ipv6_roundtrip_and_lookup(v6_mmdb_path):
    db = GeoDatabase.from_mmdb(v6_mmdb_path)
    assert db.has_ipv6 and len(db.starts6) == 2
    out = db.lookup_batch(pd.Series([
        "66.102.3.80", "2001:db8::1234", "2400:cb00:dead::1",
        "2001:db9::1", "::ffff:66.102.3.80", "not:an:ip::g", "8.8.8.8"]),
        ["city.names.en", "country.iso_code", "location.latitude"])
    assert list(out["__hit__"]) == [True, True, True, False, True, False, False]
    assert out["city_names_en"][1] == "V6 City"
    assert out["location_latitude"][1] == -5.5
    assert out["country_iso_code"][2] == "AU" and out["city_names_en"][2] is None
    assert out["city_names_en"][4] == "Mountain View"  # v4-mapped text


def test_ipv4_compatible_text_hits_v4_table(v6_mmdb_path):
    """IPv4-compatible ``::a.b.c.d`` (first 96 bits zero) must land on the
    IPv4 data like libmaxminddb's tree walk does — the v6 table deliberately
    excludes ::/96, so without the redirect these always missed (ADVICE r2)."""
    db = GeoDatabase.from_mmdb(v6_mmdb_path)
    out = db.lookup_batch(pd.Series(["::66.102.3.80", "::203.0.113.1"]),
                          ["city.names.en", "country.iso_code"])
    assert list(out["__hit__"]) == [True, False]
    assert out["city_names_en"][0] == "Mountain View"
    assert db.lookup_doc("::66.102.3.80")["country"]["iso_code"] == "US"


def test_int32_short_width_decodes_unsigned():
    """Spec/official readers zero-pad short int32: a 3-byte 0xFFFFFF is
    +16777215, not -1; only size==4 carries the sign bit (ADVICE r2)."""
    from fluent_plugin_geoip_spark.sources.mmdb import decode_value
    # ctrl byte: extended type (0<<5)|size, then ext byte int32 (8-7=1)
    blob3 = bytes([(0 << 5) | 3, 1]) + b"\xff\xff\xff"
    assert decode_value(blob3, 0)[0] == 0xFFFFFF
    blob4 = bytes([(0 << 5) | 4, 1]) + b"\xff\xff\xff\xff"
    assert decode_value(blob4, 0)[0] == -1
    blob0 = bytes([(0 << 5) | 0, 1])
    assert decode_value(blob0, 0)[0] == 0


@pytest.mark.parametrize("profile", ["geoip2_c", "geoip2_compat"])
def test_from_mmdb_flattens_each_record_once(tmp_path, monkeypatch, profile):
    """N ranges sharing K << N records: ``from_mmdb`` flattens each data
    record once, in whichever family meets it first, and every range of
    both families reads its own record's values."""
    import ipaddress

    from fluent_plugin_geoip_spark.sources import mmdb
    k, n4, n6 = 5, 120, 40
    docs = [{"country": {"iso_code": f"C{j}"}, "asn": 64500 + j,
             "location": {"latitude": float(j)}} for j in range(k)]
    v4 = [f"10.{i // 256}.{i % 256}.0" for i in range(n4)]
    v6 = [str(ipaddress.IPv6Address((0x2400 << 112) | (i << 80)))
          for i in range(n6)]
    nets = ([(f"{a}/24", docs[i % k]) for i, a in enumerate(v4)]
            + [(f"{a}/48", docs[(3 * i + 1) % k]) for i, a in enumerate(v6)])
    path = tmp_path / "shared.mmdb"
    path.write_bytes(build_mmdb(nets))
    calls = []
    flatten = mmdb.flatten_doc

    def counting(doc, prefix=""):
        if not prefix:  # the top-level call, not flatten_doc's recursion
            calls.append(1)
        return flatten(doc, prefix)

    monkeypatch.setattr(mmdb, "flatten_doc", counting)
    db = GeoDatabase.from_mmdb(str(path), profile=profile)
    assert len(calls) == k
    assert (len(db.starts), len(db.starts6)) == (n4, n6)
    attr = "country.iso_code" if profile == "geoip2_c" else "country_code"
    out = db.lookup_batch(pd.Series(v4 + v6), [attr])
    assert out["__hit__"].all()
    want = [f"C{i % k}" for i in range(n4)] + [
        f"C{(3 * i + 1) % k}" for i in range(n6)]
    assert out[attr.replace(".", "_")].tolist() == want


def test_ipv6_dump_doc(v6_mmdb_path):
    db = GeoDatabase.from_mmdb(v6_mmdb_path)
    assert db.lookup_doc("2001:db8::42")["country"]["iso_code"] == "V6"
    assert db.lookup_doc("::ffff:66.102.3.80")["country"]["iso_code"] == "US"
    assert db.lookup_doc("2001:db9::1") is None


def test_ipv6_aliases_not_reemitted():
    """GeoLite2-style trees alias 2002::/16 etc. back at the v4 subtree —
    the v6 walk must skip them (node-reuse detection), and ::/96-embedded
    leaves stay out of the v6 table."""
    from fluent_plugin_geoip_spark.sources.mmdb import MMDBReader
    blob = build_mmdb(V6_NETS + [("::1/128", {"country": {"iso_code": "LO"}})],
                      ip_version=6)
    r = MMDBReader.from_bytes(blob)
    v4 = list(r.iter_ipv4_ranges())
    v6 = list(r.iter_ipv6_ranges())
    assert len(v6) == 2                      # only the two native-v6 nets
    assert len(v4) == 2                      # 66.102/20 + ::1 → v4 key 1
    assert {s for s, _, _ in v4} == {1, (66 << 24) | (102 << 16)}


@pytest.mark.parametrize("spine", ["0.0.0.0/0", "::/64"])
def test_data_record_on_the_v4_spine(tmp_path, spine):
    """A data record on the 96-zero-bit spine of an ip_version=6 tree
    covers all of IPv4 (libmaxminddb's IPv4 start node stops at it); the
    part of its network outside ::/96 is native IPv6."""
    path = tmp_path / "spine.mmdb"
    path.write_bytes(build_mmdb([
        (spine, {"country": {"iso_code": "SP"}}),
        ("2001:db8::/32", {"country": {"iso_code": "V6"}})]))
    db = GeoDatabase.from_mmdb(str(path))
    assert (db.starts.tolist(), db.ends.tolist()) == ([0], [(1 << 32) - 1])
    out = db.lookup_batch(pd.Series(["1.2.3.4", "::ffff:1.2.3.4",
                                     "::1:0:0:1", "2001:db8::1", "2001:db9::1"]),
                          ["country.iso_code"])
    assert out["country_iso_code"].tolist() == [
        "SP", "SP", "SP" if spine == "::/64" else None, "V6", None]


def test_ipv6_enrich_end_to_end(spark, v6_mmdb_path):
    """v6-capable DB flips the enricher to the string input path; v4 and v6
    addresses enrich in one batch."""
    cfg = GeoipConfig(
        lookup_keys=["host"], geoip2_database=v6_mmdb_path,
        records={"city": "${city.names.en['host']}",
                 "country": "${country.iso_code['host']}"})
    enr = GeoipEnricher(spark, cfg)
    df = spark.createDataFrame(
        [("66.102.3.80",), ("2001:db8::99",), ("203.0.113.1",)],
        T.StructType([T.StructField("host", T.StringType())]))
    out = [r.asDict() for r in enr.transform(df).orderBy("host").collect()]
    by_host = {r["host"]: r for r in out}
    assert by_host["66.102.3.80"]["city"] == "Mountain View"
    assert by_host["2001:db8::99"]["city"] == "V6 City"
    assert by_host["2001:db8::99"]["country"] == "V6"
    assert by_host["203.0.113.1"]["city"] is None
