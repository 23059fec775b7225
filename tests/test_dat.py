"""Legacy GeoCityLite .dat loader tests: from-scratch writer → from-scratch
reader → GeoDatabase → end-to-end enrich through the reference's DEFAULT
backend config surface (backend_library geoip + geoip_database,
/root/reference/lib/fluent/plugin/filter_geoip.rb:37, 204-206).

The committed fixture (tests/fixtures/geolite-city-test.dat) encodes the
reference suite's legacy golden ranges (_LEGACY_COMMON — the
37.4192008972168 single-precision values, test_filter_geoip.rb:1024-1027)
in the real legacy binary layout (CITY_EDITION_REV1);
scripts/build_test_dat.py regenerates it deterministically.
"""

import os

import pandas as pd
import pytest
from pyspark.sql import types as T

from fluent_plugin_geoip_spark.config import GeoipConfig, GeoipConfigError
from fluent_plugin_geoip_spark.operators.enrich import GeoipEnricher
from fluent_plugin_geoip_spark.operators.geolookup import GEOIP_KEYS, GeoDatabase
from fluent_plugin_geoip_spark.sources.dat import (
    CITY_EDITION_REV0, CITY_EDITION_REV1, COUNTRY_BEGIN, COUNTRY_CODES,
    COUNTRY_EDITION, COUNTRY_INFO, DATError, DATReader, MARKER, build_dat,
)
from fluent_plugin_geoip_spark.sources.fixtures import (
    _LEGACY_COMMON, geoip_legacy_db,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures",
                       "geolite-city-test.dat")

NETS = [
    ("66.102.0.0/20", {"country_code": "US", "city": "Mountain View",
                       "region": "CA", "postal_code": "94043",
                       "latitude": 37.4192, "longitude": -122.0574,
                       "dma_code": 807, "area_code": 650}),
    ("8.8.8.0/24", {"country_code": "US"}),          # US without city → combo 0
    ("125.54.15.0/24", {"country_code": "JP", "city": "Tokorozawa"}),
    ("192.168.255.255/32", {"country_code": "DE", "city": "K\xf6ln"}),
]


@pytest.mark.parametrize("edition", [CITY_EDITION_REV0, CITY_EDITION_REV1])
def test_writer_reader_roundtrip(edition):
    blob = build_dat(NETS, edition=edition)
    r = DATReader.from_bytes(blob)
    assert r.edition == edition
    got = sorted(r.iter_ipv4_ranges())
    assert [(s, e) for s, e, _ in got] == [
        ((8 << 24) | (8 << 16) | (8 << 8), (8 << 24) | (8 << 16) | (8 << 8) | 255),
        ((66 << 24) | (102 << 16), (66 << 24) | (102 << 16) | 0xFFF),
        ((125 << 24) | (54 << 16) | (15 << 8),
         (125 << 24) | (54 << 16) | (15 << 8) | 255),
        ((192 << 24) | (168 << 16) | 0xFFFF, (192 << 24) | (168 << 16) | 0xFFFF),
    ]
    mv = got[1][2]
    assert mv["city"] == "Mountain View" and mv["region"] == "CA"
    assert mv["country_code3"] == "USA"
    assert mv["country_name"] == "United States"
    # the C library's single-precision coordinates (reference test:1024-1027)
    assert mv["latitude"] == 37.4192008972168
    assert mv["longitude"] == -122.05740356445312
    if edition == CITY_EDITION_REV1:
        assert mv["dma_code"] == 807 and mv["area_code"] == 650
    else:
        assert "dma_code" not in mv        # REV0 has no dma/area field
    assert "dma_code" not in got[0][2]     # US with zero combo → absent
    assert got[3][2]["city"] == "K\xf6ln"  # ISO-8859-1 record charset


def test_country_edition_reader(tmp_path):
    """Hand-built country-edition blob: implicit COUNTRY_BEGIN segments,
    record value = COUNTRY_BEGIN + country index, no data section."""
    us = COUNTRY_BEGIN + COUNTRY_CODES.index("US")
    # one node: bit0 (0.0.0.0/1) → US, bit1 → miss (COUNTRY_BEGIN itself)
    def le3(v):
        return bytes([v & 255, (v >> 8) & 255, (v >> 16) & 255])
    blob = le3(us) + le3(COUNTRY_BEGIN) + MARKER + bytes([COUNTRY_EDITION])
    r = DATReader.from_bytes(blob)
    assert r.edition == COUNTRY_EDITION and r.segments == COUNTRY_BEGIN
    got = list(r.iter_ipv4_ranges())
    assert got == [(0, (1 << 31) - 1,
                    {"country_code": "US", "country_code3": "USA",
                     "country_name": "United States"})]
    path = tmp_path / "country.dat"
    path.write_bytes(blob)
    db = GeoDatabase.from_dat(str(path))
    assert db.lookup_doc("128.0.0.0") is None
    assert db.lookup_doc("127.255.255.255")["country_code"] == "US"


def test_build_dat_rejects_default_route():
    """/0 would silently vanish (the bit loop never runs) — must raise."""
    with pytest.raises(DATError, match="0.0.0.0/0"):
        build_dat([("0.0.0.0/0", {"country_code": "US"})])


def test_from_dat_is_cached_per_path():
    """Repeated loads of the same unchanged file return the cached object
    (the reference parses each DB once per process — :memory)."""
    assert GeoDatabase.from_dat(FIXTURE) is GeoDatabase.from_dat(FIXTURE)


def test_from_dat_matches_inmemory_legacy_db():
    """The file-loaded DB must agree with the golden from_rows fixture on
    every range bound and every GEOIP_KEYS attr value."""
    db = GeoDatabase.from_dat(FIXTURE)
    ref = geoip_legacy_db()
    assert db.profile == "geoip"
    assert list(db.starts) == list(ref.starts)
    assert list(db.ends) == list(ref.ends)
    ips = pd.Series(["66.102.3.80", "8.8.8.8", "125.54.15.42",
                     "180.94.85.84", "203.0.113.1", ""])
    a = db.lookup_batch(ips, GEOIP_KEYS)
    b = ref.lookup_batch(ips, GEOIP_KEYS)
    pd.testing.assert_frame_equal(a, b)


def test_legacy_golden_matrix_through_file(spark):
    """The 15-template legacy record directive (reference test:986-1060),
    previously pinned on the from_rows fixture, re-run through the REAL
    committed .dat file."""
    from tests.test_enrich_goldens import _record_directive_cfg
    db = GeoDatabase.from_dat(FIXTURE)
    enr = GeoipEnricher(spark, _record_directive_cfg("geoip"), db)
    S = T.StringType()
    schema = T.StructType([
        T.StructField("from", T.StructType([T.StructField("ip", S)])),
        T.StructField("message", S),
    ])
    df = spark.createDataFrame([(("66.102.3.80",), None),
                                (None, "missing field")], schema)
    hit, miss = [r.asDict(recursive=True) for r in enr.transform(df).collect()]
    lat, lon = 37.4192008972168, -122.05740356445312
    assert hit["from_city"] == "Mountain View"
    assert hit["from_country"] == "United States"
    assert hit["latitude"] == lat and hit["longitude"] == lon
    assert hit["float_concat"] == f"{lat!r},{lon!r}"
    assert hit["float_array"] == [lon, lat]
    assert hit["float_nest"] == {"lat": lat, "lon": lon}
    assert hit["string_concat"] == "Mountain View,United States"
    assert hit["string_nest"] == {"city": "Mountain View",
                                  "country_name": "United States"}
    assert hit["broken_array1"] == [lon, None]
    assert miss["float_concat"] == "," and miss["float_nest"] == {
        "lat": None, "lon": None}


def test_enrich_through_dat_config(spark):
    """backend_library geoip + geoip_database path — the reference's default
    configuration — must load the file and enrich."""
    cfg = GeoipConfig(
        backend_library="geoip", geoip_database=FIXTURE,
        lookup_keys=["host"],
        records={"city": "${city['host']}",
                 "dma": "${dma_code['host']}",
                 "latitude": "${latitude['host']}"})
    enr = GeoipEnricher(spark, cfg)
    df = spark.createDataFrame(
        [("66.102.3.80",), ("180.94.85.84",), ("203.0.113.1",)],
        T.StructType([T.StructField("host", T.StringType())]))
    out = {r["host"]: r.asDict() for r in enr.transform(df).collect()}
    assert out["66.102.3.80"]["city"] == "Mountain View"
    assert out["66.102.3.80"]["dma"] == 807
    assert out["66.102.3.80"]["latitude"] == 37.4192008972168
    assert out["180.94.85.84"]["city"] is None
    assert out["180.94.85.84"]["latitude"] == 0.0   # hit-with-nil default
    assert out["203.0.113.1"]["latitude"] is None   # miss: no default


def test_dat_config_requires_path():
    cfg = GeoipConfig(backend_library="geoip", lookup_keys=["host"],
                      records={"c": "${city['host']}"})
    with pytest.raises(GeoipConfigError, match="geoip_database"):
        cfg.load_database()


def test_build_script_is_deterministic():
    """The committed fixture is what the writer makes of the golden rows
    today, so writer drift fails here (and no test rewrites the file)."""
    with open(FIXTURE, "rb") as f:
        blob = f.read()
    assert blob == build_dat(
        [(cidr, attrs) for cidr, attrs in _fixture_networks()],
        edition=CITY_EDITION_REV1)


def _fixture_networks():
    from scripts.build_test_dat import _DAT_KEYS
    from scripts.build_test_mmdb import range_to_cidr
    for row in _LEGACY_COMMON:
        attrs = {k: row[k] for k in _DAT_KEYS if row.get(k) is not None}
        yield range_to_cidr(row["range_start"], row["range_end"]), attrs


def test_country_table_sanity():
    """Every code in the canonical order table has a (code3, name) entry and
    the well-known anchor indices hold."""
    assert len(COUNTRY_CODES) == 256
    assert all(c in COUNTRY_INFO for c in COUNTRY_CODES)
    assert COUNTRY_CODES.index("US") == 225
    assert COUNTRY_CODES.index("JP") == 111
    assert COUNTRY_CODES[0] == "--"
    assert COUNTRY_INFO["US"] == ("USA", "United States")
    assert COUNTRY_INFO["JP"] == ("JPN", "Japan")


# ---------------------------------------------------------------------------
# malformed-file behavior: raise DATError, never hang or over-read
# ---------------------------------------------------------------------------

def test_malformed_no_marker():
    with pytest.raises(DATError, match="marker|small"):
        DATReader.from_bytes(b"\x00" * 64)
    with pytest.raises(DATError, match="small"):
        DATReader.from_bytes(b"\x00")


def test_malformed_bad_edition():
    blob = b"\x00" * 12 + MARKER + bytes([99]) + b"\x01\x00\x00"
    with pytest.raises(DATError, match="edition"):
        DATReader.from_bytes(blob)


def test_malformed_implausible_segments():
    # city edition claiming more nodes than the file holds
    blob = b"\x00" * 12 + MARKER + bytes([CITY_EDITION_REV1]) + b"\xff\xff\xff"
    with pytest.raises(DATError, match="implausible"):
        DATReader.from_bytes(blob)


def test_malformed_truncated_record():
    """A record pointer just past the data section must raise, not scan off
    the end of the buffer."""
    blob = bytearray(build_dat(NETS))
    r = DATReader.from_bytes(bytes(blob))
    with pytest.raises(DATError):
        r.record_attrs(len(blob))  # absolute offset beyond EOF


def test_malformed_unterminated_string():
    """Strings must be NUL-terminated inside the buffer."""
    def le3(v):
        return bytes([v & 255, (v >> 8) & 255, (v >> 16) & 255])
    # 1 node, left → data value 2 (> segments=1), right → miss (=1);
    # record = country idx + unterminated garbage
    tree = le3(2) + le3(1)
    data = b"\x00" + bytes([225]) + b"CA"  # pad + country + NO terminator
    blob = tree + data + MARKER + bytes([CITY_EDITION_REV1]) + le3(1)
    r = DATReader.from_bytes(blob)
    with pytest.raises(DATError, match="unterminated|truncated"):
        r.record_attrs(2)


def test_malformed_node_loop_bounded(tmp_path):
    """A node whose record points back at node 0 would loop forever in a
    naive walker; depth is bounded at 32 bits."""
    # node 0: both records point at node 0 → self-loop
    tree = b"\x00\x00\x00" * 2
    blob = tree + b"\x00" + MARKER + bytes([CITY_EDITION_REV1]) + b"\x01\x00\x00"
    r = DATReader.from_bytes(blob)
    with pytest.raises(DATError, match="deeper"):
        list(r.iter_ipv4_ranges())
    path = tmp_path / "loop.dat"
    path.write_bytes(blob)
    with pytest.raises(DATError, match="deeper"):
        GeoDatabase.from_dat(str(path)).lookup_doc("0.0.0.0")


def test_writer_rejects_overlaps_and_v6():
    with pytest.raises(DATError, match="overlap|inside"):
        build_dat([("10.0.0.0/8", {}), ("10.1.0.0/16", {"country_code": "US"})])
    with pytest.raises(DATError, match="IPv4"):
        build_dat([("2001:db8::/32", {})])
    with pytest.raises(DATError, match="country"):
        build_dat([("10.0.0.0/8", {"country_code": "ZZ"})])
