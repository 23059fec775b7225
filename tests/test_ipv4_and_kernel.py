"""Unit tests for the vectorized IPv4 parser and the searchsorted kernel
``GeoDatabase.lookup_batch`` (the driver-side reference the enrich joins
are held to) — no SparkSession needed (pure pandas/NumPy)."""

import numpy as np
import pandas as pd

from fluent_plugin_geoip_spark.functions.ipv4 import ipv4_to_uint32
from fluent_plugin_geoip_spark.operators.geolookup import GeoDatabase
from fluent_plugin_geoip_spark.sources.fixtures import geoip2_city_db, ip_u32


def test_ipv4_parse_valid():
    vals, valid = ipv4_to_uint32(pd.Series(["66.102.3.80", "8.8.8.8", "0.0.0.0",
                                            "255.255.255.255"]))
    assert valid.all()
    assert vals[0] == ip_u32(66, 102, 3, 80)
    assert vals[1] == ip_u32(8, 8, 8, 8)
    assert vals[2] == 0
    assert vals[3] == (1 << 32) - 1


def test_ipv4_parse_invalid():
    # reference semantics: '' warns+miss (rb:172-174); '0' invalid (test:199-209)
    # padded addresses are misses too: the reference hands the RAW string to
    # the backend (rb:175-179) where ' 8.8.8.8 ' does not parse
    s = pd.Series(["", "0", "1.2.3", "1.2.3.4.5", "256.1.1.1", None, "a.b.c.d",
                   " 8.8.8.8 ", "\t8.8.8.8", "8.8.8.8"])
    vals, valid = ipv4_to_uint32(s)
    assert list(valid) == [False] * 9 + [True]


def test_ipv4_empty_series():
    vals, valid = ipv4_to_uint32(pd.Series([], dtype=object))
    assert len(vals) == 0 and len(valid) == 0


def test_kernel_hit_miss_and_attrs():
    db = geoip2_city_db()
    out = db.lookup_batch(
        pd.Series(["66.102.3.80", "203.0.113.1", "", "125.54.15.42", "180.94.85.84"]),
        ["city.names.en", "country.iso_code", "location.latitude"],
    )
    assert list(out["__hit__"]) == [True, False, False, True, True]
    assert out["city_names_en"][0] == "Mountain View"
    assert out["city_names_en"][3] == "Tokorozawa"
    assert out["city_names_en"][4] is None  # hit with nil attrs
    assert out["location_latitude"][0] == 37.419200000000004
    assert pd.isna(out["location_latitude"][1])
    assert pd.isna(out["location_latitude"][4])  # nil within hit (0.0 applied later)


def test_kernel_unknown_attr_path_is_null():
    db = geoip2_city_db()
    out = db.lookup_batch(pd.Series(["66.102.3.80"]), ["registered_country.names.en"])
    assert out["__hit__"][0]
    assert out["registered_country_names_en"][0] is None


def test_kernel_boundaries():
    db = GeoDatabase.from_rows(
        [{"range_start": 100, "range_end": 200, "country.iso_code": "AA"},
         {"range_start": 300, "range_end": 300, "country.iso_code": "BB"}])
    ips = pd.Series(["0.0.0.99", "0.0.0.100", "0.0.0.200", "0.0.0.201",
                     "0.0.1.44", "0.0.1.43"])
    out = db.lookup_batch(ips, ["country.iso_code"])
    assert list(out["__hit__"]) == [False, True, True, False, True, False]
    assert out["country_iso_code"][1] == "AA"
    assert out["country_iso_code"][4] == "BB"


def test_overlapping_ranges_rejected():
    import pytest
    with pytest.raises(ValueError, match="overlap"):
        GeoDatabase.from_rows([
            {"range_start": 0, "range_end": 100},
            {"range_start": 50, "range_end": 150},
        ])


def test_kernel_large_random_roundtrip():
    # every generated IP inside a range resolves to that range's attrs
    rng = np.random.default_rng(7)
    rows = []
    start = 0
    for i in range(200):
        start += int(rng.integers(1, 1000))
        end = start + int(rng.integers(0, 5000))
        rows.append({"range_start": start, "range_end": end,
                     "country.iso_code": f"C{i}"})
        start = end + 1
    db = GeoDatabase.from_rows(rows)
    pick = rng.integers(0, 200, size=500)
    ips, expect = [], []
    for i in pick:
        r = rows[i]
        v = int(rng.integers(r["range_start"], r["range_end"] + 1))
        ips.append(f"{(v >> 24) & 255}.{(v >> 16) & 255}.{(v >> 8) & 255}.{v & 255}")
        expect.append(r["country.iso_code"])
    out = db.lookup_batch(pd.Series(ips), ["country.iso_code"])
    assert out["__hit__"].all()
    assert list(out["country_iso_code"]) == expect
