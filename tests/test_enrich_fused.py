"""The fused enrich plan (``enrich.compile_plan``): several enrichers over
the same lookup key compile into one plan that parses the key once and
probes one range table per database. It must give, row for row, the
values and the schema of applying the enrichers one after another
(``GeoipEnricher.transform`` each), and the values of the driver-side
reference, ``GeoDatabase.lookup_batch``, at every range edge.
"""

import ipaddress

import pandas as pd
import pytest

from fluent_plugin_geoip_spark.config import GeoipConfig
from fluent_plugin_geoip_spark.operators.enrich import (
    SKIP_FLAG, GeoipEnricher, apply_plan,
)
from fluent_plugin_geoip_spark.operators.geolookup import GeoDatabase
from fluent_plugin_geoip_spark.sources.mmdb import build_mmdb

CITY_V4 = [("1.2.0.0/16", "US"), ("8.8.8.0/24", "JP"),
           ("66.102.0.0/20", "DE")]
CITY_V6 = [("2001:db8::/32", "FR")] + [
    # 40 /48s in one /32: the v6 table splits that bucket deeper
    (f"2400:cb00:{k:x}::/48", "NL") for k in range(40)]
ASN_V4 = [("1.2.3.0/24", 1), ("8.8.0.0/16", 2), ("9.9.9.0/24", 3)]
ASN_V6 = [("2001:db8:1::/48", 4), ("2400:cb00::/32", 5),
          ("2606:4700::/32", 6)]


def _db(tmp_path, name: str, nets: list) -> GeoDatabase:
    path = tmp_path / f"{name}.mmdb"
    path.write_bytes(build_mmdb(nets))
    db = GeoDatabase.from_mmdb(str(path))
    assert db.has_ipv6 == name.endswith("6")
    return db


def _city_nets(v6: bool) -> list:
    nets = CITY_V4 + (CITY_V6 if v6 else [])
    return [(cidr, {"country": {"iso_code": cc},
                    "city": {"names": {"en": f"{cc}-{k}"}},
                    # every third range has no location: a hit with a
                    # nil latitude reads 0.0
                    **({"location": {"latitude": float(k)}} if k % 3 else {})})
            for k, (cidr, cc) in enumerate(nets)]


def _asn_nets(v6: bool) -> list:
    nets = ASN_V4 + (ASN_V6 if v6 else [])
    # the ASN database answers ``country`` too, with values of its own,
    # so a field both enrichers write shows which one won
    return [(cidr, {"asn": 64500 + k, "as_org": f"AS{k}",
                    "country": {"iso_code": f"A{k}"}})
            for cidr, k in nets]


@pytest.fixture(scope="module")
def dbs(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("fused")
    return {"city4": _db(tmp, "city4", _city_nets(False)),
            "city6": _db(tmp, "city6", _city_nets(True)),
            "asn4": _db(tmp, "asn4", _asn_nets(False)),
            "asn6": _db(tmp, "asn6", _asn_nets(True))}


PAIRS = [("city6", "asn6"), ("city4", "asn6"), ("city6", "asn4")]


def _probes(*databases: GeoDatabase) -> list:
    """Each range's first, middle and last address and one past its end;
    each v4 probe also as ``::ffff:a.b.c.d`` and ``::a.b.c.d`` text; and
    unparsable input, ``""`` and null."""
    out = []
    for db in databases:
        for s, e in zip(db.starts.tolist(), db.ends.tolist()):
            for a in (s, (s + e) // 2, e, e + 1):
                dotted = str(ipaddress.IPv4Address(a % (1 << 32)))
                out += [dotted, f"::ffff:{dotted}", f"::{dotted}"]
        for s, e in zip(db.starts6.tolist(), db.ends6.tolist()):
            lo = int.from_bytes(s.ljust(16, b"\x00"), "big")
            hi = int.from_bytes(e.ljust(16, b"\x00"), "big")
            out += [str(ipaddress.IPv6Address(a))
                    for a in (lo, (lo + hi) // 2, hi, hi + 1)]
    return list(dict.fromkeys(out)) + ["garbage", "1.2.3", "2001:db8::g",
                                       "", None]


def _enrichers(spark, dbs, pair, skip=(), overlap=False, city_extra=None):
    city_records = {"country": "${country.iso_code['ip']}",
                    "city": "${city.names.en['ip']}",
                    "latitude": "${location.latitude['ip']}"}
    city_records.update(city_extra or {})
    asn_records = {"asn": "${asn['ip']}", "as_org": "${as_org['ip']}"}
    if overlap:
        asn_records["country"] = "${country.iso_code['ip']}"
    city = GeoipEnricher(spark, GeoipConfig(
        lookup_keys=["ip"], records=city_records,
        skip_adding_null_record="city" in skip), dbs[pair[0]])
    asn = GeoipEnricher(spark, GeoipConfig(
        lookup_keys=["ip"], records=asn_records,
        skip_adding_null_record="asn" in skip), dbs[pair[1]])
    return [city, asn]


def _fused_and_sequential(enrichers, df):
    fused = apply_plan(enrichers, {}, df)
    seq = df
    for e in enrichers:
        seq = e.transform(seq)
    return fused, seq


def _rows(df):
    return [r.asDict() for r in df.orderBy("i").collect()]


def _frame(spark, probes, extra_col=None):
    if extra_col is None:
        return spark.createDataFrame(list(enumerate(probes)),
                                     "i long, ip string")
    return spark.createDataFrame(
        [(i, ip, "old") for i, ip in enumerate(probes)],
        f"i long, ip string, {extra_col} string")


@pytest.mark.parametrize("skip", [(), ("city",), ("asn",), ("city", "asn")])
@pytest.mark.parametrize("overlap", [False, True])
@pytest.mark.parametrize("pair", PAIRS, ids=["-".join(p) for p in PAIRS])
def test_fused_matches_sequential(spark, dbs, pair, overlap, skip):
    """Same rows and schema as the enrichers applied one after another,
    with and without a field both write and ``skip_adding_null_record``
    on either; the input carries a pre-existing ``country`` so a skipped
    row's kept value shows."""
    enrichers = _enrichers(spark, dbs, pair, skip, overlap)
    df = _frame(spark, _probes(*(dbs[n] for n in pair)), "country")
    fused, seq = _fused_and_sequential(enrichers, df)
    assert fused.schema == seq.schema
    assert _rows(fused) == _rows(seq)
    if skip:
        assert SKIP_FLAG in fused.columns


@pytest.mark.parametrize("pair", PAIRS, ids=["-".join(p) for p in PAIRS])
def test_fused_values_match_lookup_batch(spark, dbs, pair):
    """Every probe's values through the fused plan are those of
    ``GeoDatabase.lookup_batch`` on each enricher's own database: a
    v6-capable one folds mapped and compat text to v4, a v4-only one
    does not."""
    city_db, asn_db = dbs[pair[0]], dbs[pair[1]]
    probes = _probes(city_db, asn_db)
    got = _rows(apply_plan(_enrichers(spark, dbs, pair), {},
                           _frame(spark, probes)))
    series = pd.Series(probes, dtype=object)
    city = city_db.lookup_batch(series, ["country.iso_code", "city.names.en",
                                         "location.latitude"])
    asn = asn_db.lookup_batch(series, ["asn", "as_org"])
    for k, row in enumerate(got):
        c, a = city.iloc[k], asn.iloc[k]
        want = {"country": c["country_iso_code"] if c["__hit__"] else None,
                "city": c["city_names_en"] if c["__hit__"] else None,
                "latitude": (0.0 if pd.isna(c["location_latitude"])
                             else float(c["location_latitude"]))
                if c["__hit__"] else None,
                "asn": int(a["asn"]) if a["__hit__"] else None,
                "as_org": a["as_org"] if a["__hit__"] else None}
        assert {f: row[f] for f in want} == want, (probes[k], row, want)
    for db, field in ((city_db, "city"), (asn_db, "asn")):
        hit = {p for p, r in zip(probes, got) if r[field] is not None}
        assert any(":" not in p for p in hit)
        assert any(":" in p and "." not in p for p in hit) == db.has_ipv6
    mapped = {p: r for p, r in zip(probes, got)}["::ffff:1.2.3.0"]
    assert (mapped["country"] is not None) == city_db.has_ipv6
    assert (mapped["asn"] is not None) == asn_db.has_ipv6


@pytest.mark.parametrize("setting", ["false", "true"])
def test_fused_follows_case_sensitivity(spark, dbs, setting):
    """Under either ``spark.sql.caseSensitive``, a ``Country`` input
    column is replaced (or kept) as the enrichers applied one after
    another replace it; both enrichers write ``country`` and skip."""
    enrichers = _enrichers(spark, dbs, ("city6", "asn6"),
                           skip=("city", "asn"), overlap=True)
    df = _frame(spark, _probes(dbs["city6"]), "Country")
    spark.conf.set("spark.sql.caseSensitive", setting)
    try:
        fused, seq = _fused_and_sequential(enrichers, df)
        assert fused.schema == seq.schema
        assert ("Country" in fused.columns) == (setting == "true")
        assert _rows(fused) == _rows(seq)
    finally:
        spark.conf.unset("spark.sql.caseSensitive")


def test_fused_reparses_a_rewritten_lookup_key(spark, dbs):
    """When the first enricher writes the column the second looks up, the
    second sees the new value, as applied one after another: here the
    city's country code, which no address parse accepts."""
    enrichers = _enrichers(spark, dbs, ("city6", "asn6"),
                           city_extra={"ip": "${country.iso_code['ip']}"})
    df = _frame(spark, _probes(dbs["city6"]))
    fused, seq = _fused_and_sequential(enrichers, df)
    assert fused.schema == seq.schema
    rows = _rows(fused)
    assert rows == _rows(seq)
    assert all(r["asn"] is None for r in rows)
    assert any(r["country"] is not None for r in rows)
