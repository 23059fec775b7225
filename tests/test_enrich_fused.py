"""The fused enrich plan (``enrich.compile_plan``): several enrichers over
the same lookup key compile into one plan that parses the key once and
probes one range table per database. It must give, row for row, the
values and the schema of applying the enrichers one after another
(``GeoipEnricher.transform`` each), and the values of the driver-side
reference, ``GeoDatabase.lookup_batch``, at every range edge.
"""

import ipaddress

import numpy as np
import pandas as pd
import pytest

from fluent_plugin_geoip_spark.config import GeoipConfig
from fluent_plugin_geoip_spark.operators.enrich import (
    SKIP_FLAG, GeoipEnricher, apply_plan,
)
from fluent_plugin_geoip_spark.operators.geolookup import (
    BUCKET_CAP, GeoDatabase, _v6_words, overlay, v4_bucket_layout,
    v6_bucket_layout,
)
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


def _assert_lookup_batch_values(got, probes, city_db, asn_db):
    """Each row of ``got`` (the enrichers of :func:`_enrichers`, no field
    written twice) holds what ``lookup_batch`` finds for its probe in each
    enricher's own database."""
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
    _assert_lookup_batch_values(got, probes, city_db, asn_db)
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


# ---------------------------------------------------------------------------
# the overlay: one join per lookup key against the common refinement of
# the databases probed with it


_DENSE6 = 0x2400CB00 << 96  # one /32 holding most v6 ranges


def _ranges(rnd, pool: list[int], k: int) -> list[tuple[int, int]]:
    """k sorted, disjoint ranges with bounds drawn from ``pool``, about a
    third of them starting right after the previous one."""
    q = sorted(rnd.sample(pool, 2 * k))
    out = []
    for i in range(k):
        start, end = q[2 * i], q[2 * i + 1]
        if out and rnd.random() < 0.3:
            start = out[-1][1] + 1
        out.append((start, end))
    return out


def _random_db(rnd, pools, tag: str, k4: int, k6: int,
               asn: bool) -> GeoDatabase:
    """A database of ``k4`` v4 and ``k6`` v6 ranges drawn from ``pools``
    (shared with the database it is paired with, so their ranges
    interleave, share edges and end inside each other), one record each:
    a city record, every third without a location, or an ASN record that
    also answers ``country``."""
    fams = [_ranges(rnd, pools[0], k4), _ranges(rnd, pools[1], k6)]
    docs = []
    for i in range(k4 + k6):
        if asn:
            docs.append({"asn": 64500 + i, "as_org": f"{tag}AS{i}",
                         "country.iso_code": f"{tag}A{i}"})
        else:
            docs.append({"country.iso_code": f"{tag}{i}",
                         "city.names.en": f"{tag}-c{i}",
                         **({"location.latitude": float(i)} if i % 3 else {})})
    v4 = (np.array([s for s, _ in fams[0]], dtype=np.int64),
          np.array([e for _, e in fams[0]], dtype=np.int64), np.arange(k4))
    v6 = None
    if k6:
        def s16(xs):
            return np.array([x.to_bytes(16, "big") for x in xs], dtype="S16")
        v6 = (s16([s for s, _ in fams[1]]), s16([e for _, e in fams[1]]),
              k4 + np.arange(k6))
    db = GeoDatabase._build("geoip2_c", docs, {}, v4, v6)
    assert db.has_ipv6 == bool(k6)
    return db


def _pools(rnd) -> tuple[list[int], list[int]]:
    """Range bounds for both families: dense ones in one v4 /16 and in
    the v6 /32 at /48 steps, plus a few far apart (very wide ranges) and
    the last address of each space."""
    v4 = [(1 << 24 | 2 << 16) + x for x in rnd.sample(range(1 << 16), 60)]
    v4 += [10 << 24, 60 << 24, 240 << 24, (1 << 32) - 1]
    v6 = [_DENSE6 | (x << 80) | rnd.choice((0, (1 << 80) - 1))
          for x in rnd.sample(range(1 << 16), 100)]
    v6 += [0x20010DB8 << 96, 0x2A00 << 112, 0xFFFF << 112, (1 << 128) - 1]
    return sorted(set(v4)), sorted(set(v6))


def _edge_probes(*databases: GeoDatabase) -> list:
    """Every range edge ±1 of each database: v4 ones as dotted, mapped and
    compat text, v6 ones as text; and unparsable input."""
    out = []
    for db in databases:
        for a in {a + d for e in (db.starts, db.ends) for a in e.tolist()
                  for d in (-1, 0, 1)}:
            if 0 <= a < 1 << 32:
                dotted = str(ipaddress.IPv4Address(a))
                out += [dotted, f"::ffff:{dotted}", f"::{dotted}"]
        for a in {int.from_bytes(a.ljust(16, b"\x00"), "big") + d
                  for e in (db.starts6, db.ends6) for a in e.tolist()
                  for d in (-1, 0, 1)}:
            if 0 <= a < 1 << 128:
                out.append(str(ipaddress.IPv6Address(a)))
    return sorted(set(out)) + ["garbage", "", None]


OVERLAY_CASES = [(seed, kinds) for seed in (11, 12)
                 for kinds in (("dual", "dual"), ("v4", "dual"),
                               ("dual", "v4"))]


@pytest.mark.parametrize(
    "seed,kinds", OVERLAY_CASES,
    ids=[f"{s}-{'-'.join(k)}" for s, k in OVERLAY_CASES])
def test_overlay_differential(spark, seed, kinds):
    """Seeded-random city and ASN databases, v4-only or dual-stack, whose
    ranges interleave, share edges and end inside each other's, with a
    dense v6 /32 that splits: at every range edge ±1, the fused plan (one
    join against their overlay) gives the rows of the enrichers applied
    one after another and each database's ``lookup_batch`` values. The
    overlay has at most 2·Σn pieces per family, and no bucket of its
    tables holds more than ``BUCKET_CAP`` pieces unless more than
    ``BUCKET_CAP`` pieces share one /60."""
    import random
    rnd = random.Random(seed)
    pools = _pools(rnd)
    city_db, asn_db = (
        _random_db(rnd, pools, tag, 14 + rnd.randrange(4),
                   36 if kind == "dual" else 0, asn)
        for tag, kind, asn in (("C", kinds[0], False),
                               ("A", kinds[1], True)))
    dbs = {"city": city_db, "asn": asn_db}
    probes = _edge_probes(city_db, asn_db)

    got = _rows(apply_plan(_enrichers(spark, dbs, ("city", "asn")), {},
                           _frame(spark, probes)))
    _assert_lookup_batch_values(got, probes, city_db, asn_db)
    enrichers = _enrichers(spark, dbs, ("city", "asn"), ("city",),
                           overlap=True)
    fused, seq = _fused_and_sequential(enrichers,
                                       _frame(spark, probes, "country"))
    assert fused.schema == seq.schema
    assert _rows(fused) == _rows(seq)

    ov = overlay([(e.db, e._attrs_by_key["ip"]) for e in enrichers])
    assert len(ov.starts) <= 2 * (len(city_db.starts) + len(asn_db.starts))
    assert len(ov.starts6) <= 2 * (len(city_db.starts6)
                                   + len(asn_db.starts6))
    assert v4_bucket_layout(ov).max_bucket_rows <= BUCKET_CAP
    lay6 = v6_bucket_layout(ov)
    assert lay6.dense  # the dense /32 splits
    s_hi, _, e_hi, _ = _v6_words(ov)
    first, last = s_hi >> np.uint64(4), e_hi >> np.uint64(4)  # /60s
    crowd = (np.searchsorted(first, first, "right")
             - np.searchsorted(last, first, "left")).max(initial=0)
    if crowd <= BUCKET_CAP:
        assert lay6.max_bucket_rows <= BUCKET_CAP
