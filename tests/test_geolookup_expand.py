"""Pins for the expanded-range-table construction (geolookup):

- the coarse level the ranges choose, one rule for both families (start
  at /32, coarsen 4 bits while the coarse expansion exceeds 2n rows,
  from /16 on only to a level with no bucket over ``BUCKET_CAP``, never
  past /4): a pathological wide range must coarsen the level instead of
  emitting an unbounded bucket expansion, and the enrich joins must
  still match ``GeoDatabase.lookup_batch`` (the NumPy searchsorted
  probe) on the coarser buckets — probes inside, at both edges of, and
  outside the wide range;
- the floor (/4): a near-/0 range drives the coarse level to /4 and
  lookups still work (a JVM shift count is mod 64, so /0 would silently
  break the bucket equi-key);
- the vectorized pyarrow construction (round-8 VERDICT item 2) yields
  the same rows as a hand-built expectation, including NaN → SQL null
  for double attrs (F7);
- the bounded-probe layouts (dense buckets split deeper): bucket cap,
  row bound, split levels and range-level value parity on adversarial
  databases, the world fixture and a /1 beside a dense cluster (section
  below);
- the one range table per database (``range_table``): v4 and v6 pieces
  under one bucket key never share a key, even where the two families'
  raw keys coincide (last section).
"""

import ipaddress

import numpy as np
import pytest
from pyspark.sql import functions as F

from fluent_plugin_geoip_spark.config import GeoipConfig
from fluent_plugin_geoip_spark.operators.enrich import GeoipEnricher
from fluent_plugin_geoip_spark.operators.geolookup import (
    BUCKET_CAP, V4_KEY_BIT, GeoDatabase, expanded_bucket_table,
    expanded_bucket_table_v6, range_table, v4_bucket_layout, v6_bucket_layout,
)
from fluent_plugin_geoip_spark.sources.fixtures import world_db
from fluent_plugin_geoip_spark.sources.mmdb import build_mmdb


def _v6_bytes(s: str) -> bytes:
    import socket
    return socket.inet_pton(socket.AF_INET6, s)


def _mk_db(ranges6: list[tuple[str, str, dict]]) -> GeoDatabase:
    """v4 golden row + explicit v6 ranges (16-byte bounds + attrs)."""
    db = GeoDatabase.from_rows([{
        "range_start": (66 << 24) | (102 << 16), "range_end": (66 << 24) | (102 << 16) | 0xFFFF,
        "city.names.en": "Mountain View", "location.latitude": 37.4192,
    }], profile="geoip2_c")
    ranges6 = sorted(ranges6, key=lambda r: _v6_bytes(r[0]))
    db.starts6 = np.array([_v6_bytes(s) for s, _, _ in ranges6], dtype="S16")
    db.ends6 = np.array([_v6_bytes(e) for _, e, _ in ranges6], dtype="S16")
    keys = sorted({k for _, _, a in ranges6 for k in a})
    for k in keys:
        dt = db.attr_type(k)
        vals = [a.get(k) for _, _, a in ranges6]
        if dt == "double":
            db.attrs6[k] = np.array(
                [np.nan if v is None else float(v) for v in vals])
        else:
            db.attrs6[k] = np.array(vals, dtype=object)
        db.dtypes.setdefault(k, dt)
    return db


CITY_LATITUDE = GeoipConfig(lookup_keys=["ip"], records={
    "city": "${city.names.en['ip']}",
    "latitude": "${location.latitude['ip']}"})


def _enrich_city_latitude(spark, db: GeoDatabase, df):
    """(city, latitude) per row of ``df`` (``i``, ``ip``) in ``i`` order,
    through the enrich joins; and the enricher."""
    enr = GeoipEnricher(spark, CITY_LATITUDE, db)
    rows = enr.transform(df).select("i", "city", "latitude").collect()
    return [(r.city, r.latitude) for r in sorted(rows)], enr


def _reference_city_latitude(db: GeoDatabase, probes: list[str]):
    """What the enrich joins must give, from the driver-side NumPy probe:
    a hit carries its city and its latitude (nil → 0.0, F7); a miss
    nothing."""
    import pandas as pd
    ref = db.lookup_batch(pd.Series(probes, dtype=object),
                          ["city.names.en", "location.latitude"])
    return [(c, 0.0 if pd.isna(lat) else float(lat)) if hit else (None, None)
            for hit, c, lat in zip(ref["__hit__"], ref["city_names_en"],
                                   ref["location_latitude"])]


WIDE = [
    # a /8-class range: hi spans 2^56 addresses → at /32 buckets that is
    # 2^24 emitted rows, far past 2n → the rule must coarsen
    ("2000::", "20ff:ffff:ffff:ffff:ffff:ffff:ffff:ffff",
     {"city.names.en": "Wide City", "location.latitude": -5.5}),
    # narrow /32 neighbours on both sides of the wide range
    ("1ffe::", "1ffe::ffff:ffff:ffff:ffff",
     {"city.names.en": "Low City", "location.latitude": 1.25}),
    ("2d00::", "2d00::ffff:ffff:ffff:ffff",
     {"city.names.en": "High City"}),  # latitude absent → nil → 0.0 (F7)
]


def test_v6_coarsening_bounds_expansion(spark):
    db = _mk_db(WIDE)
    df, bits = expanded_bucket_table_v6(spark, db, ["city.names.en"])
    # the /8-class range spans 2^(bits-8) buckets: 2^24 at /32 down to
    # 16 at /12 — all past 2n = 6 — and one at /8, which fits; no bucket
    # at /12 or /8 holds more than BUCKET_CAP pieces
    assert bits == 8
    n_rows = df.count()
    assert n_rows <= 2 * len(db.starts6)
    # wide range: one /8 bucket; narrows: one each
    assert n_rows == 1 + 1 + 1


def test_v6_coarsening_full_space_and_floor(spark):
    db = _mk_db([("::", "efff:ffff:ffff:ffff:ffff:ffff:ffff:ffff",
                  {"city.names.en": "Everything"})])
    df, bits = expanded_bucket_table_v6(spark, db, ["city.names.en"])
    # a near-/0 range is past 2n = 2 rows at every level above the floor
    # (0xf0 buckets at /8), so the rule stops at /4, where the range
    # spans hi prefixes 0x0..0xe: bucket math must stay correct there
    assert bits == 4
    assert df.count() == 15


@pytest.mark.parametrize("probe", [
    "2000::",                                          # wide range start edge
    "2080:1234::99",                                   # wide range middle
    "20ff:ffff:ffff:ffff:ffff:ffff:ffff:ffff",         # wide range end edge
    "2100::1",                                         # just past the end
    "1ffe::42",                                        # narrow low hit
    "1ffe:0:0:1::",                                    # past narrow low end
    "2d00::7",                                         # narrow high hit (lat nil)
    "66.102.3.80",                                     # v4 golden
    "::ffff:66.102.3.80",                              # v4-mapped
    "9999::1",                                         # clean miss
])
def test_v6_coarsened_jvm_matches_arrow(spark, probe):
    db = _mk_db(WIDE)
    df = spark.createDataFrame([(0, probe)], "i long, ip string")
    got, _ = _enrich_city_latitude(spark, db, df)
    want = _reference_city_latitude(db, [probe])
    assert got == want, f"divergence from lookup_batch on {probe}"


def test_v4_expansion_rows_match_reference(spark):
    """The pyarrow construction must emit exactly the rows the old
    row-tuple path emitted: same buckets, same bounds, NaN latitude →
    SQL null."""
    db = GeoDatabase.from_rows([
        {"range_start": 0x00010000, "range_end": 0x0003FFFF,  # spans 3 /16s
         "city.names.en": "A", "location.latitude": 1.5},
        {"range_start": 0x00050000, "range_end": 0x0005FFFF,
         "city.names.en": "B"},  # latitude absent → NaN in the attr array
    ], profile="geoip2_c")
    df = expanded_bucket_table(
        spark, db, ["city.names.en", "location.latitude"])
    rows = sorted([tuple(r) for r in df.collect()])
    assert rows == [
        (1, 0x00010000, 0x0003FFFF, "A", 1.5),
        (2, 0x00010000, 0x0003FFFF, "A", 1.5),
        (3, 0x00010000, 0x0003FFFF, "A", 1.5),
        (5, 0x00050000, 0x0005FFFF, "B", None),
    ]


# ---------------------------------------------------------------------------
# bounded-probe layouts: adversarial databases. Each must keep every
# bucket at most BUCKET_CAP pieces (except a bucket at the finest level,
# where the ranges share one finest prefix), keep the row bound stated
# in the builders' docstrings, and return the same attribute VALUES from
# the enrich joins and GeoDatabase.lookup_batch at every range's first
# address, middle, last address and one past its end.

_RNG_SEED = 20260


def _v6(net: int, prefix: int) -> tuple[str, str]:
    span = 1 << (128 - prefix)
    return (str(ipaddress.IPv6Address(net)),
            str(ipaddress.IPv6Address(net + span - 1)))


def _named(pairs: list[tuple[str, str]], tag: str) -> list:
    return [(s, e, {"city.names.en": f"{tag}{k}",
                    "location.latitude": float(k % 90)})
            for k, (s, e) in enumerate(pairs)]


def _dense_48s() -> GeoDatabase:
    """3,686 /48s inside one /32 (the busiest v6 allocation of a seeded
    dual-stack table), a range straddling into the next /32, itself
    dense, and a few /48s in a sparse /32."""
    rng = np.random.default_rng(_RNG_SEED)
    base = 0x24001234 << 96
    pairs = [_v6(base | (int(s) << 80), 48)
             for s in rng.choice((1 << 16) - 1, 3686, replace=False)]
    pairs += [_v6((0x24001235 << 96) | (int(s) << 80), 48)
              for s in 1 + rng.choice((1 << 16) - 1, 40, replace=False)]
    pairs.append((_v6(base | (0xFFFF << 80), 48)[0],
                  _v6(0x24001235 << 96, 48)[1]))
    pairs += [_v6((0x2a00beef << 96) | (s << 80), 48) for s in (1, 7, 300)]
    return _mk_db(_named(pairs, "d"))


def _wide_29() -> GeoDatabase:
    """A /29 allocation (2^19 /48s) right below a /32 holding 500 /48s: a
    fixed /48 level would emit half a million rows for the /29 alone."""
    rng = np.random.default_rng(_RNG_SEED + 1)
    pairs = [_v6(0x2a000000 << 96, 29)]
    pairs += [_v6((0x2a000008 << 96) | (int(s) << 80), 48)
              for s in rng.choice(1 << 16, 500, replace=False)]
    return _mk_db(_named(pairs, "w"))


def _sub_64() -> GeoDatabase:
    """50 /72s sharing one high half (one /64), next to a plain /48."""
    hi = 0x2400abcd00010002
    pairs = [_v6((hi << 64) | (k << 56), 72) for k in range(50)]
    pairs.append(_v6(0x2400abcd0002 << 80, 48))
    return _mk_db(_named(pairs, "s"))


def _v4_rows(straddle: bool) -> list[dict]:
    """200 /24s in 10.1.0.0/16, 64 /30s in 10.2.3.0/24 and /7-wide blocks
    on both sides of them; with ``straddle``, a (non-CIDR) range from the
    last /24 of 10.1/16 into 10.2/16, both dense buckets."""
    rng = np.random.default_rng(_RNG_SEED + 2)
    ranges = [((10 << 24) | (1 << 16) | (int(k) << 8), 1 << 8)
              for k in rng.choice(255, 200, replace=False)]
    ranges += [((10 << 24) | (2 << 16) | (3 << 8) | (k << 2), 4)
               for k in range(64)]
    ranges += [(8 << 24, 1 << 25), (12 << 24, 1 << 25)]
    if straddle:
        ranges.append(((10 << 24) | (1 << 16) | (255 << 8), 512))
    return [{"range_start": s, "range_end": s + size - 1,
             "city.names.en": f"v{k}", "location.latitude": float(k % 90)}
            for k, (s, size) in enumerate(ranges)]


def _dense_v4() -> GeoDatabase:
    return GeoDatabase.from_rows(_v4_rows(straddle=True), profile="geoip2_c")


def _aliased(tmp_path) -> GeoDatabase:
    """The dense v4 layout plus the dense v6 /48s, through a real .mmdb
    (v4 stored in the ::/96 subtree of an IPv6 tree)."""
    nets = []
    for r in _v4_rows(straddle=False):
        prefix = 32 - (r["range_end"] - r["range_start"] + 1).bit_length() + 1
        nets.append((f"{ipaddress.IPv4Address(r['range_start'])}/{prefix}",
                     {"city": {"names": {"en": r["city.names.en"]}},
                      "location": {"latitude": r["location.latitude"]}}))
    rng = np.random.default_rng(_RNG_SEED + 3)
    for k, s in enumerate(rng.choice(1 << 16, 300, replace=False)):
        net = (0x24005678 << 96) | (int(s) << 80)
        nets.append((f"{ipaddress.IPv6Address(net)}/48",
                     {"city": {"names": {"en": f"a{k}"}}}))
    path = tmp_path / "aliased.mmdb"
    path.write_bytes(build_mmdb(nets))
    return GeoDatabase.from_mmdb(str(path))


def _half_cluster() -> GeoDatabase:
    """In each family a /1 beside 40 ranges in one bucket of the last
    split level: 40 /30s in 10.2.3.0/24 next to 128.0.0.0/1, and 40 /64s
    in one /56 next to 8000::/1. The /1 pushes the coarse level past /16,
    and the cluster stops it there: at /12 one bucket would hold 41
    pieces. Below /16 the cluster is split at every level, down to /28
    (three v4 split levels) and /60 (eleven v6 ones)."""
    hi = 0x2400ABCD00010200
    pairs = [_v6(1 << 127, 1)] + [_v6((hi | k) << 64, 64) for k in range(40)]
    db = _mk_db(_named(pairs, "h"))
    ranges = [(1 << 31, 1 << 31)] + [
        ((10 << 24) | (2 << 16) | (3 << 8) | (k << 2), 4) for k in range(40)]
    v4 = GeoDatabase.from_rows(
        [{"range_start": s, "range_end": s + size - 1,
          "city.names.en": f"q{k}", "location.latitude": float(k)}
         for k, (s, size) in enumerate(ranges)], profile="geoip2_c")
    db.starts, db.ends, db.attrs = v4.starts, v4.ends, v4.attrs
    return db


LAYOUTS = {"dense_48s": _dense_48s, "wide_29": _wide_29, "sub_64": _sub_64,
           "dense_v4": _dense_v4, "aliased": _aliased, "world": world_db,
           "half_cluster": _half_cluster}


def _build(name, tmp_path) -> GeoDatabase:
    maker = LAYOUTS[name]
    return maker(tmp_path) if name == "aliased" else maker()


def _assert_layout_bounds(lay, n: int, finest: int):
    if not n:
        assert lay.rows == lay.max_bucket_rows == 0 and not lay.dense
        return
    # a coarse level below /16 has no split level, so every split level
    # lies between /16 and the finest one
    assert lay.coarse_bits >= 16 or not lay.dense
    assert len(lay.dense) <= (finest - 16) // 4
    keys, counts = np.unique(lay.keys, return_counts=True)
    assert lay.rows == len(lay.keys) and lay.max_bucket_rows == counts.max()
    # refined keys carry level/4 in their top 4 bits; coarse keys 0
    level = (keys.view(np.uint64) >> np.uint64(60)).astype(int) * 4
    split_to = {bits + 4 for bits, _ in lay.dense}
    assert set(level.tolist()) <= {0} | split_to
    assert level.max() == max(split_to, default=0)
    over = counts > BUCKET_CAP
    assert np.all(level[over] == finest), (level[over], counts[over])
    coarse_rows = max(2 * n, n + 65536)
    assert lay.rows <= coarse_rows + 15 * len(lay.dense) * n / BUCKET_CAP
    # no range has two pieces in one bucket (a left join would duplicate)
    pieces = np.unique(np.stack([lay.idx, lay.keys], axis=1), axis=0)
    assert len(pieces) == lay.rows


@pytest.mark.parametrize("name", sorted(LAYOUTS))
def test_adversarial_layout_bounds(name, tmp_path):
    db = _build(name, tmp_path)
    n4, n6 = len(db.starts), len(db.starts6)
    lay4, lay6 = v4_bucket_layout(db), v6_bucket_layout(db)
    _assert_layout_bounds(lay4, n4, 32)
    _assert_layout_bounds(lay6, n6, 60)
    if n6 and name != "half_cluster":
        # these v6 layouts stay at /32: the /29 spans 8 /32s, ≤ 2n rows
        assert lay6.coarse_bits == 32
    if name == "world":
        # 48 /7s: at /8 each is two buckets of one piece, 96 = 2n rows
        assert lay4.stats() == {"rows": 96, "max_bucket_rows": 1,
                                "coarse_bits": 8, "split_levels": []}
    if name == "half_cluster":
        # the /1 is 2^15 buckets at /16; the cluster keeps it from /12
        assert (lay4.coarse_bits, lay6.coarse_bits) == (16, 16)
        assert [b for b, _ in lay4.dense] == [16, 20, 24]
        assert [b for b, _ in lay6.dense] == list(range(16, 60, 4))
        assert lay4.max_bucket_rows == 4 and lay6.max_bucket_rows == 16
    if name == "sub_64":
        # the one exception: 50 ranges share a /64 → one /60 bucket
        assert lay6.max_bucket_rows == 50
        assert [b for b, _ in lay6.dense] == list(range(32, 60, 4))
    else:
        assert lay6.max_bucket_rows <= BUCKET_CAP
    if name == "dense_48s":
        # the two dense /32s are split, the sparse one is not
        assert lay6.dense[0][0] == 32
        assert lay6.dense[0][1].tolist() == [0x24001234, 0x24001235]
    if name in ("dense_v4", "aliased"):
        # /16 → /20 → /24 → /28: the 64 /30s need three split levels
        assert lay4.coarse_bits == 16
        assert [b for b, _ in lay4.dense] == [16, 20, 24]


def _edge_probes(db: GeoDatabase, aliased: bool) -> list[str]:
    """First address, middle, last address and one past the end of every
    range; with ``aliased``, each v4 probe also as ::a.b.c.d and
    ::ffff:a.b.c.d."""
    out = []
    for s, e in zip(db.starts.tolist(), db.ends.tolist()):
        for a in (s, (s + e) // 2, e, e + 1):
            if a < 1 << 32:
                dotted = str(ipaddress.IPv4Address(a))
                out.append(dotted)
                if aliased:
                    out += [f"::{dotted}", f"::ffff:{dotted}"]
    for s, e in zip(db.starts6.tolist(), db.ends6.tolist()):
        lo = int.from_bytes(s.ljust(16, b"\x00"), "big")
        hi = int.from_bytes(e.ljust(16, b"\x00"), "big")
        out += [str(ipaddress.IPv6Address(a))
                for a in (lo, (lo + hi) // 2, hi, hi + 1) if a < 1 << 128]
    return out


@pytest.mark.parametrize("name", sorted(LAYOUTS))
def test_adversarial_layout_values(spark, name, tmp_path):
    db = _build(name, tmp_path)
    probes = _edge_probes(db, aliased=name == "aliased")
    df = spark.createDataFrame(list(enumerate(probes)), "i long, ip string")
    jvm, enr = _enrich_city_latitude(spark, db, df)
    want = _reference_city_latitude(db, probes)
    assert len(jvm) == len(probes)
    for k, p in enumerate(probes):
        assert jvm[k] == want[k], (p, jvm[k], want[k])
    assert sum(w != (None, None) for w in want) > len(probes) // 2

    # table shape reported by the enricher, cross-checked on the tables
    assert set(enr.table_stats) == ({"v4", "v6"} if db.has_ipv6 else {"v4"})
    v4 = expanded_bucket_table(spark, db, ["city.names.en"])
    tables = {"v4": (v4, "__gb", v4_bucket_layout(db))}
    if db.has_ipv6:
        tables["v6"] = (expanded_bucket_table_v6(
            spark, db, ["city.names.en"])[0], "__g6b", v6_bucket_layout(db))
    for tag, (t, col, lay) in tables.items():
        peak = t.groupBy(col).count().agg(F.max("count")).first()[0]
        assert enr.table_stats[tag] == {
            "rows": t.count(), "max_bucket_rows": peak,
            "coarse_bits": lay.coarse_bits,
            "split_levels": [b for b, _ in lay.dense]}


# ---------------------------------------------------------------------------
# one range table per database: the v4 pieces (keys tagged V4_KEY_BIT)
# and the v6 pieces share one bucket-key column. Raw keys of the two
# families do coincide: coarse keys are plain prefixes in both, and v6
# refined tags 5-8 are v4's when the v6 coarse level is 28 or below. A /60 split gives tag 15 keys whose bit 59 is set.


def _low_tags() -> GeoDatabase:
    """The dense v4 layout (kept keys at /28, tag 7) beside v6 ranges
    whose raw keys equal v4 ones: a /8 pushes the v6 coarse level past
    /32, and the 40 /48s in two /28s of ``a02:300::/24`` stop it at /16
    (at /12 one bucket would hold them all) and are split to /28 keys
    (tag 7) equal to those of 10.2.3.16/28 and 10.2.3.32/28: two shared
    raw keys. ``8:100::/32`` is one more coarse (tag 0) piece."""
    pairs = [("2000::", "20ff:ffff:ffff:ffff:ffff:ffff:ffff:ffff"),
             _v6(0x00080100 << 96, 32)]
    pairs += [_v6((hi << 96) | (k << 80), 48)
              for hi in (0x0A020310, 0x0A020320) for k in range(20)]
    db = _mk_db(_named(pairs, "t"))
    v4 = GeoDatabase.from_rows(_v4_rows(straddle=True), profile="geoip2_c")
    db.starts, db.ends, db.attrs = v4.starts, v4.ends, v4.attrs
    return db


def _tag_15() -> GeoDatabase:
    """The dense v4 layout beside 50 /72s sharing one /64 above 8000::,
    split down to /60: tag 15 keys with bit 59 set."""
    hi = 0xFD00ABCD00010002
    pairs = [_v6((hi << 64) | (k << 56), 72) for k in range(50)]
    pairs.append(_v6(0xFD00ABCD0002 << 80, 48))
    db = _mk_db(_named(pairs, "f"))
    v4 = GeoDatabase.from_rows(_v4_rows(straddle=True), profile="geoip2_c")
    db.starts, db.ends, db.attrs = v4.starts, v4.ends, v4.attrs
    return db


KEY_SPACES = {"low_tags": _low_tags, "tag_15": _tag_15}


@pytest.mark.parametrize("name", sorted(KEY_SPACES))
def test_one_table_key_families_disjoint(spark, name):
    db = KEY_SPACES[name]()
    lay4, lay6 = v4_bucket_layout(db), v6_bucket_layout(db)
    n4, n6 = len(db.starts), len(db.starts6)
    _assert_layout_bounds(lay4, n4, 32)
    _assert_layout_bounds(lay6, n6, 60)
    tags6 = set((lay6.keys.view(np.uint64) >> np.uint64(60)).tolist())
    if name == "low_tags":
        assert lay6.coarse_bits <= 28
        assert tags6 & {5, 6, 7, 8}
        # without the tag bit the families would share buckets
        assert set(lay4.keys.tolist()) & set(lay6.keys.tolist())
    else:
        assert 15 in tags6
        assert np.any(lay6.keys & np.int64(V4_KEY_BIT))
    keys4 = set((lay4.keys | np.int64(V4_KEY_BIT)).tolist())
    assert not keys4 & set(lay6.keys.tolist())

    # the Spark table: every bucket holds pieces of one family only, and
    # each family's pieces are its layout's
    attrs = ["city.names.en"]
    table = range_table(spark, db, attrs, "__t_",
                        expanded_bucket_table(spark, db, attrs),
                        expanded_bucket_table_v6(spark, db, attrs)[0])
    per_key = {r["k"]: (r["v4"], r["v6"]) for r in table.groupBy(
        F.col("__t___gb").alias("k")).agg(
        F.count("__t___gs").alias("v4"),
        F.count("__t___g6sh").alias("v6")).collect()}
    assert all(min(pair) == 0 for pair in per_key.values())
    assert sum(v4 for v4, _ in per_key.values()) == lay4.rows
    assert sum(v6 for _, v6 in per_key.values()) == lay6.rows
    assert {k for k, (v4, _) in per_key.items() if v4} == keys4
    assert max(max(pair) for pair in per_key.values()) == max(
        lay4.max_bucket_rows, lay6.max_bucket_rows)


@pytest.mark.parametrize("name", sorted(KEY_SPACES))
def test_one_table_values(spark, name):
    """Values through the one join per key match ``lookup_batch`` at every
    range's edges, v4 probes also as ``::a.b.c.d`` / ``::ffff:a.b.c.d``."""
    db = KEY_SPACES[name]()
    probes = _edge_probes(db, aliased=True)
    df = spark.createDataFrame(list(enumerate(probes)), "i long, ip string")
    jvm, enr = _enrich_city_latitude(spark, db, df)
    want = _reference_city_latitude(db, probes)
    for k, p in enumerate(probes):
        assert jvm[k] == want[k], (p, jvm[k], want[k])
    assert sum(w != (None, None) for w in want) > len(probes) // 2
    plan = enr.transform(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 1, plan
