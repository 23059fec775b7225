"""Seeded inputs for the workloads. Everything here is plain NumPy /
pyarrow / the library's ``.mmdb`` writer, so the program under test sees
only files: page parquet and ``.mmdb`` databases.

Same seed → same inputs. The range tables returned next to each database
are the ground truth the oracle looks addresses up in.
"""

from __future__ import annotations

import ipaddress
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "zh", "ja", "de", "fr", "pt", "hi", "ru", "ko", "es", "nl", "it"]
TLDS = ["com", "net", "org", "io", "jp", "de", "fr", "cn"]
_BASE_TS_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
SPECIALS = ["", "0", "203.0.113.1", "not-an-ip"]


@dataclass
class RangeTable:
    """Disjoint ranges → attribute docs. v4 bounds are uint32 ints, v6
    bounds 128-bit ints; ``docs`` is indexed like the bounds."""
    v4_starts: np.ndarray
    v4_ends: np.ndarray
    v4_docs: list
    v6_starts: list
    v6_ends: list
    v6_docs: list


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def _dotted(v: np.ndarray) -> list[str]:
    v = v.astype(np.int64)
    a, b, c, d = v >> 24, (v >> 16) & 255, (v >> 8) & 255, v & 255
    return [f"{w}.{x}.{y}.{z}" for w, x, y, z in
            zip(a.tolist(), b.tolist(), c.tolist(), d.tolist())]


def _zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


# ---------------------------------------------------------------------------
# pages


PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def pages_table(ips: list[str], seed: int, first_id: int = 0) -> pa.Table:
    """Common-Crawl-style pages (the library's page schema) whose embedded
    access-log line starts with the given client addresses."""
    n = len(ips)
    rng = _rng(seed, 7 + first_id)
    ids = range(first_id, first_id + n)
    site = rng.integers(0, 10000, n).tolist()
    tld = rng.integers(0, len(TLDS), n).tolist()
    status = rng.choice([200, 200, 200, 200, 301, 404, 500], n).tolist()
    nbytes = rng.integers(0, 50000, n).tolist()
    lang = [LANGS[i] for i in rng.integers(0, len(LANGS), n).tolist()]
    ts = (_BASE_TS_US + rng.integers(0, 86400 * 1_000_000, n)).tolist()
    url = [f"http://www.site{s}.{TLDS[t]}/p/{i}"
           for s, t, i in zip(site, tld, ids)]
    text = [f'{ip} - - [01/Jan/2024:00:00:00 +0000] "GET /p/{i} HTTP/1.1" '
            f"{st} {nb}" for ip, i, st, nb in zip(ips, ids, status, nbytes)]
    html = [(f"<html><head><title>page {i}</title></head><body><pre>{t}"
             f"</pre><p>crawl snapshot of {u}</p></body></html>").encode()
            for i, t, u in zip(ids, text, url)]
    return pa.table([url, pa.array(ts, pa.timestamp("us", tz="UTC")), html,
                     text, lang], schema=PAGES_SCHEMA)


def write_pages(path: str, table: pa.Table, files: int) -> None:
    """Write the pages as ``files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for k in range(files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"))


# ---------------------------------------------------------------------------
# the 48-range world database (the flagship fixture, loaded from .mmdb)


def world_networks() -> tuple[list, RangeTable]:
    """The library's world fixture as (cidr, doc) networks for the .mmdb
    writer: each 2^25-address range is exactly one /7."""
    from fluent_plugin_geoip_spark.sources.fixtures import world_rows
    nets, starts, ends, docs = [], [], [], []
    for r in world_rows():
        doc = {"country": {"iso_code": r["country.iso_code"],
                           "names": {"en": r["country.names.en"]}},
               "city": {"names": {"en": r["city.names.en"]}},
               "location": {"latitude": r["location.latitude"],
                            "longitude": r["location.longitude"]}}
        nets.append((f"{ipaddress.IPv4Address(r['range_start'])}/7", doc))
        starts.append(r["range_start"])
        ends.append(r["range_end"])
        docs.append(doc)
    table = RangeTable(np.array(starts, np.int64), np.array(ends, np.int64),
                       docs, [], [], [])
    return nets, table


def world_ips(n: int, seed: int, salt: int = 1) -> list[str]:
    """Client addresses for the world database: 85% hits with a Zipf
    country skew, 12% uncovered-space misses, 3% unparsable or special."""
    from fluent_plugin_geoip_spark.sources.fixtures import world_rows
    rows = world_rows()
    countries = sorted({r["country.iso_code"] for r in rows},
                       key=[r["country.iso_code"] for r in rows].index)
    by_country = {c: [r for r in rows if r["country.iso_code"] == c]
                  for c in countries}
    rng = _rng(seed, salt)
    kind = rng.choice(3, n, p=[0.85, 0.12, 0.03])
    ctry = rng.choice(len(countries), n, p=_zipf_weights(len(countries)))
    pick = rng.integers(0, 1 << 30, n)
    off = rng.integers(0, 1 << 25, n)
    covered_end = rows[-1]["range_end"] + 1
    miss = rng.integers(covered_end, 1 << 32, n)
    hit = np.empty(n, np.int64)
    for ci, c in enumerate(countries):
        m = ctry == ci
        rs = by_country[c]
        hit[m] = np.array([rs[p % len(rs)]["range_start"] for p in pick[m]],
                          np.int64) + off[m]
    v4 = _dotted(np.where(kind == 0, hit, miss))
    special = rng.integers(0, len(SPECIALS), n).tolist()
    return [SPECIALS[s] if k == 2 else a
            for a, k, s in zip(v4, kind.tolist(), special)]


# ---------------------------------------------------------------------------
# the large dual-stack database


BIG_COUNTRIES = [
    "US", "CN", "JP", "DE", "GB", "FR", "BR", "IN", "RU", "KR", "IT", "CA",
    "ES", "AU", "NL", "MX", "SE", "PL", "TR", "ID", "CH", "AR", "BE", "ZA",
    "TW", "VN", "TH", "UA", "IR", "EG", "NG", "CO", "AT", "CL", "NO", "DK",
    "FI", "PT", "IE", "NZ"]
V4_PREFIX = 18   # every v4 range is a /18
V6_PREFIX = 48   # every v6 range is a /48, inside a few /32 allocations
V6_ALLOC_SHARE = [0.9, 0.07, 0.03]


def big_networks(n4: int, n6: int, seed: int) -> tuple[list, RangeTable]:
    """``n4`` v4 /18 ranges scattered over unicast space and ``n6`` v6 /48
    ranges clustered in three /32 allocations (90/7/3 %), each with a
    city + ASN document; countries follow a Zipf skew."""
    rng = _rng(seed, 2)
    w = _zipf_weights(len(BIG_COUNTRIES))
    lo_slot, hi_slot = (1 << 24) >> (32 - V4_PREFIX), (224 << 24) >> (32 - V4_PREFIX)
    slots4 = lo_slot + np.sort(rng.choice(hi_slot - lo_slot, n4, replace=False))
    allocs = rng.choice(1 << 16, len(V6_ALLOC_SHARE), replace=False)
    v6 = []
    for a, share in zip(allocs.tolist(), V6_ALLOC_SHARE):
        k = int(round(n6 * share))
        for s in rng.choice(1 << 16, k, replace=False).tolist():
            v6.append(((0x2400 << 112) | (a << 96) | (s << 80)))
    v6.sort()

    def doc(i: int, c: int) -> dict:
        cc = BIG_COUNTRIES[c]
        asn = 64512 + (i * 7919) % 4000
        return {"country": {"iso_code": cc, "names": {"en": f"Country {cc}"}},
                "city": {"names": {"en": f"{cc}-city-{i % 97}"}},
                "location": {"latitude": float(c - 20), "longitude": float(c)},
                "asn": asn, "as_org": f"AS{asn} Networks"}

    c4 = rng.choice(len(BIG_COUNTRIES), n4, p=w).tolist()
    c6 = rng.choice(len(BIG_COUNTRIES), len(v6), p=w).tolist()
    nets, docs4, docs6 = [], [], []
    starts4 = slots4.astype(np.int64) << (32 - V4_PREFIX)
    for i, (s, c) in enumerate(zip(starts4.tolist(), c4)):
        d = doc(i, c)
        docs4.append(d)
        nets.append((f"{ipaddress.IPv4Address(s)}/{V4_PREFIX}", d))
    for i, (s, c) in enumerate(zip(v6, c6)):
        d = doc(n4 + i, c)
        docs6.append(d)
        nets.append((f"{ipaddress.IPv6Address(s)}/{V6_PREFIX}", d))
    table = RangeTable(
        starts4, starts4 + (1 << (32 - V4_PREFIX)) - 1, docs4,
        v6, [s + (1 << (128 - V6_PREFIX)) - 1 for s in v6], docs6)
    return nets, table


def big_ips(n: int, table: RangeTable, seed: int, salt: int = 3,
            v6_share: float = 1 / 3) -> list[str]:
    """Client addresses for the large database: a ``v6_share`` of v6
    text; 85% of each family inside a covered range, the rest random
    (mostly misses), plus 1% unparsable."""
    rng = _rng(seed, salt)
    fam6 = rng.random(n) < v6_share
    inside = rng.random(n) < 0.85
    junk = rng.random(n) < 0.01
    r4 = rng.integers(0, len(table.v4_starts), n)
    o4 = rng.integers(0, 1 << (32 - V4_PREFIX), n)
    any4 = rng.integers(1 << 24, 224 << 24, n)
    v4 = np.where(inside, table.v4_starts[r4] + o4, any4)
    v4_txt = _dotted(v4)
    r6 = rng.integers(0, len(table.v6_starts), n).tolist()
    lo = rng.integers(0, 1 << 62, n).tolist()
    alloc_base = [s >> 96 << 96 for s in table.v6_starts]
    stray = rng.integers(0, 1 << 16, n).tolist()
    out = []
    for i in range(n):
        if junk[i]:
            out.append(SPECIALS[i % len(SPECIALS)])
        elif not fam6[i]:
            out.append(v4_txt[i])
        elif inside[i]:
            out.append(str(ipaddress.IPv6Address(table.v6_starts[r6[i]] + lo[i])))
        else:  # a /48 somewhere in the same allocation: usually uncovered
            out.append(str(ipaddress.IPv6Address(
                alloc_base[r6[i]] | (stray[i] << 80) | lo[i])))
    return out
