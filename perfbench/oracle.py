"""Expected outputs, computed once per seed outside any timed window.

Independent of the program's enrich kernel and router: addresses are cut
from the access-log text with Python's ``re``, parsed with ``ipaddress``
and looked up with NumPy ``searchsorted`` (v4) / ``bisect`` (v6) in the
benchmark's own range tables (the ones the ``.mmdb`` files were built
from).
"""

from __future__ import annotations

import bisect
import ipaddress
import re
from collections import Counter

import numpy as np

from .inputs import RangeTable

UNROUTED = "__unrouted__"   # the router's sink for rows with no country
MISS = "__miss__"           # the rollup's key for rows with no country
_CLIENT_IP = re.compile(r"(\S+) ")


def client_ip(text: str) -> str:
    m = _CLIENT_IP.match(text)
    return m.group(1) if m else ""


def countries(texts: list[str], table: RangeTable) -> list[str | None]:
    """The country ISO code each access-log line's client address maps
    to, or None for a miss."""
    v4_idx, v4_val, out = [], [], [None] * len(texts)
    for i, t in enumerate(texts):
        try:
            addr = ipaddress.ip_address(client_ip(t))
        except ValueError:
            continue
        if addr.version == 6 and addr.ipv4_mapped is not None:
            addr = addr.ipv4_mapped
        if addr.version == 4:
            v4_idx.append(i)
            v4_val.append(int(addr))
            continue
        v = int(addr)
        k = bisect.bisect_right(table.v6_starts, v) - 1
        if k >= 0 and v <= table.v6_ends[k]:
            out[i] = table.v6_docs[k]["country"]["iso_code"]
    if v4_idx:
        vals = np.array(v4_val, np.int64)
        k = np.searchsorted(table.v4_starts, vals, side="right") - 1
        ok = (k >= 0) & (vals <= table.v4_ends[np.maximum(k, 0)])
        for i, kk, hit in zip(v4_idx, k.tolist(), ok.tolist()):
            if hit:
                out[i] = table.v4_docs[kk]["country"]["iso_code"]
    return out


def sink_rows(texts: list[str], table: RangeTable) -> dict[str, int]:
    """Rows per routed sink."""
    return dict(Counter(c or UNROUTED for c in countries(texts, table)))


def country_lang_rows(texts: list[str], langs: list[str],
                      table: RangeTable) -> dict[tuple[str, str], int]:
    """Rows per (country, lang), misses under ``__miss__``."""
    return dict(Counter((c or MISS, lang) for c, lang in
                        zip(countries(texts, table), langs)))
