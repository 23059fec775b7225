"""Broadcast interval-lookup kernel — the Spark-native form of the reference's
MaxMind DB probe (J1 in SURVEY.md §2.3).

The reference (/root/reference/lib/fluent/plugin/filter_geoip.rb:167-185,
204-217) loads an IP-range→attributes interval map fully into worker memory
(``:memory`` flag, filter_geoip.rb:207) and probes it per record. The Spark
restatement: the range table is sorted once on the driver into plain NumPy
arrays, broadcast to every executor, and probed with ``np.searchsorted``
(binary search) inside an Arrow-batched scalar pandas UDF — one JVM↔Python
crossing per batch, zero per-row Python.

Why not a join: an interval probe is a non-equi join; Spark would plan it as
BroadcastNestedLoopJoin, O(rows × ranges). Binary search over a broadcast
sorted array is O(rows × log ranges) and shuffle-free — it keeps the enrich
stage a narrow map, which is what lets the pipeline scale linearly with
executors (the reference's ``multi_workers_ready? → true`` contract,
filter_geoip.rb:115-117).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F, types as T

from ..functions.ipv4 import ipv4_to_uint32

# Attr whitelists of the two flat backends (filter_geoip.rb:31-32).
GEOIP_KEYS = [
    "city", "latitude", "longitude", "country_code3", "country_code",
    "country_name", "dma_code", "area_code", "region",
]
GEOIP2_COMPAT_KEYS = [
    "city", "country_code", "country_name", "latitude", "longitude",
    "postal_code", "region", "region_name",
]
BACKEND_LIBRARIES = ("geoip", "geoip2_compat", "geoip2_c")

# dtypes for flat-backend attrs (README.md:341-342: dma/area are ints).
_FLAT_DTYPES = {
    "latitude": "double", "longitude": "double",
    "dma_code": "int", "area_code": "int",
}

_SPARK_TYPES = {
    "string": T.StringType(),
    "double": T.DoubleType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "boolean": T.BooleanType(),
}

# geoip2_compat's flat-key view of the nested GeoIP2 document — the mapping
# the geoip2_compat gem applies (reference README.md:311-320 documents the
# exposed keys; the nested sources are the standard GeoIP2 city paths).
COMPAT_FROM_NESTED = {
    "city": "city.names.en",
    "country_code": "country.iso_code",
    "country_name": "country.names.en",
    "latitude": "location.latitude",
    "longitude": "location.longitude",
    "postal_code": "postal.code",
    "region": "subdivisions.0.iso_code",
    "region_name": "subdivisions.0.names.en",
}


def attr_dtype(profile: str, attr_path: str, known: dict[str, str] | None = None) -> str:
    """Logical dtype of a lookup attribute ('string'|'double'|'int'|'long')."""
    if known and attr_path in known:
        return known[attr_path]
    leaf = attr_path.rsplit(".", 1)[-1]
    if leaf in ("latitude", "longitude"):
        return "double"
    if profile == "geoip" and leaf in ("dma_code", "area_code"):
        return "int"
    if leaf in ("geoname_id", "metro_code", "accuracy_radius", "asn"):
        return "long"
    return "string"


def sanitize_attr(attr_path: str) -> str:
    """Canonical struct-field name for an attr dot-path (dots/brackets → _)."""
    return attr_path.replace(".", "_").replace("[", "_").replace("]", "")


# Driver-side cache of parsed database files. The reference loads each DB
# once per process (:memory, filter_geoip.rb:207); without this, every
# enricher construction re-walks the whole file. Keyed on (path, profile,
# mtime_ns, size) so an updated file on the same path reloads; inserting a
# new key evicts prior entries for the same (path, profile) so rewritten DB
# files don't accumulate stale multi-MB tables (round-4 ADVICE). The cached
# GeoDatabase is SHARED and must be treated as immutable by callers.
_DB_CACHE: dict[tuple, "GeoDatabase"] = {}


def _db_cache_key(path: str, profile: str) -> tuple:
    import os
    st = os.stat(path)
    return (os.path.abspath(path), profile, st.st_mtime_ns, st.st_size)


def _db_cache_put(key: tuple, db: "GeoDatabase") -> None:
    stale = [k for k in _DB_CACHE if k[:2] == key[:2] and k != key]
    for k in stale:
        del _DB_CACHE[k]
    _DB_CACHE[key] = db


@dataclass
class GeoDatabase:
    """Sorted, non-overlapping IPv4 range table with per-range attributes.

    ``attrs`` maps canonical attr dot-paths (e.g. ``city.names.en``,
    ``location.latitude`` for the geoip2_c profile; flat keys like ``city``
    for geoip/geoip2_compat) to per-range value arrays. A path absent from
    ``attrs`` resolves to null for every range — mirroring geoip2_c's
    "any field may be dug, missing digs return nil" semantics
    (filter_geoip.rb:96-99, 187-202).
    """

    profile: str
    starts: np.ndarray
    ends: np.ndarray
    attrs: dict[str, np.ndarray]
    dtypes: dict[str, str] = field(default_factory=dict)
    # optional native-IPv6 table: sorted 16-byte big-endian bounds ('S16'
    # numpy arrays — lexicographic order == numeric order) + per-range attr
    # arrays sharing the same dtype map. Empty for v4-only databases.
    starts6: np.ndarray = field(
        default_factory=lambda: np.array([], dtype="S16"))
    ends6: np.ndarray = field(
        default_factory=lambda: np.array([], dtype="S16"))
    attrs6: dict[str, np.ndarray] = field(default_factory=dict)

    @property
    def has_ipv6(self) -> bool:
        return len(self.starts6) > 0

    def __getstate__(self):
        # the enricher stashes session-local expanded-table DataFrames on
        # the instance (`_expanded_plan_cache`, round 9) — they are not
        # picklable and must never ride the Arrow kernel's broadcast of
        # the database; neither must the memoized bucket layouts
        # (`_bucket_layouts`), which only the driver needs; everything
        # else serializes as-is
        state = dict(self.__dict__)
        state.pop("_expanded_plan_cache", None)
        state.pop("_bucket_layouts", None)
        return state

    @classmethod
    def from_rows(cls, rows: list[dict], profile: str = "geoip2_c",
                  dtypes: dict[str, str] | None = None) -> "GeoDatabase":
        """Build from dicts with ``range_start``/``range_end`` + attr values."""
        if profile not in BACKEND_LIBRARIES:
            raise ValueError(f"unknown backend profile: {profile}")
        rows = sorted(rows, key=lambda r: r["range_start"])
        starts = np.array([r["range_start"] for r in rows], dtype=np.int64)
        ends = np.array([r["range_end"] for r in rows], dtype=np.int64)
        if np.any(ends < starts):
            raise ValueError("range_end < range_start")
        if len(starts) > 1 and np.any(starts[1:] <= ends[:-1]):
            raise ValueError("overlapping IP ranges")
        keys: list[str] = sorted({k for r in rows for k in r} - {"range_start", "range_end"})
        dtypes = dict(dtypes or {})
        attrs: dict[str, np.ndarray] = {}
        for k in keys:
            dt = dtypes.get(k) or attr_dtype(profile, k)
            dtypes[k] = dt
            vals = [r.get(k) for r in rows]
            if dt == "double":
                attrs[k] = np.array([np.nan if v is None else float(v) for v in vals],
                                    dtype=np.float64)
            else:
                attrs[k] = np.array(vals, dtype=object)
        return cls(profile=profile, starts=starts, ends=ends, attrs=attrs, dtypes=dtypes)

    @classmethod
    def from_mmdb(cls, path: str, profile: str = "geoip2_c") -> "GeoDatabase":
        """Load a real MaxMind database file (the reference's primary config
        surface: ``geoip2_database``, filter_geoip.rb:41-43, 204-217).

        The .mmdb tree is walked once on the driver into sorted IPv4 range
        arrays (``sources.mmdb``, a from-scratch reader of the public spec);
        nested docs flatten to the dot-path attrs the placeholder DSL digs.
        ``profile='geoip2_compat'`` additionally applies the compat gem's
        flat-key mapping. The legacy ``geoip`` backend reads GeoCityLite
        .dat, a different format — not supported; use ``from_rows``.
        """
        from ..sources.mmdb import MMDBReader, flatten_doc
        if profile == "geoip":
            raise ValueError(
                "the legacy 'geoip' backend reads GeoCityLite .dat files — "
                "use GeoDatabase.from_dat; .mmdb loading supports "
                "geoip2_c / geoip2_compat")
        key = _db_cache_key(path, profile)
        cached = _DB_CACHE.get(key)
        if cached is not None:
            return cached
        reader = MMDBReader.open(path)

        def project(doc: dict) -> dict:
            flat = flatten_doc(doc)
            if profile == "geoip2_compat":
                flat = {k: flat.get(p) for k, p in COMPAT_FROM_NESTED.items()
                        if flat.get(p) is not None}
            return flat

        ranges4 = [(s, e, project(d)) for s, e, d in reader.iter_ipv4_ranges()]
        ranges6 = [(s, e, project(d)) for s, e, d in reader.iter_ipv6_ranges()]
        dtypes: dict[str, str] = {}
        for _, _, flat in ranges4 + ranges6:
            for k, v in flat.items():
                if isinstance(v, bool):
                    dt = "boolean"
                elif isinstance(v, float):
                    dt = "double"
                elif isinstance(v, int):
                    dt = "long"
                else:
                    dt = "string"
                if dtypes.setdefault(k, dt) != dt:
                    # mixed int/float across ranges → double; else stringify
                    dtypes[k] = ("double" if {dtypes[k], dt} == {"long", "double"}
                                 else "string")

        def norm(v, dt):
            if dt == "double" and isinstance(v, (int, float)) \
                    and not isinstance(v, bool):
                return float(v)
            if dt == "string" and v is not None and not isinstance(v, str):
                return str(v)
            return v

        rows = []
        for start, end, flat in ranges4:
            row: dict = {"range_start": start, "range_end": end}
            for k, v in flat.items():
                row[k] = norm(v, dtypes[k])
            rows.append(row)
        db = cls.from_rows(rows, profile=profile, dtypes=dtypes)
        if ranges6:
            ranges6.sort(key=lambda r: r[0])
            db.starts6 = np.array([s for s, _, _ in ranges6], dtype="S16")
            db.ends6 = np.array([e for _, e, _ in ranges6], dtype="S16")
            for k, dt in dtypes.items():
                vals = [norm(f.get(k), dt) for _, _, f in ranges6]
                if dt == "double":
                    db.attrs6[k] = np.array(
                        [np.nan if v is None else v for v in vals], dtype=np.float64)
                else:
                    db.attrs6[k] = np.array(vals, dtype=object)
        _db_cache_put(key, db)
        return db

    @classmethod
    def from_dat(cls, path: str) -> "GeoDatabase":
        """Load a legacy GeoCityLite ``.dat`` file — the reference's DEFAULT
        backend config surface (``geoip_database`` + ``backend_library
        geoip``, filter_geoip.rb:37, 204-206).

        The binary tree is walked once on the driver into the sorted range
        arrays (``sources.dat``, a from-scratch reader of the public legacy
        format); attrs are the flat legacy keys with the C library's
        single-precision coordinates (the reference's 37.4192008972168
        golden, test_filter_geoip.rb:1024-1027). Always profile ``geoip``
        (the whitelist the reference enforces for this backend, rb:93-95).
        """
        from ..sources.dat import DATReader
        key = _db_cache_key(path, "geoip")
        cached = _DB_CACHE.get(key)
        if cached is not None:
            return cached
        reader = DATReader.open(path)
        rows = [{"range_start": s, "range_end": e, **attrs}
                for s, e, attrs in reader.iter_ipv4_ranges()]
        db = cls.from_rows(rows, profile="geoip")
        _db_cache_put(key, db)
        return db

    def attr_type(self, attr_path: str) -> str:
        return attr_dtype(self.profile, attr_path, self.dtypes)

    def lookup_doc(self, ip: str):
        """Driver-side single-IP probe returning the full raw document
        (nested for geoip2_c, flat for the compat profiles) — the dump CLI's
        counterpart of the reference's utils/dump.rb:18-27. Handles both
        IPv4 and (when the DB carries a v6 table) IPv6 addresses; returns
        None on a miss."""
        import pandas as pd
        attrs, i = self.attrs, -1
        if ":" in ip and self.has_ipv6:
            idx, keys, v4map = self._parse_v6(pd.Series([ip]))
            if v4map:
                return self.lookup_doc(
                    ".".join(str(b) for b in v4map[0][1].to_bytes(4, "big")))
            if not idx:
                return None
            k = np.array(keys, dtype="S16")
            i = int(np.searchsorted(self.starts6, k[0], side="right")) - 1
            if i < 0 or self.ends6[i] < k[0]:
                return None
            attrs = self.attrs6
        else:
            values, valid = ipv4_to_uint32(pd.Series([ip]))
            if not valid[0] or len(self.starts) == 0:
                return None
            i = int(np.searchsorted(self.starts, values[0], side="right")) - 1
            if i < 0 or self.ends[i] < values[0]:
                return None
        flat = {}
        for k, arr in attrs.items():
            v = arr[i]
            if v is None or (isinstance(v, float) and np.isnan(v)):
                continue
            flat[k] = v.item() if isinstance(v, np.generic) else v
        if self.profile == "geoip2_c":
            from ..sources.mmdb import unflatten_doc
            return unflatten_doc(flat)
        return flat

    def lookup_batch(self, ips: pd.Series, attr_paths: list[str]) -> pd.DataFrame:
        """Probe a batch of address strings: ``__hit__`` + one column per
        attr. IPv4 goes through the vectorized uint32 path; when the
        database carries a v6 table, addresses containing ``:`` probe it
        (v4-mapped ``::ffff:a.b.c.d`` text maps onto the v4 space, matching
        libmaxminddb's behavior in the reference backend)."""
        values, valid = ipv4_to_uint32(ips)
        if not self.has_ipv6:
            return self.lookup_batch_ints(values, valid, attr_paths)
        idx6, keys6, v4map = self._parse_v6(ips)
        for i, u32 in v4map:  # v4-mapped text probes the v4 table
            values[i] = u32
            valid[i] = True
        out = self.lookup_batch_ints(values, valid, attr_paths)
        self._overlay_v6(out, idx6, keys6, attr_paths)
        return out

    def _parse_v6(self, ips: pd.Series):
        """Indices + packed 16-byte keys of parseable IPv6 strings; addresses
        living in the v4 subtree — v4-mapped ``::ffff:a.b.c.d`` AND
        IPv4-compatible ``::a.b.c.d`` (first 96 bits zero) — are returned
        separately as (positional index, uint32). libmaxminddb walks the
        tree, so both prefixes land on the IPv4 data; ``iter_ipv6_ranges``
        excludes ::/96 from the v6 table for the same reason.

        Scale note (round-4 VERDICT finding 3): a vectorized ``':'``
        pre-mask picks the candidate rows, so the per-row ``inet_pton``
        loop touches ONLY v6-shaped strings — on a v4-majority workload the
        Python loop is proportional to the v6 fraction, not the batch."""
        import socket
        idx, keys, v4map = [], [], []
        if len(ips) == 0:
            return idx, keys, v4map
        s = ips.reset_index(drop=True)
        cand = s.astype("string").str.contains(":", regex=False)
        for i in np.flatnonzero(cand.to_numpy(dtype="bool", na_value=False)):
            try:
                b = socket.inet_pton(socket.AF_INET6, s.iloc[int(i)])
            except (OSError, TypeError):
                continue
            if b[:10] == b"\x00" * 10 and b[10:12] in (b"\xff\xff", b"\x00\x00"):
                v4map.append((int(i), int.from_bytes(b[12:], "big")))
            else:
                idx.append(int(i))
                keys.append(b)
        return idx, keys, v4map

    def _overlay_v6(self, out: pd.DataFrame, idx: list[int],
                    keys: list[bytes], attr_paths: list[str]) -> None:
        """Overwrite rows whose address hits the native-IPv6 table."""
        if not idx:
            return
        k = np.array(keys, dtype="S16")
        pos = np.searchsorted(self.starts6, k, side="right") - 1
        posc = np.clip(pos, 0, len(self.starts6) - 1)
        hit = (pos >= 0) & (self.ends6[posc] >= k)
        rows = [r for r, h in zip(idx, hit) if h]
        if not rows:
            return
        hpos = posc[hit]
        out.loc[rows, "__hit__"] = True
        for p in attr_paths:
            arr = self.attrs6.get(p)
            name = sanitize_attr(p)
            if arr is None:
                continue  # stays null
            vals = arr[hpos]
            dt = self.attr_type(p)
            if dt == "double":
                vals = [None if (v is None or (isinstance(v, float) and np.isnan(v)))
                        else float(v) for v in vals]
            elif dt in ("int", "long"):
                vals = [None if v is None else int(v) for v in vals]
            out.loc[rows, name] = pd.Series(vals, index=rows, dtype=out[name].dtype)

    def lookup_batch_longs(self, ips: pd.Series, attr_paths: list[str]) -> pd.DataFrame:
        """Probe a batch of pre-parsed uint32-as-long IPs (null → miss)."""
        valid = ips.notna().to_numpy()
        values = ips.fillna(0).to_numpy(dtype=np.int64)
        return self.lookup_batch_ints(values, valid, attr_paths)

    def lookup_batch_dual(self, longs: pd.Series, strs: pd.Series,
                          attr_paths: list[str]) -> pd.DataFrame:
        """Dual-input probe for v6-capable databases (round-4 VERDICT
        finding 3): the v4 majority arrives pre-parsed as JVM longs (same
        fast path as a v4-only DB); only rows the JVM v4 parser rejected —
        i.e. possible v6 / v4-mapped text / garbage — are inspected as
        strings, behind the vectorized ``':'`` pre-mask of
        :meth:`_parse_v6`."""
        valid = longs.notna().to_numpy()
        values = longs.fillna(0).to_numpy(dtype=np.int64)
        strs = strs.reset_index(drop=True)
        cand = strs.where(pd.Series(~valid, index=strs.index), other=None)
        idx6, keys6, v4map = self._parse_v6(cand)
        for i, u32 in v4map:  # v4-mapped/compat text probes the v4 table
            values[i] = u32
            valid[i] = True
        out = self.lookup_batch_ints(values, valid, attr_paths)
        self._overlay_v6(out, idx6, keys6, attr_paths)
        return out

    def lookup_batch_ints(self, values: np.ndarray, valid: np.ndarray,
                          attr_paths: list[str]) -> pd.DataFrame:
        n = len(values)
        if len(self.starts) == 0:
            hit = np.zeros(n, dtype=bool)
            idx = np.zeros(n, dtype=np.int64)
        else:
            idx = np.searchsorted(self.starts, values, side="right") - 1
            idx_c = np.clip(idx, 0, len(self.starts) - 1)
            hit = valid & (idx >= 0) & (self.ends[idx_c] >= values)
            idx = idx_c
        out: dict[str, object] = {"__hit__": hit}
        for p in attr_paths:
            dt = self.attr_type(p)
            arr = self.attrs.get(p)
            name = sanitize_attr(p)
            if arr is None:
                if dt == "double":
                    out[name] = pd.array([None] * n, dtype="Float64")
                elif dt in ("int", "long"):
                    out[name] = pd.array([None] * n, dtype="Int64")
                else:
                    out[name] = pd.array([None] * n, dtype=object)
                continue
            g = arr[idx] if n else arr[:0]
            if dt == "double":
                vals = pd.array(g, dtype="Float64")
                vals[~hit | np.isnan(arr[idx] if n else np.zeros(0))] = None
                out[name] = vals
            elif dt in ("int", "long"):
                vals = pd.array(
                    [None if (not h or v is None) else int(v) for h, v in zip(hit, g)],
                    dtype="Int64")
                out[name] = vals
            else:
                vals = g.copy() if n else np.array([], dtype=object)
                vals[~hit] = None
                out[name] = pd.array(vals, dtype=object)
        return pd.DataFrame(out)


_PA_TYPES = {"string": "string", "double": "float64", "int": "int32",
             "long": "int64", "boolean": "bool"}


def _attr_pa_array(arr, dt: str, idx: np.ndarray):
    """Per-range attr array → expanded pyarrow array (NaN → null so the
    join output carries SQL nulls for missing doubles exactly like the
    Arrow lookup path — a NaN latitude would defeat the lat/lon
    0.0-coalesce default, F7)."""
    import pyarrow as pa
    pa_type = pa.type_for_alias(_PA_TYPES[dt])
    n_rows = len(idx)
    if arr is None:
        return pa.nulls(n_rows, type=pa_type)
    g = arr[idx] if n_rows else arr[:0]
    if dt == "double":
        return pa.array(g.astype(np.float64), type=pa_type, from_pandas=True)
    return pa.array(g.tolist(), type=pa_type)


def _expanded_df(spark, schema: T.StructType, idx: np.ndarray,
                 fixed: list, attr_specs: list):
    """Ship an expanded range table to Spark COLUMNAR (round 9, round-8
    VERDICT item 2): the old path zipped Python row tuples through
    ``createDataFrame``, which serializes driver-side one row at a time —
    nothing at the test fixtures' size, but ~minutes of one-time startup
    on a real GeoLite2-City (~3M v4 + ~1.5M v6 ranges). NumPy columns are
    wrapped as a ``pyarrow.Table`` (zero-copy for the numeric columns)
    and handed to Arrow-enabled ``createDataFrame``; the per-row tuple
    path remains only as a fallback for sessions that reject the Arrow
    form. ``fixed``: int64 arrays for the leading non-null long columns;
    ``attr_specs``: (per-range values array | None, dtype) per attr."""
    import pyarrow as pa
    arrays = [pa.array(np.asarray(a, dtype=np.int64), type=pa.int64())
              for a in fixed]
    arrays += [_attr_pa_array(arr, dt, idx) for arr, dt in attr_specs]
    tbl = pa.Table.from_arrays(arrays, names=[f.name for f in schema.fields])
    try:
        return spark.createDataFrame(tbl, schema=schema)
    except Exception:  # pragma: no cover - non-Arrow-capable session
        import logging
        logging.getLogger(__name__).warning(
            "expanded table: Arrow createDataFrame unavailable — falling "
            "back to row-at-a-time construction (slow for large DBs)")
        rows = list(zip(*[a.to_pylist() for a in arrays]))
        return spark.createDataFrame(rows, schema=schema)


# Most range pieces one bucket of an expanded table may hold: the
# jvm_join probe's join filter scans every piece of the probe's bucket,
# so this caps the probe cost (CAMEL Hash Table, EDBT 2026: probe cost is
# chain length × compare cost).
BUCKET_CAP = 32
# A dense bucket is split into 2^4 children per level; 16 children hold
# at most 15 more pieces than their parent (a piece gains one child per
# internal child boundary it covers, and disjoint pieces cover distinct
# boundaries), which is what bounds the table's growth.
_SPLIT_BITS = 4
# finest v6 level: a refined key carries its level in the top 4 bits of
# the long, which leaves room for a prefix of at most 60 bits
_V6_FINEST_BITS = 60


def _level_tag(level: int) -> int:
    """OR-mask (as a signed long) tagging a refined bucket key with its
    level: ``level / 4`` in the top 4 bits. Coarse keys are below 2^32
    and refined prefixes below 2^60, so keys of different levels never
    collide."""
    tag = (level // _SPLIT_BITS) << 60
    return tag - (1 << 64) if tag >= 1 << 63 else tag


def _spread(idx: np.ndarray, first: np.ndarray, counts: np.ndarray):
    """Emit element ``i`` ``counts[i]`` times, with consecutive prefixes
    from ``first[i]``."""
    offs = np.arange(int(counts.sum())) \
        - np.repeat(np.cumsum(counts) - counts, counts)
    return np.repeat(idx, counts), np.repeat(first, counts) + offs


@dataclass(frozen=True)
class BucketLayout:
    """An expanded range table in NumPy, before it ships to Spark: row
    ``r`` is a piece of range ``idx[r]`` under bucket key ``keys[r]``.

    Prefixes are taken from a ``width``-bit word of the address (32: the
    v4 address; 64: the high half of a v6 one). ``dense`` lists, per
    split level, the level's prefix length and the sorted raw prefixes
    split 4 bits deeper there; the probe key needs nothing else."""

    width: int
    coarse_bits: int
    dense: tuple[tuple[int, np.ndarray], ...]
    idx: np.ndarray
    keys: np.ndarray
    max_bucket_rows: int

    @property
    def rows(self) -> int:
        return len(self.idx)

    def stats(self) -> dict[str, int]:
        return {"rows": self.rows, "max_bucket_rows": self.max_bucket_rows}

    def probe_key(self, word: Column, word_sql: str) -> Column:
        """The probe side's bucket key for ``word`` (``word_sql``: the same
        value as SQL text): its coarse prefix, or, inside a split bucket,
        the tagged prefix of the level the table resolved it to. Nested
        ``CASE WHEN prefix IN (<dense set>)``, one codegen'd InSet per
        split level, evaluated only along the probe's own path; a layout
        with no dense bucket gets the plain coarse prefix."""
        shr, shr_sql = ((F.shiftrightunsigned, "shiftrightunsigned")
                        if self.width == 64 else (F.shiftright, "shiftright"))

        def key(bits: int) -> Column:
            raw = shr(word, self.width - bits)
            return raw if bits == self.coarse_bits \
                else raw.bitwiseOR(F.lit(_level_tag(bits)))

        out = key(self.dense[-1][0] + _SPLIT_BITS if self.dense
                  else self.coarse_bits)
        for bits, prefixes in reversed(self.dense):
            # SQL text: Column.isin makes one py4j call per value
            values = ",".join(f"{p}L" for p in prefixes.tolist())
            is_dense = F.expr(f"{shr_sql}({word_sql}, {self.width - bits}) "
                              f"IN ({values})")
            out = F.when(is_dense, out).otherwise(key(bits))
        return out


def _bucket_layout(lo: np.ndarray, hi: np.ndarray, width: int,
                   coarse_bits: int, finest_bits: int) -> BucketLayout:
    """Expand sorted, disjoint ranges (``lo``/``hi``: uint64 words of each
    range's first/last address) into ``coarse_bits``-prefix buckets, then
    split every bucket of more than ``BUCKET_CAP`` pieces ``_SPLIT_BITS``
    deeper until none is left or ``finest_bits`` is reached. O(pieces)
    NumPy per level: pieces stay sorted by prefix, so buckets are runs."""
    def prefix(words: np.ndarray, bits: int) -> np.ndarray:
        return (words >> np.uint64(width - bits)).astype(np.int64)

    b0 = prefix(lo, coarse_bits)
    idx, pre = _spread(np.arange(len(lo)), b0, prefix(hi, coarse_bits) - b0 + 1)
    bits, dense, out_idx, out_keys, peak = coarse_bits, [], [], [], 0
    while True:
        first = np.flatnonzero(np.r_[True, pre[1:] != pre[:-1]])
        run = np.diff(np.r_[first, len(pre)])
        split = (run > BUCKET_CAP) & (bits < finest_bits)
        keep = ~np.repeat(split, run)
        out_idx.append(idx[keep])
        out_keys.append(pre[keep] if bits == coarse_bits
                        else pre[keep] | np.int64(_level_tag(bits)))
        peak = max(peak, int(run[~split].max(initial=0)))
        if not split.any():
            break
        dense.append((bits, pre[first[split]]))
        parent, idx = pre[~keep] << _SPLIT_BITS, idx[~keep]
        bits += _SPLIT_BITS
        c0 = np.maximum(prefix(lo[idx], bits), parent)
        c1 = np.minimum(prefix(hi[idx], bits), parent | ((1 << _SPLIT_BITS) - 1))
        idx, pre = _spread(idx, c0, c1 - c0 + 1)
    return BucketLayout(width, coarse_bits, tuple(dense),
                        np.concatenate(out_idx), np.concatenate(out_keys), peak)


def _memo_layout(db: GeoDatabase, key: tuple, build) -> BucketLayout:
    # memoized on the (immutable, driver-cached) database: the table
    # builders and the enricher's probe key share one layout
    cache = db.__dict__.setdefault("_bucket_layouts", {})
    if key not in cache:
        cache[key] = build()
    return cache[key]


def v4_bucket_layout(db: GeoDatabase, shift: int = 16) -> BucketLayout:
    """Bucket layout of the v4 table: coarse ``/(32 − shift)`` buckets,
    dense ones split down to /32 at most."""
    return _memo_layout(db, ("v4", shift), lambda: _bucket_layout(
        db.starts.astype(np.uint64), db.ends.astype(np.uint64),
        32, 32 - shift, 32))


def _v6_words(db: GeoDatabase) -> tuple[np.ndarray, ...]:
    """(start hi, start lo, end hi, end lo) uint64 halves of the v6 bounds.

    'S16' tobytes() restores the NUL padding element access strips (see
    _u128_to_biased_pair); big-endian u64 views give the halves fully
    vectorized."""
    def halves(a: np.ndarray):
        raw = np.frombuffer(a.tobytes(), dtype=">u8").reshape(-1, 2) \
            if len(a) else np.zeros((0, 2), dtype=">u8")
        return raw[:, 0].astype(np.uint64), raw[:, 1].astype(np.uint64)
    return (*halves(db.starts6), *halves(db.ends6))


def v6_bucket_layout(db: GeoDatabase,
                     prefix_bits: int | None = None) -> BucketLayout:
    """Bucket layout of the v6 table over the high half of the address.

    ``prefix_bits`` (the coarse level) defaults adaptively: start at /32
    and coarsen by 4 bits while the expansion exceeds ``2·n + 65 536``
    rows, so very wide ranges degrade to fewer, larger buckets instead
    of an unbounded emit. Dense buckets are then split down to /60."""
    def build() -> BucketLayout:
        s_hi, _, e_hi, _ = _v6_words(db)
        bits = prefix_bits
        if bits is None:
            # floor at 4: a JVM shift count is taken mod 64, so bits=0
            # (shift 64) would make the probe's >>> a no-op and break
            # the bucket equi-key
            bits = 32
            while bits > 4:
                shift = np.uint64(64 - bits)
                total = int(((e_hi >> shift) - (s_hi >> shift) + 1).sum())
                if total <= 2 * len(s_hi) + 65536:
                    break
                bits -= 4
        return _bucket_layout(s_hi, e_hi, 64, bits, _V6_FINEST_BITS)
    return _memo_layout(db, ("v6", prefix_bits), build)


def expanded_bucket_table(spark, db: GeoDatabase, attr_paths: list[str],
                          shift: int = 16):
    """The range table expanded into IP-prefix buckets for the all-JVM
    enrich path (``GeoipEnricher(strategy="jvm_join")``).

    A plain range join (``ip BETWEEN start AND end``) has no equi key, so
    Spark would plan BroadcastNestedLoopJoin — O(rows × ranges). Bucketing
    by address prefix manufactures one: every range is emitted once per
    bucket it intersects, and the probe joins on the bucket key
    (BroadcastHashJoin) with the BETWEEN as a join filter. Within one
    bucket the pieces inherit the table's non-overlap, so at most one
    range matches and a left join preserves row count.

    Buckets are cut to fit the key distribution rather than at one fixed
    bit position: coarse ``/(32 − shift)`` buckets (/16 by default), and
    every bucket holding more than ``BUCKET_CAP`` pieces split 4 bits
    deeper, repeatedly, down to /32 (:func:`v4_bucket_layout`). Refined
    keys carry a level tag; coarse keys are the plain prefix, so a table
    with no dense bucket is exactly the fixed-/16 table. The probe key is
    :meth:`BucketLayout.probe_key`.

    Both bounds hold on every layout of disjoint ranges, n of them:

    - rows ≤ n + 2^(32−shift) + 15·levels·n/C, with C = ``BUCKET_CAP``
      and levels the number of split levels (≤ 4): the coarse expansion
      adds Σ(k_i − 1) ≤ 2^(32−shift) rows; a split adds at most 15 rows;
      and one level has at most n/C split buckets. (A range has pieces
      in at most two buckets it does not cover whole, those holding its
      first and last address, and in two split ones only if it sticks
      out of the first one's right edge, which one range per bucket can
      do; D split buckets of ≥ C + 1 pieces each give (C + 1)·D ≤ n + D.)
    - every bucket holds at most C pieces. (The one exception of the
      general construction, more than C ranges sharing one finest
      prefix, cannot occur at /32: one address is one range.)

    Returns a DataFrame with ``__gb`` (bucket key), ``__gs``/``__ge``
    (range bounds) and one correctly-typed column per sanitized attr
    path (null column for paths the DB lacks). One-time driver cost is
    O(expanded rows) — the same class as parsing the database file.
    """
    lay = v4_bucket_layout(db, shift)
    idx = lay.idx
    schema = T.StructType(
        [T.StructField("__gb", T.LongType(), False),
         T.StructField("__gs", T.LongType(), False),
         T.StructField("__ge", T.LongType(), False)]
        + [T.StructField(sanitize_attr(p), _SPARK_TYPES[db.attr_type(p)], True)
           for p in attr_paths])
    fixed = [lay.keys, db.starts[idx], db.ends[idx]]
    attr_specs = [(db.attrs.get(p), db.attr_type(p)) for p in attr_paths]
    return _expanded_df(spark, schema, idx, fixed, attr_specs)


_BIAS = 1 << 63


def _u128_to_biased_pair(b: bytes) -> tuple[int, int]:
    """16-byte big-endian address → (hi, lo) as BIAS-FLIPPED signed longs:
    unsigned u ↦ u − 2^63, a monotone map, so SIGNED (hi, lo) tuple order
    equals unsigned 128-bit order. The probe side applies the same flip
    via XOR with min-long (flips bit 63 — identical map).

    Right-pads to 16 bytes first: numpy 'S16' element access STRIPS
    trailing NUL bytes (an address like 2001:db8:: comes back 4 bytes
    long), which int.from_bytes would misread by a factor of 2^96."""
    v = int.from_bytes(b.ljust(16, b"\x00"), "big")
    hi, lo = v >> 64, v & ((1 << 64) - 1)
    return hi - _BIAS, lo - _BIAS


def expanded_bucket_table_v6(spark, db: GeoDatabase, attr_paths: list[str],
                             prefix_bits: int | None = None):
    """The native-IPv6 range table expanded into address-prefix buckets —
    the v6 leg of the all-JVM enrich path (round-7 VERDICT item 2).

    Same construction as :func:`expanded_bucket_table`, lifted to 128
    bits carried as two longs: buckets are prefixes of the high half
    (:func:`v6_bucket_layout`: adaptive coarse level, dense buckets split
    down to /60), and the 128-bit BETWEEN rides as a join filter over
    bias-flipped (hi, lo) tuple comparisons (signed order == unsigned
    order after the flip; see :func:`_u128_to_biased_pair`). Ranges are
    disjoint, so at most one piece matches and a left join preserves
    row count.

    Bounds, for n ranges and C = ``BUCKET_CAP``: rows ≤ R + 15·levels·
    n/C, where R ≤ 2·n + 65 536 is the coarse expansion the
    adaptive level admits (R ≤ n + 2^prefix_bits for an explicit level)
    and levels ≤ (60 − prefix_bits)/4; every bucket holds at most C
    pieces, except where more than C ranges share one /60. Returns
    ``__g6b`` (bucket key), ``__g6sh/__g6sl/__g6eh/__g6el`` (bias-flipped
    bounds) + one typed column per sanitized attr path, and the chosen
    coarse ``prefix_bits``."""
    lay = v6_bucket_layout(db, prefix_bits)
    idx = lay.idx
    # bias flip (unsigned u ↦ u − 2^63): XOR of bit 63 reinterpreted
    # signed — identical map to _u128_to_biased_pair
    top = np.uint64(1 << 63)
    s_hi_b, s_lo_b, e_hi_b, e_lo_b = (
        (w ^ top).view(np.int64) for w in _v6_words(db))

    schema = T.StructType(
        [T.StructField("__g6b", T.LongType(), False),
         T.StructField("__g6sh", T.LongType(), False),
         T.StructField("__g6sl", T.LongType(), False),
         T.StructField("__g6eh", T.LongType(), False),
         T.StructField("__g6el", T.LongType(), False)]
        + [T.StructField(sanitize_attr(p), _SPARK_TYPES[db.attr_type(p)],
                         True) for p in attr_paths])
    fixed = [lay.keys, s_hi_b[idx], s_lo_b[idx], e_hi_b[idx], e_lo_b[idx]]
    attr_specs = [(db.attrs6.get(p), db.attr_type(p)) for p in attr_paths]
    return _expanded_df(spark, schema, idx, fixed, attr_specs), lay.coarse_bits


def lookup_struct_type(db: GeoDatabase, attr_paths: list[str]) -> T.StructType:
    fields = [T.StructField("__hit__", T.BooleanType(), False)]
    for p in attr_paths:
        fields.append(T.StructField(sanitize_attr(p), _SPARK_TYPES[db.attr_type(p)], True))
    return T.StructType(fields)


def make_lookup_udf(spark, db: GeoDatabase, attr_paths: list[str],
                    input_type: str = "string"):
    """Create the broadcast-searchsorted pandas UDF for a set of attr paths.

    One UDF instance is shared across all lookup columns needing the same
    attrs (common-subexpression reuse of the reference's ``uniq`` placeholder
    dedup, filter_geoip.rb:86). The database rides a Spark broadcast variable
    — deserialized once per executor, shared by its Arrow workers.

    ``input_type='long'`` expects IPs pre-parsed JVM-side by
    ``functions.ipv4.ipv4_str_to_long`` (the fast path: 8 bytes/row across
    Arrow and zero pandas string work inside the UDF).

    ``input_type='dual'`` (v6-capable DBs) takes TWO columns — the JVM-parsed
    long and the raw string — so the v4 majority still rides the long fast
    path and only JVM-parse failures are inspected as strings.
    """
    attr_paths = list(attr_paths)
    bc = spark.sparkContext.broadcast(db)
    schema = lookup_struct_type(db, attr_paths)

    if input_type == "long":
        @F.pandas_udf(schema)
        def geo_lookup(ips: pd.Series) -> pd.DataFrame:
            return bc.value.lookup_batch_longs(ips, attr_paths)
    elif input_type == "dual":
        @F.pandas_udf(schema)
        def geo_lookup(longs: pd.Series, strs: pd.Series) -> pd.DataFrame:
            return bc.value.lookup_batch_dual(longs, strs, attr_paths)
    else:
        @F.pandas_udf(schema)
        def geo_lookup(ips: pd.Series) -> pd.DataFrame:
            return bc.value.lookup_batch(ips, attr_paths)

    return geo_lookup
