"""Broadcast interval-lookup kernel — the Spark-native form of the reference's
MaxMind DB probe (J1 in SURVEY.md §2.3).

The reference (/root/reference/lib/fluent/plugin/filter_geoip.rb:167-185,
204-217) loads an IP-range→attributes interval map fully into worker memory
(``:memory`` flag, filter_geoip.rb:207) and probes it per record. The Spark
restatement: the range table is sorted once on the driver into plain NumPy
arrays (:class:`GeoDatabase`), expanded into IP-prefix buckets
(:func:`expanded_bucket_table`, :func:`expanded_bucket_table_v6`), the
two address families assembled into one table per database
(:func:`range_table`) and broadcast, and each address probes its bucket
with a broadcast hash join whose range check rides as a join filter —
inside the JVM, zero Python.

Why buckets: an interval probe is a non-equi join; Spark would plan it as
BroadcastNestedLoopJoin, O(rows × ranges). The bucket key manufactures an
equi key, and splitting dense buckets (:class:`BucketLayout`) bounds the
pieces one probe scans. The enrich stage stays a narrow map, which is what
lets the pipeline scale linearly with executors (the reference's
``multi_workers_ready? → true`` contract, filter_geoip.rb:115-117).
``GeoDatabase.lookup_batch`` is the driver-side NumPy ``searchsorted``
probe of the same table: the dump CLI's lookup and the tests' reference.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

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
    """A database's sorted, non-overlapping IPv4 and IPv6 range tables with
    per-range attributes.

    ``starts``/``ends`` are the int64 IPv4 bounds; ``starts6``/``ends6``
    the IPv6 ones, 16-byte big-endian ('S16' NumPy arrays: lexicographic
    order is numeric order), empty for a v4-only database. ``attrs`` and
    ``attrs6`` map canonical attr dot-paths (e.g. ``city.names.en``,
    ``location.latitude`` for the geoip2_c profile; flat keys like
    ``city`` for geoip/geoip2_compat) to each family's per-range value
    arrays, under one ``dtypes`` map. A path absent from ``attrs``
    resolves to null for every range — mirroring geoip2_c's "any field may
    be dug, missing digs return nil" semantics (filter_geoip.rb:96-99,
    187-202).

    Every loader goes through one builder, :meth:`_build`, and both
    driver-side lookups through one locate step, :meth:`_locate`.
    """

    profile: str
    starts: np.ndarray
    ends: np.ndarray
    attrs: dict[str, np.ndarray]
    dtypes: dict[str, str] = field(default_factory=dict)
    starts6: np.ndarray = field(
        default_factory=lambda: np.array([], dtype="S16"))
    ends6: np.ndarray = field(
        default_factory=lambda: np.array([], dtype="S16"))
    attrs6: dict[str, np.ndarray] = field(default_factory=dict)

    @property
    def has_ipv6(self) -> bool:
        return len(self.starts6) > 0

    @classmethod
    def _build(cls, profile: str, docs: list[dict], dtypes: dict[str, str],
               v4: tuple, v6: tuple | None = None) -> "GeoDatabase":
        """The one builder. ``docs`` holds one flat attr dict per record;
        ``v4`` / ``v6`` are a family's (starts, ends, record row) arrays,
        in any order. ``dtypes`` names known attr dtypes; the others come
        from :func:`attr_dtype`.

        Each attr column is built once per record, and every per-range
        array is that column indexed by the family's record rows. Both
        families are sorted and checked (no range ending before it
        starts, no overlap) by the same code. Each family carries every
        attr key of ``docs``, all-null where its own records lack it; a
        family with no ranges carries none."""
        if profile not in BACKEND_LIBRARIES:
            raise ValueError(f"unknown backend profile: {profile}")
        cols: dict[str, np.ndarray] = {}
        for k in sorted({k for d in docs for k in d}):
            dt = dtypes[k] = dtypes.get(k) or attr_dtype(profile, k)
            vals = [d.get(k) for d in docs]
            cols[k] = (np.array([np.nan if v is None else float(v) for v in vals],
                                dtype=np.float64)
                       if dt == "double" else np.array(vals, dtype=object))

        def family(starts, ends, rows):
            order = np.argsort(starts, kind="stable")
            starts, ends, rows = starts[order], ends[order], rows[order]
            if np.any(ends < starts):
                raise ValueError("range_end < range_start")
            if np.any(starts[1:] <= ends[:-1]):
                raise ValueError("overlapping IP ranges")
            return starts, ends, (
                {k: c[rows] for k, c in cols.items()} if len(rows) else {})

        starts, ends, attrs = family(*v4)
        db = cls(profile=profile, starts=starts, ends=ends, attrs=attrs,
                 dtypes=dtypes)
        if v6 is not None:
            db.starts6, db.ends6, db.attrs6 = family(*v6)
        return db

    @classmethod
    def from_rows(cls, rows: list[dict], profile: str = "geoip2_c",
                  dtypes: dict[str, str] | None = None) -> "GeoDatabase":
        """Build from dicts with ``range_start``/``range_end`` + attr values,
        one record per row."""
        docs = [{k: v for k, v in r.items() if k not in ("range_start", "range_end")}
                for r in rows]
        v4 = (np.array([r["range_start"] for r in rows], dtype=np.int64),
              np.array([r["range_end"] for r in rows], dtype=np.int64),
              np.arange(len(docs)))
        return cls._build(profile, docs, dict(dtypes or {}), v4)

    @classmethod
    def from_mmdb(cls, path: str, profile: str = "geoip2_c") -> "GeoDatabase":
        """Load a real MaxMind database file (the reference's primary config
        surface: ``geoip2_database``, filter_geoip.rb:41-43, 204-217).

        The .mmdb tree is walked once on the driver (``sources.mmdb``, a
        from-scratch reader of the public spec), the IPv4 subtree and the
        native-IPv6 networks each into one range family. Each distinct
        data record, whichever family meets it first, is decoded and
        flattened once, to the dot-path attrs the placeholder DSL digs;
        ``profile='geoip2_compat'`` then applies the compat gem's flat-key
        mapping. Dtypes follow the values: a key holding both ints and
        floats is double, one holding any other mix is string. The legacy
        ``geoip`` backend reads GeoCityLite .dat, a different format — use
        ``from_dat``.
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

        def decode(rec: int) -> dict:
            flat = flatten_doc(reader.record_data(rec))
            if profile == "geoip2_compat":
                flat = {k: flat.get(p) for k, p in COMPAT_FROM_NESTED.items()
                        if flat.get(p) is not None}
            return flat

        seen: dict = {}
        v4 = _record_ranges(reader._ipv4_records(), seen, decode, np.int64)
        v6 = _record_ranges(reader._ipv6_records(), seen, decode, "S16")
        docs = [doc for _, doc in seen.values()]
        dtypes: dict[str, str] = {}
        for doc in docs:
            for k, v in doc.items():
                if isinstance(v, bool):
                    dt = "boolean"
                elif isinstance(v, float):
                    dt = "double"
                elif isinstance(v, int):
                    dt = "long"
                else:
                    dt = "string"
                if dtypes.setdefault(k, dt) != dt:
                    # mixed int/float across records → double; else stringify
                    dtypes[k] = ("double" if {dtypes[k], dt} == {"long", "double"}
                                 else "string")
        # the builder makes every double a float; stringify the rest here
        docs = [{k: str(v) if dtypes[k] == "string" and v is not None
                 and not isinstance(v, str) else v for k, v in doc.items()}
                for doc in docs]
        db = cls._build(profile, docs, dtypes, v4, v6)
        _db_cache_put(key, db)
        return db

    @classmethod
    def from_dat(cls, path: str) -> "GeoDatabase":
        """Load a legacy GeoCityLite ``.dat`` file — the reference's DEFAULT
        backend config surface (``geoip_database`` + ``backend_library
        geoip``, filter_geoip.rb:37, 204-206).

        The binary tree is walked once on the driver into the sorted range
        arrays (``sources.dat``, a from-scratch reader of the public legacy
        format), each distinct record decoded once; attrs are the flat
        legacy keys with the C library's single-precision coordinates (the
        reference's 37.4192008972168 golden, test_filter_geoip.rb:1024-1027).
        Always profile ``geoip`` (the whitelist the reference enforces for
        this backend, rb:93-95).
        """
        from ..sources.dat import DATReader
        key = _db_cache_key(path, "geoip")
        cached = _DB_CACHE.get(key)
        if cached is not None:
            return cached
        reader = DATReader.open(path)
        seen: dict = {}
        v4 = _record_ranges(reader._records(), seen, reader.record_attrs,
                            np.int64)
        db = cls._build("geoip", [doc for _, doc in seen.values()], {}, v4)
        _db_cache_put(key, db)
        return db

    def attr_type(self, attr_path: str) -> str:
        return attr_dtype(self.profile, attr_path, self.dtypes)

    def _locate(self, ips: pd.Series) -> tuple[np.ndarray, ...]:
        """The one address → range step of the driver-side lookups:
        ``(hit4, hit6, pos)``, whether each address hits the v4 or the v6
        table and the position of its range there.

        v4 text probes the v4 table. When the database has a v6 table, v6
        text probes it, except addresses in the v4 subtree — v4-mapped
        ``::ffff:a.b.c.d`` and IPv4-compatible ``::a.b.c.d`` (first 96 bits
        zero) — which probe the v4 table: libmaxminddb walks the tree, so
        both prefixes land on the IPv4 data, and ``iter_ipv6_ranges``
        leaves ::/96 out of the v6 table for the same reason.

        Scale note (round-4 VERDICT finding 3): a vectorized ``':'``
        pre-mask picks the candidate rows, so the per-row ``inet_pton``
        loop touches ONLY v6-shaped strings — on a v4-majority workload the
        Python loop is proportional to the v6 fraction, not the batch."""
        import socket
        values, valid = ipv4_to_uint32(ips)
        keys6 = np.zeros(len(values), dtype="S16")
        valid6 = np.zeros(len(values), dtype=bool)
        if self.has_ipv6 and len(values):
            s = ips.reset_index(drop=True)
            cand = s.astype("string").str.contains(":", regex=False)
            for i in np.flatnonzero(cand.to_numpy(dtype="bool", na_value=False)):
                try:
                    b = socket.inet_pton(socket.AF_INET6, s.iloc[int(i)])
                except (OSError, TypeError):
                    continue
                if b[:10] == bytes(10) and b[10:12] in (b"\xff\xff", b"\x00\x00"):
                    values[i], valid[i] = int.from_bytes(b[12:], "big"), True
                else:
                    keys6[i], valid6[i] = b, True
        hit4, pos4 = _probe(self.starts, self.ends, values, valid)
        hit6, pos6 = _probe(self.starts6, self.ends6, keys6, valid6)
        return hit4, hit6, np.where(hit6, pos6, pos4)

    def lookup_doc(self, ip: str):
        """Driver-side single-IP probe returning the full raw document
        (nested for geoip2_c, flat for the compat profiles) — the dump CLI's
        counterpart of the reference's utils/dump.rb:18-27. Routes the
        address as :meth:`_locate` does; returns None on a miss."""
        hit4, hit6, pos = self._locate(pd.Series([ip]))
        if not (hit4[0] or hit6[0]):
            return None
        flat = {}
        for k, arr in (self.attrs6 if hit6[0] else self.attrs).items():
            v = arr[pos[0]]
            if v is None or (isinstance(v, float) and np.isnan(v)):
                continue
            flat[k] = v.item() if isinstance(v, np.generic) else v
        if self.profile == "geoip2_c":
            from ..sources.mmdb import unflatten_doc
            return unflatten_doc(flat)
        return flat

    def lookup_batch(self, ips: pd.Series, attr_paths: list[str]) -> pd.DataFrame:
        """Probe a batch of address strings: ``__hit__`` + one column per
        attr (Float64 for doubles, Int64 for ints and longs, object
        otherwise; null on a miss). Addresses route as :meth:`_locate`
        does; a v4-mapped ``::ffff:a.b.c.d`` maps onto the v4 space,
        matching libmaxminddb's behavior in the reference backend."""
        hit4, hit6, pos = self._locate(ips)
        out: dict[str, object] = {"__hit__": hit4 | hit6}
        for p in attr_paths:
            dt = self.attr_type(p)
            vals = (np.full(len(pos), np.nan) if dt == "double"
                    else np.full(len(pos), None, dtype=object))
            for hit, attrs in ((hit4, self.attrs), (hit6, self.attrs6)):
                if p in attrs:
                    vals[hit] = attrs[p][pos[hit]]
            if dt == "double":
                col = pd.array(vals, dtype="Float64")  # NaN → null
            elif dt in ("int", "long"):
                col = pd.array([None if v is None else int(v) for v in vals],
                               dtype="Int64")
            else:
                col = pd.array(vals, dtype=object)
            out[sanitize_attr(p)] = col
        return pd.DataFrame(out)


def _record_ranges(walk, seen: dict, decode, dtype) -> tuple[np.ndarray, ...]:
    """(starts, ends, record rows) arrays of one family's ``(start, end,
    record)`` walk, for :meth:`GeoDatabase._build`. ``seen`` maps each
    walk record met so far, in either family, to its (row, decoded doc):
    a record is decoded once, when first met. Keyed on the walk's record
    value, not on a doc's ``id()``, which a freed doc hands on."""
    ranges = []
    for start, end, rec in walk:
        if rec not in seen:
            seen[rec] = (len(seen), decode(rec))
        ranges.append((start, end, seen[rec][0]))
    starts, ends, rows = zip(*ranges) if ranges else ((), (), ())
    return (np.array(starts, dtype=dtype), np.array(ends, dtype=dtype),
            np.array(rows, dtype=np.int64))


def _probe(starts: np.ndarray, ends: np.ndarray, keys: np.ndarray,
           valid: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(hit, position) of the range holding each key in one sorted,
    disjoint family: one ``searchsorted``."""
    if len(starts) == 0:
        return np.zeros(len(keys), dtype=bool), np.zeros(len(keys), dtype=np.int64)
    pos = np.searchsorted(starts, keys, side="right") - 1
    return valid & (pos >= 0) & (ends[pos] >= keys), pos


_PA_TYPES = {"string": "string", "double": "float64", "int": "int32",
             "long": "int64", "boolean": "bool"}


def _attr_pa_array(arr, dt: str, idx: np.ndarray):
    """Per-range attr array → expanded pyarrow array (NaN → null so the
    join output carries SQL nulls for missing doubles, as
    ``GeoDatabase.lookup_batch`` does — a NaN latitude would defeat the
    lat/lon 0.0-coalesce default, F7)."""
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
    """Ship an expanded range table to Spark COLUMNAR: NumPy columns are
    wrapped as a ``pyarrow.Table`` (zero-copy for the numeric columns) and
    handed to ``createDataFrame``, which makes it a local relation whether
    or not ``spark.sql.execution.arrow.pyspark.enabled`` is set. (Python
    row tuples would serialize driver-side one row at a time: minutes of
    one-time startup on a real GeoLite2-City, ~3M v4 + ~1.5M v6 ranges.)
    ``fixed``: int64 arrays for the leading non-null long columns;
    ``attr_specs``: (per-range values array | None, dtype) per attr."""
    import pyarrow as pa
    arrays = [pa.array(np.asarray(a, dtype=np.int64), type=pa.int64())
              for a in fixed]
    arrays += [_attr_pa_array(arr, dt, idx) for arr, dt in attr_specs]
    tbl = pa.Table.from_arrays(arrays, names=[f.name for f in schema.fields])
    return spark.createDataFrame(tbl, schema=schema)


# Most range pieces one bucket of an expanded table may hold: the
# enrich probe's join filter scans every piece of the probe's bucket,
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

    def stats(self) -> dict:
        return {"rows": self.rows, "max_bucket_rows": self.max_bucket_rows,
                "coarse_bits": self.coarse_bits,
                "split_levels": [bits for bits, _ in self.dense]}

    def probe_key(self, word_sql: str) -> Column:
        """The probe side's bucket key for the word ``word_sql`` (SQL
        text): its coarse prefix, or, inside a split bucket, the tagged
        prefix of the level the table resolved it to.

        A layout with no dense bucket gets the plain coarse shift. Otherwise
        the word is bound once, as :func:`..functions.binding.let_` does,
        and one nested ``CASE WHEN prefix IN (<dense set>)`` per split level
        runs in the lambda, evaluated only along the probe's own path. The
        lambda is interpreted (CodegenFallback), so no generated method
        grows with split depth (HotSpot compiles no method over 8,000
        bytes); Spark also keeps an operator that holds it out of
        whole-stage codegen, so the enrich plan projects such a key below
        its joins. The key is one SQL text, so one py4j call:
        ``Column.isin`` makes one per value."""
        shr = "shiftrightunsigned" if self.width == 64 else "shiftright"
        if not self.dense:
            return F.expr(f"{shr}({word_sql}, {self.width - self.coarse_bits})")

        def key(bits: int) -> str:
            raw = f"{shr}(w, {self.width - bits})"
            return raw if bits == self.coarse_bits \
                else f"({raw} | {_level_tag(bits)}L)"

        out = key(self.dense[-1][0] + _SPLIT_BITS)
        for bits, prefixes in reversed(self.dense):
            values = ",".join(f"{p}L" for p in prefixes.tolist())
            out = (f"CASE WHEN {shr}(w, {self.width - bits}) IN ({values}) "
                   f"THEN {out} ELSE {key(bits)} END")
        return F.expr(f"element_at(transform(array({word_sql}), w -> {out}), 1)")


def _bucket_layout(lo: np.ndarray, hi: np.ndarray, width: int,
                   finest_bits: int) -> BucketLayout:
    """Expand sorted, disjoint ranges (``lo``/``hi``: uint64 words of each
    range's first/last address, n of them) into coarse prefix buckets,
    then split every bucket of more than C = ``BUCKET_CAP`` pieces
    ``_SPLIT_BITS`` deeper until none is left or ``finest_bits`` is
    reached. O(pieces) NumPy per level: buckets are runs of sorted pieces.

    The coarse level, one rule for both families: start at /32; while the
    coarse expansion Σ((hi ≫ s) − (lo ≫ s) + 1) exceeds 2n rows, coarsen
    by 4 bits, but from /16 on only to a level with no bucket over C
    pieces, and never past /4 (a JVM shift count is taken mod 64, so /0
    would break the bucket equi-key). So:

    - rows ≤ max(2n, n + 2^16) + 15·levels·n/C: the rule stops above /16
      only at ≤ 2n coarse rows, and at /b ≤ /16 disjoint ranges add
      Σ(k_i − 1) < 2^b; a split adds ≤ 15 rows and one level has ≤ n/C
      split buckets (a range has pieces in at most two buckets it does
      not cover whole, and in two split ones only if it sticks out of the
      first one's right edge, which one range per bucket can do; D split
      buckets of ≥ C + 1 pieces give (C + 1)·D ≤ n + D);
    - every split level is /16 or finer: levels ≤ (finest_bits − 16)/4;
    - every bucket holds ≤ C pieces, except where more than C ranges
      share one finest prefix (impossible at v4's /32)."""
    def prefix(words: np.ndarray, bits: int) -> np.ndarray:
        return (words >> np.uint64(width - bits)).astype(np.int64)

    def expand(bits: int) -> tuple[np.ndarray, np.ndarray]:
        b0 = prefix(lo, bits)
        return _spread(np.arange(len(lo)), b0, prefix(hi, bits) - b0 + 1)

    coarse = 32
    while coarse > 4 and int(
            (prefix(hi, coarse) - prefix(lo, coarse) + 1).sum()) > 2 * len(lo):
        if coarse <= 16 and np.bincount(
                expand(coarse - _SPLIT_BITS)[1]).max() > BUCKET_CAP:
            break
        coarse -= _SPLIT_BITS
    idx, pre = expand(coarse)
    bits, dense, out_idx, out_keys, peak = coarse, [], [], [], 0
    while True:
        first = np.flatnonzero(np.r_[True, pre[1:] != pre[:-1]])
        run = np.diff(np.r_[first, len(pre)])
        split = (run > BUCKET_CAP) & (bits < finest_bits)
        keep = ~np.repeat(split, run)
        out_idx.append(idx[keep])
        out_keys.append(pre[keep] if bits == coarse
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
    return BucketLayout(width, coarse, tuple(dense),
                        np.concatenate(out_idx), np.concatenate(out_keys), peak)


def memo_on_db(db: GeoDatabase, key: tuple, build):
    """``build()``, memoized on the (immutable) database under ``key``.

    Databases are driver-cached per file (``_DB_CACHE``), but enrichers
    are rebuilt per query invocation: keying the deterministic bucket
    layouts and range tables on the db rather than the enricher reuses
    their one-time construction across invocations, and the table
    builders and the enricher's probe key share one layout. Keys of
    DataFrames carry the session too, so a new SparkSession (tests) never
    sees another session's DataFrames. This caches layouts and logical
    LOCAL RELATIONS (the range tables), never a query result — every
    probe still computes from its inputs."""
    cache = db.__dict__.setdefault("_memo", {})
    if key not in cache:
        cache[key] = build()
    return cache[key]


def v4_bucket_layout(db: GeoDatabase) -> BucketLayout:
    """Bucket layout of the v4 table (:func:`_bucket_layout`'s rule): the
    coarse level the ranges choose, /32 down to /4, dense buckets split
    down to /32; rows ≤ max(2n, n + 2^16) + 15·levels·n/C, levels ≤ 4."""
    return memo_on_db(db, ("v4",), lambda: _bucket_layout(
        db.starts.astype(np.uint64), db.ends.astype(np.uint64), 32, 32))


def _halves(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(hi, lo) uint64 halves of 'S16' v6 addresses.

    numpy 'S16' element access strips trailing NUL bytes (2001:db8::
    comes back 4 bytes long, which a bytewise int read would misread by a
    factor of 2^96); ``tobytes()`` keeps the full 16-byte right padding,
    and big-endian u64 views give the halves fully vectorized."""
    raw = np.frombuffer(a.tobytes(), dtype=">u8").reshape(-1, 2) \
        if len(a) else np.zeros((0, 2), dtype=">u8")
    return raw[:, 0].astype(np.uint64), raw[:, 1].astype(np.uint64)


def _v6_words(db: GeoDatabase) -> tuple[np.ndarray, ...]:
    """(start hi, start lo, end hi, end lo) uint64 halves of the v6 bounds."""
    return (*_halves(db.starts6), *_halves(db.ends6))


_TOP = np.uint64((1 << 64) - 1)


def _edges(bounds: list[tuple[np.ndarray, ...]]) -> tuple[np.ndarray, ...]:
    """The pieces between consecutive range edges of several families of
    sorted, disjoint ranges, each given as (start hi, start lo, end hi,
    end lo) uint64 words. An edge is a range's start or the address after
    its end (the last address of the space opens nothing); a piece runs
    from one edge to the address before the next, the last one to the top
    of the space. Returns the pieces' (start hi, start lo, end hi, end
    lo), covered or not: at most 2·Σn of them."""
    one = np.uint64(1)
    hi, lo = [np.zeros(0, np.uint64)], [np.zeros(0, np.uint64)]
    for s_hi, s_lo, e_hi, e_lo in bounds:
        after_lo = e_lo + one
        after_hi = e_hi + (after_lo == 0)
        opens = (e_hi != _TOP) | (e_lo != _TOP)
        hi += [s_hi, after_hi[opens]]
        lo += [s_lo, after_lo[opens]]
    hi, lo = np.concatenate(hi), np.concatenate(lo)
    order = np.lexsort((lo, hi))
    hi, lo = hi[order], lo[order]
    first = np.ones(len(hi), bool)
    first[1:] = (hi[1:] != hi[:-1]) | (lo[1:] != lo[:-1])
    hi, lo = hi[first], lo[first]
    end_hi, end_lo = np.full(len(hi), _TOP), np.full(len(lo), _TOP)
    end_hi[:-1] = hi[1:] - (lo[1:] == 0)
    end_lo[:-1] = lo[1:] - one
    return hi, lo, end_hi, end_lo


def _s16(hi: np.ndarray, lo: np.ndarray) -> np.ndarray:
    """'S16' v6 addresses of (hi, lo) uint64 halves (:func:`_halves`'
    inverse)."""
    return np.frombuffer(np.stack([hi, lo], axis=1).astype(">u8").tobytes(),
                         dtype="S16")


def _take(values: np.ndarray | None, dt: str, hit: np.ndarray,
          pos: np.ndarray) -> np.ndarray:
    """``values[pos]`` where ``hit``, null elsewhere (NaN for a double)."""
    out = (np.full(len(pos), np.nan) if dt == "double"
           else np.full(len(pos), None, dtype=object))
    if values is not None:
        out[hit] = values[pos[hit]]
    return out


def overlay_attr(i: int, path: str | None = None) -> str:
    """The :func:`overlay`'s attr holding attr ``path`` of its i-th
    database, or, with no ``path``, that database's hit flag."""
    return f"d{i}" if path is None else f"d{i}.{path}"


def overlay(parts: list[tuple[GeoDatabase, list[str]]]) -> GeoDatabase:
    """One database standing for several probed with the same address:
    ``parts`` pairs each database with the attr paths read from it.

    In each family its ranges are the common refinement of theirs — the
    pieces between consecutive edges of all their ranges that at least
    one of them covers, at most 2·Σn pieces for n ranges each — and
    every piece lies inside one range or none of each database. Database
    i's attr ``p`` is the overlay's attr ``overlay_attr(i, p)``, and its
    boolean attr ``overlay_attr(i)`` is true on the pieces database i
    covers and null elsewhere, so one probe of the overlay answers every
    database: the bucket
    layouts, expanded tables and range table take it like any other
    database. Nothing depends on which databases are the same object."""
    dtypes: dict[str, str] = {}
    for i, (db, paths) in enumerate(parts):
        dtypes[overlay_attr(i)] = "boolean"
        dtypes.update({overlay_attr(i, p): db.attr_type(p) for p in paths})

    def family(v6: bool):
        edges = _edges([
            _v6_words(db) if v6 else
            (np.zeros(len(db.starts), np.uint64), db.starts.astype(np.uint64),
             np.zeros(len(db.ends), np.uint64), db.ends.astype(np.uint64))
            for db, _ in parts])
        starts, ends = ((_s16(*edges[:2]), _s16(*edges[2:])) if v6 else
                        (edges[1].astype(np.int64), edges[3].astype(np.int64)))
        probes = [_probe(*((db.starts6, db.ends6) if v6
                           else (db.starts, db.ends)),
                         starts, np.ones(len(starts), bool))
                  for db, _ in parts]
        keep = np.zeros(len(starts), bool)
        for hit, _ in probes:
            keep |= hit
        attrs = {}
        for i, ((db, paths), (hit, pos)) in enumerate(zip(parts, probes)):
            hit, pos = hit[keep], pos[keep]
            attrs[overlay_attr(i)] = np.where(hit, True, None)
            for p in paths:
                attrs[overlay_attr(i, p)] = _take(
                    (db.attrs6 if v6 else db.attrs).get(p),
                    dtypes[overlay_attr(i, p)], hit, pos)
        return starts[keep], ends[keep], attrs

    starts, ends, attrs = family(False)
    starts6, ends6, attrs6 = family(True)
    return GeoDatabase(profile=parts[0][0].profile, starts=starts, ends=ends,
                       attrs=attrs, dtypes=dtypes, starts6=starts6,
                       ends6=ends6, attrs6=attrs6 if len(starts6) else {})


def v6_bucket_layout(db: GeoDatabase) -> BucketLayout:
    """Bucket layout of the v6 table over the high half of the address,
    by v4's coarse-level rule (:func:`_bucket_layout`): dense buckets
    split down to /60; rows ≤ max(2n, n + 2^16) + 15·levels·n/C, levels
    ≤ 11."""
    def build() -> BucketLayout:
        s_hi, _, e_hi, _ = _v6_words(db)
        return _bucket_layout(s_hi, e_hi, 64, _V6_FINEST_BITS)
    return memo_on_db(db, ("v6",), build)


def expanded_bucket_table(spark, db: GeoDatabase, attr_paths: list[str]):
    """The range table expanded into IP-prefix buckets for the enrich
    joins (:class:`..operators.enrich.GeoipEnricher`).

    A plain range join (``ip BETWEEN start AND end``) has no equi key, so
    Spark would plan BroadcastNestedLoopJoin — O(rows × ranges). Bucketing
    by address prefix manufactures one: every range is emitted once per
    bucket it intersects, and the probe joins on the bucket key
    (BroadcastHashJoin) with the BETWEEN as a join filter. Within one
    bucket the pieces inherit the table's non-overlap, so at most one
    range matches and a left join preserves row count.

    Buckets fit the key distribution (:func:`v4_bucket_layout`): a coarse
    level the ranges choose, /32 down to /4, and dense buckets split 4
    bits deeper down to /32; rows ≤ max(2n, n + 2^16) + 15·levels·n/C
    with at most 4 split levels, and no bucket over C = ``BUCKET_CAP``
    pieces. Refined keys carry a level tag; coarse keys are the plain
    prefix. The probe key is :meth:`BucketLayout.probe_key`.

    Returns a DataFrame with ``__gb`` (bucket key), ``__gs``/``__ge``
    (range bounds) and one correctly-typed column per sanitized attr
    path (null column for paths the DB lacks). One-time driver cost is
    O(expanded rows) — the same class as parsing the database file.
    """
    lay = v4_bucket_layout(db)
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


def expanded_bucket_table_v6(spark, db: GeoDatabase, attr_paths: list[str]):
    """The native-IPv6 range table expanded into address-prefix buckets —
    the v6 leg of the all-JVM enrich path (round-7 VERDICT item 2).

    Same construction as :func:`expanded_bucket_table`, lifted to 128
    bits carried as two longs: buckets are prefixes of the high half
    (:func:`v6_bucket_layout`: v4's coarse-level rule, dense buckets split
    down to /60), and the 128-bit BETWEEN rides as a join filter over
    bias-flipped (hi, lo) tuple comparisons (signed order == unsigned
    order after the XOR flip of bit 63 below). Ranges are
    disjoint, so at most one piece matches and a left join preserves
    row count.

    Bounds, for n ranges and C = ``BUCKET_CAP``: rows ≤ max(2n, n + 2^16)
    + 15·levels·n/C, with at most 11 split levels, all at /16 or finer;
    every bucket holds at most C pieces, except where more than C ranges
    share one /60. Returns ``__g6b`` (bucket key),
    ``__g6sh/__g6sl/__g6eh/__g6el`` (bias-flipped bounds) + one typed
    column per sanitized attr path, and the chosen coarse level."""
    lay = v6_bucket_layout(db)
    idx = lay.idx
    # bias flip (unsigned u ↦ u − 2^63, monotone): XOR of bit 63
    # reinterpreted signed; the probe side applies the same XOR
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


# Set on every v4 bucket key of a range table, so the two families'
# keys never meet: a v4 key is a prefix below 2^32 under level tag 0 or
# 5-8 (bits 60-63; no split level is coarser than /16, so refined v4
# levels are /20 to /32), and a v6 key with tag t is a prefix below
# 2^(4t), so its bit 59 can be set only at t = 15, a tag no v4 key has.
V4_KEY_BIT = 1 << 59

_BOUNDS = ("__gs", "__ge", "__g6sh", "__g6sl", "__g6eh", "__g6el")


def range_table(spark, db: GeoDatabase, attr_paths: list[str], prefix: str,
                v4: DataFrame, v6: DataFrame | None = None) -> DataFrame:
    """The one range table the enrich join broadcasts and probes for ``db``:
    the pieces of ``v4``, the :func:`expanded_bucket_table` of
    ``attr_paths`` (key tagged with ``V4_KEY_BIT``) and, for a v6-capable
    database, those of ``v6``, its :func:`expanded_bucket_table_v6`, under
    one long bucket key ``__gb``. A v4 piece has null v6 bounds, a v6
    piece null v4 bounds. Every column is named ``prefix`` + its name.

    The rows are copied JVM-side into one local relation (no Spark job,
    no Python rows), so a query plans one scan with no projection to
    fold, whatever the table's size."""
    names = [sanitize_attr(p) for p in attr_paths]

    def family(df, key: str, bounds: tuple[str, ...]) -> DataFrame:
        # SQL text: one py4j call for the whole projection
        return df.selectExpr(f"{key} AS `{prefix}__gb`", *[
            f"{b if b in bounds else 'CAST(NULL AS BIGINT)'} AS `{prefix}{b}`"
            for b in _BOUNDS], *[f"`{n}` AS `{prefix}{n}`" for n in names])

    parts = [family(v4, f"__gb | {V4_KEY_BIT}", _BOUNDS[:2])]
    if v6 is not None:
        parts.append(family(v6, "__g6b", _BOUNDS[2:]))
    schema = T.StructType(
        [T.StructField(prefix + "__gb", T.LongType(), False)]
        + [T.StructField(prefix + b, T.LongType(), True) for b in _BOUNDS]
        + [T.StructField(prefix + n, _SPARK_TYPES[db.attr_type(p)], True)
           for n, p in zip(names, attr_paths)])
    rows = spark._jvm.java.util.ArrayList()
    for part in parts:
        # a projection of a local relation collects with no job
        rows.addAll(part._jdf.collectAsList())
    jss = spark._jsparkSession
    return DataFrame(jss.createDataFrame(rows, jss.parseDataType(schema.json())),
                     spark)
