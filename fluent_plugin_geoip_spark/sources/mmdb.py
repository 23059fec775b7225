"""Pure-Python MaxMind DB (.mmdb) reader and writer.

The reference's primary config surface is a database file path per backend
(``geoip2_database``, /root/reference/lib/fluent/plugin/filter_geoip.rb:41-43,
loaded at rb:204-217); its CI downloads GeoLite2 for every run
(/root/reference/.travis.yml). This module makes that surface real here: it
implements the PUBLIC MaxMind DB file format spec v2.0
(https://maxmind.github.io/MaxMind-DB/) from scratch — a binary search tree
of fixed-width records over the address space, a data section of
tagged/pointered values, and a trailing metadata map marked by
``\\xab\\xcd\\xefMaxMind.com``. No code is shared with any MaxMind library.

Reader: decodes the metadata and the data records; the search tree is
walked by the one trie walk both formats share (``sources/trie.py``).
This module keeps the ip_version=6 rules: IPv4 starts 96 zero bits down
(the convention every published reader follows; a data record higher on
that spine covers all of IPv4), the native-IPv6 walk leaves ``::/96`` out
and skips the aliases of the IPv4 subtree. ``GeoDatabase.from_mmdb`` turns
the two walks into the sorted range arrays the enrich kernel probes.

Writer: builds a spec-conformant .mmdb from ``(cidr, doc)`` pairs, with
the trie builder both formats share — used to generate the committed test
fixtures (scripts/build_test_mmdb.py) and by tests to construct arbitrary
databases. Deliberately simple (no pointer dedup of equal values beyond
whole-record reuse); readers — ours and ``maxminddb`` alike — accept the
output.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

from . import trie

METADATA_MARKER = b"\xab\xcd\xefMaxMind.com"
DATA_SECTION_SEPARATOR = 16  # null bytes between the tree and the data section

# type tags (spec §"Data Section"): 1=pointer 2=utf8 3=double 4=bytes
# 5=uint16 6=uint32 7=map; extended (0): 8=int32 9=uint64 10=uint128
# 11=array 13=end-marker 14=boolean 15=float
_T_PTR, _T_STR, _T_DOUBLE, _T_BYTES, _T_U16, _T_U32, _T_MAP = range(1, 8)
_T_I32, _T_U64, _T_U128, _T_ARRAY = 8, 9, 10, 11
_T_BOOL, _T_FLOAT = 14, 15


class MMDBError(ValueError):
    """Malformed or unsupported .mmdb content."""


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

def decode_value(buf: bytes, offset: int, data_start: int = 0,
                 cache: dict | None = None, _seen: set | None = None):
    """Decode one tagged value at absolute ``offset``; returns
    ``(value, next_offset)``. ``data_start`` anchors pointer resolution
    (pointers are relative to the data section).

    Hardened against malformed input: every read is bounds-checked
    (truncated values raise ``MMDBError``, never silently short-read) and
    pointer chains carry an in-flight target set so a pointer cycle raises
    instead of recursing forever (``_seen`` is internal plumbing).
    """
    if not 0 <= offset < len(buf):
        raise MMDBError(f"truncated value: offset {offset} beyond buffer")
    ctrl = buf[offset]
    offset += 1
    typ = ctrl >> 5
    if typ == _T_PTR:
        ss = (ctrl >> 3) & 0x3
        if offset + ss + 1 > len(buf):
            raise MMDBError("truncated pointer")
        vvv = ctrl & 0x7
        if ss == 0:
            p = (vvv << 8) | buf[offset]
            offset += 1
        elif ss == 1:
            p = ((vvv << 16) | (buf[offset] << 8) | buf[offset + 1]) + 2048
            offset += 2
        elif ss == 2:
            p = ((vvv << 24)
                 | int.from_bytes(buf[offset:offset + 3], "big")) + 526336
            offset += 3
        else:
            p = int.from_bytes(buf[offset:offset + 4], "big")
            offset += 4
        target = data_start + p
        if cache is not None and target in cache:
            return cache[target], offset
        if _seen is None:
            _seen = set()
        if target in _seen:
            raise MMDBError(f"pointer loop at data offset {p}")
        _seen.add(target)
        val, _ = decode_value(buf, target, data_start, cache, _seen)
        _seen.discard(target)
        if cache is not None:
            cache[target] = val
        return val, offset
    if typ == 0:  # extended type
        if offset >= len(buf):
            raise MMDBError("truncated extended-type byte")
        typ = 7 + buf[offset]
        offset += 1
    size = ctrl & 0x1F
    if typ != _T_BOOL:  # boolean keeps its value in the size bits
        if size >= 29 and offset + (size - 28) > len(buf):
            raise MMDBError("truncated size bytes")
        if size == 29:
            size = 29 + buf[offset]
            offset += 1
        elif size == 30:
            size = 285 + int.from_bytes(buf[offset:offset + 2], "big")
            offset += 2
        elif size == 31:
            size = 65821 + int.from_bytes(buf[offset:offset + 3], "big")
            offset += 3
        if typ not in (_T_MAP, _T_ARRAY) and offset + size > len(buf):
            raise MMDBError(
                f"truncated value: {size} bytes declared, "
                f"{len(buf) - offset} available")
    if typ == _T_STR:
        try:
            return buf[offset:offset + size].decode("utf-8"), offset + size
        except UnicodeDecodeError as e:
            raise MMDBError(f"invalid UTF-8 in string value: {e}") from None
    if typ == _T_DOUBLE:
        if size != 8:
            raise MMDBError("double must be 8 bytes")
        return struct.unpack(">d", buf[offset:offset + 8])[0], offset + 8
    if typ == _T_FLOAT:
        if size != 4:
            raise MMDBError("float must be 4 bytes")
        return struct.unpack(">f", buf[offset:offset + 4])[0], offset + 4
    if typ == _T_BYTES:
        return bytes(buf[offset:offset + size]), offset + size
    if typ in (_T_U16, _T_U32, _T_U64, _T_U128):
        return int.from_bytes(buf[offset:offset + size], "big"), offset + size
    if typ == _T_I32:
        # spec + official readers zero-pad short int32 to 4 bytes, so a
        # 3-byte 0xFFFFFF is +16777215, not -1: only a full 4-byte value
        # can carry the sign bit
        return (int.from_bytes(buf[offset:offset + size], "big",
                               signed=(size == 4))
                if size else 0), offset + size
    if typ == _T_MAP:
        out = {}
        for _ in range(size):
            k, offset = decode_value(buf, offset, data_start, cache, _seen)
            v, offset = decode_value(buf, offset, data_start, cache, _seen)
            out[k] = v
        return out, offset
    if typ == _T_ARRAY:
        items = []
        for _ in range(size):
            v, offset = decode_value(buf, offset, data_start, cache, _seen)
            items.append(v)
        return items, offset
    if typ == _T_BOOL:
        return bool(size), offset
    if typ == 13:  # end marker
        return None, offset
    raise MMDBError(f"unsupported type tag {typ}")


@dataclass
class MMDBReader:
    """Parsed .mmdb: metadata + tree geometry + lazy data decoding."""

    buf: bytes
    metadata: dict
    node_count: int
    record_size: int
    ip_version: int
    tree_size: int       # bytes
    data_start: int      # absolute offset of the data section

    @classmethod
    def from_bytes(cls, buf: bytes) -> "MMDBReader":
        marker_at = buf.rfind(METADATA_MARKER)
        if marker_at < 0:
            raise MMDBError("no MaxMind.com metadata marker found")
        metadata, _ = decode_value(buf, marker_at + len(METADATA_MARKER),
                                   data_start=marker_at + len(METADATA_MARKER))
        if not isinstance(metadata, dict):
            raise MMDBError("metadata is not a map")
        try:
            node_count = metadata["node_count"]
            record_size = metadata["record_size"]
        except KeyError as e:
            raise MMDBError(f"metadata missing {e}") from None
        if record_size not in (24, 28, 32):
            raise MMDBError(f"unsupported record_size {record_size}")
        if not isinstance(node_count, int) or node_count < 0:
            raise MMDBError(f"implausible node_count {node_count!r}")
        tree_size = node_count * record_size * 2 // 8
        if (tree_size + DATA_SECTION_SEPARATOR > marker_at):
            raise MMDBError(
                f"implausible node_count {node_count}: tree would overrun "
                "the data section")
        return cls(buf=buf, metadata=metadata, node_count=node_count,
                   record_size=record_size,
                   ip_version=metadata.get("ip_version", 6),
                   tree_size=tree_size,
                   data_start=tree_size + DATA_SECTION_SEPARATOR)

    @classmethod
    def open(cls, path: str) -> "MMDBReader":
        with open(path, "rb") as f:
            return cls.from_bytes(f.read())

    def node(self, n: int) -> tuple[int, int]:
        """(left, right) record values of node ``n``."""
        rs = self.record_size
        if rs == 24:
            b = n * 6
            return (int.from_bytes(self.buf[b:b + 3], "big"),
                    int.from_bytes(self.buf[b + 3:b + 6], "big"))
        if rs == 28:
            b = n * 7
            mid = self.buf[b + 3]
            return (((mid >> 4) << 24) | int.from_bytes(self.buf[b:b + 3], "big"),
                    ((mid & 0xF) << 24) | int.from_bytes(self.buf[b + 4:b + 7], "big"))
        b = n * 8
        return (int.from_bytes(self.buf[b:b + 4], "big"),
                int.from_bytes(self.buf[b + 4:b + 8], "big"))

    def record_data(self, record: int) -> dict:
        """Decode the data record a tree record value points to.

        Spec: file offset = (record - node_count) + tree_size; values in
        (node_count, node_count+16] are invalid (inside the separator).
        """
        off = record - self.node_count + self.tree_size
        if off < self.data_start:
            raise MMDBError(f"record value {record} points into the separator")
        val, _ = decode_value(self.buf, off, self.data_start, cache={})
        return val

    def _ipv4_start(self) -> int:
        """The record IPv4 starts at: the root node of an ip_version=4
        tree; in an ip_version=6 tree the record 96 zero bits down (the
        convention every published reader follows). Like libmaxminddb's
        IPv4 start node, it stops early at an empty or data record on
        the spine, which then covers all of IPv4."""
        rec = 0
        if self.ip_version == 6:
            for _ in range(96):
                if rec >= self.node_count:
                    break
                rec = self.node(rec)[0]
        return rec

    def iter_ipv4_ranges(self):
        """Yield ``(range_start, range_end, nested_doc)`` for every IPv4
        network in the tree, disjoint and in no particular order. Records
        are decoded once per distinct data offset."""
        return self._decoded(self._ipv4_records())

    def iter_ipv6_ranges(self):
        """Yield ``(start_bytes16, end_bytes16, nested_doc)`` for every
        native-IPv6 network, EXCLUDING ::/96 (covered by
        ``iter_ipv4_ranges``) and the aliases of the IPv4 subtree
        (GeoLite2 points 2002::/16, ::ffff:0:0/96 etc. back at it), so each
        network is yielded once."""
        return self._decoded(self._ipv6_records())

    def _decoded(self, walk):
        docs: dict[int, dict] = {}
        for start, end, rec in walk:
            if rec not in docs:
                docs[rec] = self.record_data(rec)
            yield start, end, docs[rec]

    def _ipv4_records(self):
        """The walk behind :meth:`iter_ipv4_ranges`: ``(range_start,
        range_end, record)``, with the tree's record value (one per data
        record) in place of the decoded doc."""
        return trie.walk(self.node, self._ipv4_start(), 32,
                         self.node_count, MMDBError)

    def _ipv6_records(self):
        """The walk behind :meth:`iter_ipv6_ranges`: ``(start_bytes16,
        end_bytes16, record)``. The whole tree is walked from its root
        without entering the IPv4 start node, which also skips every
        alias of it (MaxMind's writers point ::ffff:0:0/96, 2001::/32 and
        2002::/16 at that node), and each network is cut to its part
        outside ::/96, which :meth:`iter_ipv4_ranges` covers."""
        if self.ip_version != 6:
            return
        for start, end, rec in trie.walk(self.node, 0, 128,
                                         self.node_count, MMDBError,
                                         skip={self._ipv4_start()}):
            if end >> 32:
                yield (max(start, 1 << 32).to_bytes(16, "big"),
                       end.to_bytes(16, "big"), rec)


def flatten_doc(doc, prefix: str = "") -> dict:
    """Nested GeoIP2 doc → flat dot-path attrs (list indices become numeric
    segments: ``subdivisions.0.iso_code``), mirroring the reference's
    ``dig``-by-split-dot addressing (filter_geoip.rb:96-99, 187-202)."""
    out: dict = {}
    if isinstance(doc, dict):
        for k, v in doc.items():
            out.update(flatten_doc(v, f"{prefix}{k}."))
    elif isinstance(doc, list):
        for i, v in enumerate(doc):
            out.update(flatten_doc(v, f"{prefix}{i}."))
    else:
        out[prefix[:-1]] = doc
    return out


def unflatten_doc(flat: dict) -> dict:
    """Inverse of ``flatten_doc`` for display (the dump CLI): dot paths back
    to nested maps; numeric segments become array indices."""
    root: dict = {}
    for path, value in sorted(flat.items()):
        parts = path.split(".")
        cur = root
        for i, p in enumerate(parts[:-1]):
            nxt_is_idx = parts[i + 1].isdigit()
            if p.isdigit():
                p = int(p)
                while len(cur) <= p:
                    cur.append({} if not nxt_is_idx else [])
                if not isinstance(cur[p], (dict, list)):
                    cur[p] = {}
                cur = cur[p]
            else:
                if p not in cur or not isinstance(cur[p], (dict, list)):
                    cur[p] = [] if nxt_is_idx else {}
                cur = cur[p]
        last = parts[-1]
        if last.isdigit() and isinstance(cur, list):
            idx = int(last)
            while len(cur) <= idx:
                cur.append(None)
            cur[idx] = value
        else:
            cur[last] = value
    return root


# ---------------------------------------------------------------------------
# encoder / writer
# ---------------------------------------------------------------------------

def _encode_ctrl(typ: int, size: int) -> bytes:
    if typ <= 7:
        first, ext = typ, b""
    else:
        first, ext = 0, bytes([typ - 7])
    if size < 29:
        return bytes([(first << 5) | size]) + ext
    if size < 29 + 256:
        return bytes([(first << 5) | 29]) + ext + bytes([size - 29])
    if size < 285 + 65536:
        return bytes([(first << 5) | 30]) + ext + (size - 285).to_bytes(2, "big")
    return bytes([(first << 5) | 31]) + ext + (size - 65821).to_bytes(3, "big")


def encode_value(v) -> bytes:
    """Encode one python value in the MMDB data format (no pointers)."""
    if isinstance(v, bool):
        return bytes([(0 << 5) | (1 if v else 0), _T_BOOL - 7])
    if isinstance(v, str):
        b = v.encode("utf-8")
        return _encode_ctrl(_T_STR, len(b)) + b
    if isinstance(v, float):
        return _encode_ctrl(_T_DOUBLE, 8) + struct.pack(">d", v)
    if isinstance(v, int):
        if v < 0:
            return _encode_ctrl(_T_I32, 4) + v.to_bytes(4, "big", signed=True)
        nbytes = (v.bit_length() + 7) // 8
        if v < 1 << 16:
            return _encode_ctrl(_T_U16, nbytes) + v.to_bytes(nbytes, "big")
        if v < 1 << 32:
            return _encode_ctrl(_T_U32, nbytes) + v.to_bytes(nbytes, "big")
        return _encode_ctrl(_T_U64, nbytes) + v.to_bytes(nbytes, "big")
    if isinstance(v, bytes):
        return _encode_ctrl(_T_BYTES, len(v)) + v
    if isinstance(v, (list, tuple)):
        return _encode_ctrl(_T_ARRAY, len(v)) + b"".join(encode_value(x) for x in v)
    if isinstance(v, dict):
        body = b"".join(encode_value(str(k)) + encode_value(val)
                        for k, val in v.items())
        return _encode_ctrl(_T_MAP, len(v)) + body
    raise MMDBError(f"cannot encode {type(v).__name__}")


def _path(cidr: str, ip_version: int) -> tuple[int, int]:
    """CIDR (v4 or v6) → ``(value, prefix length)`` of its bit path in a
    tree of ``ip_version``. IPv4 networks in a v6 tree live under the
    96-zero prefix (the GeoLite2 convention)."""
    import ipaddress
    try:
        net = ipaddress.ip_network(cidr)
    except ValueError as e:
        raise MMDBError(f"bad CIDR: {cidr}") from e
    if net.version == 6 and ip_version == 4:
        raise MMDBError(f"IPv6 network {cidr} in an ip_version=4 tree")
    spine = 96 if net.version == 4 and ip_version == 6 else 0
    return int(net.network_address), net.prefixlen + spine


def build_mmdb(networks: list[tuple[str, dict]],
               database_type: str = "GeoLite2-City-Test",
               ip_version: int = 6, record_size: int = 28,
               languages: tuple[str, ...] = ("en",),
               build_epoch: int = 0) -> bytes:
    """Build a .mmdb from ``(cidr, nested_doc)`` pairs (IPv4 and/or IPv6).

    ``ip_version=6`` (the GeoLite2 layout) stores IPv4 under the 96-zero-bit
    prefix and accepts native IPv6 networks; ``ip_version=4`` builds a
    32-bit tree (IPv4 only). Identical docs (by equality) share one data
    record.
    """
    datas: list[dict] = []
    data_index: dict[str, int] = {}
    paths = []
    for cidr, doc in networks:
        key = repr(sorted(flatten_doc(doc).items()))
        if key not in data_index:
            data_index[key] = len(datas)
            datas.append(doc)
        paths.append((cidr, *_path(cidr, ip_version), data_index[key]))
    data_blob = bytearray()
    data_offsets: list[int] = []
    for doc in datas:
        data_offsets.append(DATA_SECTION_SEPARATOR + len(data_blob))
        data_blob += encode_value(doc)
    nodes = trie.build(paths, 32 if ip_version == 4 else 128, data_offsets,
                       MMDBError)

    tree = bytearray()
    for left, right in nodes:
        if record_size == 24:
            tree += left.to_bytes(3, "big") + right.to_bytes(3, "big")
        elif record_size == 28:
            tree += (left & 0xFFFFFF).to_bytes(3, "big")
            tree += bytes([((left >> 24) << 4) | (right >> 24)])
            tree += (right & 0xFFFFFF).to_bytes(3, "big")
        elif record_size == 32:
            tree += left.to_bytes(4, "big") + right.to_bytes(4, "big")
        else:
            raise MMDBError(f"unsupported record_size {record_size}")

    metadata = {
        "binary_format_major_version": 2,
        "binary_format_minor_version": 0,
        "build_epoch": build_epoch,
        "database_type": database_type,
        "description": {"en": f"{database_type} fixture"},
        "ip_version": ip_version,
        "languages": list(languages),
        "node_count": len(nodes),
        "record_size": record_size,
    }
    return (bytes(tree) + b"\x00" * DATA_SECTION_SEPARATOR + bytes(data_blob)
            + METADATA_MARKER + encode_value(metadata))
