"""The binary trie behind both database formats: one walk, one builder.

A GeoIP2 ``.mmdb`` (``sources/mmdb.py``) and a legacy ``.dat``
(``sources/dat.py``) hold the same search structure: a binary trie over
the address bits, most significant first, stored as an array of nodes of
two records (left = bit 0, right = bit 1). A record below the node count
is a child node, one equal to it is empty (no data for that subtree), one
above it addresses a data record. The format modules keep what differs:
how a record is stored (width, byte order), the data section, the
trailing metadata or structure info, and the ``.mmdb`` IPv6 rules (the
96-bit IPv4 spine, ``::/96`` left out of IPv6, aliases of the IPv4
subtree skipped).
"""

from __future__ import annotations


def walk(node, root: int, width: int, empty: int, error: type,
         skip: frozenset | set = frozenset()):
    """Yield ``(start, end, record)`` for every data record reachable from
    ``root``: the first and last address (``width``-bit ints) of the
    network the record covers, and the record value.

    ``root`` is a record like any other: a node, ``empty`` (nothing is
    yielded) or a data record, which then covers the whole space.
    ``node(n)`` gives node ``n``'s (left, right) records. Child nodes in
    ``skip`` are not entered. A path longer than ``width`` bits, which a
    malformed or cyclic tree makes, raises ``error``, so no input can make
    the walk hang. The order is fixed: depth first, right subtree first."""
    if root > empty:
        yield 0, (1 << width) - 1, root
    if root >= empty:
        return
    stack = [(root, 0, width)]  # node, its first address, bits below it
    while stack:
        n, start, bits = stack.pop()
        if bits == 0:
            raise error(f"tree deeper than {width} bits")
        bits -= 1
        half = 1 << bits
        left, right = node(n)
        for rec, lo in ((left, start), (right, start + half)):
            if rec < empty:
                if rec not in skip:
                    stack.append((rec, lo, bits))
            elif rec > empty:
                yield lo, lo + half - 1, rec


def build(networks, width: int, offsets, error: type) -> list[tuple[int, int]]:
    """The nodes of the trie holding ``networks``, as (left, right) record
    values in preorder: node 0 is the root and the list's length is the
    node count.

    ``networks`` yields ``(name, value, plen, data)``: the top ``plen``
    bits of the ``width``-bit ``value`` are the network's path from the
    root, ``data`` indexes ``offsets`` and ``name`` names the network in
    errors. A child resolves to its node's number, to the node count
    (empty) or, for data, to the node count plus ``offsets[data]``. A
    network inside, containing or equal to an earlier one raises
    ``error``, and so does an empty path (``/0``): no format has a record
    above its root node."""
    root: list = [None, None]  # a node: [left, right], each None | node | data
    for name, value, plen, data in networks:
        if plen == 0:
            raise error(f"{name} is not representable: a tree has no "
                        "record above its root node")
        nd = root
        for shift in range(width - 1, width - plen, -1):
            bit = (value >> shift) & 1
            child = nd[bit]
            if child is None:
                child = nd[bit] = [None, None]
            elif not isinstance(child, list):
                raise error(f"{name} is inside an existing network")
            nd = child
        bit = (value >> (width - plen)) & 1
        if isinstance(nd[bit], list):
            raise error(f"{name} contains an existing network")
        if nd[bit] is not None:
            raise error(f"duplicate network {name}")
        nd[bit] = data

    nodes, stack = [], [root]
    while stack:
        nd = stack.pop()
        nodes.append(nd)
        stack.extend(c for c in (nd[1], nd[0]) if isinstance(c, list))
    number = {id(nd): i for i, nd in enumerate(nodes)}
    count = len(nodes)

    def record(child) -> int:
        if child is None:
            return count
        if isinstance(child, list):
            return number[id(child)]
        return count + offsets[child]

    return [(record(left), record(right)) for left, right in nodes]
