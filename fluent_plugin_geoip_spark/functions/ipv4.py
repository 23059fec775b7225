"""IPv4 parsing: native (JVM/codegen) for the enrich joins, vectorized
pandas/NumPy for the driver-side ``GeoDatabase.lookup_batch``.

Mirrors the address-handling semantics of the reference filter
(/root/reference/lib/fluent/plugin/filter_geoip.rb:167-185):

- ``None`` address → miss (geo document nil)
- empty string → miss (reference logs a warning, filter_geoip.rb:172-174)
- unparsable address (e.g. ``'0'``, reference test:199-209) → miss
- addresses absent from the DB (e.g. RFC5737 203.0.113.1) → miss

Everything here is columnar: no per-row Python in the parse itself beyond
pandas' C-level string kernels.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F

# strict grammar: the reference hands the RAW string to the backend
# (filter_geoip.rb:175-179), where any surrounding whitespace fails the
# parse and yields a miss — so no trimming here either.
_OCTET_RE = r"^(\d{1,3})\.(\d{1,3})\.(\d{1,3})\.(\d{1,3})$"


def ipv4_str_to_long(col: Column) -> Column:
    """Native (JVM/codegen) IPv4-string → uint32-as-long; null when invalid.

    The enrich joins probe the v4 range table with this long (codegen, no
    Python worker). Semantics match
    ``ipv4_to_uint32`` (strict grammar: octets ≤ 255, no surrounding
    whitespace — padded addresses are a miss, as when the reference hands
    the raw string to the backend, filter_geoip.rb:175-179).
    """
    p = F.split(col, r"\.")
    o = [F.element_at(p, i + 1).cast("long") for i in range(4)]
    valid = col.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    for oc in o:
        valid = valid & (oc <= 255)
    return F.when(
        valid,
        F.shiftleft(o[0], 24) + F.shiftleft(o[1], 16) + F.shiftleft(o[2], 8) + o[3])


def ipv4_to_uint32(ips: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Parse a Series of IPv4 strings to uint32 (as int64) + validity mask.

    Returns ``(values, valid)`` where ``values`` is an int64 array (0 where
    invalid) and ``valid`` a boolean array. Non-string / null / malformed /
    out-of-range octets are invalid.
    """
    n = len(ips)
    if n == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=bool)
    s = ips.astype("string")  # non-str → <NA> stays NA; numbers stringified
    parts = s.str.extract(_OCTET_RE, expand=True)
    octs = []
    valid = np.ones(n, dtype=bool)
    for i in range(4):
        o = pd.to_numeric(parts[i], errors="coerce")
        arr = o.to_numpy(dtype="float64", na_value=np.nan)
        valid &= ~np.isnan(arr)
        valid &= arr <= 255
        octs.append(np.nan_to_num(arr, nan=0.0).astype(np.int64))
    values = (octs[0] << 24) | (octs[1] << 16) | (octs[2] << 8) | octs[3]
    values[~valid] = 0
    return values, valid
