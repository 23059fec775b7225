"""Parse stage (P5 in SURVEY.md §2.2): grok/regex extraction of host/IP and
access-log fields from ``url``/``html``/``text``.

All extraction is native Catalyst expressions (``regexp_extract``,
``decode``) — JVM-side, whole-stage-codegen'd, no Python. The per-row
invariant mandated by BASELINE.json:15 — byte-identical extracted text per
url — is ``extract_text(html) == text`` and is asserted in tests and
checkable at scale via ``text_invariant_violations``.

The apache combined-log grok mirrors the reference's documented tutorial
input (/root/reference/README.md:248-276: apache access log fed to the geoip
filter with ``geoip_lookup_keys host``).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, functions as F

# apache common/combined access-log prefix: ip - ident [ts] "METHOD path proto" status bytes
ACCESS_LOG_RE = (
    r'^(\S+) (\S+) (\S+) \[([^\]]+)\] "(\S+) (\S+) ([^"]*)" (\d{3}) (\S+)'
)
_PRE_RE = r"<pre>(.*?)</pre>"


def extract_text(html: Column) -> Column:
    """Deterministic text extraction from html bytes (the invariant target).

    The generator's pages carry their authoritative text in a ``<pre>``
    block, so the byte-identical per-url invariant (BASELINE.json:15) is a
    single anchored extract. For pages with no such contract, use
    ``html_to_text`` (general tag-strip + entity-decode)."""
    return F.regexp_extract(F.decode(html, "UTF-8"), _PRE_RE, 1)


# one HTML tag, tolerating '>' inside quoted attribute values
# (<a title="a>b">); script/style/comment blocks are removed before this
_TAG_RE = r"""<(?:[^>"']|"[^"]*"|'[^']*')*>"""
# tags whose end implies a text break (block-level + <br>)
_BREAK_TAG_RE = (r"(?i)</?(?:br|p|div|section|article|table|tr|td|th|ul|ol"
                 r"|li|h[1-6]|blockquote|pre|form|header|footer|nav)\b"
                 r"""(?:[^>"']|"[^"]*"|'[^']*')*>""")
# structural removals, in order: script/style blocks, comments, block-tag
# boundaries → space, remaining tags → ''
_STRIP_STEPS = [
    (r"(?is)<script\b[^>]*>.*?</script\s*>", " "),
    (r"(?is)<style\b[^>]*>.*?</style\s*>", " "),
    (r"(?s)<!--.*?-->", " "),
    (_BREAK_TAG_RE, " "),
    (_TAG_RE, ""),
]
# explicit ASCII whitespace run (Java \s and RE2 \s disagree on \x0B)
_WS_RUN_RE = "[ \t\n\x0b\f\r]+"
# named entities decoded natively; &amp; must decode LAST so double-escaped
# text (&amp;lt;) yields the literal entity, not '<'. Numeric forms are
# handled by the generic single-pass decoder below (&#160;/&#xA0; → plain
# space up front, matching &nbsp;).
_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&amp;", "&"),
]
# generic numeric entities (round 4): &#NNN; decimal / &#xHH; hex, decoded
# for the full ASCII range (9..126) in ONE substitution + ONE array
# transform — no per-codepoint replace chain, no Python UDF. The entity is
# rewritten to MARK_A<code>MARK_B; splitting on the markers then decoding
# structurally makes the pass single-scan: a decoded '&' can never combine
# with neighboring text into a new entity (correct HTML semantics). Codes
# outside ASCII are restored verbatim. MARK bytes are normalized out of the
# input first, so arbitrary text can't forge a marked region.
_MARK_A = "\x00"
_MARK_B = "\x01"
_ENT_NBSP_NUM_RE = "&#(?:0*160|[xX]0*[Aa]0);"  # 0* both arms (r4 ADVICE)
_ENT_NUM_RE = "&#([0-9]{1,7}|[xX][0-9A-Fa-f]{1,6});"


def _decode_numeric_entities(s: Column) -> Column:
    """Finish the marker pass: split on MARK_B; each piece is either plain
    text or ``text MARK_A code``; decode ASCII codes, restore the rest."""
    def dec_piece(p: Column) -> Column:
        sp = F.split(p, _MARK_A, -1)
        pre, code = F.get(sp, 0), F.get(sp, 1)
        is_hex = F.upper(F.substring(code, 1, 1)) == "X"
        num = (F.when(is_hex,
                      F.conv(F.substring(code, 2, 6), 16, 10).cast("int"))
               .otherwise(code.cast("int")))
        dec = (F.when(num.between(9, 126), F.char(num))
               .otherwise(F.concat(F.lit("&#"), code, F.lit(";"))))
        return F.when(code.isNull(), pre).otherwise(F.concat(pre, dec))

    return F.array_join(F.transform(F.split(s, _MARK_B, -1), dec_piece), "")


def html_to_text(html: Column, decoded: bool = False) -> Column:
    """General text extraction from messy Common-Crawl-style HTML — entirely
    native ``regexp_replace`` chains (JVM-side, whole-stage-codegen'd, no
    UDF):

    1. drop ``<script>``/``<style>`` blocks and ``<!-- -->`` comments;
    2. turn block-level tag boundaries into spaces (so ``<p>a</p><p>b</p>``
       reads "a b", not "ab"), strip all remaining tags (quoted ``>`` inside
       attributes tolerated);
    3. decode entities: numeric ``&#NNN;``/``&#xHH;`` over the full ASCII
       range via the single-pass marker+transform decoder (codes outside
       ASCII restored verbatim; ``&#160;``/``&#xA0;`` → plain space like
       ``&nbsp;``), then the named set (``&amp;`` last — double-escaped
       text stays literal, and the marker pass means a decoded ``&`` never
       recombines into a new entity);
    4. collapse all whitespace runs to single spaces and trim (the canonical
       form golden-pinned in tests).

    Pass ``decoded=True`` when the column is already a string.

    Every regex construct here (inline (?is), non-greedy, \\b, explicit
    classes — the whitespace class is spelled out because Java \\s includes
    \\x0B and RE2's doesn't) evaluates identically under Java regex and
    RE2, so an independent engine can restate the chain verbatim — the
    driver's DuckDB oracle does exactly that (``html_extract_text``).
    """
    s = html if decoded else F.decode(html, "UTF-8")
    for step, rep in _STRIP_STEPS:
        s = F.regexp_replace(s, step, rep)
    s = F.regexp_replace(s, f"[{_MARK_A}{_MARK_B}]", "")
    s = F.regexp_replace(s, _ENT_NBSP_NUM_RE, " ")
    s = F.regexp_replace(s, _ENT_NUM_RE, f"{_MARK_A}$1{_MARK_B}")
    for ent, ch in _ENTITIES:
        s = F.regexp_replace(s, ent, ch)
    s = _decode_numeric_entities(s)
    return F.trim(F.regexp_replace(s, _WS_RUN_RE, " "))


def url_host(url: Column) -> Column:
    return F.parse_url(url, F.lit("HOST"))


def access_log_fields(text: Column) -> Column:
    """Struct of grok'd access-log fields; empty-string groups where unmatched
    (regexp_extract semantics) are normalized to null except client_ip, which
    keeps '' to preserve the reference's empty-string-address warning path
    (filter_geoip.rb:172-174)."""
    def g(i: int) -> Column:
        return F.regexp_extract(text, ACCESS_LOG_RE, i)

    def null_if_empty(c: Column) -> Column:
        return F.when(c == "", F.lit(None)).otherwise(c)

    return F.struct(
        g(1).alias("client_ip"),
        null_if_empty(g(4)).alias("ts_raw"),
        null_if_empty(g(5)).alias("method"),
        null_if_empty(g(6)).alias("path"),
        null_if_empty(g(8)).cast("int").alias("status"),
        null_if_empty(g(9)).cast("long").alias("bytes"),
    )


@functools.lru_cache(maxsize=None)
def parse_columns(validate_text: bool = False,
                  include_access: bool = False) -> dict[str, Column]:
    """The parse stage's Columns by output name: ``host``, ``client_ip``
    and, when asked for, ``access`` / ``text_ok`` (see :func:`parse_pages`).
    They read the input only by column name, so they are built once per
    flag pair and serve every pages DataFrame; do not mutate the result."""
    cols = {"host": url_host(F.col("url")),
            "client_ip": F.regexp_extract(F.col("text"), r"^(\S+) ", 1)}
    if include_access:
        cols["access"] = access_log_fields(F.col("text"))
    if validate_text:
        cols["text_ok"] = extract_text(F.col("html")) == F.col("text")
    return cols


def parse_pages(df: DataFrame, validate_text: bool = False,
                include_access: bool = False) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → + host, client_ip[, access].

    ``client_ip`` uses a dedicated single-group regex (the hot path feeds only
    the enrich kernel); the full 9-group access-log struct is opt-in via
    ``include_access`` — Catalyst prunes it anyway when unused, but keeping it
    out of the default plan keeps EXPLAIN output honest about the hot path.

    When ``validate_text`` is set, re-extracts text from html and adds a
    ``text_ok`` boolean for the byte-identical invariant (cheap enough to keep
    on in audits; off in the hot path since ``text`` is authoritative).
    """
    return df.withColumns(parse_columns(validate_text, include_access))


def text_invariant_violations(df: DataFrame) -> DataFrame:
    """Rows whose html-derived text differs from the stored text column."""
    return df.filter(extract_text(F.col("html")) != F.col("text")).select("url")
