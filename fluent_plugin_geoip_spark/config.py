"""Config model + config-time compiler checks — the Spark restatement of the
reference's ``configure`` phase (/root/reference/lib/fluent/plugin/filter_geoip.rb:46-104).

All validation the reference performs at config time is reproduced here as
``GeoipConfigError`` raised before any job runs (reference tests:42-166):

- obsoleted ``enable_key_*`` params rejected        (filter_geoip.rb:62-64)
- deprecated ``geoip_lookup_key`` comma-split       (filter_geoip.rb:51-53)
- dotted keys without ``$`` prefix → flat + warning (filter_geoip.rb:55-59)
- JSON-shaped templates validated by dummy-substitution + parse
                                                    (filter_geoip.rb:72-82)
- placeholder grammar + backend attr whitelists     (filter_geoip.rb:86-101)
- unknown backend rejected                          (filter_geoip.rb:44, 204-217)
"""

from __future__ import annotations

import json
import logging
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, functions as F

from .operators.geolookup import (
    BACKEND_LIBRARIES, GEOIP2_COMPAT_KEYS, GEOIP_KEYS,
)

log = logging.getLogger(__name__)


class GeoipConfigError(ValueError):
    """Config-time error — counterpart of Fluent::ConfigError."""


# Placeholder grammar — faithful Python ports of the reference regexes
# (filter_geoip.rb:21-29).
RE_PLACEHOLDER_SINGLE = re.compile(
    r"""^\$\{
          (?P<geoip_key>-?[^\[\]]+)
          \[
            (?:(?P<dq>")|(?P<sq>'))
            (?P<record_key>-?(?(dq)[^"{}]+|[^'{}]+))
            (?(dq)"|')
          \]
        \}$""",
    re.X,
)
RE_PLACEHOLDER_SCAN = re.compile(r"""['"]?(\$\{[^\}]+?\})['"]?""")


def is_json_template(text: str) -> bool:
    """Reference ``json?`` (filter_geoip.rb:141-143): value spans [..] or {..}.

    The reference sees multiline JSON values pre-compacted to one line by the
    fluentd v1 config parser; we accept the multiline raw form directly, so
    the check runs with DOTALL over the whole (stripped) value.
    """
    t = text.strip()
    return bool(re.match(r"^\[.+\]$", t, re.S) or re.match(r"^\{.+\}$", t, re.S))


def is_quoted_value(text: str) -> bool:
    """Reference ``quoted_value?`` (filter_geoip.rb:145-148)."""
    return bool(re.match(r"(^'.+'$|^\".+\"$)", text, re.S))


def unwrap_quoted(text: str) -> str:
    return text[1:-1] if is_quoted_value(text) else text


def parse_record_accessor(key: str) -> tuple[str, ...] | str:
    """fluentd record_accessor syntax → column path.

    Returns a tuple of nested field names for ``$.a.b`` / ``$["a"]["b"]`` /
    ``$['a']['b']`` styles, or the literal flat key string otherwise
    (dots inside a plain key are NOT nesting — filter_geoip.rb:55-59,
    reference test:88-96,169-187).
    """
    if not key.startswith("$"):
        if "." in key:
            log.warning("%s is not treated as nested attributes", key)
        return key
    rest = key[1:]
    if rest.startswith("."):
        parts = tuple(rest[1:].split("."))
        if not all(parts):
            raise GeoipConfigError(f"invalid record accessor: {key}")
        return parts
    parts_l = re.findall(r"\[(?:\"([^\"]+)\"|'([^']+)')\]", rest)
    joined = "".join(re.findall(r"\[(?:\"[^\"]+\"|'[^']+')\]", rest))
    if not parts_l or joined != rest:
        raise GeoipConfigError(f"invalid record accessor: {key}")
    return tuple(dq or sq for dq, sq in parts_l)


def accessor_column(path: tuple[str, ...] | str) -> Column:
    """Compiled accessor → Spark Column (reference compiles accessors once at
    config time, filter_geoip.rb:60; Catalyst prunes to exactly these)."""
    if isinstance(path, str):
        return F.col(f"`{path}`")
    c = F.col(f"`{path[0]}`")
    for p in path[1:]:
        c = c.getField(p)
    return c


@dataclass(frozen=True)
class Placeholder:
    """One ``${attr.path['record_key']}`` occurrence, config-compiled."""
    text: str          # canonical '${...}' form (no surrounding quotes)
    geoip_key: str     # attr dot-path, e.g. 'city.names.en'
    record_key: str    # lookup key as written, e.g. "$.from.ip" or 'host'


@dataclass
class GeoipConfig:
    """Pipeline enrich-stage config — counterpart of the plugin params
    (filter_geoip.rb:36-44) + the ``<record>`` directive map."""

    lookup_keys: list[str] = field(default_factory=lambda: ["host"])
    records: dict[str, str] = field(default_factory=dict)
    backend_library: str = "geoip2_c"
    skip_adding_null_record: bool = False
    # Path to a real MaxMind .mmdb (the reference's primary config surface,
    # filter_geoip.rb:41-43); loaded by GeoDatabase.from_mmdb when the
    # enricher is built without an explicit database.
    geoip2_database: str | None = None
    # Path to a legacy GeoCityLite .dat — the reference DEFAULT backend's
    # file (filter_geoip.rb:37, load at rb:204-206); used when
    # backend_library == 'geoip'.
    geoip_database: str | None = None

    @classmethod
    def from_dict(cls, conf: dict) -> "GeoipConfig":
        """Build from a loose dict, reproducing legacy config shims."""
        conf = dict(conf)
        for k in conf:
            if k.startswith("enable_key_"):
                raise GeoipConfigError(
                    "geoip: 'enable_key_*' config format is obsoleted. "
                    "use records (the <record> directive) instead.")
        lookup_keys = conf.pop("geoip_lookup_keys", None) or ["host"]
        if isinstance(lookup_keys, str):
            lookup_keys = [lookup_keys]
        legacy = conf.pop("geoip_lookup_key", None)
        if legacy:  # deprecated comma-split (filter_geoip.rb:51-53)
            lookup_keys = re.split(r"\s*,\s*", legacy)
        return cls(
            lookup_keys=list(lookup_keys),
            records=dict(conf.pop("records", {})),
            backend_library=conf.pop("backend_library", "geoip2_c"),
            skip_adding_null_record=bool(conf.pop("skip_adding_null_record", False)),
            geoip2_database=conf.pop("geoip2_database", None),
            geoip_database=conf.pop("geoip_database", None),
        )

    def load_database(self):
        """Resolve the lookup database from config, mirroring the reference's
        per-backend load-at-configure (filter_geoip.rb:204-217): backend
        ``geoip`` reads the legacy ``geoip_database`` .dat, the GeoIP2
        backends read the ``geoip2_database`` .mmdb."""
        from .operators.geolookup import GeoDatabase
        if self.backend_library == "geoip":
            if not self.geoip_database:
                raise GeoipConfigError(
                    "backend 'geoip' needs geoip_database (a legacy .dat "
                    "path) or an explicit GeoDatabase")
            return GeoDatabase.from_dat(self.geoip_database)
        if not self.geoip2_database:
            raise GeoipConfigError(
                "no database configured: set geoip2_database or pass a "
                "GeoDatabase explicitly")
        return GeoDatabase.from_mmdb(self.geoip2_database,
                                     profile=self.backend_library)

    def validate(self) -> "CompiledConfig":
        return compile_config(self)


@dataclass
class CompiledConfig:
    """The IR the reference keeps in 4 ivars (filter_geoip.rb:50-103):
    compiled accessors, the template map (quote-unwrapped), the ordered uniq
    placeholder list, and per-template parse results."""

    config: GeoipConfig
    accessors: dict[str, tuple[str, ...] | str]
    templates: dict[str, str]                 # out_field → unwrapped template
    placeholders: list[Placeholder]           # ordered, uniq by text


def compile_config(cfg: GeoipConfig) -> CompiledConfig:
    if cfg.backend_library not in BACKEND_LIBRARIES:
        raise GeoipConfigError(f"unknown backend library: {cfg.backend_library}")

    for key in cfg.lookup_keys:
        if "." in key and not key.startswith("$"):
            log.warning("%s is not treated as nested attributes", key)
    accessors = {k: parse_record_accessor(k) for k in cfg.lookup_keys}

    templates: dict[str, str] = {}
    for out_field, raw in cfg.records.items():
        v = unwrap_quoted(raw)
        templates[out_field] = v
        # JSON-template validation by dummy substitution (filter_geoip.rb:72-82)
        if is_json_template(v.translate({ord("'"): None, ord('"'): None, ord("\\"): None})):
            dummy = RE_PLACEHOLDER_SCAN.sub(json.dumps("dummy_text"), v)
            try:
                json.loads(dummy)
            except ValueError as e:
                raise GeoipConfigError(
                    f"geoip: failed to parse '{v}' as json.") from e

    seen: dict[str, Placeholder] = {}
    for v in templates.values():
        for m in RE_PLACEHOLDER_SCAN.finditer(v):
            text = m.group(1)
            if text in seen:
                continue
            sm = RE_PLACEHOLDER_SINGLE.match(text)
            if not sm:
                raise GeoipConfigError(f"Invalid placeholder attributes: {text}")
            geoip_key = sm.group("geoip_key")
            if cfg.backend_library == "geoip":
                if geoip_key not in GEOIP_KEYS:
                    raise GeoipConfigError(f"geoip: unsupported key {geoip_key}")
            elif cfg.backend_library == "geoip2_compat":
                if geoip_key not in GEOIP2_COMPAT_KEYS:
                    raise GeoipConfigError(f"geoip2_compat: unsupported key {geoip_key}")
            # geoip2_c: any attr path allowed (filter_geoip.rb:96-99)
            seen[text] = Placeholder(text=text, geoip_key=geoip_key,
                                     record_key=sm.group("record_key"))

    return CompiledConfig(config=cfg, accessors=accessors,
                          templates=templates, placeholders=list(seen.values()))
