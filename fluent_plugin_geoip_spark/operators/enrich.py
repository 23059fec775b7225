"""GeoipEnricher — the enrich-map operator (SURVEY.md §2.2-2.3, J1/J2/P1-P3).

Spark restatement of the reference's per-record dataflow
(filter_geoip.rb:106-139):

    get_address (compiled accessors)          → accessor Columns       (rb:159-165)
    geolocate   (DB probe per lookup field)   → broadcast prefix-bucket
                                                range-table joins  (rb:167-185)
    create_placeholder (attr dig + lat/lon default)
                                              → typed placeholder Columns (rb:187-202)
    add_geoip_field (template eval, 3 modes)  → one output projection in
                                                directive order (rb:121-139)
    skip_adding_null_record short-circuit     → per-column F.when mask + a
                                                ``geoip_skipped`` flag (rb:122-123)

Like the reference, which compiles its config once at configure time and
then only applies it per record (rb:60, 86), the enricher compiles the
whole stage once per input schema into an :class:`EnrichPlan` — the
Columns, the renamed broadcast range tables and the join conditions —
and ``transform`` applies it as a short fixed sequence: one projection
per materialization layer, one join per range table, one output
projection. The stage is narrow: the broadcast hash joins fuse into the
scan's codegen stage with no Python worker, and no shuffle is introduced.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.classic.column import _to_seq

from ..config import (
    CompiledConfig, GeoipConfig, accessor_column, compile_config,
)
from ..functions.binding import is_plan_independent
from ..functions.ipv4 import ipv4_str_to_long
from ..functions.templates import compile_template, typed_null
from .geolookup import GeoDatabase, sanitize_attr

SKIP_FLAG = "geoip_skipped"


def _compiled(entry):
    """A compile-time entry as the plan keeps it. A plain Column is one
    the enricher built from column names, literals and built-in functions
    only, and is kept as is. A factory builds a Column that may hold a
    Python UDF call (a template output that formats a float the Ruby
    way): it is run once and its Column kept if it resolves by name
    against any plan (``is_plan_independent``); otherwise the factory is
    kept and the Column rebuilt on each use."""
    if callable(entry):
        col = entry()
        return col if is_plan_independent(col) else entry
    return entry


def _thaw(entry) -> Column:
    return entry() if callable(entry) else entry


def _java_columns(spark: SparkSession, cols: list[Column]):
    return _to_seq(spark.sparkContext, [c._jc for c in cols])


class Projection:
    """One ``select`` of a compiled plan. When every entry is a Column,
    the JVM column list is built once here, so applying the projection is
    a single py4j call instead of one per column."""

    def __init__(self, spark: SparkSession, entries: list):
        self.entries = entries
        self._jcols = (None if any(callable(e) for e in entries)
                       else _java_columns(spark, entries))

    def apply(self, df: DataFrame) -> DataFrame:
        jcols = self._jcols
        if jcols is None:
            jcols = _java_columns(df.sparkSession,
                                  [_thaw(e) for e in self.entries])
        return DataFrame(df._jdf.select(jcols), df.sparkSession)


class Join:
    """One left join of a compiled plan against a broadcast range table."""

    def __init__(self, table: DataFrame, cond: Column):
        self.table, self.cond = table, cond

    @property
    def entries(self) -> list:
        return [self.cond]

    def apply(self, df: DataFrame) -> DataFrame:
        return df.join(self.table, self.cond, "left")


@dataclass
class EnrichPlan:
    """The enrich stage compiled for one input schema: its steps, applied
    in order.

    - projections of ``*`` plus named Columns that read only the input
      and earlier steps, so a value read more than once downstream (the
      parsed address, the v6 high half, the geo struct) is materialized
      once instead of being inlined at every read;
    - a :class:`Join` per range table, between the probe-word projections
      and the geo structs;
    - last, the output projection: the input columns, each template field
      (replacing a same-named input column in place, like ``withColumns``)
      and the skip flag; the internal columns go.

    Column entries are Columns, or factories for the UDF-bearing Columns
    that fail ``is_plan_independent``."""

    steps: list

    def apply(self, df: DataFrame) -> DataFrame:
        for step in self.steps:
            df = step.apply(df)
        return df

    def entries(self) -> list:
        """Every Column entry, in application order."""
        return [e for step in self.steps for e in step.entries]


def _quoted(name: str) -> Column:
    return F.col("`" + name.replace("`", "``") + "`")


class GeoipEnricher:
    """Compile once, apply to any DataFrame (batch or streaming).

    Each lookup key is geolocated by broadcast-hash joins against
    prefix-bucket-expanded range tables
    (:func:`..operators.geolookup.expanded_bucket_table`; for v6-capable
    databases additionally
    :func:`..operators.geolookup.expanded_bucket_table_v6`, with the
    address parsed JVM-side by :func:`..functions.ipv6.ipv6_str_to_longs`),
    so the enrich stage stays inside the JVM with no Python worker.
    ``GeoDatabase.lookup_batch`` is the driver-side reference the tests
    hold it to.

    ``transform`` compiles an :class:`EnrichPlan` on first sight of an
    input schema (its column names, and the session's
    ``spark.sql.caseSensitive``) and reuses it for every later input with
    the same columns, batch or streaming.
    """

    def __init__(self, spark: SparkSession, config: GeoipConfig,
                 database: GeoDatabase | None = None):
        self.spark = spark
        self.config = config
        # no explicit database → load the configured .mmdb path, mirroring
        # the reference's load-at-configure (filter_geoip.rb:204-217)
        self.db = database if database is not None else config.load_database()
        self.compiled: CompiledConfig = compile_config(config)
        # attrs needed per lookup key (common-subexpression reuse of the
        # reference's uniq placeholder dedup, rb:86).
        self._attrs_by_key: dict[str, list[str]] = {}
        for ph in self.compiled.placeholders:
            if ph.record_key in self.compiled.accessors:
                self._attrs_by_key.setdefault(ph.record_key, [])
                if ph.geoip_key not in self._attrs_by_key[ph.record_key]:
                    self._attrs_by_key[ph.record_key].append(ph.geoip_key)
        # shape of each expanded range table the enrich joins probe,
        # ``{"v4"|"v6": {"rows": ..., "max_bucket_rows": ...}}``, filled
        # from the NumPy layout when a plan is compiled
        self.table_stats: dict[str, dict[str, int]] = {}
        # (input column names, spark.sql.caseSensitive) → compiled plan
        self._plans: dict[tuple[tuple[str, ...], bool], EnrichPlan] = {}

    def transform(self, df: DataFrame) -> DataFrame:
        if not self.compiled.templates:
            return df
        # the analyzer's name rule decides which input column a same-named
        # field replaces, so it is part of the plan's key
        key = (tuple(df.columns),
               self.spark.conf.get("spark.sql.caseSensitive") == "true")
        plan = self._plans.get(key)
        if plan is None:
            plan = self._plans[key] = self.compile(*key)
        return plan.apply(df)

    def compile(self, columns: tuple[str, ...],
                case_sensitive: bool = False) -> EnrichPlan:
        """The enrich stage for inputs with these column names, under
        ``spark.sql.caseSensitive`` = ``case_sensitive``."""
        comp = self.compiled
        # materialization layers before the joins: 0 the v4 parse of each
        # lookup key, 1 the v6 parse, 2 the probe words; after them, the
        # geo struct of each key, merged from its join columns
        layers: list[list] = [[], [], []]
        joins: list[tuple[DataFrame, Column]] = []
        geo_layer: list = []
        # lookup key → name of its geo struct column
        geo: dict[str, str] = {}
        for i, (key, attrs) in enumerate(self._attrs_by_key.items()):
            addr = accessor_column(comp.accessors[key]).cast("string")
            layers[0].append(ipv4_str_to_long(addr).alias(f"__ip_{i}"))
            geo[key] = f"__geo_{i}"
            geo_layer.append(self._compile_geo(i, attrs, addr, layers, joins))

        ph_cols = {ph.text: self._placeholder_column(ph, geo)
                   for ph in comp.placeholders}
        skip_cond = self._skip_condition(geo, ph_cols)
        fields = {f: self._output_column(f, t, ph_cols, skip_cond, f in columns)
                  for f, t in comp.templates.items()}
        if skip_cond is not None:
            fields[SKIP_FLAG] = skip_cond.alias(SKIP_FLAG)

        # withColumns semantics: a field replaces a same-named input column
        # in place, under the analyzer's name matching; the rest append
        def norm(name: str) -> str:
            return name if case_sensitive else name.lower()
        by_norm = {norm(f): f for f in fields}
        output = [fields[by_norm[norm(c)]] if norm(c) in by_norm else _quoted(c)
                  for c in columns]
        replaced = {by_norm[norm(c)] for c in columns if norm(c) in by_norm}
        output += [col for f, col in fields.items() if f not in replaced]

        def projection(cols: list) -> Projection:
            return Projection(self.spark, [_compiled(c) for c in cols])

        star = F.col("*")
        return EnrichPlan(steps=[
            *[projection([star, *layer]) for layer in layers if layer],
            *[Join(table, _compiled(cond)) for table, cond in joins],
            *([projection([star, *geo_layer])] if geo_layer else []),
            projection(output)])

    def _skip_condition(self, geo, ph_cols) -> Column | None:
        """skip_adding_null_record (rb:122-123): the reference checks
        `placeholder.values.first.nil?` where create_placeholder only
        INSERTS entries whose lookup key geodata hit (rb:191) — i.e. the
        value of the first SURVIVING placeholder, not the first positional
        one. Spark form: pick the first placeholder whose lookup hit (a
        when-chain in placeholder order); no hit anywhere, or that value
        nil → skip. With no placeholder at all the hash is empty, so every
        record is skipped."""
        comp = self.compiled
        if not self.config.skip_adding_null_record:
            return None
        prev_no_hit = F.lit(True)   # no surviving placeholder seen yet
        terms = []                  # "i is the first survivor and nil"
        for ph in comp.placeholders:
            if ph.record_key not in geo:
                continue  # never inserted (geodata lacks the key, rb:191)
            hit = F.col(geo[ph.record_key]).getField("__hit__")
            val, _ = ph_cols[ph.text]
            terms.append(prev_no_hit & hit & val.isNull())
            prev_no_hit = prev_no_hit & ~hit
        skip_cond = prev_no_hit  # nothing survived → placeholder {} → skip
        for t in terms:
            skip_cond = skip_cond | t
        return skip_cond

    def _output_column(self, out_field: str, template: str, ph_cols,
                       skip_cond: Column | None, exists: bool):
        """add_geoip_field (rb:124-137): a factory of one template's output
        Column."""
        def build() -> Column:
            col = compile_template(template, ph_cols,
                                   self.config.fast_float_str)
            if skip_cond is not None:
                # skipped rows keep their pre-existing value (record
                # returned unmodified, rb:122-123); fields that did not
                # pre-exist stay null (fixed-schema DataFrame restatement
                # of "not added").
                existing = _quoted(out_field) if exists else F.lit(None)
                col = F.when(skip_cond, existing).otherwise(col)
            return col.alias(out_field)
        return build

    # coarse /16 prefix buckets: 65 536 of them cap the coarse expansion
    # at +65 536 rows. Real databases still pack hundreds of ranges into
    # one /16 (a dual-stack table's busiest v6 /32 held 3,686), so the
    # table builders split every bucket of more than
    # ``geolookup.BUCKET_CAP`` pieces deeper (``BucketLayout``)
    JVM_JOIN_SHIFT = 16

    def _db_plan_cache(self) -> dict:
        """Expanded-table cache stored ON the GeoDatabase instance (round
        9): databases are driver-cached per file (`geolookup._DB_CACHE`),
        but enrichers are rebuilt per query invocation — keying the
        deterministic expanded tables on the (immutable) db rather than
        the enricher reuses the one-time construction across invocations
        in the same session. Keyed on the session too, so a new
        SparkSession (tests) never sees another session's DataFrames.
        This caches a logical LOCAL RELATION (the range table), never a
        query result — every probe still computes from its inputs."""
        cache = getattr(self.db, "_expanded_plan_cache", None)
        if cache is None:
            cache = {}
            object.__setattr__(self.db, "_expanded_plan_cache", cache)
        return cache

    def _range_df_for(self, attrs: list[str]):
        """Broadcast-ready expanded bucket table, cached per attr set
        (common-subexpression reuse of the reference's uniq placeholder
        dedup, rb:86)."""
        from .geolookup import expanded_bucket_table
        cache = self._db_plan_cache()
        key = (id(self.spark), "jvm", self.JVM_JOIN_SHIFT, *attrs)
        if key not in cache:
            cache[key] = expanded_bucket_table(
                self.spark, self.db, attrs, shift=self.JVM_JOIN_SHIFT)
        return cache[key]

    def _range_df_v6_for(self, attrs: list[str]):
        from .geolookup import expanded_bucket_table_v6
        cache = self._db_plan_cache()
        key = (id(self.spark), "jvm6", *attrs)
        if key not in cache:
            cache[key] = expanded_bucket_table_v6(
                self.spark, self.db, attrs)[0]
        return cache[key]

    def _compile_geo(self, i: int, attrs: list[str], addr: Column,
                     layers: list[list], joins: list) -> Column:
        """Geolocate one lookup key with broadcast-hash prefix-bucket
        joins; returns its geo struct Column. No Python crossing; the
        BETWEEN rides as a join filter and at most one range matches
        (disjoint ranges), so each left join preserves row count.

        v6-capable databases take a second broadcast join: the address
        is parsed JVM-side into two longs (only where the v4 parser
        rejected it — codegen CASE WHEN keeps the v4 majority free),
        v4-mapped ``::ffff:a.b.c.d`` / v4-compat ``::a.b.c.d`` text is
        folded into the v4 probe (libmaxminddb tree-walk semantics,
        matching ``GeoDatabase.lookup_batch``), and native v6 rows probe
        the bias-flipped 128-bit range table. The two joins are disjoint by
        construction (a row probes exactly one table), so the per-field
        merge is a plain when(v6hit, v6).otherwise(v4)."""
        from ..functions.ipv6 import ipv6_str_to_longs
        from .geolookup import v4_bucket_layout, v6_bucket_layout
        has6 = self.db.has_ipv6

        ip4 = F.col(f"__ip_{i}")
        if has6:
            # parse once, reuse for the mapped-fold and the v6 probe.
            # Round 9 note: a staged multi-projection (pure-codegen) parse
            # was built, measured and REVERTED — it is 1.7x faster in
            # isolation, but fused into this stage (v4 parse + two
            # broadcast joins + merge) it pushed the whole-stage method
            # to ~11.4 KB of bytecode, past HotSpot's 8 KB JIT ceiling,
            # and the un-JIT-compiled stage ran ~3x slower end to end.
            # The _let expression form keeps the fused method at ~2 KB
            # precisely because HOF lambdas evaluate as CodegenFallback
            # outside it (A/B + method sizes in docs/v6_parse_r9.jsonl).
            p6_name, e4_name = f"__ip6_{i}", f"__ip4e_{i}"
            layers[1].append(F.when(ip4.isNull() & addr.contains(":"),
                                    ipv6_str_to_longs(addr)).alias(p6_name))
            p6 = F.col(p6_name)
            hi6, lo6 = p6.getField("hi"), p6.getField("lo")
            mapped = ((hi6 == 0)
                      & F.shiftrightunsigned(lo6, 32).isin(0, 0xFFFF))
            layers[2].append(F.coalesce(ip4, F.when(
                mapped, lo6.bitwiseAND(F.lit(0xFFFFFFFF)))).alias(e4_name))
            # the native-v6 high half (null when mapped or unparsed) gets
            # its own column: the bucket key reads it once per split
            # level and twice more, and inline each read regenerates the
            # mask — with two split levels that took the fused probe
            # stage's largest method from 6.8 KB to 8.0 KB, at the JIT
            # ceiling above; as a column it is 5.5 KB
            h6_name = f"__ip6h_{i}"
            layers[2].append(F.when(~mapped, hi6).alias(h6_name))
            probe4_name = e4_name
        else:
            probe4_name = f"__ip_{i}"
        probe4 = F.col(probe4_name)

        lay4 = v4_bucket_layout(self.db, self.JVM_JOIN_SHIFT)
        self.table_stats["v4"] = lay4.stats()
        pref = f"__r{i}_"
        cond = ((lay4.probe_key(probe4, f"`{probe4_name}`")
                 == F.col(pref + "__gb"))
                & probe4.between(F.col(pref + "__gs"),
                                 F.col(pref + "__ge")))
        joins.append((_renamed(self._range_df_for(attrs), pref), cond))
        v4hit = F.col(pref + "__gs").isNotNull()
        names = [sanitize_attr(a) for a in attrs]
        if not has6:
            return F.struct(v4hit.alias("__hit__"), *[
                F.col(pref + name).alias(name) for name in names
            ]).alias(f"__geo_{i}")

        # native-v6 probe: null for unparsed/mapped rows → no match
        lay6 = v6_bucket_layout(self.db)
        self.table_stats["v6"] = lay6.stats()
        pref6 = f"__r6{i}_"
        nat_hi = F.col(h6_name)
        min_long = F.lit(-0x8000000000000000)
        fhi, flo = nat_hi.bitwiseXOR(min_long), lo6.bitwiseXOR(min_long)
        sh, sl = F.col(pref6 + "__g6sh"), F.col(pref6 + "__g6sl")
        eh, el = F.col(pref6 + "__g6eh"), F.col(pref6 + "__g6el")
        cond6 = ((lay6.probe_key(nat_hi, f"`{h6_name}`")
                  == F.col(pref6 + "__g6b"))
                 & ((fhi > sh) | ((fhi == sh) & (flo >= sl)))
                 & ((fhi < eh) | ((fhi == eh) & (flo <= el))))
        joins.append((_renamed(self._range_df_v6_for(attrs), pref6), cond6))
        v6hit = sh.isNotNull()
        return F.struct((v4hit | v6hit).alias("__hit__"), *[
            F.when(v6hit, F.col(pref6 + name))
             .otherwise(F.col(pref + name)).alias(name) for name in names
        ]).alias(f"__geo_{i}")

    def _placeholder_column(self, ph, geo) -> tuple[Column, str]:
        dtype = self.db.attr_type(ph.geoip_key)
        if ph.record_key not in geo:
            # unknown record key → placeholder never set → nil (rb:191)
            return typed_null(dtype), dtype
        col = F.col(geo[ph.record_key])
        hit = col.getField("__hit__")
        raw = col.getField(sanitize_attr(ph.geoip_key))
        leaf = ph.geoip_key.rsplit(".", 1)[-1]
        if leaf in ("latitude", "longitude"):
            # hit with nil lat/lon → 0.0 default (rb:192-198, test:456-480)
            raw = F.coalesce(raw, F.lit(0.0))
        col = F.when(hit, raw).otherwise(typed_null(dtype))
        return col, dtype


def _renamed(table: DataFrame, prefix: str) -> DataFrame:
    """A range table with every column prefixed, hinted for broadcast."""
    return F.broadcast(table.select(
        *[F.col(c).alias(prefix + c) for c in table.columns]))
