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
then only applies it per record (rb:60, 86), the enrich stage is compiled
once per input schema into an :class:`EnrichPlan` — the Columns, the
prefixed broadcast range tables and the join conditions — and applied as
a short fixed sequence: one projection per parse layer, one join per
lookup key, one output projection per enricher. Several enrichers compile
into one plan (:func:`compile_plan`; the pipeline's city + ASN) that
parses and probes each lookup key once for all of them, as the reference
geolocates each key once per record (rb:86, 167-185): the key's one join
is against the overlay of the databases probed with it
(:func:`..operators.geolookup.overlay`), whose pieces carry each
database's attributes and hit under names of its own. The stage is
narrow: the broadcast hash joins fuse into the scan's codegen stage with
no Python worker, and no shuffle is introduced.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.classic.column import _to_seq

from ..config import (
    CompiledConfig, GeoipConfig, accessor_column, compile_config,
)
from ..functions.ipv4 import ipv4_str_to_long
from ..functions.templates import (
    compile_template, register_ruby_double_str, template_mode, typed_null,
)
from . import geolookup
from .geolookup import (
    V4_KEY_BIT, GeoDatabase, memo_on_db, overlay_attr, sanitize_attr,
    v4_bucket_layout, v6_bucket_layout,
)

SKIP_FLAG = "geoip_skipped"


class Projection:
    """One ``select`` of a compiled plan. The JVM column list is built
    once here, so applying the projection is a single py4j call instead
    of one per column."""

    def __init__(self, spark: SparkSession, entries: list[Column]):
        self.entries = entries
        self._jcols = _to_seq(spark.sparkContext, [c._jc for c in entries])

    def apply(self, df: DataFrame) -> DataFrame:
        return DataFrame(df._jdf.select(self._jcols), df.sparkSession)


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

    - projections of ``*`` plus the parse of each lookup key, named after
      the plan's j-th distinct key and materialized once however many
      databases probe it: ``__ip_<j>`` (the v4 parse) and, where a
      v6-capable database probes the key, ``__ip6_<j>`` (the v6 parse),
      ``__ip4e_<j>`` (the v4 word, mapped and compat text folded),
      ``__ip6h_<j>`` (the native-v6 high half) and, for a join whose
      range table has split buckets, its probe key ``__r<n>___pk``;
    - one :class:`Join` per lookup key: against the range table of the
      one database probed with it, or of the overlay of several
      (``geolookup.overlay``), whose columns hold each probing
      enricher's database's attrs and hit under names of their own
      (``geolookup.overlay_attr``);
    - per enricher, its output projection: the input columns, each
      template field (replacing a same-named input column in place, like
      ``withColumns``) and the skip flag, reading its own database's
      columns and hit (:class:`Lookup`). The parse and join columns stay
      until the last enricher's output projection.

    Every entry is a Column built from column names, literals and
    functions called by name (the Ruby float formatter too), so it
    resolves against any input with these column names."""

    steps: list

    def apply(self, df: DataFrame) -> DataFrame:
        for step in self.steps:
            df = step.apply(df)
        return df

    def entries(self) -> list[Column]:
        """Every Column entry, in application order."""
        return [e for step in self.steps for e in step.entries]


def _quoted(name: str) -> Column:
    return F.col("`" + name.replace("`", "``") + "`")


def apply_plan(enrichers: list[GeoipEnricher], plans: dict,
               df: DataFrame) -> DataFrame:
    """``df`` through ``enrichers``, one after another, by the plan
    compiled for its schema: its column names and the session's
    ``spark.sql.caseSensitive`` (the analyzer's name rule decides which
    input column a same-named field replaces). ``plans`` keeps each plan
    under that key, so a later input with the same columns, batch or
    streaming, only applies it."""
    key = (tuple(df.columns),
           enrichers[0].spark.conf.get("spark.sql.caseSensitive") == "true")
    plan = plans.get(key)
    if plan is None:
        plan = plans[key] = compile_plan(enrichers, *key)
    return plan.apply(df)


def compile_plan(enrichers: list[GeoipEnricher], columns: tuple[str, ...],
                 case_sensitive: bool = False) -> EnrichPlan:
    """The stage that applies ``enrichers`` one after another to inputs
    with these column names, under ``spark.sql.caseSensitive`` =
    ``case_sensitive``, parsing each lookup key once for all of them.

    An enricher whose lookup key reads a field an earlier one writes must
    see the new value, so the plan parses again after that field is
    written."""
    def norm(name: str) -> str:
        return name if case_sensitive else name.lower()

    groups: list[list[GeoipEnricher]] = []
    written: set[str] = set()
    for e in enrichers:
        if not e.compiled.templates:
            continue
        if not groups or written & {norm(c) for c in e._key_columns()}:
            groups.append([])
            written = set()
        groups[-1].append(e)
        written |= {norm(f) for f in e._field_names()}
    steps: list = []
    names = list(columns)
    for group in groups:
        names = _compile_group(group, names, norm, steps)
    return EnrichPlan(steps)


def _compile_group(group: list[GeoipEnricher], columns: list[str], norm,
                   steps: list) -> list[str]:
    """Append to ``steps`` the enrichers of ``group`` over one shared
    parse and one join per lookup key; return the output column names."""
    from ..functions.ipv6 import ipv6_str_to_longs
    spark = group[0].spark
    accessors = {k: e.compiled.accessors[k]
                 for e in group for k in e._attrs_by_key}
    v6_keys = {k for e in group if e.db.has_ipv6 for k in e._attrs_by_key}
    # parse layers: 0 the v4 parse of each lookup key, 1 the v6 parse,
    # 2 the probe words, 3 the probe keys that hold a lambda
    layers: list[list] = [[], [], [], []]
    parsed: list[Column] = []

    def parse(layer: int, name: str, col: Column) -> Column:
        layers[layer].append(col.alias(name))
        parsed.append(F.col(name))
        return F.col(name)

    key_index = {key: j for j, key in enumerate(accessors)}
    for key, j in key_index.items():
        addr = accessor_column(accessors[key]).cast("string")
        ip4 = parse(0, f"__ip_{j}", ipv4_str_to_long(addr))
        if key not in v6_keys:
            continue
        # the v6 parse runs only where the v4 parser rejected the text
        # (codegen CASE WHEN keeps the v4 majority free).
        # Round 9 note: a staged multi-projection (pure-codegen) parse
        # was built, measured and REVERTED — it is 1.7x faster in
        # isolation, but fused into this stage (v4 parse + broadcast
        # joins + outputs) it pushed the whole-stage method to ~11.4 KB of
        # bytecode, past HotSpot's 8 KB JIT ceiling, and the
        # un-JIT-compiled stage ran ~3x slower end to end. The _let
        # expression form keeps the fused method small precisely because
        # HOF lambdas evaluate as CodegenFallback outside it (A/B +
        # method sizes in docs/v6_parse_r9.jsonl).
        p6 = parse(1, f"__ip6_{j}", F.when(ip4.isNull() & addr.contains(":"),
                                           ipv6_str_to_longs(addr)))
        hi6, lo6 = p6.getField("hi"), p6.getField("lo")
        mapped = (hi6 == 0) & F.shiftrightunsigned(lo6, 32).isin(0, 0xFFFF)
        parse(2, f"__ip4e_{j}", F.coalesce(ip4, F.when(
            mapped, lo6.bitwiseAND(F.lit(0xFFFFFFFF)))))
        # the native-v6 high half (null when mapped or unparsed) gets its
        # own column: the bucket key reads it once per split level and
        # twice more, and inline each read regenerates the mask — with
        # two split levels that took the fused probe stage's largest
        # method from 6.8 KB to 8.0 KB, at HotSpot's 8,000-byte JIT limit
        parse(2, f"__ip6h_{j}", F.when(~mapped, hi6))
    n_joins = sum(isinstance(s, Join) for s in steps)
    # one join per lookup key: against the probing enricher's own
    # database, or against the overlay of all the probing enrichers'
    reads: list[dict[str, Lookup]] = [{} for _ in group]
    joins = []
    for key, j in key_index.items():
        users = [n for n, e in enumerate(group) if key in e._attrs_by_key]
        prefix = f"__r{n_joins}_"
        n_joins += 1

        def column(path: str) -> str:
            return prefix + sanitize_attr(path)
        if len(users) == 1:
            e = group[users[0]]
            db, attrs = e.db, e._attrs_by_key[key]
            reads[users[0]][key] = Lookup(
                {p: column(p) for p in attrs}, F.col(prefix + "__gb").isNotNull())
        else:
            parts = [(group[n].db, group[n]._attrs_by_key[key]) for n in users]
            db = _overlay(parts)
            attrs = [overlay_attr(i, p) for i, (_, paths) in enumerate(parts)
                     for p in (None, *paths)]
            for i, (n, (own, paths)) in enumerate(zip(users, parts)):
                hit = F.col(column(overlay_attr(i))).isNotNull()
                if db.has_ipv6 and not own.has_ipv6:
                    # the join probes the v4 word with mapped and compat
                    # text folded in; a v4-only database answers plain v4
                    # text only
                    hit = hit & F.col(f"__ip_{j}").isNotNull()
                reads[n][key] = Lookup(
                    {p: column(overlay_attr(i, p)) for p in paths}, hit)
        join, stats = _join(spark, db, j, attrs, prefix,
                            lambda name, c: parse(3, name, c))
        joins.append(join)
        for n in users:
            group[n].table_stats.update(stats)
    steps += [Projection(spark, [F.col("*"), *layer])
              for layer in layers if layer]
    steps += joins
    # the parse and join columns stay for the group's later enrichers
    carried = parsed + [_quoted(c) for join in joins
                        for c in join.table.columns] if len(group) > 1 else []
    for n, e in enumerate(group):
        output, columns = e._output(columns, reads[n], norm)
        steps.append(Projection(
            spark, output + (carried if n < len(group) - 1 else [])))
    return columns


@dataclass
class Lookup:
    """What an enricher reads of the join of one lookup key: the column
    holding each of its attr paths, and whether its database holds the
    address."""

    columns: dict[str, str]
    hit: Column


def _overlay(parts: list[tuple[GeoDatabase, list[str]]]) -> GeoDatabase:
    """``geolookup.overlay(parts)``, memoized on the first database; the
    entry keeps the other databases, so the ids in its key stay theirs."""
    key = ("overlay", *((id(db), *paths) for db, paths in parts))
    return memo_on_db(parts[0][0], key, lambda: (
        geolookup.overlay(parts), [db for db, _ in parts]))[0]


def _expanded_tables(spark, db: GeoDatabase, attrs: list[str]) -> tuple:
    """The expanded bucket tables of ``attrs``: the v4 one and, for a
    v6-capable database, the v6 one (else None), built once per attr
    set (common-subexpression reuse of the reference's uniq placeholder
    dedup, rb:86)."""
    return memo_on_db(
        db, (id(spark), "expanded", *attrs),
        lambda: (
            geolookup.expanded_bucket_table(spark, db, attrs),
            geolookup.expanded_bucket_table_v6(spark, db, attrs)[0]
            if db.has_ipv6 else None))


def _range_table(spark, db: GeoDatabase, attrs: list[str],
                 prefix: str) -> DataFrame:
    """The broadcast-hinted range table of ``attrs``, its columns named
    ``prefix`` + name. A join position's prefix is part of the table, so
    each prefix gets its own copy, made JVM-side from the expanded
    tables, which are built once per attr set. The bucket layout is a
    function of the database alone, so the memo key is the session, the
    prefix and the attrs."""
    return memo_on_db(
        db, (id(spark), prefix, *attrs),
        lambda: F.broadcast(geolookup.range_table(
            spark, db, attrs, prefix, *_expanded_tables(spark, db, attrs))))


def _join(spark, db: GeoDatabase, j: int, attrs: list[str], prefix: str,
          bind) -> tuple[Join, dict]:
    """Geolocate the plan's j-th lookup key in ``db``: one broadcast-hash
    join against its range table, on the bucket key, with the v4 BETWEEN
    OR the 128-bit range test as its join filter; and the shape of the
    table, ``{"v4"|"v6": BucketLayout.stats()}``. No Python crossing;
    ranges are disjoint, so at most one piece matches and the left join
    preserves row count.

    A v4-only database probes the plain v4 parse. A v6-capable one
    probes the v4 word with v4-mapped ``::ffff:a.b.c.d`` and v4-compat
    ``::a.b.c.d`` text folded in (libmaxminddb tree-walk semantics,
    matching ``GeoDatabase.lookup_batch``) and, where there is none, the
    native-v6 high half against the bias-flipped 128-bit bounds. A row
    probes one family at most, and ``V4_KEY_BIT`` keeps the two
    families' bucket keys apart.

    A key with split levels holds a lambda, which Spark evaluates outside
    generated code and which would keep the join out of whole-stage
    codegen. ``bind(name, col)`` projects such a key below the joins and
    returns the column the join then reads."""
    def col(name: str) -> Column:
        return F.col(prefix + name)

    has6 = db.has_ipv6
    word4 = f"__ip4e_{j}" if has6 else f"__ip_{j}"
    ip4 = F.col(word4)
    lay4 = v4_bucket_layout(db)
    stats = {"v4": lay4.stats()}
    key = lay4.probe_key(f"`{word4}`").bitwiseOR(F.lit(V4_KEY_BIT))
    match = ip4.between(col("__gs"), col("__ge"))
    if has6:
        lay6 = v6_bucket_layout(db)
        stats["v6"] = lay6.stats()
        word6 = f"__ip6h_{j}"
        min_long = F.lit(-0x8000000000000000)
        fhi = F.col(word6).bitwiseXOR(min_long)
        flo = F.col(f"__ip6_{j}").getField("lo").bitwiseXOR(min_long)
        sh, sl, eh, el = (col(b) for b in ("__g6sh", "__g6sl",
                                           "__g6eh", "__g6el"))
        key = F.coalesce(key, lay6.probe_key(f"`{word6}`"))
        match = match | (((fhi > sh) | ((fhi == sh) & (flo >= sl)))
                         & ((fhi < eh) | ((fhi == eh) & (flo <= el))))
    if lay4.dense or (has6 and lay6.dense):
        key = bind(prefix + "__pk", key)
    return (Join(_range_table(spark, db, attrs, prefix),
                 (key == col("__gb")) & match), stats)


class GeoipEnricher:
    """Compile once, apply to any DataFrame (batch or streaming).

    Each lookup key is geolocated by a broadcast-hash join against its
    database's prefix-bucket range table, or, in a plan that fuses
    several enrichers probing the same key, against the one table of the
    overlay of their databases
    (:func:`..operators.geolookup.range_table`: the v4 pieces of
    :func:`..operators.geolookup.expanded_bucket_table` and, for a
    v6-capable database, the v6 pieces of
    :func:`..operators.geolookup.expanded_bucket_table_v6`, with the
    address parsed JVM-side by :func:`..functions.ipv6.ipv6_str_to_longs`),
    so the enrich stage stays inside the JVM with no Python worker. The
    database's ranges alone choose each family's bucket levels
    (``geolookup.v4_bucket_layout`` / ``v6_bucket_layout``, one rule).
    ``GeoDatabase.lookup_batch`` is the driver-side reference the tests
    hold it to.

    ``transform`` compiles an :class:`EnrichPlan` on first sight of an
    input schema (its column names, and the session's
    ``spark.sql.caseSensitive``) and reuses it for every later input with
    the same columns, batch or streaming. It is the one-enricher case of
    :func:`compile_plan`, which also fuses several enrichers into one
    plan (``GeoipPipeline``'s city + ASN) with one join per lookup key.
    Fused or alone, an enricher's placeholders, hit and skip flag read
    its own database only: a v4-only database in an overlay with a
    dual-stack one still answers only plain v4 text.
    """

    def __init__(self, spark: SparkSession, config: GeoipConfig,
                 database: GeoDatabase | None = None):
        self.spark = spark
        self.config = config
        # no explicit database → load the configured .mmdb path, mirroring
        # the reference's load-at-configure (filter_geoip.rb:204-217)
        self.db = database if database is not None else config.load_database()
        self.compiled: CompiledConfig = compile_config(config)
        # a mode-3 template formats its doubles with the Ruby float
        # formatter, which the compiled plan calls by name
        if any(template_mode(t) == "interpolate"
               for t in self.compiled.templates.values()):
            register_ruby_double_str(spark)
        # attrs needed per lookup key (common-subexpression reuse of the
        # reference's uniq placeholder dedup, rb:86).
        self._attrs_by_key: dict[str, list[str]] = {}
        for ph in self.compiled.placeholders:
            if ph.record_key in self.compiled.accessors:
                self._attrs_by_key.setdefault(ph.record_key, [])
                if ph.geoip_key not in self._attrs_by_key[ph.record_key]:
                    self._attrs_by_key[ph.record_key].append(ph.geoip_key)
        # shape of each expanded range table the enrich joins probe,
        # ``{"v4"|"v6": BucketLayout.stats()}`` (rows, largest bucket,
        # coarse level, split levels), filled from the NumPy layout when a
        # plan is compiled; enrichers sharing a join report its table
        self.table_stats: dict[str, dict] = {}
        # (input column names, spark.sql.caseSensitive) → compiled plan
        self._plans: dict[tuple[tuple[str, ...], bool], EnrichPlan] = {}

    def transform(self, df: DataFrame) -> DataFrame:
        return apply_plan([self], self._plans, df)

    def _key_columns(self) -> set[str]:
        """The top-level input columns the lookup keys read."""
        paths = (self.compiled.accessors[k] for k in self._attrs_by_key)
        return {p if isinstance(p, str) else p[0] for p in paths}

    def _field_names(self) -> list[str]:
        """The columns the output projection writes."""
        return [*self.compiled.templates,
                *([SKIP_FLAG] if self.config.skip_adding_null_record else [])]

    def _output(self, columns: list[str], reads: dict[str, Lookup],
                norm) -> tuple[list[Column], list[str]]:
        """The output projection over inputs named ``columns``, reading
        each lookup key's join by ``reads[key]``: its entries and its
        column names."""
        comp = self.compiled
        ph_cols = {ph.text: self._placeholder_column(ph, reads)
                   for ph in comp.placeholders}
        skip_cond = self._skip_condition(reads, ph_cols)
        present = {norm(c) for c in columns}
        fields = {f: self._output_column(f, t, ph_cols, skip_cond,
                                         norm(f) in present)
                  for f, t in comp.templates.items()}
        if skip_cond is not None:
            fields[SKIP_FLAG] = skip_cond.alias(SKIP_FLAG)
        # withColumns semantics: a field replaces a same-named input column
        # in place, under the analyzer's name matching; the rest append
        by_norm = {norm(f): f for f in fields}
        names = [by_norm.get(norm(c), c) for c in columns]
        replaced = set(names) & set(fields)
        names += [f for f in fields if f not in replaced]
        return [fields[c] if c in fields else _quoted(c) for c in names], names

    def _skip_condition(self, reads, ph_cols) -> Column | None:
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
            if ph.record_key not in reads:
                continue  # never inserted (geodata lacks the key, rb:191)
            hit = reads[ph.record_key].hit
            val, _ = ph_cols[ph.text]
            terms.append(prev_no_hit & hit & val.isNull())
            prev_no_hit = prev_no_hit & ~hit
        skip_cond = prev_no_hit  # nothing survived → placeholder {} → skip
        for t in terms:
            skip_cond = skip_cond | t
        return skip_cond

    def _output_column(self, out_field: str, template: str, ph_cols,
                       skip_cond: Column | None, exists: bool) -> Column:
        """add_geoip_field (rb:124-137): one template's output Column."""
        col = compile_template(template, ph_cols)
        if skip_cond is not None:
            # skipped rows keep their pre-existing value (record returned
            # unmodified, rb:122-123); fields that did not pre-exist stay
            # null (fixed-schema DataFrame restatement of "not added").
            existing = _quoted(out_field) if exists else F.lit(None)
            col = F.when(skip_cond, existing).otherwise(col)
        return col.alias(out_field)

    def _placeholder_column(self, ph, reads) -> tuple[Column, str]:
        dtype = self.db.attr_type(ph.geoip_key)
        if ph.record_key not in reads:
            # unknown record key → placeholder never set → nil (rb:191)
            return typed_null(dtype), dtype
        read = reads[ph.record_key]
        raw = F.col(read.columns[ph.geoip_key])
        leaf = ph.geoip_key.rsplit(".", 1)[-1]
        if leaf in ("latitude", "longitude"):
            # hit with nil lat/lon → 0.0 default (rb:192-198, test:456-480)
            raw = F.coalesce(raw, F.lit(0.0))
        col = F.when(read.hit, raw).otherwise(typed_null(dtype))
        return col, dtype

