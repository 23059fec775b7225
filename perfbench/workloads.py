"""The workloads and the traced layer probes.

Each workload runs inside one process and one Spark session:

1. inputs and the oracle's expected output, from the seed, untimed;
2. set-up, repeated ``SETUP_REPS`` times: load the ``.mmdb`` database,
   build the pipeline, run it over ``WARM_ROWS`` pages;
3. the first full-size run (it pays for the full-size plans' code
   generation) and one warm-up run, both outside the window, then the
   measured window of ``--seconds`` of warm runs, with the speed probe
   running; every run is checked against the oracle;
4. with ``--trace 1`` only, the per-layer probes, among them the
   open-loop stream.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
import time

import pyarrow.parquet as pq

from . import inputs, oracle
from .harness import (
    OUT_ROOT, SpeedProbe, StageMeter, Tracer, percentile, persistent_rdd_ids,
    quartiles, restart_session, summary, tree_cpu_s, tree_peak_rss_mb,
)

SETUP_REPS = 3
WARM_ROWS = 1000
MIN_WARM_REPS = 3
# runs before the measured window: the first full-size run, then one
# more, whose CPU time still carries the JIT's warm-up (10-30% above the
# later runs on a 4-vCPU VM)
WARM_FROM = 2
# the speed probe's loop takes about this much CPU time on a quiet 4-vCPU
# VM; ``cpu_norm_s`` is a run's CPU time scaled to that speed
PROBE_REF_S = 1e-3

# input sizes; SMOKE_SIZES drive ``run.py --smoke``. "stream" sizes the
# open-loop stream probe of the traced runs: files of ``file_rows`` pages
# landing at ``rate`` files/s, below the ~1 file per 1.5 s batch that
# per-batch fixed cost allows, so the backlog stays bounded.
SIZES = {
    "batch_route": {"rows": 100_000, "files": 4},
    "rollup_bigdb": {"rows": 30_000, "files": 4, "n4": 8_192, "n6": 4_096},
    "stream": {"files": 8, "file_rows": 2_500, "rate": 1.0},
}
SMOKE_SIZES = {
    "batch_route": {"rows": 5_000, "files": 2},
    "rollup_bigdb": {"rows": 3_000, "files": 2, "n4": 1_024, "n6": 256},
    "stream": {"files": 3, "file_rows": 500, "rate": 2.0},
}

END_TO_END = [("setup_s", "s"), ("cpu_norm_s", "s"),
              ("rows_per_cpu_norm_s", "rows/s")]
PER_LAYER = [
    ("route.s", "s"), ("route.list_s", "s"), ("route.files", "count"),
    ("route.bytes", "bytes"), ("route.sinks", "count"),
    ("route.max_sink_share", "ratio"),
    ("sources.mmdb_load_s", "s"), ("sources.ranges_v4", "count"),
    ("sources.ranges_v6", "count"),
    ("geolookup.table_build_s", "s"), ("geolookup.table_rows_v4", "count"),
    ("geolookup.table_rows_v6", "count"),
    ("geolookup.max_bucket_rows_v4", "count"),
    ("geolookup.max_bucket_rows_v6", "count"),
    ("enrich.s", "s"), ("enrich.hit_ratio", "ratio"),
    ("enrich.v6_rows", "count"),
    ("parse.s", "s"), ("parse.rows_in", "count"),
    ("parse.ip_ok_ratio", "ratio"),
    ("aggregate.s", "s"), ("aggregate.groups", "count"),
    ("stream.batch_s", "s"), ("stream.add_batch_s", "s"),
    ("stream.planning_s", "s"), ("stream.batches", "count"),
    ("stream.rows_per_batch", "count"),
    ("stream.latency_p50_s", "s"), ("stream.latency_p90_s", "s"),
    ("stream.backlog_max_files", "files"),
    ("stream.generator_late_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.tasks", "count"), ("spark.gc_s", "s"), ("spark.task_cpu_s", "s"),
    ("pipeline.run_s", "s"), ("pipeline.rows_per_s", "rows/s"),
    ("pipeline.cpu_s", "s"), ("pipeline.probe_ms", "ms"),
    ("pipeline.first_run_s", "s"), ("pipeline.scaling_eff_1to4", "ratio"),
    ("jvm.jit_cpu_s", "s"),
    ("pipeline.peak_rss_mb", "MB"),
    ("trace.overhead_frac", "ratio"),
]


class Bench:
    """State of one workload invocation: inputs, results, failures."""

    def __init__(self, name: str, spark, work, tracer: Tracer, seed: int,
                 seconds: float, cores: int, session_s: float, sizes: dict):
        self.name, self.spark, self.work, self.tracer = name, spark, work, tracer
        self.seed, self.seconds, self.cores = seed, seconds, cores
        self.session_s, self.size = session_s, sizes[name]
        self.stream_size = sizes["stream"]
        self.probe = None
        self.routed = name == "batch_route"
        self.pages_dir, self.warm_dir = self.sub("pages"), self.sub("warm")
        self.job_out = self.sub("routed") if self.routed else None
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.detail: dict = {"workload": name, "seed": seed, "cores": cores,
                             "size": dict(self.size)}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.captured: dict[str, object] = {}

    def sub(self, *parts: str) -> str:
        """A scratch path of this workload."""
        return self.work.sub(self.name, *parts)

    @contextlib.contextmanager
    def phase(self, name: str):
        """Wall time of one phase of the invocation, into the detail."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.detail.setdefault("phase_s", {})[name] = \
                time.perf_counter() - t0

    def attempt(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(what)

    # -- inputs -------------------------------------------------------------

    def stage(self, networks: list, table: inputs.RangeTable, ips_fn) -> tuple:
        """Build the ``.mmdb``, write the job's and the warm-up's pages;
        ``ips_fn(n, salt)`` draws client addresses. Returns the job's
        (texts, langs) for the oracle."""
        from fluent_plugin_geoip_spark.sources.mmdb import build_mmdb
        os.makedirs(self.sub("db"), exist_ok=True)
        self.db_bytes, self.db_copy = build_mmdb(networks), 0
        self.table, self.ips_fn = table, ips_fn
        t = inputs.pages_table(ips_fn(self.size["rows"], 1), self.seed)
        inputs.write_pages(self.pages_dir, t, self.size["files"])
        warm = inputs.pages_table(ips_fn(WARM_ROWS, 9), self.seed)
        inputs.write_pages(self.warm_dir, warm, 1)
        return t.column("text").to_pylist(), t.column("lang").to_pylist()

    # -- the program's calls ------------------------------------------------

    def load_db(self):
        """A fresh copy per load, so no load is served from the library's
        per-path database cache."""
        from fluent_plugin_geoip_spark.operators.geolookup import GeoDatabase
        self.db_copy += 1
        path = self.sub("db", f"copy{self.db_copy}.mmdb")
        with open(path, "wb") as f:
            f.write(self.db_bytes)
        with self.tracer.span("sources.mmdb_load"):
            return GeoDatabase.from_mmdb(path)

    def make_pipeline(self, db):
        from fluent_plugin_geoip_spark.plans.pipeline import GeoipPipeline
        with self.tracer.span("plans.pipeline.build"):
            if self.routed:
                return GeoipPipeline(self.spark, database=db)
            return GeoipPipeline(self.spark, database=db, enable_asn=True,
                                 asn_database=db)

    def run_job(self, pipe, pages_dir: str, out_dir: str | None):
        """One run of the workload's job; returns what the oracle checks:
        rows per sink from the manifest of the routed run, or the
        (country, lang) counts of the aggregate-only run."""
        pages = self.spark.read.parquet(pages_dir)
        if self.routed:
            res = pipe.run(pages, out_dir=out_dir)
            return {k: v["rows"] for k, v in res.manifest.items()}
        res = pipe.run(pages)
        got = {(r["country"], r["lang"]): r["n"] for r in res.counts.collect()}
        res.counts.unpersist()  # no later run may reuse this cached aggregate
        return got

    def timed_job(self, pipe) -> tuple[dict, object]:
        """One full-size run of the job: its times, and what the oracle
        checks. ``s`` is wall time; ``cpu_s`` the CPU time of the process
        tree (Spark driver and tasks, GC, Python) without the JIT compiler
        threads, whose time is ``jit_cpu_s``; ``stages`` the run's Spark
        stage counters, among them its tasks' CPU time."""
        if self.routed:
            shutil.rmtree(self.job_out, ignore_errors=True)
        meter = StageMeter(self.spark)
        meter.mark()
        skip = self.probe.proc.pid if self.probe else -1
        (c0, j0), t0 = tree_cpu_s(skip), time.perf_counter()
        m0 = time.monotonic()
        with self.tracer.span("run"):
            got = self.run_job(pipe, self.pages_dir, self.job_out)
        dt = time.perf_counter() - t0
        m1 = time.monotonic()
        c1, j1 = tree_cpu_s(skip)
        return {"s": dt, "cpu_s": (c1 - j1) - (c0 - j0), "jit_cpu_s": j1 - j0,
                "span": (m0, m1), "stages": meter.delta()}, got

    # -- phases -------------------------------------------------------------

    def setup(self):
        """Repeated set-up; ``setup_s`` is session start-up plus the median
        set-up repetition."""
        times = []
        for r in range(SETUP_REPS):
            self.tracer.run_id = f"setup{r}"
            out = self.sub(f"warm_out{r}") if self.routed else None
            t0 = time.perf_counter()
            with self.tracer.span("setup"):
                db = self.load_db()
                pipe = self.make_pipeline(db)
                with self.tracer.span("setup.warmup"):
                    self.run_job(pipe, self.warm_dir, out)
            times.append(time.perf_counter() - t0)
        self.metrics["setup_s"] = self.session_s + quartiles(times)[1]
        self.detail["setup_rep_s"] = times
        self.detail["session_s"] = self.session_s
        self.layers["sources.ranges_v4"] = len(db.starts)
        self.layers["sources.ranges_v6"] = len(db.starts6)
        self.layers["sources.mmdb_load_s"] = quartiles(
            self.tracer.durations("sources.mmdb_load"))[1]
        self.pipe = pipe

    def _runs(self, expected, runs: list, traced: list) -> None:
        """The runs of :meth:`window`, appended to ``runs`` (None for a
        run that raised) and ``traced``."""
        rep, deadline = 0, None
        while deadline is None or rep < WARM_FROM + MIN_WARM_REPS \
                or time.perf_counter() < deadline:
            if rep == WARM_FROM:
                deadline = time.perf_counter() + self.seconds
            on = self.tracer.enabled and rep % 2 == 0
            if self.tracer.enabled and not on:
                self.tracer.unwrap_all()
            self.tracer.run_id = rep
            before = persistent_rdd_ids(self.spark)
            try:
                times, got = self.timed_job(self.pipe)
            except Exception as e:  # a failed run counts, the window goes on
                self.attempt(False, f"rep {rep} raised {e!r}"[:300])
                times = None
            else:
                leaked = persistent_rdd_ids(self.spark) - before
                self.attempt(got == expected and not leaked,
                             f"rep {rep}: output differs from the oracle "
                             f"or cached RDDs {sorted(leaked)} outlived it")
            finally:
                if self.tracer.enabled and not on:
                    install_wraps(self)
            runs.append(times)
            traced.append(on)
            rep += 1

    def window(self, expected) -> None:
        """The first full-size run and WARM_FROM - 1 warm-up runs, then
        warm runs until ``seconds`` have passed and at least MIN_WARM_REPS
        were made. Every run is checked against the oracle and must leave
        no cached RDD behind. With tracing on, warm runs alternate between
        traced and untraced. Each run's CPU time is scaled by the speed
        probe's readings during it to the reference host's speed."""
        runs, traced = [], []
        self.probe = SpeedProbe()
        try:
            self._runs(expected, runs, traced)
        finally:
            samples = self.probe.stop()
            self.probe = None
        for r in runs:
            if r:
                a, b = r.pop("span")
                r["probe_s"] = quartiles(
                    [c for t, c in samples if a <= t <= b])[1]
                r["cpu_norm_s"] = r["cpu_s"] * PROBE_REF_S / r["probe_s"]
        warm = [(r, tr) for r, tr in zip(runs[WARM_FROM:], traced[WARM_FROM:])
                if r is not None]
        if runs[0] is None or not warm:
            raise RuntimeError("the first run or every warm run failed")
        rows = self.size["rows"]

        def med(values) -> float:
            return quartiles(list(values))[1]
        norm = med(r["cpu_norm_s"] for r, _ in warm)
        run_s = med(r["s"] for r, _ in warm)
        self.metrics["cpu_norm_s"] = norm
        self.metrics["rows_per_cpu_norm_s"] = rows / norm
        self.layers["pipeline.run_s"] = run_s
        self.layers["pipeline.rows_per_s"] = rows / run_s
        self.layers["pipeline.cpu_s"] = med(r["cpu_s"] for r, _ in warm)
        self.layers["pipeline.probe_ms"] = \
            1e3 * med(r["probe_s"] for r, _ in warm)
        self.layers["pipeline.first_run_s"] = runs[0]["s"]
        self.layers["jvm.jit_cpu_s"] = med(r["jit_cpu_s"] for r, _ in warm)
        self.stages = {k: med(r["stages"][k] for r, _ in warm)
                       for k in warm[0][0]["stages"]}
        for key in ("cpu_norm_s", "cpu_s", "s", "jit_cpu_s", "probe_s"):
            self.detail[f"run.{key}"] = summary([r[key] for r, _ in warm])
        self.detail["run.task_cpu_s"] = summary(
            [r["stages"]["task_cpu_s"] for r, _ in warm])
        self.detail["runs"] = [
            r and {k: v for k, v in r.items() if k != "stages"} for r in runs]
        on = [r["s"] for r, tr in warm if tr]
        off = [r["s"] for r, tr in warm if not tr]
        if on and off:
            self.layers["trace.overhead_frac"] = \
                quartiles(on)[1] / quartiles(off)[1] - 1.0


# ---------------------------------------------------------------------------
# tracing hooks


def install_wraps(b: Bench) -> None:
    """Span-recording shims at the library's module boundaries."""
    from fluent_plugin_geoip_spark.operators import geolookup, route
    from fluent_plugin_geoip_spark.plans import pipeline
    from fluent_plugin_geoip_spark.streaming import stream
    t = b.tracer
    t.wrap(pipeline, "route_and_write", "operators.route.route_and_write")
    t.wrap(pipeline, "parse_pages", "operators.parse.parse_pages")
    t.wrap(pipeline.GeoipPipeline, "enrich", "plans.pipeline.enrich")
    t.wrap(route, "list_partition_values", "operators.route.list")
    t.wrap(route, "sink_file_stats", "operators.route.list")

    def capture(fn_name: str):
        orig = getattr(geolookup, fn_name)

        def keep(*a, **kw):
            out = orig(*a, **kw)
            b.captured[fn_name] = out
            return out
        setattr(geolookup, fn_name, keep)
        t._wrapped.append((geolookup, fn_name, orig))
        t.wrap(geolookup, fn_name, "operators.geolookup.table_build")

    capture("expanded_bucket_table")
    capture("expanded_bucket_table_v6")

    orig_factory = stream.make_batch_handler

    def traced_factory(*a, **kw):
        handler = orig_factory(*a, **kw)

        def handle(df, batch_id):
            with t.span("streaming.stream.batch"):
                return handler(df, batch_id)
        return handle
    stream.make_batch_handler = traced_factory
    t._wrapped.append((stream, "make_batch_handler", orig_factory))


# ---------------------------------------------------------------------------
# workloads


def batch_route(b: Bench) -> None:
    """The flagship job: world database, routed to per-country sinks."""
    from fluent_plugin_geoip_spark.operators.route import per_sink_counts
    with b.phase("inputs"):
        nets, table = inputs.world_networks()
        texts, _ = b.stage(nets, table,
                           lambda n, salt: inputs.world_ips(n, b.seed, salt))
        expected = oracle.sink_rows(texts, table)
    with b.phase("setup"):
        b.setup()
    with b.phase("runs"):
        b.window(expected)
    back = {r["route_country"]: r["rows"]
            for r in per_sink_counts(b.job_out).collect()}
    b.attempt(back == expected, f"read-back {back} != {expected}")


def rollup_bigdb(b: Bench) -> None:
    """City + ASN rollup against the large dual-stack database, no sink."""
    with b.phase("inputs"):
        nets, table = inputs.big_networks(b.size["n4"], b.size["n6"], b.seed)
        texts, langs = b.stage(nets, table,
                               lambda n, salt: inputs.big_ips(
                                   n, table, b.seed, salt=salt))
        expected = oracle.country_lang_rows(texts, langs, table)
    b.detail["v6_text_rows"] = sum(":" in oracle.client_ip(t) for t in texts)
    with b.phase("setup"):
        b.setup()
    with b.phase("runs"):
        b.window(expected)


WORKLOADS = {"batch_route": batch_route, "rollup_bigdb": rollup_bigdb}


def _route_shape(b: Bench, manifest: dict) -> None:
    rows = [v["rows"] or 0 for v in manifest.values()]
    b.layers["route.files"] = sum(v.get("files", 0) for v in manifest.values())
    b.layers["route.bytes"] = sum(v.get("bytes", 0) for v in manifest.values())
    b.layers["route.sinks"] = len(manifest)
    b.layers["route.max_sink_share"] = max(rows) / max(1, sum(rows))


# ---------------------------------------------------------------------------
# per-layer probes (traced runs only)


def _timed_noop(df, obs_exprs) -> tuple[float, dict]:
    """Run ``df`` into the no-op sink twice (the second run is timed) with
    ``obs_exprs`` observed in the same job."""
    from pyspark.sql import Observation
    t = None
    for _ in range(2):
        obs = Observation("perfbench")
        t0 = time.perf_counter()
        df.observe(obs, *obs_exprs).write.format("noop").mode("overwrite").save()
        t = time.perf_counter() - t0
    return t, obs.get


def probe_layers(b: Bench) -> None:
    from pyspark.sql import functions as F
    from fluent_plugin_geoip_spark.operators.aggregate import (
        country_lang_counts,
    )
    from fluent_plugin_geoip_spark.operators.parse import parse_pages
    from fluent_plugin_geoip_spark.operators.route import route_and_write
    t = b.tracer
    t.run_id = "probe"
    pages = b.spark.read.parquet(b.pages_dir)

    ip = F.col("client_ip")
    ip_ok = ip.rlike(r"^\d{1,3}(\.\d{1,3}){3}$") | \
        (ip.contains(":") & ip.rlike(r"^[0-9A-Fa-f:.]+$"))
    with t.span("probe.parse"):
        parse_s, m = _timed_noop(parse_pages(pages), [
            F.count(F.lit(1)).alias("rows"),
            F.count(F.when(ip_ok, 1)).alias("ok")])
    b.layers["parse.s"] = parse_s
    b.layers["parse.rows_in"] = m["rows"]
    b.layers["parse.ip_ok_ratio"] = m["ok"] / max(1, m["rows"])

    with t.span("probe.enrich"):
        enr_s, m = _timed_noop(b.pipe.enrich(pages), [
            F.count(F.lit(1)).alias("rows"),
            F.count(F.col("country")).alias("hit"),
            F.count(F.when(ip.contains(":"), 1)).alias("v6")])
    b.layers["enrich.s"] = max(0.0, enr_s - parse_s)
    b.layers["enrich.hit_ratio"] = m["hit"] / max(1, m["rows"])
    b.layers["enrich.v6_rows"] = m["v6"]

    enriched = b.pipe.enrich(pages).cache()
    enriched.count()
    with t.span("probe.aggregate"):
        for _ in range(2):
            t0 = time.perf_counter()
            groups = country_lang_counts(enriched).collect()
            agg_s = time.perf_counter() - t0
    b.layers["aggregate.s"] = agg_s
    b.layers["aggregate.groups"] = len(groups)

    # geolookup tables as built during the last set-up repetition
    last = f"setup{SETUP_REPS - 1}"
    b.layers["geolookup.table_build_s"] = sum(
        t.durations("operators.geolookup.table_build", last))
    v4 = b.captured.get("expanded_bucket_table")
    v6 = b.captured.get("expanded_bucket_table_v6")
    for tag, df, col in (("v4", v4, "__gb"),
                         ("v6", v6[0] if v6 else None, "__g6b")):
        if df is None:
            rows = peak = 0
        else:
            rows = df.count()
            peak = df.groupBy(col).count().agg(F.max("count")).first()[0]
        b.layers[f"geolookup.table_rows_{tag}"] = rows
        b.layers[f"geolookup.max_bucket_rows_{tag}"] = peak or 0

    # the router alone: route_and_write over the cached, materialised
    # enriched frame (the job's own call runs the whole lazy plan), with
    # the arguments GeoipPipeline.run passes; the second call is timed
    frame = enriched.select(*[c for c in enriched.columns if c != "access"])
    with t.span("probe.route"):
        for i in range(2):
            t.run_id = f"probe.route{i}"
            t0 = time.perf_counter()
            manifest, _ = route_and_write(frame, b.sub(f"route_probe{i}"),
                                          stat_cols=("lang",))
            b.layers["route.s"] = time.perf_counter() - t0
    b.layers["route.list_s"] = sum(
        t.durations("operators.route.list", "probe.route1"))
    _route_shape(b, manifest)
    enriched.unpersist()
    t.run_id = "probe"
    run_s = b.layers["pipeline.run_s"]
    b.detail["share_of_run_s"] = {
        k: b.layers[f"{k}.s"] / run_s
        for k in ("parse", "enrich", "route", "aggregate")}

    for k in ("shuffle_write_bytes", "spill_bytes", "tasks", "gc_s",
              "task_cpu_s"):
        b.layers[f"spark.{k}"] = b.stages[k]

    probe_stream(b)
    _probe_scaling(b)


def probe_stream(b: Bench) -> None:
    """The workload's pipeline through ``start_pipeline_stream`` as an open
    loop: page files staged beforehand are renamed into the source
    directory on a fixed schedule by one thread, whatever the stream does.
    A file's latency runs from when it was due to the commit of the lineage
    file of the micro-batch that read it. The routed totals are checked
    against the oracle."""
    from fluent_plugin_geoip_spark.streaming.stream import (
        start_pipeline_stream, stream_sink_counts,
    )
    n_files, fr, rate = (b.stream_size[k] for k in ("files", "file_rows",
                                                     "rate"))
    stage, src = b.sub("stream_stage"), b.sub("stream_src")
    out, ckpt = b.sub("stream_out"), b.sub("stream_ckpt")
    os.makedirs(stage)
    os.makedirs(src)
    texts = []
    for i in range(n_files):
        tbl = inputs.pages_table(b.ips_fn(fr, 100 + i), b.seed,
                                 first_id=i * fr)
        pq.write_table(tbl, os.path.join(stage, f"f{i:05d}.parquet"))
        texts += tbl.column("text").to_pylist()
    expected = oracle.sink_rows(texts, b.table)

    b.tracer.run_id = "stream"
    due, landed = [], []

    def land():
        t0, w0 = time.monotonic(), time.time()
        for i in range(n_files):
            wait = t0 + i / rate - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            os.rename(os.path.join(stage, f"f{i:05d}.parquet"),
                      os.path.join(src, f"f{i:05d}.parquet"))
            landed.append(time.time())
            due.append(w0 + i / rate)

    with b.tracer.span("probe.stream"):
        query = start_pipeline_stream(b.spark, src, out, ckpt, pipeline=b.pipe)
        gen = threading.Thread(target=land, name="perfbench-generator")
        gen.start()
        gen.join()
        lineage = os.path.join(out, "_lineage", "batches")
        progress = _drain(query, lineage, n_files * fr)
        err = query.exception()
        query.stop()
    b.attempt(err is None, f"stream query failed: {err}")
    got = stream_sink_counts(out)
    b.attempt(got == expected, f"stream totals {got} != {expected}")

    batch_of = _file_batches(ckpt)
    commit = {bid: os.stat(os.path.join(lineage, f"batch-{bid}.json")).st_mtime
              for bid in set(batch_of.values())
              if os.path.exists(os.path.join(lineage, f"batch-{bid}.json"))}
    lat, events = [], []
    for i in range(n_files):
        bid = batch_of.get(f"f{i:05d}.parquet")
        if bid not in commit:
            b.attempt(False, f"stream file {i} never committed")
            continue
        lat.append(commit[bid] - due[i])
        events += [(landed[i], 1), (commit[bid], -1)]
    if not lat or not progress:
        raise RuntimeError("the stream committed no batch")
    backlog = peak = 0
    for _, d in sorted(events, key=lambda e: (e[0], -e[1])):
        backlog += d
        peak = max(peak, backlog)
    ms = [p["durationMs"] for p in progress]
    late = [l - d for l, d in zip(landed, due)]
    b.layers.update({
        "stream.batch_s": quartiles([m["triggerExecution"] / 1e3
                                     for m in ms])[1],
        "stream.add_batch_s": quartiles([m.get("addBatch", 0) / 1e3
                                         for m in ms])[1],
        "stream.planning_s": quartiles([m.get("queryPlanning", 0) / 1e3
                                        for m in ms])[1],
        "stream.batches": len(progress),
        "stream.rows_per_batch": quartiles([p["numInputRows"]
                                            for p in progress])[1],
        "stream.latency_p50_s": quartiles(lat)[1],
        "stream.latency_p90_s": percentile(lat, 90),
        "stream.backlog_max_files": peak,
        "stream.generator_late_s": max(late),
    })
    b.detail["stream"] = {"files": n_files, "rows_per_file": fr,
                          "rate_files_per_s": rate, "latency_s": summary(lat),
                          "generator_late_p50_s": quartiles(late)[1]}


def _committed_rows(lineage: str) -> int:
    total = 0
    try:
        names = os.listdir(lineage)
    except FileNotFoundError:
        return 0
    for n in names:
        if n.startswith("batch-") and n.endswith(".json"):
            with open(os.path.join(lineage, n)) as f:
                total += sum(json.load(f)["sinks"].values())
    return total


def _drain(query, lineage: str, total: int,
           timeout: float = 60.0) -> list[dict]:
    """Wait until the stream has committed ``total`` rows and reported
    progress for all of them (progress lags the batch's own writes);
    returns the progress of the non-empty micro-batches."""
    deadline = time.monotonic() + timeout
    progress: list[dict] = []
    while time.monotonic() < deadline and query.exception() is None:
        if _committed_rows(lineage) >= total:
            progress = [p if isinstance(p, dict) else json.loads(p.json)
                        for p in query.recentProgress]
            progress = [p for p in progress if p["numInputRows"] > 0]
            if sum(p["numInputRows"] for p in progress) >= total:
                break
        time.sleep(0.05)
    return progress


def _file_batches(ckpt: str) -> dict[str, int]:
    """Source file name → micro-batch id, from the file source's log."""
    d = os.path.join(ckpt, "sources", "0")
    out = {}
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[rec["path"].rsplit("/", 1)[-1]] = rec["batchId"]
    return out


def _probe_scaling(b: Bench) -> None:
    """One warm run of the workload's job at all cores, then one at a
    single core (a new SparkContext on the same JVM, set up and warmed
    again): efficiency = t_1 / (cores × t_cores). The session is back at
    all cores afterwards."""
    with b.tracer.span("probe.scaling"):
        t_n = b.timed_job(b.pipe)[0]["s"]
        b.spark = restart_session(b.spark, 1)
        try:
            pipe = b.make_pipeline(b.load_db())
            b.run_job(pipe, b.warm_dir, b.sub("warm_out1core"))
            t_1 = b.timed_job(pipe)[0]["s"]
        finally:
            b.spark = restart_session(b.spark, b.cores)
    b.layers["pipeline.scaling_eff_1to4"] = t_1 / (b.cores * t_n)
    b.detail["scaling"] = {"t_cores_s": t_n, "t_1_s": t_1}


def finish_trace(b: Bench) -> None:
    b.detail["spans"] = len(b.tracer.spans)
    b.detail["self_s"] = b.tracer.self_times()
    path = os.path.join(OUT_ROOT, f"trace-{b.name}-seed{b.seed}.json")
    b.tracer.dump(path, {"workload": b.name, "seed": b.seed,
                         "layers": b.layers})
    b.detail["trace_file"] = os.path.relpath(path, os.path.dirname(OUT_ROOT))


def run_workload(name: str, spark, work, seed: int, seconds: float,
                 cores: int, trace: bool, session_s: float,
                 sizes: dict = SIZES) -> Bench:
    b = Bench(name, spark, work, Tracer(trace), seed, seconds, cores,
              session_s, sizes)
    if trace:
        install_wraps(b)
    try:
        WORKLOADS[name](b)
        if trace:
            b.layers["pipeline.peak_rss_mb"] = tree_peak_rss_mb()
            with b.phase("probes"):
                probe_layers(b)
            finish_trace(b)
    finally:
        b.tracer.unwrap_all()
    return b
