"""spark-submit entry point for the flagship pipeline.

Packaging (BASELINE.json:6,14 — "ships via spark-submit --py-files"):

    python scripts/build_pyfiles.py           # → dist/fluent_plugin_geoip_spark.zip
    spark-submit --py-files dist/fluent_plugin_geoip_spark.zip \
        job.py --input s3://bucket/pages --output s3://bucket/routed

or run the module directly on a cluster/locally:

    spark-submit --py-files dist/fluent_plugin_geoip_spark.zip \
        -m fluent_plugin_geoip_spark  (PySpark ≥3.4: use a thin job.py wrapper)

Arguments (run):
    --input DIR       parquet pages input (url, warc_ts, html, text, lang);
                      omit to generate --rows synthetic pages
    --output DIR      routed per-country sink root (fan-out + lineage)
    --rows N          synthetic input size when --input is omitted
    --resume          skip partitions already recorded in the lineage manifest
    --streaming       treat --input as a stream source (checkpointed)
    --checkpoint DIR  checkpoint dir for --streaming

Subcommand ``dump`` (counterpart of the reference's utils/dump.rb:18-27 —
print the raw per-backend lookup document for one or more IPs; driver-side
only, no Spark session):

    python -m fluent_plugin_geoip_spark dump [--mmdb PATH | --dat PATH] \\
        [--backend geoip2_c|geoip2_compat|geoip] 66.102.3.80 ...
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def dump_main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="fluent_plugin_geoip_spark dump")
    p.add_argument("ips", nargs="+", metavar="IP")
    p.add_argument("--mmdb", help=".mmdb path (default: bundled fixture DB)")
    p.add_argument("--dat", help="legacy GeoCityLite .dat path "
                                 "(implies --backend geoip)")
    p.add_argument("--backend", default="geoip2_c",
                   choices=["geoip2_c", "geoip2_compat", "geoip"])
    args = p.parse_args(argv)

    from .operators.geolookup import GeoDatabase
    if args.dat:
        args.backend = "geoip"
        db = GeoDatabase.from_dat(args.dat)
    elif args.mmdb:
        db = GeoDatabase.from_mmdb(args.mmdb, profile=args.backend)
    elif args.backend == "geoip":
        from .sources.fixtures import geoip_legacy_db
        db = geoip_legacy_db()
    else:
        from .sources.fixtures import geoip2_city_db, geoip2_compat_db
        db = (geoip2_city_db() if args.backend == "geoip2_c"
              else geoip2_compat_db())
    for ip in args.ips:
        doc = db.lookup_doc(ip)
        print(json.dumps({"ip": ip, "backend": args.backend, "record": doc},
                         sort_keys=True))
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if argv and argv[0] == "dump":
        return dump_main(argv[1:])
    if argv and argv[0] == "run":
        argv = argv[1:]
    p = argparse.ArgumentParser(prog="fluent_plugin_geoip_spark")
    p.add_argument("--input")
    p.add_argument("--output", required=True)
    p.add_argument("--rows", type=int, default=1_000_000)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--streaming", action="store_true")
    p.add_argument("--checkpoint")
    args = p.parse_args(argv)

    from .session import build_session
    spark = build_session(app_name="fluent_plugin_geoip_spark")
    spark.sparkContext.setLogLevel("WARN")

    from .plans.pipeline import GeoipPipeline
    from .sources.pages import generate_pages

    pipe = GeoipPipeline(spark)

    if args.streaming:
        if not args.input or not args.checkpoint:
            p.error("--streaming requires --input and --checkpoint")
        from .streaming.stream import start_pipeline_stream
        q = start_pipeline_stream(spark, args.input, args.output,
                                  args.checkpoint, pipeline=pipe)
        q.awaitTermination()
        return 0

    pages = (spark.read.parquet(args.input) if args.input
             else generate_pages(spark, args.rows))
    result = pipe.run(pages, out_dir=args.output, resume=args.resume)
    print(json.dumps({"metrics": result.metrics,
                      "sinks": {k: v["rows"] for k, v in result.manifest.items()}},
                     sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
