"""spark-submit entry point (north rule: "run via spark-submit
--py-files on a multi-executor cluster").

Cluster:
    zip -r emf_spark.zip emf_spark
    spark-submit --py-files emf_spark.zip emf_spark/cli.py \
        --input s3://.../emf_tokenized --out s3://.../emf_out \
        --window-ms 60000 [--key-by-namespace] [--resumable]

Local:
    python -m emf_spark.cli --input ... --out ... [--cpus 32]

When launched by spark-submit the active SparkSession's master/resources
are used as-is; --cpus only applies when the script has to create its
own local session.
"""

from __future__ import annotations

import argparse
import json
import sys


def _get_session(cpus=None):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    import os

    if os.environ.get("PYSPARK_GATEWAY_PORT"):
        # Launched by spark-submit: the already-running JVM gateway
        # carries the submitted --master/--conf. Forcing
        # .master(local[cpus]) here would silently override the
        # cluster's master, so fill in our tuning defaults ONLY where
        # the submitter didn't specify, and never touch spark.master.
        from pyspark import SparkConf

        from emf_spark.session import DEFAULT_CONF

        submitted = dict(SparkConf().getAll())
        builder = SparkSession.builder.appName("emf_spark_cli")
        for k, v in DEFAULT_CONF.items():
            # driver memory is fixed once the JVM exists — only
            # spark-submit's --driver-memory can set it
            if k != "spark.driver.memory" and k not in submitted:
                builder = builder.config(k, v)
        return builder.getOrCreate()
    from emf_spark.session import get_spark

    return get_spark("emf_spark_cli", cpus=cpus)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="EMF parse->enrich->route->aggregate")
    ap.add_argument("--input", required=True, help="tokenized table path/dir")
    ap.add_argument("--out", required=True, help="output root")
    ap.add_argument("--window-ms", type=int, default=60_000)
    ap.add_argument("--key-by-namespace", action="store_true")
    ap.add_argument("--resumable", action="store_true",
                    help="write events through the lineage manifest, "
                         "skipping the cells an earlier run completed")
    ap.add_argument("--cpus", type=int, default=None,
                    help="local-mode cores (ignored under spark-submit)")
    args = ap.parse_args(argv)

    spark = _get_session(args.cpus)

    from emf_spark import pipeline

    res = pipeline.run(
        spark,
        args.input,
        args.out,
        window_ms=args.window_ms,
        key_by_namespace=args.key_by_namespace,
        resumable=args.resumable,
    )
    if args.resumable:
        print(json.dumps({
            "resumable": res.lineage["written_rows"], "run_id": res.lineage["run_id"]
        }))
    stats = [r.asDict() for r in res.stats.collect()]
    print(json.dumps({"out": args.out, "stats": stats}, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
