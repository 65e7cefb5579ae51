"""spark-submit entry point (north rule: "run via spark-submit
--py-files on a multi-executor cluster").

Cluster:
    zip -r emf_spark.zip emf_spark
    spark-submit --py-files emf_spark.zip emf_spark/cli.py \
        --input s3://.../emf_tokenized --out s3://.../emf_out \
        --window-ms 60000 [--key-by-namespace] [--no-routed] [--resumable]

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


def datax_main(argv) -> int:
    """Training-data ops surface:

    python -m emf_spark.cli datax dedup --docs D --out O [--method minhash]
    python -m emf_spark.cli datax decontaminate --train T --test E --out O [--k 13]
    python -m emf_spark.cli datax textstats --docs D --out O
    python -m emf_spark.cli datax ann-buckets --embeddings E --out O [--n-planes 8]
    python -m emf_spark.cli datax pii --docs D --out O
    python -m emf_spark.cli datax vocab --docs D --out O [--k 50000]
    python -m emf_spark.cli datax dedup-ingest --docs D --store S --out O
    python -m emf_spark.cli datax compact --path P --out O [--target-mb 128]
    python -m emf_spark.cli datax bpe --docs D --out merges.json [--n-merges 1000]
    python -m emf_spark.cli datax funnel --events E --steps a,b,c --keys user_id --out O
    python -m emf_spark.cli datax sample --docs D --class-col cls --n 1000 --out O
    python -m emf_spark.cli datax sessionize --events E --keys user_id --gap "30 minutes" --out O
    python -m emf_spark.cli datax chunk --docs D --out O [--chunk-tokens 128 --stride 64]
    python -m emf_spark.cli datax mix --docs D --target N --out O [--alpha 0.5]
    python -m emf_spark.cli datax retention --events E --out O [--period week]
    python -m emf_spark.cli datax pagerank --edges G --out O [--iters 10]
    python -m emf_spark.cli datax index --docs D --out O [--max-postings 20]
    python -m emf_spark.cli datax profile --path P --cols a,b,c --out O
    python -m emf_spark.cli datax match --left L --right R --block-col b --out O [--max-dist 2]
    python -m emf_spark.cli datax rate --events E --keys user_id --out O
    python -m emf_spark.cli datax resample --events E --keys user_id --step 3600 --out O
    python -m emf_spark.cli datax burn --events E --error-type error --out O
    python -m emf_spark.cli datax anomalies --events E --keys user_id --out O [--threshold-x 3]
    python -m emf_spark.cli datax triangles --edges G --out O
    python -m emf_spark.cli datax pairs --baskets B --basket-col bk --item-col it --out O
    python -m emf_spark.cli datax linededup --docs D --out O [--max-df 10 --delimiter $'\\n']
    python -m emf_spark.cli datax quality --path P --checks "completeness:c:99:100,unique:id" --out O
    python -m emf_spark.cli datax merge --base B --changes C --keys id --out O [--seq-col seq --op-col op]
    python -m emf_spark.cli datax shards --docs D --epoch 1 --out O [--n-shards 16 --max-records N]
    python -m emf_spark.cli datax select --docs D --target-where "source = 'wiki'" --out O
    """
    ap = argparse.ArgumentParser(prog="emf_spark.cli datax")
    sub = ap.add_subparsers(dest="op", required=True)
    d = sub.add_parser("dedup", help="near/exact duplicate detection")
    d.add_argument("--docs", required=True)
    d.add_argument("--out", required=True)
    d.add_argument("--method", choices=["exact", "minhash", "simhash"], default="minhash")
    d.add_argument("--threshold", type=float, default=0.7)
    d.add_argument("--clusters", action="store_true",
                   help="also write min-id cluster labels for near-dup pairs")
    dc = sub.add_parser("decontaminate", help="train/test k-gram overlap scrub")
    dc.add_argument("--train", required=True)
    dc.add_argument("--test", required=True)
    dc.add_argument("--out", required=True)
    dc.add_argument("--k", type=int, default=13)
    ts = sub.add_parser("textstats", help="token counts + langid + quality + repetition")
    ts.add_argument("--docs", required=True)
    ts.add_argument("--out", required=True)
    ab = sub.add_parser("ann-buckets", help="materialize RP-LSH buckets for pruned ANN probes")
    ab.add_argument("--embeddings", required=True)
    ab.add_argument("--out", required=True)
    ab.add_argument("--n-planes", type=int, default=8)
    pi = sub.add_parser("pii", help="redact PII, keep per-type match counts")
    pi.add_argument("--docs", required=True)
    pi.add_argument("--out", required=True)
    vo = sub.add_parser("vocab", help="corpus top-k token vocabulary")
    vo.add_argument("--docs", required=True)
    vo.add_argument("--out", required=True)
    vo.add_argument("--k", type=int, default=50_000)
    ig = sub.add_parser(
        "dedup-ingest",
        help="incremental minhash: new batch vs signature store, store updated",
    )
    ig.add_argument("--docs", required=True)
    ig.add_argument("--store", required=True)
    ig.add_argument("--out", required=True)
    ig.add_argument("--threshold", type=float, default=0.7)
    co = sub.add_parser("compact", help="rewrite small parquet files to ~target size")
    co.add_argument("--path", required=True)
    co.add_argument("--out", required=True)
    co.add_argument("--target-mb", type=int, default=128)
    bp = sub.add_parser("bpe", help="train BPE merges over the corpus")
    bp.add_argument("--docs", required=True)
    bp.add_argument("--out", required=True, help="merges written as JSON")
    bp.add_argument("--n-merges", type=int, default=1000)
    fu = sub.add_parser("funnel", help="ordered event-funnel summary")
    fu.add_argument("--events", required=True)
    fu.add_argument("--steps", required=True, help="comma-separated event types, in order")
    fu.add_argument("--keys", default="user_id", help="comma-separated unit key columns")
    fu.add_argument("--ts-col", default="ts")
    fu.add_argument("--type-col", default="event_type")
    fu.add_argument("--weak", action="store_true", help="allow same-timestamp next step")
    fu.add_argument("--out", required=True)
    sa = sub.add_parser("sample", help="deterministic class-balanced downsample")
    sa.add_argument("--docs", required=True)
    sa.add_argument("--class-col", required=True)
    sa.add_argument("--n", type=int, required=True, help="max rows per class")
    sa.add_argument("--id-col", default="doc_id")
    sa.add_argument("--salt", default="")
    sa.add_argument("--out", required=True)
    se = sub.add_parser("sessionize", help="gap-based sessionization per key")
    se.add_argument("--events", required=True)
    se.add_argument("--keys", required=True, help="comma-separated key columns")
    se.add_argument("--gap", default="30 minutes")
    se.add_argument("--ts-col", default="ts")
    se.add_argument("--out", required=True)
    ch = sub.add_parser("chunk", help="fixed-size overlapping token windows")
    ch.add_argument("--docs", required=True)
    ch.add_argument("--chunk-tokens", type=int, default=128)
    ch.add_argument("--stride", type=int, default=None)
    ch.add_argument("--min-tokens", type=int, default=1)
    ch.add_argument("--out", required=True)
    mx = sub.add_parser("mix", help="temperature-weighted class resampling")
    mx.add_argument("--docs", required=True)
    mx.add_argument("--class-col", default="source")
    mx.add_argument("--target", type=int, required=True, help="target row count")
    mx.add_argument("--alpha", type=float, default=0.5)
    mx.add_argument("--id-col", default="doc_id")
    mx.add_argument("--out", required=True)
    re_ = sub.add_parser("retention", help="cohort retention triangle")
    re_.add_argument("--events", required=True)
    re_.add_argument("--user-col", default="user_id")
    re_.add_argument("--ts-col", default="ts")
    re_.add_argument("--period", default="week", choices=["week", "day"])
    re_.add_argument("--out", required=True)
    pr = sub.add_parser("pagerank", help="integer-exact dampened PageRank")
    pr.add_argument("--edges", required=True, help="parquet with src/dst columns")
    pr.add_argument("--iters", type=int, default=10)
    pr.add_argument("--damping-pct", type=int, default=85)
    pr.add_argument("--src-col", default="src")
    pr.add_argument("--dst-col", default="dst")
    pr.add_argument("--out", required=True)
    ix = sub.add_parser("index", help="bounded inverted index over the corpus")
    ix.add_argument("--docs", required=True)
    ix.add_argument("--max-postings", type=int, default=20)
    ix.add_argument("--min-df", type=int, default=1)
    ix.add_argument("--out", required=True)
    pf = sub.add_parser("profile", help="per-column null/distinct/min/max profile")
    pf.add_argument("--path", required=True)
    pf.add_argument("--cols", required=True, help="comma-separated column names")
    pf.add_argument("--out", required=True)
    fm = sub.add_parser("match", help="blocked fuzzy entity matching")
    fm.add_argument("--left", required=True)
    fm.add_argument("--right", required=True)
    fm.add_argument("--left-id", default="id")
    fm.add_argument("--left-name", default="name")
    fm.add_argument("--right-id", default="id")
    fm.add_argument("--right-name", default="name")
    fm.add_argument("--block-col", required=True)
    fm.add_argument("--max-dist", type=int, default=2)
    fm.add_argument("--out", required=True)
    ra = sub.add_parser("rate", help="reset-aware counter increase per series")
    ra.add_argument("--events", required=True)
    ra.add_argument("--keys", default="user_id")
    ra.add_argument("--ts-col", default="ts")
    ra.add_argument("--value-col", default="value")
    ra.add_argument("--tiebreak-col", default="event_id")
    ra.add_argument("--out", required=True)
    rs = sub.add_parser("resample", help="gap-fill to a regular grid + forward fill")
    rs.add_argument("--events", required=True)
    rs.add_argument("--keys", default="user_id")
    rs.add_argument("--ts-col", default="ts")
    rs.add_argument("--value-col", default="value")
    rs.add_argument("--tiebreak-col", default="event_id")
    rs.add_argument("--step", type=int, default=3600)
    rs.add_argument("--out", required=True)
    bu = sub.add_parser("burn", help="multi-window SLO burn-rate flags")
    bu.add_argument("--events", required=True)
    bu.add_argument("--ts-col", default="ts")
    bu.add_argument("--type-col", default="event_type")
    bu.add_argument("--error-type", default="error")
    bu.add_argument("--short", type=int, default=3600)
    bu.add_argument("--long", type=int, default=86400)
    bu.add_argument("--out", required=True)
    an = sub.add_parser("anomalies", help="median/MAD robust outlier counts per series")
    an.add_argument("--events", required=True)
    an.add_argument("--keys", default="user_id")
    an.add_argument("--value-col", default="value")
    an.add_argument("--threshold-x", type=int, default=3)
    an.add_argument("--out", required=True)
    tr = sub.add_parser("triangles", help="per-node triangle counts (degree-ordered)")
    tr.add_argument("--edges", required=True)
    tr.add_argument("--src-col", default="src")
    tr.add_argument("--dst-col", default="dst")
    tr.add_argument("--out", required=True)
    pa = sub.add_parser("pairs", help="market-basket co-occurrence top pairs")
    pa.add_argument("--baskets", required=True)
    pa.add_argument("--basket-col", default="basket_id")
    pa.add_argument("--item-col", default="item_id")
    pa.add_argument("--max-items", type=int, default=100)
    pa.add_argument("--top", type=int, default=1000)
    pa.add_argument("--out", required=True)
    ld = sub.add_parser(
        "linededup", help="remove corpus-frequent boilerplate lines/segments"
    )
    ld.add_argument("--docs", required=True)
    ld.add_argument("--max-df", type=int, default=10,
                    help="drop segments in more than this many distinct docs")
    ld.add_argument("--delimiter", default="\n")
    ld.add_argument("--id-col", default="doc_id")
    ld.add_argument("--out", required=True)
    qu = sub.add_parser(
        "quality", help="one-pass Deequ-style constraint suite"
    )
    qu.add_argument("--path", required=True)
    qu.add_argument(
        "--checks", required=True,
        help="comma-separated: completeness:col:num:den | unique:col | "
             "range:col:lo:hi | in:col:v1|v2|...",
    )
    qu.add_argument("--out", required=True)
    mg = sub.add_parser("merge", help="CDC merge: fold a change feed into a snapshot")
    mg.add_argument("--base", required=True)
    mg.add_argument("--changes", required=True)
    mg.add_argument("--keys", required=True, help="comma-separated key columns")
    mg.add_argument("--seq-col", default="seq")
    mg.add_argument("--op-col", default="op")
    mg.add_argument("--out", required=True)
    sh = sub.add_parser(
        "shards", help="write one training epoch as order-baked shard parquet"
    )
    sh.add_argument("--docs", required=True)
    sh.add_argument("--id-col", default="doc_id")
    sh.add_argument("--epoch", type=int, required=True)
    sh.add_argument("--n-shards", type=int, default=16)
    sh.add_argument("--max-records", type=int, default=None)
    sh.add_argument("--out", required=True)
    iv = sub.add_parser(
        "select", help="DSIR-style importance votes vs a target slice"
    )
    iv.add_argument("--docs", required=True)
    iv.add_argument("--target-where", required=True,
                    help="SQL boolean expr defining the target slice, "
                         "e.g. \"source = 'wiki'\"")
    iv.add_argument("--id-col", default="doc_id")
    iv.add_argument("--buckets", type=int, default=4096)
    iv.add_argument("--out", required=True)
    tm = sub.add_parser(
        "templates", help="Drain-family log template mining (consensus)"
    )
    tm.add_argument("--logs", required=True)
    tm.add_argument("--line-col", default="line")
    tm.add_argument("--min-count", type=int, default=1)
    tm.add_argument("--out", required=True)

    dr = sub.add_parser(
        "drift", help="categorical distribution drift, reference vs current"
    )
    dr.add_argument("--ref", required=True)
    dr.add_argument("--cur", required=True)
    dr.add_argument("--col", required=True)
    dr.add_argument("--out", required=True)

    for p in (d, dc, ts, ab, pi, vo, ig, co, bp, fu, sa, se, ch, mx, re_, pr,
              ix, pf, fm, ra, rs, bu, an, tr, pa, ld, qu, mg, sh, iv, tm, dr):
        p.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)
    spark = _get_session(args.cpus)

    if args.op == "dedup":
        from emf_spark.datax import dedup as dd

        docs = spark.read.parquet(args.docs)
        if args.method == "exact":
            res = dd.exact_dedup(docs)
        elif args.method == "minhash":
            res = dd.minhash_near_duplicates(docs, threshold=args.threshold)
        else:
            # simhash verifies by hamming distance, not jaccard — a
            # --threshold here would otherwise be SILENTLY ignored
            # (review finding)
            if args.threshold != 0.7:  # non-default => the user meant it
                print(
                    "warning: --threshold is a jaccard bound (minhash); "
                    "simhash uses --max-hamming semantics and ignores it",
                    file=sys.stderr,
                )
            res = dd.simhash_near_duplicates(docs)
        res.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        if args.clusters and args.method != "exact":
            labels = dd.dedup_clusters(spark.read.parquet(args.out))
            labels.write.mode("overwrite").parquet(args.out + "_clusters")
        elif args.clusters:
            # exact groups ARE clusters (keep_id = label) — no pair
            # table exists to run connected components over; say so
            # instead of silently writing nothing (review finding)
            print(
                "warning: --clusters is a no-op for --method exact "
                "(each content_hash row already carries keep_id as "
                "its cluster label)",
                file=sys.stderr,
            )
        print(json.dumps({"op": "dedup", "method": args.method, "rows": n}))
    elif args.op == "decontaminate":
        from emf_spark.datax import dedup as dd

        res = dd.decontaminate(
            spark.read.parquet(args.train), spark.read.parquet(args.test), k=args.k
        )
        res.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": "decontaminate", "k": args.k,
                          "contaminated": spark.read.parquet(args.out).count()}))
    elif args.op == "textstats":
        from emf_spark.datax import textstats as tx

        docs = spark.read.parquet(args.docs)
        base = tx.token_counts(tx.lang_id(tx.quality_score(docs)))
        rep = tx.repetition_stats(docs)
        out = base.join(rep, "doc_id")
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": "textstats", "rows": spark.read.parquet(args.out).count()}))
    elif args.op == "pii":
        from emf_spark.datax.pii import pii_scrub

        # the scrub COMMAND's output must not carry the raw text — a
        # "redacted" dataset with the original column still ships every
        # piece of PII (the library function keeping both is fine; the
        # CLI dataset is the one consumers treat as clean)
        pii_scrub(spark.read.parquet(args.docs)).drop("text").write.mode(
            "overwrite"
        ).parquet(args.out)
        print(json.dumps({"op": "pii", "rows": spark.read.parquet(args.out).count()}))
    elif args.op == "vocab":
        from emf_spark.datax.textstats import vocab_topk

        vocab_topk(spark.read.parquet(args.docs), k=args.k).write.mode(
            "overwrite"
        ).parquet(args.out)
        print(json.dumps({"op": "vocab", "k": args.k,
                          "rows": spark.read.parquet(args.out).count()}))
    elif args.op == "dedup-ingest":
        from emf_spark.datax import dedup as dd

        pairs = dd.minhash_incremental(
            spark.read.parquet(args.docs), args.store, threshold=args.threshold
        )
        pairs.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": "dedup-ingest",
                          "pairs": spark.read.parquet(args.out).count()}))
    elif args.op == "compact":
        from emf_spark.operators.storage import compact_parquet

        n = compact_parquet(spark, args.path, args.out, target_mb=args.target_mb)
        print(json.dumps({"op": "compact", "files": n}))
    elif args.op == "funnel":
        from emf_spark.datax.funnel import funnel_summary, funnel_times

        steps = [s for s in args.steps.split(",") if s]
        times = funnel_times(
            spark.read.parquet(args.events),
            steps,
            key_cols=[k for k in args.keys.split(",") if k],
            ts_col=args.ts_col,
            type_col=args.type_col,
            strict=not args.weak,
        )
        funnel_summary(times, steps).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": "funnel", "steps": steps,
                          "rows": spark.read.parquet(args.out).count()}))
    elif args.op == "sample":
        from emf_spark.datax.sampling import balanced_sample

        res = balanced_sample(
            spark.read.parquet(args.docs), args.class_col, args.n,
            id_col=args.id_col, salt=args.salt,
        )
        res.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": "sample", "n_per_class": args.n,
                          "rows": spark.read.parquet(args.out).count()}))
    elif args.op == "sessionize":
        from emf_spark.operators.sessions import sessionize

        res = sessionize(
            spark.read.parquet(args.events), gap=args.gap,
            ts_col=args.ts_col, keys=[k for k in args.keys.split(",") if k],
        )
        res.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": "sessionize", "gap": args.gap,
                          "sessions": spark.read.parquet(args.out).count()}))
    elif args.op == "chunk":
        from emf_spark.datax.textstats import chunk_documents

        chunk_documents(
            spark.read.parquet(args.docs),
            chunk_tokens=args.chunk_tokens,
            stride=args.stride,
            min_tokens=args.min_tokens,
        ).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": "chunk", "chunk_tokens": args.chunk_tokens,
                          "rows": spark.read.parquet(args.out).count()}))
    elif args.op == "mix":
        from emf_spark.datax.sampling import temperature_mix

        temperature_mix(
            spark.read.parquet(args.docs), args.target,
            class_col=args.class_col, alpha=args.alpha, id_col=args.id_col,
        ).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": "mix", "alpha": args.alpha,
                          "rows": spark.read.parquet(args.out).count()}))
    elif args.op == "retention":
        from emf_spark.datax.funnel import cohort_retention

        cohort_retention(
            spark.read.parquet(args.events), user_col=args.user_col,
            ts_col=args.ts_col, period=args.period,
        ).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": "retention", "period": args.period,
                          "rows": spark.read.parquet(args.out).count()}))
    elif args.op == "pagerank":
        from emf_spark.datax.graph import pagerank_exact

        pagerank_exact(
            spark.read.parquet(args.edges), iters=args.iters,
            damping_pct=args.damping_pct,
            src_col=args.src_col, dst_col=args.dst_col,
        ).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": "pagerank", "iters": args.iters,
                          "nodes": spark.read.parquet(args.out).count()}))
    elif args.op == "index":
        from emf_spark.datax.textstats import inverted_index

        inverted_index(
            spark.read.parquet(args.docs),
            max_postings=args.max_postings, min_df=args.min_df,
        ).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": "index",
                          "tokens": spark.read.parquet(args.out).count()}))
    elif args.op == "profile":
        from emf_spark.datax.profile import profile

        profile(
            spark.read.parquet(args.path),
            [c for c in args.cols.split(",") if c],
        ).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": "profile",
                          "columns": spark.read.parquet(args.out).count()}))
    elif args.op == "match":
        from emf_spark.datax.entity import fuzzy_match

        fuzzy_match(
            spark.read.parquet(args.left), spark.read.parquet(args.right),
            args.left_id, args.left_name, args.right_id, args.right_name,
            args.block_col, args.max_dist,
        ).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": "match", "max_dist": args.max_dist,
                          "matched": spark.read.parquet(args.out).count()}))
    elif args.op == "rate":
        from emf_spark.datax.timeseries import counter_increase

        counter_increase(
            spark.read.parquet(args.events),
            [k for k in args.keys.split(",") if k],
            args.ts_col, args.value_col, args.tiebreak_col,
        ).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": "rate",
                          "series": spark.read.parquet(args.out).count()}))
    elif args.op == "resample":
        from emf_spark.datax.timeseries import resample_ffill

        resample_ffill(
            spark.read.parquet(args.events),
            [k for k in args.keys.split(",") if k],
            args.ts_col, args.value_col, args.tiebreak_col, args.step,
        ).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": "resample", "step": args.step,
                          "rows": spark.read.parquet(args.out).count()}))
    elif args.op == "burn":
        from pyspark.sql import functions as SF

        from emf_spark.datax.timeseries import burn_rate

        burn_rate(
            spark.read.parquet(args.events), args.ts_col,
            SF.col(args.type_col) == args.error_type,
            args.short, args.long,
        ).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": "burn",
                          "windows": spark.read.parquet(args.out).count()}))
    elif args.op == "anomalies":
        from emf_spark.datax.timeseries import mad_anomalies

        mad_anomalies(
            spark.read.parquet(args.events),
            [k for k in args.keys.split(",") if k],
            args.value_col, args.threshold_x,
        ).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": "anomalies",
                          "series": spark.read.parquet(args.out).count()}))
    elif args.op == "triangles":
        from emf_spark.datax.graph import triangle_count

        triangle_count(
            spark.read.parquet(args.edges), args.src_col, args.dst_col
        ).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": "triangles",
                          "nodes": spark.read.parquet(args.out).count()}))
    elif args.op == "pairs":
        from emf_spark.datax.baskets import item_pairs, top_pairs

        top_pairs(
            item_pairs(
                spark.read.parquet(args.baskets), args.basket_col,
                args.item_col, max_items=args.max_items,
            ),
            args.top,
        ).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": "pairs",
                          "pairs": spark.read.parquet(args.out).count()}))
    elif args.op == "bpe":
        from pathlib import Path

        from emf_spark.datax.textstats import bpe_train

        merges, _ = bpe_train(
            spark.read.parquet(args.docs), n_merges=args.n_merges
        )
        Path(args.out).write_text(json.dumps(merges))
        print(json.dumps({"op": "bpe", "merges": len(merges)}))
    elif args.op == "select":
        from pyspark.sql import functions as F

        from emf_spark.datax.sampling import importance_votes

        docs = spark.read.parquet(args.docs).withColumn(
            "_tgt", F.expr(args.target_where).cast("boolean")
        )
        res = importance_votes(
            docs, "_tgt", id_col=args.id_col, n_buckets=args.buckets
        )
        res.write.mode("overwrite").parquet(args.out)
        out = spark.read.parquet(args.out)
        print(json.dumps({
            "op": "select",
            "docs": out.count(),
            "target_leaning": out.filter("votes > 0").count(),
        }))
    elif args.op == "shards":
        from emf_spark.datax.ordering import write_training_shards

        write_training_shards(
            spark.read.parquet(args.docs), args.out, args.id_col,
            epoch=args.epoch, n_shards=args.n_shards,
            max_records_per_file=args.max_records,
        )
        print(json.dumps({
            "op": "shards", "epoch": args.epoch,
            "rows": spark.read.parquet(args.out).count(),
            "n_shards": args.n_shards,
        }))
    elif args.op == "merge":
        from emf_spark.datax.diff import apply_changes

        res = apply_changes(
            spark.read.parquet(args.base),
            spark.read.parquet(args.changes),
            args.keys.split(","),
            args.seq_col,
            op_col=args.op_col,
        )
        res.write.mode("overwrite").parquet(args.out)
        print(json.dumps({
            "op": "merge",
            "rows": spark.read.parquet(args.out).count(),
        }))
    elif args.op == "linededup":
        from emf_spark.datax.dedup import line_dedup

        res = line_dedup(
            spark.read.parquet(args.docs),
            id_col=args.id_col,
            max_df=args.max_df,
            delimiter=args.delimiter,
        )
        res.write.mode("overwrite").parquet(args.out)
        out = spark.read.parquet(args.out)
        print(json.dumps({
            "op": "linededup",
            "docs": out.count(),
            "emptied": out.filter("text_deduped = ''").count(),
        }))
    elif args.op == "quality":
        from emf_spark.datax.quality import check_constraints

        constraints = []
        for spec in args.checks.split(","):
            parts = spec.split(":")
            kind = parts[0]
            if kind == "completeness":
                constraints.append(
                    ("completeness", parts[1], int(parts[2]), int(parts[3]))
                )
            elif kind == "unique":
                constraints.append(("unique", parts[1]))
            elif kind == "range":
                constraints.append(
                    ("range", parts[1], float(parts[2]), float(parts[3]))
                )
            elif kind == "in":
                constraints.append(("values_in", parts[1], parts[2].split("|")))
            else:
                raise SystemExit(f"unknown check kind {kind!r} in --checks")
        res = check_constraints(spark.read.parquet(args.path), constraints)
        res.write.mode("overwrite").parquet(args.out)
        rows = spark.read.parquet(args.out).collect()
        print(json.dumps({
            "op": "quality",
            "checks": len(rows),
            "failed": sum(0 if r["passed"] else 1 for r in rows),
        }))
    elif args.op == "templates":
        from emf_spark.operators.templates import mine_templates

        res = mine_templates(
            spark.read.parquet(args.logs),
            line_col=args.line_col,
            min_count=args.min_count,
        )
        res.write.mode("overwrite").parquet(args.out)
        out = spark.read.parquet(args.out)
        print(json.dumps({
            "op": "templates",
            "templates": out.count(),
            "lines": out.agg({"n_lines": "sum"}).collect()[0][0],
        }))
    elif args.op == "drift":
        from emf_spark.datax.quality import distribution_drift

        res = distribution_drift(
            spark.read.parquet(args.ref),
            spark.read.parquet(args.cur),
            args.col,
        )
        res.write.mode("overwrite").parquet(args.out)
        rows = spark.read.parquet(args.out).collect()
        print(json.dumps({
            "op": "drift",
            "categories": len(rows),
            # half the ppm sum = exact total-variation distance
            "tvd_ppm": sum(r["drift_ppm"] for r in rows) // 2,
        }))
    else:
        from emf_spark.datax import similarity as sim

        sim.materialize_buckets(
            spark.read.parquet(args.embeddings), args.out, n_planes=args.n_planes
        )
        print(json.dumps({"op": "ann-buckets", "n_planes": args.n_planes, "path": args.out}))
    return 0


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] == "datax":
        return datax_main(argv[1:])
    ap = argparse.ArgumentParser(description="EMF parse->enrich->route->aggregate")
    ap.add_argument("--input", required=True, help="tokenized table path/dir")
    ap.add_argument("--out", required=True, help="output root")
    ap.add_argument("--window-ms", type=int, default=60_000)
    ap.add_argument("--key-by-namespace", action="store_true")
    ap.add_argument("--no-routed", action="store_true")
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
        write_routed=not args.no_routed,
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
