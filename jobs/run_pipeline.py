"""spark-submit entry point for the langid→quality→scrub pipeline.

Ship it exactly as the north rule prescribes::

    python tools/build_pyfiles.py       # → dist/fineweb_modal_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/fineweb_modal_spark.zip \
        jobs/run_pipeline.py \
        --input  /data/sf0.001 \
        --output /out/scored \
        [--mode batch|resume|stream-commit|...] \
        [--granularity day|minute] \
        [--checkpoint /out/ckpt]

Modes
-----
batch        one straight-through run, partitioned committed writes.
             Replaces every ds its input holds.
resume       partition-by-partition with manifest checkpointing —
             re-invoking after a failure completes only the missing
             partitions (sinks.resume_run). Skips every ds already in
             the manifest.
             Both re-run the same input; neither takes a daily slice.
             Daily arrivals, late pages for an earlier ds included,
             belong in stream-commit, which adds files to a ds.
stream-commit  Structured Streaming AvailableNow over a growing pages
             directory (--input: pages parquet, url/warc_ts/text/lang);
             each invocation commits exactly the files that arrived
             since the last checkpoint, into the SAME committed ds=...
             layout + manifest as batch/resume
             (incremental.stream_commit_pages: one pipeline pass per
             micro-batch, replay-safe renames, manifest rows holding
             partition totals) — stream and batch runs share one
             output table and one maintenance toolchain.
hygiene      the composed five-stage hygiene pass (domain blocklist →
             recency URL keeper → line dedup → quality keep → scrub)
             over a crawl-feed parquet dir (doc_id/url/warc_ts/text),
             committed partitioned like batch.
crawl        start at the crawl itself: --input is a WARC shard dir
             (`.warc[.gz]`, ISO 28500 response records). Distributed
             scan (one task per shard) → html→text extraction →
             the same five-stage hygiene pass → committed partitioned
             output; `--wet-output DIR` additionally publishes the
             admitted scrubbed text as `.warc.wet.gz` conversion
             shards (the Common Crawl WET product shape), and
             `--wat-output DIR` publishes per-page outlink metadata
             as `.warc.wat.gz` sidecars — all three CC products from
             one scan. doc_id is the portable 60-bit md5 of the url —
             no upstream ids needed.
train-lm /   fit the bigram LM on a documents dir and persist it as
score-lm     parquet relations; apply a stored LM to any corpus.
train-clf /  distill the heuristic judge into the logistic classifier
score-clf    and persist weights + z-score stats; apply the stored
             model anywhere as one zero-shuffle codegen projection.
train-dsir / fit the DSIR hashed-ngram bucket log-ratio index on a
score-dsir   documents dir and persist it (≤256 rows); score any
             later batch via one broadcast join — the training
             corpus is never re-read.
curate       the full admission battery (quality ∧ edu ∧ exact-dedup ∧
             benchmark-holdout/decontam) over an sf-layout dir;
             admitted docs scrubbed and written, funnel on stdout.
ablate       per-rule filter-ablation waterfall (solo / first-fail
             marginal / cumulative survivors per battery rule) over an
             sf-layout dir — the threshold-audit table, written to
             --output and summarized on stdout. One scan, one
             single-row aggregate at any corpus size.

Every output publishes through `sinks`: the committing modes (batch,
resume, stream-commit, hygiene, crawl) through `sinks.commit`, every
other output and model through `sinks.publish` (staged beside the
target, swapped in by rename, so a failed run leaves the previous
output or model whole). Prints one JSON metrics line to stdout (docs,
keep rate, wall seconds); its counts come from the write itself, never
from reading the output back.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf dir (batch/resume) or pages parquet dir (stream-commit)")
    ap.add_argument("--output", required=True)
    ap.add_argument(
        "--mode",
        default="batch",
        choices=[
            "batch", "resume", "stream-commit",
            "hygiene", "crawl",
            "train-lm", "score-lm", "train-clf", "score-clf",
            "train-dsir", "score-dsir",
            "curate", "ablate",
        ],
    )
    ap.add_argument(
        "--model", default=None,
        help="model directory: written by train-*, required by score-*",
    )
    ap.add_argument("--granularity", default="day", choices=["day", "minute"])
    ap.add_argument(
        "--wet-output", default=None,
        help="crawl mode: also publish admitted scrubbed text as "
             ".warc.wet.gz conversion shards under this dir",
    )
    ap.add_argument(
        "--wat-output", default=None,
        help="crawl mode: also publish per-page outlink metadata as "
             ".warc.wat.gz sidecar shards under this dir",
    )
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument(
        "--gopher", action="store_true",
        help="batch/resume: also apply the gopher repetition/structure "
             "battery: keep becomes quality AND gopher, first battery's "
             "reason wins",
    )
    args = ap.parse_args(argv)
    if args.mode.startswith("score-") and not args.model:
        ap.error(f"--mode {args.mode} needs --model (the directory train-{args.mode[6:]} wrote)")
    if args.gopher and args.mode not in ("batch", "resume"):
        ap.error(f"--gopher applies to --mode batch|resume only, not {args.mode}")

    # Import AFTER spark-submit has placed the --py-files zip on the path.
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from fineweb_modal_spark import session, sinks
    from fineweb_modal_spark.plans import pipeline as pl

    # spark-submit's master and --conf values stand; the engine's
    # settings fill in every SQL key the launch did not give
    spark = session.configure(
        SparkSession.builder.appName("fineweb-modal-spark-pipeline").getOrCreate()
    )

    t0 = time.monotonic()
    if args.mode in ("hygiene", "crawl"):
        # composed hygiene pass (blocklist -> recency keeper -> line
        # dedup -> quality keep -> scrub), committed partitioned.
        # hygiene: --input is a crawl-feed parquet dir
        # (doc_id, url, warc_ts, text). crawl: --input is a WARC shard
        # dir — the feed is scanned straight off the container format
        # (one task per gzip shard) and extracted in the same plan.
        from fineweb_modal_spark.operators import hygiene

        if args.mode == "crawl":
            from fineweb_modal_spark.functions import sqldialect as sd
            from fineweb_modal_spark.operators import extract
            from fineweb_modal_spark.sources import warc as warc_mod
            from fineweb_modal_spark.spec import hashing

            crawl = warc_mod.read_warc(spark, args.input).where(
                F.col("http_status") == 200
            )
            feed = extract.with_extracted_text(crawl).select(
                F.expr(hashing.md5_i64("url", sd.SPARK)).alias("doc_id"),
                "url",
                "warc_ts",
                F.col("extracted_text").alias("text"),
            )
        else:
            feed = spark.read.parquet(args.input).select(
                "doc_id", "url", "warc_ts", "text"
            )
        res = hygiene.run_hygiene(feed).join(
            feed.select("doc_id", "url", "warc_ts"), "doc_id"
        )
        df = sinks.with_partition_cols(
            res, granularity=args.granularity
        ).select(
            "url", "ds", "salt", "doc_id", "keep", "drop_reason",
            "n_removed", "scrubbed_text",
        )
        rows = sinks.commit(spark, df, args.output)
        out = {
            "mode": args.mode,
            "partitions_committed": len(rows),
            "rows": sum(r["n_rows"] for r in rows),
            "keep": sum(r["n_keep"] for r in rows),
        }
        if args.mode == "crawl" and args.wet_output:
            # WET mirror of what was admitted: the curated-text product
            # in the Common Crawl conversion-record shape.
            admitted = (
                res.where(F.col("keep"))
                .select("url", "warc_ts", F.col("scrubbed_text").alias("text"))
            )
            wet = warc_mod.write_wet_shards(admitted, args.wet_output)
            out["wet_shards"] = len(wet)
        if args.mode == "crawl" and args.wat_output:
            # WAT sidecar for EVERY fetched page (metadata is per
            # crawl record, not per admitted doc): outlinks extracted
            # in one codegen pass off the same scan.
            from fineweb_modal_spark.operators import linkgraph

            wat = warc_mod.write_wat_shards(
                linkgraph.with_links(crawl).select(
                    "url", "warc_ts", "links"
                ),
                args.wat_output,
            )
            out["wat_shards"] = len(wat)
    elif args.mode == "train-lm":
        # fit the bigram LM on a documents parquet dir (doc_id, text)
        # and publish the model as its two count relations + meta —
        # the artifact score-lm (or the scoring stream) applies later.
        from fineweb_modal_spark.operators import ngramlm

        mdir = (args.model or args.output).rstrip("/")
        model, uni, n_total = ngramlm.train_model(spark.read.parquet(args.input))
        parts = sinks.publish(mdir, {
            "bigrams": model,
            "unigrams": uni,
            "meta": spark.createDataFrame(
                [(n_total, ngramlm.ALPHA, ngramlm.MIN_BIGRAM_COUNT,
                  ngramlm.MIN_UNIGRAM_COUNT)],
                "n_total long, alpha double, min_bigram int, min_unigram int",
            ),
        })
        out = {
            "mode": "train-lm",
            "model_dir": mdir,
            "n_total_tokens": n_total,
            "vocab": parts["unigrams"]["rows"],
            "bigram_types": parts["bigrams"]["rows"],
        }
    elif args.mode == "score-lm":
        # apply a stored model to a documents parquet dir; committed
        # partitioned write is unnecessary for a scores table — plain
        # parquet keyed by doc_id.
        from fineweb_modal_spark.operators import ngramlm

        mdir = args.model.rstrip("/")
        model = spark.read.parquet(f"{mdir}/bigrams")
        uni = spark.read.parquet(f"{mdir}/unigrams")
        n_total = spark.read.parquet(f"{mdir}/meta").collect()[0].n_total
        docs = spark.read.parquet(args.input)
        got = sinks.publish(
            args.output,
            ngramlm.score_against_model(docs, model, uni, n_total),
            F.count("ppl").alias("scored"),
        )
        out = {"mode": "score-lm", **got}
    elif args.mode == "curate":
        # the whole admission battery in one command: quality ∧ edu ∧
        # exact-dedup ∧ benchmark-holdout/decontam over an sf-layout
        # dir (documents.parquet + embeddings.parquet), admitted docs
        # scrubbed and written out, funnel metrics on stdout.
        from pyspark.sql import Observation

        from fineweb_modal_spark.operators import scrub as scrub_mod
        from fineweb_modal_spark.operators.curation import curation_record

        # the funnel is observed on the record inside the written plan
        funnel = Observation()
        rec = curation_record(spark, args.input).observe(
            funnel,
            F.count(F.lit(1)).alias("n_total"),
            F.count_if("final_keep").alias("admitted"),
        )
        docs = spark.read.parquet(f"{args.input.rstrip('/')}/documents.parquet")
        admitted = rec.where(F.col("final_keep")).select("doc_id")
        got = sinks.publish(
            args.output,
            scrub_mod.with_scrubbed(docs.join(admitted, "doc_id")).drop("text"),
        )
        out = {"mode": "curate", **funnel.get, "rows_written": got["rows"]}
    elif args.mode == "ablate":
        # threshold audit: which battery rule costs how many docs —
        # the table that drives per-rule threshold tuning before a
        # full-corpus run is committed.
        from fineweb_modal_spark.operators import quality as quality_mod

        docs = spark.read.parquet(
            f"{args.input.rstrip('/')}/documents.parquet"
        )
        table = quality_mod.rule_ablation(docs)
        got = sinks.publish(
            args.output, table, F.collect_list(F.struct(*table.columns)).alias("table")
        )
        rows = sorted(got["table"], key=lambda r: r.stage)
        out = {
            "mode": "ablate",
            "n_total": int(rows[0].n_total),
            "final_survivors": int(rows[-1].cumulative_survivors),
            "waterfall": {
                str(r.rule): {
                    "solo": int(r.solo_drops),
                    "marginal": int(r.marginal_drops),
                    "survivor_rate": float(r.survivor_rate),
                }
                for r in rows
            },
        }
    elif args.mode == "train-clf":
        # distill the heuristic judge into the logistic classifier on a
        # documents parquet dir and publish weights + z-score stats —
        # the artifact score-clf applies to any later corpus.
        from fineweb_modal_spark.operators import clftrain

        mdir = (args.model or args.output).rstrip("/")
        w, st, feat = clftrain.train(spark.read.parquet(args.input))
        feat.unpersist()
        clftrain.save_model(spark, w, st, mdir)
        out = {
            "mode": "train-clf",
            "model_dir": mdir,
            "weights": [round(x, 6) for x in w],
        }
    elif args.mode == "train-dsir":
        # fit the hashed-ngram bucket log-ratio index on a documents
        # parquet dir (needs doc_id, text, source) and publish it —
        # the artifact score-dsir applies to any later crawl batch.
        from fineweb_modal_spark.operators import reweight

        mdir = (args.model or args.output).rstrip("/")
        ratio = reweight.train_dsir_ratio(spark.read.parquet(args.input))
        out = {
            "mode": "train-dsir",
            "model_dir": mdir,
            "buckets": reweight.save_ratio(ratio, mdir),
        }
    elif args.mode == "score-dsir":
        # score a delta batch against a stored DSIR index: one
        # broadcast join, the training corpus is never re-read.
        from fineweb_modal_spark.operators import reweight

        ratio = reweight.load_ratio(spark, args.model.rstrip("/"))
        docs = spark.read.parquet(args.input)
        got = sinks.publish(args.output, reweight.score_with_ratio(docs, ratio))
        out = {"mode": "score-dsir", **got}
    elif args.mode == "score-clf":
        # apply a stored classifier to a documents parquet dir: one
        # zero-shuffle codegen projection per row, no training passes.
        from fineweb_modal_spark.operators import clftrain

        w, st = clftrain.load_model(spark, args.model.rstrip("/"))
        docs = spark.read.parquet(args.input)
        got = sinks.publish(
            args.output,
            clftrain.score_with_model(docs, w, st),
            F.count_if("clf_keep").alias("kept"),
        )
        out = {"mode": "score-clf", **got}
    elif args.mode == "stream-commit":
        from fineweb_modal_spark.streaming import incremental

        ckpt = args.checkpoint or (args.output.rstrip("/") + "_ckpt")
        n = incremental.stream_commit_pages(
            spark, args.input, args.output, ckpt,
            granularity=args.granularity,
        )
        out = {"mode": "stream-commit", "rows_this_increment": n}
    else:
        def build(s):
            df = pl.run_pipeline(s, args.input)
            if args.gopher:
                from fineweb_modal_spark.operators import gopher

                df = gopher.compose_keep(
                    df,
                    carry=(
                        "url", "warc_ts", "doc_id", "lang_pred", "ppl",
                        "scrubbed_text",
                    ),
                )
            return sinks.committed_rows(df, granularity=args.granularity)

        if args.mode == "resume":
            rows = sinks.resume_run(spark, build, args.output)
        else:
            rows = sinks.commit(spark, build(spark), args.output)
        out = {
            "mode": args.mode,
            "partitions_committed": len(rows),
            "rows": sum(r["n_rows"] for r in rows),
            "keep": sum(r["n_keep"] for r in rows),
        }
    out["wall_s"] = round(time.monotonic() - t0, 3)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
