"""End-to-end spark-submit --py-files packaging test (north rule).

Builds the dist zip, launches the real spark-submit binary in a
subprocess (local[4]) in resume mode, and checks the JSON metrics
line plus the written partitioned output + manifest.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


def test_spark_submit_pipeline(tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from build_pyfiles import build

    zip_path = build(str(tmp_path / "fineweb_modal_spark.zip"))
    out_dir = str(tmp_path / "out")

    env = dict(os.environ)
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", zip_path,
            os.path.join(ROOT, "jobs", "run_pipeline.py"),
            "--input", SF,
            "--output", out_dir,
            "--mode", "resume",
            "--granularity", "minute",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        env=env,
        cwd=str(tmp_path),  # NOT the repo root: the zip must supply the package
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    metrics = json.loads(
        [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert metrics["mode"] == "resume"
    assert metrics["rows"] == 500
    assert metrics["partitions_committed"] >= 2
    assert 0 < metrics["keep"] <= metrics["rows"]
    assert os.path.isdir(os.path.join(out_dir, "_manifest"))
    ds_dirs = [d for d in os.listdir(out_dir) if d.startswith("ds=")]
    assert len(ds_dirs) == metrics["partitions_committed"]


@pytest.mark.parametrize("mode", ["score-lm", "score-clf", "score-dsir"])
def test_score_modes_require_model(mode, tmp_path):
    """A score mode without --model is a usage error before any Spark
    session starts, not an AttributeError after it."""
    import jobs.run_pipeline as job

    with pytest.raises(SystemExit) as exc:
        job.main(["--input", str(tmp_path), "--output", str(tmp_path / "out"), "--mode", mode])
    assert exc.value.code == 2


def test_gopher_rejected_in_stream_commit(tmp_path):
    """--gopher with --mode stream-commit is a usage error before any
    Spark session starts: only batch and resume compose the gopher
    battery, so the flag would be silently ignored."""
    import jobs.run_pipeline as job

    with pytest.raises(SystemExit) as exc:
        job.main(["--input", str(tmp_path), "--output", str(tmp_path / "out"),
                  "--mode", "stream-commit", "--gopher"])
    assert exc.value.code == 2


def test_job_gopher_flag(spark, tmp_path):
    """--gopher composes the second battery into the shipped job:
    output schema unchanged, keep implies quality-keep (combined rule
    can only drop more)."""
    import jobs.run_pipeline as job

    out = str(tmp_path / "job_gopher_out")
    rc = job.main(
        ["--input", "/root/testdata/sf0.001", "--output", out,
         "--mode", "batch", "--granularity", "minute", "--gopher"]
    )
    assert rc == 0
    from fineweb_modal_spark import sinks

    got = sinks.read_output(spark, out)
    assert {"url", "ds", "salt", "doc_id", "lang_pred", "keep",
            "drop_reason", "scrubbed_text"} <= set(got.columns)
    n = got.count()
    assert n > 0
    # plain run keeps a superset of the combined run's keeps
    out2 = str(tmp_path / "job_plain_out")
    assert job.main(
        ["--input", "/root/testdata/sf0.001", "--output", out2,
         "--mode", "batch", "--granularity", "minute"]
    ) == 0
    plain = {
        r.url: r.keep for r in sinks.read_output(spark, out2).collect()
    }
    for r in got.collect():
        if r.keep:
            assert plain[r.url], r.url


def test_job_hygiene_mode(spark, tmp_path):
    """--mode hygiene runs the composed five-stage pass over a crawl
    feed parquet dir and commits partitioned output."""
    import jobs.run_pipeline as job

    from fineweb_modal_spark import sinks
    from fineweb_modal_spark.sources import pages as pages_mod

    feed_dir = str(tmp_path / "feed")
    pages_mod.load_pages(spark, "/root/testdata/sf0.001", with_html=False) \
        .select("doc_id", "url", "warc_ts", "text") \
        .write.parquet(feed_dir)
    out = str(tmp_path / "hygiene_out")
    rc = job.main(
        ["--input", feed_dir, "--output", out,
         "--mode", "hygiene", "--granularity", "minute"]
    )
    assert rc == 0
    got = sinks.read_output(spark, out)
    assert {"url", "ds", "salt", "doc_id", "keep", "drop_reason",
            "n_removed", "scrubbed_text"} <= set(got.columns)
    rows = got.collect()
    assert len(rows) > 0
    # kept rows carry scrubbed text; dropped rows carry none
    for r in rows:
        assert (r.scrubbed_text is not None) == bool(r.keep)


def test_job_train_then_score_lm(spark, tmp_path):
    """--mode train-lm persists the frozen bigram LM as parquet
    relations; --mode score-lm applies that artifact to a (possibly
    different) corpus. Scores must equal the in-session train+score
    path on the same split — the artifact round-trip is lossless."""
    import jobs.run_pipeline as job

    from fineweb_modal_spark.operators import ngramlm
    from fineweb_modal_spark.sources.tables import load_table

    docs_dir = str(tmp_path / "docs")
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    docs.write.parquet(docs_dir)

    mdir = str(tmp_path / "lm_model")
    rc = job.main(
        ["--input", docs_dir, "--output", mdir, "--mode", "train-lm"]
    )
    assert rc == 0
    for rel in ("bigrams", "unigrams", "meta"):
        assert os.path.isdir(os.path.join(mdir, rel)), rel

    scores_dir = str(tmp_path / "scores")
    rc = job.main(
        ["--input", docs_dir, "--output", scores_dir,
         "--mode", "score-lm", "--model", mdir]
    )
    assert rc == 0

    got = {
        r.doc_id: r.ppl
        for r in spark.read.parquet(scores_dir).collect()
    }
    model, uni, n_total = ngramlm.train_model(docs)
    want = {
        r.doc_id: r.ppl
        for r in ngramlm.score_against_model(
            docs, model, uni, n_total
        ).collect()
    }
    assert set(got) == set(want)
    for k, v in want.items():
        if v is None:
            assert got[k] is None, k
        else:
            assert abs(got[k] - v) < 1e-9, k


def test_job_train_then_score_clf(spark, tmp_path):
    """--mode train-clf persists the distilled classifier (weights +
    z-score stats); --mode score-clf applies the artifact to a corpus.
    Scores must equal the in-session train+score path — and the keep
    bit must agree with quality_classifier-style thresholding."""
    import os

    import jobs.run_pipeline as job
    from fineweb_modal_spark.operators import clftrain
    from fineweb_modal_spark.sources.tables import load_table

    docs_dir = str(tmp_path / "docs")
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    docs.write.parquet(docs_dir)

    mdir = str(tmp_path / "clf_model")
    rc = job.main(
        ["--input", docs_dir, "--output", mdir, "--mode", "train-clf"]
    )
    assert rc == 0
    for rel in ("weights", "stats", "meta"):
        assert os.path.isdir(os.path.join(mdir, rel)), rel

    scores_dir = str(tmp_path / "clf_scores")
    rc = job.main(
        ["--input", docs_dir, "--output", scores_dir,
         "--mode", "score-clf", "--model", mdir]
    )
    assert rc == 0

    got = {
        r.doc_id: (r.clf_score, r.clf_keep)
        for r in spark.read.parquet(scores_dir).collect()
    }
    w, feat = clftrain.train(docs)
    feat.unpersist()
    st = clftrain.fit_stats(clftrain.feature_frame(docs))
    want = {
        r.doc_id: (r.clf_score, r.clf_keep)
        for r in clftrain.score_with_model(docs, w, st).collect()
    }
    assert set(got) == set(want)
    n_keep = 0
    for k, (score, keep) in want.items():
        assert abs(got[k][0] - score) < 1e-9, k
        assert got[k][1] == keep, k
        n_keep += int(keep)
    assert 0 < n_keep <= len(want)


def test_job_curate_mode(spark, tmp_path):
    """--mode curate writes the scrubbed admitted corpus and reports
    the funnel; written rows must equal the decision record's
    admitted count and carry no raw text column."""
    import jobs.run_pipeline as job
    from fineweb_modal_spark.operators.curation import curation_record
    from pyspark.sql import functions as F

    out_dir = str(tmp_path / "curated")
    rc = job.main(["--input", SF, "--output", out_dir, "--mode", "curate"])
    assert rc == 0
    back = spark.read.parquet(out_dir)
    want = (
        curation_record(spark, SF)
        .where(F.col("final_keep"))
        .count()
    )
    assert back.count() == want > 0
    assert "scrubbed_text" in back.columns and "text" not in back.columns


def test_job_ablate_mode(spark, tmp_path):
    """--mode ablate writes the six-row waterfall and its final
    survivor count must equal the battery's keep count on the same
    corpus — the job surface and the gate agree."""
    import jobs.run_pipeline as job
    from fineweb_modal_spark.operators import quality
    from fineweb_modal_spark.sources.tables import load_table

    out_dir = str(tmp_path / "ablation")
    rc = job.main(["--input", SF, "--output", out_dir, "--mode", "ablate"])
    assert rc == 0
    back = spark.read.parquet(out_dir).orderBy("stage").collect()
    assert len(back) == 6
    docs = load_table(spark, SF, "documents")
    kept = quality.with_keep(quality.with_signals(docs)).where("keep").count()
    assert back[-1].cumulative_survivors == kept


def test_job_stream_commit_mode(spark, tmp_path):
    """--mode stream-commit publishes a pages stream through the
    committed ds=... layout; a second invocation (nothing new) appends
    nothing, and the output reads back through the batch reader."""
    import jobs.run_pipeline as job

    from fineweb_modal_spark import sinks
    from fineweb_modal_spark.sources import pages as pages_mod

    pages_dir = str(tmp_path / "pages")
    pages_mod.load_pages(spark, SF, with_html=False).write.parquet(pages_dir)
    out = str(tmp_path / "sc_out")
    rc = job.main(
        ["--input", pages_dir, "--output", out,
         "--mode", "stream-commit", "--granularity", "minute",
         "--checkpoint", str(tmp_path / "ck")]
    )
    assert rc == 0
    got = sinks.read_output(spark, out)
    assert got.count() == 500
    man = sinks.read_manifest(spark, out)
    assert "batch_id" in man.columns
    # idempotent re-run: checkpoint says nothing new
    rc2 = job.main(
        ["--input", pages_dir, "--output", out,
         "--mode", "stream-commit", "--granularity", "minute",
         "--checkpoint", str(tmp_path / "ck")]
    )
    assert rc2 == 0
    assert sinks.read_output(spark, out).count() == 500
