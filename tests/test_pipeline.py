"""End-to-end pipeline invariants (SURVEY.md §5 patterns: conservation
checks, golden rows, byte-identical extraction, F1 vs oracle labels)."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from fineweb_modal_spark.plans import pipeline
from fineweb_modal_spark.sources import pages as pages_mod
from fineweb_modal_spark.spec import langid_model, quality_rules, scrub_spec

from .conftest import SF_ORACLE, SF_SMOKE


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"lang_pred", "n_docs", "n_keep"} <= set(df.columns)


def test_row_conservation(spark):
    """lancer.py:126-131 invariant: no stage gains or loses rows."""
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    out = pipeline.run_pipeline(spark, SF_SMOKE)
    assert out.count() == n_docs
    assert out.select("url").distinct().count() == n_docs  # url is unique key


def test_extraction_byte_identical(spark):
    """BASELINE.json input_hint invariant: extract_text(html) == text,
    byte-identical per url — Spark regexp extraction vs the raw column
    AND vs the pure-Python oracle."""
    p = pages_mod.load_pages(spark, SF_SMOKE, with_html=True)
    ex = p.withColumn(
        "extracted",
        F.regexp_replace(F.decode("html", "utf-8"), pages_mod.EXTRACT_TAG_RE, ""),
    )
    bad = ex.filter(F.col("extracted") != F.col("text")).count()
    assert bad == 0
    for r in ex.select("html", "text").limit(20).collect():
        assert pages_mod.extract_text_py(bytes(r.html)) == r.text


def test_pages_python_mirror(spark):
    """Spark SQL derivation == pure-Python mirror, row by row."""
    docs = {
        r.doc_id: r
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    }
    got = pages_mod.load_pages(spark, SF_SMOKE, with_html=True).collect()
    assert len(got) == len(docs)
    for r in got:
        d = docs[r.doc_id]
        want = pages_mod.derive_page_py(d.doc_id, d.text, d.lang, d.n_chars)
        assert r.url == want["url"]
        assert r.text == want["text"]
        assert bytes(r.html) == want["html"]
        assert r.warc_ts == want["warc_ts"]


def test_pipeline_f1_vs_reference_labels(spark):
    """north rule: keep/drop F1 ≥ 0.99 and byte-identical scrubbed text
    vs the reference labels (pure-Python implementation of the spec).
    Every row's (keep, drop_reason) also equals the spec's, so the
    language-gated stopword rule is checked row by row."""
    out = pipeline.run_pipeline(spark, SF_ORACLE).select(
        "url", "text", "lang_pred", "keep", "drop_reason", "scrubbed_text"
    ).collect()
    tp = fp = fn = tn = 0
    for r in out:
        lang, _ = langid_model.predict_one(r.text)
        assert lang == r.lang_pred
        want = quality_rules.keep_py(r.text, lang_pred=lang)
        assert (r.keep, r.drop_reason) == want, (r.url, want)
        want_keep = want[0]
        if r.keep and want_keep:
            tp += 1
        elif r.keep and not want_keep:
            fp += 1
        elif not r.keep and want_keep:
            fn += 1
        else:
            tn += 1
        assert r.scrubbed_text == scrub_spec.scrub_py(r.text), r.url
    f1 = 2 * tp / (2 * tp + fp + fn) if (2 * tp + fp + fn) else 1.0
    assert f1 >= 0.99, (tp, fp, fn, tn)


def test_langid_agreement_with_claimed_lang(spark):
    """Sanity: predicted language matches the claimed lang column for
    the overwhelming majority of pages (marker-word evidence)."""
    out = pipeline.run_pipeline(spark, SF_ORACLE)
    total = out.count()
    agree = out.filter(F.col("lang_pred") == F.col("lang")).count()
    assert agree / total > 0.85, f"lang agreement {agree}/{total}"


def test_null_and_empty_text_rows(spark):
    """NULL/empty text rows flow through the whole DAG without error
    and match the pure-Python spec exactly (null ≡ empty)."""
    import datetime

    rows = [
        ("https://n/1", datetime.datetime(2024, 1, 1), None, "en", 1),
        ("https://n/2", datetime.datetime(2024, 1, 1), "", "en", 2),
        ("https://n/3", datetime.datetime(2024, 1, 1), "   ", "en", 3),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, lang string, doc_id long"
    )
    texts = {1: None, 2: "", 3: "   "}
    out = {r.doc_id: r for r in pipeline.pipeline_df(df).collect()}
    for did, r in out.items():
        want_keep, want_reason = quality_rules.keep_py(texts[did] or "")
        assert (r.keep, r.drop_reason) == (want_keep, want_reason), did
        assert r.drop_reason == "too_few_words"
        # scrub preserves the original bytes (NULL ≡ empty)
        assert r.scrubbed_text == scrub_spec.scrub_py(texts[did] or "")
        assert r.lang_pred == "und" and r.lang_conf == 1.0
