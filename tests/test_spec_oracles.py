"""Spark operators vs the pure-Python spec oracles (SURVEY.md §5:
independent-oracle differential testing, the reference's
validate.ipynb pattern)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fineweb_modal_spark.operators import quality, scoring, scrub
from fineweb_modal_spark.operators.chunker import chunk_documents
from fineweb_modal_spark.spec import langid_model, quality_rules, scrub_spec
from fineweb_modal_spark.spec import tokenizer as tok

from .conftest import SF_ORACLE

EDGE_TEXTS = [
    "",                                   # empty (embed-tei.py:235 guard)
    "   ",                                # whitespace only
    "word",                               # single token
    " ".join(f"t{i}" for i in range(500)),   # exactly MAX_TOKENS
    " ".join(f"t{i}" for i in range(501)),   # just over
    " ".join(f"t{i}" for i in range(901)),   # validate.ipynb cell 14 case
    " ".join(f"t{i}" for i in range(950)),   # 50-token pure-overlap tail bug
    " ".join(f"t{i}" for i in range(949)),   # 49-token tail → dropped
    "the quick brown fox contact bob@x.io and 10.1.2.3 call +1 (555) 010-1234 frak",
    "le la des est dans une pour que paris",
    "der die das und ist nicht berlin",
    "的 是 在 了 我 有 北京",
]


def test_chunker_matches_oracle(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(EDGE_TEXTS)], "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.chunk_index): (r.chunk_text, list(r.chunk_tokens), r.chunk_token_count)
        for r in chunk_documents(df).collect()
    }
    want = {}
    for i, t in enumerate(EDGE_TEXTS):
        for ch in tok.chunk_text(t):
            want[(i, ch["chunk_index"])] = (
                ch["chunk_text"], ch["chunk_tokens"], ch["chunk_token_count"]
            )
    assert got == want


def test_chunk_udtf_matches_mapinpandas(spark):
    """The SQL-surface UDTF (LATERAL join) and the mapInPandas scale
    path must emit identical (doc_id, chunk_index, chunk_token_count)
    sets — same spec core, two Spark surfaces."""
    from fineweb_modal_spark.operators.chunker import register_chunk_udtf

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(EDGE_TEXTS)], "doc_id long, text string"
    )
    register_chunk_udtf(spark, name="t_chunk_windows")
    df.createOrReplaceTempView("t_udtf_docs")
    got = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT d.doc_id, c.chunk_index, c.chunk_token_count "
            "FROM t_udtf_docs d, LATERAL t_chunk_windows(d.text) c"
        ).collect()
    )
    want = sorted(
        (r.doc_id, r.chunk_index, r.chunk_token_count)
        for r in chunk_documents(df).collect()
    )
    assert got == want and len(got) > len(EDGE_TEXTS)


def test_chunker_tail_semantics():
    # 901 tokens → [0,500) + [450,901) (validate.ipynb cell 14)
    assert tok.chunk_tokens(901) == [(0, 500), (450, 901)]
    # 950 → the documented ≥OVERLAP pure-overlap tail IS emitted
    assert tok.chunk_tokens(950) == [(0, 500), (450, 950), (900, 950)]
    # 949 → 49-token tail dropped
    assert tok.chunk_tokens(949) == [(0, 500), (450, 949)]
    assert tok.chunk_tokens(500) == [(0, 500)]
    assert tok.chunk_tokens(0) == [(0, 0)]


def test_langid_matches_oracle(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(EDGE_TEXTS)], "doc_id long, text string"
    )
    rows = scoring.with_scores(df).select("doc_id", "lang_pred", "lang_conf").collect()
    for r in rows:
        want_lang, want_conf = langid_model.predict_one(EDGE_TEXTS[r.doc_id])
        assert r.lang_pred == want_lang
        assert abs(r.lang_conf - want_conf) < 1e-6


def test_langid_languages():
    assert langid_model.predict_one("le la des est dans une pour que")[0] == "fr"
    assert langid_model.predict_one("der die das und ist nicht")[0] == "de"
    assert langid_model.predict_one("el los las es una por con para")[0] == "es"
    assert langid_model.predict_one("的 是 在 了 我 有")[0] == "zh"
    assert langid_model.predict_one("the cat sat on the mat and it was flat")[0] == "en"
    assert langid_model.predict_one("")[0] == "und"


def test_perplexity_matches_oracle(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(EDGE_TEXTS)], "doc_id long, text string"
    )
    rows = scoring.with_scores(df).select("doc_id", "ppl").collect()
    for r in rows:
        want = quality_rules.perplexity_py(EDGE_TEXTS[r.doc_id])
        assert r.ppl == pytest.approx(want, rel=1e-6), r.doc_id


def test_scrub_matches_oracle(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(EDGE_TEXTS)], "doc_id long, text string"
    )
    rows = scrub.with_scrubbed(df).select("doc_id", "scrubbed_text").collect()
    for r in rows:
        assert r.scrubbed_text == scrub_spec.scrub_py(EDGE_TEXTS[r.doc_id]), r.doc_id


def test_scrub_replaces_all_pii():
    s = scrub_spec.scrub_py(
        "mail bob@x.io or ALICE+tag@sub.example.org ip 192.168.0.1 "
        "phone +1 (555) 010-1234 also 555-010-9999 and FRAK you"
    )
    assert "@" not in s and "192.168" not in s and "555" not in s
    assert s.count("<EMAIL>") == 2 and "<IP>" in s and s.count("<PHONE>") == 2
    assert "<TOX>" in s


def test_quality_signals_and_keep_match_oracle(spark):
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").limit(200)
    rows = (
        quality.with_keep(quality.with_signals(docs))
        .select("doc_id", "text", "n_words", "mean_word_len", "stopword_ratio",
                "digit_ratio", "distinct_ratio", "keep", "drop_reason")
        .collect()
    )
    assert len(rows) == 200
    for r in rows:
        want = quality_rules.signals_py(r.text)
        assert r.n_words == want["n_words"]
        assert r.mean_word_len == pytest.approx(want["mean_word_len"], abs=1e-9)
        assert r.stopword_ratio == pytest.approx(want["stopword_ratio"], abs=1e-9)
        assert r.digit_ratio == pytest.approx(want["digit_ratio"], abs=1e-9)
        assert r.distinct_ratio == pytest.approx(want["distinct_ratio"], abs=1e-9)
        keep, reason = quality_rules.keep_py(r.text)
        assert (r.keep, r.drop_reason) == (keep, reason)


def test_quality_sql_renderings_null_text(spark):
    """NULL text must behave like '' in BOTH dialect renderings, matching
    the Spark operator's coalesce and quality_rules.keep_py('') —
    previously the DuckDB rendering propagated NULL through every
    drop-rule WHEN and flipped keep to TRUE."""
    import duckdb

    from fineweb_modal_spark.functions import sqldialect as sd

    fixtures = [
        (0, None),
        (1, ""),
        (2, "the quick brown fox is here and it is fine"),
        (3, "\tthe tab edged text is here\r"),   # CRLF/tab edges
        (4, " \t\r\n "),                         # whitespace-only
    ]

    # Spark operator path
    df = spark.createDataFrame(fixtures, "doc_id long, text string")
    got_spark = {
        r.doc_id: (r.keep, r.drop_reason)
        for r in quality.with_keep(quality.with_signals(df)).collect()
    }

    # DuckDB rendering
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", fixtures)
    got_duck = {
        r[0]: (bool(r[1]), r[2])
        for r in con.execute(
            quality.keep_sql(sd.DUCKDB, table="t")
        ).fetchall()
    }

    # the SPARK rendering as SQL text (the operator runs it as F.expr)
    df.createOrReplaceTempView("t_nulltext")
    got_spark_sql = {
        r.doc_id: (r.keep, r.drop_reason)
        for r in spark.sql(
            quality.keep_sql(sd.SPARK, table="t_nulltext")
        ).collect()
    }

    for i, text in fixtures:
        want = quality_rules.keep_py(text or "")
        assert got_spark[i] == want, (i, got_spark[i], want)
        assert got_duck[i] == want, (i, got_duck[i], want)
        assert got_spark_sql[i] == want, (i, got_spark_sql[i], want)
    assert got_spark[0] == (False, "too_few_words")

    # n_words parity on whitespace-EDGED text (SQL trim() strips spaces
    # only — the ws_trim fix keeps both dialects on str.strip())
    nw_spark = {
        r.doc_id: r.n_words
        for r in quality.with_signals(df).select("doc_id", "n_words").collect()
    }
    nw_duck = {
        r[0]: r[1]
        for r in con.execute(
            quality.signals_sql(sd.DUCKDB, table="t", round_out=False)
        ).fetchall()
    }
    for i, text in fixtures:
        want_n = quality_rules.signals_py(text or "")["n_words"]
        assert nw_spark[i] == want_n, (i, nw_spark[i], want_n)
        assert nw_duck[i] == want_n, (i, nw_duck[i], want_n)


GOPHER_TEXTS = [
    "",                                          # empty
    "   \n  \n ",                                # blank lines only
    "plain prose line one\nplain prose line two\nanother distinct line",
    "- item one\n- item two\n- item three\n- item four",          # bullets
    "story begins...\nand continues…\nthen ends...",              # ellipses
    "same line\nsame line\nsame line\nunique line",               # dup lines
    "buy now buy now buy now buy now buy now",                    # bigram rep
    "see # one and # two plus # three markers here now",          # symbols
    "12345 67890 11111 22222 33333 44444",                        # no alpha
    "one two\nthree four…\n- five six ...",                       # mixed
    "Home\nAbout\nAll rights reserved. Subscribe to our newsletter now\nContact",  # boilerplate
    "A full sentence ends here.\nAnother proper sentence follows!\nDoes this one too?",  # punct lines
    "crlf line one.\r\ncrlf line two!\r\n\t\r\n- tabbed bullet\t\r",  # CRLF + tab edges
    None,                                                         # NULL text
]


def test_gopher_three_renderings_match_python_spec(spark):
    """The gopher signals + keep, run three ways — the Spark operator
    (chained selectExpr) and spark.sql over the SPARK rendering, and
    DuckDB over the DUCKDB rendering — must all equal the pure-Python
    spec on texts that exercise every rule (incl. NULL text)."""
    import duckdb

    from fineweb_modal_spark.functions import sqldialect as sd
    from fineweb_modal_spark.operators import gopher
    from fineweb_modal_spark.spec import gopher_rules as gr

    rows = [(i, t) for i, t in enumerate(GOPHER_TEXTS)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sigcols = ["n_lines", "alpha_word_ratio", "bullet_line_ratio",
               "ellipsis_line_ratio", "dup_line_ratio", "top_bigram_frac",
               "symbol_word_ratio", "punct_line_ratio",
               "boilerplate_line_ratio"]

    def check(got_sig, got_keep):
        for i, t in rows:
            want = gr.gopher_signals_py(t or "")
            g = got_sig[i]
            for c in sigcols:
                assert g[c] == pytest.approx(want[c], abs=1e-9), (i, c, g[c], want[c])
            assert got_keep[i] == gr.gopher_keep_py(t or ""), (i, got_keep[i])

    # 1. Spark operator path
    op = gopher.with_gopher_keep(gopher.with_gopher_signals(df))
    check(
        {r.doc_id: {c: r[c] for c in sigcols} for r in op.collect()},
        {r.doc_id: (r.keep, r.drop_reason) for r in op.collect()},
    )

    # 2. the same SPARK rendering as nested SQL
    df.createOrReplaceTempView("t_gopher")
    ssig = spark.sql(gopher.signals_sql(sd.SPARK, table="t_gopher", round_out=False))
    skeep = spark.sql(gopher.keep_sql(sd.SPARK, table="t_gopher"))
    check(
        {r.doc_id: {c: r[c] for c in sigcols} for r in ssig.collect()},
        {r.doc_id: (r.keep, r.drop_reason) for r in skeep.collect()},
    )

    # 3. DuckDB rendering
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    dsig = con.execute(
        gopher.signals_sql(sd.DUCKDB, table="t", round_out=False)
    ).fetchall()
    dcols = [c[0] for c in con.execute(
        gopher.signals_sql(sd.DUCKDB, table="t", round_out=False)
    ).description]
    dkeep = con.execute(gopher.keep_sql(sd.DUCKDB, table="t")).fetchall()
    check(
        {r[0]: dict(zip(dcols[1:], r[1:])) for r in dsig},
        {r[0]: (bool(r[1]), r[2]) for r in dkeep},
    )

    # the crafted texts must actually trip every drop reason at least once
    tripped = {gr.gopher_keep_py(t or "")[1] for _, t in rows}
    for reason in gr.DROP_REASONS:
        assert reason in tripped, reason


def test_quality_classifier_matches_python_spec(spark):
    """Spark clf (codegen, shared logit string) == clf_py bit-for-bit
    on the decision, ≤1e-12 on the sigmoid; both classes occur."""
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").limit(200)
    rows = (
        quality.with_classifier(docs)
        .select("doc_id", "text", "clf_score", "clf_keep")
        .collect()
    )
    assert len(rows) == 200
    keeps = set()
    for r in rows:
        score, keep = quality_rules.clf_py(quality_rules.signals_py(r.text))
        assert r.clf_score == pytest.approx(score, abs=1e-12)
        assert r.clf_keep == keep
        keeps.add(keep)
    assert keeps == {True, False}


def test_importance_sample_deterministic_and_score_biased(spark):
    """md5-coin resampling: re-running yields the identical sample;
    acceptance rate tracks the classifier score (mean score of
    accepted docs strictly above rejected)."""
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    a = {r.doc_id: r.sampled for r in
         quality.with_importance_sample(docs).select("doc_id", "sampled").collect()}
    b = {r.doc_id: r.sampled for r in
         quality.with_importance_sample(docs).select("doc_id", "sampled").collect()}
    assert a == b
    rows = quality.with_importance_sample(docs).select("clf_score", "sampled").collect()
    acc = [r.clf_score for r in rows if r.sampled]
    assert acc and len(acc) < len(rows)
    # E[acceptance rate] == mean score; md5 coin at n=500 keeps the
    # gap well inside 3σ (~0.066 at p≈0.4)
    rate = len(acc) / len(rows)
    mean_score = sum(r.clf_score for r in rows) / len(rows)
    assert abs(rate - mean_score) < 0.07, (rate, mean_score)
