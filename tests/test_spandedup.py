"""Duplicated-span dedup + mixture sampling operator tests."""

from __future__ import annotations

import pyspark.sql.functions as F

from fineweb_modal_spark.operators import mixture, spandedup
from fineweb_modal_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
W = spandedup.SPAN_W  # 30


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _doc(prefix: str, n: int) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_cross_doc_copied_run_exact_spans(spark):
    # doc 2 copies doc 1's tokens 21..60 (a 40-token run) and nothing else
    a_toks = [f"a{i}" for i in range(1, 81)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(a_toks)),
            (2, " ".join(a_toks[20:60]) + " " + _doc("z", 40)),
            (3, _doc("q", 80)),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.span_start, r.span_end, r.n_windows)
        for r in spandedup.duplicated_spans(docs).collect()
    }
    # 40-token run => 40-W+1 = 11 windows; span recovers the full run
    assert got[1] == (21, 60, 11)
    assert got[2] == (1, 40, 11)
    assert 3 not in got


def test_within_doc_repeat_two_spans(spark):
    # one doc: 40 unique tokens followed by the same 40 again
    half = [f"r{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [(7, " ".join(half + half))], "doc_id long, text string"
    )
    got = sorted(
        (r.span_start, r.span_end)
        for r in spandedup.duplicated_spans(docs).collect()
    )
    assert got == [(1, 40), (41, 80)]


def test_clean_corpus_no_spans_and_broadcast_probe(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    out = spandedup.duplicated_spans(
        docs.where(F.col("doc_id") < 3)  # 3 distinct word-soup docs
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_mixture_rates_semantics(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "source")
    n_by_src = {
        r.source: r.n
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    some_src = sorted(n_by_src)[0]
    rates = spark.createDataFrame(
        [(some_src, mixture.MIX_DEN), (sorted(n_by_src)[1], 0)],
        "source string, rate_num int",
    )
    kept = mixture.mixture_sample(docs, rates)
    counts = {
        r.source: r.n
        for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # rate DEN/DEN keeps everything, rate 0 nothing, unlisted dropped
    assert counts == {some_src: n_by_src[some_src]}
    assert "BroadcastHashJoin" in _plan(kept)


def test_mixture_deterministic_under_repartition(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "source")
    rates = spark.createDataFrame(
        [(s, 500) for s in {r.source for r in docs.select("source").distinct().collect()}],
        "source string, rate_num int",
    )
    a = {r.doc_id for r in mixture.mixture_sample(docs, rates).collect()}
    b = {
        r.doc_id
        for r in mixture.mixture_sample(docs.repartition(13), rates).collect()
    }
    assert a == b and 0 < len(a) < 500


def test_excise_removes_exact_range(spark):
    a_toks = [f"a{i}" for i in range(1, 81)]
    z_toks = [f"z{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [(1, " ".join(a_toks)), (2, " ".join(a_toks[20:60] + z_toks))],
        "doc_id long, text string",
    )
    spans = spandedup.duplicated_spans(docs).where(F.col("doc_id") == 2)
    got = spandedup.excise_spans(docs, spans).collect()
    assert len(got) == 1
    r = got[0]
    # doc 2: 40 copied tokens ([1,40]) removed, the 40 unique remain
    assert (r.doc_id, r.n_before, r.n_after) == (2, 80, 40)
    assert r.clean_text == " ".join(z_toks)


def test_heavily_duplicated_corpus_matches_oracle(spark):
    """A raw-crawl-like fixture where >= 30% of the windows are
    duplicated (the duplicated-hash set is no longer a vanishing
    minority): the spans still equal the DuckDB oracle's."""
    import duckdb
    import pandas as pd

    from fineweb_modal_spark.spec import hashing as H

    base = {i: [f"d{i}t{j}" for j in range(70)] for i in range(0, 40, 2)}
    rows = [(i, " ".join(t)) for i, t in base.items()]
    # every odd doc copies a 50-token run of its even neighbour
    rows += [(i + 1, " ".join(t[10:60] + [f"u{i}x{j}" for j in range(20)])) for i, t in base.items()]
    rows += [(i, _doc(f"c{i}w", 70)) for i in range(40, 50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = sorted(
        tuple(r)
        for r in spandedup.duplicated_spans(docs)
        .select("doc_id", "span_start", "span_end", "n_windows")
        .collect()
    )
    n_windows = len(rows) * (70 - W + 1)
    assert sum(r[3] for r in got) / n_windows >= 0.3

    con = duckdb.connect()
    con.register("fixture", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = sorted(
        tuple(int(x) for x in r)
        for r in con.execute(spandedup.duplicated_spans_oracle_sql(H.DUCKDB, "fixture")).fetchall()
    )
    assert got == want
    assert len(got) == 40
