"""Properties of the reweighting operators (DSIR, DoReMi) and the
NFC scrub beyond the oracle hash gate (tests/test_gate_parity.py
covers value equality; these pin the semantic invariants)."""

from __future__ import annotations

import unicodedata

from pyspark.sql import functions as F

from fineweb_modal_spark.operators import reweight, scrub
from fineweb_modal_spark.sources.tables import load_table

from .conftest import SF_ORACLE


def test_dsir_covers_every_document(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    out = reweight.with_dsir_weights(docs)
    assert out.count() == docs.count()
    # zero-token docs surface with the identity weight, not NULLs
    assert out.where(F.col("lw_micro").isNull()).count() == 0


def test_dsir_target_mean_weight_dominates(spark):
    """The in-domain proxy subset must score a strictly higher MEAN
    importance weight than the rest of the corpus — the defining
    property of the likelihood-ratio estimator (on any corpus where
    the target's token distribution differs at all)."""
    docs = load_table(spark, SF_ORACLE, "documents")
    w = reweight.with_dsir_weights(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    rates = (
        w.withColumn(
            "is_t",
            (F.col("source") == reweight.DSIR_TARGET_SOURCE).cast("int"),
        )
        .groupBy("is_t")
        .agg((F.sum("lw_micro") / F.sum("tok_count")).alias("per_tok"))
        .collect()
    )
    by = {r["is_t"]: r["per_tok"] for r in rates}
    assert by[1] > by[0]


def test_doremi_weights_form_a_distribution(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    rows = reweight.domain_reweight(docs).collect()
    n_sources = docs.select("source").distinct().count()
    assert len(rows) == n_sources
    total = sum(r["mix_weight"] for r in rows)
    assert abs(total - 1.0) < 1e-4  # rounded-6dp weights
    assert all(r["mix_weight"] > 0 for r in rows)
    # the best (lowest-loss) domain carries the SMALLEST weight:
    # DoReMi upweights domains with excess loss
    best = min(rows, key=lambda r: r["excess_loss"])
    assert best["excess_loss"] == 0.0
    assert best["mix_weight"] == min(r["mix_weight"] for r in rows)


def test_nfc_probe_composes_and_nfkc_forms_survive(spark):
    probe = scrub.NFC_PROBE
    composed = unicodedata.normalize("NFC", probe)
    assert len(probe) - len(composed) == 1  # e + U+0301 -> é
    assert "①" in composed and "ﬁ" in composed  # NFC, not NFKC
    df = spark.createDataFrame(
        [(1, "plain ascii" + probe), (2, None)], "id long, t string"
    )
    out = {
        r["id"]: r["n"]
        for r in scrub.with_nfc(df, "t", "n").collect()
    }
    assert out[1] == "plain ascii" + composed
    assert out[2] is None


# ---------------------------------------------------------------------------
# Property-based differentials (no Spark): the DuckDB rendering of
# each new operator vs an independent pure-Python mirror / stdlib.
# ---------------------------------------------------------------------------

import hashlib
import math
import re

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from fineweb_modal_spark.functions import sqldialect as sd

_ascii_text = st.text(
    alphabet=st.sampled_from(list("abcdefgh XY12\t\n")), max_size=60
)


def _dsir_py(corpus):
    """Pure-Python mirror of the DSIR formula (hashlib, not SQL)."""
    B = reweight.DSIR_BUCKETS

    def bucket(t):
        h = hashlib.md5(("dsir:" + t).encode()).hexdigest()[:15]
        return int(h, 16) % B

    def toks(text):
        return re.split(r"\s+", text.lower().strip(" \t\n\x0b\f\r"))

    cr, ct = {}, {}
    for doc_id, text, source in corpus:
        if text is None:
            continue
        for t in toks(text):
            b = bucket(t)
            cr[b] = cr.get(b, 0) + 1
            if source == reweight.DSIR_TARGET_SOURCE:
                ct[b] = ct.get(b, 0) + 1
    nr, nt = sum(cr.values()), sum(ct.values())

    def half_away(x):
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    lrq = {
        b: half_away(
            (
                math.log(ct.get(b, 0) + 1)
                - math.log(nt + B)
                - math.log(cr[b] + 1)
                + math.log(nr + B)
            )
            * 1000000
        )
        for b in cr
    }
    out = {}
    for doc_id, text, source in corpus:
        if text is None:
            out[doc_id] = (0, 0)
            continue
        ts = toks(text)
        out[doc_id] = (len(ts), sum(lrq[bucket(t)] for t in ts))
    return out


@given(
    st.lists(
        st.tuples(_ascii_text, st.sampled_from(["src0", "src1"])),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=40, deadline=None)
def test_dsir_sql_matches_python_mirror(rows):
    corpus = [(i, t, s) for i, (t, s) in enumerate(rows)]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ",".join(
            f"({i}, '" + t.replace("'", "''") + f"', '{s}')"
            for i, t, s in corpus
        )
        + ") t(doc_id, text, source)"
    )
    got = {
        r[0]: (r[1], r[2])
        for r in con.execute(reweight.dsir_weights_sql(sd.DUCKDB)).fetchall()
    }
    assert got == _dsir_py(corpus)


# Combining marks + Hangul jamo: the normalization-heavy repertoire.
# Unicode normalization is frozen by the consortium's stability
# policy, so Python's unicodedata and DuckDB's utf8proc MUST agree on
# every assigned codepoint — any divergence is a real bug.
_nfc_text = st.text(
    alphabet=st.characters(
        codec="utf-8",
        categories=("L", "N", "P", "Zs", "Mn"),
        include_characters=" é́①ﬁ각",
    ),
    max_size=80,
).filter(lambda s: "'" not in s and "\x00" not in s)


@given(st.lists(_nfc_text, min_size=1, max_size=10))
@settings(max_examples=60, deadline=None)
def test_nfc_python_matches_duckdb_utf8proc(texts):
    con = duckdb.connect()
    for t in texts:
        got = con.execute("SELECT nfc_normalize(?)", [t]).fetchone()[0]
        assert got == unicodedata.normalize("NFC", t), repr(t)


def test_job_train_then_score_dsir(spark, tmp_path, run_job):
    """--mode train-dsir persists the bucket log-ratio index;
    --mode score-dsir applies it to a later batch. Scored weights
    must equal the in-session train+score path, and docs made ONLY of
    training-unseen tokens must get the closed-form unseen default.
    Both stdout lines count what was written."""
    import os

    from fineweb_modal_spark.sources.tables import load_table

    docs_dir = str(tmp_path / "docs")
    docs = load_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "text", "source"
    )
    docs.write.parquet(docs_dir)

    mdir = str(tmp_path / "dsir_index")
    trained = run_job("--input", docs_dir, "--output", mdir, "--mode", "train-dsir")
    assert os.path.isdir(mdir)
    assert trained["buckets"] == reweight.load_ratio(spark, mdir).count() > 0

    delta_dir = str(tmp_path / "delta")
    delta = spark.createDataFrame(
        [(9_000_001, "zzqq wwxx zzqq"), (9_000_002, None)],
        "doc_id long, text string",
    )
    delta.write.parquet(delta_dir)
    scores_dir = str(tmp_path / "dsir_scores")
    scored = run_job(
        "--input", delta_dir, "--output", scores_dir,
        "--mode", "score-dsir", "--model", mdir,
    )

    got = {
        r.doc_id: (r.tok_count, r.lw_micro)
        for r in spark.read.parquet(scores_dir).collect()
    }
    ratio = reweight.train_dsir_ratio(docs)
    want = {
        r.doc_id: (r.tok_count, r.lw_micro)
        for r in reweight.score_with_ratio(delta, ratio).collect()
    }
    assert got == want
    assert scored["rows"] == len(got)
    assert got[9_000_002] == (0, 0)  # NULL text → identity weight
    assert got[9_000_001][0] == 3


def test_dsir_unseen_bucket_gets_closed_form_default(spark):
    """A delta token whose bucket the training corpus never populated
    scores the add-1 closed form ln((nr+B)/(nt+B)) — exactly what a
    full retrain with ct=cr=0 would assign. Trained on a 2-doc corpus
    so almost every bucket is provably unpopulated."""
    import math

    train = spark.createDataFrame(
        [(1, "alpha beta", "src0"), (2, "gamma", "src1")],
        "doc_id long, text string, source string",
    )
    ratio = reweight.train_dsir_ratio(train)
    trained_buckets = {r["b"] for r in ratio.collect()}
    # find a probe token hashing OUTSIDE the trained buckets
    probe = None
    for i in range(1000):
        t = f"probe{i}"
        b = (
            int(hashlib.md5(("dsir:" + t).encode()).hexdigest()[:15], 16)
            % reweight.DSIR_BUCKETS
        )
        if b not in trained_buckets:
            probe = t
            break
    assert probe is not None
    delta = spark.createDataFrame(
        [(10, probe)], "doc_id long, text string"
    )
    (row,) = reweight.score_with_ratio(delta, ratio).collect()
    nr, nt, B = 3, 2, reweight.DSIR_BUCKETS
    default = int(
        math.copysign(
            math.floor(
                abs((math.log(nr + B) - math.log(nt + B)) * 1e6) + 0.5
            ),
            1,
        )
    )
    assert (row["tok_count"], row["lw_micro"]) == (1, default)
