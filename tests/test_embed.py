"""Embed-stage tests: spec parity (independent-oracle pattern of
validate.ipynb cells 41-50), unit norms, determinism, and the
one-plan chunk→embed→topk composite."""

from __future__ import annotations

import numpy as np
import pytest

from fineweb_modal_spark.operators import embed as embed_op
from fineweb_modal_spark.spec import embed_model
from fineweb_modal_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_embed_matches_python_spec(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text").limit(50)
    rows = embed_op.with_embedding_sig(docs).collect()
    texts = {r.doc_id: r.text for r in docs.collect()}
    for r in rows:
        want = embed_model.embed_one(texts[r.doc_id])
        got = np.asarray(r.embedding, dtype=np.float32)
        assert got.shape == (embed_model.DIM,)
        np.testing.assert_array_equal(got, want)


def test_embed_unit_norm_and_similarity_sanity(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text").limit(100)
    rows = embed_op.with_embedding_sig(docs).collect()
    for r in rows:
        v = np.asarray(r.embedding, dtype=np.float32)
        assert np.linalg.norm(v) == pytest.approx(1.0, abs=1e-5)
    # a text is most similar to itself among others
    v0 = np.asarray(rows[0].embedding)
    sims = [float(np.dot(v0, np.asarray(r.embedding))) for r in rows]
    assert max(sims) == pytest.approx(sims[0], abs=1e-6)


def test_chunk_embed_topk_shape(spark):
    from fineweb_modal_spark.plans import queries as Q

    t = Q.queries()["chunk_embed_topk"](spark, SF)
    rows = t.collect()
    assert rows
    by_f = {}
    for r in rows:
        by_f.setdefault(r.feature, []).append(r)
    for f, rs in by_f.items():
        assert len(rs) <= 5
        acts = [r.activation for r in sorted(rs, key=lambda r: r.rank)]
        assert acts == sorted(acts, reverse=True)


def test_fused_chunk_embed_equals_unfused(spark):
    """operators/chunk_embed fusion must equal the two-stage form."""
    import numpy as np
    from pyspark.sql import functions as F

    from fineweb_modal_spark.operators import chunk_embed
    from fineweb_modal_spark.operators.chunker import chunk_documents

    docs = load_table(spark, SF, "documents").select(
        "doc_id", F.repeat(F.concat("text", F.lit(" ")), 8).alias("text")
    ).limit(50)
    fused = {
        (r.doc_id, r.chunk_index): (r.chunk_text, r.chunk_token_count, tuple(r.embedding))
        for r in chunk_embed.chunk_and_embed(docs).collect()
    }
    chunks = chunk_documents(docs, id_col="doc_id", keep_cols=())
    unfused = {
        (r.doc_id, r.chunk_index): (r.chunk_text, r.chunk_token_count, tuple(r.embedding))
        for r in embed_op.with_embedding_sig(
            chunks, text_col="chunk_text"
        ).collect()
    }
    assert fused.keys() == unfused.keys()
    for k in fused:
        assert fused[k][0] == unfused[k][0]
        assert fused[k][1] == unfused[k][1]
        np.testing.assert_array_equal(
            np.asarray(fused[k][2], dtype=np.float32),
            np.asarray(unfused[k][2], dtype=np.float32),
        )


def test_signature_matches_python_spec_and_vector(spark):
    """with_embedding_sig: (norm_sq, sig) match signature_one, and the
    float vector is exactly counts/sqrt(norm_sq) in float32."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text").limit(50)
    rows = embed_op.with_embedding_sig(docs).collect()
    texts = {r.doc_id: r.text for r in docs.collect()}
    for r in rows:
        ns, sig = embed_model.signature_one(texts[r.doc_id] or "")
        assert (r.norm_sq, r.sig) == (ns, sig)
        c = embed_model.counts_one(texts[r.doc_id] or "")
        assert int((c * c).sum()) == r.norm_sq
        # exact count recovery from the float vector (the trick the
        # chunk_embed_topk gate relies on)
        if ns > 0:
            v = np.asarray(r.embedding, dtype=np.float64)
            rec = np.round(v * np.sqrt(float(ns))).astype(np.int64)
            np.testing.assert_array_equal(rec, c)


def test_signature_spark_sql_rendering_matches_udf(spark):
    """The SPARK dialect rendering of signature_sql must agree with the
    pandas-UDF path — same anti-drift guarantee the DuckDB oracle gets
    from the gate."""
    from fineweb_modal_spark.functions import sqldialect as sd

    docs = load_table(spark, SF, "documents").select("doc_id", "text").limit(80)
    docs.createOrReplaceTempView("__sig_docs")
    sql = embed_model.signature_sql(sd.SPARK, table="__sig_docs")
    via_sql = {r.doc_id: (r.norm_sq, r.sig) for r in spark.sql(sql).collect()}
    via_udf = {
        r.doc_id: (r.norm_sq, r.sig)
        for r in embed_op.with_embedding_sig(docs).collect()
    }
    assert via_sql == via_udf
