"""The curation decision record: quality battery ∧ edu score ∧
exact-dedup keeper ∧ benchmark holdout + n-gram decontamination, one
row per document. `jobs/run_pipeline.py --mode curate` and the gates
`full_curation_report` and `curation_funnel` read it."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import decontam, dedup, quality, similarity


def curation_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, final_keep, q_keep, edu_keep, is_canonical,
    contaminated, reason) for every document of an sf-layout dir; the
    first failing stage names the reason. Docs without an embedding
    pass the edu stage. All joins are equi-joins on doc_id (AQE
    broadcasts the small relations); the gram probe touches only
    contaminated docs."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    qk = quality.with_keep(quality.with_signals(docs)).select(
        "doc_id", "keep", "drop_reason"
    )
    cent = similarity.train_edu_centroid(emb)
    edu = similarity.edu_scores(emb, cent).select(
        "doc_id", F.col("keep").alias("edu_keep_raw")
    )
    canon = (
        docs.select("doc_id", F.md5("text").alias("text_hash"))
        .join(dedup.exact_dedup(docs), "text_hash")
        .select("doc_id", (F.col("doc_id") == F.col("keeper_doc_id")).alias("is_canonical"))
    )
    held_out = F.col("doc_id") % 97 == 0  # the benchmark holdout
    bench_docs = docs.where(held_out).select("doc_id", "text")
    corpus_excl = docs.where(~held_out).select("doc_id", "text")
    cont = decontam.decontaminate(
        corpus_excl, decontam.benchmark_grams(bench_docs)
    ).select("doc_id", F.lit(True).alias("cont_raw"))

    rep = (
        docs.select("doc_id")
        .join(qk, "doc_id")
        .join(edu, "doc_id", "left")
        .join(canon, "doc_id")
        .join(cont, "doc_id", "left")
        .withColumn("edu_keep", F.coalesce("edu_keep_raw", F.lit(True)))
        .withColumn("contaminated", F.coalesce("cont_raw", F.lit(False)))
    )
    reason = (
        F.when(held_out, F.lit("benchmark_doc"))
        .when(~F.col("keep"), F.col("drop_reason"))
        .when(~F.col("edu_keep"), F.lit("low_edu_score"))
        .when(~F.col("is_canonical"), F.lit("duplicate"))
        .when(F.col("contaminated"), F.lit("contaminated"))
    )
    return rep.select(
        "doc_id",
        reason.isNull().alias("final_keep"),
        F.col("keep").alias("q_keep"),
        "edu_keep",
        "is_canonical",
        "contaminated",
        reason.alias("reason"),
    )
