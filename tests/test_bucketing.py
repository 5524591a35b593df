"""Bucketed tables: co-located joins without a shuffle.

The 100 TB story for repeated joins on the same key (e.g. doc_id ↔
embedding vec_id every pipeline run) is bucketing both tables on the
join key at write time: the join then runs with ZERO exchanges. This
test writes both sides bucketed via saveAsTable and asserts the
Exchange-free plan and correct results. Also exercises the pure-SQL
entry surface (spark.sql over registered views).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from fineweb_modal_spark import session
from fineweb_modal_spark.sources.tables import load_table, register_views

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    docs = load_table(spark, SF, "documents")
    emb = load_table(spark, SF, "embeddings")
    spark.sql("DROP TABLE IF EXISTS b_docs")
    spark.sql("DROP TABLE IF EXISTS b_emb")
    (
        docs.write.bucketBy(8, "doc_id")
        .sortBy("doc_id")
        .option("path", str(tmp_path / "b_docs"))  # external: keep the
        .mode("overwrite")                          # repo warehouse clean
        .saveAsTable("b_docs")
    )
    (
        emb.withColumnRenamed("vec_id", "doc_id")
        .write.bucketBy(8, "doc_id")
        .sortBy("doc_id")
        .option("path", str(tmp_path / "b_emb"))
        .mode("overwrite")
        .saveAsTable("b_emb")
    )
    # disable broadcast so the join would otherwise need a shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_docs").join(spark.table("b_emb"), "doc_id").select(
            "doc_id", "source", "label"
        )
        plan = _plan(j)
        assert "Exchange" not in plan, plan[:2000]
        want = docs.join(
            emb.withColumnRenamed("vec_id", "doc_id"), "doc_id"
        ).count()
        assert j.count() == want
    finally:
        session.configure(spark)


def test_sql_string_interface(spark):
    """The engine's tables answer plain spark.sql — the SQL surface a
    reference user would reach for first."""
    register_views(spark, SF)
    got = spark.sql(
        """
        SELECT d.source, count(*) AS n, round(avg(e.label), 6) AS avg_label
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        WHERE d.n_chars > 100
        GROUP BY d.source ORDER BY n DESC, d.source LIMIT 5
        """
    ).collect()
    assert got
    docs = load_table(spark, SF, "documents").where("n_chars > 100")
    emb = load_table(spark, SF, "embeddings")
    want = (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .groupBy("source")
        .agg(F.count("*").alias("n"), F.round(F.avg("label"), 6).alias("avg_label"))
        .orderBy(F.desc("n"), "source")
        .limit(5)
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_zvalue_matches_python_mirror(spark):
    from fineweb_modal_spark.operators import layout

    rows = [(i, (i * 37) % 65536, (i * 101) % 65536) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, x long, y long")
    got = {r.doc_id: r.zval for r in layout.with_zvalue(df, "x", "y").collect()}
    for i, x, y in rows:
        assert got[i] == layout.zvalue_py(x, y), (i, x, y)


def test_zorder_layout_files_hold_rectangles(spark, tmp_path):
    """Each range-partitioned file holds a contiguous z-range, i.e. a
    bounded rectangle of (x, y) space — the property min/max stats
    pruning relies on."""
    from pyspark.sql import functions as F

    from fineweb_modal_spark.operators import layout

    df = spark.range(4096).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 64).alias("x"),
        ((F.col("id") * 7) % 64).alias("y"),
    )
    out = layout.zorder_layout(df, "x", "y", n_files=8)
    import pyspark.sql.functions as f

    per_part = (
        out.withColumn("pid", f.spark_partition_id())
        .groupBy("pid")
        .agg(f.min("zval").alias("lo"), f.max("zval").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in per_part)
    # ranges are disjoint and ordered -> contiguous z-ranges per file
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2
