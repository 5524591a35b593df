"""Full-text search over `documents` (SURVEY S10; the reference
builds an FTS index at lancer.py:197-201): one tokenizer, one
inverted-index builder, BM25-shaped keyword search, phrase search and
a count-min token-frequency screen.

The tokenizer is stated once as SQL (`tokens_sql`) for Spark and the
DuckDB oracles. It trims SPACES only (SQL `trim`), not `sd.ws_trim`'s
ASCII whitespace set: a tab- or newline-edged text keeps its empty
edge token, in both dialects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import sqldialect as sd
from . import countmin

MIN_DF = 50  # postings keep only tokens in at least this many docs
TOPK = 10  # docs returned per query term / phrase
N_TERMS = 5  # keyword queries: the corpus's highest-df tokens
N_PHRASES = 3  # phrase queries: the corpus's most frequent bigrams
N_CMS_KEYS = 20  # count-min screen: the most frequent tokens
_WS_RUN = r"\s+"

# BM25-SHAPED scoring with a RATIONAL idf (n_docs/df) instead of the
# ln() form: every input is an exact integer (tf, dl, df, N, total
# token count), every op is a correctly-rounded IEEE +,·,/ written as
# the SAME expression text in both engines — so scores are
# bit-identical doubles and the gate can hash them rounded. (ln is
# libm-dependent across JVM/C and would reintroduce float-parity risk
# for zero ranking benefit here.)
BM25_K1 = 1.2
BM25_B = 0.75
# (1 - b + b·dl/avgdl) with avgdl = total_len/n_docs, pre-folded:
BM25_SCORE_SQL = (
    f"(CAST(tf AS DOUBLE) * {BM25_K1 + 1.0}) / "
    f"(CAST(tf AS DOUBLE) + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * "
    "(CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(total_len AS DOUBLE)))) * "
    "(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))"
)


def tokens_sql(col: str, d: str) -> str:
    """Token array of `col`: lowercased, space-trimmed, split on
    whitespace runs."""
    fn = "split" if d == sd.SPARK else "regexp_split_to_array"
    return f"{fn}(trim(lower({col})), '{sd.esc(_WS_RUN, d)}')"


def tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, tok): one row per token of every non-blank doc."""
    return docs.where(F.length(F.trim("text")) > 0).select(
        "doc_id", F.posexplode(F.expr(tokens_sql("text", sd.SPARK))).alias("pos", "tok")
    )


def postings(docs: DataFrame, shards: int = 1) -> DataFrame:
    """Inverted index of the tokens in ≥ MIN_DF docs; a posting list
    is the sorted doc_ids comma-joined (hashable for the gates).

    shards=1 gives (tok, df, postings). shards=S>1 gives (tok, shard,
    df_shard, postings) keyed on (tok, doc_id mod S): a hot token
    ('the') no longer funnels its whole list through ONE reducer.
    A token's shard lists merge into its unsharded list, and its
    df_shard values sum to its df."""
    toks = tokens(docs).select("doc_id", "tok")
    keys, df_col = ["tok"], "df"
    if shards > 1:
        hot = (
            toks.groupBy("tok")
            .agg(F.countDistinct("doc_id").alias("df"))
            .where(F.col("df") >= MIN_DF)
            .select("tok")
        )
        toks = toks.join(F.broadcast(hot), "tok")
        keys, df_col = ["tok", F.pmod("doc_id", F.lit(shards)).alias("shard")], "df_shard"
    index = toks.groupBy(*keys).agg(
        F.countDistinct("doc_id").alias(df_col),
        F.array_join(F.sort_array(F.collect_set("doc_id")), ",").alias("postings"),
    )
    return index if shards > 1 else index.where(F.col("df") >= MIN_DF)


def search_topk(docs: DataFrame) -> DataFrame:
    """(tok, doc_id, tf, dl, df, score, rank): the TOPK docs per query
    term under BM25-shaped scoring; the terms are the N_TERMS
    highest-df tokens (tie: token).

    tf/df/dl are partial-agg counts (no posting-list collect); terms
    and the 1-row corpus stats broadcast; the per-term ranking is ONE
    window Spark runs as WindowGroupLimit (partial top-k per map
    partition before the shuffle), so a hot term never funnels its
    posting list through one reducer."""
    toks = tokens(docs)
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    df_tbl = tf.groupBy("tok").agg(F.count("*").alias("df"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_len"),
    )
    terms = df_tbl.orderBy(F.desc("df"), F.asc("tok")).limit(N_TERMS)
    scored = (
        tf.join(F.broadcast(terms), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("score", F.expr(BM25_SCORE_SQL))
    )
    w = Window.partitionBy("tok").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK)
        .select(
            "tok", "doc_id", "tf", "dl", "df",
            F.round("score", 6).alias("score"), "rank",
        )
    )


def phrase_search(docs: DataFrame) -> DataFrame:
    """(w1, w2, doc_id, n_occ, rank): the TOPK docs per two-word phrase
    by occurrence count; the phrases are the N_PHRASES most frequent
    bigrams (tie: lexicographic).

    Adjacency is lead() over a window PARTITIONED BY doc_id, so state
    is one document's token stream, never the corpus. Phrase choice
    and the match probe are two-phase count aggs; the phrases
    broadcast; per-phrase ranking is one WindowGroupLimit window."""
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    big = tokens(docs).select(
        "doc_id",
        F.col("tok").alias("w1"),
        F.lead("tok").over(wdoc).alias("w2"),
    ).where(F.col("w2").isNotNull())
    phrases = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_total"))
        .orderBy(F.desc("n_total"), "w1", "w2")
        .limit(N_PHRASES)
        .select("w1", "w2")
    )
    m = (
        big.join(F.broadcast(phrases), ["w1", "w2"])
        .groupBy("w1", "w2", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    w = Window.partitionBy("w1", "w2").orderBy(F.desc("n_occ"), "doc_id")
    return (
        m.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK)
        .select(
            "w1", "w2", "doc_id",
            F.col("n_occ").cast("bigint").alias("n_occ"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def token_freq_cms(docs: DataFrame) -> DataFrame:
    """(tok, exact_cnt, est, overestimate): count-min estimates (est ≥
    exact always) for the N_CMS_KEYS most frequent tokens. The sketch
    is a fixed d×w partial agg, the fixed-memory substitute for a full
    token groupBy when only frequency screens are needed."""
    toks = tokens(docs).select("tok")
    cms = countmin.build_cms(toks, "tok")
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_cnt"))
    keys = exact.orderBy(F.desc("exact_cnt"), F.asc("tok")).limit(N_CMS_KEYS).select("tok")
    est = countmin.estimate(keys, cms, "tok")
    return est.join(exact, "tok").select(
        "tok", "exact_cnt", "est",
        (F.col("est") - F.col("exact_cnt")).cast("long").alias("overestimate"),
    )
