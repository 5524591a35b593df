"""Near-duplicate detection: MinHash+LSH, SimHash, exact-hash dedup.

The reference has no dedup — this is the training-data-toolbox
extension. Architecture (scale-first):

* MinHash signatures are computed per-row as array folds over the
  row's own shingles — ONE scan, ZERO shuffle, no explode. At 10^12
  docs this stage is embarrassingly parallel.
* LSH banding shuffles once on (band, bucket) — tiny rows (two ids +
  a hash); candidate pairs are verified with exact shingle Jaccard,
  so false LSH positives never survive to output.
* SimHash explodes tokens and bit-majority-votes via a map-side
  combinable groupBy — the same two-phase partial-agg shape as the
  reference's top10map/top10reduce (SURVEY.md §3.3), handled by one
  Catalyst plan.

Every fragment comes from spec/hashing.py and renders identically for
the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..spec import hashing as H

S = H.SPARK


def corpus_with_near_dups_sql(d: str, table: str = "documents") -> str:
    """documents ∪ mutated copies (every 10th doc gets a tail token) —
    deterministic near-dup positives so LSH recall is testable."""
    return (
        f"SELECT doc_id, text FROM {table} "
        f"UNION ALL "
        f"SELECT doc_id + 1000000 AS doc_id, text || ' near duplicate tail' AS text "
        f"FROM {table} WHERE doc_id % 10 = 0"
    )


def with_minhash(docs: DataFrame) -> DataFrame:
    """doc_id, __sh (distinct HASHED shingle set), sig_0..sig_{K-1}.

    One md5 per shingle (30-bit reduced); the K permutations are pure
    arithmetic over the hashed array — 8× fewer md5 evaluations. The
    Jaccard-verify payload is the distinct hashed set, NOT the shingle
    strings: identical set semantics (md5 is shared with the oracle)
    at ~10× smaller rows — this relation is persisted/materialized as
    the signature index, so its width is the storage cost at scale."""
    from ..functions.parallelism import ensure_parallelism

    toks = H.tokens_lower("text", S)
    sh = H.shingles("__toks", S)
    shh = H.shingle_hashes("__sh", S)
    out = (
        ensure_parallelism(docs).selectExpr("doc_id", f"{toks} AS __toks")
        .selectExpr("doc_id", f"{sh} AS __sh")
        .selectExpr("doc_id", f"{shh} AS __shh")
    )
    sig_cols = [
        F.expr(H.minhash_sig("__shh", k, S)).alias(f"sig_{k}")
        for k in range(H.N_HASHES)
    ]
    return out.select(
        "doc_id", F.array_distinct("__shh").alias("__sh"), *sig_cols
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    return with_minhash(docs).drop("__sh")


def lsh_pairs(docs: DataFrame) -> DataFrame:
    """Candidate pairs via banded LSH + exact-Jaccard verification.

    Returns (doc_a, doc_b, est_sim, jaccard). est_sim is the MinHash
    estimate (fraction of equal signature rows); jaccard is exact on
    the distinct 3-shingle sets. Output keeps all candidates — callers
    threshold. Shuffles: one on (band,bucket) for candidates, then two
    id-equi-joins to hydrate shingle sets (broadcastable when the
    candidate set is small; AQE decides).
    """
    # the signature relation feeds three consumers (banding + both
    # hydration sides); materialize it ONCE instead of recomputing the
    # md5/shingle work 3x — at corpus scale this is a signature TABLE
    # (the index), not a cache. localCheckpoint (not .persist()):
    # blocks auto-release via the ContextCleaner when the relation is
    # dropped, so repeated calls in a long session neither pin storage
    # memory per call nor trip CacheManager "already cached" warnings.
    sigs = with_minhash(docs).localCheckpoint(eager=False)
    band_arr = F.array(
        *[F.expr(H.band_hash(b, S)) for b in range(H.N_BANDS)]
    )
    bands = sigs.select(
        "doc_id", F.posexplode(band_arr).alias("band", "bucket")
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("__sh").alias("sh_a"),
        *[F.col(f"sig_{k}").alias(f"siga_{k}") for k in range(H.N_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("__sh").alias("sh_b"),
        *[F.col(f"sig_{k}").alias(f"sigb_{k}") for k in range(H.N_HASHES)],
    )
    est = sum(
        F.when(F.col(f"siga_{k}") == F.col(f"sigb_{k}"), 1).otherwise(0)
        for k in range(H.N_HASHES)
    ) / float(H.N_HASHES)
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(est, 6).alias("est_sim"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


def lsh_pairs_oracle_sql(d: str) -> str:
    """DuckDB rendering of the full LSH pipeline (same spec constants)."""
    corpus = corpus_with_near_dups_sql(d)
    toks = H.tokens_lower("text", d)
    sh = H.shingles("__toks", d)
    shh = H.shingle_hashes("__sh", d)
    sig_cols = ", ".join(
        f"{H.minhash_sig('__shh', k, d)} AS sig_{k}" for k in range(H.N_HASHES)
    )
    dedup_sh = "array_distinct(__shh)" if d == S else "list_distinct(__shh)"
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {H.band_hash(b, d)} AS bucket FROM sigs"
        for b in range(H.N_BANDS)
    )
    est = " + ".join(
        f"(CASE WHEN sa.sig_{k} = sb.sig_{k} THEN 1 ELSE 0 END)"
        for k in range(H.N_HASHES)
    )
    inter = f"len(list_intersect(sa.sh, sb.sh))"
    uni = f"len(list_distinct(list_concat(sa.sh, sb.sh)))"
    return f"""
WITH corpus AS ({corpus}),
sigs0 AS (SELECT doc_id, {sh} AS __sh FROM (SELECT doc_id, {toks} AS __toks FROM corpus)),
sigs1 AS (SELECT doc_id, __sh, {shh} AS __shh FROM sigs0),
sigs AS (SELECT doc_id, {dedup_sh} AS sh, {sig_cols} FROM sigs1),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       round(CAST({est} AS DOUBLE) / {H.N_HASHES}, 6) AS est_sim,
       round(CAST({inter} AS DOUBLE) / {uni}, 6) AS jaccard
FROM cand c
JOIN sigs sa ON sa.doc_id = c.doc_a
JOIN sigs sb ON sb.doc_id = c.doc_b
""".strip()


def with_simhash(docs: DataFrame, bits: int = H.SIMHASH_BITS) -> DataFrame:
    """doc_id, simhash — explode + bit-majority vote (map-side combine)."""
    toks = H.tokens_lower("text", S)
    h_expr = H.md5_i64("'w:' || __tok", S)
    exploded = docs.selectExpr("doc_id", f"explode({toks}) AS __tok").selectExpr(
        "doc_id", f"{h_expr} AS __h"
    )
    votes = [
        F.sum(
            F.when(F.expr(f"(shiftright(__h, {j}) & 1) = 1"), 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    voted = exploded.groupBy("doc_id").agg(*votes)
    recon = sum(
        F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for j in range(bits)
    )
    return voted.select("doc_id", recon.alias("simhash"))


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """md5 hash-groupBy with min-id representative (gate: dedup_exact)."""
    return docs.groupBy(F.md5(text_col).alias("text_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard set-similarity join (prefix filtering, PPJoin-style;
# Vernica/Carey/Li, "Efficient parallel set-similarity joins using
# MapReduce", SIGMOD'10 — public algorithm). The EXACT counterpart to
# the probabilistic MinHash path above: every pair with true shingle
# Jaccard >= t is found (no false negatives), candidates are pruned by
# the prefix-filter theorem instead of LSH banding.
# ---------------------------------------------------------------------------

# threshold 0.8 as an exact rational: ceil(t*n) = (n*NUM + DEN-1) div DEN
# in pure integer arithmetic. 0.8 is not float-representable, and
# ceil(0.8*5) evaluates to 5 in binary floating point (0.8*5 =
# 4.000000000000000222) — which would shrink the prefix below the safe
# bound and silently drop true pairs. Integers make the bound exact.
NGRAM_T_NUM = 4
NGRAM_T_DEN = 5


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """All pairs with exact n-gram (3-shingle) Jaccard >= 4/5, via
    prefix filtering: (doc_a, doc_b, n_a, n_b, jaccard).

    Plan shape (scale-first):
      1. per-row shingle-hash sets — one scan, zero shuffle;
      2. global shingle document-frequency — one (h)-keyed partial agg;
      3. each set re-ordered by ASCENDING df (tie: h) — the PPJoin
         canonical order. This is the load-bearing choice at 100 TB: a
         prefix holds a doc's RAREST shingles, so boilerplate shingles
         shared by millions of docs never become candidate keys and the
         per-key candidate blowup is bounded by the rare-token df, not
         the corpus size. (Hash order would put hot shingles in
         prefixes uniformly at random.)
      4. prefix of length n - ceil(t*n) + 1 → exploded (h, doc) keys,
         self-join on h, a < b, distinct — the prefix-filter theorem
         guarantees every true pair shares >= 1 prefix shingle;
      5. hydrate both full sets, verify with exact integer-compare
         Jaccard (|A∩B| * DEN >= |A∪B| * NUM) — false positives die.

    Shuffles: df agg, df join, per-doc reorder agg, candidate join,
    two hydration joins — all on (id, hash)-sized rows; the text never
    shuffles.
    """
    from ..functions.parallelism import ensure_parallelism

    toks = H.tokens_lower("text", S)
    sh = H.shingles("__toks", S)
    shh = H.shingle_hashes("__sh", S)
    sets = (
        ensure_parallelism(docs)
        .selectExpr("doc_id", f"{toks} AS __toks")
        .selectExpr("doc_id", f"{sh} AS __sh")
        .selectExpr("doc_id", f"array_sort(array_distinct({shh})) AS sh")
        # feeds df-count, reorder, and both hydration sides; auto-
        # released blocks (vs .persist(), which pins until unpersist)
        .localCheckpoint(eager=False)
    )
    tok = sets.select("doc_id", F.explode("sh").alias("h"))
    dfreq = tok.groupBy("h").agg(F.count("*").alias("df"))
    ordered = (
        tok.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(df, h))), s -> s.h)"
            ).alias("ordered")
        )
    )
    p = (
        f"size(ordered) - "
        f"(size(ordered) * {NGRAM_T_NUM} + {NGRAM_T_DEN - 1}) div {NGRAM_T_DEN}"
        f" + 1"
    )
    pref = ordered.selectExpr(
        "doc_id", f"slice(ordered, 1, CAST({p} AS INT)) AS __pref"
    ).select("doc_id", F.explode("__pref").alias("h"))
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(b, "h")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    uni = F.size(F.array_union("sh_a", "sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(inter * NGRAM_T_DEN >= uni * NGRAM_T_NUM)
        .select(
            "doc_a",
            "doc_b",
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
            F.round(inter.cast("double") / uni.cast("double"), 6).alias(
                "jaccard"
            ),
        )
    )


def ngram_jaccard_oracle_sql(d: str) -> str:
    """Algorithm-independent DuckDB oracle: enumerate pairs sharing ANY
    shingle (a superset of every true pair, since J >= 4/5 > 0 implies
    a shared shingle), then the same exact integer-compare Jaccard.
    Deliberately does NOT mirror the prefix filter — it checks the
    OUTPUT CONTRACT (exactly the pairs with J >= t), so a prefix-length
    bug on the Spark side cannot be replicated into the oracle."""
    corpus = corpus_with_near_dups_sql(d)
    toks = H.tokens_lower("text", d)
    sh = H.shingles("__toks", d)
    shh = H.shingle_hashes("__sh", d)
    return f"""
WITH corpus AS ({corpus}),
s0 AS (SELECT doc_id, {sh} AS __sh FROM (SELECT doc_id, {toks} AS __toks FROM corpus)),
s1 AS (SELECT doc_id, {shh} AS __shh FROM s0),
sets AS (SELECT doc_id, list_sort(list_distinct(__shh)) AS sh FROM s1),
tok AS (SELECT doc_id, unnest(sh) AS h FROM sets),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM tok a JOIN tok b ON a.h = b.h WHERE a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b, len(sa.sh) AS n_a, len(sb.sh) AS n_b,
       round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
FROM cand c
JOIN sets sa ON sa.doc_id = c.doc_a
JOIN sets sb ON sb.doc_id = c.doc_b
WHERE len(list_intersect(sa.sh, sb.sh)) * {NGRAM_T_DEN}
      >= len(list_distinct(list_concat(sa.sh, sb.sh))) * {NGRAM_T_NUM}
""".strip()


# ---------------------------------------------------------------------------
# Cluster resolution: verified near-dup pairs → one keeper per
# connected duplicate cluster. The step an actual 100-TB dedup pass
# needs after lsh_pairs: transitive closure (A~B, B~C → {A,B,C} keep
# min id), not just a pair list.
# ---------------------------------------------------------------------------

DEFAULT_JACCARD = 0.8


def resolve_clusters(
    pairs: DataFrame, nodes: DataFrame, max_iters: int = 12
) -> DataFrame:
    """(doc_id, keeper_doc_id): connected components over the pair
    graph by iterative min-label propagation with pointer jumping.

    Each round does (a) neighbor-min — every node adopts the smallest
    label among itself and its neighbors — and (b) path compression —
    label(x) := label(label(x)) — so convergence is O(log diameter)
    rounds, not O(diameter); dedup clusters are shallow, so this
    terminates in 2-3 rounds in practice. Per round: one shuffle of the
    (tiny, two-id) edge relation and one of the label relation;
    localCheckpoint truncates lineage so plans stay flat. The
    convergence check RIDES ON the round's own materialization job
    (`df.observe` counting label changes) — no separate compare join
    or count job per round.
    """
    edges = pairs.select(
        F.col("doc_a").cast("long").alias("src"),
        F.col("doc_b").cast("long").alias("dst"),
    )
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = nodes.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("doc_id").cast("long").alias("label"),
    ).localCheckpoint()
    changed = None
    for it in range(max_iters):
        changed = _cc_round(sym, labels, it)
        labels = changed[1]
        if changed[0] == 0:
            break
    else:
        # max_iters exhausted with labels still moving: the labels
        # are NOT component minima — returning them would hand
        # callers a wrong keeper mapping with no signal. With
        # pointer jumping, max_iters=12 covers diameters up to
        # ~2^12, so hitting this means a pathological graph, not a
        # tuning issue.
        raise RuntimeError(
            f"resolve_clusters did not converge within {max_iters} "
            f"iterations ({changed[0]} labels still changing); raise "
            "max_iters — partial labels are not a valid dedup result"
        )
    return labels.select("doc_id", F.col("label").alias("keeper_doc_id"))


def _cc_round(sym: DataFrame, labels: DataFrame, it: int) -> tuple[int, DataFrame]:
    """One neighbor-min + pointer-jump round; returns (n_changed,
    new labels). The convergence count rides on the round's own
    materialization via df.observe — no separate count job."""
    from pyspark.sql import Observation

    # (a) neighbor-min
    prop = (
        sym.join(labels, sym.src == labels.doc_id)
        .groupBy("dst")
        .agg(F.min("label").alias("nmin"))
    )
    stepped = labels.join(prop, labels.doc_id == prop.dst, "left").select(
        "doc_id",
        F.col("label").alias("old_label"),
        F.least(
            F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
        ).alias("label"),
    )
    # (b) pointer jumping: label := label(label)
    parent = stepped.select(
        F.col("doc_id").alias("p_id"), F.col("label").alias("p_label")
    )
    obs = Observation(f"cc_round_{it}")
    jumped = (
        stepped.join(parent, stepped.label == parent.p_id, "left")
        .select(
            "doc_id",
            "old_label",
            F.coalesce(F.col("p_label"), F.col("label")).alias("label"),
        )
        .observe(
            obs,
            F.sum(
                (F.col("label") != F.col("old_label")).cast("long")
            ).alias("n_changed"),
        )
        .drop("old_label")
        .localCheckpoint()  # eager: materializes AND fires the observation
    )
    return int(obs.get["n_changed"] or 0), jumped


def resolve_clusters_oracle_sql(
    d: str, threshold: float = DEFAULT_JACCARD
) -> str:
    """DuckDB recursive-CTE re-derivation: the transitive closure is
    algorithm-independent (component min), so the oracle enumerates
    reachability instead of mirroring the propagation schedule."""
    corpus = corpus_with_near_dups_sql(d)
    lsh = lsh_pairs_oracle_sql(d)
    return f"""
WITH RECURSIVE corpus AS ({corpus}),
pairs AS (
  SELECT doc_a, doc_b FROM ({lsh}) WHERE jaccard >= {threshold}
),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(id, label) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT e.dst, r.label FROM reach r JOIN sym e ON e.src = r.id
)
SELECT id AS doc_id, min(label) AS keeper_doc_id
FROM reach GROUP BY id
""".strip()


def apply_keepers(corpus: DataFrame, clusters: DataFrame) -> DataFrame:
    """The dedup pass, applied: corpus filtered to cluster keepers
    (singletons label themselves, so one LEFT SEMI join on the
    keeper condition drops exactly the non-keeper cluster members).
    The cluster relation is two BIGINTs — at corpus scale this is a
    narrow-key shuffle join against a text-carrying side that is
    scanned once and never widened."""
    keepers = clusters.where(
        F.col("doc_id") == F.col("keeper_doc_id")
    ).select("doc_id")
    return corpus.join(keepers, "doc_id", "left_semi")


def apply_keepers_oracle_sql(d: str, threshold: float = DEFAULT_JACCARD) -> str:
    clusters = resolve_clusters_oracle_sql(d, threshold)
    corpus = corpus_with_near_dups_sql(d)
    return f"""
WITH clusters AS ({clusters}),
corpus2 AS ({corpus})
SELECT c.doc_id, md5(c.text) AS text_md5
FROM corpus2 c
WHERE c.doc_id IN (
  SELECT doc_id FROM clusters WHERE doc_id = keeper_doc_id
)
""".strip()


# ---------------------------------------------------------------------------
# Incremental LSH dedup: admit a new crawl against a STORED signature
# index without re-signing the old corpus
# ---------------------------------------------------------------------------


def new_crawl_batch_sql(d: str, table: str = "documents") -> str:
    """The delta batch: near-dup mutations of every 10th old doc (must
    be rejected), plus fresh pages at +3M (must be admitted), plus
    exact copies of those at +4M (new-new dup: the lower id wins)."""
    cast_t = "STRING" if d == H.SPARK else "VARCHAR"
    fresh = (
        f"'completely fresh crawl page number ' || CAST(doc_id AS {cast_t}) "
        f"|| ' with its own distinct words'"
    )
    return (
        f"SELECT doc_id + 1000000 AS doc_id, text || ' near duplicate tail' AS text "
        f"FROM {table} WHERE doc_id % 10 = 0 "
        f"UNION ALL "
        f"SELECT doc_id + 3000000 AS doc_id, {fresh} AS text "
        f"FROM {table} WHERE doc_id % 25 = 0 "
        f"UNION ALL "
        f"SELECT doc_id + 4000000 AS doc_id, {fresh} AS text "
        f"FROM {table} WHERE doc_id % 25 = 0"
    )


def incremental_lsh_dedup(
    old_sigs: DataFrame, new_docs: DataFrame, threshold: float = DEFAULT_JACCARD
) -> DataFrame:
    """(doc_id, n_matches, admitted) for every NEW document.

    The 100-TB workflow: when a new crawl lands you must NOT re-shingle
    the existing corpus — `old_sigs` is the stored signature index
    (exactly `with_minhash`'s output relation, which dedup_minhash_lsh
    already persists: doc_id + hashed shingle set + K signature
    values). Only the delta pays the md5/shingle work; banding joins
    the delta's bands against (stored ∪ delta) bands; exact Jaccard
    verifies candidates on the stored hashed sets.

    Admission policy (deterministic, order-free): a new doc is
    REJECTED iff it verifies >= threshold against ANY old doc or any
    lower-id new doc — the greedy stream-order rule, so the gate's
    full-recompute oracle is exactly expressible. Transitive-cluster
    policies compose downstream via resolve_clusters.

    Scale shape: one signature pass over the delta only; one
    (band,bucket) shuffle where the old side ships two BIGINTs per
    band row; hydration joins fetch shingle payloads for candidates
    only. The old corpus TEXT is never read."""
    new_sigs = with_minhash(new_docs).localCheckpoint(eager=False)
    band_arr = F.array(*[F.expr(H.band_hash(b, S)) for b in range(H.N_BANDS)])

    def bands_of(sigs: DataFrame) -> DataFrame:
        return sigs.select(
            "doc_id", F.posexplode(band_arr).alias("band", "bucket")
        )

    all_b = (
        bands_of(old_sigs).withColumn("p_old", F.lit(True))
        .unionByName(bands_of(new_sigs).withColumn("p_old", F.lit(False)))
        .select(
            "band", "bucket", F.col("doc_id").alias("p_id"), "p_old"
        )
    )
    cand = (
        bands_of(new_sigs)
        .join(all_b, ["band", "bucket"])
        .where(F.col("p_old") | (F.col("p_id") < F.col("doc_id")))
        .select("doc_id", "p_id")
        .distinct()
    )
    all_sh = (
        old_sigs.select("doc_id", "__sh")
        .unionByName(new_sigs.select("doc_id", "__sh"))
        .select(F.col("doc_id").alias("p_id"), F.col("__sh").alias("sh_p"))
    )
    jac = F.size(F.array_intersect("sh_n", "sh_p")).cast("double") / F.size(
        F.array_union("sh_n", "sh_p")
    )
    matches = (
        cand.join(new_sigs.select("doc_id", F.col("__sh").alias("sh_n")), "doc_id")
        .join(all_sh, "p_id")
        .where(jac >= F.lit(threshold))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matches"))
    )
    return (
        new_docs.select("doc_id")
        .join(matches, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            F.coalesce("n_matches", F.lit(0)).eqNullSafe(0).alias("admitted"),
        )
    )


def recrawl_batch_sql(d: str, table: str = "documents") -> str:
    """Delta batch for index MAINTENANCE (vs new_crawl_batch_sql's
    admission batch): every 25th page re-crawled under its SAME
    doc_id with changed text (must supersede the stored signature
    row) plus fresh pages at +5M (must append)."""
    cast_t = "STRING" if d == H.SPARK else "VARCHAR"
    fresh = (
        f"'brand new crawl discovery page ' || CAST(doc_id AS {cast_t}) "
        f"|| ' full of previously unseen tokens'"
    )
    return (
        f"SELECT doc_id, text || ' revised on recrawl' AS text "
        f"FROM {table} WHERE doc_id % 25 = 0 "
        f"UNION ALL "
        f"SELECT doc_id + 5000000 AS doc_id, {fresh} AS text "
        f"FROM {table} WHERE doc_id % 40 = 0"
    )


def merge_signature_index(
    old_sigs: DataFrame, new_sigs: DataFrame
) -> DataFrame:
    """Index maintenance: fold a crawl delta's signatures into the
    stored MinHash index. Re-crawled doc_ids SUPERSEDE their stored
    rows; fresh ids append. The merged relation must be hash-identical
    to a full rebuild over (surviving old ∪ delta) — the
    `lsh_index_merge` gate proves it against a full-recompute oracle
    (the merge_rescored_snapshot contract, applied to the index).

    Scale shape: one left-anti join where the probe side is the
    delta's two-BIGINT id relation (AQE broadcasts it at typical
    crawl-delta ratios); the stored index's shingle payloads never
    shuffle and the old corpus text is never read. This keeps the
    signature index a MAINTAINED table — compacted in place like
    sinks.compact_partition does for corpus partitions — instead of
    being rebuilt per crawl."""
    return old_sigs.join(
        new_sigs.select("doc_id"), "doc_id", "left_anti"
    ).unionByName(new_sigs)


def merged_index_oracle_sql(d: str, table: str = "documents") -> str:
    """Full signature rebuild over (old minus re-crawled) ∪ delta —
    what the incremental merge must exactly reproduce."""
    toks = H.tokens_lower("text", d)
    sh = H.shingles("__toks", d)
    shh = H.shingle_hashes("__sh", d)
    sig_cols = ", ".join(
        f"{H.minhash_sig('__shh', k, d)} AS sig_{k}" for k in range(H.N_HASHES)
    )
    n_sh = (
        "size(array_distinct(__shh))"
        if d == H.SPARK
        else "len(list_distinct(__shh))"
    )
    return f"""
WITH delta AS ({recrawl_batch_sql(d, table)}),
merged AS (
  SELECT doc_id, text FROM {table}
  WHERE doc_id NOT IN (SELECT doc_id FROM delta)
  UNION ALL
  SELECT doc_id, text FROM delta
),
sigs0 AS (SELECT doc_id, {sh} AS __sh
          FROM (SELECT doc_id, {toks} AS __toks FROM merged)),
sigs1 AS (SELECT doc_id, {shh} AS __shh FROM sigs0)
SELECT doc_id, CAST({n_sh} AS BIGINT) AS n_sh, {sig_cols} FROM sigs1
""".strip()


def incremental_lsh_oracle_sql(
    d: str, threshold: float = DEFAULT_JACCARD, table: str = "documents"
) -> str:
    """Full re-derivation over old ∪ new with the SAME banding and the
    same greedy admission rule."""
    toks = H.tokens_lower("text", d)
    sh = H.shingles("__toks", d)
    shh = H.shingle_hashes("__sh", d)
    sig_cols = ", ".join(
        f"{H.minhash_sig('__shh', k, d)} AS sig_{k}" for k in range(H.N_HASHES)
    )
    dedup_sh = "array_distinct(__shh)" if d == H.SPARK else "list_distinct(__shh)"
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, is_new, {b} AS band, {H.band_hash(b, d)} AS bucket FROM sigs"
        for b in range(H.N_BANDS)
    )
    inter = "len(list_intersect(sn.sh, sp.sh))"
    uni = "len(list_distinct(list_concat(sn.sh, sp.sh)))"
    return f"""
WITH old_docs AS (SELECT doc_id, text FROM {table}),
new_docs AS ({new_crawl_batch_sql(d, table)}),
corpus AS (
  SELECT doc_id, text, FALSE AS is_new FROM old_docs
  UNION ALL
  SELECT doc_id, text, TRUE AS is_new FROM new_docs
),
sigs0 AS (SELECT doc_id, is_new, {sh} AS __sh
          FROM (SELECT doc_id, is_new, {toks} AS __toks FROM corpus)),
sigs1 AS (SELECT doc_id, is_new, __sh, {shh} AS __shh FROM sigs0),
sigs AS (SELECT doc_id, is_new, {dedup_sh} AS sh, {sig_cols} FROM sigs1),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT n.doc_id AS doc_id, p.doc_id AS p_id
  FROM bands n JOIN bands p ON n.band = p.band AND n.bucket = p.bucket
  WHERE n.is_new AND (NOT p.is_new OR p.doc_id < n.doc_id)
),
matches AS (
  SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_matches
  FROM cand c
  JOIN sigs sn ON sn.doc_id = c.doc_id
  JOIN sigs sp ON sp.doc_id = c.p_id
  WHERE CAST({inter} AS DOUBLE) / {uni} >= {threshold}
  GROUP BY c.doc_id
)
SELECT n.doc_id,
       coalesce(m.n_matches, 0) AS n_matches,
       coalesce(m.n_matches, 0) = 0 AS admitted
FROM new_docs n LEFT JOIN matches m ON n.doc_id = m.doc_id
""".strip()


# ---------------------------------------------------------------------------
# Quality-aware keeper: keep the BEST doc per dup cluster, not the
# lowest id
# ---------------------------------------------------------------------------


def quality_aware_keepers(corpus: DataFrame, clusters: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, score_ppm, keep): within each near-dup
    cluster keep the member with the highest classifier score
    (FineWeb-style — near-dups usually differ by boilerplate, and the
    cleanest copy should survive), tie-broken by lowest doc_id.

    The score is the established integer ppm rendering, so the argmax
    has no float boundary; rank<=1 per cluster runs as a
    WindowGroupLimit partial top-1 — only one candidate row per
    cluster per map task crosses the shuffle."""
    from pyspark.sql import Window

    from . import quality

    scored = quality.with_classifier(corpus).select(
        "doc_id",
        F.round(F.col("clf_score") * 1000000).cast("bigint").alias("score_ppm"),
    )
    j = clusters.select(
        "doc_id", F.col("keeper_doc_id").alias("cluster_id")
    ).join(scored, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("score_ppm").desc(), F.col("doc_id").asc()
    )
    return (
        j.withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            "score_ppm",
            (F.col("rk") == 1).alias("keep"),
        )
    )


def quality_keeper_oracle_sql(d: str, threshold: float = DEFAULT_JACCARD) -> str:
    from . import quality

    clusters = resolve_clusters_oracle_sql(d, threshold)
    corpus = corpus_with_near_dups_sql(d)
    clf = quality.classifier_sql(d, table="corpus2", key_cols="doc_id")
    return f"""
WITH clusters AS ({clusters}),
corpus2 AS ({corpus}),
clf AS ({clf}),
j AS (
  SELECT cl.doc_id, cl.keeper_doc_id AS cluster_id,
         CAST(round(c.clf_score * 1000000) AS BIGINT) AS score_ppm
  FROM clusters cl JOIN clf c ON cl.doc_id = c.doc_id
)
SELECT doc_id, cluster_id, score_ppm,
       row_number() OVER (
         PARTITION BY cluster_id ORDER BY score_ppm DESC, doc_id ASC
       ) = 1 AS keep
FROM j
""".strip()


def simhash_pairs(
    corpus: DataFrame, bits: int = 48, k: int = 3, chunks: int = 4
) -> DataFrame:
    """SimHash near-dup JOIN via pigeonhole bucketing (the Manku/
    Charikar web-dedup design): if two hashes differ in ≤ k bits, at
    least one of k+1 equal-width chunks is IDENTICAL — so candidates
    come from `chunks` bucket-joins on (chunk_index, chunk_value), not
    an all-pairs cross join, and only candidates pay the exact
    bit_count(xor) hamming verify. 48-bit hashes keep every value
    positive in both engines' signed BIGINT; production tuning is the
    same shape wider (64-bit hash, 16-bit chunks ⇒ 65k buckets).
    Scale: one explode (chunks× rows of three ints), one shuffle join
    on the chunk key, distinct, row-local verify — candidate volume
    ~ chunks · n² / 2^(bits/chunks) per skew-free key space.
    Output: (doc_a, doc_b, hamming) with doc_a < doc_b, hamming ≤ k."""
    assert chunks >= k + 1, "pigeonhole needs at least k+1 chunks"
    w = bits // chunks
    mask = (1 << w) - 1
    sim = with_simhash(corpus, bits=bits)
    pieces = F.array(
        *[
            F.struct(
                F.lit(c).alias("c"),
                F.expr(f"shiftright(simhash, {c * w}) & {mask}").alias(
                    "key"
                ),
            )
            for c in range(chunks)
        ]
    )
    e = sim.select(
        "doc_id", "simhash", F.explode(pieces).alias("p")
    ).select("doc_id", "simhash", F.col("p.c").alias("c"), F.col("p.key").alias("key"))
    a, b = e.alias("a"), e.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.expr("CAST(bit_count(sa ^ sb) AS INT)").alias("hamming"),
    ).where(F.col("hamming") <= k)


def simhash_pairs_oracle_sql(d: str, bits: int = 48, k: int = 3) -> str:
    """Algorithm-independent re-derivation: ALL pairs within hamming k
    over the full cross join — the bucketing must introduce no false
    negatives (pigeonhole is exact, not probabilistic)."""
    corpus = corpus_with_near_dups_sql(d)
    sim = H.simhash_select(d, table="corpus", bits=bits)
    return f"""
WITH corpus AS ({corpus}),
sim AS ({sim})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {k}
""".strip()


# ---------------------------------------------------------------------------
# Query-by-document: top-k nearest neighbors of GIVEN docs by shingle
# Jaccard — the point-query form of the corpus-wide pair scan above.
# ---------------------------------------------------------------------------

QBD_TOP_K = 5
QBD_QUERY_IDS = (0, 50, 100)  # %10==0 ⇒ each has a planted near-dup


def similar_to_doc(
    corpus: DataFrame,
    query_ids: tuple = QBD_QUERY_IDS,
    top_k: int = QBD_TOP_K,
) -> DataFrame:
    """(query_id, doc_id, n_shared, jaccard, rank): the top-k most
    similar corpus docs per query doc by exact 3-shingle Jaccard —
    'show me everything that looks like THIS doc' (takedown sweeps,
    contamination forensics, template hunting), where the corpus-wide
    pair operators answer the wrong question.

    Scale shape: the query side is by definition tiny, so its
    exploded shingles BROADCAST — the corpus-side scan streams once
    with zero shuffle to form candidates (docs sharing ≥ 1 shingle
    with a query; J > 0 implies a shared shingle, so recall is
    exact). Only candidates hydrate their shingle sets for the exact
    integer-set verify; ranking is one window per query_id that Spark
    runs as WindowGroupLimit. Both engines rank on the ROUNDED
    jaccard with a doc_id tie-break, so rank boundaries are
    bit-deterministic."""
    from ..functions.parallelism import ensure_parallelism

    toks = H.tokens_lower("text", S)
    sh = H.shingles("__toks", S)
    shh = H.shingle_hashes("__sh", S)
    sets = (
        ensure_parallelism(corpus)
        .selectExpr("doc_id", f"{toks} AS __toks")
        .selectExpr("doc_id", f"{sh} AS __sh")
        .selectExpr("doc_id", f"array_sort(array_distinct({shh})) AS sh")
        .localCheckpoint(eager=False)
    )
    ids = ", ".join(str(int(i)) for i in query_ids)
    q = sets.where(F.expr(f"doc_id IN ({ids})")).select(
        F.col("doc_id").alias("query_id"), F.col("sh").alias("qsh")
    )
    qtok = q.select("query_id", F.explode("qsh").alias("h"))
    ctok = sets.select("doc_id", F.explode("sh").alias("h"))
    cand = (
        ctok.join(F.broadcast(qtok), "h")
        .where(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id")
        .distinct()
    )
    j = (
        cand.join(sets, "doc_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "doc_id",
            F.size(F.array_intersect("sh", "qsh")).cast("bigint").alias(
                "n_shared"
            ),
            F.round(
                F.size(F.array_intersect("sh", "qsh")).cast("double")
                / F.size(F.array_union("sh", "qsh")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("jaccard"), F.asc("doc_id")
    )
    return (
        j.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= top_k)
    )


def similar_to_doc_oracle_sql(
    d: str,
    query_ids: tuple = QBD_QUERY_IDS,
    top_k: int = QBD_TOP_K,
) -> str:
    """Same candidate contract (any shared shingle) + exact verify +
    rounded-jaccard ranking in DuckDB list algebra."""
    corpus = corpus_with_near_dups_sql(d)
    toks = H.tokens_lower("text", d)
    sh = H.shingles("__toks", d)
    shh = H.shingle_hashes("__sh", d)
    ids = ", ".join(str(int(i)) for i in query_ids)
    return f"""
WITH corpus AS ({corpus}),
s0 AS (SELECT doc_id, {sh} AS __sh FROM (SELECT doc_id, {toks} AS __toks FROM corpus)),
s1 AS (SELECT doc_id, {shh} AS __shh FROM s0),
sets AS (SELECT doc_id, list_sort(list_distinct(__shh)) AS sh FROM s1),
q AS (SELECT doc_id AS query_id, sh AS qsh FROM sets WHERE doc_id IN ({ids})),
tok AS (SELECT doc_id, unnest(sh) AS h FROM sets),
qtok AS (SELECT query_id, unnest(qsh) AS h FROM q),
cand AS (
  SELECT DISTINCT qt.query_id, t.doc_id
  FROM qtok qt JOIN tok t ON t.h = qt.h
  WHERE t.doc_id <> qt.query_id
),
j AS (
  SELECT c.query_id, c.doc_id,
         CAST(len(list_intersect(s.sh, qq.qsh)) AS BIGINT) AS n_shared,
         round(CAST(len(list_intersect(s.sh, qq.qsh)) AS DOUBLE)
               / len(list_distinct(list_concat(s.sh, qq.qsh))), 6) AS jaccard
  FROM cand c
  JOIN sets s ON s.doc_id = c.doc_id
  JOIN q qq ON qq.query_id = c.query_id
),
ranked AS (
  SELECT query_id, doc_id, n_shared, jaccard,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY jaccard DESC, doc_id) AS BIGINT) AS rank
  FROM j
)
SELECT query_id, doc_id, n_shared, jaccard, rank
FROM ranked WHERE rank <= {top_k}
""".strip()
