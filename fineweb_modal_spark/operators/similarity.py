"""Similarity search over embedding columns (array<float>).

Five paths, per the training-data-toolbox contract:

* `cosine_topk` — brute-force cosine top-k: the correctness baseline.
  Self-join (broadcast when one side fits) + window row_number. At
  query-batch scale (few query vectors vs a big corpus) the query
  side is broadcast and the corpus is scanned once — the right
  physical plan for "find neighbors of these N docs in 100 TB".
* `neardup_cosine_lsh` — random-hyperplane sign-LSH: P deterministic
  ±1 hyperplanes (md5-derived, shared with the DuckDB oracle) bucket
  vectors by sign pattern; only in-bucket pairs get exact cosine.
  The bucket computation is a ROW-LOCAL fold over literal plane
  weights (zero shuffle, the minhash_signatures pattern); the bucket
  self-join replaces the O(n²) cross join — the scale path for
  embedding near-dup removal.
* `ivf_topk` — a trained IVF index: sampled k-means (Lloyd) with
  sqrt(n) centroids and broadcast BLAS assignment.
* `ivf_pq_topk` — IVF-PQ: the same coarse index plus per-subspace
  product-quantization codebooks; candidates ship M small codes
  instead of d floats through the cell shuffle, scored by per-query
  ADC lookup tables.
* `semantic_dedup` — SemDeDup over the same coarse index.

All three score through ONE block plan, `_blocked_cogroup`: cells are
salted into (cell, c_salt, q_salt) groups of about `CELL_CAP`
candidates × `QUERY_CAP` queries, and each group is scored in slices
of at most `SCORE_CELLS` (probe, candidate) pairs (module constants,
read at call time), so no pandas scoring call ever builds a score
matrix larger than SCORE_CELLS regardless of corpus size or cell skew.

The reference's index is the LanceDB IVF-PQ build (lancer.py:203-216,
SURVEY.md S11) — num_partitions=int(n**0.5), metric=cosine, trained
on the data. `train_ivf_centroids` + `train_pq_codebooks` reproduce
that contract (sampled training, sqrt(n) cells, PQ compression) on
Spark; the (ids, matrix) centroid pair is the index every scorer takes.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..spec import hashing as H

S = H.SPARK

N_PLANES = 8
COS_THRESHOLD = 0.99


def _dot(a: str, b: str, d: str) -> str:
    if d == S:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            f"CAST(0.0 AS DOUBLE), (s, x) -> s + x)"
        )
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def _norm(a: str, d: str) -> str:
    if d == S:
        return (
            f"sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
            f"CAST(0.0 AS DOUBLE), (s, x) -> s + x))"
        )
    return (
        f"sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )


BRUTE_FORCE_CAP = 65_536


def cosine_topk(emb: DataFrame, k: int = 3, force: bool = False) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): top-k neighbors per vector.

    Brute force — the documented O(n²) CORRECTNESS BASELINE for the
    ANN family; `ivf_topk` / `ivf_pq_topk` are the scale paths. The
    corpus side of the join is broadcast; rank ties broken by
    neighbor_id. Refuses corpora above ``BRUTE_FORCE_CAP`` vectors
    unless ``force=True`` so the baseline cannot silently become a
    composed-pipeline cost at scale (one count() job up front — noise
    next to the n² pair work it bounds).
    """
    if not force:
        n = emb.count()
        if n > BRUTE_FORCE_CAP:
            raise ValueError(
                f"cosine_topk is the O(n^2) correctness baseline: corpus has "
                f"{n} vectors (> cap {BRUTE_FORCE_CAP}). Use ivf_topk / "
                f"ivf_pq_topk at scale, or pass force=True to insist."
            )
    # norms are per-ROW columns (computed once per vector, not per pair
    # — at n vectors that is n evaluations instead of n²)
    a = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("va"),
        F.expr(_norm("embedding", S)).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("vb"),
        F.expr(_norm("embedding", S)).alias("nb"),
    )
    cos = F.expr(_dot("va", "vb", S)) / (F.col("na") * F.col("nb"))
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    return _ranked_topk(pairs, k, "cosine")


def _ranked_topk(pairs: DataFrame, k: int, score: str) -> DataFrame:
    """(query_id, neighbor_id, round(score, 6), rank): the global top-k
    window over (query_id, neighbor_id, score) pairs — rank ties broken
    by neighbor_id."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round(score, 6).alias(score), "rank")
    )


def cosine_topk_oracle_sql(d: str, k: int = 3, table: str = "embeddings") -> str:
    dot = _dot("a.embedding", "b.embedding", d)
    nrm = _norm("embedding", d)
    return f"""
WITH n AS (SELECT vec_id, embedding, ({nrm}) AS vnorm FROM {table}),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ({dot}) / (a.vnorm * b.vnorm) AS cosine
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= {k}
""".strip()


# ---------------------------------------------------------------------------
# Sign-LSH near-duplicate path
# ---------------------------------------------------------------------------


def corpus_with_dup_vectors_sql(d: str, table: str = "embeddings") -> str:
    """embeddings ∪ scaled copies (every 10th vector ×1.01 → cosine 1
    with its source) — deterministic positives for the LSH path."""
    scale = (
        "transform(embedding, x -> CAST(x * CAST(1.01 AS FLOAT) AS FLOAT))"
        if d == S
        else "list_transform(embedding, x -> CAST(x * CAST(1.01 AS FLOAT) AS FLOAT))"
    )
    return (
        f"SELECT vec_id, embedding FROM {table} "
        f"UNION ALL "
        f"SELECT vec_id + 100000 AS vec_id, {scale} AS embedding "
        f"FROM {table} WHERE vec_id % 10 = 0"
    )


def plane_sign_sql(d: str) -> str:
    """(p, dim, s∈{-1,1}) hyperplane table — md5-derived, dialect-shared.
    The DuckDB oracle derives planes this way; the Spark operator bakes
    the SAME values in as literals (see `_plane_weights`), so the two
    derivations cross-check each other."""
    h = H.md5_i64("CAST(p AS STRING) || '_' || CAST(dim AS STRING)", d) if d == S else H.md5_i64(
        "CAST(p AS VARCHAR) || '_' || CAST(dim AS VARCHAR)", d
    )
    bit = f"(({h}) & 1)" if d != S else f"({h} & 1)"
    if d == S:
        return (
            f"SELECT p, dim, CASE WHEN {bit} = 1 THEN 1 ELSE -1 END AS s "
            f"FROM (SELECT explode(sequence(0, {N_PLANES - 1})) AS p) "
            f"LATERAL VIEW explode(sequence(1, 64)) t AS dim"
        )
    return (
        f"SELECT p, dim, CASE WHEN {bit} = 1 THEN 1 ELSE -1 END AS s "
        f"FROM generate_series(0, {N_PLANES - 1}) t1(p), generate_series(1, 64) t2(dim)"
    )


def _plane_weights(n_planes: int = N_PLANES, dims: int = 64) -> list[list[float]]:
    """±1 plane weights, bit-identical to `plane_sign_sql`'s derivation:
    low bit of the 60-bit md5 integer of "{p}_{dim}" (spec/hashing.py
    md5_i64). Precomputed host-side so the Spark bucket stage can fold
    them as literals — no plane table, no join, no shuffle."""
    out = []
    for p in range(n_planes):
        row = []
        for dim in range(1, dims + 1):
            h = int(hashlib.md5(f"{p}_{dim}".encode()).hexdigest()[:15], 16)
            row.append(1.0 if (h & 1) == 1 else -1.0)
        out.append(row)
    return out


def bucket_expr(col: str = "embedding") -> Column:
    """Row-local sign-LSH bucket id: P literal-weight dot folds + bit
    pack. Replaces the former posexplode(embedding)→join(planes)→
    groupBy(vec,p) formulation, which shuffled n×dims rows (a 64×
    row blowup) for what is per-row arithmetic."""
    weights = _plane_weights()
    dims = len(weights[0])
    terms = []
    for p, row in enumerate(weights):
        arr = "array(" + ", ".join(
            f"CAST({w:.1f} AS DOUBLE)" for w in row
        ) + ")"
        dot = (
            f"aggregate(zip_with({col}, {arr}, (x, w) -> CAST(x AS DOUBLE) * w), "
            f"CAST(0.0 AS DOUBLE), (s, x) -> s + x)"
        )
        terms.append(
            f"(CASE WHEN ({dot}) > 0 THEN CAST({1 << p} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    bucket = " + ".join(terms)
    # dims guard: a shorter embedding NULL-pads every zip_with fold,
    # every plane dot goes NULL, and ALL vectors silently land in
    # bucket 0 — turning the bucket self-join into an O(n²) cross
    # join. Fail loudly instead.
    return F.expr(
        f"CASE WHEN size({col}) <> {dims} THEN "
        f"raise_error(concat('sign-LSH plane weights are {dims}-dim but "
        f"embedding has ', CAST(size({col}) AS STRING), ' dims')) "
        f"ELSE {bucket} END"
    )


def neardup_pairs_lsh(spark, emb_corpus: DataFrame) -> DataFrame:
    """(vec_a, vec_b, cosine) for in-bucket pairs with cosine ≥ threshold.

    Bucket ids and norms are row-local column expressions (zero
    shuffle); the ONLY shuffle is the bucket self-join, followed by
    exact cosine verify. No O(n²) stage anywhere. `spark` is unused
    (kept for API stability — the plane table used to be spark.sql'd).
    """
    with_vec = emb_corpus.select(
        "vec_id",
        "embedding",
        bucket_expr("embedding").alias("bucket"),
        F.expr(_norm("embedding", S)).alias("vnorm"),
    )
    a = with_vec.select(
        F.col("bucket"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("va"),
        F.col("vnorm").alias("na"),
    )
    b = with_vec.select(
        F.col("bucket"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("vb"),
        F.col("vnorm").alias("nb"),
    )
    cos = F.expr(_dot("va", "vb", S)) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "bucket")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .where(F.col("cosine") >= COS_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


def neardup_oracle_sql(d: str) -> str:
    corpus = corpus_with_dup_vectors_sql(d)
    planes = plane_sign_sql(d)
    dot = _dot("a.embedding", "b.embedding", d)
    nrm = _norm("embedding", d)
    return f"""
WITH corpus AS ({corpus}),
planes AS ({planes}),
comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS val
  FROM corpus
),
dots AS (
  SELECT c.vec_id, pl.p, sum(CAST(c.val AS DOUBLE) * pl.s) AS dot
  FROM comp c JOIN planes pl ON c.dim = pl.dim
  GROUP BY c.vec_id, pl.p
),
buckets AS (
  SELECT vec_id,
         sum(CASE WHEN dot > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS bucket
  FROM dots GROUP BY vec_id
),
wv AS (SELECT b.bucket, c.vec_id, c.embedding, ({nrm}) AS vnorm
       FROM buckets b JOIN corpus c ON b.vec_id = c.vec_id),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         ({dot}) / (a.vnorm * b.vnorm) AS cosine
  FROM wv a JOIN wv b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, round(cosine, 6) AS cosine
FROM pairs WHERE cosine >= {COS_THRESHOLD}
""".strip()


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN with a TRAINED index: sampled k-means,
# sqrt(n) centroids, blocked BLAS scoring. Reference S11 — the LanceDB
# IVF-PQ build at lancer.py:203-216 (num_partitions=int(n**0.5),
# metric=cosine) — re-expressed on Spark.
# ---------------------------------------------------------------------------

N_PROBE = 4
N_ITERS = 2  # Lloyd refinement passes over the training sample
SAMPLE_CAP = 1 << 16  # training-sample row bound (hash-sampled above this)
CELL_CAP = 1 << 16  # max candidate rows per scoring block (salt above)
QUERY_CAP = 1 << 16  # max query rows per scoring block
SCORE_CELLS = 1 << 22  # max probes × candidates per per_block call


def _np():
    import numpy as np

    return np


def _assign_cells(
    emb: DataFrame,
    cent_ids,
    cent_mat,
    n_probe: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    emit_ccos: bool = False,
    per_vector=None,
) -> DataFrame:
    """Top-`n_probe` nearest centroids per vector, by cosine (ties →
    lowest centroid_id), via one Arrow-batched BLAS matmul against the
    broadcast centroid matrix — zero shuffle, O(n·C·d) FLOPs in C.

    Output: (vec_id, embedding:array<double>, vnorm, cell, crank).
    crank=1 is the home cell (IVF posting list); crank≤n_probe are the
    probe targets when the same relation is used as the query side.
    With emit_ccos a `ccos` column (cosine to the assigned centroid)
    is appended — the SemDeDup keep-priority key. `per_vector` =
    (ddl, fn) appends one more column: fn maps a batch's float64
    embedding matrix to one value per vector (the PQ codes).
    """
    np = _np()
    cent_mat = np.ascontiguousarray(cent_mat, dtype=np.float64)
    cent_ids = np.asarray(cent_ids, dtype=np.int64)
    cnorm = np.sqrt((cent_mat * cent_mat).sum(axis=1))
    npe = min(n_probe, len(cent_ids))

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            vn = np.sqrt((E * E).sum(axis=1))
            cos = (E @ cent_mat.T) / np.outer(vn, cnorm)
            order = np.lexsort(
                (np.broadcast_to(cent_ids, cos.shape), -cos)
            )[:, :npe]
            ridx = np.repeat(np.arange(len(pdf)), npe)
            out = {
                "vec_id": pdf[id_col].to_numpy()[ridx],
                "embedding": [E[i] for i in ridx],
                "vnorm": vn[ridx],
                "cell": cent_ids[order].ravel(),
                "crank": np.tile(np.arange(1, npe + 1), len(pdf)),
            }
            if emit_ccos:
                out["ccos"] = np.take_along_axis(cos, order, axis=1).ravel()
            if per_vector:
                vals = per_vector[1](E)
                out[per_vector[0].split()[0]] = [vals[i] for i in ridx]
            yield pd.DataFrame(out)

    schema = "vec_id bigint, embedding array<double>, vnorm double, cell bigint, crank int"
    if emit_ccos:
        schema += ", ccos double"
    if per_vector:
        schema += ", " + per_vector[0]
    return emb.select(
        F.col(id_col).alias(id_col), F.col(emb_col).alias(emb_col)
    ).mapInPandas(fn, schema)


def train_ivf_centroids(
    emb: DataFrame,
    n: int | None = None,
    n_iters: int = N_ITERS,
    sample_cap: int = SAMPLE_CAP,
):
    """Sampled k-means: C = floor(sqrt(n)) centroids (the reference's
    num_partitions=int(n**0.5), lancer.py:208), trained by `n_iters`
    Lloyd passes over a deterministic md5-hash sample of ≤ ~sample_cap
    rows. Returns (centroid_ids, centroid_matrix) as numpy arrays —
    the index payload (sqrt(n)×d doubles: driver-small even at 10^9
    vectors ≈ 16 MB).

    Determinism end-to-end (sampling, seeding, tie-breaks) so the
    DuckDB oracle can re-derive the identical index relationally.
    """
    np = _np()
    if n is None:
        n = emb.count()
    c = max(1, int(n**0.5))
    samp_mod = max(1, n // sample_cap)
    md5v = H.md5_i64("CAST(vec_id AS STRING)", S)
    sample = (
        emb.where(F.expr(f"({md5v}) % {samp_mod} = 0")) if samp_mod > 1 else emb
    )
    # Seeds: C sample vectors with the lowest md5('seed:'||vec_id) —
    # TakeOrderedAndProject (no global window), C rows to the driver.
    seed_key = H.md5_i64("'seed:' || CAST(vec_id AS STRING)", S)
    seeds = (
        sample.select("vec_id", "embedding", F.expr(seed_key).alias("sk"))
        .orderBy(F.asc("sk"), F.asc("vec_id"))
        .limit(c)
        .collect()
    )
    cent_ids = np.arange(len(seeds), dtype=np.int64)
    cent_mat = np.stack([np.asarray(r.embedding) for r in seeds]).astype(
        np.float64
    )
    for _ in range(n_iters):
        asg = _assign_cells(sample, cent_ids, cent_mat, n_probe=1)
        # Elementwise mean per cell: posexplode → two-phase (map-side
        # combinable) avg → re-pack. Bounded by the sample size.
        newc = (
            asg.select("cell", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("v"))
            .groupBy("cell")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, v))), x -> x.v)"
                ).alias("cvec")
            )
            .collect()
        )
        # Empty cells drop out (standard Lloyd); ids keep their labels.
        newc.sort(key=lambda r: r.cell)
        cent_ids = np.array([r.cell for r in newc], dtype=np.int64)
        cent_mat = np.stack([np.asarray(r.cvec) for r in newc]).astype(
            np.float64
        )
    return cent_ids, cent_mat


def _blocked_cogroup(
    cand: DataFrame, probes: DataFrame, per_block, schema: str
) -> DataFrame:
    """The one capped scoring plan of the IVF families: candidates
    (cell, vec_id, …) meet probes (cell, query_id, …) in blocks, and
    `per_block(pq, pa)` scores each block (pandas frames; pa holds the
    candidates) into rows of `schema` (DDL).

    A cell holding n candidates and m probes gets c = ceil(n/CELL_CAP)
    candidate salts and q = ceil(m/QUERY_CAP) probe salts (pmod of the
    id's xxhash64, so the spread holds whatever the id pattern); each
    candidate is copied to the cell's q probe salts and each probe to
    its c candidate salts, so every (candidate, probe) pair of a cell
    meets in exactly one (cell, c_salt, q_salt) group — ~CELL_CAP ×
    QUERY_CAP rows however skewed the cells. Each group is then fed to
    `per_block` in slices of at most SCORE_CELLS probes × candidates
    (candidate slices of ≤ min(CELL_CAP, SCORE_CELLS), probe slices
    filling the rest; a hard bound on every score matrix; empty blocks
    are skipped), so the per-block outputs must merge losslessly (a
    top-k re-ranked by the caller, an OR). The caps are read at call
    time (tests shrink them).
    The per-cell counts are ≤C rows (index metadata, like the centroid
    table): one grouped pass over both sides, collected, and baked into
    the plan as literal arrays indexed by cell id (ids are centroid
    indices < C) — no join, so ONE shuffle on the block key into
    cogrouped scoring."""
    cell_cap, query_cap, score_cells = CELL_CAP, QUERY_CAP, SCORE_CELLS
    rows = (
        cand.select("cell", F.lit(1).alias("n_c"), F.lit(0).alias("n_q"))
        .unionByName(probes.select("cell", F.lit(0).alias("n_c"), F.lit(1).alias("n_q")))
        .groupBy("cell")
        .agg(F.sum("n_c").alias("n_c"), F.sum("n_q").alias("n_q"))
        .collect()
    )
    salts = {
        r.cell: {"c": max(1, -(-r.n_c // cell_cap)), "q": max(1, -(-r.n_q // query_cap))}
        for r in rows
    }
    n_cells = 1 + max(salts, default=0)

    def n_salts(side: str) -> Column:
        arr = ", ".join(str(salts.get(i, {side: 1})[side]) for i in range(n_cells))
        return F.expr(f"element_at(array({arr}), CAST(cell AS INT) + 1)")

    # distinct block-key names per side: both sides share the caller's
    # lineage, and identically-named keys trip the ambiguous-self-join
    # analyzer check inside the cogroup
    def keyed(df, side, id_col, own, other):
        return df.select(
            F.col("cell").alias(f"{side}_cell"),
            F.pmod(F.xxhash64(id_col), n_salts(own)).alias(f"{side}_{own}"),
            F.explode(F.sequence(F.lit(0), n_salts(other) - 1)).alias(f"{side}_{other}"),
            *[c for c in df.columns if c != "cell"],
        )

    names = [c.split()[0] for c in schema.split(",")]

    def run(pq, pa):
        import pandas as pd

        c_step = min(cell_cap, score_cells)
        parts = []
        for j in range(0, len(pa), c_step):
            block = pa.iloc[j : j + c_step]
            q_step = min(query_cap, score_cells // len(block))
            parts += [per_block(pq.iloc[i : i + q_step], block) for i in range(0, len(pq), q_step)]
        return pd.concat(parts) if parts else pd.DataFrame({c: [] for c in names})

    return (
        keyed(probes, "g", "query_id", "q", "c")
        .groupBy("g_cell", "g_c", "g_q")
        .cogroup(keyed(cand, "b", "vec_id", "c", "q").groupBy("b_cell", "b_c", "b_q"))
        .applyInPandas(run, schema)
    )


def _block_topk(qids, nids, scores, k: int, score: str):
    """Per-query top-k of one block's (queries × candidates) score
    matrix, self-pairs masked, (score desc, id asc) tie-break —
    vectorized lexsort along the last axis; the global window over the
    merged blocks (`_ranked_topk`) fixes final ranks."""
    import pandas as pd

    np = _np()
    masked = np.where(nids[None, :] == qids[:, None], -np.inf, scores)
    kk = min(k, masked.shape[1])
    order = np.lexsort((np.broadcast_to(nids, masked.shape), -masked))[:, :kk]
    vals = np.take_along_axis(masked, order, axis=1).ravel()
    keep = np.isfinite(vals)
    return pd.DataFrame(
        {
            "query_id": np.repeat(qids, kk)[keep],
            "neighbor_id": nids[order.ravel()][keep],
            score: vals[keep],
        }
    )


def ivf_topk(
    emb: DataFrame, k: int = 3, n_probe: int = N_PROBE, centroids=None
) -> DataFrame:
    """Top-k cosine neighbors via the trained IVF index.

    Plan: one Python stage assigns every vector its home cell AND its
    n_probe probe cells (BLAS, zero shuffle) → `_blocked_cogroup`
    scores each (cell, c_salt, q_salt) block, capped at
    CELL_CAP×QUERY_CAP however skewed the cells, by block matmuls of
    at most SCORE_CELLS entries and a per-block top-k → global window
    top-k. Recall < 1 by design; tests measure it against cosine_topk.
    """
    if centroids is None:
        centroids = train_ivf_centroids(emb)
    cent_ids, cent_mat = centroids
    # The assignment relation is materialized ONCE via localCheckpoint
    # — it feeds the size computation AND both cogroup sides.
    # localCheckpoint (not .persist()): blocks are auto-released by the
    # ContextCleaner when the relation is dropped, so repeated calls in
    # a long session neither pin storage memory per call nor trip
    # CacheManager "already cached" plan matching.
    a = _assign_cells(emb, cent_ids, cent_mat, n_probe=n_probe).localCheckpoint(
        eager=False
    )
    np = _np()

    def per_block(pq, pa):
        Q = np.stack(pq["qvec"].to_numpy()).astype(np.float64)
        A = np.stack(pa["embedding"].to_numpy()).astype(np.float64)
        cos = (Q @ A.T) / np.outer(pq["qnorm"].to_numpy(), pa["vnorm"].to_numpy())
        return _block_topk(
            pq["query_id"].to_numpy(), pa["vec_id"].to_numpy(), cos, k, "cosine"
        )

    pairs = _blocked_cogroup(
        a.where(F.col("crank") == 1).select("cell", "vec_id", "embedding", "vnorm"),
        a.select(
            "cell",
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            F.col("vnorm").alias("qnorm"),
        ),
        per_block,
        "query_id bigint, neighbor_id bigint, cosine double",
    )
    return _ranked_topk(pairs, k, "cosine")


def _ivf_common_ctes(
    d: str,
    n_probe: int = N_PROBE,
    n_iters: int = N_ITERS,
    sample_cap: int = SAMPLE_CAP,
    table: str = "embeddings",
    prelude: str = "",
    assign_table: str | None = None,
) -> str:
    """Shared CTE prefix (WITH … probes): coarse-index training +
    full-corpus assignment, used by the exact-IVF, IVF-PQ and
    SemDeDup oracles. `prelude` injects extra leading CTEs (e.g. a
    constructed dup corpus that `table` then names). `assign_table`
    (default: `table`) lets the ASSIGNED relation differ from the
    TRAINING relation — the incremental index-maintenance case."""
    if assign_table is None:
        assign_table = table
    md5v = H.md5_i64("CAST(vec_id AS VARCHAR)", d)
    seed_key = H.md5_i64("'seed:' || CAST(vec_id AS VARCHAR)", d)
    to_dbl = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    dot_sc = _dot("s.emb", "c.cvec", d)
    nrm_s = _norm("s.emb", d)
    nrm_c = _norm("c.cvec", d)

    iters = []
    for i in range(n_iters):
        iters.append(
            f"""asg_{i} AS (
  SELECT vec_id, emb, centroid_id FROM (
    SELECT s.vec_id, s.emb, c.centroid_id,
           row_number() OVER (PARTITION BY s.vec_id ORDER BY
             ({dot_sc}) / (({nrm_s}) * ({nrm_c})) DESC, c.centroid_id ASC) AS rn
    FROM samp s CROSS JOIN cents_{i} c
  ) WHERE rn = 1
),
cents_{i + 1} AS (
  SELECT centroid_id, list(v ORDER BY dim) AS cvec
  FROM (
    SELECT centroid_id, dim, avg(val) AS v
    FROM (SELECT centroid_id, generate_subscripts(emb, 1) AS dim,
                 unnest(emb) AS val
          FROM asg_{i})
    GROUP BY centroid_id, dim
  ) GROUP BY centroid_id
)"""
        )
    iter_sql = ",\n".join(iters)
    cents_final = f"cents_{n_iters}"
    dot_ec = _dot("e.emb", "c.cvec", d)
    nrm_e = _norm("e.emb", d)
    return f"""
WITH {prelude}params AS (
  SELECT CAST(greatest(floor(sqrt(count(*))), 1) AS BIGINT) AS c,
         CAST(greatest(CAST(count(*) AS BIGINT) // {sample_cap}, 1) AS BIGINT) AS m
  FROM {table}
),
samp AS (
  SELECT vec_id, {to_dbl} AS emb
  FROM {table}
  WHERE ({md5v}) % (SELECT m FROM params) = 0
),
seeds AS (
  SELECT row_number() OVER (ORDER BY ({seed_key}) ASC, vec_id ASC) AS rn, emb
  FROM samp
),
cents_0 AS (
  SELECT CAST(rn - 1 AS BIGINT) AS centroid_id, emb AS cvec
  FROM seeds WHERE rn <= (SELECT c FROM params)
),
{iter_sql},
en AS (SELECT vec_id, {to_dbl} AS emb FROM {assign_table}),
scored AS (
  SELECT e.vec_id, e.emb, ({nrm_e}) AS vnorm, c.centroid_id,
         ({dot_ec}) / (({nrm_e}) * ({nrm_c})) AS ccos
  FROM en e CROSS JOIN {cents_final} c
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id ASC) AS crank
  FROM scored
),
assign AS (SELECT vec_id, emb, vnorm, centroid_id AS cell FROM ranked WHERE crank = 1),
probes AS (SELECT vec_id AS query_id, emb AS qvec, vnorm AS qnorm, centroid_id AS cell
           FROM ranked WHERE crank <= {n_probe})
""".strip()


def ivf_topk_oracle_sql(
    d: str,
    k: int = 3,
    n_probe: int = N_PROBE,
    n_iters: int = N_ITERS,
    sample_cap: int = SAMPLE_CAP,
    table: str = "embeddings",
) -> str:
    """Relational re-derivation of the ENTIRE trained index + search:
    same md5 sampling, same seeds, same Lloyd iterations, same probe
    semantics — C and the sample modulus computed from count(*) inside
    the SQL, so one string is valid at any scale factor."""
    common = _ivf_common_ctes(d, n_probe, n_iters, sample_cap, table)
    dot_q = _dot("p.qvec", "a.emb", d)
    return f"""
{common},
pairs AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ({dot_q}) / (p.qnorm * a.vnorm) AS cosine
  FROM probes p JOIN assign a ON p.cell = a.cell AND p.query_id <> a.vec_id
),
rankedq AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
FROM rankedq WHERE rank <= {k}
""".strip()


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantization compression for the candidate payload —
# the reference's actual index type (lancer.py:203-216 builds IVF-PQ).
# Candidates ship M=PQ_M uint8 codes instead of d floats (16 bytes vs
# 256 at d=64, M=16); scoring is an ADC lookup-table gather per query.
# ---------------------------------------------------------------------------

PQ_M = 16  # subspaces (sub = d/M = 4 dims each at d=64)
PQ_K = 64  # codes per subspace — sized for usable recall on
           # near-orthogonal data (measured: M=8/K=16 quantization-only
           # recall 0.16; M=16/K=64 → 0.52 at 16 bytes/vector)
PQ_ITERS = 1  # Lloyd refinement passes per subspace
PQ_TRAIN_CAP = 4096  # training-sample row bound


def train_pq_codebooks(
    emb: DataFrame,
    n: int | None = None,
    m: int = PQ_M,
    k: int = PQ_K,
    n_iters: int = PQ_ITERS,
    train_cap: int = PQ_TRAIN_CAP,
):
    """Per-subspace k-means codebooks, trained on a deterministic
    md5 hash-sample (≤ ~train_cap rows — index training is the
    standard bounded-sample exception to no-collect). Seeds are the
    first k sample vectors by md5('seed:'||vec_id) — the same
    derivation as the coarse IVF seeds — refined by `n_iters` Lloyd
    passes per subspace (L2 assignment, empty codes keep their seed).
    Returns float64 array [m][k][d/m]. Deterministic end-to-end so the
    DuckDB oracle re-derives identical codebooks relationally.
    """
    np = _np()
    if n is None:
        n = emb.count()
    samp_mod = max(1, n // train_cap)
    md5v = H.md5_i64("CAST(vec_id AS STRING)", S)
    sample = (
        emb.where(F.expr(f"({md5v}) % {samp_mod} = 0")) if samp_mod > 1 else emb
    )
    seed_key = H.md5_i64("'seed:' || CAST(vec_id AS STRING)", S)
    rows = (
        sample.select("vec_id", "embedding", F.expr(seed_key).alias("sk"))
        .orderBy(F.asc("sk"), F.asc("vec_id"))
        .collect()
    )
    X = np.stack([np.asarray(r.embedding) for r in rows]).astype(np.float64)
    d = X.shape[1]
    sub = d // m
    books = np.empty((m, k, sub))
    for mi in range(m):
        Xs = X[:, mi * sub : (mi + 1) * sub]
        cb = Xs[: min(k, len(Xs))].copy()
        if len(cb) < k:  # degenerate tiny corpus: pad by repetition
            cb = np.resize(cb, (k, sub))
        for _ in range(n_iters):
            d2 = ((Xs[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)  # ties → lowest code id
            for ci in range(k):
                mask = assign == ci
                if mask.any():
                    cb[ci] = Xs[mask].mean(axis=0)
        books[mi] = cb
    return books


def encode_and_assign_pq(
    emb: DataFrame, cent_ids, cent_mat, codebooks, n_probe: int
) -> DataFrame:
    """`_assign_cells` plus the PQ codes per vector (L2-argmin per
    subspace) in the same Python stage — so the index build touches
    each vector exactly once. Output: (vec_id, embedding, vnorm, cell,
    crank, codes:array<bigint>)."""
    np = _np()
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, _, sub = books.shape

    def codes(E):
        out = np.empty((len(E), m), dtype=np.int64)
        for mi in range(m):
            Xs = E[:, mi * sub : (mi + 1) * sub]
            d2 = ((Xs[:, None, :] - books[mi][None, :, :]) ** 2).sum(axis=2)
            out[:, mi] = np.argmin(d2, axis=1)
        return out

    return _assign_cells(
        emb, cent_ids, cent_mat, n_probe, per_vector=("codes array<bigint>", codes)
    )


def ivf_pq_topk(
    emb: DataFrame,
    k: int = 3,
    n_probe: int = N_PROBE,
    centroids=None,
    codebooks=None,
) -> DataFrame:
    """Top-k by APPROXIMATE inner product via IVF-PQ: probe the
    n_probe nearest cells, score candidates from their M-byte PQ codes
    with a per-query ADC lookup table (LUT[m][c] = dot(q_sub_m,
    codebook_m[c]); score = Σ_m LUT[m][codes[m]]). The candidate
    relation carries codes only — at 10^12 vectors that is the
    difference between shipping PQ_M=16 uint8 codes and 64 floats per candidate
    through the cell shuffle. Scoring runs through `_blocked_cogroup`,
    so a hot cell's score matrix stays within SCORE_CELLS entries and
    its LUTs within QUERY_CAP rows. Returns (query_id, neighbor_id,
    score, rank); score is the approximate dot product (recall
    measured in tests against exact cosine_topk)."""
    if centroids is None:
        centroids = train_ivf_centroids(emb)
    if codebooks is None:
        codebooks = train_pq_codebooks(emb)
    cent_ids, cent_mat = centroids
    np = _np()
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, _, sub = books.shape
    # materialized once, as in ivf_topk
    a = encode_and_assign_pq(emb, cent_ids, cent_mat, books, n_probe).localCheckpoint(
        eager=False
    )

    def per_block(pq, pa):
        Q = np.stack(pq["qvec"].to_numpy()).astype(np.float64)
        codes = np.stack(pa["codes"].to_numpy()).astype(np.int64)
        # LUTs: for each query, per-subspace dot with every codebook
        # entry — (nq, m, k) = einsum over the query's subvectors
        luts = np.einsum("qms,mks->qmk", Q.reshape(len(Q), m, sub), books)
        # gather: score[q, c] = sum_m luts[q, m, codes[c, m]], one
        # subspace at a time so the peak stays one (q, c) matrix
        scores = np.zeros((len(Q), len(codes)))
        for j in range(m):
            scores += luts[:, j, codes[:, j]]
        return _block_topk(
            pq["query_id"].to_numpy(), pa["vec_id"].to_numpy(), scores, k, "score"
        )

    pairs = _blocked_cogroup(
        a.where(F.col("crank") == 1).select("cell", "vec_id", "codes"),
        a.select(
            "cell", F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        ),
        per_block,
        "query_id bigint, neighbor_id bigint, score double",
    )
    return _ranked_topk(pairs, k, "score")


def ivf_pq_oracle_sql(
    d: str,
    k: int = 3,
    n_probe: int = N_PROBE,
    m: int = PQ_M,
    k_codes: int = PQ_K,
    sub: int = 64 // PQ_M,
    train_cap: int = PQ_TRAIN_CAP,
    table: str = "embeddings",
) -> str:
    """Relational re-derivation of the FULL IVF-PQ path: the shared
    coarse-index CTEs, then per-subspace codebooks (same md5 sample +
    seed order, one Lloyd pass with seed fallback for empty codes),
    corpus encoding by L2-argmin, and ADC scoring as a flattened
    (query-subvector × codebook-entry) join-sum. Assumes the sample
    holds ≥ k_codes rows (the numpy trainer pads degenerate tiny
    corpora by repetition; no fixture is that small)."""
    common = _ivf_common_ctes(d, n_probe=n_probe, table=table)
    md5v = H.md5_i64("CAST(vec_id AS VARCHAR)", d)
    seed_key = H.md5_i64("'seed:' || CAST(vec_id AS VARCHAR)", d)
    to_dbl = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

    def l2(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({a}, {b}), "
            f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
            f"(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
        )

    return f"""
{common},
pq_params AS (
  SELECT CAST(greatest(CAST(count(*) AS BIGINT) // {train_cap}, 1) AS BIGINT) AS pm
  FROM {table}
),
pq_samp AS (
  SELECT row_number() OVER (ORDER BY ({seed_key}) ASC, vec_id ASC) AS rn,
         vec_id, {to_dbl} AS emb
  FROM {table}
  WHERE ({md5v}) % (SELECT pm FROM pq_params) = 0
),
pq_seeds AS (
  SELECT g.mi, CAST(s.rn - 1 AS BIGINT) AS code,
         s.emb[CAST(g.mi * {sub} + 1 AS BIGINT):CAST((g.mi + 1) * {sub} AS BIGINT)] AS cvec
  FROM pq_samp s CROSS JOIN generate_series(0, {m - 1}) g(mi)
  WHERE s.rn <= {k_codes}
),
pq_long AS (
  SELECT s.vec_id, g.mi,
         s.emb[CAST(g.mi * {sub} + 1 AS BIGINT):CAST((g.mi + 1) * {sub} AS BIGINT)] AS sub
  FROM pq_samp s CROSS JOIN generate_series(0, {m - 1}) g(mi)
),
pq_asg AS (
  SELECT vec_id, mi, code FROM (
    SELECT l.vec_id, l.mi, c.code,
           row_number() OVER (PARTITION BY l.vec_id, l.mi ORDER BY
             ({l2("l.sub", "c.cvec")}) ASC, c.code ASC) AS arn
    FROM pq_long l JOIN pq_seeds c ON c.mi = l.mi
  ) WHERE arn = 1
),
pq_cb AS (
  SELECT sd2.mi, sd2.code, coalesce(m2.cvec, sd2.cvec) AS cvec
  FROM pq_seeds sd2
  LEFT JOIN (
    SELECT mi, code, list(v ORDER BY j) AS cvec FROM (
      SELECT a.mi, a.code, j.j, avg(l.sub[j.j]) AS v
      FROM pq_asg a
      JOIN pq_long l ON l.vec_id = a.vec_id AND l.mi = a.mi
      CROSS JOIN generate_series(1, {sub}) j(j)
      GROUP BY a.mi, a.code, j.j
    ) GROUP BY mi, code
  ) m2 ON m2.mi = sd2.mi AND m2.code = sd2.code
),
pq_codes AS (
  SELECT vec_id, mi, code FROM (
    SELECT e.vec_id, c.mi, c.code,
           row_number() OVER (PARTITION BY e.vec_id, c.mi ORDER BY
             ({l2(f"e.emb[CAST(c.mi * {sub} + 1 AS BIGINT):CAST((c.mi + 1) * {sub} AS BIGINT)]", "c.cvec")}) ASC,
             c.code ASC) AS arn
    FROM en e JOIN pq_cb c ON TRUE
  ) WHERE arn = 1
),
qflat AS (
  SELECT vec_id, CAST((dim - 1) // {sub} AS BIGINT) AS mi,
         ((dim - 1) % {sub}) + 1 AS j, val
  FROM (SELECT vec_id, generate_subscripts(emb, 1) AS dim, unnest(emb) AS val
        FROM en)
),
cbflat AS (
  SELECT mi, code, generate_subscripts(cvec, 1) AS j, unnest(cvec) AS val
  FROM pq_cb
),
pq_pairs AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, sum(qf.val * cf.val) AS score
  FROM probes p
  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
  JOIN pq_codes c ON c.vec_id = a.vec_id
  JOIN qflat qf ON qf.vec_id = p.query_id AND qf.mi = c.mi
  JOIN cbflat cf ON cf.mi = c.mi AND cf.code = c.code AND cf.j = qf.j
  GROUP BY 1, 2
),
rankedpq AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM pq_pairs
)
SELECT query_id, neighbor_id, round(score, 6) AS score, rank
FROM rankedpq WHERE rank <= {k}
""".strip()


# ---------------------------------------------------------------------------
# SemDeDup: semantic deduplication over embeddings (Abbas et al. 2023,
# arXiv:2303.09540) — cluster with the trained coarse IVF index, then
# drop, within each cluster, every vector that has a near-duplicate
# (cosine > tau) of higher keep-priority. Keep-priority follows the
# paper: the member FARTHEST from its centroid survives (lowest
# centroid-cosine first; ties broken by lowest vec_id). The dominance
# rule is one relational pass — x is dropped iff some same-cell y has
# cos(x, y) > tau and (r6(y.ccos), y.vec_id) < (r6(x.ccos), x.vec_id)
# — deterministic, order-free, and exactly mirrored in the DuckDB
# oracle. (Unlike the paper's sequential greedy scan this can drop a
# chain's middle links; both ends of the chain policy are valid
# SemDeDup variants, this one is the parallel-safe choice.)
#
# Priorities compare 6-decimal-rounded centroid cosines so the two
# engines' float summation orders cannot flip a dominance decision;
# the pairwise threshold compares r6(cos) > tau for the same reason.
# ---------------------------------------------------------------------------

SEM_TAU = 0.95


def corpus_with_semdup_vectors_sql(d: str, table: str = "embeddings") -> str:
    """embeddings ∪ copies with the FIRST component halved (cosine
    ≈ 0.998 to the source at d=64 — above SEM_TAU). The LSH corpus's
    ×1.01 parallel copies are unusable here: when a source AND its
    copy both land in the k-means seed set, every vector's cosines to
    the two seeds tie at the ~1e-12 level and the argmax flips between
    the engines' float summation orders. Halving one component keeps
    the pair a planted near-dup while separating seed cosines by
    ~1e-3 ≫ any engine float divergence."""
    if d == S:
        dup = (
            "concat(array(CAST(embedding[0] * CAST(0.5 AS FLOAT) AS FLOAT)), "
            "slice(embedding, 2, 63))"
        )
    else:
        dup = (
            "list_concat([CAST(embedding[1] * CAST(0.5 AS FLOAT) AS FLOAT)], "
            "embedding[2:64])"
        )
    return (
        f"SELECT vec_id, embedding FROM {table} "
        f"UNION ALL "
        f"SELECT vec_id + 100000 AS vec_id, {dup} AS embedding "
        f"FROM {table} WHERE vec_id % 10 = 0"
    )


def semantic_dedup(
    emb: DataFrame, tau: float = SEM_TAU, centroids=None
) -> DataFrame:
    """(vec_id, cell, centroid_cos, keep) for every input vector.

    Plan shape matches `ivf_topk`: one zero-shuffle BLAS assignment
    stage (home cell + centroid cosine), then `_blocked_cogroup` —
    blocks capped at CELL_CAP×QUERY_CAP (dominance is OR-decomposable
    across candidate blocks, so salting is lossless, and each block's
    cosine matrix holds at most SCORE_CELLS entries) — then a distinct
    on dropped ids and a broadcast-sized left join back.
    """
    if centroids is None:
        centroids = train_ivf_centroids(emb)
    cent_ids, cent_mat = centroids
    # materialized once, as in ivf_topk
    assign = _assign_cells(
        emb, cent_ids, cent_mat, n_probe=1, emit_ccos=True
    ).localCheckpoint(eager=False)
    np = _np()

    def per_block(pq, pa):
        import pandas as pd

        A = np.stack(pa["embedding"].to_numpy()).astype(np.float64)
        aids = pa["vec_id"].to_numpy()
        apri = np.round(pa["ccos"].to_numpy(), 6)
        qids = pq["query_id"].to_numpy()
        qpri = np.round(pq["qccos"].to_numpy(), 6)
        Q = np.stack(pq["qvec"].to_numpy()).astype(np.float64)
        cos = np.round(
            (Q @ A.T) / np.outer(pq["qnorm"].to_numpy(), pa["vnorm"].to_numpy()), 6
        )
        pri_less = (apri[None, :] < qpri[:, None]) | (
            (apri[None, :] == qpri[:, None]) & (aids[None, :] < qids[:, None])
        )
        dom = ((cos > tau) & pri_less & (aids[None, :] != qids[:, None])).any(axis=1)
        return pd.DataFrame({"vec_id": qids[dom]})

    dropped = (
        _blocked_cogroup(
            assign.select("cell", "vec_id", "embedding", "vnorm", "ccos"),
            assign.select(
                "cell",
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qvec"),
                F.col("vnorm").alias("qnorm"),
                F.col("ccos").alias("qccos"),
            ),
            per_block,
            "vec_id bigint",
        )
        .distinct()
        .withColumn("dom", F.lit(True))
    )
    return assign.join(dropped, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.round("ccos", 6).alias("centroid_cos"),
        F.col("dom").isNull().alias("keep"),
    )


def semantic_dedup_oracle_sql(
    d: str,
    tau: float = SEM_TAU,
    table: str = "embeddings",
    prelude: str = "",
) -> str:
    """Relational mirror: the shared coarse-index CTEs re-derive the
    identical trained assignment (cell + centroid cosine), then the
    dominance rule is a same-cell self-join."""
    common = _ivf_common_ctes(d, n_probe=1, table=table, prelude=prelude)
    dot_ab = _dot("a.emb", "b.emb", d)
    return f"""
{common},
sem AS (
  SELECT vec_id, emb, vnorm, centroid_id AS cell, ccos,
         round(ccos, 6) AS pri
  FROM ranked WHERE crank = 1
),
semdropped AS (
  SELECT DISTINCT a.vec_id
  FROM sem a JOIN sem b ON a.cell = b.cell AND a.vec_id <> b.vec_id
  WHERE round(({dot_ab}) / (a.vnorm * b.vnorm), 6) > {tau}
    AND (b.pri < a.pri OR (b.pri = a.pri AND b.vec_id < a.vec_id))
)
SELECT s.vec_id, s.cell, s.pri AS centroid_cos,
       (dr.vec_id IS NULL) AS keep
FROM sem s LEFT JOIN semdropped dr ON s.vec_id = dr.vec_id
""".strip()


# ---------------------------------------------------------------------------
# Incremental IVF maintenance: assign NEW vectors to the STORED index
# ---------------------------------------------------------------------------


def delta_vectors_sql(d: str, table: str = "embeddings") -> str:
    """The arriving batch: scaled copies (cosine-invariant ×1.01) of
    every 10th stored vector at +100000 — each MUST land in its
    source's cell — plus sign-flipped copies of every 25th at +200000
    (maximally far: lands wherever the antipode is nearest)."""
    scale = (
        "transform(embedding, x -> CAST(x * CAST(1.01 AS FLOAT) AS FLOAT))"
        if d == S
        else "list_transform(embedding, x -> CAST(x * CAST(1.01 AS FLOAT) AS FLOAT))"
    )
    neg = (
        "transform(embedding, x -> CAST(-x AS FLOAT))"
        if d == S
        else "list_transform(embedding, x -> CAST(-x AS FLOAT))"
    )
    return (
        f"SELECT vec_id + 100000 AS vec_id, {scale} AS embedding "
        f"FROM {table} WHERE vec_id % 10 = 0 "
        f"UNION ALL "
        f"SELECT vec_id + 200000 AS vec_id, {neg} AS embedding "
        f"FROM {table} WHERE vec_id % 25 = 0"
    )


def ivf_assign_delta(delta: DataFrame, centroids) -> DataFrame:
    """(vec_id, cell, centroid_cos r6) for an ARRIVING batch against a
    STORED index — incremental maintenance: the corpus that trained
    the index is never rescanned and the index is never retrained;
    only the delta pays the one BLAS assignment pass (zero shuffle).
    Re-centering drift is a separate, deliberate rebuild decision
    (train_ivf_centroids), exactly as LanceDB treats compaction."""
    cent_ids, cent_mat = centroids
    a = _assign_cells(delta, cent_ids, cent_mat, n_probe=1, emit_ccos=True)
    return a.select(
        "vec_id", "cell", F.round("ccos", 6).alias("centroid_cos")
    )


def ivf_incremental_oracle_sql(d: str, table: str = "embeddings") -> str:
    """Training CTEs over the STORED corpus, assignment over the
    delta relation — the same split the engine performs."""
    common = _ivf_common_ctes(
        d,
        n_probe=1,
        table=table,
        prelude=f"delta AS ({delta_vectors_sql(d, table)}),\n",
        assign_table="delta",
    )
    return f"""
{common}
SELECT vec_id, centroid_id AS cell, round(ccos, 6) AS centroid_cos
FROM ranked WHERE crank = 1
""".strip()


# ---------------------------------------------------------------------------
# FineWeb-Edu-style semantic quality scoring (cosine to a seed centroid)
# ---------------------------------------------------------------------------
#
# FineWeb-Edu / DCLM quality filtering scores every document with a
# classifier trained on a SMALL curated exemplar set, then keeps
# documents whose integer score clears a threshold (FineWeb-Edu keeps
# int_score >= 3 on a 0-5 scale). The embedding-space analog here:
# the seed exemplars are the `label = 0` vectors, the "classifier" is
# cosine similarity to their centroid, and the 0-5 bucket is an affine
# map of the cosine. Reference parity: the reference embeds chunks and
# ranks them by vector similarity (lancer.py:203-216 index + search);
# this composes that capability into an admission decision.
#
# Scale shape: the seed set is curated and therefore tiny (FineWeb-Edu
# used ~450k annotations against billions of candidate docs), so the
# centroid train step is one n_seeds x 64-row shuffle plus a 64-row
# collect — index-metadata-sized, same budget class as IVF centroid
# training above. Scoring is a row-local fold over a constant-folded
# literal centroid: ZERO shuffles, zero Python, whole-stage codegen.

EDU_SEED_LABEL = 0
EDU_KEEP_MIN = 3  # FineWeb-Edu convention: keep int_score >= 3


def train_edu_centroid(
    emb: DataFrame, seed_label: int = EDU_SEED_LABEL
) -> list[float]:
    """Per-dimension mean of the seed exemplar vectors, rounded to 6dp.

    Rounding BEFORE baking the centroid into the scoring plan pins the
    values both engines fold over: the DuckDB oracle re-derives the
    same rounded centroid relationally, so the downstream cosine fold
    runs over identical doubles in identical array order.
    """
    rows = (
        emb.where(F.col("label") == seed_label)
        .select(F.posexplode("embedding").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("c"))
        .orderBy("pos")
        .collect()
    )
    if not rows:
        raise ValueError(f"no seed vectors with label={seed_label}")
    return [float(r["c"]) for r in rows]


def _centroid_array_sql(centroid: list[float]) -> str:
    # repr() is shortest-roundtrip: the parsed literal is bit-identical
    # to the collected rounded double
    return (
        "array("
        + ", ".join(f"CAST({c!r} AS DOUBLE)" for c in centroid)
        + ")"
    )


def _edu_bucket_sql(cos: str) -> str:
    """0-5 integer score from a rounded cosine — shared ANSI text so
    both dialects bucket with the exact same float ops (affine map of
    [-1, 1] onto [0, 5] with round-half-up)."""
    return (
        f"CAST(least(CAST(5 AS DOUBLE), greatest(CAST(0 AS DOUBLE), "
        f"floor(({cos} + CAST(1 AS DOUBLE)) * CAST(2.5 AS DOUBLE) "
        f"+ CAST(0.5 AS DOUBLE)))) AS INT)"
    )


def edu_scores(emb: DataFrame, centroid: list[float]) -> DataFrame:
    """(doc_id, edu_cosine, edu_score, keep) for every vector.

    The centroid ships as a Catalyst literal array — scoring is one
    codegen'd projection, no join against a centroid relation.
    """
    arr = _centroid_array_sql(centroid)
    dims = len(centroid)
    # dims guard (same rationale as bucket_expr): a shorter embedding
    # NULL-pads the zip_with fold and the score/keep silently go NULL
    # — fail loudly instead of admitting garbage rows by default.
    cos = (
        f"CASE WHEN size(embedding) <> {dims} THEN "
        f"raise_error(concat('edu centroid is {dims}-dim but embedding "
        f"has ', CAST(size(embedding) AS STRING), ' dims')) "
        f"ELSE round(({_dot('embedding', arr, S)}) / "
        f"(({_norm('embedding', S)}) * ({_norm(arr, S)})), 6) END"
    )
    return (
        emb.select(
            F.col("vec_id").alias("doc_id"),
            F.expr(cos).alias("edu_cosine"),
        )
        .withColumn("edu_score", F.expr(_edu_bucket_sql("edu_cosine")))
        .withColumn("keep", F.col("edu_score") >= F.lit(EDU_KEEP_MIN))
    )


def edu_scores_ctes(d: str, table: str = "embeddings") -> str:
    """Shared oracle CTE chain ending in `bucketed(doc_id, edu_cosine,
    edu_score, keep)` — the full re-derivation: seeds → per-dim rounded
    centroid → ordered centroid list → cosine fold → bucket."""
    return f"""
seeds AS (SELECT embedding FROM {table} WHERE label = {EDU_SEED_LABEL}),
dims AS (
  SELECT i AS pos, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS c
  FROM seeds, unnest(generate_series(1, len(embedding))) AS t(i)
  GROUP BY i
),
cent AS (SELECT list(c ORDER BY pos) AS cv FROM dims),
scored AS (
  SELECT e.vec_id AS doc_id,
         round(({_dot('e.embedding', 'c.cv', d)}) /
               (({_norm('e.embedding', d)}) * ({_norm('c.cv', d)})), 6)
           AS edu_cosine
  FROM {table} e CROSS JOIN cent c
),
bucketed AS (
  SELECT doc_id, edu_cosine,
         {_edu_bucket_sql('edu_cosine')} AS edu_score,
         ({_edu_bucket_sql('edu_cosine')} >= {EDU_KEEP_MIN}) AS keep
  FROM scored
)
""".strip()


def edu_scores_oracle_sql(d: str, table: str = "embeddings") -> str:
    return f"""
WITH {edu_scores_ctes(d, table)}
SELECT b.doc_id, d2.lang, b.edu_cosine, b.edu_score, b.keep
FROM bucketed b JOIN documents d2 ON d2.doc_id = b.doc_id
""".strip()


def edu_keep_by_source_oracle_sql(d: str, table: str = "embeddings") -> str:
    return f"""
WITH {edu_scores_ctes(d, table)}
SELECT d2.source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN b.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       round(avg(CASE WHEN b.keep THEN CAST(1 AS DOUBLE)
                 ELSE CAST(0 AS DOUBLE) END), 6) AS keep_rate,
       round(avg(CAST(b.edu_score AS DOUBLE)), 6) AS avg_score
FROM bucketed b JOIN documents d2 ON d2.doc_id = b.doc_id
GROUP BY d2.source
""".strip()


# ---------------------------------------------------------------------------
# Nearest-class-mean (Rocchio) assignment over the labeled exemplars
# ---------------------------------------------------------------------------
#
# The multi-class sibling of the edu scorer: one centroid per label
# (the fixture's 10 classes stand in for topic/domain buckets a
# curator mixes over), every vector assigned to the class whose mean
# it is closest to by cosine — the classical nearest-class-mean /
# Rocchio classifier. Same scale shape as edu: training is one tiny
# (label, pos) agg + a k×64-row collect; assignment is k row-local
# literal folds, zero shuffle, whole-stage codegen. Ties break to the
# smallest label on BOTH engines (struct-max vs window tie-break).


def train_class_centroids(emb: DataFrame) -> dict[int, list[float]]:
    """{label: 64 rounded per-dim means} — k×64 rows to the driver."""
    rows = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("c"))
        .collect()
    )
    if not rows:
        raise ValueError("no labeled vectors to train class centroids")
    out: dict[int, dict[int, float]] = {}
    for r in rows:
        out.setdefault(r["label"], {})[r["pos"]] = float(r["c"])
    return {
        lbl: [dims[p] for p in sorted(dims)] for lbl, dims in out.items()
    }


def ncm_assign(emb: DataFrame, cents: dict[int, list[float]]) -> DataFrame:
    """(vec_id, true_label, pred_label, pred_cos, correct): argmax-
    cosine class per vector. The k candidate cosines are computed as
    literal folds and argmax'd via array_max over (cos, -label)
    structs — field-order comparison makes the tie rule explicit."""
    entries = []
    for lbl in sorted(cents):
        arr = _centroid_array_sql(cents[lbl])
        cos = (
            f"({_dot('embedding', arr, S)}) / "
            f"(({_norm('embedding', S)}) * ({_norm(arr, S)}))"
        )
        entries.append(
            f"struct({cos} AS cos, CAST({-lbl} AS BIGINT) AS neg)"
        )
    best = f"array_max(array({', '.join(entries)}))"
    dims = len(next(iter(cents.values())))
    guarded = (
        f"CASE WHEN size(embedding) <> {dims} THEN "
        f"raise_error(concat('class centroids are {dims}-dim but "
        f"embedding has ', CAST(size(embedding) AS STRING), ' dims')) "
        f"ELSE {best} END"
    )
    # stage the argmax struct as a column so the k folds evaluate ONCE
    # (projecting best.cos and best.neg from the same expr would
    # otherwise re-run all k dot products per field)
    staged = emb.select(
        "vec_id",
        F.col("label").alias("true_label"),
        F.expr(guarded).alias("__best"),
    )
    return staged.select(
        "vec_id",
        "true_label",
        (-F.col("__best.neg")).cast("int").alias("pred_label"),
        F.round(F.col("__best.cos"), 6).alias("pred_cos"),
    ).withColumn("correct", F.col("pred_label") == F.col("true_label"))


def ncm_ctes(d: str, table: str = "embeddings") -> str:
    """Oracle CTE chain ending in `assigned(vec_id, true_label,
    pred_label, pred_cos, correct)` — per-label rounded centroids,
    cosine per (vector, class), window argmax with the same tie rule."""
    return f"""
dims AS (
  SELECT label, i AS pos, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS c
  FROM {table}, unnest(generate_series(1, len(embedding))) AS t(i)
  GROUP BY label, i
),
cent AS (SELECT label, list(c ORDER BY pos) AS cv FROM dims GROUP BY label),
scored AS (
  SELECT e.vec_id, e.label AS true_label, c.label AS cand,
         ({_dot('e.embedding', 'c.cv', d)}) /
         (({_norm('e.embedding', d)}) * ({_norm('c.cv', d)})) AS cos
  FROM {table} e CROSS JOIN cent c
),
ranked AS (
  SELECT vec_id, true_label, cand, cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, cand ASC) AS rn
  FROM scored
),
assigned AS (
  SELECT vec_id, true_label, CAST(cand AS INT) AS pred_label,
         round(cos, 6) AS pred_cos, cand = true_label AS correct
  FROM ranked WHERE rn = 1
)
""".strip()


def ncm_assign_oracle_sql(d: str, table: str = "embeddings") -> str:
    return f"""
WITH {ncm_ctes(d, table)}
SELECT vec_id, true_label, pred_label, pred_cos, correct FROM assigned
""".strip()


def ncm_confusion_oracle_sql(d: str, table: str = "embeddings") -> str:
    return f"""
WITH {ncm_ctes(d, table)}
SELECT true_label, pred_label, count(*) AS n FROM assigned
GROUP BY true_label, pred_label
""".strip()


def edu_importance_sample(
    emb: DataFrame, centroid: list[float], id_col: str = "doc_id"
) -> DataFrame:
    """DSIR-flavored SEMANTIC importance resampling: accept each
    document with probability (edu_cosine+1)/2 via the deterministic
    md5 coin ('esamp:' salt — independent of the split and classifier
    sampling coins). The acceptance compare is INTEGER ppm on both
    engines, so no float boundary flips a sampling decision. Zero
    shuffle; the soft-filter alternative to the hard edu_score >= 3
    cut."""
    scored = edu_scores(emb, centroid)
    u = (
        F.expr(H.md5_i64(f"'esamp:' || CAST({id_col} AS STRING)", S))
        % 1000000
    )
    p_ppm = F.round((F.col("edu_cosine") + F.lit(1.0)) * F.lit(500000.0)).cast(
        "bigint"
    )
    return scored.select(
        id_col,
        p_ppm.alias("p_ppm"),
        (u < p_ppm).alias("sampled"),
    )


def edu_importance_sample_oracle_sql(d: str, table: str = "embeddings") -> str:
    cast_t = "STRING" if d == S else "VARCHAR"
    u = H.md5_i64(f"'esamp:' || CAST(doc_id AS {cast_t})", d)
    p = "CAST(round((edu_cosine + 1) * 500000) AS BIGINT)"
    return f"""
WITH {edu_scores_ctes(d, table)}
SELECT doc_id, {p} AS p_ppm, (({u}) % 1000000) < {p} AS sampled
FROM bucketed
""".strip()
