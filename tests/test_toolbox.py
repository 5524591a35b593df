"""Tests for the training-data toolbox: dedup, similarity, textstats,
multimodal plumbing, bin-packing.

Semantic properties beyond the driver's hash-parity gate: LSH recall
on constructed near-dups, SimHash locality, packing invariants.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from fineweb_modal_spark.functions import sqldialect as sd
from fineweb_modal_spark.operators import binpack, dedup, multimodal, similarity
from fineweb_modal_spark.sources import pages as pages_mod
from fineweb_modal_spark.sources.tables import load_table

from .conftest import SF_ORACLE

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    load_table(spark, SF, "documents").createOrReplaceTempView("documents")
    return spark.sql(dedup.corpus_with_near_dups_sql(sd.SPARK)).cache()


def test_lsh_recall_on_constructed_neardups(spark, corpus):
    """Every (doc, tail-mutated copy) pair must survive banding AND
    score high exact Jaccard; unrelated pairs must not dominate."""
    pairs = dedup.lsh_pairs(corpus).collect()
    found = {(r.doc_a, r.doc_b): r for r in pairs}
    expected = [r.doc_id for r in corpus.where("doc_id < 1000000 AND doc_id % 10 = 0").collect()]
    assert expected, "fixture must contain mutated copies"
    hits = 0
    for d in expected:
        r = found.get((d, d + 1000000))
        if r is not None and r.jaccard > 0.8:
            hits += 1
    # banding with 4 bands x 2 rows on >0.9-Jaccard pairs: expect near-total recall
    assert hits / len(expected) >= 0.9


def test_minhash_estimates_track_jaccard(spark, corpus):
    pairs = dedup.lsh_pairs(corpus).where("jaccard > 0.9").collect()
    assert pairs
    for r in pairs:
        assert r.est_sim >= 0.5  # 8-hash estimate of a >0.9 pair


def test_simhash_locality(spark, corpus):
    """Near-identical texts land within a few bits; disjoint-vocabulary
    texts land far apart. (Corpus docs share one vocabulary, so their
    pairwise distances are legitimately small — controlled texts are
    the right vehicle for the far case.)"""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappb"),
        (3, "uno dos tres cuatro cinco seis siete ocho nueve diez"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = {r.doc_id: r.simhash for r in dedup.with_simhash(df).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sh[1], sh[2]) <= 8
    assert ham(sh[1], sh[3]) > ham(sh[1], sh[2])
    assert ham(sh[1], sh[3]) >= 10
    # corpus property: tail-mutated copies stay within a few bits
    shc = {r.doc_id: r.simhash for r in dedup.with_simhash(corpus).collect()}
    dup_d = [
        ham(shc[d], shc[d + 1000000])
        for d in shc
        if d < 1000000 and d + 1000000 in shc
    ]
    assert dup_d and max(dup_d) <= 12 and sum(dup_d) / len(dup_d) <= 4


def test_cosine_topk_finds_planted_duplicate(spark):
    emb = load_table(spark, SF, "embeddings")
    emb.createOrReplaceTempView("embeddings")
    corpus = spark.sql(similarity.corpus_with_dup_vectors_sql(sd.SPARK))
    top = similarity.cosine_topk(corpus, k=1).collect()
    best = {r.query_id: (r.neighbor_id, r.cosine) for r in top}
    planted = [q for q in best if q >= 100000]
    assert planted
    for q in planted:
        nid, cos = best[q]
        assert nid == q - 100000 and cos == pytest.approx(1.0, abs=1e-5)


def test_cosine_topk_refuses_oversize_corpus(spark, monkeypatch):
    """The O(n²) baseline must fail loudly above the cap (scale
    fence), keep working under it, and obey the explicit override."""
    emb = load_table(spark, SF, "embeddings")
    monkeypatch.setattr(similarity, "BRUTE_FORCE_CAP", 10)
    with pytest.raises(ValueError, match="correctness baseline"):
        similarity.cosine_topk(emb, k=1)
    assert similarity.cosine_topk(emb, k=1, force=True).count() > 0
    monkeypatch.setattr(similarity, "BRUTE_FORCE_CAP", 65_536)
    assert similarity.cosine_topk(emb.limit(5), k=1).count() == 5


def test_neardup_lsh_finds_all_planted_pairs(spark):
    emb = load_table(spark, SF, "embeddings")
    emb.createOrReplaceTempView("embeddings")
    corpus = spark.sql(similarity.corpus_with_dup_vectors_sql(sd.SPARK))
    got = {
        (r.vec_a, r.vec_b)
        for r in similarity.neardup_pairs_lsh(spark, corpus).collect()
    }
    expected = {
        (r.vec_id, r.vec_id + 100000)
        for r in emb.where("vec_id % 10 = 0").collect()
    }
    # scaled copies share sign buckets exactly → recall must be total
    assert expected <= got


def test_binpack_invariants(spark):
    docs = load_table(spark, SF, "documents").select(
        "doc_id", F.col("n_chars").alias("token_count")
    )
    budget = 4096
    out = binpack.pack_batches(docs, budget=budget).collect()
    n_in = docs.count()
    assert len(out) == n_in
    assert len({r.doc_id for r in out}) == n_in
    by_batch: dict[int, list] = {}
    for r in out:
        by_batch.setdefault(r.batch_id, []).append(r)
    for rows in by_batch.values():
        mx = max(r.token_count for r in rows)
        assert mx * len(rows) <= budget or len(rows) == 1
        assert all(r.batch_max_tokens == mx for r in rows)
        assert all(r.batch_size == len(rows) for r in rows)


def test_binpack_deterministic_matches_python_mirror(spark):
    """The oracle-grain path (explicit ntile partitioning) must equal a
    pure-Python replay of ntile + the shared greedy core exactly —
    same batch ids, stats, everything."""
    budget, num_parts = 4096, 32
    docs = load_table(spark, SF, "documents").select(
        "doc_id", F.col("n_chars").alias("token_count")
    )
    got = {
        r.doc_id: (r.batch_id, r.batch_max_tokens, r.batch_size)
        for r in binpack.pack_batches_deterministic(
            docs, budget=budget, num_parts=num_parts
        ).collect()
    }

    rows = sorted(
        ((int(r.token_count), int(r.doc_id)) for r in docs.collect())
    )
    n = len(rows)
    # SQL ntile: first (n % k) tiles get ceil(n/k) rows
    q, rem = divmod(n, num_parts)
    expected = {}
    i = 0
    for part in range(1, num_parts + 1):
        size = q + (1 if part <= rem else 0)
        chunk = rows[i : i + size]
        i += size
        locals_ = binpack._greedy_locals([c for c, _ in chunk], budget)
        batches: dict[int, list[int]] = {}
        for (cnt, did), loc in zip(chunk, locals_):
            bid = part * binpack.PART_STRIDE + loc
            batches.setdefault(bid, []).append(cnt)
            expected[did] = (bid, cnt)
        for did in [d for _, d in chunk]:
            bid, _ = expected[did]
            expected[did] = (
                bid,
                max(batches[bid]),
                len(batches[bid]),
            )
    assert got == expected


def test_multimodal_decode_matches_pure_python(spark):
    p = pages_mod.load_pages(spark, SF, with_html=True)
    got = {r.doc_id: r for r in multimodal.decode_stub(p).limit(50).collect()}
    src = {r.doc_id: r.html for r in p.select("doc_id", "html").collect()}
    for did, r in got.items():
        blen = len(src[did])
        assert r.byte_len == blen
        assert r.width == 100 + blen % 100
        assert r.height == 100 + blen % 77
        assert r.checksum == (blen * 2654435761) % 1_000_000_007


def test_ivf_recall_vs_brute_force(spark):
    """With the TRAINED index (sampled k-means, sqrt(n)=22 cells at
    this sf, probe 4 → ~18% of the corpus scanned) recall on random
    near-orthogonal vectors lands well above both the random-probe
    floor (~0.18) and the old untrained-16-cell build (~0.35);
    planted true duplicates — the case IVF dedup exists for — must be
    found exactly."""
    emb = load_table(spark, SF, "embeddings")
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, k=3).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(emb, k=3).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.45, recall

    emb.createOrReplaceTempView("embeddings")
    corpus = spark.sql(similarity.corpus_with_dup_vectors_sql(sd.SPARK))
    top1 = {
        r.query_id: r.neighbor_id
        for r in similarity.ivf_topk(corpus, k=1).collect()
    }
    planted = [q for q in top1 if q >= 100000]
    assert planted
    # a scaled copy has identical cosine profile → same cell, found
    assert all(top1[q] == q - 100000 for q in planted)


def test_salted_join_equals_plain_join(spark):
    from fineweb_modal_spark.operators import skewjoin

    docs = load_table(spark, SF, "documents")
    pages = docs.selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 3 = 0 THEN 0 ELSE doc_id % 13 END AS host_id",
    )
    dim = pages.select("host_id").distinct().selectExpr(
        "host_id", "'host-' || CAST(host_id AS STRING) AS host_label"
    )
    plain = pages.join(dim, "host_id").select("doc_id", "host_id", "host_label")
    salted = skewjoin.salted_join(
        pages, dim, key="host_id", unique_col="doc_id", n_salts=8
    ).select("doc_id", "host_id", "host_label")
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0


def test_ivf_index_persists_and_roundtrips(spark, tmp_path):
    """build_ivf_index persists the trained centroid table (the
    reference's persisted LanceDB index, lancer.py:203-216); a query
    against the loaded index equals one against a freshly trained
    index (training is deterministic end-to-end)."""
    import numpy as np

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "ivf_index")
    similarity.build_ivf_index(spark, emb, path)
    ids, mat = similarity.load_ivf_index(spark, path)
    ids2, mat2 = similarity.train_ivf_centroids(emb)
    assert np.array_equal(ids, ids2)
    assert np.allclose(mat, mat2, atol=1e-12)
    n = emb.count()
    assert len(ids) == int(n**0.5)  # sqrt(n) cells, lancer.py:208
    fresh = similarity.ivf_topk(emb, k=3).collect()
    loaded = similarity.ivf_topk(emb, k=3, centroids=(ids, mat)).collect()
    assert sorted(map(tuple, fresh)) == sorted(map(tuple, loaded))


def test_lsh_plane_weights_match_sql_derivation(spark):
    """The Python-precomputed literal plane weights must stay
    bit-identical to the md5-derived plane table the DuckDB oracle
    uses (similarity.plane_sign_sql)."""
    ws = similarity._plane_weights()
    rows = spark.sql(similarity.plane_sign_sql(sd.SPARK)).collect()
    assert len(rows) == similarity.N_PLANES * 64
    for r in rows:
        assert ws[r.p][r.dim - 1] == float(r.s), (r.p, r.dim)


def test_cluster_resolution_collapses_near_dups(spark, corpus):
    """Every planted tail-mutated copy must resolve to the SAME keeper
    as its source (transitive closure, min-id keeper), and keepers are
    component minima (keeper <= doc_id, keeper maps to itself)."""
    pairs = dedup.lsh_pairs(corpus).where(
        F.col("jaccard") >= dedup.DEFAULT_JACCARD
    )
    res = dedup.resolve_clusters(pairs, corpus.select("doc_id")).collect()
    keeper = {r.doc_id: r.keeper_doc_id for r in res}
    assert len(keeper) == corpus.count()
    planted = [d for d in keeper if d >= 1000000]
    assert planted
    # resolution guarantee: every VERIFIED pair is collapsed
    for r in pairs.collect():
        assert keeper[r.doc_a] == keeper[r.doc_b], (r.doc_a, r.doc_b)
    # end-to-end: ≥90% of planted copies collapse onto their source
    # (bounded by LSH recall + the jaccard threshold, not by resolution)
    hits = sum(1 for d in planted if keeper[d] == keeper[d - 1000000])
    assert hits / len(planted) >= 0.9
    for d, k in keeper.items():
        assert k <= d
        assert keeper[k] == k  # keepers are fixed points


def test_ivf_blocked_scoring_matches_unsalted(spark, monkeypatch):
    """Force tiny block caps so every cell splits into several
    c_salt×q_salt blocks; blocked BLAS scoring + global window must
    return exactly the single-block result (block top-k merge is
    lossless)."""
    emb = load_table(spark, SF, "embeddings")
    cents = similarity.train_ivf_centroids(emb)
    plain = similarity.ivf_topk(emb, k=3, centroids=cents).collect()
    monkeypatch.setattr(similarity, "CELL_CAP", 7)
    monkeypatch.setattr(similarity, "QUERY_CAP", 11)
    blocked = similarity.ivf_topk(emb, k=3, centroids=cents).collect()
    assert sorted(map(tuple, blocked)) == sorted(map(tuple, plain))


def test_ivf_pq_blocked_scoring_matches_unsalted(spark, monkeypatch):
    """The IVF-PQ family scores through the same capped blocks: tiny
    caps split every cell, and the merged result equals the
    single-block one."""
    emb = load_table(spark, SF, "embeddings")
    cents = similarity.train_ivf_centroids(emb)
    books = similarity.train_pq_codebooks(emb)
    plain = similarity.ivf_pq_topk(
        emb, k=3, centroids=cents, codebooks=books
    ).collect()
    monkeypatch.setattr(similarity, "CELL_CAP", 7)
    monkeypatch.setattr(similarity, "QUERY_CAP", 11)
    blocked = similarity.ivf_pq_topk(
        emb, k=3, centroids=cents, codebooks=books
    ).collect()
    assert sorted(map(tuple, blocked)) == sorted(map(tuple, plain))


@pytest.fixture(scope="module")
def hot_cell(spark):
    """The sf0.01 embeddings plus 300 scaled copies of vector 0 (ids
    100001..100300): a copy has its source's cosine profile, so all
    301 land in one cell — a hot cell ~14× the mean cell size."""
    load_table(spark, SF_ORACLE, "embeddings").createOrReplaceTempView("hot_src")
    return spark.sql(
        "SELECT vec_id, embedding FROM hot_src UNION ALL "
        "SELECT 100000 + i AS vec_id, "
        "transform(embedding, x -> CAST(x * (1 + i / 1000.0) AS FLOAT)) AS embedding "
        "FROM hot_src LATERAL VIEW explode(sequence(1, 300)) t AS i "
        "WHERE vec_id = 0"
    ).localCheckpoint()


def test_hot_cell_blocks_stay_within_caps(spark, monkeypatch, hot_cell):
    """On a hot cell, the shared scoring plan splits the cell over
    several (cell, c_salt, q_salt) groups, hands the per-block function
    (here a probe over the IVF-PQ frames, returning len(pq) and
    len(pa)) at most CELL_CAP candidates × QUERY_CAP queries, and lets
    every (candidate, probe) pair of a cell meet exactly once.
    ivf_pq_topk under those caps equals its default-cap result."""
    import pandas as pd

    cents = similarity.train_ivf_centroids(hot_cell)
    books = similarity.train_pq_codebooks(hot_cell)
    a = similarity.encode_and_assign_pq(
        hot_cell, *cents, books, similarity.N_PROBE
    ).localCheckpoint()
    cand = a.where(F.col("crank") == 1).select("cell", "vec_id", "codes")
    probes = a.select(
        "cell", F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    n_cand = {r.cell: r["count"] for r in cand.groupBy("cell").count().collect()}
    n_probe = {r.cell: r["count"] for r in probes.groupBy("cell").count().collect()}
    hot = max(n_cand, key=n_cand.get)
    assert n_cand[hot] > 300

    monkeypatch.setattr(similarity, "CELL_CAP", 32)
    monkeypatch.setattr(similarity, "QUERY_CAP", 32)
    blocks = similarity._blocked_cogroup(
        cand,
        probes,
        lambda pq, pa: pd.DataFrame(
            {
                "cell": [pq["g_cell"].iloc[0]],
                "salts": [f'{pq["g_c"].iloc[0]}/{pq["g_q"].iloc[0]}'],
                "nq": [len(pq)],
                "nc": [len(pa)],
            }
        ),
        "cell bigint, salts string, nq bigint, nc bigint",
    ).collect()
    assert all(b.nq <= 32 and b.nc <= 32 for b in blocks)
    pairs: dict[int, int] = {}
    for b in blocks:
        pairs[b.cell] = pairs.get(b.cell, 0) + b.nq * b.nc
    assert pairs == {c: n_cand[c] * n_probe[c] for c in n_cand}
    # the split happens in Spark, not only inside the pandas call
    hot_groups = {b.salts for b in blocks if b.cell == hot}
    assert len(hot_groups) == -(-n_cand[hot] // 32) * -(-n_probe[hot] // 32)

    capped = similarity.ivf_pq_topk(
        hot_cell, k=3, centroids=cents, codebooks=books
    ).collect()
    monkeypatch.undo()
    default = similarity.ivf_pq_topk(
        hot_cell, k=3, centroids=cents, codebooks=books
    ).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, default))


def test_blocked_cogroup_calls_stay_within_score_cells(spark, monkeypatch):
    """Every per_block call gets at most SCORE_CELLS probes ×
    candidates, even when one cell's candidates alone exceed it, and
    the slices still pair every probe of a cell with every candidate of
    it exactly once."""
    import pandas as pd

    cand = spark.createDataFrame(
        [(0, v) for v in range(50)] + [(1, 100 + v) for v in range(7)], "cell int, vec_id bigint"
    )
    probes = spark.createDataFrame(
        [(0, 1000 + q) for q in range(30)] + [(1, 2000 + q) for q in range(3)],
        "cell int, query_id bigint",
    )
    monkeypatch.setattr(similarity, "SCORE_CELLS", 16)
    calls = similarity._blocked_cogroup(
        cand,
        probes,
        lambda pq, pa: pd.DataFrame(
            {
                "cells": [len(pq) * len(pa)],
                "qids": [pq["query_id"].tolist()],
                "vids": [pa["vec_id"].tolist()],
            }
        ),
        "cells bigint, qids array<bigint>, vids array<bigint>",
    ).collect()
    assert max(c.cells for c in calls) <= 16
    met = [(q, v) for c in calls for q in c.qids for v in c.vids]
    want = [(1000 + q, v) for q in range(30) for v in range(50)]
    want += [(2000 + q, 100 + v) for q in range(3) for v in range(7)]
    assert sorted(met) == sorted(want)


def test_url_normalize_and_dedup(spark):
    from fineweb_modal_spark.operators import urldedup

    cases = {
        "https://WWW.Example.com/Path/?utm=1#frag": "example.com/path",
        "http://example.com/path/": "example.com/path",
        "https://example.com/path": "example.com/path",
        "example.com/path//": "example.com/path",
        "https://sub.example.com": "sub.example.com",
        "": "",
    }
    # python spec
    for raw, want in cases.items():
        assert urldedup.normalize_py(raw) == want, raw
    # spark rendering equals python spec
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(cases)], "doc_id long, url string"
    )
    got = {r.url: r.norm_url for r in urldedup.with_norm_url(df).collect()}
    for raw, want in cases.items():
        assert got[raw] == want, raw
    # planted variants collapse onto their source
    rows = [(1, "https://h1.example.com/p/1"),
            (2, "http://www.h1.example.com/p/1/?utm_source=x"),
            (3, "https://h2.example.com/p/3")]
    d = urldedup.url_dedup(
        spark.createDataFrame(rows, "doc_id long, url string")
    ).collect()
    by_key = {r.norm_url: r for r in d}
    assert by_key["h1.example.com/p/1"].n_copies == 2
    assert by_key["h1.example.com/p/1"].keeper_doc_id == 1
    assert by_key["h2.example.com/p/3"].n_copies == 1


def test_asof_join_semantics(spark):
    """<=-tie takes the dim row at the same instant; facts before any
    dim version get NULL; later versions supersede earlier ones."""
    from fineweb_modal_spark.operators import asof as asof_op

    facts = spark.createDataFrame(
        [(1, 1, "2024-01-01 10:30:00"), (2, 1, "2024-01-01 10:00:00"),
         (3, 2, "2024-01-01 09:59:00"), (4, 1, "2024-01-01 08:00:00")],
        "event_id long, k long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    dim = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", 4.0), (1, "2024-01-01 10:00:00", 5.0),
         (2, "2024-01-01 10:00:00", 7.0)],
        "k long, rate_ts string, rate double",
    ).withColumn("rate_ts", F.col("rate_ts").cast("timestamp"))
    got = {
        r.event_id: r.rate
        for r in asof_op.asof_join(
            facts, dim, key="k", facts_ts="ts", dim_ts="rate_ts"
        ).collect()
    }
    assert got == {1: 5.0, 2: 5.0, 3: None, 4: None}


def test_cluster_resolution_on_long_chain(spark):
    """A 200-node path graph is the adversarial case for label
    propagation (diameter 199): pointer jumping must still converge
    inside the default max_iters and label every node with the chain
    minimum."""
    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    nodes = spark.range(n).withColumnRenamed("id", "doc_id")
    res = dedup.resolve_clusters(pairs, nodes).collect()
    assert len(res) == n
    assert all(r.keeper_doc_id == 0 for r in res)


def test_ivf_pq_recall_vs_brute_force(spark):
    """PQ quantization costs some recall vs exact-IVF (0.54 here) but
    must stay well above the random-probe floor (~0.18); planted
    scaled duplicates must still surface as top-1 (quantization noise
    ≪ the cosine≈1 signal)."""
    emb = load_table(spark, SF, "embeddings")
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, k=3).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_pq_topk(emb, k=3).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.30, recall

    emb.createOrReplaceTempView("embeddings")
    corpus = spark.sql(similarity.corpus_with_dup_vectors_sql(sd.SPARK))
    top1 = {
        r.query_id: r.neighbor_id
        for r in similarity.ivf_pq_topk(corpus, k=1).collect()
    }
    planted = [q for q in top1 if q >= 100000]
    assert planted
    hits = sum(1 for q in planted if top1[q] == q - 100000)
    assert hits / len(planted) >= 0.9, hits / len(planted)


def test_cluster_resolution_raises_on_iteration_exhaustion(spark):
    """Exhausting max_iters with labels still moving must RAISE, not
    return partial (wrong) keeper labels — silent non-convergence
    would hand dedup a bad keeper mapping with no signal."""
    import pytest

    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    nodes = spark.range(n).withColumnRenamed("id", "doc_id")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.resolve_clusters(pairs, nodes, max_iters=2)
    # and the same graph converges with room to iterate
    res = dedup.resolve_clusters(pairs, nodes, max_iters=12).collect()
    assert all(r.keeper_doc_id == 0 for r in res)


def test_bloom_membership_no_false_negatives(spark):
    """Every seen key must report maybe_seen=true (Bloom guarantee);
    false positives among unseen keys stay low at the default m/k."""
    from fineweb_modal_spark.operators import bloom as bloom_op
    from pyspark.sql import functions as F

    keys = spark.range(2000).select(
        F.concat(F.lit("k"), F.col("id")).alias("url"), "id"
    )
    seen = keys.where(F.col("id") % 3 == 0).select("url")
    filt = bloom_op.build_bloom(seen, "url")
    verdict = {
        r.url: r.maybe_seen
        for r in bloom_op.maybe_member(keys.select("url"), filt, "url").collect()
    }
    fp = 0
    for r in keys.collect():
        if r.id % 3 == 0:
            assert verdict[r.url], f"false negative for seen key {r.url}"
        elif verdict[r.url]:
            fp += 1
    # ~667 keys in a 2^20-bit filter with k=3 → fp rate ≈ (kn/m)^k ~ 1e-8
    assert fp <= 2, f"implausible false-positive count {fp}"


def test_bucketed_range_join_equals_naive(spark):
    """Bucketed plan must equal the naive non-equi join exactly,
    including boundary-inclusive semantics and multi-bucket spans."""
    import datetime as dt

    from pyspark.sql import functions as F

    from fineweb_modal_spark.operators.rangejoin import bucketed_range_join

    base = dt.datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [(i, base + dt.timedelta(seconds=137 * i)) for i in range(400)],
        "pid long, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [
            (
                j,
                base + dt.timedelta(seconds=900 * j),
                base + dt.timedelta(seconds=900 * j + 3600 * (1 + j % 3)),
            )
            for j in range(40)
        ],
        "iid long, session_start timestamp, session_end timestamp",
    )
    got = {
        (r.pid, r.iid)
        for r in bucketed_range_join(pts, ivs, bucket_s=600).collect()
    }
    want = {
        (r.pid, r.iid)
        for r in pts.crossJoin(ivs)
        .where(
            F.col("ts").between(F.col("session_start"), F.col("session_end"))
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_cms_never_underestimates(spark):
    """Count-min guarantee: est >= exact for EVERY key (not just the
    gate's top-20), and est == exact when w is collision-free."""
    from pyspark.sql import functions as F

    from fineweb_modal_spark.operators import countmin as cms_op
    from fineweb_modal_spark.operators import fts

    toks = fts.tokens(load_table(spark, SF, "documents").limit(100)).select("tok")
    cms = cms_op.build_cms(toks, "tok")
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_cnt"))
    est = cms_op.estimate(exact.select("tok"), cms, "tok")
    rows = est.join(exact, "tok").collect()
    assert rows
    assert all(r.est >= r.exact_cnt for r in rows)


def test_ngram_jaccard_equals_brute_force(spark, corpus):
    """Prefix filtering is EXACT: output must equal the brute-force
    all-pairs Jaccard-threshold set — no false negatives (the
    prefix-filter theorem) and no false positives (verification).
    The corpus has docs whose distinct-shingle count is a multiple of
    5, the case where float ceil(0.8*n) inflates to n (0.8*5 ->
    4.000000000000000222) and a float-based prefix length would
    silently drop true pairs."""
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(corpus).collect()
    }

    toks = dedup.H.tokens_lower("text", sd.SPARK)
    sh = dedup.H.shingles("__toks", sd.SPARK)
    shh = dedup.H.shingle_hashes("__sh", sd.SPARK)
    sets = {
        r.doc_id: frozenset(r.sh)
        for r in corpus.selectExpr("doc_id", f"{toks} AS __toks")
        .selectExpr("doc_id", f"{sh} AS __sh")
        .selectExpr("doc_id", f"array_distinct({shh}) AS sh")
        .collect()
    }
    ids = sorted(sets)
    # sanity: the float-ceil trap case is actually present
    assert any(len(sets[i]) % 5 == 0 for i in ids)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            uni = len(sets[a] | sets[b])
            if inter * dedup.NGRAM_T_DEN >= uni * dedup.NGRAM_T_NUM:
                want[(a, b)] = round(inter / uni, 6)
    assert want, "fixture must contain true near-dup pairs"
    assert got == want


def test_hll_accuracy_and_merge(spark):
    """m=256 HLL: relative error within ~3σ (σ≈6.5%) on 2k–10k
    cardinalities, and the merged ALL sketch must EQUAL the sketch
    built directly over the union (bucket-wise max is an exact merge,
    not an approximation of one)."""
    from fineweb_modal_spark.operators import hll

    ev = load_table(spark, "/root/testdata/sf0.01", "events").select(
        "event_type", "event_id"
    )
    regs = hll.build_registers(ev, "event_id", ["event_type"])
    merged = {
        (r.bucket): r.m_j for r in hll.merge_registers(regs).collect()
    }
    direct = {
        r.bucket: r.m_j
        for r in hll.build_registers(
            ev.select(F.lit("ALL").alias("g"), "event_id"), "event_id", ["g"]
        ).collect()
    }
    assert merged == direct

    est = {r.event_type: r.n_est for r in hll.estimate(regs).collect()}
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("event_id").alias("n"))
        .collect()
    }
    for g, n in exact.items():
        assert abs(est[g] - n) / n < 0.2, (g, est[g], n)


def test_hist_sketch_merge_and_error_bound(spark):
    """Bin counters merged from disjoint shards (sum on (group,bin))
    must equal the whole-corpus sketch, and every estimate must land
    within one bin width of the ceil(q*n)-th ORDER STATISTIC — the
    sketch's actual guarantee (the straddling bin contains that count
    position). Interpolated percentiles are NOT the yardstick: on a
    25-row group p99 sits between the top two values, whose gap is
    data-dependent and unbounded by W."""
    import math

    from fineweb_modal_spark.operators import histsketch as hs

    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "source", "n_chars"
    )
    whole = hs.build_bins(docs, "n_chars", ["source"])
    h1 = hs.build_bins(docs.where("n_chars % 2 = 0"), "n_chars", ["source"])
    h2 = hs.build_bins(docs.where("n_chars % 2 = 1"), "n_chars", ["source"])
    merged = (
        h1.unionByName(h2)
        .groupBy("source", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )

    est = {
        r.source: r for r in hs.quantiles(whole, [0.5, 0.9, 0.99]).collect()
    }
    vals = {}
    for r in docs.collect():
        vals.setdefault(r.source, []).append(r.n_chars)
    for src, xs in vals.items():
        xs.sort()
        r = est[src]
        assert r.n == len(xs)
        for q, e in ((0.5, r.p50), (0.9, r.p90), (0.99, r.p99)):
            k = math.ceil(q * len(xs))
            assert abs(e - xs[k - 1]) <= hs.HIST_W, (src, q, e, xs[k - 1])


def test_apply_keepers_drops_exactly_non_keepers(spark):
    from fineweb_modal_spark.operators import dedup as dd

    corpus = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 2, 3, 7, 9)],
        "doc_id long, text string",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (7, 7), (9, 7)],
        "doc_id long, keeper_doc_id long",
    )
    kept = sorted(
        r.doc_id for r in dd.apply_keepers(corpus, clusters).collect()
    )
    assert kept == [1, 3, 7]


def test_semantic_dedup_drops_planted_pairs(spark):
    """SemDeDup: each planted (source, first-component-halved copy)
    pair has cosine ≈ 0.998 > tau — exactly one member survives, and
    the survivor is the one farther from its centroid (lower ccos);
    unrelated near-orthogonal vectors are untouched."""
    load_table(spark, SF, "embeddings").createOrReplaceTempView("embeddings")
    corpus = spark.sql(similarity.corpus_with_semdup_vectors_sql(sd.SPARK))
    rows = {r.vec_id: r for r in similarity.semantic_dedup(corpus).collect()}
    planted = [v for v in rows if v >= 100000]
    assert planted
    for cp in planted:
        src = cp - 100000
        kept = {v for v in (src, cp) if rows[v].keep}
        # pair collapses to exactly one survivor...
        assert len(kept) == 1, (src, cp)
        # ...the farther-from-centroid member (paper's keep rule)
        winner = min((src, cp), key=lambda v: (rows[v].centroid_cos, v))
        assert kept == {winner}
    # vectors with no planted partner all survive (corpus is
    # near-orthogonal random -> no natural pair crosses tau=0.95)
    untouched = [
        v for v in rows
        if v < 100000 and (v + 100000) not in rows and not rows[v].keep
    ]
    assert untouched == []


def test_semantic_dedup_blocked_matches_unsalted(spark, monkeypatch):
    """Forcing tiny caps (every cell salted into many blocks) must
    reproduce the unsalted result exactly — dominance is
    OR-decomposable across candidate blocks."""
    load_table(spark, SF, "embeddings").createOrReplaceTempView("embeddings")
    corpus = spark.sql(similarity.corpus_with_semdup_vectors_sql(sd.SPARK))
    cents = similarity.train_ivf_centroids(corpus)
    plain = {
        r.vec_id: (r.cell, r.centroid_cos, r.keep)
        for r in similarity.semantic_dedup(corpus, centroids=cents).collect()
    }
    monkeypatch.setattr(similarity, "CELL_CAP", 7)
    monkeypatch.setattr(similarity, "QUERY_CAP", 5)
    blocked = {
        r.vec_id: (r.cell, r.centroid_cos, r.keep)
        for r in similarity.semantic_dedup(corpus, centroids=cents).collect()
    }
    assert plain == blocked


def test_incremental_lsh_planted_cohorts(spark):
    """+1M near-dups rejected, +3M fresh admitted, +4M copies of +3M
    rejected; old text never consulted (operator takes only sigs)."""
    from fineweb_modal_spark.functions import sqldialect as sd
    from fineweb_modal_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (i, f"document number {i} talks about topic {i % 7} in "
                f"plain simple words that repeat across documents")
            for i in range(0, 100)
        ],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("documents_inc_test")
    new_docs = spark.sql(
        dedup.new_crawl_batch_sql(sd.SPARK, "documents_inc_test")
    )
    out = {
        r.doc_id: r.admitted
        for r in dedup.incremental_lsh_dedup(
            dedup.with_minhash(docs), new_docs
        ).collect()
    }
    near = [k for k in out if 1000000 <= k < 2000000]
    fresh = [k for k in out if 3000000 <= k < 4000000]
    copies = [k for k in out if k >= 4000000]
    assert near and fresh and copies
    assert all(not out[k] for k in near)      # near-dups rejected
    assert all(out[k] for k in fresh)          # fresh admitted
    assert all(not out[k] for k in copies)     # exact new-new copies rejected


def test_quality_keeper_picks_best_not_lowest_id(spark):
    """A cluster where the HIGHER-id member has the better classifier
    score must keep the high-id doc — the exact case min-id keepers
    get wrong."""
    from fineweb_modal_spark.operators import dedup

    good = (
        "the quick brown fox jumps over the lazy dog and then it runs "
        "far away to the old house by the sea where all of them rest"
    )
    # near-identical pair: doc 2 = doc 1 + digit spam head (worse
    # score, same shingle tail), plus an unrelated singleton
    rows = [
        (1, "00 11 22 33 44 55 " + good),
        (2, good),
        (9, "completely different text about another topic entirely here"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.lsh_pairs(corpus).where("jaccard >= 0.5")
    clusters = dedup.resolve_clusters(pairs, corpus.select("doc_id"))
    out = {r.doc_id: r for r in dedup.quality_aware_keepers(corpus, clusters).collect()}
    if out[1].cluster_id == out[2].cluster_id:  # pair actually clustered
        assert out[2].keep and not out[1].keep  # best score wins, not min id
        assert out[2].score_ppm > out[1].score_ppm
    assert out[9].keep  # singleton keeps itself


def test_url_templates_collapse_digits(spark):
    from fineweb_modal_spark.operators import urldedup

    pages = spark.createDataFrame(
        [(i, f"https://shop.example.com/item/{i}/view", "x") for i in range(50)]
        + [(100 + i, f"https://shop.example.com/about", "x") for i in range(2)],
        "doc_id long, url string, text string",
    )
    out = urldedup.url_templates(pages).collect()
    top = sorted(out, key=lambda r: r.rk)[0]
    assert top.template == "/item/<d>/view" and top.n == 50


def test_upsample_copy_counts(spark):
    from fineweb_modal_spark.operators import mixture

    docs = spark.createDataFrame(
        [(i, "src0" if i < 40 else "srcX") for i in range(80)],
        "doc_id long, source string",
    )
    rates = spark.createDataFrame(
        [("src0", 2500)], "source string, rate_num int"
    )
    out = mixture.upsample(docs, rates).collect()
    ids = [r.doc_id for r in out]
    assert all(i < 40 for i in ids)  # unlisted source dropped
    from collections import Counter

    per_doc = Counter(ids)
    # 2.5x: every kept doc has 2 or 3 copies, mean ~2.5
    assert set(per_doc.values()) <= {2, 3}
    total = sum(per_doc.values())
    assert 2.0 * 40 <= total <= 3.0 * 40
    # copy_ids are contiguous from 0
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r.copy_id)
    for cids in by_doc.values():
        assert sorted(cids) == list(range(len(cids)))


def test_score_percentile_bounds_and_order(spark):
    from fineweb_modal_spark.operators import quality

    good = (
        "the quick brown fox jumps over the lazy dog and then it runs "
        "far away to the old house by the sea where all of them rest"
    )
    rows = [
        (i, "en", good if i % 2 else "00 11 22 33 44 55 66 77 88 99")
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = quality.score_percentile_by_lang(df).collect()
    assert all(0.0 <= r.pctl <= 1.0 for r in out)
    # higher score => higher percentile within the language
    srt = sorted(out, key=lambda r: r.score_ppm)
    pct = [r.pctl for r in srt]
    assert pct == sorted(pct)
    # the two planted cohorts separate
    hi = [r.pctl for r in out if r.score_ppm == max(x.score_ppm for x in out)]
    lo = [r.pctl for r in out if r.score_ppm == min(x.score_ppm for x in out)]
    assert min(hi) > max(lo)


def test_ivf_incremental_scaled_copies_land_in_source_cell(spark):
    """Cosine-invariant scaled copies of stored vectors must assign to
    the SAME cell as their source under the stored centroids."""
    from fineweb_modal_spark.functions import sqldialect as sd
    from fineweb_modal_spark.operators import similarity
    from fineweb_modal_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    emb.createOrReplaceTempView("embeddings")
    cents = similarity.train_ivf_centroids(emb)
    base = {
        r.vec_id: r.cell
        for r in similarity.ivf_assign_delta(emb, cents).collect()
    }
    delta = spark.sql(similarity.delta_vectors_sql(sd.SPARK))
    inc = {
        r.vec_id: r.cell
        for r in similarity.ivf_assign_delta(delta, cents).collect()
    }
    scaled = {k: v for k, v in inc.items() if 100000 <= k < 200000}
    assert scaled
    for vid, cell in scaled.items():
        assert cell == base[vid - 100000], vid


def test_ngram_lm_stupid_backoff_matches_hand_computation(spark):
    """Tiny corpus where every branch of the backoff fires: seen
    bigram, unseen-bigram-with-known-w2, and OOV w2."""
    import math

    from fineweb_modal_spark.operators import ngramlm

    # min counts: unigram >= 2, bigram >= 3
    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),  # c(a,b)=3 -> in model; c(b,a)=2 -> backoff
            (2, "b b rare"),     # (b,b) c=1 -> backoff; (b,rare) -> OOV w2
            (3, "  "),           # blank -> no bigrams
            (4, "single"),       # 1 token -> no bigrams
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in ngramlm.score_docs(docs).collect()}
    # vocab: a(3), b(5) pass min 2; rare/single c=1 drop. N = 8.
    n = 8.0
    lp_ab = math.log(3 / 3)  # c(a,b)=3 in model, c1(a)=3
    lp_ba = math.log(0.4 * 3 / n)  # (b,a) c=2 < 3 -> backoff to c1(a)=3
    lp_bb = math.log(0.4 * 5 / n)  # (b,b) c=1 -> backoff to c1(b)=5
    lp_oov = math.log(0.4 / n)  # (b,rare): rare not in vocab
    assert rows[1].n_bigrams == 5
    exp1 = (3 * lp_ab + 2 * lp_ba) / 5
    assert abs(rows[1].avg_lp - round(exp1, 6)) < 1e-6
    assert abs(rows[1].ppl - round(math.exp(-exp1), 6)) < 1e-4
    exp2 = (lp_bb + lp_oov) / 2
    assert rows[2].n_bigrams == 2
    assert abs(rows[2].avg_lp - round(exp2, 6)) < 1e-6
    assert rows[3].n_bigrams == 0 and rows[3].avg_lp is None and rows[3].ppl is None
    assert rows[4].n_bigrams == 0 and rows[4].avg_lp is None


def test_clf_train_gd_learns_the_judge(spark):
    """5 GD steps must beat the trivial always-keep predictor (w=0
    predicts keep for every doc since sigmoid(0) >= 0.5)."""
    from fineweb_modal_spark.operators import clftrain
    from fineweb_modal_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    base_keep = clftrain.feature_frame(docs).agg(
        F.avg("y").alias("r")
    ).collect()[0].r
    row = clftrain.train_report(docs).collect()[0]
    acc = row.n_agree / row.n_train
    assert row.n_train == 500
    assert acc > max(base_keep, 1 - base_keep), (acc, base_keep)
    assert any(abs(row[c]) > 1e-6 for c in ("b", "w1", "w2", "w3", "w4", "w5"))


def test_merge_signature_index_supersedes_and_appends(spark):
    """Re-crawled doc_ids take the DELTA's signature row; untouched
    ids keep the stored row; fresh ids append — merged == full
    rebuild over (surviving old ∪ delta)."""
    from fineweb_modal_spark.functions import sqldialect as sd
    from fineweb_modal_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (i, f"stored page {i} about subject {i % 5} written in "
                f"everyday words for testing")
            for i in range(0, 100)
        ],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("documents_idx_test")
    delta = spark.sql(dedup.recrawl_batch_sql(sd.SPARK, "documents_idx_test"))
    merged = dedup.merge_signature_index(
        dedup.with_minhash(docs), dedup.with_minhash(delta)
    )
    sig_of = lambda df: {  # noqa: E731
        r.doc_id: (
            tuple(sorted(r["__sh"])),
            tuple(r[f"sig_{k}"] for k in range(8)),
        )
        for r in df.collect()
    }
    got = sig_of(merged)
    # full rebuild over (old minus re-crawled) ∪ delta
    rebuilt = sig_of(
        dedup.with_minhash(
            docs.join(delta.select("doc_id"), "doc_id", "left_anti")
            .unionByName(delta)
        )
    )
    assert got == rebuilt
    old = sig_of(dedup.with_minhash(docs))
    recrawled = [i for i in range(0, 100) if i % 25 == 0]
    assert all(got[i] != old[i] for i in recrawled)  # superseded rows
    assert all(
        got[i] == old[i] for i in range(100) if i % 25 != 0
    )  # untouched rows survive byte-identical
    assert {k for k in got if k >= 5000000} == {
        5000000 + i for i in range(0, 100, 40)
    }  # fresh appended


def test_similar_to_doc_finds_planted_neighbor(spark):
    """Query-by-document: rank 1 for each query must be its planted
    near-dup (same text + tail), with sane Jaccard and contiguous,
    self-free rankings."""
    from fineweb_modal_spark.operators import dedup

    rows = []
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    for i in range(40):
        rows.append((i, f"{base} doc {i} marker {i * 7} end"))
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    corpus.createOrReplaceTempView("documents")
    full = spark.sql(dedup.corpus_with_near_dups_sql("spark"))
    out = dedup.similar_to_doc(full, query_ids=(0, 10, 20), top_k=3)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append(
            (r.rank, r.doc_id, r.jaccard)
        )
    assert set(got) == {0, 10, 20}
    for qid, hits in got.items():
        hits.sort()
        ranks = [h[0] for h in hits]
        assert ranks == list(range(1, len(hits) + 1))
        # rank 1 = the planted mutated copy (doc_id + 1000000)
        assert hits[0][1] == qid + 1000000
        assert 0 < hits[0][2] <= 1.0
        # the planted copy is strictly more similar than unrelated docs
        assert all(hits[0][2] >= h[2] for h in hits[1:])
        assert all(h[1] != qid for h in hits)


def test_temperature_sampling_rates_and_determinism(spark):
    """Temperature rule (XLM-R alpha): rarest language keeps 1000
    permille, higher-resource languages get (n/n_min)^(alpha-1);
    alpha=1 is a no-op; the coin is deterministic across runs."""
    from fineweb_modal_spark.operators import mixture

    docs = spark.createDataFrame(
        [(i, "en" if i < 800 else ("de" if i < 960 else "sw"))
         for i in range(1000)],
        "doc_id long, lang string",
    )
    rates = {
        r["lang"]: r["rate_num"]
        for r in mixture.temperature_rates(docs, alpha=0.3).collect()
    }
    assert rates["sw"] == 1000  # rarest keeps everything
    assert rates["de"] == round(1000 * (160 / 40) ** (0.3 - 1.0))
    assert rates["en"] == round(1000 * (800 / 40) ** (0.3 - 1.0))
    # alpha=1: every rate 1000, sample is the identity
    one = mixture.temperature_rates(docs, alpha=1.0).collect()
    assert all(r["rate_num"] == 1000 for r in one)
    assert mixture.temperature_sample(docs, alpha=1.0).count() == 1000
    # determinism: two runs keep the same ids
    a = {r["doc_id"] for r in mixture.temperature_sample(docs).collect()}
    b = {r["doc_id"] for r in mixture.temperature_sample(docs).collect()}
    assert a == b
    # down-sampling monotone: en keeps a smaller fraction than de
    n_en = sum(1 for i in a if i < 800)
    n_de = sum(1 for i in a if 800 <= i < 960)
    assert n_en / 800 < n_de / 160 <= 1.0
