"""Link-graph PageRank + classifier threshold-sweep invariants."""

from fineweb_modal_spark.functions import sqldialect as sd
from fineweb_modal_spark.operators import linkgraph, quality


def _linked(spark):
    pages = spark.createDataFrame(
        [
            (i, f"https://h{i % 13}.example.com/p/{i}")
            for i in range(200)
        ],
        "doc_id long, url string",
    )
    pages.createOrReplaceTempView("pages_lg_test")
    return spark.sql(linkgraph.linked_pages_sql(sd.SPARK, "pages_lg_test"))


def test_pagerank_mass_conserved_and_planted_hub_wins(spark):
    out = {r.host: r.rank for r in linkgraph.host_pagerank(_linked(spark)).collect()}
    assert len(out) == 13
    # damped PageRank over a dangling-free graph conserves rank mass
    assert abs(sum(out.values()) - 1.0) < 1e-4
    # h0 receives an extra link from every even doc -> top centrality
    assert max(out, key=out.get) == "h0.example.com"
    assert all(r > 0 for r in out.values())


def test_pagerank_deterministic(spark):
    linked = _linked(spark)
    a = sorted(linkgraph.host_pagerank(linked).collect())
    b = sorted(linkgraph.host_pagerank(linked).collect())
    assert a == b


def test_threshold_sweep_operating_curve(spark):
    good = (
        "the quick brown fox jumps over the lazy dog and it runs far "
        "away to the old house by the sea where all of them could rest"
    )
    bad = "00 11 22 33 44 55 66 77 88 99"
    rows = [
        (i, good if i % 3 else bad) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        quality.threshold_sweep(df).collect(), key=lambda r: -r.bucket
    )
    # cumulative counts increase as the threshold drops
    for a, b in zip(out, out[1:]):
        assert b.cum_docs > a.cum_docs >= a.cum_pos
    # the lowest bucket covers everything: recall 1.0, precision =
    # global positive rate
    last = out[-1]
    assert last.cum_docs == 60
    assert last.recall_at == 1.0
    assert abs(last.precision_at - last.cum_pos / 60) < 5e-7  # round-6
    # buckets separate the planted cohorts: the top bucket is purer
    # than the global rate
    assert out[0].precision_at >= last.precision_at


def test_semantic_decontaminate_flags_planted_copies(spark):
    from fineweb_modal_spark.operators import decontam

    # bench = 2 vectors; corpus = bench-near copies (scaled -> cosine
    # 1.0) + orthogonal vectors -> exactly the copies are flagged
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (41, [0.0, 1.0, 0.0, 0.0]),
        (100, [1.01, 0.0, 0.0, 0.0]),   # copy of bench 0
        (101, [0.0, 0.0, 1.0, 0.0]),    # orthogonal
        (102, [0.0, 2.0, 0.0, 0.0]),    # copy of bench 41
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bench = emb.where("vec_id % 41 = 0")
    out = {
        r.vec_id: r.contaminated
        for r in decontam.semantic_decontaminate(emb, bench).collect()
    }
    assert set(out) == {100, 101, 102}
    assert out[100] and out[102] and not out[101]


def test_anchor_text_index_topk(spark):
    out = linkgraph.anchor_text_index(_linked(spark)).collect()
    by_host = {}
    for r in out:
        by_host.setdefault(r.dst_host, []).append(r)
    assert set(by_host) <= {f"h{i}.example.com" for i in range(13)}
    for host, rows in by_host.items():
        assert len(rows) <= 3
        rows.sort(key=lambda r: r.rk)
        keys = [(-r.n, r.token) for r in rows]
        assert keys == sorted(keys)  # rank order = (n desc, token asc)
    # h0 receives 'trusted home page' from every even doc (100 links)
    # -> those tokens dominate its anchor profile
    h0 = {r.token for r in by_host["h0.example.com"]}
    assert h0 & {"trusted", "home", "page"}


def test_quota_sampler_exact_counts(spark):
    from fineweb_modal_spark.plans import queries as Q

    out = Q.queries()["quota_sample_per_lang"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    from collections import Counter

    c = Counter(r.lang for r in out)
    # every language hits its exact quota (fixture has >=20 per lang)
    assert all(v == 20 for v in c.values()) and len(c) >= 3
    # deterministic: second run identical
    out2 = Q.queries()["quota_sample_per_lang"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_cocitation_symmetric_pairs(spark):
    out = linkgraph.host_cocitation(_linked(spark)).collect()
    assert out
    for r in out:
        assert r.host_a < r.host_b          # canonical order, no dupes
        assert r.n_common_sources >= 1
    # h0 is linked from every host (even docs everywhere) -> h0 pairs
    # with many hosts
    h0_pairs = [r for r in out if "h0." in (r.host_a, r.host_b)[0] or r.host_b == "h0.example.com" or r.host_a == "h0.example.com"]
    assert len(h0_pairs) >= 5


def test_corpus_diversity_skew_detection(spark):
    from fineweb_modal_spark.operators import textstats

    rows = (
        # 'mono' lang: 90 docs on one host, 10 on another -> low
        # effective hosts; 'flat' lang: 50/50 -> ~2.0
        [(i, f"https://big.example/p/{i}", "x", "mono") for i in range(90)]
        + [(i + 90, f"https://small.example/p/{i}", "x", "mono") for i in range(10)]
        + [(200 + i, f"https://a.example/p/{i}", "x", "flat") for i in range(50)]
        + [(300 + i, f"https://b.example/p/{i}", "x", "flat") for i in range(50)]
    )
    pages = spark.createDataFrame(
        rows, "doc_id long, url string, text string, lang string"
    )
    out = {r.lang: r for r in textstats.corpus_diversity(pages).collect()}
    assert out["flat"].inv_simpson == 2.0
    assert out["mono"].inv_simpson < 1.3
    assert out["mono"].n_docs == 100 and out["mono"].n_hosts == 2


def test_host_triangles_hand_graph(spark):
    """K4 on h0..h3 plus a pendant h4: 4 triangles, each K4 host in
    3 of them with cc=1; the pendant's host has cc=0."""
    edges = [(a, b) for a in range(4) for b in range(4) if a != b]
    edges += [(0, 4), (4, 0)]
    rows = []
    for i, (a, b) in enumerate(edges):
        rows.append(
            (
                i,
                f"https://h{a}.example.com/p/{i}",
                f'<html><body><a href="https://h{b}.example.com/x">l</a></body></html>',
            )
        )
    linked = spark.createDataFrame(
        rows, "doc_id long, url string, html string"
    )
    out = {
        r.host: (r.degree, r.n_triangles, r.cc_ppm)
        for r in linkgraph.host_triangles(linked).collect()
    }
    for h in ("h1", "h2", "h3"):
        assert out[f"{h}.example.com"] == (3, 3, 1000000)
    # h0 also touches the pendant: degree 4, still 3 triangles,
    # cc = 2*3/(4*3) = 0.5
    assert out["h0.example.com"] == (4, 3, 500000)
    assert out["h4.example.com"] == (1, 0, 0)
    # global count: each triangle counted once -> sum of per-host
    # participation = 3 * n_triangles
    assert sum(v[1] for v in out.values()) == 3 * 4


def test_host_triangles_ignores_direction_and_multiplicity(spark):
    """A triangle seen via duplicate and reversed links still counts
    exactly once."""
    pairs = [(0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (0, 2), (2, 0)]
    rows = [
        (
            i,
            f"https://h{a}.example.com/p/{i}",
            f'<html><a href="https://h{b}.example.com/x">l</a></html>',
        )
        for i, (a, b) in enumerate(pairs)
    ]
    linked = spark.createDataFrame(
        rows, "doc_id long, url string, html string"
    )
    out = {
        r.host: r.n_triangles
        for r in linkgraph.host_triangles(linked).collect()
    }
    assert out == {
        "h0.example.com": 1,
        "h1.example.com": 1,
        "h2.example.com": 1,
    }


def test_host_triangles_degree_ties_hand_values(spark):
    """Degree orientation on K4 plus a pendant hung off h3: h0..h2 tie
    at degree 3 (rank falls back to the host name) and h3 is the
    highest-rank hub. Each K4 host sits in 3 triangles, the pendant
    in none — every triangle is enumerated exactly once."""
    edges = [(a, b) for a in range(4) for b in range(4) if a != b]
    edges += [(3, 4), (4, 3)]
    rows = [
        (
            i,
            f"https://h{a}.example.com/p/{i}",
            f'<html><a href="https://h{b}.example.com/x">l</a></html>',
        )
        for i, (a, b) in enumerate(edges)
    ]
    linked = spark.createDataFrame(
        rows, "doc_id long, url string, html string"
    )
    out = {
        r.host: (r.degree, r.n_triangles, r.cc_ppm)
        for r in linkgraph.host_triangles(linked).collect()
    }
    assert out == {
        "h0.example.com": (3, 3, 1000000),
        "h1.example.com": (3, 3, 1000000),
        "h2.example.com": (3, 3, 1000000),
        "h3.example.com": (4, 3, 500000),
        "h4.example.com": (1, 0, 0),
    }
