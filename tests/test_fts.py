"""The full-text index: the sharded posting lists merge back into the
unsharded index (operators/fts.py)."""

from __future__ import annotations

from fineweb_modal_spark.operators import fts
from fineweb_modal_spark.sources.tables import load_table

from .conftest import SF_ORACLE


def test_sharded_postings_merge_to_unsharded(spark):
    """For every token, the union of its shards=4 posting lists is its
    shards=1 list, and its df_shard values sum to its df."""
    docs = load_table(spark, SF_ORACLE, "documents")
    whole = {
        r.tok: (r.df, [int(x) for x in r.postings.split(",")])
        for r in fts.postings(docs).collect()
    }
    merged: dict[str, tuple[int, list[int]]] = {}
    for r in fts.postings(docs, shards=4).collect():
        ids = [int(x) for x in r.postings.split(",")]
        assert all(i % 4 == r.shard for i in ids)
        df, acc = merged.get(r.tok, (0, []))
        merged[r.tok] = (df + r.df_shard, acc + ids)
    assert whole and set(merged) == set(whole)
    for tok, (df, ids) in whole.items():
        assert merged[tok][0] == df == len(ids), tok
        assert sorted(merged[tok][1]) == ids, tok
