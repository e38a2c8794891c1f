"""Streaming canonical-entity labels: sequential batches == full CC over
the union, deltas record exactly the moved vertices, redelivery is a
no-op, and compaction preserves the fold."""

from __future__ import annotations

import random

from entity_extractor_spark.operators.graph import connected_components
from entity_extractor_spark.streaming.entities import (
    cc_batch,
    compact_state,
    read_labels,
)


def _labels(df):
    return {r.vertex: r.component for r in df.collect()}


def _edges_df(spark, edges):
    return spark.createDataFrame(sorted(edges), "src string, dst string")


def _rand_edges(seed, n_vertices, n_edges):
    rnd = random.Random(seed)
    out = set()
    while len(out) < n_edges:
        a, b = rnd.sample(range(n_vertices), 2)
        out.add((f"v{a:04d}", f"v{b:04d}"))
    return sorted(out)


def test_stream_equals_full_recompute(spark, tmp_path):
    out = str(tmp_path / "cc")
    edges = _rand_edges(3, 60, 80)
    batches = [edges[0:30], edges[30:55], edges[55:80]]
    for i, b in enumerate(batches):
        cc_batch(spark, _edges_df(spark, b), i, out)
        want = _labels(connected_components(_edges_df(spark, edges[: sum(map(len, batches[: i + 1]))])))
        assert _labels(read_labels(spark, out)) == want, f"after batch {i}"


def test_delta_records_only_moves_and_redelivery_is_noop(spark, tmp_path):
    out = str(tmp_path / "cc")
    # batch 0: two separate chains; batch 1: a bridge merges them
    b0 = [("a", "b"), ("b", "c"), ("x", "y")]
    b1 = [("c", "x"), ("p", "q")]
    d0 = _labels(cc_batch(spark, _edges_df(spark, b0), 0, out))
    assert set(d0) == {"a", "b", "c", "x", "y"}
    d1 = _labels(cc_batch(spark, _edges_df(spark, b1), 1, out))
    # x,y move to component 'a'; p,q are new; a,b,c unchanged -> no delta row
    assert d1 == {"x": "a", "y": "a", "p": "p", "q": "p"}
    after_once = _labels(read_labels(spark, out))
    # redeliver batch 1 (fence hides its own earlier write): same state
    d1_again = _labels(cc_batch(spark, _edges_df(spark, b1), 1, out))
    assert d1_again == d1
    assert _labels(read_labels(spark, out)) == after_once
    assert after_once == {
        "a": "a", "b": "a", "c": "a", "x": "a", "y": "a", "p": "p", "q": "p",
    }


def test_compaction_preserves_fold_and_fence(spark, tmp_path):
    out = str(tmp_path / "cc")
    edges = _rand_edges(9, 40, 60)
    batches = [edges[0:20], edges[20:40], edges[40:60]]
    cc_batch(spark, _edges_df(spark, batches[0]), 0, out)
    cc_batch(spark, _edges_df(spark, batches[1]), 1, out)
    compact_state(spark, out)
    # post-compaction: full read matches full recompute over batches 0-1
    assert _labels(read_labels(spark, out)) == _labels(
        connected_components(_edges_df(spark, batches[0] + batches[1]))
    )
    # the fence still works against the compacted _batch column
    fenced = _labels(read_labels(spark, out, before_batch=1))
    assert fenced == _labels(connected_components(_edges_df(spark, batches[0])))
    # absorb one more batch on top of the compacted head
    cc_batch(spark, _edges_df(spark, batches[2]), 2, out)
    assert _labels(read_labels(spark, out)) == _labels(
        connected_components(_edges_df(spark, edges))
    )
