"""KMV distinct-count sketch gates: exact below k, sane estimates above
k, pure-Python replay of the exact arithmetic, and MERGEABILITY — the
property that lets per-shard sketches aggregate without a re-scan."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from entity_extractor_spark.operators.sketch import HASH_SPACE, kmv_distinct


def _py_hash(key) -> int:
    return int(hashlib.md5(f"{key}|kmv".encode()).hexdigest()[:12], 16)


def _py_kmv(keys, k) -> tuple[int, int]:
    hs = sorted({_py_hash(x) for x in keys})[:k]
    if len(hs) < k:
        return len(hs), len(hs)
    return k, (k - 1) * HASH_SPACE // hs[-1]


def test_kmv_exact_below_k(spark):
    df = spark.createDataFrame(
        [("g", f"k{i % 7}") for i in range(100)], "grp string, key string"
    )
    row = kmv_distinct(df, "grp", "key", k=32).head()
    assert (row["n_kept"], row["est_distinct"]) == (7, 7)


def test_kmv_matches_python_replay_and_is_accurate(spark):
    n = 5000
    df = spark.createDataFrame(
        [("g", f"key-{i}") for i in range(n)], "grp string, key string"
    )
    row = kmv_distinct(df, "grp", "key", k=256).head()
    exp_kept, exp_est = _py_kmv([f"key-{i}" for i in range(n)], 256)
    assert (row["n_kept"], row["est_distinct"]) == (exp_kept, exp_est)
    # bottom-k with k=256 has ~1/sqrt(k) ~ 6% relative error; allow 20%
    assert abs(row["est_distinct"] - n) / n < 0.20


def test_kmv_mergeable(spark):
    """sketch(A | B) == merge(sketch(A), sketch(B)): union the two hash
    sets, re-take the k smallest — per-shard sketches aggregate exactly."""
    k = 64
    a_keys = [f"a-{i}" for i in range(500)]
    b_keys = [f"b-{i}" for i in range(400)] + a_keys[:100]  # overlap
    # driver-side merge of the two python sketches
    a_hs = sorted({_py_hash(x) for x in a_keys})[:k]
    b_hs = sorted({_py_hash(x) for x in b_keys})[:k]
    merged = sorted(set(a_hs) | set(b_hs))[:k]
    est_merged = (k - 1) * HASH_SPACE // merged[-1]
    # the sketch of the union, computed distributed
    df = spark.createDataFrame(
        [("u", x) for x in a_keys + b_keys], "grp string, key string"
    )
    row = kmv_distinct(df, "grp", "key", k=k).head()
    assert row["est_distinct"] == est_merged


def test_kmv_rejects_tiny_k(spark):
    df = spark.createDataFrame([("g", "x")], "grp string, key string")
    with pytest.raises(ValueError):
        kmv_distinct(df, "grp", "key", k=1)


def test_kmv_slice_jaccard_exact_below_k(spark):
    """Below k every estimate is the exact distinct count, so jaccard is
    the exact inclusion-exclusion value."""
    from entity_extractor_spark.operators.sketch import kmv_slice_jaccard

    rows = [("A", f"k{i}") for i in range(10)] + [("B", f"k{i}") for i in range(5, 20)]
    df = spark.createDataFrame(rows, "s string, k string")
    r = kmv_slice_jaccard(df, "s", "k", k=64).head()
    assert (r["slice_a"], r["slice_b"]) == ("A", "B")
    assert (r["est_a"], r["est_b"], r["est_union"]) == (10, 15, 20)
    assert r["est_intersection"] == 5
    assert r["jaccard_ppm"] == 5 * 1_000_000 // 20


def test_kmv_slice_jaccard_matches_python_sketch_algebra(spark):
    """Above k the pairwise row must equal the pure-Python replay of the
    same sketch algebra (merge = union hashes, re-take k smallest)."""
    from entity_extractor_spark.operators.sketch import kmv_slice_jaccard

    k = 32
    a_keys = [f"x-{i}" for i in range(300)]
    b_keys = [f"x-{i}" for i in range(150, 500)]
    df = spark.createDataFrame(
        [("A", x) for x in a_keys] + [("B", x) for x in b_keys], "s string, k string"
    )

    def sk(keys):
        return sorted({_py_hash(x) for x in keys})[:k]

    def est(hs):
        return len(hs) if len(hs) < k else (k - 1) * HASH_SPACE // hs[k - 1]

    ea, eb = est(sk(a_keys)), est(sk(b_keys))
    eu = est(sorted(set(sk(a_keys)) | set(sk(b_keys)))[:k])
    ei = max(0, ea + eb - eu)
    r = kmv_slice_jaccard(df, "s", "k", k=k).head()
    assert (r["est_a"], r["est_b"], r["est_union"], r["est_intersection"]) == (
        ea, eb, eu, ei,
    )
    assert r["jaccard_ppm"] == ei * 1_000_000 // eu
    # ground truth jaccard = 150/500 = 0.30; sketch at k=32 is rough but sane
    assert 0.05 < r["jaccard_ppm"] / 1e6 < 0.65


# ------------------------------------------------------- quantile sampling --

def _q_hash(grp, rid):
    import hashlib

    return int(hashlib.md5(f"{grp}|{rid}|qsk".encode()).hexdigest()[:12], 16)


def _brute_sample_quantiles(rows, percentiles=(50, 90, 99), k=256):
    byg: dict = {}
    for g, i, v in rows:
        if None not in (g, i, v):
            byg.setdefault(g, []).append((i, v))
    out = {}
    for g, pairs in byg.items():
        ordered = sorted(pairs, key=lambda p: (_q_hash(g, p[0]), p[0]))
        sample = sorted(v for _, v in ordered[:k])
        n = len(sample)
        for p in percentiles:
            t = (p * n + 99) // 100
            out[(g, p)] = (sample[t - 1], n, len(pairs))
    return out


def test_sample_quantiles_small_group_is_exact(spark):
    from entity_extractor_spark.operators.sketch import sample_quantiles

    rows = [("g", i, v) for i, v in enumerate([5, 1, 9, 3, 7])]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    got = {
        (r["g"], r["pct"]): (r["value_est"], r["n_sampled"], r["n_rows"])
        for r in sample_quantiles(df, "g", "id", "v", (50, 100), k=64).collect()
    }
    # sample == whole group: exact type-1 percentiles of {1,3,5,7,9}
    assert got == {("g", 50): (5, 5, 5), ("g", 100): (9, 5, 5)}


def test_sample_quantiles_estimator_matches_python_replay(spark):
    from entity_extractor_spark.operators.sketch import sample_quantiles

    rng = __import__("random").Random(61)
    rows = [(f"g{i % 2}", i, rng.randrange(10_000)) for i in range(600)]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    got = {
        (r["g"], r["pct"]): (r["value_est"], r["n_sampled"], r["n_rows"])
        for r in sample_quantiles(df, "g", "id", "v", k=64).collect()
    }
    assert got == _brute_sample_quantiles(rows, k=64)
    # estimator path really engaged: sample strictly smaller than group
    assert all(ns == 64 and nr == 300 for _, ns, nr in got.values())


def test_sample_quantiles_partitioning_invariant(spark):
    from entity_extractor_spark.operators.sketch import sample_quantiles

    rows = [("g", i, i * 37 % 101) for i in range(200)]
    df1 = spark.createDataFrame(rows, "g string, id long, v long")
    df2 = df1.repartition(7)
    a = sorted(map(tuple, sample_quantiles(df1, "g", "id", "v", k=32).collect()))
    b = sorted(map(tuple, sample_quantiles(df2, "g", "id", "v", k=32).collect()))
    assert a == b


def test_sample_quantiles_validates(spark):
    from entity_extractor_spark.operators.sketch import sample_quantiles

    df = spark.createDataFrame([("g", 1, 2)], "g string, id long, v long")
    with pytest.raises(ValueError):
        sample_quantiles(df, "g", "id", "v", k=0)


def test_join_size_estimate_accuracy_and_determinism(spark):
    import random

    from entity_extractor_spark.operators.sketch import join_size_estimate

    random.seed(31)
    # moderately-skewed keys (hottest ~3x the median) — the regime the
    # docstring declares trustworthy for SAMPLED mode; a single dominant
    # mega-key is the documented all-or-nothing case (exact mode below
    # covers it)
    a = [(random.randint(0, 200) if random.random() > 0.3 else random.randint(0, 60),)
         for _ in range(4000)]
    b = [(random.randint(0, 200) if random.random() > 0.3 else random.randint(0, 60),)
         for _ in range(3000)]
    adf = spark.createDataFrame(a, "k long")
    bdf = spark.createDataFrame(b, "k long")
    from collections import Counter

    ca, cb = Counter(x for (x,) in a), Counter(x for (x,) in b)
    truth = sum(ca[k] * cb[k] for k in ca if k in cb)
    row = join_size_estimate(adf, "k", bdf, "k", sample_ppm=300_000).collect()[0]
    assert row.n_sampled_keys > 20
    # hash-correlated sampling at 30% over ~200 keys: generous 2x bound,
    # and the value is DETERMINISTIC (re-run must be identical)
    assert truth / 2 <= row.est_join_rows <= truth * 2
    row2 = join_size_estimate(adf, "k", bdf, "k", sample_ppm=300_000).collect()[0]
    assert (row.n_sampled_keys, row.sampled_pairs, row.est_join_rows) == (
        row2.n_sampled_keys, row2.sampled_pairs, row2.est_join_rows)
    # full sampling degrades to the exact join size — including on a
    # mega-key distribution where sampled mode is documented unreliable
    hot_a = [(0 if random.random() < 0.3 else random.randint(0, 200),) for _ in range(2000)]
    hot_b = [(0 if random.random() < 0.3 else random.randint(0, 200),) for _ in range(2000)]
    hadf, hbdf = spark.createDataFrame(hot_a, "k long"), spark.createDataFrame(hot_b, "k long")
    hca, hcb = Counter(x for (x,) in hot_a), Counter(x for (x,) in hot_b)
    hot_truth = sum(hca[k] * hcb[k] for k in hca if k in hcb)
    full = join_size_estimate(hadf, "k", hbdf, "k", sample_ppm=1_000_000).collect()[0]
    assert full.est_join_rows == full.sampled_pairs == hot_truth


def test_join_size_estimate_validates_and_empty(spark):
    import pytest as _pt

    from entity_extractor_spark.operators.sketch import join_size_estimate

    with _pt.raises(ValueError):
        join_size_estimate(None, "k", None, "k", sample_ppm=0)
    a = spark.createDataFrame([], "k long")
    row = join_size_estimate(a, "k", a, "k").collect()[0]
    assert (row.n_sampled_keys, row.sampled_pairs, row.est_join_rows) == (0, 0, 0)


# ------------------------------------------------------------------- HLL --

from entity_extractor_spark.operators.sketch import (  # noqa: E402
    hll_estimate,
    hll_registers,
)


def _py_hll_registers(keys, b_bits):
    hexd = b_bits // 4
    regs: dict[int, int] = {}
    for key in keys:
        h = hashlib.md5(f"{key}|hll".encode()).hexdigest()
        bucket = int(h[:hexd], 16)
        w = int(h[hexd:hexd + 12], 16)
        rho = 49 if w == 0 else 49 - w.bit_length()
        regs[bucket] = max(regs.get(bucket, 0), rho)
    return regs


def _py_hll_estimate(regs, b_bits):
    m = 1 << b_bits
    s = sum(1 << (49 - r) for r in regs.values()) + (m - len(regs)) * (1 << 49)
    return (7213 * m * m * m * (1 << 49)) // ((10000 * m + 10790) * s)


def test_hll_registers_match_python_replay(spark):
    keys = [f"doc-{i}" for i in range(300)]
    df = spark.createDataFrame([("g", k) for k in keys], "grp string, k string")
    got = {
        r.bucket: r.register
        for r in hll_registers(df, ["grp"], "k", 12).collect()
    }
    assert got == _py_hll_registers(keys, 12)
    assert all(r >= 1 for r in got.values())  # only non-empty buckets


def test_hll_estimate_matches_python_and_is_accurate(spark):
    n = 20_000
    df = spark.createDataFrame(
        [("g", f"key-{i % n}") for i in range(n + 500)],  # dups collapse
        "grp string, k string",
    )
    regs = hll_registers(df, ["grp"], "k", 12)
    row = hll_estimate(regs, ["grp"], 12).head()
    want = _py_hll_estimate(_py_hll_registers([f"key-{i}" for i in range(n)], 12), 12)
    assert row.est_distinct == want
    # standard error ~1.04/sqrt(4096) = 1.6%; allow 4 sigma
    assert abs(row.est_distinct - n) < 0.07 * n
    assert row.n_buckets + row.zero_buckets == 4096


def test_hll_null_keys_skipped_and_empty_group_absent(spark):
    df = spark.createDataFrame(
        [("g", "x"), ("g", None)], "grp string, k string"
    )
    regs = hll_registers(df, ["grp"], "k", 8)
    assert regs.count() == 1  # only the non-null key
    empty = hll_registers(df.where(F.col("k").isNull()), ["grp"], "k", 8)
    assert hll_estimate(empty, ["grp"], 8).count() == 0


def test_hll_validates_b_bits(spark):
    df = spark.createDataFrame([("g", "x")], "grp string, k string")
    with pytest.raises(ValueError, match="b_bits"):
        hll_registers(df, ["grp"], "k", 10)
    with pytest.raises(ValueError, match="b_bits"):
        hll_estimate(df, ["grp"], True)


def test_hll_estimate_rejects_mismatched_b_bits(spark):
    """A register table built at b=16 fed to an estimate at b=8 must
    raise, not silently drive zero_buckets negative."""
    import pytest

    from entity_extractor_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
    )

    df = spark.createDataFrame(
        [(i % 3, f"k{i}") for i in range(5000)], "grp int, k string"
    )
    regs16 = hll_registers(df, ["grp"], "k", 16)
    with pytest.raises(Exception, match="hll_estimate"):
        hll_estimate(regs16, ["grp"], 8).collect()


def test_hll_sliding_equals_rebuild_per_window(spark):
    """The trailing-k merge of per-bucket registers must equal registers
    built from scratch on each window's raw rows — estimates then agree
    exactly; head windows are partial by design; k=1 is the identity."""
    import pytest

    from entity_extractor_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
        hll_sliding,
    )

    rows = [(m, f"u{(m * 37 + j) % 900}") for m in range(1, 13) for j in range(400)]
    df = spark.createDataFrame(rows, "idx int, user string")
    regs = hll_registers(df, ["idx"], "user", 8)
    slid = hll_estimate(hll_sliding(regs, "idx", 3), ["win_end"], 8)
    got = {r["win_end"]: r["est_distinct"] for r in slid.collect()}
    assert set(got) == set(range(1, 13))
    for w in range(1, 13):
        lo = max(1, w - 2)
        win = df.where(f"idx BETWEEN {lo} AND {w}")
        want = hll_estimate(
            hll_registers(win.select(F.lit(0).alias("g"), "user"), ["g"], "user", 8),
            ["g"],
            8,
        ).head()["est_distinct"]
        assert got[w] == want, w
    ident = hll_estimate(hll_sliding(regs, "idx", 1), ["win_end"], 8)
    base = hll_estimate(regs, ["idx"], 8)
    assert sorted((r["win_end"], r["est_distinct"]) for r in ident.collect()) == \
        sorted((r["idx"], r["est_distinct"]) for r in base.collect())
    with pytest.raises(ValueError):
        hll_sliding(regs, "idx", 0)
    with pytest.raises(ValueError):
        hll_sliding(regs, "idx", True)
