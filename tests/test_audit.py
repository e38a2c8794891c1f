"""constraint_audit gates: exact violation counts, strict NULL-counts-as-
violation semantics, one-pass plan shape (no joins, single exchange)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_extractor_spark.operators.audit import constraint_audit


def test_counts_and_ppm(spark):
    df = spark.createDataFrame(
        [(i, i % 4) for i in range(100)], "id long, v long"
    )
    out = constraint_audit(
        df,
        {
            "v_below_3": F.col("v") < 3,
            "id_nonneg": F.col("id") >= 0,
            "never": F.lit(False),
        },
    ).collect()
    by = {r["rule"]: r for r in out}
    assert by["v_below_3"]["violations"] == 25
    assert by["v_below_3"]["violation_ppm"] == 250_000
    assert by["id_nonneg"]["violations"] == 0
    assert by["never"]["violations"] == 100
    assert all(r["total_rows"] == 100 for r in out)


def test_null_counts_as_violation(spark):
    df = spark.createDataFrame([(1,), (None,), (3,)], "v int")
    out = constraint_audit(df, {"v_pos": F.col("v") > 0}).head()
    assert out["violations"] == 1  # the NULL row


def test_rejects_empty_rules(spark):
    df = spark.createDataFrame([(1,)], "v int")
    with pytest.raises(ValueError):
        constraint_audit(df, {})


def test_single_pass_plan(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "v int")
    plan = constraint_audit(
        df, {"a": F.col("v") > 0, "b": F.col("v") < 5}
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange") <= 1


# ---------------------------------------------------------------- profiler --

def test_profile_columns_known_answer(spark):
    from entity_extractor_spark.operators.audit import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "a")], "x long, s string"
    )
    got = {r["column"]: r for r in profile_columns(df, ["x", "s"]).collect()}
    assert set(got) == {"x", "s"}
    x = got["x"]
    assert (x["total_rows"], x["non_null"], x["nulls"]) == (4, 3, 1)
    assert x["null_ppm"] == 250_000
    assert x["n_distinct"] == 2          # NULL not counted
    assert (x["min_str"], x["max_str"]) == ("1", "2")
    s = got["s"]
    assert (s["nulls"], s["n_distinct"], s["min_str"], s["max_str"]) == (
        1, 2, "a", "b",
    )


def test_profile_columns_min_is_value_order_not_string_order(spark):
    from entity_extractor_spark.operators.audit import profile_columns

    # string-ordering min of {9, 100} would be "100"; value min is 9
    df = spark.createDataFrame([(9,), (100,)], "x long")
    r = profile_columns(df, ["x"]).head()
    assert (r["min_str"], r["max_str"]) == ("9", "100")


def test_profile_columns_all_null_and_empty_validation(spark):
    from entity_extractor_spark.operators.audit import profile_columns

    df = spark.createDataFrame([(None,), (None,)], "x string")
    r = profile_columns(df, ["x"]).head()
    assert (r["non_null"], r["nulls"], r["null_ppm"], r["n_distinct"]) == (
        0, 2, 1_000_000, 0,
    )
    assert r["min_str"] is None and r["max_str"] is None
    with pytest.raises(ValueError):
        profile_columns(df, [])


# ------------------------------------------------------------ MAD outliers --

def _brute_mad(rows, k_ppm=3_500_000):
    """rows: (grp, id, val). Type-1 medians, integer flag predicate."""
    byg: dict = {}
    for g, i, v in rows:
        if None not in (g, i, v):
            byg.setdefault(g, []).append((i, v))
    out = {}
    for g, pairs in byg.items():
        vals = sorted(v for _, v in pairs)
        med = vals[(len(vals) + 1) // 2 - 1]
        devs = sorted(abs(v - med) for _, v in pairs)
        mad = devs[(len(devs) + 1) // 2 - 1]
        for i, v in pairs:
            adev = abs(v - med)
            if adev * 1_000_000 > k_ppm * mad:
                out[(g, i)] = (
                    v, med, adev, mad,
                    adev * 1_000_000 // mad if mad > 0 else None,
                )
    return out


def test_mad_outliers_known_answer(spark):
    from entity_extractor_spark.operators.audit import mad_outliers

    # g: values 10,10,10,11,12,100 -> med 10, devs 0,0,0,1,2,90 -> mad 0
    # mad=0 flags ANY nonzero deviation, robust_ppm NULL
    rows = [("g", i, v) for i, v in enumerate([10, 10, 10, 11, 12, 100])]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    got = {
        (r["g"], r["id"]): (r["value"], r["med"], r["abs_dev"], r["mad"],
                            r["robust_ppm"])
        for r in mad_outliers(df, "g", "id", "v").collect()
    }
    assert got == _brute_mad(rows)
    assert len(got) == 3  # 11, 12, 100 all deviate from a mad-0 group


def test_mad_outliers_resists_contamination(spark):
    from entity_extractor_spark.operators.audit import mad_outliers

    # one 10^9 sentinel must NOT drag the fence: the moderate outlier 40
    # (med 10, mad 1, z=30) stays flagged alongside the sentinel
    rows = [("g", i, v) for i, v in enumerate([8, 9, 10, 10, 11, 12, 40,
                                               10**9])]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    got = {r["id"]: r["robust_ppm"]
           for r in mad_outliers(df, "g", "id", "v").collect()}
    assert set(got) == {6, 7}
    assert got[6] == 30_000_000


@pytest.mark.parametrize("seed", [31, 32])
def test_mad_outliers_matches_bruteforce(spark, seed):
    import random

    from entity_extractor_spark.operators.audit import mad_outliers

    rng = random.Random(seed)
    rows = [
        (f"g{rng.randrange(3)}", i,
         rng.randrange(100) if rng.random() < 0.9 else rng.randrange(10_000))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    got = {
        (r["g"], r["id"]): (r["value"], r["med"], r["abs_dev"], r["mad"],
                            r["robust_ppm"])
        for r in mad_outliers(df, "g", "id", "v").collect()
    }
    assert got == _brute_mad(rows)


def test_mad_outliers_validates(spark):
    from entity_extractor_spark.operators.audit import mad_outliers

    df = spark.createDataFrame([("g", 1, 2)], "g string, id long, v long")
    for bad in (0, -1, 2.5, True):
        with pytest.raises(ValueError):
            mad_outliers(df, "g", "id", "v", k_ppm=bad)


def test_source_scorecard_python_replay(spark):
    import hashlib
    from collections import defaultdict

    from entity_extractor_spark.operators.audit import source_scorecard

    docs = [
        ("a", 1, "one two three"),
        ("a", 2, "one two three"),          # exact dup of doc 1
        ("a", 3, "x " * 60),                # long doc
        ("b", 4, "short doc"),
        (None, 5, "dropped null source"),
    ]
    df = spark.createDataFrame(docs, "source string, doc_id long, text string")
    out = {r.source: r.asDict() for r in
           source_scorecard(df, "source", "text", short_tokens=5).collect()}
    per = defaultdict(list)
    for s, _, t in docs:
        if s is not None:
            per[s].append(t)
    for s, texts in per.items():
        n = len(texts)
        toks = [len(t.strip().lower().split()) for t in texts]
        dups = n - len({hashlib.md5(t.encode()).hexdigest() for t in texts})
        short = sum(1 for x in toks if x < 5)
        row = out[s]
        assert row["n_docs"] == n and row["total_tokens"] == sum(toks)
        assert row["mean_tokens_ppm"] == sum(toks) * 1_000_000 // n
        assert row["exact_dup_ppm"] == dups * 1_000_000 // n
        assert (row["short_docs"], row["short_ppm"]) == (short, short * 1_000_000 // n)
    assert set(out) == {"a", "b"}


def test_source_scorecard_null_and_blank_text_semantics(spark):
    from entity_extractor_spark.operators.audit import source_scorecard

    df = spark.createDataFrame(
        [("s", "real doc here"), ("s", None), ("s", None), ("s", "   ")],
        "source string, text string",
    )
    row = source_scorecard(df, "source", "text", short_tokens=2).collect()[0]
    # NULL/blank texts count zero tokens (split('') would say 1)
    assert row.total_tokens == 3
    # the two NULL texts are ONE sentinel hash group: 4 docs, 3 distinct
    # hashes (real, <NULL>, blank) -> exactly one duplicate
    assert row.exact_dup_ppm == 1 * 1_000_000 // 4
    assert row.short_docs == 3  # both NULLs + the blank are short


def test_functional_dependencies_nulls_and_fanout(spark):
    from entity_extractor_spark.operators.audit import functional_dependencies

    df = spark.createDataFrame(
        [
            (1, "a", 10),
            (1, "a", 10),     # same key, same dep -> no violation
            (2, "b", 20),
            (2, None, 20),    # NULL dep counts as a value -> violation
            (None, "c", 30),  # NULL determinant row excluded
            (3, "d", 30),
            (3, "e", 30),
            (3, "f", 30),     # key 3 fans out to 3 deps
        ],
        "k int, v string, z int",
    )
    rows = {
        (r.determinant, r.dependent): r
        for r in functional_dependencies(df, [("k", "v"), ("z", "k")]).collect()
    }
    kv = rows[("k", "v")]
    assert (kv.n_keys, kv.n_viol_keys, kv.max_distinct_deps, kv.fd_holds) == (
        3, 2, 3, False,
    )
    zk = rows[("z", "k")]
    # z=10->{1}, z=20->{2}, z=30->{NULL? no - det side here is z, dep k:
    # 30 -> {<NULL> excluded? NULL dep becomes sentinel} -> {3, <NULL>}
    assert (zk.n_keys, zk.n_viol_keys, zk.fd_holds) == (3, 1, False)


def test_functional_dependencies_rejects_empty(spark):
    from entity_extractor_spark.operators.audit import functional_dependencies

    df = spark.createDataFrame([(1, 2)], "a int, b int")
    try:
        functional_dependencies(df, [])
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


# ------------------------------------------------------------------ drift --

from entity_extractor_spark.operators.audit import distribution_drift  # noqa: E402


def test_drift_known_histogram(spark):
    a = spark.createDataFrame([("x",), ("x",), ("y",), ("z",)], "c string")
    b = spark.createDataFrame([("x",), ("y",), ("y",), ("y",)], "c string")
    r = distribution_drift(a, b, ["c"]).head()
    # p_a = x .5, y .25, z .25 ; p_b = x .25, y .75, z 0
    assert (r.field, r.n_a, r.n_b, r.n_values) == ("c", 4, 4, 3)
    assert r.tvd_ppm == 500_000
    assert r.linf_ppm == 500_000


def test_drift_identical_is_zero_and_null_is_a_category(spark):
    a = spark.createDataFrame([("x",), (None,)], "c string")
    same = distribution_drift(a, a, ["c"]).head()
    assert same.tvd_ppm == 0 and same.linf_ppm == 0 and same.n_values == 2
    b = spark.createDataFrame([("x",), ("x",)], "c string")
    r = distribution_drift(a, b, ["c"]).head()
    assert r.tvd_ppm == 500_000  # the null-rate shift IS drift


def test_drift_multi_column_single_pass_and_replay(spark):
    import random

    rng = random.Random(3)
    rows_a = [(rng.choice("abc"), rng.randrange(4)) for _ in range(500)]
    rows_b = [(rng.choice("abcd"), rng.randrange(3)) for _ in range(300)]
    a = spark.createDataFrame(rows_a, "s string, k int")
    b = spark.createDataFrame(rows_b, "s string, k int")
    got = {
        r.field: (r.n_a, r.n_b, r.n_values, r.tvd_ppm, r.linf_ppm)
        for r in distribution_drift(a, b, ["s", "k"]).collect()
    }

    def replay(ia, ib):
        from collections import Counter

        ca, cb = Counter(ia), Counter(ib)
        vals = set(ca) | set(cb)
        na, nb = len(ia), len(ib)
        ds = [
            abs(ca[v] * 10**6 // na - cb[v] * 10**6 // nb) for v in vals
        ]
        return (na, nb, len(vals), sum(ds) // 2, max(ds))

    assert got["s"] == replay([r[0] for r in rows_a], [r[0] for r in rows_b])
    assert got["k"] == replay(
        [str(r[1]) for r in rows_a], [str(r[1]) for r in rows_b]
    )


def test_drift_empty_snapshot_raises(spark):
    a = spark.createDataFrame([("x",)], "c string")
    empty = a.where(F.col("c") == "nope")
    with pytest.raises(Exception, match="empty snapshot|Division by zero|DIVIDE_BY_ZERO"):
        distribution_drift(a, empty, ["c"]).collect()
    with pytest.raises(ValueError, match="non-empty"):
        distribution_drift(a, a, [])


# ------------------------------------------------------------ k-anonymity --

from entity_extractor_spark.operators.audit import k_anonymity_report  # noqa: E402


def test_k_anonymity_known(spark):
    rows = (
        [("us", "a")] * 5 + [("us", "b")] * 2 + [("de", "a")] * 1
        + [(None, "a")] * 3
    )
    df = spark.createDataFrame(rows, "country string, seg string")
    r = k_anonymity_report(df, ["country", "seg"], 3).head()
    assert (r.n_rows, r.n_groups, r.min_group_size) == (11, 4, 1)
    assert (r.violating_groups, r.rows_at_risk) == (2, 3)
    assert r.risk_ppm == 3 * 10**6 // 11
    assert r.k_holds is False
    ok = k_anonymity_report(df, ["country", "seg"], 2).head()
    assert ok.k_holds is False  # the singleton still violates k=2
    assert k_anonymity_report(df, ["seg"], 2).head().k_holds is True


def test_k_anonymity_null_is_a_fingerprint(spark):
    df = spark.createDataFrame(
        [(None,), (None,), ("x",)], "zip string"
    )
    r = k_anonymity_report(df, ["zip"], 2).head()
    assert r.n_groups == 2 and r.violating_groups == 1 and r.rows_at_risk == 1


def test_k_anonymity_validation(spark):
    df = spark.createDataFrame([("a",)], "c string")
    with pytest.raises(ValueError, match="non-empty"):
        k_anonymity_report(df, [], 3)
    with pytest.raises(ValueError, match="k must be"):
        k_anonymity_report(df, ["c"], 1)
    with pytest.raises(ValueError, match="k must be"):
        k_anonymity_report(df, ["c"], True)


# ----------------------------------------------------------- benford_audit --


def test_benford_known_histogram(spark):
    from entity_extractor_spark.operators.audit import benford_audit

    # 10 ones, 5 twos, 5 nines; one NULL and one zero excluded
    rows = [(1.5,)] * 10 + [(234.0,)] * 5 + [(0.09,)] * 5
    rows += [(None,), (0.0,)]
    df = spark.createDataFrame(rows, "v double")
    out = {r["digit"]: r for r in benford_audit(df, ["v"]).collect()}
    assert len(out) == 9  # all digits present
    assert all(r["n_total"] == 22 and r["n_counted"] == 20 for r in out.values())
    assert out[1]["n_obs"] == 10 and out[1]["obs_ppm"] == 500_000
    assert out[2]["n_obs"] == 5 and out[2]["obs_ppm"] == 250_000
    assert out[9]["n_obs"] == 5
    assert out[3]["n_obs"] == 0 and out[3]["obs_ppm"] == 0
    assert out[3]["abs_delta_ppm"] == 124_939  # |0 - exp|
    assert out[1]["abs_delta_ppm"] == 500_000 - 301_030


def test_benford_rendering_proof(spark):
    from entity_extractor_spark.operators.audit import benford_audit

    # scientific notation, negatives, sub-unit decimals, big ints all
    # resolve to the true first significant digit
    df = spark.createDataFrame(
        [(4.2e-5,), (-700.0,), (1e7,), (0.0042,)], "v double"
    )
    out = {r["digit"]: r["n_obs"] for r in benford_audit(df, ["v"]).collect()}
    assert out[4] == 2 and out[7] == 1 and out[1] == 1


def test_benford_exact_law_is_flat(spark):
    from entity_extractor_spark.operators.audit import (
        _BENFORD_PPM,
        benford_audit,
    )

    # a corpus drawn per the law (counts = ppm rounded to 1/1000, which
    # sum to exactly 1000 rows) deviates by at most the rounding grain
    rows = [
        (float(f"{d}00"),)
        for d, ppm in _BENFORD_PPM.items()
        for _ in range((ppm + 500) // 1000)
    ]
    df = spark.createDataFrame(rows, "v double")
    out = benford_audit(df, ["v"]).collect()
    assert sum(r["n_obs"] for r in out) == 1000
    assert all(r["abs_delta_ppm"] < 1000 for r in out)


def test_benford_all_zero_field_raises(spark):
    from entity_extractor_spark.operators.audit import benford_audit

    df = spark.createDataFrame([(0,), (0,), (None,)], "v int")
    with pytest.raises(Exception, match="benford_audit"):
        benford_audit(df, ["v"]).collect()


def test_benford_multi_column_single_pass(spark):
    from entity_extractor_spark.operators.audit import benford_audit

    df = spark.createDataFrame([(123, 900.5), (456, 0.08)], "a long, b double")
    out = benford_audit(df, ["a", "b"]).collect()
    assert len(out) == 18
    by = {(r["field"], r["digit"]): r["n_obs"] for r in out}
    assert by[("a", 1)] == 1 and by[("a", 4)] == 1
    assert by[("b", 9)] == 1 and by[("b", 8)] == 1


def test_benford_rejects_empty_cols(spark):
    from entity_extractor_spark.operators.audit import benford_audit

    with pytest.raises(ValueError):
        benford_audit(spark.range(1), [])


def test_drift_both_snapshots_empty_raises(spark):
    """The worst drift incident — the feed died entirely — must raise,
    not report an empty (no-drift) result."""
    from entity_extractor_spark.operators.audit import distribution_drift

    empty = spark.createDataFrame([], "c string")
    with pytest.raises(Exception, match="distribution_drift"):
        distribution_drift(empty, empty, ["c"]).collect()


# ---------------------------------------------------------- watermark_audit --


def test_watermark_known_stream(spark):
    """Hand stream: arrivals 1..5 with event times 100, 200, 150, 50,
    300 (seconds). prev-max chain: -,100,200,200,200. Late under W=0:
    arrivals 3 (150<200) and 4 (50<200); under W=60: only arrival 4;
    under W=200: none."""
    from datetime import datetime

    from entity_extractor_spark.operators.audit import watermark_audit

    def t(s):
        return datetime(2020, 1, 1, 0, 0, 0).replace(second=0).fromtimestamp(s)

    rows = [(a, "x", t(s)) for a, s in [(1, 100), (2, 200), (3, 150), (4, 50), (5, 300)]]
    df = spark.createDataFrame(rows, "arr long, g string, ts timestamp")
    out = {
        r["delay_s"]: (r["n_events"], r["n_late"])
        for r in watermark_audit(df, "ts", ["arr"], "g", [0, 60, 200]).collect()
    }
    assert out == {0: (5, 2), 60: (5, 1), 200: (5, 0)}


def test_watermark_matches_partitionless_window(spark):
    """Range-partition assembly equals the naive global window for
    several partition counts, on a jittered random stream."""
    import random
    from datetime import datetime

    from entity_extractor_spark.operators.audit import watermark_audit

    rng = random.Random(5)
    rows = []
    for a in range(200):
        rows.append((a, rng.choice("uv"), datetime.fromtimestamp(1_600_000_000 + a * 60 + rng.randrange(-300, 300))))
    df = spark.createDataFrame(rows, "arr long, g string, ts timestamp")
    want = {}
    best = None
    for a, g, ts in sorted(rows):
        tus = int(ts.timestamp() * 1_000_000)
        for w in (0, 120):
            late = best is not None and tus < best - w * 1_000_000
            k = (g, w)
            n, nl = want.get(k, (0, 0))
            want[k] = (n + 1, nl + (1 if late else 0))
        best = tus if best is None else max(best, tus)
    for nr in (1, 4, 32):
        got = {
            (r["event_type"] if "event_type" in r else r["g"], r["delay_s"]): (
                r["n_events"], r["n_late"]
            )
            for r in watermark_audit(
                df, "ts", ["arr"], "g", [0, 120], num_ranges=nr
            ).collect()
        }
        assert got == want, nr


def test_watermark_validation(spark):
    import pytest
    from datetime import datetime

    from entity_extractor_spark.operators.audit import watermark_audit

    df = spark.createDataFrame(
        [(1, "x", datetime(2020, 1, 1)), (2, "x", None)],
        "arr long, g string, ts timestamp",
    )
    with pytest.raises(Exception, match="NULL event time"):
        watermark_audit(df, "ts", ["arr"], "g", [0]).collect()
    ok = df.where("ts IS NOT NULL")
    with pytest.raises(ValueError, match="delays_seconds"):
        watermark_audit(ok, "ts", ["arr"], "g", [])
    with pytest.raises(ValueError, match="delays_seconds"):
        watermark_audit(ok, "ts", ["arr"], "g", [True])
    with pytest.raises(ValueError, match="arrival_cols"):
        watermark_audit(ok, "ts", [], "g", [0])
