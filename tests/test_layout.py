"""zorder_values: bit-interleave python replay and guards; the layout
planners (compaction, table GC, zone maps, snapshot retention) against
brute force."""

from __future__ import annotations

import pytest

from entity_extractor_spark.operators.layout import zorder_values


def _interleave(zx: int, zy: int, bits: int) -> int:
    v = 0
    for i in range(bits):
        v += ((zx >> i) & 1) << (2 * i + 1)
        v += ((zy >> i) & 1) << (2 * i)
    return v


def test_zvalue_python_replay(spark):
    rows = [(x, y) for x in range(0, 50, 7) for y in range(3, 40, 5)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {(r.x, r.y): (r.zx, r.zy, r.zvalue) for r in
           zorder_values(df, "x", "y", bits=8).collect()}
    lo_x, hi_x = 0, 49
    lo_y, hi_y = 3, 38
    for x, y in rows:
        zx = (x - lo_x) * 256 // (hi_x - lo_x + 1)
        zy = (y - lo_y) * 256 // (hi_y - lo_y + 1)
        assert got[(x, y)] == (zx, zy, _interleave(zx, zy, 8))


def test_zvalue_guards(spark):
    with pytest.raises(ValueError, match="bits"):
        zorder_values(None, "x", "y", bits=0)
    df = spark.createDataFrame([(1, None)], "x long, y long")
    with pytest.raises(ValueError, match="NULL"):
        zorder_values(df, "x", "y")
    wide = spark.createDataFrame([(0, 0), (1 << 50, 1)], "x long, y long")
    with pytest.raises(ValueError, match="too wide"):
        zorder_values(wide, "x", "y", bits=16)


def test_zvalue_integer_type_wide_range_no_wraparound(spark):
    # IntegerType column whose (v - lo) * 2^bits exceeds 2^31: without the
    # BIGINT pre-cast this wraps silently in 32-bit arithmetic
    rows = [(0, 0), (100_000, 100_000), (70_000, 30_000)]
    df = spark.createDataFrame(rows, "x int, y int")
    got = {(r.x, r.y): (r.zx, r.zy) for r in zorder_values(df, "x", "y", bits=16).collect()}
    for x, y in rows:
        assert got[(x, y)] == (
            x * 65536 // 100_001, y * 65536 // 100_001
        )
        assert got[(x, y)][0] >= 0 and got[(x, y)][1] >= 0


# ------------------------------------------------------- compaction planner --

def test_compaction_plan_brute(spark):
    """Random listings vs a pure-Python contiguous first-fit replay —
    group ids, totals, and counts exact; oversized files pass through
    alone; name order (not input order) drives packing."""
    import random

    from entity_extractor_spark.operators.layout import compaction_plan

    rng = random.Random(23)
    rows = [
        (f"p{i % 3}", f"f{rng.randrange(10**6):07d}", rng.randrange(0, 400))
        for i in range(200)
    ] + [("p0", "f0000000", 5000)]  # oversized, boundary-aligned (sorts first)
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "pt string, file string, bytes long")
    got = {
        (r.pt, r.file): (r.grp, r.grp_bytes, r.grp_files)
        for r in compaction_plan(df, "file", "bytes", 1000, "pt").collect()
    }
    want = {}
    byp: dict = {}
    for pt, fn, b in rows:
        byp.setdefault(pt, []).append((fn, b))
    for pt, fs in byp.items():
        cum = 0
        groups: dict = {}
        for fn, b in sorted(fs):
            grp = cum // 1000
            cum += b
            groups.setdefault(grp, []).append((fn, b))
        for grp, members in groups.items():
            tot = sum(b for _, b in members)
            for fn, b in members:
                want[(pt, fn)] = (grp, tot, len(members))
    assert got == want
    # the oversized file opens its partition at an aligned boundary, so it
    # sits alone in group 0, and the next file's group skips its 5-target
    # span — the never-split / overshoot contract
    g, gb, gf = got[("p0", "f0000000")]
    assert (g, gb, gf) == (0, 5000, 1)
    next_grp = min(
        grp for (pt, fn), (grp, _, _) in got.items()
        if pt == "p0" and fn != "f0000000"
    )
    assert next_grp == 5


def test_compaction_plan_validates(spark):
    import pytest

    from entity_extractor_spark.operators.layout import compaction_plan

    df = spark.createDataFrame([("a", 1)], "file string, bytes long")
    with pytest.raises(ValueError):
        compaction_plan(df, "file", "bytes", 0)
    bad = spark.createDataFrame([("a", -5)], "file string, bytes long")
    with pytest.raises(Exception, match="Exception|bytes"):
        compaction_plan(bad, "file", "bytes", 100).collect()


# ----------------------------------------------------------------- gc plan --

def test_table_gc_plan_brute(spark):
    """Set-algebra replay: orphans = disk - ref, missing = ref - disk,
    healthy absent; duplicate manifest references deduped."""
    from entity_extractor_spark.operators.layout import table_gc_plan

    disk = spark.createDataFrame(
        [(f,) for f in ["a", "b", "c", "d"]], "file string"
    )
    ref = spark.createDataFrame(
        [(f,) for f in ["b", "c", "c", "e", "f"]], "file string"
    )
    got = {(r.file, r.status) for r in table_gc_plan(disk, ref).collect()}
    assert got == {
        ("a", "orphan"),
        ("d", "orphan"),
        ("e", "missing"),
        ("f", "missing"),
    }


def test_table_gc_plan_rejects_null_paths(spark):
    import pytest

    from entity_extractor_spark.operators.layout import table_gc_plan

    disk = spark.createDataFrame([("a",), (None,)], "file string")
    ref = spark.createDataFrame([("a",)], "file string")
    with pytest.raises(Exception, match="Exception|NULL path"):
        table_gc_plan(disk, ref).collect()


# --------------------------------------------------------------- zone maps --


def test_zone_map_and_prune_branches(spark):
    from entity_extractor_spark.operators.layout import zone_map, zone_map_prune

    rows = (
        [("f1", v) for v in (10, 20, 30)]          # fully below lo -> skip
        + [("f2", v) for v in (40, 60)]            # straddles lo -> kept
        + [("f3", v) for v in (70, 80)]            # fully inside -> kept
        + [("f4", v) for v in (95, 120)]           # straddles hi -> kept
        + [("f5", v) for v in (150, 160)]          # fully above hi -> skip
        + [("f6", None), ("f6", None)]             # all-null file -> skip
        + [("f7", 75), ("f7", None)]               # kept, partial nulls
    )
    df = spark.createDataFrame(rows, "file_id string, v long")
    zm = zone_map(df, "file_id", "v")
    by = {r["file_id"]: r for r in zm.collect()}
    assert by["f1"]["vmin"] == 10 and by["f1"]["vmax"] == 30
    assert by["f6"]["vmin"] is None and by["f6"]["n_nulls"] == 2
    assert by["f7"]["n_rows"] == 2 and by["f7"]["n_nulls"] == 1

    out = {r["file_id"]: r for r in zone_map_prune(zm, 50, 100).collect()}
    assert {f for f, r in out.items() if r["kept"]} == {"f2", "f3", "f4", "f7"}
    assert out["f1"]["rows_scan_upper"] == 0
    assert out["f6"]["kept"] is False  # range predicate never matches NULL
    # upper bound counts kept files' NON-null rows (nulls provably never
    # match a range predicate, so they never inflate the bound)
    assert out["f2"]["rows_scan_upper"] == 2
    assert out["f7"]["rows_scan_upper"] == 1  # 2 rows, 1 null
    assert sum(r["rows_scan_upper"] for r in out.values()) == 7


def test_zone_map_prune_boundary_inclusive(spark):
    from entity_extractor_spark.operators.layout import zone_map, zone_map_prune

    df = spark.createDataFrame(
        [("a", 100), ("b", 200)], "file_id string, v long"
    )
    out = {
        r["file_id"]: r["kept"]
        for r in zone_map_prune(zone_map(df, "file_id", "v"), 100, 100).collect()
    }
    # BETWEEN is inclusive: vmax == lo keeps the file
    assert out["a"] is True and out["b"] is False


def test_zone_map_prune_validation(spark):
    from entity_extractor_spark.operators.layout import zone_map, zone_map_prune

    df = spark.createDataFrame([("a", 1)], "file_id string, v long")
    zm = zone_map(df, "file_id", "v")
    with pytest.raises(ValueError):
        zone_map_prune(zm, 5, 4)
    with pytest.raises(ValueError):
        zone_map_prune(zm, True, 4)


def test_snapshot_retention_plan_policy(spark):
    import pytest

    from entity_extractor_spark.operators.layout import snapshot_retention_plan

    snaps = spark.createDataFrame(
        [
            (1, "2024-01-01"),   # ancient -> aged-out
            (2, "2024-06-01"),   # daily band, sole snapshot -> daily-rep
            (3, "2024-06-02"),   # daily band, superseded by 4
            (4, "2024-06-02"),   # daily band, day rep (higher id)
            (5, "2024-12-20"),   # recent
            (6, "2024-12-30"),   # newest -> current
        ],
        "id long, ts string",
    )
    got = {
        r.snapshot_id: r
        for r in snapshot_retention_plan(
            snaps, "id", "ts", "2024-12-31", 30, 300
        ).collect()
    }
    assert (got[1].action, got[1].reason) == ("expire", "aged-out")
    assert (got[2].action, got[2].reason) == ("keep", "daily-rep")
    assert (got[3].action, got[3].reason) == ("expire", "superseded")
    assert (got[4].action, got[4].reason) == ("keep", "daily-rep")
    assert (got[5].action, got[5].reason) == ("keep", "recent")
    assert (got[6].action, got[6].reason) == ("keep", "current")
    # the head survives even an expire-everything policy
    harsh = {
        r.snapshot_id: r
        for r in snapshot_retention_plan(
            snaps, "id", "ts", "2024-12-31", 0, 0
        ).collect()
    }
    assert harsh[6].reason == "current" and harsh[6].action == "keep"
    assert all(r.action == "expire" for i, r in harsh.items() if i not in (6,))
    with pytest.raises(ValueError):
        snapshot_retention_plan(snaps, "id", "ts", "2024-12-31", 10, 5)
    fut = spark.createDataFrame([(9, "2025-06-01")], "id long, ts string")
    with pytest.raises(Exception, match="after as_of"):
        snapshot_retention_plan(fut, "id", "ts", "2024-12-31", 30, 300).collect()
    nul = spark.createDataFrame([(9, None)], "id long, ts string")
    with pytest.raises(Exception, match="NULL ts"):
        snapshot_retention_plan(nul, "id", "ts", "2024-12-31", 30, 300).collect()
