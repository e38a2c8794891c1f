"""Unit tests for the PFAS source/status lattice (F12, A3, A4) against the
literal reference semantics (artifact_ingestor_service.py:819-879,
:1171-1257)."""

import pytest

from entity_extractor_spark.functions.lattice import (
    TRANSITION_MAP,
    TransitionError,
    fold_observation,
    merge_source,
    merge_status,
    resolve_material,
    status_from_tag,
)


def test_transition_map_has_16_entries_with_2_error_cells():
    assert len(TRANSITION_MAP) == 16
    assert TRANSITION_MAP["OECD_MANUAL"] is None
    assert TRANSITION_MAP["MANUAL_OECD"] is None


@pytest.mark.parametrize(
    "existing,new,expected",
    [
        ("NONE", "NONE", "NONE"),
        ("NONE", "MANUAL", "MANUAL"),
        ("NONE", "OECD", "OECD"),
        ("MANUAL", "MANUAL", "MANUAL"),
        ("MANUAL", "NONE", "MANUAL"),
        ("OECD", "OECD", "OECD"),
        ("OECD", "NONE", "OECD"),
    ],
)
def test_valid_transitions(existing, new, expected):
    assert merge_source(existing, new) == expected


@pytest.mark.parametrize(
    "existing,new",
    [
        ("OECD", "MANUAL"),   # explicit None cell
        ("MANUAL", "OECD"),   # explicit None cell
        ("VAI", "MANUAL"),    # key absent from map => same error
        ("NONE", "VAI"),      # 'VAI' never a valid NEW source
        ("ECHA", "NONE"),     # ECHA absent entirely
    ],
)
def test_error_transitions(existing, new):
    with pytest.raises(TransitionError):
        merge_source(existing, new)


def test_status_replaced_only_for_the_7_pairs():
    # (NONE, MANUAL) is in the replacing set
    assert merge_status("NONE", "MANUAL", "NO", "YES") == "YES"
    # (MANUAL, MANUAL) is NOT: existing status kept
    assert merge_status("MANUAL", "MANUAL", "NO", "YES") == "NO"
    # (OECD, NONE) is NOT
    assert merge_status("OECD", "NONE", "PENDING", "NO") == "PENDING"
    # (NONE, OECD) IS
    assert merge_status("NONE", "OECD", "PENDING", "NO") == "NO"


def test_status_from_tag():
    assert status_from_tag("PFAS") == "YES"
    assert status_from_tag("NO_PFAS") == "NO"
    assert status_from_tag("PENDING") == "PENDING"
    assert status_from_tag("anything-else") == "PENDING"
    assert status_from_tag(None) == "PENDING"


def test_fold_creation_then_merge():
    st = fold_observation(None, "PFAS", "NONE")
    assert st == ("YES", "NONE")
    st = fold_observation(st, "NO_PFAS", "MANUAL")  # NONE->MANUAL replaces status
    assert st == ("NO", "MANUAL")
    st = fold_observation(st, "PFAS", "NONE")  # MANUAL_NONE keeps status
    assert st == ("NO", "MANUAL")


# ---- A3/A4 material fold ----------------------------------------------------

def test_resolve_material_status_lattice():
    assert resolve_material([("NO", "NONE"), ("YES", "NONE")])[0] == "YES"
    assert resolve_material([("NO", "NONE"), ("NO", "NONE")])[0] == "NO"
    assert resolve_material([("NO", "NONE"), ("PENDING", "NONE")])[0] == "PENDING"
    assert resolve_material([("PENDING", "NONE")])[0] == "PENDING"


def test_resolve_material_source_preference_depends_on_status():
    # resolved YES -> preference [VAI, OECD, MANUAL] among YES children
    st, src = resolve_material([("YES", "OECD"), ("YES", "MANUAL"), ("NO", "VAI")])
    assert (st, src) == ("YES", "OECD")
    # resolved PENDING -> preference [OECD, VAI, MANUAL]
    st, src = resolve_material([("PENDING", "MANUAL"), ("PENDING", "OECD"), ("NO", "VAI")])
    assert (st, src) == ("PENDING", "OECD")
    # children not matching resolved status are not counted
    st, src = resolve_material([("YES", "NONE"), ("NO", "OECD")])
    assert (st, src) == ("YES", "NONE")


# ---- Spark JVM fold (operators.link._FOLD_EXPR) vs the Python fold ----------

def _python_fold(rows, init=None):
    """Literal replay of the reference control flow over one cluster.
    `init` = (status, source, name, cas) of a matched existing node: the
    fold starts from that node instead of creating one."""
    state, name, cas, dropped = None, None, None, 0
    if init is not None:
        state, name, cas = (init[0], init[1]), init[2], init[3]
    for (doc_id, seq, chem_name, cas_number, tag, source) in sorted(rows):
        try:
            new_state = fold_observation(state, tag, source)
        except TransitionError:
            dropped += 1
            continue
        if state is None:
            name = chem_name
        state = new_state
        cas = cas_number
    return (name, cas, state[0], state[1], str(dropped))


def test_spark_fold_matches_python(spark):
    """Adversarial sequences: error cells (OECD_MANUAL / MANUAL_OECD),
    unknown stored sources (VAI after OPENAI_OPENAI), ECHA, null sources,
    null CAS overwrites — the JVM aggregate() fold must replay the Python
    fold exactly, including drop counting."""
    import random

    from entity_extractor_spark.operators.link import fold_chemical_nodes

    rng = random.Random(77)
    tags = ["PFAS", "NO_PFAS", "PENDING", None]
    sources = ["NONE", "MANUAL", "OECD", "OPENAI", "VAI", "ECHA", None]
    clusters = {}
    rows = []
    for c in range(40):
        n = rng.randrange(1, 12)
        obs = []
        for i in range(n):
            obs.append(
                (
                    f"doc-{rng.randrange(5):03d}",
                    i,
                    f"chem name {rng.randrange(6)}",
                    rng.choice([f"{rng.randrange(100)}-00-0", None]),
                    rng.choice(tags),
                    rng.choice(sources),
                )
            )
        key = f"cl-{c:03d}"
        clusters[key] = obs
        rows += [(key, "m-1") + o for o in obs]

    df = spark.createDataFrame(
        rows,
        "cluster string, manufacturer_id string, doc_id string, seq int, "
        "chemical_name string, cas_number string, tag string, source string",
    )
    got = {
        r["cluster"]: (
            r["name"], r["cas_number"], r["pfas_status"],
            r["pfas_information_source"], r["n_dropped"],
        )
        for r in fold_chemical_nodes(df).collect()
    }
    for key, obs in clusters.items():
        assert got[key] == _python_fold(obs), key


def test_spark_fold_with_init_state_matches_python(spark):
    """The fold's init-state path (re-ingest MERGE into an existing node):
    adversarial rows — error cells, OTHER-class stored and new sources
    (VAI/ECHA/WEIRD/ODD), null sources and null CAS overwrites — with and
    without a matched existing node must replay the Python fold exactly,
    and a matched node keeps its id."""
    import random

    from entity_extractor_spark.operators.link import fold_chemical_nodes

    rng = random.Random(123)
    tags = ["PFAS", "NO_PFAS", "PENDING", None]
    sources = ["NONE", "MANUAL", "OECD", "OPENAI", "VAI", "ECHA", "WEIRD", None]
    rows, clusters = [], {}
    for c in range(60):
        key = f"cl-{c:03d}"
        existing_id, init = None, None
        if rng.random() < 0.4:
            existing_id = f"chem:{c}"
            init = (
                rng.choice(["YES", "NO", "PENDING"]),
                rng.choice(["NONE", "MANUAL", "OECD", "OPENAI", "VAI", "ODD"]),
                f"init name {c}",
                rng.choice([f"{c}-11-1", None]),
            )
        obs, seq = [], 0
        for d in range(rng.randrange(1, 5)):
            for _ in range(rng.randrange(1, 6)):
                obs.append(
                    (f"doc-{d:03d}", seq, f"nm {rng.randrange(5)}",
                     rng.choice([f"{rng.randrange(50)}-00-0", None]),
                     rng.choice(tags), rng.choice(sources))
                )
                seq += 1
        clusters[key] = (existing_id, init, obs)
        rows += [(key, "m-1") + o + (existing_id,) + (init or (None,) * 4) for o in obs]
    df = spark.createDataFrame(
        rows,
        "cluster string, manufacturer_id string, doc_id string, seq int, "
        "chemical_name string, cas_number string, tag string, source string, "
        "existing_id string, init_status string, init_source string, "
        "init_name string, init_cas string",
    )
    got = {r["cluster"]: r for r in fold_chemical_nodes(df).collect()}
    assert set(got) == set(clusters)
    for key, (existing_id, init, obs) in clusters.items():
        r = got[key]
        assert (
            r["name"], r["cas_number"], r["pfas_status"],
            r["pfas_information_source"], r["n_dropped"],
        ) == _python_fold(obs, init), key
        if existing_id is not None:
            assert r["chem_id"] == existing_id, key
