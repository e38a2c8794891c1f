"""Stages s4 (entity linking) + s5 (canonicalization) for chemicals.

The reference links each chemical observation sequentially: by
(cas_number, manufacturer_id) first, else (exact name, manufacturer_id),
else creates a node; on a match it merges PFAS status/source through the
transition lattice and unconditionally overwrites cas_number
(artifact_ingestor_service.py:1027-1084). Replayed set-at-a-time:

  1. atoms: per manufacturer, a name-atom per surface name and a cas-atom
     per CAS; each observation carrying a CAS contributes one
     name-atom <-> cas-atom equivalence edge;
  2. connected components over those edges = chemical entities (the
     fixpoint of the reference's dynamic CAS/name linking — see
     tests/test_oracle_equivalence for where sequential order could
     diverge and why the corpus constraints make the fixpoint exact);
  3. each observation resolves to the component of its cas-atom when
     present else its name-atom (J5 priority), else stays its own
     singleton — W3 first-match-wins is subsumed by component identity.
     Residual ambiguity (an observation matching NO key against a noisy
     candidate dictionary) routes through the hashed-TF cosine scorer in
     operators/disambiguate.py (north-star s4b; exercised by the
     link_cosine_disambiguation contract query — the constrained corpus
     never produces key misses, so it is not wired into the e2e path);
  4. per-component ordered lattice fold (a JVM-side aggregate() over the
     cluster's sorted observations) reproduces the sequential
     status/source merge; canonical name = first observation's name
     (node-creation semantics), final cas = last observation's cas
     (unconditional overwrite, :1083).

Scale: the fold holds one cluster's observations in one task
(collect_list). On a hub corpus (one cluster holding ~35% of
observations, perfbench resume_hub, 4 cores) it commits `chem_nodes` in
0.48-0.52 s against 1.31-1.83 s for an associative per-doc
transition-table composition, so it is the only fold implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.core import entity_id
from ..functions.lattice import _STATUS_REPLACING_PAIRS, TRANSITION_MAP
from .graph import connected_components

_SEP = "\x1f"


def _atom_cols(obs: DataFrame) -> DataFrame:
    return obs.withColumn(
        "name_atom", F.concat_ws(_SEP, F.lit("N"), F.col("manufacturer_id"), F.col("chemical_name"))
    ).withColumn(
        "cas_atom",
        F.when(
            F.col("cas_number").isNotNull(),
            F.concat_ws(_SEP, F.lit("C"), F.col("manufacturer_id"), F.col("cas_number")),
        ),
    )


_INIT_COLS = ["existing_id", "init_status", "init_source", "init_name", "init_cas"]


def assign_clusters(obs: DataFrame, existing_nodes: DataFrame | None = None) -> DataFrame:
    """observations -> observations + cluster column (canonical entity key)
    + per-cluster init state from any matched existing node.

    existing_nodes (prior ingest / earlier stream batches) contribute their
    own name/cas atoms and equivalence edges so re-ingest MERGEs into
    existing identities: the matched node's id is adopted (reference links
    to the existing row, artifact_ingestor_service.py:1050-1060) and its
    (status, source, name, cas) become the fold's initial state, so a
    corpus split across batches folds to the same final graph as one batch
    (sequence splitting of the DFA fold is exact)."""
    obs = _atom_cols(obs)
    edges = obs.where(F.col("cas_atom").isNotNull()).select(
        F.col("name_atom").alias("src"), F.col("cas_atom").alias("dst")
    )
    en = None
    if existing_nodes is not None:
        en = existing_nodes.where(F.col("node_type") == "CHEMICAL").select(
            F.col("id").alias("existing_id"),
            F.col("pfas_status").alias("init_status"),
            F.col("pfas_information_source").alias("init_source"),
            F.col("name").alias("init_name"),
            F.col("cas_number").alias("init_cas"),
            F.concat_ws(_SEP, F.lit("N"), F.col("manufacturer_id"), F.col("name")).alias("name_atom"),
            F.when(
                F.col("cas_number").isNotNull(),
                F.concat_ws(_SEP, F.lit("C"), F.col("manufacturer_id"), F.col("cas_number")),
            ).alias("cas_atom"),
        )
        edges = edges.union(
            en.where(F.col("cas_atom").isNotNull()).select(
                F.col("name_atom").alias("src"), F.col("cas_atom").alias("dst")
            )
        )
    comp = connected_components(edges.distinct())

    cas_comp = comp.withColumnRenamed("vertex", "cas_atom").withColumnRenamed("component", "cas_cluster")
    name_comp = comp.withColumnRenamed("vertex", "name_atom").withColumnRenamed("component", "name_cluster")

    def with_cluster(df: DataFrame) -> DataFrame:
        return (
            df.join(cas_comp, "cas_atom", "left")
            .join(name_comp, "name_atom", "left")
            .withColumn(
                "cluster",
                F.coalesce(
                    F.when(F.col("cas_atom").isNotNull(), F.col("cas_cluster")),
                    F.col("name_cluster"),
                    F.col("name_atom"),
                ),
            )
            .drop("cas_cluster", "name_cluster")
        )

    # the atoms are working columns of the clustering itself; the committed
    # stage table downstream (fold, edges) only needs `cluster` — dropping
    # them here keeps two long strings per observation out of the stage
    # write + the two stage re-reads + the fold shuffle
    clustered = with_cluster(obs).drop("name_atom", "cas_atom")
    if en is None:
        for c in _INIT_COLS:
            clustered = clustered.withColumn(c, F.lit(None).cast("string"))
        return clustered
    # one existing node per cluster under the identity invariants; if a new
    # observation bridges two pre-existing nodes, the min-id node wins
    # deterministically (the reference would have linked to its cas match)
    init = (
        with_cluster(en)
        .groupBy("cluster")
        .agg(F.min(F.struct(*_INIT_COLS)).alias("_i"))
        .select("cluster", *[F.col(f"_i.{c}").alias(c) for c in _INIT_COLS])
    )
    return clustered.join(init, "cluster", "left")


# The lattice fold is a DFA over a 15-state domain (3 statuses x 5 sources);
# each observation is a state-transition function. Expressed as a JVM-side
# `aggregate()` over the cluster's (doc_id, seq)-sorted observation array:
# whole-stage codegen, zero Python in the hot path. Semantics are pinned
# byte-for-byte against functions.lattice.fold_observation by
# tests/test_lattice.py::test_spark_fold_matches_python.
_TRANS_SQL = "map(" + ", ".join(
    f"'{k}', '{v if v is not None else ''}'" for k, v in TRANSITION_MAP.items()
) + ")"
_PAIRS_SQL = ", ".join(
    f"'{a}_{b}'" for a, b in sorted(_STATUS_REPLACING_PAIRS)
)
_TAG_STATUS = "CASE WHEN {o}.tag = 'PFAS' THEN 'YES' WHEN {o}.tag = 'NO_PFAS' THEN 'NO' ELSE 'PENDING' END"

_FOLD_EXPR = f"""
aggregate(
  obs,
  named_struct('status', init_status, 'source', init_source,
               'name', init_name, 'cas', init_cas, 'dropped', 0),
  (acc, o) -> CASE
    WHEN acc.status IS NULL THEN named_struct(
      'status', {_TAG_STATUS.format(o='o')},
      'source', coalesce(o.source, 'NONE'),
      'name', o.chemical_name,
      'cas', o.cas_number,
      'dropped', acc.dropped)
    WHEN coalesce(element_at({_TRANS_SQL}, concat(acc.source, '_', coalesce(o.source, 'NONE'))), '') = ''
      THEN named_struct('status', acc.status, 'source', acc.source, 'name', acc.name,
                        'cas', acc.cas, 'dropped', acc.dropped + 1)
    ELSE named_struct(
      'status', CASE WHEN concat(acc.source, '_', coalesce(o.source, 'NONE')) IN ({_PAIRS_SQL})
                     THEN {_TAG_STATUS.format(o='o')} ELSE acc.status END,
      'source', element_at({_TRANS_SQL}, concat(acc.source, '_', coalesce(o.source, 'NONE'))),
      'name', acc.name,
      'cas', o.cas_number,
      'dropped', acc.dropped)
  END
)
"""


def fold_chemical_nodes(clustered: DataFrame) -> DataFrame:
    """Per-cluster ordered lattice fold -> one chemical node per cluster.

    Observations are replayed in (doc_id, seq) order — the reference's queue
    order (artifact_ingestor_service.py:1237-1257). A TransitionError drops
    the observation (the reference rolls back the whole doc, :609-612; the
    corpus generator keeps error transitions out of e2e data, and
    `n_dropped` surfaces any occurrence)."""
    init_cols = [c for c in _INIT_COLS if c in clustered.columns]
    g = (
        clustered.select(
            "cluster", "manufacturer_id", *init_cols,
            F.struct("doc_id", "seq", "chemical_name", "cas_number", "tag", "source").alias("o"),
        )
        .groupBy("cluster")
        .agg(
            F.min("manufacturer_id").alias("manufacturer_id"),
            *[F.min(c).alias(c) for c in init_cols],
            F.array_sort(F.collect_list("o")).alias("obs"),
        )
    )
    for c in _INIT_COLS:
        if c not in init_cols:
            g = g.withColumn(c, F.lit(None).cast("string"))
    return g.select(
        "cluster",
        "manufacturer_id",
        "existing_id",
        F.expr(_FOLD_EXPR).alias("st"),
    ).select(
        "cluster",
        # stable identity: adopt the matched existing node's id, else mint a
        # deterministic one from the cluster key
        F.coalesce(
            F.col("existing_id"),
            entity_id(F.lit("chem"), F.col("cluster"), F.lit("")),
        ).alias("chem_id"),
        F.col("st.name").alias("name"),
        F.col("st.cas").alias("cas_number"),
        "manufacturer_id",
        F.col("st.status").alias("pfas_status"),
        F.col("st.source").alias("pfas_information_source"),
        F.col("st.dropped").cast("string").alias("n_dropped"),
    )


def chemical_edges(clustered: DataFrame) -> DataFrame:
    """J8 — hasChemical edge per (material, chemical cluster); weight is the
    last observation's composition in replay order (edge upsert semantics,
    artifact_ingestor_service.py:1086-1106). max_by over a (doc_id, seq)
    struct = one shuffle, map-side combinable."""
    return clustered.groupBy("material_id", "cluster").agg(
        F.max_by(
            "weight_percent", F.struct(F.col("doc_id"), F.col("seq"))
        ).alias("chemical_weight_percent")
    )
