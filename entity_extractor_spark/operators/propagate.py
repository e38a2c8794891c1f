"""Stage s6 — PFAS status/source propagation from chemicals to materials.

reference: after every chemical save the service re-resolves every material
containing that chemical (artifact_ingestor_service.py:1108-1145,
:1259-1282); since a material's resolution depends only on the CURRENT
states of its chemicals, the final fixpoint equals ONE fold over final
chemical states — a single groupBy, no iteration needed (SURVEY.md §7.6).

A3 (status): YES if any child YES; NO if no YES and no PENDING; else
PENDING (:827-845) — expressed as max over the rank NO=0 < PENDING=1 <
YES=2, decoded back. A4 (source): first source with count>0 in the
status-dependent preference order, counted over children whose status
equals the resolved status (:846-879) — expressed as a min over preference
ranks. Both are algebraic aggregates: map-side combine absorbs hub-material
skew; everything stays in codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


NODE_COLS = ("id", "name", "node_type", "cas_number", "manufacturer_id",
             "pfas_status", "pfas_information_source")


def chemical_node_rows(chem_nodes: DataFrame) -> DataFrame:
    """Folded chemical nodes as node-table rows (NODE_COLS)."""
    return chem_nodes.select(
        F.col("chem_id").alias("id"), "name", F.lit("CHEMICAL").alias("node_type"), *NODE_COLS[3:]
    )


def material_nodes(materials: DataFrame, edges: DataFrame, chem_nodes: DataFrame) -> DataFrame:
    """Materials with their resolved status/source; PENDING/NONE when no
    chemical resolves them."""
    resolved = resolve_materials(edges, chem_nodes)
    return (
        materials.drop("pfas_status", "pfas_information_source")
        .join(resolved, materials["id"] == resolved["material_id"], "left")
        .drop("material_id")
        .fillna({"pfas_status": "PENDING", "pfas_information_source": "NONE"})
    )


def resolve_materials(edges: DataFrame, chem_nodes: DataFrame) -> DataFrame:
    """edges(material_id, cluster, weight) x chem_nodes(cluster, status,
    source) -> (material_id, pfas_status, pfas_information_source)."""
    child = edges.join(
        chem_nodes.select("cluster", "pfas_status", "pfas_information_source"), "cluster"
    )
    return resolve_children(child)


def resolve_children(child: DataFrame) -> DataFrame:
    """child(material_id, pfas_status, pfas_information_source) -> one
    resolved (material_id, pfas_status, pfas_information_source) per group.

    A4's filter ("children whose status equals the RESOLVED status") looks
    like it needs the A3 result first (join-back), but resolved status has
    only 3 values — so a conditional min per candidate status turns the
    whole resolve into ONE grouped pass over the child table: one shuffle,
    fully map-side combined, instead of aggregate + join-back + second
    aggregate + final join (3 shuffles of the hub-skewed child table)."""
    st = F.col("pfas_status")
    pref_pending = (
        F.when(F.col("pfas_information_source") == "OECD", 0)
        .when(F.col("pfas_information_source") == "VAI", 1)
        .when(F.col("pfas_information_source") == "MANUAL", 2)
    )
    pref_other = (
        F.when(F.col("pfas_information_source") == "VAI", 0)
        .when(F.col("pfas_information_source") == "OECD", 1)
        .when(F.col("pfas_information_source") == "MANUAL", 2)
    )
    status_rank = F.when(st == "YES", 2).when(st == "PENDING", 1).otherwise(0)
    agg = child.groupBy("material_id").agg(
        F.max(status_rank).alias("max_rank"),
        F.min(F.when(st == "YES", pref_other)).alias("p_yes"),
        F.min(F.when(st == "PENDING", pref_pending)).alias("p_pend"),
        F.min(F.when(st == "NO", pref_other)).alias("p_no"),
    )
    best_rank = (
        F.when(F.col("max_rank") == 2, F.col("p_yes"))
        .when(F.col("max_rank") == 1, F.col("p_pend"))
        .otherwise(F.col("p_no"))
    )
    decode_pending = (
        F.when(F.col("best_rank") == 0, "OECD")
        .when(F.col("best_rank") == 1, "VAI")
        .otherwise("MANUAL")
    )
    decode_other = (
        F.when(F.col("best_rank") == 0, "VAI")
        .when(F.col("best_rank") == 1, "OECD")
        .otherwise("MANUAL")
    )
    return agg.withColumn("best_rank", best_rank).select(
        "material_id",
        F.when(F.col("max_rank") == 2, "YES")
        .when(F.col("max_rank") == 1, "PENDING")
        .otherwise("NO")
        .alias("pfas_status"),
        F.when(F.col("best_rank").isNull(), "NONE")
        .when(F.col("max_rank") == 1, decode_pending)
        .otherwise(decode_other)
        .alias("pfas_information_source"),
    )
