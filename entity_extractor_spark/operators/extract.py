"""Stage s3 — deterministic triple extraction (the reference's LLM
extraction replaced by pattern rules, SURVEY.md §2.8 X1/X2; payload schema =
dto/msds_openai_response.py:7-25 + dto/chemical_dto.py:21-29).

Everything here is built-in column functions (regexp_extract over exploded
text spans) — JVM-side, codegen'd, filter-pushdown friendly. Semantics
reproduced:
  * first header span (lowest offset) per doc wins; docs without a header
    or with zero chemical lines are dropped (validation,
    artifact_ingestor_service.py:793-803);
  * display-name compose F5 (:725-742);
  * last-wins same-name chemical dedupe within a doc, but with the FIRST
    occurrence's position (python dict update keeps insertion order —
    :788-791 `{chem.chemical_name: chem}`);
  * first-document-wins material identity (J7, :979-989) — the probe key is
    (normalized display name, exact manufacturer name); losing docs are
    skipped entirely (exception => per-doc rollback, :609-612).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.core import cas_trim_or_null, display_name, entity_id, norm_name

HEADER_RE = (
    r"^(.*?)(?: \(P/N ([^)]*)\))?(?: \(UPC ([^)]*)\))?"
    r" manufactured by ([^,]*), ([^,]*), ([^,]*)$"
)
COMP_RE = r"^(.*?) CAS ([0-9\-]+|-) ([0-9.]+)% (PFAS|NO_PFAS|PENDING) src=([A-Z]+)$"


def text_spans(documents: DataFrame) -> DataFrame:
    """Explode documents(doc_id, spans) to the text-span stream
    (doc_id, offset, text) — media spans filtered out at the scan."""
    return documents.select(
        "doc_id", F.explode("spans").alias("span")
    ).where(F.col("span.kind") == "text").select(
        "doc_id",
        F.col("span.offset").alias("offset"),
        F.col("span.text").alias("text"),
    )


def parse_spans(spans: DataFrame) -> DataFrame:
    """ONE classify+parse pass over the raw text-span stream -> narrow
    parsed rows (doc_id, offset, h: header-fields struct | NULL, c:
    chem-fields struct | NULL). Headers and chemicals previously each ran
    their own corpus-wide scan; sharing one pass means the 100-TB noise
    text is read ONCE for the whole extract path and only these narrow
    parsed lines (~1/8 of corpus bytes on the bench profile — noise never
    survives the prefilters) flow into any exchange or cache downstream.

    Cheap substring prefilters gate both regexes: the lazy-quantifier
    header regex backtracks on long non-matching noise lines, so it only
    runs on spans that can possibly match (predicate order is preserved by
    codegen). A span can in principle populate both structs (by corpus
    construction a header line can't match COMP_RE, but this pass does not
    rely on that — each struct has its own independent predicate, exactly
    like the former two-scan shape)."""
    is_h = F.col("text").contains(" manufactured by ") & F.col("text").rlike(HEADER_RE)
    is_c = F.col("text").contains(" CAS ") & F.col("text").rlike(COMP_RE)
    exh = lambda i: F.regexp_extract("text", HEADER_RE, i)  # noqa: E731
    exc = lambda i: F.regexp_extract("text", COMP_RE, i)  # noqa: E731
    return (
        spans.where(
            F.col("text").contains(" manufactured by ") | F.col("text").contains(" CAS ")
        )
        .select(
            "doc_id",
            "offset",
            F.when(
                is_h,
                F.struct(
                    exh(1).alias("material_name"),
                    exh(2).alias("product_number"),
                    exh(3).alias("upc_number"),
                    exh(4).alias("manufacturer_name"),
                    exh(5).alias("manufacturer_city"),
                    exh(6).alias("manufacturer_country"),
                ),
            ).alias("h"),
            F.when(
                is_c,
                F.struct(
                    exc(1).alias("chemical_name"),
                    cas_trim_or_null(exc(2)).alias("cas_number"),
                    exc(3).alias("weight_percent"),
                    exc(4).alias("tag"),
                    exc(5).alias("source"),
                ),
            ).alias("c"),
        )
        .where(F.col("h").isNotNull() | F.col("c").isNotNull())
    )


def resolve_headers(parsed: DataFrame) -> DataFrame:
    """One material header per doc plus `has_chem` (the doc has >= 1
    chemical line), as ONE per-doc aggregation. The header is the first
    matching span by offset: an ALGEBRAIC min(struct(offset, h)) over the
    header rows — map-side combinable, so at most one row per doc ever
    crosses an exchange. Offsets are unique within a doc, so the
    lexicographic struct min is exactly first-by-offset. Docs without a
    header are dropped."""
    return (
        parsed.groupBy("doc_id")
        .agg(
            F.min(F.when(F.col("h").isNotNull(), F.struct(F.col("offset"), F.col("h")))).alias("_m"),
            F.max(F.col("c").isNotNull()).alias("has_chem"),
        )
        .where(F.col("_m").isNotNull())
        .select("doc_id", "_m.h.*", "has_chem")
        .withColumn(
            "display_name",
            display_name(F.col("material_name"), F.col("product_number"), F.col("upc_number")),
        )
    )


def dedupe_chemicals(parsed: DataFrame) -> DataFrame:
    """A5 last-wins dedupe per (doc, chemical_name) with first-occurrence
    ordering, as ONE algebraic aggregation: seq = min(offset), values =
    max(struct(offset, c)).c (offsets unique per doc -> the max struct IS
    the last occurrence). Replaces the min/max window + self-filter: fully
    map-side combinable, and never needs the input pre-shuffled."""
    c = parsed.where(F.col("c").isNotNull())
    return (
        c.groupBy("doc_id", F.col("c.chemical_name").alias("chemical_name"))
        .agg(
            F.min("offset").alias("seq"),
            F.max(F.struct(F.col("offset"), F.col("c"))).alias("_last"),
        )
        .select(
            "doc_id",
            "seq",
            "chemical_name",
            F.col("_last.c.cas_number").alias("cas_number"),
            F.col("_last.c.weight_percent").alias("weight_percent"),
            F.col("_last.c.tag").alias("tag"),
            F.col("_last.c.source").alias("source"),
        )
    )


def winner_docs(headers: DataFrame, existing_material_keys: DataFrame | None = None) -> DataFrame:
    """Validation + J7 first-document-wins.

    Docs with a header (`resolve_headers`) and at least one chemical line
    (its `has_chem` flag) compete per material key
    (norm(display_name), manufacturer_name); the minimum doc_id wins, every
    other doc is dropped whole. Docs whose key already exists in
    `existing_material_keys(mat_key)` (prior ingest / MERGE) all lose; AQE
    picks broadcast or shuffle for that anti-join at runtime."""
    valid = (
        headers.where("has_chem")
        .drop("has_chem")
        .withColumn(
            "mat_key", F.concat_ws("\x1f", norm_name(F.col("display_name")), F.col("manufacturer_name"))
        )
    )
    if existing_material_keys is not None:
        valid = valid.join(existing_material_keys.select("mat_key"), "mat_key", "left_anti")
    w = Window.partitionBy("mat_key").orderBy("doc_id")
    return valid.withColumn("rn", F.row_number().over(w)).where("rn = 1").drop("rn")


def manufacturers_table(winners: DataFrame) -> DataFrame:
    """J6 — exact-name manufacturer dedupe; attributes from the first
    (lowest doc_id) winner doc naming it (save_manufacturer,
    artifact_ingestor_service.py:991-1008). Deterministic id from the name."""
    w = Window.partitionBy("manufacturer_name").orderBy("doc_id")
    return (
        winners.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select(
            entity_id(F.lit("manu"), F.col("manufacturer_name"), F.lit("")).alias("id"),
            F.col("manufacturer_name").alias("name"),
            F.col("manufacturer_city").alias("city"),
            F.col("manufacturer_country").alias("country"),
        )
    )


def materials_table(winners: DataFrame) -> DataFrame:
    """Material nodes (one per winner doc) with deterministic ids from the
    identity key (reference mints uuid4, :1010-1025; see functions.core
    entity_id). Status starts PENDING/NONE and is overwritten by s6."""
    return winners.select(
        entity_id(F.lit("mat"), F.col("mat_key"), F.lit("")).alias("id"),
        F.col("display_name").alias("name"),
        F.lit("MATERIAL").alias("node_type"),
        F.lit(None).cast("string").alias("cas_number"),
        entity_id(F.lit("manu"), F.col("manufacturer_name"), F.lit("")).alias("manufacturer_id"),
        F.lit("PENDING").alias("pfas_status"),
        F.lit("NONE").alias("pfas_information_source"),
        "doc_id",
        "mat_key",
        "manufacturer_name",
    )


def observations(winners: DataFrame, chems: DataFrame) -> DataFrame:
    """Chemical observations of winner docs, with material/manufacturer ids
    attached — the input to linking (s4/s5). Every winner doc has a header,
    so the inner join also drops chemicals of header-less docs."""
    return chems.join(
        winners.select(
            "doc_id",
            entity_id(F.lit("mat"), F.col("mat_key"), F.lit("")).alias("material_id"),
            entity_id(F.lit("manu"), F.col("manufacturer_name"), F.lit("")).alias("manufacturer_id"),
        ),
        "doc_id",
    )
