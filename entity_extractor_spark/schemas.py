"""Schemas for the KG-construction engine.

The `documents` input shape is fixed by BASELINE.json input_hint:
(doc_id:string, spans:array<struct<kind,text,media_ref,offset:int>>),
mirroring the reference's per-page interleaved image+OCR-text layout
(reference: app/modules/keyword_analysis/services/file_analysis_service.py:604-637).
Graph tables mirror the reference's MySQL models
(models/global_node.py:23-32, models/global_node_hierarchy.py:26-28,
models/material_to_document_mapping.py:24-29) — note the reference stores
numerics as strings (chemical_weight_percent String(255)); we keep that.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SPAN_SCHEMA = StructType(
    [
        StructField("kind", StringType(), False),       # 'text' | 'image'
        StructField("text", StringType(), True),        # non-empty iff kind='text'
        StructField("media_ref", StringType(), True),   # non-empty iff kind='image'
        StructField("offset", IntegerType(), False),    # strictly increasing order
    ]
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_SCHEMA), False),
    ]
)

MENTIONS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("span_offset", IntegerType(), False),
        StructField("keyword", StringType(), False),
        StructField("word", StringType(), False),
        StructField("confidence", DoubleType(), False),
        StructField("mtype", StringType(), False),
    ]
)

# One parsed chemical observation (the reference's ChemicalsOpenAiResponse,
# dto/chemical_dto.py:21-29) plus provenance ordering columns.
OBSERVATIONS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("seq", IntegerType(), False),       # span offset within doc
        StructField("chemical_name", StringType(), False),
        StructField("cas_number", StringType(), True),  # trimmed-or-null (F6)
        StructField("weight_percent", StringType(), True),
        StructField("tag", StringType(), True),         # PFAS|NO_PFAS|PENDING
        StructField("source", StringType(), True),      # MANUAL|VAI|OECD|ECHA|NONE
        StructField("manufacturer_id", StringType(), False),
        StructField("material_id", StringType(), False),
        StructField("ord", LongType(), False),          # global replay order
    ]
)

NODES_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("name", StringType(), False),
        StructField("node_type", StringType(), False),  # MATERIAL|CHEMICAL
        StructField("cas_number", StringType(), True),
        StructField("manufacturer_id", StringType(), True),
        StructField("pfas_status", StringType(), False),
        StructField("pfas_information_source", StringType(), False),
    ]
)

MANUFACTURERS_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("name", StringType(), False),
        StructField("city", StringType(), True),
        StructField("country", StringType(), True),
    ]
)

TRIPLES_SCHEMA = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),   # hasChemical|manufacturedBy|evidencedBy
        StructField("obj", StringType(), False),
        StructField("subj_id", StringType(), True),
        StructField("obj_id", StringType(), True),
        StructField("weight_percent", StringType(), True),
        StructField("doc_id", StringType(), True),
    ]
)

LINEAGE_SCHEMA = StructType(
    [
        StructField("stage", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("status", StringType(), False),  # done|failed
        StructField("mentions", LongType(), True),
        StructField("candidates", LongType(), True),
        StructField("linked", LongType(), True),
        StructField("dropped", LongType(), True),
    ]
)
