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
    IntegerType,
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
