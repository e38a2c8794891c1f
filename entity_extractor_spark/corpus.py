"""Deterministic synthetic interleaved-document corpus (FIXTURES.md §A).

Shape fixed by BASELINE.json input_hint:
documents(doc_id string, spans array<struct<kind,text,media_ref,offset:int>>).

Text spans are MSDS-like lines the extraction rules bite on (format mirrors
the fields of the reference's extraction schema,
app/modules/artifact_ingestor/dto/msds_openai_response.py:7-25 and
dto/chemical_dto.py:21-29):

  header      := NAME [' (P/N ' PROD ')'] [' (UPC ' UPC ')']
                 ' manufactured by ' MANU ', ' CITY ', ' COUNTRY
  composition := CHEM ' CAS ' (CAS|'-') ' ' WEIGHT '% ' TAG ' src=' SOURCE
  noise       := random vocabulary words
  image spans := kind='image', media_ref='blob://<doc>/img_<k>.png'

Generator constraints that keep the batch fixpoint equal to the reference's
sequential replay (see oracle.py):
  * each chemical name has exactly one canonical CAS;
  * alias groups (two names sharing a CAS) always carry their CAS — only
    single-name chemicals may have missing-CAS observations;
  * observation sources per chemical stay within {S, NONE} for one
    S in {MANUAL, OECD, NONE}, so no source transition hits an error cell
    (artifact_ingestor_service.py:1207-1235).
Same-doc duplicate chemical names (last-wins A5), duplicate materials across
docs (first-doc-wins J7 => later doc skipped), casing/whitespace
perturbation (F1), and hub chemicals (skew) are all exercised.

Everything is a pure function of (seed, doc index): the distributed and
driver-side generators produce byte-identical rows.
"""

from __future__ import annotations

import random
from collections.abc import Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .schemas import DOCUMENTS_SCHEMA

_ADJ = ["Aqua", "Poly", "Ultra", "Flex", "Thermo", "Nano", "Hydro", "Max", "Eco", "Pro"]
_NOUN = ["Shield", "Coat", "Seal", "Bond", "Guard", "Clean", "Lube", "Fix", "Prime", "Glaze"]
_CHEM_A = ["Sodium", "Potassium", "Calcium", "Methyl", "Ethyl", "Benzyl", "Ammonium",
           "Zinc", "Ferric", "Cupric", "Butyl", "Propyl", "Phenyl", "Lithium"]
_CHEM_B = ["chloride", "sulfate", "acetate", "nitrate", "oxide", "carbonate",
           "phosphate", "citrate", "stearate", "benzoate", "silicate", "fluoride"]
_CITIES = ["Basel", "Lyon", "Osaka", "Austin", "Leeds", "Pune", "Gdansk", "Turin"]
_COUNTRIES = ["Switzerland", "France", "Japan", "USA", "UK", "India", "Poland", "Italy"]
_NOISE = ("handle with care storage ventilation section hazard identification measures "
          "first aid exposure controls personal protection stability reactivity disposal "
          "transport regulatory information revision date page of continued").split()
_TAGS = ["PFAS", "NO_PFAS", "PENDING"]
_SOURCES = ["NONE", "MANUAL", "OECD"]


@dataclass(frozen=True)
class CorpusConfig:
    n_docs: int = 200
    seed: int = 42
    n_manufacturers: int = 8
    n_chemicals: int = 60
    n_hub: int = 3                 # hub chemicals drawn in ~hub_rate of draws
    hub_rate: float = 0.20
    alias_rate: float = 0.15       # fraction of non-hub chemicals in 2-name alias groups
    missing_cas_rate: float = 0.15 # single-name chemicals only
    dup_material_rate: float = 0.10
    dup_chem_in_doc_rate: float = 0.10
    no_chem_doc_rate: float = 0.03
    noise_spans: tuple = (1, 4)
    image_spans: tuple = (1, 3)
    noise_words: tuple = (3, 9)    # words per noise line; raise for realistic
                                   # page-sized docs (bench scaling profile)


@dataclass
class _Pools:
    manufacturers: list[dict] = field(default_factory=list)
    chemicals: list[dict] = field(default_factory=list)  # {name, cas, alias_group, source_profile, has_alias}


def build_pools(cfg: CorpusConfig) -> _Pools:
    """Deterministic manufacturer/chemical pools for a corpus config —
    pure function of cfg.seed."""
    rng = random.Random(cfg.seed * 7_919 + 17)
    pools = _Pools()
    for j in range(cfg.n_manufacturers):
        pools.manufacturers.append(
            {
                "name": f"Manu-{j} Chemical Works",
                "city": _CITIES[j % len(_CITIES)],
                "country": _COUNTRIES[j % len(_COUNTRIES)],
            }
        )
    # chemical pool: unique names; alias groups share a CAS
    names: list[str] = []
    k = 0
    while len(names) < cfg.n_chemicals:
        nm = f"{_CHEM_A[k % len(_CHEM_A)]} {_CHEM_B[(k // len(_CHEM_A)) % len(_CHEM_B)]}"
        if k >= len(_CHEM_A) * len(_CHEM_B):
            nm = f"{nm} {k}"
        names.append(nm)
        k += 1
    cas_counter = 1000
    i = 0
    gid = 0
    while i < len(names):
        cas = f"{cas_counter}-{(cas_counter * 7) % 100:02d}-{cas_counter % 10}"
        cas_counter += 1
        profile = _SOURCES[rng.randrange(len(_SOURCES))]
        is_hub = i < cfg.n_hub
        make_alias = (not is_hub) and (i + 1 < len(names)) and rng.random() < cfg.alias_rate
        group = [i, i + 1] if make_alias else [i]
        for idx in group:
            pools.chemicals.append(
                {
                    "name": names[idx],
                    "cas": cas,
                    "alias_group": gid,
                    "source_profile": profile,
                    "has_alias": make_alias,
                }
            )
        gid += 1
        i += len(group)
    return pools


def _doc_rng(seed: int, i: int) -> random.Random:
    return random.Random(seed * 1_000_003 + i)


def doc_identity(i: int, cfg: CorpusConfig, pools: _Pools) -> dict:
    """Material identity of doc i — separate rng stream from the body so the
    duplicate-material path can replay an earlier doc's identity exactly.

    Duplicates reuse the source doc's (manufacturer, name, product_no, upc)
    with F1-invariant casing/whitespace perturbation of the name: the
    composed display name (F5) then has an identical normalized key, which
    is what the reference's identity probe matches on
    (global_node_repository.py:139-158 — norm name + exact manufacturer)."""
    rng = random.Random(cfg.seed * 104_729 + i * 13 + 7)
    manu_idx = rng.randrange(len(pools.manufacturers))
    base = f"{rng.choice(_ADJ)} {rng.choice(_NOUN)} {i % 977}"
    prod = f"{rng.randrange(1000, 99999)}" if rng.random() < 0.7 else ""
    upc = f"{rng.randrange(10**9, 10**10)}" if rng.random() < 0.4 else ""
    is_dup = i > 10 and rng.random() < cfg.dup_material_rate
    if is_dup:
        src_i = rng.randrange(max(0, i - 50), i)
        src = doc_identity(src_i, cfg, pools)
        return {
            "manu_idx": src["manu_idx"],
            "name": _perturb_case(src["name"], rng),
            "prod": src["prod"],
            "upc": src["upc"],
            "is_dup": True,
        }
    return {"manu_idx": manu_idx, "name": base, "prod": prod, "upc": upc, "is_dup": False}


def make_doc(i: int, cfg: CorpusConfig, pools: _Pools) -> dict:
    """One document row; pure function of (cfg.seed, i)."""
    rng = _doc_rng(cfg.seed, i)
    doc_id = f"doc-{i:08d}"
    spans: list[dict] = []
    texts: list[str] = []

    ident = doc_identity(i, cfg, pools)
    manu = pools.manufacturers[ident["manu_idx"]]
    name, prod, upc = ident["name"], ident["prod"], ident["upc"]

    header = name
    if prod:
        header += f" (P/N {prod})"
    if upc:
        header += f" (UPC {upc})"
    header += f" manufactured by {manu['name']}, {manu['city']}, {manu['country']}"

    no_chems = rng.random() < cfg.no_chem_doc_rate
    comp_lines: list[str] = []
    if not no_chems:
        n_chem = rng.randrange(1, 9)
        chosen: list[dict] = []
        for _ in range(n_chem):
            if rng.random() < cfg.hub_rate:
                c = pools.chemicals[rng.randrange(cfg.n_hub)]
            else:
                c = pools.chemicals[rng.randrange(len(pools.chemicals))]
            chosen.append(c)
        if chosen and rng.random() < cfg.dup_chem_in_doc_rate:
            chosen.append(chosen[rng.randrange(len(chosen))])  # A5 last-wins food
        for c in chosen:
            cas = c["cas"]
            if not c["has_alias"] and rng.random() < cfg.missing_cas_rate:
                cas = "-"
            weight = f"{rng.randrange(1, 999) / 10.0:.1f}"
            tag = _TAGS[rng.randrange(len(_TAGS))]
            src = c["source_profile"] if rng.random() < 0.7 else "NONE"
            comp_lines.append(f"{c['name']} CAS {cas} {weight}% {tag} src={src}")

    # interleave: noise, header, images, compositions, noise
    def noise_line(r: random.Random) -> str:
        return " ".join(r.choice(_NOISE) for _ in range(r.randrange(*cfg.noise_words)))

    texts.append(noise_line(rng))
    texts.append(header)
    n_img = rng.randrange(cfg.image_spans[0], cfg.image_spans[1] + 1)
    img_positions = sorted(rng.randrange(0, len(comp_lines) + 1) for _ in range(n_img))
    body: list[tuple[str, str]] = []  # (kind, payload)
    ci = 0
    for line in comp_lines:
        while ci < len(img_positions) and img_positions[ci] <= len(body):
            body.append(("image", ""))
            ci += 1
        body.append(("text", line))
    while ci < len(img_positions):
        body.append(("image", ""))
        ci += 1
    for _ in range(rng.randrange(cfg.noise_spans[0], cfg.noise_spans[1] + 1)):
        body.append(("text", noise_line(rng)))

    all_spans = [("text", texts[0]), ("text", texts[1])] + body
    img_k = 0
    offset = 0
    for kind, payload in all_spans:
        if kind == "image":
            spans.append(
                {"kind": "image", "text": "", "media_ref": f"blob://{doc_id}/img_{img_k}.png", "offset": offset}
            )
            img_k += 1
        else:
            spans.append({"kind": "text", "text": payload, "media_ref": "", "offset": offset})
        offset += 1 + rng.randrange(0, 2)  # strictly increasing, with gaps
    return {"doc_id": doc_id, "spans": spans}


def _perturb_case(s: str, rng: random.Random) -> str:
    """F1-invariant perturbation: casing + extra internal spaces."""
    out = []
    for ch in s:
        if ch == " " and rng.random() < 0.3:
            out.append("  ")
        elif ch.isalpha() and rng.random() < 0.4:
            out.append(ch.swapcase())
        else:
            out.append(ch)
    return "".join(out)


def generate_documents_local(cfg: CorpusConfig) -> list[dict]:
    """Driver-local corpus generation (tests/oracle replay); the
    distributed twin is generate_documents_df."""
    pools = build_pools(cfg)
    return [make_doc(i, cfg, pools) for i in range(cfg.n_docs)]


def generate_documents_df(spark: SparkSession, cfg: CorpusConfig, partitions: int | None = None) -> DataFrame:
    """Distributed generator: identical rows to generate_documents_local.

    spark.range drives doc indices; per-partition batches are materialized
    with mapInPandas (Arrow), so generation scales with executors."""
    pools = build_pools(cfg)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [make_doc(int(i), cfg, pools) for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "doc_id": [r["doc_id"] for r in rows],
                    "spans": [
                        [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
                        for r in rows
                    ],
                }
            )

    n_part = partitions or min(cfg.n_docs, spark.sparkContext.defaultParallelism)
    rng_df = spark.range(0, cfg.n_docs, numPartitions=n_part)
    return rng_df.mapInPandas(gen, schema=DOCUMENTS_SCHEMA)


def _generator_version() -> str:
    """Short hash of this module's source: any edit to the corpus generator
    changes the version, auto-invalidating parquet caches keyed on it (a
    stale cache would make the DuckDB oracle replay a DIFFERENT corpus than
    the Spark side computes over — a silent false mismatch/match)."""
    global _GEN_VERSION
    if _GEN_VERSION is None:
        import hashlib

        try:
            import inspect
            import sys

            src = inspect.getsource(sys.modules[__name__])
        except Exception:  # zipimport without source access: no caching key
            src = "unversioned"
        _GEN_VERSION = hashlib.sha1(src.encode()).hexdigest()[:10]
    return _GEN_VERSION


_GEN_VERSION: str | None = None


def synth_cache_dir(n_docs: int, seed: int = 42) -> str:
    """Canonical cache location for the (seed, n_docs) synthetic corpus —
    the ONE formula shared by materialize_corpus_parquet and the contract
    oracle paths (version-keyed, see _generator_version)."""
    import os
    import tempfile

    return os.path.join(
        tempfile.gettempdir(), f"eex_synth_{seed}_{n_docs}_{_generator_version()}"
    )


def materialize_corpus_parquet(cfg: CorpusConfig, base_dir: str | None = None) -> str:
    """Write the deterministic corpus + gazetteer to parquet WITHOUT Spark
    (pure pyarrow), so the DuckDB correctness oracle can read the identical
    input the distributed generator produces (byte-identical rows: both are
    pure functions of (seed, doc index)).

    Idempotent + atomic (tmp dir -> os.replace); keyed by (seed, n_docs) so
    concurrent query/oracle evaluation can race safely. Returns the dir
    containing documents.parquet and gazetteer.parquet."""
    import os
    import shutil
    import tempfile
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = base_dir or synth_cache_dir(cfg.n_docs, cfg.seed)
    docs_p = os.path.join(base, "documents.parquet")
    gaz_p = os.path.join(base, "gazetteer.parquet")
    if os.path.isfile(docs_p) and os.path.isfile(gaz_p):
        return base

    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    rows = generate_documents_local(cfg)
    docs_tbl = pa.table(
        {
            "doc_id": pa.array([r["doc_id"] for r in rows], pa.string()),
            "spans": pa.array(
                [[(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
                 for r in rows],
                pa.list_(span_t),
            ),
        }
    )
    gaz = gazetteer_rows(cfg)
    gaz_tbl = pa.table(
        {
            "keyword": pa.array([g["keyword"] for g in gaz], pa.string()),
            "mtype": pa.array([g["mtype"] for g in gaz], pa.string()),
        }
    )
    tmp = f"{base}._tmp_{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(docs_tbl, os.path.join(tmp, "documents.parquet"))
    pq.write_table(gaz_tbl, os.path.join(tmp, "gazetteer.parquet"))
    try:
        os.replace(tmp, base)  # atomic on POSIX; fails if base exists non-empty
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # lost the race: keep winner
    return base


def gazetteer_rows(cfg: CorpusConfig) -> list[dict]:
    """FIXTURES.md §A2 — broadcast keyword dictionary (reference:
    global_keywords.json via keywords_service.py:35-47)."""
    pools = build_pools(cfg)
    # Single-token keywords dominate: the reference scans per OCR *word*, so
    # multi-word keywords can never match (file_analysis_service.py:83-87 —
    # both the \b regex and the substring test run against one word). We keep
    # a few multi-word entries to pin that quirk in tests.
    rows = []
    for c in pools.chemicals:
        for tok in c["name"].split():
            rows.append({"keyword": tok, "mtype": "chemical"})
    rows += [{"keyword": c["name"], "mtype": "chemical"} for c in pools.chemicals[:3]]
    rows += [{"keyword": f"Manu-{j}", "mtype": "manufacturer"} for j in range(cfg.n_manufacturers)]
    rows += [{"keyword": w, "mtype": "material"} for w in ("Shield", "Coat", "Seal")]
    # de-dup while preserving order (alias pool may repeat names)
    seen, out = set(), []
    for r in rows:
        k = (r["keyword"], r["mtype"])
        if k not in seen:
            seen.add(k)
            out.append(r)
    return out
