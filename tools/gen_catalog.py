"""Generate OPERATORS.md — the one-row-per-public-operator catalog
(VERDICT r04 ask #4: SURVEY.md §8 is an append-only build log; a new user
can't find `winsorize` or `interval_join` without reading 1,300 lines).

Everything is derived mechanically so the catalog cannot rot:
  * operators      — every public function in entity_extractor_spark's
                     operator-bearing modules, with the first docstring
                     sentence as its purpose line;
  * contract links — each contract-query function's SOURCE is scanned for
                     the operator names it actually calls, so the "contract
                     query" column points at the exact value-checked gates
                     (and says whether each gate has a DuckDB oracle or is
                     rows-only);
  * scale shape    — the first sentence of the docstring's "Scale shape:"
                     paragraph, the repo-wide convention for documenting
                     100-TB behavior.

Usage: python tools/gen_catalog.py          # rewrites OPERATORS.md
       python tools/gen_catalog.py --check  # exit 1 if OPERATORS.md stale
"""

from __future__ import annotations

import importlib
import inspect
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PKG = "entity_extractor_spark"

# module path (under the package) -> catalog section title
SECTIONS: list[tuple[str, str]] = [
    ("operators.extract", "KG pipeline — extraction"),
    ("operators.mentions", "KG pipeline — mention detection"),
    ("operators.link", "KG pipeline — linking & canonicalization"),
    ("operators.propagate", "KG pipeline — status propagation"),
    ("operators.review", "KG pipeline — review / re-propagation"),
    ("operators.disambiguate", "Entity disambiguation (TF-IDF cosine)"),
    ("operators.kg_training", "KG training data"),
    ("operators.kg_quality", "KG quality & audit"),
    ("operators.truth", "Truth discovery & source trust"),
    ("operators.dedupe", "Deduplication"),
    ("operators.similarity", "Similarity search / ANN"),
    ("operators.fuzzy", "Fuzzy matching"),
    ("operators.text_quality", "Text analysis & curation filters"),
    ("operators.bpe", "BPE tokenization"),
    ("operators.chunker", "Chunking (RAG ingest)"),
    ("operators.ranking", "Ranking & retrieval (BM25 / RRF / MMR)"),
    ("operators.contamination", "Eval-set contamination"),
    ("operators.sampling", "Sampling & corpus curation"),
    ("operators.snapshot", "Corpus snapshots & forget cascades"),
    ("operators.graph", "Graph algorithms"),
    ("operators.er_metrics", "Entity-resolution metrics"),
    ("operators.linkage", "Probabilistic record linkage"),
    ("operators.survivorship", "Golden-record survivorship"),
    ("operators.cdc", "CDC / changelog"),
    ("operators.temporal", "Temporal operators"),
    ("operators.funnel", "Funnels / sessions / retention"),
    ("operators.stats", "Statistics"),
    ("operators.audit", "Data audit & profiling"),
    ("operators.sketch", "Sketches (KMV / CMS / HLL)"),
    ("operators.assoc", "Association / co-occurrence"),
    ("operators.skew", "Skew diagnostics"),
    ("operators.layout", "Table layout / compaction / pruning"),
    ("operators.bloom", "Bloom-filter pruning"),
    ("operators.multimodal", "Multimodal (binary media) columns"),
    ("functions.core", "Scalar functions (F1–F13)"),
    ("functions.lattice", "Source-lattice merge (F12)"),
    ("sources.bucketed", "Bucketed layout"),
    ("plans.pipeline", "Pipeline plan & stage DAG"),
    ("plans.lineage", "Lineage, resume & sinks"),
    ("plans.tableio", "Table-format seam (Iceberg-gated)"),
    ("streaming.ingest", "Streaming — ingest"),
    ("streaming.dedup", "Streaming — dedup gate"),
    ("streaming.entities", "Streaming — entity CC maintenance"),
    ("streaming.windows", "Streaming — windows"),
    ("streaming.join", "Streaming — interval join"),
    ("streaming.stateio", "Streaming — state storage"),
    ("corpus", "Synthetic corpus (test/bench input)"),
]


def first_sentence(text: str) -> str:
    """First sentence of a docstring paragraph, collapsed to one line."""
    text = " ".join(text.strip().split())
    # sentence end = '. ' not inside an abbreviation-ish token; fall back to
    # the whole first line if no period
    m = re.search(r"\.(\s|$)", text)
    return text[: m.end()].strip() if m else text


def scale_shape(doc: str) -> str:
    m = re.search(r"Scale shape:\s*(.+?)(?:\n\s*\n|$)", doc, re.S)
    if not m:
        return ""
    return first_sentence(m.group(1))


def public_functions(mod) -> list[tuple[str, object]]:
    out = []
    for name, obj in vars(mod).items():
        if name.startswith("_"):
            continue
        if not (inspect.isfunction(obj) or inspect.isclass(obj)):
            continue
        if getattr(obj, "__module__", None) != mod.__name__:
            continue  # re-imports (F, Window, helper imports) are not ours
        out.append((name, obj))
    # source order, so the catalog reads like the module
    out.sort(key=lambda kv: inspect.getsourcelines(kv[1])[1])
    return out


def contract_links() -> dict[str, list[tuple[str, bool]]]:
    """operator function name -> [(query_name, has_oracle)] by scanning each
    contract query function's source for call sites."""
    from entity_extractor_spark import contract

    links: dict[str, list[tuple[str, bool]]] = {}
    for qname, fn in contract.Q.items():
        try:
            src = inspect.getsource(fn)
        except OSError:
            continue
        has_oracle = qname in contract.SQL
        for m in re.finditer(r"(?:\.|\b)([a-z][a-z0-9_]{2,})\(", src):
            links.setdefault(m.group(1), []).append((qname, has_oracle))
    return links


def build() -> str:
    links = contract_links()
    lines = [
        "# Operator catalog",
        "",
        "<!-- GENERATED by tools/gen_catalog.py — do not edit by hand; "
        "regenerate with `python tools/gen_catalog.py`. -->",
        "",
        "One row per public operator. *Contract queries* are the "
        "driver-verified gates in `entity_extractor_spark/contract/` "
        "(run them with `python tools/check_contract.py /root/testdata/sf0.01 "
        "<query>`): **bold** = value-checked against a DuckDB oracle, "
        "plain = rows-only gate. *Scale shape* is the operator's documented "
        "100-TB behavior (first sentence of its docstring's Scale-shape "
        "paragraph). SURVEY.md §2 is the reference-parity checklist; this "
        "file is the user-facing index.",
        "",
    ]
    n_ops = 0
    for modpath, title in SECTIONS:
        try:
            mod = importlib.import_module(f"{PKG}.{modpath}")
        except ImportError as e:  # pragma: no cover - catalog must not lie
            raise SystemExit(f"cannot import {modpath}: {e}")
        funcs = public_functions(mod)
        if not funcs:
            continue
        lines.append(f"## {title} — `{PKG}/{modpath.replace('.', '/')}.py`")
        lines.append("")
        lines.append("| operator | purpose | contract queries | scale shape |")
        lines.append("|---|---|---|---|")
        for name, obj in funcs:
            doc = inspect.getdoc(obj) or ""
            purpose = first_sentence(doc) if doc else ""
            qrows = sorted(set(links.get(name, [])))
            qcell = ", ".join(
                (f"**{q}**" if has_sql else q) for q, has_sql in qrows
            )
            shape = scale_shape(doc)
            row = " | ".join(
                c.replace("|", "\\|")
                for c in (f"`{name}`", purpose, qcell, shape)
            )
            lines.append(f"| {row} |")
            n_ops += 1
        lines.append("")
    lines.append(
        f"*{n_ops} public operators across {sum(1 for m, _ in SECTIONS)} "
        "modules; regenerated mechanically from docstrings and the contract "
        "registry.*"
    )
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "OPERATORS.md")
    text = build()
    if "--check" in sys.argv:
        with open(path) as f:
            if f.read() != text:
                raise SystemExit("OPERATORS.md is stale — run tools/gen_catalog.py")
        print("OPERATORS.md up to date")
        return
    with open(path, "w") as f:
        f.write(text)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
