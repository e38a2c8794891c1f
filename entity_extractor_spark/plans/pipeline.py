"""End-to-end KG-construction pipeline (SURVEY.md §7 stage graph):

documents -> s2 mentions -> s3 extract (headers/chemicals/winners) ->
s4+s5 link+canonicalize -> s6 propagate -> s7 materialize
(nodes, edges, triples, mentions, manufacturers) with per-stage lineage
commits so a killed run resumes without recomputing done stages.

Partitioning: the NARROW parsed-line stream (header/chem lines only — one
classify+parse scan of the corpus, extract.parse_spans) is explicitly
repartitioned on hash(doc_id) (north rule) so all per-doc work is
co-located and every doc-keyed agg/join reuses that one exchange. The raw
corpus itself is never shuffled and never cached — at 100 TB the noise
text must stay inside its scan stage, and on the shared-socket sandbox the
former full-corpus repartition+persist was the measured memory-bandwidth
tax that capped multi-executor scaling (BENCH_scaling r04).

Scheduling: stages form a DAG, not a chain — independent stages (e.g. the
mention scan and the extract path; the three projections of `winners`) are
submitted as CONCURRENT Spark jobs from a thread pool, so one stage's
commit/barrier tail overlaps another stage's compute. On a large cluster
this keeps executors busy across stage boundaries; the per-stage lineage
contract is unchanged (each stage still commits atomically). The graph is
declared once, in STAGES: each entry names its builder, data and
scheduling dependencies and lineage counters.
"""

from __future__ import annotations

from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegralType, StringType, StructType

from ..operators import extract as X
from ..operators import link as L
from ..operators import mentions as M
from ..operators import propagate as P
from .lineage import LineageLog, commit_stage, load_stage


@dataclass(frozen=True)
class Stage:
    """One pipeline stage, declared once.

    `build(run, **inputs)` receives the run's non-stage inputs (`_Run`) and
    exactly the committed tables named in `deps`, as keyword arguments — a
    builder cannot read a stage it does not declare. `after` adds
    scheduling-only edges (nothing flows along them; resume and lineage
    ignore them). `counters` maps named lineage counters to summed output
    columns."""

    name: str
    build: Callable[..., DataFrame]
    deps: tuple[str, ...] = ()
    after: tuple[str, ...] = ()
    counters: dict[str, str] | None = None

    @property
    def sched_deps(self) -> tuple[str, ...]:
        return self.deps + self.after


@dataclass(frozen=True)
class _Run:
    """Per-run inputs of the stage builders: everything that is not a
    committed stage table."""

    documents: DataFrame
    gazetteer: list[dict] | None
    existing_nodes: DataFrame | None
    headers: DataFrame
    chems: DataFrame
    existing_keys: DataFrame | None


# Builders look their operators up on the module (X.*, L.*, M.*, P.*) at
# call time, so anything that rebinds a module attribute (tracing shims,
# test monkeypatches) takes effect; the declaration below holds only these
# wrappers, never the operator functions themselves.
def _mentions(run: _Run) -> DataFrame:
    return M.detect_mentions(run.documents, run.gazetteer)


def _winners(run: _Run) -> DataFrame:
    return X.winner_docs(run.headers, run.existing_keys)


def _observations(run: _Run, winners: DataFrame) -> DataFrame:
    return X.observations(winners, run.chems)


def _materials(run: _Run, winners: DataFrame) -> DataFrame:
    return X.materials_table(winners)


def _manufacturers(run: _Run, winners: DataFrame) -> DataFrame:
    return X.manufacturers_table(winners)


def _clustered(run: _Run, observations: DataFrame) -> DataFrame:
    return L.assign_clusters(observations, run.existing_nodes)


def _chem_nodes(run: _Run, clustered: DataFrame) -> DataFrame:
    return L.fold_chemical_nodes(clustered)


def _edges(run: _Run, clustered: DataFrame) -> DataFrame:
    return L.chemical_edges(clustered)


# s6 — propagate + s7 — materialize node/triple tables
def _nodes(run: _Run, materials: DataFrame, chem_nodes: DataFrame, edges: DataFrame) -> DataFrame:
    mats = P.material_nodes(materials, edges, chem_nodes).select(*P.NODE_COLS)
    return mats.unionByName(P.chemical_node_rows(chem_nodes))


def _triples(
    run: _Run,
    manufacturers: DataFrame,
    materials: DataFrame,
    chem_nodes: DataFrame,
    edges: DataFrame,
) -> DataFrame:
    has_chem = (
        edges
        .join(materials.select(F.col("id").alias("material_id"), F.col("name").alias("subj")), "material_id")
        .join(chem_nodes.select("cluster", F.col("name").alias("obj"), "chem_id"), "cluster")
        .select(
            "subj",
            F.lit("hasChemical").alias("pred"),
            "obj",
            F.col("material_id").alias("subj_id"),
            F.col("chem_id").alias("obj_id"),
            F.col("chemical_weight_percent").alias("weight_percent"),
            F.lit(None).cast("string").alias("doc_id"),
        )
    )
    made_by = materials.join(
        F.broadcast(manufacturers.select(F.col("id").alias("mid"), F.col("name").alias("obj"))),
        materials["manufacturer_id"] == F.col("mid"),
    ).select(
        F.col("name").alias("subj"),
        F.lit("manufacturedBy").alias("pred"),
        "obj",
        F.col("id").alias("subj_id"),
        F.col("mid").alias("obj_id"),
        F.lit(None).cast("string").alias("weight_percent"),
        F.lit(None).cast("string").alias("doc_id"),
    )
    evidenced = materials.select(
        F.col("name").alias("subj"),
        F.lit("evidencedBy").alias("pred"),
        F.col("doc_id").alias("obj"),
        F.col("id").alias("subj_id"),
        F.col("doc_id").alias("obj_id"),
        F.lit(None).cast("string").alias("weight_percent"),
        "doc_id",
    )
    return has_chem.unionByName(made_by).unionByName(evidenced)


# The stage graph, in topological order of its data edges (resume
# invalidation walks this order). Independent stages run as concurrent
# Spark jobs.
#
# `mentions` has one scheduling-only edge: a leaf stage that would compete
# with the gating extract chain yields to it instead. Two jobs that each
# saturate the cluster finish at t_a+t_b whether run concurrently or
# back-to-back — but back-to-back, the critical path's stages commit without
# queuing their tasks behind the unrelated mention scan. `mentions` has no
# downstream consumer inside the DAG, so it yields until `clustered`
# commits: the winners->observations->clustered chain (including the
# connected-components driver collect inside the `clustered` builder, a
# short job sequence especially hurt by FIFO queuing behind a corpus-wide
# scan) runs uncontended, and the scan then overlaps the small
# post-cluster tail (edges/chem_nodes/nodes/triples), which leaves most of
# the cluster idle.
#
# Named counters: rows-per-stage is always recorded; `dropped` adds the sum
# of lattice-fold drops.
STAGES: tuple[Stage, ...] = (
    Stage("mentions", _mentions, after=("clustered",)),
    Stage("winners", _winners),
    Stage("observations", _observations, ("winners",)),
    Stage("materials", _materials, ("winners",)),
    Stage("manufacturers", _manufacturers, ("winners",)),
    Stage("clustered", _clustered, ("observations",)),
    Stage("chem_nodes", _chem_nodes, ("clustered",), counters={"dropped": "n_dropped"}),
    Stage("edges", _edges, ("clustered",)),
    Stage("nodes", _nodes, ("materials", "chem_nodes", "edges")),
    Stage("triples", _triples, ("manufacturers", "materials", "chem_nodes", "edges")),
)

STAGE_ORDER = [s.name for s in STAGES]


def _check_documents_schema(schema: StructType) -> None:
    """Driver-side input contract: `doc_id` string and `spans` an array of
    structs with string `kind`/`text` and integral `offset`. Raises
    ValueError naming the first violation (extra fields are allowed)."""
    fields = {f.name: f.dataType for f in schema.fields}
    if not isinstance(fields.get("doc_id"), StringType):
        raise ValueError(f"run_pipeline: documents.doc_id must be string, got {fields.get('doc_id')}")
    spans = fields.get("spans")
    if not (isinstance(spans, ArrayType) and isinstance(spans.elementType, StructType)):
        raise ValueError(f"run_pipeline: documents.spans must be array<struct>, got {spans}")
    span = {f.name: f.dataType for f in spans.elementType.fields}
    for name, want in (("kind", StringType), ("text", StringType), ("offset", IntegralType)):
        if not isinstance(span.get(name), want):
            raise ValueError(
                f"run_pipeline: documents.spans[].{name} must be {want.typeName()}, got {span.get(name)}"
            )


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    out_dir: str,
    gazetteer: list[dict] | None = None,
    existing_nodes: DataFrame | None = None,
    resume: bool = True,
    repartition: int | None = None,
) -> dict[str, DataFrame]:
    """Run (or resume) the stage graph over `documents` into `out_dir` and
    return every active stage's committed table by stage name."""
    _check_documents_schema(documents.schema)
    log = LineageLog(out_dir)
    if not resume:
        log.invalidate_from(STAGE_ORDER[0], STAGE_ORDER)

    # 4 tasks per core: fine-grained tasks pack the cores through the
    # concurrent-stage phases (a straggler wastes 1/4 core-second instead of
    # a whole stage tail) and give AQE room to split skewed partitions.
    n_part = repartition or 4 * spark.sparkContext.defaultParallelism

    # s3 — extract. ONE classify+parse scan of the raw corpus produces the
    # narrow `parsed` stream (header/chem lines only — noise text, media
    # spans and raw span structs never leave the scan stage), and THAT is
    # what gets the explicit hash(doc_id) repartition (north rule) and the
    # persist. The raw 100-TB corpus is never shuffled and never cached:
    # the former repartition+persist of the full documents DF pushed every
    # noise byte through an exchange, a cache write and 4 cache scans —
    # pure memory-bandwidth tax, which is exactly what capped multi-
    # executor scaling on a shared socket (BENCH_scaling r04 forensics:
    # 1.33x task-CPU inflation at 4 executors, zero spill, zero fetch
    # wait). Now the corpus is read exactly twice (this parse + the
    # mention scan), both pure map-side scans.
    #
    # Partition on the COLUMN (hash partitioning on doc_id), not on
    # F.hash(doc_id): HashPartitioning(doc_id) satisfies the clustering
    # required by every downstream agg/join keyed on doc_id or any
    # superset key, so the per-doc header agg (doc_id), the A5 dedupe agg
    # (doc_id, chemical_name) and the observations join all reuse this ONE
    # narrow exchange instead of re-shuffling.
    #
    # A null doc_id fails the parse scan itself (no extra job): every
    # per-doc fold keys on it, and a null key would silently merge docs.
    parsed = (
        X.parse_spans(X.text_spans(documents.withColumn(
            "doc_id",
            F.coalesce("doc_id", F.raise_error(F.lit("run_pipeline: documents has a null doc_id"))),
        )))
        .repartition(n_part, F.col("doc_id"))
        .persist()
    )
    # Headers carry the per-doc has-a-chemical flag (one agg, one scan of
    # the parsed cache for `winners`); the chemical dedupe is read only by
    # `observations`, whose join to the winners also drops header-less docs.
    headers = X.resolve_headers(parsed)
    chems = X.dedupe_chemicals(parsed)
    existing_keys = None
    if existing_nodes is not None:
        # re-ingest MERGE: prior materials make their identity keys occupied.
        # The key MUST be built with the same norm_name the winner side uses
        # (extract.winner_docs) — an inlined copy here would silently desync
        # the two sides of the MERGE identity if F1 ever changes.
        from ..functions.core import norm_name

        existing_keys = existing_nodes.where(F.col("node_type") == "MATERIAL").select(
            F.concat_ws(
                "\x1f",
                norm_name(F.col("name")),
                F.col("manufacturer_name"),
            ).alias("mat_key")
        )

    run = _Run(documents, gazetteer, existing_nodes, headers, chems, existing_keys)
    active = [s for s in STAGES if s.name != "mentions" or gazetteer is not None]
    out: dict[str, DataFrame] = {}

    def run_stage(stage: Stage) -> DataFrame:
        if resume and log.is_done(stage.name):
            return load_stage(log, spark, stage.name)
        df = stage.build(run, **{d: out[d] for d in stage.deps})
        return commit_stage(log, spark, stage.name, df, counters_cols=stage.counters)

    # Event-driven DAG execution: a stage is submitted the moment its last
    # dependency commits (no wave barrier — a barrier would hold the
    # observations->clustered->...->nodes critical path hostage to the
    # unrelated `mentions` scan). Submission order within a ready set is
    # critical-path-first (longest dependent chain to a sink): Spark's FIFO
    # scheduler gives earlier-submitted jobs' tasks priority, so gating
    # stages (`winners`) saturate the cores while leaf stages (`mentions`)
    # fill whatever slots remain.
    depth: dict[str, int] = {}

    def _depth(s: Stage) -> int:
        if s.name not in depth:
            below = [d for d in active if s.name in d.sched_deps]
            depth[s.name] = 1 + max((_depth(d) for d in below), default=0)
        return depth[s.name]

    # The parsed cache needs no eager count before the DAG starts: its only
    # readers, winners then observations, are ordered by their data edge and
    # scan it once each, so no two first readers race to compute the same
    # cached partitions; a resume with both done never computes it.
    #
    # Fold replay order contract: every first-wins / last-wins fold orders
    # by doc_id in the column's NATIVE order — numeric for numeric ids,
    # plain string order for string ids ('doc-10' < 'doc-9'). That order is
    # deterministic and identical on every engine (the DuckDB and Python
    # oracles replay the same comparison), which is the property the
    # contract needs; corpora that want numeric replay order for string
    # ids must zero-pad ('doc-%08d' — the corpus convention).

    done: set[str] = set()
    submitted: set[str] = set()
    with ThreadPoolExecutor(max_workers=4) as ex:
        futures: dict = {}

        def submit_ready() -> None:
            ready = [
                s
                for s in active
                if s.name not in submitted and all(d in done for d in s.sched_deps)
            ]
            for s in sorted(ready, key=_depth, reverse=True):
                futures[ex.submit(run_stage, s)] = s.name
                submitted.add(s.name)

        submit_ready()
        while len(done) < len(active):
            fin, _ = wait(futures, return_when=FIRST_COMPLETED)
            for fut in fin:
                s = futures.pop(fut)
                out[s] = fut.result()
                done.add(s)
            submit_ready()

    parsed.unpersist()  # all outputs read from committed stage tables
    return out
