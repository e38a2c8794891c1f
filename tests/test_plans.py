"""Physical-plan quality gates: the optimizations SURVEY.md §4 claims are
free must actually appear in the plans (pushdown, pruning, broadcast,
whole-stage codegen). These catch silent regressions where an operator
change knocks a filter off the scan or flips a broadcast join to shuffle."""

from __future__ import annotations

import pytest

from entity_extractor_spark import contract

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return contract.Q[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "p1_filter_projection")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_returnflag)" in plan or "EqualTo(l_returnflag,R)" in plan


def test_column_pruning_reaches_scan(spark):
    plan = _plan(spark, "p1_filter_projection")
    # ReadSchema must NOT include untouched wide columns
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "l_comment" not in read[0] and "l_shipdate" not in read[0]


def test_small_dims_broadcast(spark):
    plan = _plan(spark, "j2_broadcast_dim")
    assert "BroadcastHashJoin" in plan


def test_link_cascade_is_broadcast_not_shuffle(spark):
    plan = _plan(spark, "j5_link_cascade")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_aggregation_has_map_side_partial(spark):
    plan = _plan(spark, "a1_group_counts")
    # partial_count / partial aggregation before the exchange
    assert "partial" in plan.lower()


def test_whole_stage_codegen_spans(spark):
    df = contract.Q["a1_group_counts"](spark, SF)
    df.collect()  # AQE: codegen spans appear in the FINAL executed plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark WholeStageCodegen spans in the plan string
    assert "*(" in plan


def test_mentions_has_no_python_udf(spark):
    """North rule: no per-row Python in the hot path — the mention scan is
    pure JVM (broadcast join + contains), no BatchEvalPython / ArrowEval."""
    from entity_extractor_spark.corpus import CorpusConfig, gazetteer_rows, generate_documents_df
    from entity_extractor_spark.operators.mentions import detect_mentions

    cfg = CorpusConfig(n_docs=10)
    docs = generate_documents_df(spark, cfg)
    plan = (
        detect_mentions(docs, gazetteer_rows(cfg))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_extract_path_has_no_python_udf(spark):
    from pyspark.sql import functions as F

    from entity_extractor_spark.corpus import CorpusConfig, generate_documents_df
    from entity_extractor_spark.operators import extract as X

    docs = generate_documents_df(spark, CorpusConfig(n_docs=10)).repartition(2, F.hash("doc_id"))
    parsed = X.parse_spans(X.text_spans(docs))
    winners = X.winner_docs(X.resolve_headers(parsed))
    obs = X.observations(winners, X.dedupe_chemicals(parsed))
    plan = obs._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sched_deps_superset_and_acyclic():
    """The single stage declaration is well formed: every dependency names
    a declared stage, data dependencies precede their consumer in
    STAGE_ORDER (resume invalidation walks that order), each builder takes
    exactly its declared input tables, and the scheduling edges — a
    superset of the data edges — are acyclic (the event-driven executor
    would deadlock on a cycle)."""
    import inspect

    from entity_extractor_spark.plans.pipeline import STAGE_ORDER, STAGES

    by_name = {s.name: s for s in STAGES}
    assert list(by_name) == STAGE_ORDER
    for s in STAGES:
        assert set(s.deps) <= set(s.sched_deps) <= set(by_name), s.name
        assert all(STAGE_ORDER.index(d) < STAGE_ORDER.index(s.name) for d in s.deps), s.name
        params = list(inspect.signature(s.build).parameters)
        assert params[0] == "run" and set(params[1:]) == set(s.deps), s.name

    seen: dict[str, int] = {}  # 0=visiting, 1=done

    def visit(s: str) -> None:
        if seen.get(s) == 0:
            raise AssertionError(f"cycle through {s}")
        if s in seen:
            return
        seen[s] = 0
        for d in by_name[s].sched_deps:
            visit(d)
        seen[s] = 1

    for s in STAGE_ORDER:
        visit(s)


def _partitionless_windows(df) -> list[str]:
    """Names of WindowExec-family nodes with an EMPTY partitionSpec in the
    (initial) executed plan — the 'Moving all data to a single partition'
    anti-pattern. Walks the physical tree via py4j, descending into AQE
    wrappers and reused exchanges."""
    out: list[str] = []

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        if "Window" in name and hasattr(node, "partitionSpec"):
            if node.partitionSpec().isEmpty():
                out.append(name)
        if name == "AdaptiveSparkPlanExec":
            walk(node.initialPlan())
            return
        children = node.children()
        for i in range(children.length()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


@pytest.mark.parametrize("q", ["ann_brute_topk", "ann_ivf_topk", "ann_lsh_bucketed"])
def test_ann_topk_has_no_global_window(spark, q):
    """VERDICT r1 #1: top-k must plan as distributed TakeOrderedAndProject,
    never a partitionless Window (single-task sort of the scored corpus)."""
    df = contract.Q[q](spark, SF)
    assert _partitionless_windows(df) == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_w1_window_is_partitioned(spark):
    """The per-group top-k (W1) legitimately uses a Window — but it must be
    partitioned (no global sort)."""
    df = contract.Q["w1_topk_per_group"](spark, SF)
    assert _partitionless_windows(df) == []


def test_doc_window_reuses_corpus_partitioning(spark):
    """The parsed stream is hash-partitioned on doc_id once; the header
    min-agg (groupBy doc_id) must NOT introduce another Exchange on top."""
    from pyspark.sql import functions as F

    from entity_extractor_spark.corpus import CorpusConfig, generate_documents_df
    from entity_extractor_spark.operators import extract as X

    docs = generate_documents_df(spark, CorpusConfig(n_docs=20)).repartition(
        4, F.col("doc_id")
    )
    plan = (
        X.resolve_headers(X.parse_spans(X.text_spans(docs)))
        ._jdf.queryExecution().executedPlan().toString()
    )
    # exactly the one explicit repartition exchange; the agg reuses it
    assert plan.count("Exchange") == 1, plan


def test_extract_aggs_reuse_one_narrow_exchange_and_never_shuffle_raw_text(spark):
    """The r05 scaling-gate property, pinned on the pipeline's extract
    shape: ONE explicit hash(doc_id) repartition of the NARROW parsed
    stream serves the per-doc header agg (which also carries the
    has-a-chemical flag) and the A5 chem dedupe agg (doc_id,
    chemical_name — superset key) with zero further doc_id Exchanges;
    `winners` traverses the parsed stream ONCE (no semi-join back to it);
    parse_spans itself is a pure map-side scan (no Exchange at all); and no
    exchange anywhere in the extract path carries the raw `spans`/`text`
    span stream."""
    from pyspark.sql import functions as F

    from entity_extractor_spark.corpus import CorpusConfig, generate_documents_df
    from entity_extractor_spark.operators import extract as X

    docs = generate_documents_df(spark, CorpusConfig(n_docs=20))
    plan_of = lambda df: df._jdf.queryExecution().executedPlan().toString()  # noqa: E731
    # the scan stage alone: classify+parse is exchange-free
    scan_plan = plan_of(X.parse_spans(X.text_spans(docs)))
    assert "Exchange" not in scan_plan, scan_plan

    # the pipeline's extract shape: repartition(parsed) -> winners, and
    # observations = dedupe_chemicals(parsed) joined to winners
    parsed = X.parse_spans(X.text_spans(docs)).repartition(4, F.col("doc_id"))
    winners = X.winner_docs(X.resolve_headers(parsed))
    chems = X.dedupe_chemicals(parsed)
    w_plan, c_plan = plan_of(winners), plan_of(chems)
    # winners: one traversal of parsed, no join; its only exchanges are the
    # explicit doc_id repartition and the mat_key first-wins window
    assert w_plan.count("Generate explode") == 1 and "Join" not in w_plan, w_plan
    assert w_plan.count("Exchange hashpartitioning(doc_id") == 1, w_plan
    assert w_plan.count("Exchange hashpartitioning") == 2, w_plan
    # chems: the dedupe agg reuses the one repartition exchange
    assert c_plan.count("Exchange") == 1, c_plan
    # no exchange row schema may contain the raw span stream: every
    # Exchange line of the plan must be the parsed shape, not spans/text
    for plan in (w_plan, c_plan, plan_of(X.observations(winners, chems))):
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "spans#" not in line and "text#" not in line, line
