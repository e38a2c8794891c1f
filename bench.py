"""Benchmark harness (driver contract).

Runs the headline workload on local[$SPARK_GRAFT_CPUS] against
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and prints ONE JSON
line: {"metric", "value" (total sec), "unit": "sec", "queries": {name: sec},
"sf", plus extra context keys (triples_per_sec, jobs_per_run, docs, cpus)}.

Headline = the KG-construction pipeline (BASELINE.json metric is triples/sec
end-to-end on the synthetic interleaved-doc corpus) + a representative slice
of the relational/training-data operator queries at the sf dir. Scaling
(N vs 4N executors) is measured separately by tools/bench_scaling.py.

Window robustness: every timed surface is best-of-N (e2e x3, operator
queries x2, all runs reported under "runs"/"query_runs"), and a fixed
host-ceiling probe ("probe_sec"/"probe_runs", the scaling harness's
embarrassingly parallel scan) rides along so a degraded co-tenant window is
visible inside the artifact instead of masquerading as a code regression.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# ~sf-proportional synthetic corpus: sf0.1 -> 12k interleaved docs.
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "12000"))
# Window-robustness (VERDICT r03 #3): the sandbox shares its host with
# invisible co-tenants whose load drifts over minutes — r03's driver window
# recorded the e2e pipeline ~2x slower than the same code measured minutes
# later on a quiet machine. Defense: best-of-N timed runs (min is the
# standard noise-robust estimator) + a fixed host-ceiling probe whose
# absolute time exposes a degraded window in the artifact itself.
E2E_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_E2E_REPS", "3"))
QUERY_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_QUERY_REPS", "2"))

# sf marker parsed from the dir name, e.g. ".../sf0.1" -> 0.1
def _sf(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


# Representative per-operator queries (one per SURVEY.md §2 family + the
# training-data ops). Full 32-query coverage is exercised by
# tools/check_contract.py; bench keeps the set small enough to be a fast
# feedback loop while still touching every physical pattern: scan+filter
# pushdown, broadcast join, multiway shuffle join, window top-k, groupBy agg,
# minhash UDF, ANN cosine, text scoring.
BENCH_QUERIES = [
    "j1_multiway_join_agg",
    "j2_broadcast_dim",
    "j5_link_cascade",
    "a1_group_counts",
    "w1_topk_per_group",
    "f2_keyword_match",
    "dedup_minhash",
    "dedup_simhash",
    "ann_brute_topk",
    "text_quality_score",
    # round-2 additions: degree-ordered triangle join, as-of union+window,
    # incremental new-vs-index LSH dedup, fixed-point lift term stats
    "graph_triangles",
    "w6_asof_join",
    "dedup_incremental_lsh",
    "text_distinctive_terms",
    # round-3 additions: int8-quantized integer-dot ANN (the 4x-bandwidth
    # compression path), per-doc OOV rate vs a frequency-rank vocab
    "ann_quantized_topk",
    "text_oov_rate",
    # round-3 additions (second wave): keyless bucketed range join (the
    # BNLJ-shape killer) and capped-middle common-neighbor link prediction
    # (the deliberate heavy wedge-join workload)
    "w8_range_join",
    "graph_common_neighbors",
    # round-3 additions (third wave): exact prefix-filtered set-similarity
    # join (the provably-complete dedup path) and the 3-round k-truss peel
    # (triangle-support recount per round — the heaviest graph shape here)
    "dedup_setsim_join",
    "graph_k_truss",
    # round-3 additions (fourth wave): BPE tokenization with a ranked merge
    # list — 3 literal replaces per merge fused into one codegen projection
    # over the exploded words (the tokenizer-apply hot path)
    "text_bpe_apply",
]


def _clustered_embeddings(
    spark, n: int = 2000, dims: int = 64, n_macro: int = 8,
    n_micro: int = 200, micro_spread: float = 0.35, noise: float = 0.015,
    seed: int = 7,
):
    """Deterministic HIERARCHICALLY clustered embedding corpus — the
    shape real text/image embeddings have: topical macro-clusters
    (n_macro unit-norm mixture centroids) containing near-duplicate
    micro-clusters (n_micro centroids, ~n/n_micro members each, per-dim
    noise sigma small enough that a member's nearest neighbors ARE its
    micro-cluster). Row i belongs to micro i % n_micro, micro j to macro
    j % n_macro, so the first n_macro rows (IVF's training-free coarse
    seeds) land in n_macro distinct macros and the first 16 rows (PQ's
    codebook seeds) in 16 distinct micros — the quantizers see the real
    structure, as they would after training on any clustered corpus.

    The hierarchy matters for the evaluation's falsifiability: with a
    few FAT clusters, every member's ADC code collapses to its cluster
    centroid and recall@10-vs-exact degenerates to tie-breaking among
    hundreds of equal codes — a low number that says nothing. With
    micro-clusters of ~top-k size, exact top-10 ~= the micro-cluster,
    which distinct PQ codes CAN rank — so a lossy ranker's recall here
    measures the ranker. The sf corpus stays structureless-random as
    the honest worst case."""
    import numpy as np

    rng = np.random.RandomState(seed)
    macro = rng.randn(n_macro, dims)
    macro /= np.linalg.norm(macro, axis=1, keepdims=True)
    # per-dim sigma micro_spread/sqrt(dims) => offset NORM ~ micro_spread,
    # well inside the macro's cosine basin (unit centroids)
    micro = macro[np.arange(n_micro) % n_macro] + micro_spread * rng.randn(
        n_micro, dims
    ) / np.sqrt(dims)
    micro /= np.linalg.norm(micro, axis=1, keepdims=True)
    vecs = micro[np.arange(n) % n_micro] + noise * rng.randn(n, dims)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _ann_recall_report(spark, emb, n_queries: int = 8):
    """Average recall@10 over n_queries query vectors for every lossy
    ranker, each vs ITS exact-metric counterpart (LSH/multiprobe vs exact
    cosine, int8 vs exact float dot, PQ/IVF-PQ vs exact float L2, JL-RP
    vs the unprojected int8 ranking — isolating each compression's own
    loss). Corpus-side artifacts (signatures, int8 codes, PQ encoding,
    RP projection, IVF cell assignment) are computed ONCE and cached;
    per query only probes and the tiny ADC LUT change — the batched
    serving shape."""
    import time as _time

    from pyspark.sql import functions as F

    from entity_extractor_spark.operators import similarity as SIM

    bucketed = emb.withColumn(
        "bucket", SIM.hyperplane_signature(F.col("embedding"), 64, 6)
    ).cache()
    bucketed.count()
    qids = [r[0] for r in emb.select("vec_id").orderBy("vec_id").limit(n_queries).collect()]
    t0 = _time.time()
    rec = {k: 0.0 for k in ("lsh", "multi", "quant", "pq", "rp", "ivf_pq")}
    # all query vectors in ONE job (not one scan per query)
    qvecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.where(F.col("vec_id").isin(qids))
        .select("vec_id", "embedding")
        .collect()
    }
    corpus_ma = SIM.corpus_max_abs(emb)
    coded = SIM.quantize_embeddings(emb, max_abs=corpus_ma).cache()
    coded.count()
    books = SIM.pq_codebooks(coded)
    enc = SIM.pq_encode(coded, books).cache()
    enc.count()
    proj = SIM.rp_project_coded(coded, in_dim=64, out_dim=16).cache()
    proj.count()
    # IVF coarse structure, query-independent: first-8 centroids + the
    # corpus cell assignment (the ivf_pq_topk dataflow with the
    # corpus-side pieces hoisted out of the per-query loop)
    cents = F.broadcast(
        emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
        )
    )
    ivf_assign = SIM._assign_to_cells(
        emb, cents, F.col("embedding"), "vec_id"
    ).select("vec_id", "cid").cache()
    ivf_assign.count()
    crows = cents.collect()
    for qid in qids:
        qv = qvecs[qid]
        rest = bucketed.where(F.col("vec_id") != qid)
        exact = {
            r[0]
            for r in SIM.brute_force_topk(rest, qv, "vec_id", "embedding", 10)
            .select("vec_id")
            .collect()
        }
        qsig = SIM.query_signature(qv, bits=6)
        single = {
            r[0]
            for r in SIM.brute_force_topk(
                rest.where(F.col("bucket") == qsig), qv, "vec_id", "embedding", 10
            ).select("vec_id").collect()
        }
        probes = SIM.hamming_ball(qsig, radius=1)
        multi = {
            r[0]
            for r in SIM.brute_force_topk(
                rest.where(F.col("bucket").isin(probes)), qv, "vec_id", "embedding", 10
            ).select("vec_id").collect()
        }
        rec["lsh"] += len(exact & single) / len(exact)
        rec["multi"] += len(exact & multi) / len(exact)
        qlit = F.array(*[F.lit(v) for v in qv])
        exact_dot = {
            r[0]
            for r in rest.select(
                "vec_id", SIM.dot(F.col("embedding"), qlit).alias("s")
            )
            .orderBy(F.desc("s"), F.asc("vec_id"))
            .limit(10)
            .collect()
        }
        exact_l2 = {
            r[0]
            for r in SIM.brute_force_topk(
                rest, qv, "vec_id", "embedding", 10, metric="l2"
            ).select("vec_id").collect()
        }
        q8 = SIM.quantize_query(qv, corpus_ma)
        quant = {
            r[0]
            for r in SIM.quantized_topk_coded(
                coded.where(F.col("vec_id") != qid), q8, k=10
            ).select("vec_id").collect()
        }
        pq = {
            r[0]
            for r in SIM.pq_topk_encoded(
                enc, books, q8, k=10, exclude_ids=[qid]
            ).select("vec_id").collect()
        }
        rec["quant"] += len(exact_dot & quant) / len(exact_dot)
        rec["pq"] += len(exact_l2 & pq) / len(exact_l2)
        rp = {
            r[0]
            for r in SIM.rp_topk(
                proj.where(F.col("vec_id") != qid), SIM.rp_query(q8, 16), k=10
            ).select("vec_id").collect()
        }
        rec["rp"] += len(quant & rp) / len(quant)
        # IVF-PQ: driver-side probe over the collected centroid rows, ADC
        # over the probed cells only — vs the same exact-L2 counterpart
        probe_cells = SIM.probe_cells(qv, crows, n_probe=2)
        cand = ivf_assign.where(F.col("cid").isin(probe_cells)).select("vec_id")
        ivfpq = {
            r[0]
            for r in SIM.pq_topk_encoded(
                enc.join(cand, "vec_id"), books, q8, k=10, exclude_ids=[qid]
            ).select("vec_id").collect()
        }
        rec["ivf_pq"] += len(exact_l2 & ivfpq) / len(exact_l2)
    elapsed = round(_time.time() - t0, 3)
    for df in (bucketed, coded, enc, proj, ivf_assign):
        df.unpersist()
    return {k: round(v / len(qids), 3) for k, v in rec.items()}, elapsed


def main() -> None:
    from pyspark.sql import functions as F

    from entity_extractor_spark import contract
    from entity_extractor_spark.corpus import CorpusConfig, gazetteer_rows, generate_documents_df
    from entity_extractor_spark.plans.pipeline import run_pipeline
    from entity_extractor_spark.session import get_spark

    spark = get_spark("bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    queries: dict[str, float] = {}

    # -- warmup: a tiny pipeline run triggers JIT/codegen/Arrow init so the
    # timed run measures steady-state throughput (what a long-lived cluster
    # job actually sustains), not one JVM's first-run compilation. The
    # excluded cost is reported as warmup_sec, not hidden.
    wu_dir = tempfile.mkdtemp(prefix="kg_bench_warmup_")
    t0 = time.time()
    try:
        run_pipeline(
            spark,
            generate_documents_df(spark, CorpusConfig(n_docs=300)),
            wu_dir,
            gazetteer=gazetteer_rows(CorpusConfig(n_docs=300)),
            resume=False,
        )["triples"].count()
    finally:
        shutil.rmtree(wu_dir, ignore_errors=True)
    warmup_sec = round(time.time() - t0, 3)

    # -- headline: end-to-end KG construction on the synthetic corpus --------
    # Best-of-E2E_REPS back-to-back runs: one degraded co-tenant window can
    # no longer poison the round's headline number; every run is reported.
    cfg = CorpusConfig(n_docs=N_DOCS)
    docs = generate_documents_df(spark, cfg).cache()
    n_in = docs.count()  # materialize input outside the timed window
    e2e_runs: list[float] = []
    n_triples = 0
    # Spark jobs launched by one run (the scheduler's job counter; the
    # fixed orchestration cost, independent of corpus size)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    jobs_per_run = None
    for _ in range(max(1, E2E_REPS)):
        out_dir = tempfile.mkdtemp(prefix="kg_bench_")
        try:
            t0 = time.time()
            j0 = sched.numTotalJobs()
            tables = run_pipeline(
                spark, docs, out_dir, gazetteer=gazetteer_rows(cfg), resume=False
            )
            n_triples = tables["triples"].count()
            e2e_runs.append(round(time.time() - t0, 3))
            if jobs_per_run is None:
                jobs_per_run = sched.numTotalJobs() - j0
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
    kg_sec = min(e2e_runs)
    queries["kg_pipeline_e2e"] = kg_sec
    triples_per_sec = n_triples / kg_sec if kg_sec > 0 else 0.0

    # -- host-ceiling probe: embarrassingly parallel JVM scan over the same
    # corpus (no shuffle barrier, no Python) — the same probe the scaling
    # harness uses. Its absolute time is a fixed yardstick across rounds: a
    # probe_sec far above its historical value marks the whole artifact as
    # a degraded window without needing a re-run to prove it.
    probe_df = (
        docs.select(F.explode("spans").alias("s"))
        .where("s.kind = 'text'")
        .select(F.explode(F.split("s.text", " ")).alias("w"))
    )
    probe_runs: list[float] = []
    for _ in range(max(1, E2E_REPS)):
        t0 = time.time()
        probe_df.agg(F.count(F.lit(1))).collect()
        probe_runs.append(round(time.time() - t0, 3))
    docs.unpersist()

    # -- operator queries at the sf dir --------------------------------------
    # min of QUERY_REPS runs per query, for the same window-robustness
    # reason as the e2e headline; all runs land in query_runs.
    query_runs: dict[str, list[float]] = {}
    for name in BENCH_QUERIES:
        fn = contract.Q[name]
        runs: list[float] = []
        for _ in range(max(1, QUERY_REPS)):
            t0 = time.time()
            df = fn(spark, SF_DIR)
            # force full execution without driver materialization cost
            df.agg(F.count(F.lit(1))).collect()
            runs.append(round(time.time() - t0, 3))
        query_runs[name] = runs
        queries[name] = min(runs)

    # -- ANN recall report (VERDICT r2 "recall is unmeasured"; r03 #4 "on
    # random embeddings a low number is unfalsifiable"): the same report
    # over TWO corpora — the sf embeddings (structureless random: the
    # theoretical worst case for hyperplane LSH and PQ, reported for
    # honesty) and a deterministic clustered corpus (seeded mixture
    # centroids: the shape real text/image embeddings have, where the
    # lossy rankers' pruning value actually shows). IVF-PQ recall rides
    # along on both, vs the same exact-L2 counterpart as PQ.
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    random_report, ann_recall_sec = _ann_recall_report(spark, emb)
    clustered_report, ann_recall_clustered_sec = _ann_recall_report(
        spark, _clustered_embeddings(spark)
    )

    total = round(sum(queries.values()), 3)
    print(
        json.dumps(
            {
                "metric": "kg_construct_e2e_plus_operator_suite",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": _sf(SF_DIR),
                "triples_per_sec": round(triples_per_sec, 1),
                "kg_triples": n_triples,
                "kg_docs": n_in,
                "warmup_sec": warmup_sec,
                "runs": e2e_runs,
                "jobs_per_run": jobs_per_run,
                "query_runs": query_runs,
                "probe_sec": min(probe_runs),
                "probe_runs": probe_runs,
                "ann_lsh_recall_at_10": random_report["lsh"],
                "ann_multiprobe_recall_at_10": random_report["multi"],
                "ann_quantized_recall_at_10_vs_exact_dot": random_report["quant"],
                "ann_pq_recall_at_10_vs_exact_l2": random_report["pq"],
                "ann_rp_recall_at_10_vs_int8_dot": random_report["rp"],
                "ann_ivf_pq_recall_at_10_vs_exact_l2": random_report["ivf_pq"],
                "ann_recall_report_sec": ann_recall_sec,
                "ann_lsh_recall_at_10_clustered": clustered_report["lsh"],
                "ann_multiprobe_recall_at_10_clustered": clustered_report["multi"],
                "ann_quantized_recall_at_10_vs_exact_dot_clustered": clustered_report["quant"],
                "ann_pq_recall_at_10_vs_exact_l2_clustered": clustered_report["pq"],
                "ann_rp_recall_at_10_vs_int8_dot_clustered": clustered_report["rp"],
                "ann_ivf_pq_recall_at_10_vs_exact_l2_clustered": clustered_report["ivf_pq"],
                "ann_recall_clustered_sec": ann_recall_clustered_sec,
                "cpus": CPUS,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
