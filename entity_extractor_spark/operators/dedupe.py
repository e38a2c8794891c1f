"""Deduplication operators for large-scale training-data pipelines.

All hashing is derived from md5/sha2 built-ins (JVM-side, codegen'd) so the
operators are deterministic across executors AND reproducible by any ANSI
engine (the DuckDB oracle in __spark_entry__ runs the same formulas).

Scale design:
  * exact dedupe — one hash-groupBy; map-side combine, no skew concern;
  * MinHash+LSH — shingle explode is a narrow map; the only shuffle is the
    (doc, hash_id) min-agg (algebraic => partial agg) and the band-bucket
    self-join (bucket ids are ~uniform because they're md5 prefixes);
  * SimHash — explode(words) x explode(64 bits) stays narrow; the bit-vote
    sum is algebraic;
  * embedding near-dup — see similarity.py.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MERSENNE = (1 << 61) - 1


def _mh_const(kind: str, i: int) -> int:
    """60-bit md5-derived minhash coefficient (odd/nonzero for 'a' so no
    slot degenerates to a constant map). Derived, not chosen: any engine
    (or auditor) can rebuild the family from the seed strings."""
    v = int(hashlib.md5(f"mh:{kind}:{i}".encode()).hexdigest()[:15], 16)
    return (v | 1) if kind == "a" else v


def minhash_consts_sql(num_hashes: int = 16) -> str:
    """The (hash_id, a, b) coefficient table as a SQL VALUES clause —
    ONE source of truth for the oracle side (interpolated into the DuckDB
    replays), generated from the same _mh_const the Spark side uses."""
    rows = ", ".join(
        f"({i}, {_mh_const('a', i)}, {_mh_const('b', i)})"
        for i in range(num_hashes)
    )
    return f"(VALUES {rows}) consts(hash_id, a, b)"


def _shingles(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """word n-gram shingles, distinct per doc. n=1 -> distinct tokens."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    if n == 1:
        sh = F.array_distinct(toks)
    else:
        sh = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )
        )
    return df.withColumn("shingle", F.explode(sh))


def _hash48(col) -> F.Column:
    """Deterministic 48-bit integer from a string via md5 (first 12 hex
    digits) — portable to any engine with md5 + hex parsing. 48 bits keeps
    (a*x+b) below 2^63 for the minhash permutations (no overflow on either
    engine)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def _fold_shift(t, s: int):
    """t * 2^s mod (2^61-1) for t < 2^56, without overflowing BIGINT:
    split t at bit 61-s — the low part shifts cleanly into 61 bits, the
    high part wraps around (Mersenne: 2^61 ≡ 1 mod p). Result < 2^61 +
    2^(s-5), i.e. NOT fully reduced; callers fold the final sum."""
    if s == 0:
        return t
    low = t.bitwiseAND(F.lit((1 << (61 - s)) - 1)) * F.lit(1 << s)
    return low + F.shiftrightunsigned(t, 61 - s)


def _mersenne_axb(x, a1, a0, b):
    """(a*x + b) mod (2^61-1) in PURE BIGINT codegen, bit-identical to
    the DECIMAL(38,0)/HUGEINT formulation the DuckDB oracles replay
    (same number, different arithmetic — unit-gated equal on random
    inputs). a is pre-split by the caller as a = a1*2^31 + a0
    (a < 2^61, so a1 < 2^30, a0 < 2^31); x < 2^48 splits here at bit
    24. The four partial products are <= 2^55, each shifted into place
    via _fold_shift, the sum (< 2^63, ANSI-safe) folded twice and
    conditionally reduced. Why: BigDecimal math allocates per
    operation, and this runs once per (shingle x hash slot) — the
    hottest expression in the dedup family; the long-only form measures
    ~2.5x faster warm on 10M rows."""
    p = F.lit(_MERSENNE)
    x1 = F.shiftrightunsigned(x, 24)
    x0 = x.bitwiseAND(F.lit((1 << 24) - 1))
    t = (
        _fold_shift(a1 * x1, 55)
        + _fold_shift(a1 * x0, 31)
        + _fold_shift(a0 * x1, 24)
        + a0 * x0
    )
    r = t.bitwiseAND(p) + F.shiftrightunsigned(t, 61)
    r = r + b
    r = r.bitwiseAND(p) + F.shiftrightunsigned(r, 61)
    return F.when(r >= p, r - p).otherwise(r).cast("long")


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedupe: content hash -> group size + canonical keeper (min id)."""
    return (
        df.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keeper"))
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, shingle_n: int = 2
) -> DataFrame:
    """(doc_id, hash_id, minhash) — h_i(x) = (a_i*x + b_i) mod (2^61-1)
    over 48-bit shingle hashes, with 60-bit md5-derived coefficients
    (_mh_const), computed so the modulus actually WRAPS.

    Why the wide coefficients matter: the family originally used tiny
    a_i = 2i+3 — then a_i*x + b_i < 2^54 never reaches the 2^61-1
    modulus, every h_i is MONOTONE in x, and all slots pick the same
    argmin shingle. The 16 "permutations" were one permutation: slot
    agreement between two docs was 16 or 0 (never in between, exposed by
    er_threshold_sweep's degenerate one-point curve), and LSH banding
    had no amplification — a J=0.1 pair became a candidate with
    probability 0.1 instead of ~band_count * J^band_size, i.e. ~250x
    the false-candidate volume at corpus scale. With 60-bit a_i the map
    wraps ~2^47 times across the x range, the slots are pairwise
    independent, and banding recovers its S-curve. Coefficients are
    md5-derived (not hand-picked), exported to the DuckDB oracles via
    minhash_consts_sql — one source of truth for both engines. The
    2^108 product overflows BIGINT, so the oracle runs it in HUGEINT;
    the Spark side computes the SAME value in pure BIGINT via the
    Mersenne split-multiply fold (_mersenne_axb — BigDecimal math
    allocates per op and this is the hottest expression in the dedup
    family; ~2.5x faster warm, unit-gated bit-equal to the DECIMAL
    formulation)."""
    sh = _shingles(df.select(F.col(id_col).alias("doc_id"), text_col), text_col, shingle_n)
    sh = sh.withColumn("x", _hash48(F.col("shingle")))
    a1_arr = F.array(
        *[F.lit(_mh_const("a", i) >> 31) for i in range(num_hashes)]
    )
    a0_arr = F.array(
        *[
            F.lit(_mh_const("a", i) & ((1 << 31) - 1))
            for i in range(num_hashes)
        ]
    )
    b_arr = F.array(*[F.lit(_mh_const("b", i)) for i in range(num_hashes)])
    hashed = sh.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("hash_id"),
        "x",
    ).withColumn(
        "hv",
        _mersenne_axb(
            F.col("x"),
            F.element_at(a1_arr, F.col("hash_id") + 1),
            F.element_at(a0_arr, F.col("hash_id") + 1),
            F.element_at(b_arr, F.col("hash_id") + 1),
        ),
    )
    return hashed.groupBy("doc_id", "hash_id").agg(F.min("hv").alias("minhash"))


def _band_buckets(signatures: DataFrame, band_size: int) -> DataFrame:
    """(doc_id, band, bucket): md5 of each band's ordered minhash run —
    the unit of LSH blocking, shared by the self-join (lsh_candidate_pairs)
    and the incremental new-vs-index join (incremental_lsh_matches)."""
    banded = signatures.withColumn("band", (F.col("hash_id") / band_size).cast("int"))
    return banded.groupBy("doc_id", "band").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("hash_id", "minhash"))),
                    lambda s: s["minhash"].cast("string"),
                ),
                "|",
            )
        ).alias("bucket")
    )


def pairs_from_buckets(buckets: DataFrame) -> DataFrame:
    """(doc1 < doc2) candidate pairs from a (doc_id, band, bucket) table —
    the one definition of the bucket self-join, shared by the batch path
    (lsh_candidate_pairs) and the streaming gate (streaming/dedup.py)."""
    a = buckets.select("band", "bucket", F.col("doc_id").alias("doc1"))
    b = buckets.select("band", "bucket", F.col("doc_id").alias("doc2"))
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )


def lsh_candidate_pairs(
    signatures: DataFrame, band_size: int = 4
) -> DataFrame:
    """Band the signature (rows of (doc_id, hash_id, minhash)), bucket-join:
    docs sharing any band bucket become candidate pairs (doc1 < doc2)."""
    return pairs_from_buckets(_band_buckets(signatures, band_size))


def lsh_bucket_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 2,
) -> DataFrame:
    """The PERSISTENT LSH index of a corpus: (doc_id, band, bucket). Write
    this once per snapshot (partitioned/bucketed by (band, bucket)); daily
    ingests then dedup against it via incremental_lsh_matches without ever
    re-shingling the old corpus."""
    return _band_buckets(
        minhash_signatures(df, id_col, text_col, num_hashes, shingle_n), band_size
    )


def incremental_lsh_matches(
    new_df: DataFrame,
    index_buckets: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 2,
) -> DataFrame:
    """(new_id, index_id) near-dup candidates of a NEW batch against an
    EXISTING corpus index — the incremental form of near-dedup that makes
    daily ingest tractable at 100 TB: the old corpus is never re-shingled,
    re-hashed or re-paired; cost is O(|new batch|) hashing plus one
    equi-join on (band, bucket) whose right side prunes to the buckets the
    new batch actually touches (a bucketed/partitioned index table makes
    that join shuffle-free on the index side). Same (num_hashes, band_size,
    shingle_n) MUST be used as when the index was built — same guarantee
    surface as the batch self-join path (lsh_candidate_pairs)."""
    nb = lsh_bucket_table(new_df, id_col, text_col, num_hashes, band_size, shingle_n)
    return (
        nb.select("band", "bucket", F.col("doc_id").alias("new_id"))
        .join(
            index_buckets.select("band", "bucket", F.col("doc_id").alias("index_id")),
            ["band", "bucket"],
        )
        .select("new_id", "index_id")
        .distinct()
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over distinct tokens; output as a 64-char '0/1' string
    (portable). Bit b of token t = bit (b%4) of hex digit (b/4) of md5(t);
    each token votes +1/-1 per bit; bit set iff the vote sum is positive."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
        ).alias("tok"),
    ).withColumn("h", F.md5(F.col("tok")))
    bits = toks.select(
        "doc_id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bit"),
    ).withColumn(
        "digit",
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.col("h"), (F.col("bit") / 4).cast("int") + 1, 1),
        )
        - 1,
    ).withColumn(
        "vote",
        F.when(
            F.expr("(CAST(digit / CAST(pow(2, bit % 4) AS INT) AS INT)) % 2 = 1"), 1
        ).otherwise(-1),
    )
    votes = bits.groupBy("doc_id", "bit").agg(F.sum("vote").alias("v"))
    return votes.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bit", "v"))),
                lambda s: F.when(s["v"] > 0, "1").otherwise("0"),
            ),
            "",
        ).alias("simhash64")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    shingle_n: int = 2,
    threshold: float = 0.2,
    max_group_size: int | None = 10_000,
) -> DataFrame:
    """Pairwise n-gram Jaccard within groups (blocking column keeps the
    self-join from going quadratic over the whole corpus; at scale the
    blocking key is an LSH bucket from lsh_candidate_pairs).

    Guard: the self-join is quadratic WITHIN each group, so a coarse
    blocking key (e.g. `language` on a 100 TB corpus) would silently go
    n². Any group larger than max_group_size fails the job loudly (lazy,
    executor-side assert — no extra driver action); pass None only when
    the blocking key is already a bounded bucket."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    if shingle_n == 1:
        sh = F.array_distinct(toks)
    else:
        sh = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(toks) - shingle_n, F.lit(0))),
                lambda i: F.array_join(F.slice(toks, i + 1, shingle_n), " "),
            )
        )
    s = df.select(
        F.col(id_col).alias("doc_id"), F.col(group_col).alias("grp"), sh.alias("sh")
    )
    if max_group_size is not None:
        sizes = s.groupBy("grp").agg(F.count(F.lit(1)).alias("_gsz"))
        guard = F.assert_true(
            F.col("_gsz") <= F.lit(max_group_size),
            F.concat(
                F.lit("ngram_jaccard_pairs: blocking group "),
                F.col("grp").cast("string"),
                F.lit(
                    f" exceeds max_group_size={max_group_size}; the within-"
                    "group self-join would go quadratic — block on LSH "
                    "buckets (lsh_candidate_pairs) or raise the limit "
                    "explicitly"
                ),
            ),
        )
        # assert_true is NULL on pass, raises on fail; the grp-keyed count
        # join reuses the same shuffle key the pair join needs anyway.
        s = s.join(sizes, "grp").where(guard.isNull()).drop("_gsz")
    a = s.select(F.col("doc_id").alias("doc1"), "grp", F.col("sh").alias("sh1"))
    b = s.select(F.col("doc_id").alias("doc2"), "grp", F.col("sh").alias("sh2"))
    pairs = a.join(b, "grp").where(F.col("doc1") < F.col("doc2"))
    jac = F.round(
        F.size(F.array_intersect("sh1", "sh2"))
        / F.size(F.array_distinct(F.concat("sh1", "sh2"))).cast("double"),
        6,
    )
    return pairs.select("doc1", "doc2", jac.alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


def dedup_canonical(pairs: DataFrame, ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Collapse near-dup PAIRS into canonical clusters: connected components
    over the pair graph (graph.py adaptive CC — union-find / large-small-star
    by size), keeper = numeric-min doc of each component,
    singletons keep themselves. Output (doc_id, keeper, is_dup).

    This is the step that turns any pair generator (LSH, SimHash radius,
    embedding near-dup) into the actual "drop these rows" decision — dup
    CHAINS (a~b, b~c) collapse to ONE keeper even when a,c were never a
    candidate pair. Numeric order is preserved under the string CC by
    fixed-width zero-padding the ids (lex == numeric), so the keeper is the
    smallest doc id, engine-independently."""
    from .graph import connected_components

    # Order-preserving fixed-width encoding for the FULL bigint range:
    # bias by 2^63 into [0, 2^64-1] (always non-negative — a bare '-' would
    # break lexicographic order), then zero-pad to 20 digits (lpad TRUNCATES
    # overlong input, so a narrower pad would silently corrupt ids on a
    # 10^13+-doc corpus).
    _BIAS = F.lit("9223372036854775808").cast("decimal(20,0)")  # 2^63
    pad = lambda c: F.lpad(  # noqa: E731
        (c.cast("decimal(20,0)") + _BIAS).cast("decimal(20,0)").cast("string"), 20, "0"
    )
    unpad = lambda c: (c.cast("decimal(21,0)") - _BIAS).cast("bigint")  # noqa: E731
    e = pairs.select(pad(F.col("doc1")).alias("src"), pad(F.col("doc2")).alias("dst"))
    comps = connected_components(e)
    return (
        ids.select(F.col(id_col).alias("doc_id"))
        .withColumn("_k", pad(F.col("doc_id")))
        .join(comps.withColumnRenamed("vertex", "_k"), "_k", "left")
        .select(
            "doc_id",
            unpad(F.coalesce(F.col("component"), F.col("_k"))).alias("keeper"),
        )
        .withColumn("is_dup", F.col("keeper") != F.col("doc_id"))
    )


def dedup_paragraphs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep_regex: str = r"\n",
    join_sep: str = "\n",
) -> DataFrame:
    """Corpus-wide exact paragraph dedup, first-occurrence-wins (the C4 /
    RefinedWeb boilerplate-removal step: a paragraph that appears anywhere
    earlier in the corpus is dropped from every later document):
    (id, text, n_kept) with `text` reassembled from the kept paragraphs in
    original order. Docs whose every paragraph was dropped (or that had no
    non-blank paragraphs) have no output row — same semantics as the
    oracle's join.

    "First" is the total order (doc id, paragraph index), so the result is
    a pure function of the corpus — partition/retry-invariant.

    Scale shape: NO join and NO window over the paragraph key. The keeper
    of each distinct paragraph is min(struct(id, idx)) — an algebraic agg
    with map-side partial combine, so a boilerplate paragraph duplicated
    10^8 times collapses to one row per map task before the shuffle (a
    window PARTITION BY para would ship the hot paragraph's whole mass to
    one task). The kept rows ARE the agg output (one per distinct
    paragraph), so reassembly is just one more doc-keyed agg: two
    exchanges total for corpus-wide dedup."""
    paras = df.select(
        F.col(id_col).alias("_d"),
        F.posexplode(F.split(F.col(text_col), sep_regex)).alias("_idx", "_para"),
    ).where(F.trim(F.col("_para")) != "")
    keepers = paras.groupBy("_para").agg(
        F.min(F.struct(F.col("_d").alias("d"), F.col("_idx").alias("idx"))).alias("kp")
    )
    kept = keepers.select(
        F.col("kp.d").alias("_d"), F.col("kp.idx").alias("_idx"), "_para"
    )
    return (
        kept.groupBy("_d")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_idx").alias("idx"), F.col("_para").alias("p")))
            ).alias("arr")
        )
        .select(
            F.col("_d").alias(id_col),
            F.array_join(F.transform(F.col("arr"), lambda s: s["p"]), join_sep).alias(
                "text"
            ),
            F.size("arr").cast("long").alias("n_kept"),
        )
    )


def fuzzy_match_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    group_col: str,
    max_dist: int = 2,
    max_group_size: int | None = 10_000,
) -> DataFrame:
    """Edit-distance candidate pairs within blocking groups: every
    (id1 < id2) pair in a group whose names are within `max_dist`
    Levenshtein edits — typo-tolerant entity matching, the classic ER
    move the reference's EXACT normalized-name linker (J6,
    extract.py link path) cannot make: 'Acme Corp' vs 'Acme Corp.' vs
    'Acme Cor' all land in one candidate set here. Levenshtein is a
    pure integer recurrence both engines implement identically, so the
    pairs (and distances) are cross-engine exact — no float similarity
    to round.

    Same scale contract as ngram_jaccard_pairs: the self-join is
    quadratic WITHIN each group, so blocking must bound the group (LSH
    buckets, normalized-prefix keys); any group past max_group_size
    fails loudly via the executor-side assert rather than silently
    going n². The group-count guard join reuses the exact shuffle key
    the pair join needs anyway. Names are compared as-is — normalize
    (norm_name) upstream; NULL ids/names/groups are dropped."""
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")
    s = df.select(
        F.col(id_col).alias("_id"),
        F.col(name_col).alias("_nm"),
        F.col(group_col).alias("grp"),
    ).where(
        F.col("_id").isNotNull()
        & F.col("_nm").isNotNull()
        & F.col("grp").isNotNull()
    )
    if max_group_size is not None:
        sizes = s.groupBy("grp").agg(F.count(F.lit(1)).alias("_gsz"))
        guard = F.assert_true(
            F.col("_gsz") <= F.lit(max_group_size),
            F.concat(
                F.lit("fuzzy_match_pairs: blocking group "),
                F.col("grp").cast("string"),
                F.lit(
                    f" exceeds max_group_size={max_group_size}; the within-"
                    "group self-join would go quadratic — use a tighter "
                    "blocking key or raise the limit explicitly"
                ),
            ),
        )
        s = s.join(sizes, "grp").where(guard.isNull()).drop("_gsz")
    a = s.select(F.col("_id").alias("id1"), "grp", F.col("_nm").alias("name1"))
    b = s.select(F.col("_id").alias("id2"), "grp", F.col("_nm").alias("name2"))
    return (
        a.join(b, "grp")
        .where(F.col("id1") < F.col("id2"))
        .withColumn(
            "dist", F.levenshtein("name1", "name2").cast("long")
        )
        .where(F.col("dist") <= max_dist)
        .select("grp", "id1", "id2", "name1", "name2", "dist")
    )


def set_similarity_join(
    df: DataFrame,
    id_col: str,
    item_col: str,
    threshold_ppm: int = 500_000,
    max_prefix_df: int | None = 100_000,
) -> DataFrame:
    """Exact Jaccard-threshold set-similarity self-join via prefix
    filtering (Chaudhuri/Ganti/Kaushik 2006, the PPJoin family): every
    (id1 < id2) pair of item SETS with Jaccard >= threshold_ppm/1e6,
    reported with exact intersection/union sizes and the floor-ppm
    Jaccard. The EXACT counterpart of lsh_candidate_pairs: LSH trades
    recall for a bounded join, this keeps recall 1.0 while still
    bounding the join — the right tool when a dedup/ER decision must be
    provably complete (benchmark decontamination, legal holds) rather
    than probably so. The reference resolves entity aliases only by
    exact normalized-name equality (chemical_service.py link path);
    this is the set-valued generalization.

    Prefix-filter completeness: order each set by ascending GLOBAL item
    frequency (ties on the item value — one total order shared by both
    join sides); two sets with Jaccard >= t must share an item among
    each one's first n - ceil(t*n) + 1 items under any common total
    order, so candidates = pairs sharing a PREFIX item that also pass
    the size filter t * max(n1, n2) <= min(n1, n2). Verification counts
    the true intersection for candidates only; the final threshold
    compare is inter * 1e6 >= t_ppm * union — pure BIGINT, no float.

    Scale shape: the frequency-ascending order puts the RAREST items in
    prefixes, so hub items (stopwords, boilerplate SKUs) drop out of
    candidate generation everywhere except sets where nothing rarer
    exists; candidate volume is sum over PREFIX items of df^2, not over
    all items. The max_prefix_df guard fails loudly (executor-side
    assert) when a prefix item would still explode the self-join —
    raise the threshold or pre-drop hub items — instead of silently
    going quadratic. One distinct + one frequency agg + one per-set
    window rank (partitioned by id — never global), then equi-joins
    with algebraic counts; no driver-side data path.
    """
    from pyspark.sql import Window

    denom = 1_000_000
    if not (0 < threshold_ppm <= denom):
        raise ValueError("threshold_ppm must be in (0, 1000000]")
    t = (
        df.select(F.col(id_col).alias("_id"), F.col(item_col).alias("_it"))
        .where(F.col("_id").isNotNull() & F.col("_it").isNotNull())
        .distinct()
    )
    freq = t.groupBy("_it").agg(F.count(F.lit(1)).alias("_df"))
    ranked = t.join(freq, "_it").select(
        "_id",
        "_it",
        "_df",
        F.row_number().over(Window.partitionBy("_id").orderBy("_df", "_it")).alias("_rk"),
        F.count(F.lit(1)).over(Window.partitionBy("_id")).alias("_n"),
    )
    # prefix length n - ceil(t*n) + 1 on the integer grid
    prefix = ranked.where(
        F.col("_rk")
        <= F.col("_n") - F.expr(f"({threshold_ppm} * _n + {denom - 1}) DIV {denom}") + 1
    )
    if max_prefix_df is not None:
        guard = F.assert_true(
            F.col("_df") <= F.lit(max_prefix_df),
            F.concat(
                F.lit("set_similarity_join: prefix item "),
                F.col("_it").cast("string"),
                F.lit(
                    f" has document frequency above max_prefix_df={max_prefix_df};"
                    " the candidate self-join would explode — raise the threshold,"
                    " pre-drop hub items, or raise the limit explicitly"
                ),
            ),
        )
        prefix = prefix.where(guard.isNull())
    a = prefix.select(F.col("_id").alias("id1"), "_it", F.col("_n").alias("n1"))
    b = prefix.select(F.col("_id").alias("id2"), "_it", F.col("_n").alias("n2"))
    cand = (
        a.join(b, "_it")
        .where(F.col("id1") < F.col("id2"))
        .where(F.expr(f"least(n1, n2) * {denom} >= {threshold_ppm} * greatest(n1, n2)"))
        .select("id1", "id2", "n1", "n2")
        .distinct()
    )
    t1 = t.select(F.col("_id").alias("id1"), "_it")
    t2 = t.select(F.col("_id").alias("id2"), "_it")
    inter = (
        cand.join(t1, "id1")
        .join(t2, ["id2", "_it"])
        .groupBy("id1", "id2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn("uni", F.col("n1") + F.col("n2") - F.col("inter"))
        .where(F.col("inter") * denom >= F.lit(threshold_ppm) * F.col("uni"))
        .select(
            "id1",
            "id2",
            "n1",
            "n2",
            "inter",
            "uni",
            F.expr(f"inter * {denom} DIV uni").alias("jac_ppm"),
        )
    )


def minhash_agreement(
    signatures: DataFrame, pairs: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """Score candidate pairs by minhash slot agreement — (doc1, doc2,
    agree, est_jaccard_ppm) where agree counts equal slots and
    est_jaccard_ppm = agree * 10^6 div num_hashes is the standard
    unbiased Jaccard estimate on the ppm grid (exact integer arithmetic,
    engine-portable). This is the cheap verify step between LSH candidate
    generation and an exact-Jaccard or edit-distance confirm: signatures
    are num_hashes BIGINTs per doc regardless of document size, so
    scoring a pair costs O(num_hashes) instead of re-reading two
    documents. Feed the scores to er_metrics.threshold_sweep to pick the
    accept threshold at a measured precision.

    Scale shape: two hash equi-joins on the pair endpoints (each a
    signature fetch) + one algebraic agg keyed by the pair; candidates
    from LSH are ~linear in corpus size, so this never materializes
    anything quadratic. Requires the slot-independent signature family
    (see minhash_signatures): with correlated slots the agreement
    collapses to {0, num_hashes} and estimates nothing."""
    s1 = signatures.select(
        F.col("doc_id").alias("doc1"), "hash_id", F.col("minhash").alias("_m1")
    )
    s2 = signatures.select(
        F.col("doc_id").alias("doc2"), "hash_id", F.col("minhash").alias("_m2")
    )
    return (
        pairs.select("doc1", "doc2")
        .join(s1, "doc1")
        .join(s2, ["doc2", "hash_id"])
        .groupBy("doc1", "doc2")
        .agg(
            F.sum(F.when(F.col("_m1") == F.col("_m2"), 1).otherwise(0))
            .cast("long")
            .alias("agree")
        )
        .withColumn(
            "est_jaccard_ppm",
            F.expr(f"agree * 1000000 DIV {int(num_hashes)}"),
        )
    )


def _pow_chain(start: str, mult: str, k: int, div_op: str) -> str:
    """Unrolled integer-ppm power chain: start * mult^(k-1) with a floor
    division back to the ppm grid after every multiply — the ONE
    generator both the Spark expressions and the DuckDB oracle replays
    use (div_op = 'DIV' for Spark SQL, '//' for DuckDB), so the lossy
    floor sequence is bit-identical by construction on both engines."""
    e = start
    for _ in range(k - 1):
        e = f"(({e}) * ({mult})) {div_op} 1000000"
    return e


def lsh_factorizations(num_hashes: int) -> list[tuple[int, int]]:
    """All (bands, rows_per_band) splits of a signature: b * r == n."""
    return [
        (b, num_hashes // b) for b in range(1, num_hashes + 1)
        if num_hashes % b == 0
    ]


def lsh_curve_exprs(
    num_hashes: int, bucket_ppm: int, div_op: str
) -> list[tuple[int, int, str, str]]:
    """Per factorization (bands, rows, jr_sql, rep_sql) over a histogram
    row exposing `bucket`: rep = bucket midpoint in ppm, jr = rep^rows on
    the floor-ppm grid. Shared by lsh_curve (Spark) and the contract
    oracle (DuckDB) — one source of truth for the arithmetic."""
    # an exact-duplicate pair (J = 10^6) lands in the top bucket whose
    # midpoint would overshoot the grid — cap the representative at 10^6
    rep = f"least(bucket * {bucket_ppm} + {bucket_ppm // 2}, 1000000)"
    return [
        (b, r, _pow_chain(rep, rep, r, div_op), rep)
        for b, r in lsh_factorizations(num_hashes)
    ]


def lsh_curve(
    pairs: DataFrame,
    jac_col: str,
    num_hashes: int = 16,
    bucket_ppm: int = 50_000,
) -> DataFrame:
    """The banding design report for a minhash signature: for every way
    to split num_hashes slots into (bands x rows_per_band) and every
    observed-similarity bucket, the probability that a pair at that
    similarity becomes an LSH candidate, and how many of THESE pairs
    would:

        (bands, rows_per_band, jac_bucket_ppm, n_pairs,
         p_collision_ppm, expected_candidate_pairs)

    p = 1 - (1 - J^r)^b is the textbook S-curve (MMDS ch.3) — but
    evaluated on the caller's OWN pair-similarity distribution, not in
    the abstract: feed it the exact Jaccards of labeled/sampled pairs
    (set_similarity_join output, or an audit sample) and read off which
    factorization catches the near-dup mass while starving the noise.
    This is the design-time companion to er_metrics.threshold_sweep
    (which calibrates AFTER candidates exist) and the reason
    minhash_signatures' slot independence matters: a correlated family
    has no S-curve to tune (p degrades to J itself regardless of
    banding).

    All arithmetic is unrolled floor-ppm integer chains (J^r and
    (1-J^r)^b as repeated multiply-then-div-10^6), generated by the SAME
    helper the DuckDB oracle interpolates — engine-exact by construction,
    no float pow. Scale shape: pairs collapse to the per-bucket histogram
    first (one map-side-combinable agg); the curve itself is
    |factorizations| x |buckets| rows of literal arithmetic over that
    tiny table (a UNION ALL of codegen'd projections, no join, no
    window). expected counts run in DECIMAL(38,0): 10^12 pairs x ppm
    overflows BIGINT."""
    if num_hashes < 1 or bucket_ppm < 2 or 1_000_000 % bucket_ppm:
        raise ValueError(
            "lsh_curve: num_hashes >= 1 and bucket_ppm must divide 10^6"
        )
    hist = (
        pairs.select(
            F.expr(f"CAST({jac_col} DIV {int(bucket_ppm)} AS BIGINT)").alias(
                "bucket"
            )
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .localCheckpoint()
    )
    out = None
    for b, r, jr, rep in lsh_curve_exprs(num_hashes, bucket_ppm, "DIV"):
        q = _pow_chain("1000000 - _jr", "1000000 - _jr", b, "DIV")
        branch = (
            hist.withColumn("_jr", F.expr(jr))
            .select(
                F.lit(b).cast("long").alias("bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
                F.expr(rep).cast("long").alias("jac_bucket_ppm"),
                "n_pairs",
                F.expr(f"CAST(1000000 - ({q}) AS BIGINT)").alias(
                    "p_collision_ppm"
                ),
                "_jr",
            )
            .withColumn(
                "expected_candidate_pairs",
                F.expr(
                    "CAST(CAST(n_pairs AS DECIMAL(38,0)) * p_collision_ppm"
                    " DIV 1000000 AS BIGINT)"
                ),
            )
            .drop("_jr")
        )
        out = branch if out is None else out.unionByName(branch)
    return out


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    shingle_n: int = 2,
    threshold_ppm: int = 0,
    max_group_size: int | None = 10_000,
) -> DataFrame:
    """Pairwise ASYMMETRIC shingle containment within blocking groups —
    the other half of Broder's resemblance paper that symmetric Jaccard
    cannot express: an excerpt, a quoted passage, or a boilerplate-
    wrapped copy has LOW Jaccard against its source (the union is
    dominated by the bigger doc) but containment ~1 of the smaller doc
    in the larger. That asymmetry is exactly what a curation pass needs
    to kill quote-inclusion and template-wrapped duplicates that
    ngram_jaccard_pairs' threshold lets through.

    Output per (doc1 < doc2) pair in a group:
        (doc1, doc2, n_sh1, n_sh2, inter,
         cont1_ppm = inter * 10^6 div n_sh1,   # doc1 inside doc2
         cont2_ppm = inter * 10^6 div n_sh2)   # doc2 inside doc1
    kept when max(cont1_ppm, cont2_ppm) >= threshold_ppm. All exact
    BIGINT arithmetic on the ppm grid (no round(double) — bit-stable on
    any engine). Docs with FEWER than shingle_n tokens (including
    empty/whitespace text) are below the metric's resolution — they
    have no true n-shingle, and the whole-text fallback shingle the
    Jaccard sibling uses would score a one-word excerpt 0 against its
    source, silently passing the very duplicate class this operator
    exists to catch — so they are EXCLUDED before pairing; run a
    shingle_n=1 (token-containment) pass to cover sub-n docs.

    Same scale discipline as ngram_jaccard_pairs: the self-join is
    quadratic WITHIN a group, so groups above max_group_size fail
    loudly executor-side (block on LSH buckets from lsh_candidate_pairs
    at corpus scale); the intersection is array arithmetic on the
    already-joined pair rows — the shingle sets never shuffle
    separately."""
    if type(threshold_ppm) is not int or not (0 <= threshold_ppm <= 1_000_000):
        raise ValueError(
            "containment_pairs: threshold_ppm must be an int in [0, 10^6]"
        )
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    if shingle_n == 1:
        sh = F.array_distinct(toks)
    else:
        sh = F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(0), F.greatest(F.size(toks) - shingle_n, F.lit(0))
                ),
                lambda i: F.array_join(F.slice(toks, i + 1, shingle_n), " "),
            )
        )
    s = (
        df.where(F.trim(F.lower(F.col(text_col))) != "")
        .where(F.size(toks) >= shingle_n)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(group_col).alias("grp"),
            sh.alias("sh"),
        )
        .where(F.size("sh") >= 1)
    )
    if max_group_size is not None:
        sizes = s.groupBy("grp").agg(F.count(F.lit(1)).alias("_gsz"))
        guard = F.assert_true(
            F.col("_gsz") <= F.lit(max_group_size),
            F.concat(
                F.lit("containment_pairs: blocking group "),
                F.col("grp").cast("string"),
                F.lit(
                    f" exceeds max_group_size={max_group_size}; the within-"
                    "group self-join would go quadratic — block on LSH "
                    "buckets (lsh_candidate_pairs) or raise the limit "
                    "explicitly"
                ),
            ),
        )
        s = s.join(sizes, "grp").where(guard.isNull()).drop("_gsz")
    a = s.select(F.col("doc_id").alias("doc1"), "grp", F.col("sh").alias("sh1"))
    b = s.select(F.col("doc_id").alias("doc2"), "grp", F.col("sh").alias("sh2"))
    pairs = a.join(b, "grp").where(F.col("doc1") < F.col("doc2"))
    out = pairs.select(
        "doc1",
        "doc2",
        F.size("sh1").cast("long").alias("n_sh1"),
        F.size("sh2").cast("long").alias("n_sh2"),
        F.size(F.array_intersect("sh1", "sh2")).cast("long").alias("inter"),
    ).select(
        "doc1",
        "doc2",
        "n_sh1",
        "n_sh2",
        "inter",
        F.expr("inter * 1000000 div n_sh1").alias("cont1_ppm"),
        F.expr("inter * 1000000 div n_sh2").alias("cont2_ppm"),
    )
    return out.where(
        F.greatest("cont1_ppm", "cont2_ppm") >= F.lit(threshold_ppm)
    )


def duplicate_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_len: int = 30,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring duplicate coverage (the ExactSubstr dedup of Lee
    et al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): mark, per document, every character position covered by a
    `gram_len`-char substring that also occurs in at least `min_docs`
    distinct documents, and merge those positions into maximal duplicated
    spans — (id, n_spans, dup_chars, dup_ppm, spans_csv). The per-doc
    coverage ratio is the signal that drives span-level cut-or-drop
    decisions in an LM training pipeline; MinHash/SimHash (above) judge
    whole documents, this finds the duplicated BYTES inside otherwise-
    unique documents (licence boilerplate, quoted posts, templated
    footers). The reference dedupes only node names on exact equality
    (global_node_repository.py:171-187); it has no notion of partial
    text reuse.

    Semantics: a position p in doc d is duplicated iff the gram
    text[p, p+gram_len) occurs in >= min_docs DISTINCT docs (d itself
    counts — so min_docs=2 means "appears in at least one other doc";
    a substring repeated only within one doc does not fire). Overlapping
    or touching covered intervals [p, p+L) merge into maximal spans
    (sweep-line reuse of temporal.interval_coalesce). dup_ppm =
    dup_chars * 1e6 div length(text) on the exact ppm grid. Docs with no
    duplicated gram (or shorter than gram_len) have no output row — the
    absent-row semantics every oracle join in this file uses. spans_csv
    is "start-end" (0-based, end-exclusive) joined by ";" in offset
    order, per the sorted-CSV doctrine.

    Scale shape: the explode is one row per character position — the
    honest cost of exact-substring discovery (Lee et al. pay the same in
    suffix-array construction). Three design choices keep it Spark-sane
    at corpus scale: (1) grams shuffle as 48-bit md5 integers (_hash48),
    8 bytes instead of gram_len bytes, and the hash is replayed
    bit-identically by the DuckDB oracle so a collision (p ~ n^2/2^49,
    deterministic) can never split the gate; (2) the distinct-doc count
    pre-collapses on (gram, doc) so a gram repeated 10^4 times inside one
    template doc adds ONE row past the map side; (3) the repeated-gram
    set comes back as an equi-JOIN against the position table, never a
    collect or a window over the gram key, so a boilerplate gram in 10^8
    docs is join skew AQE can split, not one task's collect_list. The
    per-doc interval merge partitions by doc id — bounded by doc length.
    For a true 100 TB corpus a suffix-array sort (one global sort of
    position-tagged grams) trades the join for a range exchange; the
    join form wins while the repeated-gram table fits a shuffle, and is
    the one Catalyst can prune and AQE can re-plan.
    """
    from .temporal import interval_coalesce

    L = int(gram_len)
    if L < 2:
        raise ValueError("gram_len must be >= 2")
    pos = (
        df.where(F.length(text_col) >= L)
        .select(F.col(id_col).alias("_d"), F.col(text_col).alias("_t"))
        .select(
            "_d",
            F.explode(F.sequence(F.lit(0), F.length("_t") - L)).alias("off"),
            "_t",
        )
        .select(
            "_d",
            "off",
            _hash48(F.col("_t").substr(F.col("off") + 1, F.lit(L))).alias("g"),
        )
    )
    rep = (
        pos.groupBy("g", "_d")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= int(min_docs))
        .select("g")
    )
    hits = pos.join(rep, "g").select(
        "_d", F.col("off").alias("s"), (F.col("off") + L).alias("e")
    )
    spans = interval_coalesce(hits, "_d", "s", "e")
    rolled = spans.groupBy("_d").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).cast("long").alias("dup_chars"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("span_start").alias("s"), F.col("span_end").alias("e")
                        )
                    )
                ),
                lambda r: F.concat_ws("-", r["s"].cast("string"), r["e"].cast("string")),
            ),
            ";",
        ).alias("spans_csv"),
    )
    return rolled.join(
        df.select(F.col(id_col).alias("_d"), F.length(text_col).alias("_n")), "_d"
    ).select(
        F.col("_d").alias(id_col),
        "n_spans",
        "dup_chars",
        F.expr("dup_chars * 1000000 div _n").alias("dup_ppm"),
        "spans_csv",
    )
