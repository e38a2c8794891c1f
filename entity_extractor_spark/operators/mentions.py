"""Stage s2 — mention detection: gazetteer keyword scan over text spans.

Reference predicate (file_analysis_service.py:68-121): a word matches
keyword k iff
  re.search((r'\\b' + re.escape(k) + r'\\b').lower(), word.lower())
  OR k.lower() in word.lower()
(the pattern string itself is lowercased after escaping — :84-87). The scan
is per whitespace word, so multi-word keywords can never match — that quirk
is preserved (and pinned by tests).

Subsumption: the regex branch matching implies the escaped literal
k.lower() occurs in word.lower() (the \\b anchors only ADD boundary
constraints around that same literal), so branch-1 ⟹ branch-2 and the whole
predicate reduces to case-insensitive substring containment. The oracle
(oracle.scan_mentions) implements BOTH branches literally and the e2e test
asserts equality, pinning this equivalence.

That reduction lets the scan run entirely JVM-side: explode spans -> words
with built-in array functions, then a broadcast join against the tiny
gazetteer dimension (S5, keywords_service.py:35-47) on a `contains`
predicate — whole-stage codegen, no Python, no Arrow transfer. Cost is
O(distinct words x keywords) vectorized character scans; gazetteers large
enough that the product matters, and matched vocabularies too large to
collect, go to an Aho-Corasick pass in mapInPandas instead (SURVEY.md §7
risk (c)) — same rows, same plumbing around it.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Above this many distinct matched words, the span-prefilter array literal
# stops being "tiny" and the prefilter is skipped (the join alone is fine).
PREFILTER_VOCAB_MAX = 512

# Matched-vocabulary collect cap (driver-memory guard): past this, the scan
# falls back to the Aho-Corasick pass (no driver collect).
MATCHED_VOCAB_MAX = 200_000

# Gazetteer size past which the O(distinct-words x keywords) substring
# theta-join loses to a single linear Aho-Corasick pass per word
# (mapInPandas, Arrow-batched). Below it, the all-JVM codegen join wins.
AC_KEYWORDS_MIN = 10_000

_MENTIONS_SCHEMA = (
    "doc_id string, span_offset int, keyword string, word string, "
    "confidence double, mtype string, word_idx int"
)


class AhoCorasick:
    """Dict-based Aho-Corasick automaton over the LOWERED keyword set.

    match(word) returns the set of lowered keywords occurring as substrings
    of the lowered word — exactly the reference predicate
    (file_analysis_service.py:83-87, reduced to substring containment; see
    module docstring). One linear pass per word replaces the
    O(words x keywords) theta-join: at gazetteer sizes >= AC_KEYWORDS_MIN
    this is the 100 TB path (SURVEY.md §7 risk (c))."""

    def __init__(self, lowered_keywords: list[str]):
        # goto as nested dicts; fail links + merged output sets (BFS build)
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[set[str]] = [set()]
        self.fail: list[int] = [0]
        for kw in lowered_keywords:
            s = 0
            for ch in kw:
                nxt = self.goto[s].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append(set())
                    self.fail.append(0)
                    nxt = len(self.goto) - 1
                    self.goto[s][ch] = nxt
                s = nxt
            self.out[s].add(kw)
        from collections import deque

        q = deque()
        for s in self.goto[0].values():
            self.fail[s] = 0
            q.append(s)
        while q:
            r = q.popleft()
            for ch, s in self.goto[r].items():
                q.append(s)
                f = self.fail[r]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[s] = self.goto[f].get(ch, 0) if self.goto[f].get(ch, 0) != s else 0
                self.out[s] |= self.out[self.fail[s]]

    def match(self, word: str) -> set[str]:
        s, hits = 0, set()
        for ch in word:
            while s and ch not in self.goto[s]:
                s = self.fail[s]
            s = self.goto[s].get(ch, 0)
            if self.out[s]:
                hits |= self.out[s]
        return hits


def detect_mentions_ac(documents: DataFrame, keywords: list[dict]) -> DataFrame:
    """Aho-Corasick mention scan: one mapInPandas pass over the span table,
    the automaton built once per partition from the (small) keyword list
    shipped in the closure. Identical output to the JVM path (equivalence
    pinned by tests); no driver collect, no vocabulary materialization —
    cost is O(total characters) regardless of gazetteer size."""
    import pandas as pd

    # lowered form -> every (original keyword, mtype) gazetteer entry
    by_lower: dict[str, list[tuple[str, str]]] = {}
    for k in keywords:
        by_lower.setdefault(k["keyword"].lower(), []).append((k["keyword"], k["mtype"]))
    lowered = sorted(by_lower)

    spans = documents.select("doc_id", F.explode("spans").alias("span")).where(
        (F.col("span.kind") == "text") & (F.col("span.text") != "")
    ).select("doc_id", F.col("span.offset").alias("span_offset"), F.col("span.text").alias("text"))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        # Java \s is ASCII-only ([ \t\n\x0B\f\r]); Python str.split() is
        # Unicode-aware. Tokenize EXACTLY like the JVM path's
        # F.split(text, r"\s+") + empty-filter so the adaptive dispatch
        # never changes output (e.g. U+00A0 stays inside a word on both).
        java_ws = re.compile("[ \\t\\n\\x0b\\f\\r]+")
        ac = AhoCorasick(lowered)
        cols = ("doc_id", "span_offset", "keyword", "word", "confidence", "mtype", "word_idx")
        for pdf in batches:
            rows: list[tuple] = []
            for doc_id, off, text in zip(pdf["doc_id"], pdf["span_offset"], pdf["text"]):
                words = (w for w in java_ws.split(text) if w != "")
                for widx, word in enumerate(words):
                    for low in ac.match(word.lower()):
                        for orig, mtype in by_lower[low]:
                            rows.append((doc_id, off, orig, word, 100.0, mtype, widx))
            yield pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(
                {c: pd.Series(dtype=o) for c, o in zip(
                    cols, ("object", "int32", "object", "object", "float64", "object", "int32"))}
            )

    return spans.mapInPandas(scan, schema=_MENTIONS_SCHEMA)


def detect_mentions(documents: DataFrame, keywords: list[dict]) -> DataFrame:
    """documents(doc_id, spans) -> mentions(doc_id, span_offset, keyword,
    word, confidence, mtype, word_idx). confidence is 100.0 (synthetic spans
    carry no OCR confidence; F3 transform = round(conf*100,2)).

    Two JVM passes, no Python in either:
      1. vocab pass — match the DISTINCT lowered word vocabulary against
         the gazetteer (vocabulary is orders of magnitude smaller than the
         word stream; the distinct() is map-side combined). The surviving
         (word, keyword) pairs are collected — keyword-dimension sized.
      2. probe pass — spans are first pruned by a codegen'd
         arrays_overlap(split(lower(text)), <matched words literal>), so
         the expensive word explode runs only over spans that can produce a
         match; survivors explode and broadcast-hash-join the matched
         pairs. O(words_of_matching_spans) hash lookups, zero substring
         scans on the stream.
    Every other input goes to detect_mentions_ac (linear automaton pass,
    no collect, same output), so there are two physical paths:
      * len(keywords) >= AC_KEYWORDS_MIN — the theta-join over the word
        vocabulary is the bottleneck;
      * matched vocabulary > MATCHED_VOCAB_MAX — the pair collect would
        blow the driver."""
    if len(keywords) >= AC_KEYWORDS_MIN:
        return detect_mentions_ac(documents, keywords)
    spark = documents.sparkSession
    kw = F.broadcast(
        spark.createDataFrame(
            [(k["keyword"], k["keyword"].lower(), k["mtype"]) for k in keywords],
            "keyword string, kw_lower string, mtype string",
        )
    )
    spans = documents.select("doc_id", F.explode("spans").alias("span")).where(
        (F.col("span.kind") == "text") & (F.col("span.text") != "")
    )

    # python str.split(): whitespace split, empties dropped; word_idx indexes
    # the non-empty tokens — filter() before posexplode reproduces that.
    def words_of(sp: DataFrame) -> DataFrame:
        return sp.select(
            "doc_id",
            F.col("span.offset").alias("span_offset"),
            F.posexplode(F.filter(F.split("span.text", r"\s+"), lambda x: x != "")).alias(
                "word_idx", "word"
            ),
        ).withColumn("word_lower", F.lower("word"))

    vocab = words_of(spans).select("word_lower").distinct()
    matched_rows = vocab.join(
        kw, F.col("word_lower").contains(F.col("kw_lower"))
    ).limit(MATCHED_VOCAB_MAX + 1).collect()
    if len(matched_rows) > MATCHED_VOCAB_MAX:
        # short/common-substring keywords matched a huge vocabulary slice:
        # skip the driver materialization and scan with the automaton
        return detect_mentions_ac(documents, keywords)
    if not matched_rows:
        return spark.createDataFrame([], _MENTIONS_SCHEMA)
    matched = F.broadcast(
        spark.createDataFrame(
            matched_rows, "word_lower string, keyword string, kw_lower string, mtype string"
        )
    )
    matched_words = sorted({r["word_lower"] for r in matched_rows})
    if len(matched_words) <= PREFILTER_VOCAB_MAX:
        # lower() the whole text THEN split: identical tokens to
        # split-then-lower (case has no whitespace), and everything stays
        # inside whole-stage codegen (no higher-order lambdas).
        spans = spans.where(
            F.arrays_overlap(
                F.split(F.lower("span.text"), r"\s+"),
                F.array(*[F.lit(x) for x in matched_words]),
            )
        )
    return (
        words_of(spans)
        .join(matched, "word_lower")
        .select(
            "doc_id",
            "span_offset",
            "keyword",
            "word",
            F.round(F.lit(1.0) * 100, 2).alias("confidence"),  # F3
            "mtype",
            "word_idx",
        )
    )
