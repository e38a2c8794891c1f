def test_winner_docs_key_exclusion_and_chemical_flag(spark):
    """Existing material keys (MERGE) make every doc with that key lose, a
    doc without a chemical line never competes, and the lowest doc_id wins
    each remaining key."""
    from entity_extractor_spark.operators import extract as X

    headers = spark.createDataFrame(
        [
            ("doc-00000001", "Acme Glue", "Acme", "c", "us", True),
            ("doc-00000002", "Acme Glue", "Acme", "c", "us", True),
            ("doc-00000003", "Other Thing", "Beta", "c", "us", True),
            ("doc-00000004", "Other Thing", "Beta", "c", "us", True),
            ("doc-00000000", "Other Thing", "Beta", "c", "us", False),
            ("doc-00000005", "No Chem", "Gamma", "c", "us", False),
        ],
        "doc_id string, display_name string, manufacturer_name string,"
        " manufacturer_city string, manufacturer_country string, has_chem boolean",
    )
    existing = spark.createDataFrame([("acmeglue\x1fAcme",)], "mat_key string")
    got = X.winner_docs(headers, existing)
    assert "has_chem" not in got.columns
    assert {(r["doc_id"], r["display_name"]) for r in got.collect()} == {
        ("doc-00000003", "Other Thing")
    }
    fresh = {r["doc_id"] for r in X.winner_docs(headers).collect()}
    assert fresh == {"doc-00000001", "doc-00000003"}


def test_parse_spans_adversarial_layouts_match_sequential_replay(spark):
    """The r05 agg-based extract (parse_spans -> resolve_headers /
    dedupe_chemicals) must reproduce the reference's SEQUENTIAL semantics
    (first header by offset; per-doc dict-update last-wins chem dedupe
    keeping first-occurrence position) on adversarial span layouts the
    seeded corpus never generates: chem lines BEFORE the header, multiple
    headers, triple-duplicated names, empty chem names, decoy spans that
    pass the substring prefilter but fail the regex, and chem-only docs."""
    import re

    from pyspark.sql import Row

    from entity_extractor_spark.operators import extract as X

    H = "{n} manufactured by {m}, City, Country"
    C = "{n} CAS {cas} {w}% {t} src={s}"
    docs = {
        # chem at lower offset than header; duplicate name x3 (values from
        # LAST, position of FIRST); a second, later header that must lose
        "doc-a": [
            (0, C.format(n="Formaldehyde", cas="50-00-0", w="1.0", t="PFAS", s="EPA")),
            (2, H.format(n="Glue One", m="Acme")),
            (3, C.format(n="Formaldehyde", cas="50-00-0", w="2.0", t="NO_PFAS", s="NONE")),
            (5, C.format(n="Formaldehyde", cas="-", w="3.5", t="PENDING", s="ECHA")),
            (7, H.format(n="Glue Two", m="Beta")),
        ],
        # decoys: substring prefilter hits, regex must reject; plus an
        # EMPTY chem name (the lazy group matches "")
        "doc-b": [
            (0, "this text mentions manufactured by nobody"),  # no comma tail
            (1, H.format(n="Solvent", m="Gamma")),
            (2, "we talk about CAS numbers here"),  # no COMP shape
            (4, C.format(n="", cas="64-17-5", w="9.9", t="PFAS", s="VAI")),
        ],
        # chem-only doc: parsed, then excluded by the header semi-join
        "doc-c": [
            (0, C.format(n="Ethanol", cas="64-17-5", w="5.0", t="PENDING", s="NONE")),
        ],
        # header-only doc: survives headers, contributes no chems
        "doc-d": [(0, H.format(n="Dry Product", m="Delta"))],
    }
    rows = [
        Row(doc_id=d, spans=[
            Row(kind="text", text=t, media_ref="", offset=o) for o, t in sp
        ])
        for d, sp in docs.items()
    ]
    df = spark.createDataFrame(rows)
    parsed = X.parse_spans(X.text_spans(df))
    headers = X.resolve_headers(parsed)
    chems = X.dedupe_chemicals(parsed).join(headers.select("doc_id"), "doc_id", "left_semi")

    # sequential replay with the same regexes (the reference control flow)
    want_headers, want_chems = {}, {}
    for d, sp in docs.items():
        byname = {}
        for off, t in sorted(sp):
            if d not in want_headers and " manufactured by " in t and re.search(X.HEADER_RE, t):
                want_headers[d] = re.search(X.HEADER_RE, t).group(1)
            m = re.search(X.COMP_RE, t) if " CAS " in t else None
            if m:
                prev = byname.get(m.group(1))
                byname[m.group(1)] = (
                    prev[0] if prev else off,  # first position
                    m.group(2), m.group(3), m.group(4), m.group(5),  # last values
                )
        if d in want_headers:
            want_chems[d] = byname

    got_h = {r["doc_id"]: r["material_name"] for r in headers.collect()}
    assert got_h == want_headers  # doc-a: Glue One; doc-c absent
    # the same per-doc agg flags docs with >= 1 chemical line
    assert {r["doc_id"]: r["has_chem"] for r in headers.collect()} == {
        "doc-a": True, "doc-b": True, "doc-d": False,
    }
    got_c = {
        (r["doc_id"], r["chemical_name"]): (r["seq"], r["cas_number"], r["weight_percent"], r["tag"], r["source"])
        for r in chems.collect()
    }
    want_c = {}
    for d, byname in want_chems.items():
        for name, (seq, cas, w, t, s) in byname.items():
            cas = None if cas.strip() in ("", "-") else cas.strip()
            want_c[(d, name)] = (seq, cas, w, t, s)
    assert got_c == want_c
    # the planted adversarial facts, stated explicitly:
    assert got_c[("doc-a", "Formaldehyde")] == (0, None, "3.5", "PENDING", "ECHA")
    assert ("doc-c", "Ethanol") not in got_c  # no header -> whole doc dropped
    assert ("doc-b", "") in got_c  # empty-name line parses on both engines
