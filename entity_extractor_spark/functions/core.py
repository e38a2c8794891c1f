"""Scalar column functions (SURVEY.md §2.6 F1-F13) — all JVM-side built-ins
so they stay inside whole-stage codegen; no Python in the hot path.

Each function cites the reference behavior it reproduces.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def norm_name(col: Column) -> Column:
    """F1 — canonical entity key: replace(lower(x),' ','').

    reference: global_node_repository.py:25-34 (same expression is used in
    every normalized-name predicate, :109,:146-149)."""
    return F.regexp_replace(F.lower(col), " ", "")


def flatten_polygon(col: Column) -> Column:
    """F4 — [[{x,y},...]] -> [x1,y1,x2,y2,...] (file_analysis_service.py:96-101)."""
    return F.flatten(F.transform(col, lambda p: F.array(p["x"], p["y"])))


def display_name(name: Column, product_no: Column, upc: Column) -> Column:
    """F5 — material display name: name + ' (product_no)' + ' (upc)' with
    each parenthesized part included only when non-blank.

    reference: combine_material_name, artifact_ingestor_service.py:725-742."""
    part = lambda c: F.when(  # noqa: E731
        c.isNotNull() & (F.trim(c) != ""), F.concat(F.lit(" ("), c, F.lit(")"))
    ).otherwise(F.lit(""))
    return F.concat(name, part(product_no), part(upc))


def cas_trim_or_null(col: Column) -> Column:
    """F6 — cas_no.strip() if cas_no else None; '-' placeholder and blank
    both mean missing (artifact_ingestor_service.py:1035-1039)."""
    t = F.trim(col)
    return F.when(col.isNull() | (t == "") | (t == "-"), F.lit(None)).otherwise(t)


def b64_id(col: Column) -> Column:
    """F7 — identity key = base64(utf8(x)) (utils/encoding.py:9-13). Spark's
    base64 inserts no line breaks, matching python base64.b64encode."""
    return F.base64(F.encode(col, "utf-8"))


def strip_json_fences(col: Column) -> Column:
    """F9 (part 1) — strip leading ```/```json and trailing ``` markdown
    fences around an extraction payload
    (artifact_ingestor_service.py:770-777: the raw completion text is
    fence-stripped before json.loads into MSDSAnalysis)."""
    return F.regexp_replace(
        F.regexp_replace(col, r"^\s*```(json)?\s*", ""), r"\s*```\s*$", ""
    )


# MSDSAnalysis-shaped payload schema (dto/msds_openai_response.py:7-25 +
# dto/chemical_dto.py:21-29, reduced to the fields the pipeline consumes).
MSDS_JSON_SCHEMA = (
    "material_name string, product_number string, manufacturer_name string, "
    "chemicals array<struct<chemical_name string, cas_no string, weight bigint>>"
)


def parse_msds_json(col: Column) -> Column:
    """F9 (part 2) — schema-on-read parse of the fence-stripped payload
    (artifact_ingestor_service.py:770-777 json.loads -> pydantic validate;
    from_json nulls malformed rows instead of raising, the set-at-a-time
    analog of the reference's per-doc failure record)."""
    return F.from_json(strip_json_fences(col), MSDS_JSON_SCHEMA)


def container_relative_path(url: Column, container: str) -> Column:
    """F8 — container-relative blob path with query/fragment re-attach
    (file_analysis_service.py:255-266; utils/azure_blob_storage.py:69-79):
    strip scheme+host+'/<container>/' from the path, keep '?query' and
    '#fragment' when present."""
    rel = F.regexp_replace(
        F.parse_url(url, F.lit("PATH")), f"^/{container}/", ""
    )
    q = F.parse_url(url, F.lit("QUERY"))
    frag = F.parse_url(url, F.lit("REF"))
    return F.concat(
        rel,
        F.coalesce(F.concat(F.lit("?"), q), F.lit("")),
        F.coalesce(F.concat(F.lit("#"), frag), F.lit("")),
    )


def entity_id(node_type: Column, key1: Column, key2: Column) -> Column:
    """Deterministic entity id. The reference mints uuid4 ids
    (artifact_ingestor_service.py:997,1016,1065); opaque ids with no join
    semantics beyond identity. We derive them from the identity key instead
    so distributed runs are reproducible and idempotent re-ingest is a no-op
    MERGE. Format: '<type>:<sha1(key1|key2)>'."""
    return F.concat_ws(
        ":",
        node_type,
        F.sha1(F.concat_ws("\x1f", F.coalesce(key1, F.lit("")), F.coalesce(key2, F.lit("")))),
    )


def url_canonical_host(url: Column) -> Column:
    """Canonical host of an http(s) URL: lowercased, `www.` prefix and
    any `:port` stripped — the key a crawl curator groups by for
    host-level stats, politeness and reputation scoring. Regex-based
    (Java/RE2 common subset, the PII-scan convention) rather than
    parse_url so any ANSI engine replays it verbatim."""
    hostport = F.lower(
        F.regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    host = F.element_at(F.split(hostport, ":"), 1)
    return F.when(
        host.like("www.%"), F.substring(host, 5, 1_000_000)
    ).otherwise(host)


def url_canonicalize(url: Column) -> Column:
    """Canonical form of an http(s) URL — the normalization EVERY
    crawl-dedup pass needs before exact hashing (otherwise
    `HTTP://WWW.X.COM/a/?b=1&utm_source=feed` and `http://x.com/a?b=1`
    count as two documents and the host stats double):

      * scheme + host lowercased, `www.` stripped
      * default ports dropped (http:80, https:443); real ports kept
      * fragment dropped (never sent to the server)
      * trailing path slashes trimmed; empty path -> '/'
      * query params: empties and tracking params (utm_*, gclid,
        fbclid, msclkid, mc_eid) dropped, the rest SORTED and
        rejoined — param order never changes the resource

    Assumes well-formed absolute http(s) URLs (a crawl frontier's
    contract); built entirely from regexp/split/sort column ops in the
    Java/RE2 common regex subset, so the whole normalization is
    codegen'd, zero-shuffle, and replayable on any ANSI engine. The
    param filter is a HOF over a handful of elements, not a hot loop.
    """
    scheme = F.lower(
        F.regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    hostport = F.lower(
        F.regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    host = url_canonical_host(url)
    port = F.when(
        hostport.contains(":"), F.element_at(F.split(hostport, ":"), 2)
    ).otherwise(F.lit(""))
    keep_port = (
        (port != "")
        & ~((scheme == F.lit("http")) & (port == F.lit("80")))
        & ~((scheme == F.lit("https")) & (port == F.lit("443")))
    )
    path_raw = F.regexp_extract(
        url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    path_trim = F.regexp_replace(path_raw, "/+$", "")
    path = F.when(path_trim == "", F.lit("/")).otherwise(path_trim)
    # the query must come from the PRE-fragment prefix: a '?' inside the
    # fragment ('/p#sec?x=1') is fragment content, not a query string
    pre_frag = F.split(url, "#", 2).getItem(0)
    query_raw = F.regexp_extract(pre_frag, "\\?(.*)", 1)
    # literal prefix tests, NOT LIKE: '_' is the LIKE single-char
    # wildcard, so like('utm_%') would also drop 'utmost=', 'utmx=' ...
    kept = F.filter(
        F.split(query_raw, "&"),
        lambda x: (x != "")
        & ~x.startswith("utm_")
        & ~x.startswith("gclid=")
        & ~x.startswith("fbclid=")
        & ~x.startswith("msclkid=")
        & ~x.startswith("mc_eid="),
    )
    q = F.array_join(F.array_sort(kept), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )
