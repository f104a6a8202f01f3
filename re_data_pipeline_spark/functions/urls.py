"""URL canonicalization + native HTML→text — crawl-pipeline hot-path ops.

The reference does both in Python (html2text in the transcript/brochure
path; ad-hoc string surgery for watch?v= URLs,
``get_edm_council_transcripts.py:122-128``).  Here both are pure JVM regex
chains — they stay inside whole-stage codegen, which matters because these
run once per *document* in a crawl pipeline (the 100 TB hot path), not once
per query.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# decode order matters: &amp; must be LAST or "&amp;lt;" double-decodes
_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")]


def html_to_text(col: Column | str) -> Column:
    """Strip HTML to readable text with native expressions (F4 upgraded
    from the pandas-UDF surface): drop script/style subtrees, strip tags,
    decode the common entities, collapse whitespace."""
    c = _c(col)
    # two passes, no backreference — keeps the pattern RE2-compatible so the
    # identical regex runs in the DuckDB oracle
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    for ent, ch in _ENTITIES:
        c = F.regexp_replace(c, ent, ch)
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def canonical_url(col: Column | str) -> Column:
    """Canonicalize a URL: lowercase scheme+host, drop default ports and
    fragments, keep the path, sort query parameters (the crawl-dedup key —
    `?b=2&a=1` and `?a=1&b=2#x` must collide)."""
    c = _c(col)
    no_frag = F.regexp_replace(c, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    # authority may be EMPTY (file:///a.txt): [^/?#]* not +, else host and
    # path both fail to match and every such URL collapses to 'scheme:///'
    # — a shared dedup key silently merging unrelated documents (the same
    # hazard the scheme-less guard below exists for)
    host = F.lower(F.regexp_extract(no_frag, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    # only the scheme's OWN default port is droppable: https://h:80 is a
    # real non-default port serving different content than https://h
    host = F.when(scheme == "http", F.regexp_replace(host, r":80$", "")).otherwise(
        F.when(scheme == "https", F.regexp_replace(host, r":443$", "")).otherwise(host)
    )
    path = F.regexp_extract(no_frag, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(no_frag, r"\?([^#]*)", 1)
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), sorted_q)),
    )
    # scheme-less / relative inputs would all collapse to ':///' — a shared
    # dedup key that silently merges unrelated documents.  Pass them through
    # untouched instead; callers decide how to resolve relative links.
    return F.when(scheme == "", F.trim(c)).otherwise(canonical)


def domain_suffixes(host: Column | str) -> Column:
    """All dot-suffix domains of a host, most-specific first:
    ``a.b.example.com`` → [a.b.example.com, b.example.com, example.com,
    com].  A blocklist rule R matches host H iff H == R or H ends with
    '.'+R — exactly membership of R in this array, which turns wildcard
    subdomain blocking (the UT1/FineWeb blocklist semantics) into a plain
    equi-join.  Array length is the host's label count (bounded ~10 by
    DNS's 253-byte name limit), so the explode fan-out is a small constant,
    not a data-scale blow-up."""
    h = _c(host)
    labels = F.split(h, r"\.")
    n = F.size(labels)
    return F.when(
        (h == "") | h.isNull(), F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.array_join(F.slice(labels, i, n - i + 1), "."),
        )
    )
