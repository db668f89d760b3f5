"""Web-corpus URL hygiene: canonicalization.

A web-scale KG ingest keys everything on the URL — dedup, provenance
fusion (entity_resolution.fuse_triples weights sources), per-site
crawl budgeting — and raw crawl URLs are noisy: scheme/host case,
default ports, ``www.`` aliases, tracking parameters, unsorted query
strings, and fragments all split one logical page across many keys.
Canonicalizing BEFORE those joins is what keeps the downstream
shuffles keyed on the true page identity.

Everything here is JVM-side Column algebra (regexp_extract / split /
array_sort / array_join) with lookahead-free regexes, so a DuckDB
twin computes the identical canonical string — the q190 contract
verifies the full normalization byte-for-byte cross-engine.

Deviations, documented: ``www.`` is stripped (exactly one leading
label); the registrable domain is the last two host labels — a
heuristic standing in for the Public Suffix List (which is an
external artifact this environment cannot ship); ``co.uk``-style
suffixes therefore collapse to the suffix itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Query parameters that never affect page identity (analytics /
#: click-attribution state). Any exact key in this list is dropped,
#: as is any key with the ``utm_`` prefix.
TRACKING_PARAMS = [
    "fbclid",
    "gclid",
    "msclkid",
    "mc_eid",
    "igshid",
    "ref",
    "ref_src",
]

# Lookahead-free (Java regex and DuckDB RE2 agree): scheme://host
# [:port][/path...][?query][#fragment]. Query excludes '#', so the
# fragment never leaks into it; path runs to the first '?' or '#'.
_URL_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/:?#]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$"


def _canon_query(query: Column) -> Column:
    """Drop tracking params, sort the rest codepoint-wise, rejoin.

    Empty after filtering -> empty string (no bare '?').
    """
    parts = F.split(query, "&")
    kept = F.filter(
        parts,
        lambda p: (p != "")
        & ~F.split(p, "=").getItem(0).startswith("utm_")
        & ~F.split(p, "=").getItem(0).isin(*TRACKING_PARAMS),
    )
    return F.array_join(F.array_sort(kept), "&")


def canonicalize_urls(df: DataFrame) -> DataFrame:
    """Append ``scheme``, ``host``, ``reg_domain`` and ``canon_url``
    to every row; non-URL-shaped values yield NULLs (kept, not
    dropped — the caller decides whether malformed rows are errors).

    Rules (each one a pure Column expression, no UDF):

    * scheme and host lowercased; a single leading ``www.`` label and
      a trailing host dot stripped,
    * default ports dropped (``:80`` for http, ``:443`` for https),
      non-default ports kept,
    * empty path -> ``/``; the fragment is always dropped,
    * query: tracking params removed (``utm_*`` prefix +
      :data:`TRACKING_PARAMS`), survivors sorted codepoint-wise and
      rejoined — parameter ORDER never splits a page key again.

    Narrow projection, no shuffle: canonicalization is a map-only
    stage, so it composes with any downstream keyed op at zero extra
    exchanges, and the regexes live inside WholeStageCodegen.
    """
    u = F.trim(F.col("url"))
    scheme = F.lower(F.regexp_extract(u, _URL_RE, 1))
    host0 = F.lower(F.regexp_extract(u, _URL_RE, 2))
    host1 = F.regexp_replace(host0, r"\.$", "")
    host = F.regexp_replace(host1, r"^www\.", "")
    port = F.regexp_extract(u, _URL_RE, 3)
    path0 = F.regexp_extract(u, _URL_RE, 4)
    rawq = F.regexp_extract(u, _URL_RE, 5)

    is_url = scheme != ""
    keep_port = (
        (port != "")
        & ~((scheme == F.lit("http")) & (port == F.lit(":80")))
        & ~((scheme == F.lit("https")) & (port == F.lit(":443")))
    )
    path = F.when(path0 == "", F.lit("/")).otherwise(path0)
    query = _canon_query(F.regexp_replace(rawq, r"^\?", ""))

    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, port).otherwise(F.lit("")),
        path,
        F.when(query != "", F.concat(F.lit("?"), query)).otherwise(
            F.lit("")
        ),
    )
    # last two labels ~ registrable domain (PSL-less heuristic, see
    # module docstring); single-label hosts pass through unchanged
    reg = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    reg = F.when(reg == "", host).otherwise(reg)
    return df.select(
        "*",
        F.when(is_url, scheme).alias("scheme"),
        F.when(is_url, host).alias("host"),
        F.when(is_url, reg).alias("reg_domain"),
        F.when(is_url, canon).alias("canon_url"),
    )
