"""URL canonicalization — the key-normalization layer under web-scale
dedup and partitioning.

Exact-dup url keys, hash(url) bucketing, and domain salting all assume
one url string per logical resource; raw crawl urls violate that
(scheme/host case, default ports, fragments, trailing '?', '/index.html'
tails). ``canonical_url`` is a deterministic, engine-portable rewrite
chain (pure regexp_replace steps, identical in the DuckDB oracle — no
URL library whose version could drift).

Steps, in order (each a single anchored regex):
1. lowercase the scheme://host prefix (path case is significant, host
   case is not);
2. drop the fragment (#…);
3. drop default ports — ``:80`` on http and ``:443`` on https only,
   anchored to the authority (a ``:80`` inside the path is untouched);
4. drop a bare trailing '?';
5. strip one trailing '/' — including the root slash, so
   ``scheme://host`` is the canonical root form;
6. drop a trailing '/index.html' (directory-default tail; running after
   the slash strip makes '/a/index.html/' canonicalize in one pass).

``host_of``/``path_of`` expose the pieces; ``url_rule_verdicts`` is
the UT1-style blocklist filter over them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "canonical_url",
    "with_canonical_url",
    "CANON_STEPS_SQL",
    "EDGE_URLS",
    "HOST_RE",
    "PATH_RE",
    "BLOCK_RULES",
    "BLOCK_FIXTURE_URLS",
    "host_of",
    "path_of",
    "url_rule_verdicts",
    "url_dedup",
]

# Edge-case corpus exercising every rewrite step (and the anchoring
# regressions). Single source of truth: tests/test_urlkit.py pins the
# expected canonical forms, and __spark_entry__'s url_canonical query +
# DuckDB oracle both take their input rows from this list.
EDGE_URLS: list[str] = [
    "HTTPS://Example.COM/Path/Page",
    "http://example.com:80/a",
    "https://example.com:443/a?q=1",
    "https://example.com:8443/a",
    "https://example.com/a#frag",
    "https://example.com/a?",
    "https://example.com/dir/index.html",
    "https://example.com/a/",
    "https://example.com/",
    "https://example.com/a?x=1&y=2",
    "https://example.com/story:80/page",
    "http://example.com:443/a",
    "https://example.com/a/index.html/",
    "http://example.com:80/a:80/b",
]

# (pattern, replacement) pairs applied in order; the DuckDB chain is
# DERIVED from this list (single source of truth). Port rules are
# anchored to the authority and scheme-conditional (:443 is NOT a
# default for http); trailing-slash strip runs BEFORE the index.html
# rule so '/a/index.html/' canonicalizes in one pass (idempotence).
_STEPS: list[tuple[str, str]] = [
    (r"#.*$", ""),                                       # fragment
    (r"^(http://[^/:?#]*):80(/|\?|$)", r"$1$2"),          # default http port
    (r"^(https://[^/:?#]*):443(/|\?|$)", r"$1$2"),        # default https port
    (r"\?$", ""),                                         # bare trailing ?
    (r"([^/])/$", r"$1"),                                 # trailing slash
    (r"/index\.html?$", ""),                              # directory default
]


def canonical_url(col: Column) -> Column:
    """Deterministic canonical form of a url string column."""
    # lowercase the scheme://host prefix (everything before the first
    # '/', '?' or '#' after '://'); path/query case is preserved
    scheme_host = F.regexp_extract(col, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    tail = F.substring(col, F.length(scheme_host) + F.lit(1), F.lit(1 << 20))
    out = F.concat(F.lower(scheme_host), tail)
    for pat, rep in _STEPS:
        out = F.regexp_replace(out, pat, rep)
    return out


def with_canonical_url(df: DataFrame) -> DataFrame:
    return df.withColumn("canonical_url", canonical_url(F.col("url")))


# DuckDB chain mirroring canonical_url, as a SQL expression over {c}.
def CANON_STEPS_SQL(c: str) -> str:
    expr = (
        f"concat(lower(regexp_extract({c}, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)), "
        f"substring({c}, length(regexp_extract({c}, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) + 1))"
    )
    for pat, rep in _STEPS:
        # derived from _STEPS: only group syntax differs ($1 → \1);
        # DuckDB standard strings keep backslashes literal (no doubling);
        # 'g' flag matches Spark's replace-all semantics
        duck_rep = rep.replace("$", "\\")
        expr = f"regexp_replace({expr}, '{pat}', '{duck_rep}', 'g')"
    return expr


# anchored, RE2/Java-portable URL piece extractors (kernel-is-spec:
# the DuckDB oracle applies the SAME pattern strings)
HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"
PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)"

# Deterministic deny rules + fixture urls for the driver query (the
# EDGE_URLS precedent: single source of truth, inlined into BOTH the
# Spark query and the DuckDB oracle). (domain, path_prefix, category);
# path_prefix None = the whole domain and every subdomain.
BLOCK_RULES: list[tuple[str, str | None, str]] = [
    ("site03.example", None, "blocklist"),
    ("ads.example", None, "ads"),
    ("tracker.example", None, "tracking"),
    ("site01.example", "/casino", "gambling"),
]
BLOCK_FIXTURE_URLS: list[str] = [
    "https://cdn.ads.example/banner/1",     # subdomain of a deny rule
    "https://ads.example/x",                # exact domain hit
    "https://sub.site03.example/page/9",    # subdomain hit
    "https://site01.example/casino/slots",  # path-prefix hit
    "https://site01.example/news/1",        # clean: domain ok, path ok
    "https://broadside.example/a",          # clean: 'side...' is not 'site...'
    "https://user:pw@tracker.example:8080/t?x=1#f",  # userinfo+port+query
]


def host_of(col: Column) -> Column:
    """Lowercased authority host of a url (userinfo and port stripped)."""
    return F.lower(F.regexp_extract(col, HOST_RE, 1))


def path_of(col: Column) -> Column:
    """Path component of a url ('' for bare scheme://host)."""
    return F.regexp_extract(col, PATH_RE, 1)


def url_rule_verdicts(
    urls: DataFrame, rules: DataFrame
) -> DataFrame:
    """UT1/RefinedWeb-style URL blocklist filter (Penedo et al. 2023
    §3.1 filter documents from a curated deny list of domains plus
    URL path rules; the UniToulouse blocklist is the standard public
    instance). ``rules`` is a (domain, path_prefix, category) frame: a
    url is DENIED when any dot-suffix of its host equals a rule's
    domain (so ``ads.example`` catches ``cdn.ads.example``) and the
    rule's path_prefix, if non-null, prefixes the url path.

    Returns the compact HIT LIST — (url, category) per denied distinct
    url, category = lexicographic min across matching rules — NOT the
    annotated input: callers compose ``pages.join(hits, 'url',
    'left_anti')`` so page PAYLOADS never ride through this operator's
    shuffles (the house payload rule). '' hosts (unparseable urls)
    produce no suffixes and are never denied — route those through the
    P6-style valid/invalid split instead.

    Scale shape (10^10 urls, 10^6-10^7 rules): host/path extraction and
    the suffix expansion are scan-local staged projections (suffix
    fan-out = label count, ~3-6); rules broadcast (a 5M-domain deny
    list is ~100 MB — the standard broadcast-join regime; beyond that,
    shuffle-join the exploded short frame on the suffix key); the only
    shuffle is the per-url min-category aggregation, carrying (url,
    category) shorts with map-side partials.

    DuckDB oracle: `q: url_rules` (BLOCK_RULES + BLOCK_FIXTURE_URLS
    inlined on both sides).
    """
    staged = urls.select(F.col("url").alias("url")).select(
        "url",
        host_of(F.col("url")).alias("_host"),
        path_of(F.col("url")).alias("_path"),
    )
    # stage the label split: referenced three times below (sequence
    # bound, slice, size) — Catalyst has no logical CSE
    labeled = staged.select(
        "url", "_path", F.split(F.col("_host"), r"\.").alias("_labels")
    )
    sufs = F.transform(
        F.sequence(F.lit(0), F.size("_labels") - F.lit(1)),
        lambda i: F.array_join(
            F.slice(F.col("_labels"), i + F.lit(1), F.size("_labels")), "."
        ),
    )
    ex = (
        labeled.select(
            "url", "_path", F.explode_outer(sufs).alias("_suf")
        )
        .filter(F.col("_suf").isNotNull())
    )
    return (
        ex.join(
            F.broadcast(
                rules.select(
                    F.col("domain").alias("_suf"),
                    "path_prefix",
                    "category",
                )
            ),
            "_suf",
        )
        .filter(
            F.col("path_prefix").isNull()
            | F.col("_path").startswith(F.col("path_prefix"))
        )
        .groupBy("url")
        .agg(F.min("category").alias("category"))
    )


def url_dedup(pages: DataFrame) -> DataFrame:
    """Canonical-URL exact dedup — the crawl-side dedup stage that runs
    BEFORE fetch/extraction ever sees a byte (Common-Crawl-style
    frontier hygiene): group rows by :func:`canonical_url` and elect
    the lexicographically smallest raw url as the group's canonical
    representative. ``https://Example.COM/a?`` and
    ``http://example.com:80/a`` collapse to one fetch.

    Output: (canonical_url, n_urls, kept_url) — one row per distinct
    canonical form. Compose ``pages.join(out.select('kept_url'),
    pages.url == kept_url, 'left_semi')`` to keep one page per
    resource.

    Scale shape: canonicalization is a scan-local regexp chain; the
    election is ONE groupBy on the canonical string (urls are short
    keys — the house payload rule is about html/text, which never
    enters this operator) with map-side partial min/count.

    DuckDB oracle: `q: dd_url_dedup` (CANON_STEPS_SQL — the chain is
    DERIVED from the same _STEPS list).
    """
    return (
        pages.select(F.col("url").alias("url"))
        .select("url", canonical_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.min("url").alias("kept_url"),
        )
    )
