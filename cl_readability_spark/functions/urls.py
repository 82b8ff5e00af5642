"""URL canonicalization + URL-level dedup — the first gate of a web
corpus pipeline (crawls see the same page under tracking-parameter,
case, port, and trailing-slash variants; URL dedup collapses them
BEFORE fetch/extraction cost is paid, and the canonical URL is the
natural key for refetch-dedup and per-site caps).

Reference parity note: the reference (atlas-engineer/cl-readability)
handles single-document URL resolution (fix-relative-urls,
url.lisp/article base handling); corpus-level URL canonicalization is
part of the training-data-pipeline extension the build brief asks for.

Canonical form (documented contract, mirrored exactly by the DuckDB
twin ``url_dedup_planted``):

1. trim; NULL/empty input → NULL canonical.
2. scheme lower-cased.
3. authority (when the URL has ``//``): host lower-cased; ONE leading
   ``www.`` stripped (when a dot remains — ``www.com`` keeps its
   host); default ports dropped (``http:80``, ``https:443``, and any
   empty ``:``); userinfo preserved verbatim.
4. path: empty path with an authority → ``/``; ONE trailing slash
   stripped when the path is longer than ``/``.
5. query: tracking parameters removed (``utm_*`` and the documented
   ad/analytics click-id set below); remaining parameters SORTED
   byte-wise (param order is almost never semantic; sorting makes
   ``?a=1&b=2`` and ``?b=2&a=1`` one key); empty query → no ``?``.
6. fragment dropped (never sent to the server).

KNOWN LIMITATIONS (documented, not silently wrong): percent-encoding
is NOT normalized (``%2F`` vs ``%2f`` stay distinct — case-mapping
inside a regex match is not expressible in a pure-JVM projection);
IDN hosts are not punycode-normalized; scheme-less inputs
(``example.com/x``) parse as bare paths and pass through unchanged
apart from fragment/query handling.  All three under-merge (keep
near-duplicates apart) — safe for dedup, never lossy.

Scale shape: ``canonicalize_url`` is ONE whole-stage-codegen
projection (regexp_extract/lower/when/split/array_sort/concat_ws —
no lambda HOFs, no python).  ``url_dedup`` selects winners with the
skew-safe ``line_dedup`` recipe (functions/dedup.py:1519): a
map-side-combinable ``groupBy(canon).agg(min(struct(id)))`` — a hot
canonical URL (a crawl with millions of copies of one page) collapses
to one slim partial row per input partition before the exchange — and
joins winners back on the UNIQUE row id, never on the content key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# RFC 3986 appendix-B split (anchored, all parts optional).
_PARTS = r"^(?:([^:/?#]+):)?(?://([^/?#]*))?([^?#]*)(?:\?([^#]*))?(?:#(.*))?"
# authority = [userinfo@] host [:port]; host may be a bracketed IPv6.
_AUTH = r"^(?:([^@]*@))?(\[[^\]]+\]|[^:]*)(?::([0-9]*))?$"
# presence of '//' distinguishes an EMPTY authority (file:///x) from an
# absent one (mailto:x@y) — regexp groups alone return '' for both.
_HAS_AUTH = r"^(?:[^:/?#]+:)?(//)"

# The documented tracking-parameter set: utm_* plus the major
# ad/analytics/email click identifiers.  Case-sensitive (these are
# emitted lower-case in the wild; parameter names are case-sensitive
# per RFC 3986).
TRACKING_PARAMS = (
    "utm_[A-Za-z0-9_]+",
    "fbclid",
    "gclid",
    "gclsrc",
    "dclid",
    "msclkid",
    "yclid",
    "igshid",
    "mc_cid",
    "mc_eid",
    "_hsenc",
    "_hsmi",
    "_ga",
    "vero_id",
    "oly_anon_id",
    "oly_enc_id",
)
_TRACK_RE = r"(?:^|&)(?:" + "|".join(TRACKING_PARAMS) + r")(?:=[^&]*)?(?=&|$)"


def canonicalize_url(
    url: Column,
    strip_www: bool = True,
    strip_tracking: bool = True,
    sort_query: bool = True,
    strip_fragment: bool = True,
    strip_trailing_slash: bool = True,
) -> Column:
    """The canonical URL string under the module-docstring contract —
    one whole-stage-codegen projection.  NULL/blank input → NULL."""
    s = F.trim(F.coalesce(url, F.lit("")))
    scheme = F.lower(F.regexp_extract(s, _PARTS, 1))
    has_auth = F.regexp_extract(s, _HAS_AUTH, 1) != ""
    rawauth = F.regexp_extract(s, _PARTS, 2)
    userinfo = F.regexp_extract(rawauth, _AUTH, 1)
    host = F.lower(F.regexp_extract(rawauth, _AUTH, 2))
    if strip_www:
        stripped = F.regexp_replace(host, r"^www\.", "")
        host = F.when(
            host.startswith("www.") & stripped.contains("."), stripped
        ).otherwise(host)
    port = F.regexp_extract(rawauth, _AUTH, 3)
    port = F.when(
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))

    path = F.regexp_extract(s, _PARTS, 3)
    path = F.when(has_auth & (path == ""), F.lit("/")).otherwise(path)
    if strip_trailing_slash:
        path = F.when(
            F.length(path) > 1, F.regexp_replace(path, "/$", "")
        ).otherwise(path)
    query = F.regexp_extract(s, _PARTS, 4)
    if strip_tracking:
        query = F.regexp_replace(query, _TRACK_RE, "")
        query = F.regexp_replace(query, r"^&+", "")
    if sort_query:
        # sort_array, not array_sort: the latter lowers to a lambda
        # comparator (CodegenFallback); sort_array is codegen-native
        query = F.array_join(
            F.sort_array(F.array_remove(F.split(query, "&"), "")), "&"
        )
    query = F.when(query == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), query)
    )

    out = F.concat(
        F.when(scheme == "", F.lit("")).otherwise(
            F.concat(scheme, F.lit(":"))
        ),
        F.when(has_auth, F.concat(F.lit("//"), userinfo, host, port)).otherwise(
            F.lit("")
        ),
        path,
        query,
        F.lit("") if strip_fragment else _frag(s),
    )
    return F.when(s == "", F.lit(None).cast("string")).otherwise(out)


def _frag(s: Column) -> Column:
    f = F.regexp_extract(s, _PARTS, 5)
    return F.when(f == "", F.lit("")).otherwise(F.concat(F.lit("#"), f))


def url_host(url: Column, strip_www: bool = True) -> Column:
    """Lower-cased host (optionally ``www.``-stripped) — the per-site
    grouping key for source caps and per-domain stats."""
    auth = F.regexp_extract(F.trim(url), _PARTS, 2)
    host = F.lower(F.regexp_extract(auth, _AUTH, 2))
    if strip_www:
        stripped = F.regexp_replace(host, r"^www\.", "")
        host = F.when(
            host.startswith("www.") & stripped.contains("."), stripped
        ).otherwise(host)
    return host


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str | None = "doc_id",
    id_cols: tuple[str, ...] | None = None,
    canon_col: str = "canon_url",
    keep_col: str = "url_keep",
    **canon_kwargs,
) -> DataFrame:
    """``df`` + ``canon_col`` (the canonical URL) + ``keep_col`` (true
    on exactly one row — the minimum row key — per canonical URL;
    NULL-canonical rows, i.e. blank URLs, are all kept: a missing URL
    is not evidence of duplication).  The row key is ``id_col`` or a
    composite ``id_cols`` tuple (lexicographic minimum) — pass exactly
    one of the two; it must uniquely key rows.

    Winner selection is the skew-safe aggregation+row-key-join recipe
    (see module docstring) — no window over the content key, no join
    keyed on it."""
    if id_cols is None:
        if id_col is None:
            raise ValueError("pass id_col or id_cols")
        keys: tuple[str, ...] = (id_col,)
    else:
        keys = tuple(id_cols)
    canon = df.withColumn(
        canon_col, canonicalize_url(F.col(url_col), **canon_kwargs)
    )
    winners = (
        canon.filter(F.col(canon_col).isNotNull())
        .groupBy(canon_col)
        .agg(F.min(F.struct(*[F.col(c) for c in keys])).alias("_w"))
        .select(*[F.col(f"_w.{c}").alias(c) for c in keys])
        .withColumn("_keep", F.lit(True))
    )
    return canon.join(winners, list(keys), "left").withColumn(
        keep_col,
        F.col(canon_col).isNull() | F.coalesce(F.col("_keep"), F.lit(False)),
    ).drop("_keep")


def domain_stats(
    df: DataFrame,
    url_col: str = "url",
    keep_col: str | None = None,
    score_col: str | None = None,
    host_col: str = "host",
    strip_www: bool = True,
) -> DataFrame:
    """Per-host corpus statistics — the aggregation side of domain-level
    filtering (RefinedWeb/C4-style: a page's trustworthiness is partly a
    property of its SITE, and per-host aggregates are the cheap signal a
    100 TB pipeline can actually afford).  One row per distinct host
    (``url_host``; rows with no extractable host are excluded — they
    carry no site evidence): ``n_docs``, plus ``n_kept``/``kept_frac``
    when ``keep_col`` names a boolean column (e.g. ``curate()``'s
    ``kept`` or ``quality_ok``) and ``mean_score`` when ``score_col``
    names a numeric one.

    Scale shape: ONE map-side-combinable groupBy on host — count/sum/avg
    all partial-aggregate, so a hot host (half the crawl on one domain)
    collapses to one slim partial row per input partition before the
    exchange; output cardinality is #hosts, orders of magnitude below
    #docs."""
    host = url_host(F.col(url_col), strip_www=strip_www)
    hosted = df.withColumn(host_col, host).filter(
        F.col(host_col).isNotNull() & (F.col(host_col) != "")
    )
    aggs = [F.count("*").alias("n_docs")]
    if keep_col is not None:
        aggs.append(
            F.sum(F.col(keep_col).cast("long")).alias("n_kept")
        )
        aggs.append(
            (F.sum(F.col(keep_col).cast("double")) / F.count("*")).alias(
                "kept_frac"
            )
        )
    if score_col is not None:
        aggs.append(F.avg(F.col(score_col)).alias("mean_score"))
    return hosted.groupBy(host_col).agg(*aggs)


def domain_gate(
    df: DataFrame,
    stats: DataFrame | None = None,
    url_col: str = "url",
    host_col: str = "host",
    keep_col: str = "domain_keep",
    min_kept_frac: float | None = None,
    min_mean_score: float | None = None,
    min_docs: int = 1,
    blocklist: DataFrame | None = None,
    strip_www: bool = True,
) -> DataFrame:
    """``df`` + ``host_col`` + ``keep_col``: false iff the row's host is
    condemned — listed in ``blocklist`` (a one-column host frame), or
    failing the ``stats`` thresholds (``min_kept_frac`` /
    ``min_mean_score``, applied only to hosts with >= ``min_docs``
    observations — thin evidence never condemns a site).  Rows with no
    extractable host are KEPT (no site evidence is not negative
    evidence), mirroring ``url_dedup``'s NULL stance.

    Scale shape: the condemned-host set is #hosts-bounded (and
    threshold-filtered far below that), so the gate join BROADCASTS it —
    a hot host never skews a shuffle because there is no shuffle; the
    big side stays in place.  ``stats`` is ``domain_stats`` output (or
    anything with ``host_col`` + the threshold columns) — compute it
    once per corpus, reuse it across gates."""
    conditions = []
    condemned = None
    if stats is not None:
        cond = F.lit(False)
        if min_kept_frac is not None:
            cond = cond | (F.col("kept_frac") < F.lit(min_kept_frac))
        if min_mean_score is not None:
            cond = cond | (F.col("mean_score") < F.lit(min_mean_score))
        condemned = (
            stats.filter(F.col("n_docs") >= F.lit(min_docs))
            .filter(cond)
            .select(host_col)
        )
    if blocklist is not None:
        bl = blocklist.select(F.col(blocklist.columns[0]).alias(host_col))
        condemned = bl if condemned is None else condemned.unionByName(bl)
    if condemned is None:
        raise ValueError("pass stats (with thresholds) and/or blocklist")
    condemned = (
        condemned.distinct().withColumn("_condemned", F.lit(True))
    )
    hosted = df.withColumn(
        host_col, url_host(F.col(url_col), strip_www=strip_www)
    )
    return hosted.join(
        F.broadcast(condemned), host_col, "left"
    ).withColumn(
        keep_col, ~F.coalesce(F.col("_condemned"), F.lit(False))
    ).drop("_condemned")
