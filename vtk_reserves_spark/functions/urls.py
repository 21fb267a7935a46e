"""URL analysis expressions for crawl curation — pure Catalyst.

Web-scale corpus pipelines partition, deduplicate and quota BY DOMAIN
(per-domain caps are how CC-derived datasets control site dominance),
so these run as JVM expressions at scan speed: no Python, no UDFs.
Every function has an exact SQL closed form for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from vtk_reserves_spark.functions.psl_data import (
    EXACT_2,
    EXACT_3,
    EXCEPTIONS_2,
    EXCEPTIONS_3,
    WILDCARD_PARENTS_1,
    WILDCARD_PARENTS_2,
    WILDCARD_PARENTS_3,
)

#: kept name for back-compat: the exact 2-label public suffixes known
#: to the snapshot (see psl_data.py for the full rule set).
MULTI_PART_SUFFIXES = EXACT_2

_URL_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*):\/\/([^\/?#]*)([^?#]*)(?:\?([^#]*))?(?:#(.*))?$"


def url_scheme(url: Column) -> Column:
    return F.nullif(F.lower(F.regexp_extract(url, _URL_RE, 1)), F.lit(""))


def url_host(url: Column) -> Column:
    """Host (authority minus userinfo/port), lower-cased, trailing
    root-dot dropped (the FQDN form ``example.com.`` — PSL matching
    and per-domain grouping treat it as ``example.com``); NULL when
    the value does not parse as an absolute URL."""
    auth = F.regexp_extract(url, _URL_RE, 2)
    host = F.regexp_replace(auth, r"^[^@]*@", "")  # strip userinfo
    host = F.regexp_replace(host, r":\d*$", "")  # strip port
    host = F.regexp_replace(host, r"\.$", "")  # strip FQDN root dot
    return F.nullif(F.lower(host), F.lit(""))


def url_port(url: Column) -> Column:
    auth = F.regexp_extract(url, _URL_RE, 2)
    return F.nullif(F.regexp_extract(auth, r":(\d+)$", 1), F.lit("")).cast("int")


def url_path(url: Column) -> Column:
    """Path component ('' when absent — distinct from NULL no-parse)."""
    parsed = F.regexp_extract(url, _URL_RE, 3)
    return F.when(url_host(url).isNotNull(), parsed)


def url_query(url: Column) -> Column:
    return F.nullif(F.regexp_extract(url, _URL_RE, 4), F.lit(""))


#: built-expression memo for _ps_len_unguarded, keyed on
#: ((applicationId, startTime) of the SparkContext, host expression
#: string) — see the function body.
_PS_LEN_MEMO: dict = {}


def _ps_len_unguarded(host: Column) -> Column:
    """PSL suffix label count WITHOUT host-length guards: tails are
    probed with ``substring_index`` (one cheap string op per probe, no
    array split), and a probe on a host SHORTER than the tail length
    returns the whole host — which can never equal a rule with more
    dots, so short hosts fall through rather than false-matching.  The
    one divergence from the guarded semantics: a host that IS a
    wildcard parent (e.g. bare 'ck') reports the wildcard's suffix
    length — harmless for registered_domain, whose take-one-more-label
    ``substring_index`` saturates to the whole host anyway."""
    # Per-process memo of the BUILT expression: the EXACT_2 InSet probe
    # converts its ~630 PSL constants to JVM literals one py4j call at
    # a time (~0.5 s of driver time per build), and the tree depends
    # only on the host column — reuse it for an identical host
    # expression.  Metadata only (an immutable unresolved expression
    # tree that re-resolves by name against each consumer's plan); the
    # memo is keyed on the active SparkContext's application so a
    # restarted gateway never serves stale JVM references (``id(sc)`` is
    # not enough: a new context can reuse a stopped one's address).
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    key = ((sc.applicationId, sc.startTime), str(host)) if sc is not None else None
    if key is not None and key in _PS_LEN_MEMO:
        return _PS_LEN_MEMO[key]
    l1 = F.substring_index(host, ".", -1)
    l2 = F.substring_index(host, ".", -2)
    l3 = F.substring_index(host, ".", -3)
    out = (
        F.when(l3.isin(*EXCEPTIONS_3), F.lit(2))
        .when(l2.isin(*EXCEPTIONS_2), F.lit(1))
        .when(l3.isin(*WILDCARD_PARENTS_3), F.lit(4))
        .when(l3.isin(*EXACT_3) | l2.isin(*WILDCARD_PARENTS_2), F.lit(3))
        .when(l2.isin(*EXACT_2) | l1.isin(*WILDCARD_PARENTS_1), F.lit(2))
        .otherwise(F.lit(1))
    )
    if key is not None:
        _PS_LEN_MEMO[key] = out
    return out


def public_suffix_len(host: Column) -> Column:
    """Label count of the host's public suffix under the PSL snapshot
    (psl_data.py), evaluated entirely in Catalyst (InSet hash probes
    of the last 1-3 label tails; longest match wins, exceptions
    override wildcards, implicit `*` yields 1).  Guarded so the
    suffix never exceeds the host's own label count."""
    n = F.size(F.split(host, r"\."))
    return F.least(_ps_len_unguarded(host), n)


def registered_domain(host: Column) -> Column:
    """eTLD+1 under the public-suffix-list snapshot (psl_data.py):
    public suffix + one label, with wildcard (`*.ck`, `*.kobe.jp`,
    `*.compute.amazonaws.com`) and exception (`!www.ck`,
    `!city.kobe.jp`) rules applied per the PSL algorithm.  Unlisted
    suffixes fall back to the implicit `*` rule (last two labels).
    Hosts that ARE a bare public suffix (or a single label) pass
    through unchanged — a stable quota bucket rather than a NULL.

    Perf shape: pure Catalyst built from ``substring_index`` tail
    probes — no array split, no slice, ~6 cheap string ops + 5 InSet
    hash lookups per row; the take-(ps+1)-labels step is a 4-branch
    CASE of ``substring_index`` calls that saturate to the whole host
    when it is the bare suffix.  This keeps the per-domain quota/dedup
    primitive scan-bound at 100 TB (the reference has no URL
    surface).  NOTE for callers: pass an already-materialized host
    column (one projection for ``url_host``, a second for this) so
    the regex URL parse is not inlined into every probe branch."""
    ps = _ps_len_unguarded(host)
    return F.when(host.isNull(), host).otherwise(
        F.when(ps == 4, F.substring_index(host, ".", -5))
        .when(ps == 3, F.substring_index(host, ".", -4))
        .when(ps == 2, F.substring_index(host, ".", -3))
        .otherwise(F.substring_index(host, ".", -2))
    )


def url_depth(url: Column) -> Column:
    """Number of non-empty path segments — the standard cheap
    page-depth signal (nav/landing pages sit shallow)."""
    p = url_path(url)
    segs = F.filter(F.split(p, "/"), lambda s: s != "")
    return F.when(p.isNotNull(), F.size(segs))


def surt_key(url: Column) -> Column:
    """CommonCrawl-style SURT url key: host lower-cased, leading
    ``www.`` dropped, labels REVERSED and comma-joined, then ``)`` and
    the path — e.g. ``https://www.News.BBC.co.uk/sport`` ->
    ``uk,co,bbc,news)/sport``.  This is the join key between a URL set
    and the cdx index (sources/warc.read_cdx), so index-side lookups
    are an equi-join, not a parse.  (Query-string normalization is
    deliberately omitted — the fixture/index workflows here key on
    host+path; document if extending.)  Pure Catalyst."""
    host = url_host(url)
    host = F.regexp_replace(host, r"^www\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.coalesce(url_path(url), F.lit(""))
    return F.when(host.isNotNull(), F.concat(rev, F.lit(")"), path))
