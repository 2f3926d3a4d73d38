"""URL-level curation operators: normalization, registered-domain
extraction, blocklist filtering, and URL dedup (RefinedWeb Penedo et al.
2023 §3.1, C4 Raffel et al. 2020 §2.2 — the cheapest curation signals a web
corpus has, applied BEFORE any text-content pass).

Everything here is a pure JVM projection (regexp/array expressions — no
UDFs, no explode, no shuffle except ``url_dedup``'s single map-side-combined
groupBy), and every step is deliberately restricted to expressions DuckDB
can replay verbatim (``regexp_extract``/``split``/``list_filter``/
``list_sort``), so the driver row (`q_doc_stats`'s url leg) hash-checks the
whole normalization chain.

Canonical form produced by ``normalize_url`` (documented because it IS the
dedup key):

  * fragment stripped; scheme and host lowercased; path case preserved
  * userinfo (``user:pass@``) dropped; leading ``www.`` dropped
  * default ports stripped (``:80`` for http, ``:443`` for https); other
    ports kept verbatim (no leading-zero canonicalization)
  * trailing slashes stripped from the path (root ``/`` collapses to '')
  * query: empty params and tracking params (``utm_*``, fbclid, gclid, …)
    dropped, the rest sorted lexicographically as whole ``k=v`` strings
  * percent-encoding (RFC 3986 §6.2.2): escapes of UNRESERVED characters
    (letters, digits, ``-._~``) are decoded (``%7Euser`` -> ``~user``);
    every other valid escape keeps its meaning but gets uppercase hex
    (``%2f`` -> ``%2F``); a ``%`` not followed by two hex digits stays
    verbatim. Decoding only unreserved bytes can never introduce a
    delimiter, so it runs once on the whole fragment-stripped string
    before parsing. IDN/punycode normalization stays out of scope
    (documented): ``bücher.de`` and ``xn--bcher-kva.de`` remain distinct.
  * inputs with no ``scheme://`` parse to NULL — unparseable URLs are
    passed through untouched by the consuming forms, never silently merged

``registered_domain`` implements the Public Suffix List algorithm over the
vendored snapshot in ``operators/psl.py`` (exact + wildcard + exception
rules, longest match, exceptions prevail), compiled to ONE bounded CASE of
label-slice membership tests; IPv4 and single-label hosts return
themselves, and a host that IS a public suffix returns itself (documented
deviations, see psl.py). Swapping in the full ~9k-rule list is a data-only
change — the plan stays one projection.

Scale shape: normalization and blocklist are embarrassingly parallel
codegen'd projections; ``url_dedup`` is ONE hash groupBy on the (fixed
width, post-md5) canonical key with map-side combine — a hot URL reaches
its reducer as one partial per mapper, the same posture as
``dedup.exact_dedup``. ``domain_stats`` feeds ``textstats.cap_per_stratum``
(stratum_col='domain') for RefinedWeb-style per-domain caps.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterable, Union

from pyspark.sql import Column, DataFrame, functions as F

# mirrored literally by the DuckDB oracle (plans/queries.py) — keep in sync
TRACKING_PARAMS = (
    "fbclid", "gclid", "msclkid", "igshid", "ref", "mc_cid", "mc_eid", "_ga",
)
TRACKING_PREFIX = "utm_"

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_REST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://(.*)$"

#: codepoints of RFC 3986 unreserved punctuation: ``- . _ ~``
_UNRESERVED_PUNCT = (45, 46, 95, 126)


def percent_normalize(s: Column) -> Column:
    """RFC 3986 §6.2.2 percent-encoding normalization (see module
    docstring): decode unreserved-char escapes, uppercase the hex of the
    rest, keep invalid ``%`` runs verbatim.

    Shape: split on ``%`` -- every piece after the first independently
    starts a potential escape (escapes cannot contain ``%``, so the
    mapping is exact) -- one array transform, rejoin. Pure JVM, no UDF;
    the no-``%`` fast path (virtually every URL) is a size check."""
    parts = F.split(s, "%")

    def fix(p: Column) -> Column:
        hex2 = F.upper(F.substring(p, 1, 2))
        valid = p.rlike("^[0-9A-Fa-f]{2}")
        code = F.conv(hex2, 16, 10).cast("int")
        unres = (
            ((code >= 48) & (code <= 57))
            | ((code >= 65) & (code <= 90))
            | ((code >= 97) & (code <= 122))
            | code.isin(*_UNRESERVED_PUNCT)
        )
        rest = F.substring(p, 3, 2147483647)
        return (
            F.when(valid & unres, F.concat(F.char(code), rest))
            .when(valid, F.concat(F.lit("%"), hex2, rest))
            .otherwise(F.concat(F.lit("%"), p))
        )

    fixed = F.transform(F.slice(parts, 2, F.size(parts) - 1), fix)
    return F.when(F.size(parts) <= 1, s).otherwise(
        F.concat(F.element_at(parts, 1), F.array_join(fixed, ""))
    )


def percent_normalize_sql(s: str) -> str:
    """DuckDB replay of ``percent_normalize`` over the SQL expression ``s``
    -- generated here so the two engines share one spec (the psl.py
    pattern). ``code`` is parsed via the '0x' cast the other oracles use."""
    punct = ",".join(str(c) for c in _UNRESERVED_PUNCT)
    code = "(('0x' || substr(p, 1, 2))::INTEGER)"
    return f"""
    CASE WHEN len(string_split({s}, '%')) <= 1 THEN {s}
         ELSE string_split({s}, '%')[1] || array_to_string(
           list_transform(string_split({s}, '%')[2:], p ->
             CASE WHEN NOT regexp_matches(p, '^[0-9A-Fa-f]{{2}}')
                  THEN '%' || p
                  WHEN {code} BETWEEN 48 AND 57 OR {code} BETWEEN 65 AND 90
                       OR {code} BETWEEN 97 AND 122 OR {code} IN ({punct})
                  THEN chr({code}) || substr(p, 3)
                  ELSE '%' || upper(substr(p, 1, 2)) || substr(p, 3)
             END), '')
    END"""


def stripped_url(url: Column) -> Column:
    """Stage 0 of the chain: fragment-stripped, percent-normalized url
    string. ``with_url_columns`` materializes this ONCE as a projection
    column; everything downstream derives from it."""
    return percent_normalize(F.substring_index(F.trim(url), "#", 1))


def _parts_from(s: Column) -> tuple[Column, Column, Column, Column]:
    """(scheme, authority, path, query) of an already ``stripped_url``'d
    string. scheme is '' when unparseable (no ``://``)."""
    scheme = F.lower(F.regexp_extract(s, _SCHEME_RE, 1))
    rest = F.regexp_extract(s, _REST_RE, 1)
    authority = F.regexp_extract(rest, r"^([^/?]*)", 1)
    path = F.regexp_extract(rest, r"^[^/?]*([^?]*)", 1)
    query = F.regexp_extract(rest, r"^[^?]*\?(.*)$", 1)
    return scheme, authority, path, query


def _host_port(authority: Column) -> tuple[Column, Column]:
    """(lowercased host, port string or '') — userinfo dropped."""
    hp = F.regexp_replace(authority, r"^.*@", "")
    host = F.lower(F.regexp_replace(hp, r":[0-9]*$", ""))
    port = F.regexp_extract(hp, r":([0-9]+)$", 1)
    return host, port


def _param_kept(p: Column) -> Column:
    key = F.lower(F.substring_index(p, "=", 1))
    return (
        (p != F.lit(""))
        & ~key.isin(*TRACKING_PARAMS)
        & ~key.startswith(TRACKING_PREFIX)
    )


def _strip_www(host: Column) -> Column:
    """Drop a leading ``www.`` ONLY when at least two labels remain
    (``www.example.com`` -> ``example.com``, but ``www.com`` is itself a
    registrable host -- stripping would collapse it to the bare TLD and
    merge it with malformed ``https://com/...`` URLs). The guard regex is
    RE2-safe (no lookahead) so the DuckDB oracle mirrors it verbatim."""
    return F.when(
        host.rlike(r"^www\..+\."), F.regexp_replace(host, r"^www\.", "")
    ).otherwise(host)


def normalize_url_from(s: Column) -> Column:
    """``normalize_url`` over an already ``stripped_url``'d string -- the
    staged form ``with_url_columns`` composes (pass an ATTRIBUTE, not a
    deep expression; see the expression-staging note on
    ``with_url_columns``)."""
    scheme, authority, path, query = _parts_from(s)
    host, port = _host_port(authority)
    host = _strip_www(host)
    default = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    portpart = F.when(
        (port != "") & ~default, F.concat(F.lit(":"), port)
    ).otherwise(F.lit(""))
    cleanpath = F.regexp_replace(path, r"/+$", "")
    kept = F.array_sort(F.filter(F.split(query, "&"), _param_kept))
    qs = F.array_join(kept, "&")
    qpart = F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit(""))
    return F.when(
        (scheme != "") & (host != ""),
        F.concat(scheme, F.lit("://"), host, portpart, cleanpath, qpart),
    )


def normalize_url(url: Column) -> Column:
    """The canonical URL (see module docstring), or NULL if unparseable.

    Column-composition form: fine on an attribute input, but do NOT nest it
    inside further column functions at corpus scale -- use
    ``with_url_columns`` (see its expression-staging note)."""
    return normalize_url_from(stripped_url(url))


def url_host_from(s: Column) -> Column:
    """``url_host`` over an already ``stripped_url``'d string."""
    scheme, authority, _, _ = _parts_from(s)
    host, _ = _host_port(authority)
    return F.when((scheme != "") & (host != ""), host)


def url_host(url: Column) -> Column:
    """Lowercased host (www. kept — it is part of the real host), or NULL."""
    return url_host_from(stripped_url(url))


def registered_domain(host: Column) -> Column:
    """Registered domain of a (lowercased) host under the vendored Public
    Suffix List snapshot (``operators/psl.py``) — exact/wildcard/exception
    rules, longest match, exceptions prevail; one bounded CASE."""
    from .psl import registered_domain_expr

    return registered_domain_expr(host)


def url_domain(url: Column) -> Column:
    """Registered domain straight from a raw URL (www. stripped first so
    ``www.bbc.co.uk`` and ``bbc.co.uk`` agree; ``www.com`` keeps its www --
    see ``_strip_www``), or NULL if unparseable."""
    return registered_domain(_strip_www(url_host(url)))


def with_url_columns(
    df: DataFrame,
    url: Union[str, Column] = "url",
    *,
    norm_url: str | None = None,
    host: str | None = None,
    url_domain: str | None = None,
) -> DataFrame:
    """Add URL curation columns (each keyword names the OUTPUT column;
    None skips it) via STAGED projections -- the corpus-scale composition
    every DataFrame-level consumer here uses.

    Why staging matters (round 7): these operators are built from Column
    functions that reference their input several times (percent split ~5x,
    host extraction ~4x, www-strip 3x, the PSL CASE ~25x). Nesting them as
    ONE expression multiplies those fan-outs -- ``url_domain`` inlined is
    ~1000 copies of the input subtree, and Catalyst spends SECONDS per
    query just walking the tree (measured: q_doc_stats 2.3 s -> 25 s).
    Materializing each stage as a projection column makes every reference
    an attribute, and ``CollapseProject`` keeps the stages separate
    because the staged aliases are non-cheap and multi-referenced. Same
    values, same single scan, linear-size plan.

    Round 8: the staged Columns are compiled ONCE per process
    (``_staged_url_exprs`` below) -- they reference only the fixed staging
    names, and Columns are immutable expression handles, so rebuilding the
    ~1000-node PSL CASE on every call was pure driver-side py4j overhead
    (guide section 1.2: per-task work includes the driver's plan
    construction, which at many-query scale is serial time). The input
    expression is staged as ``_u_raw`` so every downstream stage is
    name-based (it is referenced once, so CollapseProject inlines it --
    no extra projection in the optimized plan)."""
    staging = ("_u_raw", "_u_s", "_u_h", "_u_hs")
    clash = [c for c in staging if c in df.columns]
    if clash:
        # silently overwriting (then dropping) a user column named like a
        # staging column would corrupt data with no error
        raise ValueError(
            f"with_url_columns: input already has column(s) {clash!r}, "
            "which collide with the internal staging names -- rename them"
        )
    u = F.col(url) if isinstance(url, str) else url
    ex = _staged_url_exprs()
    staged = ["_u_raw", "_u_s"]
    out = df.withColumn("_u_raw", u).withColumn("_u_s", ex["strip"])
    if host is not None or url_domain is not None:
        staged.append("_u_h")
        out = out.withColumn("_u_h", ex["host"])
    if norm_url is not None:
        out = out.withColumn(norm_url, ex["norm"])
    if host is not None:
        out = out.withColumn(host, F.col("_u_h"))
    if url_domain is not None:
        staged.append("_u_hs")
        out = out.withColumn("_u_hs", ex["www"])
        out = out.withColumn(url_domain, ex["dom"])
    return out.drop(*staged)


@lru_cache(maxsize=128)
def _staged_url_exprs() -> dict:
    """The five staged URL Columns over the fixed staging names -- compiled
    once per process (see ``with_url_columns``). Pure expression handles:
    no data, no session state."""
    return {
        "strip": stripped_url(F.col("_u_raw")),
        "host": url_host_from(F.col("_u_s")),
        "norm": normalize_url_from(F.col("_u_s")),
        "www": _strip_www(F.col("_u_h")),
        "dom": registered_domain(F.col("_u_hs")),
    }


def url_stats(
    df: DataFrame, id_col: str = "doc_id", url_col: str = "url"
) -> DataFrame:
    """Per-document URL signals: canonical url, host, registered domain.
    One staged projection pipeline; NULLs mark unparseable inputs."""
    return with_url_columns(
        df.select(id_col, url_col), url_col,
        norm_url="norm_url", host="host", url_domain="url_domain",
    ).select(id_col, "norm_url", "host", "url_domain")


def url_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    policy: str = "min_id",
    text_col: str = "text",
) -> DataFrame:
    """Keep ONE document per canonical URL; documents whose URL does not
    parse pass through untouched (a NULL key must never merge unrelated
    docs). Two deterministic keep policies:

    * ``'min_id'`` (default): min id wins — the same canonical rule as
      ``dedup.exact_dedup``.
    * ``'longest'``: the capture with the most ``text_col`` characters
      wins (recrawl corpora: the later, fuller capture of a page should
      supersede a truncated earlier one), ties broken by min id.

    Scale shape: the only shuffle is one hash groupBy on ``md5(norm_url)``
    (fixed-width key, map-side combine — a hot URL is one partial per
    mapper); the unparseable branch is a filter union, no join anywhere."""
    if policy not in ("min_id", "longest"):
        raise ValueError(f"policy must be 'min_id' or 'longest', got {policy!r}")
    with_key = (
        df.withColumn("_u_s", stripped_url(F.col(url_col)))
        .withColumn("_u", F.md5(normalize_url_from(F.col("_u_s"))))
        .drop("_u_s")
    )
    other_cols = [c for c in with_key.columns if c not in (id_col, "_u")]
    if policy == "longest":
        # order key: (n_chars desc, id asc) via min over (-n_chars, id);
        # NULL text sorts last (coalesced to -1 chars -> negated to 1)
        order = F.struct(
            (-F.coalesce(F.length(F.col(text_col)), F.lit(-1))).alias("_neg"),
            F.col(id_col).alias("_id"),
        )
    else:
        order = F.struct(F.col(id_col).alias("_id"))
    row = F.struct(order.alias("_o"), F.struct(id_col, *other_cols).alias("_r"))
    canon = (
        with_key.where(F.col("_u").isNotNull())
        .groupBy("_u")
        .agg(F.min(row).alias("_w"))
        .select("_u", "_w._r.*")
    )
    return canon.drop("_u").unionByName(
        with_key.where(F.col("_u").isNull()).drop("_u")
    )


def filter_blocked_domains(
    df: DataFrame,
    blocked: Union[Iterable[str], DataFrame],
    url_col: str = "url",
) -> DataFrame:
    """Drop documents whose registered domain is blocklisted.

    ``blocked`` is either an in-config iterable of domains (bounded — the
    usual adult/spam list is thousands of rows; compiled to one ``isin``
    literal, zero joins) or a DataFrame with a ``domain`` column (broadcast
    LEFT ANTI — the corpus streams map-only). Unparseable URLs (NULL
    domain) are KEPT: the blocklist is an exclusion signal, absence of a
    URL is not membership."""
    staged = with_url_columns(df, url_col, url_domain="_dom")
    if isinstance(blocked, DataFrame):
        # normalize the blocklist side exactly like the iterable form --
        # url_domain is always lowercase, so a raw 'Example.com ' row
        # would silently match nothing
        return staged.join(
            F.broadcast(
                blocked.select(F.lower(F.trim(F.col("domain"))).alias("_dom"))
            ),
            "_dom",
            "left_anti",
        ).drop("_dom")
    domains = sorted(set(str(d).strip().lower() for d in blocked if str(d).strip()))
    if not domains:
        return df
    dom = F.col("_dom")
    return staged.where(dom.isNull() | ~dom.isin(*domains)).drop("_dom")


def domain_stats(
    df: DataFrame, url_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """Per-registered-domain corpus share: doc count and char volume — the
    input to RefinedWeb-style per-domain caps (compose with
    ``textstats.cap_per_stratum(stratum_col='url_domain')``). One map-side-
    combined aggregate; NULL domains grouped under the NULL row so the
    report is a partition of the corpus."""
    return (
        with_url_columns(
            df.select(url_col, F.length(F.col(text_col)).alias("_n")),
            url_col, url_domain="url_domain",
        )
        .groupBy("url_domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").cast("bigint").alias("n_chars"),
        )
    )
