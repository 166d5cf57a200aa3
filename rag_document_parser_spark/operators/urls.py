"""URL extraction, per-domain statistics, and domain blocklist filtering.

Web-scale training corpora are curated by source: extract the URLs a
document references, aggregate per registrable domain, and drop
documents that cite blocklisted domains. All pure Catalyst — the regex
passes are row-local projections and the only shuffle is the domain
aggregate (map-side combinable) or the broadcast blocklist anti-join.

The URL pattern is RE2-safe (shared verbatim with the DuckDB oracle):
scheme + host captured conservatively, path taken greedily from a
whitelisted char class — no lookaround, no backreferences.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

URL_PATTERN = r"https?://[A-Za-z0-9.\-]+[A-Za-z0-9/._%\-?=&#+:]*"
DOMAIN_PATTERN = r"https?://([A-Za-z0-9.\-]+)"


def extract_urls(c: Column) -> Column:
    """Array of URL matches in a text column (may be empty, never null
    for non-null input)."""
    # idx=0 = whole match (Spark defaults to capture group 1; the
    # pattern deliberately has no groups — DuckDB defaults to 0)
    return F.regexp_extract_all(c, F.lit(URL_PATTERN), 0)


def url_domain(c: Column) -> Column:
    """Lower-cased host part of a URL string."""
    return F.lower(F.regexp_extract(c, DOMAIN_PATTERN, 1))


def domain_stats(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", k: int = 100) -> DataFrame:
    """Top-k domains by citing-document count.

    Returns ``(domain, n_docs, n_urls)`` — distinct documents citing
    the domain and total URL occurrences — ordered by ``n_docs`` desc
    with ``domain`` as the deterministic tie-break.

    At 100 TB: extract + explode are scan-local; the aggregate keys on
    domain (map-side partial, heavy-tailed but partial-agg absorbs the
    head); the final top-k is a TakeOrdered over the already-aggregated
    (small) domain relation, never over raw rows.
    """
    urls = df.select(
        F.col(id_col).alias("id"),
        extract_urls(F.col(text_col)).alias("_u"),
    )
    ex = urls.select(
        "id", F.explode_outer("_u").alias("url")
    ).where(F.col("url").isNotNull())
    return (
        ex.select("id", url_domain(F.col("url")).alias("domain"))
        .groupBy("domain")
        .agg(F.count_distinct("id").alias("n_docs"),
             F.count("*").alias("n_urls"))
        .orderBy(F.desc("n_docs"), F.asc("domain"))
        .limit(k)
    )


def block_domains(df: DataFrame, blocklist: DataFrame,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Drop documents citing any blocklisted domain.

    ``blocklist`` is a one-column (``domain``) DataFrame — small by
    nature (a curated denylist), so the membership probe is a broadcast
    join against each doc's distinct cited domains; offending doc ids
    then anti-join back (one shuffle on the uniform id key). Documents
    with no URLs are kept.
    """
    doms = df.select(
        F.col(id_col).alias("_bid"),
        F.explode_outer(
            F.array_distinct(
                F.transform(extract_urls(F.col(text_col)), url_domain))
        ).alias("_dom"),
    ).where(F.col("_dom").isNotNull())
    hit_ids = (doms.join(
        F.broadcast(blocklist.select(F.lower("domain").alias("_dom"))),
        "_dom").select("_bid").distinct())
    return df.join(hit_ids, F.col(id_col) == F.col("_bid"),
                   "left_anti")


# ---------------------------------------------------------------------------
# URL canonicalization (the dedup key normalization step of web pipelines)
# ---------------------------------------------------------------------------
#
# Engine-neutral rule table applied to the part AFTER scheme://host; 'G1'
# marks a first-group backreference ('$1' in Spark/Java, '\1' in DuckDB/
# RE2 — the MD_RULES convention). Order matters: fragment first (so the
# tracking rule's [^&#]* is scoped), then tracking params (each match
# consumes its own leading separator and restores it via G1), then the
# separator-run cleanup the removals leave behind, then dangling
# separators, then the trailing slash. All patterns RE2-safe (no
# lookaround, no backreferences in the PATTERN).
URL_CANON_RULES: list[tuple[str, str]] = [
    (r"#.*", ""),                                             # fragment
    (r"([?&])(utm_[a-z0-9_]+|fbclid|gclid|msclkid|mc_eid)=[^&#]*", "G1"),
    (r"&{2,}", "&"),                                          # '&&' runs
    (r"\?&", "?"),                                            # '?&' seam
    (r"[?&]+$", ""),                                          # dangling
    (r"/$", ""),                                              # trailing /
]
_SCHEME_HOST = r"^(https?://[A-Za-z0-9.\-]+)"


def canonical_url(c: Column) -> Column:
    """Canonical form of a URL string: lower-cased scheme+host, default
    ports (:80, :443) stripped, fragment dropped, common tracking
    params (utm_*, fbclid, gclid, msclkid, mc_eid) removed with their
    separators repaired, trailing slash trimmed. A documented subset of
    full WHATWG canonicalization (no percent-decoding, no query-param
    re-sorting, no scheme/port cross-check) — identical rule chain in
    the DuckDB oracle via the shared ``URL_CANON_RULES`` table."""
    scheme_host = F.lower(F.regexp_extract(c, _SCHEME_HOST, 1))
    rest = F.regexp_replace(c, _SCHEME_HOST, "")
    rest = F.regexp_replace(rest, r"^:(80|443)/", "/")
    rest = F.regexp_replace(rest, r"^:(80|443)$", "")
    for pat, repl in URL_CANON_RULES:
        rest = F.regexp_replace(rest, pat, repl.replace("G1", "$1"))
    return F.concat(scheme_host, rest)


def canonicalize_urls(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """One row per URL occurrence: ``(doc_id, url, canon)`` — the
    canonical key a URL-level dedup or frontier would group on.

    Scan-local: extract (staged array), explode, per-row regex chain;
    zero shuffles. Grouping on ``canon`` downstream is the usual
    map-side-combinable aggregate."""
    staged = df.select(F.col(id_col).alias("doc_id"),
                       extract_urls(F.col(text_col)).alias("_u"))
    ex = (staged.select("doc_id", F.explode_outer("_u").alias("url"))
          .where(F.col("url").isNotNull()))
    return ex.select("doc_id", "url",
                     canonical_url(F.col("url")).alias("canon"))


# ---- STRAND cross-language URL pairing (Resnik & Smith 2003) ------------

# language markers stripped to form the template key: a path segment,
# a subdomain prefix, or a lang/locale/hl query parameter. RE2-safe
# (no lookaround) and shared VERBATIM with the DuckDB oracle.
STRAND_LANGS = ("en|fr|de|es|ar|zh|ru|pt|ja|it|nl|ko|hi|tr")
STRAND_PATH_RE = f"(?i)/({STRAND_LANGS})(-[a-zA-Z]{{2}})?/"
STRAND_SUB_RE = f"(?i)://({STRAND_LANGS})\\."
STRAND_QS_RE = "(?i)[?&](lang|locale|hl)=[a-zA-Z-]+"


def strand_key(c: Column) -> Column:
    """A URL's language-independent template key: subdomain language
    prefixes, one path language segment, and lang-ish query parameters
    stripped, then lower-cased — the STRAND observation that parallel
    pages live at URLs differing only in a language marker."""
    out = F.regexp_replace(c, STRAND_SUB_RE, "://")
    out = F.regexp_replace(out, STRAND_PATH_RE, "/")
    out = F.regexp_replace(out, STRAND_QS_RE, "")
    return F.lower(out)


def strand_url_pairs(df: DataFrame, url_col: str = "url",
                     id_col: str = "doc_id", lang_col: str = "lang",
                     max_per_key: int = 16) -> DataFrame:
    """Candidate parallel-document pairs by URL structure (Resnik &
    Smith 2003, STRAND): documents whose URLs collapse to the SAME
    template key after language-marker stripping, taken cross-language
    (``lang_a < lang_b`` lexically; ties inside a (key, lang) cell are
    all paired, deterministically). Output: ``(key, id_a, lang_a,
    id_b, lang_b)`` — feed the candidates to ``bitext`` margin scoring
    and ``align.gale_church_align`` for the full mined-parallel-corpus
    pipeline.

    Scale shape: one groupBy-free self-join keyed on the template key;
    ``max_per_key`` bounds the per-key fan-out STRUCTURALLY — keys
    held by more documents (landing templates, calendars) are counted
    first with one map-side-combinable aggregate and dropped before
    the join, so the quadratic blowup a hot template would cause
    never reaches the shuffle (a true STRAND template pairs one page
    per language; oversubscribed keys are noise by construction).
    """
    keyed = df.select(F.col(id_col).alias("id"),
                      F.col(lang_col).alias("lang"),
                      strand_key(F.col(url_col)).alias("key"))
    ok = (keyed.groupBy("key")
          .agg(F.count("*").alias("_n"))
          .where(F.col("_n") <= max_per_key)
          .select("key"))
    pruned = keyed.join(ok, "key")
    a = pruned.select("key", F.col("id").alias("id_a"),
                      F.col("lang").alias("lang_a"))
    b = pruned.select("key", F.col("id").alias("id_b"),
                      F.col("lang").alias("lang_b"))
    return (a.join(b, "key")
            .where(F.col("lang_a") < F.col("lang_b"))
            .select("key", "id_a", "lang_a", "id_b", "lang_b"))


# ---------------------------------------------------------------------------
# eTLD+1 registrable domains (public-suffix longest-match)
# ---------------------------------------------------------------------------
#
# Source-level curation keys on the REGISTRABLE domain, not the host:
# "a.cdn.site.co.uk" and "www.site.co.uk" are the same publisher and
# must pool in source statistics, mixture weights, and blocklists. The
# registrable domain is one label more than the host's longest matching
# PUBLIC SUFFIX (Mozilla PSL semantics). Documented subset: the fixed
# literal suffix table below (multi-label entries included), not the
# full externally-maintained PSL. The table is compiled into the
# expression; ``registrable_domain`` takes no suffix-list or DataFrame
# parameter, so a longer list means editing this table. Wildcard (*.ck)
# and exception (!) rules are out of subset. Unmatched hosts fall back
# to their last TWO labels (the PSL "prevailing rule is '*'" default
# reduced to 1-label suffixes).
PUBLIC_SUFFIXES = [
    "com", "org", "net", "edu", "gov", "mil", "int", "io", "ai", "dev",
    "app", "info", "biz", "co",
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.mx", "co.in", "co.kr", "co.za",
    "github.io", "gitlab.io", "blogspot.com", "blogspot.co.uk",
]


def registrable_domain(c: Column) -> Column:
    """eTLD+1 of a HOST column via the PUBLIC_SUFFIXES table, pure
    Catalyst: the host's label array is probed at every suffix length
    present in the table (an array filter over a literal array — no
    join, no shuffle), the longest hit wins, and the registrable
    domain keeps one more label. A host that IS a bare suffix, or has
    no extra label, returns itself.
    """
    by_len: dict[int, list[str]] = {}
    for s in PUBLIC_SUFFIXES:
        by_len.setdefault(s.count(".") + 1, []).append(s)
    labels = F.split(F.lower(c), r"\.")
    n = F.size(labels)

    def tail(k: int) -> Column:
        # greatest(...,1): slice start must stay positive even when the
        # host has fewer labels than k (the n >= k conjunct then
        # rejects the hit, but codegen still evaluates the slice)
        return F.array_join(
            F.slice(labels, F.greatest(n - k + 1, F.lit(1)), k), ".")

    # longest matching suffix length (0 = no table hit)
    match_len = F.lit(0)
    for k in sorted(by_len):   # ascending: later (longer) wins the CASE
        hit = tail(k).isin(by_len[k]) & (n >= k)
        match_len = F.when(hit, F.lit(k)).otherwise(match_len)
    # fallback: last 2 labels; never more labels than the host has
    keep = F.least(
        F.when(match_len > 0, match_len + 1).otherwise(F.lit(2)), n)
    return F.array_join(F.slice(labels, n - keep + 1, keep), ".")


def registrable_domain_stats(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id",
                             k: int = 100) -> DataFrame:
    """Top-k REGISTRABLE domains by citing-document count — the
    publisher-level twin of ``domain_stats``. Returns ``(registrable,
    n_docs, n_urls, n_hosts)`` ordered by ``n_docs`` desc, registrable
    asc. Same scale shape as ``domain_stats`` (scan-local explode,
    map-side-combinable aggregate, TakeOrdered tail) plus a distinct
    host count per publisher (bounded by the publisher's own host
    fan-out)."""
    ex = (df.select(F.col(id_col).alias("id"),
                    F.explode_outer(extract_urls(F.col(text_col)))
                    .alias("url"))
          .where(F.col("url").isNotNull())
          .select("id", url_domain(F.col("url")).alias("host")))
    return (ex.select("id", "host",
                      registrable_domain(F.col("host"))
                      .alias("registrable"))
            .groupBy("registrable")
            .agg(F.count_distinct("id").alias("n_docs"),
                 F.count("*").alias("n_urls"),
                 F.count_distinct("host").alias("n_hosts"))
            .orderBy(F.desc("n_docs"), F.asc("registrable"))
            .limit(k))


def outlink_profile(df: DataFrame, page_url_col: str = "url",
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-page outlink profile at the REGISTRABLE-domain level:
    ``(id, page_registrable, n_links, n_internal, n_external,
    internal_frac_e6)`` — internal means the outlink's eTLD+1 equals
    the page's own (www./cdn. hosts pool, per ``registrable_domain``).
    The classic nav-vs-content quality feature: boilerplate-heavy
    pages link mostly inside their own site, citation-rich content
    links out. ``internal_frac_e6`` is exact integer
    ``n_internal * 1e6 div n_links`` and NULL for link-less pages.

    Scale shape: the registrable probe is the literal isin expression
    (no join anywhere); extract + explode_outer are scan-local, and
    the NULL row explode_outer emits for link-less pages keeps every
    doc through the ONE aggregate keyed on the uniform doc id — no
    join-back, exactly one exchange.
    """
    page = df.select(
        F.col(id_col).alias("id"),
        registrable_domain(url_domain(F.col(page_url_col)))
        .alias("page_registrable"),
        F.col(text_col).alias("_t"))
    ex = (page.select(
        "id", "page_registrable",
        F.explode_outer(extract_urls(F.col("_t"))).alias("_u"))
        .select("id", "page_registrable", "_u",
                F.when(F.col("_u").isNotNull(),
                       registrable_domain(url_domain(F.col("_u"))))
                .alias("_lr")))
    return (ex.groupBy("id", "page_registrable")
            .agg(F.sum(F.col("_u").isNotNull().cast("long"))
                 .cast("long").alias("n_links"),
                 F.coalesce(
                     F.sum((F.col("_lr") == F.col("page_registrable"))
                           .cast("long")), F.lit(0))
                 .cast("long").alias("n_internal"))
            .select(
                "id", "page_registrable", "n_links", "n_internal",
                (F.col("n_links") - F.col("n_internal")).cast("long")
                .alias("n_external"),
                F.expr("n_internal * 1000000 div nullif(n_links, 0)")
                .cast("long").alias("internal_frac_e6")))


def url_features(df: DataFrame, url_col: str = "url",
                 id_col: str = "doc_id") -> DataFrame:
    """Lexical URL features — the URL-level quality/spam signals a
    crawl filter scores before fetching a byte of content (C4/FineWeb
    practice: URL blocklists plus pattern heuristics): ``(id, host,
    registrable, path_depth, path_len, n_params, n_digits,
    longest_digit_run, has_session_param, pct_encoded)``.

    All integer/boolean, pure row-local regexp projections — zero
    shuffles, zero joins; the registrable probe is the literal isin.
    ``path_depth`` counts non-empty ``/`` segments before the query;
    ``n_params`` counts ``=`` -carrying query parts;
    ``has_session_param`` flags the classic session/tracking keys
    (sessionid/sid/phpsessid, case-insensitive);
    ``longest_digit_run`` is the longest consecutive digit span in
    the path (auto-generated spam URLs run long ids).
    """
    c = F.col(url_col)
    host = url_domain(c)
    after = F.regexp_replace(c, _SCHEME_HOST, "")
    path = F.regexp_replace(after, r"[?#].*", "")
    query = F.regexp_extract(after, r"\?([^#]*)", 1)
    segs = F.filter(F.split(path, "/"), lambda x: x != "")
    params = F.filter(F.split(query, "&"),
                      lambda x: x.contains("="))
    digit_runs = F.regexp_extract_all(path, F.lit(r"[0-9]+"), 0)
    longest = F.coalesce(
        F.array_max(F.transform(digit_runs, F.length)), F.lit(0))
    return df.select(
        F.col(id_col).alias("id"),
        host.alias("host"),
        registrable_domain(host).alias("registrable"),
        F.size(segs).cast("long").alias("path_depth"),
        F.length(path).cast("long").alias("path_len"),
        F.size(params).cast("long").alias("n_params"),
        F.length(F.regexp_replace(path, r"[^0-9]", "")).cast("long")
        .alias("n_digits"),
        longest.cast("long").alias("longest_digit_run"),
        F.lower(query).rlike("(^|&)(sessionid|sid|phpsessid)=")
        .alias("has_session_param"),
        c.contains("%").alias("pct_encoded"))
