"""URL / domain-grain corpus curation — the front end of a RefinedWeb-class
pretraining pipeline (Penedo et al. 2023): web corpora are filtered and
capped by normalized URL/domain BEFORE any text operator runs, because a
handful of hosts (link farms, mirrors, boilerplate-heavy domains) otherwise
dominate the token budget.

The reference library has no web-curation surface (SURVEY §2); this extends
the LLM-pipeline family. Everything is engine-portable string arithmetic
(``regexp_extract`` / ``regexp_replace`` / HOF filters — no UDF, no
network), so DuckDB oracles replay results exactly.

Scale shape: normalization and domain extraction are per-row projections
(zero shuffle); the per-domain cap reuses :func:`~.corpus.sample_per_group`
(two-stage tournament — a mega-domain never funnels through one task); the
blocklist filter is a suffix-explode + broadcast join (a blocklist is small
by contract) — only (id, domain-suffix) pairs ever shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "normalize_url",
    "url_domain",
    "PUBLIC_SUFFIXES",
    "load_psl_rules",
    "registrable_domain",
    "with_registrable_domain",
    "domain_caps",
    "blocklist_filter",
    "extract_text_html",
    "extract_links",
    "parse_robots",
    "robots_filter",
]

# the params every major tracker injects; stripped by normalize_url
_TRACKING_RE = (
    "^(utm_[a-z0-9]+|fbclid|gclid|msclkid|mc_eid|igshid|ref|ref_src)="
)

_SCHEME_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://"


def _col(url: Column | str) -> Column:
    return F.col(url) if isinstance(url, str) else url


def url_domain(url: Column | str, alias: str = "domain") -> Column:
    """Registrable host of a URL: lowercase, userinfo/port stripped, one
    leading ``www.`` removed. NULL when the value has no ``scheme://``
    part (an opaque string is not attributed to a domain).

    Production note: capping at true eTLD+1 grain needs the public-suffix
    list (``co.uk`` vs ``uk``); host grain is the dependency-free default
    here, and a PSL-derived mapping table composes as one extra broadcast
    join if needed.
    """
    u = F.trim(_col(url))
    host = F.lower(
        F.regexp_extract(u, _SCHEME_RE + "(?:[^@/?#]*@)?([^/?#:]*)", 1)
    )
    host = F.regexp_replace(host, "^www\\.", "")
    return F.nullif(host, F.lit("")).alias(alias)


def load_psl_rules(path: str) -> list[str]:
    """Parse a file in the official Public Suffix List format
    (publicsuffix.org's ``public_suffix_list.dat``: one rule per line,
    ``//`` comment lines, blank lines, rules terminated by the first
    whitespace) into the rule list :func:`registrable_domain` /
    :func:`with_registrable_domain` accept via ``suffixes=``. This is
    the production on-ramp: download the authoritative file, load it
    here, and the broadcast-map tier carries all ~10k rules through one
    plan-bound map.

    >>> rules = load_psl_rules("/path/to/public_suffix_list.dat")
    ... # doctest: +SKIP
    >>> df = with_registrable_domain(docs, url_col="url", suffixes=rules)
    ... # doctest: +SKIP
    """
    rules: list[str] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("//"):
                continue
            rules.append(line.split()[0])
    return rules


# Default snapshot of the public-suffix list, shipped as a data file in
# official PSL syntax (see the file header for provenance): ~560
# hand-curated, long-stable rules — multi-label registry suffixes for
# ~50 ccTLDs, the US state / CA province / CN province grids, and the
# wildcard TLD class with its canonical exception pair ("*.ck",
# "!www.ck"). Still a SNAPSHOT, not the authoritative ~10k-rule file
# (which changes continuously and cannot be vendored verbatim here):
# load the real public_suffix_list.dat with :func:`load_psl_rules` and
# pass it via ``suffixes=`` for production coverage. Single-label TLDs
# need no entry (the PSL default rule "*" covers them).
def _default_psl_path() -> str:
    """Resolve the shipped snapshot via importlib.resources so the file is
    found in wheels/zipped installs, not only source checkouts (falls back
    to __file__ path math for exotic loaders without resource support)."""
    try:
        from importlib.resources import files

        return str(files("nested_pandas_spark") / "data"
                   / "public_suffix_snapshot.dat")
    except Exception:  # pragma: no cover - non-standard loaders only
        return os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "data", "public_suffix_snapshot.dat",
        )


PUBLIC_SUFFIXES: list[str] = load_psl_rules(_default_psl_path())

# Above this many rules the plan-literal map would bloat the query plan
# (O(rules) literal nodes to analyze and ship with every task) — the
# frame-level API switches to ONE broadcast single-row map table.
_LITERAL_SUFFIX_MAX = 1024


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _lit_string_map(m: dict[str, str]) -> Column:
    """Literal ``map<string,string>`` built as ONE parsed SQL expression
    — a single py4j round trip. The element-wise
    ``F.create_map(*[F.lit(x) ...])`` form costs a round trip per entry
    (~1.1 ms each): the 561-rule PSL snapshot was ~1.2 s of driver time
    per query build before Spark ever saw the plan."""
    return F.expr(
        "map(" + ",".join(
            _sql_str(k) + "," + _sql_str(v) for k, v in m.items()
        ) + ")")


def _psl_rules(suffixes: list[str] | None) -> tuple[dict[str, str], int]:
    """Parse PSL-syntax rules into a lookup map and the max match depth.

    Keys: exception rules WITHOUT '!' -> 'e'; wildcard rules keyed as
    written ("*.base") -> 'w'; plain rules -> 'r'. Depth = label count
    of the longest rule (wildcards count their '*')."""
    rules = PUBLIC_SUFFIXES if suffixes is None else list(suffixes)
    m: dict[str, str] = {}
    maxk = 1
    for r in rules:
        r = r.strip().lower()
        if not r:
            continue
        if r.startswith("!"):
            m[r[1:]] = "e"
            maxk = max(maxk, r[1:].count(".") + 1)
        elif r.startswith("*."):
            m[r] = "w"
            maxk = max(maxk, r.count(".") + 1)
        else:
            m[r] = "r"
            maxk = max(maxk, r.count(".") + 1)
    return m, maxk


def _registrable_expr(host: Column, rule_map: Column, maxk: int) -> Column:
    """eTLD+1 from a clean host given a ``map<string,string>`` rule
    column (literal or broadcast — same expression): scan candidate
    suffixes longest-first; at each depth an exception rule prevails
    (the PSL algorithm — exceptions in practice pair with a same-depth
    wildcard), then a plain rule, then a wildcard; no match falls back
    to the PSL default rule '*' (the bare TLD). The registrable domain
    is the public suffix plus one label — NULL when the host IS a
    public suffix. O(maxk) map lookups per row, zero shuffle.

    The rule map and the label array are LET-BOUND through a
    single-element ``transform`` lambda so each appears ONCE in the
    plan: the expression references them ~3*maxk times, and inlining a
    ~100-entry literal map at every reference overflows the JVM's 64KB
    codegen method limit (whole-stage codegen falls back to interpreted
    mode — the same plan-bloat failure the ANN literal threshold
    guards)."""
    bound = F.transform(
        F.array(F.struct(
            rule_map.alias("m"), F.split(host, "[.]").alias("l")
        )),
        lambda b: _registrable_core(b["m"], b["l"], maxk),
    )[0]
    return F.when(
        host.isNull() | (host == ""), F.lit(None).cast("string")
    ).otherwise(bound)


def _registrable_core(rule_map: Column, labels: Column, maxk: int) -> Column:
    n = F.size(labels)

    def last(k):
        # array_join of the last k labels (slice is 1-based)
        return F.array_join(F.slice(labels, n - k + 1, k), ".")

    def at(k):
        # '' is the in-chain sentinel for "matched a rule, but the host
        # IS the public suffix" (registrable undefined) — a plain NULL
        # would fall through the coalesce to the default rule and
        # wrongly return e.g. 'co.uk' for host 'co.uk'
        cand = last(k)
        kind = F.try_element_at(rule_map, cand)
        wild = F.try_element_at(
            rule_map, F.concat(F.lit("*."), last(k - 1))
        ) if k >= 2 else F.lit(None)
        reg_plus1 = F.when(n > k, last(k + 1)).otherwise(F.lit(""))
        return F.when(kind == "e", cand).when(
            (kind == "r") | (wild == "w"), reg_plus1
        )

    expr = None
    for k in range(maxk, 0, -1):
        step = F.when(n >= k, at(k))
        expr = step if expr is None else F.coalesce(expr, step)
    # default rule '*': public suffix = bare TLD, registrable = 2 labels
    default = F.when(n >= 2, last(2)).otherwise(F.lit(""))
    return F.nullif(F.coalesce(expr, default), F.lit(""))


def registrable_domain(
    host: Column | str,
    suffixes: list[str] | None = None,
    alias: str = "registrable_domain",
) -> Column:
    """eTLD+1 of a clean lowercase host (from :func:`url_domain`):
    ``a.b.example.co.uk`` -> ``example.co.uk``, ``www.ck`` -> ``www.ck``
    (PSL exception), ``x.foo.ck`` -> ``foo.ck`` (PSL wildcard). Uses the
    checked-in :data:`PUBLIC_SUFFIXES` snapshot by default — pass the
    full PSL rule list for production. Plan-literal map: suitable up to
    ~1k rules; use :func:`with_registrable_domain` for the full list
    (one broadcast row instead of plan literals)."""
    m, maxk = _psl_rules(suffixes)
    lit_map = _lit_string_map(m)
    return _registrable_expr(_col(host), lit_map, maxk).alias(alias)


def with_registrable_domain(
    docs: DataFrame,
    url_col: str | None = None,
    host_col: str | None = None,
    out: str = "registrable_domain",
    suffixes: list[str] | None = None,
) -> DataFrame:
    """Add the eTLD+1 column from a URL (``url_col``) or a clean host
    (``host_col``). Below ``_LITERAL_SUFFIX_MAX`` rules the map rides as
    plan literals; above (the full ~10k-rule PSL), it ships as ONE
    broadcast single-row ``map<string,string>`` — either way the lookup
    is O(max_rule_depth) ``try_element_at`` calls per row, zero shuffle,
    so a 100 TB corpus pays one map-side projection."""
    if (url_col is None) == (host_col is None):
        raise ValueError("pass exactly one of url_col / host_col")
    if url_col is not None:
        # RAW host (no www-strip): the PSL algorithm treats 'www' as an
        # ordinary label — registrable('www.foo.com') is foo.com via the
        # default rule anyway, and stripping it first would corrupt the
        # exception-rule class where the registrable domain itself is
        # www-prefixed (PSL '!www.ck': host www.ck must stay www.ck).
        u = F.trim(F.col(url_col))
        host = F.nullif(
            F.lower(
                F.regexp_extract(
                    u, _SCHEME_RE + "(?:[^@/?#]*@)?([^/?#:]*)", 1
                )
            ),
            F.lit(""),
        )
    else:
        host = F.lower(F.col(host_col))
    m, maxk = _psl_rules(suffixes)
    if len(m) <= _LITERAL_SUFFIX_MAX:
        lit_map = _lit_string_map(m)
        return docs.withColumn(out, _registrable_expr(host, lit_map, maxk))
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField(
            "__psl_map", T.MapType(T.StringType(), T.StringType())
        )
    ])
    tbl = docs.sparkSession.createDataFrame([(m,)], schema)
    return (
        docs.crossJoin(F.broadcast(tbl))
        .withColumn(out, _registrable_expr(host, F.col("__psl_map"), maxk))
        .drop("__psl_map")
    )


def normalize_url(url: Column | str, alias: str = "norm_url") -> Column:
    """Canonical URL for dedup / grouping: fragment stripped, scheme and
    host lowercased (path/query case is significant and preserved),
    userinfo and default ports (``:80`` http / ``:443`` https) dropped,
    one leading ``www.`` removed, tracking query parameters
    (``utm_*``/``fbclid``/``gclid``/...) filtered out, trailing path
    slashes dropped. Values without a ``scheme://`` part are returned
    trimmed and fragment-stripped only (nothing to parse). NULL -> NULL.

    Pure ``regexp_extract``/``regexp_replace``/HOF-filter arithmetic —
    per-row projection, zero shuffle, replayable in any SQL engine.
    """
    u = F.regexp_replace(F.trim(_col(url)), "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, "(" + _SCHEME_RE[1:-3] + ")://", 1))
    hostport = F.lower(
        F.regexp_extract(u, _SCHEME_RE + "(?:[^@/?#]*@)?([^/?#]*)", 1)
    )
    hostport = F.regexp_replace(hostport, "^www\\.", "")
    host = F.when(
        scheme == "http", F.regexp_replace(hostport, ":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(hostport, ":443$", "")
    ).otherwise(hostport)
    path = F.regexp_replace(
        F.regexp_extract(u, _SCHEME_RE + "[^/?#]*([^?#]*)", 1), "/+$", ""
    )
    query = F.regexp_extract(u, "\\?([^#]*)", 1)
    kept_params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING_RE),
    )
    q_norm = F.array_join(kept_params, "&")
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(q_norm == "", F.lit("")).otherwise(F.concat(F.lit("?"), q_norm)),
    )
    return F.when(_col(url).isNull(), F.lit(None).cast("string")).when(
        scheme == "", u
    ).otherwise(rebuilt).alias(alias)


# (pattern, replacement) chain applied IN ORDER by extract_text_html.
# Inline (?is) flags keep the chain portable: Java regex (Spark) and RE2
# (DuckDB) both honor them, so a SQL oracle replays extraction exactly.
HTML_STRIP_STEPS: list[tuple[str, str]] = [
    # invisible content goes first, whole-element
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    # block-level boundaries become newlines so paragraphs survive
    (r"(?i)<(?:br|hr)\b[^>]*>", "\n"),
    (r"(?i)</(?:p|div|li|tr|h[1-6]|blockquote|pre|section|article)\s*>",
     "\n"),
    # every remaining tag vanishes
    (r"(?s)<[^>]*>", " "),
]

# minimal named-entity set (unescaped AFTER tag stripping, so literal
# "&lt;script&gt;" in the source text stays text — the standard order)
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),  # last: "&amp;lt;" must yield "&lt;", not "<"
]


def extract_text_html(html: Column | str, alias: str = "text") -> Column:
    """Visible text of an HTML document — the boilerplate-free extraction
    stage every crawl pipeline (CCNet / RefinedWeb trafilatura-class)
    runs before text filters. Pure ``regexp_replace`` chain, per-row
    projection, zero shuffle, zero Python:

    1. drop ``<script>``/``<style>`` elements whole and HTML comments,
    2. turn block-level boundaries (``<br>``, ``</p>``, ``</div>``,
       ``</li>``, headings, ...) into newlines so paragraph structure
       survives for the paragraph-grain filters downstream,
    3. strip every remaining tag,
    4. unescape the common named entities (after tag stripping, so
       escaped markup in the source stays literal text),
    5. collapse whitespace: runs containing a newline become one
       newline, other runs one space; trimmed.

    NULL -> NULL. This is the dependency-free 95% extractor: it does not
    implement the HTML5 tree algorithm (malformed-tag recovery, CDATA in
    non-XML mode) — rows needing that go through an external extractor
    upstream.
    """
    c = _col(html)
    out = c
    for pat, rep in HTML_STRIP_STEPS:
        out = F.regexp_replace(out, pat, rep)
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    out = F.regexp_replace(out, r"[ \t\r\f]*\n[ \t\r\f\n]*", "\n")
    out = F.regexp_replace(out, r"[ \t\r\f]+", " ")
    # explicit char class (not \s): Java \s includes \x0B where SQL
    # engines' trim lists don't — keep the chain engine-portable
    out = F.regexp_replace(out, "^[ \t\r\f\n]+|[ \t\r\f\n]+$", "")
    return out.alias(alias)


def extract_links(
    df: DataFrame,
    html_col: str,
    base_url_col: str | None = None,
    out: str = "link",
) -> DataFrame:
    """One row per ``<a href=...>`` target — the edge-extraction stage a
    link-graph build (PageRank/harmonic curation, Common Crawl's
    web-graph releases) runs over every crawled page.

    ``href`` values are pulled with one ``regexp_extract_all`` (both
    quote styles, any attribute order before/after ``href``), exploded
    to rows, and absolutized: protocol-relative ``//host/p`` inherits
    the base scheme, root-relative ``/p`` inherits scheme+host (when
    ``base_url_col`` is given), fragment-only / ``javascript:`` /
    ``mailto:`` targets are dropped. Map-side extract + explode, no
    shuffle; at crawl scale this fuses into the WARC scan.
    """
    hrefs = F.regexp_extract_all(
        F.col(html_col),
        F.lit(r"""<[aA][^>]*\s[hH][rR][eE][fF]\s*=\s*(["'])([^"']*)\1"""),
        F.lit(2),
    )
    exploded = df.withColumn("__href", F.explode_outer(hrefs)).where(
        F.col("__href").isNotNull()
        & (F.col("__href") != "")
        & ~F.col("__href").startswith("#")
        & ~F.lower(F.col("__href")).rlike("^(javascript|mailto|tel|data):")
    )
    href = F.col("__href")
    if base_url_col is not None:
        base = F.col(base_url_col)
        scheme = F.regexp_extract(base, "^([a-zA-Z][a-zA-Z0-9+.-]*):", 1)
        origin = F.regexp_extract(base, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]+)", 1)
        resolved = (
            F.when(href.rlike(_SCHEME_RE), href)
            .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
            .when(href.startswith("/"), F.concat(origin, href))
            .otherwise(
                # relative path: against the base's directory (greedy
                # ".*/" = through the LAST slash); a path-less base
                # resolves against origin + "/"
                F.concat(
                    F.coalesce(
                        F.nullif(
                            F.regexp_extract(
                                F.regexp_replace(base, "[?#].*$", ""),
                                "^([a-zA-Z][a-zA-Z0-9+.-]*://.*/)",
                                1,
                            ),
                            F.lit(""),
                        ),
                        F.concat(origin, F.lit("/")),
                    ),
                    href,
                )
            )
        )
    else:
        resolved = href
    return exploded.withColumn(out, resolved).drop("__href")


def domain_caps(
    docs: DataFrame,
    url_col: str,
    n: int,
    id_col: str = "doc_id",
    seed: int = 42,
    grain: str = "host",
    suffixes: list[str] | None = None,
) -> DataFrame:
    """Keep at most ``n`` rows per domain — the RefinedWeb-style dominance
    cap, applied before any text operator so one link farm can't flood the
    token budget. Selection is the deterministic exact-``n``
    :func:`~.corpus.sample_per_group` tournament on md5(seed:id) (engine-
    replayable, no mega-domain hotspot task). Rows whose URL yields no
    domain (NULL) form their own capped group. Output: the surviving input
    rows, original columns.

    ``grain="registrable"`` caps at eTLD+1
    (:func:`with_registrable_domain` — ``a.example.co.uk`` and
    ``b.example.co.uk`` share one budget), the semantics real per-domain
    caps need; ``"host"`` (default) is the dependency-free exact grain.
    """
    if grain not in ("host", "registrable"):
        raise ValueError(f"grain must be 'host' or 'registrable', got {grain!r}")
    if grain == "registrable":
        d = with_registrable_domain(
            docs, url_col=url_col, out="__domain", suffixes=suffixes
        )
    else:
        d = docs.withColumn("__domain", url_domain(F.col(url_col)))
    from .corpus import sample_per_group

    return sample_per_group(d, "__domain", n, id_col=id_col, seed=seed).drop(
        "__domain"
    )


def blocklist_filter(
    docs: DataFrame,
    blocked: DataFrame | list[str],
    url_col: str,
    id_col: str = "doc_id",
    domain_col: str = "domain",
    include_subdomains: bool = True,
    grain: str = "host",
    suffixes: list[str] | None = None,
) -> DataFrame:
    """Drop rows whose URL's domain is on a blocklist (broadcast
    anti-join). With ``include_subdomains`` (the standard semantics:
    blocking ``example.com`` also blocks ``a.b.example.com``), each row's
    domain explodes to its suffix chain (``a.b.c`` -> ``a.b.c``, ``b.c``,
    ``c``) so the match stays a plain broadcast EQUI-join — no per-pair
    ``endswith`` nested-loop against the corpus. Rows with NULL domains
    are kept (nothing to attribute).

    Note an eTLD+1 blocklist entry (``example.co.uk``) already blocks
    every subdomain via the suffix chain. ``grain="registrable"``
    instead maps BOTH sides to eTLD+1 (:func:`with_registrable_domain`)
    and equi-joins — "block the whole registrable site any of these
    hosts belongs to": a blocklist entry ``a.example.co.uk`` then also
    blocks ``b.example.co.uk`` (subsumes ``include_subdomains``).
    """
    from ..operators.timeseries import _let_sql

    if grain not in ("host", "registrable"):
        raise ValueError(f"grain must be 'host' or 'registrable', got {grain!r}")
    if isinstance(blocked, list):
        blocked = docs.sparkSession.createDataFrame(
            [(d,) for d in blocked], f"{domain_col} string"
        )
    if grain == "registrable":
        bl = with_registrable_domain(
            blocked, host_col=domain_col, out="__blk", suffixes=suffixes
        ).select("__blk").where(F.col("__blk").isNotNull()).distinct()
        d = with_registrable_domain(
            docs, url_col=url_col, out="__domain", suffixes=suffixes
        )
        keys = d.select(
            F.col(id_col).alias("__bid"), F.col("__domain").alias("__blk")
        )
        hit_ids = (
            keys.join(F.broadcast(bl), on="__blk")
            .select(F.col("__bid").alias(id_col))
            .distinct()
        )
        return d.join(hit_ids, on=id_col, how="left_anti").drop("__domain")
    bl = blocked.select(
        F.lower(F.col(domain_col)).alias("__blk")
    ).distinct()
    d = docs.withColumn("__domain", url_domain(F.col(url_col)))
    if include_subdomains:
        sufs = _let_sql(
            "split(__domain, '[.]')",
            "__p",
            "transform(sequence(0, size(__p) - 1), "
            "__i -> array_join(slice(__p, __i + 1, size(__p) - __i), '.'))",
        )
        keys = d.select(
            F.col(id_col).alias("__bid"),
            F.explode(F.expr(sufs)).alias("__blk"),
        )
    else:
        keys = d.select(
            F.col(id_col).alias("__bid"), F.col("__domain").alias("__blk")
        )
    hit_ids = (
        keys.join(F.broadcast(bl), on="__blk")
        .select(F.col("__bid").alias(id_col))
        .distinct()
    )
    return (
        d.join(hit_ids, on=id_col, how="left_anti").drop("__domain")
    )


def parse_robots(
    robots: DataFrame,
    domain_col: str = "domain",
    text_col: str = "robots_txt",
    agent: str = "*",
) -> DataFrame:
    """Parse per-domain ``robots.txt`` bodies into an applicable-rules
    table ``(domain, rule 'allow'|'disallow', path)`` for the given
    user agent — crawl compliance as a DataFrame op.

    Semantics (RFC 9309 group model, 1994-REP path matching):

    * lines split on ``\\n``; ``#`` comments stripped; keys
      case-insensitive; blank/unknown lines ignored,
    * consecutive ``User-agent`` lines start ONE group; the group's
      rules apply to every listed agent,
    * if any group names ``agent`` (case-insensitive exact token),
      only those groups apply; otherwise the ``*`` groups apply,
    * rules with empty paths are the spec's "allow all" no-ops and are
      dropped. Path matching downstream is PREFIX matching (the 1994
      REP); ``*``/``$`` wildcard extensions are not interpreted —
      wildcard rules are dropped here with the boundary documented.

    Everything is window/string arithmetic over the per-domain line
    list (robots files are KB-sized — the per-domain window is bounded),
    so a SQL oracle replays parsing exactly.
    """
    from pyspark.sql import Window

    lines = robots.select(
        F.col(domain_col).alias("domain"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n"))
        .alias("__ln", "__raw"),
    ).select(
        "domain",
        "__ln",
        F.trim(F.regexp_replace(F.col("__raw"), "#.*$", "")).alias("__line"),
    ).where(F.col("__line") != "")
    parsed = lines.select(
        "domain",
        "__ln",
        F.lower(F.trim(F.substring_index(F.col("__line"), ":", 1))).alias(
            "__key"
        ),
        F.trim(
            F.expr("substring(__line, instr(__line, ':') + 1)")
        ).alias("__val"),
    ).where(
        F.col("__line").contains(":")
        & F.col("__key").isin("user-agent", "allow", "disallow")
    )
    w = Window.partitionBy("domain").orderBy("__ln")
    grouped = parsed.withColumn(
        "__is_ua", (F.col("__key") == "user-agent").cast("int")
    ).withColumn(
        "__new_grp",
        (
            (F.col("__is_ua") == 1)
            & (F.coalesce(F.lag("__is_ua").over(w), F.lit(0)) == 0)
        ).cast("int"),
    ).withColumn("__grp", F.sum("__new_grp").over(w))
    agents = (
        grouped.where(F.col("__is_ua") == 1)
        .groupBy("domain", "__grp")
        .agg(F.collect_set(F.lower(F.col("__val"))).alias("__agents"))
    )
    a = agent.lower()
    flagged = agents.select(
        "domain",
        "__grp",
        F.array_contains("__agents", a).alias("__specific"),
        F.array_contains("__agents", "*").alias("__star"),
    )
    has_specific = flagged.groupBy("domain").agg(
        F.max(F.col("__specific").cast("int")).alias("__has_spec")
    )
    applicable = flagged.join(has_specific, "domain").where(
        F.when(F.col("__has_spec") == 1, F.col("__specific")).otherwise(
            F.col("__star")
        )
    ).select("domain", "__grp")
    rules = grouped.where(F.col("__is_ua") == 0).select(
        "domain", "__grp", F.col("__key").alias("rule"),
        F.col("__val").alias("path"),
    )
    return (
        rules.join(applicable, ["domain", "__grp"])
        .where(
            (F.col("path") != "")
            & ~F.col("path").contains("*")
            & ~F.col("path").endswith("$")
        )
        .select("domain", "rule", "path")
    )


def robots_filter(
    docs: DataFrame,
    robots: DataFrame,
    url_col: str,
    agent: str = "*",
    id_col: str = "doc_id",
    domain_col: str = "domain",
    text_col: str = "robots_txt",
) -> DataFrame:
    """Drop rows whose URL a domain's ``robots.txt`` disallows for
    ``agent`` — the crawl-compliance gate RefinedWeb-class pipelines run
    before any text operator.

    Per URL: rules for its domain (:func:`parse_robots`) prefix-match
    the URL path (1994 REP); the LONGEST matching rule wins and allow
    beats disallow on equal length (RFC 9309 precedence). No robots
    entry / no matching rule / un-parseable URL => allowed.

    Scale shape: rules live at (domain, rule) grain — KB per domain —
    so the join is a plain equi-join on domain (broadcastable when the
    robots corpus is small, hash-partitioned otherwise); only
    (id, domain, path) leaves the docs side before the verdict.
    """
    rules = parse_robots(robots, domain_col, text_col, agent)
    d = docs.withColumn("__domain", url_domain(F.col(url_col)))
    d = d.withColumn(
        "__path",
        F.coalesce(
            F.nullif(
                F.regexp_extract(
                    F.trim(F.col(url_col)), _SCHEME_RE + "[^/?#]*([^?#]*)", 1
                ),
                F.lit(""),
            ),
            F.lit("/"),
        ),
    )
    hits = (
        d.select(F.col(id_col).alias("__rid"), "__domain", "__path")
        .join(rules, d["__domain"] == rules["domain"])
        .where(F.col("__path").startswith(F.col("path")))
    )
    from pyspark.sql import Window

    best = Window.partitionBy("__rid").orderBy(
        F.length("path").desc(), F.col("rule").asc()  # 'allow' < 'disallow'
    )
    denied = (
        hits.withColumn("__rk", F.row_number().over(best))
        .where((F.col("__rk") == 1) & (F.col("rule") == "disallow"))
        .select(F.col("__rid").alias(id_col))
    )
    return d.join(denied, id_col, "left_anti").drop("__domain", "__path")
