"""URL/domain operators — the crawl-processing half that pairs with
:func:`..sources.corpus.read_wet_corpus`.

Beyond-reference surface (the reference has no notion of URLs); this is
the standard front of a web-scale training-data pipeline: split URLs into
parts, drop blocklisted hosts (UT1/category-blocklist style), and collapse
repeated crawls of the same page.

Scale shape: everything is codegen ``parse_url``/``split``/``transform``
projections plus broadcast/aggregate joins — no Python, no window sorts.
Host-suffix matching explodes each host into its suffix chain (``a.b.c``
→ ``a.b.c``, ``b.c``, ``c`` — at most ~label-count rows, bounded) and
semi-joins the blocklist, so a million-entry blocklist is one broadcast
hash join, never a regex union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from text_extensions_for_pandas_spark.session import local_frame

__all__ = [
    "extract_url_parts",
    "filter_blocked_domains",
    "dedup_by_url",
    "normalize_url",
    "parse_robots",
    "filter_by_robots",
    "parse_sitemaps",
    "extract_sitemap_directives",
]


def extract_url_parts(
    df: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Add ``scheme``, ``host``, ``path``, ``query`` columns parsed from
    ``url_col`` (JVM ``parse_url`` — codegen, NULL for unparseable)."""
    u = F.col(url_col)
    return df.withColumns(
        {
            "scheme": F.lower(F.try_parse_url(u, F.lit("PROTOCOL"))),
            "host": F.lower(F.try_parse_url(u, F.lit("HOST"))),
            "path": F.try_parse_url(u, F.lit("PATH")),
            "query": F.try_parse_url(u, F.lit("QUERY")),
        }
    )


def _suffix_chain(host):
    """``a.b.c`` → ``["a.b.c", "b.c", "c"]`` as a Column expression."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    return F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.array_join(F.slice(labels, i + 1, n - i), "."),
    )


def filter_blocked_domains(
    df: DataFrame,
    blocked: DataFrame | list[str],
    url_col: str = "url",
    host_col: str | None = None,
    keep_unparseable: bool = False,
) -> DataFrame:
    """Drop rows whose host — or ANY parent domain of it — appears in the
    blocklist (``ads.tracker.example`` is blocked by an entry
    ``tracker.example``), the UT1-category-blocklist semantics.

    ``blocked``: a one-column DataFrame (``domain``) or a Python list.
    Matching is by exploded host-suffix chain + left-anti equijoin: the
    corpus pays one narrow projection and one (broadcastable) join,
    whatever the blocklist size.  Rows with an unparseable host are
    dropped unless ``keep_unparseable``.
    """
    spark = df.sparkSession
    if not isinstance(blocked, DataFrame):
        blocked = local_frame(spark, [(d,) for d in blocked], "domain string")
    bl = blocked.select(F.lower(F.col("domain")).alias("__bad")).distinct()
    host = (
        F.lower(F.col(host_col))
        if host_col
        else F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST")))
    )
    tagged = df.withColumn("__host", host)
    hit = (
        tagged.select("__host")
        .distinct()
        .select("__host", F.explode(_suffix_chain(F.col("__host"))).alias("__sfx"))
        # explicit broadcast: the blocklist is model-sized by contract
        # (even a million UT1 entries is tens of MB); without the hint a
        # fresh createDataFrame side can plan as a sort-merge join
        .join(F.broadcast(bl), F.col("__sfx") == F.col("__bad"), "left_semi")
        .select("__host")
        .distinct()
    )
    kept = tagged.join(hit, "__host", "left_anti")
    if not keep_unparseable:
        kept = kept.filter(F.col("__host").isNotNull())
    return kept.drop("__host")


def normalize_url(url_col: str = "url"):
    """Canonical URL form for same-page dedup: lowercase scheme+host,
    default ports stripped (``http://h:80`` ≡ ``http://h``, ``https``
    ``:443``), fragment stripped, trailing ``?`` / ``/`` trimmed,
    default path ``/`` made explicit.  A Column expression (codegen
    regex/string ops).

    Scheme-less inputs (no ``scheme://host`` prefix — WARC-Target-URI is
    normally absolute, but hand-fed URL lists may not be) get the same
    tail normalization: fragment/``?`` stripping plus trailing-slash
    trimming, so ``example.com/page/`` and ``example.com/page`` collapse
    just like their schemeful twins.  (No default-path rule and NO host
    case-folding there — with no scheme the host/path split is ambiguous,
    so ``Example.com/p`` and ``example.com/p`` stay distinct; feed
    absolute URLs when host case variants must collapse.)"""
    u = F.regexp_replace(F.col(url_col), "#.*$", "")  # fragment
    u = F.regexp_replace(u, r"\?$", "")
    # lowercase the scheme://host prefix only — stop at '/', '?', or '#'
    # so a path-less URL's query string is neither case-folded (queries
    # are case-sensitive: ?Session=AbC and ?session=abc are different
    # resources) nor able to hide a default :80/:443 from the strip rule
    prefix = F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    rest = F.substring(u, F.length(prefix) + 1, F.lit(1 << 30))
    low_prefix = F.lower(prefix)
    low_prefix = F.regexp_replace(low_prefix, r"^(http://.*):80$", "$1")
    low_prefix = F.regexp_replace(low_prefix, r"^(https://.*):443$", "$1")
    rest = F.regexp_replace(rest, "/+$", "")  # trailing slashes
    rest = F.when(F.length(rest) == 0, F.lit("/")).otherwise(rest)
    bare = F.regexp_replace(u, "/+$", "")
    bare = F.when(F.length(bare) == 0, F.lit("/")).otherwise(bare)
    return F.when(
        F.length(prefix) > 0, F.concat(low_prefix, rest)
    ).otherwise(bare)


def dedup_by_url(
    df: DataFrame,
    url_col: str = "url",
    order_col: str = "warc_date",
    keep: str = "last",
) -> DataFrame:
    """One row per (normalized) URL: keep the newest crawl
    (``keep="last"`` by ``order_col``) or the oldest (``keep="first"``);
    ties break on the remaining columns' struct order, so the kept row is
    deterministic.  A ``max_by``/``min_by`` hash aggregate — map-side
    combinable, no window sort, skew-bounded by the hottest URL's crawl
    count.

    Rows with a NULL or blank ``url_col`` pass through UN-deduped: a
    crawl shard with missing ``WARC-Target-URI`` headers must not have
    all its URL-less documents silently collapsed into one survivor
    (NULL normalizes to NULL and ``groupBy`` puts every NULL in one
    group — the data-loss foot-gun this branch exists to close)."""
    if keep not in ("first", "last"):
        raise ValueError(f"keep must be 'first' or 'last', got {keep!r}")
    u_raw = F.col(url_col)
    missing = u_raw.isNull() | (F.trim(u_raw) == "")
    passthrough = df.filter(missing)
    tagged = df.filter(~missing).withColumn("__u", normalize_url(url_col))
    pick = F.max_by if keep == "last" else F.min_by
    others = [c for c in df.columns]
    best = tagged.groupBy("__u").agg(
        pick(
            F.struct(*others), F.struct(F.col(order_col), *others)
        ).alias("__best")
    )
    return best.select("__best.*").unionByName(passthrough)


# ---------------------------------------------------------------------------
# robots.txt
# ---------------------------------------------------------------------------

def _parse_robots_py(text: str, user_agent: str) -> list[dict]:
    """RFC 9309 group selection: rules belong to the nearest preceding
    run of ``User-agent:`` lines; group tokens match the configured
    ``user_agent`` case-insensitively as a PREFIX of its product token
    (``trainbot`` matches a crawler configured as ``trainbot/1.2``), the
    longest matching token wins, and only when NO named group matches
    does the ``*`` group apply.  A matching group whose rules are all
    empty-pattern (``Disallow:`` = allow-all) still wins — it yields an
    empty rule list rather than falling through to ``*``.  Empty-pattern
    rules match nothing and are dropped (RFC 9309 §2.2.2).  ``*``/``$``
    wildcards are preserved in ``prefix`` and compiled to a SQL ``LIKE``
    pattern in ``pattern``; ``spec`` is the wildcard-free character
    count (the longest-match specificity key).  Never raises (a garbage
    robots.txt yields no rules = allow-all, the fail-open the RFC
    mandates for 4xx)."""
    groups: dict[str, list[tuple[str, str]]] = {}
    seen_agents: set[str] = set()
    cur_agents: list[str] = []
    rules_seen = True
    try:
        for line in text.splitlines():
            line = line.split("#", 1)[0].strip()
            if not line:
                continue
            key, sep, val = line.partition(":")
            if not sep:
                continue
            key = key.strip().lower()
            val = val.strip()
            if key == "user-agent":
                if rules_seen:
                    cur_agents = []
                    rules_seen = False
                cur_agents.append(val.lower())
                seen_agents.add(val.lower())
            elif key in ("allow", "disallow"):
                rules_seen = True
                if not val:
                    continue  # empty pattern matches nothing (RFC 9309 §2.2.2)
                for a in cur_agents:
                    groups.setdefault(a, []).append((key, val))
    except Exception:
        return []
    # product token = the part before any '/version' suffix, case-folded
    target = user_agent.lower().split("/", 1)[0].strip()
    named = [
        a
        for a in seen_agents
        if a != "*" and (target == a or target.startswith(a))
    ]
    if named:
        # longest matching token wins; an existing-but-empty group is
        # allow-all, NOT a fall-through to '*'
        chosen = groups.get(max(named, key=len), [])
    elif "*" in seen_agents:
        chosen = groups.get("*", [])
    else:
        chosen = []
    out = []
    for rule, prefix in chosen:
        anchored = prefix.endswith("$")
        body = prefix[:-1] if anchored else prefix
        pat = (
            body.replace("\\", "\\\\")
            .replace("%", "\\%")
            .replace("_", "\\_")
            .replace("*", "%")
        )
        if not anchored:
            pat = pat + "%"
        out.append(
            {
                "rule": rule,
                "prefix": prefix,
                "pattern": pat,
                "spec": len(body.replace("*", "")),
            }
        )
    return out


_ROBOTS_RULES_SCHEMA = (
    "array<struct<rule: string, prefix: string, pattern: string, spec: int>>"
)


def parse_robots(
    df: DataFrame,
    host_col: str = "host",
    text_col: str = "robots_txt",
    user_agent: str = "*",
) -> DataFrame:
    """Parse per-host robots.txt bodies into ``(host, rule, prefix,
    pattern, spec)`` rows for ``user_agent`` (RFC 9309 group selection —
    see :func:`_parse_robots_py`).  ``pattern`` is the rule compiled to a
    SQL ``LIKE`` pattern (``*`` wildcards and ``$`` end-anchors
    supported); ``spec`` the longest-match specificity.  One Arrow-
    batched parse projection + explode; the output is robots-file-sized
    (a few rules per host), the broadcastable side of
    :func:`filter_by_robots`."""
    import pandas as pd

    @F.pandas_udf(_ROBOTS_RULES_SCHEMA)
    def _rules(s):  # pd.Series -> pd.Series
        return pd.Series(
            [
                _parse_robots_py(t, user_agent) if t is not None else []
                for t in s
            ]
        )

    return df.select(
        F.lower(F.col(host_col)).alias("host"),
        F.explode(_rules(F.col(text_col))).alias("__r"),
    ).select("host", "__r.rule", "__r.prefix", "__r.pattern", "__r.spec")


def filter_by_robots(
    df: DataFrame,
    robots: DataFrame,
    url_col: str = "url",
    user_agent: str = "*",
) -> DataFrame:
    """Drop rows whose URL the owning host's robots.txt disallows for
    ``user_agent`` — the crawl-corpus compliance pass (pipelines that
    honor retroactive opt-out re-filter stored crawls against CURRENT
    robots files).

    ``robots``: either raw ``(host, robots_txt)`` rows or pre-parsed
    :func:`parse_robots` output (detected by its columns).  Decision per
    URL over its path PLUS query string (RFC 9309 matches rules against
    path+query — ``Disallow: /*?session=`` must match
    ``/page?session=abc``): collect the host's rules that prefix-match
    (``*``/``$`` wildcards honored), pick the most specific (longest
    wildcard-free length; ``allow`` wins ties — RFC 9309 §2.2.2), keep
    the row unless that winner is a ``disallow``.  Hosts with no robots
    entry, unparseable URLs, and empty rule sets are ALLOWED (the RFC's
    fail-open default for unavailable robots files).

    Scale shape: rules are grouped to one array per host (robots files
    are KB-sized by nature) and broadcast-joined to the corpus; the
    match + argmax runs as a row-local higher-order-function expression
    — no explode of the corpus, no window, no Python in the corpus path.
    """
    cols = set(robots.columns)
    rules = (
        robots
        if {"host", "rule", "pattern", "spec"} <= cols
        else parse_robots(robots, user_agent=user_agent)
    )
    per_host = rules.groupBy("host").agg(
        F.collect_list(
            F.struct(
                F.col("spec").alias("spec"),
                (F.col("rule") == "allow").alias("is_allow"),
                F.col("pattern").alias("pattern"),
            )
        ).alias("__rules")
    ).select(F.col("host").alias("__rhost"), "__rules")
    path = F.try_parse_url(F.col(url_col), F.lit("PATH"))
    query = F.try_parse_url(F.col(url_col), F.lit("QUERY"))
    # rule match target is path + '?' + query (RFC 9309); an absent or
    # empty path normalizes to '/' (http://h?q=1 is /?q=1)
    norm_path = F.when(
        path.isNull() | (path == ""), F.lit("/")
    ).otherwise(path)
    target = F.concat(
        norm_path,
        F.coalesce(F.concat(F.lit("?"), query), F.lit("")),
    )
    tagged = df.withColumn(
        "__host", F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST")))
    ).withColumn("__path", target)
    joined = tagged.join(
        F.broadcast(per_host), F.col("__host") == F.col("__rhost"), "left"
    )
    # SQL LIKE with a per-rule pattern column (backslash-escaped in
    # parse_robots, * -> %, optional $ anchor)
    matches = F.filter(
        F.col("__rules"),
        lambda r: F.call_function("like", F.col("__path"), r["pattern"]),
    )
    # struct max orders by (spec, is_allow): longest match wins, allow
    # breaks ties — exactly the RFC precedence
    best = F.array_max(matches)
    verdict = F.when(
        F.col("__rules").isNull() | (F.size(matches) == 0), F.lit(True)
    ).otherwise(best["is_allow"])
    return joined.filter(verdict).drop("__rhost", "__rules", "__host", "__path")


# XML entity decoding for <loc> values — the five predefined entities
# plus numeric character references are what sitemaps.org requires
# producers to escape; &amp; MUST decode last so "&amp;lt;" round-trips
# to the literal "&lt;" rather than double-decoding.  (Decoding numeric
# refs before &amp; is safe: "&amp;#47;" contains no "&#" substring.)
_XML_NUMREF = r"&#(?:[xX][0-9a-fA-F]+|[0-9]+);"


def _decode_numref(r):
    """One ``&#NN;`` / ``&#xHH;`` reference Column → its character,
    entirely JVM-side: code point → 4 big-endian bytes (unhex of the
    zero-padded hex) → one UTF-32 decode.  Out-of-range or unparseable
    code points keep the original reference text (fail-soft)."""
    body = r.substr(F.lit(3), F.length(r) - F.lit(3))
    n = F.when(
        body.rlike("^[xX]"),
        F.conv(body.substr(F.lit(2), F.length(body) - F.lit(1)), 16, 10),
    ).otherwise(body).try_cast("bigint")
    ch = F.decode(F.unhex(F.lpad(F.hex(n), 8, "0")), "UTF-32")
    return F.when(
        n.isNull() | (n <= 0) | (n > F.lit(0x10FFFF)), r
    ).otherwise(ch)


def _xml_unescape(c):
    c = F.regexp_replace(c, r"^\s*<!\[CDATA\[(.*)\]\]>\s*$", r"$1")
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&apos;", "'"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    # numeric character references: split keeps the text between refs,
    # regexp_extract_all keeps the refs; re-interleave with the decoded
    # characters.  No refs → the split has one part and the original
    # string passes through untouched.
    parts = F.split(c, _XML_NUMREF)
    refs = F.regexp_extract_all(c, F.lit("(" + _XML_NUMREF + ")"), 1)
    c = F.when(F.size(refs) == 0, c).otherwise(
        F.concat(
            F.element_at(parts, 1),
            F.aggregate(
                F.sequence(F.lit(1), F.size(refs)),
                F.lit(""),
                lambda acc, i: F.concat(
                    acc,
                    _decode_numref(F.element_at(refs, i)),
                    F.element_at(parts, i + F.lit(1)),
                ),
            ),
        )
    )
    return F.replace(c, F.lit("&amp;"), F.lit("&"))


def parse_sitemaps(
    df: DataFrame,
    host_col: str = "host",
    xml_col: str = "sitemap_xml",
) -> DataFrame:
    """Per-host sitemap XML → one row per entry: ``(host, kind, loc,
    lastmod, changefreq, priority)``.

    ``kind`` is ``'url'`` for ``<urlset>`` page entries and
    ``'sitemap'`` for ``<sitemapindex>`` child pointers — a fetch loop
    re-fetches the ``'sitemap'`` rows and feeds them back through this
    operator until none remain (sitemap trees are shallow: the protocol
    caps files at 50k entries, so large sites are exactly two levels).
    The ``'url'`` rows are the crawl-frontier companion to
    :func:`filter_by_robots`: seed/refresh lists with the site's OWN
    lastmod/priority hints, joinable against a capture index (e.g.
    ``cdx.select_captures``) to find pages a crawl is missing or has
    gone stale on.

    Scale shape: entirely JVM — ``regexp_extract_all`` pulls the entry
    blocks, one ``explode`` emits them, row-local ``regexp_extract``
    projects the fields (entity-decoded, whitespace-trimmed, CDATA
    unwrapped); no Python island, no shuffle.  Sitemap files are
    protocol-capped at 50 MB uncompressed, so per-row memory is bounded
    by contract.  Malformed XML yields however many well-formed entries
    it contains — fail-soft like every reader here; entries with no
    ``<loc>`` are dropped.
    """
    x = F.col(xml_col)
    url_blocks = F.regexp_extract_all(
        x, F.lit(r"(?s)<url[\s>](.*?)</url>"), F.lit(1)
    )
    sm_blocks = F.regexp_extract_all(
        x, F.lit(r"(?s)<sitemap[\s>](.*?)</sitemap>"), F.lit(1)
    )
    entries = F.concat(
        F.transform(
            url_blocks,
            lambda b: F.struct(F.lit("url").alias("kind"), b.alias("b")),
        ),
        F.transform(
            sm_blocks,
            lambda b: F.struct(F.lit("sitemap").alias("kind"), b.alias("b")),
        ),
    )
    b = F.col("__e.b")

    def _field(tag: str):
        return F.regexp_extract(
            b, rf"(?s)<{tag}[^>]*>\s*(.*?)\s*</{tag}>", 1
        )

    out = df.select(
        F.lower(F.col(host_col)).alias("host"),
        F.explode(entries).alias("__e"),
    ).select(
        "host",
        F.col("__e.kind").alias("kind"),
        _xml_unescape(_field("loc")).alias("loc"),
        F.nullif(_field("lastmod"), F.lit("")).alias("lastmod"),
        F.nullif(_field("changefreq"), F.lit("")).alias("changefreq"),
        F.nullif(_field("priority"), F.lit("")).cast("double")
        .alias("priority"),
    )
    return out.filter(F.col("loc") != "")


def extract_sitemap_directives(
    df: DataFrame,
    host_col: str = "host",
    text_col: str = "robots_txt",
) -> DataFrame:
    """``Sitemap:`` directives from robots.txt bodies → ``(host,
    sitemap_url)`` rows — the standard discovery channel (RFC 9309 §2.3
    allows the directive anywhere in the file, outside any user-agent
    group, case-insensitive).  Pure JVM: one ``regexp_extract_all`` per
    robots body + explode; feed the result to a fetcher and then to
    :func:`parse_sitemaps`."""
    urls = F.regexp_extract_all(
        F.col(text_col), F.lit(r"(?im)^\s*sitemap\s*:\s*(\S+)\s*$"), F.lit(1)
    )
    return df.select(
        F.lower(F.col(host_col)).alias("host"),
        F.explode(urls).alias("sitemap_url"),
    )
