"""Relational robots.txt parsing and URL admission (RFC 9309 subset).

The crawl-side gate of a web corpus pipeline: before pages enter the
corpus, URL admission is decided against each host's robots.txt. Both
halves are pure Catalyst — parsing is split/explode/window over the
(small, per-host) line lists, evaluation is a host-keyed join plus a
longest-match window — so 10^8 robots bodies and 10^12 candidate URLs
stay JVM-side with two shuffles total (host-partitioned parse window;
admission join keyed on host).

Supported subset, stated explicitly:

* ``User-agent`` / ``Allow`` / ``Disallow`` fields, case-insensitive,
  ``#`` comments stripped, stanza grouping per RFC 9309 §2.1 (multiple
  consecutive User-agent lines share one group; rules before any
  User-agent line belong to no group and are ignored).
* Agent selection: exact (case-insensitive) product token match, else
  the ``*`` group; an exact group fully shadows ``*`` (RFC behavior).
* Path rules: literal prefixes, the trailing ``$`` end anchor, and
  in-path ``*`` wildcards (RFC 9309 §2.2.3 — 0+ of any character;
  the rule compiles to an anchored per-row regex with every other
  metacharacter escaped, so ``Disallow: /*.pdf$`` and
  ``Disallow: /private*/x`` match per the Google/RFC matcher while a
  literal dot in a rule stays literal), matched against path+query
  (``Disallow: /search?q=`` works). Wildcard-free rules keep the
  codegen'd startswith fast path — only rules containing ``*`` pay
  the per-row regex.
* Precedence: longest matching rule wins (rule-text length, the
  RFC/Google specificity measure — wildcards count as written);
  Allow wins length ties; no matching rule (or no robots.txt for the
  host) -> allowed.
* Empty ``Disallow:`` (no value) matches nothing, i.e. allows all —
  the classic "allow everything" idiom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.urls import url_host, url_path, url_query

__all__ = [
    "parse_robots",
    "evaluate_robots",
    "sitemap_urls",
    "crawl_delays",
    "meta_robots_flags",
]


def meta_robots_flags(
    nodes: DataFrame,
    pages: DataFrame,
    *,
    url_col: str = "url",
) -> DataFrame:
    """(url, noindex, nofollow, admitted): page-level robots meta
    directives — the in-document complement of the robots.txt gate
    (REP meta extension; Google/Bing 'robots meta tag' semantics). A
    page is flagged by ANY ``<meta name=robots|googlebot>`` whose
    comma-separated content mentions ``noindex``/``nofollow`` (or
    ``none``, which implies both); names/values match
    case-insensitively with whitespace-tolerant token splitting, and
    multiple meta tags OR together (the restrictive union, per the
    published semantics). ``admitted`` = NOT noindex — the crawl-
    corpus admission column.

    ``pages`` (the url universe) is required because the nodes table
    omits documents with no DOM rows — an html-less page must still
    be admitted rather than silently vanish.

    Scale shape: the meta filter prunes the nodes table to a handful
    of rows per document BEFORE its url-keyed aggregate, and the
    flag table (<= one row per flagged url) left-joins back to the
    url universe — both shuffles are url-keyed and tiny on one side;
    no window, no explode of full documents.
    """
    # NOT `F.transform(..., F.trim)`: Spark 4's trim has an optional
    # second parameter, so transform would treat it as the binary
    # (element, index) lambda and pass the array INDEX as the set of
    # characters to trim. The unary lambda pins the right overload.
    directives = F.transform(
        F.split(F.coalesce(F.lower(F.col("attrs")["content"]), F.lit("")), ","),
        lambda x: F.trim(x),
    )
    metas = (
        nodes.filter(
            (F.col("name") == "meta")
            & F.lower(F.col("attrs")["name"]).isin("robots", "googlebot")
        )
        .select(
            F.col(url_col).alias("url"),
            F.array_contains(directives, "noindex").alias("__ni"),
            F.array_contains(directives, "nofollow").alias("__nf"),
            F.array_contains(directives, "none").alias("__none"),
        )
        .groupBy("url")
        .agg(
            F.max(F.col("__ni") | F.col("__none")).alias("__noindex"),
            F.max(F.col("__nf") | F.col("__none")).alias("__nofollow"),
        )
    )
    return pages.select(F.col(url_col).alias("url")).join(
        metas, "url", "left"
    ).select(
        "url",
        F.coalesce(F.col("__noindex"), F.lit(False)).alias("noindex"),
        F.coalesce(F.col("__nofollow"), F.lit(False)).alias("nofollow"),
        (~F.coalesce(F.col("__noindex"), F.lit(False))).alias("admitted"),
    )


def _one_body(robots: DataFrame, host_col: str, body_col: str) -> DataFrame:
    """Duplicate-fetch resolution shared by every robots consumer:
    one deterministic (lexicographically smallest) body per host, so
    rule parsing and sitemap discovery always read the SAME file."""
    return robots.groupBy(F.col(host_col).alias("host")).agg(
        F.min(F.col(body_col)).alias("body")
    )


def _line_fields(raw):
    """(field, value) of a robots line: comment stripped, field
    lowercased, value = everything after the FIRST colon (URLs in
    values contain ':')."""
    clean = F.trim(F.regexp_replace(raw, "#.*", ""))
    field = F.lower(F.trim(F.regexp_extract(clean, r"^([^:]+):", 1)))
    value = F.trim(F.regexp_extract(clean, r"^[^:]+:(.*)$", 1))
    return field, value


def _stanzas(robots: DataFrame, host_col: str, body_col: str, fields):
    """(agents, lines) of every host's robots groups: ``agents`` is
    (host, group_id, agent) with the agent lowercased, ``lines`` is
    (host, group_id, field, value) for the other kept lines.

    Only lines whose field is in ``fields`` (which holds 'user-agent')
    are kept, and grouping runs over the kept lines: a User-agent line
    opens a new group unless the previous kept line was also a
    User-agent line (consecutive UA lines share the group, RFC 9309
    §2.1). So each caller's field set decides its own adjacency. Lines
    before any User-agent line get group_id 0, which has no agent.
    """
    lines = _one_body(robots, host_col, body_col).select(
        "host",
        F.posexplode(F.split(F.col("body"), "\n")).alias("pos", "raw"),
    )
    field, value = _line_fields(F.col("raw"))
    parsed = lines.select(
        "host", "pos", field.alias("field"), value.alias("value")
    ).filter(F.col("field").isin(*fields))
    w = Window.partitionBy("host").orderBy("pos")
    is_ua = F.col("field") == "user-agent"
    new_group = is_ua & ~F.lag(is_ua, 1, False).over(w)
    grouped = parsed.withColumn(
        "group_id",
        F.sum(new_group.cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    agents = grouped.filter(is_ua).select(
        "host", "group_id", F.lower(F.col("value")).alias("agent")
    )
    return agents, grouped.filter(~is_ua).select(
        "host", "group_id", "field", "value"
    )


def parse_robots(robots: DataFrame, *, host_col: str = "host",
                 body_col: str = "body") -> DataFrame:
    """(host, agent, rule, path) from a (host, robots-txt body) table.

    One row per (group agent x group rule); ``rule`` is 'allow' or
    'disallow'; ``agent`` is lowercased. A group with no valued rules
    (the 'User-agent: x / Disallow:' allow-all idiom, or only
    unsupported fields) still emits one (host, agent, NULL, NULL)
    presence row — group *existence* decides agent shadowing in
    :func:`evaluate_robots`, so the whitelisted-agent group must
    survive parsing even when it carries no restrictions.

    Expects one body row per host; duplicate fetches are resolved
    deterministically to the lexicographically-smallest body (line
    positions from two interleaved bodies would otherwise corrupt
    stanza grouping nondeterministically). The stanza window
    partitions by host — robots bodies are bounded (Google caps at
    500 KiB), so per-host line lists never skew a partition.
    """
    agents, lines = _stanzas(
        robots, host_col, body_col, ("user-agent", "allow", "disallow")
    )
    rules = lines.filter(F.col("value") != "").select(
        "host", "group_id", F.col("field").alias("rule"),
        F.col("value").alias("path"),
    )
    # Rules inherit every agent of their stanza; rules before any
    # User-agent line (group_id 0 has no agent rows) drop here. The
    # LEFT join keeps rule-less groups as NULL presence rows.
    return agents.join(rules, ["host", "group_id"], "left").select(
        "host", "agent", "rule", "path"
    )


def crawl_delays(robots: DataFrame, *, host_col: str = "host",
                 body_col: str = "body") -> DataFrame:
    """(host, agent, delay_sec) for every stanza carrying a
    ``Crawl-delay:`` line — the de-facto politeness extension (not in
    RFC 9309, but honored by most large crawlers; the frontier turns
    it into a per-host fetch budget: ``floor(window / delay)``).

    Groups come from the stanza builder shared with
    :func:`parse_robots`, run over this function's own field set
    (User-agent and Crawl-delay lines), so the extra field cannot
    perturb parse_robots' adjacency. Only groups that HAVE a delay
    line emit a row; multiple delay lines in one group keep the
    smallest (conservative politeness); an unparseable value yields
    ``delay_sec`` NULL — visible corruption rather than a
    silently-dropped directive.
    """
    agents, lines = _stanzas(
        robots, host_col, body_col, ("user-agent", "crawl-delay")
    )
    delays = (
        lines.select(
            "host", "group_id",
            # try_cast: an unparseable value is data corruption, not a
            # job failure (ANSI cast would throw on e.g. 'fast')
            F.col("value").try_cast("double").alias("delay_sec"),
        )
        .groupBy("host", "group_id")
        # min skips NULLs: smallest valid delay wins, and the result
        # is NULL only when every line in the group was invalid.
        .agg(F.min("delay_sec").alias("delay_sec"))
    )
    return agents.join(delays, ["host", "group_id"]).select(
        "host", "agent", "delay_sec"
    )


def sitemap_urls(robots: DataFrame, *, host_col: str = "host",
                 body_col: str = "body") -> DataFrame:
    """(host, sitemap_url) from ``Sitemap:`` directives.

    Per RFC 9309 §2.3 the directive is group-independent (it can
    appear anywhere in the file), so this is a plain line filter — no
    stanza bookkeeping. Duplicate fetches resolve through the same
    one-body-per-host rule as :func:`parse_robots` (discovering
    sitemaps from a body whose rules were discarded would split the
    crawl's view of the host), and repeated directives dedupe. Feeds
    the sitemap parser (:mod:`engine.sitemap`) to close the robots ->
    sitemap -> frontier discovery loop."""
    lines = _one_body(robots, host_col, body_col).select(
        "host",
        F.explode(F.split(F.col("body"), "\n")).alias("raw"),
    )
    field, value = _line_fields(F.col("raw"))
    return (
        lines.select("host", field.alias("f"), value.alias("sitemap_url"))
        .filter((F.col("f") == "sitemap") & (F.col("sitemap_url") != ""))
        .select("host", "sitemap_url")
        .distinct()
    )


def evaluate_robots(
    urls: DataFrame,
    rules: DataFrame,
    agent: str,
    *,
    url_col: str = "url",
) -> DataFrame:
    """(url, allowed) per distinct input URL under ``agent``.

    The applicable group per host is the exact-agent group when one
    exists (even a rule-less one — its NULL presence row from
    :func:`parse_robots` shadows ``*`` while restricting nothing),
    else ``*``; admission is the longest-matching-rule with Allow
    winning ties. Rules match against the path plus query ('?'
    included), per the RFC 9309 / Google matcher, so
    ``Disallow: /search?q=`` works. URLs on hosts with no rules are
    allowed. Output is one row per *distinct* URL string — join it
    back to a candidate table for row-level verdicts.
    """
    agent = agent.lower()
    applicable = rules.filter(F.col("agent").isin(agent, "*")).withColumn(
        "pref", F.when(F.col("agent") == agent, 0).otherwise(1)
    )
    best = (
        applicable.withColumn(
            "minpref", F.min("pref").over(Window.partitionBy("host"))
        )
        .filter(F.col("pref") == F.col("minpref"))
        .select("host", "rule", "path")
    )
    upath = F.when(url_path(F.col(url_col)) == "", "/").otherwise(
        url_path(F.col(url_col))
    )
    q = url_query(F.col(url_col))
    u = urls.select(
        F.col(url_col).alias("url"),
        url_host(F.col(url_col)).alias("host"),
        F.concat(
            upath, F.when(q == "", "").otherwise(F.concat(F.lit("?"), q))
        ).alias("upath"),
    ).distinct()
    j = u.join(best, "host", "left")
    anchored = F.col("path").endswith("$")
    pat = F.when(
        anchored, F.expr("substring(path, 1, length(path) - 1)")
    ).otherwise(F.col("path"))
    # RFC 9309 §2.2.3 in-path '*' (0+ of any character): wildcard
    # rules compile to an anchored regex built per rule — every regex
    # metacharacter escaped, then '*' -> '.*'. Only rules containing
    # '*' take this branch (CaseWhen evaluates lazily), so plain
    # prefix rules keep the codegen'd startswith fast path.
    has_wc = F.col("path").contains("*")
    esc = F.regexp_replace(pat, r"([.\[\]{}()+\-^$|?\\])", r"\\$1")
    rex = F.concat(
        F.lit("^"),
        F.regexp_replace(esc, r"\*", ".*"),
        F.when(anchored, F.lit("$")).otherwise(F.lit("")),
    )
    # rlike with a PER-ROW pattern needs the SQL form (the Column
    # method only takes literals).
    j = j.withColumn("__rex", rex)
    matched = F.col("path").isNotNull() & F.when(
        has_wc, F.expr("upath rlike __rex")
    ).when(
        anchored, F.col("upath") == pat
    ).otherwise(F.col("upath").startswith(pat))
    scored = j.select(
        "url",
        matched.alias("m"),
        F.length(pat).alias("plen"),
        "rule",
    )
    # Longest match first; 'allow' < 'disallow' sorts Allow ahead on
    # length ties; trailing keys pin full determinism for duplicates.
    pick = Window.partitionBy("url").orderBy(
        F.when(F.col("m"), F.col("plen")).otherwise(-1).desc(),
        F.col("rule").asc_nulls_last(),
    )
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "url",
            (~(F.col("m") & (F.col("rule") == "disallow"))).alias("allowed"),
        )
    )
