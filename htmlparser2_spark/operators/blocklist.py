"""URL/domain blocklist admission — the UT1-style curation gate.

Public web-corpus recipes (RefinedWeb, C4 variants) drop documents
whose host falls under a blocked domain (adult/malware/tracker lists
such as the UT1 collection) or whose URL contains a blocked keyword.
Blocking is by DOMAIN SUFFIX: an entry ``example.com`` must also block
``a.b.example.com`` — matched here by expanding each host into its
label-suffix chain and semi-joining the (small) blocklist.

Scale shape (10^12 docs):

* The suffix explode adds <= label-count rows per url (hosts are
  shallow; ~3-5), all map-side.
* The blocklist side is broadcast (UT1 is ~4M domains, tens of MB —
  executor-resident); the semi join therefore shuffles nothing.
* Only the BLOCKED url set — small by construction for a curation
  gate — is distinct-shuffled and joined back, so the corpus itself
  is never re-partitioned; AQE broadcasts the blocked set when it
  fits.
* Keyword screening is a map-only lowercase ``contains`` chain.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.urls import url_host

__all__ = ["domain_suffixes", "blocklist_admission"]


def domain_suffixes(host: Column) -> Column:
    """Array of the host's label suffixes, longest first:
    ``a.b.example`` -> [``a.b.example``, ``b.example``, ``example``].

    Empty labels are dropped before the chain is built: a trailing-dot
    FQDN (``bad.example.`` — same host to DNS and browsers) must
    produce the same suffixes as ``bad.example``, not a dot-suffixed
    chain that walks past every blocklist entry.

    Each suffix keeps at most 127 labels (the DNS label-count
    ceiling). A host with more labels than that is not a valid DNS
    name; every suffix of it longer than 127 labels comes out
    truncated to its first 127 labels, so it no longer ends at the
    TLD. Suffixes of 127 labels or fewer are exact."""
    # Label array bound as a lambda variable — interpreted HOF lambdas
    # re-evaluate unbound outer expressions per element (here: the
    # host re-split per suffix; hosts are short, but the page-admission
    # path runs this once per page at corpus scale). The inner lambda
    # keeps to ONE outer-variable reference (a 2+-ref inner lambda
    # breaks Python-UDF extraction if a pandas UDF ever consumes the
    # column — see dedup._shingles_of): slice() tolerates a length past
    # the array end, and 127 is the DNS label-count ceiling.
    labels_expr = F.filter(F.split(host, r"\."), lambda l: l != F.lit(""))

    def _suffixes(ls):
        return F.transform(
            F.sequence(F.lit(1), F.size(ls)),
            lambda i: F.concat_ws(".", F.slice(ls, i, F.lit(127))),
        )

    return F.transform(F.array(labels_expr), _suffixes)[0]


def blocklist_admission(
    pages: DataFrame,
    blocked_domains: DataFrame,
    *,
    url_col: str = "url",
    keywords: Sequence[str] = (),
) -> DataFrame:
    """Annotate every page with its admission decision.

    ``blocked_domains`` is a one-column DataFrame (``dom``) of domain
    suffixes to block. ``keywords`` are lowercase substrings blocked
    anywhere in the URL (query-string trackers, path words). Returns
    the input plus ``blocked_reason`` (``domain`` | ``keyword`` |
    NULL) and ``admitted``; domain blocking wins ties so funnel
    reports attribute deterministically. Callers drop with
    ``.filter("admitted")`` or report with a groupBy on the reason.
    """
    host = url_host(F.col(url_col))
    sfx = pages.select(
        F.col(url_col).alias("u"),
        F.explode(domain_suffixes(host)).alias("dom"),
    )
    dom_blocked = (
        sfx.join(F.broadcast(blocked_domains.select("dom")), "dom", "semi")
        .select("u")
        .distinct()
        .withColumn("_dom_block", F.lit(True))
    )
    out = pages.join(
        dom_blocked.withColumnRenamed("u", url_col), url_col, "left"
    )
    low = F.lower(F.col(url_col))
    kw_hit = F.lit(False)
    for k in keywords:
        kw_hit = kw_hit | low.contains(k.lower())
    reason = (
        F.when(F.col("_dom_block"), F.lit("domain"))
        .when(kw_hit, F.lit("keyword"))
        .otherwise(F.lit(None).cast("string"))
    )
    return out.select(
        "*",
        reason.alias("blocked_reason"),
        reason.isNull().alias("admitted"),
    ).drop("_dom_block")
