"""Distributed sitemap ingestion: sitemap XML documents → frontier seeds.

A web-scale crawl doesn't start from link discovery — it starts from the
URL inventories hosts publish (the sitemaps.org protocol): robots.txt
``Sitemap:`` directives name index files, indexes name leaf sitemaps, leaf
sitemaps name up to 50k URLs each. At 10^8 hosts that inventory IS the
initial frontier, so ingestion must be distributed: the parse runs in
Arrow batches over the (url, xml) rows (one task per input split, never a
driver-side loop), and the output feeds straight into the engine's
url-canonicalization + seen-filter round stages.

The reference's spider seeds from program literals (boris/main.rkt) and has
no sitemap notion; this module follows the public protocol instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.sitemapkit import parse_sitemap, sitemap_urls_from_robots

ENTRIES_SCHEMA = (
    "sitemap_url string, kind string, loc string, lastmod string, "
    "changefreq string, priority double"
)


def read_sitemaps(sitemaps: DataFrame, url_col: str = "url",
                  xml_col: str = "xml") -> DataFrame:
    """Parse a table of fetched sitemap documents into one row per entry.

    Input: any DataFrame with (*url_col*, *xml_col*) — e.g. the crawl's
    stored bodies for ``/sitemap.xml`` urls, or a WARC ingest filtered to
    ``application/xml``. Output columns: ``sitemap_url`` (the source
    document), ``kind`` ('urlset' leaf entry | 'sitemapindex' child
    pointer), ``loc``, ``lastmod``, ``changefreq``, ``priority``.

    One ``mapInPandas`` pass — the XML never leaves its executor, and a
    10^6-document sitemap corpus parses with file-split parallelism.
    Unparseable / non-sitemap documents contribute zero rows (lenient
    real-web behavior, kernel/sitemapkit.py).
    """

    def parse(batches):
        import pandas as pd

        cols = ["sitemap_url", "kind", "loc", "lastmod", "changefreq",
                "priority"]
        for pdf in batches:
            rows = []
            for u, xml in zip(pdf[url_col], pdf[xml_col]):
                if isinstance(xml, (bytes, bytearray)):
                    xml = xml.decode("utf-8", "replace")
                for e in parse_sitemap(xml or ""):
                    rows.append((u, e.kind, e.loc, e.lastmod,
                                 e.changefreq, e.priority))
            yield pd.DataFrame(rows, columns=cols)

    return (
        sitemaps.select(F.col(url_col), F.col(xml_col))
        .mapInPandas(parse, ENTRIES_SCHEMA)
    )


def sitemap_frontier(entries: DataFrame) -> DataFrame:
    """Leaf-sitemap entries → deduplicated crawl seeds
    ``(url_canon, url_full, url_hash, host)`` — canonical-keyed exactly
    like the engine's frontier rows, so sitemap-seeded and link-discovered
    urls dedup against each other byte-for-byte (same kernel as the
    url_canonicalize round stage). Index entries (kind = 'sitemapindex')
    are child SITEMAPS, not crawl targets: fetch those and feed them back
    through :func:`read_sitemaps`.

    One groupBy on the canonical key = one shuffle; at 10^9 entries AQE
    coalesces the post-shuffle partitions. ``min(url_full)`` keeps the
    representative raw form deterministic across parallelism levels."""
    from ..kernel import canonicalize, host_of, url_hash

    locs = entries.where(F.col("kind") == "urlset").select(
        F.col("loc").alias("url_full")
    )

    def canon(batches):
        import pandas as pd

        for pdf in batches:
            c = pdf["url_full"].map(canonicalize)
            yield pd.DataFrame({
                "url_canon": c,
                "url_full": pdf["url_full"],
                "url_hash": c.map(url_hash),
                "host": c.map(host_of),
            })

    return (
        locs.mapInPandas(
            canon,
            "url_canon string, url_full string, url_hash long, host string",
        )
        .groupBy("url_canon")
        .agg(
            F.min("url_full").alias("url_full"),
            F.first("url_hash").alias("url_hash"),
            F.first("host").alias("host"),
        )
    )


def discover_sitemaps(robots_pages: DataFrame, url_col: str = "url",
                      body_col: str = "body") -> DataFrame:
    """robots.txt bodies → the host-wide ``Sitemap:`` directive URLs
    (sitemaps protocol §"informing search engine crawlers"): one output row
    per (robots_url, sitemap_url), order within a robots file preserved via
    ``pos``. Distributed scan, same batch shape as read_sitemaps."""

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for u, b in zip(pdf[url_col], pdf[body_col]):
                if isinstance(b, (bytes, bytearray)):
                    b = b.decode("utf-8", "replace")
                for i, sm in enumerate(sitemap_urls_from_robots(b or "")):
                    rows.append((u, i, sm))
            yield pd.DataFrame(
                rows, columns=["robots_url", "pos", "sitemap_url"]
            )

    return robots_pages.select(F.col(url_col), F.col(body_col)).mapInPandas(
        scan, "robots_url string, pos int, sitemap_url string"
    )
