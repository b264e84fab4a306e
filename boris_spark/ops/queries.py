"""The engine's query surface: every operator as a named (Spark, SQL-oracle)
pair over the driver's testdata tables.

Each entry maps one stage of the crawl round (SURVEY.md §2f) or one
training-data pipeline operator onto (a) an idiomatic-Spark DataFrame job and
(b) an equivalent ANSI-SQL string DuckDB can run on the same parquet — the
driver's correctness gate. Column names/types are aligned on both sides;
floating aggregates are rounded to pin the value-hash.

Scale notes are inline per query: what broadcasts, what shuffles on what key,
and which plan survives 100×.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..engine.crawler import CrawlEngine
from ..engine.tableformat import footer_rows
from ..oracle.program import (
    Extract, First, Go, Label, ListE, Recur, UrlE, XpathE, XpathTextE,
)
from ..synth.webgen import DOC_HOSTS

QUERIES: dict[str, callable] = {}
ORACLE_SQL: dict[str, str] = {}

# Every .persist() a query takes out is registered here so a long gate/bench
# session doesn't accumulate cached blocks across dozens of queries
# (executor storage memory is a shared budget); bench.py and
# scripts/validate_entry.py call release_persisted() when the suite is done.
_persist_pool: list[DataFrame] = []


def _pooled_persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    _persist_pool.append(df)
    return df


def release_persisted() -> None:
    """Unpersist every query-held cache and forget the cross-query ones
    (the per-doc shingle sets, the dedup clusters), so the next query
    rebuilds them — call once per suite, after results are materialized."""
    for df in _persist_pool:
        try:
            df.unpersist()
        except Exception:
            pass
    _persist_pool.clear()
    _doc_sets_cache.clear()
    _clusters_cache.clear()


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def table_rows(sf_dir: str, name: str) -> int:
    """Row count from parquet footers — no Spark job at plan-build time."""
    return footer_rows(os.path.join(sf_dir, f"{name}.parquet"))


def q(name: str, sql: str | None = None):
    def reg(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return reg


# =====================================================================
# Crawl-engine queries (the flagship): distributed frontier crawl over a
# pages table derived deterministically from `documents`, SQL-oracled via a
# recursive CTE on the closed-form link graph.
# =====================================================================

CRAWL_SEED_DOC = 1  # subtree of doc 1 → non-trivial reachable set

_REACH_CTE = f"""
WITH RECURSIVE reach(id) AS (
    SELECT CAST({CRAWL_SEED_DOC} AS BIGINT)
    UNION
    SELECT c FROM (
        SELECT 2*id+1 AS c FROM reach
        UNION ALL
        SELECT 2*id+2 AS c FROM reach
    ) WHERE c < (SELECT count(*) FROM documents)
)
"""

_URL_EXPR_SQL = f"'http://h' || (id % {DOC_HOSTS}) || '.docs.test/d/' || id"


def build_doc_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages table (url, html) derived from `documents` — all JVM-side
    string concat (whole-stage codegen), no UDF. The single <p> holds the
    document text verbatim, so kernel.page_text(html) == text exactly."""
    docs = T(spark, sf_dir, "documents")
    n = table_rows(sf_dir, "documents")
    uid = lambda c: F.concat(  # noqa: E731
        F.lit("http://h"), F.pmod(c, F.lit(DOC_HOSTS)).cast("string"),
        F.lit(".docs.test/d/"), c.cast("string")
    )
    anchor = lambda c: F.when(  # noqa: E731
        c < n,
        F.concat(F.lit("<td class='title'><a href='"), uid(c),
                 F.lit("'>doc "), c.cast("string"), F.lit("</a></td>")),
    ).otherwise(F.lit(""))
    d = F.col("doc_id")
    return docs.select(
        uid(d).alias("url"),
        F.concat(
            F.lit("<html><head><title>doc "), d.cast("string"),
            F.lit("</title></head><body><p>"),
            F.col("text"), F.lit("</p>"),
            anchor(2 * d + 1), anchor(2 * d + 2),
            F.lit("</body></html>"),
        ).alias("html"),
    )


_crawl_cache: dict[str, tuple] = {}


def _run_doc_crawl(spark: SparkSession, sf_dir: str):
    """Run the frontier engine once per sf_dir; memoized (several queries
    read different projections of one crawl)."""
    key = os.path.abspath(sf_dir)
    if key in _crawl_cache:
        return _crawl_cache[key]
    pages = build_doc_pages(spark, sf_dir)
    seed = f"http://h{CRAWL_SEED_DOC % DOC_HOSTS}.docs.test/d/{CRAWL_SEED_DOC}"
    # program: seed → at every page extract [url, text], follow all title
    # links, recur — termination is data-driven (leaves have no links),
    # exactly the reference's pagination idiom (doc api.scrbl:150-163).
    program = Go(
        seed,
        Label(
            "walk",
            Extract(ListE([UrlE(), First(XpathTextE("//p"))])),
            Go(XpathE("//td[@class='title']/a/@href/text()"), Recur("walk")),
        ),
    )
    workdir = tempfile.mkdtemp(prefix="boris_crawl_")
    eng = CrawlEngine(spark, pages, workdir, politeness_k=None, use_bloom=True)
    summary = eng.run(program, max_rounds=64)
    _crawl_cache[key] = (eng, summary)
    return _crawl_cache[key]


@q(
    "crawl_reach",
    _REACH_CTE + f"SELECT {_URL_EXPR_SQL} AS url FROM reach",
)
def crawl_reach(spark, sf_dir):
    """URL-seen set of the distributed crawl == transitive closure from the
    seed (reference: cache key set, browser-services.rkt:44-46)."""
    eng, _ = _run_doc_crawl(spark, sf_dir)
    return eng.seen_df().select(F.col("url_canon").alias("url"))


@q(
    "crawl_extract_text",
    _REACH_CTE
    + f"""
    SELECT {_URL_EXPR_SQL.replace('id', 'doc_id')} AS url, d.text AS text
    FROM documents d JOIN reach r ON d.doc_id = r.id
    """,
)
def crawl_extract_text(spark, sf_dir):
    """Byte-identical extracted text per crawled url (input_hint invariant):
    the engine's pandas-UDF extraction vs the closed-form source text."""
    eng, _ = _run_doc_crawl(spark, sf_dir)
    v = F.from_json("value", "array<string>")
    return eng.results_df().select(
        v.getItem(0).alias("url"), v.getItem(1).alias("text")
    )


# =====================================================================
# Frontier-round relational stages (SURVEY.md §2f) over events/orders.
# =====================================================================

_TOPK_SQL = """
SELECT user_id, event_id, CAST(rn AS BIGINT) AS rn FROM (
    SELECT user_id, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
) WHERE rn <= 3
"""


@q("frontier_topk_per_host", _TOPK_SQL)
def frontier_topk_per_host(spark, sf_dir):
    """Dequeue stage: top-k per host by priority (window row_number) —
    SURVEY.md §2f 'top-k per host dequeue'. Shuffles once on the partition
    key; at scale the skew-safe variant below is used instead."""
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select("user_id", "event_id", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
        .withColumn("rn", F.col("rn").cast("long"))
    )


@q("frontier_topk_salted", _TOPK_SQL)
def frontier_topk_salted(spark, sf_dir):
    """Same answer as frontier_topk_per_host via the two-phase salted
    window the crawl engine uses: phase 1 bounds any hot key to salt×k rows,
    phase 2 is exact — a hot host never funnels through a single task."""
    e = T(spark, sf_dir, "events")
    salted = e.withColumn(
        "salt", F.pmod(F.xxhash64(F.col("event_id").cast("string")), F.lit(8))
    )
    w1 = Window.partitionBy("user_id", "salt").orderBy("ts", "event_id")
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        salted.withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= 3)
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= 3)
        .select("user_id", "event_id", F.col("rn").cast("long").alias("rn"))
    )


@q(
    "seen_anti_join",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
    """,
)
def seen_anti_join(spark, sf_dir):
    """Seen-filter stage: left_anti on the key — the distributed form of the
    fetch-memoization check (browser-services.rkt:36-46). Equi-join on a
    64-bit-ish key: shuffle-hash at scale, broadcast when the seen shard is
    small."""
    o = T(spark, sf_dir, "orders")
    l = T(spark, sf_dir, "lineitem")
    return (
        o.join(l.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey", "left_anti")
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


@q(
    "frontier_merge_dedup",
    """
    SELECT event_id, CAST(count(*) AS BIGINT) AS refs,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS priority_s
    FROM (
        SELECT event_id, ts FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT event_id, ts FROM events WHERE value > 5
    ) GROUP BY event_id
    """,
)
def frontier_merge_dedup(spark, sf_dir):
    """Frontier-merge stage: union of discovery streams, dedup by canonical
    key, priority recompute via min-agg (SURVEY.md §2f 'frontier merge').
    Map-side partial aggregation makes the shuffle carry one row per key per
    partition."""
    e = T(spark, sf_dir, "events")
    a = e.where(F.col("event_type") == "click").select("event_id", "ts")
    b = e.where(F.col("value") > 5).select("event_id", "ts")
    return (
        a.unionByName(b)
        .groupBy("event_id")
        .agg(
            F.count("*").alias("refs"),
            F.min("ts").cast("timestamp").cast("long").alias("priority_s"),
        )
    )


_PAGERANK_ITER = """
    SELECT n.node,
           0.15 + 0.85 * COALESCE(SUM(r.priority / o.od), 0) AS priority
    FROM nodes n
    LEFT JOIN edges e ON e.dst = n.node
    LEFT JOIN {prev} r ON r.node = e.src
    LEFT JOIN outdeg o ON o.src = e.src
    GROUP BY n.node
"""


@q(
    "frontier_priority_pagerank",
    f"""
    WITH edges AS (
        SELECT l_orderkey % 1000 AS src, l_partkey % 1000 AS dst
        FROM lineitem WHERE (l_orderkey % 1000) != (l_partkey % 1000)
    ),
    nodes AS (
        SELECT DISTINCT src AS node FROM edges
        UNION SELECT DISTINCT dst FROM edges
    ),
    outdeg AS (
        SELECT src, CAST(count(*) AS DOUBLE) AS od FROM edges GROUP BY src
    ),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS priority FROM nodes),
    r1 AS ({_PAGERANK_ITER.format(prev="r0")}),
    r2 AS ({_PAGERANK_ITER.format(prev="r1")}),
    r3 AS ({_PAGERANK_ITER.format(prev="r2")})
    SELECT node, ROUND(priority, 6) AS priority FROM r3
    """,
)
def frontier_priority_pagerank(spark, sf_dir):
    """Frontier priority recompute over the discovered link graph: 3
    fixed iterations of damped PageRank (d=0.85, rank0=1.0, multi-edges
    kept — parallel links weight the endorsement), the link-popularity
    priority a crawl scheduler feeds back into the frontier's dequeue
    order ("merge discovered links back into the frontier with dedup and
    priority recompute"). The deterministic graph: one edge per lineitem
    row, src=l_orderkey%1000, dst=l_partkey%1000, self-loops dropped.

    Scale shape: each iteration is exactly two shuffles — contributions
    co-partitioned on src (edges ⋈ ranks ⋈ outdeg; ranks/outdeg are
    |V|-sized and broadcast when small, shuffle-hash at 10^10-URL scale)
    then a groupBy(dst) partial-agg sum. Edges are computed once and
    persisted; the iteration count is fixed (not convergence-driven), so
    the whole job is a static 6-shuffle DAG with no driver-side loop
    state beyond the plan itself."""
    l = T(spark, sf_dir, "lineitem")
    edges = (
        l.select(
            F.pmod("l_orderkey", F.lit(1000)).alias("src"),
            F.pmod("l_partkey", F.lit(1000)).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    edges = _pooled_persist(edges)
    nodes = _pooled_persist(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count("*").cast("double").alias("od"))
    ranks = nodes.select("node", F.lit(1.0).alias("priority"))
    for _ in range(3):
        contribs = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("priority") / F.col("od")).alias("c"),
            )
        )
        ranks = (
            nodes.join(
                contribs.groupBy("node").agg(F.sum("c").alias("s")),
                "node", "left",
            )
            .select(
                "node",
                (
                    F.lit(0.15)
                    + F.lit(0.85) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("priority"),
            )
        )
    return ranks.select("node", F.round("priority", 6).alias("priority"))


@q(
    "url_canonicalize",
    f"""
    SELECT o_orderkey,
           'http://host' || (o_orderkey % 7) || '.example.com/Orders/' || o_orderkey
           || '?q=' || o_orderstatus || 'p=' || o_orderpriority || '#Frag' AS url_canon
    FROM orders
    """,
)
def url_canonicalize(spark, sf_dir):
    """Canonicalize stage: kernel ``url->string/raw`` semantics
    (url.rkt:37-55) via an Arrow-batched UDF, validated against the
    closed-form expected string: userinfo+port dropped, ;params dropped,
    query decoded and re-joined with NO separator, fragment kept."""
    from ..kernel import canonicalize

    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.concat(
            F.lit("HTTP://User:Pw@HOST"), F.pmod("o_orderkey", F.lit(7)),
            F.lit(".Example.COM:8080/Orders/"), F.col("o_orderkey"),
            F.lit(";sess=9?q="), F.col("o_orderstatus"),
            F.lit("&p="), F.col("o_orderpriority"), F.lit("#Frag"),
        ).alias("raw"),
        # slim shuffle so the Python canonicalize stage isn't serialized on
        # the testdata table's 1-partition scan (see kernel_gates._orders_keyed)
    ).repartition(spark.sparkContext.defaultParallelism)

    def canon(batches):
        for pdf in batches:
            pdf["url_canon"] = pdf["raw"].map(canonicalize)
            yield pdf[["o_orderkey", "url_canon"]]

    return o.mapInPandas(canon, "o_orderkey long, url_canon string")


# =====================================================================
# Training-data pipeline: deduplication family over `documents`.
# =====================================================================


@q(
    "dedup_exact",
    """
    SELECT md5(substr(text, 1, 40)) AS prefix_hash,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS keep_id
    FROM documents GROUP BY 1 HAVING count(*) > 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on a content key, keep min id. One shuffle
    on the hash; partial agg map-side. At 100 TB the key is xxhash64(text)
    bucketed to the frontier layout; md5(prefix) here for a SQL-commutable
    oracle."""
    d = T(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.substring("text", 1, 40)).alias("prefix_hash"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


_TOKS_SQL = """
toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS t
    FROM documents
),
shingles AS (
    SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
    FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    WHERE len(t) >= 3
),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
    FROM shingles a JOIN shingles b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
"""

_JACCARD_SQL = (
    "WITH " + _TOKS_SQL + """
SELECT i.doc_a, i.doc_b,
       round(CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) >= 0.4
"""
)


# Row-local SQL for the dedup family's per-document frame: tokens, the
# distinct lex-sorted 3-gram set, 32 xxhash64 minhashes of it and their 16
# two-row LSH bands. Every expression reads one row, so building the frame
# is a narrow projection of `documents` — no (doc, shingle) rows are ever
# formed, shuffled or grouped back.
_TOKS_EXPR = "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')"
_SET_EXPR = (
    "sort_array(array_distinct(transform(sequence(0, size(t) - 3), "
    "i -> concat_ws(' ', t[i], t[i + 1], t[i + 2]))))"
)
_MINHASH_EXPR = (
    "transform(sequence(0, 31), i -> array_min(transform(ss, "
    "s -> xxhash64(concat(cast(i AS string), ':', s)))))"
)
_BANDS_EXPR = (
    "transform(sequence(0, 15), b -> named_struct('band', b, 'band_sig', "
    "xxhash64(concat_ws(',', cast(h[2 * b] AS string), "
    "cast(h[2 * b + 1] AS string)))))"
)

_doc_sets_cache: dict[str, DataFrame] = {}


def _doc_sets_df(spark, sf_dir) -> DataFrame:
    """(doc_id, ss, n): each document's distinct 3-gram shingles as a
    lex-sorted array and their count, for every document with at least 3
    tokens. One narrow projection of `documents` (no shuffle), persisted
    per sf_dir: every near-dup query reads it — ngram-jaccard for its
    prefixes and verification, minhash-LSH and incremental admission for
    their band signatures (_band_sigs) and verification."""
    key = os.path.abspath(sf_dir)
    if key in _doc_sets_cache:
        return _doc_sets_cache[key]
    # small-file scan → 1-2 input partitions; spread the CPU-heavy
    # tokenize+shingle projection across the cluster before it runs
    d = T(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    out = (
        d.selectExpr("doc_id", f"{_TOKS_EXPR} AS t")
        .where("size(t) >= 3")
        .selectExpr("doc_id", f"{_SET_EXPR} AS ss")
        .selectExpr("doc_id", "ss", "CAST(size(ss) AS BIGINT) AS n")
    )
    out = _pooled_persist(out)
    _doc_sets_cache[key] = out
    return out


def _verify_candidates(
    cand: DataFrame, sets: DataFrame, threshold: float = 0.4,
    sets_b: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard computed ONLY for candidate pairs: two equi-joins on
    doc_id pull each side's shingle array, ``array_intersect`` (codegen'd)
    gives the overlap. Cost is O(|candidates|·avg_set), not O(pairs-sharing-
    a-shingle) — the property that makes LSH/prefix-filtering actually prune
    at 100 TB. ``doc_b`` looks up ``sets_b`` when given (a batch checked
    against a standing index), else ``sets``."""
    sa = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("ss").alias("sa"), F.col("n").alias("na")
    )
    sb = (sets if sets_b is None else sets_b).select(
        F.col("doc_id").alias("doc_b"), F.col("ss").alias("sb"), F.col("n").alias("nb")
    )
    c = F.size(F.array_intersect("sa", "sb")).cast("double")
    jac = c / (F.col("na") + F.col("nb") - c)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def _band_sigs(sets: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig) LSH band signatures of a (doc_id, ss) sets
    frame: per document, 32 xxhash64 minhashes over its shingle array
    (permutation i hashes ``"i:" || s``), folded into 16 bands of 2 rows
    each hashed as ``"h[2b],h[2b+1]"``. Row-local projection + inline, no
    shuffle. Shared by the batch self-join (dedup_minhash_lsh) and
    incremental admission (_admit_batch)."""
    return (
        sets.selectExpr("doc_id", f"{_MINHASH_EXPR} AS h")
        .selectExpr("doc_id", f"inline({_BANDS_EXPR})")
    )


@q("dedup_ngram_jaccard", _JACCARD_SQL)
def dedup_ngram_jaccard(spark, sf_dir):
    """EXACT 3-gram shingle Jaccard ≥ τ=0.4 via AllPairs-style prefix
    filtering (Bayardo et al., WWW'07): under a global total order (lex
    here), if J(A,B) ≥ τ then the order-smallest shared shingle must sit
    within the first |X|-⌈τ|X|⌉+1 shingles of BOTH sets — so the candidate
    join runs on the per-doc prefixes only (≈60% of rows at τ=0.4) with a
    PPJoin length filter, never on the full shingle table; candidates are
    then verified exactly per pair against the cached per-doc arrays. This
    replaces round 1's full shingle self-join, whose hot-key pair explosion
    made it 4.4× SLOWER at local[32] than local[8]; the prefix join's
    per-key fan-out is bounded by prefix membership, and verification cost
    is O(|candidates|·avg_set). Output identical to the full self-join; no
    approximation anywhere."""
    tau = 0.4
    # the prefix is a JVM-side slice of the per-doc lex-sorted shingle
    # array (the verify join reads the same frame) — the theorem holds for
    # ANY global total order, and lexicographic needs no
    # document-frequency pass
    sets = _doc_sets_df(spark, sf_dir)
    plen = (F.col("n") - F.ceil(F.lit(tau) * F.col("n")) + 1).cast("int")
    prefix = sets.select(
        "doc_id", "n", F.explode(F.slice("ss", F.lit(1), plen)).alias("s")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin length filter inside the join: J ≥ τ forces
    # τ·max(|A|,|B|) ≤ min(|A|,|B|) — incompatible-size pairs never leave
    # the join, cutting the candidate set before the distinct shuffle
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") >= tau * F.col("a.n"))
            & (F.col("a.n") >= tau * F.col("b.n")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_candidates(cand, sets, tau)


@q("dedup_minhash_lsh", _JACCARD_SQL)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(32 hashes)+LSH(16 bands × 2 rows) candidate generation, then
    exact-Jaccard verification computed ONLY for the candidate pairs
    (per-doc shingle arrays + array_intersect — see _verify_candidates).
    Output equals the exact query (the oracle) when LSH recall is 1 at this
    threshold/shape; the full shingle self-join exists ONLY in the DuckDB
    oracle string, never in the physical plan. Signatures and bands are
    row-local expressions over the persisted per-doc sets (_band_sigs):
    the only exchanges are the band self-join, the candidate distinct and
    the verify joins."""
    sets = _doc_sets_df(spark, sf_dir)
    allb = _band_sigs(sets)
    a, b2 = allb.alias("a"), allb.alias("b")
    cand = (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_candidates(cand, sets)


def connected_components(edges: DataFrame, max_iters: int = 30) -> DataFrame:
    """Distributed connected components by alternating large-star /
    small-star (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): converges in O(log² n) rounds, every round is two
    slim groupBy-min shuffles — no component's edge list ever sits in one
    task and nothing touches the driver except the per-round convergence
    flag. This is the scale path for 10^10-node near-dup graphs, where the
    naive min-label propagation needs O(graph diameter) rounds and a
    transitive closure is quadratic.

    ``edges`` is an undirected edge list as columns (a, b); returns one row
    per NON-ROOT node: (a=node, b=component minimum).

    Each round ends in ``localCheckpoint(eager=True)``: iterative plans
    MUST truncate lineage, not just cache — persist() keeps the full
    logical plan, so Catalyst re-analyzes a plan that grows ~5× per round
    and analysis alone goes exponential (measured: 3s → 21s → timeout by
    round 5 on a 9-edge graph). On a multi-executor cluster swap in
    ``df.checkpoint()`` (reliable, survives executor loss) via the same
    one-line seam.
    """
    e = (
        edges.where(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_prev = e.count()
    for _ in range(max_iters):
        # large-star: every node u attaches its LARGER neighbors to
        # m = min(N(u) ∪ {u}); processing both orientations covers every
        # edge from its smaller endpoint, so no adjacency is lost
        und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mm = (
            und.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least("a", "mb").alias("m"))
        )
        ls = (
            und.join(mm, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
        )
        # small-star: edges out of large-star are oriented big→small, so
        # each node u attaches all its (smaller) neighbors AND itself to
        # m = min(N(u) ∪ {u}) = min over its smaller neighbors
        mn = ls.groupBy("a").agg(F.min("b").alias("m"))
        ss = (
            ls.join(mn, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(mn.select(F.col("a"), F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # multiset equality in one extra job: rows are distinct on both
        # sides, so |ss| == |e| plus ss \ e == ∅ implies ss == e
        n = ss.count()
        converged = n == n_prev and ss.exceptAll(e).isEmpty()
        e, n_prev = ss, n
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds"
        )
    # fixpoint = disjoint stars rooted at component minima: one (node, root)
    # edge per non-root node (groupBy-min is belt and braces)
    return e.groupBy("a").agg(F.min("b").alias("b"))


_CLUSTERS_CTE = (
    "WITH RECURSIVE " + _TOKS_SQL + """,
pairs AS (
    SELECT i.doc_a, i.doc_b
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) >= 0.4
),
und AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
    SELECT a, b FROM und
    UNION
    SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
),
lab AS (SELECT a AS doc_id, min(b) AS mn FROM reach GROUP BY a),
clusters AS (
    SELECT d.doc_id,
           CAST(coalesce(least(l.mn, d.doc_id), d.doc_id) AS BIGINT)
               AS cluster_id
    FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id
)
"""
)

_CLUSTERS_SQL = _CLUSTERS_CTE + "SELECT doc_id, cluster_id FROM clusters"

# (doc_id, cluster_id) per sf_dir: the component iterations already ran
# eagerly behind localCheckpoint, so the cached frame is plan-free and
# cheap to reuse — dedup_keep_canonical consumes it right after
# dedup_clusters in every gate/bench session
_clusters_cache: dict[str, DataFrame] = {}


@q("dedup_clusters", _CLUSTERS_SQL)
def dedup_clusters(spark, sf_dir):
    """Near-duplicate CLUSTER assignment — the step a production dedup
    pipeline runs after pair generation: connected components over the
    verified exact-Jaccard(≥0.4) pair set (generated by the MinHash-LSH
    path, verified per candidate), cluster id = component-minimum doc_id,
    singletons keep their own id. One row per document, so a downstream
    "keep one per cluster" is a plain groupBy.

    Scale: pairs come from the candidate-bounded LSH join (never a shingle
    self-join); components via alternating large-star/small-star
    (O(log² n) rounds of slim groupBy-min shuffles, see
    connected_components) — at 10^10 docs neither the pair set nor any
    component adjacency ever concentrates in one task or on the driver.
    The transitive closure exists ONLY in the DuckDB oracle's recursive
    CTE, never in the physical plan."""
    key = os.path.abspath(sf_dir)
    if key in _clusters_cache:
        return _clusters_cache[key]
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    lab = connected_components(pairs)
    docs = T(spark, sf_dir, "documents").select("doc_id")
    out = docs.join(
        lab.select(F.col("a").alias("doc_id"), F.col("b").alias("root")),
        "doc_id", "left",
    ).select(
        "doc_id", F.coalesce("root", "doc_id").alias("cluster_id")
    )
    out = _pooled_persist(out)
    _clusters_cache[key] = out
    return out


_KEEP_SQL = _CLUSTERS_CTE + """
SELECT cluster_id, doc_id AS keep_doc_id, n_docs
FROM (
    SELECT c.cluster_id, c.doc_id,
           row_number() OVER (
               PARTITION BY c.cluster_id
               ORDER BY length(d.text) DESC, c.doc_id
           ) AS rn,
           count(*) OVER (PARTITION BY c.cluster_id) AS n_docs
    FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
)
WHERE rn = 1
"""


@q("dedup_keep_canonical", _KEEP_SQL)
def dedup_keep_canonical(spark, sf_dir):
    """Survivor selection — the last step of the dedup pipeline: one row
    per near-dup cluster with the document to KEEP (longest text, doc_id
    tiebreak — the standard keep-longest policy) and the cluster size.
    Chained downstream of dedup_clusters, so the full story
    pairs → components → survivors is a gate-checked pipeline.

    Scale: ONE shuffle on cluster_id, and it's an aggregation with
    map-side partial agg — `max_by` over the (len, -doc_id) struct picks
    the survivor without ever sorting a cluster's members (a window
    formulation can't do better: the companion cluster-size count blocks
    the WindowGroupLimit rank-pushdown, forcing a full in-partition
    sort). Constant state per cluster key, skew-immune."""
    c = dedup_clusters(spark, sf_dir)
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("len")
    )
    # max over (len asc, -doc_id asc) == longest text, smallest doc_id tie
    return (
        c.join(docs, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.max_by(
                "doc_id",
                F.struct(F.col("len"), (-F.col("doc_id")).alias("nd")),
            ).alias("keep_doc_id"),
            F.count("*").alias("n_docs"),
        )
    )


_SIMHASH_CTE = """
WITH toks AS (
    SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, UNNEST(list_filter(
            regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
        FROM documents
    )
),
th AS (
    SELECT doc_id, tok,
           ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
    FROM toks
),
bits AS (
    SELECT doc_id, b.b AS b,
           sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
    FROM th, (SELECT UNNEST(range(0, 60)) AS b) b
    GROUP BY doc_id, b.b
),
sh AS (
    SELECT doc_id,
           sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
    FROM bits GROUP BY doc_id
)
"""


@q(
    "dedup_simhash",
    _SIMHASH_CTE
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (60-bit md5-derived token hashes, majority
    vote per bit) with Hamming ≤ 3, candidate-joined on 4×15-bit bands —
    pigeonhole-exact for the threshold, so the banded plan returns exactly
    the brute-force (oracle) pairs without the O(n²) cross join."""
    d = T(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != F.lit(""))
    tok = (
        d.select("doc_id", F.explode(toks).alias("tok")).distinct()
        .withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long"))
    )
    # ONE shuffle (tokens → per-doc hash array); the 60 bit-votes run as
    # whole-stage-codegen higher-order functions over the array — the naive
    # form explodes 60 rows per token (a 60× shuffle amplification that
    # would dominate at 100 TB)
    sh = (
        tok.groupBy("doc_id")
        .agg(F.collect_list("h").alias("hs"))
        .select(
            "doc_id",
            F.expr(
                "aggregate(transform(sequence(0, 59), b -> "
                "  CASE WHEN aggregate(hs, CAST(0 AS BIGINT), (acc, h) -> "
                "    acc + CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
                "  THEN shiftleft(CAST(1 AS BIGINT), CAST(b AS INT)) "
                "  ELSE CAST(0 AS BIGINT) END), "
                "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("simhash"),
        )
    )
    banded = sh.select(
        "doc_id", "simhash",
        F.explode(F.expr(
            "transform(sequence(0, 3), k -> named_struct('band', k, "
            "'sig', (simhash >> (k * 15)) & 32767))"
        )).alias("bs"),
    ).select("doc_id", "simhash", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.sig") == F.col("b.sig"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sha"), F.col("b.simhash").alias("shb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sha").bitwiseXOR(F.col("shb")))
    return cand.where(ham <= 3).select(
        "doc_a", "doc_b", ham.cast("long").alias("hamming")
    )


@q(
    "doc_fingerprint",
    """
    SELECT doc_id, md5(regexp_replace(text, '\\s+', ' ', 'g')) AS fp
    FROM documents
    """,
)
def doc_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 of whitespace-normalized text — pure
    JVM-side, codegen'd, zero shuffle."""
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.md5(F.regexp_replace("text", "\\s+", " ")).alias("fp")
    )


@q(
    "token_count",
    """
    SELECT doc_id, CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens
    FROM documents
    """,
)
def token_count(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.size(F.split("text", "\\s+")).cast("long").alias("n_tokens")
    )


@q(
    "decontaminate_ngram",
    """
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    probes AS (
      SELECT doc_id AS pid,
             array_to_string(list_slice(toks, 5, 7), ' ') AS probe
      FROM docs WHERE doc_id % 100 = 0 AND len(toks) >= 7
    ),
    wins AS (
      SELECT d.doc_id,
             array_to_string(list_slice(d.toks, g.i, g.i + 2), ' ') AS win
      FROM docs d,
           LATERAL (SELECT unnest(range(1, greatest(len(d.toks) - 1, 1))) AS i) g
    )
    SELECT w.doc_id, count(DISTINCT p.pid) AS n_probes_hit
    FROM wins w JOIN probes p ON w.win = p.probe
    GROUP BY w.doc_id
    """,
)
def decontaminate_ngram(spark, sf_dir):
    """Benchmark decontamination: flag corpus documents containing any
    held-out-set n-gram verbatim — the exact-overlap scan GPT-3/PaLM-style
    pipelines run before training (published practice uses 8-13-token
    grams; 3 here because the synthetic vocabulary is tiny). The held-out
    probe set is derived deterministically from the corpus (tokens 5-7 of
    every doc_id % 100 == 0 document), so every probe self-hits its source
    doc and the gate output is non-empty at every sf.

    100 TB shape: the probe set is small by construction (a benchmark is
    thousands of grams, not billions) → broadcast hash join against the
    exploded token windows, which are never shuffled pre-join; the only
    shuffle is the final per-doc aggregation. No quadratic form anywhere —
    corpus×benchmark contains() is the oracle's job, not the plan's."""
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    probes = (
        docs.filter((F.col("doc_id") % 100 == 0) & (F.size("toks") >= 7))
        .select(
            F.col("doc_id").alias("pid"),
            F.array_join(F.slice("toks", 5, 3), " ").alias("probe"),
        )
    )
    n = F.size("toks")
    wins = docs.select(
        "doc_id",
        F.explode(
            F.when(
                n >= 3,
                F.transform(
                    F.sequence(F.lit(1), n - F.lit(2)),
                    lambda i: F.array_join(F.slice("toks", i, 3), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("win"),
    )
    return (
        wins.join(F.broadcast(probes), wins.win == probes.probe)
        .groupBy("doc_id")
        .agg(F.count_distinct("pid").cast("long").alias("n_probes_hit"))
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b(\d{1,3}\.){3}\d{1,3}\b"
_PII_PHONE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


@q(
    "pii_redact",
    f"""
    WITH raw AS (
      SELECT o_orderkey,
             'Contact user' || o_orderkey || '@example.com or +1-555-'
             || lpad(CAST(o_orderkey % 10000 AS VARCHAR), 4, '0')
             || ' from host 10.' || (o_orderkey % 256)
             || '.0.1 re order ' || o_orderkey AS text
      FROM orders
    )
    SELECT o_orderkey,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IP}', '<IP>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
    FROM raw
    """,
)
def pii_redact(spark, sf_dir):
    """PII redaction: scrub emails, IPv4 addresses, and phone numbers to
    typed placeholder tokens — the CCNet/Dolma-style pre-training scrub
    step. Pure JVM regexp_replace chain (codegen'd, zero shuffle); the
    patterns stay inside the Java∩RE2 regex subset so the DuckDB oracle
    runs them verbatim. Order matters: emails first (they contain digits),
    then IPs (dotted digits), then the dot-free phone pattern, which can no
    longer eat IP fragments. Input synthesized closed-form from order keys
    (the corpus tables carry no PII by construction)."""
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.concat(
            F.lit("Contact user"), F.col("o_orderkey").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad(F.pmod("o_orderkey", F.lit(10000)).cast("string"), 4, "0"),
            F.lit(" from host 10."),
            F.pmod("o_orderkey", F.lit(256)).cast("string"),
            F.lit(".0.1 re order "), F.col("o_orderkey").cast("string"),
        ).alias("text"),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"),
            _PII_IP, "<IP>",
        ),
        _PII_PHONE, "<PHONE>",
    )
    return o.select("o_orderkey", red.alias("redacted"))


@q(
    "doc_repetition",
    """
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    wins AS (
      SELECT d.doc_id,
             array_to_string(list_slice(d.toks, g.i, g.i + 2), ' ') AS win
      FROM docs d,
           LATERAL (SELECT unnest(range(1, greatest(len(d.toks) - 1, 1))) AS i) g
    ),
    counts AS (
      SELECT doc_id, win, count(*) AS c FROM wins GROUP BY doc_id, win
    )
    SELECT doc_id, CAST(max(c) AS BIGINT) AS max_ngram_count,
           round(max(c) / sum(c), 4) AS top_ngram_frac
    FROM counts GROUP BY doc_id
    """,
)
def doc_repetition(spark, sf_dir):
    """Intra-document repetition score: the most-repeated token 3-gram's
    count and its share of the document's 3-gram mass — the duplicated-
    substring quality signal from the dedup-training-data line of work
    (Lee et al. 2021 measure cross- and intra-doc repetition; boilerplate
    and spam score high). Two shuffles, both with map-side partial
    aggregation: (doc_id, window)-count, then per-doc max/sum."""
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    n = F.size("toks")
    wins = docs.select(
        "doc_id",
        F.explode(
            F.when(
                n >= 3,
                F.transform(
                    F.sequence(F.lit(1), n - F.lit(2)),
                    lambda i: F.array_join(F.slice("toks", i, 3), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("win"),
    )
    counts = wins.groupBy("doc_id", "win").agg(F.count("*").alias("c"))
    return counts.groupBy("doc_id").agg(
        F.max("c").cast("long").alias("max_ngram_count"),
        F.round(F.max("c") / F.sum("c"), 4).alias("top_ngram_frac"),
    )


_BADWORDS = ("slow", "big", "scan")  # stand-in blocklist drawn from the
# synthetic corpus vocabulary so the gate exercises both keep outcomes;
# production swaps in the real LDNOOBW-style list — the plan is identical.
_BAD_FRAC_MAX = 0.1


@q(
    "badwords_filter",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(toks,
               t -> t IN ({', '.join(repr(w) for w in _BADWORDS)}))) AS BIGINT)
               AS bad_hits,
           round(len(list_filter(toks,
               t -> t IN ({', '.join(repr(w) for w in _BADWORDS)})))
               / len(toks), 6) AS bad_frac,
           (len(list_filter(toks,
               t -> t IN ({', '.join(repr(w) for w in _BADWORDS)})))
               / len(toks)) < {_BAD_FRAC_MAX} AS keep
    FROM t
    """,
)
def badwords_filter(spark, sf_dir):
    """Blocklist-token filter (the C4 "bad words" curation step, relaxed to
    a fraction threshold a la RefinedWeb/Dolma): per document, the exact
    count of tokens in a fixed blocklist, the blocklist fraction of all
    tokens, and the keep decision. Pure JVM higher-order functions
    (split → filter → size) inside whole-stage codegen — zero shuffle,
    zero UDF; at 100 TB this is a map-only pass whose cost is the scan. A
    10^5-entry production blocklist becomes a broadcast hash set via the
    same `isin` (Catalyst compiles large IN lists to a hash lookup)."""
    bad = list(_BADWORDS)
    toks = F.split("text", " ")
    hits = F.size(F.filter(toks, lambda t: t.isin(bad)))
    n = F.size(toks)
    return T(spark, sf_dir, "documents").select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        hits.cast("long").alias("bad_hits"),
        F.round(hits / n, 6).alias("bad_frac"),
        ((hits / n) < _BAD_FRAC_MAX).alias("keep"),
    )


@q(
    "license_detect",
    """
    WITH footered AS (
      SELECT doc_id,
             text || CASE CAST(doc_id % 4 AS INTEGER)
               WHEN 0 THEN ' (c) example corp all rights reserved'
               WHEN 1 THEN ' licensed under creative commons attribution'
               WHEN 2 THEN ' released into the public domain'
               ELSE '' END AS page_text
      FROM documents
    )
    SELECT doc_id,
           CASE
             WHEN contains(page_text, 'creative commons') THEN 'cc-by'
             WHEN contains(page_text, 'public domain') THEN 'public-domain'
             WHEN contains(page_text, 'all rights reserved')
               THEN 'all-rights-reserved'
             ELSE 'unknown'
           END AS license
    FROM footered
    """,
)
def license_detect(spark, sf_dir):
    """License detection: classify each page by permissive-license footer
    markers in priority order (creative commons > public domain > all
    rights reserved > unknown) — the license-aware filtering step of a
    training-data pipeline. Footer text is synthesized closed-form from
    doc_id (the corpus carries no license strings by construction, same
    device as pii_redact) so all four outcomes are exercised; detection is
    a codegen'd CASE/contains chain — map-only, zero shuffle, the 100 TB
    cost is the scan itself."""
    d = T(spark, sf_dir, "documents")
    footer = (
        F.when(F.pmod("doc_id", F.lit(4)) == 0,
               F.lit(" (c) example corp all rights reserved"))
        .when(F.pmod("doc_id", F.lit(4)) == 1,
              F.lit(" licensed under creative commons attribution"))
        .when(F.pmod("doc_id", F.lit(4)) == 2,
              F.lit(" released into the public domain"))
        .otherwise(F.lit(""))
    )
    page_text = F.concat("text", footer)
    lic = (
        F.when(page_text.contains("creative commons"), "cc-by")
        .when(page_text.contains("public domain"), "public-domain")
        .when(page_text.contains("all rights reserved"), "all-rights-reserved")
        .otherwise("unknown")
    )
    return d.select("doc_id", lic.alias("license"))


@q(
    "doc_lm_score",
    """
    WITH t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM t GROUP BY 1, 2
    ),
    vocab AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
    s AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
             CAST(sum(tf * cnt) AS BIGINT) AS w
      FROM tf JOIN vocab USING (tok) GROUP BY 1
    )
    SELECT doc_id, n_tokens,
           round(w / (n_tokens * total), 6) AS mean_tok_prob,
           round((n_tokens * total) / w, 4) AS rarity
    FROM s, tot
    """,
)
def doc_lm_score(spark, sf_dir):
    """Unigram language-model quality score (the CCNet/Dolma LM-filter
    signal, rational form): per document, the mean corpus-unigram
    probability of its tokens and its inverse ("rarity" — high = the
    perplexity-like outlier side the LM filter drops). The statistic stays
    in the INTEGER domain until one final divide — per-doc weight is
    Σ tf·count(tok), an exact bigint — because transcendental log/exp can
    differ in the last ulp between the JVM and the DuckDB oracle (same
    device as doc_tfidf_topk's rational idf; production swaps in a real
    KenLM logprob as a double column and this plan shape is unchanged).
    Three bounded shuffles, all with map-side partial agg: (doc,tok)
    counts, token totals FROM that aggregate (never raw occurrences, so
    stopword skew is bounded), and the per-doc rollup; the grand total is
    a broadcast 1-row aggregate."""
    toks = T(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").cast("long").alias("tf"))
    tf = _pooled_persist(tf)
    vocab = tf.groupBy("tok").agg(F.sum("tf").cast("long").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").cast("long").alias("total"))
    s = (
        tf.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("cnt")).cast("long").alias("w"),
        )
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        F.round(F.col("w") / (F.col("n_tokens") * F.col("total")), 6)
        .alias("mean_tok_prob"),
        F.round((F.col("n_tokens") * F.col("total")) / F.col("w"), 4)
        .alias("rarity"),
    )


@q(
    "corpus_sample_stratified",
    """
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang ORDER BY n_chars DESC, doc_id
             ) AS rnk
      FROM documents
    )
    SELECT doc_id, lang, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 20
    """,
)
def corpus_sample_stratified(spark, sf_dir):
    """Stratified corpus sampling: deterministic top-k documents per
    language stratum (by length, doc_id tiebreak) — the data-mixing /
    language-balancing curation step of a webtext pipeline. One shuffle on
    the stratum key; Spark's rank-limit pushdown (WindowGroupLimit) keeps
    per-partition state at k rows instead of sorting whole strata, which
    is what makes a 10^10-doc stratified sample feasible."""
    d = T(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        d.select("doc_id", "lang", "n_chars")
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 20)
        .select("doc_id", "lang", F.col("rnk").cast("long").alias("rnk"))
    )


@q(
    "vocab_topk",
    """
    WITH t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    )
    SELECT tok,
           CAST(count(*) AS BIGINT) AS freq,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM t GROUP BY tok
    ORDER BY freq DESC, tok LIMIT 50
    """,
)
def vocab_topk(spark, sf_dir):
    """Corpus vocabulary building: global top-k tokens by frequency with
    per-token document frequency — the tokenizer-training / vocab-pruning
    precursor step of a webtext pipeline. One aggregation shuffle on the
    token key (map-side partial agg over the exploded tokens; the distinct
    doc-count rides the same expand), then a global top-k that Catalyst
    plans as TakeOrderedAndProject: per-partition bounded heaps merged at
    the driver — k rows per task cross the wire, never the 10^8-entry
    vocabulary itself. Ties broken by token string so the returned SET is
    deterministic."""
    d = T(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    agg = toks.groupBy("tok").agg(
        F.count("*").cast("long").alias("freq"),
        F.countDistinct("doc_id").cast("long").alias("doc_freq"),
    )
    return agg.orderBy(F.desc("freq"), "tok").limit(50)


_PACK_LEN = 256  # tokens per training sequence


@q(
    "pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum_before
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(cum_before // {_PACK_LEN} AS BIGINT) AS pack_first,
           CAST((cum_before + n_tokens - 1) // {_PACK_LEN} AS BIGINT)
             AS pack_last
    FROM c
    """,
)
def pack_sequences(spark, sf_dir):
    """Sequence packing for LLM training: concatenate documents in
    deterministic doc_id order into one global token stream and chunk it
    into fixed-length packs ({_PACK_LEN} tokens); each document reports the
    pack range it lands in. The key scale problem is the GLOBAL running
    token offset — a naive window over a single global ORDER BY plans as a
    one-partition sort (the whole corpus through one task). Implemented
    instead as a distributed prefix sum: documents bucket by a closed-form
    monotone key (doc_id div B — no sampling, no range-partitioner
    nondeterminism), per-bucket token totals aggregate to one tiny row per
    bucket (the only thing the driver ever holds), the exclusive prefix over
    those becomes a broadcast offset table, and the intra-bucket running sum
    is an ordinary per-bucket window. Two shuffles (bucket agg + bucket
    window), both keyed on the bucket; bucket count grows with the corpus so
    per-task window state stays bounded while the driver-side offset table
    stays O(n_buckets).
    """
    n = table_rows(sf_dir, "documents")
    n_buckets = max(32, n // 2_000_000 + 1)
    B = max(1, -(-n // n_buckets))
    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    ).withColumn("bucket", F.expr(f"doc_id div {B}"))
    totals = {
        r["bucket"]: r["s"]
        for r in d.groupBy("bucket").agg(F.sum("n_tokens").alias("s")).collect()
    }
    acc, offsets = 0, []
    for b in sorted(totals):
        offsets.append((b, acc))
        acc += totals[b]
    off = spark.createDataFrame(offsets, "bucket long, offset long")
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = d.join(F.broadcast(off), "bucket").withColumn(
        "cum_before",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) + F.col("offset"),
    )
    return cum.select(
        "doc_id",
        "n_tokens",
        F.expr(f"cum_before div {_PACK_LEN}").alias("pack_first"),
        F.expr(f"(cum_before + n_tokens - 1) div {_PACK_LEN}").alias("pack_last"),
    )


@q(
    "domain_mix_weights",
    """
    WITH t AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    a AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS lang_tokens
          FROM t GROUP BY lang),
    tot AS (SELECT SUM(lang_tokens) AS tt, COUNT(*) AS nl FROM a)
    SELECT lang, lang_tokens,
           round(least(5.0, (tt / nl) / lang_tokens), 6) AS mix_weight
    FROM a, tot
    """,
)
def domain_mix_weights(spark, sf_dir):
    """Data-mixing weights: per-language token mass and the per-document
    sampling weight that would rebalance the corpus to a uniform language
    mixture (weight = target_share / actual_share, capped at 5× so a rare
    stratum can't be oversampled into degeneracy) — the mixture-reweighting
    step of a webtext training pipeline (DoReMi-style mixing uses learned
    shares; the plumbing is identical). One partial-agg shuffle on the
    stratum key reduces the corpus to O(n_strata) rows; the grand total then
    broadcast-joins back onto them, so nothing corpus-sized ever moves
    twice."""
    d = T(spark, sf_dir, "documents").select(
        "lang", F.size(F.split("text", " ")).cast("long").alias("n")
    )
    a = d.groupBy("lang").agg(F.sum("n").alias("lang_tokens"))
    a = _pooled_persist(a)
    tot = a.agg(
        F.sum("lang_tokens").alias("tt"), F.count("*").alias("nl")
    )
    return a.crossJoin(F.broadcast(tot)).select(
        "lang",
        "lang_tokens",
        F.round(
            F.least(
                F.lit(5.0),
                (F.col("tt") / F.col("nl")) / F.col("lang_tokens"),
            ),
            6,
        ).alias("mix_weight"),
    )


@q(
    "doc_tfidf_topk",
    """
    WITH t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM t GROUP BY 1, 2
    ),
    df AS (SELECT tok, CAST(count(*) AS BIGINT) AS dfreq FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS cnt FROM documents),
    s AS (
      SELECT doc_id, tf.tok,
             round(tf * ((cnt + 1) / (dfreq + 1)), 4) AS score
      FROM tf JOIN df USING (tok), n
    ),
    r AS (
      SELECT doc_id, tok, score,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY score DESC, tok
             ) AS rnk
      FROM s
    )
    SELECT doc_id, tok, score, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 3
    """,
)
def doc_tfidf_topk(spark, sf_dir):
    """Per-document keyword extraction: top-3 tokens by tf-idf — the
    keyword / topic-feature step of a webtext curation pipeline (quality
    classifiers and cluster labeling consume exactly this shape). Uses the
    rational idf variant (N+1)/(df+1) instead of its logarithm: plain IEEE
    divide/multiply with a pinned association is bit-identical between the
    JVM and the DuckDB oracle, where transcendental log implementations may
    differ in the last ulp and flip a rounded 4th decimal. Three bounded
    shuffles — (doc,tok) partial-agg, tok document-frequency partial-agg,
    and the per-doc top-k window, which Catalyst plans as WindowGroupLimit
    (k rows of state per partition, no full sort of any document's
    vocabulary). The tf→df join is keyed on the token; at corpus scale its
    skew (stopwords) is bounded because both sides are already aggregates —
    one row per (doc,tok) and per tok — never raw token occurrences."""
    n = table_rows(sf_dir, "documents")
    d = T(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").cast("long").alias("tf"))
    tf = _pooled_persist(tf)
    df = tf.groupBy("tok").agg(F.count("*").cast("long").alias("dfreq"))
    scored = tf.join(df, "tok").select(
        "doc_id",
        "tok",
        F.round(
            F.col("tf") * ((F.lit(n) + F.lit(1)) / (F.col("dfreq") + F.lit(1))),
            4,
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "tok")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "tok", "score", F.col("rnk").cast("long").alias("rnk"))
    )


@q(
    "host_graph_edges",
    f"""
    WITH n AS (SELECT count(*) AS cnt FROM documents),
    e AS (
      SELECT doc_id AS src, 2*doc_id+1 AS dst FROM documents, n
      WHERE 2*doc_id+1 < cnt
      UNION ALL
      SELECT doc_id, 2*doc_id+2 FROM documents, n
      WHERE 2*doc_id+2 < cnt
    )
    SELECT 'h' || (src % {DOC_HOSTS}) || '.docs.test' AS src_host,
           'h' || (dst % {DOC_HOSTS}) || '.docs.test' AS dst_host,
           CAST(count(*) AS BIGINT) AS n_links
    FROM e GROUP BY 1, 2
    """,
)
def host_graph_edges(spark, sf_dir):
    """Host-level link graph: parse every page's anchors with the kernel's
    ``links`` extractor (the reference's BFS-ordered selector,
    /root/reference/hypertext-browser/html/links.rkt:33-35) and aggregate
    link counts between host pairs — the domain-graph signal behind
    host-level spam/quality scoring of a web corpus. The HTML parse runs
    once per page in an Arrow-batched mapInPandas (spread off the
    single-file scan first so the Python stage uses every core); host
    extraction from URLs is JVM-side regexp, and the (src_host, dst_host)
    rollup is one partial-agg shuffle over rows already reduced to slim
    string pairs. The oracle reconstructs the same edges from the closed-
    form binary-tree link structure of ``build_doc_pages``."""
    pages = build_doc_pages(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )

    def run(batches):
        import pandas as pd

        from ..kernel import links

        for pdf in batches:
            rows = [
                {"url": u, "href": h}
                for u, html in zip(pdf["url"], pdf["html"])
                for h in links(html)
            ]
            yield pd.DataFrame(rows, columns=["url", "href"])

    edges = pages.mapInPandas(run, "url string, href string")
    host = lambda c: F.regexp_extract(c, r"^http://([^/]+)/", 1)  # noqa: E731
    return (
        edges.select(
            host(F.col("url")).alias("src_host"),
            host(F.col("href")).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").cast("long").alias("n_links"))
    )


_LANG_MARKERS = [
    ("en", " the "), ("de", " der "), ("fr", " les "), ("es", " las "), ("it", " della "),
]


def _marker_count_sql(m: str) -> str:
    return (
        f"CAST((length(pad) - length(replace(pad, '{m}', ''))) / {len(m)} AS BIGINT)"
    )


@q(
    "lang_id",
    "WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS pad FROM documents),\n"
    "s AS (SELECT doc_id, "
    + ", ".join(f"{_marker_count_sql(m)} AS c_{l}" for l, m in _LANG_MARKERS)
    + " FROM p)\nSELECT doc_id, CASE "
    + " ".join(
        f"WHEN c_{l} >= greatest({', '.join('c_' + l2 for l2, _ in _LANG_MARKERS)}) THEN '{l}'"
        for l, _ in _LANG_MARKERS
    )
    + " END AS lang_guess, "
    + f"greatest({', '.join('c_' + l for l, _ in _LANG_MARKERS)}) AS score FROM s",
)
def lang_id(spark, sf_dir):
    """Language-ID heuristic: marker-word occurrence counts, argmax with a
    fixed tie order. Pure string built-ins, zero shuffle."""
    d = T(spark, sf_dir, "documents")
    pad = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
    s = d.select(
        "doc_id",
        *[
            ((F.length(pad) - F.length(F.replace(pad, F.lit(m)))) / len(m))
            .cast("long").alias(f"c_{l}")
            for l, m in _LANG_MARKERS
        ],
    )
    counts = [F.col(f"c_{l}") for l, _ in _LANG_MARKERS]
    best = F.greatest(*counts)
    # CASE-WHEN chain in fixed priority order (matches the SQL oracle's CASE)
    langs = [l for l, _ in _LANG_MARKERS]
    guess = F.when(F.col(f"c_{langs[0]}") >= best, langs[0])
    for l in langs[1:]:
        guess = guess.when(F.col(f"c_{l}") >= best, l)
    return s.select("doc_id", guess.alias("lang_guess"), best.alias("score"))


@q(
    "quality_score",
    """
    WITH t AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT doc_id,
           round(0.5 * least(1.0, n_tokens / 100.0)
                 + 0.5 * least(1.0, n_chars / 500.0), 6) AS quality
    FROM t
    """,
)
def quality_score(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", "\\s+")).cast("long")
    n_chars = F.length("text").cast("long")
    return d.select(
        "doc_id",
        F.round(
            0.5 * F.least(F.lit(1.0), n_tokens / 100.0)
            + 0.5 * F.least(F.lit(1.0), n_chars / 500.0),
            6,
        ).alias("quality"),
    )


# =====================================================================
# Similarity search over `embeddings`.
# =====================================================================

_ANN_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
sims AS (
    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
           round(list_cosine_similarity(q.v, e.v), 4) AS sim
    FROM q, e WHERE q.vec_id <> e.vec_id
),
ranked AS (
    SELECT q_id, neighbor_id,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM sims
)
SELECT q_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 5
"""


def _cosine(av, bv):
    dot = F.aggregate(
        F.zip_with(av, bv, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate(av, F.lit(0.0), lambda a, x: a + x * x))
    nb = F.sqrt(F.aggregate(bv, F.lit(0.0), lambda a, x: a + x * x))
    return dot / (na * nb)


@q("ann_cosine_topk", _ANN_SQL)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k: broadcast the (tiny) query set against the
    corpus — one pass, no shuffle of the big side; rank on rounded sim with
    id tiebreak so the result set is deterministic."""
    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    qs = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    # the testdata embeddings table is one small file → a 1-partition scan,
    # which would run the whole corpus×query dot-product pass on one core;
    # spread the corpus side (at production scale the file count does this)
    sims = (
        e.repartition(spark.sparkContext.defaultParallelism)
        .join(F.broadcast(qs), F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id", F.col("vec_id").alias("neighbor_id"),
            F.round(_cosine(F.col("qv"), F.col("v")), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("q_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


@q(
    "dedup_embedding_cosine",
    """
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(
               CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(
               CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) >= 0.4
    """,
)
def dedup_embedding_cosine(spark, sf_dir, block_rows: int = 512):
    """Embedding-cosine near-dup pairs: exact all-pairs cosine ≥ τ as a
    distributed BLOCK-PAIR GEMM. Vectors are range-blocked on vec_id; the
    (upper-triangular) block-pair list is a tiny driver-side enumeration
    (block IDS only — the vectors themselves NEVER pass through the driver);
    each block's rows are fanned out to their partner pairs by a join, and
    one applyInPandas task per block pair computes the normalized A·Bᵀ with
    BLAS. Shuffle volume is n_vectors × n_blocks rows — the inherent cost of
    exact all-pairs; at 10^8+ vectors ``block_rows`` rises to ~10^5-10^6 and
    IVF cells (ann_ivf_topk) prune block pairs first. No driver
    collect of vector data anywhere in the plan (round-1 defect: the whole
    table was toPandas()'d and broadcast)."""
    import numpy as np
    import pandas as pd

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", F.floor(F.col("vec_id") / block_rows).alias("block")
    )
    # block ids only — a handful of longs, legitimately driver-side
    blocks = sorted(r[0] for r in e.select("block").distinct().collect())
    pairs = [
        (ia * 1_000_000 + ib, a, b)
        for ia, a in enumerate(blocks)
        for ib, b in enumerate(blocks)
        if a <= b
    ]
    pairs_df = spark.createDataFrame(pairs, "pair_id long, block_a long, block_b long")

    side_a = e.join(
        F.broadcast(pairs_df.select("pair_id", F.col("block_a").alias("block"))),
        "block",
    ).select("pair_id", "vec_id", "embedding", F.lit("a").alias("side"))
    # diagonal pairs (block_a == block_b) take the in-block path on side a
    side_b = e.join(
        F.broadcast(
            pairs_df.where(F.col("block_a") != F.col("block_b")).select(
                "pair_id", F.col("block_b").alias("block")
            )
        ),
        "block",
    ).select("pair_id", "vec_id", "embedding", F.lit("b").alias("side"))

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        def mat(sub):
            ids = sub["vec_id"].to_numpy()
            M = np.array(sub["embedding"].tolist(), dtype=np.float64)
            M /= np.linalg.norm(M, axis=1, keepdims=True)
            return ids, M

        am = pdf["side"] == "a"
        ids_a, A = mat(pdf[am])
        if (~am).any():
            ids_b, B = mat(pdf[~am])
        else:  # diagonal block: compare within
            ids_b, B = ids_a, A
        S = np.round(A @ B.T, 4)
        ai, bi = np.nonzero((S >= 0.4) & (ids_a[:, None] < ids_b[None, :]))
        return pd.DataFrame(
            {"vec_a": ids_a[ai], "vec_b": ids_b[bi], "cosine": S[ai, bi]}
        )

    return (
        side_a.unionByName(side_b)
        .groupBy("pair_id")
        .applyInPandas(gemm, "vec_a long, vec_b long, cosine double")
    )


def _spherical_kmeans(M, k: int, iters: int = 20, init: int = 0):
    """Deterministic spherical k-means on row-normalized vectors:
    farthest-point init seeded at row ``init``, fixed iteration count — no
    RNG, so the index (and the gate's row set) is reproducible anywhere.
    Distinct ``init`` rows yield distinct farthest-point sweeps, which is
    how the multi-index ensemble gets complementary partitions."""
    import numpy as np

    k = min(k, len(M))
    C = [M[init % len(M)]]
    d = 1.0 - M @ C[0]
    for _ in range(k - 1):
        i = int(np.argmax(d))
        C.append(M[i])
        d = np.minimum(d, 1.0 - M @ C[-1])
    C = np.array(C)
    for _ in range(iters):
        a = np.argmax(M @ C.T, axis=1)
        for j in range(k):
            m = a == j
            if m.any():
                v = M[m].mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    C[j] = v / n
    return C


def ann_ivf_candidates(
    spark, sf_dir, k_clusters=128, nprobe=5, train_cap=16384, m_quantizers=4
):
    """Multi-index IVF candidate set: (q_id, qv, vec_id, v) rows for corpus
    vectors in each query's nprobe closest coarse cells of any of
    ``m_quantizers`` INDEPENDENT coarse quantizers (distinct deterministic
    farthest-point inits), deduped per (q_id, vec_id). Shared by the top-k
    query and the recall/probed-fraction measurement in bench + pytest.

    Why an ensemble: on a near-isotropic corpus a single k-means partition
    caps recall@5 around 0.65-0.70 at a 15% probe budget (measured —
    BENCH/BASELINE.md recall-vs-probed curve); complementary partitions
    fix exactly the boundary-loss failure mode (the same idea as
    multi-table LSH / FLANN's randomized-tree ensemble: a true neighbor
    that falls just outside the probed cells of one partition is unlikely
    to do so in all m). Measured on the bench corpus: recall@5 0.88 at
    13.6% probed (was 0.50 at 9.1%).

    Scale shape: postings replicate ids m×, vectors once per posting row
    here (at 10^10 the postings table stores ids and the candidate join
    re-attaches vectors by id); the per-quantizer assignment is the same
    single broadcast-GEMM pass, and the dedup is a groupBy on the slim
    (q_id, vec_id) candidate frame, never the corpus."""
    import numpy as np

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # coarse-quantizer training on a BOUNDED deterministic sample (first
    # train_cap vec_ids) — the FAISS-style IVF recipe; at 10^10 vectors the
    # sample stays the same size, so this collect is O(train_cap·dim), never
    # O(corpus)
    tr = e.orderBy("vec_id").limit(train_cap).toPandas()
    Mt = np.array(tr["v"].tolist(), dtype=np.float64)
    Mt /= np.linalg.norm(Mt, axis=1, keepdims=True)
    Cs = [
        _spherical_kmeans(Mt, k_clusters, init=qi * 137 + 1 if qi else 0)
        for qi in range(m_quantizers)
    ]
    bc = spark.sparkContext.broadcast(Cs)

    def assign(batches):
        import pandas as pd

        Cbs = bc.value
        for pdf in batches:
            M = np.array(pdf["v"].tolist(), dtype=np.float64)
            M /= np.linalg.norm(M, axis=1, keepdims=True)
            frames = [
                pd.DataFrame({
                    "vec_id": pdf["vec_id"],
                    "v": pdf["v"],
                    "qi": qi,
                    "cluster": np.argmax(M @ Cb.T, axis=1),
                })
                for qi, Cb in enumerate(Cbs)
            ]
            yield pd.concat(frames, ignore_index=True)

    assigned = e.repartition(spark.sparkContext.defaultParallelism).mapInPandas(
        assign, "vec_id long, v array<double>, qi int, cluster int"
    )  # spread the GEMM pass off the testdata table's 1-partition scan

    # query side: ten vectors — their nprobe closest centroids per quantizer
    # computed driver-side (10×m×k dot products), shipped as a tiny
    # broadcast frame
    qp = e.where(F.col("vec_id") < 10).toPandas()
    Mq = np.array(qp["v"].tolist(), dtype=np.float64)
    Mqn = Mq / np.linalg.norm(Mq, axis=1, keepdims=True)
    probes = []
    for qi, C in enumerate(Cs):
        order = np.argsort(-(Mqn @ C.T), axis=1)[:, :nprobe]
        probes.extend(
            (int(q), list(map(float, v)), qi, int(c))
            for q, v, row in zip(qp["vec_id"], qp["v"], order)
            for c in row
        )
    probes_df = spark.createDataFrame(
        probes, "q_id long, qv array<double>, qi int, cluster int"
    )
    cand = assigned.join(F.broadcast(probes_df), ["qi", "cluster"]).where(
        F.col("q_id") != F.col("vec_id")
    )
    # a vector found via several quantizers is still ONE probed candidate
    return cand.groupBy("q_id", "vec_id").agg(
        F.first("qv").alias("qv"), F.first("v").alias("v")
    )


# The IVF index is DETERMINISTIC (seeded farthest-point k-means, fixed
# iterations), so the candidate set is reproducible: the query materializes
# its (q_id, vec_id) pairs to this fixed parquet path, and the oracle is
# plain SQL — exact cosine top-5 WITHIN the candidate set — over
# embeddings ⋈ read_parquet(pairs). The query overwrites the path on every
# invocation before the oracle reads it, so the pairs always correspond to
# the sf_dir under comparison.
# Scoped by uid+pid: the oracle SQL string is built at import time in the
# SAME process that runs the query (the driver/gate runs them side-by-side),
# so pid-scoping keeps concurrent sessions and other users on this host from
# overwriting each other's pairs, and makes a standalone oracle evaluation
# against a stale file from some other run fail loudly instead of silently
# comparing the wrong candidates.
_ANN_IVF_CAND_DIR = os.path.join(
    tempfile.gettempdir(),
    f"boris_ann_ivf_cand_u{os.getuid()}_p{os.getpid()}.parquet",
)
# pid-scoped dirs leak one per process otherwise (a gate+bench day leaves
# dozens in /tmp); remove ours on interpreter exit
atexit.register(
    lambda: shutil.rmtree(_ANN_IVF_CAND_DIR, ignore_errors=True)
)

_ANN_IVF_SQL = f"""
WITH cand AS (
    SELECT DISTINCT q_id, vec_id
    FROM read_parquet('{_ANN_IVF_CAND_DIR}/*.parquet')
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sims AS (
    SELECT c.q_id, c.vec_id AS neighbor_id,
           round(list_cosine_similarity(q.v, e.v), 4) AS sim
    FROM cand c
    JOIN e q ON q.vec_id = c.q_id
    JOIN e ON e.vec_id = c.vec_id
),
ranked AS (
    SELECT q_id, neighbor_id,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM sims
)
SELECT q_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 5
"""


@q("ann_ivf_topk", _ANN_IVF_SQL)
def ann_ivf_topk(spark, sf_dir):
    """Scale path for ANN: multi-index IVF — an ensemble of m=4 independent
    deterministic spherical-k-means coarse quantizers trained on one
    bounded sample, centroids broadcast, one mapInPandas GEMM pass assigns
    every vector to its cell in each partition, and each query scans only
    its nprobe closest cells per quantizer, deduped (~14% of the corpus at
    K=128/nprobe=5/m=4; measured per run). The big side is never
    cross-joined and never shuffled — candidates flow through one broadcast
    join on (quantizer, cluster). The ensemble exists because a single
    partition caps recall ~0.65-0.70 at a 15% probe budget on the
    near-isotropic bench corpus (complementary partitions recover the
    boundary losses, same idea as multi-table LSH / FLANN's randomized
    trees): measured recall@5 0.88 at 13.6% probed, vs 0.50 at 9.1% for
    the single-quantizer round-4 configuration; ≥0.9 on clustered corpora
    (both pinned in tests/test_entry_queries.py + BENCH/BASELINE.md; at
    10^10 scale the assignment pass is a materialized index table, not a
    per-query job).

    Exactness within the candidate set IS SQL-oracled: the deterministic
    (q_id, vec_id) pairs are written to ``_ANN_IVF_CAND_DIR`` and the
    DuckDB oracle recomputes the exact top-5 over them. Recall (the
    approximate part) stays measured separately in pytest + bench."""
    cand = _pooled_persist(ann_ivf_candidates(spark, sf_dir))
    cand.select("q_id", "vec_id").write.mode("overwrite").parquet(
        _ANN_IVF_CAND_DIR
    )
    sims = cand.select(
        "q_id", F.col("vec_id").alias("neighbor_id"),
        F.round(_cosine(F.col("qv"), F.col("v")), 4).alias("sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("q_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


# =====================================================================
# Relational breadth (TPC-H-ish) + stream-style sessionization.
# =====================================================================


@q(
    "tpch_q1",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(floor(sum(CAST(l_quantity AS DECIMAL(18,6))) * 100) AS BIGINT) AS sum_qty_c,
           CAST(floor(sum(CAST(l_extendedprice AS DECIMAL(18,6))) * 100) AS BIGINT) AS sum_base_c,
           CAST(floor(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 100) AS BIGINT) AS sum_disc_c,
           CAST(count(*) AS BIGINT) AS cnt
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark, sf_dir):
    l = T(spark, sf_dir, "lineitem")
    return (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.floor(F.sum(F.col("l_quantity").cast("decimal(18,6)")) * 100).cast("long").alias("sum_qty_c"),
            F.floor(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")) * 100).cast("long").alias("sum_base_c"),
            F.floor(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")) * 100).cast("long").alias("sum_disc_c"),
            F.count("*").alias("cnt"),
        )
    )


@q(
    "tpch_q3_revenue",
    """
    SELECT o.o_orderkey, CAST(floor(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) * 100) AS BIGINT) AS revenue_cents
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey
    """,
)
def tpch_q3_revenue(spark, sf_dir):
    """Join-agg with a broadcast-able dim: only the filtered CUSTOMER dim is
    broadcast (a true dimension — small at any scale); lineitem⋈orders is
    pinned to shuffle-hash via a hint on the (smaller) filtered-keys side —
    the plan AQE picks at 100×, made deterministic here because the sandbox
    threshold let the planner broadcast LINEITEM itself at small SF
    (BuildLeft of the fact side — the round-2 plan-audit artifact behind
    the spurious anti-scaling flag). The previous plan broadcast
    orders⋈customer (~30% of all orders) — fine under the sandbox
    threshold, a 300M-row broadcast attempt at 100×."""
    c = T(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf_dir, "orders")
    l = T(spark, sf_dir, "lineitem")
    sel = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select("o_orderkey")
    return (
        l.join(sel.hint("shuffle_hash"), l.l_orderkey == F.col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(F.floor(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")) * 100).cast("long").alias("revenue_cents"))
    )


@q(
    "events_sessionize_stream",
    """
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL THEN 0
                    WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1
                    ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS sess
        FROM g
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, sess
    """,
)
def events_sessionize_stream(spark, sf_dir):
    """Structured-Streaming sessionization (session_window + watermark) in
    APPEND mode drained with Trigger.AvailableNow: each session row is
    emitted exactly once when the watermark passes its end and its state is
    evicted (bounded state — the 100 TB form; round 1 used complete-mode +
    memory sink, which retains all sessions forever). Batch-verified against
    the gap-based SQL oracle: session_window end = last event + gap =
    the oracle's max(ts) + 30min."""
    import tempfile

    from ..streaming.sessionize import run_sessionize_append

    wd = tempfile.mkdtemp(prefix="boris_stream_")
    atexit.register(lambda: shutil.rmtree(wd, ignore_errors=True))
    return run_sessionize_append(
        spark, sf_dir, wd,
        glob="events.parquet",
        schema="event_id bigint, ts timestamp, user_id bigint, "
               "event_type string, value double, props string",
    )


@q(
    "events_sessionize",
    """
    WITH g AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL THEN 0
                    WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1
                    ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM g
    """,
)
def events_sessionize(spark, sf_dir):
    """Stream-style sessionization (30-min gap) as a window job — the batch
    equivalent of the streaming session operator; one shuffle on user_id."""
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts").cast("timestamp").cast("long")).over(w)
    new_sess = F.when(prev.isNull(), 0).when(
        F.col("ts").cast("timestamp").cast("long") - prev > 1800, 1
    ).otherwise(0)
    return (
        e.withColumn("new_sess", new_sess)
        .withColumn(
            "session_id",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
        )
        .select("user_id", "event_id", "session_id")
    )


# =====================================================================
# Multimodal columns: opaque binary blobs + typed metadata, Arrow-batched
# stub decode/resize/frame-sample (see ops/multimodal.py — the decode is a
# clearly-marked deterministic fake; the plumbing is the real structure).
# =====================================================================


@q(
    "media_metadata",
    """
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
           CAST((doc_id % 16) * 32 + 64 AS INTEGER) AS width,
           CAST((doc_id % 9) * 32 + 64 AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 3 = 0
                THEN ((doc_id % 16) * 32 + 64) * ((doc_id % 9) * 32 + 64)
                ELSE octet_length(from_hex(repeat(md5(text), 64)))
           END AS BIGINT) AS n_bytes,
           (doc_id % 3 = 0) AS is_png
    FROM documents
    """,
)
def media_metadata(spark, sf_dir):
    """Typed metadata of the multimodal table: decoded payload size
    (pixels for images — real PNGs whose compressed length is a zlib
    implementation detail, raw bytes for audio/video) + a container check
    (PNG signature + minimum framed size) that the blob really is a PNG
    exactly for image rows. The exact encode/decode roundtrip is pinned
    in tests/test_ingest_gates.py."""
    from .multimodal import make_media_df

    m = make_media_df(spark, sf_dir)
    sig = F.lit(bytes(b"\x89PNG\r\n\x1a\n"))
    # the IEND chunk is constant bytes (len 0 + tag + its fixed CRC):
    # signature head + IEND tail pins PNG container framing JVM-side
    iend = F.lit(bytes(b"\x00\x00\x00\x00IEND\xaeB`\x82"))
    return m.select(
        "media_id", "kind", "width", "height",
        F.when(
            F.col("kind") == "image",
            (F.col("width").cast("long") * F.col("height")),
        ).otherwise(F.length("blob").cast("long")).alias("n_bytes"),
        (
            (F.substring("blob", 1, 8) == sig)
            & (F.substring("blob", -12, 12) == iend)
        ).alias("is_png"),
    )


_MEDIA_FEATURES_SQL = """
WITH i AS (SELECT UNNEST(range(0, 16)) AS i)
, bb AS (SELECT doc_id, ('0x' || substr(md5(text), 2*i.i+1, 2))::INT AS v
         FROM documents, i WHERE doc_id % 3 <> 0)
, h AS (SELECT doc_id, v, count(*)::DOUBLE / 16 AS p FROM bb GROUP BY doc_id, v)
, e AS (SELECT doc_id, -sum(p * log2(p)) AS entropy FROM h GROUP BY doc_id)
, m AS (SELECT doc_id, avg(v) AS mean_val FROM bb GROUP BY doc_id)
, av AS (
    SELECT d.doc_id AS media_id,
           CASE d.doc_id % 3 WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           CAST(1024 AS BIGINT) AS n_bytes,
           round(m.mean_val, 6) AS mean_val,
           round(e.entropy, 6) AS entropy
    FROM documents d JOIN m ON m.doc_id = d.doc_id
    JOIN e ON e.doc_id = d.doc_id
    WHERE d.doc_id % 3 <> 0
)
, img AS (
    -- real-PNG rows: the decoded pixel content is the closed-form
    -- gradient pixel[i] = i % 256 over n = w*h pixels, so with k = n//256
    -- full cycles and r = n%256 remainder: mean = (k*32640 + r(r-1)/2)/n,
    -- entropy = -( r*(k+1)/n*log2((k+1)/n) + (256-r)*k/n*log2(k/n) )
    SELECT doc_id AS media_id, 'image' AS kind,
           CAST(n AS BIGINT) AS n_bytes,
           round((k * 32640.0 + r * (r - 1) / 2.0) / n, 6) AS mean_val,
           round(-(
               CASE WHEN r > 0
                    THEN r * ((k + 1.0) / n) * log2((k + 1.0) / n)
                    ELSE 0 END
             + CASE WHEN k > 0
                    THEN (256 - r) * (k * 1.0 / n) * log2(k * 1.0 / n)
                    ELSE 0 END
           ), 6) AS entropy
    FROM (
        SELECT doc_id,
               ((doc_id % 16) * 32 + 64) * ((doc_id % 9) * 32 + 64) AS n,
               ((doc_id % 16) * 32 + 64) * ((doc_id % 9) * 32 + 64) // 256 AS k,
               ((doc_id % 16) * 32 + 64) * ((doc_id % 9) * 32 + 64) % 256 AS r
        FROM documents WHERE doc_id % 3 = 0
    )
)
SELECT * FROM av UNION ALL SELECT * FROM img
"""


@q("media_features", _MEDIA_FEATURES_SQL)
def media_features(spark, sf_dir):
    """Decode + feature-extract per blob in mapInPandas batches (mean byte
    value, byte entropy). IMAGE rows run the REAL PNG decode
    (kernel/pngkit.py: CRC-checked chunks, zlib inflate, scanline
    unfilter) over real compressed bytes — the gate passes only if the
    decoder reproduces the closed-form gradient byte-exactly, which the
    oracle states arithmetically (cycle-count mean/entropy). Audio/video
    keep the documented deterministic fake (md5 bytes tiled 64×; the
    oracle recomputes mean/entropy over the 16 md5 bytes). The Arrow
    batch shape and partitioning are the real pipeline's."""
    from .multimodal import MEDIA_FEATURES_SCHEMA, make_media_df, media_features_fn

    return make_media_df(spark, sf_dir).mapInPandas(
        media_features_fn, MEDIA_FEATURES_SCHEMA
    ).select(
        "media_id", "kind", "n_bytes",
        F.round("mean_val", 6).alias("mean_val"),
        F.round("entropy", 6).alias("entropy"),
    )


_FRAME_SAMPLE_SQL = """
WITH v AS (
    SELECT doc_id, md5(text) AS h, (doc_id % 24) + 1 AS n_frames
    FROM documents WHERE doc_id % 3 = 2
),
fr AS (
    SELECT doc_id, h, n_frames, 1024 // n_frames AS per,
           UNNEST(range(0, n_frames, 4)) AS f
    FROM v
),
pos AS (
    SELECT doc_id, h, f, UNNEST(range(f * per, (f + 1) * per)) AS p FROM fr
)
SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_no,
       round(avg(('0x' || substr(h, 2 * (p % 16) + 1, 2))::INT), 6) AS frame_mean
FROM pos GROUP BY doc_id, f
"""


@q("media_frame_sample", _FRAME_SAMPLE_SQL)
def media_frame_sample(spark, sf_dir):
    """Frame sampling of 'video' blobs: one output row per sampled frame
    (fan-out inside the Arrow batch). The stub decode makes each frame's
    byte-slice closed-form, so the per-frame mean is SQL-oracled."""
    from .multimodal import FRAME_SCHEMA, frame_sample_fn, make_media_df

    m = make_media_df(spark, sf_dir).where(F.col("kind") == "video")
    return m.mapInPandas(frame_sample_fn(every=4), FRAME_SCHEMA).select(
        "media_id", "frame_no", F.round("frame_mean", 6).alias("frame_mean")
    )


# =====================================================================
# Web-index + corpus-freshness ops: inverted index build, cross-document
# substring-span dedup, CDX capture index, recrawl scheduling.
# =====================================================================


@q(
    "inverted_index",
    """
    WITH e AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    t AS (SELECT DISTINCT doc_id, tok FROM e),
    df AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS doc_freq
      FROM t GROUP BY tok
      HAVING count(*) >= 2
         AND count(*) <= (SELECT 0.85 * count(*) FROM documents)
    )
    SELECT t.tok, df.doc_freq,
           string_agg(CAST(t.doc_id AS VARCHAR), ',' ORDER BY t.doc_id)
             AS postings
    FROM t JOIN df ON t.tok = df.tok
    GROUP BY t.tok, df.doc_freq
    """,
)
def inverted_index(spark, sf_dir):
    """Inverted-index build: token -> sorted posting list (+ document
    frequency), the core artifact of a web search index over a crawled
    corpus. Stop-listing is by document-frequency band (df >= 2 and
    df <= 85% of the corpus) and — this is the scale-critical ordering —
    is applied BEFORE any posting list materializes: the df aggregation is
    a slim partial-agg shuffle on the token key, and only surviving tokens
    join back onto the (tok, doc_id) pairs, so a stopword's 10^9-entry
    posting list is never collected anywhere. The distinct, the df agg,
    and the posting collect all hash-partition on the same token key, so
    Catalyst reuses one exchange across the join + final agg. Posting
    lists are emitted as comma-joined sorted strings (the segment-file
    row shape); at 10^10 docs the df band bounds every list's length by
    construction."""
    n = table_rows(sf_dir, "documents")
    d = T(spark, sf_dir, "documents")
    pairs = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    dfreq = (
        pairs.groupBy("tok")
        .agg(F.count("*").cast("long").alias("doc_freq"))
        .where((F.col("doc_freq") >= 2) & (F.col("doc_freq") <= 0.85 * n))
    )
    return (
        pairs.join(dfreq, "tok")
        .groupBy("tok", "doc_freq")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )


_SPAN_W = 8  # tokens per rolling window (Lee et al. use 50 BPE tokens)


@q(
    "dedup_substring_spans",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    w AS (
      SELECT doc_id,
             unnest([array_to_string(toks[i:i+{_SPAN_W - 1}], ' ')
                     for i in range(1, len(toks) - {_SPAN_W - 2})]) AS win
      FROM t WHERE len(toks) >= {_SPAN_W}
    ),
    dh AS (SELECT win FROM w GROUP BY win HAVING count(DISTINCT doc_id) >= 2),
    fl AS (
      SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_dup
      FROM w JOIN dh USING (win) GROUP BY w.doc_id
    )
    SELECT t.doc_id,
           CAST(greatest(len(toks) - {_SPAN_W - 1}, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(fl.n_dup, 0) AS BIGINT) AS n_dup_windows,
           round(COALESCE(fl.n_dup, 0) * 1.0
                 / NULLIF(greatest(len(toks) - {_SPAN_W - 1}, 0), 0), 6)
             AS dup_share
    FROM t LEFT JOIN fl ON t.doc_id = fl.doc_id
    """,
)
def dedup_substring_spans(spark, sf_dir):
    """Cross-document substring-span dedup (the rolling-window
    approximation of Lee et al. 2022's suffix-array ExactSubstr dedup,
    arXiv:2107.06499): every {W}-token window is keyed, windows whose key
    occurs in >= 2 distinct documents are duplicated spans, and each doc
    reports its duplicated-window share — the signal used to cut
    boilerplate/licence-block contamination that document-level dedup
    misses. Spark plan: the window fan-out is a codegen'd
    transform+sequence+explode (no Python), window keys shuffle ONCE as
    64-bit xxhash64 values (never the window strings — at 100 TB the
    strings are ~8x the corpus; the oracle groups the raw strings, and a
    collision across 2^64 at 10^12 windows is ~1e-5 per corpus), the
    dup-key set reduces via partial agg on the hash, and the per-doc
    rollup is a second slim shuffle on doc_id. Short docs (< {W} tokens)
    report zero windows via the left join."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    base = d.select(
        "doc_id",
        F.greatest(F.size("toks") - (_SPAN_W - 1), F.lit(0))
        .cast("long")
        .alias("n_windows"),
    )
    wins = d.where(F.size("toks") >= _SPAN_W).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(toks) - {_SPAN_W} + 1),"
                f" i -> xxhash64(array_join(slice(toks, i, {_SPAN_W}), ' ')))"
            )
        ).alias("wh"),
    )
    wins = _pooled_persist(wins)
    dup = (
        wins.groupBy("wh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("wh")
    )
    flagged = (
        wins.join(dup, "wh")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_dup"))
    )
    return (
        base.join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.round(
                F.coalesce("n_dup", F.lit(0))
                / F.nullif(F.col("n_windows"), F.lit(0)),
                6,
            ).alias("dup_share"),
        )
    )


dedup_substring_spans.__doc__ = dedup_substring_spans.__doc__.replace(
    "{W}", str(_SPAN_W)
)


_CDX_SQL = f"""
WITH n AS (SELECT count(*) AS cnt FROM documents),
h AS (
  SELECT doc_id,
         '<html><head><title>doc ' || doc_id || '</title></head><body><p>'
         || text || '</p>'
         || CASE WHEN 2*doc_id+1 < cnt THEN
              '<td class=''title''><a href=''http://h'
              || ((2*doc_id+1) % {DOC_HOSTS}) || '.docs.test/d/'
              || (2*doc_id+1) || '''>doc ' || (2*doc_id+1) || '</a></td>'
            ELSE '' END
         || CASE WHEN 2*doc_id+2 < cnt THEN
              '<td class=''title''><a href=''http://h'
              || ((2*doc_id+2) % {DOC_HOSTS}) || '.docs.test/d/'
              || (2*doc_id+2) || '''>doc ' || (2*doc_id+2) || '</a></td>'
            ELSE '' END
         || '</body></html>' AS html
  FROM documents, n
)
SELECT 'test,docs,h' || (doc_id % {DOC_HOSTS}) || ')/d/' || doc_id AS surt,
       CAST(1700000000 + doc_id AS BIGINT) AS fetch_ts,
       sha256(html) AS digest,
       CAST(length(html) AS BIGINT) AS n_bytes
FROM h
"""


@q("cdx_index", _CDX_SQL)
def cdx_index(spark, sf_dir):
    """CDX capture-index build (the Common-Crawl / Wayback cdxj artifact):
    one row per capture keyed by SURT (host components reversed and
    comma-joined, so one host's captures — and one registrable domain's
    hosts — are lexicographically contiguous), with fetch timestamp,
    content digest, and record length. Everything is whole-stage-codegen'd
    JVM work: SURT from two regexps + reverse(split(host)), digest =
    sha2-256 over the page bytes, no UDF and no Python. The ORDER BY surt
    is the one range-exchange in the plan — exactly the global sort a real
    CDX build pays to write sorted index shards (each output partition is
    one cdx-NNNNN segment, binary-searchable); everything before it is a
    scan-side projection, so the sort's input is the slim index rows,
    never the page bodies. fetch_ts is the capture table's warc_ts column
    (closed-form epoch offset in the synthetic corpus)."""
    pages = build_doc_pages(spark, sf_dir)
    doc_id = F.regexp_extract("url", r"/d/(\d+)$", 1).cast("long")
    host = F.regexp_extract("url", r"^http://([^/]+)/", 1)
    path = F.regexp_extract("url", r"^http://[^/]+(/.*)$", 1)
    return (
        pages.select(
            F.concat(
                F.array_join(F.reverse(F.split(host, r"\.")), ","),
                F.lit(")"),
                path,
            ).alias("surt"),
            (F.lit(1700000000) + doc_id).cast("long").alias("fetch_ts"),
            F.sha2("html", 256).alias("digest"),
            F.length("html").cast("long").alias("n_bytes"),
        )
        .orderBy("surt")
    )


_RECRAWL_K = 25  # per-host fetch budget per scheduling round
_RECRAWL_EPOCH = 1700000000
_RECRAWL_NOW = _RECRAWL_EPOCH + 604800  # one week after the epoch


@q(
    "recrawl_schedule",
    f"""
    WITH p AS (
      SELECT 'http://h' || (doc_id % {DOC_HOSTS}) || '.docs.test/d/' || doc_id
               AS url,
             'h' || (doc_id % {DOC_HOSTS}) || '.docs.test' AS host,
             {_RECRAWL_EPOCH} + (doc_id * 9973) % 604800 AS fetch_ts,
             (doc_id % 5) + 1 AS change_rate
      FROM documents
    ),
    s AS (
      SELECT url, host,
             CAST(({_RECRAWL_NOW} - fetch_ts) * change_rate AS BIGINT)
               AS priority,
             row_number() OVER (
               PARTITION BY host
               ORDER BY ({_RECRAWL_NOW} - fetch_ts) * change_rate DESC, url
             ) AS rnk
      FROM p
    )
    SELECT url, host, priority, CAST(rnk AS BIGINT) AS rnk
    FROM s WHERE rnk <= {_RECRAWL_K}
    """,
)
def recrawl_schedule(spark, sf_dir):
    """Recrawl scheduling (frontier refresh): re-prioritize already-seen
    URLs by staleness x observed change rate (the Cho & Garcia-Molina
    freshness policy) and take each host's top-k under the politeness
    budget — the step that turns a one-shot crawler into a continuously
    fresh index. The capture table's warc_ts and a per-URL change-rate
    estimate (closed-form in the synthetic corpus; a real pipeline reads
    it from digest-change history across captures, cdx_index being the
    input) combine into a priority, and the per-host top-k plans as
    WindowGroupLimit: per-partition k-row heaps on the host key, one
    shuffle, no full per-host sort — the same rank-limit shape as the
    frontier dequeue (frontier_topk_per_host), which is what lets a
    10^10-URL recrawl queue emit a round's schedule without ordering the
    whole table. Hot hosts skew-split the same way (frontier_topk_salted's
    two-level rank)."""
    d = T(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    p = d.select(
        F.concat(
            F.lit("http://h"),
            F.pmod(doc_id, F.lit(DOC_HOSTS)).cast("string"),
            F.lit(".docs.test/d/"),
            doc_id.cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("h"),
            F.pmod(doc_id, F.lit(DOC_HOSTS)).cast("string"),
            F.lit(".docs.test"),
        ).alias("host"),
        (F.lit(_RECRAWL_EPOCH) + F.pmod(doc_id * 9973, F.lit(604800)))
        .alias("fetch_ts"),
        (F.pmod(doc_id, F.lit(5)) + 1).alias("change_rate"),
    )
    prio = ((F.lit(_RECRAWL_NOW) - F.col("fetch_ts")) * F.col("change_rate"))
    w = Window.partitionBy("host").orderBy(prio.desc(), "url")
    return (
        p.withColumn("priority", prio.cast("long"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _RECRAWL_K)
        .select("url", "host", "priority", F.col("rnk").cast("long").alias("rnk"))
    )


_CURATE_MIN_Q = 0.5


@q(
    "corpus_curate",
    f"""
    WITH surv AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    t AS (
      SELECT d.doc_id,
             CAST(len(regexp_split_to_array(d.text, '\\s+')) AS BIGINT)
               AS n_tokens,
             round(0.5 * least(1.0,
                     len(regexp_split_to_array(d.text, '\\s+')) / 100.0)
                   + 0.5 * least(1.0, length(d.text) / 500.0), 6) AS quality
      FROM documents d JOIN surv USING (doc_id)
    ),
    f AS (SELECT * FROM t WHERE quality >= {_CURATE_MIN_Q}),
    c AS (
      SELECT doc_id, n_tokens, quality,
             COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum
      FROM f
    )
    SELECT doc_id, n_tokens, quality,
           CAST(cum // {_PACK_LEN} AS BIGINT) AS pack_first,
           CAST((cum + n_tokens - 1) // {_PACK_LEN} AS BIGINT) AS pack_last
    FROM c
    """,
)
def corpus_curate(spark, sf_dir):
    """The end-to-end curation pipeline as ONE Catalyst DAG: exact dedup
    (keep the min-doc_id survivor per content hash) -> quality-band filter
    (the quality_score signal, threshold {Q}) -> fixed-length training-
    sequence packing over the survivors. This is the composition a real
    webtext pipeline runs nightly, and composing it declaratively is the
    point: the dedup agg, the survivor join, the filter, and the packing
    prefix-sum all land in one plan, so Catalyst prunes the text column
    after the hash/token projections, pipelines the filter into the join,
    and the packing runs over the already-reduced survivor set — no
    intermediate table is materialized between stages. Shuffle ledger:
    one content-hash agg (partial), one doc_id join shuffle, one bucket
    agg + one bucket window for the distributed prefix sum (driver holds
    only the O(n_buckets) offset table). Every stage's solo form is its
    own gate (dedup_exact / quality_score / pack_sequences); this gate
    pins the composition."""
    n = table_rows(sf_dir, "documents")
    d = T(spark, sf_dir, "documents")
    surv = d.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    n_tokens = F.size(F.split("text", r"\s+")).cast("long")
    t = d.join(surv, "doc_id").select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(
            0.5 * F.least(F.lit(1.0), n_tokens / 100.0)
            + 0.5 * F.least(F.lit(1.0), F.length("text").cast("long") / 500.0),
            6,
        ).alias("quality"),
    ).where(F.col("quality") >= _CURATE_MIN_Q)
    # distributed prefix sum over the survivor stream (same shape as
    # pack_sequences: closed-form monotone bucket key, broadcast offsets)
    n_buckets = max(32, n // 2_000_000 + 1)
    B = max(1, -(-n // n_buckets))
    t = _pooled_persist(t.withColumn("bucket", F.expr(f"doc_id div {B}")))
    totals = {
        r["bucket"]: r["s"]
        for r in t.groupBy("bucket").agg(F.sum("n_tokens").alias("s")).collect()
    }
    acc, offsets = 0, []
    for b in sorted(totals):
        offsets.append((b, acc))
        acc += totals[b]
    off = spark.createDataFrame(offsets or [(0, 0)], "bucket long, offset long")
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = t.join(F.broadcast(off), "bucket").withColumn(
        "cum",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) + F.col("offset"),
    )
    return cum.select(
        "doc_id",
        "n_tokens",
        "quality",
        F.expr(f"cum div {_PACK_LEN}").alias("pack_first"),
        F.expr(f"(cum + n_tokens - 1) div {_PACK_LEN}").alias("pack_last"),
    )


corpus_curate.__doc__ = corpus_curate.__doc__.replace("{Q}", str(_CURATE_MIN_Q))


@q(
    "crawl_trap_hosts",
    """
    WITH u AS (
      SELECT 'h' || (o_orderkey % 20) || '.shop.test' AS host,
             repeat('/s' || (o_orderkey % 5),
                    CASE WHEN o_orderkey % 20 < 3
                         THEN (o_orderkey % 9) + 2
                         ELSE (o_orderkey % 3) + 1 END) AS path
      FROM orders
    ),
    s AS (
      SELECT host,
             len(list_filter(string_split(path, '/'), x -> x <> ''))
               AS n_seg,
             len(list_distinct(
                   list_filter(string_split(path, '/'), x -> x <> '')))
               AS n_distinct
      FROM u
    ),
    t AS (
      SELECT host,
             CASE WHEN n_seg >= 4 AND n_distinct * 2 <= n_seg
                  THEN 1 ELSE 0 END AS is_trap_url
      FROM s
    )
    SELECT host,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(sum(is_trap_url) AS BIGINT) AS n_trap_urls,
           round(sum(is_trap_url) * 1.0 / count(*), 6) AS trap_share,
           sum(is_trap_url) * 1.0 / count(*) > 0.3 AS is_trap
    FROM t GROUP BY host
    """,
)
def crawl_trap_hosts(spark, sf_dir):
    """Crawler-trap detection (the Heritrix 'pathological path' rule):
    a URL whose path repeats the same segment — calendar pages, session
    loops, self-linking CGI — is a trap candidate (>= 4 segments with
    at most half distinct), and a host where > 30% of discovered URLs
    are trap-shaped gets its frontier budget cut. This is the signal the
    frontier merge consults BEFORE admitting a host's links, which is
    what stops a 10^10-URL frontier from filling up with one calendar
    widget's infinite expansion. Plan: the segment analysis is
    whole-stage-codegen'd array work (split + array_distinct + size) in
    the scan projection — no UDF, nothing wide — and the host rollup is
    one partial-agg shuffle on the host key; skewed mega-hosts partial-
    aggregate map-side so the hot key arrives pre-reduced. The URL
    inventory is synthesized closed-form from `orders` (hosts 0-2 emit
    deep repeated-segment paths; the rest shallow ones) so the oracle
    reconstructs it exactly."""
    o = T(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    host = F.concat(
        F.lit("h"), F.pmod(k, F.lit(20)).cast("string"), F.lit(".shop.test")
    )
    path = F.expr(
        "repeat('/s' || cast(o_orderkey % 5 as string), "
        "CASE WHEN o_orderkey % 20 < 3 THEN cast(o_orderkey % 9 as int) + 2 "
        "ELSE cast(o_orderkey % 3 as int) + 1 END)"
    )
    u = o.select(host.alias("host"), path.alias("path"))
    segs = F.filter(F.split("path", "/"), lambda x: x != F.lit(""))
    s = u.select(
        "host",
        F.size(segs).alias("n_seg"),
        F.size(F.array_distinct(segs)).alias("n_distinct"),
    )
    t = s.select(
        "host",
        F.when(
            (F.col("n_seg") >= 4) & (F.col("n_distinct") * 2 <= F.col("n_seg")),
            1,
        ).otherwise(0).alias("is_trap_url"),
    )
    return t.groupBy("host").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.sum("is_trap_url").cast("long").alias("n_trap_urls"),
        F.round(F.sum("is_trap_url") / F.count("*"), 6).alias("trap_share"),
        (F.sum("is_trap_url") / F.count("*") > 0.3).alias("is_trap"),
    )


# =====================================================================
# Snapshot-lineage, link-signal, normalization and revisit gates (#62-65)
# =====================================================================


@q(
    "crawl_round_metrics",
    f"""
    WITH RECURSIVE lv(round, lo, hi) AS (
      SELECT CAST(0 AS BIGINT), CAST({CRAWL_SEED_DOC} AS BIGINT),
             CAST({CRAWL_SEED_DOC} AS BIGINT)
      UNION ALL
      SELECT round + 1, 2*lo + 1, 2*hi + 2 FROM lv
      WHERE 2*lo + 1 <= (SELECT count(*) - 1 FROM documents)
    )
    SELECT round,
           LEAST((SELECT count(*) - 1 FROM documents), hi) - lo + 1
             AS n_fetched,
           TRUE AS has_lineage
    FROM lv ORDER BY round
    """,
)
def crawl_round_metrics(spark, sf_dir):
    """Per-round snapshot metrics read back from the crawl's committed
    round manifests — the Iceberg snapshot-summary surface the north rule
    names ("every round commits a snapshot carrying per-partition lineage
    and fetch/extract metrics"). The gate runs the memoized doc crawl,
    then reads each committed round's metrics through the crawl's table
    (``ParquetManifestFormat.round_metrics``: the JSON round manifests,
    Iceberg snapshot summaries on a cluster) and
    checks the recorded fetch counts against the closed-form BFS level
    sizes of the seed's binary subtree, and that every round's lineage
    list is non-empty. Metadata-only on the Spark side — round count is
    O(log pages), so the driver-side frame is bounded by design (a
    10^10-URL crawl commits tens of rounds, not billions).

    Reference: the fs-dict cache's on-disk state is the reference's only
    crawl metadata (/root/reference/persistent/main.rkt:37-67); per-round
    lineage+metrics is the distributed upgrade of it."""
    eng, _ = _run_doc_crawl(spark, sf_dir)
    rows = []
    for r in eng.table.committed_rounds():
        m = eng.table.round_metrics(r)
        rows.append(
            (int(r), int(m["fetched"]), len(m.get("partitions") or []) > 0)
        )
    return spark.createDataFrame(
        rows, "round bigint, n_fetched bigint, has_lineage boolean"
    )


_HUB_MOD = 16  # every page also links to doc (id % 16) with anchor 'hub'


@q(
    "anchor_text_index",
    f"""
    WITH u AS (
      SELECT doc_id AS t, 'doc ' || doc_id AS txt
      FROM documents WHERE doc_id >= 1
      UNION ALL
      SELECT doc_id % {_HUB_MOD} AS t, 'hub' AS txt FROM documents
    ),
    a AS (SELECT t, CAST(count(*) AS BIGINT) AS n_anchors FROM u GROUP BY t),
    d AS (SELECT DISTINCT t, txt FROM u),
    s AS (
      SELECT t, string_agg(txt, '|' ORDER BY txt) AS anchor_texts
      FROM d GROUP BY t
    )
    SELECT 'http://h' || (a.t % {DOC_HOSTS}) || '.docs.test/d/' || a.t AS url,
           a.n_anchors, s.anchor_texts
    FROM a JOIN s ON a.t = s.t
    """,
)
def anchor_text_index(spark, sf_dir):
    """Anchor-text aggregation per target URL — the classic link-signal
    index behind crawl prioritization and search ranking (anchor text
    describes the TARGET page better than its own content). Pages are the
    binary-tree doc pages plus one extra 'hub' anchor per page pointing
    at doc (id % {_HUB_MOD}), so hub targets accumulate many inlinks —
    the skew shape a real anchor index has (popular pages get millions of
    anchors). The HTML parse is the kernel's xpath over every <a> in an
    Arrow-batched mapInPandas (one pass per page, all cores); the rollup
    is one partial-agg shuffle on the target URL, where collect_set keeps
    only DISTINCT anchor strings per target (bounded vocabulary per page
    at web scale, vs collecting every duplicate anchor), and the count
    rides the same shuffle. Sorted-joined texts pin the value hash.

    Reference: links/text selector, /root/reference/hypertext-browser/
    html/links.rkt:37-43."""
    docs = T(spark, sf_dir, "documents")
    n = table_rows(sf_dir, "documents")
    uid = lambda c: F.concat(  # noqa: E731
        F.lit("http://h"), F.pmod(c, F.lit(DOC_HOSTS)).cast("string"),
        F.lit(".docs.test/d/"), c.cast("string")
    )
    anchor = lambda c, txt: F.when(  # noqa: E731
        c < n,
        F.concat(F.lit("<a href='"), uid(c), F.lit("'>"), txt, F.lit("</a>")),
    ).otherwise(F.lit(""))
    d = F.col("doc_id")
    pages = docs.select(
        F.concat(
            F.lit("<html><body>"),
            anchor(2 * d + 1, F.concat(F.lit("doc "), (2 * d + 1).cast("string"))),
            anchor(2 * d + 2, F.concat(F.lit("doc "), (2 * d + 2).cast("string"))),
            anchor(F.pmod(d, F.lit(_HUB_MOD)), F.lit("hub")),
            F.lit("</body></html>"),
        ).alias("html")
    ).repartition(spark.sparkContext.defaultParallelism)

    def run(batches):
        import pandas as pd

        from ..kernel import xpath, xpath_first

        for pdf in batches:
            rows = []
            for html in pdf["html"]:
                for a in xpath(html, "//a"):
                    href = xpath_first(a, "/a/@href/text()")
                    if href is not None:
                        rows.append(
                            {"url": href, "txt": xpath_first(a, "/a/text()", "")}
                        )
            yield pd.DataFrame(rows, columns=["url", "txt"])

    anchors = pages.mapInPandas(run, "url string, txt string")
    return anchors.groupBy("url").agg(
        F.count("*").cast("long").alias("n_anchors"),
        F.array_join(F.sort_array(F.collect_set("txt")), "|").alias(
            "anchor_texts"
        ),
    )


# Non-NFC decorations cycled onto document text by doc_id % 4: combining
# acute (e + U+0301), ANGSTROM SIGN U+212B (NFC -> U+00C5), and a
# double-space + combining-ring fixture; index 0 leaves the text as-is.
_NFC_FIXTURES = ["", "éclair", "Ångström", "Café  ①"]


@q(
    "text_normalize",
    f"""
    WITH f AS (
      SELECT doc_id,
             text || CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN ''
               WHEN 1 THEN ' {_NFC_FIXTURES[1]}'
               WHEN 2 THEN ' {_NFC_FIXTURES[2]}'
               ELSE ' {_NFC_FIXTURES[3]}'
             END AS text_in
      FROM documents
    ),
    n AS (
      SELECT doc_id, text_in,
             trim(regexp_replace(nfc_normalize(text_in), '\\s+', ' ', 'g'))
               AS text_norm
      FROM f
    )
    SELECT doc_id,
           CAST(length(text_in) AS BIGINT) AS n_chars_in,
           CAST(length(text_norm) AS BIGINT) AS n_chars_out,
           (text_norm <> text_in) AS changed,
           text_norm
    FROM n
    """,
)
def text_normalize(spark, sf_dir):
    """Unicode NFC + whitespace normalization — the first transform of
    every webtext training pipeline (decomposed accents, compatibility
    codepoints and run-on whitespace from HTML extraction all collapse to
    one canonical form, so downstream exact-dedup hashes agree across
    crawls). The corpus text is ASCII, so each doc gets a deterministic
    non-NFC decoration (combining acute, ANGSTROM SIGN, double space) by
    doc_id % 4 — both sides construct the same input. NFC itself is the
    one step Spark has no built-in for: an Arrow-batched pandas_udf over
    `unicodedata.normalize` (zero-copy string batches, no per-row Python
    call); the whitespace collapse and the length/changed flags stay
    JVM-side codegen. Zero shuffles — pure map lineage, scan-partitioned.

    DuckDB's `nfc_normalize` (utf8proc) and CPython's `unicodedata` pin
    the same Unicode normalization tables for these codepoints, so the
    full normalized text is value-hashed, not just its length."""
    import pandas as pd

    docs = T(spark, sf_dir, "documents")
    fix = F.element_at(
        F.array(*[F.lit(s if not s else " " + s) for s in _NFC_FIXTURES]),
        (F.pmod(F.col("doc_id"), F.lit(4)) + 1).cast("int"),
    )
    f = docs.select("doc_id", F.concat("text", fix).alias("text_in"))

    @F.pandas_udf("string")
    def nfc(s):
        import unicodedata

        return s.map(lambda x: unicodedata.normalize("NFC", x))

    n = f.select(
        "doc_id",
        "text_in",
        F.trim(F.regexp_replace(nfc("text_in"), r"\s+", " ")).alias("text_norm"),
    )
    return n.select(
        "doc_id",
        F.length("text_in").cast("long").alias("n_chars_in"),
        F.length("text_norm").cast("long").alias("n_chars_out"),
        (F.col("text_norm") != F.col("text_in")).alias("changed"),
        "text_norm",
    )


@q(
    "cdx_revisit",
    f"""
    WITH c AS (
      SELECT 'test,docs,h' || (doc_id % {DOC_HOSTS}) || ')/d/' || doc_id
               AS surt,
             CAST(1700000000 + doc_id + k * 1000000 AS BIGINT) AS fetch_ts,
             sha256(text || '|v' ||
                    CASE WHEN k >= doc_id % 3 THEN 1 ELSE 0 END) AS digest
      FROM documents, (SELECT unnest([0, 1, 2]) AS k)
    )
    SELECT surt, fetch_ts, digest,
           fetch_ts > MIN(fetch_ts) OVER (PARTITION BY surt, digest)
             AS is_revisit,
           MIN(fetch_ts) OVER (PARTITION BY surt, digest) AS original_ts
    FROM c
    """,
)
def cdx_revisit(spark, sf_dir):
    """CDX 'revisit' record detection — the recrawl-dedup semantics of
    Common Crawl / web archives: a capture whose payload digest equals an
    EARLIER capture of the same URL is stored as a revisit record pointing
    at the original (no payload duplication in the WARC). The capture log
    is synthesized closed-form: three captures per URL at distinct
    timestamps, with content changing at capture k = doc_id % 3 (so some
    URLs never change, some change between every pair). The whole op is
    one window shuffle on (surt, digest) — partial-agg-friendly, and at
    10^10 captures the partition key is the URL key itself, so the state
    per task is the handful of captures of one page, never a host's or a
    crawl's worth. Digest is JVM-side sha2; no Python in the plan.

    Reference: the fs-dict cache stores one body per URL and replays it
    (/root/reference/persistent/main.rkt:37-67) — revisit records are the
    archive-format version of that replay."""
    docs = T(spark, sf_dir, "documents")
    k = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("k")
    c = docs.select("doc_id", "text", k).select(
        F.concat(
            F.lit("test,docs,h"),
            F.pmod("doc_id", F.lit(DOC_HOSTS)).cast("string"),
            F.lit(")/d/"),
            F.col("doc_id").cast("string"),
        ).alias("surt"),
        (F.lit(1700000000) + F.col("doc_id") + F.col("k") * 1000000)
        .cast("long")
        .alias("fetch_ts"),
        F.sha2(
            F.concat(
                "text",
                F.lit("|v"),
                F.when(
                    F.col("k") >= F.pmod("doc_id", F.lit(3)), F.lit(1)
                ).otherwise(F.lit(0)).cast("string"),
            ),
            256,
        ).alias("digest"),
    )
    w = Window.partitionBy("surt", "digest")
    return c.select(
        "surt",
        "fetch_ts",
        "digest",
        (F.col("fetch_ts") > F.min("fetch_ts").over(w)).alias("is_revisit"),
        F.min("fetch_ts").over(w).alias("original_ts"),
    )


_PARA_CHUNK = 32  # tokens per pseudo-paragraph chunk


@q(
    "dedup_paragraph_chunks",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    chunks AS (
      SELECT doc_id, i,
             md5(array_to_string(
                 t[(i*{_PARA_CHUNK}+1):(i*{_PARA_CHUNK}+{_PARA_CHUNK})],
                 ' ')) AS k
      FROM toks,
           UNNEST(generate_series(
               0, CAST(ceil(len(t) / {_PARA_CHUNK}.0) AS BIGINT) - 1)) AS u(i)
    ),
    flagged AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY k ORDER BY doc_id, i) AS rn
      FROM chunks
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS total_chunks,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS kept_chunks,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_chunks
    FROM flagged GROUP BY doc_id
    """,
)
def dedup_paragraph_chunks(spark, sf_dir):
    """Paragraph-granularity exact dedup (the RefinedWeb/Dolma paragraph
    dedup shape, over deterministic fixed-width token chunks since the
    synthetic corpus has no newline structure): each document is chunked
    into consecutive 32-token pseudo-paragraphs; across the whole corpus
    each distinct chunk's FIRST occurrence (lowest doc_id, then lowest
    chunk index) survives and every later occurrence is a duplicate.
    Returns per-document kept/dup chunk counts — the operator a pipeline
    uses to rewrite documents with cross-doc boilerplate removed.

    Scale design: chunking is pure codegen (split -> sequence -> transform
    -> explode, no Python); only the 16-byte md5 of each chunk crosses the
    wire, never chunk text, so the one window shuffle on the chunk key is
    slim, and the per-key window partitions are tiny (duplicate
    multiplicity), immune to doc-length skew. The per-doc rollup is a
    second partial-agg shuffle on doc_id. At 100 TB both exchanges are
    hash-balanced on high-cardinality keys. Reference analogue: results
    dedup via seen set, /root/reference/persistent/main.rkt:37-67 (the
    crawl-level seen semantics, here applied at sub-document granularity).
    """
    c = _PARA_CHUNK
    d = T(spark, sf_dir, "documents")
    chunks = (
        d.select("doc_id", F.split("text", " ").alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size("t") / F.lit(float(c))).cast("int")
                        - F.lit(1),
                    ),
                    lambda i: F.struct(
                        i.alias("i"),
                        F.md5(
                            F.array_join(
                                F.slice(
                                    F.col("t"), i * F.lit(c) + F.lit(1), c
                                ),
                                " ",
                            )
                        ).alias("k"),
                    ),
                )
            ).alias("ch"),
        )
        .select("doc_id", F.col("ch.i").alias("i"), F.col("ch.k").alias("k"))
    )
    w = Window.partitionBy("k").orderBy("doc_id", "i")
    flagged = chunks.withColumn("rn", F.row_number().over(w))
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("total_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("kept_chunks"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("long")
        .alias("dup_chunks"),
    )


_HOST_MIN_MEAN_TOKENS = 50  # keep a source only if mean doc length >= this
_HOST_SHORT_TOKENS = 30  # a doc under this many tokens is "short"
_HOST_SHORT_MAX_PCT = 20  # drop a source if > 20% of its docs are short


@q(
    "host_quality_rollup",
    f"""
    WITH d AS (
      SELECT source, len(string_split(text, ' ')) AS ntok FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN ntok < {_HOST_SHORT_TOKENS} THEN 1 ELSE 0 END)
               AS BIGINT) AS short_docs,
           (sum(ntok) >= count(*) * {_HOST_MIN_MEAN_TOKENS}
            AND sum(CASE WHEN ntok < {_HOST_SHORT_TOKENS} THEN 1 ELSE 0 END)
                * 100 <= count(*) * {_HOST_SHORT_MAX_PCT}) AS keep
    FROM d GROUP BY source
    """,
)
def host_quality_rollup(spark, sf_dir):
    """Domain-level quality rollup and keep/drop decision (the UT1-style /
    Gopher domain-filter stage: curation decisions made per HOST, not per
    document, so one spammy mirror farm is cut with one rule): per source
    domain, document count, total token mass, short-document count, and an
    integer-domain keep decision (mean doc length >= 50 tokens AND <= 20%
    short docs) — cross-multiplied comparisons so no float division enters
    the oracle hash.

    Scale design: the per-doc token count is codegen'd scan-side
    (split -> size, no Python), then ONE partial-agg shuffle on the domain
    key; at 10^8 hosts the key is high-cardinality and the map-side combine
    collapses each partition to one row per host before the exchange. The
    keep decision is a post-agg projection. Skew note: a mega-host doesn't
    skew this — partial agg bounds any single host's shuffle contribution
    to one row per map task."""
    d = T(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " "))
    agg = d.select("source", ntok.alias("ntok")).groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("ntok").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("ntok") < _HOST_SHORT_TOKENS, 1).otherwise(0))
        .cast("long")
        .alias("short_docs"),
    )
    return agg.select(
        "source",
        "n_docs",
        "total_tokens",
        "short_docs",
        (
            (F.col("total_tokens") >= F.col("n_docs") * _HOST_MIN_MEAN_TOKENS)
            & (
                F.col("short_docs") * 100
                <= F.col("n_docs") * _HOST_SHORT_MAX_PCT
            )
        ).alias("keep"),
    )


@q(
    "crawl_snapshot_diff",
    """
    SELECT 'http://s' || (doc_id % 20) || '.test/p/' || doc_id AS url,
           CASE
             WHEN doc_id % 13 = 0 THEN 'added'
             WHEN doc_id % 11 = 3 THEN 'removed'
             WHEN doc_id % 7 = 0 THEN 'modified'
             ELSE 'unchanged'
           END AS change
    FROM documents
    WHERE NOT (doc_id % 13 = 0 AND doc_id % 11 = 3)
    """,
)
def crawl_snapshot_diff(spark, sf_dir):
    """Crawl snapshot diffing (the freshness family's third leg next to
    recrawl_schedule and cdx_revisit; what a monthly-crawl pipeline
    computes between generation N and N+1): full-outer join of two capture
    generations on url, classifying each URL as added (new only), removed
    (old only), modified (both, payload digest differs) or unchanged. The
    two generations are synthesized closed-form from `documents` (old
    misses doc_id%13==0, new misses doc_id%11==3, every doc_id%7==0
    changed payload), and the oracle classifies each doc_id directly from
    those modular conditions — it never runs a join, so the distributed
    diff is tested against independent logic.

    Scale design: the diff is ONE full-outer sort-merge join keyed on url
    — both generations shuffle once on the same key (at 10^10 captures
    per generation this is the unavoidable co-location; bucketed capture
    tables written by `cdx_index`'s range-exchange layout make it
    shuffle-free on a real deployment). Digests are scan-side sha2
    projections; only (url, 32-byte digest) rows cross the wire, never
    payloads. Classification is a codegen'd post-join CASE."""
    d = T(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("http://s"),
        F.pmod("doc_id", F.lit(20)).cast("string"),
        F.lit(".test/p/"),
        F.col("doc_id").cast("string"),
    ).alias("url")
    old = d.filter(F.pmod("doc_id", F.lit(13)) != 0).select(
        url, F.sha2(F.concat("text", F.lit("|v0")), 256).alias("old_digest")
    )
    new = d.filter(F.pmod("doc_id", F.lit(11)) != 3).select(
        url,
        F.sha2(
            F.concat(
                "text",
                F.when(F.pmod("doc_id", F.lit(7)) == 0, F.lit("|v1"))
                .otherwise(F.lit("|v0")),
            ),
            256,
        ).alias("new_digest"),
    )
    j = old.join(new, "url", "full_outer")
    return j.select(
        "url",
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") != F.col("new_digest"), F.lit("modified"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
    )


_SHUF_SALT = "shuf42|"
_SHUF_SHARDS = 8  # the knob bounding per-shard sort size (corpus/W rows)


@q(
    "corpus_shard_shuffle",
    f"""
    WITH h AS (
      SELECT doc_id,
             md5('{_SHUF_SALT}' || CAST(doc_id AS VARCHAR)) AS hk
      FROM documents
    ),
    s AS (
      SELECT doc_id, hk,
             ((strpos('0123456789abcdef', substr(hk, 1, 1)) - 1) * 16
              + strpos('0123456789abcdef', substr(hk, 2, 1)) - 1)
             % {_SHUF_SHARDS} AS shard
      FROM h
    )
    SELECT doc_id, CAST(shard AS BIGINT) AS shard,
           CAST(row_number() OVER (
               PARTITION BY shard ORDER BY hk, doc_id) AS BIGINT) AS pos
    FROM s
    """,
)
def corpus_shard_shuffle(spark, sf_dir):
    """Deterministic global shuffle + shard assignment for training-data
    ordering (the pipeline step between curation and the trainer: examples
    must arrive in a reproducible pseudo-random order, sharded into W
    output files): each doc gets an md5 order key over a salted doc_id,
    a shard from the key's leading byte, and its position within the
    shard's key-sorted order. Seeded by the salt — changing it re-shuffles
    reproducibly. The oracle recomputes key/shard/position with DuckDB's
    own md5/strpos/window — independent execution of the same definition.

    Scale design: one hash exchange on shard, then a per-shard sort for
    row_number. W is the scale knob: production sets W = corpus_size /
    shard_size (10^5 shards for 10^10 docs), so each shard's window sorts
    a bounded ~shard_size rows with external sort as the backstop — the
    same bounded-bucket device as pack_sequences; the plan audit forbids
    a SinglePartition global window. Hex-digit arithmetic (strpos over the
    md5 hex string) keeps shard derivation engine-portable and codegen'd
    — no UDF, no non-portable hash()."""
    d = T(spark, sf_dir, "documents")
    hk = F.md5(F.concat(F.lit(_SHUF_SALT), F.col("doc_id").cast("string")))

    def hex_digit(i):
        # value of the i-th (1-based) hex char of the order key
        return F.expr(
            f"locate(substr(md5(concat('{_SHUF_SALT}', "
            f"cast(doc_id as string))), {i}, 1), '0123456789abcdef') - 1"
        )

    s = d.select(
        "doc_id",
        hk.alias("hk"),
        ((hex_digit(1) * 16 + hex_digit(2)) % _SHUF_SHARDS)
        .cast("long")
        .alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("hk", "doc_id")
    return s.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    )


_HGC_HOSTS = 60  # synthetic host count; +12 mod 60 cycle → 12 components


@q(
    "host_graph_components",
    f"""
    WITH h AS (
      SELECT DISTINCT doc_id % {_HGC_HOSTS} AS hid FROM documents
    )
    SELECT 'h' || hid || '.docs.test' AS host,
           'h' || (hid % 12) || '.docs.test' AS component
    FROM h
    """,
)
def host_graph_components(spark, sf_dir):
    """Host-graph connected components (mirror-cluster / link-farm
    detection: the domain-level grouping a curation pipeline applies
    before host_quality_rollup so one verdict covers a whole mirror ring):
    runs the same alternating large-star/small-star components
    (:func:`connected_components`, Kiveris et al. SoCC'14) used for
    near-dup clusters, here over a host-level link graph. The gate graph
    is a closed-form cyclic synthesis — host i links to (i+12) mod 60, so
    the 60 hosts split into exactly the 12 residue classes mod 12 and each
    component's canonical (minimum) host is its residue — which the oracle
    states with pure modular arithmetic, no recursive CTE and no shared
    traversal code.

    Scale design: identical to dedup_clusters — O(log² n) rounds of two
    slim groupBy-min shuffles, per-round lineage truncation via
    localCheckpoint (df.checkpoint() on a real cluster), no component's
    edge list ever in one task, driver sees only convergence counts. The
    production edge list is host_graph_edges' rollup output (10^8 hosts →
    edges are the slim post-aggregation pairs, not page-level links)."""
    d = T(spark, sf_dir, "documents")
    hid = F.pmod("doc_id", F.lit(_HGC_HOSTS))
    edges = (
        d.select(
            hid.cast("long").alias("a"),
            F.pmod(hid + F.lit(12), F.lit(_HGC_HOSTS)).cast("long").alias("b"),
        )
        .distinct()
    )
    cc = connected_components(edges)
    nodes = d.select(hid.cast("long").alias("a")).distinct()
    comp = nodes.join(cc, "a", "left").select(
        "a", F.coalesce("b", "a").alias("comp")
    )
    return comp.select(
        F.concat(F.lit("h"), F.col("a").cast("string"), F.lit(".docs.test"))
        .alias("host"),
        F.concat(
            F.lit("h"), F.col("comp").cast("string"), F.lit(".docs.test")
        ).alias("component"),
    )


# =====================================================================
# Table-maintenance + ingest-hygiene gates (#75-78): compaction planning
# (the Iceberg rewrite_data_files step), charset sniffing, soft-404
# detection, URL-template mining.
# =====================================================================

_COMPACT_PARTS = 16          # table partitions (host buckets at scale)
_COMPACT_TARGET = 64_000     # target bytes per rewritten file group
_COMPACT_OVERHEAD = 1_024    # per-file parquet footer/metadata overhead


@q(
    "compact_plan",
    f"""
    WITH files AS (
      SELECT doc_id AS file_id,
             doc_id % {_COMPACT_PARTS} AS part,
             n_chars + {_COMPACT_OVERHEAD} AS bytes
      FROM documents
    ),
    c AS (
      SELECT file_id, part, bytes,
             COALESCE(SUM(bytes) OVER (
               PARTITION BY part ORDER BY file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum_before
      FROM files
    )
    SELECT CAST(part AS BIGINT) AS part,
           CAST(file_id AS BIGINT) AS file_id,
           CAST(bytes AS BIGINT) AS bytes,
           CAST(cum_before // {_COMPACT_TARGET} AS BIGINT) AS grp
    FROM c
    """,
)
def compact_plan(spark, sf_dir):
    """Small-file compaction planner — the Iceberg
    ``rewrite_data_files(strategy => 'binpack')`` planning step a
    long-running crawl table needs continuously (every crawl round's
    fast-append adopts many small files; read amplification grows until a
    maintenance pass bin-packs them into ~target-size groups). The file
    inventory is derived closed-form from ``documents`` (one data file per
    doc, bytes = n_chars + footer overhead, partition = doc_id mod
    {_COMPACT_PARTS}); the planner assigns each file, in deterministic
    file_id order within its partition, to rewrite group
    floor(cumulative_bytes_before / {_COMPACT_TARGET}) — the same
    first-fit-in-scan-order grouping Iceberg's binpack rewrite computes
    from manifest metadata.

    Scale design: planning touches FILE METADATA only (path, partition,
    bytes — the manifest rows), never data: a 10-PB table is ~10^7
    manifest rows, trivially shuffled. One hash exchange on the partition
    key + a per-partition running-sum window; partition count grows with
    the table so no window sees unbounded rows, and the plan audit forbids
    a SinglePartition global sort. Each output group is then an
    independent rewrite task (read group, write one file, one Iceberg
    commit swapping them) — embarrassingly parallel downstream.
    Reference analogue: the fs-dict store never compacts
    (/root/reference/persistent/main.rkt stores one file per key), which
    is exactly what breaks at 10^10 URLs."""
    d = T(spark, sf_dir, "documents")
    files = d.select(
        F.col("doc_id").alias("file_id"),
        F.pmod("doc_id", F.lit(_COMPACT_PARTS)).cast("long").alias("part"),
        (F.col("n_chars") + F.lit(_COMPACT_OVERHEAD)).cast("long").alias("bytes"),
    )
    w = (
        Window.partitionBy("part")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return files.select(
        "part",
        "file_id",
        "bytes",
        F.floor(
            F.coalesce(F.sum("bytes").over(w), F.lit(0)) / _COMPACT_TARGET
        ).cast("long").alias("grp"),
    )


# Charset sniffing: the detector's precedence is meta-charset first (HTML5
# §4.2.5.4 prescan), then the XML-declaration encoding, else the UTF-8
# default. The synthetic head exercises double-quoted meta, unquoted
# http-equiv, xml-decl-only, none, and a conflict case (meta wins).
_CHARSET_CASE = """
    CASE CAST({id} % 5 AS BIGINT)
      WHEN 0 THEN '<head><meta charset="ISO-8859-1"><title>t</title></head>'
      WHEN 1 THEN '<head><meta http-equiv=Content-Type'
                  || ' content="text/html; charset=Windows-1252"></head>'
      WHEN 2 THEN '<?xml version="1.0" encoding="UTF-16"?><head></head>'
      WHEN 3 THEN '<head><title>plain</title></head>'
      ELSE '<?xml version="1.0" encoding="UTF-16"?>'
           || '<head><meta charset="KOI8-R"></head>'
    END
"""
# (?i): the HTML5 prescan is case-insensitive (<META CHARSET=...> is
# valid); supported identically by Java regex (Spark) and RE2 (DuckDB).
# \x27 is the single quote — spelled as a hex escape (again valid in both
# engines) so the pattern can be embedded in a single-quoted SQL literal.
_CHARSET_META_RE = '(?i)charset=["\\x27]?([A-Za-z0-9_-]+)'
_CHARSET_XML_RE = '(?i)encoding=["\\x27]([A-Za-z0-9_-]+)'


def charset_sniff_cols(head):
    """(charset, via) detector expressions over a head-string column —
    shared by the gate and the hand-written-fixture tests so fixture bytes
    exercise the exact production regexes/precedence."""
    meta_cs = F.regexp_extract(head, _CHARSET_META_RE, 1)
    xml_cs = F.regexp_extract(head, _CHARSET_XML_RE, 1)
    charset = (
        F.when(meta_cs != "", F.lower(meta_cs))
        .when(xml_cs != "", F.lower(xml_cs))
        .otherwise("utf-8")
        .alias("charset")
    )
    via = (
        F.when(meta_cs != "", "meta")
        .when(xml_cs != "", "xmldecl")
        .otherwise("default")
        .alias("via")
    )
    return charset, via


@q(
    "charset_sniff",
    f"""
    WITH pages AS (
      SELECT doc_id, {_CHARSET_CASE.format(id="doc_id")} AS head
      FROM documents
    ),
    sniff AS (
      SELECT doc_id, head,
             regexp_extract(head, '{_CHARSET_META_RE}', 1) AS meta_cs,
             regexp_extract(head, '{_CHARSET_XML_RE}', 1) AS xml_cs
      FROM pages
    )
    SELECT doc_id,
           CASE WHEN meta_cs <> '' THEN lower(meta_cs)
                WHEN xml_cs <> '' THEN lower(xml_cs)
                ELSE 'utf-8' END AS charset,
           CASE WHEN meta_cs <> '' THEN 'meta'
                WHEN xml_cs <> '' THEN 'xmldecl'
                ELSE 'default' END AS via
    FROM sniff
    """,
)
def charset_sniff(spark, sf_dir):
    """Charset sniffing at ingest — the decode step between a WARC's raw
    ``html:binary`` and the ``text:string`` column (input_hint schema):
    real crawl payloads declare their encoding in-band, and a distributed
    pipeline must sniff it per-page before transcoding to UTF-8. Detector
    precedence (HTML5 prescan subset): ``<meta charset=...>`` (quoted or
    bare) first, XML-declaration ``encoding="..."`` second, UTF-8 default
    last; names lowercased. The synthetic head column covers all three
    sources plus a conflict case where meta must beat the xml-decl.
    Hand-written fixture bytes flow through the same regexes in
    tests/test_ingest_gates.py (the shared-bug mitigation the sitemap gate
    set the precedent for).

    Scale design: two codegen'd regexp_extracts + a CASE — zero shuffles,
    zero UDFs, runs at scan speed inside WholeStageCodegen next to the
    WARC read; the transcode itself (chardet fallback for undeclared
    legacy pages) would be the only Arrow-batch hop."""
    d = T(spark, sf_dir, "documents")
    head = F.expr(_CHARSET_CASE.format(id="doc_id"))
    charset, via = charset_sniff_cols(head)
    return d.select("doc_id", charset, via)


# Soft-404 phrases (lowercased substring match) — the standard heuristic
# list; short-content threshold in tokens.
_SOFT404_PHRASES = ("page not found", "no longer available", "error 404")
_SOFT404_MIN_TOKENS = 5
# ~1% of fetches in the synthetic crawl come back as soft 404s: an origin
# that answers HTTP 200 with an error body.
_SOFT404_BODY = "Error 404 - page not found. This page is no longer available."


def soft404_verdict_col(body):
    """Verdict expression ('phrase' | 'short' | 'ok') over a body column —
    shared by the gate and hand-written-fixture tests."""
    lb = F.lower(body)
    phrase = None
    for p in _SOFT404_PHRASES:
        c = F.contains(lb, F.lit(p))
        phrase = c if phrase is None else (phrase | c)
    return (
        F.when(phrase, "phrase")
        .when(F.size(F.split(body, " ")) < _SOFT404_MIN_TOKENS, "short")
        .otherwise("ok")
        .alias("verdict")
    )


@q(
    "soft404_detect",
    f"""
    WITH fetched AS (
      SELECT doc_id,
             CASE WHEN doc_id % 97 = 0 THEN '{_SOFT404_BODY}'
                  ELSE text END AS body
      FROM documents
    ),
    f AS (
      SELECT doc_id, body, lower(body) AS lb,
             len(string_split(body, ' ')) AS n_tok
      FROM fetched
    )
    SELECT doc_id,
           CASE
             WHEN {" OR ".join(f"contains(lb, '{p}')" for p in _SOFT404_PHRASES)}
               THEN 'phrase'
             WHEN n_tok < {_SOFT404_MIN_TOKENS} THEN 'short'
             ELSE 'ok'
           END AS verdict
    FROM f
    """,
)
def soft404_detect(spark, sf_dir):
    """Soft-404 detection: pages served with HTTP 200 whose BODY is an
    error page ("page not found" phrases, or near-empty content) — the
    crawl-hygiene filter that keeps dead pages out of the corpus and out
    of the recrawl schedule (a soft-404 that looks like content gets
    recrawled forever). The synthetic fetch layer turns every 97th doc
    into a canned error body, modeling the ~1% soft-404 rate of a real
    crawl; the detector is a lowercased phrase match over the standard
    heuristic list plus a minimum-token threshold. Verdict per doc:
    'phrase' | 'short' | 'ok'.

    Scale design: pure JVM string predicates (contains + split-length)
    inside WholeStageCodegen — zero shuffles, scan-speed, pushes through
    the same pass as quality_score/lang_id so curation reads the corpus
    once. The production variant adds a per-HOST error-template check
    (cluster identical bodies per host via dedup_exact's hash-groupBy) —
    composition of gates that already exist."""
    d = T(spark, sf_dir, "documents")
    body = F.when(
        F.pmod("doc_id", F.lit(97)) == 0, F.lit(_SOFT404_BODY)
    ).otherwise(F.col("text"))
    return d.select("doc_id", soft404_verdict_col(body))


_TMPL_SPAM_MIN = 400  # distinct URLs above which a {hex}-bearing template
                      # is an unbounded-URL-space crawler trap


def url_template_col(url):
    """Structural-template expression (digit runs → ``(d)``, 32-hex tokens
    → ``(hex)``) — shared by the gate and hand-written-fixture tests."""
    return F.regexp_replace(
        F.regexp_replace(url, F.lit("[0-9a-f]{32}"), F.lit("(hex)")),
        F.lit("[0-9]+"),
        F.lit("(d)"),
    ).alias("template")


@q(
    "url_template_mine",
    f"""
    WITH urls AS (
      SELECT 'http://h' || (o_orderkey % 50) || '.shop.test/' ||
             CASE CAST(o_orderkey % 3 AS BIGINT)
               WHEN 0 THEN 'product/' || o_orderkey
               WHEN 1 THEN 'search?q=item&page=' || (o_orderkey % 20)
               ELSE 'session/' || md5(CAST(o_orderkey AS VARCHAR))
             END AS url
      FROM orders
    ),
    t AS (
      SELECT regexp_replace(
               regexp_replace(url, '[0-9a-f]{{32}}', '(hex)', 'g'),
               '[0-9]+', '(d)', 'g') AS template,
             url
      FROM urls
    )
    SELECT template,
           CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
           (count(DISTINCT url) > {_TMPL_SPAM_MIN}
            AND contains(template, '(hex)')) AS trap
    FROM t
    GROUP BY template
    """,
)
def url_template_mine(spark, sf_dir):
    """URL-template mining: collapse a frontier's URLs to structural
    templates (digit runs → ``(d)``, 32-hex tokens → ``(hex)``) and count
    distinct URLs per template — the scheduler-side defense against
    session-id URL spam, where one handler generates an unbounded URL
    space and eats the crawl budget (complements crawl_trap_hosts, which
    fires on path shape per-host; this fires on corpus-wide template
    cardinality). A template with > {_TMPL_SPAM_MIN} distinct URLs AND a
    hex token is flagged ``trap``. The synthetic frontier derives three
    handler shapes from orders closed-form: item pages (bounded),
    paginated search (20 pages), and md5 session URLs (unbounded — the
    trap).

    Scale design: two codegen'd regexp_replaces, then ONE aggregation
    shuffle keyed on template with map-side partial count-distinct
    (templates are few — the whole point of templating — so the
    post-shuffle side is tiny even at 10^10 URLs; a skewed mega-template
    is exactly a near-constant key, which partial aggregation absorbs
    before the exchange)."""
    o = T(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("http://h"),
        F.pmod("o_orderkey", F.lit(50)).cast("string"),
        F.lit(".shop.test/"),
        F.when(
            F.pmod("o_orderkey", F.lit(3)) == 0,
            F.concat(F.lit("product/"), F.col("o_orderkey").cast("string")),
        )
        .when(
            F.pmod("o_orderkey", F.lit(3)) == 1,
            F.concat(
                F.lit("search?q=item&page="),
                F.pmod("o_orderkey", F.lit(20)).cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("session/"), F.md5(F.col("o_orderkey").cast("string"))
            )
        ),
    )
    t = o.select(url_template_col(url), url.alias("url"))
    return t.groupBy("template").agg(
        F.countDistinct("url").cast("long").alias("n_urls"),
        (
            (F.countDistinct("url") > _TMPL_SPAM_MIN)
            & F.contains(F.col("template"), F.lit("(hex)"))
        ).alias("trap"),
    )


# =====================================================================
# Link-analysis + scheduling + canonicalization + model-inference gates
# (#79-82): HITS hubs/authorities, politeness fetch-slot schedule,
# rel=canonical resolution, logistic quality-classifier inference.
# =====================================================================

_HITS_NODES = 500  # host-graph size for the synthetic HITS lattice


@q(
    "host_hits",
    f"""
    WITH edges AS (
        SELECT l_orderkey % {_HITS_NODES} AS src,
               l_suppkey % {_HITS_NODES} AS dst
        FROM lineitem WHERE (l_orderkey % {_HITS_NODES}) != (l_suppkey % {_HITS_NODES})
    ),
    nodes AS (
        SELECT DISTINCT src AS node FROM edges
        UNION SELECT DISTINCT dst FROM edges
    ),
    auth1 AS (
        SELECT n.node, CAST(COALESCE(count(e.src), 0) AS BIGINT) AS a
        FROM nodes n LEFT JOIN edges e ON e.dst = n.node
        GROUP BY n.node
    ),
    hub1 AS (
        SELECT n.node, CAST(COALESCE(SUM(a1.a), 0) AS BIGINT) AS h
        FROM nodes n
        LEFT JOIN edges e ON e.src = n.node
        LEFT JOIN auth1 a1 ON a1.node = e.dst
        GROUP BY n.node
    ),
    auth2 AS (
        SELECT n.node, CAST(COALESCE(SUM(h1.h), 0) AS BIGINT) AS a
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.node
        LEFT JOIN hub1 h1 ON h1.node = e.src
        GROUP BY n.node
    )
    SELECT a2.node, a2.a AS auth, h1.h AS hub
    FROM auth2 a2 JOIN hub1 h1 ON h1.node = a2.node
    """,
)
def host_hits(spark, sf_dir):
    """HITS hubs/authorities over the host link graph (Kleinberg JACM'99)
    — the second classic link signal next to frontier_priority_pagerank: a
    high-hub host is a link directory (or a link farm's hub page), a
    high-authority host is what the directories point at; crawl schedulers
    use hubs for frontier expansion and spam teams use hub-score outliers
    for farm detection. 1.5 power iterations on the INTEGER lattice (hub0
    = 1 ⇒ auth1 = indegree ⇒ hub1 = Σ auth1(out-neighbors) ⇒ auth2 = Σ
    hub1(in-neighbors)), unnormalized: every score is an exact integer, so
    the gate has no float-rounding surface at all (the pagerank gate
    already covers damped float iteration). Multi-edges kept — parallel
    links weight the endorsement, as in the pagerank gate.

    Scale shape: same static-DAG discipline as pagerank — each half-step
    is one edges⋈scores join co-partitioned on the score key plus one
    partial-agg groupBy; edges persist once; score frames are |V|-sized
    (broadcast when small, shuffle-hash at 10^8 hosts); no driver-side
    loop state."""
    l = T(spark, sf_dir, "lineitem")
    edges = (
        l.select(
            F.pmod("l_orderkey", F.lit(_HITS_NODES)).alias("src"),
            F.pmod("l_suppkey", F.lit(_HITS_NODES)).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    edges = _pooled_persist(edges)
    nodes = _pooled_persist(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )

    def half_step(scores, key_side, group_side):
        # scores keyed by `key_side` endpoint, summed per `group_side`
        contrib = edges.join(
            scores, edges[key_side] == scores["node"]
        ).select(F.col(group_side).alias("node"), F.col("s"))
        return nodes.join(
            contrib.groupBy("node").agg(F.sum("s").alias("sum_s")),
            "node",
            "left",
        ).select(
            "node", F.coalesce("sum_s", F.lit(0)).cast("long").alias("s")
        )

    hub0 = nodes.select("node", F.lit(1).cast("long").alias("s"))
    auth1 = half_step(hub0, "src", "dst")
    hub1 = _pooled_persist(half_step(auth1, "dst", "src"))
    auth2 = half_step(hub1, "src", "dst")
    return auth2.select("node", F.col("s").alias("auth")).join(
        hub1.select("node", F.col("s").alias("hub")), "node"
    )


_SLOT_ROUND_S = 60  # scheduling quantum (seconds per crawl round)


@q(
    "fetch_slot_schedule",
    f"""
    WITH u AS (
      SELECT doc_id,
             'h' || (doc_id % {DOC_HOSTS}) || '.docs.test' AS host,
             1 + (doc_id % {DOC_HOSTS}) % 5 AS delay_s,
             n_chars
      FROM documents
    ),
    r AS (
      SELECT doc_id, host, delay_s,
             row_number() OVER (
               PARTITION BY host ORDER BY n_chars DESC, doc_id
             ) AS rk
      FROM u
    )
    SELECT doc_id, host,
           CAST((rk - 1) * delay_s AS BIGINT) AS slot_s,
           CAST(((rk - 1) * delay_s) // {_SLOT_ROUND_S} AS BIGINT)
             AS fetch_round
    FROM r
    """,
)
def fetch_slot_schedule(spark, sf_dir):
    """Politeness fetch-slot materialization: turn each host's Crawl-delay
    into an explicit per-URL schedule — priority-rank the host's queue
    (content length desc, doc_id tiebreak), then slot_s = (rank-1) x
    delay and fetch_round = slot_s div the round quantum. This is the
    declarative form of what the engine's politeness stage does
    implicitly (budget = round_seconds / delay URLs per round,
    host_budgets_from_robots): materializing it lets an operator audit
    exactly WHEN any URL will be fetched and how deep each host's backlog
    runs — the frontier's ETA column. All-integer arithmetic.

    Scale shape: ONE hash exchange on the host key feeding a per-host
    rank window — identical to the frontier dequeue's shape; per-host
    queue length bounds window state, and a Zipf mega-host takes the
    salted two-phase form the frontier_topk_salted gate pins. The plan
    audit forbids a SinglePartition window."""
    d = T(spark, sf_dir, "documents")
    hid = F.pmod("doc_id", F.lit(DOC_HOSTS))
    u = d.select(
        "doc_id",
        F.concat(F.lit("h"), hid.cast("string"), F.lit(".docs.test")).alias(
            "host"
        ),
        (F.lit(1) + F.pmod(hid, F.lit(5))).alias("delay_s"),
        "n_chars",
    )
    w = Window.partitionBy("host").orderBy(F.desc("n_chars"), "doc_id")
    r = u.withColumn("rk", F.row_number().over(w))
    slot = (F.col("rk") - 1) * F.col("delay_s")
    return r.select(
        "doc_id",
        "host",
        slot.cast("long").alias("slot_s"),
        F.floor(slot / _SLOT_ROUND_S).cast("long").alias("fetch_round"),
    )


# rel=canonical synthesis: ~25% of pages declare a canonical pointing at
# the previous doc (the "print/amp/session variant" case), ~25% declare a
# self-canonical, the rest declare none.
_CANON_HEAD_CASE = f"""
    CASE CAST({{id}} % 4 AS BIGINT)
      WHEN 1 THEN '<head><link rel="canonical" href="http://h'
                  || (({{id}} - 1) % {DOC_HOSTS}) || '.docs.test/d/'
                  || ({{id}} - 1) || '"></head>'
      WHEN 3 THEN '<head><link rel="canonical" href="http://h'
                  || ({{id}} % {DOC_HOSTS}) || '.docs.test/d/' || {{id}}
                  || '"></head>'
      ELSE '<head><title>t</title></head>'
    END
"""
_CANON_RE = '(?i)rel="?canonical"?[^>]*href="([^"]+)"'


def canonical_href_col(head):
    """rel=canonical href extractor — shared by the gate and the
    hand-written-fixture tests."""
    return F.regexp_extract(head, _CANON_RE, 1)


@q(
    "canonical_link_resolve",
    f"""
    WITH pages AS (
      SELECT doc_id,
             'http://h' || (doc_id % {DOC_HOSTS}) || '.docs.test/d/' || doc_id
               AS url,
             {_CANON_HEAD_CASE.format(id="doc_id")} AS head
      FROM documents
    )
    SELECT doc_id, url,
           COALESCE(NULLIF(regexp_extract(head, '{_CANON_RE}', 1), ''), url)
             AS canonical_url,
           COALESCE(NULLIF(regexp_extract(head, '{_CANON_RE}', 1), ''), url)
             <> url AS is_variant
    FROM pages
    """,
)
def canonical_link_resolve(spark, sf_dir):
    """rel=canonical resolution — the publisher-declared dedup signal
    (print/AMP/session-id variants point at their canonical form): extract
    the ``<link rel=canonical href>`` target from each page head, default
    to the page's own URL when absent, and flag variants. Downstream,
    grouping by canonical_url is the cheapest dedup pass in the pipeline
    (dedup_exact's hash-groupBy on this column instead of a content hash)
    and crawl schedulers skip recrawling variants. Extraction is one
    case-insensitive codegen'd regex shared verbatim with hand-written
    fixtures (attribute-order variants, single quotes absent ⇒ miss — the
    documented subset), zero shuffles, scan-speed.

    Scale shape: map-only projection; the follow-on canonical grouping is
    one partial-agg shuffle keyed on canonical_url (bounded per-key state
    — a mega-site's variants all map to distinct canonical targets)."""
    d = T(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("http://h"),
        F.pmod("doc_id", F.lit(DOC_HOSTS)).cast("string"),
        F.lit(".docs.test/d/"),
        F.col("doc_id").cast("string"),
    )
    head = F.expr(_CANON_HEAD_CASE.format(id="doc_id"))
    href = canonical_href_col(head)
    canon = F.coalesce(F.nullif(href, F.lit("")), url)
    return d.select(
        "doc_id",
        url.alias("url"),
        canon.alias("canonical_url"),
        (canon != url).alias("is_variant"),
    )


# Fixed classifier weights (fasttext-style wiki-vs-crawl quality filter
# stand-in): z = b + w·[stop_frac, type_token_ratio, len_sat]
_QLOGIT_B = -1.5
_QLOGIT_W_STOP = -3.0
_QLOGIT_W_TTR = 2.0
_QLOGIT_W_LEN = 1.2
_QLOGIT_STOPWORDS = ("a", "the")


@q(
    "quality_logit_score",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    f AS (
      SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS n_tok,
             CAST(len(list_filter(toks,
                 x -> x = 'a' OR x = 'the')) AS DOUBLE) AS n_stop,
             CAST(len(list_distinct(toks)) AS DOUBLE) AS n_distinct
      FROM t
    ),
    z AS (
      SELECT doc_id,
             {_QLOGIT_B}
             + {_QLOGIT_W_STOP} * (n_stop / n_tok)
             + {_QLOGIT_W_TTR} * (n_distinct / n_tok)
             + {_QLOGIT_W_LEN} * least(1.0, n_tok / 100.0) AS z
      FROM f
    )
    SELECT doc_id,
           round(0.5 + 0.5 * (z / (1 + abs(z))), 6) AS score,
           z > 0 AS keep
    FROM z
    """,
)
def quality_logit_score(spark, sf_dir):
    """Model-based quality filtering: inference of a fixed-weight logistic
    classifier over engineered text features (stopword fraction,
    type-token ratio, saturating length) — the fasttext wiki-vs-crawl
    filter of CCNet/LLaMA-style pipelines, reduced to its Spark-side
    shape: model weights are literals in the plan (broadcast-free), the
    feature vector is codegen'd array work, and scoring is a projection.
    The squashing function is the ALGEBRAIC sigmoid 0.5 + 0.5·z/(1+|z|)
    rather than 1/(1+e^-z): same monotone S-shape and 0.5-at-0 decision
    boundary, but built entirely from IEEE-754 correctly-rounded ops
    (+,×,/,abs) so Spark and the DuckDB oracle agree bit-for-bit — exp()
    is not correctly rounded and may differ across libm builds; the keep
    decision is z > 0, evaluated pre-rounding.

    Scale shape: zero shuffles, scan-speed map pass; a learned 10^5-dim
    fasttext model would swap the literal weights for a broadcast
    hash-join against a token-weight table plus one partial-agg shuffle —
    doc_lm_score already pins that aggregate-to-aggregate shape."""
    d = T(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks).cast("double")
    n_stop = F.size(
        F.filter(
            toks,
            lambda x: (x == _QLOGIT_STOPWORDS[0]) | (x == _QLOGIT_STOPWORDS[1]),
        )
    ).cast("double")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    z = (
        F.lit(_QLOGIT_B)
        + F.lit(_QLOGIT_W_STOP) * (n_stop / n_tok)
        + F.lit(_QLOGIT_W_TTR) * (n_distinct / n_tok)
        + F.lit(_QLOGIT_W_LEN) * F.least(F.lit(1.0), n_tok / F.lit(100.0))
    )
    return d.select(
        "doc_id",
        F.round(F.lit(0.5) + F.lit(0.5) * (z / (F.lit(1) + F.abs(z))), 6).alias(
            "score"
        ),
        (z > 0).alias("keep"),
    )


# =====================================================================
# Redirect-chain resolution gate (#83): pointer doubling on the redirect
# graph — the crawl-side canonicalization step for 3xx chains.
# =====================================================================

_REDIR_MOD = 8  # ids with id % 8 in {1,2,3} redirect to id-1 ⇒ chains of
                # length 1, 2, 3 ending at the id%8==0 terminal


@q(
    "redirect_resolve",
    f"""
    SELECT doc_id AS url_id,
           CAST(doc_id - CASE WHEN doc_id % {_REDIR_MOD} BETWEEN 1 AND 3
                                  THEN doc_id % {_REDIR_MOD} ELSE 0 END
                AS BIGINT) AS final_id,
           CAST(CASE WHEN doc_id % {_REDIR_MOD} BETWEEN 1 AND 3
                     THEN doc_id % {_REDIR_MOD} ELSE 0 END
                AS BIGINT) AS hops
    FROM documents
    """,
)
def redirect_resolve(spark, sf_dir):
    """Redirect-chain resolution: collapse every URL's 3xx chain to its
    final target + hop count — the crawl-side canonicalization a frontier
    applies so a chain's members share one seen-set entry and one fetch
    (the engine's live fetcher follows redirects per-request,
    engine/fetch.py; this is the corpus-wide batch form over an already
    harvested redirect table, e.g. from WARC response records). The
    synthetic redirect graph is closed-form — id redirects to id-1 iff
    id mod {_REDIR_MOD} ∈ {{1,2,3}} — so chains have length 1-3, every
    chain ends at the mod-0 terminal, and the ORACLE is pure modular
    arithmetic (final = id - (id mod {_REDIR_MOD} if ≤ 3), hops likewise)
    sharing zero traversal code with the engine.

    Scale design: POINTER DOUBLING (the classic parallel
    functional-graph contraction): f0 = one-step pointer (terminal ⇒
    self, hops 0|1), then k rounds of f ∘ f — each round ONE
    equi-self-join on the successor key that squares the resolved chain
    length, so length-L chains need ⌈log2 L⌉ joins (2 rounds here cover
    L ≤ 4; HTTP clients cap redirect chains anyway — curl defaults to
    ~30+ max, i.e. 5 rounds). A sequential follow-the-chain loop would
    be O(L) full-table joins; doubling is O(log L) — at 10^10 URLs the
    difference between 30 shuffles and 5. Each join co-partitions both
    sides on the join key; hop counts add across composition."""
    d = T(spark, sf_dir, "documents")
    m = F.pmod("doc_id", F.lit(_REDIR_MOD))
    is_redir = (m >= 1) & (m <= 3)
    # f0: (id, nxt, hops) — one redirect step; terminals map to themselves
    f = d.select(
        F.col("doc_id").alias("id"),
        F.when(is_redir, F.col("doc_id") - 1)
        .otherwise(F.col("doc_id"))
        .alias("nxt"),
        F.when(is_redir, F.lit(1)).otherwise(F.lit(0)).alias("hops"),
    )
    for _ in range(2):  # 2 doubling rounds resolve chains up to length 4
        g = f.select(
            F.col("id").alias("g_id"),
            F.col("nxt").alias("g_nxt"),
            F.col("hops").alias("g_hops"),
        )
        # LEFT join: a redirect target with no row of its own (dangling —
        # possible on a filtered/real harvested table even though the
        # synthetic id space is contiguous) stays a terminal instead of
        # silently dropping its whole chain from the output
        f = f.join(g, f["nxt"] == g["g_id"], "left").select(
            "id",
            F.coalesce(F.col("g_nxt"), F.col("nxt")).alias("nxt"),
            (F.col("hops") + F.coalesce(F.col("g_hops"), F.lit(0))).alias(
                "hops"
            ),
        )
    return f.select(
        F.col("id").alias("url_id"),
        F.col("nxt").cast("long").alias("final_id"),
        F.col("hops").cast("long").alias("hops"),
    )


# =====================================================================
# Incremental near-dup admission gate (#84): a NEW crawl batch checked
# against the EXISTING corpus index — never old x old.
# =====================================================================

_INCR_MOD = 10  # doc_id % 10 == 9 -> the "new batch"; the rest are indexed


def _admit_batch(
    new_sets: DataFrame, idx_bands: DataFrame, idx_sets: DataFrame
) -> DataFrame:
    """Admission check of a new batch against a standing index: the
    batch's band signatures (_band_sigs of its (doc_id, ss, n) sets) join
    the index's (doc_id, band, band_sig) table on (band, band_sig); the
    distinct (new, index) candidates verify by exact Jaccard ≥ 0.4, each
    side looked up in its own sets frame. Returns (doc_a < doc_b,
    jaccard) — new×index pairs only, never new×new or index×index."""
    newb = _band_sigs(new_sets).withColumnRenamed("doc_id", "doc_a")
    idxb = idx_bands.withColumnRenamed("doc_id", "doc_b")
    cand = newb.join(idxb, ["band", "band_sig"]).select("doc_a", "doc_b").distinct()
    return _verify_candidates(cand, new_sets, sets_b=idx_sets).select(
        F.least("doc_a", "doc_b").alias("doc_a"),
        F.greatest("doc_a", "doc_b").alias("doc_b"),
        "jaccard",
    )


@q(
    "dedup_incremental",
    "WITH " + _TOKS_SQL + f"""
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) >= 0.4
      AND (i.doc_a % {_INCR_MOD} = 9) <> (i.doc_b % {_INCR_MOD} = 9)
    """,
)
def dedup_incremental(spark, sf_dir):
    """Incremental near-dup admission: each continuous-crawl generation
    must be checked against the EXISTING corpus before admission — and the
    cost must scale with the NEW batch, not the corpus (re-running the
    full self-join per generation is quadratic in crawl lifetime). The
    synthetic split takes doc_id mod {_INCR_MOD} == 9 as the incoming
    batch and the rest as the standing index; both sides come from the
    one persisted per-doc sets frame (_doc_sets_df), and the index's band
    table is built from it on every call. _admit_batch does the check:
    new-side bands (same 32-hash/16-band scheme as dedup_minhash_lsh)
    equi-join the index bands on (band, band_sig) — index×index pairs are
    never formed — and survivors verify by exact Jaccard ≥ 0.4 against
    each side's shingle arrays (candidate-bounded, as everywhere in the
    dedup family). The oracle is the full exact-Jaccard join restricted
    to mixed pairs — quadratic SQL that exists only oracle-side. Like
    dedup_minhash_lsh, output equals the exact oracle when LSH recall is
    1 at this threshold/shape — true on this corpus's high-Jaccard
    near-dups; a borderline pair (J≈0.4) misses all 16 bands with
    probability ~6%, the standard LSH recall trade the batch gate
    documents.

    Scale design: at 10^10 indexed docs + 10^7-doc generations, the band
    table is a bucketed/partitioned standing table (16 band files per
    shard) maintained with the index, not rebuilt per call; the join
    shuffles ONLY the new batch's signatures into the index's
    partitioning (shuffle-hash, new side small per band bucket) — index
    bytes move zero times. Verification joins pull only matched index
    docs' shingle arrays. bench.incremental_bench times _admit_batch
    against such materialized 1× and 10× indexes."""
    sets = _doc_sets_df(spark, sf_dir)
    is_new = F.pmod("doc_id", F.lit(_INCR_MOD)) == (_INCR_MOD - 1)
    idx_sets = sets.where(~is_new)
    return _admit_batch(sets.where(is_new), _band_sigs(idx_sets), idx_sets)


# =====================================================================
# Streaming per-host fetch-rate gate (#85): tumbling window + watermark,
# append mode — the second Structured-Streaming form next to
# events_sessionize_stream's session_window.
# =====================================================================


@q(
    "stream_host_rates",
    """
    SELECT 'h' || (user_id % 20) AS host,
           CAST(((epoch_ms(ts) // 1000) // 60) * 60 AS BIGINT)
             AS window_start_s,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_host_rates(spark, sf_dir):
    """Streaming per-host fetch-rate monitoring: tumbling 60-second
    event-time windows per host under a watermark, APPEND mode, drained
    with Trigger.AvailableNow — the crawl-operations aggregation that at
    deploy reads the fetch-log topic and feeds politeness autoscaling.
    Complements events_sessionize_stream: that gate pins Spark's DYNAMIC
    session_window state; this one pins the FIXED tumbling-window +
    watermark form (each (host, window) row emitted exactly once when the
    watermark passes the window end, state evicted — bounded by hosts
    active within the horizon). Batch SQL oracle: epoch-minute bucketing,
    which is exactly Spark's epoch-aligned tumbling window. Window starts
    compare as epoch seconds (BIGINT) so engine timestamp rendering
    conventions cannot diverge."""
    import tempfile

    from ..streaming.host_rates import run_host_rates_append

    wd = tempfile.mkdtemp(prefix="boris_rates_")
    atexit.register(lambda: shutil.rmtree(wd, ignore_errors=True))
    out = run_host_rates_append(
        spark, sf_dir, wd,
        glob="events.parquet",
        schema="event_id bigint, ts timestamp, user_id bigint, "
               "event_type string, value double, props string",
    )
    return out.select(
        "host",
        F.unix_timestamp("window_start").cast("long").alias("window_start_s"),
        "n_events",
    )


# =====================================================================
# Content-defined chunking dedup gate (#86): FastCDC-style boundary
# detection — chunk boundaries move WITH the content, so an insertion
# only re-chunks its neighborhood (fixed-width chunking shifts every
# downstream chunk; dedup_paragraph_chunks pins that form).
# =====================================================================

# Boundary BEFORE token i (i>=2) iff the last hex digit of
# md5(t[i-1] || ' ' || t[i]) is 0 or 8 — a 1/8 gear condition on the
# 2-gram rolling context. md5 is the rolling hash here because it is the
# one hash both engines compute identically (DuckDB has no xxhash64).
_CDC_DIGITS = ("0", "8")


@q(
    "dedup_cdc_chunks",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, i AS pos, t[i] AS tok,
             CASE WHEN i = 1 THEN 0
                  WHEN substr(md5(t[i-1] || ' ' || t[i]), 32, 1)
                       IN ('{_CDC_DIGITS[0]}', '{_CDC_DIGITS[1]}') THEN 1
                  ELSE 0 END AS boundary
      FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
      WHERE len(t) >= 1
    ),
    c AS (
      SELECT doc_id, pos, tok,
             SUM(boundary) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS chunk_id
      FROM pos
    ),
    chunks AS (
      SELECT doc_id, chunk_id,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
      FROM c GROUP BY doc_id, chunk_id
    )
    SELECT chunk_hash,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM chunks
    GROUP BY chunk_hash
    """,
)
def dedup_cdc_chunks(spark, sf_dir):
    """Content-defined chunking dedup (the FastCDC/LBFS family): chunk
    boundaries are a pure function of local content (a 1/8 gear condition
    on the rolling 2-gram md5), so inserting a paragraph re-chunks only
    its neighborhood — fixed-width chunking (dedup_paragraph_chunks)
    shifts every later chunk and loses all downstream matches. Output:
    one row per distinct chunk hash with copy count, doc frequency, and
    first-occurrence doc — the storage-dedup / delta-sync primitive
    applied corpus-wide.

    Scale design: boundary flags are codegen'd array work in the scan
    projection (the 2-gram context comes from the pre-explode token
    array — no self-join, no lag shuffle); the running boundary count
    that numbers chunks is a per-doc window behind ONE hash exchange on
    doc_id, and the chunk-assembly groupBy((doc_id, chunk_id)) REUSES
    that partitioning (doc_id is a subset of the group key — no second
    exchange); only 32-byte chunk hashes enter the final partial-agg
    shuffle. Per-doc window state is one document's tokens — bounded by
    max doc length, not corpus size."""
    d = T(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )
    flags = F.transform(
        F.sequence(F.lit(1), F.size("t")),
        lambda i: F.when(i == 1, F.lit(0)).otherwise(
            F.when(
                F.substring(
                    F.md5(
                        F.concat(
                            F.element_at("t", i - 1),
                            F.lit(" "),
                            F.element_at("t", i),
                        )
                    ),
                    32,
                    1,
                ).isin(*_CDC_DIGITS),
                F.lit(1),
            ).otherwise(F.lit(0))
        ),
    )
    pos = (
        d.select("doc_id", toks.alias("t"))
        .where(F.size("t") >= 1)
        .select(
            "doc_id",
            F.posexplode(F.arrays_zip(F.col("t"), flags.alias("b"))).alias(
                "p", "z"
            ),
        )
        .select(
            "doc_id",
            (F.col("p") + 1).alias("pos"),
            F.col("z.t").alias("tok"),
            F.col("z.b").alias("boundary"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = pos.withColumn("chunk_id", F.sum("boundary").over(w))
    chunks = c.groupBy("doc_id", "chunk_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
            )
        ).alias("chunk_hash")
    )
    return chunks.groupBy("chunk_hash").agg(
        F.count("*").cast("long").alias("n_copies"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("first_doc"),
    )


# =====================================================================
# Per-host latency quantile gate (#87): exact distributed percentiles —
# the fetch-latency SLO monitoring aggregation.
# =====================================================================


@q(
    "host_latency_quantiles",
    """
    SELECT 'h' || (user_id % 20) AS host,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1
    """,
)
def host_latency_quantiles(spark, sf_dir):
    """Per-host fetch-latency quantiles (p50/p95 over the events value
    column, host derived closed-form from user_id) — the SLO aggregation a
    crawl scheduler watches per host: a p95 blowing past the politeness
    budget's assumed RTT means the host is throttling us and its budget
    should drop. Exact percentiles via Spark's ``percentile`` aggregate
    (linear interpolation — the same definition as DuckDB's
    quantile_cont, so the oracle is the definition restated, not shared
    code); one partial-agg shuffle on the host key.

    Scale note: exact percentile state is the full per-group value
    multiset, fine at per-host monitoring cardinalities; a 10^8-host
    rollup switches to ``approx_percentile`` (t-digest sketch state,
    mergeable map-side) and accepts the documented error bound — same
    plan shape, sketch state instead of multisets. The gate pins the
    exact form because approximate output is non-deterministic across
    partitionings and cannot be value-hash oracled."""
    e = T(spark, sf_dir, "events")
    host = F.concat(F.lit("h"), F.pmod("user_id", F.lit(20)).cast("string"))
    return e.groupBy(host.alias("host")).agg(
        F.round(F.percentile("value", 0.5), 6).alias("p50"),
        F.round(F.percentile("value", 0.95), 6).alias("p95"),
        F.count("*").cast("long").alias("n"),
    )


# =====================================================================
# Link-reciprocity spam metric gate (#88): fraction of a host's
# out-links that are reciprocated — the classic link-exchange signal.
# =====================================================================

_RECIP_HOSTS = 120  # host i links to (i+1)%120 and, for even i, to (i-1)%120
                    # ⇒ odd j's single edge j→j+1 is answered by even
                    # j+1's back edge (reciprocity 1.0); an even host's
                    # successor edge is not answered, only its back edge
                    # is (reciprocity 0.5)


@q(
    "host_reciprocity",
    f"""
    WITH h AS (SELECT DISTINCT doc_id % {_RECIP_HOSTS} AS hid FROM documents),
    edges AS (
      SELECT hid AS a, (hid + 1) % {_RECIP_HOSTS} AS b FROM h
      UNION
      SELECT hid, (hid + {_RECIP_HOSTS} - 1) % {_RECIP_HOSTS} FROM h
        WHERE hid % 2 = 0
    ),
    r AS (
      SELECT e.a, e.b,
             CASE WHEN e2.a IS NOT NULL THEN 1 ELSE 0 END AS recip
      FROM edges e
      LEFT JOIN edges e2 ON e2.a = e.b AND e2.b = e.a
    )
    SELECT 'h' || a || '.docs.test' AS host,
           CAST(count(*) AS BIGINT) AS out_deg,
           CAST(sum(recip) AS BIGINT) AS reciprocated,
           round(CAST(sum(recip) AS DOUBLE) / count(*), 6) AS reciprocity
    FROM r GROUP BY a
    """,
)
def host_reciprocity(spark, sf_dir):
    """Link reciprocity per host — the classic link-exchange/spam-ring
    signal (TrustRank-era webspam features: organic linking is mostly
    one-way; a host whose out-links are overwhelmingly reciprocated is
    trading links): fraction of a host's distinct out-edges whose reverse
    edge exists. The synthetic host graph is closed-form — every host
    links to its successor ring-wise, even hosts also link back to their
    predecessor — so expected reciprocity follows from parity alone (odd
    hosts 1.0: their one successor edge is answered by the even
    successor's back edge; even hosts 0.5: the back edge is answered by
    the odd predecessor's successor edge, the forward edge is not); the
    oracle restates the same construction + a mirror self-join in SQL.

    Scale design: ONE equi-self-join of the (already host-level, so slim)
    edge list against its column-swapped self on the full pair key, then
    one partial-agg shuffle per source host. Both sides of the mirror
    join are the same rollup output: co-partitioned by repartitioning on
    the leading join key once; at 10^8 hosts the edge list is the
    host_graph_edges rollup (page-level links never enter). No window, no
    driver state."""
    d = T(spark, sf_dir, "documents")
    hid = F.pmod("doc_id", F.lit(_RECIP_HOSTS)).cast("long")
    h = d.select(hid.alias("hid")).distinct()
    fwd = h.select(
        F.col("hid").alias("a"),
        F.pmod(F.col("hid") + 1, F.lit(_RECIP_HOSTS)).alias("b"),
    )
    back = h.where(F.pmod("hid", F.lit(2)) == 0).select(
        F.col("hid").alias("a"),
        F.pmod(F.col("hid") + (_RECIP_HOSTS - 1), F.lit(_RECIP_HOSTS)).alias("b"),
    )
    edges = fwd.union(back).distinct()
    mirror = edges.select(F.col("b").alias("m_a"), F.col("a").alias("m_b"))
    r = edges.join(
        mirror,
        (F.col("a") == F.col("m_a")) & (F.col("b") == F.col("m_b")),
        "left",
    ).select(
        "a", "b", F.when(F.col("m_a").isNotNull(), 1).otherwise(0).alias("recip")
    )
    return r.groupBy("a").agg(
        F.count("*").cast("long").alias("out_deg"),
        F.sum("recip").cast("long").alias("reciprocated"),
        F.round(F.sum("recip") / F.count("*"), 6).alias("reciprocity"),
    ).select(
        F.concat(F.lit("h"), F.col("a").cast("string"), F.lit(".docs.test"))
        .alias("host"),
        "out_deg",
        "reciprocated",
        "reciprocity",
    )


# =====================================================================
# Product-quantization ANN gate (#89): PQ codes + asymmetric-distance
# scan + exact rerank — the memory-bound complement to IVF's
# compute-bound cell probing (Jégou et al., TPAMI 2011).
# =====================================================================

_PQ_M = 8          # subspaces (64-dim vectors → 8 × 8-dim subvectors)
_PQ_K = 16         # centroids per subspace codebook (codes are 4-bit here;
                   # 8-bit/256 at production dims)
_PQ_RERANK = 50    # ADC-ranked candidates per query that get exact rerank

_ANN_PQ_CAND_DIR = os.path.join(
    tempfile.gettempdir(),
    f"boris_ann_pq_cand_u{os.getuid()}_p{os.getpid()}.parquet",
)
atexit.register(lambda: shutil.rmtree(_ANN_PQ_CAND_DIR, ignore_errors=True))


def _lloyd_kmeans(M, k: int, iters: int = 20):
    """Deterministic plain k-means (farthest-point init seeded at row 0,
    fixed iterations, no RNG) — the per-subspace PQ codebook trainer;
    unlike _spherical_kmeans it does NOT normalize (subvectors are not
    unit vectors)."""
    import numpy as np

    k = min(k, len(M))
    C = [M[0]]
    d = ((M - C[0]) ** 2).sum(axis=1)
    for _ in range(k - 1):
        i = int(np.argmax(d))
        C.append(M[i])
        d = np.minimum(d, ((M - C[-1]) ** 2).sum(axis=1))
    C = np.array(C)
    for _ in range(iters):
        d2 = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = np.argmin(d2, axis=1)
        for j in range(k):
            m = a == j
            if m.any():
                C[j] = M[m].mean(axis=0)
    return C


def ann_pq_candidates(spark, sf_dir, train_cap=16384):
    """(q_id, vec_id) pairs: each query's top-{_PQ_RERANK} corpus vectors
    by PQ asymmetric inner product. Codebooks train per-subspace on a
    bounded deterministic sample; every corpus vector is encoded to
    {_PQ_M} codes and scored against all queries' distance tables in ONE
    Arrow pass — codes and lookup tables only, full vectors never leave
    the scan."""
    import numpy as np

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    tr = e.orderBy("vec_id").limit(train_cap).toPandas()
    Mt = np.array(tr["v"].tolist(), dtype=np.float64)
    Mt /= np.linalg.norm(Mt, axis=1, keepdims=True)
    d = Mt.shape[1]
    sub = d // _PQ_M
    books = np.stack(
        [_lloyd_kmeans(Mt[:, m * sub:(m + 1) * sub], _PQ_K) for m in range(_PQ_M)]
    )  # (M, K, sub)

    qp = e.where(F.col("vec_id") < 10).toPandas()
    Mq = np.array(qp["v"].tolist(), dtype=np.float64)
    Mq /= np.linalg.norm(Mq, axis=1, keepdims=True)
    # ADC lookup tables: tables[q, m, k] = <q_sub_m, books[m, k]>
    tables = np.einsum("qms,mks->qmk", Mq.reshape(len(Mq), _PQ_M, sub), books)
    q_ids = qp["vec_id"].to_numpy()
    bc = spark.sparkContext.broadcast((books, tables, q_ids))

    def score(batches):
        import pandas as pd

        Bb, Tb, qids = bc.value
        for pdf in batches:
            M = np.array(pdf["v"].tolist(), dtype=np.float64)
            M /= np.linalg.norm(M, axis=1, keepdims=True)
            S = M.reshape(len(M), _PQ_M, 1, sub)  # (n, M, 1, sub)
            # codes: per subspace, the nearest codebook centroid
            d2 = ((S - Bb[None, :, :, :]) ** 2).sum(axis=3)  # (n, M, K)
            codes = np.argmin(d2, axis=2)  # (n, M)
            # approx inner product per query: sum of table entries
            # Tb: (Q, M, K); codes: (n, M) → approx: (n, Q)
            approx = np.zeros((len(M), len(qids)))
            for qi in range(len(qids)):
                approx[:, qi] = Tb[qi][np.arange(_PQ_M), codes].sum(axis=1)
            out = pd.DataFrame({
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), len(qids)),
                "q_id": np.tile(qids, len(M)),
                "adist": approx.reshape(-1),
            })
            yield out

    scored = e.repartition(spark.sparkContext.defaultParallelism).mapInPandas(
        score, "vec_id long, q_id long, adist double"
    ).where(F.col("q_id") != F.col("vec_id"))
    w = Window.partitionBy("q_id").orderBy(F.col("adist").desc(), "vec_id")
    return (
        scored.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= _PQ_RERANK)
        .select("q_id", "vec_id")
    )


_ANN_PQ_SQL = f"""
WITH cand AS (
    SELECT DISTINCT q_id, vec_id
    FROM read_parquet('{_ANN_PQ_CAND_DIR}/*.parquet')
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sims AS (
    SELECT c.q_id, c.vec_id AS neighbor_id,
           round(list_cosine_similarity(q.v, e.v), 4) AS sim
    FROM cand c
    JOIN e q ON q.vec_id = c.q_id
    JOIN e ON e.vec_id = c.vec_id
),
ranked AS (
    SELECT q_id, neighbor_id,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM sims
)
SELECT q_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 5
"""


@q("ann_pq_rerank", _ANN_PQ_SQL)
def ann_pq_rerank(spark, sf_dir):
    """PQ + ADC + exact rerank — the MEMORY-bound ANN scale path next to
    IVF's compute-bound one (Jégou et al. TPAMI'11; FAISS's IVFPQ
    composes both): vectors compress to {_PQ_M} codebook codes
    ({_PQ_M}×log2({_PQ_K}) bits instead of {_PQ_M * 8}×8 bytes), queries
    precompute per-subspace inner-product lookup tables, and the corpus
    scan scores every vector with {_PQ_M} table lookups — no float vector
    ever leaves the scan stage. The ADC top-{_PQ_RERANK} per query then
    RERANKS exactly (full-precision cosine) and returns the top-5 — the
    standard two-stage shape that recovers most of the quantization loss.

    Determinism + oracle: codebooks are deterministic (farthest-point
    Lloyd, fixed iterations, bounded training sample), so the candidate
    set is reproducible; pairs materialize to a pid-scoped parquet and
    the DuckDB oracle recomputes the exact top-5 WITHIN them — the same
    oracle pattern ann_ivf_topk established. PQ recall vs brute force is
    measured in pytest, not hash-gated.

    Scale design: ONE Arrow pass carries encode+ADC (codes stay
    batch-local); per-query top-C plans as rank-limit window state (C
    rows per partition); rerank joins only C×Q slim pairs back to full
    vectors via broadcast. At 10^10 vectors the codes table is the
    materialized index (40 bits/vec ≈ 50 GB — RAM-resident across a
    cluster where raw float32 is 2.5 TB), and queries batch through it
    exactly as this plan does."""
    cand = _pooled_persist(ann_pq_candidates(spark, sf_dir))
    cand.write.mode("overwrite").parquet(_ANN_PQ_CAND_DIR)
    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    q_side = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    sims = (
        cand.join(F.broadcast(q_side), "q_id")
        .join(e, "vec_id")
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_cosine(F.col("qv"), F.col("v")), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("q_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


# =====================================================================
# Exact k-NN graph gate (#90): per-vector top-k neighbor edges — the
# embedding-space graph build behind SemDeDup-style semantic dedup and
# graph-based clustering.
# =====================================================================

_KNN_K = 5


@q(
    "knn_graph",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sims AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT src, dst, cosine,
               row_number() OVER (PARTITION BY src
                                  ORDER BY cosine DESC, dst) AS rank
        FROM sims
    )
    SELECT src, dst, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {_KNN_K}
    """,
)
def knn_graph(spark, sf_dir, block_rows: int = 512):
    """Exact k-NN graph over the embedding corpus (every vector's top-
    {_KNN_K} cosine neighbors) — the graph-build step behind SemDeDup-style
    semantic dedup, embedding-space clustering, and duplicate-cluster
    visualization. Same distributed block-pair GEMM discipline as
    dedup_embedding_cosine (block IDs enumerate driver-side, vectors never
    pass through the driver), with the k-NN twist: each (src-block,
    dst-block) GEMM task emits only its LOCAL top-{_KNN_K} per source row
    — ordered by the same (rounded-sim desc, dst) key the global rank
    uses, so local pruning provably cannot change the global result (the
    global top-k is contained in the union of per-block top-ks) — and the
    global per-src rank-limit window then reduces n_blocks×{_KNN_K}
    candidates per source to the final edges. Shuffle volume:
    n_vectors × n_blocks × {_KNN_K} slim rows, not n²; the full quadratic
    join exists only in the DuckDB oracle."""
    import numpy as np
    import pandas as pd

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", F.floor(F.col("vec_id") / block_rows).alias("block")
    )
    blocks = sorted(r[0] for r in e.select("block").distinct().collect())
    pairs = [
        (ia * 1_000_000 + ib, a, b)
        for ia, a in enumerate(blocks)
        for ib, b in enumerate(blocks)
    ]
    pairs_df = spark.createDataFrame(pairs, "pair_id long, block_src long, block_dst long")

    side_src = e.join(
        F.broadcast(pairs_df.select("pair_id", F.col("block_src").alias("block"))),
        "block",
    ).select("pair_id", "vec_id", "embedding", F.lit("s").alias("side"))
    side_dst = e.join(
        F.broadcast(
            pairs_df.where(F.col("block_src") != F.col("block_dst")).select(
                "pair_id", F.col("block_dst").alias("block")
            )
        ),
        "block",
    ).select("pair_id", "vec_id", "embedding", F.lit("d").alias("side"))

    def gemm_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        def mat(sub):
            ids = sub["vec_id"].to_numpy()
            M = np.array(sub["embedding"].tolist(), dtype=np.float64)
            M /= np.linalg.norm(M, axis=1, keepdims=True)
            return ids, M

        sm = pdf["side"] == "s"
        ids_s, S_ = mat(pdf[sm])
        if (~sm).any():
            ids_d, D = mat(pdf[~sm])
        else:  # diagonal block pair: neighbors within the same block
            ids_d, D = ids_s, S_
        # round half-AWAY-from-zero to match DuckDB's round() (np.round is
        # banker's/half-to-even — an exact .xxxx5 cosine would diverge)
        R = S_ @ D.T
        S = np.sign(R) * np.floor(np.abs(R) * 10000.0 + 0.5) / 10000.0
        # (rounded-sim desc, dst asc) — EXACTLY the global rank order, so
        # taking the local head is lossless. Fully vectorized: sims are
        # exact multiples of 1e-4 after rounding, so an integer composite
        # key (-sim_int << 48 | dst) sorts both fields at once (the 48-bit
        # id field covers the 10^10-vector envelope; 10^4·2^48 is still
        # within int64); self-pairs are pushed past the end with a
        # +inf-equivalent key.
        sim_int = np.round(S * 10000.0).astype(np.int64)
        key = -sim_int * (1 << 48) + ids_d[None, :]
        key[ids_s[:, None] == ids_d[None, :]] = np.iinfo(np.int64).max
        k = min(_KNN_K, S.shape[1])
        order = np.argsort(key, axis=1, kind="stable")[:, :k]  # (n_s, k)
        src = np.repeat(ids_s, k)
        dst = ids_d[order].reshape(-1)
        cos = np.take_along_axis(S, order, axis=1).reshape(-1)
        keep = key[np.arange(len(ids_s))[:, None], order].reshape(-1) != np.iinfo(
            np.int64
        ).max  # drop self-pair placeholders (blocks smaller than k+1)
        return pd.DataFrame({"src": src[keep], "dst": dst[keep], "cosine": cos[keep]})

    local = (
        side_src.unionByName(side_dst)
        .groupBy("pair_id")
        .applyInPandas(gemm_topk, "src long, dst long, cosine double")
    )
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(), "dst")
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _KNN_K)
        .select("src", "dst", "cosine", F.col("rank").cast("long").alias("rank"))
    )


# =====================================================================
# Crawl-budget allocation gate (#91): proportional split across TLD
# groups with a per-group cap and one redistribution pass.
# =====================================================================

_TLD_BUDGET = 10000.0   # pages per round to allocate
_TLD_CAP_FRAC = 0.3     # no TLD group may take more than 30% of the round


@q(
    "tld_budget_allocation",
    f"""
    WITH u AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN 'com'
                  WHEN doc_id % 4 = 1 THEN 'org'
                  WHEN doc_id % 8 = 3 THEN 'net'
                  ELSE 'io' END AS tld
      FROM documents
    ),
    g AS (SELECT tld, CAST(count(*) AS DOUBLE) AS n FROM u GROUP BY tld),
    t AS (SELECT SUM(n) AS total FROM g),
    a0 AS (
      SELECT tld, n, {_TLD_BUDGET} * (n / t.total) AS alloc0
      FROM g, t
    ),
    r AS (
      SELECT SUM(CASE WHEN alloc0 > {_TLD_BUDGET * _TLD_CAP_FRAC}
                      THEN alloc0 - {_TLD_BUDGET * _TLD_CAP_FRAC}
                      ELSE 0 END) AS excess,
             SUM(CASE WHEN alloc0 <= {_TLD_BUDGET * _TLD_CAP_FRAC}
                      THEN n ELSE 0 END) AS w
      FROM a0
    )
    SELECT tld, CAST(n AS BIGINT) AS n_urls,
           round(CASE WHEN alloc0 > {_TLD_BUDGET * _TLD_CAP_FRAC}
                      THEN {_TLD_BUDGET * _TLD_CAP_FRAC}
                      ELSE least({_TLD_BUDGET * _TLD_CAP_FRAC},
                                 alloc0 + r.excess * (n / r.w)) END, 6)
             AS alloc,
           alloc0 > {_TLD_BUDGET * _TLD_CAP_FRAC} AS capped
    FROM a0, r
    """,
)
def tld_budget_allocation(spark, sf_dir):
    """Round-budget allocation across TLD groups — the scheduler step
    above per-host politeness: the round's global fetch budget splits
    proportionally to each group's pending-URL mass, but no group may
    take more than {int(_TLD_CAP_FRAC * 100)}% of the round (one
    runaway TLD — a link farm's ccTLD, a spam wave — cannot starve the
    rest); the capped groups' excess redistributes proportionally among
    the uncapped ones in ONE waterfall pass, itself cap-clamped (a fixed
    pass count keeps the job a static DAG; production repeats the pass a
    fixed 2-3 times, each one aggregate + broadcast). The synthetic TLD
    split is deliberately skewed (com gets ~50% of URLs → capped) so the
    waterfall actually fires.

    Scale shape: domain_mix_weights' discipline — the corpus reduces to
    one slim row per group via a partial-agg shuffle; the total and the
    excess/weight pair are single-row aggregates broadcast back
    (BroadcastNestedLoopJoin on a 1-row side); nothing corpus-sized
    moves twice."""
    d = T(spark, sf_dir, "documents")
    cap = _TLD_BUDGET * _TLD_CAP_FRAC
    tld = (
        F.when(F.pmod("doc_id", F.lit(2)) == 0, "com")
        .when(F.pmod("doc_id", F.lit(4)) == 1, "org")
        .when(F.pmod("doc_id", F.lit(8)) == 3, "net")
        .otherwise("io")
    )
    g = d.select(tld.alias("tld")).groupBy("tld").agg(
        F.count("*").cast("double").alias("n")
    )
    t = g.agg(F.sum("n").alias("total"))
    a0 = g.join(t).select(
        "tld", "n", (F.lit(_TLD_BUDGET) * (F.col("n") / F.col("total"))).alias("alloc0")
    )
    r = a0.agg(
        F.sum(
            F.when(F.col("alloc0") > cap, F.col("alloc0") - cap).otherwise(0.0)
        ).alias("excess"),
        F.sum(F.when(F.col("alloc0") <= cap, F.col("n")).otherwise(0.0)).alias("w"),
    )
    return a0.join(r).select(
        "tld",
        F.col("n").cast("long").alias("n_urls"),
        F.round(
            F.when(F.col("alloc0") > cap, F.lit(cap)).otherwise(
                F.least(
                    F.lit(cap),
                    F.col("alloc0")
                    + F.col("excess") * (F.col("n") / F.col("w")),
                )
            ),
            6,
        ).alias("alloc"),
        (F.col("alloc0") > cap).alias("capped"),
    )


# =====================================================================
# Streaming frontier-merge dedup gate (#92): the third streaming form —
# built-in dropDuplicates state-store dedup on the discovery stream.
# =====================================================================


@q(
    "stream_frontier_merge",
    """
    SELECT DISTINCT
           'http://h' || (user_id % 20) || '.test/p/' || (event_id % 500)
             AS url_canon,
           CAST((user_id % 20) * 1000 + (event_id % 500) AS BIGINT)
             AS url_hash
    FROM events
    """,
)
def stream_frontier_merge(spark, sf_dir):
    """Streaming frontier ingest dedup: discovered links arrive
    continuously from fetcher executors and must enter the frontier
    exactly once per canonical URL — ``dropDuplicates`` on the canonical
    key under a watermark is Spark's built-in streaming dedup state store
    playing the Bloom-shard seen filter's role
    (streaming/frontier_feed.py). The discovery stream derives closed-form
    from events (each event "discovers" one of 10k URLs, heavily
    duplicated), lands as parquet, and drains with AvailableNow; the
    gate emits only the KEY columns so the result is survivor-order
    independent (which duplicate wins is scheduling-dependent; the key
    set is not). Oracle: the same derivation + DISTINCT.

    Scale shape: state is one entry per in-horizon URL key, partitioned
    by the dedup key across executors; eviction rides the watermark. At
    10^10 URLs/day the horizon bounds state exactly as the round job's
    Bloom shards bound the batch form."""
    import tempfile

    from ..streaming.frontier_feed import (
        run_append_available_now, stream_frontier_dedup,
    )

    wd = tempfile.mkdtemp(prefix="boris_fmerge_")
    atexit.register(lambda: shutil.rmtree(wd, ignore_errors=True))
    e = T(spark, sf_dir, "events")
    disc = e.select(
        F.concat(
            F.lit("http://h"),
            F.pmod("user_id", F.lit(20)).cast("string"),
            F.lit(".test/p/"),
            F.pmod("event_id", F.lit(500)).cast("string"),
        ).alias("url_canon"),
        (F.pmod("user_id", F.lit(20)) * 1000 + F.pmod("event_id", F.lit(500)))
        .cast("long")
        .alias("url_hash"),
        F.concat(
            F.lit("h"), F.pmod("user_id", F.lit(20)).cast("string")
        ).alias("host"),
        F.lpad(F.col("event_id").cast("string"), 12, "0").alias("path_key"),
        F.col("ts").alias("discovered_ts"),
    )
    src = os.path.join(wd, "src")
    disc.write.mode("overwrite").parquet(src)
    sdf = stream_frontier_dedup(spark, src)
    out = os.path.join(wd, "out")
    run_append_available_now(sdf, os.path.join(wd, "ckpt"), out)
    return spark.read.parquet(out).select("url_canon", "url_hash")


# =====================================================================
# Crawl depth-histogram gate (#93): engine round-of-first-sight == BFS
# depth of the link tree — the frontier's depth accounting, audited
# against the closed-form graph.
# =====================================================================


@q(
    "crawl_depth_histogram",
    f"""
    WITH RECURSIVE reach(id, depth) AS (
        SELECT CAST({CRAWL_SEED_DOC} AS BIGINT), CAST(0 AS BIGINT)
        UNION
        SELECT c, d + 1 FROM (
            SELECT 2*id+1 AS c, depth AS d FROM reach
            UNION ALL
            SELECT 2*id+2 AS c, depth AS d FROM reach
        ) WHERE c < (SELECT count(*) FROM documents)
    )
    SELECT depth, CAST(count(*) AS BIGINT) AS n_urls
    FROM reach GROUP BY depth
    """,
)
def crawl_depth_histogram(spark, sf_dir):
    """Crawl-depth histogram: URLs first seen per crawl round — on an
    unbudgeted crawl the engine's round counter IS the link graph's BFS
    depth (round 0 fetches the seed, round r fetches everything first
    discovered at distance r), so the seen table's per-round counts must
    equal the closed-form tree's per-depth node counts, which the oracle
    states with a depth-carrying recursive CTE sharing no engine code.
    This is the frontier's depth accounting — what a production crawl
    reports as its frontier-expansion curve and what depth-capped crawl
    policies (max-hops) cut on.

    Scale shape: one partial-agg shuffle over the (slim, body-free) seen
    table's round column; the histogram is rounds-many rows."""
    eng, _ = _run_doc_crawl(spark, sf_dir)
    return (
        eng.seen_df()
        .groupBy(F.col("round").cast("long").alias("depth"))
        .agg(F.count("*").cast("long").alias("n_urls"))
    )


# =====================================================================
# Host-graph triangle-count gate (#94): local clustering structure —
# the third classic webspam graph feature next to reciprocity and HITS.
# =====================================================================

_TRI_HOSTS = 90  # path-graph chords: i—i+1 and i—i+2 ⇒ every consecutive
                 # triple {i, i+1, i+2} closes a triangle


@q(
    "host_graph_triangles",
    f"""
    WITH h AS (SELECT DISTINCT doc_id % {_TRI_HOSTS} AS hid FROM documents),
    edges AS (
      SELECT hid AS a, hid + 1 AS b FROM h WHERE hid + 1 < {_TRI_HOSTS}
      UNION
      SELECT hid, hid + 2 FROM h WHERE hid + 2 < {_TRI_HOSTS}
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pernode AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT 'h' || node || '.docs.test' AS host,
           CAST(count(*) AS BIGINT) AS n_triangles
    FROM pernode GROUP BY node
    """,
)
def host_graph_triangles(spark, sf_dir):
    """Per-host triangle participation — the local-clustering webspam
    feature (organic neighborhoods close triangles; spam farms are
    near-bipartite and close almost none; TrustRank-era classifiers use
    the triangle count / clustering coefficient directly), completing the
    graph-signal trio with host_reciprocity (mutual edges) and host_hits
    (hub/authority). Counted with the standard two-join enumeration over
    CANONICALLY ORIENTED edges (a < b): each triangle {{x<y<z}}
    enumerates exactly once as (x→y, y→z, x→z), so no /6 correction and
    no double counts; every participant node then gets credit via the
    3-way unpivot. The synthetic graph is a path with distance-2 chords
    — every consecutive triple closes a triangle, so interior hosts sit
    in 3, boundary hosts in 1-2.

    Scale shape: the classic distributed triangle count — two
    equi-self-joins of the (slim, host-level) oriented edge list
    co-partitioned on the join keys, then one partial-agg shuffle for
    the per-node rollup. At 10^8 hosts the standard refinement (orient
    edges low-degree → high-degree) bounds the join fan-out; page-level
    links never enter (host_graph_edges' rollup is the input)."""
    d = T(spark, sf_dir, "documents")
    hid = F.pmod("doc_id", F.lit(_TRI_HOSTS)).cast("long")
    h = d.select(hid.alias("hid")).distinct()
    edges = (
        h.where(F.col("hid") + 1 < _TRI_HOSTS)
        .select(F.col("hid").alias("a"), (F.col("hid") + 1).alias("b"))
        .union(
            h.where(F.col("hid") + 2 < _TRI_HOSTS).select(
                F.col("hid").alias("a"), (F.col("hid") + 2).alias("b")
            )
        )
        .distinct()
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    pernode = (
        tri.select(F.col("x").alias("node"))
        .union(tri.select(F.col("y").alias("node")))
        .union(tri.select(F.col("z").alias("node")))
    )
    return pernode.groupBy("node").agg(
        F.count("*").cast("long").alias("n_triangles")
    ).select(
        F.concat(F.lit("h"), F.col("node").cast("string"), F.lit(".docs.test"))
        .alias("host"),
        "n_triangles",
    )
