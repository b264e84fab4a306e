"""The benchmark's workloads.

Each workload gets only generated inputs (the seed picks them) and has the
same life cycle, driven by ``run.py``:

- ``prepare()``: make the inputs (repeatable; timed as part of set-up);
- ``warm_up()``: one untimed operation in the fresh JVM;
- ``step()``: one timed operation (a crawl, or one pass over the queries),
  repeated until the run's time is used;
- ``metrics()`` / ``layers()``: the end-to-end and per-layer numbers.

Outputs are checked outside the timed windows; ``attempted`` / ``failed``
count the checks.
"""

from __future__ import annotations

import collections
import hashlib
import math
import os
import shutil
import sys
import time

from measure import dir_mb, median, tree_cpu_s

LINKS_Q = "//td[@class='title']/a/@href/text()"


class Workload:
    def __init__(self, spark, seed: int, work: str, trace: bool):
        self.spark, self.seed, self.work, self.trace = spark, seed, work, trace
        self.attempted = 0
        self.failures: list[str] = []
        self.windows: list[tuple[float, float]] = []  # timed spans, epoch s
        self.cpu_s: list[float] = []  # process-tree CPU inside each span
        self.step_walls: list[float] = []  # crawl rounds, or query passes

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
            print(f"check failed: {what}", file=sys.stderr)


# ---------------------------------------------------------------- crawls


class CrawlBulk(Workload):
    """The callable fetcher over the zipf synthetic web at the quick tier's
    ~4.6 KB page weight. Every hop runs the full page featurization and the
    politeness budget never binds, so rounds are few and large and the fused
    fetch+extract stage does most of the work.

    One step is one ``CrawlEngine.run`` on a fresh work directory. Its
    fetched and extraction counts are checked against webgen's closed-form
    link graph, and its fetches per (host, round) against the budget."""

    N_PAGES = 3000
    WEIGHT = 8  # paragraphs-per-page multiplier: ~4.6 KB pages
    SEED_EVERY = 3
    HOPS = 2
    BUDGET = 20000
    N_BUCKETS = 64

    def __init__(self, *a):
        super().__init__(*a)
        self.urls_per_s: list[float] = []
        self.outside_rounds: list[float] = []
        self.workdir_mb: list[float] = []
        self.formats: list = []
        self.last_engine = None
        self.fetch_log = os.path.join(self.work, "fetch_log")

    def prepare(self) -> None:
        from boris_spark.synth import webgen

        self.web_seed = self.seed % 100_000
        self.seeds = seed_urls(self.N_PAGES, self.web_seed, self.SEED_EVERY)
        self.expected = closed_form_counts(self.seeds, self.N_PAGES, self.web_seed, self.HOPS)
        self.fetch = webgen.make_fetcher(self.N_PAGES, self.web_seed, self.WEIGHT)

    def engine(self, workdir: str, fetch_fn, table_format=None):
        from boris_spark.engine.crawler import CrawlEngine

        return CrawlEngine(
            self.spark, None, workdir, politeness_k=self.BUDGET,
            n_buckets=self.N_BUCKETS, use_bloom=True, fetch_mode="callable",
            fetch_fn=fetch_fn, table_format=table_format,
        )

    def warm_up(self) -> None:
        """The same program over a different 64-page web, in its own work
        directory, so the timed crawl does not pay for the first Python
        worker start, class loading and code generation."""
        from boris_spark.synth import webgen

        n, seed = 64, self.web_seed + 1
        workdir = os.path.join(self.work, "warm")
        eng = self.engine(workdir, webgen.make_fetcher(n, seed, 1))
        eng.run(crawl_program(seed_urls(n, seed, self.SEED_EVERY), self.HOPS), max_rounds=self.HOPS)
        shutil.rmtree(workdir, ignore_errors=True)

    def traced_fetch(self):
        """The workload's fetcher, logging each batch's wall time and URLs
        (one file per Python worker process)."""
        fetch, log_dir = self.fetch, self.fetch_log
        os.makedirs(log_dir, exist_ok=True)

        def fetch_fn(urls):
            t0 = time.perf_counter()
            out = fetch(urls)
            with open(os.path.join(log_dir, str(os.getpid())), "a") as fh:
                fh.write(f"{time.perf_counter() - t0} {len(urls)}\n")
            return out

        return fetch_fn

    def step(self) -> None:
        from boris_spark.engine.tableformat import ParquetManifestFormat

        workdir = os.path.join(self.work, f"crawl{len(self.windows)}")
        if self.trace:
            from layers import timed_table_format

            table = timed_table_format(self.spark, workdir)
            self.formats.append(table)
        else:
            table = ParquetManifestFormat(self.spark, workdir)
        eng = self.engine(
            workdir, self.traced_fetch() if self.trace else self.fetch, table
        )
        c0, t0 = tree_cpu_s(os.getpid()), time.time()
        summary = eng.run(crawl_program(self.seeds, self.HOPS), max_rounds=64)
        t1, c1 = time.time(), tree_cpu_s(os.getpid())
        self.windows.append((t0, t1))
        self.cpu_s.append(c1 - c0)
        self.urls_per_s.append(summary.fetched / (t1 - t0))
        rounds = [table.round_metrics(r)["wall_s"] for r in table.committed_rounds()]
        self.step_walls.extend(rounds)
        self.outside_rounds.append((t1 - t0) - sum(rounds))

        got = (summary.fetched, summary.results)
        self.check(got == self.expected, f"crawl: (fetched, results) {got} != expected {self.expected}")
        mx = max_fetches_per_host_round(eng)
        self.check(mx <= self.BUDGET, f"crawl: {mx} fetches in one (host, round) > budget")
        self.workdir_mb.append(dir_mb(workdir))
        self.last_engine = eng
        shutil.rmtree(workdir, ignore_errors=True)

    def metrics(self) -> dict:
        return {
            "work_per_s": median(self.urls_per_s),
            "cpu_ms_per_item": median(c * 1000 / self.expected[0] for c in self.cpu_s),
        }

    def layers(self) -> dict:
        from boris_spark.synth import webgen
        from layers import bloom_layers, table_format_layers

        n = len(self.windows)
        out = {
            "crawler.rounds": len(self.step_walls) / n,
            "crawler.outside_rounds_s": median(self.outside_rounds),
            "tableformat.workdir_mb": median(self.workdir_mb),
        }
        out.update({k: v / n for k, v in table_format_layers(self.formats).items()})
        out.update(bloom_layers(self.last_engine.bloom, self.N_BUCKETS))
        secs = requests = 0.0
        for f in os.listdir(self.fetch_log):
            with open(os.path.join(self.fetch_log, f)) as fh:
                for line in fh:
                    dt, k = line.split()
                    secs += float(dt)
                    requests += int(k)
        fetched = self.expected[0] * n
        out["fetch.synth_s"] = secs / n
        out["fetch.requests"] = requests / n
        out["fetch.dup_frac"] = (requests - fetched) / fetched
        out["_pages"] = [
            (webgen.page_url(p, self.N_PAGES, self.web_seed),
             webgen.page_html(p, self.N_PAGES, self.web_seed, self.WEIGHT))
            for p in range(0, self.N_PAGES, self.N_PAGES // 300)
        ]
        return out


def seed_urls(n_pages: int, seed: int, every: int) -> list[str]:
    from boris_spark.synth import webgen

    return [webgen.page_url(i, n_pages, seed) for i in range(0, n_pages, every)]


def crawl_program(seeds: list[str], hops: int):
    """Featurize the seeds, follow their title links, featurize, ... for
    *hops* levels (``bench.py``'s quick-tier program at ``hops=3``)."""
    from boris_spark.oracle.program import Extract, Go, Lit, PageProfileE, XpathE

    feat = Extract(PageProfileE())
    node = None
    for _ in range(hops - 1):
        node = Go(XpathE(LINKS_Q), feat, *([node] if node else []))
    return Go(Lit(seeds), feat, *([node] if node else []))


def max_fetches_per_host_round(eng) -> int:
    from pyspark.sql import functions as F

    row = (
        eng.seen_df().where(F.col("status") != 999)
        .groupBy("host", "round").count()
        .agg(F.max("count").alias("mx")).collect()[0]
    )
    return int(row["mx"] or 0)


def closed_form_counts(seeds: list[str], n_pages: int, seed: int, hops: int) -> tuple[int, int]:
    """(fetched, results) of the bulk crawl program, from webgen's
    closed-form link formula alone: every traversal path yields one
    extraction, a URL is fetched once however many paths reach it, and an
    unknown page (a pagination link past its host's end) is a 404 that
    still yields its extraction but has no links."""
    from boris_spark.synth import webgen

    links_of: dict[int, list[str]] = {}

    def links(p: int) -> list[str]:
        if p not in links_of:
            out = webgen.out_links(p, n_pages, seed)
            head, local = webgen.page_url(p, n_pages, seed).rsplit("/", 1)
            if int(local) + 1 < 8 and p + 1 < n_pages:  # the "More" link
                out = out + [f"{head}/{int(local) + 1}"]
            links_of[p] = out
        return links_of[p]

    fetched: set[str] = set()
    results = 0
    paths = list(seeds)
    for depth in range(hops):
        nxt = []
        for url in paths:
            fetched.add(url)
            results += 1
            p = webgen.page_of_url(url, n_pages, seed)
            if p is not None and depth + 1 < hops:
                nxt.extend(links(p))
        paths = nxt
    return len(fetched), results


# --------------------------------------------------------------- queries


# Three crawl-stage gates, the standing-index admission gate
# (dedup_incremental) and two TPC-H queries. A run pays one cold and one
# warm pass over the list, and the whole benchmark must fit a fixed time, so
# the list is short: frontier_merge_dedup, robots_decision, dedup_simhash,
# doc_main_text, dedup_minhash_lsh, doc_lm_score, ann_ivf_topk and
# host_graph_components would more than double a run.
QUERY_LIST = [
    "frontier_topk_salted", "seen_anti_join", "url_canonicalize",
    "dedup_incremental", "tpch_q1", "tpch_q3_revenue",
]


def _norm_cell(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def result_digest(cols: list[str], rows) -> tuple[int, int, tuple[str, ...]]:
    """(row count, order-independent checksum, sorted column names): each
    row's cells, normalised as the repo's gate does and ordered by column
    name, are hashed; the hashes are summed mod 2^64."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    n = 0
    for r in rows:
        key = "\x1f".join(_norm_cell(r[i]) for i in order)
        total = (total + int.from_bytes(hashlib.sha1(key.encode()).digest()[:8], "big")) % (1 << 64)
        n += 1
    return n, total, tuple(sorted(cols))


class GateQueries(Workload):
    """A fixed list of the gate queries over seeded tables, no crawl:
    read-only and Spark-SQL heavy. The warm-up pass collects every result
    and checks it against the query's DuckDB oracle; the timed passes write
    to Spark's no-op sink."""

    def __init__(self, *a):
        super().__init__(*a)
        self.data = os.path.join(self.work, "tables")
        self.query_walls: dict[str, list[float]] = collections.defaultdict(list)

    def prepare(self) -> None:
        import datagen

        datagen.write(self.seed, self.data)

    def _run(self, name: str, collect: bool):
        from boris_spark.ops.queries import QUERIES

        df = QUERIES[name](self.spark, self.data)
        if collect:
            return df.columns, df.collect()
        df.write.mode("overwrite").format("noop").save()
        return None

    def warm_up(self) -> None:
        import duckdb

        from boris_spark.ops import kernel_gates, warc_gate  # noqa: F401  (register gates)
        from boris_spark.ops.queries import ORACLE_SQL, release_persisted

        con = duckdb.connect()
        for f in sorted(os.listdir(self.data)):
            con.execute(
                f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM "
                f"'{os.path.join(self.data, f)}'"
            )
        for name in QUERY_LIST:
            cols, rows = self._run(name, collect=True)
            rel = con.sql(ORACLE_SQL[name])
            got = result_digest(cols, rows)
            want = result_digest(list(rel.columns), rel.fetchall())
            self.check(got == want, f"{name}: spark (rows, checksum, cols) {got} != oracle {want}")
        con.close()
        release_persisted()

    def step(self) -> None:
        from boris_spark.ops.queries import release_persisted

        c0, t0 = tree_cpu_s(os.getpid()), time.time()
        for name in QUERY_LIST:
            q0 = time.time()
            self._run(name, collect=False)
            self.query_walls[name].append(time.time() - q0)
        t1, c1 = time.time(), tree_cpu_s(os.getpid())
        release_persisted()
        self.windows.append((t0, t1))
        self.cpu_s.append(c1 - c0)
        self.step_walls.append(t1 - t0)

    def metrics(self) -> dict:
        return {
            "work_per_s": median(len(QUERY_LIST) / w for w in self.step_walls),
            "cpu_ms_per_item": median(c * 1000 / len(QUERY_LIST) for c in self.cpu_s),
        }

    def layers(self) -> dict:
        import pyarrow.parquet as pq

        from boris_spark.synth import webgen

        out = {f"queries.{q}_s": median(self.query_walls[q]) for q in QUERY_LIST}
        docs = pq.read_table(os.path.join(self.data, "documents.parquet")).to_pylist()
        out["_pages"] = [
            (webgen.doc_url(d["doc_id"]), webgen.doc_html(d["doc_id"], len(docs), d["text"]))
            for d in docs[:300]
        ]
        return out


WORKLOADS = {
    "crawl_bulk": CrawlBulk,
    "gate_queries": GateQueries,
}
