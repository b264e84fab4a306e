"""The distributed URL-frontier crawl engine: round-based DataFrame jobs.

Each crawl round is one deterministic DataFrame job over the whole frontier
level (the breadth-parallel inversion of the reference's depth-first
interpreter, /root/reference/boris/interpreter.rkt:54-59 — see SURVEY.md §3):

1. frontier scan (request rows carried from the previous round);
2. per-URL priority = min lexicographic ``path_key`` (DFS priority — the
   dequeue sequence equals the order the reference would first reach each
   URL);
3. seen lookup: each url's seen status, read once by one left join
   against the seen sink (Bloom-shard prefilter at scale) — the
   distributed form of the fetch-memoization cache keyed by the canonical
   URL (/root/reference/boris/interpreter/browser-services.rkt:35-47). A
   url never seen is fresh; a seen url is a cache hit, and a previous
   robots block when its status says so;
4. politeness dequeue: top-k per host per round via a two-phase salted
   window (phase 1 bounds any hot host to salt×k survivors, phase 2 is the
   exact top-k) — skew-safe where a naive ``Window.partitionBy(host)`` would
   funnel the hottest host through one task;
5. respond, inside the round's ONE Python stage: fresh urls and every
   cache hit share one url-sorted ``mapInArrow`` and differ only in
   where a url's response comes from (the reference's request service:
   replay on a hit, fetch on a miss, browser-services.rkt:35-47). A fresh
   url's DFS-min request goes to the one ``fetch_fn`` contract (a
   callable, or the live HTTP fetcher of fetch.py — the swappable request
   service, boris/interpreter/services.rkt:14-15); a snapshot crawl
   instead joins the pages table's row ahead of the url's requests (the
   deterministic analogue of request->response,
   hypertext-browser/http.rkt:124-136; no row = 404); a cache hit gets its
   seen row's stored body the same way, never fetches again, and is
   evaluated again on that stored response, as the reference does. A
   first visit that robots blocks is fresh too, but never reaches the
   fetcher: it evaluates on an empty body. Over-budget URLs
   defer to the next round — ordering parity is unaffected because
   results order is path_key order, which is budget-invariant;
6. evaluate in place: in that same stage each state fans to the navigate
   node's children, and the worker that holds the page evaluates every
   non-fetch node (extract/bind/jump) on it to fixpoint
   (``udfs.eval_to_fixpoint``, interpreter.rkt:54-59) — only new fetch
   requests, results and downloads leave the worker, in ONE
   output write per round (the root's own evaluation runs on the driver,
   before round 0, with no Spark job);
7. sinks + checkpoint: every sink delta is committed by ADOPTING data
   files the round's own tasks already wrote (Iceberg add-files
   fast-append) — the Python stage's workers write the seen delta (the
   page cache: one row per url, with its body when fetch_fn produced it),
   the round's output write the results and the next frontier —
   plus a per-round JSON manifest carrying per-partition lineage and
   fetch/extract metrics and the round's routing counts. Every round, in
   every fetch mode, is a route job plus an eval job (a snapshot round
   also broadcasts the url list that picks its pages); the crawl is
   resumable from any round (the reference's fs-dict persistence,
   persistent/main.rkt:37-67).

Every sink read, adoption and round commit goes through the crawl's table,
``tableformat.ParquetManifestFormat``: append-only parquet deltas
partitioned by ``round`` plus round manifests, a layout that maps 1:1
onto Iceberg snapshots (that module's docstring has the mapping).
"""

from __future__ import annotations


import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..oracle import program as P
from .bloom import BloomShardStore
from .compiler import NodeSpec, compile_program
from .robots import ROBOTS_STATUS, split_blocked
from .tableformat import ParquetManifestFormat, footer_rows
from .udfs import (
    CASCADE_SCHEMA, eval_to_fixpoint, make_round_fn, write_by_kind,
)

REQUEST_SCHEMA = (
    "pc long, url_canon string, url_full string, url_hash long, host string, "
    "referer string, method string, payload string, bindings string, path_key string, "
    "cookies string"
)

# durable-sink schemas, passed to the table's reads so no round ever
# pays a parquet schema-inference job. The seen sink is the page cache:
# each url's seen row also stores the response fetch_fn gave it
SEEN_SCHEMA = (
    "url_hash long, url_canon string, host string, bucket int, status int, "
    "path_first string"
)
SEEN_SINK_SCHEMA = SEEN_SCHEMA + ", body string, head string"
# results/downloads sinks = kind= partitions adopted out of the round's
# output write by rename: every CASCADE column except the partition column
OUTPUT_SINK_SCHEMA = CASCADE_SCHEMA.split(", ", 1)[1]

_REQ_COLS = [
    "pc", "url_canon", "url_full", "url_hash", "host",
    "referer", "method", "payload", "bindings", "path_key", "cookies",
]
# write tasks of the routing job (see _round)
_ROUTE_PARTS = 4
# salts of the politeness window's first phase (see _round)
_SALT_PARTS = 8
# bits per Bloom shard of the seen-set prefilter
_BLOOM_BITS = 1 << 17


@dataclass
class CrawlSummary:
    rounds: int
    fetched: int
    results: int
    wall_s: float
    fetch_throughput: float  # urls fetched+extracted / sec


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages_df: DataFrame,
        workdir: str,
        politeness_k: int | None = 64,
        n_buckets: int = 32,
        use_bloom: bool = True,
        robots_rules: DataFrame | None = None,
        host_budgets: DataFrame | None = None,  # (host, budget): per-host k
        fetch_mode: str = "snapshot",  # "snapshot" | "http" | "callable"
        http_timeout: float = 10.0,
        fetch_fn=None,  # callable mode: see udfs.make_round_fn's contract
        broadcast_seen_limit: int = 2_000_000,  # max `maybe` rows to broadcast
        # the crawl's table; a subclass may stand in (e.g. one that times
        # its calls)
        table_format: ParquetManifestFormat | None = None,
    ):
        self.spark = spark
        self.workdir = workdir
        # every durable sink (frontier/seen/results/downloads) and
        # round commit goes through the crawl's table (tableformat.py)
        self.table = table_format or ParquetManifestFormat(spark, workdir)
        self.politeness_k = politeness_k
        self.n_buckets = n_buckets
        self.use_bloom = use_bloom
        self.bloom = BloomShardStore(n_buckets, _BLOOM_BITS) if use_bloom else None
        self._bloom_bc = None
        self.broadcast_seen_limit = broadcast_seen_limit
        self.robots = robots_rules
        self.host_budgets = host_budgets
        os.makedirs(workdir, exist_ok=True)
        # the mode only picks the fetcher: every mode runs the same round
        # (one Python stage), differing in where responses come from —
        # fetch_fn, or (snapshot) the pages table's rows joined ahead of
        # the stage's requests
        self.pages = None
        if fetch_mode == "snapshot":
            if pages_df is None:
                raise ValueError("snapshot mode requires a pages_df")
            html_col = pages_df.schema["html"].dataType.simpleString()
            body = F.col("html").cast("string") if html_col == "binary" else F.col("html")
            # cached once, spread over the cores: every round semi-joins it
            # in place against a broadcast of the (slim) url list it needs,
            # so page bodies cross only the eval stage's own exchange
            self.pages = (
                pages_df.select(
                    F.col("url").alias("url_canon"),
                    body.alias("body"),
                )
                .repartition(
                    spark.sparkContext.defaultParallelism, "url_canon"
                )
                .persist()
            )
            fetch_fn = None
        elif fetch_mode == "http":
            from .fetch import make_http_fetch_fn

            fetch_fn = make_http_fetch_fn(http_timeout)
        elif fetch_fn is None:
            raise ValueError("callable mode requires a fetch_fn")
        self.fetch_fn = fetch_fn

    # ------------------------------------------------------------ helpers

    def _path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    _SINK_SCHEMAS = {
        "seen": SEEN_SINK_SCHEMA,
        "results": OUTPUT_SINK_SCHEMA,
        "downloads": OUTPUT_SINK_SCHEMA,
        "frontier": REQUEST_SCHEMA,
    }

    def _read_sink(self, sink: str) -> DataFrame | None:
        return self.table.read_sink(sink, self._SINK_SCHEMAS.get(sink))

    def _empty(self, schema: str) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    # -------------------------------------------------------------- run

    def run(
        self,
        root: P.Node,
        max_rounds: int = 1000,
        resume: bool = False,
        seed_frontier: DataFrame | None = None,
    ) -> CrawlSummary:
        """Crawl *root* to fixpoint (or *max_rounds*).

        *seed_frontier* — optional DataFrame of (url_canon, url_full,
        url_hash, host) rows (e.g. sources/sitemap.sitemap_frontier over a
        host's published URL inventory) unioned into the round-0 frontier
        as GET requests against the ROOT navigate node, without ever
        passing through the driver: at 10^9 sitemap entries the inventory
        IS the initial frontier and must stay distributed (a Lit seed list
        lives in the program text and the driver's memory). Seed DFS order
        is the lexicographic order of url_canon (path_key = 's:'+url_canon;
        literal Lit seeds use 8-hex fan-out indices, which sort BEFORE the
        's:' block, so program-text seeds are crawled first — documented,
        deterministic across parallelism levels)."""
        # Adaptive execution OFF for the crawl loop (restored on exit, the
        # session default stays on for ad-hoc queries): every join in a
        # round has a statically pinned strategy (broadcast seen-key/budget
        # dims, shuffle-hash on unique 64-bit url hashes) and host skew is
        # handled explicitly by the two-phase salted window, so AQE cannot
        # improve a round's plan — but each AQE query stage is a separate
        # job with a driver sync point and a round has ~10 slim stages.
        # Measured at the politeness-bound tier (18 small rounds, 60k
        # pages, local[32]): 113.9 s with AQE on vs 81.6 s off, identical
        # outputs — and the sync latency GROWS with core count (task waves
        # finish faster, the per-stage driver barrier doesn't), which was
        # most of the control tier's anti-scaling. Each round also sets the
        # shuffle width to its own (see _round); both are restored here.
        _aqe_prev = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
        _shuffle_prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return self._run_inner(root, max_rounds, resume, seed_frontier)
        finally:
            self.spark.conf.set("spark.sql.adaptive.enabled", _aqe_prev)
            self.spark.conf.set("spark.sql.shuffle.partitions", _shuffle_prev)

    def _run_inner(
        self,
        root: P.Node,
        max_rounds: int,
        resume: bool,
        seed_frontier: DataFrame | None,
    ) -> CrawlSummary:
        t0 = time.time()
        self._tmp_sink_paths: list[str] = []
        # leftover transients from a killed run are junk (the durable sinks
        # and manifests are the resume state)
        import shutil

        for junk in ("cascade_tmp", "seen_inbox"):
            p = self._path(junk)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
        self.node_table = compile_program(root)
        # Worker-direct sink writes: the Python workers parquet each fresh
        # url's seen row (with the body fetch_fn gave it) into this inbox
        # dir, which is ADOPTED as the round's seen delta — bodies never
        # cross Arrow or enter the JVM writer, and the sink costs no commit
        # job. A snapshot crawl stores no bodies: its pages table already
        # is the body source (_body_source)
        self._seen_inbox = self._path("seen_inbox")
        self._round_fn = make_round_fn(
            self.node_table, self.fetch_fn,
            seen_dir=self._seen_inbox, n_buckets=self.n_buckets,
        )

        # driver-tracked seen-set size (accumulated from the per-round delta
        # footer counts — no jobs): picks the seen-filter strategy each
        # round. ≤ broadcast cap → ONE broadcast anti-join against the seen
        # keys; above it → bloom prefilter / shuffle anti-join (design scale)
        self._n_seen = 0
        start_round = 0
        if resume:
            done = self.table.committed_rounds()
            start_round = (done[-1] + 1) if done else 0
            # a round killed after adopting deltas but before its manifest
            # committed: roll them back, or the rerun would take its own
            # stale seen rows as "already seen" and never record them.
            # Round r writes seen delta r and frontier/results/downloads
            # delta r+1
            for sink, first in (
                ("seen", 0), ("frontier", 1), ("results", 1), ("downloads", 1),
            ):
                self.table.rollback(sink, start_round + first)
            self._n_seen = self.table.sink_rows("seen")
            if self.bloom is not None and start_round > 0:
                # Bloom shards are in-memory state: rebuild from the seen
                # snapshots so the prefilter has no false negatives after a
                # restart (a stale bloom would mark seen URLs "definitely
                # new" and re-fetch them). DISTRIBUTED rebuild: per-bucket
                # bitsets are built executor-side and only n_buckets
                # (bucket, bitset) rows reach the driver — at 10^10 seen
                # URLs the seen set itself can never pass through the
                # driver, which a toPandas() here would require.
                seen = self._read_sink("seen")
                if seen is not None:
                    self._fold_buckets(seen)
        if start_round == 0:
            # the root evaluates on the driver (no page yet: empty body, no
            # url), written per kind with pyarrow — no Spark job — and its
            # outputs are adopted like a round's: results/downloads as
            # delta 0, kind=request (+ the written seed rows) as frontier 0
            out: list[dict] = []
            eval_to_fixpoint(
                self.node_table, root.node_id, None, None, "", None, out
            )
            init_path = self._path("cascade_tmp", "round=0")
            write_by_kind(init_path, out)
            self._tmp_sink_paths.append(init_path)
            self._adopt_outputs(init_path, 0)
            parts = [os.path.join(init_path, "kind=request")]
            if seed_frontier is not None:
                ns = lambda: F.lit(None).cast("string")  # noqa: E731
                seed_path = self._path("cascade_tmp", "seed_frontier")
                (
                    seed_frontier.select(
                        F.lit(root.node_id).alias("pc"),
                        "url_canon", "url_full", "url_hash", "host",
                        ns().alias("referer"),
                        F.lit("GET").alias("method"),
                        ns().alias("payload"),
                        ns().alias("bindings"),
                        F.concat(F.lit("s:"), F.col("url_canon")).alias(
                            "path_key"
                        ),
                        ns().alias("cookies"),
                    )
                    .write.mode("overwrite").parquet(seed_path)
                )
                parts.append(seed_path)
            self.table.adopt_parts(parts, "frontier", 0, REQUEST_SCHEMA)
            self._drop_tmp_sinks()
        rnd = start_round
        total_fetched = 0
        total_results = 0
        while rnd < max_rounds:
            # frontier row count from delta metadata — no Spark job
            n_req = self.table.delta_rows("frontier", rnd)
            if n_req == 0:
                break
            # project to the request columns: part-structured deltas
            # surface their fsrc partition column on read
            requests = self.table.delta_df(
                "frontier", rnd, REQUEST_SCHEMA
            ).select(*_REQ_COLS)
            rt0 = time.time()
            fetched, n_results, metrics = self._round(
                requests, rnd, n_req
            )
            total_fetched += fetched
            total_results += n_results
            metrics.update(
                round=rnd, requests=n_req,
                politeness_window=self._politeness_window,
                wall_s=round(time.time() - rt0, 3),
            )
            self.table.commit_round(rnd, metrics)
            rnd += 1

        wall = time.time() - t0
        return CrawlSummary(
            rounds=rnd,
            fetched=total_fetched,
            results=total_results,
            wall_s=wall,
            fetch_throughput=total_fetched / wall if wall else 0.0,
        )

    # ------------------------------------------------------------- rounds

    def _round_parts(self, n_rows: int | None, rows_per_part: int = 64) -> int:
        """Adaptive per-round parallelism: enough partitions to keep every
        core busy when there is real work (≥``rows_per_part`` rows each),
        but never more tasks than the round's row count justifies — tiny
        rounds (the politeness-bound and depth-limited regimes) otherwise
        pay task-launch + empty-partition overhead per stage that scales
        WITH cores instead of with data."""
        full = self.spark.sparkContext.defaultParallelism
        if n_rows is None:
            return full
        return max(1, min(full, (n_rows + rows_per_part - 1) // rows_per_part))

    def _round(self, requests: DataFrame, rnd: int, n_req: int):
        """One crawl round, the same in every fetch mode: a route job, then
        an eval job whose ONE Python stage (``_url_stage``) evaluates every
        fresh url and every cache hit. Fresh urls are fetched exactly once
        per crawl (or take the snapshot's page row; a robots-blocked one is
        never fetched), and the workers write the round's seen delta with
        the fetched bodies (the seen sink is the crash-resumable page
        cache). Cache hits never reach fetch_fn: they replay the stored
        response (browser-services.rkt:36-40) and are evaluated on it
        again, so live fetchers are hit once and the politeness budget is
        never bypassed. All routing frames are slim;
        each body crosses one url_canon exchange + one Arrow boundary per
        round that evaluates it. Returns (fetched, results, metrics)."""
        import time as _t
        _marks = [("start", _t.time())]
        _mark = lambda label: _marks.append((label, _t.time()))  # noqa: E731
        self._round_persists: list[DataFrame] = []
        # ONE url_canon shuffle for the whole round: the persisted frame's
        # hash partitioning is reused (exchange-free) by the groupBy below and
        # by every url_canon equi-join downstream — the round previously
        # re-shuffled the request table 3× across its actions.
        # Partition count ADAPTS to the round's size (known free from the
        # frontier delta's parquet footers): a 12-round crawl whose rounds
        # hold 1-1024 requests otherwise launches defaultParallelism tasks
        # per stage per round, a per-round fixed cost that GROWS with cores
        # (the round-4 bench flagged exactly this as anti-scaling on
        # crawl_depth_histogram: 23.0s @ 8 cores → 32.5s @ 32). Large
        # rounds (≥64 rows/core) still get the full width. Every implicit
        # exchange of the round (joins, the politeness window, distinct)
        # runs at the same width — and, co-partitioned with `requests`,
        # the url_canon joins need no exchange on that side at all.
        n_part = self._round_parts(n_req)
        self.spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
        requests = requests.repartition(n_part, "url_canon").persist()

        # one fetch candidate per distinct url, priority = lex-min path_key
        # (url_hash/host are pure functions of url_canon: any row works);
        # the Python stage fetches with the url's DFS-min request row
        urls = requests.groupBy("url_canon").agg(
            F.min("path_key").alias("pk"),
            F.first("url_hash").alias("url_hash"),
            F.first("host").alias("host"),
        ).persist()

        _mark("requests_shuffle")
        # each url's seen status, read ONCE (_lookup_seen): null for a url
        # never seen; else a cache hit, whose requests proceed without a
        # fetch (browser-services.rkt:36-40), blocked when ROBOTS_STATUS
        looked = self._lookup_seen(urls, n_req).persist()
        self._round_persists.append(looked)
        unseen = looked.where(F.col("_st").isNull()).drop("_st")
        hits = looked.where(F.col("_st").isNotNull())

        # robots.txt: a blocked first visit is routed fresh with _blk — its
        # worker writes its seen row (status ROBOTS_STATUS, no body) without
        # fetching it; it consumes no politeness budget and the branch
        # prunes naturally
        blocked = None
        if self.robots is not None:
            unseen, blocked = split_blocked(unseen, self.robots)

        # politeness: top-budget per host per round, two-phase salted
        # (skew-safe). The budget is per-host (broadcast budgets table,
        # north star: "per-host politeness budgets") with politeness_k as
        # the default; phase 1 bounds any hot host to salts × max-budget
        # survivors before the exact per-host window. Without per-host
        # budgets the window cannot bind when the round holds ≤ k request
        # rows (a host's distinct urls ≤ the round's rows ≤ k), so it is
        # skipped exactly.
        self._politeness_window = self.host_budgets is not None or (
            self.politeness_k is not None and n_req > self.politeness_k
        )
        if self._politeness_window:
            k = self.politeness_k if self.politeness_k is not None else (1 << 30)
            salted = unseen.withColumn(
                "salt", F.pmod(F.col("url_hash"), F.lit(_SALT_PARTS))
            )
            if self.host_budgets is not None:
                salted = salted.join(
                    F.broadcast(self.host_budgets), "host", "left"
                ).withColumn("budget", F.coalesce("budget", F.lit(k)))
            else:
                salted = salted.withColumn("budget", F.lit(k))
            w1 = Window.partitionBy("host", "salt").orderBy("pk")
            w2 = Window.partitionBy("host").orderBy("pk")
            selected = (
                salted.withColumn("rn", F.row_number().over(w1))
                .where(F.col("rn") <= F.col("budget"))
                .withColumn("rn2", F.row_number().over(w2))
                .where(F.col("rn2") <= F.col("budget"))
                .drop("rn", "rn2", "salt", "budget")
            )
        else:
            selected = unseen

        decided = selected.select(
            "url_canon", F.lit(True).alias("_fresh"), F.lit(False).alias("_blk")
        ).unionByName(
            hits.select(
                "url_canon", F.lit(False).alias("_fresh"),
                (F.col("_st") == ROBOTS_STATUS).alias("_blk"),
            )
        )
        if blocked is not None:
            decided = decided.unionByName(
                blocked.select(
                    "url_canon", F.lit(True).alias("_fresh"),
                    F.lit(True).alias("_blk"),
                )
            )
        # ONE lineage-break job per round: every request row is routed into
        # a segment — fresh (a first visit: a politeness winner, fetched +
        # evaluated, or a robots block, evaluated on an empty body), replay
        # (cache hit: evaluated on its stored response, or an empty body
        # when blocked), or deferred (over budget, back to the frontier) —
        # and the whole tagged frame is written once,
        # hive-partitioned by ``seg``. The rest of the round (eval job,
        # frontier adoption) reads plain columnar scans of its subdirs;
        # per-segment row counts come free from the parquet footers, so
        # empty branches are PRUNED
        # DRIVER-SIDE (no count() jobs, no reliance on AQE empty-relation
        # propagation for the body-bearing seen scan). Before this, the
        # eval query inlined the requests→seen-filter→politeness→route
        # lineage once per reference (~190 KB plan text), Catalyst + AQE
        # re-optimization cost seconds of driver time per round, and the
        # broadcast-subquery threads raced the unmaterialized persists,
        # re-EXECUTING the routing subtrees concurrently (profiled:
        # one politeness-bound round burned 298 CPU-s of JVM time on <10 MB
        # of data).
        base = requests.join(decided, "url_canon", "left")

        seg_col = (
            F.when(F.col("_fresh").isNull(), F.lit("deferred"))
            .when(F.col("_fresh"), F.lit("fresh"))
            .otherwise(F.lit("replay"))
        )
        routed_path = self._path("cascade_tmp", f"routed={rnd}")
        # the routed rows are SLIM (no bodies) and the Python stage
        # re-partitions fresh and replay rows by url_canon itself, so the
        # write's partitioning is pure task/file overhead: collapse to a few
        # write tasks instead of shuffle_partitions × segs tiny files +
        # footers per round — at politeness-bound (many-round, few-rows)
        # tiers this is a per-round fixed cost that doesn't shrink with cores
        base.withColumn("seg", seg_col).drop("_fresh").repartition(
            _ROUTE_PARTS
        ).write.partitionBy("seg").mode("overwrite").parquet(routed_path)
        self._tmp_sink_paths.append(routed_path)
        segs = {
            d[4:]: footer_rows(os.path.join(routed_path, d))
            for d in os.listdir(routed_path) if d.startswith("seg=")
        }
        _ROUTED_SCHEMA = REQUEST_SCHEMA + ", _blk boolean"

        def _seg(name):
            return self.spark.read.schema(_ROUTED_SCHEMA).parquet(
                os.path.join(routed_path, f"seg={name}")
            )

        _mark("route")

        # the round's ONE Python stage (_url_stage): fresh and replay rows,
        # tagged _fresh, share one url_canon exchange (fetch_fn MUST fire
        # once per url) and one url sort (a url's paths consecutive: its
        # eval memo is O(1)). A url's body row leads its requests through
        # the same exchange: its pages row in a snapshot crawl, else a
        # replayed url's seen row. The seen side exists ONLY when the
        # footers say there are replay rows, so all-fresh rounds never
        # plan the body-bearing seen scan. Width follows the stage's row
        # count (free, from the routed footers)
        n_py = segs.get("fresh", 0) + segs.get("replay", 0)
        if not n_py:
            out_df = self._empty(CASCADE_SCHEMA)
        else:
            rows = None
            for name in ("fresh", "replay"):
                if segs.get(name, 0):
                    seg = _seg(name).withColumn("_fresh", F.lit(name == "fresh"))
                    rows = seg if rows is None else rows.unionByName(seg)
            bodies = None
            if self.pages is not None:
                bodies = self._body_source(rows)
            elif segs.get("replay", 0):
                bodies = self._body_source(_seg("replay"))
            out_df = self._url_stage(rows, self._round_parts(n_py), bodies)
        # the output's kind=request partition is ADOPTED below
        n_results, out_path = self._cascade(out_df, rnd + 1)
        _mark("fused_cascade")

        # Commit this round's sinks by ADOPTING files its own tasks already
        # wrote (adopt_delta/adopt_parts = Iceberg add-files fast-append,
        # tableformat.py) — no commit job re-reads or re-encodes a byte:
        # - seen: the Python stage's workers wrote each fresh url's seen
        #   row (keys, status, bucket, DFS-min path over the url's rows
        #   this round, and the body + head when fetch_fn produced them:
        #   the page cache replays read) into the seen inbox — the only
        #   writer of seen rows, robots blocks included;
        # - frontier (rnd+1): this round's DEFERRED rows (the routing job's
        #   seg=deferred partition) + its NEW request rows (the round
        #   output's kind=request partition) — directory renames
        #   instead of a full frontier rewrite, which in politeness-bound
        #   regimes (the deferred rows often >80% of the frontier) was the
        #   biggest per-round fixed cost. The adopted kind=request files
        #   carry the full output schema; frontier readers project to
        #   REQUEST_SCHEMA.
        self.table.adopt_delta(self._seen_inbox, "seen", rnd)
        frontier_parts = []
        if segs.get("deferred", 0):
            frontier_parts.append(os.path.join(routed_path, "seg=deferred"))
        frontier_parts.append(os.path.join(out_path, "kind=request"))
        self.table.adopt_parts(
            frontier_parts, "frontier", rnd + 1, REQUEST_SCHEMA
        )
        _mark("commits")
        n_fetched, lineage = self._fold_seen_delta(rnd)
        _mark("seen_fold")

        requests.unpersist()
        urls.unpersist()
        for df in self._round_persists:
            df.unpersist()
        self._drop_tmp_sinks()
        metrics = {
            "fetched": n_fetched,
            "results": n_results,
            # every request row's route this round (sums to `requests`)
            "routed": {
                k: segs.get(k, 0) for k in ("fresh", "replay", "deferred")
            },
            "partitions": lineage,
            "phases": {
                b: round(tb - ta, 2)
                for (a, ta), (b, tb) in zip(_marks, _marks[1:])
            },
        }
        return n_fetched, n_results, metrics

    def _lookup_seen(self, urls: DataFrame, n_candidates: int) -> DataFrame:
        """*urls* plus ``_st``, each url's seen status: null for a url never
        seen, else its seen row's status (``ROBOTS_STATUS`` for a robots
        block). One left join whose strategy is picked per round by size,
        the seen sink being scanned for two slim columns (never its
        bodies)."""
        seen = self._read_sink("seen")
        if seen is None:
            return urls.withColumn("_st", F.lit(None).cast("int"))
        seen_st = seen.select("url_canon", F.col("status").alias("_st"))
        # Adaptive, by DRIVER-KNOWN sizes (both free — footer/summary
        # metadata, no jobs). Tier 1: the whole seen set fits under the
        # broadcast cap → ONE broadcast left join straight against the seen
        # (url, status) pairs. This replaces the double-broadcast shape
        # (broadcast the candidates, semi-join the seen scan, broadcast the
        # matches back), which cost two sequential broadcast-build sub-jobs
        # per round — pure driver-sync fixed cost at local/bench scale. At
        # 10^10 the seen set blows the cap and the later tiers take over.
        if self._n_seen <= self.broadcast_seen_limit:
            return urls.join(F.broadcast(seen_st), "url_canon", "left")
        # Tier 2: this round's candidate set fits under the broadcast cap
        # (known free, from the frontier delta's row count) — the exact
        # double-broadcast lookup covers EVERY candidate in one scan of the
        # seen sink — the Bloom prefilter stage would only add an Arrow
        # roundtrip + a persist to the round's critical path. Skip it; the
        # shards still fold every round (_fold_seen_delta), so the prefilter
        # is warm the moment a round's frontier exceeds the cap.
        if n_candidates <= self.broadcast_seen_limit:
            matched = seen_st.join(
                F.broadcast(urls.select("url_canon")), "url_canon", "left_semi"
            )
            return urls.join(F.broadcast(matched), "url_canon", "left")
        if self.bloom is not None and self.bloom.shards:
            # ship the shard map as a proper broadcast variable, re-broadcast
            # per round as the shards grow (the closure-capture shortcut
            # re-serialized the map into every task)
            if self._bloom_bc is not None:
                self._bloom_bc.unpersist()
            self._bloom_bc = self.spark.sparkContext.broadcast(self.bloom)
            bloom_bc = self._bloom_bc

            def flag(batches):
                bloom = bloom_bc.value
                for pdf in batches:
                    pdf = pdf.copy()
                    pdf["maybe_seen"] = bloom.filter_frame(
                        pdf.assign(bucket=pdf["url_hash"] % bloom.n_buckets)
                    )
                    yield pdf

            # a copy of the fields: ``add`` appends to the list it was
            # built from, here ``urls``' cached schema
            flagged = urls.mapInPandas(
                flag,
                StructType([*urls.schema.fields]).add("maybe_seen", "boolean"),
            ).persist()
            self._round_persists.append(flagged)
            definitely_new = (
                flagged.where(~F.col("maybe_seen")).drop("maybe_seen")
                .withColumn("_st", F.lit(None).cast("int"))
            )
            maybe = flagged.where(F.col("maybe_seen")).drop("maybe_seen")
            # `maybe` holds this round's re-discovered duplicates + bloom
            # false positives. In a link graph true dupes dominate (hub pages
            # are re-linked constantly), so `maybe` can be large; the
            # broadcast-driven exact lookup (seen table SCANNED, never
            # shuffled) is only safe below a size cap. Above it, fall back to
            # the shuffle left join — at design scale that path is a
            # co-partitioned join against the bucket-partitioned seen sink.
            # (Tier 2 returned above whenever the frontier itself fits the
            # cap, so here only a count of `maybe` can tell.)
            if maybe.count() <= self.broadcast_seen_limit:
                # both joins broadcast the small side; the growing seen table
                # is only ever scanned (two slim columns, partition-prunable).
                # url_canon alone is the join key (url_hash is a pure
                # function of it).
                matched = seen_st.join(
                    F.broadcast(maybe.select("url_canon")), "url_canon", "left_semi"
                )
                checked = maybe.join(F.broadcast(matched), "url_canon", "left")
            else:
                checked = maybe.join(seen_st, "url_canon", "left")
            return definitely_new.unionByName(checked)
        return urls.join(
            seen.select("url_hash", "url_canon", F.col("status").alias("_st")),
            ["url_hash", "url_canon"], "left",
        )

    def _fold_buckets(self, seen: DataFrame) -> list:
        """Fold an arbitrarily large seen frame into the Bloom shards
        without it ever reaching the driver: one ``applyInPandas`` per
        bucket builds that bucket's bitset AND its lineage counters
        executor-side, and the driver collects exactly ``n_buckets`` rows
        of (bucket, bits, fetched, hosts) and ORs the bitsets in. Used by
        the resume rebuild (reference semantics: cache reopen,
        persistent/main.rkt:63-67) and by
        ``_fold_seen_delta`` for an over-gate round delta. Returns the
        rows."""
        from .bloom import build_bitset

        with_bits = self.bloom is not None
        m_bits = self.bloom.m_bits if with_bits else 0
        k = self.bloom.k if with_bits else 0

        def fold(pdf):
            import numpy as np
            import pandas as pd

            return pd.DataFrame([{
                "bucket": int(pdf["bucket"].iloc[0]),
                "bits": (
                    build_bitset(
                        pdf["url_hash"].to_numpy().astype(np.uint64), m_bits, k
                    )
                    if with_bits else b""
                ),
                "fetched": int((pdf["status"] != ROBOTS_STATUS).sum()),
                "hosts": int(pdf["host"].nunique()),
            }])

        rows = (
            seen.select("bucket", "url_hash", "host", "status")
            .groupBy("bucket")
            .applyInPandas(fold, "bucket int, bits binary, fetched long, hosts long")
            .collect()
        )
        if with_bits:
            for r in rows:
                self.bloom.merge_shard(r["bucket"], bytes(r["bits"]))
        return rows

    def _fold_seen_delta(self, rnd: int) -> tuple[int, list[dict]]:
        """Fold this round's seen delta into the Bloom shards and compute
        the fetch metrics + per-partition lineage, gated by delta size:

        - delta ≤ broadcast_seen_limit: ONE driver-side columnar read of the
          (slim) delta, pandas fold — zero Spark jobs;
        - above the gate: the distributed per-bucket fold
          (``_fold_buckets``) — the 10^10-URL form, where a round's delta
          never fits on the driver.
        """
        n_delta = self.table.delta_rows("seen", rnd)
        self._n_seen += n_delta
        if n_delta == 0:
            return 0, []  # the round adopted no seen delta
        if n_delta <= self.broadcast_seen_limit:
            delta_pdf = self.table.read_delta_pandas(
                "seen", rnd,
                columns=["bucket", "url_hash", "host", "status"],
            )
            if self.bloom is not None:
                self.bloom.add_delta(delta_pdf[["bucket", "url_hash"]])
            n_fetched = int((delta_pdf["status"] != ROBOTS_STATUS).sum())
            lineage = [
                {"bucket": int(b),
                 "fetched": int(g["status"].ne(ROBOTS_STATUS).sum()),
                 "hosts": int(g["host"].nunique())}
                for b, g in delta_pdf.groupby("bucket")
            ]
            return n_fetched, lineage

        rows = self._fold_buckets(
            self.table.delta_df("seen", rnd, SEEN_SCHEMA)
        )
        lineage = [
            {"bucket": r["bucket"], "fetched": r["fetched"], "hosts": r["hosts"]}
            for r in sorted(rows, key=lambda r: r["bucket"])
        ]
        return sum(r["fetched"] for r in rows), lineage

    def _cascade(self, out_df: DataFrame, rnd: int) -> tuple[int, str]:
        """Write a round's evaluation output ONCE, into the TRANSIENT sink
        ``cascade_tmp/round=rnd``, hive-partitioned by ``kind``, and adopt
        its result/download partitions (``_adopt_outputs``). The workers
        already evaluated every state to fixpoint, so no kind here carries
        a page body and nothing is read back to evaluate again. The caller
        adopts ``kind=request`` as the next frontier; the rest is deleted at the end of the round (``_drop_tmp_sinks``).
        Returns (result rows, output path)."""
        path = self._path("cascade_tmp", f"round={rnd}")
        out_df.write.partitionBy("kind").mode("overwrite").parquet(path)
        self._tmp_sink_paths.append(path)
        return self._adopt_outputs(path, rnd), path

    def _adopt_outputs(self, path: str, rnd: int) -> int:
        """Durable result/download history: ADOPT *path*'s kind=result and
        kind=download partitions as delta *rnd* of the ``results`` and
        ``downloads`` sinks by directory rename (Iceberg add_files — data
        files written once, committed by reference). Request rows get no
        durable copy: the frontier deltas already carry every (url, path)
        request row. Returns the result row count, from parquet footers
        (no Spark job)."""
        kinds = {
            d[5:]: footer_rows(os.path.join(path, d))
            for d in os.listdir(path) if d.startswith("kind=")
        }
        for k, sink in (("result", "results"), ("download", "downloads")):
            if kinds.get(k, 0):
                self.table.adopt_delta(os.path.join(path, f"kind={k}"), sink, rnd)
        return kinds.get("result", 0)

    # ------------------------------------------------------- checkpointing

    def _url_stage(
        self, rows: DataFrame, width: int, bodies: DataFrame | None
    ) -> DataFrame:
        """The round's Python stage (udfs.make_round_fn) over *rows*: one
        url_canon exchange of *width* partitions, then sorted so each url's
        rows are consecutive. With *bodies* (``_body_source``), each url's
        single body row is unioned with its request rows (no body) and
        sorted ahead of them — a page body crosses exactly one shuffle and
        one Arrow boundary and is never copied per path.

        Invariant: a body row is the only row of its url with a null
        ``pc`` (the union leaves every request column null on it), while
        every request row carries the ``pc`` of the node that emitted it,
        seed rows included (the root's ``node_id``) — so sorting ``pc``
        nulls first puts the body row first."""
        if bodies is not None:
            rows = rows.unionByName(bodies, allowMissingColumns=True)
        return (
            rows.repartition(width, "url_canon")
            .sortWithinPartitions("url_canon", F.asc_nulls_first("pc"), "bindings")
            .mapInArrow(self._round_fn, CASCADE_SCHEMA)
        )

    def _body_source(self, rows: DataFrame) -> DataFrame | None:
        """(url_canon, body, head) for *rows*' urls: the pages table (no
        head) in a snapshot crawl, else the seen sink's stored responses
        (None when nothing was seen yet; rows without a body, the robots
        blocks, are left out) — cut to those urls by a semi-join against
        a broadcast of the SLIM url list."""
        if self.pages is not None:
            src = self.pages.withColumn("head", F.lit(None).cast("string"))
        else:
            src = self._read_sink("seen")
            if src is None:
                return None
            src = src.where(F.col("body").isNotNull()).select(
                "url_canon", "body", "head"
            )
        return src.join(
            F.broadcast(rows.select("url_canon").distinct()),
            "url_canon", "left_semi",
        )

    def _drop_tmp_sinks(self) -> None:
        """Delete the round's transient outputs (routing segments and the
        evaluation output); called after every consumer of them has
        executed."""
        import shutil

        for p in self._tmp_sink_paths:
            shutil.rmtree(p, ignore_errors=True)
        self._tmp_sink_paths.clear()

    def compact(
        self,
        sinks: tuple[str, ...] = ("seen", "results"),
        target_bytes: int = 64 << 20,
    ) -> dict:
        """Table maintenance between crawls/rounds: execute the binpack
        rewrite (``compact_sink``) on the fast-append sinks and
        record file-count before/after per sink in a maintenance manifest
        next to the round manifests (``rounds/compact_after_<N>.json``) —
        the continuous small-file upkeep a long-running crawl table needs
        (the planning half is the compact_plan query; Iceberg analogue:
        rewrite_data_files + a maintenance snapshot). Safe at any round
        boundary, including mid-crawl before a resume: rewrites preserve
        rows and the round column exactly (pinned by
        tests/test_tableformat.py::test_compact_mid_crawl_resume)."""
        report = {
            sink: self.table.compact_sink(sink, target_bytes) for sink in sinks
        }
        self.table.commit_compaction(report)
        return report

    # ------------------------------------------------------------ readers

    def downloads_df(self) -> DataFrame:
        """Download-sink rows (syntax/io.rkt:27-36): body per pruned branch."""
        df = self._read_sink("downloads")
        if df is None:
            return self._empty("path_key string, url string, value string")
        return (
            df.select("path_key", F.col("cur_url").alias("url"), "value")
            .orderBy("path_key")
        )

    def results_df(self) -> DataFrame:
        df = self._read_sink("results")
        if df is None:
            return self._empty("path_key string, value string, vkind string, pc long")
        return df.select("path_key", "value", "vkind", "pc").orderBy("path_key")

    def seen_df(self) -> DataFrame:
        """The seen rows without their stored responses, with the
        ``round`` that wrote each one (an empty frame of the same columns
        when nothing was seen)."""
        df = self._read_sink("seen")
        if df is None:
            return self._empty(SEEN_SCHEMA + ", round int")
        return df.drop("body", "head")

    def visit_order_df(self) -> DataFrame:
        """URLs in reference first-visit order: lex-min discovery path.

        The frontier checkpoints ARE the discovery record (every reached
        (url, path) pair passes through a frontier round), so no separate
        discoveries sink is written."""
        disc = self._read_sink("frontier")
        if disc is None:  # the program never navigated
            return self._empty("url_canon string, first_path string")
        return (
            disc.groupBy("url_canon")
            .agg(F.min("path_key").alias("first_path"))
            .orderBy("first_path")
        )
