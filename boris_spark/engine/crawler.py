"""The distributed URL-frontier crawl engine: round-based DataFrame jobs.

Each crawl round is one deterministic DataFrame job over the whole frontier
level (the breadth-parallel inversion of the reference's depth-first
interpreter, /root/reference/boris/interpreter.rkt:54-59 — see SURVEY.md §3):

1. frontier scan (request rows carried from the previous round);
2. per-URL priority = min lexicographic ``path_key`` (DFS priority — the
   dequeue sequence equals the order the reference would first reach each
   URL);
3. seen filter: Bloom-shard prefilter then exact anti-join on
   ``(url_hash, url_canon)`` — the distributed form of the fetch-memoization
   cache keyed by the canonical URL
   (/root/reference/boris/interpreter/browser-services.rkt:35-47);
4. politeness dequeue: top-k per host per round via a two-phase salted
   window (phase 1 bounds any hot host to salt×k survivors, phase 2 is the
   exact top-k) — skew-safe where a naive ``Window.partitionBy(host)`` would
   funnel the hottest host through one task;
5. fetch: snapshot fetch = join against the pages table (the deterministic
   analogue of request->response, /root/reference/hypertext-browser/http.rkt:124-136);
   over-budget URLs defer to the next round — ordering parity is unaffected
   because results order is path_key order, which is budget-invariant;
6. evaluate in place: each fetched (or replayed) state fans to the
   navigate node's children, and the Python function that holds the page
   evaluates every non-fetch node (extract/bind/jump) on it to fixpoint
   (``udfs.eval_to_fixpoint``, interpreter.rkt:54-59) — only new fetch
   requests, results, downloads and memo rows leave the worker, in ONE
   output write per round (the root's own evaluation runs on the driver,
   before round 0, with no Spark job);
7. sinks + checkpoint: every sink delta is committed by ADOPTING data
   files the round's own tasks already wrote (Iceberg add-files
   fast-append) — the fused stage's workers write the store and seen
   deltas, the round's output write the results and the next frontier —
   plus a per-round JSON manifest carrying per-partition lineage and
   fetch/extract metrics. A callable-mode round is a route job plus an
   eval job; the crawl is resumable from any round (the reference's
   fs-dict persistence, /root/reference/persistent/main.rkt:37-67).

Parquet + manifest stands in for Iceberg snapshots in this sandbox (no
Iceberg runtime jar is available); the table layout (append-only deltas +
round manifests, partition column ``round``) maps 1:1 onto Iceberg
snapshot/lineage semantics on a real cluster.
"""

from __future__ import annotations


import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..oracle import program as P
from .bloom import BloomShardStore
from .compiler import NodeSpec, compile_program
from .tableformat import ParquetManifestFormat, TableFormat, write_json_atomic
from .udfs import (
    CASCADE_SCHEMA, MEMO_JOINABLE_KINDS, eval_to_fixpoint, make_fused_fn,
    make_replay_fn, write_by_kind,
)

REQUEST_SCHEMA = (
    "pc long, url_canon string, url_full string, url_hash long, host string, "
    "referer string, method string, payload string, bindings string, path_key string, "
    "cookies string"
)

# durable-sink schemas, passed to the TableFormat reads so no round ever
# pays a parquet schema-inference job
SEEN_SCHEMA = (
    "url_hash long, url_canon string, host string, bucket int, status int, "
    "path_first string"
)
STORE_SCHEMA = "url_canon string, body string, status int, head string"
# results/downloads/memo sinks = kind= partitions adopted out of the round's
# output write by rename: every CASCADE column except the partition column
MEMO_SINK_SCHEMA = CASCADE_SCHEMA.split(", ", 1)[1]

_REQ_COLS = [
    "pc", "url_canon", "url_full", "url_hash", "host",
    "referer", "method", "payload", "bindings", "path_key", "cookies",
]
# write tasks of the routing job (see _round_fused)
_ROUTE_PARTS = 4


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
        salt_parts: int = 8,
        use_bloom: bool = True,
        bloom_bits: int = 1 << 17,
        robots_rules: DataFrame | None = None,
        host_budgets: DataFrame | None = None,  # (host, budget): per-host k
        fetch_mode: str = "snapshot",  # "snapshot" | "http" | "callable"
        http_timeout: float = 10.0,
        fetch_fn=None,  # callable mode: list[url] -> list[(body, status)]
        broadcast_seen_limit: int = 2_000_000,  # max `maybe` rows to broadcast
        table_format: TableFormat | None = None,
    ):
        self.spark = spark
        self.workdir = workdir
        # the Iceberg seam: all durable sinks (frontier/seen/store/results)
        # and round commits go through this interface (tableformat.py);
        # parquet+manifests by default, IcebergFormat on a real cluster
        self.table = table_format or ParquetManifestFormat(spark, workdir)
        self.politeness_k = politeness_k
        self.n_buckets = n_buckets
        self.salt_parts = salt_parts
        self.use_bloom = use_bloom
        self.bloom = BloomShardStore(n_buckets, bloom_bits) if use_bloom else None
        self._bloom_bc = None
        self.broadcast_seen_limit = broadcast_seen_limit
        self.robots = robots_rules
        self.host_budgets = host_budgets
        self.fetch_mode = fetch_mode
        self.http_timeout = http_timeout
        os.makedirs(workdir, exist_ok=True)
        self.pages = None
        if pages_df is not None:
            # snapshot "fetcher": pages keyed by canonical url
            html_col = pages_df.schema["html"].dataType.simpleString()
            body = F.col("html").cast("string") if html_col == "binary" else F.col("html")
            # pre-partitioned by the fetch-join key: the per-round join
            # against dequeued URLs re-shuffles only the (small) probe side,
            # never the page bodies — the cached partitioning satisfies the
            # join's distribution requirement every round
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
        elif fetch_mode == "snapshot":
            raise ValueError("snapshot mode requires a pages_df")
        self.fetch_fn = fetch_fn
        if fetch_mode == "callable" and fetch_fn is None:
            raise ValueError("callable mode requires a fetch_fn")

    # ------------------------------------------------------------ helpers

    def _path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    _SINK_SCHEMAS = {
        "seen": SEEN_SCHEMA,
        "store": STORE_SCHEMA,
        # results/downloads = kind= partitions adopted out of the round's
        # output write (same file schema as the memo sink: every CASCADE
        # column except the partition column itself)
        "results": MEMO_SINK_SCHEMA,
        "downloads": MEMO_SINK_SCHEMA,
        "frontier": REQUEST_SCHEMA,
        "memo": MEMO_SINK_SCHEMA,
    }

    def _append(self, df: DataFrame, sink: str, rnd: int) -> None:
        self.table.write_delta(df, sink, rnd)

    def _read_sink(self, sink: str) -> DataFrame | None:
        return self.table.read_sink(sink, self._SINK_SCHEMAS.get(sink))

    def _empty(self, schema: str) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    @staticmethod
    def _pq_rows(path: str) -> int:
        """Row count from parquet footers (transient round outputs) — no
        Spark job."""
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in os.listdir(path) if f.endswith(".parquet")
        )

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
        # round has a statically pinned strategy (broadcast memo-key/budget
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

        for junk in ("cascade_tmp", "store_inbox", "seen_inbox"):
            p = self._path(junk)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
        self.node_table = compile_program(root)
        # eval-output-cache replays (JVM join instead of Python re-eval)
        # are exact only for straight navigate/extract programs — see
        # MEMO_JOINABLE_KINDS
        self._memo_joinable = all(
            spec.kind in MEMO_JOINABLE_KINDS
            for spec in self.node_table.values()
        )
        # memo-on-miss: replay-evaluated states feed the memo sink too, so
        # a hub url re-linked at the same depth round after round pays the
        # Python replay once, then joins JVM-side forever after
        self._replay_fn = make_replay_fn(
            self.node_table,
            # snapshot mode has no memo sink/adopt — don't emit dead rows
            emit_memo=self._memo_joinable and self.fetch_mode == "callable",
        )
        if self.fetch_mode == "callable":
            # Worker-direct sink writes: the Python workers parquet each
            # fetched url's store row (body) and seen row into these inbox
            # dirs, which are ADOPTED as the round's store and seen deltas —
            # bodies never cross Arrow or enter the JVM writer, and neither
            # sink costs a commit job
            self._store_inbox = self._path("store_inbox")
            self._seen_inbox = self._path("seen_inbox")
            self._fused_fn = make_fused_fn(
                self.node_table, self.fetch_fn,
                store_dir=self._store_inbox, seen_dir=self._seen_inbox,
                n_buckets=self.n_buckets, emit_memo=self._memo_joinable,
            )

        # driver-tracked seen-set size (accumulated from the per-round delta
        # footer counts — no jobs): picks the seen-filter strategy each
        # round. ≤ broadcast cap → ONE broadcast anti-join against the seen
        # keys; above it → bloom prefilter / shuffle anti-join (design scale)
        self._n_seen = 0
        start_round = 0
        if resume:
            start_round = self._resume_round()
            # a round killed after adopting deltas but before its manifest
            # committed: roll them back, or the rerun would take its own
            # stale seen rows as "already seen" and never record them.
            # Round r writes seen/store/memo delta r and frontier/results/
            # downloads delta r+1
            for sink, first in (
                ("seen", 0), ("store", 0), ("memo", 0),
                ("frontier", 1), ("results", 1), ("downloads", 1),
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
                    self._fold_seen_frame(seen.select("bucket", "url_hash"))
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
            _, fetched, n_results, metrics = self._round(
                requests, rnd, n_req
            )
            total_fetched += fetched
            total_results += n_results
            metrics.update(
                round=rnd, requests=n_req,
                politeness_window=self._politeness_window,
                wall_s=round(time.time() - rt0, 3),
            )
            self._write_manifest(rnd, metrics)
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
        self._cur_round_parts = n_part
        self.spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
        requests = requests.repartition(n_part, "url_canon").persist()

        # one fetch candidate per distinct url, priority = lex-min path_key
        # url_hash/host are pure functions of url_canon (any row works);
        # url_full/method/payload belong to the DFS-min request — min_by on
        # the path key makes the fetch's request deterministic when e.g. a
        # GET link and a POST form target the same url in one round
        urls = requests.groupBy("url_canon").agg(
            F.min("path_key").alias("pk"),
            F.first("url_hash").alias("url_hash"),
            F.first("host").alias("host"),
            F.min_by("url_full", "path_key").alias("url_full"),
            F.min_by("method", "path_key").alias("method"),
            F.min_by("payload", "path_key").alias("payload"),
            F.min_by("cookies", "path_key").alias("cookies"),
        ).persist()

        _mark("requests_shuffle")
        unseen = self._filter_unseen(urls, n_req).persist()
        # handle kept BEFORE any rebinding (robots split below rebinds
        # `unseen`); without it the cached original leaked for the rest of
        # the crawl and the rebound, never-persisted frame got unpersisted
        self._round_persists.append(unseen)
        # urls already in the seen set: their requests proceed without a fetch
        # (cache hits — browser-services.rkt:36-40); computed from in-flight
        # frames, no rescan of the growing seen table
        seen_hits = urls.join(unseen.select("url_canon"), "url_canon", "left_anti")

        # robots.txt: blocked URLs become seen(status=999, empty body) —
        # they consume no politeness budget and the branch prunes naturally
        blocked = None
        if self.robots is not None:
            from .robots import ROBOTS_STATUS, split_blocked

            unseen, blocked = split_blocked(unseen, self.robots)
            blocked = blocked.withColumn(
                "bucket", F.pmod(F.col("url_hash"), F.lit(self.n_buckets)).cast("int")
            ).withColumn("status", F.lit(ROBOTS_STATUS))

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
                "salt", F.pmod(F.col("url_hash"), F.lit(self.salt_parts))
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

        if self.fetch_mode == "callable":
            return self._round_fused(
                requests, urls, unseen, seen_hits, blocked, selected,
                rnd, _mark, _marks,
            )

        fetched = self._fetch(selected, rnd).persist()

        seen_delta = fetched.select(
            "url_hash", "url_canon", "host", "bucket", "status",
            F.col("pk").alias("path_first"),
        )
        if blocked is not None:
            seen_delta = seen_delta.unionByName(
                blocked.select(
                    "url_hash", "url_canon", "host", "bucket", "status",
                    F.col("pk").alias("path_first"),
                )
            )
        self._append(seen_delta, "seen", rnd)
        _mark("fetch+seen_write")

        n_fetched, lineage = self._fold_seen_delta(rnd)
        _mark("delta_readback")

        # requests whose url is now fetched/blocked/previously-seen proceed;
        # the rest (over politeness budget) defer to the next round. Routing
        # is decided on SLIM key frames (no bodies): every persisted frame in
        # the round carries keys and metadata only, and page bodies flow
        # exactly once per round along cache -> join -> Arrow -> Python,
        # never through a persist or an extra shuffle (the property that
        # matters at 100 TB: body bytes move once).
        decided = (
            fetched.select("url_canon")
            .unionByName(seen_hits.select("url_canon"))
        )
        if blocked is not None:
            decided = decided.unionByName(blocked.select("url_canon"))
        routed = requests.join(
            decided.withColumn("_ok", F.lit(True)), "url_canon", "left"
        ).persist()
        self._round_persists.append(routed)
        ok = routed.where(F.col("_ok"))
        deferred = routed.where(F.col("_ok").isNull())

        # attach bodies via the batched replay (_replay): slim request rows
        # url-sorted behind the pages table's single row per url — each
        # page body crosses one exchange and one Arrow boundary, never a
        # per-path join. Missing page (404) => empty body; robots-blocked
        # urls (any round's block: the seen sink already holds this round's
        # delta) traverse with an empty body even when the snapshot table
        # has content for them.
        if self.robots is not None:
            blocked_all = self._read_sink("seen").where(F.col("status") == 999)
            ok = (
                ok.join(
                    blocked_all.select("url_canon", F.lit(True).alias("_pblk")),
                    "url_canon", "left",
                )
                .withColumn("_blk", F.coalesce(F.col("_pblk"), F.lit(False)))
                .drop("_pblk")
            )
        else:
            ok = ok.withColumn("_blk", F.lit(False))
        out1 = self._replay(ok, self._cur_round_parts)

        # results/downloads delta rnd+1: the root's driver-side evaluation
        # owns delta 0
        _mark("pre_cascade")
        n_results, out_path = self._cascade(out1, rnd + 1)
        _mark("cascade")
        req_dir = os.path.join(out_path, "kind=request")
        new_requests = (
            self.spark.read.schema(REQUEST_SCHEMA).parquet(req_dir)
            if os.path.isdir(req_dir) else self._empty(REQUEST_SCHEMA)
        )
        frontier_next = new_requests.unionByName(
            deferred.select(*_REQ_COLS)
        )
        self._checkpoint_frontier(frontier_next, rnd + 1)
        _mark("frontier_ckpt")

        requests.unpersist()
        urls.unpersist()
        fetched.unpersist()
        for df in self._round_persists:
            df.unpersist()
        self._drop_tmp_sinks()
        metrics = {
            "fetched": n_fetched,
            "results": n_results,
            "partitions": lineage,
            "phases": {
                b: round(tb - ta, 2)
                for (a, ta), (b, tb) in zip(_marks, _marks[1:])
            },
        }
        return frontier_next, n_fetched, n_results, metrics

    def _round_fused(
        self, requests, urls, unseen, seen_hits, blocked, selected,
        rnd, _mark, _marks,
    ):
        """Callable-mode round middle. FRESH urls run through the fused
        fetch+extract mapInPandas stage (fetch_fn called exactly once per
        url per crawl), whose workers write the bodies to the store sink —
        the crash-resumable page cache — and the round's seen delta.
        CACHE-HIT traversals (urls fetched in an earlier round, or
        robots-blocked replays) never reach fetch_fn: they evaluate through
        the batched store replay (``_replay``) — the memoized replay of
        browser-services.rkt:36-40, correct for live/non-deterministic
        fetchers (round 1 re-fetched cache hits, bypassing the politeness
        budget). All routing frames are slim; body bytes flow
        fetch→store once, and per replaying round each body crosses
        one url_canon exchange + one Arrow boundary — never a per-path
        join or a dedup shuffle."""
        decided = selected.select(
            "url_canon", F.lit(True).alias("_fresh"), F.lit(False).alias("_blk")
        ).unionByName(
            seen_hits.select(
                "url_canon", F.lit(False).alias("_fresh"), F.lit(False).alias("_blk")
            )
        )
        if blocked is not None:
            decided = decided.unionByName(
                blocked.select(
                    "url_canon", F.lit(False).alias("_fresh"),
                    F.lit(True).alias("_blk"),
                )
            )
        # ONE lineage-break job per round: every request row is routed into
        # a segment — fresh (politeness winner, gets the fused fetch+eval),
        # jvmrep (cache hit whose exact input state is in the eval-output
        # memo: replayed by a pure JVM join), pyrep (cache hit that needs
        # the batched Python replay: memo miss or robots-blocked), or
        # deferred (over budget, back to the frontier) — and the whole
        # tagged frame is written once, hive-partitioned by ``seg``. The
        # rest of the round (eval job, frontier adoption) reads plain
        # columnar scans of its subdirs; per-segment row counts
        # come free from the parquet footers, so empty branches are PRUNED
        # DRIVER-SIDE (no count() jobs, no reliance on AQE empty-relation
        # propagation for the body-bearing store scan). Before this, the
        # eval query inlined the requests→seen-filter→politeness→route
        # lineage once per reference (~190 KB plan text), Catalyst + AQE
        # re-optimization cost seconds of driver time per round, and the
        # broadcast-subquery threads raced the unmaterialized persists,
        # re-EXECUTING the routing/memo subtrees concurrently (profiled:
        # one politeness-bound round burned 298 CPU-s of JVM time on <10 MB
        # of data).
        base = requests.join(decided, "url_canon", "left")
        if self.robots is not None:
            # previously-blocked seen hits replay with an empty body (only
            # replay rows can match: blocked urls are in the seen set)
            seen_prev = self._read_sink("seen")
            if seen_prev is not None:
                blocked_prev = seen_prev.where(F.col("status") == 999)
                base = (
                    base.join(
                        blocked_prev.select(
                            "url_canon", F.lit(True).alias("_pblk")
                        ),
                        "url_canon", "left",
                    )
                    .withColumn(
                        "_blk",
                        F.col("_blk") | F.coalesce(F.col("_pblk"), F.lit(False)),
                    )
                    .drop("_pblk")
                )

        # eval-output-cache replay: for memo-joinable programs (straight
        # navigate/extract — the dominant crawl shape), a cached url's
        # replay is a pure JVM JOIN against the memo sink: match the input
        # state (url, pc, url_full, bindings, method, pre-fold jar), emit
        # the cached request/result rows with path_key = prefix ++ suffix.
        # No page body is read, parsed, or re-evaluated — at 10^10 URLs,
        # re-extracting a hub page once per new referring path is the
        # dominant wasted work, and this removes it entirely. Misses
        # (states never evaluated at fetch time, e.g. a branch arriving
        # with a different cookie jar) and robots-blocked branches fall
        # back to the batched Python replay, which is always exact.
        # Hit-detection happens HERE, in the routing job, against the
        # DISTINCT memo input-state keys (filtered to this round's
        # candidate urls — a superset of the replay urls is safe: fresh and
        # deferred urls were never fetched, so they cannot appear among the
        # memo's cur_urls), so the segment tag already encodes the
        # miss/hit split and the eval job never re-plans the anti-join.
        memo = self._read_sink("memo") if self._memo_joinable else None
        memo_f = None
        if memo is not None:
            cand_urls = urls.select("url_canon")
            memo_f = memo.join(
                F.broadcast(cand_urls),
                memo["cur_url"] == cand_urls["url_canon"], "left_semi",
            ).persist()  # reused by the eval job's hit join
            self._round_persists.append(memo_f)
            memo_keys = memo_f.select(
                "cur_url", "mk_pc", "mk_full", "mk_bindings",
                "mk_method", "mk_cookies",
            ).distinct()
            hit_cond = (
                (base["url_canon"] == memo_keys["cur_url"])
                & (base["pc"] == memo_keys["mk_pc"])
                & base["url_full"].eqNullSafe(memo_keys["mk_full"])
                & base["bindings"].eqNullSafe(memo_keys["mk_bindings"])
                & (
                    F.coalesce(base["method"], F.lit("GET"))
                    == F.coalesce(memo_keys["mk_method"], F.lit("GET"))
                )
                & base["cookies"].eqNullSafe(memo_keys["mk_cookies"])
            )
            # memo_keys is DISTINCT on exactly the join keys → ≤1 match per
            # row: the left join marks without duplicating
            base = base.join(F.broadcast(memo_keys), hit_cond, "left").withColumn(
                "_hit", memo_keys["cur_url"].isNotNull()
            ).drop(
                "cur_url", "mk_pc", "mk_full", "mk_bindings",
                "mk_method", "mk_cookies",
            )
        else:
            base = base.withColumn("_hit", F.lit(False))

        seg_col = (
            F.when(F.col("_fresh").isNull(), F.lit("deferred"))
            .when(F.col("_fresh"), F.lit("fresh"))
            .when(F.col("_blk") | ~F.col("_hit"), F.lit("pyrep"))
            .otherwise(F.lit("jvmrep"))
        )
        routed_path = self._path("cascade_tmp", f"routed={rnd}")
        # the routed rows are SLIM (no bodies) and every downstream consumer
        # re-partitions for its own needs (fresh → url_canon co-location,
        # pyrep → replay exchange), so the write's partitioning is pure
        # task/file overhead: collapse to a few write tasks instead of
        # shuffle_partitions × segs tiny files + footers per round — at
        # politeness-bound (many-round, few-rows) tiers this is a per-round
        # fixed cost that doesn't shrink with cores
        base.withColumn("seg", seg_col).drop("_fresh", "_hit").repartition(
            _ROUTE_PARTS
        ).write.partitionBy("seg").mode("overwrite").parquet(routed_path)
        self._tmp_sink_paths.append(routed_path)
        segs = {
            d[4:]: self._pq_rows(os.path.join(routed_path, d))
            for d in os.listdir(routed_path) if d.startswith("seg=")
        }
        self._n_py_replay = segs.get("pyrep", 0)
        _ROUTED_SCHEMA = REQUEST_SCHEMA + ", _blk boolean"

        def _seg(name):
            return self.spark.read.schema(_ROUTED_SCHEMA).parquet(
                os.path.join(routed_path, f"seg={name}")
            )

        _mark("route")

        # repartition restores the url_canon co-location the parquet
        # round-trip may lose (a row-group split could put one url's paths
        # in two read partitions — and fetch_fn MUST fire once per url);
        # sortWithinPartitions then keeps all paths of one url consecutive,
        # so the fused stage's eval memo is O(1): one fetch + one node eval
        # per (url, pc, bindings), replayed for every further path
        # (JVM-side sort of slim rows, one slim shuffle)
        outs = []
        if segs.get("fresh", 0):
            outs.append(
                _seg("fresh").select(*_REQ_COLS)
                .repartition(
                    # width follows the fresh row count (free, from the
                    # routed parquet footers): tiny rounds stop paying
                    # cores-many task launches for a handful of fetches
                    self._round_parts(segs.get("fresh", 0)), "url_canon"
                )
                .sortWithinPartitions("url_canon", "pc", "bindings")
                .mapInPandas(self._fused_fn, CASCADE_SCHEMA)
            )
        # cache-hit replay (_replay): the url's single store row leads its
        # slim replay rows through one batched Python stage — identical
        # semantics to a fresh fetch because fetch memoization replays the
        # SAME response per url (browser-services.rkt:36-40). The branch
        # exists ONLY when the footers say there are pyrep rows —
        # memo-covered rounds never plan the body-bearing store scan at
        # all; its width follows the pyrep row count like the fresh stage.
        if segs.get("pyrep", 0):
            outs.append(
                self._replay(_seg("pyrep"), self._round_parts(segs["pyrep"]))
            )
        if memo_f is not None and segs.get("jvmrep", 0):
            jr = _seg("jvmrep")
            cond = (
                (jr["url_canon"] == memo_f["cur_url"])
                & (jr["pc"] == memo_f["mk_pc"])
                & jr["url_full"].eqNullSafe(memo_f["mk_full"])
                & jr["bindings"].eqNullSafe(memo_f["mk_bindings"])
                & (
                    F.coalesce(jr["method"], F.lit("GET"))
                    == F.coalesce(memo_f["mk_method"], F.lit("GET"))
                )
                & jr["cookies"].eqNullSafe(memo_f["mk_cookies"])
            )
            nl = lambda t: F.lit(None).cast(t)  # noqa: E731
            outs.append(
                jr.join(memo_f, cond, "inner")
                .where(memo_f["mk"].isin("request", "result"))
                .select(
                    memo_f["mk"].alias("kind"),
                    memo_f["pc"].alias("pc"),
                    nl("string").alias("cur_url"),
                    memo_f["bindings"].alias("bindings"),
                    F.concat(jr["path_key"], memo_f["path_key"]).alias("path_key"),
                    memo_f["url_canon"].alias("url_canon"),
                    memo_f["url_full"].alias("url_full"),
                    memo_f["url_hash"].alias("url_hash"),
                    memo_f["host"].alias("host"),
                    memo_f["referer"].alias("referer"),
                    memo_f["method"].alias("method"),
                    memo_f["payload"].alias("payload"),
                    memo_f["value"].alias("value"),
                    memo_f["vkind"].alias("vkind"),
                    memo_f["cookies"].alias("cookies"),
                    nl("string").alias("mk"),
                    nl("long").alias("mk_pc"),
                    nl("string").alias("mk_full"),
                    nl("string").alias("mk_method"),
                    nl("string").alias("mk_bindings"),
                    nl("string").alias("mk_cookies"),
                )
            )
        first_out = outs[0] if outs else self._empty(CASCADE_SCHEMA)
        for o in outs[1:]:
            first_out = first_out.unionByName(o)
        # the output's kind=request/kind=memo partitions are ADOPTED below
        n_results, out_path = self._cascade(first_out, rnd + 1)
        _mark("fused_cascade")

        # Commit this round's sinks by ADOPTING files its own tasks already
        # wrote (adopt_delta/adopt_parts = Iceberg add-files fast-append,
        # tableformat.py) — no commit job re-reads or re-encodes a byte:
        # - store: the fused stage's workers parquet'd each fetched url's
        #   body into the store inbox (the page cache replays read);
        # - memo: the round output's kind=memo partition (slim rows);
        # - seen: the workers also wrote each fetched url's seen row (keys,
        #   status, bucket, DFS-min path over the url's rows this round —
        #   the pre-politeness `urls` aggregate's pk) into the seen inbox;
        #   robots-blocked urls are the only seen rows no worker writes,
        #   so robots crawls append them to the same inbox first (kept one
        #   flat directory: compact_sink dissolves any sub-level, which
        #   would then clash with uncompacted rounds on read);
        # - frontier (rnd+1): this round's DEFERRED rows (the routing job's
        #   seg=deferred partition) + its NEW request rows (the round
        #   output's kind=request partition) — directory renames
        #   instead of a full frontier rewrite, which in politeness-bound
        #   regimes (the deferred rows often >80% of the frontier) was the
        #   biggest per-round fixed cost. The adopted kind=request files
        #   carry the full output schema; frontier readers project to
        #   REQUEST_SCHEMA.
        self.table.adopt_delta(self._store_inbox, "store", rnd)
        if self._memo_joinable:
            self.table.adopt_delta(
                os.path.join(out_path, "kind=memo"), "memo", rnd
            )
        if blocked is not None:
            blocked.select(
                "url_hash", "url_canon", "host", "bucket", "status",
                F.col("pk").alias("path_first"),
            ).write.mode("append").parquet(self._seen_inbox)
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
            "py_replay_rows": getattr(self, "_n_py_replay", None),
            "partitions": lineage,
            "phases": {
                b: round(tb - ta, 2)
                for (a, ta), (b, tb) in zip(_marks, _marks[1:])
            },
        }
        return None, n_fetched, n_results, metrics

    def _fetch(self, selected: DataFrame, rnd: int) -> DataFrame:
        """Fetch the dequeued URLs. Snapshot mode joins the pages table
        (missing page → 404, empty body). HTTP mode fetches in mapInPandas
        batches (the distributed request->response,
        /root/reference/hypertext-browser/http.rkt:124-136) and persists
        bodies to the store sink, which the batched replay reads."""
        if self.fetch_mode == "snapshot":
            # status probe against page KEYS only — bodies stay out of the
            # persisted fetch frame and reach Python once, through the
            # batched replay (_replay)
            page_keys = self.pages.select(
                "url_canon", F.lit(True).alias("_hit")
            )
            return (
                selected.join(page_keys, "url_canon", "left")
                .withColumn("status", F.when(F.col("_hit").isNull(), 404).otherwise(200))
                .drop("_hit")
                .withColumn(
                    "bucket", F.pmod(F.col("url_hash"), F.lit(self.n_buckets)).cast("int")
                )
            )
        from .fetch import make_http_fetch_fn

        fetched = selected.repartition(
            self.spark.sparkContext.defaultParallelism, "host"
        ).mapInPandas(
            make_http_fetch_fn(self.http_timeout),
            "url_canon string, pk string, url_hash long, host string, "
            "url_full string, method string, payload string, "
            "body string, status int, head string",
        ).withColumn(
            "bucket", F.pmod(F.col("url_hash"), F.lit(self.n_buckets)).cast("int")
        )
        # bodies persist to the store sink (the crash-resumable page cache —
        # the reference's fs-dict, persistent/main.rkt:37-67)
        self._append(
            fetched.select("url_canon", "body", "status", "head"), "store", rnd
        )
        # slim return: bodies live in the store sink (= the replay's body
        # source); only keys + status flow onward
        return self.table.delta_df("store", rnd).select(
            "url_canon", "status"
        ).join(
            selected, "url_canon"
        ).withColumn(
            "bucket", F.pmod(F.col("url_hash"), F.lit(self.n_buckets)).cast("int")
        )

    def _filter_unseen(self, urls: DataFrame, n_candidates: int | None = None) -> DataFrame:
        seen = self._read_sink("seen")
        if seen is None:
            return urls
        seen_keys = seen.select("url_hash", "url_canon")
        # Adaptive, by DRIVER-KNOWN sizes (both free — footer/summary
        # metadata, no jobs). Tier 1: the whole seen set fits under the
        # broadcast cap → ONE broadcast anti-join straight against the seen
        # keys. This replaces the double-broadcast shape (broadcast the
        # candidates, semi-join the seen scan, broadcast the matches back),
        # which cost two sequential broadcast-build sub-jobs per round —
        # pure driver-sync fixed cost at local/bench scale. At 10^10 the
        # seen set blows the cap and the later tiers take over.
        n_seen = getattr(self, "_n_seen", None)
        if n_seen is not None and n_seen <= self.broadcast_seen_limit:
            return urls.join(
                F.broadcast(seen_keys.select("url_canon")),
                "url_canon", "left_anti",
            )
        # Tier 2: this round's candidate set fits under the broadcast cap
        # (known free, from the frontier delta's row count) — the exact
        # double-broadcast check covers EVERY candidate in one scan of the
        # seen sink — the Bloom prefilter stage would only add an Arrow
        # roundtrip + a persist to the round's critical path. Skip it; the
        # shards still fold every round (_fold_seen_delta), so the prefilter
        # is warm the moment a round's frontier exceeds the cap.
        if (
            n_candidates is not None
            and n_candidates <= self.broadcast_seen_limit
        ):
            matched = seen_keys.select("url_canon").join(
                F.broadcast(urls.select("url_canon")), "url_canon", "left_semi"
            )
            return urls.join(F.broadcast(matched), "url_canon", "left_anti")
        if self.bloom is not None and self.bloom.shards:
            # ship the shard map as a proper broadcast variable, re-broadcast
            # per round as the shards grow (the closure-capture shortcut
            # re-serialized the map into every task)
            if self._bloom_bc is not None:
                self._bloom_bc.unpersist()
            self._bloom_bc = self.spark.sparkContext.broadcast(self.bloom)
            bloom_bc = self._bloom_bc

            def flag(batches):
                import pandas as pd  # noqa: F401

                bloom = bloom_bc.value
                for pdf in batches:
                    pdf = pdf.copy()
                    pdf["maybe_seen"] = bloom.filter_frame(
                        pdf.assign(bucket=pdf["url_hash"] % bloom.n_buckets)
                    )
                    yield pdf

            flagged = urls.mapInPandas(
                flag,
                urls.schema.simpleString().replace("struct<", "").rstrip(">").replace(":", " ")
                + ", maybe_seen boolean",
            ).persist()
            self._round_persists.append(flagged)
            definitely_new = flagged.where(~F.col("maybe_seen")).drop("maybe_seen")
            maybe = flagged.where(F.col("maybe_seen")).drop("maybe_seen")
            # `maybe` holds this round's re-discovered duplicates + bloom
            # false positives. In a link graph true dupes dominate (hub pages
            # are re-linked constantly), so `maybe` can be large; the
            # broadcast-driven exact check (seen table SCANNED, never
            # shuffled) is only safe below a size cap. Above it, fall back to
            # the shuffle anti-join — at design scale that path is a
            # co-partitioned join against the bucket-partitioned seen sink.
            # `maybe` ⊆ this round's distinct urls ⊆ the frontier rows, so
            # when the frontier row count (free, from parquet footers) is
            # already under the cap, skip the counting job entirely
            n_maybe = (
                n_candidates
                if n_candidates is not None
                and n_candidates <= self.broadcast_seen_limit
                else maybe.count()
            )
            if n_maybe <= self.broadcast_seen_limit:
                # both joins broadcast the small side; the growing seen table
                # is only ever scanned (two slim columns, partition-prunable).
                # url_canon alone is the join key (url_hash is a pure
                # function of it).
                matched = seen_keys.select("url_canon").join(
                    F.broadcast(maybe.select("url_canon")), "url_canon", "left_semi"
                )
                checked = maybe.join(F.broadcast(matched), "url_canon", "left_anti")
            else:
                checked = maybe.join(
                    seen_keys.select("url_canon"), "url_canon", "left_anti"
                )
            return definitely_new.unionByName(checked)
        return urls.join(seen_keys, ["url_hash", "url_canon"], "left_anti")

    def _fold_seen_frame(self, df: DataFrame) -> None:
        """Fold an arbitrarily large (bucket, url_hash) frame into the Bloom
        shards without the frame ever reaching the driver: one
        ``applyInPandas`` per bucket builds that bucket's bitset
        executor-side; the driver collects exactly ``n_buckets`` rows of
        (bucket, bitset) and ORs them in. This is the resume-path rebuild
        (reference semantics: cache reopen,
        /root/reference/persistent/main.rkt:63-67) and the same shape
        ``_fold_seen_delta`` uses for over-gate round deltas."""
        from .bloom import build_bitset

        m_bits, k = self.bloom.m_bits, self.bloom.k

        def fold(pdf):
            import numpy as np
            import pandas as pd

            return pd.DataFrame([{
                "bucket": int(pdf["bucket"].iloc[0]),
                "bits": build_bitset(
                    pdf["url_hash"].to_numpy().astype(np.uint64), m_bits, k
                ),
            }])

        rows = (
            df.groupBy("bucket")
            .applyInPandas(fold, "bucket int, bits binary")
            .collect()
        )
        for r in rows:
            self.bloom.merge_shard(r["bucket"], bytes(r["bits"]))

    def _fold_seen_delta(self, rnd: int) -> tuple[int, list[dict]]:
        """Fold this round's seen delta into the Bloom shards and compute
        the fetch metrics + per-partition lineage, gated by delta size:

        - delta ≤ broadcast_seen_limit: ONE driver-side columnar read of the
          (slim) delta, pandas fold — zero Spark jobs;
        - above the gate: a distributed ``applyInPandas`` over the delta
          builds per-bucket bitsets AND the lineage counters in one pass,
          and only ``n_buckets`` rows of (bucket, bitset, counters) reach
          the driver — the 10^10-URL form, where a round's delta never fits
          on the driver. The driver only ORs pre-built bitsets.
        """
        n_delta = self.table.delta_rows("seen", rnd)
        self._n_seen = getattr(self, "_n_seen", 0) + n_delta
        if n_delta == 0:
            return 0, []  # the round adopted no seen delta
        if n_delta <= self.broadcast_seen_limit:
            delta_pdf = self.table.read_delta_pandas(
                "seen", rnd,
                columns=["bucket", "url_hash", "host", "status"],
            )
            if self.bloom is not None:
                self.bloom.add_delta(delta_pdf[["bucket", "url_hash"]])
            n_fetched = int((delta_pdf["status"] != 999).sum())
            lineage = [
                {"bucket": int(b), "fetched": int(g["status"].ne(999).sum()),
                 "hosts": int(g["host"].nunique())}
                for b, g in delta_pdf.groupby("bucket")
            ]
            return n_fetched, lineage

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
                "fetched": int((pdf["status"] != 999).sum()),
                "hosts": int(pdf["host"].nunique()),
            }])

        rows = (
            self.table.delta_df("seen", rnd, SEEN_SCHEMA)
            .groupBy("bucket")
            .applyInPandas(fold, "bucket int, bits binary, fetched long, hosts long")
            .collect()
        )
        if with_bits:
            for r in rows:
                self.bloom.merge_shard(r["bucket"], bytes(r["bits"]))
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
        adopts ``kind=memo`` and ``kind=request`` (or reads the latter);
        the rest is deleted at the end of the round (``_drop_tmp_sinks``).
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
            d[5:]: self._pq_rows(os.path.join(path, d))
            for d in os.listdir(path) if d.startswith("kind=")
        }
        for k, sink in (("result", "results"), ("download", "downloads")):
            if kinds.get(k, 0):
                self.table.adopt_delta(os.path.join(path, f"kind={k}"), sink, rnd)
        return kinds.get("result", 0)

    # ------------------------------------------------------- checkpointing

    def _replay(self, rows: DataFrame, width: int) -> DataFrame:
        """Batched cache-hit replay (make_replay_fn): the slim replay rows
        (``_src=1``, no body) unioned with each replayed url's single body
        row from ``_body_source`` (``_src=0``), semi-joined to the replay
        url set via a broadcast of the SLIM url list. One url_canon
        exchange of *width* partitions, then url-sorted so each url's body
        row leads its replay rows into one ``mapInPandas`` — a page body
        crosses exactly one shuffle and one Arrow boundary and is never
        copied per path."""
        rows = rows.select(
            "pc", "url_canon", "url_full", "bindings", "path_key",
            "method", "cookies", "_blk", F.lit(1).alias("_src"),
        )
        bodies = self._body_source().join(
            F.broadcast(rows.select("url_canon").distinct()),
            "url_canon", "left_semi",
        ).withColumn("_src", F.lit(0))
        return (
            rows.unionByName(bodies, allowMissingColumns=True)
            .repartition(width, "url_canon")
            .sortWithinPartitions("url_canon", "_src", "pc", "bindings")
            .mapInPandas(self._replay_fn, CASCADE_SCHEMA)
        )

    def _body_source(self) -> DataFrame:
        """(url_canon, body, head) for the cache-hit replay: the pages
        table (no head) in snapshot mode, the fetched store otherwise."""
        if self.fetch_mode == "snapshot":
            return self.pages.withColumn("head", F.lit(None).cast("string"))
        store = self._read_sink("store")
        if store is None:
            return self._empty("url_canon string, body string, head string")
        return store.select("url_canon", "body", "head")

    def _checkpoint_frontier(self, df: DataFrame, rnd: int) -> None:
        # The parquet round-trip is the lineage break. Repartitioning here is
        # load-bearing twice over: request rows are tiny (no bodies), the
        # frontier's file count sets the probe-side partitioning of next
        # round's broadcast joins (without it a narrow round output
        # propagates 1-2 partitions into the CPU-heavy python stages), and it
        # must be ROUND-ROBIN — partitioning by host would put the Zipf hot
        # host's half of the frontier into one straggler task.
        # part="full": the frontier sink's deltas are part-structured
        # because callable rounds ADOPT theirs from the routing/eval
        # outputs (adopt_parts) — every delta must share the layout.
        # Width: the next round re-partitions adaptively on read (see
        # _round), so the old propagate-narrow-partitioning concern is
        # handled there; here the width only sets write-task + file count,
        # scaled with the current round (next frontier ≈ branching × it).
        w = min(
            self.spark.sparkContext.defaultParallelism,
            max(1, 2 * self._cur_round_parts),
        )
        self.table.write_delta(
            df.repartition(w),
            "frontier", rnd, part="full",
        )

    def _drop_tmp_sinks(self) -> None:
        """Delete the round's transient outputs (routing segments and the
        evaluation output); called after every consumer of them has
        executed."""
        import shutil

        for p in self._tmp_sink_paths:
            shutil.rmtree(p, ignore_errors=True)
        self._tmp_sink_paths.clear()

    def _write_manifest(self, rnd: int, metrics: dict) -> None:
        self.table.commit_round(rnd, metrics)

    def _resume_round(self) -> int:
        done = self.table.committed_rounds()
        return (done[-1] + 1) if done else 0

    def compact(
        self,
        sinks: tuple[str, ...] = ("seen", "store", "results"),
        target_bytes: int = 64 << 20,
    ) -> dict:
        """Table maintenance between crawls/rounds: execute the binpack
        rewrite (TableFormat.compact_sink) on the fast-append sinks and
        record file-count before/after per sink in a maintenance manifest
        next to the round manifests (``rounds/compact_after_<N>.json``) —
        the continuous small-file upkeep a long-running crawl table needs
        (the planning half is the compact_plan query; Iceberg analogue:
        rewrite_data_files + a maintenance snapshot). Safe at any round
        boundary, including mid-crawl before a resume: rewrites preserve
        rows and the round column exactly (pinned by
        tests/test_tableformat.py::test_compact_mid_crawl_resume)."""
        report = {}
        for sink in sinks:
            report[sink] = self.table.compact_sink(sink, target_bytes)
        done = self.table.committed_rounds()
        after = done[-1] if done else -1
        rounds_dir = os.path.join(self.workdir, "rounds")
        os.makedirs(rounds_dir, exist_ok=True)
        write_json_atomic(
            os.path.join(rounds_dir, f"compact_after_{after}.json"), report
        )
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
        df = self._read_sink("seen")
        return df if df is not None else self._empty(
            "url_hash long, url_canon string, host string, bucket int, status int, path_first string"
        )

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
