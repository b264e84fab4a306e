"""Physical-plan audit: .explain("formatted") for the headline queries, with
automated checks that the plans have the shape the scale design demands
(pushed filters, pruned scans, broadcast where intended, whole-stage
codegen). Writes PLANS.md.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from boris_spark.engine.session import get_spark  # noqa: E402
from boris_spark.ops import kernel_gates as _kg  # noqa: E402,F401 — registers gates
from boris_spark.ops.queries import QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# query → list of substrings that MUST appear in the formatted plan
EXPECTATIONS = {
    # filter pushed to the parquet scan + partial-agg shape
    "tpch_q1": ["PushedFilters: [IsNotNull(l_shipdate)", "HashAggregate"],
    # dim filter pushed down; fact joined via broadcast (no lineitem shuffle
    # on the customer key)
    # dim broadcast for orders⋈customer; lineitem⋈keys pinned shuffle-hash
    # (the hint) so the planner can never broadcast the FACT side — the
    # round-2 sandbox-threshold artifact behind the spurious q3 flag
    "tpch_q3_revenue": [
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)",
    ],
    # single shuffle on the window partition key
    "frontier_topk_per_host": ["Window", "hashpartitioning(user_id"],
    "seen_anti_join": ["LeftAnti"],
    # column pruning: scan reads exactly the two needed columns
    "dedup_exact": ["HashAggregate", "ReadSchema: struct<doc_id:bigint,text:string>"],
    "token_count": ["ReadSchema: struct<doc_id:bigint,text:string>", "Project"],
    # tiny query side broadcast against the corpus — corpus never shuffles
    "ann_cosine_topk": ["BroadcastNestedLoopJoin"],
    "events_sessionize": ["Window"],
    # one shuffle (tokens→doc array); 60 bit votes are codegen'd
    # higher-order fns in the Project, not a 60× explode
    "dedup_simhash": ["aggregate(transform(", "collect_list(h"],
    # distributed block-pair GEMM: block pairs broadcast, per-pair GEMM in
    # applyInPandas — NO driver collect of vector data in the plan
    "dedup_embedding_cosine": ["FlatMapGroupsInPandas", "BroadcastHashJoin"],
    # candidate-bounded verification: exact jaccard only via per-doc arrays
    # (array_intersect), candidates from band buckets — the full shingle
    # self-join exists only in the DuckDB oracle
    "dedup_minhash_lsh": ["array_intersect", "band_sig"],
    # exact prefix-filter join: per-doc array slice + length filter, then
    # array_intersect verification
    "dedup_ngram_jaccard": ["array_intersect", "slice("],
    # IVF: centroid assignment in one MapInPandas pass; candidates via a
    # broadcast join on cluster id — the corpus is never cross-joined
    "ann_ivf_topk": ["MapInPandas", "BroadcastHashJoin"],
    # iterative priority recompute: contributions aggregated per dst with
    # map-side partial agg; edge scan column-pruned to the two keys
    "frontier_priority_pagerank": [
        "HashAggregate",
        "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>",
    ],
    # decontamination: tiny probe set broadcast against the exploded token
    # windows (windows never shuffle pre-join); the only exchange is the
    # per-doc aggregation
    "decontaminate_ngram": ["BroadcastHashJoin", "HashAggregate"],
    # PII scrub: pure codegen'd projection, single-column scan, no exchange
    "pii_redact": ["ReadSchema: struct<o_orderkey:bigint>"],
    # blocklist filter: map-only higher-order-function pass, two-column
    # pruned scan, no exchange anywhere in the plan
    "badwords_filter": ["ReadSchema: struct<doc_id:bigint,text:string>"],
    # license classification: codegen'd CASE/contains projection, map-only
    "license_detect": ["ReadSchema: struct<doc_id:bigint,text:string>"],
    # unigram-LM score: every shuffle carries map-side partial agg and the
    # token join is aggregate-to-aggregate; grand total broadcasts back
    "doc_lm_score": ["HashAggregate", "BroadcastNestedLoopJoin"],
    # paragraph-chunk dedup: chunking + md5 are codegen'd (no Python stage);
    # the first-occurrence window shuffles on the 16-byte chunk hash k,
    # never on chunk text; per-doc rollup carries partial agg
    "dedup_paragraph_chunks": ["md5(", "hashpartitioning(k#", "Window"],
    # host rollup: two-column pruned scan, one partial-agg shuffle on the
    # domain key; keep decision is a post-agg projection
    "host_quality_rollup": [
        "HashAggregate",
        "ReadSchema: struct<text:string,source:string>",
    ],
    # sitemap discovery: codegen'd multiline regexp + explode, map-only
    "sitemap_discovery": ["explode(regexp_extract_all(", "Generate"],
    # snapshot diff: one full-outer sort-merge join on url; digests are
    # scan-side sha2 projections (payloads never cross the wire)
    "crawl_snapshot_diff": ["SortMergeJoin", "FullOuter", "sha2("],
    # shard shuffle: md5 order key + hex-digit shard are codegen'd
    # projections; ONE hash exchange on the shard key feeds the window
    "corpus_shard_shuffle": ["md5(", "hashpartitioning(shard#", "Window"],
    # host CC: converged label frame is a checkpointed RDD scan (lineage
    # truncated per round — the iterative-plan requirement)
    "host_graph_components": ["Scan ExistingRDD", "HashAggregate"],
    # repetition score: both aggregations carry map-side partial agg
    "doc_repetition": [
        "HashAggregate",
        "ReadSchema: struct<doc_id:bigint,text:string>",
    ],
    # stratified sample: rank-limit pushdown keeps per-partition state at
    # k rows per stratum instead of sorting whole strata
    "corpus_sample_stratified": [
        "WindowGroupLimit",
        "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>",
    ],
    # vocab: global top-k planned as bounded per-partition heaps, never a
    # full sort of the vocabulary
    "vocab_topk": ["TakeOrderedAndProject", "HashAggregate"],
    # cluster assignment: the large-star/small-star rounds ran eagerly
    # behind localCheckpoint lineage breaks, so the final plan is the
    # label join reading the checkpointed fixpoint (Scan ExistingRDD) —
    # no shingle or pair lineage can reappear here; the pair-generation
    # shape itself is pinned under dedup_minhash_lsh
    "dedup_clusters": ["Scan ExistingRDD", "HashAggregate"],
    # survivor selection: single agg shuffle, max_by with partial agg —
    # no window, no sort of any cluster's members
    "dedup_keep_canonical": ["HashAggregate", "max_by"],
    # sequence packing: the global running token offset must be a
    # distributed prefix sum — per-bucket window behind a hash exchange on
    # the bucket key, offsets broadcast — never a single global window
    "pack_sequences": ["hashpartitioning(bucket", "BroadcastHashJoin"],
    # mixing weights: corpus reduced to strata by one partial-agg shuffle,
    # grand total broadcast back; nothing corpus-sized moves twice
    "domain_mix_weights": ["BroadcastNestedLoopJoin", "HashAggregate"],
    # host graph: Arrow-batched parse then one partial-agg rollup shuffle
    "host_graph_edges": ["MapInPandas", "HashAggregate"],
    # tf-idf keywords: per-doc top-k must plan as rank-limit pushdown —
    # k rows of window state, never a full sort of a document's vocabulary
    "doc_tfidf_topk": ["WindowGroupLimit", "HashAggregate"],
    # inverted index: df stop-listing and the posting collect share one
    # token-keyed exchange (the join + final agg reuse the same
    # partitioning); postings aggregate with partial agg
    "inverted_index": ["hashpartitioning(tok", "HashAggregate"],
    # span dedup: the window fan-out is codegen'd (no Python stage), and
    # only 64-bit hashes shuffle — a raw window-string partitioning would
    # move ~8x the corpus through the exchange
    "dedup_substring_spans": ["HashAggregate", "xxhash64"],
    # CDX build: digest/SURT are scan-side projections; the only wide op
    # is the final range exchange for the sorted index shards
    "cdx_index": ["rangepartitioning(surt", "Sort"],
    # recrawl schedule: per-host top-k plans as rank-limit pushdown, same
    # as the frontier dequeue
    "recrawl_schedule": ["WindowGroupLimit"],
    # composed curation pipeline: dedup agg + survivor join + filter +
    # prefix-sum packing fuse into one plan; the packing window must sit
    # behind the bucket hash exchange, never a single global sort
    "corpus_curate": ["hashpartitioning(bucket", "BroadcastHashJoin", "HashAggregate"],
    # trap detection: segment analysis is a codegen'd scan projection
    # (no UDF); the host rollup is one partial-agg shuffle
    "crawl_trap_hosts": ["HashAggregate", "ReadSchema: struct<o_orderkey:bigint>"],
    # robots decision: rules broadcast, URL side scanned once, per-URL
    # best-match via one partial-agg shuffle; the LIKE match is codegen'd
    "robots_decision": ["BroadcastHashJoin", "HashAggregate"],
    # anchor index: Arrow-batched kernel parse, then ONE partial-agg
    # shuffle on the target URL; collect_set bounds per-target state to
    # distinct anchor strings
    "anchor_text_index": ["MapInPandas", "HashAggregate", "collect_set"],
    # NFC normalize: one Arrow Python stage over the scan, everything else
    # codegen'd projection — the plan must stay shuffle-free (map lineage)
    "text_normalize": ["ArrowEvalPython", "ReadSchema: struct<doc_id:bigint,text:string>"],
    # revisit detection: one window shuffle keyed on the URL digest pair —
    # per-task state is one page's captures, never a host's
    "cdx_revisit": ["Window", "hashpartitioning(surt"],
    # compaction planner: manifest-only scan (three pruned columns), one
    # hash exchange on the partition key feeding the running-sum window
    "compact_plan": [
        "Window",
        "hashpartitioning(part#",
        "ReadSchema: struct<doc_id:bigint,n_chars:bigint>",
    ],
    # charset sniff + soft-404: codegen'd regex/CASE projections, map-only
    "charset_sniff": ["Project", "ReadSchema: struct<doc_id:bigint>"],
    "soft404_detect": ["Project", "ReadSchema: struct<doc_id:bigint,text:string>"],
    # template mining: ONE partial-agg shuffle keyed on the template
    "url_template_mine": ["HashAggregate", "hashpartitioning(template#"],
    # HITS: pagerank's static-DAG discipline — partial-agg groupBys, edge
    # scan pruned to the two key columns
    "host_hits": [
        "HashAggregate",
        "ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint>",
    ],
    # politeness slots: one hash exchange on host feeding the rank window
    "fetch_slot_schedule": ["Window", "hashpartitioning(host#"],
    # canonical resolve + logit score: scan-speed map-only projections
    "canonical_link_resolve": ["Project", "ReadSchema: struct<doc_id:bigint>"],
    "quality_logit_score": ["Project", "ReadSchema: struct<doc_id:bigint,text:string>"],
    # pointer doubling: log(L) self-joins, scan pruned to the id column
    "redirect_resolve": ["ReadSchema: struct<doc_id:bigint>"],
    # incremental admission: candidates from the band equi-join + exact
    # verify on cached arrays — same candidate-bounded discipline as LSH
    "dedup_incremental": ["array_intersect", "band_sig"],
    # CDC: boundary flags codegen'd in the scan projection; chunk window
    # behind one doc_id exchange; assembly groupBy reuses that partitioning
    "dedup_cdc_chunks": ["Window", "hashpartitioning(doc_id#", "md5("],
    # exact percentiles: one partial-agg shuffle on host, two-column scan
    "host_latency_quantiles": [
        "percentile",
        "ReadSchema: struct<user_id:bigint,value:double>",
    ],
    # reciprocity: mirror self-join on the pair key + per-host partial agg
    "host_reciprocity": ["HashAggregate", "ReadSchema: struct<doc_id:bigint>"],
    # PQ: encode+ADC in one Arrow pass; rerank joins slim pairs to full
    # vectors with the tiny query side broadcast
    "ann_pq_rerank": ["MapInPandas", "BroadcastHashJoin"],
    # kNN graph: block-pair GEMM in applyInPandas + global rank-limit —
    # no quadratic join in the physical plan
    "knn_graph": ["FlatMapGroupsInPandas", "BroadcastHashJoin", "Window"],
    # budget waterfall: corpus → one row per group (partial agg), 1-row
    # totals broadcast back — nothing corpus-sized moves twice
    "tld_budget_allocation": ["BroadcastNestedLoopJoin", "HashAggregate"],
    # depth histogram: one partial-agg shuffle over the slim seen table
    "crawl_depth_histogram": ["HashAggregate"],
    # triangles: two co-partitioned edge self-joins + per-node partial agg
    "host_graph_triangles": ["HashAggregate", "ReadSchema: struct<doc_id:bigint>"],
}

# a shuffle keyed on (doc_id, s) would mean the per-document shingle set
# is built as an exploded relation again (distinct + group-back) instead of
# the row-local projection in _doc_sets_df
_SHINGLE_DISTINCT = r"re:hashpartitioning\(doc_id#\d+L?, s#"

# query → substrings that must NOT appear (the round-1 defect signatures)
FORBIDDEN = {
    # a shuffle keyed on the raw shingle column would mean the full
    # all-shingle self-join is back in the physical plan
    "dedup_minhash_lsh": ["hashpartitioning(s#", _SHINGLE_DISTINCT],
    "dedup_ngram_jaccard": [_SHINGLE_DISTINCT],
    # a single-partition exchange here would mean the naive global-window
    # packing plan (whole corpus through one task) is back
    "pack_sequences": ["SinglePartition"],
    # a Python stage in the span fan-out would put the window expansion
    # on the Arrow path instead of whole-stage codegen
    "dedup_substring_spans": ["MapInPandas"],
    # single-partition exchange = the naive global-window packing plan
    "corpus_curate": ["SinglePartition"],
    # NFC normalization is a pure per-row map — any exchange here means a
    # shuffle crept into a zero-shuffle transform
    "text_normalize": ["Exchange"],
    # blocklist filter and license classification are map-only scans:
    # an exchange means a shuffle crept in; a Python stage means the
    # higher-order-function / CASE chain fell off the codegen path
    "badwords_filter": ["Exchange", "ArrowEvalPython", "BatchEvalPython"],
    "license_detect": ["Exchange", "ArrowEvalPython", "BatchEvalPython"],
    # a global window (no partition key) would funnel every capture
    # through one task
    "cdx_revisit": ["SinglePartition"],
    # chunking must stay codegen'd — a Python stage or a global window
    # would put the chunk fan-out on the slow path
    "dedup_paragraph_chunks": [
        "ArrowEvalPython",
        "BatchEvalPython",
        "SinglePartition",
    ],
    # host rollup is scan + one keyed exchange; no Python anywhere
    "host_quality_rollup": ["ArrowEvalPython", "BatchEvalPython"],
    # sitemap discovery is a pure scan-side projection: any exchange or
    # Python stage means the codegen'd parse fell off the map-only path
    "sitemap_discovery": ["Exchange", "ArrowEvalPython", "BatchEvalPython"],
    # the diff must stay JVM-side
    "crawl_snapshot_diff": ["ArrowEvalPython", "BatchEvalPython"],
    # a global (partition-less) window would sort the whole corpus in one
    # task; Python stages would take the hash off the codegen path
    "corpus_shard_shuffle": [
        "SinglePartition",
        "ArrowEvalPython",
        "BatchEvalPython",
    ],
    # a partition-less window would plan the whole manifest through one
    # task — the exact failure the per-partition planner exists to avoid
    "compact_plan": ["SinglePartition", "ArrowEvalPython", "BatchEvalPython"],
    # sniffing and soft-404 are scan-speed map-only passes
    "charset_sniff": ["Exchange", "ArrowEvalPython", "BatchEvalPython"],
    "soft404_detect": ["Exchange", "ArrowEvalPython", "BatchEvalPython"],
    "url_template_mine": ["ArrowEvalPython", "BatchEvalPython"],
    # a partition-less rank window would queue every URL through one task
    "fetch_slot_schedule": ["SinglePartition", "ArrowEvalPython", "BatchEvalPython"],
    "canonical_link_resolve": ["Exchange", "ArrowEvalPython", "BatchEvalPython"],
    "quality_logit_score": ["Exchange", "ArrowEvalPython", "BatchEvalPython"],
    "redirect_resolve": ["ArrowEvalPython", "BatchEvalPython", "CartesianProduct"],
    # the raw-shingle self-join must never reappear in the physical plan
    "dedup_incremental": ["hashpartitioning(s#", _SHINGLE_DISTINCT],
    # the chunk-assembly agg must NOT re-shuffle on (doc_id, chunk_id) —
    # and chunking must stay off the Python path
    # a re-shuffle for the chunk-assembly agg would render as
    # hashpartitioning(doc_id#N, chunk_id#M, ...) — match the second key
    "host_latency_quantiles": ["ArrowEvalPython", "BatchEvalPython"],
    "host_reciprocity": ["ArrowEvalPython", "BatchEvalPython", "CartesianProduct"],
    "ann_pq_rerank": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "knn_graph": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "tld_budget_allocation": ["ArrowEvalPython", "BatchEvalPython"],
    "host_graph_triangles": ["CartesianProduct", "ArrowEvalPython", "BatchEvalPython"],
    "dedup_cdc_chunks": [
        r"re:hashpartitioning\(doc_id#\d+L?, chunk_id#",
        "ArrowEvalPython",
        "BatchEvalPython",
        "SinglePartition",
    ],
}


def main():
    spark = get_spark("explain-audit", cores=8, shuffle_partitions=8)
    sections = []
    failures = []
    for name, expects in EXPECTATIONS.items():
        df = QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        missing = [e for e in expects if e not in plan]
        # forbidden entries prefixed "re:" are regex patterns; the rest
        # are literal substrings
        present = [
            e for e in FORBIDDEN.get(name, [])
            if (re.search(e[3:], plan) if e.startswith("re:") else e in plan)
        ]
        status = "OK" if not (missing or present) else (
            f"MISSING: {missing}" + (f" FORBIDDEN-PRESENT: {present}" if present else "")
        )
        if missing or present:
            failures.append(name)
        print(f"{name}: {status}")
        sections.append(f"## {name} — {status}\n\n```\n{plan.strip()}\n```\n")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write(
            "# Physical-plan audit\n\nGenerated by scripts/explain_audit.py — "
            "checks that headline plans keep filters pushed to the parquet "
            "scan, prune columns, broadcast the intended sides, and stay in "
            "whole-stage codegen.\n\n" + "\n".join(sections)
        )
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
