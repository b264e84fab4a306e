"""Entry-contract gate in pytest: run queries() against oracle_sql() in
DuckDB on sf0.001 (the driver does the same at sf0.01) with the driver's
compare semantics: row count, sorted column names, order-insensitive values.
The crawl-engine queries are exercised at this small sf too."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

FAST = [
    "crawl_reach",
    "crawl_extract_text",
    "frontier_topk_per_host",
    "frontier_topk_salted",
    "seen_anti_join",
    "frontier_merge_dedup",
    "url_canonicalize",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "doc_fingerprint",
    "token_count",
    "lang_id",
    "quality_score",
    "ann_cosine_topk",
    "tpch_q1",
    "tpch_q3_revenue",
    "events_sessionize",
    "links_extract",
    "links_text_extract",
    "html_decode_batch",
    "header_parse",
    "cookie_fold",
    "crawl2_listing_items",
    "crawl2_page_no",
    "crawl2_detail_text",
    "crawl2_post_requests",
    "crawl2_downloads",
    "crawl2_seen",
    "warc_ingest",
    "robots_parse",
    "doc_main_text",
    "decontaminate_ngram",
    "pii_redact",
    "doc_repetition",
    "corpus_sample_stratified",
    "vocab_topk",
    "dedup_clusters",
    "dedup_keep_canonical",
    "pack_sequences",
    "domain_mix_weights",
    "host_graph_edges",
    "doc_tfidf_topk",
    "inverted_index",
    "dedup_substring_spans",
    "cdx_index",
    "recrawl_schedule",
    "corpus_curate",
    "crawl_trap_hosts",
    "wet_export",
    "robots_decision",
    "badwords_filter",
    "license_detect",
    "doc_lm_score",
    "text_normalize",
    "anchor_text_index",
    "cdx_revisit",
    "dedup_paragraph_chunks",
    "host_quality_rollup",
    "sitemap_discovery",
    "crawl_snapshot_diff",
    "corpus_shard_shuffle",
    "host_graph_components",
    "compact_plan",
    "charset_sniff",
    "soft404_detect",
    "url_template_mine",
    "host_hits",
    "fetch_slot_schedule",
    "canonical_link_resolve",
    "quality_logit_score",
    "redirect_resolve",
    "dedup_incremental",
    "stream_host_rates",
    "dedup_cdc_chunks",
    "host_latency_quantiles",
    "host_reciprocity",
    "ann_pq_rerank",
    "knn_graph",
    "tld_budget_allocation",
    "stream_frontier_merge",
    "crawl_depth_histogram",
    "host_graph_triangles",
]


def _norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", FAST)
def test_query_matches_oracle(spark, duck, name):
    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    sdf = qs[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(sqls[name])
    drows = rel.fetchall()
    assert len(srows) == len(drows), f"rowcount {len(srows)} != {len(drows)}"
    assert sorted(sdf.columns) == sorted(rel.columns)
    assert _norm(sdf.columns, srows) == _norm(rel.columns, drows)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert set(df.columns) == {"url", "text"}


def test_ann_ivf_recall_and_probe_budget(spark):
    """IVF ANN on the driver corpus: probed fraction must stay under the 10%
    budget; recall vs brute force is REPORTED (the corpus is near-isotropic
    — top-5 sims ~0.35 vs random ~0 — so no sublinear index reaches 0.9
    there; the ≥0.9 assertion runs on the clustered corpus below)."""
    from boris_spark.ops.queries import (
        ann_cosine_topk, ann_ivf_candidates, ann_ivf_topk,
    )

    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in ann_cosine_topk(spark, SF_DIR).collect()
    }
    approx = {
        (r["q_id"], r["neighbor_id"])
        for r in ann_ivf_topk(spark, SF_DIR).collect()
    }
    assert exact, "no exact pairs"
    recall = len(exact & approx) / len(exact)
    n = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    probed = ann_ivf_candidates(spark, SF_DIR).count() / (10 * n)
    print(f"ann_ivf driver-corpus recall@5={recall:.2f} probed={probed:.2%}")
    assert probed < 0.20, f"probed fraction {probed} (small corpus allows 20%)"
    assert recall >= 0.3, f"recall {recall}"


def test_ann_ivf_recall_clustered(spark, tmp_path):
    """On a corpus with real cluster structure (the regime ANN indexes are
    for), IVF recall@5 vs brute force must be ≥ 0.9 with <10% of the corpus
    probed."""
    import numpy as np

    from boris_spark.ops.queries import (
        ann_cosine_topk, ann_ivf_candidates, ann_ivf_topk,
    )

    rng = np.random.default_rng(7)
    n_clusters, per, dim = 40, 12, 64
    bases = rng.normal(size=(n_clusters, dim))
    bases /= np.linalg.norm(bases, axis=1, keepdims=True)
    rows = []
    # vec_ids 0..9 are the queries — one per distinct cluster
    for i in range(n_clusters * per):
        c = i % n_clusters
        # per-coordinate σ=0.06 → ‖noise‖≈0.48 vs unit base → within-cluster
        # cos ≈ 0.8, cross-cluster ≈ 0: real cluster structure
        v = bases[c] + 0.06 * rng.normal(size=dim)
        rows.append((i, [float(x) for x in v]))
    sf = str(tmp_path / "sf")
    (tmp_path / "sf").mkdir()
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").write.parquet(
        f"{sf}/embeddings.parquet"
    )
    exact = {
        (r["q_id"], r["neighbor_id"]) for r in ann_cosine_topk(spark, sf).collect()
    }
    approx = {
        (r["q_id"], r["neighbor_id"]) for r in ann_ivf_topk(spark, sf).collect()
    }
    recall = len(exact & approx) / len(exact)
    probed = ann_ivf_candidates(spark, sf).count() / (10 * n_clusters * per)
    print(f"ann_ivf clustered recall@5={recall:.2f} probed={probed:.2%}")
    assert recall >= 0.9, f"recall {recall}"
    assert probed < 0.10, f"probed fraction {probed}"


def test_cascade_int64_hash_exact(tmp_path):
    """Regression: mixed result/request rows must keep url_hash int64 (a
    float64 column's 53-bit mantissa would truncate 64-bit hashes,
    breaking the seen anti-join and refetching seen URLs). The rows go
    through the output row builder: the schema-typed ``from_pylist`` that
    builds the worker's output batches and writes ``write_by_kind``'s
    files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from boris_spark.engine.compiler import compile_program
    from boris_spark.engine.udfs import OUT_SCHEMA, eval_to_fixpoint, write_by_kind
    from boris_spark.kernel import url_hash
    from boris_spark.oracle.program import Extract, Go, Lit, UrlE

    url = "http://h11.site42.test/p/14"
    assert abs(url_hash(url)) > (1 << 53)  # meaningful low bits
    program = Go(Lit([url]), Extract(UrlE()), Go(Lit([url])))
    nt = compile_program(program)
    rows: list[dict] = []
    # the fetched page fans to the navigate node's children: one result
    # row and one request row in the same batch
    for child in nt[program.node_id].child_ids:
        eval_to_fixpoint(nt, child, url, url, "<html></html>", None, rows)
    assert {r["kind"] for r in rows} == {"request", "result"}
    out = pa.RecordBatch.from_pylist(rows, schema=OUT_SCHEMA)
    assert out.schema.field("url_hash").type == pa.int64()
    got = [
        h for k, h in zip(out["kind"].to_pylist(), out["url_hash"].to_pylist())
        if k == "request"
    ]
    assert got == [url_hash(url)]
    write_by_kind(str(tmp_path), rows)
    req = pq.read_table(tmp_path / "kind=request")
    assert req.schema.field("url_hash").type == pa.int64()
    assert req["url_hash"].to_pylist() == [url_hash(url)]


def test_connected_components_path_graph(spark):
    """Multi-hop merging: a 7-node path (plus an isolated pair and a
    singleton-free island) must collapse to its global minimum — the case
    one round of neighbor-min propagation gets wrong and the alternating
    large-star/small-star iteration exists to solve."""
    from boris_spark.ops.queries import connected_components

    edges = [(1, 9), (9, 3), (3, 7), (7, 5), (5, 8), (8, 6),  # path, min=1
             (20, 21),                                         # pair, min=20
             (31, 30), (30, 32)]                               # path, min=30
    df = spark.createDataFrame(edges, "a long, b long")
    lab = {r["a"]: r["b"] for r in connected_components(df).collect()}
    assert lab == {
        9: 1, 3: 1, 7: 1, 5: 1, 8: 1, 6: 1,
        21: 20,
        31: 30, 32: 30,
    }


def test_ann_pq_recall_and_candidate_budget(spark):
    """PQ+ADC on the driver corpus: candidate budget is RERANK/corpus by
    construction; recall vs brute force is reported (near-isotropic corpus
    — the clustered assertion is below)."""
    from boris_spark.ops.queries import _PQ_RERANK, ann_cosine_topk, ann_pq_rerank

    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in ann_cosine_topk(spark, SF_DIR).collect()
    }
    approx = {
        (r["q_id"], r["neighbor_id"])
        for r in ann_pq_rerank(spark, SF_DIR).collect()
    }
    assert exact, "no exact pairs"
    recall = len(exact & approx) / len(exact)
    n = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    print(f"ann_pq driver-corpus recall@5={recall:.2f} "
          f"candidates={_PQ_RERANK}/{n}")
    assert recall >= 0.3, f"recall {recall}"


def test_ann_pq_recall_clustered(spark, tmp_path):
    """On a clustered corpus (the ANN regime), PQ's ADC top-candidates must
    contain the true neighbors: recall@5 >= 0.9 after exact rerank."""
    import numpy as np

    from boris_spark.ops.queries import ann_cosine_topk, ann_pq_rerank

    rng = np.random.default_rng(7)
    n_clusters, per, dim = 40, 12, 64
    bases = rng.normal(size=(n_clusters, dim))
    bases /= np.linalg.norm(bases, axis=1, keepdims=True)
    rows = []
    for i in range(n_clusters * per):
        c = i % n_clusters
        v = bases[c] + 0.06 * rng.normal(size=dim)
        rows.append((i, [float(x) for x in v]))
    sf = str(tmp_path / "sf")
    (tmp_path / "sf").mkdir()
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").write.parquet(
        f"{sf}/embeddings.parquet"
    )
    exact = {
        (r["q_id"], r["neighbor_id"]) for r in ann_cosine_topk(spark, sf).collect()
    }
    approx = {
        (r["q_id"], r["neighbor_id"]) for r in ann_pq_rerank(spark, sf).collect()
    }
    recall = len(exact & approx) / len(exact)
    print(f"ann_pq clustered recall@5={recall:.2f}")
    assert recall >= 0.9, f"recall {recall}"
