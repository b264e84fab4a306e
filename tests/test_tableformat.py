"""TableFormat seam (boris_spark/engine/tableformat.py): the engine-facing
sink interface whose default impl is parquet deltas + JSON manifests and
whose methods map 1:1 onto Iceberg snapshots (module docstring table)."""

import os

import pytest

from boris_spark.engine.tableformat import (
    IcebergFormat, ParquetManifestFormat,
)


def test_write_read_delta_roundtrip(spark, tmp_path):
    tf = ParquetManifestFormat(spark, str(tmp_path))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    tf.write_delta(df, "seen", 0)
    tf.write_delta(
        spark.createDataFrame([(3, "c")], "id long, v string"), "seen", 1
    )
    assert tf.delta_rows("seen", 0) == 2
    assert tf.delta_rows("seen", 1) == 1
    # full-sink read spans both deltas and carries the round column
    full = tf.read_sink("seen", "id long, v string")
    assert {(r["id"], r["round"]) for r in full.collect()} == {
        (1, 0), (2, 0), (3, 1),
    }
    # driver-side columnar read of one delta — no Spark job
    pdf = tf.read_delta_pandas("seen", 1, columns=["id"])
    assert list(pdf["id"]) == [3]


def test_read_sink_missing_returns_none(spark, tmp_path):
    tf = ParquetManifestFormat(spark, str(tmp_path))
    assert tf.read_sink("nope") is None


def test_sink_rows_spans_all_deltas(spark, tmp_path):
    # sink_rows = footer-metadata total across every committed delta (the
    # engine restores its driver-side seen-set counter from this on resume)
    tf = ParquetManifestFormat(spark, str(tmp_path))
    assert tf.sink_rows("seen") == 0  # missing sink = empty
    tf.write_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        "seen", 0,
    )
    tf.write_delta(
        spark.createDataFrame([(3, "c")], "id long, v string"), "seen", 1
    )
    assert tf.sink_rows("seen") == 3


def test_adopt_delta(spark, tmp_path):
    tf = ParquetManifestFormat(spark, str(tmp_path))
    src = str(tmp_path / "staged")
    spark.createDataFrame([(7,)], "id long").write.parquet(src)
    assert tf.adopt_delta(src, "store", 3) is True
    assert not os.path.exists(src)  # renamed, not copied
    assert tf.delta_rows("store", 3) == 1
    # missing source dir = empty delta, reported as False
    assert tf.adopt_delta(str(tmp_path / "missing"), "store", 4) is False


def test_adopt_parts_multi_source_delta(spark, tmp_path):
    """One delta composed from several adopted directories (the frontier
    shape: routing's seg=deferred + each cascade generation's
    kind=request) — renames only, readers project to the common schema,
    and a crash-rerun replaces the WHOLE round delta."""
    tf = ParquetManifestFormat(spark, str(tmp_path))
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    # different supersets of the target schema, like deferred (_blk) vs
    # cascade request rows (extra cascade columns)
    spark.createDataFrame(
        [(1, "x", True)], "id long, v string, _blk boolean"
    ).write.parquet(a)
    spark.createDataFrame(
        [(2, "y", 0.5), (3, "z", 1.5)], "id long, v string, extra double"
    ).write.parquet(b)
    n = tf.adopt_parts([a, b, str(tmp_path / "missing")], "frontier", 5,
                       "id long, v string")
    assert n == 2
    assert not os.path.exists(a) and not os.path.exists(b)
    assert tf.delta_rows("frontier", 5) == 3
    got = tf.delta_df("frontier", 5, "id long, v string")
    rows = {(r["id"], r["v"]) for r in got.collect()}
    assert rows == {(1, "x"), (2, "y"), (3, "z")}
    # rerun of an interrupted round: the whole previous delta is replaced
    c = str(tmp_path / "c")
    spark.createDataFrame([(9, "q", False)],
                          "id long, v string, _blk boolean").write.parquet(c)
    assert tf.adopt_parts([c], "frontier", 5, "id long, v string") == 1
    assert tf.delta_rows("frontier", 5) == 1
    # zero adoptable parts = empty delta (no dir), delta_rows reports 0
    assert tf.adopt_parts([str(tmp_path / "m2")], "frontier", 6,
                          "id long, v string") == 0
    assert tf.delta_rows("frontier", 6) == 0


def test_write_delta_part_matches_adopted_layout(spark, tmp_path):
    """write_delta(part=...) and adopt_parts produce the SAME one-level
    layout, so a sink mixing both (frontier round 0 = checkpoint write,
    rounds 1+ = adoption) stays readable via read_sink's glob."""
    tf = ParquetManifestFormat(spark, str(tmp_path))
    tf.write_delta(
        spark.createDataFrame([(1, "s")], "id long, v string"),
        "frontier", 0, part="full",
    )
    src = str(tmp_path / "staged")
    spark.createDataFrame(
        [(2, "t", True)], "id long, v string, _blk boolean"
    ).write.parquet(src)
    tf.adopt_parts([src], "frontier", 1, "id long, v string")
    full = tf.read_sink("frontier", "id long, v string")
    assert {(r["id"], r["round"]) for r in full.collect()} == {(1, 0), (2, 1)}
    assert tf.delta_rows("frontier", 0) == 1
    assert tf.sink_rows("frontier") == 2


def test_commit_and_resume_rounds(spark, tmp_path):
    tf = ParquetManifestFormat(spark, str(tmp_path))
    assert tf.committed_rounds() == []
    tf.commit_round(0, {"fetched": 5})
    tf.commit_round(2, {"fetched": 1})
    tf.commit_round(1, {"fetched": 3})
    assert tf.committed_rounds() == [0, 1, 2]
    # snapshot-summary readback: the metrics payload round-trips verbatim
    assert tf.round_metrics(2) == {"fetched": 1}
    with pytest.raises(FileNotFoundError):
        tf.round_metrics(9)


def test_iceberg_format_documents_its_requirements(spark):
    with pytest.raises(NotImplementedError, match="iceberg-spark-runtime"):
        IcebergFormat(spark, "cat", "ns")


# ---- LocalCatalogFormat: the executable catalog-table seam ---------------


@pytest.fixture()
def catfmt(spark, tmp_path):
    from boris_spark.engine.tableformat import LocalCatalogFormat

    import uuid

    tf = LocalCatalogFormat(
        spark, db=f"tfdb_{uuid.uuid4().hex[:8]}", location=str(tmp_path / "wh")
    )
    yield tf
    tf.drop()


def test_catalog_write_read_delta_roundtrip(spark, catfmt):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    catfmt.write_delta(df, "seen", 0)
    catfmt.write_delta(
        spark.createDataFrame([(3, "c")], "id long, v string"), "seen", 1
    )
    assert catfmt.delta_rows("seen", 0) == 2
    assert catfmt.delta_rows("seen", 1) == 1
    full = catfmt.read_sink("seen")
    assert {(r["id"], r["round"]) for r in full.collect()} == {
        (1, 0), (2, 0), (3, 1),
    }
    pdf = catfmt.read_delta_pandas("seen", 1, columns=["id"])
    assert list(pdf["id"]) == [3]
    # delta_df drops the partition column (engine expects the sink schema)
    assert catfmt.delta_df("seen", 0).columns == ["id", "v"]
    assert catfmt.sink_rows("seen") == 3
    assert catfmt.sink_rows("absent") == 0


def test_catalog_rerun_overwrites_only_its_round(spark, catfmt):
    """An interrupted round's re-run must replace that round's partition
    only (dynamic partition overwrite), leaving other rounds intact."""
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")  # noqa: E731
    catfmt.write_delta(mk([(1, "a")]), "frontier", 0)
    catfmt.write_delta(mk([(2, "b")]), "frontier", 1)
    catfmt.write_delta(mk([(9, "z"), (8, "y")]), "frontier", 1)  # re-run
    assert catfmt.delta_rows("frontier", 0) == 1
    assert {r["id"] for r in catfmt.delta_df("frontier", 1).collect()} == {8, 9}


def test_catalog_adopt_and_rounds_history(spark, catfmt, tmp_path):
    src = str(tmp_path / "staged")
    spark.createDataFrame([(7,)], "id long").write.parquet(src)
    assert catfmt.adopt_delta(src, "store", 3) is True
    assert catfmt.delta_rows("store", 3) == 1
    assert catfmt.adopt_delta(str(tmp_path / "missing"), "store", 4) is False
    assert catfmt.committed_rounds() == []
    catfmt.commit_round(0, {"fetched": 5})
    catfmt.commit_round(2, {"fetched": 1})
    catfmt.commit_round(1, {"fetched": 3})
    assert catfmt.committed_rounds() == [0, 1, 2]
    assert catfmt.round_metrics(2) == {"fetched": 1}
    with pytest.raises(KeyError):
        catfmt.round_metrics(9)


def test_catalog_adopt_parts_single_commit(spark, catfmt, tmp_path):
    """Catalog adopt_parts: several staged directories with different
    schema supersets become ONE round partition in one idempotent
    commit (the Iceberg one-transaction add_files shape)."""
    a = str(tmp_path / "pa")
    b = str(tmp_path / "pb")
    spark.createDataFrame(
        [(1, "x", True)], "id long, v string, _blk boolean"
    ).write.parquet(a)
    spark.createDataFrame(
        [(2, "y", 0.5)], "id long, v string, extra double"
    ).write.parquet(b)
    assert catfmt.adopt_parts([a, b], "frontier", 4, "id long, v string") == 2
    assert catfmt.delta_rows("frontier", 4) == 2
    assert {tuple(r) for r in
            catfmt.delta_df("frontier", 4).collect()} == {(1, "x"), (2, "y")}
    # rerun replaces the round partition (dynamic overwrite)
    c = str(tmp_path / "pc")
    spark.createDataFrame([(9, "q", False)],
                          "id long, v string, _blk boolean").write.parquet(c)
    assert catfmt.adopt_parts([c], "frontier", 4, "id long, v string") == 1
    assert catfmt.delta_rows("frontier", 4) == 1


def test_catalog_format_drives_kill_resume_crawl(spark, tmp_path):
    """North-rule seam exercise: a fused-mode crawl runs, is killed after 2
    rounds, and RESUMES entirely through catalog tables — snapshot history
    from the rounds table, store/seen/frontier deltas as table partitions —
    with output identical to the oracle."""
    import uuid

    from boris_spark.engine.crawler import CrawlEngine
    from boris_spark.engine.tableformat import LocalCatalogFormat
    from boris_spark.oracle import SnapshotFetcher, spider
    from boris_spark.oracle.program import (
        Extract, First, Fmt, Go, Lit, UrlE, XpathE, XpathTextE,
    )
    from boris_spark.synth import webgen

    n_pages, seed = 96, 7
    pages = webgen.corpus_pages_dict(n_pages, seed)
    seeds = webgen.seeds_for(n_pages, seed)
    program = Go(
        Lit(seeds),
        Extract(Fmt("{}\t{}", [UrlE(), First(XpathTextE("//title"))])),
        Go(XpathE("//td[@class='title']/a/@href/text()"),
           Extract(Fmt("{}\t{}", [UrlE(), First(XpathTextE("//title"))]))),
    )
    oracle = spider(program, SnapshotFetcher(pages))

    def fetch_fn(urls):
        return [
            (pages.get(u), 200) if u in pages else (None, 404) for u in urls
        ]

    db = f"tfdb_{uuid.uuid4().hex[:8]}"
    mk_tf = lambda: LocalCatalogFormat(  # noqa: E731
        spark, db=db, location=str(tmp_path / "wh")
    )
    try:
        eng1 = CrawlEngine(
            spark, None, str(tmp_path / "work"), politeness_k=4,
            fetch_mode="callable", fetch_fn=fetch_fn, table_format=mk_tf(),
        )
        eng1.run(program, max_rounds=2)
        eng2 = CrawlEngine(
            spark, None, str(tmp_path / "work"), politeness_k=4,
            fetch_mode="callable", fetch_fn=fetch_fn, table_format=mk_tf(),
        )
        eng2.run(program, max_rounds=50, resume=True)
        import json as _json

        from boris_spark.oracle.program import path_key_hex

        got = [
            (r["path_key"], r["value"])
            for r in eng2.results_df().select("path_key", "value").collect()
        ]
        want = [
            (path_key_hex(f.path),
             _json.dumps(f.value, sort_keys=True, separators=(",", ":"),
                         ensure_ascii=False))
            for f in oracle.flies
        ]
        assert got == want
        seen = {r["url_canon"] for r in eng2.seen_df().collect()}
        assert seen == oracle.seen
        # fetch-once across the kill, via catalog partitions
        store = eng2._read_sink("store").select("url_canon", "round").distinct()
        assert (
            store.groupBy("url_canon").count().where("count > 1").count() == 0
        )
    finally:
        mk_tf().drop()


def test_compact_sink_binpack_and_atomicity(spark, tmp_path):
    """compact_sink bin-packs a many-file round delta into ceil(bytes/
    target) files, preserves the row multiset and the round column, leaves
    already-compact rounds untouched, and sweeps debris from a killed
    pass."""
    tf = ParquetManifestFormat(spark, str(tmp_path))
    # round 0: 8 tiny files (repartition(8)); round 1: already 1 file
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(64)], "id long, v string"
    )
    tf.write_delta(df.repartition(8), "seen", 0)
    tf.write_delta(
        spark.createDataFrame([(99, "x")], "id long, v string").coalesce(1),
        "seen", 1,
    )
    # debris from a "killed" previous pass must be swept, not read
    os.makedirs(str(tmp_path / "seen" / ".compact_tmp_round=0"))
    before = tf.read_sink("seen", "id long, v string").collect()
    stats = tf.compact_sink("seen", target_bytes=1 << 30)
    assert stats["rounds_rewritten"] == 1
    assert stats["files_before"] >= 9
    assert stats["files_after"] == 2  # 1 packed + round 1's single file
    assert not any(
        ".compact_" in d for d in os.listdir(str(tmp_path / "seen"))
    )
    after = tf.read_sink("seen", "id long, v string").collect()
    key = lambda r: (r["id"], r["v"], r["round"])  # noqa: E731
    assert sorted(map(key, before)) == sorted(map(key, after))
    assert tf.delta_rows("seen", 0) == 64  # footer counts still work


def test_compact_dissolves_fsrc_parts(spark, tmp_path):
    """Adopted part-structured deltas (fsrc=* subdirs) compact into flat
    files; readers that project explicit columns are unaffected."""
    tf = ParquetManifestFormat(spark, str(tmp_path))
    srcs = []
    for i in range(3):
        p = str(tmp_path / f"staged{i}")
        spark.createDataFrame(
            [(i * 10 + j,) for j in range(5)], "id long"
        ).coalesce(1).write.parquet(p)
        srcs.append(p)
    assert tf.adopt_parts(srcs, "frontier", 2, "id long") == 3
    stats = tf.compact_sink("frontier", target_bytes=1 << 30)
    assert stats["rounds_rewritten"] == 1 and stats["files_after"] == 1
    got = {r["id"] for r in tf.delta_df("frontier", 2, "id long").collect()}
    assert got == {i * 10 + j for i in range(3) for j in range(5)}


def test_compact_mid_crawl_resume(spark, tmp_path):
    """The judge's maintenance loop: crawl → kill → COMPACT every sink →
    resume → outputs identical to the pure-Python oracle, fetch-once
    preserved, and the maintenance manifest records file counts."""
    import json as _json

    from boris_spark.engine.crawler import CrawlEngine
    from boris_spark.oracle import SnapshotFetcher, spider
    from boris_spark.oracle.program import (
        Extract, First, Fmt, Go, Lit, UrlE, XpathE, XpathTextE, path_key_hex,
    )
    from boris_spark.synth import webgen

    n_pages, seed = 96, 7
    pages = webgen.corpus_pages_dict(n_pages, seed)
    seeds = webgen.seeds_for(n_pages, seed)
    program = Go(
        Lit(seeds),
        Extract(Fmt("{}\t{}", [UrlE(), First(XpathTextE("//title"))])),
        Go(XpathE("//td[@class='title']/a/@href/text()"),
           Extract(Fmt("{}\t{}", [UrlE(), First(XpathTextE("//title"))]))),
    )
    oracle = spider(program, SnapshotFetcher(pages))

    def fetch_fn(urls):
        return [
            (pages.get(u), 200) if u in pages else (None, 404) for u in urls
        ]

    mk = lambda: CrawlEngine(  # noqa: E731
        spark, None, str(tmp_path / "work"), politeness_k=4,
        fetch_mode="callable", fetch_fn=fetch_fn,
    )
    eng1 = mk()
    eng1.run(program, max_rounds=2)
    report = eng1.compact(target_bytes=1 << 30)
    assert report["seen"]["rounds_rewritten"] >= 1
    assert report["seen"]["files_after"] < report["seen"]["files_before"]
    # maintenance manifest exists and carries the before/after counts
    mpath = str(tmp_path / "work" / "rounds" / "compact_after_1.json")
    saved = _json.load(open(mpath))
    assert saved["seen"]["files_before"] == report["seen"]["files_before"]

    eng2 = mk()
    eng2.run(program, max_rounds=50, resume=True)
    got = [
        (r["path_key"], r["value"])
        for r in eng2.results_df().select("path_key", "value").collect()
    ]
    want = [
        (path_key_hex(f.path),
         _json.dumps(f.value, sort_keys=True, separators=(",", ":"),
                     ensure_ascii=False))
        for f in oracle.flies
    ]
    assert got == want
    assert {r["url_canon"] for r in eng2.seen_df().collect()} == oracle.seen
    # fetch-once across kill + compaction
    store = eng2._read_sink("store").select("url_canon", "round").distinct()
    assert (
        store.groupBy("url_canon").count().where("count > 1").count() == 0
    )


def test_compact_recovers_kill_between_swap_renames(spark, tmp_path):
    """A compaction pass killed between its two renames leaves no
    ``round=N``: the original delta sits in ``.compact_old_round=N`` and
    the rewrite (here: half-written) in ``.compact_tmp_round=N``. The next
    pass must restore the original, not sweep both copies away."""
    tf = ParquetManifestFormat(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(32)], "id long, v string"
    )
    tf.write_delta(df.repartition(4), "seen", 0)
    tf.write_delta(
        spark.createDataFrame([(99, "x")], "id long, v string").coalesce(1),
        "seen", 1,
    )
    key = lambda r: (r["id"], r["v"], r["round"])  # noqa: E731
    before = sorted(map(key, tf.read_sink("seen", "id long, v string").collect()))
    top = tmp_path / "seen"
    os.rename(top / "round=0", top / ".compact_old_round=0")
    (top / ".compact_tmp_round=0").mkdir()
    (top / ".compact_tmp_round=0" / "part-00000.parquet").write_bytes(b"PAR1")
    tf.compact_sink("seen", target_bytes=1 << 30)
    assert not any(".compact_" in d for d in os.listdir(top))
    after = sorted(map(key, tf.read_sink("seen", "id long, v string").collect()))
    assert after == before
