"""Distributed WARC source: Common-Crawl-style archive files → the
BASELINE.json ``input_hint`` pages table
``(url, warc_ts, html binary, text, lang)``.

Plan shape for 100 TB of WARCs: ``binaryFile`` gives one task per archive
file (the real Common-Crawl unit, ~1 GB gzip each — file count IS the
parallelism, exactly how production Spark-over-CC jobs run); each task
parses its records with the pure-Python kernel codec and extracts text with
the SAME kernel the crawl engine uses, so WARC-ingested pages satisfy the
byte-identity invariant by construction. Only 200-status HTML responses
survive; everything stays inside the Arrow batch — no record ever becomes a
driver-side object.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernel import htmlkit
from ..kernel.warc import warc_records

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

# the same marker-word heuristic as the lang_id query (one definition of the
# marker table; the source computes it Python-side inside the parse batch,
# the lang_id gate recomputes it JVM-side — both from ops/queries.py's list)
from ..ops.queries import _LANG_MARKERS  # noqa: E402


def _lang_guess(text: str) -> str:
    pad = f" {text.lower()} "
    counts = [(lang, pad.count(marker)) for lang, marker in _LANG_MARKERS]
    best = max(c for _, c in counts)
    for lang, c in counts:
        if c >= best:
            return lang
    return counts[0][0]


def write_warc(pages: DataFrame, out_dir: str, compress: bool = True) -> int:
    """WARC sink: write a pages table (url, warc_ts, html) as Common-Crawl
    style archives — ONE .warc(.gz) file per partition, streamed record by
    record inside the executor (no partition ever materializes in memory,
    no driver collect). Returns the number of archive files written.

    The inverse of :func:`read_warc`: ``read_warc(write_warc(df)) == df``
    on (url, warc_ts, html) — pinned by tests/test_warc.py. A crawl exports
    its seen sink's stored bodies this way to hand fetched pages downstream
    in the archive format the rest of the CC ecosystem consumes.

    Task-retry safe: each attempt streams into a unique HIDDEN temp file
    (``.``-prefixed, so Spark file sources ignore it even if a failed or
    speculative attempt leaves it behind) and ``os.rename``\\ s it over the
    final part path on success (atomic on POSIX; attempts are deterministic
    per partition, so last-writer-wins is byte-identical); a failing
    attempt deletes its temp in the ``finally``. :func:`read_warc` also
    filters to ``*.warc*`` by glob — three independent guards against an
    orphaned attempt's records double-counting on read. Compressed output
    is ONE GZIP MEMBER PER RECORD — the actual Common-Crawl layout, which
    gives downstream CC tooling record-level random access (offset+length
    seeks into the .gz)."""
    import gzip as _gzip
    import os
    import uuid as _uuid

    from ..kernel.warc import build_response_record

    os.makedirs(out_dir, exist_ok=True)

    def dump(idx, rows):
        final = os.path.join(
            out_dir, f"part-{idx:05d}.warc" + (".gz" if compress else "")
        )
        tmp = os.path.join(
            out_dir, f".{os.path.basename(final)}.tmp-{_uuid.uuid4().hex}"
        )
        n = 0
        done = False
        try:
            with open(tmp, "wb") as f:
                for row in rows:
                    body = bytes(row["html"]) if row["html"] is not None else b""
                    rec = build_response_record(row["url"], row["warc_ts"], body)
                    f.write(_gzip.compress(rec, mtime=0) if compress else rec)
                    n += 1
            if n:
                os.rename(tmp, final)
            else:
                os.remove(tmp)
            done = True
        finally:
            if not done:
                try:
                    os.remove(tmp)
                except OSError:
                    pass
        return iter([1] if n else [])

    files = (
        pages.select("url", "warc_ts", "html")
        .rdd.mapPartitionsWithIndex(dump)
        .sum()
    )
    return int(files)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Read a directory (or glob) of .warc / .warc.gz files into the pages
    table. One parse task per file. The glob filter excludes any writer
    temp file a failed task attempt may have left (belt to the hidden-file
    + delete-on-failure suspenders in :func:`write_warc`)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{warc,warc.gz}")
        .load(path)
        .select("path", "content")
    )

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for rec in warc_records(bytes(blob)):
                    if rec.rec_type != "response" or rec.http_status != 200:
                        continue
                    if rec.uri is None or rec.date is None:
                        continue
                    html = rec.body.decode("utf-8", "replace")
                    text = htmlkit.page_text(html)
                    rows.append({
                        "url": rec.uri,
                        "warc_ts": rec.date.replace(tzinfo=None),
                        "html": rec.body,
                        "text": text,
                        "lang": _lang_guess(text),
                    })
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return files.mapInPandas(parse, PAGES_SCHEMA)


WET_SCHEMA = "url string, warc_ts timestamp, text string"


def write_wet(pages: DataFrame, out_dir: str, compress: bool = True) -> int:
    """WET sink: write a pages table's (url, warc_ts, text) as Common-Crawl
    style *.warc.wet(.gz) conversion archives — ONE file per partition,
    streamed record by record inside the executor, one gzip member per
    record (the CC random-access layout). The inverse of :func:`read_wet`
    on (url, warc_ts, text); same task-retry guards as :func:`write_warc`
    (hidden temp + delete-on-failure + rename, reader glob filter).

    This completes the Common-Crawl artifact family the engine can emit
    from a crawl's stored bodies: WARC (response records, write_warc), WET
    (text conversions, here), CDX (the capture index, ops cdx_index)."""
    import gzip as _gzip
    import os
    import uuid as _uuid

    from ..kernel.warc import build_conversion_record

    os.makedirs(out_dir, exist_ok=True)

    def dump(idx, rows):
        final = os.path.join(
            out_dir, f"part-{idx:05d}.warc.wet" + (".gz" if compress else "")
        )
        tmp = os.path.join(
            out_dir, f".{os.path.basename(final)}.tmp-{_uuid.uuid4().hex}"
        )
        n = 0
        done = False
        try:
            with open(tmp, "wb") as f:
                for row in rows:
                    rec = build_conversion_record(
                        row["url"], row["warc_ts"],
                        (row["text"] or "").encode("utf-8"),
                    )
                    f.write(_gzip.compress(rec, mtime=0) if compress else rec)
                    n += 1
            if n:
                os.rename(tmp, final)
            else:
                os.remove(tmp)
            done = True
        finally:
            if not done:
                try:
                    os.remove(tmp)
                except OSError:
                    pass
        return iter([1] if n else [])

    files = (
        pages.select("url", "warc_ts", "text")
        .rdd.mapPartitionsWithIndex(dump)
        .sum()
    )
    return int(files)


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """Read a directory (or glob) of .warc.wet / .warc.wet.gz conversion
    archives into (url, warc_ts, text). One parse task per file — the same
    file-level parallelism as :func:`read_warc`; non-conversion records in
    a mixed archive are skipped."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{wet,wet.gz}")
        .load(path)
        .select("path", "content")
    )

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for rec in warc_records(bytes(blob)):
                    if rec.rec_type != "conversion":
                        continue
                    if rec.uri is None or rec.date is None:
                        continue
                    rows.append({
                        "url": rec.uri,
                        "warc_ts": rec.date.replace(tzinfo=None),
                        "text": rec.body.decode("utf-8", "replace"),
                    })
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "text"])

    return files.mapInPandas(parse, WET_SCHEMA)
