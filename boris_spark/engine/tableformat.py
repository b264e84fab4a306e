"""The crawl's table: every durable sink and round commit of a crawl.

A crawl's durable state (the frontier / seen / results / downloads
sinks, the seen sink doubling as the page cache, and the round history)
lives in one class, :class:`ParquetManifestFormat`: append-only parquet
deltas under
``<workdir>/<sink>/round=N`` plus one JSON manifest per committed round
under ``<workdir>/rounds``, beside the maintenance manifests that
compaction writes there. The engine never touches sink paths or
manifests directly, only these methods. The reference keeps its crawl
state in one place the same way, the fs-dict cache
(persistent/main.rkt:37-67).

The north rule names Iceberg as the table format. A plain PySpark install
ships no Iceberg runtime jar, so each method is written to map 1:1 onto
an Iceberg operation; a port to a real cluster (``iceberg-spark-runtime``
plus ``spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog``)
reimplements this one class:

===================  ====================================================
method               Iceberg counterpart
===================  ====================================================
adopt_delta          ``add_files`` / fast-append of pre-written data files
adopt_parts          ONE transaction ``add_files``-importing every source
                     directory, committed as a single fast-append snapshot
read_sink            table scan (all snapshots)
delta_rows           snapshot summary ``added-records``
sink_rows            snapshot summary ``total-records``
read_delta_pandas    incremental scan between snapshot N-1 and N
delta_df             the same incremental scan, distributed
commit_round         snapshot commit carrying summary metadata (lineage +
                     fetch/extract metrics ride the snapshot summary map)
committed_rounds     snapshot history (inspect ``table.history()``)
round_metrics        one snapshot's summary map
rollback             ``rollback_to_snapshot`` (drop uncommitted appends)
compact_sink         ``rewrite_data_files(strategy='binpack')``
commit_compaction    the maintenance snapshot a rewrite commits
===================  ====================================================
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession


def write_json_atomic(path: str, obj) -> None:
    """Write *obj* as JSON to *path* all-or-nothing: a tmp name, then
    ``os.replace`` — a kill mid-write leaves no torn ``N.json`` for
    ``committed_rounds`` to count as a commit."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def footer_rows(path: str) -> int:
    """Rows of the parquet file *path*, or of every parquet file under the
    directory *path*, from the footers — no Spark job. A missing path
    holds 0 rows."""
    import pyarrow.parquet as pq

    if os.path.isfile(path):
        return pq.ParquetFile(path).metadata.num_rows
    return sum(
        pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        for root, _dirs, files in os.walk(path)
        for f in files if f.endswith(".parquet")
    )


class ParquetManifestFormat:
    """``workdir/<sink>/round=N`` parquet deltas + JSON manifests under
    ``workdir/rounds``; the layout maps 1:1 onto Iceberg snapshots
    (module docstring table)."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)

    def _path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def adopt_delta(self, src_dir: str, sink: str, rnd: int) -> bool:
        """Adopt the pre-written data files in *src_dir* (e.g. a round
        output partition) as sink's round-``rnd`` delta by one rename,
        without rewriting bytes. Returns False if *src_dir* does not exist
        (empty delta)."""
        import shutil

        dst = self._path(sink, f"round={rnd}")
        if os.path.isdir(dst):
            shutil.rmtree(dst)  # re-run of an interrupted round
        if not os.path.isdir(src_dir):
            return False
        os.makedirs(self._path(sink), exist_ok=True)
        os.rename(src_dir, dst)
        return True

    def adopt_parts(
        self, src_dirs: list[str], sink: str, rnd: int, schema: str
    ) -> int:
        """Adopt SEVERAL pre-written directories as ONE round-``rnd``
        delta of *sink*, by directory renames only: the producing stages'
        own tasks wrote the data files, and the round directory stands in
        for the snapshot. A crash-rerun of the round replaces the whole
        previous delta. The directories may carry different supersets of
        *schema* (readers project to it). Returns the number of
        directories adopted (missing ones are skipped)."""
        import shutil

        dst = self._path(sink, f"round={rnd}")
        if os.path.isdir(dst):
            shutil.rmtree(dst)  # re-run of an interrupted round
        adopted = 0
        for i, src in enumerate(src_dirs):
            if not os.path.isdir(src):
                continue
            os.makedirs(dst, exist_ok=True)
            os.rename(src, os.path.join(dst, f"fsrc=p{i}"))
            adopted += 1
        return adopted

    def read_sink(self, sink: str, schema: str | None = None) -> DataFrame | None:
        path = self._path(sink)
        if not os.path.isdir(path):
            return None
        reader = self.spark.read.option("basePath", path)
        if schema is not None:
            # explicit schema (+ the round partition column) skips the
            # footer-sampling schema-inference job every round
            reader = reader.schema(schema + ", round int")
        return reader.parquet(path + "/round=*")

    def delta_rows(self, sink: str, rnd: int) -> int:
        """Rows of sink's round-``rnd`` delta (0 when a round adopted no
        parts and so has no delta dir)."""
        return footer_rows(self._path(sink, f"round={rnd}"))

    def sink_rows(self, sink: str) -> int:
        """Rows across ALL deltas of *sink* — what the engine restores its
        driver-side seen-set size from on resume."""
        top = self._path(sink)
        if not os.path.isdir(top):
            return 0
        return sum(
            footer_rows(os.path.join(top, d))
            for d in os.listdir(top) if d.startswith("round=")
        )

    def read_delta_pandas(self, sink: str, rnd: int, columns=None):
        """Driver-side read of one (small) delta — no Spark job. At design
        scale this is Iceberg's incremental snapshot scan, consumed
        distributed; the engine gates its use on delta row count."""
        import pyarrow.parquet as pq

        return pq.read_table(
            self._path(sink, f"round={rnd}"), columns=columns
        ).to_pandas()

    def delta_df(self, sink: str, rnd: int, schema: str | None = None) -> DataFrame:
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self._path(sink, f"round={rnd}"))

    def commit_round(self, rnd: int, metrics: dict) -> None:
        os.makedirs(self._path("rounds"), exist_ok=True)
        write_json_atomic(self._path("rounds", f"{rnd}.json"), metrics)

    def committed_rounds(self) -> list[int]:
        rounds_dir = self._path("rounds")
        if not os.path.isdir(rounds_dir):
            return []
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(rounds_dir)
            # numeric stems only: maintenance manifests (compact_after_N)
            # share the directory but are not round snapshots
            if f.endswith(".json") and f.split(".")[0].isdigit()
        )

    def commit_compaction(self, report: dict) -> None:
        """Record a compaction pass's per-sink report as a maintenance
        manifest, ``rounds/compact_after_<N>.json`` with N the last
        committed round (-1 before any)."""
        done = self.committed_rounds()
        after = done[-1] if done else -1
        os.makedirs(self._path("rounds"), exist_ok=True)
        write_json_atomic(
            self._path("rounds", f"compact_after_{after}.json"), report
        )

    def round_metrics(self, rnd: int) -> dict:
        """The metrics payload committed with round *rnd* (fetch/result
        counts + per-partition lineage). Raises if the round was never
        committed."""
        with open(self._path("rounds", f"{rnd}.json")) as f:
            return json.load(f)

    def rollback(self, sink: str, first_round: int) -> None:
        """Drop every delta of *sink* whose round is >= *first_round* —
        what a killed round adopted before its manifest committed."""
        import shutil

        top = self._path(sink)
        if not os.path.isdir(top):
            return
        for d in os.listdir(top):
            if d.startswith("round=") and int(d[6:]) >= first_round:
                shutil.rmtree(os.path.join(top, d))

    def compact_sink(self, sink: str, target_bytes: int = 64 << 20) -> dict:
        """Small-file compaction of *sink* (the execute half of the
        compact_plan query): every round adopts cores-many small files, so
        read amplification grows without it. Each round delta whose file
        count exceeds its binpack group count is read back, coalesced to
        ``ceil(bytes/target)`` outputs, written to a hidden staging dir,
        and swapped in with two renames. Rows, values and the round
        column (it lives in the directory name) are kept exactly; only the
        file layout changes, and the ``fsrc`` adoption sub-partitioning,
        projection-away lineage metadata, is dissolved. A crash at any
        point leaves either the old or the new complete delta, and the
        entry pass recovers from it: a ``round=N`` missing beside its
        ``.compact_old_round=N`` (killed between the renames) is renamed
        back; other ``.compact_*`` dirs are deleted only once their
        ``round=N`` exists. Returns ``{"files_before", "files_after",
        "bytes", "rounds_rewritten"}``."""
        import shutil

        top = self._path(sink)
        stats = {"files_before": 0, "files_after": 0, "bytes": 0,
                 "rounds_rewritten": 0}
        if not os.path.isdir(top):
            return stats
        # recover from a previously killed compaction pass; sorted, so
        # .compact_old_X is restored before .compact_tmp_X is judged
        for d in sorted(os.listdir(top)):
            if not d.startswith(".compact_"):
                continue
            rdir = os.path.join(top, d.split("_", 2)[2])
            if not os.path.isdir(rdir) and d.startswith(".compact_old_"):
                os.rename(os.path.join(top, d), rdir)
            elif os.path.isdir(rdir):
                shutil.rmtree(os.path.join(top, d), ignore_errors=True)

        def _files(rdir: str) -> list[tuple[str, int]]:
            return [
                (os.path.join(root, f), os.path.getsize(os.path.join(root, f)))
                for root, _dirs, fs in os.walk(rdir)
                for f in sorted(fs) if f.endswith(".parquet")
            ]

        for d in sorted(os.listdir(top)):
            if not d.startswith("round="):
                continue
            rdir = os.path.join(top, d)
            files = _files(rdir)
            nbytes = sum(sz for _, sz in files)
            stats["files_before"] += len(files)
            stats["bytes"] += nbytes
            n_groups = max(1, -(-nbytes // target_bytes))  # ceil
            if len(files) <= n_groups:
                stats["files_after"] += len(files)
                continue
            tmp = os.path.join(top, f".compact_tmp_{d}")
            old = os.path.join(top, f".compact_old_{d}")
            (
                self.spark.read.parquet(rdir)
                .drop("fsrc")
                .coalesce(n_groups)
                .write.mode("overwrite").parquet(tmp)
            )
            os.rename(rdir, old)
            os.rename(tmp, rdir)
            shutil.rmtree(old)
            stats["files_after"] += len(_files(rdir))
            stats["rounds_rewritten"] += 1
        return stats
