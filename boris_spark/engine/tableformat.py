"""Table-format seam between the crawl engine and its durable sinks.

The north rule names Iceberg as the table format for the frontier / seen /
store / results sinks. This sandbox ships no Iceberg runtime jar, so the
engine runs against a :class:`TableFormat` interface whose default
implementation (:class:`ParquetManifestFormat`) is append-only parquet
deltas partitioned by ``round`` plus one JSON manifest per committed round —
and every method documents its 1:1 Iceberg counterpart. Swapping
:class:`IcebergFormat` in on a real cluster changes no engine logic: the
engine never touches paths or manifests directly, only this seam.

Mapping (ParquetManifestFormat → Iceberg):

===================  ====================================================
seam method          Iceberg counterpart
===================  ====================================================
write_delta          ``df.writeTo(table).append()`` (one snapshot)
adopt_delta          ``add_files`` / fast-append of pre-written data files
read_sink            table scan (all snapshots)
delta_rows           snapshot summary ``added-records``
read_delta_pandas    incremental scan between snapshot N-1 and N
commit_round         snapshot commit carrying summary metadata (lineage +
                     fetch/extract metrics ride the snapshot summary map)
committed_rounds     snapshot history (inspect ``table.history()``)
rollback             ``rollback_to_snapshot`` (drop uncommitted appends)
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


class TableFormat:
    """Durable-sink operations a crawl round needs; see module docstring."""

    def write_delta(
        self, df: DataFrame, sink: str, rnd: int, part: str | None = None
    ) -> None:
        """Write sink's round-``rnd`` delta. *part* names a sub-delta
        component: a sink whose deltas are ever composed from multiple
        adopted directories (``adopt_parts``) must write its job-produced
        deltas under a part name too, so every delta of that sink has the
        same one-level layout (Spark's partition discovery rejects mixed
        depths). Formats without a directory layout ignore *part*."""
        raise NotImplementedError

    def adopt_delta(self, src_dir: str, sink: str, rnd: int) -> bool:
        """Adopt pre-written data files (e.g. a cascade output partition)
        as sink's round-``rnd`` delta without rewriting bytes. Returns
        False if *src_dir* does not exist (empty delta)."""
        raise NotImplementedError

    def adopt_parts(
        self, src_dirs: list[str], sink: str, rnd: int, schema: str
    ) -> int:
        """Adopt SEVERAL pre-written directories as ONE round-``rnd``
        delta of *sink*, committed atomically-enough for a crash-rerun of
        the round to be idempotent (the whole previous round-``rnd`` delta
        is replaced). The directories may carry different supersets of
        *schema* (readers project to *schema*). Returns the number of
        directories adopted (missing dirs are skipped). This is the
        Iceberg fast-append shape: data files written by the producing
        stages' own tasks, committed by reference in one snapshot — no
        byte is re-encoded by a checkpoint job."""
        raise NotImplementedError

    def read_sink(self, sink: str, schema: str | None = None) -> DataFrame | None:
        raise NotImplementedError

    def delta_rows(self, sink: str, rnd: int) -> int:
        raise NotImplementedError

    def sink_rows(self, sink: str) -> int:
        """Total rows across ALL committed deltas of *sink* — metadata
        only (parquet footers / Iceberg snapshot summary total-records),
        no Spark job. Used by the engine to pick the seen-filter strategy
        on resume (the per-round count is accumulated driver-side)."""
        raise NotImplementedError

    def read_delta_pandas(self, sink: str, rnd: int, columns=None):
        raise NotImplementedError

    def delta_df(self, sink: str, rnd: int, schema: str | None = None) -> DataFrame:
        raise NotImplementedError

    def commit_round(self, rnd: int, metrics: dict) -> None:
        raise NotImplementedError

    def committed_rounds(self) -> list[int]:
        raise NotImplementedError

    def rollback(self, sink: str, first_round: int) -> None:
        """Drop every delta of *sink* whose round is >= *first_round* —
        what a killed round adopted before its manifest committed."""
        raise NotImplementedError

    def round_metrics(self, rnd: int) -> dict:
        """The metrics payload committed with round *rnd*'s snapshot
        (fetched/results counts + per-partition lineage) — the Iceberg
        snapshot-summary read. Raises if the round was never committed."""
        raise NotImplementedError

    def compact_sink(self, sink: str, target_bytes: int = 64 << 20) -> dict:
        """Execute small-file compaction on *sink*: bin-pack each round
        delta's data files into ~``target_bytes`` outputs and atomically
        swap them in (Iceberg ``rewrite_data_files(strategy='binpack')``
        executed per-partition, with the round delta as the partition).
        Rows, values, and the round column are preserved exactly; only
        file layout changes. Returns ``{"files_before", "files_after",
        "bytes", "rounds_rewritten"}``. A fast-append crawl table needs
        this continuously: every round adopts cores-many small files and
        read amplification grows without bound otherwise (the planning
        half is the compact_plan query; this is the execute half)."""
        raise NotImplementedError


class ParquetManifestFormat(TableFormat):
    """Default impl: ``workdir/<sink>/round=N`` parquet deltas + JSON round
    manifests under ``workdir/rounds`` — the sandbox stand-in whose layout
    maps 1:1 onto Iceberg snapshots (module docstring table)."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)

    def _path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def write_delta(
        self, df: DataFrame, sink: str, rnd: int, part: str | None = None
    ) -> None:
        if part is None:
            df.write.mode("overwrite").parquet(self._path(sink, f"round={rnd}"))
            return
        # part-structured sink: clear the WHOLE round delta first (a rerun
        # of an interrupted round must not leave stale sibling parts from
        # the previous attempt's adopt_parts), then write under fsrc=part
        # so every delta of the sink has the same one-level layout
        import shutil

        rdir = self._path(sink, f"round={rnd}")
        if os.path.isdir(rdir):
            shutil.rmtree(rdir)
        df.write.mode("overwrite").parquet(
            os.path.join(rdir, f"fsrc={part}")
        )

    def adopt_delta(self, src_dir: str, sink: str, rnd: int) -> bool:
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
        """Directory renames only — the producing stages already wrote the
        data files; this is the Iceberg add_files/fast-append commit, with
        the round directory standing in for the snapshot."""
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
        """Row count from parquet footers — no Spark job (Iceberg: the
        snapshot summary's added-records counter, also no job)."""
        import pyarrow.parquet as pq

        path = self._path(sink, f"round={rnd}")
        if not os.path.isdir(path):
            return 0  # a round that adopted zero parts has no delta dir
        return sum(
            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            for root, _dirs, files in os.walk(path)
            for f in files if f.endswith(".parquet")
        )

    def sink_rows(self, sink: str) -> int:
        import pyarrow.parquet as pq

        top = self._path(sink)
        if not os.path.isdir(top):
            return 0
        return sum(
            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            for d in os.listdir(top) if d.startswith("round=")
            for root, _dirs, files in os.walk(os.path.join(top, d))
            for f in files if f.endswith(".parquet")
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

    def round_metrics(self, rnd: int) -> dict:
        with open(self._path("rounds", f"{rnd}.json")) as f:
            return json.load(f)

    def rollback(self, sink: str, first_round: int) -> None:
        import shutil

        top = self._path(sink)
        if not os.path.isdir(top):
            return
        for d in os.listdir(top):
            if d.startswith("round=") and int(d[6:]) >= first_round:
                shutil.rmtree(os.path.join(top, d))

    def compact_sink(self, sink: str, target_bytes: int = 64 << 20) -> dict:
        """Per-round binpack rewrite + atomic directory swap. Each round
        delta whose file count exceeds its binpack group count is read
        back, coalesced to ``ceil(bytes/target)`` outputs, written to a
        hidden staging dir, and swapped in with two renames. A crash at
        any point leaves either the old or the new complete delta, and
        the entry pass recovers from it: a ``round=N`` missing beside its
        ``.compact_old_round=N`` (killed between the renames) is renamed
        back; other ``.compact_*`` dirs are deleted only once their
        ``round=N`` exists. The
        ``fsrc`` adoption sub-partitioning is dissolved by the rewrite —
        it is projection-away lineage metadata; every reader selects
        explicit columns. The round column itself lives in the directory
        name and is untouched."""
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


class LocalCatalogFormat(TableFormat):
    """Catalog-TABLE implementation of the seam, runnable in this sandbox:
    every sink is a session-catalog table ``<db>.boris_<sink>``
    partitioned by ``round``, created through the DataFrameWriterV2 API
    (``df.writeTo(t).using('parquet').partitionedBy('round').create()``)
    and appended per round with dynamic partition overwrite (idempotent
    re-run of an interrupted round overwrites only that round's
    partition). Round commits append to a ``boris_rounds`` history table —
    the snapshot log — instead of JSON manifest files. This executes the
    catalog-table contract end-to-end (tests drive a full kill+resume
    crawl through it); the ONE call that cannot run here is
    ``writeTo(t).append()`` itself, because Spark's built-in session
    catalog resolves parquet tables as V1 at write time ("Cannot write
    into v1 table") and no V2 file catalog ships with PySpark — so
    :meth:`_append_table` routes through ``insertInto`` (same append
    semantics) unless ``v2_appends`` is set, which is exactly what
    :class:`IcebergFormat` does on a cluster with a real catalog.
    """

    def __init__(
        self,
        spark: SparkSession,
        db: str = "boris",
        location: str | None = None,
        v2_appends: bool = False,
    ):
        self.spark = spark
        self.db = db
        self.v2_appends = v2_appends
        loc = f" LOCATION '{location}'" if location else ""
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}{loc}")
        # re-running an interrupted round must replace that round's
        # partition only, not the whole sink
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def _tbl(self, sink: str) -> str:
        return f"{self.db}.boris_{sink}"

    def _exists(self, sink: str) -> bool:
        return self.spark.catalog.tableExists(self._tbl(sink))

    def _append_table(self, df: DataFrame, sink: str) -> None:
        """One seam point for the append call: V2 ``writeTo().append()``
        when the catalog supports it (Iceberg), ``insertInto`` with
        dynamic partition overwrite against the built-in session
        catalog."""
        t = self._tbl(sink)
        if self.v2_appends:
            df.writeTo(t).append()
        else:
            # insertInto is POSITIONAL: align to the table's column order
            cols = self.spark.table(t).columns
            df.select(*cols).write.mode("overwrite").insertInto(t)

    def write_delta(
        self, df: DataFrame, sink: str, rnd: int, part: str | None = None
    ) -> None:
        # *part* is a directory-layout concern; a catalog table has rows,
        # not directories, so it is ignored (Iceberg likewise)
        from pyspark.sql import functions as F

        df = df.withColumn("round", F.lit(rnd))
        if not self._exists(sink):
            (
                df.writeTo(self._tbl(sink))
                .using("parquet")
                .partitionedBy(F.col("round"))
                .create()
            )
        else:
            self._append_table(df, sink)

    def adopt_delta(self, src_dir: str, sink: str, rnd: int) -> bool:
        # Iceberg: add_files — the pre-written data files are committed by
        # reference. The session catalog has no add-files, so this path
        # re-writes the bytes through the table append; the ENGINE-facing
        # contract (directory in, committed delta out) is identical.
        if not os.path.isdir(src_dir):
            return False
        import shutil

        self.write_delta(self.spark.read.parquet(src_dir), sink, rnd)
        shutil.rmtree(src_dir, ignore_errors=True)
        return True

    def adopt_parts(
        self, src_dirs: list[str], sink: str, rnd: int, schema: str
    ) -> int:
        # Iceberg: ONE transaction of add_files over all directories. The
        # session catalog has no add-files, so the parts are read (each
        # projected to *schema* — they may carry different supersets of
        # it) and committed in ONE dynamic-partition-overwrite append,
        # which keeps the crash-rerun idempotency of the single-snapshot
        # commit.
        import shutil

        present = [d for d in src_dirs if os.path.isdir(d)]
        if not present:
            return 0
        parts = [
            self.spark.read.schema(schema).parquet(d) for d in present
        ]
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        self.write_delta(union, sink, rnd)
        for d in present:
            shutil.rmtree(d, ignore_errors=True)
        return len(present)

    def read_sink(self, sink: str, schema: str | None = None) -> DataFrame | None:
        if not self._exists(sink):
            return None
        return self.spark.table(self._tbl(sink))

    def delta_rows(self, sink: str, rnd: int) -> int:
        # Iceberg reads this from the snapshot summary without a job; a
        # catalog count() with partition pruning stands in here
        if not self._exists(sink):
            return 0
        return (
            self.spark.table(self._tbl(sink))
            .where(f"round = {int(rnd)}")
            .count()
        )

    def sink_rows(self, sink: str) -> int:
        # Iceberg: the current snapshot summary's total-records property —
        # no job; a catalog count() stands in here
        if not self._exists(sink):
            return 0
        return self.spark.table(self._tbl(sink)).count()

    def read_delta_pandas(self, sink: str, rnd: int, columns=None):
        df = self.spark.table(self._tbl(sink)).where(f"round = {int(rnd)}")
        if columns is not None:
            df = df.select(*columns)
        return df.toPandas()

    def delta_df(self, sink: str, rnd: int, schema: str | None = None) -> DataFrame:
        return (
            self.spark.table(self._tbl(sink))
            .where(f"round = {int(rnd)}")
            .drop("round")
        )

    def commit_round(self, rnd: int, metrics: dict) -> None:
        df = self.spark.createDataFrame(
            [(rnd, json.dumps(metrics))], "round int, metrics string"
        )
        if not self._exists("rounds"):
            df.writeTo(self._tbl("rounds")).using("parquet").create()
        else:
            t = self._tbl("rounds")
            df.select(*self.spark.table(t).columns).write.mode(
                "append"
            ).insertInto(t)

    def committed_rounds(self) -> list[int]:
        if not self._exists("rounds"):
            return []
        return sorted(
            r["round"]
            for r in self.spark.table(self._tbl("rounds"))
            .select("round").collect()
        )

    def round_metrics(self, rnd: int) -> dict:
        rows = (
            self.spark.table(self._tbl("rounds"))
            .where(f"round = {int(rnd)}")
            .select("metrics").collect()
        )
        if not rows:
            raise KeyError(f"round {rnd} has no committed snapshot")
        return json.loads(rows[-1]["metrics"])

    def rollback(self, sink: str, first_round: int) -> None:
        if not self._exists(sink):
            return
        t = self._tbl(sink)
        for (spec,) in self.spark.sql(f"SHOW PARTITIONS {t}").collect():
            rnd = int(spec.split("=")[1])
            if rnd >= first_round:
                self.spark.sql(f"ALTER TABLE {t} DROP PARTITION (round={rnd})")

    def drop(self) -> None:
        """Drop every sink table + the database (test cleanup)."""
        self.spark.sql(f"DROP DATABASE IF EXISTS {self.db} CASCADE")


class IcebergFormat(TableFormat):
    """The real-cluster implementation: each sink is an Iceberg table, each
    crawl round one snapshot commit (module docstring table). Requires the
    ``iceberg-spark-runtime`` jar + a configured catalog, neither of which
    exists in this sandbox — constructing it here raises, which IS the
    documented boundary: the engine is Iceberg-ready at the interface, the
    jar is the only missing piece.

    Frontier-delta mapping: ``write_delta(part=...)`` is a plain append
    (rows, not directories — *part* is ignored, as in
    :class:`LocalCatalogFormat`); ``adopt_parts`` is ONE transaction that
    ``add_files``-imports every source directory and commits a single
    fast-append snapshot — the data files written by the routing /
    cascade stages' own tasks become the next round's frontier without a
    byte rewritten."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str):
        raise NotImplementedError(
            "IcebergFormat needs the iceberg-spark-runtime jar and a "
            "catalog; this sandbox has neither. On a real cluster: "
            "spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog,"
            " then each seam method maps as documented in "
            "boris_spark/engine/tableformat.py's module docstring."
        )
