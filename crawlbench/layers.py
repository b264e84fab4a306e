"""Per-layer measurement for the traced run.

Everything here observes the program from outside ``boris_spark``: it reads
the Spark event log, wraps the table format the crawler is handed, and times
calls into the kernel and the Bloom store on the workload's own inputs.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict

from measure import median

# the event log must be plain JSON (Spark 4 writes zstd by default) and one
# file (rolling logs split it)
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_PY_ACCUMS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_start_ms",
    "data sent to Python workers": "to_python_b",
    "data returned from Python workers": "from_python_b",
}


def _union_s(intervals: list[tuple[float, float]]) -> float:
    covered, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        covered += hi - max(lo, end)
        end = hi
    return covered


def spark_layers(log_dir: str, windows: list[tuple[float, float]], cores: int) -> dict:
    """Fold the event log's jobs and tasks that start inside *windows*
    (epoch seconds) into the ``spark.*``, ``udfs.*`` and wall-split
    metrics. The split: window wall = driver gap + job-covered wall;
    cores x job-covered wall = task wall + idle slots; task wall = executor
    run + deserialize + the unattributed rest (``spark.task_other_s``:
    result serialization, scheduler delay)."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")

    def inside(ms: float) -> int | None:
        s = ms / 1000
        for i, (lo, hi) in enumerate(windows):
            if lo <= s <= hi:
                return i
        return None

    job_start: dict[int, tuple[int, float]] = {}
    job_spans: list[tuple[int, float, float]] = []
    tasks: list[dict] = []
    acc: dict[str, float] = defaultdict(float)
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                w = inside(ev["Submission Time"])
                if w is not None:
                    job_start[ev["Job ID"]] = (w, ev["Submission Time"] / 1000)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_start:
                w, t0 = job_start.pop(ev["Job ID"])
                job_spans.append((w, t0, min(ev["Completion Time"] / 1000, windows[w][1])))
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                if inside(info["Launch Time"]) is None:
                    continue
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                tasks.append({
                    "stage": (ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                    "wall": (info["Finish Time"] - info["Launch Time"]) / 1000,
                    "run": m.get("Executor Run Time", 0) / 1000,
                    "cpu": m.get("Executor CPU Time", 0) / 1e9,
                    "gc": m.get("JVM GC Time", 0) / 1000,
                    "deser": m.get("Executor Deserialize Time", 0) / 1000,
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "output": m.get("Output Metrics", {}).get("Bytes Written", 0),
                })
                for a in info.get("Accumulables", []):
                    key = _PY_ACCUMS.get(a.get("Name"))
                    if key is not None:
                        acc[key] += float(a.get("Update", 0))

    window_s = sum(hi - lo for lo, hi in windows)
    covered = sum(
        _union_s([(t0, t1) for w, t0, t1 in job_spans if w == i])
        for i in range(len(windows))
    )
    task_wall = sum(t["wall"] for t in tasks)
    by_stage: dict[tuple, list[float]] = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t["wall"])
    skew = [
        max(ws) / max(median(ws), 1e-3)
        for ws in by_stage.values() if len(ws) >= cores
    ]
    mb = 1 / (1 << 20)

    def total(key: str) -> float:
        return sum(t[key] for t in tasks)

    return {
        "spark.jobs": len(job_spans),
        "spark.tasks": len(tasks),
        "spark.task_run_s": total("run"),
        "spark.task_cpu_s": total("cpu"),
        "spark.gc_s": total("gc"),
        "spark.deser_s": total("deser"),
        "spark.task_other_s": task_wall - total("run") - total("deser"),
        "spark.shuffle_read_mb": total("shuffle_read") * mb,
        "spark.shuffle_write_mb": total("shuffle_write") * mb,
        "spark.spill_mb": total("spill") * mb,
        "spark.output_mb": total("output") * mb,
        "spark.slot_idle_s": cores * covered - task_wall,
        "spark.task_skew": max(skew, default=0.0),
        "window.job_covered_s": covered,
        "window.driver_gap_s": window_s - covered,
        "udfs.python_run_s": acc["python_run_ms"] / 1000,
        "udfs.python_start_s": acc["python_start_ms"] / 1000,
        "udfs.to_python_mb": acc["to_python_b"] * mb,
        "udfs.from_python_mb": acc["from_python_b"] * mb,
    }


def timed_table_format(spark, workdir: str):
    """A ``ParquetManifestFormat`` that times its own public calls. The
    crawler calls some of them from its commit threads, so the totals
    are kept under a lock."""
    from boris_spark.engine.tableformat import ParquetManifestFormat

    class TimedFormat(ParquetManifestFormat):
        def __init__(self, spark, workdir):
            super().__init__(spark, workdir)
            self.lock = threading.Lock()
            self.secs: dict[str, float] = defaultdict(float)
            self.calls: dict[str, int] = defaultdict(int)

        def _timed(self, group: str, fn, *a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                dt = time.perf_counter() - t0
                with self.lock:
                    self.secs[group] += dt
                    self.calls[group] += 1

        def write_delta(self, *a, **kw):
            return self._timed("write_delta", super().write_delta, *a, **kw)

        def adopt_delta(self, *a, **kw):
            return self._timed("adopt", super().adopt_delta, *a, **kw)

        def adopt_parts(self, *a, **kw):
            return self._timed("adopt", super().adopt_parts, *a, **kw)

        def commit_round(self, *a, **kw):
            return self._timed("commit_round", super().commit_round, *a, **kw)

        def delta_rows(self, *a, **kw):
            return self._timed("read_meta", super().delta_rows, *a, **kw)

        def sink_rows(self, *a, **kw):
            return self._timed("read_meta", super().sink_rows, *a, **kw)

        def read_delta_pandas(self, *a, **kw):
            return self._timed("read_meta", super().read_delta_pandas, *a, **kw)

    return TimedFormat(spark, workdir)


def table_format_layers(formats: list) -> dict:
    def s(group: str) -> float:
        return sum(f.secs[group] for f in formats)

    def n(group: str) -> int:
        return sum(f.calls[group] for f in formats)

    return {
        "tableformat.write_delta_s": s("write_delta"),
        "tableformat.write_delta_calls": n("write_delta"),
        "tableformat.adopt_s": s("adopt"),
        "tableformat.adopt_calls": n("adopt"),
        "tableformat.commit_round_s": s("commit_round"),
        "tableformat.read_meta_s": s("read_meta"),
    }


def _us_per_call(fn, items: list, min_s: float = 0.3) -> float:
    """Median over repeats of the mean per-item time of ``fn`` (µs)."""
    reps = []
    t_end = time.perf_counter() + min_s
    while len(reps) < 3 or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        reps.append((time.perf_counter() - t0) / len(items) * 1e6)
    return median(reps)


def kernel_layers(pages: list[tuple[str, str]]) -> dict:
    """Time the kernel functions the crawl's fused stage calls per page on
    *pages* ((url, html) pairs of the workload's own web). Pass more pages
    than htmlkit's 256-entry parse cache holds, so that every repeat parses
    every page again, as a crawl parses each new page."""
    from boris_spark.kernel import htmlkit, urlkit, xxh64_str

    links_q = "//td[@class='title']/a/@href/text()"
    hrefs = [(u, h) for u, html in pages for h in htmlkit.xpath(html, links_q)]
    return {
        "htmlkit.page_profile_us": _us_per_call(htmlkit.page_profile, [h for _, h in pages]),
        "htmlkit.links_us": _us_per_call(
            lambda html: htmlkit.xpath(html, links_q), [h for _, h in pages]
        ),
        "urlkit.resolve_us": _us_per_call(lambda p: urlkit.resolve(*p), hrefs),
        "hashing.xxh64_us": _us_per_call(xxh64_str, [urlkit.resolve(*p) for p in hrefs]),
    }


def bloom_layers(bloom, n_buckets: int, n_probe: int = 20000) -> dict:
    """False-positive rate of the crawl's seen-set Bloom shards, counted
    exactly by probing with URLs no crawl ever sees, and the probe cost."""
    import pandas as pd

    from boris_spark.kernel import url_hash

    hashes = [url_hash(f"http://never-seen.invalid/probe/{i}") for i in range(n_probe)]
    pdf = pd.DataFrame({"url_hash": hashes, "bucket": [h % n_buckets for h in hashes]})
    t0 = time.perf_counter()
    maybe = bloom.filter_frame(pdf)
    dt = time.perf_counter() - t0
    return {
        "bloom.fp_rate": float(maybe.sum()) / n_probe,
        "bloom.filter_us_per_url": dt / n_probe * 1e6,
    }
