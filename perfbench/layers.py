"""Traced-run machinery: spans around layer calls, Spark's own stage and
SQL-node metrics read from the UI REST API, and the per-layer probes.

Spans are taken only in this benchmark's files, around calls into the
program's public functions; nothing inside the program is instrumented.
Each span that submits Spark work runs under its own job group, which is
the key that joins spans to stages, jobs and SQL executions.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime


class Trace:
    """In-memory spans (id, parent, name, start, end, group); dumped once."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, group: str | None = None):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "group": group,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if group:
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            if group:
                self.sc.setJobGroup("", "")
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def with_self_time(self) -> list[dict]:
        """Spans plus self time: duration minus what child spans cover."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [
            {**s, "self_s": round(s["end"] - s["start"] - child_s.get(s["id"], 0.0), 6)}
            for s in self.spans
        ]


# ------------------------------------------------------------ Spark REST

_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6,
    "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6, "GiB": 1024**3 / 1e6, "TiB": 1024**4 / 1e6,
}


def sql_metric_total(value: str) -> float:
    """Total of a SQL-node metric string, in ms (times) or MB (sizes).

    Accepts ``"50,000"``, ``"0 ms"`` and the accumulated form
    ``"total (min, med, max (stageId: taskId))\\n14.0 s (3.3 s, ...)"``.
    """
    line = value.split("\n")[-1].strip()
    m = re.match(r"([\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        raise ValueError(f"unparsed SQL metric {value!r}")
    number = float(m.group(1).replace(",", ""))
    return number * _UNITS[m.group(2)] if m.group(2) else number


def _ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkRest:
    """Jobs, stages and SQL executions of the running application."""

    def __init__(self, sc) -> None:
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def load(self) -> None:
        self.jobs = self._get("/jobs")
        self.stages = {s["stageId"]: s for s in self._get("/stages?status=complete")}
        self.sql = self._get("/sql?details=true&planDescription=false&length=100000")

    def group_jobs(self, group: str) -> list[dict]:
        return sorted((j for j in self.jobs if j.get("jobGroup") == group), key=lambda j: j["jobId"])

    def group_stages(self, group: str) -> list[dict]:
        ids = {sid for j in self.group_jobs(group) for sid in j["stageIds"]}
        return [self.stages[i] for i in sorted(ids) if i in self.stages]

    def stage_metrics(self, group: str, nproc: int, job_s: float, cpu_s: float) -> dict:
        """Stage totals of the group's jobs. ``cpu_s`` is the CPU time of
        the JVM and its Python workers over the job, read from /proc:
        Spark's executorCpuTime counts JVM task threads only."""
        stages = self.group_stages(group)
        run_ms = sum(s["executorRunTime"] for s in stages)
        cpu_ms = sum(s["executorCpuTime"] for s in stages) / 1e6
        skew = 1.0
        if stages:
            top = max(stages, key=lambda s: s["executorRunTime"])
            q = self._get(f"/stages/{top['stageId']}/{top['attemptId']}/taskSummary?quantiles=0.5,1.0")
            p50, pmax = q["executorRunTime"]
            skew = pmax / p50 if p50 > 0 else 1.0
        return {
            "stage.executor_run_ms": run_ms,
            "stage.executor_cpu_ms": cpu_ms,
            "stage.gc_ms": sum(s["jvmGcTime"] for s in stages),
            "stage.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / 1e6,
            "stage.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 1e6,
            "stage.tasks": sum(s["numCompleteTasks"] for s in stages),
            "stage.task_skew": skew,
            "stage.cpu_util": cpu_s / (nproc * job_s),
        }

    def python_metrics(self, group: str) -> dict:
        """SQL-node metrics of every Python node in the group's executions."""
        job_ids = {j["jobId"] for j in self.group_jobs(group)}
        totals: dict[str, float] = {}
        for ex in self.sql:
            ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ex_jobs & job_ids:
                continue
            for node in ex["nodes"]:
                metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
                if "time to run Python workers" not in metrics:
                    continue
                for name, value in metrics.items():
                    totals[name] = totals.get(name, 0.0) + sql_metric_total(value)
        return {
            "boundary.python_boot_ms": totals.get("time to start Python workers", 0.0),
            "boundary.python_init_ms": totals.get("time to initialize Python workers", 0.0),
            "boundary.python_total_ms": totals.get("time to run Python workers", 0.0),
            "boundary.python_data_sent_mb": totals.get("data sent to Python workers", 0.0),
            "boundary.python_data_received_mb": totals.get("data returned from Python workers", 0.0),
            "boundary.python_rows_received": totals.get("number of output rows", 0.0),
        }

    def write_metrics(self, group: str) -> dict:
        """Split a run_extract call's jobs into the write and the read-back:
        jobs whose stages wrote output are the write, later ones read back."""
        jobs = self.group_jobs(group)
        writes = [
            j for j in jobs
            if any(self.stages.get(s, {}).get("outputBytes", 0) > 0 for s in j["stageIds"])
        ]
        last = writes[-1]["jobId"] if writes else -1

        def dur(js):
            return sum(_ts(j["completionTime"]) - _ts(j["submissionTime"]) for j in js)

        out_bytes = sum(s.get("outputBytes", 0) for s in self.group_stages(group))
        return {
            "plans.write_s": dur(writes),
            "plans.readback_s": dur([j for j in jobs if j["jobId"] > last]),
            "plans.output_mb": out_bytes / 1e6,
        }


def median_dict(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}


# --------------------------------------------------------- engine probes


def _rate(docs: list[str], nbytes: int, fn, min_s: float = 0.25) -> float:
    """Single-thread MB/s of ``fn`` over ``docs``, repeated to >= min_s."""
    reps, t0 = 0, time.perf_counter()
    while True:
        for d in docs:
            fn(d)
        reps += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= min_s:
            return nbytes * reps / 1e6 / elapsed


class _NoHandler:
    """Handler with no callbacks: the parser's own cost."""


def engine_rates(docs: list[str]) -> dict:
    """Single-thread engine rates on the workload's own documents."""
    from htmlparser2_spark.engine.dom import DomArrayHandler
    from htmlparser2_spark.engine.fast_text import FastTextExtractor
    from htmlparser2_spark.engine.markdown import to_markdown
    from htmlparser2_spark.engine.parser import Parser

    nbytes = sum(len(d.encode("utf-8")) for d in docs)
    fast = FastTextExtractor()
    parser = Parser(_NoHandler())
    dom = DomArrayHandler(with_indices=False)
    dom_parser = Parser(dom, batch_text=True)

    def markdown(d: str) -> str:
        dom_parser.parse(d)
        return to_markdown(dom.nodes)

    return {
        "engine.fast_text_mb_per_s": _rate(docs, nbytes, fast.extract),
        "engine.parser_mb_per_s": _rate(docs, nbytes, parser.parse),
        "engine.dom_markdown_mb_per_s": _rate(docs, nbytes, markdown),
    }


def udf_rates(htmls: list[bytes]) -> dict:
    """``doc_stats_udf`` / ``node_counts_udf`` batch bodies (``.func``) on
    one pandas batch. ``udfs.overhead_frac`` is the share of those calls
    spent outside ``Parser.parse`` (decoding, per-row output build, the
    pandas result), timed by wrapping ``Parser.parse`` for the call."""
    import pandas as pd

    from htmlparser2_spark.engine.parser import Parser
    from htmlparser2_spark.functions.udfs import doc_stats_udf, node_counts_udf

    batch = pd.Series(htmls)
    nbytes = sum(len(h) for h in htmls)
    parse = Parser.parse
    in_parse = [0.0]

    def timed_parse(self, data):
        t0 = time.perf_counter()
        try:
            return parse(self, data)
        finally:
            in_parse[0] += time.perf_counter() - t0

    def best(fn) -> tuple[float, float]:
        """Fastest of 3 calls: (call seconds, seconds inside parse)."""
        runs = []
        for _ in range(3):
            in_parse[0] = 0.0
            t0 = time.perf_counter()
            fn(batch)
            runs.append((time.perf_counter() - t0, in_parse[0]))
        return min(runs)

    Parser.parse = timed_parse
    try:
        stats_s, stats_parse_s = best(doc_stats_udf().func)
        counts_s, counts_parse_s = best(node_counts_udf().func)
    finally:
        Parser.parse = parse
    return {
        "udfs.doc_stats_mb_per_s": nbytes / 1e6 / stats_s,
        "udfs.node_counts_mb_per_s": nbytes / 1e6 / counts_s,
        "udfs.overhead_frac": 1.0 - (stats_parse_s + counts_parse_s) / (stats_s + counts_s),
    }


def count_files(path: str, suffix: str = ".parquet") -> int:
    return sum(f.endswith(suffix) for _, _, files in os.walk(path) for f in files)
