"""Metric definitions shared by the runner, the self-tests and
``BENCHMARK.json``.

``LAYERS`` records, for every per-layer metric, the end-to-end metric it
should move and on which workloads (``BENCHMARK.json`` keeps only name,
unit and direction per metric, so the mapping lives here).
"""

from __future__ import annotations

import re

# name -> (unit, better, bound)
END_TO_END = {
    "job_s": ("s", "lower", 0.25),
    "docs_per_s": ("1/s", "higher", 0.25),
    "html_mb_per_s": ("MB/s", "higher", 0.25),
    "setup_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
}

ALL = ("large_pages_text", "small_pages_counts", "structured_markdown_write")

# name -> (unit, better, moves end-to-end metric, on workloads)
LAYERS = {
    "session.start_s": ("s", "lower", "setup_s", ALL),
    "boundary.python_boot_ms": ("ms", "lower", "setup_s", ALL),
    "boundary.python_init_ms": ("ms", "lower", "setup_s", ALL),
    "sources.scan_s": ("s", "lower", "html_mb_per_s", ("large_pages_text",)),
    "sources.scan_mb_per_s": ("MB/s", "higher", "html_mb_per_s", ("large_pages_text",)),
    "boundary.passthrough_s": ("s", "lower", "docs_per_s", ("small_pages_counts", "large_pages_text")),
    "boundary.python_total_ms": ("ms", "lower", "docs_per_s", ("small_pages_counts", "large_pages_text")),
    "boundary.python_data_sent_mb": ("MB", "lower", "docs_per_s", ("small_pages_counts", "large_pages_text")),
    "boundary.python_data_received_mb": ("MB", "lower", "docs_per_s", ("small_pages_counts", "large_pages_text")),
    "boundary.python_rows_received": ("count", "lower", "docs_per_s", ("small_pages_counts", "large_pages_text")),
    "engine.fast_text_mb_per_s": ("MB/s", "higher", "html_mb_per_s", ("large_pages_text",)),
    "engine.parser_mb_per_s": ("MB/s", "higher", "html_mb_per_s", ("small_pages_counts",)),
    "engine.dom_markdown_mb_per_s": ("MB/s", "higher", "html_mb_per_s", ("structured_markdown_write",)),
    "engine.ceiling_frac": ("fraction", "higher", "html_mb_per_s", ALL),
    "udfs.doc_stats_mb_per_s": ("MB/s", "higher", "job_s", ("small_pages_counts",)),
    "udfs.node_counts_mb_per_s": ("MB/s", "higher", "job_s", ("small_pages_counts",)),
    "udfs.overhead_frac": ("fraction", "lower", "job_s", ("small_pages_counts",)),
    "plans.write_s": ("s", "lower", "job_s", ("structured_markdown_write",)),
    "plans.readback_s": ("s", "lower", "job_s", ("structured_markdown_write",)),
    "plans.output_mb": ("MB", "lower", "job_s", ("structured_markdown_write",)),
    "plans.files_written": ("count", "lower", "job_s", ("structured_markdown_write",)),
    "plans.spark_jobs": ("count", "lower", "job_s", ALL),
    "stage.executor_run_ms": ("ms", "lower", "job_s", ALL),
    "stage.executor_cpu_ms": ("ms", "lower", "job_s", ALL),
    "stage.gc_ms": ("ms", "lower", "peak_rss_mb", ALL),
    "stage.shuffle_read_mb": ("MB", "lower", "job_s", ("small_pages_counts", "structured_markdown_write")),
    "stage.shuffle_write_mb": ("MB", "lower", "job_s", ("small_pages_counts", "structured_markdown_write")),
    "stage.tasks": ("count", "lower", "job_s", ALL),
    "stage.task_skew": ("ratio", "lower", "job_s", ("large_pages_text",)),
    "stage.cpu_util": ("fraction", "higher", "job_s", ("large_pages_text",)),
    "trace.overhead_frac": ("fraction", "lower", "job_s", ALL),
}

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def benchmark_json(why: dict[str, str]) -> dict:
    """The ``BENCHMARK.json`` document these definitions describe."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 8,
        "workloads": [{"name": n, "why": why[n]} for n in ALL],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, (u, b, _, _) in LAYERS.items()],
    }
