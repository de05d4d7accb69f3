"""The workloads: how each builds its pages, runs one job through the
public API, and checks the job's outputs against the reference.

A job is one closed-loop request: the Spark actions a user of the parse
path would submit for that workload. Checks run after the timed job.
Each check returns the number of failed documents (missing, duplicated
or wrong), which is 0 when the aggregate outputs match the reference
exactly; on a mismatch the check reruns the job per document to count
the failures.
"""

from __future__ import annotations

import os
import shutil
import zlib
from collections import Counter
from dataclasses import dataclass
from typing import Callable

from corpus import NULL_NAME, stats_key

WHY = {
    "large_pages_text": "4-8 KB pages with a heavy size tail and some inline svg (full-parser bail): engine skip-scan and scan bytes dominate",
    "small_pages_counts": "node_counts_udf exploded and summed plus doc_stats_udf summed: pandas_udf output build and a shuffle aggregate",
    "structured_markdown_write": "wiki-style pages through run_extract(markdown): DOM build, markdown render and a bucketed parquet write",
}

def count_failures(expected: dict[str, int], got: list[tuple[str, int | None]]) -> int:
    """Documents missing, duplicated or wrong, from per-url checksums."""
    seen = Counter(url for url, _ in got)
    wrong = sum(1 for url, crc in got if expected.get(url) != crc)
    dup = sum(n - 1 for url, n in seen.items() if n > 1 and url in expected)
    missing = sum(1 for url in expected if url not in seen)
    return min(len(expected), missing + wrong + dup)


def _crc_col(value_col: str):
    from pyspark.sql import functions as F

    return F.crc32(F.encode(F.concat(F.col("url"), F.lit("\x01"), F.col(value_col)), "utf-8"))


# ------------------------------------------------------------------ text


def text_job(pages, ctx) -> dict:
    from pyspark.sql import functions as F

    from htmlparser2_spark.plans.extract_job import parse_pages

    row = (
        parse_pages(pages, mode="text")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("golden_match").alias("golden"),
            F.sum(_crc_col("extracted")).alias("crc"),
        )
        .collect()[0]
    )
    return row.asDict()


def text_check(out: dict, pages, ctx) -> int:
    ref = ctx.ref
    if out["docs"] == ref["docs"] and out["golden"] == ref["docs"] and out["crc"] == ref["crc_sum"]:
        return 0
    from htmlparser2_spark.plans.extract_job import parse_pages

    rows = parse_pages(pages, mode="text").select("url", _crc_col("extracted").alias("c")).collect()
    failed = count_failures(ref["crc"], [(r["url"], r["c"]) for r in rows])
    # The program's own golden flag disagreeing is a failure too.
    return max(failed, ref["docs"] - (out["golden"] or 0), 1)


# ---------------------------------------------------------------- counts


def counts_job(pages, ctx) -> dict:
    from pyspark.sql import functions as F

    from htmlparser2_spark.functions.udfs import doc_stats_udf, node_counts_udf

    names = (
        pages.select(F.explode(node_counts_udf()(F.col("html"))).alias("nc"))
        .groupBy("nc.name")
        .agg(F.sum("nc.cnt").alias("cnt"))
        .collect()
    )
    stats = (
        pages.select(doc_stats_udf()(F.col("html")).alias("s"))
        .agg(
            F.count("s").alias("docs"),
            F.sum("s.n_events"),
            F.sum("s.n_tags"),
            F.sum("s.n_text_chars"),
            F.sum("s.max_depth"),
        )
        .collect()[0]
    )
    return {
        "names": {NULL_NAME if r["name"] is None else r["name"]: r["cnt"] for r in names},
        "docs": stats[0],
        "stats": list(stats[1:]),
    }


def counts_check(out: dict, pages, ctx) -> int:
    ref = ctx.ref
    if out["docs"] == ref["docs"] and out["names"] == ref["names"] and out["stats"] == ref["stats"]:
        return 0
    from pyspark.sql import functions as F

    from htmlparser2_spark.functions.udfs import doc_stats_udf, node_counts_udf

    rows = pages.select(
        "url",
        doc_stats_udf()(F.col("html")).alias("s"),
        node_counts_udf()(F.col("html")).alias("nc"),
    ).collect()
    got = []
    for r in rows:
        if r["s"] is None or r["nc"] is None:
            got.append((r["url"], None))
            continue
        counts = {c["name"]: c["cnt"] for c in r["nc"]}
        key = stats_key(tuple(r["s"]), counts)
        got.append((r["url"], zlib.crc32(key.encode("utf-8"))))
    return max(count_failures(ref["crc"], got), 1)


# -------------------------------------------------------------- markdown


def markdown_job(pages, ctx) -> dict:
    from htmlparser2_spark.plans.extract_job import run_extract

    out_dir = ctx.fresh_dir("extract")
    summary = run_extract(ctx.spark, pages, out_dir, mode="markdown", resume=False)
    return {"docs": summary["docs"], "out_dir": out_dir}


def markdown_check(out: dict, pages, ctx) -> int:
    from pyspark.sql import functions as F

    ref = ctx.ref
    parsed = ctx.spark.read.parquet(os.path.join(out["out_dir"], "parsed"))
    row = parsed.agg(F.count(F.lit(1)).alias("n"), F.sum(_crc_col("extracted")).alias("crc")).collect()[0]
    failed = 0
    if not (out["docs"] == row["n"] == ref["docs"] and row["crc"] == ref["crc_sum"]):
        rows = parsed.select("url", _crc_col("extracted").alias("c")).collect()
        failed = max(count_failures(ref["crc"], [(r["url"], r["c"]) for r in rows]), 1)
    shutil.rmtree(out["out_dir"], ignore_errors=True)
    return failed


@dataclass(frozen=True)
class Workload:
    name: str
    mode: str  # parse mode of the path the job runs ("text" or "markdown")
    engine_rate: str  # per-layer engine metric that bounds this workload
    job: Callable
    check: Callable


WORKLOADS = {
    w.name: w
    for w in (
        Workload("large_pages_text", "text", "engine.fast_text_mb_per_s", text_job, text_check),
        Workload("small_pages_counts", "text", "engine.parser_mb_per_s", counts_job, counts_check),
        Workload(
            "structured_markdown_write",
            "markdown",
            "engine.dom_markdown_mb_per_s",
            markdown_job,
            markdown_check,
        ),
    )
}
