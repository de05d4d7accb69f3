"""Two-parallelism scaling benchmark (north-rule evidence).

Runs the identical extraction job on the identical deterministic input at
local[N] and local[4N] in separate processes (fresh JVM each), then
writes BENCH/BASELINE.md with throughput at both levels, the scaling
efficiency (target >= 0.8), and per-partition lineage metrics.

Usage: python BENCH/run_scaling.py [N]      (default N=4 -> compares 4 vs 16;
both levels stay under the host's 32 cores so the measurement captures
scaling, not host oversubscription)
Child:  python BENCH/run_scaling.py --child <cpus> <pages_path>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICATE = int(os.environ.get("BENCH_REPLICATE", "480"))
WORK_DIR = os.environ.get("BENCH_WORK_DIR", "/tmp/htmlparser2_spark_bench")


def child(cpus: int, pages_path: str) -> None:
    """One measured run at a fixed parallelism; prints a JSON line."""
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from htmlparser2_spark.plans.extract_job import parse_pages, partition_metrics
    from htmlparser2_spark.session import get_spark

    spark = get_spark(f"scaling-{cpus}", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 << 20))
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 20))
    # The synthetic pages are ~0.5KB; larger Arrow batches amortize the
    # per-batch pandas overhead (production default stays 2048 for real
    # multi-KB pages).
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
    pages = spark.read.parquet(pages_path)
    n_docs = pages.count()
    total_bytes = pages.agg(F.sum(F.length("html"))).collect()[0][0]
    # Warm every Python worker: sample keeps all input partitions alive.
    parse_pages(pages.sample(0.02), repartition=False).count()

    # Identical plan at both parallelism levels: scan-partitioned input
    # (no payload shuffle — measured 6-8s of pure overhead; the scan
    # already provides >= 4x-threads partitions), one parse pass, totals
    # derived from the lineage aggregation (single collect).
    t0 = time.perf_counter()
    parsed = parse_pages(pages, repartition=False)
    lineage = [r.asDict() for r in partition_metrics(parsed).orderBy("pid").collect()]
    wall = time.perf_counter() - t0
    docs_done = sum(r["docs"] for r in lineage)
    matches = sum(r["golden_matches"] for r in lineage)
    assert docs_done == n_docs == matches, (docs_done, matches, n_docs)
    print(
        "CHILD_RESULT "
        + json.dumps(
            {
                "cpus": cpus,
                "docs": n_docs,
                "bytes": total_bytes,
                "wall_sec": round(wall, 3),
                "docs_per_sec": round(n_docs / wall, 1),
                "mb_per_sec": round(total_bytes / 1e6 / wall, 2),
                "lineage": lineage,
            }
        )
    )
    spark.stop()


def run_child(cpus: int, pages_path: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", str(cpus), pages_path],
        capture_output=True,
        text=True,
        timeout=1200,
        cwd=REPO,
    )
    for line in out.stdout.splitlines():
        if line.startswith("CHILD_RESULT "):
            return json.loads(line[len("CHILD_RESULT "):])
    raise SystemExit(f"child {cpus} failed:\n{out.stdout[-2000:]}\n{out.stderr[-4000:]}")


def main(n: int) -> None:
    # Materialize the shared input once.
    pages_path = os.path.join(WORK_DIR, f"pages_x{REPLICATE}")
    if not os.path.exists(pages_path):
        sys.path.insert(0, REPO)
        from pyspark.sql import functions as F

        from htmlparser2_spark.session import get_spark
        from htmlparser2_spark.sources.pages import page_exprs

        spark = get_spark("scaling-setup", master="local[8]")
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        base = docs.count()
        rep = None
        for r in range(REPLICATE):
            s = docs.withColumn("doc_id", F.col("doc_id") + F.lit(r * base))
            rep = s if rep is None else rep.unionByName(s)
        rep.createOrReplaceTempView("documents_repl")
        e = page_exprs("spark")
        spark.sql(
            f"SELECT {e['url']} AS url, {e['warc_ts']} AS warc_ts, "
            f"{e['html']} AS html, {e['text']} AS text, lang FROM documents_repl"
        ).write.mode("overwrite").parquet(pages_path)
        spark.stop()

    low = run_child(n, pages_path)
    high = run_child(4 * n, pages_path)
    efficiency = high["docs_per_sec"] / (4 * low["docs_per_sec"])

    def lineage_rows(res: dict) -> str:
        rows = [
            f"| {r['pid']} | {r['docs']} | {r['bytes']} | {r['tags']} | {r['wall_ms']} |"
            for r in res["lineage"][:12]
        ]
        if len(res["lineage"]) > 12:
            rows.append(f"| … ({len(res['lineage'])} partitions total) | | | | |")
        return "\n".join(rows)

    md = f"""# BENCH/BASELINE — scaling evidence (north rule)

Identical `parse_pages` extraction job (->
mapInPandas parse over the scan partitioning -> byte-identical golden
check) on the identical
deterministic corpus, run at two parallelism levels in fresh JVMs.

Input: {low['docs']:,} documents / {low['bytes']/1e6:.1f} MB html
(sf dir {SF_DIR}, replicate x{REPLICATE}, seed-deterministic).

| parallelism | wall (s) | docs/sec | MB/sec |
|---|---|---|---|
| local[{n}] | {low['wall_sec']} | {low['docs_per_sec']:,} | {low['mb_per_sec']} |
| local[{4*n}] | {high['wall_sec']} | {high['docs_per_sec']:,} | {high['mb_per_sec']} |

**Scaling efficiency (local[{4*n}] vs 4 x local[{n}]): {efficiency:.3f}**
(required >= 0.8 per BASELINE.json)

Reference single-node envelope (BASELINE.md): ~460 docs/sec/core,
~28 MB/s/core on ~60KB real-web pages (htmlparser-benchmark).

## Per-partition lineage — local[{n}]

| pid | docs | bytes | tags | wall_ms |
|---|---|---|---|---|
{lineage_rows(low)}

## Per-partition lineage — local[{4*n}]

| pid | docs | bytes | tags | wall_ms |
|---|---|---|---|---|
{lineage_rows(high)}
"""
    out_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    # Preserve hand-written analysis sections appended after the
    # generated report (e.g. the overhead decomposition).
    keep = ""
    if os.path.exists(out_path):
        old = open(out_path).read()
        marker = "\n## Overhead decomposition"
        if marker in old:
            keep = marker + old.split(marker, 1)[1]
    with open(out_path, "w") as fh:
        fh.write(md + keep)
    print(f"efficiency={efficiency:.3f} -> {out_path}")
    print(json.dumps({"low": {k: v for k, v in low.items() if k != 'lineage'},
                      "high": {k: v for k, v in high.items() if k != 'lineage'},
                      "efficiency": round(efficiency, 3)}))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(int(sys.argv[2]), sys.argv[3])
    else:
        main(int(sys.argv[1]) if len(sys.argv) > 1 else 4)
