"""Parse-path benchmark: one seeded workload through the public API at
``local[nproc]``, outputs checked, one JSON result line on stdout.

Usage (from the repository root):

    python3 perfbench/run.py --workload large_pages_text --seed 1 --seconds 8 --trace 0

A run:

1. builds the workload's pages from the seed, and their reference
   outputs, in a throwaway process (``corpus.py``; not part of set-up);
2. set-up, timed as ``setup_s``: starts the session with ``get_spark``
   (fixed 1 GiB driver heap), opens the pages and runs the job
   WARMUP_JOBS times, which starts the Python workers and lets the JVM's
   compiled code settle (outputs are checked; the time is set-up, not
   ``job_s``);
3. runs a closed loop with one client for ``--seconds``: submit the
   workload's job, wait for it, check its outputs, repeat (at least 5 jobs);
4. with ``--trace 1`` alternates untraced and traced jobs, then probes
   each layer and reports the per-layer metrics instead of the
   end-to-end ones.

Each run also writes a record (host stamp, corpus properties, per-job
times and, when traced, the spans joined with Spark's stage and SQL-node
metrics) to ``.perfbench_work/runs/``. Everything it writes stays under
``.perfbench_work/`` in the working directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

from layers import SparkRest, Trace, count_files, engine_rates, median_dict, udf_rates
from spec import LAYERS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_JOBS = 5
WARMUP_JOBS = 3
FILES_PER_CORE = 2
PROBE_REPEATS = 2
SAMPLE_BYTES = 512 * 1024
TIME_LIMIT_S = 120


def host_stamp() -> dict:
    """nproc, 1-minute loadavg and any java process this run did not start.
    Foreign processes are recorded, never touched."""
    ours = set(_descendants(os.getpid())) | {os.getpid()}
    foreign = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if int(pid) not in ours:
            foreign.append({"pid": int(pid), "cmd": cmd[:160]})
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg_1m": os.getloadavg()[0], "foreign_java": foreign}


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{p}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


class RssSampler:
    """Peak of the summed anonymous memory of the driver JVM and its Python
    workers, sampled every 200 ms from /proc/<pid>/smaps_rollup. Pss_Anon
    splits pages a forked worker shares with its parent between them, so
    forks are not counted twice; file-backed pages (jars, libraries) are
    left out because how many stay resident depends on the host's page
    cache, not on the run."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> int:
        total = 0
        for pid in [self.jvm_pid] + _descendants(self.jvm_pid):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss_Anon:"):
                            total += int(line.split()[1])
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.wait(0.2):
            self.peak_kb = max(self.peak_kb, self._sample())

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self._sample())

    @property
    def peak_mb(self) -> float:
        return self.peak_kb * 1024 / 1e6


def tree_cpu_s(jvm_pid: int) -> float:
    """User + system CPU seconds of the driver JVM and its Python workers."""
    ticks = 0
    for pid in [jvm_pid] + _descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


class Run:
    """State of one benchmark run: paths, session, reference, records."""

    def __init__(self, workload, seed: int, seconds: int, trace: bool) -> None:
        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(os.getcwd(), ".perfbench_work", f"{workload.name}-s{seed}-t{int(trace)}")
        self.spark = None
        self.pages_path = ""
        self.ref: dict = {}
        self.record: dict = {}
        self._n_dirs = 0

    def fresh_dir(self, stem: str) -> str:
        self._n_dirs += 1
        return os.path.join(self.work, f"{stem}-{self._n_dirs}")

    def start_session(self):
        from htmlparser2_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
        conf = {
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # A fixed-size heap: no heap growth (and GC-rate change) while jobs run.
            "spark.driver.extraJavaOptions": f"{java_opts} -Xms1g",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.enabled": "true" if self.trace else "false",
        }
        self.spark = get_spark(
            "perfbench", master=f"local[{self.nproc}]", shuffle_partitions=self.nproc, conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        workers = _descendants(proc.pid) if proc else []
        self.spark.stop()
        self.spark = None
        if proc is None:
            return
        gateway.shutdown()
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 15
        for pid in workers:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass


def probe_layers(
    r: Run, tr: Trace, pages, groups: list[tuple[str, float, float]], session_s: float
) -> tuple[dict, dict]:
    """Per-layer numbers: Spark's stage and SQL-node metrics of the traced
    jobs and the set-up jobs, plus one probe per layer, each in its own
    span. Also returns every job group's REST metrics, for the record."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from htmlparser2_spark.plans.extract_job import run_extract

    mb = r.ref["html_bytes"] / 1e6

    def scan(df) -> None:
        df.agg(F.count(F.lit(1)), *[F.sum(F.length(c)) for c in pages.columns]).collect()

    def identity(batches):
        yield from batches

    probes: dict[str, list[float]] = {"scan": [], "passthrough": []}
    for i in range(PROBE_REPEATS):
        for name, df in (("scan", pages), ("passthrough", pages.mapInPandas(identity, pages.schema))):
            with tr.span(f"{'sources' if name == 'scan' else 'boundary'}.{name}", f"{name}-{i}") as sp:
                scan(df)
            probes[name].append(sp["end"] - sp["start"])
    scan_s = statistics.median(probes["scan"])

    out_dir = r.fresh_dir("plans")
    with tr.span("plans.run_extract", "plans"):
        run_extract(r.spark, pages, out_dir, mode=r.wl.mode, resume=False)
    files = count_files(os.path.join(out_dir, "parsed"))
    shutil.rmtree(out_dir, ignore_errors=True)

    htmls: list[bytes] = []
    first = sorted(f for f in os.listdir(r.pages_path) if f.endswith(".parquet"))[0]
    for batch in pq.ParquetFile(os.path.join(r.pages_path, first)).iter_batches(64, columns=["html"]):
        htmls.extend(batch.column(0).to_pylist())
        if sum(map(len, htmls)) >= SAMPLE_BYTES:
            break
    with tr.span("engine.single_thread"):
        layer = engine_rates([h.decode("utf-8") for h in htmls])
    with tr.span("udfs.func"):
        layer.update(udf_rates(htmls))

    rest = SparkRest(r.spark.sparkContext)
    rest.load()
    per_job, joined = [], {}
    for group, seconds, cpu_s in groups:
        m = {
            **rest.stage_metrics(group, r.nproc, seconds, cpu_s),
            **rest.python_metrics(group),
            "plans.spark_jobs": len(rest.group_jobs(group)),
        }
        per_job.append(m)
        joined[group] = {"job_s": seconds, "tree_cpu_s": cpu_s, **m}
    layer.update(median_dict(per_job))
    warm = rest.python_metrics("warmup")
    layer.update(
        {
            "session.start_s": session_s,
            "boundary.python_boot_ms": warm["boundary.python_boot_ms"],
            "boundary.python_init_ms": warm["boundary.python_init_ms"],
            "sources.scan_s": scan_s,
            "sources.scan_mb_per_s": mb / scan_s,
            "boundary.passthrough_s": statistics.median(probes["passthrough"]) - scan_s,
            "plans.files_written": files,
            **rest.write_metrics("plans"),
        }
    )
    for group in ["warmup", "plans"] + [f"{n}-{i}" for n in probes for i in range(PROBE_REPEATS)]:
        joined[group] = rest.python_metrics(group)
    for group, rec in joined.items():
        rec["jobs"] = [j["jobId"] for j in rest.group_jobs(group)]
    return layer, joined


def closed_loop(r: Run, pages, tr, jvm_pid: int) -> dict:
    """One client: submit the job, wait, check it, repeat for
    ``r.seconds`` (at least MIN_JOBS jobs). With tracing, every second
    job runs under a span and a job group."""
    loop = {"times": [], "traced": [], "untraced": [], "groups": [], "attempted": 0, "failed": 0}
    t_end = time.perf_counter() + r.seconds
    while len(loop["times"]) < MIN_JOBS or time.perf_counter() < t_end:
        traced = tr is not None and len(loop["times"]) % 2 == 1
        group = f"job-{len(loop['times'])}"
        cpu0 = tree_cpu_s(jvm_pid) if traced else 0.0
        t = time.perf_counter()
        if traced:
            with tr.span(f"job.{r.wl.name}", group):
                out = r.wl.job(pages, r)
        else:
            out = r.wl.job(pages, r)
        elapsed = time.perf_counter() - t
        loop["times"].append(elapsed)
        loop["traced" if traced else "untraced"].append(elapsed)
        if traced:
            loop["groups"].append((group, elapsed, tree_cpu_s(jvm_pid) - cpu0))
        loop["attempted"] += r.ref["docs"]
        loop["failed"] += r.wl.check(out, pages, r)
    return loop


def run(r: Run) -> dict:
    """One benchmark run; returns the result object."""
    wl, trace = r.wl, r.trace
    corpus = os.path.join(HERE, "corpus.py")
    n_files = str(FILES_PER_CORE * r.nproc)
    subprocess.run([sys.executable, corpus, wl.name, str(r.seed), r.work, str(r.nproc), n_files], check=True)
    with open(os.path.join(r.work, "reference.json")) as fh:
        r.ref = json.load(fh)

    t0 = time.perf_counter()
    r.start_session()
    session_s = time.perf_counter() - t0
    sc = r.spark.sparkContext
    jvm_pid = sc._gateway.proc.pid
    tr = Trace(sc) if trace else None
    with RssSampler(jvm_pid) as rss:
        t1 = time.perf_counter()
        r.pages_path = os.path.join(r.work, "pages")
        pages = r.spark.read.parquet(r.pages_path)
        load_s = time.perf_counter() - t1
        # The first job starts the Python workers; the JVM's compiled code
        # keeps speeding jobs up for a few more. All are checked like every
        # other job but timed as set-up.
        warm_failed = 0
        t2 = time.perf_counter()
        for _ in range(WARMUP_JOBS):
            if trace:
                sc.setJobGroup("warmup", "warmup")
            out = wl.job(pages, r)
            if trace:
                sc.setJobGroup("", "")
            warm_failed += wl.check(out, pages, r)
        warmup_s = time.perf_counter() - t2
        with tr.span("loop") if trace else contextlib.nullcontext():
            loop = closed_loop(r, pages, tr, jvm_pid)
    attempted = WARMUP_JOBS * r.ref["docs"] + loop["attempted"]
    failed = warm_failed + loop["failed"]
    job_s = statistics.median(loop["times"])
    mb = r.ref["html_bytes"] / 1e6
    metrics = {
        "job_s": (job_s, "s"),
        "docs_per_s": (r.ref["docs"] / job_s, "1/s"),
        "html_mb_per_s": (mb / job_s, "MB/s"),
        "setup_s": (session_s + load_s + warmup_s, "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    r.record.update(
        setup={"session_s": session_s, "load_s": load_s, "warmup_s": warmup_s},
        job_times=loop["times"],
        props=r.ref["props"],
        attempted=attempted,
        failed=failed,
        e2e={k: v for k, (v, _) in metrics.items()},
    )
    if trace:
        with tr.span("probes"):
            layer, r.record["groups"] = probe_layers(r, tr, pages, loop["groups"], session_s)
        layer["trace.overhead_frac"] = (
            statistics.median(loop["traced"]) / statistics.median(loop["untraced"]) - 1
        )
        layer["engine.ceiling_frac"] = mb / job_s / (r.nproc * layer[wl.engine_rate])
        r.record["spans"] = tr.with_self_time()
        metrics = {n: (layer[n], LAYERS[n][0]) for n in LAYERS}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import htmlparser2_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # Everything but the result line goes to stderr, child processes
    # (the JVM among them) included.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(TIME_LIMIT_S)
    r = Run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    shutil.rmtree(r.work, ignore_errors=True)
    os.makedirs(os.path.join(r.work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(r.work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    r.record.update(workload=r.wl.name, seed=r.seed, trace=r.trace, host_start=host_stamp())
    try:
        result = run(r)
    finally:
        r.stop()
        signal.alarm(0)
        r.record["host_end"] = host_stamp()
        runs = os.path.join(os.path.dirname(r.work), "runs")
        os.makedirs(runs, exist_ok=True)
        with open(os.path.join(runs, f"{r.wl.name}-s{r.seed}-t{int(r.trace)}.json"), "w") as fh:
            json.dump(r.record, fh, default=str)
        shutil.rmtree(r.work, ignore_errors=True)
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
