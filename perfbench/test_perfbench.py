"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q -p no:cacheprovider

The corpus and metric-definition tests take seconds; the Spark check
test and the two subprocess runs of ``run.py`` take about a minute.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpus  # noqa: E402
import spec  # noqa: E402
from layers import sql_metric_total  # noqa: E402
from workloads import WHY, WORKLOADS, count_failures, text_check  # noqa: E402


@pytest.mark.parametrize("workload", spec.ALL)
def test_seed_determines_corpus(workload, monkeypatch):
    for name in ("SMALL_DOCS", "LARGE_DOCS", "STRUCTURED_DOCS"):
        monkeypatch.setattr(corpus, name, 300)
    a, b, c = (corpus.generate(workload, seed) for seed in (7, 7, 8))
    assert a.equals(b)
    assert not a.equals(c)
    assert a.num_rows == 300 and len(a.column("url").unique()) == 300


def test_large_page_expected_text_matches_engine():
    from htmlparser2_spark.engine.fast_text import FastTextExtractor

    docs = corpus.load_documents()
    import random

    rng = random.Random(3)
    fx = FastTextExtractor()
    for i in range(300):
        _, html, text = corpus.large_page(docs, rng, i)
        assert fx.extract(html)[0] == text
    assert fx.n_fallbacks > 0  # the svg share reaches the full parser


def test_benchmark_json_matches_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    assert doc == spec.benchmark_json(WHY)
    assert set(WORKLOADS) == set(spec.ALL) == set(WHY)
    names = [m["name"] for m in doc["end_to_end"] + doc["per_layer"]] + [w["name"] for w in doc["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert spec.NAME_RE.match(name), name
    for m in doc["end_to_end"] + doc["per_layer"]:
        assert spec.UNIT_RE.match(m["unit"]), m
        assert m["better"] in ("higher", "lower")
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in doc["workloads"])
    for name, (_, _, moves, on) in spec.LAYERS.items():
        assert moves in spec.END_TO_END and set(on) <= set(spec.ALL), name


def test_count_failures_catches_each_kind():
    expected = {f"u{i}": i for i in range(10)}
    good = list(expected.items())
    assert count_failures(expected, good) == 0
    assert count_failures(expected, good[:-1]) == 1  # missing
    assert count_failures(expected, good + [good[0]]) == 1  # duplicated
    corrupted = good[:3] + [(good[3][0], good[3][1] + 1)] + good[4:]
    assert count_failures(expected, corrupted) == 1  # wrong


@pytest.mark.parametrize(
    "value,total",
    [
        ("50,000", 50000.0),
        ("0 ms", 0.0),
        ("total (min, med, max (stageId: taskId))\n14.0 s (3.3 s, 3.5 s, 3.7 s (stage 1.0: task 3))", 14000.0),
        ("total (min, med, max (stageId: taskId))\n19.3 MiB (4.8 MiB, 4.8 MiB, 4.8 MiB (stage 1.0: task 1))", 19.3 * 1024**2 / 1e6),
    ],
)
def test_sql_metric_parsing(value, total):
    assert sql_metric_total(value) == pytest.approx(total)


@pytest.fixture(scope="module")
def spark():
    from htmlparser2_spark.session import get_spark

    session = get_spark("perfbench-selftest", master="local[2]", shuffle_partitions=2, conf={"spark.driver.memory": "1g"})
    yield session
    session.stop()


def test_corrupted_output_row_is_caught(spark, tmp_path, monkeypatch):
    """One document whose output differs from the reference fails the
    check, and exactly one document is counted."""
    monkeypatch.setattr(corpus, "LARGE_DOCS", 200)
    table = corpus.generate("large_pages_text", 1)
    corpus.write_pages(table, str(tmp_path / "pages"), 2)
    pages = spark.read.parquet(str(tmp_path / "pages"))
    ref = corpus.reference("large_pages_text", table, 1)

    class Ctx:
        pass

    ctx = Ctx()
    ctx.ref = ref
    out = WORKLOADS["large_pages_text"].job(pages, ctx)
    assert text_check(out, pages, ctx) == 0
    url = table.column("url")[5].as_py()
    ref["crc"][url] += 1
    ref["crc_sum"] += 1
    assert text_check(out, pages, ctx) == 1


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=300
    )


def test_run_prints_one_json_line():
    p = _run(ROOT, "--workload", "structured_markdown_write", "--seed", "5", "--seconds", "1", "--trace", "0")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.splitlines()
    assert len(lines) == 1
    result = json.loads(lines[0])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(spec.END_TO_END)
    for name, m in result["metrics"].items():
        assert m["unit"] == spec.END_TO_END[name][0] and m["value"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(str(tmp_path), "--workload", "large_pages_text", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout == ""
