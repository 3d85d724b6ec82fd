"""Tests of the benchmark's own parts. Run from the repository root:

    python -m pytest perfbench/test_perfbench.py -q
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
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
from spans import Tracer, _covered  # noqa: E402


def test_same_seed_gives_byte_identical_inputs():
    a = (gen.documents(5, 300, dup_share=0.3), gen.queries(5, 200))
    b = (gen.documents(5, 300, dup_share=0.3), gen.queries(5, 200))
    assert json.dumps(a).encode() == json.dumps(b).encode()
    assert gen.digest(a) == gen.digest(b)
    assert gen.digest(a) != gen.digest((gen.documents(6, 300, dup_share=0.3), gen.queries(6, 200)))


def test_dup_share_controls_repeats():
    def repeated(dup_share, what):
        rows = gen.documents(1, 600, dup_share=dup_share)
        texts = [t for _, t, _ in rows]
        if what == "docs":
            return len(texts) - len(set(texts))
        lines = [ln for t in texts for ln in t.split("\n")]
        return len(lines) - len(set(lines))

    assert repeated(0.0, "docs") == 0
    assert repeated(0.3, "docs") > 0
    assert repeated(0.3, "lines") > repeated(0.3, "docs")


def test_queries_repeat_share():
    qs = gen.queries(3, 400, repeat_share=0.3)
    assert 0.15 < 1 - len(set(qs)) / len(qs) < 0.45
    assert len(set(gen.queries(3, 400, repeat_share=0.0))) > 380


def test_covered_merges_overlaps_and_clips():
    span = {"start": 10.0, "end": 20.0}
    assert _covered([(8, 12), (11, 13), (15, 16), (19, 25)], span) == pytest.approx(5.0)
    assert _covered([], span) == 0.0


def test_counters_see_a_shuffle():
    from pyspark.sql import functions as F

    from customkb_spark.session import get_spark

    spark = get_spark("perfbench-test", cpus=2, extra_conf={"spark.ui.enabled": "false"})
    tr = Tracer(spark, True)
    with tr.span("outer", "r1"):
        with tr.span("groupby"):
            spark.range(50_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    tr.counters()
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and inner["request"] == "r1"
    assert inner["jobs"] >= 1 and inner["tasks"] >= 2
    assert inner["shuffle_write_mb"] > 0
    assert inner["failed_tasks"] == 0 and inner["task_skew"] >= 1.0
    assert 0 <= inner["driver_s"] <= inner["wall_s"]
    # the parent sees its child's jobs; its self time excludes the child
    assert outer["jobs"] == inner["jobs"]
    assert outer["self_s"] == pytest.approx(outer["wall_s"] - inner["wall_s"], abs=1e-6)
    summary = tr.summary()
    assert summary["groupby.shuffle_write_mb"] == inner["shuffle_write_mb"]


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kb_query", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0 and r.stdout == ""
