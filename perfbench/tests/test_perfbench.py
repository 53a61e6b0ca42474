"""Fast checks of the benchmark's own pieces; no Spark session needed.

Run from the repo root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

from perfbench import gen, measure
from perfbench.metrics import E2E, PER_LAYER
from perfbench.trace import Tracer, parse_sql_metric

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_inbox_files_are_a_function_of_the_seed():
    assert gen.inbox_file(3, 41) == gen.inbox_file(3, 41)
    assert gen.inbox_file(3, 41).content != gen.inbox_file(4, 41).content


def test_inbox_mix_and_expected_text_match_the_adapters():
    from unstract_spark.operators.extract import DEFAULT_ADAPTERS

    mime = {".txt": "text/plain", ".json": "application/json", ".csv": "text/csv",
            ".pdf": "application/pdf"}
    files = [gen.inbox_file(1, s) for s in range(1000)]
    kinds = {}
    for f in files:
        ext = os.path.splitext(f.name)[1]
        kinds[ext] = kinds.get(ext, 0) + 1
        if f.text is None:
            with pytest.raises(UnicodeDecodeError):
                f.content.decode("utf-8")
        else:
            assert DEFAULT_ADAPTERS[mime[ext]](f.content)[0] == f.text
    assert kinds[".pdf"] == 10
    assert 60 < kinds[".json"] < 140 and 40 < kinds[".csv"] < 100
    assert 10 < sum(f.text is None for f in files) < 50


def test_mock_fields_follow_the_mock_contract():
    got = gen.mock_fields("hello")
    assert set(got) == {"invoice_no", "total", "vendor"}
    assert got["invoice_no"] is None or got["invoice_no"].startswith("ans-")
    assert got["total"] is None or isinstance(got["total"], float)


def test_event_drops_keep_per_user_order_across_drops():
    a, b = gen.event_drop(5, 0, 500, 20), gen.event_drop(5, 1, 500, 20)
    assert a["ts"].max() < b["ts"].min()
    assert a["event_id"].max() < b["event_id"].min()
    assert gen.event_drop(5, 1, 500, 20).equals(b)


def test_doc_drops_have_disjoint_ids():
    a, b = gen.doc_drop(5, 0, 100), gen.doc_drop(5, 1, 100)
    assert not set(a["doc_id"]) & set(b["doc_id"])


def test_self_time_subtracts_children():
    t = Tracer()
    t.active, t.op = True, 0
    with t.span("outer"):
        time.sleep(0.02)
        with t.span("inner"):
            time.sleep(0.03)
    tot = t.totals({0})
    assert tot["outer"]["wall_s"] >= tot["inner"]["wall_s"] >= 0.03
    assert abs(tot["outer"]["self_s"] - (tot["outer"]["wall_s"] - tot["inner"]["wall_s"])) < 1e-9
    t.active = False
    with t.span("ignored"):
        pass
    assert "ignored" not in t.totals({0})


def test_wrap_and_unwrap():
    class Box:
        @staticmethod
        def f(x):
            return x + 1

    t = Tracer()
    t.active, t.op = True, 1
    t.wrap(Box, "f", "box.f")
    assert Box.f(1) == 2
    assert t.totals({1})["box.f"]["calls"] == 1
    t.unwrap_all()
    assert not hasattr(Box.f, "__wrapped__")


@pytest.mark.parametrize("text,want", [
    ("12.0 MiB", 12 * 2**20),
    ("total (min, med, max (stageId: taskId))\n1.5 KiB (0.5 KiB, 0.5 KiB, 0.5 KiB (stage 3.0: task 7))", 1536),
    ("total (min, med, max (stageId: taskId))\n350 ms (100 ms, 120 ms, 130 ms (stage 1.0: task 2))", 0.35),
    ("2.0 s", 2.0),
    (None, 0.0),
])
def test_parse_sql_metric(text, want):
    assert parse_sql_metric(text) == pytest.approx(want)


def test_tree_cpu_counts_children():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        assert child.pid in measure.descendants()
        assert measure.tree_cpu_s() > 0
    finally:
        child.kill()
        child.wait()


def test_steal_pct():
    assert measure.steal_pct((10, 1000), (20, 2000)) == pytest.approx(1.0)


def test_benchmark_json_names_what_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


def test_runner_refuses_a_tree_without_the_engine(tmp_path):
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "inbox_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""
