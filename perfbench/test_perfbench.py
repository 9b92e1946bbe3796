"""Tests of the benchmark itself: run with ``python3 -m pytest perfbench -q``
from the repository root.  The smoke tests start Spark once per workload
(about a minute each)."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys

import pytest

from perfbench import caches, inputs
from perfbench.run import E2E_UNITS, LAYERS, ROOT, WORKLOADS, layer_metrics
from perfbench.spans import Tracer

BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


def per_layer_emitted() -> dict[str, str]:
    return {k: unit for k, (_, unit) in layer_metrics(Tracer(True), 1).items()}


def test_names_match_benchmark_json():
    assert [w["name"] for w in BENCHMARK["workloads"]] == ["dashboard", "curation"]
    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == per_layer_emitted()


def test_cache_walk_finds_every_listed_cache():
    found = caches.find_caches()
    listed = {
        "dedup._SHINGLE_CACHE", "similarity._BUCKET_CACHE", "similarity._ASSIGNED_CACHE",
        "multimodal._DHASH_CACHE", "text._TF_CACHE", "text._MERGE_MEMO",
        "packing._CUMSUM_CACHE", "classify._FEAT_CACHE", "graph._LINKS_CACHE",
    }
    assert len(found) >= 9
    assert {f"csv_etl_spark.operators.{n}" for n in listed} <= set(found)


def test_clear_all_refuses_a_cache_that_stays_full(monkeypatch):
    found = caches.find_caches()
    memo = found["csv_etl_spark.operators.text._MERGE_MEMO"]
    memo.put(("app", 1), "merges")
    caches.clear_all(found)
    assert caches.entry_count(memo) == 0
    memo.put(("app", 1), "merges")
    monkeypatch.setattr(memo, "invalidate", lambda *a, **k: None)
    with pytest.raises(caches.CacheNotEmpty):
        caches.clear_all(found)
    memo._entries.clear()


def test_inputs_are_seeded_and_counts_match_a_recount(tmp_path):
    a = inputs.make_tree(tmp_path / "a", 7, 2, 500)
    b = inputs.make_tree(tmp_path / "b", 7, 2, 500)
    for ma, mb in zip(a, b):
        assert ma.path.read_bytes() == mb.path.read_bytes()
    for m in a:
        lines = m.path.read_text().splitlines()[1:]
        rows = [dict(zip(inputs.COLUMNS, line.split(","))) for line in lines]
        kept = [r for r in rows if r["Type"] not in inputs.SKIPPED_TYPES]
        bad = [(r["Date"] == inputs.BAD_DATE, r["Quantity"] == inputs.BAD_QTY) for r in kept]
        c = m.counts()
        assert (c.total, c.skipped) == (len(rows), len(rows) - len(kept))
        assert c.errors == sum(d + q for d, q in bad)
        assert c.success == sum(1 for d, q in bad if not (d or q))


def test_output_check_catches_a_wrong_cell(tmp_path):
    (m,) = inputs.make_tree(tmp_path, 5, 1, 400)
    kept = ~m.skipped
    rows = [line.split(",") for line in m.path.read_text().splitlines()[1:]]
    out = tmp_path / "out.csv"

    def write(body):
        out.write_text("\n".join([",".join(inputs.DEST_FIELDS)] + [",".join(r) for r in body]) + "\n")

    good = []
    for r, k, bd, bq in zip(rows, kept, m.bad_date, m.bad_qty):
        if k:
            date = inputs.BAD_DATE if bd else r[0][:10]
            price = "" if bq else "1.0"
            side = "short" if r[2] == "SELL - MARKET" else "long"
            good.append([date, r[1], inputs.ACTIVITY[r[2]], r[3], price, "0", r[7] + " (imported)", side])
    write(good)
    assert inputs.output_problems(out, m) == []
    good[0][5] = "1"
    write(good)
    assert inputs.output_problems(out, m) == [f"{out.name}: column fee does not match the inputs"]


def test_exits_without_a_result_when_the_program_is_missing(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["etl_batch", "dashboard", "curation"])
def test_smoke_traced_run_reports_every_layer_metric(workload):
    r = _run(workload, 1)
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    assert {k: v["unit"] for k, v in r["metrics"].items()} == per_layer_emitted()
    m = {k: v["value"] for k, v in r["metrics"].items()}
    layers = sum(m[f"layer.{n}.self_s"] for n in LAYERS)
    assert layers + m["trace.unattributed_s"] == pytest.approx(m["trace.wall_s"], rel=1e-6)


def test_smoke_untraced_run_reports_every_end_to_end_metric():
    r = _run("etl_batch", 0)
    assert r["correct"] and r["failed"] == 0
    assert {k: v["unit"] for k, v in r["metrics"].items()} == E2E_UNITS
    assert all(v["value"] > 0 for v in r["metrics"].values())
