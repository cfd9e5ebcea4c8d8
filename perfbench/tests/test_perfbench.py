"""The benchmark's own tests, at gate scale (tiny inputs).

    python -m pytest perfbench/tests -q -p no:cacheprovider

The command-level tests start real Spark runs (about a minute each).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sqlite3
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from gdal2mbtiles_spark.mbtiles import MBTilesFile  # noqa: E402
from gdal2mbtiles_spark.renderers import PngRenderer  # noqa: E402
from perfbench import (checks, compare, inputs, layers,  # noqa: E402
                       workloads)
from perfbench.trace import Span, self_times  # noqa: E402

RESULTS = os.path.join(ROOT, ".perfbench_work", "results")


def _bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload, trace, seed=0):
    """Run the command at gate scale; returns (result line, record,
    spans)."""
    before = set(glob.glob(os.path.join(RESULTS, "*.json")))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", "gate"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    line = json.loads(p.stdout.strip().splitlines()[-1])
    (path,) = set(glob.glob(os.path.join(RESULTS, "*.json"))) - before
    with open(path) as fh:
        record = json.load(fh)
    with open(path[:-len(".json")] + ".spans.jsonl") as fh:
        spans = [Span(**json.loads(x)) for x in fh]
    return line, record, spans


# -- declarations ------------------------------------------------------

def test_benchmark_json_matches_the_code():
    b = _bench_json()
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    assert [(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]] \
        == [tuple(m) for m in layers.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] \
        == [tuple(m) for m in layers.per_layer_catalog()]
    assert len(b["per_layer"]) <= 128
    for w in b["workloads"]:
        assert "bench" in workloads.CONFIGS[w["name"]]
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_inputs_follow_the_seed(tmp_path):
    paths = {}
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        paths[name] = (str(tmp_path / f"{name}.d.parquet"),
                       str(tmp_path / f"{name}.e.parquet"))
        inputs.write_documents(paths[name][0], seed, 200)
        inputs.write_embeddings(paths[name][1], seed, 50)
    read = {k: [open(p, "rb").read() for p in v] for k, v in paths.items()}
    assert read["a"] == read["b"]
    assert read["a"][0] != read["c"][0] and read["a"][1] != read["c"][1]


def test_first_row_keeps_ids_below_the_url_padding():
    assert workloads.first_row(0, 2_000) == 0
    assert workloads.first_row(7, 2_000) == 14_000
    n = 2_000_000
    for seed in (0, 1, 49, 50, 10 ** 9):
        first = workloads.first_row(seed, n)
        assert 0 <= first and first + n <= workloads.MAX_ROW_ID


# -- checks ------------------------------------------------------------

def _small_mbtiles(path):
    rng = np.random.default_rng(0)
    with MBTilesFile.create(path, workloads.METADATA) as f:
        for z, x, y in ((0, 0, 0), (1, 0, 1), (1, 1, 1)):
            raw = np.zeros((256, 256, 4), np.uint8)
            raw[rng.integers(256, size=40), rng.integers(256, size=40)] = 200
            raw = raw.tobytes()
            tid = checks.tile_id_of(raw)
            f.insert(x, y, z, tid, PngRenderer(compression=1).render(raw))


def test_check_passes_a_good_file(tmp_path):
    path = str(tmp_path / "good.mbtiles")
    _small_mbtiles(path)
    s = checks.summarize_mbtiles(path)
    assert checks.tiles_errors(s, {0: 1, 1: 2}) == []
    assert checks.tiles_errors(s, {0: 1, 1: 3}) != []


def test_one_byte_corruption_fails_the_check(tmp_path):
    good = str(tmp_path / "good.mbtiles")
    _small_mbtiles(good)
    want = checks.summarize_mbtiles(good)
    data = open(good, "rb").read()
    idat = data.index(b"IDAT")
    flipped = 0
    # a byte inside a PNG payload, and a byte of a map row's tile id
    conn = sqlite3.connect(good)
    (tid,) = conn.execute("SELECT tile_id FROM map LIMIT 1").fetchone()
    conn.close()
    tid_bytes = int(tid).to_bytes(8, "big", signed=True)
    for offset in (idat + 20, data.rindex(tid_bytes) + 7):
        bad = str(tmp_path / f"bad{offset}.mbtiles")
        shutil.copy(good, bad)
        with open(bad, "r+b") as fh:
            fh.seek(offset)
            b = fh.read(1)
            fh.seek(offset)
            fh.write(bytes([b[0] ^ 0x01]))
        try:
            got = checks.summarize_mbtiles(bad)
        except sqlite3.DatabaseError:
            flipped += 1
            continue
        errs = checks.tiles_errors(got, want["per_zoom"])
        assert errs or got["digest"] != want["digest"], offset
        flipped += 1
    assert flipped == 2


def test_png_decoder_round_trips_the_renderer():
    raw = np.arange(256 * 256 * 4, dtype=np.uint32).astype(np.uint8).tobytes()
    for level in (1, 6):
        assert checks.decode_rgba(PngRenderer(compression=level)
                                  .render(raw)) == raw


def test_pip_brute_force_agrees_with_a_square():
    square = [(0, [0.0, 2.0, 2.0, 0.0], [0.0, 0.0, 2.0, 2.0])]
    pts = np.array([[1.0, 1.0], [3.0, 1.0], [1.9, 0.1], [-0.1, 1.0]])
    assert checks.pip_pairs(pts, square) == 2


# -- comparing runs ----------------------------------------------------

def _record(tmp_path, name, nproc, md5, iter_s):
    path = tmp_path / f"{name}.json"
    path.write_text(json.dumps({
        "workload": "queries_mix", "trace": 0, "context": {"nproc": nproc},
        "md5_gbps": md5, "metrics": {"iter_s": iter_s}}))
    return str(path)


def test_compare_refuses_other_core_counts_and_speed_states(tmp_path,
                                                            capsys):
    a = [_record(tmp_path, f"a{i}", 4, 0.53 + i / 100, 9.0 + i)
         for i in range(3)]
    same = [_record(tmp_path, "b", 4, 0.60, 9.5)]
    assert compare.main(["--base", *a, "--change", *same]) == 0
    assert "iter_s" in capsys.readouterr().out
    cores = [_record(tmp_path, "c", 8, 0.55, 9.5)]
    assert compare.main(["--base", *a, "--change", *cores]) == 2
    faster = [_record(tmp_path, "d", 4, 0.82, 6.0)]
    assert compare.main(["--base", *a, "--change", *faster]) == 2
    assert compare.main(["--base", *a, *faster, "--change", *same]) == 2


# -- tracing -----------------------------------------------------------

def test_self_time_subtracts_covered_children():
    spans = [Span(0, "bench", "it", 0.0, 10.0, None, "r", None, 0),
             Span(1, "a", "x", 1.0, 4.0, 0, "r", None, 0),
             Span(2, "b", "y", 3.0, 6.0, 0, "r", None, 0),
             Span(3, "c", "z", 4.5, 5.0, 2, "r", None, 0)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(0.5)


def _assert_nested(spans):
    by_id = {s.span_id: s for s in spans}
    for s in spans:
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start <= s.start <= s.end <= p.end, (s, p)
            assert p.iteration == s.iteration


# -- the command -------------------------------------------------------

def test_untraced_run_prints_every_end_to_end_metric():
    line, record, spans = _run("tiles_z12_sparse", trace=0)
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _bench_json()["end_to_end"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want
    assert all(v["value"] > 0 for v in line["metrics"].values())
    ctx = record["context"]
    for key in ("nproc", "driver_memory", "spark_version",
                "pyspark_version"):
        assert ctx[key]
    assert record["md5_gbps"] > 0 and record["loadavg_after"]
    _assert_nested(spans)


@pytest.mark.parametrize("workload", ["tiles_z12_sparse", "queries_mix"])
def test_traced_run_prints_every_per_layer_metric(workload):
    line, record, spans = _run(workload, trace=1)
    assert line["correct"] and line["failed"] == 0
    want = {m["name"]: m["unit"] for m in _bench_json()["per_layer"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want
    m = {k: v["value"] for k, v in line["metrics"].items()}
    _assert_nested(spans)
    traced = [it["index"] for it in record["iterations"] if it["traced"]]
    assert traced and all(s.job_group for s in spans
                          if s.iteration in traced)
    for i in traced:
        its = [s for s in spans if s.iteration == i]
        root = next(s for s in its if s.parent is None)
        top = sum(s.wall for s in its if s.parent == root.span_id)
        assert top / root.wall >= 0.95
    assert m["trace.coverage"] >= 0.95
    if workload == "tiles_z12_sparse":
        for layer in ("operators.burn", "operators.sparse", "mbtiles"):
            assert m[f"{layer}.jobs"] > 0 and m[f"{layer}.tasks"] > 0
        assert m["operators.sparse.non_jvm_s"] > 0
        assert m["operators.sparse.tiles"] > 0
        assert m["bench.tiles_per_s"] > 0
    else:
        for layer in ("operators.spatial", "operators.dedup",
                      "operators.similarity", "functions.text"):
            assert m[f"{layer}.jobs"] > 0
        assert m["operators.spatial.knn_jobs"] > 0
        assert m["sources.pages_table.files_planned"] \
            < m["sources.pages_table.files_total"]
        assert m["bench.mix_iter_s"] > 0


def test_command_fails_without_the_library(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload",
         "tiles_z12_sparse", "--seed", "0", "--seconds", "1", "--trace",
         "0"], cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
