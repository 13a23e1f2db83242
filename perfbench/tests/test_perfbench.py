"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The generator and check tests need no Spark session. The run tests start
perfbench/run.py as a subprocess (each takes tens of seconds).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, gen  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _files(path: str) -> dict[str, bytes]:
    out = {}
    for dp, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(dp, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_gives_byte_identical_inputs(name, tmp_path):
    wl = WORKLOADS[name](par=2)
    a = wl.generate(7, str(tmp_path / "a"))
    b = wl.generate(7, str(tmp_path / "b"))
    fa, fb = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert fa and fa == fb
    assert a.sample_values == b.sample_values
    c = wl.generate(8, str(tmp_path / "c"))
    assert _files(str(tmp_path / "c")) != fa
    assert a.rows == c.rows      # input size does not depend on the seed
    del c


def test_benchmark_json_names_the_workloads():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert {"name": "setup_s", "unit": "s", "better": "lower",
            "bound": max(m["bound"] for m in spec["end_to_end"])} in spec["end_to_end"]


# -- the output check detects corrupted output ------------------------------


def _kg_result(expected: dict, hashes: list[int]) -> dict:
    rows = [r for rs in expected.values() for r in rs]
    return {"n": len(rows), "fp": "0", "sample": list(rows), "hit": set(hashes)}


def test_kg_check_accepts_oracle_output_and_rejects_corruption():
    gaz = {"Ada Lovelace": gen.DBR + "Ada_Lovelace", "Hopper Labs": gen.DBR + "Hopper_Labs",
           "Lovelace": gen.DBR + "Ada_Lovelace"}
    turns = {"c1": [(0, "user", "Ada Lovelace works at Hopper Labs.", None),
                    (1, "tool", "Lovelace founded Hopper Labs.", "search")]}
    edges = [(gen.DBR + "Ada_Lovelace", gen.DBR + "A_Alias", "sameAs")]
    expected = check.kg_oracle(turns, gaz, edges, None, dedup=True)
    rows = expected[check.CONV_PREFIX + "c1"]
    assert any(r[0] == gen.DBR + "A_Alias" for r in rows)   # canonicalized
    hashes = list(range(len(rows)))
    good = _kg_result(expected, hashes)
    assert check.verify_kg(good, expected, hashes, exact_multiset=False) == []
    assert check.verify_kg(good, expected, [], exact_multiset=True) == []

    altered = dict(good, sample=[(r[0], r[1], r[2] + "x") + r[3:] for r in rows])
    assert check.verify_kg(altered, expected, hashes, exact_multiset=False)
    dropped = dict(good, sample=rows[1:])
    assert check.verify_kg(dropped, expected, [], exact_multiset=True)
    missing = dict(good, hit=set(hashes[1:]))
    assert check.verify_kg(missing, expected, hashes, exact_multiset=False)


def test_link_reference_picks_best_scoring_entity():
    catalog = [(gen.DBR + "Grace_Hopper", "Grace Hopper", 1.0, "person"),
               (gen.DBR + "Grace_Hopper", "Hopper", 0.5, "person"),
               (gen.DBR + "Alan_Turing", "Alan Turing", 1.0, "person")]
    links = check.link_reference({"Grace Hoper", "Zzzq"}, catalog)
    assert links == {"Grace Hoper": gen.DBR + "Grace_Hopper"}


def test_cluster_check_rejects_foreign_clusters():
    family = np.array([0, 0, 1, 2, 2])
    tight = np.ones(5, dtype=bool)
    good = {"n": 5, "sample": [(0, 0), (1, 0), (2, 2), (3, 3), (4, 3)]}
    assert check.verify_clusters(good, 5, family, tight) == []
    assert check.verify_clusters(dict(good, sample=[(2, 0)]), 5, family, tight)
    assert check.verify_clusters(dict(good, sample=[(4, 4)]), 5, family, tight)
    assert check.verify_clusters(dict(good, sample=[(4, 4)]), 5, family,
                                 np.array([1, 1, 1, 0, 0], dtype=bool)) == []
    assert check.verify_clusters(dict(good, n=4), 5, family, tight)


# -- end-to-end runs ---------------------------------------------------------


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"))
    p = _run(str(tmp_path), "--workload", "kg_batch", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_printed_metrics_are_the_declared_ones(trace, key):
    res = _result(_run(ROOT, "--workload", "mention_heavy", "--seed", "3",
                       "--seconds", "1", "--trace", str(trace)))
    declared = {m["name"]: m["unit"] for m in _spec()[key]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == declared
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1


def test_exact_counts_repeat_across_runs():
    exact = ("extract.quads_out", "cc.jobs", "spark.jobs")
    runs = [_result(_run(ROOT, "--workload", "kg_batch", "--seed", "5",
                         "--seconds", "1", "--trace", "1"))["metrics"]
            for _ in range(2)]
    keys = [k for k in runs[0] if k in exact or k.startswith("plan.")]
    assert len(keys) == len(exact) + 4
    assert {k: runs[0][k]["value"] for k in keys} == \
        {k: runs[1][k]["value"] for k in keys}
    assert runs[0]["extract.quads_out"]["value"] > 0
    assert runs[0]["cc.jobs"]["value"] > 0
