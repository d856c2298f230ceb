"""The benchmark's own tests, on tiny inputs:

    python3 -m pytest hbench/test_hbench.py -q

* every answer check fails on a planted wrong answer and passes on the
  right one (no Spark needed);
* the generators are deterministic in the seed;
* an untraced run emits every end-to-end metric, and a traced run every
  per-layer metric BENCHMARK.json lists and writes its spans (starts
  Spark: about a minute each);
* without the program beside it the benchmark fails without a result.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE]

from workloads import NO_ORACLE, STATIONARY, Curate, LakehouseRW, TableBrowse  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- table_browse
@pytest.fixture(scope="module")
def browse(tmp_path_factory):
    wl = TableBrowse(tiny=True)
    inputs = wl.generate(str(tmp_path_factory.mktemp("wh")), seed=3)
    return wl, inputs, wl.expect(None, inputs)


def _right_browse_answer(exp: dict) -> dict:
    """The answer a correct program returns for ``exp``'s table."""
    return {
        "table": exp["table"], "path": exp["path"],
        "dash": {"table_name": exp["table"], "empty": False, "health_score": 72.0,
                 "metrics": {"n_snapshots": exp["n_snapshots"],
                             "delete_ratio": exp["delete_ratio"],
                             "data_freshness_hours": exp["freshness_hours"]}},
        "timeline": list(exp["timeline"]), "changes": list(exp["changes"]),
        "specs": list(exp["specs"]), "props": dict(exp["props"]),
    }


def _plant(ans, path, value):
    ans = copy.deepcopy(ans)
    *head, leaf = path
    node = ans
    for k in head:
        node = node[k]
    node[leaf] = value(node[leaf]) if callable(value) else value
    return ans


BROWSE_PLANTS = {
    "other table path": (["path"], lambda p: p.replace("v3.", "v2.")),
    "empty dashboard": (["dash", "empty"], True),
    "snapshot count": (["dash", "metrics", "n_snapshots"], lambda n: n - 1),
    "delete ratio": (["dash", "metrics", "delete_ratio"], lambda r: r + 0.01),
    "freshness": (["dash", "metrics", "data_freshness_hours"], lambda h: h + 1),
    "health score range": (["dash", "health_score"], 130.0),
    "timeline row dropped": (["timeline"], lambda t: t[1:]),
    "timeline order": (["timeline"], lambda t: t[::-1]),
    "timeline operation": (["timeline"], lambda t: [(t[0][0], "replace")] + t[1:]),
    "schema change class": (["changes"], lambda c: [(*c[0][:2], "renamed")] + c[1:]),
    "spec source": (["specs"], lambda s: [(*s[0][:2], "Field 99")] + s[1:]),
    "property": (["props", "commit.total-snapshots"], "0"),
}


def test_browse_check_accepts_right_answer(browse):
    wl, _, expected = browse
    for i, exp in enumerate(expected):
        assert wl.check(expected, i, _right_browse_answer(exp), None) == []


@pytest.mark.parametrize("plant", sorted(BROWSE_PLANTS))
def test_browse_check_rejects_planted_error(browse, plant):
    wl, _, expected = browse
    path, value = BROWSE_PLANTS[plant]
    wrong = _plant(_right_browse_answer(expected[1]), path, value)
    assert wl.check(expected, 1, wrong, None), plant


# ---------------------------------------------------------------------- curate
@pytest.fixture(scope="module")
def curate(tmp_path_factory):
    wl = Curate(tiny=True)
    inputs = wl.generate(str(tmp_path_factory.mktemp("corpus")), seed=3)
    return wl, inputs, wl.expect(None, inputs)


def _right_curate_answer(expected: dict) -> dict:
    ans = {q: (v[0], list(v[1])) for q, v in expected.items() if q != "near_pairs"}
    ans[NO_ORACLE] = (["id_a", "id_b", "jaccard"],
                      [(a, b, 0.95) for a, b in sorted(expected["near_pairs"])])
    return ans


def _edit(q, fn):
    def plant(ans):
        ans = copy.deepcopy(ans)
        cols, rows = ans[q]
        ans[q] = (cols, fn(rows))
        return ans
    return plant


CURATE_PLANTS = {
    "curation row dropped": _edit("doc_curation_pipeline", lambda r: r[1:]),
    "curation count": _edit("doc_curation_pipeline",
                            lambda r: [(r[0][0], r[0][1] + 1, r[0][2])] + r[1:]),
    "lang stats average": _edit("doc_lang_stats",
                                lambda r: [(*r[0][:2], r[0][2] + 1e-3, *r[0][3:])] + r[1:]),
    "top-k neighbour": _edit("emb_cosine_topk", lambda r: [(999_999, r[0][1])] + r[1:]),
    "planted near pair missing": _edit(NO_ORACLE, lambda r: r[1:]),
    "pair below threshold": _edit(NO_ORACLE, lambda r: r + [(0, 1, 0.2)]),
}


def test_curate_planted_facts(curate):
    _, inputs, expected = curate
    assert inputs["near_pairs"], "the corpus must plant near-duplicate pairs"
    topk = [row[0] for row in expected["emb_cosine_topk"][1]]
    assert topk == inputs["neighbours"], "planted neighbours must be the oracle's top-k"


def test_curate_check_accepts_right_answer(curate):
    wl, _, expected = curate
    right = _right_curate_answer(expected)
    assert wl.check(expected, 0, right, right) == []


@pytest.mark.parametrize("plant", sorted(CURATE_PLANTS))
def test_curate_check_rejects_planted_error(curate, plant):
    wl, _, expected = curate
    right = _right_curate_answer(expected)
    assert wl.check(expected, 0, CURATE_PLANTS[plant](right), right), plant


def test_curate_check_rejects_answer_unlike_warmup(curate):
    wl, _, expected = curate
    right = _right_curate_answer(expected)
    ref = copy.deepcopy(right)
    cols, rows = ref[NO_ORACLE]
    ref[NO_ORACLE] = (cols, rows + [(0, 2, 0.6)])
    assert wl.check(expected, 1, right, ref)


# ---------------------------------------------------------------- lakehouse_rw
@pytest.fixture(scope="module")
def lake(tmp_path_factory):
    wl = LakehouseRW(tiny=True)
    inputs = wl.generate(str(tmp_path_factory.mktemp("batches")), seed=3)
    return wl, inputs, wl.expect(None, inputs)


SHAPE = {"live_data_files": 1, "live_delete_files": 0, "live_manifests": 1, "live_rows": 100,
         "data_files_on_disk": 1, "metadata_files": 17, "disk_bytes": 47_803}


def _right_lake_answer(expected: dict, b0: int) -> dict:
    rows = expected["rows"]
    return {"batches": (b0, b0 + 1),
            "reads": {b: {"manifests": list(rows[b])[::-1], "source": list(rows[b])}
                      for b in (b0, b0 + 1)},
            "end_shape": dict(SHAPE)}


def _lake_edit(fn):
    def plant(ans):
        ans = copy.deepcopy(ans)
        fn(ans)
        return ans
    return plant


def _amount_off(rows):
    rows[0] = (*rows[0][:3], rows[0][3] + 0.01)


LAKE_PLANTS = {
    "manifests read lost a row": _lake_edit(lambda a: a["reads"][2]["manifests"].pop()),
    "source read wrong amount": _lake_edit(lambda a: _amount_off(a["reads"][3]["source"])),
    "source read saw another batch": _lake_edit(
        lambda a: a["reads"][3]["source"].append((2, 0, "cat_00", 1.0))),
    "live rows grew": _lake_edit(lambda a: a["end_shape"].update(live_rows=150)),
    "data files left on disk": _lake_edit(lambda a: a["end_shape"].update(data_files_on_disk=2)),
}


def test_lake_check_accepts_right_answer(lake):
    wl, _, expected = lake
    ref = _right_lake_answer(expected, 2)
    right = _right_lake_answer(expected, 2)
    right["end_shape"]["metadata_files"] += 13  # the metadata directory may grow
    assert wl.check(expected, 0, right, ref) == []
    assert set(STATIONARY) < set(SHAPE)


@pytest.mark.parametrize("plant", sorted(LAKE_PLANTS))
def test_lake_check_rejects_planted_error(lake, plant):
    wl, _, expected = lake
    ref = _right_lake_answer(expected, 2)
    assert wl.check(expected, 0, LAKE_PLANTS[plant](_right_lake_answer(expected, 2)), ref), plant


# ------------------------------------------------------------------ generators
def _digest(d: str) -> str:
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(base, f), d).encode())
            with open(os.path.join(base, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("wl_cls", [TableBrowse, Curate, LakehouseRW])
def test_inputs_depend_only_on_seed(tmp_path, wl_cls):
    digests = []
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        d = tmp_path / name
        d.mkdir()
        inputs = wl_cls(tiny=True).generate(str(d), seed)
        if wl_cls is TableBrowse:  # documents name their own directory
            text = json.dumps([t["doc"] for t in inputs["tables"]]).replace(str(d), "")
            digests.append(hashlib.sha256(text.encode()).hexdigest())
        elif wl_cls is Curate:
            digests.append(_digest(inputs["dir"]))
        else:
            digests.append(_digest(str(d / "batches")))
    assert digests[0] == digests[1] != digests[2]


# ------------------------------------------------------------------- full runs
def _run(args, cwd=ROOT):
    return subprocess.run([sys.executable, "hbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", ["table_browse", "curate", "lakehouse_rw"])
@pytest.mark.parametrize("trace", [0, 1])
def test_run_emits_every_listed_metric(workload, trace):
    spans = os.path.join(ROOT, ".hbench_work", "spans", f"{workload}-1.json")
    if trace and os.path.exists(spans):
        os.remove(spans)
    p = _run(["--workload", workload, "--seed", "1", "--seconds", "1",
              "--trace", str(trace), "--tiny"])
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    listed = _bench()["per_layer" if trace else "end_to_end"]
    assert list(out["metrics"]) == [m["name"] for m in listed]
    for m in listed:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    else:
        with open(spans) as f:
            assert json.load(f)["spans"], "a traced run writes its spans"


def test_run_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "hbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "curate", "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=tmp_path)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
