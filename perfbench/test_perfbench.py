"""Tests of the benchmark itself: checker self-test, smoke runs, and the
refusal to run without the program.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start Spark (about a minute each); the checker tests need
no Spark session.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checker  # noqa: E402

DOCS = {1: "alpha beta gamma", 2: "alpha alpha delta", 3: "beta gamma gamma",
        4: "alpha gamma", 5: "delta delta beta alpha"}


@pytest.fixture()
def oracle():
    o = checker.IndexOracle(("text",))
    o.fts.add_documents((d, t.split()) for d, t in DOCS.items())
    for d, t in DOCS.items():
        o.docs[d] = {"text": t, "role": "user" if d % 2 else "tool",
                     "tokens": t.split()}
    yield o
    o.close()


def _page(exp):
    """An Engine.search result built from the expected page."""
    return {"total": exp["total"],
            "results": [{"score": exp["display"][d][0],
                         "document": {"doc_id": d}} for d, _ in exp["order"]]}


def test_check_accepts_the_oracle_answer(oracle):
    q = {"kind": "or", "text": "alpha OR gamma", "match": '"alpha" OR "gamma"'}
    exp = checker.expected_page(oracle, q, 3)
    assert exp["total"] == 5 and len(exp["order"]) == 3
    assert checker.check_page(_page(exp), exp) == ""
    raw = checker.expected_raw(oracle, q, 3)
    assert checker.check_raw(raw["order"], raw) == ""


def test_self_test_catches_a_wrong_score_or_doc_id(oracle):
    q = {"kind": "single", "text": "alpha", "match": '"alpha"'}
    exp = checker.expected_page(oracle, q, 3)
    out = _page(exp)
    rows = checker.page_rows(out)
    checker.self_test(lambda r: checker.check_page_rows(r, exp), rows)

    bad = json.loads(json.dumps(out))
    bad["results"][0]["score"] += 0.3
    assert "score" in checker.check_page(bad, exp)
    bad = json.loads(json.dumps(out))
    bad["results"][0]["document"]["doc_id"] = 999
    assert "position 0" in checker.check_page(bad, exp)
    bad = json.loads(json.dumps(out))
    bad["total"] += 1
    assert "total" in checker.check_page(bad, exp)

    raw = checker.expected_raw(oracle, q, 3)
    checker.self_test(lambda r: checker.check_raw(r, raw), raw["order"])
    off = [(d, s * (1 + 1e-6)) for d, s in raw["order"]]
    assert checker.check_raw(off, raw)


def test_self_test_fails_a_vacuous_check():
    with pytest.raises(AssertionError):
        checker.self_test(lambda rows: "", [(1, 2.0), (2, 1.0)])


def test_role_filter_and_deletes(oracle):
    q = {"kind": "filter", "text": "alpha", "match": '"alpha"', "role": "user"}
    exp = checker.expected_page(oracle, q, 10)
    assert {d for d, _ in exp["order"]} == {1, 5}
    oracle.delete([5])
    assert checker.expected_page(oracle, q, 10)["total"] == 1


def _bench(*args, cwd=ROOT, timeout=600):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_smoke_run_reports_every_metric(workload, trace):
    p = _bench("--workload", workload, "--seed", "7", "--seconds", "1",
               "--trace", str(trace), "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["failed"] == 0 and result["correct"], p.stdout[-3000:]
    assert result["attempted"] >= 1
    wanted = _spec()["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, m["name"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench("--workload", "serve_hot", "--seed", "1", "--seconds", "1",
               "--trace", "0", cwd=tmp_path, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
