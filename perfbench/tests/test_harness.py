"""Self-test of the benchmark harness at tiny scale.

    python3 -m pytest perfbench/tests -q

The end-to-end cases start the engine in a subprocess per run (a few
minutes in total).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import sttm  # noqa: E402
from perfbench import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
with open(os.path.join(ROOT, "perfbench", "design.json")) as f:
    DESIGN = json.load(f)


def _ev(key, seq, op="U", status="open"):
    return {"tbl": "acct", "acct_id": key, "seq": seq, "status": status,
            "email": f"u{key}@x", "amount": "1.50", "op": op}


def test_reference_model_semantics():
    p = sttm.GenParams(files=1, events_per_file=1, key_space=10, hot_keys=1,
                       hot_share=0, zipf_s=1, delete_share=0,
                       orphan_share=0.0, acct_share=1, pay_share=0)
    files = [[_ev(1, 0, status="a"), _ev(1, 1, status="b"),
              _ev(1, 2, op="D", status="gone"),  # resurfaces seq 1
              _ev(2, 3, op="D"),  # only a delete: key absent
              {"tbl": "audit", "acct_id": 3, "seq": 4}]]
    ref = sttm.reference(files, p)
    assert ref["XREF_ACCT"] == {(1, 1, "b", "u1@x", 1.5, "U")}
    sha = hashlib.sha256(b"u1@x").hexdigest()
    assert ref["FGAC_ACCT"] == {(1, "b", 1.5, sha, "seg1")}
    assert ref["Q_ACCT"] == set()
    p_all_orphans = sttm.GenParams(**{**p.__dict__, "orphan_share": 1.0})
    assert sttm.reference(files, p_all_orphans)["Q_ACCT"] == {(1,)}


def test_mismatch_counts_a_dropped_row():
    params = sttm.GenParams(files=2, events_per_file=200, key_space=300,
                            hot_keys=10, hot_share=0.3, zipf_s=1.1,
                            delete_share=0.05, orphan_share=0.25,
                            acct_share=0.8, pay_share=0.1)
    files = sttm.generate_events(5, params)
    assert files == sttm.generate_events(5, params)  # seeded
    ref = sttm.reference(files, params)
    got = {t: set(rows) for t, rows in ref.items()}
    assert not any(sttm.mismatches(ref, got).values())
    got["XREF_ACCT"].discard(min(got["XREF_ACCT"]))
    assert sttm.mismatches(ref, got)["XREF_ACCT"] == 1


def test_registry_rows_resolve_and_have_oracles():
    from confluent_data_ingestion_spark.queries import ORACLES, QUERIES

    assert set(workloads.REGISTRY_ROWS) <= set(QUERIES)
    assert set(workloads.REGISTRY_ROWS) <= set(ORACLES)


def test_design_record_matches_the_code():
    w = DESIGN["workloads"]
    assert set(w) == {x["name"] for x in BENCH["workloads"]} == set(workloads.WORKLOADS)
    assert w["stream_upsert"]["generator"] == workloads.STREAM_PARAMS.as_dict()
    assert w["registry_artifacts"]["tables"] == workloads.REGISTRY_TABLES.as_dict()
    assert w["registry_artifacts"]["rows"] == list(workloads.REGISTRY_ROWS)
    names = {m["name"] for m in BENCH["per_layer"]}
    assert set(DESIGN["layer_moves"]) <= names


def _run(workload, trace, *extra):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny",
         *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _assert_metrics(result, specs):
    got = result["metrics"]
    assert set(got) == {m["name"] for m in specs}
    for m in specs:
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(got[m["name"]]["value"], (int, float))


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_traced_run_emits_every_per_layer_metric(workload):
    res = _run(workload, 1)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    _assert_metrics(res, BENCH["per_layer"])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_perturbed_reference_is_reported(workload):
    res = _run(workload, 0, "--perturb-reference")
    _assert_metrics(res, BENCH["end_to_end"])
    for m in BENCH["end_to_end"]:
        assert res["metrics"][m["name"]]["value"] > 0
    assert not res["correct"] and res["failed"] >= 1
