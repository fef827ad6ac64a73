"""bench.py's wide-ANN families run in their own subprocess JVMs; a
family whose subprocess fails is flagged on its own and publishes no
timing (there is no in-session fallback). Pure-Python tests: the
subprocess is faked, no Spark session starts."""

import json
import os
import subprocess
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench

TIMINGS = {
    "cosine": {"ann_dim256_expr_sec": 0.9, "ann_dim256_blas_sec": 0.6},
    "pq": {"ann_dim256_pq_scan_sec": 0.4},
}


def _fake_run(failing: str, timeout: bool = False):
    def run(cmd, **kw):
        fam = "pq" if "_wide_ann_pq_bench" in cmd[-1] else "cosine"
        if fam == failing:
            if timeout:
                raise subprocess.TimeoutExpired(cmd, kw["timeout"])
            return types.SimpleNamespace(
                returncode=1,
                stdout="",
                stderr="Traceback (most recent call last):\nRuntimeError: boom\n",
            )
        line = "WIDEANN " + json.dumps(TIMINGS[fam])
        return types.SimpleNamespace(returncode=0, stdout=f"log\n{line}\n", stderr="")

    return run


def _no_session(*a, **kw):
    raise AssertionError("wide-ANN bench must not fall back to an in-session JVM")


@pytest.mark.parametrize("failing", ["cosine", "pq"])
@pytest.mark.parametrize("timeout", [False, True])
def test_failed_family_flagged_alone_without_timing(monkeypatch, failing, timeout):
    monkeypatch.setattr(subprocess, "run", _fake_run(failing, timeout))
    monkeypatch.setattr("kafka_firehose_nozzle_spark.session.get_spark", _no_session)
    out = bench._wide_ann_bench_isolated()
    ok = "pq" if failing == "cosine" else "cosine"
    assert out[f"ann_dim256_{failing}_isolated"] is False
    assert out[f"ann_dim256_{failing}_error"] == (
        "timed out after 900 s" if timeout else "RuntimeError: boom"
    )
    assert f"ann_dim256_{ok}_isolated" not in out
    sec_keys = {k for k in out if k.startswith("ann_dim256_") and k.endswith("_sec")}
    assert sec_keys == set(TIMINGS[ok])


def test_clean_run_has_no_flags(monkeypatch):
    monkeypatch.setattr(subprocess, "run", _fake_run(failing=""))
    assert bench._wide_ann_bench_isolated() == {**TIMINGS["cosine"], **TIMINGS["pq"]}
