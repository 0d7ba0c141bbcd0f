"""The benchmark's own tests: every workload end to end at smoke size, and
the Python near-dup reference against the registry's DuckDB oracle.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import corpus, reference, trace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = [sys.executable, os.path.join(ROOT, "perfbench", "run.py")]


def run(*args: str) -> tuple[dict, dict]:
    out = subprocess.run(
        RUN + list(args), cwd=ROOT, capture_output=True, text=True, timeout=600,
        check=True,
    )
    *_, record, result = out.stdout.strip().splitlines()
    return json.loads(record), json.loads(result)


@pytest.mark.parametrize("trace_flag", ["0", "1"])
def test_all_workloads_smoke(trace_flag):
    record, result = run("--workload", "all", "--seed", "3", "--seconds", "1",
                         "--trace", trace_flag, "--smoke")
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    names = {r["workload"] for r in record["records"]}
    assert names == {"ingest_full", "refresh_delta", "retrieve_topk", "curate_dedup"}
    expected = (
        trace.per_layer_names() if trace_flag == "1"
        else ["setup_s", "op_p50_s", "op_tail_s", "docs_per_s", "peak_rss_mb"]
    )
    for wl in names:
        for name in expected:
            assert f"{wl}.{name}" in result["metrics"]
    if trace_flag == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())
        return
    m = {k: v["value"] for k, v in result["metrics"].items()}
    # the event-log fold attributed jobs to the layers each workload calls
    for wl, layers in {
        "ingest_full": ("sources", "chunk", "embed", "sink"),
        "refresh_delta": ("sources", "catalog", "chunk", "embed", "sink"),
        "retrieve_topk": ("sink", "search"),
        "curate_dedup": ("dedup",),
    }.items():
        for layer in layers:
            assert m[f"{wl}.{layer}.jobs"] > 0, (wl, layer)
            assert m[f"{wl}.{layer}.tasks"] > 0, (wl, layer)
        assert m[f"{wl}.search.jobs"] == 0 or wl == "retrieve_topk"
    assert m["refresh_delta.catalog.delta_files"] > 0
    assert m["ingest_full.embed.requests"] > 0
    assert m["ingest_full.sink.commits"] == 1
    for r in record["records"]:
        assert r["largest_self_time_layer"] is not None


def test_fails_without_the_program(tmp_path):
    """Outside a checkout (only the benchmark's files) it exits non-zero
    and prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_full",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout == ""


def test_near_dup_reference_matches_duckdb_oracle():
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd

    from vectordb_data_ingestion_spark.queries_catalog import ORACLE_SQL

    docs = corpus.dedup_documents(5, 300)
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text", "lang"]))
    want = {
        d: (c, bool(dup))
        for d, c, dup in con.sql(ORACLE_SQL["near_dup_dedup"]).fetchall()
    }
    rows = [(d, t) for d, t, _ in docs + corpus.near_copies(docs)]
    assert reference.near_dup_decisions(rows) == want
    assert sum(dup for _, dup in want.values()) > 0


def test_inputs_repeat_per_seed(tmp_path):
    a = corpus.write_file_corpus(str(tmp_path / "a"), 7, 10, (20, 40))
    b = corpus.write_file_corpus(str(tmp_path / "b"), 7, 10, (20, 40))
    for pa_, pb in zip(a, b):
        with open(pa_, "rb") as fa, open(pb, "rb") as fb:
            assert fa.read() == fb.read()
        assert os.stat(pa_).st_mtime == os.stat(pb).st_mtime
    assert corpus.dedup_documents(7, 50) == corpus.dedup_documents(7, 50)
