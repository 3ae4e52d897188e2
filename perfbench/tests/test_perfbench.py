"""The benchmark's own tests.

    python -m pytest perfbench/tests -q

The smoke tests start local Spark sessions (about a minute each); the
rest are fast.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import harvest  # noqa: E402
import inputs  # noqa: E402
import spec  # noqa: E402
import workloads  # noqa: E402


def digest(table) -> str:
    """sha256 over every cell of ``table`` in row order."""
    h = hashlib.sha256()
    for col in table.columns:
        for v in col.to_pylist():
            h.update(v if isinstance(v, bytes) else repr(v).encode())
            h.update(b"\x00")
    return h.hexdigest()


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- seeded generators ----------------------------------------------------------


def test_documents_same_seed_same_bytes():
    assert digest(inputs.documents_table(7, 300)) == digest(inputs.documents_table(7, 300))


def test_documents_other_seed_other_bytes():
    assert digest(inputs.documents_table(7, 300)) != digest(inputs.documents_table(8, 300))


def test_documents_shape():
    t = inputs.documents_table(3, 2000)
    assert t.schema == inputs.DOCUMENTS_SCHEMA
    texts = t.column("text").to_pylist()
    assert t.column("n_chars").to_pylist() == [len(x) for x in texts]
    dups = sum(x.endswith(" dup") for x in texts)
    assert 0.02 * len(texts) < dups < 0.10 * len(texts)


def test_heavy_same_seed_same_bytes():
    assert digest(inputs.heavy_pages(5, 24)) == digest(inputs.heavy_pages(5, 24))


def test_heavy_other_seed_other_bytes():
    assert digest(inputs.heavy_pages(5, 24)) != digest(inputs.heavy_pages(6, 24))


def test_heavy_sizes_are_heavy_tailed_and_bounded():
    sizes = [len(h) for h in inputs.heavy_pages(2, 200).column("html").to_pylist()]
    assert min(sizes) >= inputs.HEAVY_MIN_BYTES
    assert max(sizes) < inputs.HEAVY_MAX_BYTES + 10_000  # the last section may overshoot
    assert sorted(sizes)[len(sizes) // 2] < sum(sizes) / len(sizes)  # median below mean


def test_heavy_mix_contains_fast_scanner_bail_pages():
    from webextract.functions import fastscan
    from webextract.functions.htmlnorm import decode_html

    import funcpass

    n = 64
    htmls = inputs.heavy_pages(9, n).column("html").to_pylist()
    bailed = [i for i, h in enumerate(htmls) if not fastscan.scan(decode_html(h), funcpass.CountingSink())]
    assert len(bailed) == n // inputs.BAIL_EVERY
    assert all(b"<![CDATA[" in htmls[i] or b"<!DOCTYPE html [" in htmls[i] for i in bailed)


def test_heavy_pages_are_block_rich():
    from webextract.config import DEFAULT_CONFIG
    from webextract.functions.extract import extract_page

    htmls = inputs.heavy_pages(4, 8).column("html").to_pylist()
    blocks = [extract_page(h, DEFAULT_CONFIG)["blocks_total"] for h in htmls]
    assert min(blocks) >= 100


# -- the metric list ------------------------------------------------------------


def test_spec_matches_benchmark_json():
    bench = _benchmark_json()
    for key, listed in (("end_to_end", spec.END_TO_END), ("per_layer", spec.PER_LAYER)):
        assert [(m["name"], m["unit"], m["better"]) for m in bench[key]] == list(listed)


def test_benchmark_json_lists_runnable_workloads():
    for w in _benchmark_json()["workloads"]:
        assert w["name"] in workloads.WORKLOADS


def test_render_fills_every_metric_and_rejects_unknown():
    out = spec.render({"wall_s": 1.5}, trace=False)
    assert list(out) == [name for name, _, _ in spec.END_TO_END]
    assert out["wall_s"] == {"value": 1.5, "unit": "s"}
    with pytest.raises(ValueError):
        spec.render({"nope": 1.0}, trace=False)


# -- the command ------------------------------------------------------------------


def test_fails_without_a_source_tree(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    cmd = _benchmark_json()["command"]
    proc = subprocess.run(
        cmd + ["--workload", "extract_small", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.fixture
def tiny(monkeypatch):
    """Shrink every workload so a full run takes seconds of work."""
    for cls, attrs in {
        workloads.ExtractSmall: {"n_docs": 200, "replicas": 2, "func_sample": 20, "pool_sample": 40},
        workloads.ExtractHeavy: {"n_pages": 16, "rows_per_group": 4, "func_sample": 4, "pool_sample": 8},
        workloads.PipelineWrite: {"n_docs": 300, "func_sample": 20, "pool_sample": 40},
        workloads.CorpusOps: {"n_docs": 120},
    }.items():
        for k, v in attrs.items():
            monkeypatch.setattr(cls, k, v)
    import run

    monkeypatch.setattr(run, "SETUP_REPS", 1)
    monkeypatch.setattr(run, "FUNC_REPS", 1)
    monkeypatch.setattr(run, "POOL_REPS", 1)
    return run


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _benchmark_json()["workloads"]])
def test_smoke_run_prints_every_metric(tiny, workload, trace):
    args = tiny.parse_args(["--workload", workload, "--seed", "3", "--seconds", "0", "--trace", str(trace)])
    with tiny.children_reaped():
        result, context = tiny.run(args)
    assert not harvest.descendants(os.getpid()), "the run left processes behind"
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    listed = _benchmark_json()["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in listed]
    for m in listed:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        guests = tiny.GUESTS[workload]
        prefix = {"pipeline_write": "pipeline.", "corpus_ops": "query."}
        for g in guests:
            assert any(v["value"] > 0 for k, v in result["metrics"].items() if k.startswith(prefix[g]))
    assert context["nproc"] >= 1 and context["page_mix"]["pages"] >= 1
