"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from contextlib import nullcontext

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import harness as H  # noqa: E402
from perfbench.curation import SOURCE_CAP, Curation, jaccard  # noqa: E402
from perfbench.gen import GENERATORS  # noqa: E402


def _digests(workload: str, seed: int, out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir)
    meta = GENERATORS[workload](seed, out_dir)
    return {k: hashlib.sha256(open(p, "rb").read()).hexdigest() for k, p in meta["paths"].items()}


@pytest.mark.parametrize("workload", sorted(GENERATORS))
def test_same_seed_same_inputs_other_seed_other_inputs(workload, tmp_path):
    a = _digests(workload, 7, str(tmp_path / "a"))
    b = _digests(workload, 7, str(tmp_path / "b"))
    c = _digests(workload, 8, str(tmp_path / "c"))
    assert a == b
    assert all(a[k] != c[k] for k in a)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_reports_carry_every_declared_metric_with_its_unit(capsys):
    spec = _benchmark_json()
    e2e = H.end_to_end_report(12.5, 1000, [2.0, 3.0], 900.0)
    layers = H.per_layer_report({"model": {"jobs": 6}}, [2.0], [1.8], 3.0, 4, 0.1, 3, 100, 40)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {k: u for k, (_, u) in e2e.items()}
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {k: u for k, (_, u) in layers.items()}

    H.emit(e2e, True, 3, 0, ["samples op_latency 3"])
    out = capsys.readouterr().out.strip().splitlines()
    for name, (_, unit) in e2e.items():
        assert any(line.startswith(f"metric {name} ") and line.endswith(f" {unit}") for line in out)
    last = json.loads(out[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == {k: u for k, (_, u) in e2e.items()}


def _bench() -> H.Bench:
    b = H.Bench.__new__(H.Bench)
    b.tr = type("NoTrace", (), {"span": staticmethod(lambda layer: nullcontext())})()
    b.attempted = b.failed = 0
    b.check_s = 0.0
    b.latencies_ms = []
    return b


def test_wrong_output_counts_as_failure():
    b = _bench()
    b.op("right", lambda: 2, lambda v: H.expect(v == 2, "two"))
    b.op("wrong", lambda: 3, lambda v: H.expect(v == 2, "two"))
    assert (b.attempted, b.failed) == (2, 1)
    with pytest.raises(H.PassAborted):
        b.op("raises", lambda: 1 / 0)
    assert (b.attempted, b.failed) == (3, 2)


class _Pairs:
    def __init__(self, pairs):
        self.pairs = pairs

    def select(self, *cols):
        return self

    def collect(self):
        return self.pairs


@pytest.fixture(scope="module")
def curation(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("curation")
    meta = GENERATORS["curation_dedup"](3, str(tmp))
    wl = Curation(meta, str(tmp / "out"))
    wl.prepare_expected()
    return wl


def test_dedup_checks_reject_a_pair_below_threshold_and_lost_recall(curation):
    wl = curation
    b = _bench()
    b.op("all planted", lambda: _Pairs(sorted(wl.planted)), wl._check_pairs)
    assert b.failed == 0
    gated = sorted(wl.gated)
    unrelated = next((x, y) for x, y in zip(gated, gated[1:]) if jaccard(wl.sh[x], wl.sh[y]) < 0.5)
    b.op("one false pair", lambda: _Pairs(sorted(wl.planted) + [unrelated]), wl._check_pairs)
    b.op("half recall", lambda: _Pairs(sorted(wl.planted)[::2]), wl._check_pairs)
    assert b.failed == 2


def _write_output(wl, keep) -> None:
    """Write ``keep`` (doc id -> cluster) as the workload's output."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(wl.out_dir, ignore_errors=True)
    os.makedirs(wl.out_dir)
    ids = sorted(keep)
    pq.write_table(pa.table({
        "doc_id": ids,
        "source": [wl.meta["sources"][i] for i in ids],
        "cluster": [keep[i] for i in ids],
        "split": ["train"] * len(ids),
    }), os.path.join(wl.out_dir, "part-0.parquet"))


def _right_output(wl) -> dict[int, int]:
    """One member per component, then the per-source cap by id."""
    comp = wl._components()
    per_source: dict[str, int] = {}
    keep = {}
    for doc in sorted(d for d, c in comp.items() if d == c):
        src = wl.meta["sources"][doc]
        if per_source.get(src, 0) < SOURCE_CAP:
            per_source[src] = per_source.get(src, 0) + 1
            keep[doc] = doc
    return keep


def test_output_check_rejects_lost_and_extra_documents(curation):
    wl = curation
    wl.pairs = set(wl.planted)
    right = _right_output(wl)
    b = _bench()
    b.op("right", lambda: _write_output(wl, right), lambda _: wl._check_output())
    assert b.failed == 0

    src = wl.meta["sources"]
    per_source = {}
    for doc in right:
        per_source[src[doc]] = per_source.get(src[doc], 0) + 1
    roomy = next(d for d in right if per_source[src[d]] < SOURCE_CAP)
    one_cluster = {d: min(right) for d in sorted(right)[:1]}  # a clusterer that merges everything
    wrong = {
        "lost with room under the cap": {d: c for d, c in right.items() if d != roomy},
        "everything in one cluster": one_cluster,
        "a junk document kept": {**right, wl.meta["junk"][0]: wl.meta["junk"][0]},
        "two members of a component": {**right, max(wl.planted)[1]: wl._components()[max(wl.planted)[1]]},
    }
    for name, keep in wrong.items():
        b.op(name, lambda keep=keep: _write_output(wl, keep), lambda _: wl._check_output())
    assert b.failed == len(wrong)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tabular_train", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout == ""
