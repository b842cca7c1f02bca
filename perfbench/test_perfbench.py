"""Tests of the benchmark itself: reference, tracer hygiene, count determinism.

    python3 -m pytest perfbench -q

The tracer tests run traced operations in-process on a small
``dense_deep`` input and on ``wide_ref``; the determinism test runs
``run.py --trace 1`` twice per workload on one seed (~1 min each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import reference  # noqa: E402
import run  # noqa: E402
import tracer as tr  # noqa: E402
import workloads  # noqa: E402


def _np_greedy(X, y, k, criterion):
    """The unvectorized loop of tests/test_selector.py::np_greedy, with
    float32 emission and the 1e-5 tie contract."""
    def mi(a, b):
        return reference._f32(reference.mutual_info(
            np.histogram2d(a, b, bins=(a.max() + 1, b.max() + 1),
                           range=((0, a.max() + 1), (0, b.max() + 1)))[0].astype(np.int64),
            len(a)))

    nf = X.shape[1]
    rel = [mi(X[:, i], y) for i in range(nf)]
    key = reference._tie_key
    if criterion == "mim":
        return sorted(range(nf), key=lambda i: (-key(rel[i]), i))[:k]
    red = [0.0] * nf
    cnt = 0
    selected, remaining = [], list(range(nf))
    while len(selected) < k:
        scores = {i: rel[i] - (red[i] / cnt if cnt else 0.0) for i in remaining}
        best = max(remaining, key=lambda i: (key(scores[i]), -i))
        selected.append(best)
        remaining.remove(best)
        if len(selected) >= k or not remaining:
            break
        cnt += 1
        for i in remaining:
            red[i] += mi(X[:, i], X[:, best])
    return selected


@pytest.mark.parametrize("criterion", ["mim", "mrmr"])
def test_reference_matches_unvectorized_greedy(criterion):
    rng = np.random.default_rng(7)
    y = rng.integers(0, 3, 2000)
    X = np.stack(
        [np.where(rng.random(2000) < 0.1 * j, rng.integers(0, 2 + j % 5, 2000), y % (2 + j % 5))
         for j in range(12)], axis=1)
    assert reference.greedy(X, y, 6, criterion) == _np_greedy(X, y, 6, criterion)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.configure_env(str(tmp_path_factory.mktemp("perfbench")))
    s = run.start_session()
    yield s
    run.shutdown()


def _traced_op(spark, wl, data, seed=1):
    t = tr.Tracer(spark.sparkContext)
    with t.installed():
        with t.operation() as root:
            got = wl.op(spark, data, seed, t)
    return t, root, got


def _prepare(wl, data, seed=1):
    workloads.finish(wl.generate(data, seed))


@pytest.fixture(scope="module")
def small_dense(tmp_path_factory, spark):
    wl = workloads.DenseDeep()
    wl.rows = 20_000
    data = str(tmp_path_factory.mktemp("dense"))
    _prepare(wl, data)
    return wl, data


@pytest.fixture(scope="module")
def wide(tmp_path_factory, spark):
    wl = workloads.WideRef()
    data = str(tmp_path_factory.mktemp("wide"))
    _prepare(wl, data)
    return wl, data


def test_wrappers_exist_only_inside_installed(spark):
    from flink_infotheoretic_feature_selection_spark import discretizer, selector
    from flink_infotheoretic_feature_selection_spark.functions import infotheory
    from flink_infotheoretic_feature_selection_spark.operators import packed

    def snapshot():
        pm = packed.PackedMatrix.__dict__
        return [pm[a] for a in ("pack", "pack_parquet", "dims_count_hist2d", "dims_and_count",
                                "rebalance", "relevances", "hist3d_mi_cmi_multi")] + [
            selector.InfoThSelector.__dict__["fit"],
            discretizer.EqualFrequencyDiscretizer.__dict__["fit"],
            infotheory.mi_and_cmi,
        ]

    before = snapshot()
    t = tr.Tracer(spark.sparkContext)
    with t.installed():
        inside = snapshot()
        assert all(a is not b for a, b in zip(before, inside))
        assert tr._ACTIVE is t
    assert all(a is b for a, b in zip(before, snapshot()))
    assert tr._ACTIVE is None
    assert not hasattr(infotheory, "_perfbench_original")


@pytest.mark.parametrize("which", ["small_dense", "wide"])
def test_spans_nest_and_sum_to_fit(request, spark, which):
    wl, data = request.getfixturevalue(which)
    t, root, _ = _traced_op(spark, wl, data)
    spans = t.spans
    assert tr.check_spans(spans, root)
    assert {s.op_id for s in spans} == {root.op_id}
    (fit,) = [s for s in spans if s.name == "selector.fit"]
    assert fit.parent is root
    kids = [s for s in spans if s.parent is fit]
    assert {s.name for s in kids} >= {"packed.pack", "packed.stats", "packed.loop_pass"}
    m = tr.op_metrics(spans, wl.k)
    child_sum = sum(s.duration for s in kids)
    assert child_sum + m["selector.self_s"] == pytest.approx(m["selector.fit_s"], abs=1e-9)
    assert m["packed.loop_passes"] >= 1 and m["spark.jobs"] >= m["packed.loop_passes"]
    assert m["infotheory.mi_cmi_driver_calls"] > 0


def test_pipeline_has_no_loop_pass(tmp_path, spark):
    wl = workloads.PipelineMim()
    wl.rows = 20_000
    data = str(tmp_path)
    _prepare(wl, data)
    t, root, got = _traced_op(spark, wl, data)
    m = tr.op_metrics(t.spans, wl.k)
    assert m["packed.loop_passes"] == 0 and m["packed.loop_pass_s"] == 0
    assert m["discretizer.fit_s"] > 0 and m["selector.transform_s"] > 0
    assert tr.check_spans(t.spans, root)
    assert wl.check(got, wl.reference(spark, data, 1))


def _traced_run(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.strip().splitlines()
    result, context = json.loads(out[-1]), json.loads(out[-2])["context"]
    assert result["correct"] and context["trace_detail"]["span_sums_close"]
    return {c: result["metrics"][c]["value"] for c in tr.COUNTS}


@pytest.mark.parametrize("workload", ["pipeline_mim", "wide_ref", "dense_deep"])
def test_counts_repeat_across_traced_runs(workload):
    assert _traced_run(workload, 3) == _traced_run(workload, 3)
