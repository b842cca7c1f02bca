"""PackedMatrix (operators/packed.py) — bit-equality against the
codegen DataFrame histogram routes in both merge regimes, layout
decisions, and selection invariance across them.

The packed substrate is the selector's one engine; these tests pin that
it changes NOTHING about the numbers — exact integer merges, the same
MI/CMI floats as the codegen route, the same selection paths whatever
the layout, merge regime or speculation width.
"""

from __future__ import annotations

import pytest

from pyspark import RDD

from flink_infotheoretic_feature_selection_spark import InfoThSelector
from flink_infotheoretic_feature_selection_spark.datasets import features_dense
from flink_infotheoretic_feature_selection_spark.operators import packed as packed_mod
from flink_infotheoretic_feature_selection_spark.operators.histogram import (
    collect_hist2d,
    collect_hist3d,
    feature_dims_and_count,
    hist2d,
    hist3d,
)
from flink_infotheoretic_feature_selection_spark.operators.packed import PackedMatrix
from flink_infotheoretic_feature_selection_spark.functions.infotheory import mi_and_cmi, mutual_info

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def matrix(spark):
    df = features_dense(spark, SF_DIR).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def packed(matrix):
    feats = [c for c in matrix.columns if c != "label"]
    pm = PackedMatrix.pack(matrix, feats + ["label"], n_partitions=4)
    yield pm
    pm.unpersist()


def _dims_n(matrix):
    cols = list(matrix.columns)
    return feature_dims_and_count(matrix, cols)


@pytest.mark.parametrize("regime", ["driver", "shuffled"])
@pytest.mark.parametrize("method", ["relevances", "hist3d_mi_cmi_multi"])
def test_packed_pass_bit_equal_codegen_reference(matrix, packed, method, regime, monkeypatch):
    """Both packed histogram passes return exactly the floats of the
    codegen hist2d/hist3d + collect_hist2d/collect_hist3d +
    mutual_info/mi_and_cmi route, in both regimes of the one merge
    helper (a zero budget forces the shuffled combineByKey merge)."""
    feats = [c for c in matrix.columns if c != "label"]
    dims, n = _dims_n(matrix)
    y_dim = dims["label"]
    if method == "relevances":
        h2 = collect_hist2d(hist2d(matrix, feats, "label", dims, y_dim), feats, dims, y_dim)
        want = {c: mutual_info(h2[c], n, emit_f32=True) for c in feats}
        args = (feats, "label", dims, n)
    else:
        conds = [feats[3], feats[0], feats[5]]
        remaining = [c for c in feats if c != feats[3]]
        want = {}
        for s in conds:
            h3 = collect_hist3d(
                hist3d(matrix, remaining, s, "label", dims, dims[s], y_dim),
                remaining, dims, dims[s], y_dim,
            )
            want[s] = {c: mi_and_cmi(h3[c], n, emit_f32=True) for c in remaining}
        args = (remaining, conds, "label", dims, n)

    shuffles = _force_regime(monkeypatch, regime == "shuffled")
    got = getattr(packed, method)(*args, emit_f32=True)
    assert len(shuffles) == (regime == "shuffled")
    assert got == want  # exact float equality, not approx


def _force_regime(monkeypatch, shuffled: bool) -> list:
    """Force the merge helper's regime (a zero budget forces the shuffled
    combineByKey merge) and count the ``combineByKey`` calls, so a test
    can assert which regime actually ran."""
    shuffles = []
    combine = RDD.combineByKey

    def counting_combine(self, *a, **k):
        shuffles.append(1)
        return combine(self, *a, **k)

    monkeypatch.setattr(RDD, "combineByKey", counting_combine)
    if shuffled:
        monkeypatch.setattr(packed_mod, "BLOB_DRIVER_MERGE_MAX_BYTES", 0)
    return shuffles


@pytest.mark.parametrize("forced_regime", ["driver", "distributed"])
def test_hist3d_mi_cmi_bit_equal_both_regimes(matrix, packed, forced_regime, monkeypatch):
    """A one-cond loop pass returns exactly the codegen hist3d +
    collect_hist3d + mi_and_cmi floats in both merge regimes."""
    feats = [c for c in matrix.columns if c != "label"]
    dims, n = _dims_n(matrix)
    y_dim = dims["label"]
    best, remaining = feats[3], [c for c in feats if c != feats[3]]
    h3 = collect_hist3d(
        hist3d(matrix, remaining, best, "label", dims, dims[best], y_dim),
        remaining, dims, dims[best], y_dim,
    )
    want = {c: mi_and_cmi(h3[c], n, emit_f32=True) for c in remaining}
    shuffles = _force_regime(monkeypatch, forced_regime == "distributed")
    got = packed.hist3d_mi_cmi_multi(remaining, [best], "label", dims, n, emit_f32=True)
    assert len(shuffles) == (forced_regime == "distributed")
    assert got == {best: want}  # exact float equality in BOTH regimes


@pytest.mark.parametrize("forced_regime", ["driver", "distributed"])
def test_hist3d_mi_cmi_multi_bit_equal_single(matrix, packed, forced_regime, monkeypatch):
    """r13: the speculative batch pass returns, for every conditioning
    column, exactly the pairs a one-cond pass returns — in BOTH merge
    regimes."""
    feats = [c for c in matrix.columns if c != "label"]
    dims, n = _dims_n(matrix)
    conds = [feats[3], feats[0], feats[5]]
    _force_regime(monkeypatch, forced_regime == "distributed")
    remaining = [c for c in feats if c != feats[3]]
    got = packed.hist3d_mi_cmi_multi(remaining, conds, "label", dims, n, emit_f32=True)
    assert sorted(got) == sorted(conds)
    for s in conds:
        want = packed.hist3d_mi_cmi_multi(remaining, [s], "label", dims, n, emit_f32=True)
        assert got[s] == want[s]  # exact float equality


def test_dims_and_count_matches_catalyst_route(matrix, packed):
    want = feature_dims_and_count(matrix, list(matrix.columns))
    assert packed.dims_and_count() == want


def test_dims_and_count_raises_on_empty(spark, matrix):
    empty = matrix.limit(0)
    pm = PackedMatrix.pack(empty, list(matrix.columns))
    try:
        with pytest.raises(ValueError, match="empty or .*all-NULL"):
            pm.dims_and_count()
    finally:
        pm.unpersist()


def test_validate_byte_range_flags_null_and_range(spark):
    rows = [(1, None, 300, 2), (0, 3, 1, 2)]
    df = spark.createDataFrame(rows, "f0 int, f1 int, f2 int, label int")
    pm = PackedMatrix.pack(df, ["f0", "f1", "f2", "label"])
    try:
        assert pm.validate_byte_range(["f0", "f1", "f2"]) == ["f1", "f2"]
    finally:
        pm.unpersist()


def test_rebalance_preserves_histograms(matrix, packed):
    feats = [c for c in matrix.columns if c != "label"]
    dims, n = _dims_n(matrix)
    best, remaining = feats[0], feats[1:6]
    want = packed.hist3d_mi_cmi_multi(remaining, [best], "label", dims, n)
    pm2 = PackedMatrix.pack(matrix, feats + ["label"], n_partitions=2)
    try:
        pm3 = pm2.rebalance(6, rows_per_partition=max(1, n // 6))
        assert pm3.n_partitions >= 2  # actually re-laid-out
        assert pm3.dims_and_count() == (dims, n)
        assert pm3.hist3d_mi_cmi_multi(remaining, [best], "label", dims, n) == want
        pm3.unpersist()
    finally:
        pm2.unpersist()


def test_pack_keeps_layout_when_target_none(matrix):
    feats = [c for c in matrix.columns if c != "label"]
    pm = PackedMatrix.pack(matrix, feats + ["label"], n_partitions=None)
    try:
        assert pm.n_partitions == matrix.rdd.getNumPartitions()
        blocks = pm.rdd.collect()
        assert sum(len(b["label"]) for b in blocks) == matrix.count()
        assert list(blocks[0].keys()) == feats + ["label"]
    finally:
        pm.unpersist()


def test_dims_and_count_raises_on_partial_nulls(spark):
    # A column NULL in only SOME partitions arrives as float-with-NaN via
    # Arrow; folding partials with Python max() was order-dependent
    # (max(1.0, nan)=1.0 but max(nan, 1.0)=nan). Any NaN partial is a
    # contract violation and must error deterministically.
    clean = [(i % 3, 1) for i in range(8)]
    dirty = [(None, 1)] + [(i % 3, 1) for i in range(7)]
    df = (
        spark.createDataFrame(clean, "f0 int, label int")
        .repartition(1)
        .unionAll(spark.createDataFrame(dirty, "f0 int, label int").repartition(1))
    )
    pm = PackedMatrix.pack(df, ["f0", "label"])
    try:
        with pytest.raises(ValueError, match="NULL"):
            pm.dims_and_count()
    finally:
        pm.unpersist()


def test_pack_rejects_duplicate_column_names(spark):
    # the wide-schema fast path must NOT engage on duplicate names —
    # name-keyed block resolution would silently read the last
    # occurrence for both; Catalyst's ambiguity error must surface
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, 2, 0)], "f0 int, f1 int, label int").select(
        F.col("f0").alias("a"), F.col("f1").alias("a"), "label"
    )
    with pytest.raises(Exception, match="AMBIGUOUS|ambiguous"):
        PackedMatrix.pack(df, ["a", "label"])


def test_rebalance_cost_gate(spark, matrix, monkeypatch):
    """r12: the parallelism-starved re-layout fires only when a partition
    holds >= REBALANCE_MIN_CELLS_PER_PART cells; the selection is
    identical with and without it (partition-agnostic integer merges)."""
    from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector as Sel

    few = matrix.coalesce(1)

    # small data: starved layout (1 partition) must NOT re-layout
    m_skip = Sel(n_to_select=3, criterion="mrmr").fit(few)
    assert "rebalance_sec" not in m_skip.fit_timings
    assert m_skip.fit_timings["loop_partitions"] == 1

    # forcing the threshold to zero re-enables the starved re-layout
    # (when the row count clears the 2x LOOP_ROWS_PER_PARTITION band it
    # splits; at sf0.001 it stays under the band, so instead pin that
    # the gate itself is the only thing that changed) and the selection
    # is bit-identical either way
    monkeypatch.setattr(Sel, "REBALANCE_MIN_CELLS_PER_PART", 0)
    monkeypatch.setattr(Sel, "LOOP_ROWS_PER_PARTITION", 64)
    m_reb = Sel(n_to_select=3, criterion="mrmr").fit(few)
    assert "rebalance_sec" in m_reb.fit_timings
    assert m_reb.fit_timings["loop_partitions"] > 1
    assert m_reb.selection_path == m_skip.selection_path
    assert m_reb.relevances == m_skip.relevances


def test_dims_count_hist2d_fused_matches_separate_passes(spark, matrix, packed):
    """r12: the fused dims+hist2d pass returns the same dims/count as
    dims_and_count and bit-identical tables to the hist2d route."""
    feats = [c for c in matrix.columns if c != "label"]
    dims, n = packed.dims_and_count()
    fdims, fn, h2 = packed.dims_count_hist2d("label")
    assert (fdims, fn) == (dims, n)
    assert h2 is not None
    want = collect_hist2d(
        hist2d(matrix, feats, "label", dims, dims["label"]),
        feats, dims, dims["label"],
    )
    for c in feats:
        assert (h2[c] == want[c]).all()
        assert h2[c].dtype == want[c].dtype


def test_dims_count_hist2d_budget_fallback_and_errors(spark, matrix, packed, monkeypatch):
    # shrinking the driver-merge budget makes every block decline to
    # histogram -> h2 None, dims/count still exact (the caller's
    # fallback contract)
    monkeypatch.setattr(packed_mod, "BLOB_DRIVER_MERGE_MAX_BYTES", 0)
    dims, n = packed.dims_and_count()
    fdims, fn, h2 = packed.dims_count_hist2d("label")
    assert (fdims, fn, h2) == (dims, n, None)
    monkeypatch.undo()

    # out-of-contract values raise the dims_and_count error text, never
    # a raw bincount failure
    import numpy as np
    wild = spark.createDataFrame(
        [(0, 300), (1, 0)], "label int, f0 int"
    )
    pm = PackedMatrix.pack(wild, ["f0", "label"])
    try:
        with pytest.raises(ValueError, match="exceed the byte range"):
            pm.dims_count_hist2d("label")
    finally:
        pm.unpersist()


@pytest.mark.parametrize("criterion", ["mrmr", "jmi", "cmim", "icap", "mifs"])
def test_fit_identical_across_speculation_widths(matrix, criterion):
    """r13: speculation is a pure prefetch — selection path, scores and
    relevances are bit-identical at every width (updates replay in
    selection order from the same integer-merged histograms)."""
    base = InfoThSelector(
        n_to_select=6, criterion=criterion, speculation=0
    ).fit(matrix)
    assert base.fit_timings["loop_jobs"] == 5
    assert base.fit_timings["speculation_hits"] == 0
    for spec in (2, "auto", 16):
        m = InfoThSelector(
            n_to_select=6, criterion=criterion, speculation=spec
        ).fit(matrix)
        assert m.selection_path == base.selection_path
        assert m.relevances == base.relevances
        assert m.selected_cols == base.selected_cols
        assert m.fit_timings["loop_jobs"] + m.fit_timings["speculation_hits"] == 5


def test_speculation_param_validated():
    with pytest.raises(ValueError, match="speculation"):
        InfoThSelector(speculation=-1)
    with pytest.raises(ValueError, match="speculation"):
        InfoThSelector(speculation="always")


def test_fusion_skipped_when_rebalance_will_fire(spark, matrix, monkeypatch):
    """ADVICE r12 (medium): a starved input that the re-layout is about
    to split must NOT take the fused dims+hist2d pass (it would run the
    stage-2 histograms serially in the starved partitions); the fit
    falls back to stats -> rebalance -> parallel relevances, with a
    bit-identical selection."""
    from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector as Sel

    few = matrix.coalesce(1)
    m_fused = Sel(n_to_select=3, criterion="mrmr").fit(few)

    # force the starved-rebalance prediction true on the tiny fixture
    monkeypatch.setattr(Sel, "REBALANCE_MIN_CELLS_PER_PART", 0)
    monkeypatch.setattr(Sel, "LOOP_ROWS_PER_PARTITION", 64)

    def boom(self, *a, **k):  # pragma: no cover - failure path
        raise AssertionError("dims_count_hist2d must not run before a rebalance")

    monkeypatch.setattr(PackedMatrix, "dims_count_hist2d", boom)
    m = Sel(n_to_select=3, criterion="mrmr").fit(few)
    assert "rebalance_sec" in m.fit_timings
    assert m.selection_path == m_fused.selection_path
    assert m.relevances == m_fused.relevances


def test_starved_mim_fit_keeps_fused_stats_pass(spark, matrix, monkeypatch):
    """ADVICE r13 (medium): the re-layout is decided once, from the
    pack's row count AND whether a loop runs.  A MIM fit never
    re-lays out, so a starved input must still take the fused
    dims+hist2d pass and run no separate relevances pass — with the same
    selection as the unshrunk fit."""
    from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector as Sel

    few = matrix.coalesce(1)
    want = Sel(n_to_select=3, criterion="mim").fit(few)

    # the same shrunk constants that make the mrmr fit re-lay out
    monkeypatch.setattr(Sel, "REBALANCE_MIN_CELLS_PER_PART", 0)
    monkeypatch.setattr(Sel, "LOOP_ROWS_PER_PARTITION", 64)
    fused_calls = []
    fused = PackedMatrix.dims_count_hist2d

    def counting_fused(self, *a, **k):
        fused_calls.append(1)
        return fused(self, *a, **k)

    def boom(self, *a, **k):  # pragma: no cover - failure path
        raise AssertionError("a starved MIM fit must not run a relevances pass")

    monkeypatch.setattr(PackedMatrix, "dims_count_hist2d", counting_fused)
    monkeypatch.setattr(PackedMatrix, "relevances", boom)
    m = Sel(n_to_select=3, criterion="mim").fit(few)
    assert fused_calls == [1]
    assert "rebalance_sec" not in m.fit_timings
    assert m.fit_timings["loop_partitions"] == 1
    assert m.selection_path == want.selection_path
    assert m.relevances == want.relevances


def test_pack_records_n_rows(matrix, packed):
    assert packed.n_rows == matrix.count()
    # rebalance must carry the count through (it unpersists its input,
    # so use a private pack)
    own = PackedMatrix.pack(matrix, list(matrix.columns), n_partitions=4)
    re = own.rebalance(2, 1 << 16)
    try:
        assert re.n_rows == packed.n_rows
    finally:
        re.unpersist()
