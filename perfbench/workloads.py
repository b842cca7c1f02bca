"""The three workloads: inputs, one operation each, and its checks.

Each operation drives only the program's public entry points
(``EqualFrequencyDiscretizer``, ``InfoThSelector.fit``,
``InfoThSelectorModel.transform``) on inputs that ``data.py`` generated
from the seed.  ``expected`` comes from ``reference.py`` in a child
process, computed once per workload and seed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))

# 32 derived features + label over this many lineitem rows
DENSE_ROWS = 100_000
DENSE_FEATURES = 32
# the reference's default shape, InfoSelectorTest.scala:102-105
WIDE_ROWS = 8192
WIDE_FEATURES = 631
DISC_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
DISC_BUCKETS = 32
AGGS = ("sum", "min", "max")  # per bucket column, checked against NumPy


def spawn(script: str, *args) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, os.path.join(HERE, script), *map(str, args)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def finish(proc: subprocess.Popen) -> str:
    """Wait for a child; its last stdout line, or raise with its stderr."""
    out, err = proc.communicate()
    if proc.returncode:
        raise RuntimeError(f"{proc.args[1]} failed:\n{err[-2000:]}")
    return out.strip().splitlines()[-1]


def _selection(model) -> dict:
    return {
        "path": [c for c, _ in model.selection_path],
        "pack_route": (model.fit_timings or {}).get("pack_route"),
    }


class DenseDeep:
    """features_dense (derived frame, scan-pack route), mRMR k=25."""

    name = "dense_deep"
    criterion, k = "mrmr", 25
    rows, features = DENSE_ROWS, DENSE_FEATURES

    def generate(self, work: str, seed: int) -> subprocess.Popen:
        return spawn("data.py", "lineitem", work, seed, self.rows)

    def _features(self, spark, work):
        from flink_infotheoretic_feature_selection_spark.datasets import features_dense

        return features_dense(spark, work)

    def reference(self, spark, work: str, seed: int) -> dict:
        return self.start_reference(spark, work, seed)()

    def start_reference(self, spark, work: str, seed: int):
        """Start the reference child; return a call that waits for it."""
        out = os.path.join(work, "features_ref.parquet")
        self._features(spark, work).write.mode("overwrite").parquet(out)
        proc = spawn("reference.py", out, "label", self.criterion, self.k)
        return lambda: json.loads(finish(proc))

    def op(self, spark, work: str, seed: int, tracer) -> dict:
        from flink_infotheoretic_feature_selection_spark import InfoThSelector

        model = InfoThSelector(n_to_select=self.k, criterion=self.criterion).fit(
            self._features(spark, work)
        )
        return _selection(model)

    def check(self, got: dict, expected: dict) -> bool:
        return got["path"] == expected["path"]


class PipelineMim(DenseDeep):
    """Discretize four lineitem columns, MIM k=10 on features_dense,
    project, and force both results with aggregates."""

    name = "pipeline_mim"
    criterion, k = "mim", 10

    def start_reference(self, spark, work: str, seed: int):
        import pyarrow.parquet as pq

        pending = super().start_reference(spark, work, seed)

        def done() -> dict:
            expected = pending()
            raw = pq.read_table(os.path.join(work, "lineitem.parquet"), columns=DISC_COLS)
            expected["disc_values"] = {c: raw.column(c).to_numpy() for c in DISC_COLS}
            return expected

        return done

    def op(self, spark, work: str, seed: int, tracer) -> dict:
        from pyspark.sql import functions as F

        from flink_infotheoretic_feature_selection_spark import (
            EqualFrequencyDiscretizer,
            InfoThSelector,
        )

        lineitem = spark.read.parquet(os.path.join(work, "lineitem.parquet"))
        disc = EqualFrequencyDiscretizer(
            DISC_COLS, num_buckets=DISC_BUCKETS, seed=seed, as_bytes=True
        ).fit(lineitem)
        with tracer.span("discretizer.transform"):
            binned = disc.transform(lineitem)
            cols = [c + disc.output_suffix for c in DISC_COLS]
            row = binned.agg(
                *[getattr(F, agg)(c).alias(f"{agg}_{c}") for agg in AGGS for c in cols]
            ).collect()[0]
        feats = self._features(spark, work)
        model = InfoThSelector(n_to_select=self.k, criterion=self.criterion).fit(feats)
        with tracer.span("selector.transform"):
            proj = model.transform(feats)
            sums = proj.agg(*[F.sum(c).alias(c) for c in proj.columns]).collect()[0]
        got = _selection(model)
        got["sums"] = {c: int(sums[c]) for c in proj.columns}
        got["splits"] = {c: disc.splits[c] for c in DISC_COLS}
        got["buckets"] = {
            c: tuple(int(row[f"{agg}_{c}{disc.output_suffix}"]) for agg in AGGS)
            for c in DISC_COLS
        }
        return got

    def check(self, got: dict, expected: dict) -> bool:
        if got["path"] != expected["path"] or got["sums"] != expected["sums"]:
            return False
        for c in DISC_COLS:
            splits = np.asarray(got["splits"][c], dtype=np.float64)
            n_buckets = len(splits) - 1
            # the reference's stride walk over a Float.MaxValue sentinel can
            # emit one split more than asked: up to num_buckets + 1 buckets
            if not (
                splits[0] == -np.inf and splits[-1] == np.inf
                and np.all(np.diff(splits) > 0) and n_buckets <= DISC_BUCKETS + 1
            ):
                return False
            # Bucketizer semantics: bucket b holds splits[b] <= x < splits[b+1]
            idx = np.searchsorted(splits, expected["disc_values"][c], side="right") - 1
            idx = np.minimum(idx, n_buckets - 1)
            if got["buckets"][c] != (int(idx.sum()), int(idx.min()), int(idx.max())):
                return False
        return True


class WideRef:
    """8,192 x 631 bare parquet scan (direct-pack route), mRMR k=10."""

    name = "wide_ref"
    criterion, k = "mrmr", 10
    rows, features = WIDE_ROWS, WIDE_FEATURES

    def generate(self, work: str, seed: int) -> subprocess.Popen:
        return spawn("data.py", "wide", work, seed, self.rows, self.features)

    @staticmethod
    def _path(work: str) -> str:
        return os.path.join(work, "wide.parquet")

    def reference(self, spark, work: str, seed: int) -> dict:
        return self.start_reference(spark, work, seed)()

    def start_reference(self, spark, work: str, seed: int):
        proc = spawn("reference.py", self._path(work), "label", self.criterion, self.k)
        return lambda: json.loads(finish(proc))

    def op(self, spark, work: str, seed: int, tracer) -> dict:
        from flink_infotheoretic_feature_selection_spark import InfoThSelector

        model = InfoThSelector(n_to_select=self.k, criterion=self.criterion).fit(
            spark.read.parquet(self._path(work))
        )
        return _selection(model)

    def check(self, got: dict, expected: dict) -> bool:
        return got["path"] == expected["path"]


WORKLOADS = {w.name: w for w in (DenseDeep, PipelineMim, WideRef)}
