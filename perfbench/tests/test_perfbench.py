"""Tests of the benchmark's own code: plans, oracles, the log generator
and the metric contract.

    python3 -m pytest perfbench/tests -q

The two Spark workloads are run end to end only with
PERFBENCH_SPARK_TESTS=1 (about a minute each).
"""

import json
import os
import re
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pytest

from harness import Tracer
from lineitem import lineitem
from metalog import TAIL_COMMITS, MetaLog
import run as bench_run
import wl_ingest_dml
import wl_metadata_scale
import wl_read_mix

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
PLANS = {"read_mix": wl_read_mix.make_plan,
         "ingest_dml": wl_ingest_dml.make_plan,
         "metadata_scale": wl_metadata_scale.make_plan}


def contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- op sequences ------------------------------------------------------------

@pytest.mark.parametrize("name", sorted(PLANS))
def test_same_seed_same_ops_other_seed_other_ops(name):
    make = PLANS[name]
    assert make(7, 60) == make(7, 60)
    assert make(7, 60) != make(8, 60)


@pytest.mark.parametrize("name", sorted(PLANS))
def test_op_mix_is_fixed_per_cycle(name):
    """Seeds change parameters and order, never the op mix of a cycle."""
    cls = bench_run.workload_class(name)
    n = cls.cycle * 2

    def mix(seed):
        kinds = [op["kind"] for op in PLANS[name](seed, n)]
        return sorted(kinds[:cls.cycle]), sorted(kinds[cls.cycle:])

    assert mix(1) == mix(2) == mix(3)


def test_read_mix_half_of_boxes_repeat_from_hot_set():
    boxes = [op for op in wl_read_mix.make_plan(3, 200)
             if op["kind"] == "box"]
    hot = [op for op in boxes if op["hot"]]
    assert abs(len(hot) - len(boxes) / 2) <= 3
    distinct_hot = {json.dumps(op["filters"]) for op in hot}
    assert len(distinct_hot) == 3 * wl_read_mix.HOT_PER_SELECTIVITY


def test_read_mix_p90_falls_among_q1_aggregates():
    """format("qbeast") reads (the slowest ops) are under a tenth of a
    run and Q1 aggregates (the next slowest) over a tenth, so op_p90_ms
    falls among Q1 aggregates. Every seed runs the same OR boxes, and the
    where-reads of format("qbeast") read the hot 1% boxes."""
    n = 2 * wl_read_mix.ReadMix.cycle
    ops = wl_read_mix.make_plan(5, n)
    pyds = [op for op in ops if op["kind"].startswith("pyds")]
    full = [op for op in ops if op["kind"] == "full"]
    assert len(pyds) < 0.1 * n and len(pyds) + len(full) >= 0.2 * n
    hot = {json.dumps(op["filters"]) for op in ops
           if op["kind"] == "box" and op["hot"] and op["sel"] == 0.01}
    assert {json.dumps(op["filters"]) for op in pyds
            if op["kind"] == "pyds_where"} <= hot
    other = wl_read_mix.make_plan(6, n)
    assert sorted(json.dumps(op) for op in ops if op["kind"] == "or_box") \
        == sorted(json.dumps(op) for op in other if op["kind"] == "or_box")


def test_lineitem_is_seeded_with_unique_line_keys():
    a, b = lineitem(5, orders=2000), lineitem(5, orders=2000)
    assert a.equals(b)
    assert not a.equals(lineitem(6, orders=2000))
    key = (a.column("l_orderkey").to_numpy() * 8
           + a.column("l_linenumber").to_numpy())
    assert len(np.unique(key)) == a.num_rows


# -- oracles -----------------------------------------------------------------

def test_read_mix_oracle_flags_wrong_results():
    t = lineitem(2, orders=3000)
    wl = wl_read_mix.ReadMix(2, 1, "/nonexistent", Tracer())
    wl.cols = {c: t.column(c).to_numpy(zero_copy_only=False) for c in
               ("l_orderkey", "l_extendedprice", "l_quantity", "l_tax",
                "l_discount", "l_shipdate", "l_returnflag", "l_linestatus")}
    wl.cols["hash"] = np.arange(t.num_rows, dtype=np.int64) - 2**31
    wl.ops = wl_read_mix.make_plan(2, wl_read_mix.ReadMix.cycle)
    recs = [{"id": i, "ok": True, "result": wl.expected(op), "files": []}
            for i, op in enumerate(wl.ops)]
    wl.files_opened = lambda op: []
    assert wl.verify(recs) == {}
    box, other, q1 = (
        [i for i, op in enumerate(wl.ops) if op["kind"] == "box"][:2]
        + [i for i, op in enumerate(wl.ops) if op["kind"] == "full"][:1])
    cnt, total = recs[box]["result"]
    recs[box]["result"] = (cnt + 1, total)
    cnt, total = recs[other]["result"]
    recs[other]["result"] = (cnt, total * (1 + 1e-6) + 1.0)
    cnt, groups = recs[q1]["result"]
    g = groups[0]
    recs[q1]["result"] = (cnt, (g[:4] + (g[4] + 1.0,) + g[5:],)
                          + groups[1:])
    assert sorted(wl.verify(recs)) == sorted([box, other, q1])
    for i in (box, other, q1):
        recs[i]["result"] = wl.expected(wl.ops[i])
    recs[7]["files"] = ["not-pruned.parquet"]
    assert sorted(wl.verify(recs)) == [7]


def test_ingest_model_and_checksum_flag_wrong_results():
    base = lineitem(4, orders=500)
    m = wl_ingest_dml.Model(base)
    before = m.checksum()
    flt = [("l_orderkey", ">=", 0), ("l_orderkey", "<", 10**9)]
    assert m.update(flt) == base.num_rows
    assert m.checksum()[3] == pytest.approx(before[3] + base.num_rows)
    want = m.checksum()
    assert wl_ingest_dml.checksum_equal(want, want)
    assert not wl_ingest_dml.checksum_equal((want[0] - 1,) + want[1:], want)
    assert not wl_ingest_dml.checksum_equal(
        want[:3] + (want[3] + 1.0,) + want[4:], want)


def test_ingest_model_merge_updates_matches_and_inserts_the_rest():
    pool = lineitem(4, orders=600)
    base = pool.slice(0, 1000)
    m = wl_ingest_dml.Model(base)
    src = pa.concat_tables([base.slice(0, 10), pool.slice(1000, 5)])
    assert m.merge(src) == 15
    assert m.checksum()[0] == 1005
    assert m.delete([("l_orderkey", ">=", 0),
                     ("l_orderkey", "<", 10**9)]) == 1005
    assert m.checksum()[0] == 0


@pytest.fixture(scope="module")
def small_log(tmp_path_factory):
    ml = MetaLog(str(tmp_path_factory.mktemp("meta") / "t"), 3_000, 9)
    ml.generate()
    return ml


def test_metadata_oracle_agrees_with_prune_and_flags_a_wrong_answer(
        small_log):
    from qbeast_spark_spark.core.weight import fraction_to_weight
    from qbeast_spark_spark.sources.log import CommitLog
    from qbeast_spark_spark.sources.reader import QbeastTable, prune_files

    snap = CommitLog(small_log.table).snapshot()
    tr = small_log.truth
    rng = np.random.default_rng(0)
    for _ in range(20):
        x0, y0 = rng.uniform(0, 9e5, 2)
        box = [x0, x0 + 1e5, y0, y0 + 1e5]
        got = sorted(prune_files(snap, wl_metadata_scale.box_filters(box)))
        assert got == tr.names(tr.box(*box))
    for f in (0.001, 0.01, 0.1):
        got = sorted(QbeastTable(None, small_log.table).sample_files(
            f, snap=snap))
        assert got == tr.names(tr.sampled(fraction_to_weight(f)))

    wl = wl_metadata_scale.MetadataScale(1, 1, "/nonexistent", Tracer())
    wl.logs = {}
    want = tr.names(tr.box(0, 5e5, 0, 5e5))
    recs = [{"id": 0, "ok": True, "result": want, "expected": want},
            {"id": 1, "ok": True, "result": want[1:], "expected": want},
            {"id": 2, "ok": True, "result": [5, 10], "expected": [5, 11]}]
    assert sorted(wl.verify(recs)) == [1, 2]


# -- the log generator -------------------------------------------------------

@pytest.mark.parametrize("n_files,checkpoint", [(5_000, ".checkpoint.json"),
                                                (100_000,
                                                 ".checkpoint.parquet")])
def test_generator_file_counts_and_checkpoint_format(tmp_path, n_files,
                                                     checkpoint):
    from qbeast_spark_spark.sources.log import CommitLog

    assert wl_metadata_scale.TABLES[
        "large" if n_files > 10_000 else "small"] == n_files
    ml = MetaLog(str(tmp_path / "t"), n_files, 1)
    ml.generate()
    snap = CommitLog(ml.table).snapshot()
    assert len(snap.files) == n_files == ml.truth.live()
    assert snap.version == 10 + TAIL_COMMITS
    names = os.listdir(os.path.join(ml.table, "_qbeast_log"))
    assert f"{10:012d}{checkpoint}" in names
    columnar = getattr(snap.files, "kernel", None) is not None
    assert columnar == (checkpoint == ".checkpoint.parquet")


# -- metrics and contract ----------------------------------------------------

def test_contract_shape():
    c = contract()
    assert set(c) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert [w["name"] for w in c["workloads"]] == list(bench_run.WORKLOADS)
    names = [m["name"] for m in c["end_to_end"] + c["per_layer"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n)
               for n in names)
    assert all(0 < m["bound"] <= 0.25 for m in c["end_to_end"])
    setup = next(m for m in c["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in c["end_to_end"])


def test_shape_rejects_undeclared_and_missing_metrics():
    declared = [{"name": "a", "unit": "ms"}, {"name": "b", "unit": "s"}]
    assert bench_run.shape({"a": 1, "b": 2}, declared, False)["b"] == \
        {"value": 2.0, "unit": "s"}
    assert bench_run.shape({"a": 1}, declared, True)["b"]["value"] == 0.0
    with pytest.raises(KeyError):
        bench_run.shape({"a": 1, "zzz": 2}, declared, True)
    with pytest.raises(KeyError):
        bench_run.shape({"a": 1}, declared, False)


class FakeSteal:
    """Stands in for /proc/stat: each call to ``host_cpu`` adds the next
    steal step, so each measurement sees a chosen steal."""

    def __init__(self, per_measurement_s):
        self.steps = iter(per_measurement_s)
        self.total = 0.0
        self.calls = 0

    def __call__(self):
        if self.calls % 2 == 1:     # the reading after an op
            self.total += next(self.steps)
        self.calls += 1
        return {"busy_s": 0.0, "steal_s": self.total}


def fake_workload(repeatable, answers):
    from base import Workload

    class W(Workload):
        def run_op(self, i, op):
            time.sleep(0.01)
            return next(answers)

        def repeatable(self, op):
            return repeatable

    return W(1, 10, "/nonexistent", Tracer())


def test_stolen_measurement_of_a_repeatable_op_is_taken_again(monkeypatch):
    # 10 ms ops on the machine's CPUs: 1 s of steal is far over the limit
    monkeypatch.setattr(bench_run, "host_cpu", FakeSteal([1.0, 0.0]))
    wl = fake_workload(True, iter([7, 7]))
    (rec,) = bench_run.timed_loop(wl, [{"kind": "k"}], Tracer(), 10)
    assert rec["tries"] == 2 and rec["try"] == 1 and rec["ok"]
    assert rec["steal_ms"] == 0.0


def test_stolen_measurement_of_other_ops_is_kept(monkeypatch):
    monkeypatch.setattr(bench_run, "host_cpu", FakeSteal([1.0]))
    wl = fake_workload(False, iter([7]))
    (rec,) = bench_run.timed_loop(wl, [{"kind": "k"}], Tracer(), 10)
    assert rec["tries"] == 1 and rec["steal_ms"] == pytest.approx(1e3)


def test_retakes_are_bounded_and_must_agree(monkeypatch):
    monkeypatch.setattr(bench_run, "host_cpu", FakeSteal([3.0, 2.0, 1.0]))
    wl = fake_workload(True, iter([7, 7, 8]))
    (rec,) = bench_run.timed_loop(wl, [{"kind": "k"}], Tracer(), 10)
    assert rec["tries"] == 1 + bench_run.MAX_RETAKES
    assert rec["try"] == 2
    assert not rec["ok"] and "disagree" in rec["error"]


def run_bench(workload, trace, seconds=1):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_printed_metrics(workload):
    c = contract()
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        out = run_bench(workload, trace)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] and out["failed"] == 0
        declared = {m["name"]: m["unit"] for m in c[section]}
        assert {k: v["unit"] for k, v in out["metrics"].items()} == declared
        positive = set(declared) if trace == 0 \
            else bench_run.workload_class(workload).exercised
        assert positive <= set(declared)
        assert all(out["metrics"][k]["value"] > 0 for k in positive)


def test_metadata_scale_prints_every_declared_metric():
    check_printed_metrics("metadata_scale")


@pytest.mark.skipif(os.environ.get("PERFBENCH_SPARK_TESTS") != "1",
                    reason="set PERFBENCH_SPARK_TESTS=1 (Spark, ~1 min each)")
@pytest.mark.parametrize("workload", ["read_mix", "ingest_dml"])
def test_spark_workloads_print_every_declared_metric(workload):
    check_printed_metrics(workload)


def test_refuses_to_run_without_the_program(tmp_path):
    """Only BENCHMARK.json and perfbench/: exit non-zero, print nothing."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "read_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""
