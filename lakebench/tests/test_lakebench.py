"""Unit tests for the benchmark's generators, statistics and trace folding.

Run from the repository root: ``python -m pytest lakebench/tests -q``.
None of these start Spark.
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from lakebench import gen, harness, stats
from lakebench.trace import GROUP_PREFIX, Span, Tracer, driver_only, fold, layer_metrics, \
    read_event_log, self_time


def _digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _feed_files(tmp_path, seed, name):
    feed = gen.StockFeed(seed, rows={"VN": 40, "US": 60, "JP": 50})
    return feed.write_day(str(tmp_path / name), 2)


def test_stock_feed_is_deterministic_per_seed(tmp_path):
    a = _feed_files(tmp_path, 7, "a")
    b = _feed_files(tmp_path, 7, "b")
    c = _feed_files(tmp_path, 8, "c")
    assert _digest(f.path for f in a) == _digest(f.path for f in b)
    assert _digest(f.path for f in a) != _digest(f.path for f in c)
    assert [f.valid_rows for f in a] == [40, 60, 50]


def test_stock_feed_edge_cases(tmp_path):
    files = {f.country: f for f in _feed_files(tmp_path, 3, "x")}
    raw = open(files["US"].path, "rb").read()
    assert raw.startswith(b"\xef\xbb\xbf")  # UTF-8 BOM
    text = raw.decode("utf-8-sig")
    assert '.\nFounded' in text  # multiline quoted summary
    vn = open(files["VN"].path, encoding="utf-8-sig").read()
    assert " VND" in vn and "people" in vn  # dirty numerics
    assert "\n,1," in vn or "\n   ,1," in vn  # dropped-symbol rows


def test_stock_feed_churns_a_small_share(tmp_path):
    feed = gen.StockFeed(5, rows={"VN": 400, "US": 10, "JP": 10})
    d0, d1 = feed._day_state("VN", 0), feed._day_state("VN", 1)
    changed = ((d0["industry"] != d1["industry"]) | (d0["employees"] != d1["employees"])).sum()
    assert changed == int(400 * gen.CHURN_SHARE)


def test_tables_are_deterministic_per_seed(tmp_path):
    args = dict(sf=0.0005, n_docs=60, n_vecs=30, n_events=200)
    gen.write_tables(str(tmp_path / "a"), 11, **args)
    gen.write_tables(str(tmp_path / "b"), 11, **args)
    gen.write_tables(str(tmp_path / "c"), 12, **args)
    files = sorted(os.listdir(tmp_path / "a"))
    assert _digest(str(tmp_path / "a" / f) for f in files) == \
        _digest(str(tmp_path / "b" / f) for f in files)
    assert _digest(str(tmp_path / "a" / f) for f in files) != \
        _digest(str(tmp_path / "c" / f) for f in files)


def test_event_chunks_are_time_ordered():
    chunks = gen.event_chunks(3, n_files=4, rows_per_file=25, span_days=1)
    assert [c.num_rows for c in chunks] == [25] * 4
    ends = [(c.column("ts")[0].as_py(), c.column("ts")[-1].as_py()) for c in chunks]
    assert all(ends[i][1] <= ends[i + 1][0] for i in range(3))


def test_tail_needs_ten_samples_beyond():
    # 20 samples: the median rank has exactly 10 ranked beyond it
    assert stats.tail([1.0] * 19 + [5.0]) == (50.0, 1.0, 20)
    # 40 samples: p75 has 10 beyond
    assert stats.tail([float(i) for i in range(1, 41)]) == (75.0, 30.0, 40)
    # 100 samples: p90; 28 samples: rank 18, about p64
    assert stats.tail([float(i) for i in range(1, 101)])[:2] == (90.0, 90.0)
    p, value, n = stats.tail([float(i) for i in range(1, 29)])
    assert (round(p, 1), value, n) == (64.3, 18.0, 28)
    # too few samples: the maximum, labelled p100
    assert stats.tail([3.0, 1.0, 2.0]) == (100.0, 3.0, 3)
    assert stats.tail([float(i) for i in range(19)]) == (100.0, 18.0, 19)


def test_tree_cpu_counts_reaped_children():
    import subprocess
    import sys

    spin = ("import time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.5:\n    pass")
    before = harness.tree_cpu_s()
    subprocess.run([sys.executable, "-c", spin], check=True)
    assert harness.tree_cpu_s() - before >= 0.4


def test_median():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_union_length_merges_and_clips():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.5, 5.7)]
    assert stats.union_length(iv) == pytest.approx(4.0)
    assert stats.union_length(iv, 1.5, 5.5) == pytest.approx(2.0)
    assert stats.union_length([]) == 0.0


def test_self_time_subtracts_child_coverage():
    parent = Span(1, "p", "", 1, None, 0.0, 10.0)
    kids = [Span(2, "c", "", 1, 1, 1.0, 4.0), Span(3, "c", "", 1, 1, 3.0, 5.0),
            Span(4, "c", "", 1, 1, 9.0, 12.0)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0)


def test_driver_only_is_wall_minus_task_union():
    span = Span(1, "s", "", 1, None, 100.0, 110.0)
    tasks = [(101.0, 103.0), (102.0, 104.0), (108.0, 115.0)]
    assert driver_only(span, tasks) == pytest.approx(10.0 - 3.0 - 2.0)


def test_tracer_nests_spans_and_shares_op_ids():
    tr = Tracer()
    with tr.span("op", new_op=True):
        with tr.span("inner"):
            pass
    with tr.span("op", new_op=True):
        pass
    by_name = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)
    inner, = by_name["inner"]
    first_op = next(s for s in by_name["op"] if s.sid == inner.parent)
    assert inner.op == first_op.op
    assert len({s.op for s in by_name["op"]}) == 2


def test_tracer_wrap_and_restore():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    tr = Tracer()
    original = Mod.f
    tr.wrap(Mod, "f", lambda x: ("layer.f", str(x)))
    assert Mod.f(1) == 2
    tr.restore()
    assert Mod.f is original
    assert [(s.name, s.label) for s in tr.spans] == [("layer.f", "1")]


def _event_log(tasks_by_job):
    lines = []
    stage = 0
    for job, (group, tasks) in tasks_by_job.items():
        props = {"spark.jobGroup.id": group} if group else {}
        lines.append(json.dumps({"Event": "SparkListenerJobStart", "Job ID": job,
                                 "Stage IDs": [stage], "Properties": props}))
        for launch, finish, cpu_ns in tasks:
            lines.append(json.dumps({
                "Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish},
                "Task Metrics": {"Executor Run Time": finish - launch,
                                 "Executor CPU Time": cpu_ns, "JVM GC Time": 5,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                                 "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 7,
                                 "Input Metrics": {"Bytes Read": 10, "Records Read": 1},
                                 "Output Metrics": {"Bytes Written": 3,
                                                    "Records Written": 1}}}))
        stage += 1
    return lines


def test_event_log_folds_by_job_group():
    parent = Span(1, "outer", "", 1, None, 0.0, 10.0)
    child = Span(2, "inner", "", 1, 1, 2.0, 6.0)
    log = _event_log({
        0: (f"{GROUP_PREFIX}1", [(500, 1500, 10**9)]),
        1: (f"{GROUP_PREFIX}2", [(3000, 4000, 2 * 10**9), (3500, 5000, 10**9)]),
        2: (None, [(7000, 8000, 10**9)]),  # untagged: attributed to no span
    })
    job_group, tasks = read_event_log(log)
    assert job_group == {0: f"{GROUP_PREFIX}1", 1: f"{GROUP_PREFIX}2", 2: None}
    folded = fold([parent, child], job_group, tasks)
    assert folded[2]["jobs"] == 1 and folded[2]["tasks"] == 2
    assert folded[2]["executor_cpu_s"] == pytest.approx(3.0)
    # the parent includes its child's job
    assert folded[1]["jobs"] == 2 and folded[1]["tasks"] == 3
    assert folded[1]["spill_bytes"] == 21 and folded[1]["shuffle_write_bytes"] == 300
    rows = layer_metrics([parent, child], folded, cores=4)
    assert rows["inner"]["driver_only_s"] == pytest.approx(4.0 - 2.0)
    assert rows["outer"]["driver_only_s"] == pytest.approx(10.0 - 1.0 - 2.0)
    assert rows["outer"]["self_s"] == pytest.approx(6.0)
    assert rows["inner"]["core_util"] == pytest.approx(2.5 / (4.0 * 4))
