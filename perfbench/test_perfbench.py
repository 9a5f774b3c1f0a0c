"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import json
import os
import subprocess
import sys
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import sampler  # noqa: E402
from spans import Span, Tracer, parse_event_log, self_times, union_length  # noqa: E402


def test_union_length_merges_overlaps_and_clips():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 2), (2, 3)]) == 3.0
    assert union_length([(0, 10)], lo=2, hi=5) == 3.0
    assert union_length([(0, 1), (8, 9)], lo=2, hi=5) == 0.0
    assert union_length([(3, 4), (0, 10), (1, 2)]) == 10.0


def test_self_time_subtracts_union_of_direct_children():
    spans = [Span("pass", 0.0, 10.0),
             Span("query.a", 1.0, 4.0, parent=0),
             Span("catalog.load_table", 1.0, 2.0, parent=1),
             Span("query.b", 3.0, 6.0, parent=0)]  # overlaps query.a
    assert self_times(spans) == [5.0, 2.0, 1.0, 3.0]


def test_tracer_wraps_and_restores_module_functions():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    original = mod.f
    t = Tracer("r")
    seen = []
    t.install(mod, "f", "layer.f", seen.append)
    with t.span("pass"):
        assert mod.f(1) == 2
    t.uninstall()
    assert mod.f is original
    assert [s.name for s in t.spans] == ["pass", "layer.f"]
    assert t.spans[1].parent == 0 and seen == [2]


def _events():
    def job_start(jid, group, stages, t):
        return {"Event": "SparkListenerJobStart", "Job ID": jid,
                "Submission Time": t, "Stage IDs": stages,
                "Properties": {"spark.jobGroup.id": group} if group else {}}

    def task_end(stage, run_ms, gc_ms, shuffle, spill):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Failed": False},
                "Task Metrics": {
                    "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                    "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0}}

    return [
        job_start(0, "g1", [0, 1], 1000),
        task_end(0, 300, 10, 100, 0),
        task_end(1, 200, 0, 0, 7),
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 2000, "Job Result": {"Result": "JobSucceeded"}},
        # stage 1 reused by g2's job: it stays attributed to g1
        job_start(1, "g2", [1, 2], 3000),
        task_end(2, 50, 0, 0, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 3500, "Job Result": {"Result": "JobFailed"}},
        job_start(2, None, [3], 4000),  # no group: ignored
        task_end(3, 999, 0, 0, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 2,
         "Completion Time": 4100, "Job Result": {"Result": "JobSucceeded"}},
        {"Event": "SparkListenerApplicationEnd", "Timestamp": 5000},
    ]


def test_parse_event_log_groups_jobs_and_tasks():
    groups = parse_event_log(json.dumps(e) for e in _events())
    assert set(groups) == {"g1", "g2"}
    g1, g2 = groups["g1"], groups["g2"]
    assert g1.job_intervals == [(1.0, 2.0)]
    assert g1.run_s == 0.5 and g1.gc_s == 0.01
    assert g1.shuffle_write_bytes == 100 and g1.spill_bytes == 7
    assert g2.job_intervals == [(3.0, 3.5)] and g2.run_s == 0.05


def test_driver_gap_is_span_minus_job_union():
    groups = parse_event_log(json.dumps(e) for e in _events())
    span = Span("pass", 0.5, 2.5, attrs={"group": "g1"})
    covered = union_length(groups["g1"].job_intervals, span.start, span.end)
    assert span.seconds - covered == 1.0


def test_digest_is_order_insensitive_and_value_exact():
    from workloads import digest

    cols = ["id", "score"]
    rows = [(1, 0.5), (2, -0.0), (2, -0.0)]
    assert digest(rows, cols) == digest(list(reversed(rows)), cols)
    assert digest(rows, cols) == digest([(2, 0.0), (1, 0.5), (2, 0.0)], cols)
    # column order does not matter, multiplicity and value bits do
    assert digest([(0.5, 1), (-0.0, 2), (-0.0, 2)], ["score", "id"]) \
        == digest(rows, cols)
    assert digest(rows[:2], cols) != digest(rows, cols)
    assert digest([(1, 0.5 + 1e-16), (2, 0.0), (2, 0.0)], cols) \
        != digest([(1, 0.4999999999999999), (2, 0.0), (2, 0.0)], cols)


def test_inputs_are_a_seeded_permutation_of_one_base(tmp_path):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def sort(t, keys):
        order = [(k, "ascending") for k in keys]
        return t.take(pc.sort_indices(t.select(keys), sort_keys=order))

    for seed in (1, 2):
        inputs.write_permuted(inputs.base_tables(60), seed,
                              str(tmp_path / str(seed)))
    again = tmp_path / "again"
    inputs.write_permuted(inputs.base_tables(60), 1, str(again))
    a = pq.read_table(tmp_path / "1" / "documents.parquet")
    b = pq.read_table(tmp_path / "2" / "documents.parquet")
    assert a.equals(pq.read_table(again / "documents.parquet"))
    assert not a.equals(b)
    assert sort(a, ["doc_id"]).equals(sort(b, ["doc_id"]))


def test_corpus_has_the_documented_shape():
    d = inputs.base_tables(400)["documents"].to_pydict()
    texts = d["text"]
    dups = [t for t in texts if t.endswith(" dup")]
    assert len(dups) == 20
    assert all(t[:-4] in texts for t in dups)
    lengths = {len(t.split()) for t in texts if not t.endswith(" dup")}
    assert min(lengths) >= 10 and max(lengths) <= 99
    assert {w for t in texts for w in t.split()} == set(inputs.VOCAB) | {"dup"}
    assert set(d["lang"]) == set(inputs.LANGS)
    assert d["n_chars"] == [len(t) for t in texts]


def test_sampler_sees_children_and_joins_before_final_sample():
    child = subprocess.Popen([sys.executable, "-c",
                              "import time; time.sleep(30)"])
    try:
        assert child.pid in sampler.descendants(os.getpid())
        s = sampler.Sampler(interval=0.01).start()
        s.stop()
        assert not s._thread.is_alive()
        assert s.peak_rss > 0 and s.load1
    finally:
        child.kill()
        child.wait()
