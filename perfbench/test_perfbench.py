"""The benchmark's own tests. From the repository root:

    python3 -m pytest perfbench -q

The smoke tests run every workload at a tiny size, untraced and traced,
each in its own process (about a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
from spans import Tracer, prefix_self  # noqa: E402
from workloads import END_TO_END, PER_LAYER, percentile, tail_percentile  # noqa: E402


def _files(path) -> dict[str, bytes]:
    return {f: open(os.path.join(path, f), "rb").read() for f in sorted(os.listdir(path))}


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.write_document_dir(str(tmp_path / "a"), 20, 7)
    b = gen.write_document_dir(str(tmp_path / "b"), 20, 7)
    c = gen.write_document_dir(str(tmp_path / "c"), 20, 8)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert a == b
    assert _files(tmp_path / "a") != _files(tmp_path / "c")
    assert gen.curate_corpus(30, 7) == gen.curate_corpus(30, 7)
    assert gen.curate_corpus(30, 7)["docs"] != gen.curate_corpus(30, 8)["docs"]


def test_input_shapes_do_not_depend_on_the_seed(tmp_path):
    a = gen.write_document_dir(str(tmp_path / "a"), 20, 7)
    b = gen.write_document_dir(str(tmp_path / "b"), 20, 8)
    assert sorted(os.listdir(tmp_path / "a")) == sorted(os.listdir(tmp_path / "b"))
    assert (a["expected_chunks"], a["text_bytes"]) == (b["expected_chunks"], b["text_bytes"])
    c, d = gen.curate_corpus(40, 7), gen.curate_corpus(40, 8)
    # near-copies swap two words, so only their lengths may differ a little
    assert [len(t) for _, t in c["docs"][:42]] == [len(t) for _, t in d["docs"][:42]]
    assert {k: c[k] for k in ("exact_dups", "near_pairs", "contaminated")} == {
        k: d[k] for k in ("exact_dups", "near_pairs", "contaminated")}
    lengths = gen.doc_lengths(200)
    # long-tailed, and most documents span several chunks
    assert max(lengths) > 4 * sorted(lengths)[100]
    assert sum(n > gen.CHUNK_SIZE for n in lengths) > len(lengths) / 2


def test_expected_chunks_follow_the_reference_rules():
    text = " ".join(["spark"] * 400)  # 2399 characters
    # fixed-size: starts 0, 600, 1200, 1800
    assert len(gen.chunk_texts("txt", text)) == 4
    pieces = gen.chunk_texts("txt", "  " + text + "  ")
    assert pieces[0] == text[:1200].strip()
    # page-aware: markers removed, no global strip
    pdf = gen.extracted_text("pdf", 3, text)
    clean = f"doc 3\n{text}\n"
    assert gen.chunk_texts("pdf", pdf) == [
        clean[i:i + 1200].strip() for i in range(0, len(clean), 600)
    ]


def test_prefix_self_times():
    assert prefix_self([1.0, 3.5, 4.0, 4.0]) == [1.0, 2.5, 0.5, 0.0]
    assert prefix_self([4, 10, 11]) == [4, 6, 1]
    assert prefix_self([]) == []


def test_tail_percentile():
    assert tail_percentile(10) is None
    assert tail_percentile(11) == 9
    assert tail_percentile(20) == 50
    assert tail_percentile(100) == 90
    values = [float(i) for i in range(1, 101)]
    # at p90 of 100 samples, exactly 10 lie above
    assert percentile(values, 90) == 90.0
    assert sum(v > percentile(values, 90) for v in values) == 10


class _Stage:
    def __init__(self, done, failed):
        self.numCompletedTasks, self.numFailedTasks = done, failed


class _Job:
    def __init__(self, stages):
        self.stageIds = stages


class _Tracker:
    """Jobs per group as the status tracker reports them."""

    def __init__(self, groups):
        self.groups = groups

    def getJobIdsForGroup(self, group):
        return [j for j, _ in self.groups.get(group, [])]

    def getJobInfo(self, jid):
        return next(_Job(list(st)) for g in self.groups.values() for j, st in g if j == jid)

    def getStageInfo(self, sid):
        return {1: _Stage(4, 0), 2: _Stage(3, 1), 3: _Stage(0, 0)}[sid]


class _Context:
    def __init__(self):
        self.groups, self.local = {}, {}

    def setJobGroup(self, group, desc):
        self.local["spark.jobGroup.id"] = group

    def setLocalProperty(self, key, value):
        self.local[key] = value

    def statusTracker(self):
        return _Tracker(self.groups)


class _Spark:
    def __init__(self):
        self.sparkContext = _Context()


def test_spans_get_unique_groups_and_count_their_subtree():
    spark = _Spark()
    sc = spark.sparkContext
    tr = Tracer(spark, "w", "run1", enabled=True)
    with tr.span("outer") as outer:
        assert sc.local["spark.jobGroup.id"] == "w/outer/run1/1"
        with tr.span("inner") as inner:
            assert sc.local["spark.jobGroup.id"] == "w/inner/run1/2"
        # the enclosing span's group is restored, then cleared at the end
        assert sc.local["spark.jobGroup.id"] == "w/outer/run1/1"
    assert sc.local["spark.jobGroup.id"] is None
    with tr.span("outer"):
        pass
    assert [s["group"] for s in tr.spans] == [
        "w/inner/run1/2", "w/outer/run1/1", "w/outer/run1/3"]
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert all(s["run"] == "run1" for s in tr.spans)
    sc.groups = {"w/outer/run1/1": [(10, (1,))], "w/inner/run1/2": [(11, (2, 3))]}
    tr.collect_counts(settle_s=0)
    assert (outer["jobs"], outer["tasks"]) == (1, 4)
    # a stage that ran no tasks (skipped) is not counted
    assert (inner["stages"], inner["tasks"], inner["failed_tasks"]) == (1, 4, 1)
    assert tr.subtree(outer) == {"jobs": 2, "stages": 2, "tasks": 8, "failed_tasks": 1}
    assert [s["id"] for s in tr.named("outer")] == [1, 3]


def test_disabled_tracer_records_nothing():
    spark = _Spark()
    tr = Tracer(spark, "w", "run1", enabled=False)
    with tr.span("outer"):
        pass
    assert tr.spans == [] and spark.sparkContext.local == {}


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_command():
    spec = _bench_json()
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= {"ingest", "serve", "curate"}


_RUNS: dict[tuple[str, int], tuple[int, list[dict]]] = {}


def _smoke(workload: str, trace: int, tmp_path_factory) -> tuple[int, list[dict]]:
    """Run one tiny workload in its own process from a scratch directory;
    returns (exit code, JSON lines of stdout)."""
    if (workload, trace) not in _RUNS:
        cwd = tmp_path_factory.mktemp(f"{workload}{trace}")
        argv = ["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)]
        code = f"import sys; sys.path.insert(0, {HERE!r}); import run; run.main({argv!r}, 'tiny')"
        proc = subprocess.run([sys.executable, "-c", code], cwd=cwd, capture_output=True,
                              text=True, timeout=900)
        lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
        _RUNS[workload, trace] = proc.returncode, lines
    return _RUNS[workload, trace]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["ingest", "serve", "curate"])
def test_tiny_smoke_run(workload, trace, tmp_path_factory):
    code, lines = _smoke(workload, trace, tmp_path_factory)
    assert code == 0
    result = lines[-1]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = _bench_json()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    values = [v["value"] for v in result["metrics"].values()]
    assert all(isinstance(v, (int, float)) for v in values)
    if not trace:
        assert all(v > 0 for v in values)
        assert lines[-2]["detail"]["ops_failed_frac"]["value"] == 0


def test_every_traced_ingest_repetition_extracts_from_scratch(tmp_path_factory):
    code, lines = _smoke("ingest", 1, tmp_path_factory)
    assert code == 0
    detail = lines[-2]["detail"]
    tasks = [v["value"] for k, v in sorted(detail.items()) if k.startswith("extract_tasks_rep")]
    assert len(tasks) >= 2 and tasks[0] > 0
    assert all(t == tasks[0] for t in tasks)
