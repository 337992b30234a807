"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

SMALL = {
    "web_kg_build": {"pages": 60, "entities": 40, "facts": 80, "suppliers": 10, "filler_vocab": 200},
    "kgx_merge_qc": {"nodes": 300, "edges_per_source": 400},
}


def small_params(name: str) -> dict:
    p = gen.load_params()[name]
    p.update(SMALL[name])
    return p


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


@pytest.mark.parametrize("name", sorted(gen.GENERATORS))
def test_same_seed_gives_identical_inputs(tmp_path, name):
    g, p = gen.GENERATORS[name], small_params(name)
    g(p, 7, str(tmp_path / "a"))
    g(p, 7, str(tmp_path / "b"))
    g(p, 8, str(tmp_path / "c"))
    files = _files(str(tmp_path / "a"))
    assert files and files == _files(str(tmp_path / "b"))
    _, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", files, shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", files, shallow=False)
    assert mismatch, "another seed must give other inputs"


# --- web_kg_build ---------------------------------------------------------


def _write_edges(out_dir: str, spo: list[tuple[str, str, str]]) -> None:
    os.makedirs(f"{out_dir}/edges.parquet", exist_ok=True)
    t = pa.table({
        "subject": [e[0] for e in spo],
        "predicate": [e[1] for e in spo],
        "object": [e[2] for e in spo],
        "provided_by": [["https://corpus.example.org/page/0"]] * len(spo),
    })
    pq.write_table(t, f"{out_dir}/edges.parquet/part-0.parquet")


@pytest.fixture(scope="module")
def web_truth(tmp_path_factory):
    return gen.gen_web(small_params("web_kg_build"), 3, str(tmp_path_factory.mktemp("web")))


def test_web_check_accepts_the_planted_edges(tmp_path, web_truth):
    _write_edges(str(tmp_path), sorted(web_truth.expected))
    res = workloads.web_check(web_truth, str(tmp_path))
    assert res.ok and res.precision == res.recall == 1.0, res.why


@pytest.mark.parametrize("corrupt", ["drop", "duplicate", "uncanonical"])
def test_web_check_rejects_corrupted_edges(tmp_path, web_truth, corrupt):
    spo = sorted(web_truth.expected)
    if corrupt == "drop":
        spo = spo[: int(len(spo) * 0.9)]
    elif corrupt == "duplicate":
        spo = spo + spo[:1]
    else:  # leave clique members un-merged: subjects keep a non-leader id
        spo = [(s.replace("P:", "Q:"), p, o) for s, p, o in spo]
    _write_edges(str(tmp_path), spo)
    assert not workloads.web_check(web_truth, str(tmp_path)).ok


# --- kgx_merge_qc -----------------------------------------------------------


@pytest.fixture(scope="module")
def mq_truth(tmp_path_factory):
    return gen.gen_merge_qc(small_params("kgx_merge_qc"), 3, str(tmp_path_factory.mktemp("mq")))


def _tsv_dir(path: str, header: list[str], rows: list[list[str]]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/part-00000.csv", "w") as fh:
        fh.write("\t".join(header) + "\n")
        fh.writelines("\t".join(r) + "\n" for r in rows)


def _write_merge_qc(out: str, t: gen.MergeQcTruth) -> None:
    """The output a correct merge + QC writes for this truth."""
    _tsv_dir(f"{out}/merged_nodes.tsv", ["id", "name", "b_note"],
             [[i, n, t.notes.get(i, "")] for i, n in sorted(t.names.items())])
    _tsv_dir(f"{out}/merged_edges.tsv", ["subject", "predicate", "object", "provided_by"],
             [[*e, pb] for e, pb in sorted(t.edge_provenance.items())])
    report: dict[str, list[str]] = {}
    for etype, ent in sorted(t.errors):
        report.setdefault(etype, []).append(ent)
    rows = [{"level": "ERROR", "error_type": k, "message": "m", "entities": v, "count": len(v)}
            for k, v in report.items()]
    cats = {"biolink:Gene": {"count": t.n_nodes - t.missing_category}}
    if t.missing_category:
        cats["biolink:NamedThing"] = {"count": t.missing_category}
    summary = {
        "node_stats": {"total_nodes": t.n_nodes, "count_by_category": cats},
        "edge_stats": {
            "total_edges": len(t.edges),
            "count_by_predicates": {k: {"count": v} for k, v in t.predicate_counts.items()},
        },
    }
    mkg = {"nodes": {k: {"count": v["count"]} for k, v in cats.items()}, "edges": []}
    for name, obj in (("summary", summary), ("meta_kg", mkg), ("report", rows)):
        with open(f"{out}/{name}.json", "w") as fh:
            json.dump(obj, fh)


def test_merge_qc_check_accepts_a_correct_output(tmp_path, mq_truth):
    _write_merge_qc(str(tmp_path), mq_truth)
    res = workloads.merge_qc_check(mq_truth, str(tmp_path))
    assert res.ok and res.precision == res.recall == 1.0, res.why


def _rewrite(path: str, fn) -> None:
    with open(path) as fh:
        lines = fh.read().splitlines()
    with open(path, "w") as fh:
        fh.write("\n".join(fn(lines)) + "\n")


def _rewrite_json(path: str, fn) -> None:
    with open(path) as fh:
        obj = json.load(fh)
    fn(obj)
    with open(path, "w") as fh:
        json.dump(obj, fh)


def _rename_first_node(lines: list[str]) -> list[str]:
    node_id, _, note = lines[1].split("\t")
    return [lines[0], f"{node_id}\tno such name\t{note}", *lines[2:]]


CORRUPTIONS = {
    # a scalar conflict resolved to the wrong source's name
    "name": ("merged_nodes.tsv/part-00000.csv", _rename_first_node),
    # a provenance union lost one side
    "provenance": ("merged_edges.tsv/part-00000.csv",
                   lambda ls: [ls[0]] + [l.replace("infores:src-a|", "") for l in ls[1:]]),
    "lost_edge": ("merged_edges.tsv/part-00000.csv", lambda ls: ls[:-1]),
    "dup_node": ("merged_nodes.tsv/part-00000.csv", lambda ls: ls + ls[-1:]),
}


@pytest.mark.parametrize("corrupt", sorted(CORRUPTIONS))
def test_merge_qc_check_rejects_a_corrupted_merge(tmp_path, mq_truth, corrupt):
    _write_merge_qc(str(tmp_path), mq_truth)
    rel, fn = CORRUPTIONS[corrupt]
    _rewrite(f"{tmp_path}/{rel}", fn)
    assert not workloads.merge_qc_check(mq_truth, str(tmp_path)).ok


def _drop_one_error(report):
    report[0]["entities"].pop()
    report[0]["count"] -= 1


@pytest.mark.parametrize("corrupt", ["missed_error", "no_default_category", "edge_total"])
def test_merge_qc_check_rejects_a_corrupted_report(tmp_path, mq_truth, corrupt):
    _write_merge_qc(str(tmp_path), mq_truth)
    if corrupt == "missed_error":
        _rewrite_json(f"{tmp_path}/report.json", _drop_one_error)
    elif corrupt == "no_default_category":
        _rewrite_json(f"{tmp_path}/summary.json",
                      lambda s: s["node_stats"]["count_by_category"].pop("biolink:NamedThing"))
    else:
        _rewrite_json(f"{tmp_path}/summary.json",
                      lambda s: s["edge_stats"].update(total_edges=s["edge_stats"]["total_edges"] + 1))
    assert not workloads.merge_qc_check(mq_truth, str(tmp_path)).ok


# --- per-layer collector ------------------------------------------------------

CANNED_LOG = [
    {"Event": "SparkListenerApplicationStart", "App Name": "perfbench"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
     "Properties": {spans.LAYER_KEY: "session"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
     "Properties": {spans.LAYER_KEY: "session"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 100, "Result Size": 1000}},
    # an untraced (warm-up) job: charged to no layer
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1], "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor Run Time": 9000}},
    # a sink write with a shuffle stage and a write stage
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [2, 3],
     "Properties": {spans.LAYER_KEY: "sinks.tsv"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2},
     "Properties": {spans.LAYER_KEY: "sinks.tsv"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
        "Executor Run Time": 1500, "Result Size": 2000, "Disk Bytes Spilled": 3_000_000,
        "Input Metrics": {"Bytes Read": 4_000_000},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000}}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3},
     "Properties": {spans.LAYER_KEY: "sinks.tsv"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {
        "Executor Run Time": 500, "Result Size": 2000,
        "Output Metrics": {"Bytes Written": 5_000_000, "Records Written": 700}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": None},
    {"Event": "SparkListenerJobStart", "Job ID": 3, "Stage IDs": [4],
     "Properties": {spans.LAYER_KEY: spans.PROBE}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 4, "Task Metrics": {
        "Executor Run Time": 7000, "Input Metrics": {"Bytes Read": 9_000_000}}},
]


class _FakeSc:
    def setLocalProperty(self, key, value):
        pass


def test_collector_parses_a_canned_event_log(tmp_path):
    path = tmp_path / "app-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in CANNED_LOG))
    totals = spans.parse_event_log(str(path))
    assert totals["sinks.tsv"].jobs == 1 and totals["sinks.tsv"].task_ms == 2000
    assert totals[spans.UNTAGGED].task_ms == 9000

    tracer = spans.Tracer(_FakeSc(), "run-1")
    tracer.busy["sinks.tsv"] = 2.5
    m = spans.layer_metrics(tracer, totals, wall_s=1.0, cores=4, input_bytes=2_000_000)
    assert set(m) == {name for name, _, _ in spans.per_layer_spec()}
    assert m["sinks.tsv.busy_s"] == 2.5
    assert m["sinks.tsv.task_s"] == 2.0
    assert m["sinks.tsv.jobs"] == 1
    assert m["sinks.tsv.rows_out"] == 700
    assert m["sinks.tsv.shuffle_mb"] == 2.0
    assert m["sinks.tsv.spill_mb"] == 3.0
    assert m["sinks.tsv.write_mb"] == 5.0
    assert m["session.jobs"] == 1 and m["session.task_s"] == 0.1
    # untagged, probe and session work stay out of the traced iteration
    assert m["sources.scan_ratio"] == 2.0
    assert m["spark.cpu_util"] == 0.5
    assert m["driver.result_mb"] == 0.004
    assert m["pipeline.extract.jobs"] == 0


def test_tracer_charges_nested_spans_to_the_inner_layer(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 6.0, 7.0])
    monkeypatch.setattr(spans.time, "monotonic", lambda: next(clock))
    tracer = spans.Tracer(_FakeSc(), "run-1")
    with tracer.span("pipeline.stages"):  # t=0
        tracer.switch("pipeline.extract")  # t=1
        with tracer.span(spans.PROBE):  # t=3
            pass  # t=6
    # t=7
    assert tracer.busy["pipeline.stages"] == 1.0
    assert tracer.busy["pipeline.extract"] == 3.0
    assert tracer.busy[spans.PROBE] == 3.0
