"""The two workloads: how each calls the program, and how its output is
checked.

Every workload has
- ``run(spark, in_dir, out_dir)``: the untraced closed-loop call sequence a
  user would make (returns nothing; all output goes to ``out_dir``);
- ``traced(spark, in_dir, out_dir, tracer)``: the same public calls, each
  wrapped in a span of the layer it belongs to;
- ``check(truth, out_dir) -> Outcome``: reads ``out_dir`` with pyarrow and
  the standard library only and compares it with the planted truth.
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
from dataclasses import dataclass
from typing import Callable

import pyarrow.parquet as pq

from gen import MergeQcTruth, WebTruth
from spans import PROBE, Tracer

# the north rule's triple P/R floor
MIN_PR = 0.95


@dataclass
class Outcome:
    ok: bool
    precision: float
    recall: float
    n_out: int  # output records that count towards triples_per_s
    why: str = ""


def _pr(got: set, expected: set) -> tuple[float, float]:
    hit = len(got & expected)
    return (hit / len(got) if got else 0.0, hit / len(expected) if expected else 0.0)


def disk_bytes(path: str) -> int:
    """Bytes of a file, or of every file under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(f"{path}/*.parquet"))


# --------------------------------------------------------------------------
# web_kg_build: pages -> extract -> triples + link -> validate -> clique ->
# merge -> nodes, every stage committed as a snapshot

# pipeline stage -> the layer whose public function does its work
STAGE_LAYER = {
    "extract": "pipeline.extract",
    "triples": "pipeline.triples",
    "linked": "pipeline.link",
    "edges_raw": "operators.validate",
    "canonical": "operators.clique",
    "edges": "operators.merge",
    "nodes": "operators.merge",
}


def web_run(spark, in_dir: str, out_dir: str) -> None:
    from kgx_spark.pipeline.kg_pipeline import run_kg_pipeline

    pages = spark.read.parquet(f"{in_dir}/pages.parquet")
    run_kg_pipeline(spark, in_dir, out_dir, pages_df=pages, link_entities=True, force=True)


def web_traced(spark, in_dir: str, out_dir: str, tracer: Tracer) -> None:
    """One run_stages pass over the pipeline's stages. Each stage's
    function is wrapped to switch the job tag to its layer when it starts;
    the commit bookkeeping after its snapshot is written (the metrics-table
    append, the marker, the next stage's boundary hygiene) is switched back
    to pipeline.stages by wrapping ``append_metrics``. Every job a stage
    triggers — its snapshot write included — is thus charged to its layer.
    (Resuming stage prefixes, run_stages(stages[:i+1]), would attribute the
    same way but re-list every committed snapshot on each call: 21 extra
    jobs the untraced run does not make.)"""
    from kgx_spark.pipeline import stages as stages_mod
    from kgx_spark.pipeline.kg_pipeline import build_stages

    pages = spark.read.parquet(f"{in_dir}/pages.parquet")
    stages = build_stages(in_dir, pages_df=pages, link_entities=True)

    def wrap(stage):
        def fn(spark_, ctx):
            tracer.switch(STAGE_LAYER[stage.name])
            return stage.fn(spark_, ctx)

        return dataclasses.replace(stage, fn=fn)

    append_metrics = stages_mod.append_metrics

    def traced_append(workdir, record):
        tracer.switch("pipeline.stages")
        append_metrics(workdir, record)

    stages_mod.append_metrics = traced_append
    try:
        with tracer.span("pipeline.stages"):
            stages_mod.run_stages(spark, out_dir, [wrap(s) for s in stages], force=True)
    finally:
        stages_mod.append_metrics = append_metrics
    snap_rows = {s.name: _parquet_rows(f"{out_dir}/{s.name}.parquet") for s in stages}
    for name, rows in snap_rows.items():
        tracer.rows[STAGE_LAYER[name]] += rows
        tracer.rows["pipeline.stages"] += rows
    snapshot = sum(disk_bytes(f"{out_dir}/{s.name}.parquet") for s in stages)
    tracer.extra["pipeline.stages.snapshot_mb"] = snapshot / 1e6
    tracer.scan_base += snapshot
    tracer.extra["operators.merge.dedup_ratio"] = snap_rows["canonical"] / max(snap_rows["edges"], 1)

    # ratio probes: public calls the benchmark makes itself, never charged
    from pyspark.sql import functions as F

    from kgx_spark.operators.clique import build_same_as_pairs, connected_components
    from kgx_spark.pipeline.link import detect_mentions, first_token_prune
    from kgx_spark.pipeline.synth import synth_alias_dict

    with tracer.span(PROBE):
        extract = spark.read.parquet(f"{out_dir}/extract.parquet")
        prune = first_token_prune(synth_alias_dict(spark, in_dir))
        candidates = detect_mentions(extract, **prune).count()
        tracer.extra["pipeline.link.hit_ratio"] = snap_rows["linked"] / max(candidates, 1)
        raw = spark.read.parquet(f"{out_dir}/edges_raw.parquet")
        ids = raw.select(F.explode(F.array("subject", "object")).alias("id")).distinct()
        pairs = build_same_as_pairs(ids, raw).select("src", "dst").distinct().localCheckpoint()
        tracer.extra["operators.clique.pairs"] = pairs.count()
        tracer.extra["operators.clique.lp_rounds"] = connected_components(pairs)[1]


def web_check(truth: WebTruth, out_dir: str) -> Outcome:
    path = f"{out_dir}/edges.parquet"
    if not os.path.isdir(path):
        return Outcome(False, 0.0, 0.0, 0, "no edges snapshot")
    t = pq.read_table(path, columns=["subject", "predicate", "object", "provided_by"])
    rows = list(zip(*(t.column(c).to_pylist() for c in ("subject", "predicate", "object"))))
    got = set(rows)
    precision, recall = _pr(got, truth.expected)
    why = []
    if len(got) != len(rows):
        why.append(f"{len(rows) - len(got)} duplicate (s,p,o) rows after merge")
    if any(not pb for pb in t.column("provided_by").to_pylist()):
        why.append("edge without provenance")
    if precision < MIN_PR or recall < MIN_PR:
        why.append(f"P/R {precision:.4f}/{recall:.4f} below {MIN_PR}")
    return Outcome(not why, precision, recall, len(rows), "; ".join(why))


# --------------------------------------------------------------------------
# kgx_merge_qc: KGX TSV + KGX JSONL -> merge -> KGX TSV, then the merged
# graph's summary (provided_by facets), meta knowledge graph and validation
# report, as `kgx merge` followed by `kgx graph-summary` and `kgx validate`

QC_FACETS = ["provided_by"]


def _sources(in_dir: str) -> list[dict]:
    return [
        {"filename": f"{in_dir}/a", "format": "tsv"},
        {"filename": f"{in_dir}/b", "format": "jsonl"},
    ]


def _merged(out_dir: str) -> dict:
    return {"filename": f"{out_dir}/merged", "format": "tsv"}


def _qc(spark, out_dir: str, span):
    """Summary, meta-KG and validation of the merged TSV; reports are
    written as JSON next to it. Returns what the calls produced."""
    from kgx_spark.operators.meta_kg import meta_knowledge_graph
    from kgx_spark.operators.summary import summarize_graph
    from kgx_spark.operators.validator import (
        error_report,
        validate_edge_records,
        validate_node_records,
    )
    from kgx_spark.transform import read_source

    with span("sources.tsv"):
        nodes, edges = read_source(spark, {"filename": f"{out_dir}/merged_*.tsv", "format": "tsv"})
    with span("operators.summary"):
        summary = summarize_graph(
            nodes, edges, name="merged",
            node_facet_properties=QC_FACETS, edge_facet_properties=QC_FACETS,
        )
    with span("operators.meta_kg"):
        mkg = meta_knowledge_graph(nodes, edges, name="merged")
    with span("operators.validator"):
        errors = validate_node_records(nodes, check_prefixes=True).unionByName(
            validate_edge_records(edges, check_prefixes=True)
        )
        report = [r.asDict() for r in error_report(errors).collect()]
    for name, obj in (("summary", summary), ("meta_kg", mkg), ("report", report)):
        with open(f"{out_dir}/{name}.json", "w") as fh:
            json.dump(obj, fh, indent=1, sort_keys=True, default=list)
    return nodes, edges, summary, mkg, report


def merge_qc_run(spark, in_dir: str, out_dir: str) -> None:
    from contextlib import nullcontext

    from kgx_spark.transform import merge

    merge(spark, _sources(in_dir), _merged(out_dir))
    _qc(spark, out_dir, lambda _layer: nullcontext())


def merge_qc_traced(spark, in_dir: str, out_dir: str, tracer: Tracer) -> None:
    """transform.merge's calls with each layer's output checkpointed at its
    boundary, so the lazy plan's work lands on the layer that owns it; the
    QC half is eager already and runs unchanged."""
    from kgx_spark.operators.merge import merge_graphs
    from kgx_spark.transform import read_source, write_sink

    graphs = []
    for src in _sources(in_dir):
        layer = f"sources.{src['format']}"
        with tracer.span(layer):
            g = tuple(df.localCheckpoint() for df in read_source(spark, src))
        with tracer.span(PROBE):
            tracer.rows[layer] += sum(df.count() for df in g)
        graphs.append(g)
    with tracer.span("operators.merge"):
        merged = tuple(df.localCheckpoint() for df in merge_graphs(graphs))
    with tracer.span(PROBE):
        tracer.rows["operators.merge"] = sum(df.count() for df in merged)
    tracer.extra["operators.merge.dedup_ratio"] = (
        tracer.rows["sources.tsv"] + tracer.rows["sources.jsonl"]
    ) / max(tracer.rows["operators.merge"], 1)
    with tracer.span("sinks.tsv"):
        write_sink(*merged, _merged(out_dir))
    tracer.scan_base += sum(disk_bytes(d) for d in glob.glob(f"{out_dir}/merged_*.tsv"))

    nodes, edges, summary, mkg, report = _qc(spark, out_dir, tracer.span)
    with tracer.span(PROBE):
        tracer.rows["sources.tsv"] += nodes.count() + edges.count()
    es = summary["edge_stats"]
    tracer.rows["operators.summary"] = (
        len(summary["node_stats"]["count_by_category"])
        + len(es["count_by_predicates"]) + len(es["count_by_spo"])
    )
    tracer.rows["operators.meta_kg"] = len(mkg["nodes"]) + len(mkg["edges"])
    tracer.rows["operators.validator"] = len(report)
    tracer.extra["operators.validator.errors"] = sum(r["count"] for r in report)


def read_tsv_dir(path: str) -> tuple[list[str], list[list[str]]]:
    """Header and rows of a Spark TSV output directory (part files)."""
    header: list[str] = []
    rows: list[list[str]] = []
    for f in sorted(glob.glob(f"{path}/part-*")):
        with open(f) as fh:
            lines = fh.read().splitlines()
        if lines:
            header = lines[0].split("\t")
            rows.extend(line.split("\t") for line in lines[1:])
    return header, rows


def _check_merge(truth: MergeQcTruth, out_dir: str, why: list[str]) -> set:
    nh, nodes = read_tsv_dir(f"{out_dir}/merged_nodes.tsv")
    eh, edges = read_tsv_dir(f"{out_dir}/merged_edges.tsv")
    for need, have, what in (
        (["id", "name", truth.long_tail_column], nh, "node"),
        (["subject", "predicate", "object", "provided_by"], eh, "edge"),
    ):
        if not set(need) <= set(have):
            why.append(f"{what} columns {have} lack {need}")
            return set()
    col = {c: i for i, c in enumerate(nh)}
    ids = [r[col["id"]] for r in nodes]
    if len(ids) != truth.n_nodes or len(set(ids)) != truth.n_nodes:
        why.append(f"{len(ids)} node rows / {len(set(ids))} ids, expected {truth.n_nodes}")
    bad_names = sum(1 for r in nodes if truth.names.get(r[col["id"]]) != r[col["name"]])
    note = col[truth.long_tail_column]
    bad_notes = sum(1 for r in nodes if r[note] != truth.notes.get(r[col["id"]], ""))
    if bad_names or bad_notes:
        why.append(f"{bad_names} node names, {bad_notes} long-tail values wrong")
    ecol = {c: i for i, c in enumerate(eh)}
    spo = [(r[ecol["subject"]], r[ecol["predicate"]], r[ecol["object"]]) for r in edges]
    got = set(spo)
    if len(spo) != len(truth.edges) or len(got) != len(spo):
        why.append(f"{len(spo)} edge rows / {len(got)} distinct, expected {len(truth.edges)}")
    pb = ecol["provided_by"]
    bad_prov = sum(1 for e, r in zip(spo, edges) if truth.edge_provenance.get(e) != r[pb])
    if bad_prov:
        why.append(f"{bad_prov} edges with a wrong provided_by union")
    return got


def _check_qc(truth: MergeQcTruth, out_dir: str, why: list[str]) -> None:
    try:
        with open(f"{out_dir}/summary.json") as fh:
            summary = json.load(fh)
        with open(f"{out_dir}/meta_kg.json") as fh:
            mkg = json.load(fh)
        with open(f"{out_dir}/report.json") as fh:
            report = json.load(fh)
    except (OSError, ValueError) as e:
        why.append(f"unreadable report: {e}")
        return
    counts: dict[str, int] = {}
    got: set[tuple[str, str]] = set()
    for r in report:
        counts[r["error_type"]] = counts.get(r["error_type"], 0) + r["count"]
        got.update((r["error_type"], e) for e in r["entities"])
    if counts != truth.error_counts or got != truth.errors:
        why.append(f"validation errors {counts} != planted {truth.error_counts}")
    ns, es = summary["node_stats"], summary["edge_stats"]
    if (ns["total_nodes"], es["total_edges"]) != (truth.n_nodes, len(truth.edges)):
        why.append(f"summary totals {ns['total_nodes']}/{es['total_edges']}")
    defaulted = ns["count_by_category"].get("biolink:NamedThing", {}).get("count", 0)
    if defaulted != truth.missing_category:
        why.append(f"{defaulted} defaulted categories, planted {truth.missing_category}")
    preds = {k: v["count"] for k, v in es["count_by_predicates"].items() if k != "unknown"}
    if preds != truth.predicate_counts:
        why.append("summary predicate counts differ from the merged edges")
    if sum(v["count"] for v in mkg["nodes"].values()) != truth.n_nodes:
        why.append("meta-KG node counts do not sum to the node total")


def merge_qc_check(truth: MergeQcTruth, out_dir: str) -> Outcome:
    why: list[str] = []
    got = _check_merge(truth, out_dir, why)
    _check_qc(truth, out_dir, why)
    precision, recall = _pr(got, truth.edges)
    return Outcome(not why, precision, recall, len(got), "; ".join(why))


@dataclass(frozen=True)
class Workload:
    run: Callable[[object, str, str], None]
    traced: Callable[[object, str, str, Tracer], None]
    check: Callable[[object, str], Outcome]
    # generated inputs, relative to the input directory
    inputs: tuple[str, ...]


WORKLOADS = {
    "web_kg_build": Workload(web_run, web_traced, web_check, ("pages.parquet", "part.parquet")),
    "kgx_merge_qc": Workload(merge_qc_run, merge_qc_traced, merge_qc_check, ("a", "b")),
}
