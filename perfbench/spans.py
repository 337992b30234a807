"""Per-layer tracing from outside the program.

Spans: the benchmark wraps each call into a layer's public function in
``Tracer.span(layer)``, which times the call and tags every Spark job it
triggers with ``sc.setLocalProperty(LAYER_KEY, layer)`` (the run id rides
along as the parent span under ``SPAN_KEY``).

Counts: after the traced run, ``parse_event_log`` reads Spark's event log
(enabled with ``spark.eventLog.enabled``) and sums task metrics per tag.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

LAYER_KEY = "perfbench.layer"
SPAN_KEY = "perfbench.span"
# jobs the benchmark itself runs to count rows or probe a layer's ratios;
# never charged to a layer
PROBE = "trace.probe"
UNTAGGED = "untagged"

LAYERS = [
    "session",
    "pipeline.extract",
    "pipeline.triples",
    "pipeline.link",
    "pipeline.stages",
    "operators.validate",
    "operators.clique",
    "operators.merge",
    "sources.tsv",
    "sources.jsonl",
    "sinks.tsv",
    "operators.summary",
    "operators.meta_kg",
    "operators.validator",
]
LAYER_METRICS = [
    ("busy_s", "s", "lower"),
    ("task_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("rows_out", "count", "lower"),
    ("shuffle_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
]
# (name, unit, better) of the cross-layer ratios and counts
EXTRA_METRICS = [
    ("pipeline.link.hit_ratio", "ratio", "higher"),
    ("operators.clique.pairs", "count", "lower"),
    ("operators.clique.lp_rounds", "count", "lower"),
    ("operators.merge.dedup_ratio", "ratio", "higher"),
    ("sources.scan_ratio", "ratio", "lower"),
    ("sinks.tsv.write_mb", "MB", "lower"),
    ("pipeline.stages.snapshot_mb", "MB", "lower"),
    ("operators.validator.errors", "count", "higher"),
    ("spark.cpu_util", "ratio", "higher"),
    ("driver.result_mb", "MB", "lower"),
    ("trace.overhead_s", "s", "lower"),
]


def per_layer_spec() -> list[tuple[str, str, str]]:
    """Every per-layer metric a traced run reports, as (name, unit, better)."""
    spec = [(f"{layer}.{m}", unit, better) for layer in LAYERS for m, unit, better in LAYER_METRICS]
    return spec + EXTRA_METRICS


@dataclass
class TagTotals:
    jobs: int = 0
    task_ms: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    result_bytes: int = 0


def parse_event_log(path: str) -> dict[str, TagTotals]:
    """Sum task metrics per layer tag over a Spark JSON event log.

    A stage is charged to the tag in its StageSubmitted properties (the
    properties of the job that ran it); a job is counted under the tag in
    its JobStart properties. Untagged work lands under ``UNTAGGED``."""
    totals: dict[str, TagTotals] = defaultdict(TagTotals)
    stage_tag: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tag = (ev.get("Properties") or {}).get(LAYER_KEY, UNTAGGED)
                totals[tag].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_tag.setdefault(sid, tag)
            elif kind == "SparkListenerStageSubmitted":
                tag = (ev.get("Properties") or {}).get(LAYER_KEY)
                if tag:
                    stage_tag[ev["Stage Info"]["Stage ID"]] = tag
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                t = totals[stage_tag.get(ev["Stage ID"], UNTAGGED)]
                t.task_ms += m.get("Executor Run Time", 0)
                t.result_bytes += m.get("Result Size", 0)
                t.spill_bytes += m.get("Disk Bytes Spilled", 0)
                t.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                out = m.get("Output Metrics") or {}
                t.output_bytes += out.get("Bytes Written", 0)
                t.output_records += out.get("Records Written", 0)
                t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return dict(totals)


class Tracer:
    """Times layer calls and tags the Spark jobs they trigger."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.busy: dict[str, float] = defaultdict(float)
        self.rows: dict[str, int] = defaultdict(int)
        self.extra: dict[str, float] = {}
        # bytes of files the traced run wrote and then read back
        self.scan_base = 0
        self._tag: str | None = None
        self._since = 0.0

    def switch(self, layer: str | None) -> None:
        """Charge the time since the last switch to the current layer and
        tag jobs from here on with ``layer`` (None: stop charging)."""
        now = time.monotonic()
        if self._tag is not None:
            self.busy[self._tag] += now - self._since
        self._tag, self._since = layer, now
        self.sc.setLocalProperty(LAYER_KEY, layer)
        self.sc.setLocalProperty(SPAN_KEY, self.run_id if layer else None)

    @contextmanager
    def span(self, layer: str):
        outer = self._tag
        self.switch(layer)
        try:
            yield
        finally:
            self.switch(outer)


def layer_metrics(
    tracer: Tracer, totals: dict[str, TagTotals], wall_s: float, cores: int, input_bytes: int
) -> dict[str, float]:
    """Fold spans and event-log totals into the named per-layer metrics."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        t = totals.get(layer, TagTotals())
        out[f"{layer}.busy_s"] = tracer.busy.get(layer, 0.0)
        out[f"{layer}.task_s"] = t.task_ms / 1000.0
        out[f"{layer}.jobs"] = t.jobs
        # rows the benchmark counted, else the rows the layer's jobs wrote
        out[f"{layer}.rows_out"] = tracer.rows.get(layer) or t.output_records
        out[f"{layer}.shuffle_mb"] = t.shuffle_write_bytes / 1e6
        out[f"{layer}.spill_mb"] = t.spill_bytes / 1e6
    # one traced iteration: untagged (untraced iterations), probe and
    # session jobs are not part of it
    charged = [totals[tag] for tag in LAYERS if tag != "session" and tag in totals]
    task_ms = sum(t.task_ms for t in charged)
    scanned = sum(t.input_bytes for t in charged)
    out["sources.scan_ratio"] = scanned / max(input_bytes + tracer.scan_base, 1)
    out["sinks.tsv.write_mb"] = totals.get("sinks.tsv", TagTotals()).output_bytes / 1e6
    out["spark.cpu_util"] = task_ms / 1000.0 / (wall_s * cores) if wall_s > 0 else 0.0
    out["driver.result_mb"] = sum(t.result_bytes for t in charged) / 1e6
    for name, _, _ in EXTRA_METRICS:
        out.setdefault(name, tracer.extra.get(name, 0.0))
    return out
