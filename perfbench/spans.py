"""Span tracing for the traced benchmark run.

Untraced runs use :class:`NullTracer`, whose spans do nothing. In the traced
iterations of a ``--trace 1`` run, :meth:`Tracer.install` wraps the
layer functions under the names by which ``sketchy_spark.pipeline`` and
``sketchy_spark.streaming.incremental`` call them, plus the checkpoint store
and incremental-dedup methods. Each wrapped call opens a span (name, layer,
start, end, parent) and tags the Spark jobs it launches with a job group
named after the span. Spans stay in memory until the run ends.

After the session stops, :func:`fold_event_log` reads Spark's event log
(written to a local directory: no UI, no network) and folds task metrics per
Spark stage. A stage that runs the sketch UDF is carved out of the span
whose job launched it, so the fused first job of the pipeline splits into
the sketch ``MapInPandas`` stage and the band exchange that follows it.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import statistics
import time
from pathlib import Path

# (module, attribute, layer): the names the pipeline and the incremental
# path call. The cascade's exact stage-2 call goes through
# operators.verify.verified_pairs, so that name is wrapped too.
FUNCTION_TARGETS = (
    ("sketchy_spark.pipeline", "sketch_files", "sketch"),
    ("sketchy_spark.pipeline", "candidate_pairs_fid", "lsh"),
    ("sketchy_spark.pipeline", "exact_dup_edges_fid", "lsh"),
    ("sketchy_spark.pipeline", "verified_pairs_cascade", "verify"),
    ("sketchy_spark.pipeline", "assign_clusters_fid", "cluster"),
    ("sketchy_spark.pipeline", "containment_candidates", "containment"),
    ("sketchy_spark.pipeline", "containment_verified", "containment"),
    ("sketchy_spark.operators.verify", "verified_pairs", "verify"),
    ("sketchy_spark.streaming.incremental", "sketch_files", "sketch"),
    ("sketchy_spark.streaming.incremental", "band_table", "lsh"),
    ("sketchy_spark.streaming.incremental", "verified_pairs", "verify"),
    ("sketchy_spark.streaming.incremental", "assign_clusters", "cluster"),
)
METHOD_TARGETS = (
    ("sketchy_spark.checkpoint", "CheckpointStore", "write_stage", "checkpoint"),
    ("sketchy_spark.checkpoint", "CheckpointStore", "read_stage", "checkpoint"),
    ("sketchy_spark.streaming.incremental", "IncrementalDedup", "ingest_batch",
     "incremental"),
    ("sketchy_spark.streaming.incremental", "IncrementalDedup", "compact",
     "incremental"),
    ("sketchy_spark.streaming.incremental", "IncrementalDedup", "clusters",
     "incremental"),
)
# Calls whose arguments and result are kept so the run can count their
# rows after the timed region (counting inside it would add jobs).
CAPTURED = {"verified_pairs", "containment_candidates"}

_GROUP = "spark.jobGroup.id"


class NullTracer:
    """Tracer stand-in for untraced runs: spans cost nothing."""

    enabled = False

    def span(self, name: str, layer: str):
        return contextlib.nullcontext()


class Tracer:
    """Keeps spans in memory; one instance per traced process."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.calls: list[tuple[str, tuple, object]] = []
        self._stack: list[str] = []
        self._ids = itertools.count()
        self._sc = None
        self._restore: list[tuple[object, str, object]] = []

    def bind(self, spark) -> None:
        """Start tagging Spark jobs with the current span's id."""
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sid = f"span-{next(self._ids)}"
        rec = {
            "id": sid, "name": name, "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(_GROUP, sid)

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                out = fn(*args, **kwargs)
            if name.rsplit(".", 1)[-1] in CAPTURED:
                self.calls.append((name, args, out))
            return out

        return traced

    def install(self) -> None:
        import importlib

        for mod_name, attr, layer in FUNCTION_TARGETS:
            mod = importlib.import_module(mod_name)
            self._patch(mod, attr, layer, f"{layer}.{attr}")
        for mod_name, cls_name, attr, layer in METHOD_TARGETS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            self._patch(cls, attr, layer, f"{layer}.{attr}")

    def _patch(self, owner, attr: str, layer: str, name: str) -> None:
        orig = vars(owner)[attr]  # a class's plain function, not a bound one
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, self._wrap(orig, name, layer))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()


# ------------------------------------------------------------ event log


def _read_events(log_dir: Path) -> list[dict]:
    files = []
    for p in sorted(log_dir.iterdir()):
        if p.is_dir():  # rolling layout: eventlog_v2_<app>/events_<n>_<app>
            files += sorted(
                (f for f in p.iterdir() if f.name.startswith("events_")),
                key=lambda f: int(f.name.split("_")[1]),
            )
        else:
            files.append(p)
    events = []
    for f in files:
        with f.open() as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


def _udf_layer(simple: str) -> str | None:
    """Layer of a MapInPandas node, from its output schema."""
    if "n_shingles" in simple:
        return "sketch"
    if "needs_exact" in simple:
        return "verify"
    return None


def fold_event_log(log_dir: Path) -> dict:
    """Per-stage task metrics, the job group that launched each stage, the
    Python UDF nodes each stage ran, and the job intervals."""
    events = _read_events(log_dir)
    udf_acc: dict[int, tuple[str, str]] = {}  # accumulator -> (layer, metric)
    stages: dict[int, dict] = {}
    tasks: dict[int, list[float]] = {}
    jobs: dict[int, list[float]] = {}
    for e in events:
        kind = e["Event"]
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            for node in _plan_nodes(e["sparkPlanInfo"]):
                if node["nodeName"] != "MapInPandas":
                    continue
                layer = _udf_layer(node["simpleString"]) or "udf"
                for m in node["metrics"]:
                    udf_acc[m["accumulatorId"]] = (layer, m["name"])
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            stages.setdefault(sid, {})["group"] = (
                e.get("Properties") or {}
            ).get(_GROUP)
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = stages.setdefault(si["Stage ID"], {})
            st["start"] = si.get("Submission Time", 0) / 1000.0
            st["end"] = si.get("Completion Time", 0) / 1000.0
            acc = {}
            for a in si.get("Accumulables", ()):
                acc[a["ID"]] = a
            st["acc"] = acc
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            st = stages.setdefault(sid, {})
            st["cpu_ns"] = st.get("cpu_ns", 0) + tm.get("Executor CPU Time", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            st["shuffle_write"] = (
                st.get("shuffle_write", 0) + sw.get("Shuffle Bytes Written", 0)
            )
            st["spill"] = (
                st.get("spill", 0)
                + tm.get("Memory Bytes Spilled", 0)
                + tm.get("Disk Bytes Spilled", 0)
            )
            tasks.setdefault(sid, []).append(
                (ti["Finish Time"] - ti["Launch Time"]) / 1000.0
            )
        elif kind == "SparkListenerJobStart":
            jobs.setdefault(e["Job ID"], [0.0, 0.0])[0] = (
                e["Submission Time"] / 1000.0
            )
        elif kind == "SparkListenerJobEnd":
            jobs.setdefault(e["Job ID"], [0.0, 0.0])[1] = (
                e["Completion Time"] / 1000.0
            )
    for sid, st in stages.items():
        st["tasks"] = tasks.get(sid, [])
        udf: dict[str, dict[str, float]] = {}
        for aid, a in (st.get("acc") or {}).items():
            if aid in udf_acc:
                layer, metric = udf_acc[aid]
                d = udf.setdefault(layer, {})
                d[metric] = d.get(metric, 0.0) + float(a.get("Value") or 0)
        st["udf"] = udf
    return {
        "stages": {k: v for k, v in stages.items() if "end" in v},
        "jobs": [tuple(v) for v in jobs.values() if v[0] and v[1]],
    }


# ------------------------------------------------------------ folding


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _skew(durations: list[float]) -> float:
    if not durations:
        return 0.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 0.0


def layer_report(spans: list[dict], log: dict, root_id: str) -> dict:
    """Per-layer self times and Spark metrics for the span tree under
    ``root_id`` (one traced iteration).

    A stage belongs to the span whose job group launched it (its *owner*).
    A stage that ran a sketch or cascade UDF is computed by that layer: it
    becomes a synthetic child span of its owner, so the owner's self time
    excludes it. Shuffle writes stay with the owner (the band exchange the
    sketch stage feeds is the LSH layer's), CPU goes to the computing layer.
    """
    by_id = {s["id"]: s for s in spans}
    tree: set[str] = set()
    for s in spans:  # spans are recorded parent-first
        if s["id"] == root_id or s["parent"] in tree:
            tree.add(s["id"])
    root = by_id[root_id]
    children: dict[str, list[tuple[float, float]]] = {}
    self_by_span: dict[str, float] = {}
    synth: list[dict] = []
    stage_rows = []
    for sid, st in log["stages"].items():
        owner = by_id.get(st.get("group"))
        if owner is None or owner["id"] not in tree:
            continue
        compute = owner["layer"]
        for layer in ("sketch", "verify"):
            if layer in st["udf"] and layer != owner["layer"]:
                compute = layer
                lo = max(st["start"], owner["start"])
                hi = min(st["end"], owner["end"])
                if hi > lo:
                    synth.append({"layer": layer, "parent": owner["id"],
                                  "start": lo, "end": hi})
                break
        stage_rows.append((owner, compute, st))
    for s in [by_id[i] for i in tree if i != root_id] + synth:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for i in tree:
        s = by_id[i]
        self_by_span[i] = (s["end"] - s["start"]) - _covered(
            children.get(i, ()), s["start"], s["end"]
        )

    out: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        out[key] = out.get(key, 0.0) + v

    for i in tree:
        if i == root_id:
            continue
        s = by_id[i]
        add(f"{s['layer']}.self_s", self_by_span[i])
        add(f"span.{s['name']}.self_s", self_by_span[i])
        add(f"span.{s['name']}.total_s", s["end"] - s["start"])
        add(f"span.{s['name']}.calls", 1)
    for s in synth:
        # a synthetic span's own children are none: all of it is self time
        add(f"{s['layer']}.self_s", s["end"] - s["start"])
    skew: dict[str, tuple[float, float]] = {}
    for owner, compute, st in stage_rows:
        stage_s = st["end"] - st["start"]
        add(f"{compute}.executor_cpu_s", st.get("cpu_ns", 0) / 1e9)
        add(f"{owner['layer']}.shuffle_write_bytes", st.get("shuffle_write", 0))
        add(f"{owner['layer']}.spill_bytes", st.get("spill", 0))
        add(f"span.{owner['name']}.shuffle_write_bytes",
            st.get("shuffle_write", 0))
        if compute in st["udf"]:
            m = st["udf"][compute]
            add(f"{compute}.python_bytes_in",
                m.get("data sent to Python workers", 0))
            add(f"{compute}.python_bytes_out",
                m.get("data returned from Python workers", 0))
        # skew is reported for the longest stage each layer computed
        if stage_s > skew.get(compute, (-1.0, 0.0))[0]:
            skew[compute] = (stage_s, _skew(st["tasks"]))
    for layer, (_, ratio) in skew.items():
        out[f"{layer}.task_skew"] = ratio
    wall = root["end"] - root["start"]
    busy = _covered(log["jobs"], root["start"], root["end"])
    out["driver_gap_s"] = wall - busy
    out["trace.wall_s"] = wall
    out["trace.attributed_frac"] = (wall - self_by_span[root_id]) / wall
    return out
