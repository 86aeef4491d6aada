"""Span tracer for the traced benchmark run.

Spans are kept in memory and written out once, when the run ends. A span
records its name, layer, start, end, parent and the run id. Spans are
placed only from the benchmark's side: :meth:`Tracer.instrument` wraps
the engine's public entry points (and the private walker routine, to
count the documents routed to it) for the lifetime of a traced run, so
product code stays untouched.

While a span is open, every Spark job submitted from this thread carries
the span's id as its job group. After the run, job and stage counts per
span come from ``statusTracker`` and task time, shuffle and spill from
the UI's REST API (enabled only for traced runs).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import statistics
import sys
import time
import urllib.request

PKG = "rml_utils_processor_ts_spark"

def _cc_counts(args, kw, out) -> tuple[int, int]:
    """(edges, components) of one connected-components call."""
    return args[0].count(), out.select("component").distinct().count()


# (module, attribute, layer, capture). Methods are given as "Class.method".
# get_spark is spanned by the caller, which times the session build. With
# ``capture`` true, each call's arguments and result are kept so the
# benchmark can force or count the frames afterwards; a callable capture
# instead computes its counts at once, while the inputs still exist,
# inside a "trace" span that no layer figure includes.
ENTRY_POINTS = [
    ("plans.rml_parser", "parse_mapping", "plans", False),
    ("plans.yarrrml", "yarrrml_to_plan", "plans", False),
    ("plans.serializer", "yarrrml2rml", "plans", False),
    ("plans.incrml", "expand_to_incrml", "plans", False),
    ("plans.serializer", "rml2incrml", "plans", False),
    ("sources.registry", "records_df", "sources", True),
    # the Arrow-UDF tree walker (private): no span, only the document
    # frame routed to it is captured
    ("sources.registry", "_python_iterate_records", None, True),
    ("operators.executor", "PlanExecutor.execute", "executor", False),
    ("operators.cdc", "StateStore.commit_all", "state", False),
    ("operators.linking", "link_exact", "linking", False),
    ("operators.cc", "connected_components", "linking", _cc_counts),
    ("operators.cc", "canonicalize_triples", "linking", False),
    ("sinks.router", "write_targets", "sinks", False),
    ("sinks.nquads", "write_serialized", "sinks", False),
    ("sinks.triple_table", "write_triple_table", "sinks", False),
    ("streaming.snapshots", "SnapshotRunner.push_snapshot", "streaming", False),
    ("pipeline", "run_pipeline", "pipeline", False),
]

LAYERS = ["get_spark", "plans", "sources", "executor", "state", "linking", "sinks", "streaming", "pipeline"]
LAYER_STATS = ["self_s", "jobs", "stages", "task_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"]


class Span:
    __slots__ = ("id", "name", "layer", "start", "end", "parent", "run_id", "jobs", "stages", "task_s",
                 "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")

    def __init__(self, sid: int, name: str, layer: str, parent: int | None, run_id: str):
        self.id, self.name, self.layer, self.parent, self.run_id = sid, name, layer, parent, run_id
        self.start = time.perf_counter()
        self.end = None
        self.jobs = self.stages = 0
        self.task_s = 0.0
        self.shuffle_read_bytes = self.shuffle_write_bytes = self.spill_bytes = 0

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    """In-memory spans with Spark job-group attribution. ``enabled``
    may be switched off between operations; wrappers then call straight
    through and no span or job group is recorded."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.enabled = True
        self.spark = None
        self.captured: dict[str, list[tuple]] = {}
        # span id -> job ids given to it by claim_ungrouped()
        self.claimed: dict[int, list[int]] = {}
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"pb-{span.id}", f"{span.layer}:{span.name}")

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        sp = Span(len(self.spans), name, layer, parent.id if parent else None, self.run_id)
        self.spans.append(sp)
        self.stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            self._set_group(self.stack[-1] if self.stack else None)

    # -- instrumentation ---------------------------------------------------

    def _wrap(self, fn, name: str, layer: str | None, capture):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            if layer is None:
                out = fn(*a, **kw)
            else:
                with tracer.span(name, layer):
                    out = fn(*a, **kw)
            if capture and tracer.enabled:
                if callable(capture):
                    with tracer.span(f"{name}.counts", "trace"):
                        kept = capture(a, kw, out)
                else:
                    kept = (a, kw, out)
                tracer.captured.setdefault(name, []).append(kept)
            return out

        return traced

    def _replace_everywhere(self, original, replacement) -> None:
        """Rebind every reference the package's loaded modules hold to
        ``original`` (modules that did ``from x import f`` keep their
        own name for it)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._patched.append((mod, attr, original))
                    setattr(mod, attr, replacement)

    def instrument(self) -> None:
        # import every module first: a module imported later would bind the
        # unwrapped function under its own name
        for mod_name, *_ in ENTRY_POINTS:
            importlib.import_module(f"{PKG}.{mod_name}")
        for mod_name, attr, layer, capture in ENTRY_POINTS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                original = vars(cls)[meth]
                self._patched.append((cls, meth, original))
                setattr(cls, meth, self._wrap(original, attr, layer, capture))
            else:
                original = getattr(mod, attr)
                self._replace_everywhere(original, self._wrap(original, attr, layer, capture))

    def uninstrument(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- Spark attribution ---------------------------------------------------

    def claim_ungrouped(self, span: Span) -> None:
        """Give ``span`` every job of the current session that carries no
        job group. Called right after ``get_spark()`` returns and before
        any other span opens, so those jobs are the ones it started."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        self.claimed[span.id] = sc.statusTracker().getJobIdsForGroup(None)

    def attribute_jobs(self) -> bool:
        """Set job/stage counts (statusTracker) and task/shuffle/spill
        (REST API) on every span; safe to call again. Returns whether the
        REST API answered."""
        spark = self.spark
        sc = spark.sparkContext
        # the UI store is filled by an asynchronous listener
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        tracker = sc.statusTracker()
        stage_rows = _rest_stages(sc)
        for sp in self.spans:
            if sp.id in self.claimed:
                job_ids = self.claimed[sp.id]
            else:
                job_ids = tracker.getJobIdsForGroup(f"pb-{sp.id}")
            stage_ids: set[int] = set()
            for j in job_ids:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            ran = [stage_rows[s] for s in stage_ids if s in stage_rows] if stage_rows is not None else []
            sp.jobs = len(job_ids)
            sp.stages = len(ran) if stage_rows is not None else len(stage_ids)
            sp.task_s = sum(r["executorRunTime"] for r in ran) / 1000.0
            sp.shuffle_read_bytes = sum(r["shuffleReadBytes"] for r in ran)
            sp.shuffle_write_bytes = sum(r["shuffleWriteBytes"] for r in ran)
            sp.spill_bytes = sum(r["memoryBytesSpilled"] + r["diskBytesSpilled"] for r in ran)
        return stage_rows is not None

    # -- derived views -------------------------------------------------------

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        return sp.duration - sum(c.duration for c in self.children(sp))

    def descendants(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            cur = todo.pop()
            kids = self.children(cur)
            out.extend(kids)
            todo.extend(kids)
        return out

    def layer_table(self, roots: list[Span]) -> dict[str, dict[str, float]]:
        """Per-layer self time and Spark work over the subtrees of
        ``roots``, averaged per root."""
        n = max(len(roots), 1)
        table = {layer: dict.fromkeys(LAYER_STATS, 0.0) for layer in LAYERS}
        for root in roots:
            for sp in self.descendants(root):
                row = table.setdefault(sp.layer, dict.fromkeys(LAYER_STATS, 0.0))
                row["self_s"] += self.self_time(sp)
                for k in LAYER_STATS[1:]:
                    row[k] += getattr(sp, k)
        return {layer: {k: v / n for k, v in row.items()} for layer, row in table.items()}

    def named_total(self, root: Span, names: set[str], exclude_under: set[str] = frozenset()) -> float:
        """Wall time of spans named in ``names`` under ``root``, counting
        only the outermost of nested same-group spans and skipping spans
        nested under a span named in ``exclude_under``."""
        by_id = {s.id: s for s in self.spans}
        total = 0.0
        for sp in self.descendants(root):
            if sp.name not in names:
                continue
            anc, skip = sp.parent, False
            while anc is not None and anc != root.id:
                a = by_id[anc]
                if a.name in names or a.name in exclude_under:
                    skip = True
                    break
                anc = a.parent
            if not skip:
                total += sp.duration
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": [s.as_dict() for s in self.spans]}, fh)


def _rest_stages(sc) -> dict[int, dict] | None:
    """stageId -> summed metrics of its attempts that ran, or None when
    the UI is off."""
    base = sc.uiWebUrl
    if not base:
        return None
    try:
        url = f"{base}/api/v1/applications/{sc.applicationId}/stages"
        with urllib.request.urlopen(url, timeout=30) as resp:
            rows = json.load(resp)
    except OSError:
        return None
    out: dict[int, dict] = {}
    keys = ("executorRunTime", "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled")
    for r in rows:
        if r.get("status") == "SKIPPED":
            continue
        acc = out.setdefault(r["stageId"], dict.fromkeys(keys, 0))
        for k in keys:
            acc[k] += r.get(k, 0)
    return out


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
