"""Spans around the calls into each layer, recorded from outside the program.

A :class:`Tracer` patches public entry points (``ReplayEngine.replay``, the
sinks' ``merge``/``read``/``lookup``/``compact``, ``reduce_batch``,
``manifest``) with wrappers that open a span and tag every Spark job the
call submits with the span id as its job group and description. After the
run it reads, with no UI and no listener of its own:

* stage metrics — ``statusStore().stageList(...)``, attributed to spans by
  stage description;
* Python UDF metrics — the SQL executions' plan-graph metrics, attributed by
  execution description, with raw values read from the live accumulators.

Spans (name, start, end, parent, run id) stay in memory until
:meth:`Tracer.dump`; start and end are wall-clock epoch seconds.
``self_s`` accumulates the time spent in the tracer's own bookkeeping
during the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict

STAGE_FIELDS = {
    # span metric name -> StageData accessor, scale
    "executor_run_s": ("executorRunTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "gc_s": ("jvmGcTime", 1e-3),
    "tasks": ("numTasks", 1),
}

PY_METRICS = {
    # plan-graph metric name -> span metric name, scale of the raw value
    "time to run Python workers": ("python_s", 1e-3),
    "time to start Python workers": ("boot_s", 1e-3),
    "data sent to Python workers": ("sent_bytes", 1),
    "data returned from Python workers": ("received_bytes", 1),
    "number of output rows": ("rows", 1),
}
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
          "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _parse_total(text: str) -> float:
    """Total of a status-store metric string, in seconds / bytes / rows:
    '1,234', '853 ms', or 'total (min, med, max ...)\n9.0 s (2.2 s, ...)'."""
    tok = text.strip().splitlines()[-1].split()
    value = float(tok[0].replace(",", ""))
    return value * _UNITS.get(tok[1], 1) if len(tok) > 1 else value


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.calls: dict[str, int] = defaultdict(int)
        self.self_s = 0.0
        self._stack: list[dict] = []
        self._patches: list[tuple] = []
        self.stage_by_span: dict[str, dict] = {}
        self.udf_by_span: dict[str, dict] = {}
        #: recorded on every span and call count; the workloads set it to
        #: "setup", "warmup", "timed" or "check"
        self.phase = "setup"

    # ------------------------------------------------------------ spans

    def _set_group(self, sid: str | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(sid, sid)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """A span; after it closes ``rec["secs"]`` holds its wall seconds."""
        t = time.perf_counter()
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"id": f"{name}#{len(self.spans)}", "name": name,
               "parent": parent, "run_id": self.run_id, "phase": self.phase,
               "start": None, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["id"])
        self.self_s += time.perf_counter() - t
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t = time.perf_counter()
            rec["secs"] = rec["end"] - rec["start"]
            self._stack.pop()
            self._set_group(parent)
            self.self_s += time.perf_counter() - t

    def wrap(self, owner, attr: str, name, attrs=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper. ``name`` is a string
        or a callable of the call's arguments; ``attrs`` likewise returns
        extra span fields."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            n = name(*a, **kw) if callable(name) else name
            extra = attrs(*a, **kw) if attrs else {}
            with tracer.span(n, **extra):
                return orig(*a, **kw)

        self._patch(owner, attr, traced)

    def count(self, owner, attr: str, key: str) -> None:
        """Count calls of ``owner.attr`` per phase, without opening a span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def counted(*a, **kw):
            tracer.calls[f"{key}.{tracer.phase}"] += 1
            return orig(*a, **kw)

        self._patch(owner, attr, counted)

    def _patch(self, owner, attr: str, fn) -> None:
        self._patches.append((owner, attr, vars(owner).get(attr)))
        setattr(owner, attr, fn)

    def unwrap(self) -> None:
        """Restore every patched attribute (an inherited one is removed
        again from the class that was patched)."""
        for owner, attr, orig in reversed(self._patches):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------- Spark status store

    def collect(self) -> None:
        """Attribute completed stages and SQL UDF metrics to spans
        (recomputed from scratch on every call)."""
        self.stage_by_span = {}
        self.udf_by_span = {}
        jvm = self.sc._jvm
        ss = self.sc._jsc.sc().statusStore()
        stages = ss.stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        ids = {s["id"] for s in self.spans}
        for i in range(stages.size()):
            st = stages.apply(i)
            desc = st.description()
            if not desc.isDefined() or st.status().toString() != "COMPLETE":
                continue
            sid = desc.get()
            if sid not in ids:
                continue
            agg = self.stage_by_span.setdefault(sid, defaultdict(float))
            agg["stages"] += 1
            for key, (acc, scale) in STAGE_FIELDS.items():
                agg[key] += getattr(st, acc)() * scale
        self._collect_udf(ids)

    def _collect_udf(self, ids: set[str]) -> None:
        """Python-node metrics of every SQL execution of a catalog span.
        Raw accumulator values while they are alive; otherwise the status
        store's aggregated text (3 significant digits)."""
        jvm = self.sc._jvm
        store = self.spark._jsparkSession.sharedState().statusStore()
        accs = jvm.org.apache.spark.util.AccumulatorContext
        execs = store.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            sid = e.description()
            if sid not in ids or not sid.startswith("catalog."):
                continue
            agg = self.udf_by_span.setdefault(sid, defaultdict(float))
            text = None
            nodes = store.planGraph(e.executionId()).allNodes()
            for j in range(nodes.size()):
                ms = nodes.apply(j).metrics()
                named = {ms.apply(k).name(): ms.apply(k).accumulatorId()
                         for k in range(ms.size())}
                if "time to run Python workers" not in named:
                    continue
                for mname, acc_id in named.items():
                    if mname not in PY_METRICS:
                        continue
                    key, scale = PY_METRICS[mname]
                    a = accs.get(acc_id)
                    if a.isDefined():
                        agg[key] += float(a.get().value()) * scale
                        continue
                    if text is None:
                        it = store.executionMetrics(e.executionId()).toList()
                        text = {}
                        while it.nonEmpty():
                            kv = it.head()
                            text[kv._1()] = kv._2()
                            it = it.tail()
                    if acc_id in text:
                        agg[key] += _parse_total(text[acc_id])

    # ------------------------------------------------------------- views

    def by_name(self, name: str, phase: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and (phase is None or s["phase"] == phase)]

    def stage_total(self, name: str, key: str, phase: str | None = None) -> float:
        """Σ of a stage metric over all spans called ``name`` and their
        descendants."""
        return sum(self.stage_total_of(s["id"], key)
                   for s in self.by_name(name, phase))

    def stage_total_of(self, sid: str, key: str) -> float:
        """Σ of a stage metric over span ``sid`` and its descendants."""
        kids: dict[str, list[str]] = defaultdict(list)
        for s in self.spans:
            if s["parent"]:
                kids[s["parent"]].append(s["id"])
        total = 0.0
        todo = [sid]
        while todo:
            sid = todo.pop()
            total += self.stage_by_span.get(sid, {}).get(key, 0.0)
            todo.extend(kids[sid])
        return total

    def span_stages(self, sid: str) -> dict:
        return dict(self.stage_by_span.get(sid, {}))

    def dump(self, path: str, extra: dict) -> None:
        out = {
            "run_id": self.run_id,
            "spans": [
                {**s, "stage": self.stage_by_span.get(s["id"]),
                 "udf": self.udf_by_span.get(s["id"])}
                for s in self.spans
            ],
            "calls": dict(self.calls),
            "self_s": self.self_s,
            **extra,
        }
        with open(path, "w") as f:
            json.dump(out, f, indent=1, default=str)
