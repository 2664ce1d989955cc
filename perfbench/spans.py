"""Spans recorded from outside the engine, and the Spark event log parsed
back into per-layer counts.

A ``Tracer`` wraps public functions of the engine's modules while it is
installed. Each wrapped call becomes a span (name, start, end; the layer
is the name up to its first dot) and tags the Spark jobs it submits with
``setJobGroup(name)``, so
the event log can attribute shuffle bytes, tasks, executor CPU and Python
worker bytes to the span that caused them. Spans are kept in memory and
summarised after the run; nothing is written while jobs are timed.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import threading
import time
from collections import defaultdict


class Span:
    __slots__ = ("name", "start", "end", "epoch")

    def __init__(self, name: str):
        self.name = name
        self.start = self.end = time.perf_counter()
        self.epoch = time.time()

    def epoch_ms(self) -> tuple[float, float]:
        return self.epoch * 1000, (self.epoch + self.end - self.start) * 1000


class Tracer:
    """Records spans around wrapped calls; ``install``/``uninstall`` swap
    the wrappers in and out so untraced and traced jobs run the same code
    path apart from the wrapping itself."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(name, name)
        s = Span(name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.sc.setLocalProperty("spark.job.description", prev)
            with self._lock:
                self.spans.append(s)

    # -- wrapping -----------------------------------------------------------
    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper while
        installed (``owner`` is a module or a class)."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        self._patches.append((owner, attr, original, wrapper))

    def install(self) -> None:
        for owner, attr, _, wrapper in self._patches:
            setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, original, _ in self._patches:
            setattr(owner, attr, original)


def wrap_engine(tracer: Tracer) -> None:
    """The public call sites of each layer that the workloads reach. Names
    imported with ``from x import y`` are patched where they are looked up
    (the importing module), not only where they are defined."""
    from anycrawl_spark import catalog, crawl, seen

    tracer.wrap(crawl.CrawlEngine, "_run_round", "crawl.round")
    tracer.wrap(crawl, "_canonical_cols", "crawl.canonical_cols")
    tracer.wrap(crawl, "apply_host_budget", "politeness.apply_host_budget")
    tracer.wrap(crawl, "exact_antijoin", "seen.exact_antijoin")
    tracer.wrap(crawl, "segments_to_driver", "seen.segments_to_driver")
    tracer.wrap(seen, "exact_antijoin", "seen.exact_antijoin")
    tracer.wrap(seen, "filter_new", "seen.filter_new")
    tracer.wrap(seen, "build_segments", "seen.build_segments")
    tracer.wrap(seen, "build_segments_driver", "seen.build_segments")
    for meth in ("append_round", "append_round_local"):
        tracer.wrap(catalog.Catalog, meth, "catalog.append")
    tracer.wrap(catalog.Catalog, "commit_round", "catalog.commit")
    for meth in ("read", "read_round", "read_round_uncommitted"):
        tracer.wrap(catalog.Catalog, meth, "catalog.read")


# ---------------------------------------------------------------------------
# span summaries
# ---------------------------------------------------------------------------

def self_times(spans: list[Span], roots: list[Span]) -> dict[str, float]:
    """Self time per span name inside the root spans. At each instant the
    innermost active span owns the time; across threads the most recently
    started active span counts as innermost. A root's own self time is
    what no wrapped call covered."""
    out: dict[str, float] = defaultdict(float)
    for root in roots:
        inside = [s for s in spans if s is not root
                  and s.start >= root.start and s.end <= root.end]
        cuts = sorted({root.start, root.end,
                       *(s.start for s in inside), *(s.end for s in inside)})
        for lo, hi in zip(cuts, cuts[1:]):
            mid = (lo + hi) / 2
            owner = root
            for s in inside:
                if s.start <= mid < s.end and s.start >= owner.start:
                    owner = s
            out[owner.name] += hi - lo
    return dict(out)


def busy_by_name(spans: list[Span], roots: list[Span]) -> dict[str, float]:
    """Summed wall time of every span of each name inside the roots
    (overlapping calls in different threads each count)."""
    out: dict[str, float] = defaultdict(float)
    for root in roots:
        for s in spans:
            if s is not root and s.start >= root.start and s.end <= root.end:
                out[s.name] += s.end - s.start
    return dict(out)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def parse_event_log(log_dir: str, roots: list[Span]) -> dict[str, dict[str, float]]:
    """Per job group: tasks, executor CPU seconds, shuffle bytes written
    and Python worker bytes, summed over completed stages. A job without a
    group (submitted from a thread no span was active in, such as the
    engine's own worker pools) counts as ``job`` when it was submitted
    inside a root span, and as ``none`` otherwise."""
    windows = [r.epoch_ms() for r in roots]
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        t = ev.get("Submission Time", 0)
                        group = "job" if any(a <= t <= b for a, b in windows) else "none"
                    job_group[ev["Job ID"]] = group
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Failure Reason" in info:
                        continue
                    g = out[stage_group.get(info["Stage ID"], "none")]
                    g["tasks"] += info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", []):
                        name, value = acc.get("Name"), acc.get("Value")
                        try:
                            value = float(value)
                        except (TypeError, ValueError):
                            continue
                        if name == "internal.metrics.executorCpuTime":
                            g["executor_cpu_s"] += value / 1e9
                        elif name == "internal.metrics.shuffle.write.bytesWritten":
                            g["shuffle_bytes"] += value
                        elif name == PY_SENT:
                            g["python_bytes_sent"] += value
                        elif name == PY_RETURNED:
                            g["python_bytes_returned"] += value
    return {k: dict(v) for k, v in out.items()}


def by_layer(groups: dict[str, dict[str, float]]) -> dict[str, dict[str, float]]:
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for group, vals in groups.items():
        layer = group.split(".", 1)[0]
        for k, v in vals.items():
            out[layer][k] += v
    return {k: dict(v) for k, v in out.items()}
