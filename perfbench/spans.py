"""Per-layer tracing for the traced run.

A span wraps one public call of the package, either around the call
itself or, for calls the package makes from inside another public
function, through a patched wrapper (``Tracer.patched``). It tags the
Spark jobs the call starts (``SparkSession.addTag``), times the call
and counts the persisted RDDs it leaves behind. When the run ends, the jobs and stages
are read once from the Spark UI REST API on localhost and attributed to
the span whose interval holds their submission time. That also covers
jobs a streaming query runs on its own thread, which carry no tag from
the caller.
"""

from __future__ import annotations

import functools
import json
import pkgutil
import time
import urllib.request
from contextlib import ExitStack, contextmanager
from datetime import datetime
from unittest import mock

from pyspark.sql import DataFrame

LAYERS = (
    "catalog",
    "profiling",
    "clustering",
    "pipeline",
    "rules",
    "evaluation",
    "ops.dedup",
    "ops.textqa",
    "ops.curate",
    "streaming",
)
LAYER_METRICS = (
    ("s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("input_mb", "MB"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("cpu_s", "s"),
    ("persisted_left", "count"),
)
# streaming-only metrics, besides the per-batch LAYER_METRICS
STREAM_METRICS = (("streaming.state_mb_per_kdoc", "MB"), ("streaming.batch_p50_s", "s"))


def _ms(stamp: str) -> float:
    """REST API time ("2026-01-01T00:00:00.123GMT") -> epoch ms."""
    return datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp() * 1e3


def _within(item: dict, span: dict) -> bool:
    """Whether a REST job or stage was submitted during the span."""
    return "submissionTime" in item and span["t0"] <= _ms(item["submissionTime"]) <= span["t1"]


class Tracer:
    """Spans around public calls plus a UI REST reader. The UI must be
    enabled on the session (``spark.ui.enabled=true``)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.open = 0
        # what each patched call returned: {call: [(args, kwargs, result)]}
        self.returned: dict = {}

    def _persisted(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    @contextmanager
    def span(self, layer: str, call: str, units: int = 1):
        """``units`` is what the layer's figures are divided by: 1 per
        call, or the number of micro-batches for a stream."""
        if layer not in LAYERS:
            raise ValueError(layer)
        tag = f"{layer}:{call}"
        self.spark.addTag(tag)
        p0 = self._persisted()
        t0 = time.time()
        rec = {"layer": layer, "call": call, "units": units}
        self.open += 1
        try:
            yield rec
        finally:
            self.open -= 1
            rec.update(t0=t0 * 1e3, t1=time.time() * 1e3, persisted_left=self._persisted() - p0)
            self.spark.removeTag(tag)
            self.spans.append(rec)

    @contextmanager
    def patched(self, calls):
        """Wrap package functions so that the unchanged caller runs each
        one in its layer's span and forces a lazy result at the layer
        boundary. ``calls`` holds ``(target, layer, force)``: the dotted
        name the caller looks the function up by, as
        ``unittest.mock.patch`` takes it, the layer, and whether to force
        the result (not for a result the caller never runs). A call made
        inside another span belongs to that span, so nothing is counted
        twice."""
        with ExitStack() as stack:
            for target, layer, force in calls:
                stack.enter_context(mock.patch(target, new=self._wrap(target, layer, force)))
            yield self

    def _wrap(self, target: str, layer: str, force: bool):
        owner_name, name = target.rsplit(".", 1)
        owner = pkgutil.resolve_name(owner_name)
        fn = getattr(owner, name)
        call = f"{owner.__name__}.{name}" if isinstance(owner, type) else name

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self.open:
                return fn(*args, **kwargs)
            with self.span(layer, call):
                result = fn(*args, **kwargs)
                if force and isinstance(result, DataFrame):
                    self.force(result)
            self.returned.setdefault(call, []).append((args, kwargs, result))
            return result

        return wrapper

    @staticmethod
    def force(df) -> None:
        """Run a lazy result at the layer boundary, writing nothing."""
        df.write.format("noop").mode("overwrite").save()

    def _api(self, path: str):
        port = int(self.sc.uiWebUrl.rsplit(":", 1)[-1])
        url = f"http://localhost:{port}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def _settled(self) -> tuple[list, list]:
        """Jobs and stages once the listener has caught up: no job still
        running and the job count unchanged over half a second."""
        last = None
        for _ in range(60):
            jobs = self._api("jobs")
            if last is not None and len(jobs) == len(last) and all(
                j["status"] != "RUNNING" for j in jobs
            ):
                return jobs, self._api("stages")
            last = jobs
            time.sleep(0.5)
        raise RuntimeError("Spark UI did not settle")

    def layer_table(self, rounds: int) -> dict:
        """{layer: {metric: value}} per round (per micro-batch for
        spans with ``units``), for every layer a span touched."""
        jobs, stages = self._settled()
        acc: dict = {}
        for sp in self.spans:
            a = acc.setdefault(sp["layer"], dict.fromkeys([m for m, _ in LAYER_METRICS], 0.0))
            a["s"] += (sp["t1"] - sp["t0"]) / 1e3
            a["persisted_left"] += sp["persisted_left"]
            a["jobs"] += sum(1 for j in jobs if _within(j, sp))
            for st in stages:
                if st.get("status") != "COMPLETE" or not _within(st, sp):
                    continue
                a["tasks"] += st["numCompleteTasks"]
                a["input_mb"] += st["inputBytes"] / 1e6
                a["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
                a["spill_mb"] += st["diskBytesSpilled"] / 1e6
                a["cpu_s"] += st["executorCpuTime"] / 1e9
        # jobs no span holds: the caller's own, and the checks'
        out = {"_outside_spans": {
            "jobs": sum(1 for j in jobs if not any(_within(j, sp) for sp in self.spans)) / rounds,
        }}
        for layer, a in acc.items():
            # per-call figures are per round; stream figures per batch
            div = rounds
            if layer == "streaming":
                div = sum(sp["units"] for sp in self.spans if sp["layer"] == layer)
            out[layer] = {k: v / div for k, v in a.items()}
        return out
