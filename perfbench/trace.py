"""Spans around calls into the engine's layers, recorded from outside.

Nothing inside ``celeborn_spark`` is edited: ``Tracer.patch_layers``
rebinds each layer's public functions, in every module that imported
them, to a wrapper that records a span (name, start, end, parent).
Spark-side work is read from the driver's REST status API after each
traced pass and attributed to the span whose interval holds each job's
or stage's submission time.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager
from datetime import datetime
from urllib.request import urlopen

PIPELINE_METHODS = (
    "filter_lang",
    "filter_quality",
    "dedup_exact",
    "dedup_near",
    "decontaminate",
    "sample_mixture",
    "pack_shards",
)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch_layers(self) -> None:
        """Rebind the catalog, sources, streaming and pipeline entry
        points (after the query registry has imported them)."""
        from celeborn_spark import catalog, pipeline
        from celeborn_spark.sources import io
        from celeborn_spark.streaming import events

        targets = {
            id(catalog.load_table): ("catalog.load_table", catalog.load_table),
            id(io.write_any): ("sources.write_any", io.write_any),
            id(io.read_any): ("sources.read_any", io.read_any),
            id(events.run_stream_to_table): (
                "streaming.run_stream_to_table",
                events.run_stream_to_table,
            ),
        }
        wrapped = {key: self._wrap(name, fn) for key, (name, fn) in targets.items()}
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("celeborn_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in wrapped and val is targets[id(val)][1]:
                    setattr(mod, attr, wrapped[id(val)])
        for method in PIPELINE_METHODS:
            fn = getattr(pipeline.CorpusPipeline, method)
            setattr(pipeline.CorpusPipeline, method, self._wrap(f"pipeline.{method}", fn))

    def total(self, name: str, within: list[dict]) -> tuple[int, float]:
        """(count, summed seconds) of the spans called ``name`` nested
        under one of ``within``."""
        ids = self._descendants(within)
        hits = [s for s in self.spans if s["name"] == name and s["id"] in ids]
        return len(hits), sum(s["end"] - s["start"] for s in hits)

    def _descendants(self, roots: list[dict]) -> set[int]:
        ids = {r["id"] for r in roots}
        for s in self.spans:  # parents precede children
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _epoch(stamp: str) -> float:
    return datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkStatus:
    """Jobs and completed stages from the driver's REST status API."""

    def __init__(self, sc):
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urlopen(f"{self._base}/{path}", timeout=30) as resp:
            return json.load(resp)

    def settled(self, since: float, timeout_s: float = 5.0) -> tuple[list[dict], list[dict]]:
        """Jobs and completed stages submitted after ``since``, once the
        status store has recorded the end of every such job."""
        deadline = time.time() + timeout_s
        while True:
            jobs = [j for j in self._get("jobs") if _epoch(j["submissionTime"]) >= since]
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.05)
        stages = [
            s
            for s in self._get("stages?status=complete")
            if "submissionTime" in s and _epoch(s["submissionTime"]) >= since
        ]
        return jobs, stages


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(span: dict, jobs: list[dict], stages: list[dict]) -> dict:
    """Spark work submitted inside ``span``'s interval."""
    lo, hi = span["start"], span["end"]
    mine_jobs = [j for j in jobs if lo <= _epoch(j["submissionTime"]) <= hi]
    mine_stages = [s for s in stages if lo <= _epoch(s["submissionTime"]) <= hi]
    job_iv = [
        (
            max(lo, _epoch(j["submissionTime"])),
            min(hi, _epoch(j["completionTime"]) if "completionTime" in j else hi),
        )
        for j in mine_jobs
    ]
    return {
        "jobs": len(mine_jobs),
        "stages": len(mine_stages),
        "tasks": sum(s["numCompleteTasks"] for s in mine_stages),
        "gap_s": (hi - lo) - union_seconds(job_iv),
        "run_s": sum(s["executorRunTime"] for s in mine_stages) / 1e3,
        "cpu_s": sum(s["executorCpuTime"] for s in mine_stages) / 1e9,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in mine_stages) / 1e3,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in mine_stages) / 1e6,
        "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in mine_stages) / 1e6,
        "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in mine_stages) / 1e6,
    }
