"""Layer attribution from outside the package.

``Tracer.install()`` wraps the package's public entry points (the layer
boundaries) with spans. Each span sets a Spark job group, so the
executor work of every job lands on the innermost span that launched
it; ``harvest()`` reads the stage totals back from the status store.
Spans stay in memory and are written out once, at the end of a run.
Self time is a span's duration minus its child spans.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

from picsure_dictionary_etl_spark.cdc import runner as runner_mod
from picsure_dictionary_etl_spark.cdc.runner import CdcRunner
from picsure_dictionary_etl_spark.lake.table import LakeTable

EXEC_FIELDS = (
    "exec_run_s", "exec_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def _write_name(args, kwargs) -> str:
    subdir = kwargs.get("subdir", args[4] if len(args) > 4 else None)
    return {"delta": "lake.merge.delta_write", "base": "lake.merge.compact"}.get(
        subdir, "lake.table.write_data_files"
    )


class Tracer:
    """Spans around layer entry points, recorded while ``enabled``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple] = []
        self.enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": f"perfbench-{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def _wrap(self, owner, attr: str, name, on_result=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            label = name(args, kwargs) if callable(name) else name
            with tracer.span(label) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    rec["attrs"].update(on_result(args, kwargs, out))
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        def merge_metrics(args, kwargs, result):
            m = result.metrics
            return {k: m.get(k) or 0 for k in ("rows_in", "winners")}

        def written(args, kwargs, files):
            table = args[0]
            paths = [os.path.join(table.root, f) for fl in files.values() for f in fl]
            return {"buckets": len(files), "bytes": sum(os.path.getsize(p) for p in paths)}

        def scanned(args, kwargs, df):
            table, buckets = args[0], args[1]
            snap = args[2] if len(args) > 2 else kwargs.get("snapshot") or table.current()
            return {"files": sum(len(snap.files.get(str(b), [])) for b in buckets)}

        self._wrap(CdcRunner, "apply_batch", "cdc.runner.apply_batch")
        self._wrap(runner_mod, "merge_into", "lake.merge.merge_into", merge_metrics)
        self._wrap(LakeTable, "write_data_files", _write_name, written)
        self._wrap(LakeTable, "commit", "lake.table.commit")
        self._wrap(LakeTable, "current", "lake.table.current")
        self._wrap(LakeTable, "read_keys", "lake.table.read_keys")
        self._wrap(LakeTable, "read_buckets", "lake.table.read_buckets", scanned)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---------- after the run ----------

    def harvest(self, stream_groups: dict[str, str] | None = None) -> None:
        """Attach each span's own executor totals (jobs in its group).
        ``stream_groups`` maps a streaming query's run id (its job
        group) to the span that ran it."""
        store = self.sc._jsc.sc().statusStore()
        by_id = {s["id"]: s for s in self.spans}
        groups = {**{k: k for k in by_id}, **(stream_groups or {})}
        stage_span: dict[int, str] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            g = job.jobGroup()
            if not g.isDefined() or g.get() not in groups:
                continue
            ids = job.stageIds()
            for k in range(ids.size()):
                stage_span.setdefault(ids.apply(k), groups[g.get()])
        empty = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        stages = store.stageList(None, False, False, empty, None)
        for s in self.spans:
            s["exec"] = dict.fromkeys(EXEC_FIELDS, 0.0)
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = stage_span.get(st.stageId())
            if sid is None:
                continue
            e = by_id[sid]["exec"]
            e["exec_run_s"] += st.executorRunTime() / 1e3
            e["exec_cpu_s"] += st.executorCpuTime() / 1e9
            e["gc_s"] += st.jvmGcTime() / 1e3
            e["shuffle_read_bytes"] += st.shuffleReadBytes()
            e["shuffle_write_bytes"] += st.shuffleWriteBytes()
            e["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        # self time and inclusive executor totals, children before parents
        for s in self.spans:
            s["dur"] = s["t1"] - s["t0"]
            s["child_dur"] = 0.0
            s["incl"] = dict(s["exec"])
        for s in reversed(self.spans):
            p = by_id.get(s["parent"])
            if p is not None:
                p["child_dur"] += s["dur"]
                for k in EXEC_FIELDS:
                    p["incl"][k] += s["incl"][k]
        for s in self.spans:
            s["self"] = s["dur"] - s["child_dur"]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def descendants(self, root: dict) -> list[dict]:
        """``root`` and every span below it (spans are recorded in
        start order, so descendants follow their ancestor)."""
        ids, out = {root["id"]}, [root]
        for s in self.spans[self.spans.index(root) + 1 :]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out
