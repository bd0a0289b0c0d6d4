"""Spans for the traced run: one Spark job group per span, stage metrics
from the in-process status store (works with the UI disabled), and CPU of
the Spark process tree (JVM + Python workers) from /proc.

A span records name, start, end, parent and the ids of the jobs that ran
while it was the innermost open span. Layer figures are inclusive of child
spans except ``self_s``; spans of the same name add up.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """user+sys CPU seconds of ``root_pid`` and all its live descendants,
    plus what they collected from reaped children."""
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        # fields[1] = ppid; [11..14] = utime, stime, cutime, cstime
        stats[int(name)] = (int(fields[1]),
                            sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
            todo.extend(kids.get(pid, ()))
    return total / _CLK


class Tracer:
    """Keeps spans in memory; ``finish()`` reads their jobs and stage
    metrics once, after the traced pass, so the status-store walk is not
    charged to any span."""

    def __init__(self, spark, tag: str) -> None:
        self.sc = spark.sparkContext
        self.tag = tag
        self.jvm_pid = self.sc._gateway.proc.pid
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.t0 = time.perf_counter()

    def _set_group(self) -> None:
        if self.stack:
            self.sc.setJobGroup(self.spans[self.stack[-1]]["group"],
                                self.spans[self.stack[-1]]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def open(self, name: str) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name,
            "parent": self.stack[-1] if self.stack else None,
            "group": f"{self.tag}-{sid}",
            "start": time.perf_counter() - self.t0,
            "cpu0": tree_cpu_s(self.jvm_pid),
        })
        self.stack.append(sid)
        self._set_group()
        return sid

    def close(self, sid: int) -> None:
        """Close ``sid`` and any span still open inside it."""
        while self.stack and sid in self.stack:
            top = self.spans[self.stack.pop()]
            top["end"] = time.perf_counter() - self.t0
            top["cpu_s"] = tree_cpu_s(self.jvm_pid) - top.pop("cpu0")
        self._set_group()

    @contextmanager
    def span(self, name: str):
        sid = self.open(name)
        try:
            yield self.spans[sid]
        finally:
            self.close(sid)

    def finish(self, wall_s: float) -> None:
        """Attach job ids and per-span stage metrics; compute self time
        and the share of ``wall_s`` no span covers."""
        tracker = self.sc.statusTracker()
        owner: dict[int, int] = {}
        for sp in self.spans:
            sp["jobs"] = sorted(tracker.getJobIdsForGroup(sp["group"]))
            for j in sp["jobs"]:
                owner[j] = sp["id"]
        # a stage belongs to the first job that lists it (later jobs that
        # reuse its shuffle output list it as skipped)
        stage_owner: dict[int, int] = {}
        for j in sorted(owner):
            info = tracker.getJobInfo(j)
            for s in (list(info.stageIds) if info else []):
                stage_owner.setdefault(s, owner[j])
        for sp in self.spans:
            sp.update(stages=0, jvm_cpu_s=0.0, run_s=0.0, shuffle_read_mb=0.0,
                      shuffle_write_mb=0.0, spill_mb=0.0, input_mb=0.0,
                      output_mb=0.0)
        gw, jvm = self.sc._gateway, self.sc._jvm
        stages = self.sc._jsc.sc().statusStore().stageList(
            None, False, False, gw.new_array(jvm.double, 0), None)
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = stage_owner.get(st.stageId())
            if sid is None or st.status().toString() != "COMPLETE":
                continue
            sp = self.spans[sid]
            sp["stages"] += 1
            sp["jvm_cpu_s"] += st.executorCpuTime() / 1e9
            sp["run_s"] += st.executorRunTime() / 1e3
            sp["shuffle_read_mb"] += (st.shuffleRemoteBytesRead()
                                      + st.shuffleLocalBytesRead()) / 1e6
            sp["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            sp["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
            sp["input_mb"] += st.inputBytes() / 1e6
            sp["output_mb"] += st.outputBytes() / 1e6
        for sp in self.spans:
            sp["s"] = sp["end"] - sp["start"]
        for sp in self.spans:
            kids = [c for c in self.spans if c["parent"] == sp["id"]]
            sp["self_s"] = sp["s"] - sum(c["s"] for c in kids)
        top = [sp for sp in self.spans if sp["parent"] is None]
        self.uncovered_share = max(0.0, 1.0 - sum(sp["s"] for sp in top) / wall_s)

    def subtree(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(self.spans[cur])
            todo.extend(c["id"] for c in self.spans if c["parent"] == cur)
        return out

    def layer(self, name: str) -> dict:
        """Inclusive figures of every span named ``name`` (summed)."""
        agg = {"s": 0.0, "self_s": 0.0, "jobs": 0, "stages": 0, "cpu_s": 0.0,
               "shuffle_mb": 0.0, "spill_mb": 0.0, "rows_out": 0}
        for sp in self.spans:
            if sp["name"] != name:
                continue
            sub = self.subtree(sp["id"])
            agg["s"] += sp["s"]
            agg["self_s"] += sp["self_s"]
            agg["cpu_s"] += sp["cpu_s"]
            agg["rows_out"] += sp.get("rows_out", 0)
            for d in sub:
                agg["jobs"] += len(d["jobs"])
                agg["stages"] += d["stages"]
                agg["shuffle_mb"] += d["shuffle_write_mb"]
                agg["spill_mb"] += d["spill_mb"]
        return agg

    def records(self) -> list[dict]:
        keep = ("id", "name", "parent", "start", "end", "s", "self_s", "jobs",
                "stages", "cpu_s", "jvm_cpu_s", "run_s", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb", "input_mb", "output_mb",
                "rows_out")
        return [{k: sp[k] for k in keep if k in sp} for sp in self.spans]


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _parse_size(text: str) -> float:
    """Bytes of an SQL size metric as the status store formats it: either
    '12.3 KiB' or 'total (min, med, max ...)\\n12.3 KiB (...)'."""
    line = text.split("\n")[-1]
    m = re.match(r"\s*([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)", line)
    return float(m.group(1)) * _SIZE[m.group(2)] if m else 0.0


def table_shuffle_mb(spark, job_ids: set[int], tables: tuple[str, ...]) -> float:
    """Shuffle MB written by Exchanges fed only by scans of ``tables`` (no
    join or other exchange in between), over the SQL executions that ran
    ``job_ids``."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    total = 0.0
    for i in range(execs.size()):
        ex = execs.apply(i)
        ran = {int(j) for j in re.findall(r"(\d+) ->", ex.jobs().toString())}
        if not ran & job_ids:
            continue
        graph = store.planGraph(ex.executionId())
        nodes = {}
        all_nodes = graph.allNodes()
        for k in range(all_nodes.size()):
            n = all_nodes.apply(k)
            nodes[n.id()] = n
        children: dict[int, list[int]] = {}
        edges = graph.edges()
        for k in range(edges.size()):
            e = edges.apply(k)
            children.setdefault(e.toId(), []).append(e.fromId())
        values = store.executionMetrics(ex.executionId())
        for nid, n in nodes.items():
            if n.name() != "Exchange":
                continue
            cur = children.get(nid, [])
            while len(cur) == 1 and "Exchange" not in nodes[cur[0]].name():
                node = nodes[cur[0]]
                if node.name().startswith("Scan") and any(
                        node.name().endswith(t) for t in tables):
                    ms = n.metrics()
                    for q in range(ms.size()):
                        m = ms.apply(q)
                        if (m.name() == "shuffle bytes written"
                                and values.contains(m.accumulatorId())):
                            total += _parse_size(values.apply(m.accumulatorId()))
                    break
                cur = children.get(cur[0], [])
    return total / 1e6
