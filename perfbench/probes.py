"""Measurement helpers read from outside the program: /proc counters of
the Spark process tree, SQL metrics of the final adaptive plan, the
output checksum and an in-memory span tracer."""

from __future__ import annotations

import json
import os
import platform
import time

_TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ host


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float | None:
    total = t1[1] - t0[1]
    return 100.0 * (t1[0] - t0[0]) / total if total > 0 else None


def host_context(spark, cores: int, seed: int, heap: str) -> dict:
    import pyarrow

    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": os.cpu_count(), "local_n": cores, "seed": seed,
        "loadavg": load, "driver_heap": heap,
        "jvm_max_heap_mb": round(
            spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
        ),
        "spark": spark.version, "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


# ------------------------------------------------------- process tree


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, cpu ticks incl. reaped children) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state; utime..cstime are stat fields 14-17
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def _tree(root: int) -> dict[int, int]:
    """{pid: cpu ticks} of ``root`` and all its live descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1]
            todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by the JVM and its Python workers. A
    finished worker's time is in its parent's cutime/cstime."""
    return sum(_tree(root).values()) / _TICK


def tree_hwm_mb(root: int) -> dict[str, float]:
    """Peak RSS (VmHWM, MB) of the JVM and of each live worker process,
    keyed ``<command>:<pid>``."""
    out = {}
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{fields['Name'].strip()}:{pid}"] = (
                int(fields["VmHWM"].split()[0]) / 1024
            )
    return out


# --------------------------------------------------------- plan metrics


def plan_nodes(df) -> list[dict]:
    """Every node of the final adaptive plan of ``df``'s last execution
    with its SQL metrics converted to seconds, MB or counts. Query
    stages, AQE reads and cached relations are unwrapped."""
    jvm = df.sparkSession._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    root = df._jdf.queryExecution().executedPlan()
    out: list[dict] = []

    def visit(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return visit(node.executedPlan())
        metrics = conv.asJava(node.metrics())
        vals = {}
        for key in metrics.keySet():
            m = metrics.get(key)
            kind, v = m.metricType(), m.value()
            vals[key] = (
                v / 1e3 if kind == "timing" else
                v / 1e9 if kind == "nsTiming" else
                v / 1e6 if kind == "size" else v
            )
        out.append({"name": node.nodeName(), "cls": cls, "metrics": vals})
        if cls.endswith("QueryStageExec"):
            visit(node.plan())
        if cls == "InMemoryTableScanExec":
            visit(node.relation().cacheBuilder().cachedPlan())
        for child in conv.asJava(node.children()):
            visit(child)

    visit(root)
    return out


def node_metrics(nodes: list[dict], name: str) -> list[dict]:
    return [n["metrics"] for n in nodes if n["name"] == name]


# ------------------------------------------------------------- checksum


def checksum_cols(cols: list[str], where=None):
    """Spark twin of ``gen.checksum_sql``: aggregate columns h1, h2 over
    the rows where ``where`` holds (all rows if None)."""
    from pyspark.sql import functions as F

    row = F.md5(F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(c).cast("string"), F.lit("~")) for c in cols],
    ))

    def part(i: int):
        v = F.conv(F.substring(row, i, 8), 16, 10).cast("long")
        return F.sum(v if where is None else F.when(where, v))

    return [part(1).alias("h1"), part(9).alias("h2")]


# --------------------------------------------------------------- tracing


class Tracer:
    """Spans kept in memory: name, start, end, parent and counts. Self
    time is a span's duration minus the time its children cover."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **counts):
        return _Span(self, name, counts)

    def coverage(self, root: str) -> float:
        """Share of span ``root``'s duration covered by its children."""
        sid = next(s["id"] for s in self.spans if s["name"] == root)
        top = self.spans[sid]
        covered = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] == sid
        )
        return covered / (top["end"] - top["start"])

    def dump(self, path: str) -> None:
        for s in self.spans:
            child = sum(
                c["end"] - c["start"] for c in self.spans
                if c["parent"] == s["id"]
            )
            s["self_s"] = (s["end"] - s["start"]) - child
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f, indent=1)


class _Span:
    def __init__(self, tracer: Tracer, name: str, counts: dict) -> None:
        self.tracer, self.name, self.counts = tracer, name, counts

    def __enter__(self) -> dict:
        t = self.tracer
        rec = {
            "id": len(t.spans), "name": self.name,
            "parent": t._stack[-1] if t._stack else None,
            "start": time.perf_counter(), "end": None,
            "counts": self.counts,
        }
        t.spans.append(rec)
        t._stack.append(rec["id"])
        self.rec = rec
        return rec["counts"]

    def __exit__(self, *exc) -> None:
        self.rec["end"] = time.perf_counter()
        self.tracer._stack.pop()
