"""Extraction layers timed apart from Spark.

* L0 ``kernels``: the parser kernels alone, one core, on pre-decoded
  text — each document timed on its own.
* L1 ``extract.body``: the function ``extract_statements`` hands to
  ``mapInArrow``, captured with a stub frame and run in process over
  Arrow batches of the same documents.
* L2 ``extract`` engine: the ``MapInArrow`` node's SQL metrics in the
  final adaptive plan (:func:`plan_extract_metrics`).

L0 and L1 run over the same sample (a quarter of the corpus), three
times each in alternation; each reports its median, scaled to the whole
corpus by the sample's row share.
"""

from __future__ import annotations

import statistics
import time

from . import probes

FORMATS = ("ntriples", "jsonld", "rdfa")
# L0/L1 run over this share of the corpus's documents, REPS times each
SAMPLE_SHARE = 0.25
REPS = 3
# spark.sql.execution.arrow.maxRecordsPerBatch of tuned_session
ARROW_BATCH = 20000


def plan_extract_metrics(nodes: list[dict]) -> dict:
    mia = probes.node_metrics(nodes, "MapInArrow")
    m = mia[0] if mia else {}
    scans = [n["metrics"] for n in nodes if n["cls"] == "FileSourceScanExec"]
    return {
        "sources.scan_s": sum(s.get("scanTime", 0) for s in scans),
        "extract.python_total_s": m.get("pythonTotalTime", 0),
        "extract.python_boot_s": m.get("pythonBootTime", 0),
        "extract.python_sent_mb": m.get("pythonDataSent", 0),
        "extract.python_received_mb": m.get("pythonDataReceived", 0),
        "extract.rows_out": m.get("pythonNumRowsReceived", 0),
    }


class _Capture:
    """Stands in for the DataFrame ``extract_statements`` receives and
    keeps the function it passes to ``mapInArrow``."""

    def __init__(self, columns: list[str]) -> None:
        self.columns = columns
        self.fn = None

    def select(self, *cols):
        return self

    def mapInArrow(self, fn, schema):
        self.fn = fn
        return self


def run_l0(rows) -> tuple[float, dict[str, list[int]], dict[str, int]]:
    """Kernel calls one document at a time: (busy seconds, per-format
    nanoseconds of each call, per-format statements). The kernels are
    built the way ``extract_statements`` builds them for a corpus
    without a ``doc_key`` column."""
    from semargl_spark.operators.extract import _parse_text, doc_uri

    kernels = {f: _parse_text(f) for f in FORMATS}
    times: dict[str, list[int]] = {f: [] for f in FORMATS}
    stmts = dict.fromkeys(FORMATS, 0)
    clock = time.perf_counter_ns
    for conv, tix, text, fmt in rows:
        if fmt not in kernels or not text:
            continue
        base, key = doc_uri(conv, tix), f"{conv}_{tix}"
        t0 = clock()
        out, _errs = kernels[fmt](text, base, key)
        times[fmt].append(clock() - t0)
        stmts[fmt] += len(out)
    return sum(sum(t) for t in times.values()) / 1e9, times, stmts


def _doc_stats(times: dict[str, list[int]], stmts: dict[str, int]) -> dict:
    stats = {}
    for f in FORMATS:
        us = sorted(t / 1e3 for t in times[f])
        n = len(us)
        stats[f] = {
            "us_per_doc_p50": statistics.median(us) if us else 0,
            "us_per_doc_p99": us[min(n - 1, int(n * 0.99))] if us else 0,
            "stmts_per_doc": stmts[f] / n if n else 0,
        }
    return stats


def run_l1(rows) -> tuple[float, int]:
    """(busy seconds, rows out) of the mapInArrow body over the rows."""
    import pyarrow as pa

    from semargl_spark.operators.extract import extract_statements

    conv, tix, text, fmt = (list(c) for c in zip(*rows))
    table = pa.table({
        "conv_id": pa.array(conv, pa.string()),
        "turn_idx": pa.array(tix, pa.int32()),
        "text": pa.array(text, pa.string()),
        "fmt": pa.array(fmt, pa.string()),
    })
    batches = table.to_batches(max_chunksize=ARROW_BATCH)
    cap = _Capture(table.column_names)
    extract_statements(cap)
    t0 = time.perf_counter()
    n = sum(b.num_rows for b in cap.fn(iter(batches)))
    return time.perf_counter() - t0, n


def kernel_and_body(workload, tracer: probes.Tracer, wall: float) -> dict:
    """L0 and L1 on a sample of ``workload``'s documents, scaled to the
    whole corpus. They alternate ``REPS`` times, each repetition its own
    root span, and each layer reports its median; a single pass was
    dominated by whichever layer ran first on a cold interpreter."""
    rows, share = workload.l0_docs(
        max(1, int(workload.corpus.n_turns * SAMPLE_SHARE))
    )
    l0s, l1s = [], []
    times: dict[str, list[int]] = {f: [] for f in FORMATS}
    stmts = dict.fromkeys(FORMATS, 0)
    for _ in range(REPS):
        with tracer.span("kernels", docs=len(rows)) as counts:
            busy, t, st = run_l0(rows)
            counts["busy_s"] = busy
        l0s.append(busy)
        for f in FORMATS:
            times[f] += t[f]
            stmts[f] += st[f]
        with tracer.span("extract.body", docs=len(rows)) as counts:
            busy, n = run_l1(rows)
            counts.update(busy_s=busy, rows_out=n)
        l1s.append(busy)
    l0, l1 = statistics.median(l0s), statistics.median(l1s)
    m = {
        "kernels.busy_s": l0 / share,
        "kernels.share": (l0 / share) / (wall * workload.cores) if wall else 0,
        "extract.body_busy_s": l1 / share,
        "extract.boundary_share": (l1 - l0) / l1 if l1 else 0,
    }
    for f, st in _doc_stats(times, stmts).items():
        for k, v in st.items():
            m[f"kernels.{f}.{k}"] = v
    return m
