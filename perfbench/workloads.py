"""The workloads: what each generates, times, checks and traces.

Each workload exposes

* ``generate(work)`` / ``expected()`` — seeded inputs and the closed-form
  expectation (``gen``);
* ``iterate(spark, input_dir)`` — one timed end-to-end call into the
  program, returning ``(outputs, triples)``;
* ``check(spark, outputs)`` — mismatches against the expectation;
* ``trace(spark, tracer, wall)`` — the traced replay that
  times the public entry point of each layer and returns the per-layer
  metrics it exercises and its own output's mismatches.
"""

from __future__ import annotations

import os
import shutil

from . import gen, probes
from .layers import kernel_and_body, plan_extract_metrics

# per-layer metric -> unit; a layer a workload does not call reports 0
PER_LAYER_UNITS = {
    "sources.scan_s": "s",
    "sources.input_mb": "MB",
    "kernels.busy_s": "s",
    "kernels.share": "ratio",
    **{
        f"kernels.{fmt}.{m}": u
        for fmt in ("ntriples", "jsonld", "rdfa")
        for m, u in (
            ("us_per_doc_p50", "us"), ("us_per_doc_p99", "us"),
            ("stmts_per_doc", "count"),
        )
    },
    "extract.body_busy_s": "s",
    "extract.boundary_share": "ratio",
    "extract.python_total_s": "s",
    "extract.python_boot_s": "s",
    "extract.python_sent_mb": "MB",
    "extract.python_received_mb": "MB",
    "extract.tasks": "count",
    "extract.rows_out": "count",
    "extract.error_rows": "count",
    "reassemble.shuffle_mb": "MB",
    "reassemble.partitions_out": "count",
    "reassemble.max_doc_kb": "KB",
    "link.wall_s": "s",
    "link.mentions": "count",
    "link.links": "count",
    "link.hit_ratio": "ratio",
    "canon.wall_s": "s",
    "canon.edges_in": "count",
    "canon.components": "count",
    "canon.spark_jobs": "count",
    "materialize.wall_s": "s",
    "materialize.written_mb": "MB",
    "materialize.files": "count",
    "materialize.nodes": "count",
    "materialize.edges": "count",
    "run_pipeline.wall_sec": "s",
    "trace.coverage": "ratio",
    "trace.overhead_share": "ratio",
}


class Workload:
    """Shared shape: an extraction over a parquet corpus of ``docs``
    conversations × ``turns`` turns. ``scale`` shrinks the corpus for
    the self-test."""

    name = ""
    docs = 0
    turns = 0
    mixed = False
    # the expected count ``plant`` is added to (the self-test)
    count_key = "triples"
    # timed runs per process, at least (more while --seconds allows)
    min_runs = 2
    # the warm-up reads the first 1/warm_parts of the conversations
    warm_parts = 1

    def __init__(self, seed: int, scale: float, cores: int,
                 plant: int = 0) -> None:
        self.cores = cores
        self.corpus = gen.make_corpus(
            seed, max(gen.N_FILES, int(self.docs * scale)), self.turns,
            self.mixed,
        )
        self.exp = self.expected()
        self.exp[self.count_key] += plant

    def generate(self, work: str) -> None:
        self.input_dir = self.warm_dir = os.path.join(work, "input")
        gen.write_transcripts(self.corpus, self.input_dir)
        if self.warm_parts > 1:
            self.warm_dir = os.path.join(work, "warm")
            gen.write_transcripts(self.corpus.head(self.warm_parts),
                                  self.warm_dir)

    def input_mb(self) -> float:
        return gen.dir_mb(self.input_dir)[0]

    def warm_up(self, spark) -> None:
        """JIT and Python-worker pool: one untimed run of the workload's
        own call. An eighth of the input left the first timed
        extractions visibly slower (the JVM still compiling the
        full-size plan)."""
        self.prepare(spark)
        self.iterate(spark, self.warm_dir)

    def prepare(self, spark) -> None:
        """Untimed work before each timed run."""

    # ---------------------------------------------------- extraction

    def expected(self) -> dict:
        return gen.expected_extract(self.corpus)

    def _aggregate(self, src, tasks: bool = False):
        """``extract_statements(src)`` into the benchmark's sink: triple
        and error-row counts and the output checksum; with ``tasks``,
        also the number of extraction tasks (highest partition id + 1)."""
        from pyspark.sql import functions as F

        from semargl_spark.operators.extract import extract_statements

        st = extract_statements(src)
        ok = F.col("obj_kind") != "error"
        extra = []
        if tasks:
            st = st.withColumn("_task", F.spark_partition_id())
            extra = [(F.max("_task") + 1).alias("tasks")]
        return st.agg(
            F.sum(ok.cast("long")).alias("triples"),
            F.sum((~ok).cast("long")).alias("error_rows"),
            *probes.checksum_cols(gen.STATEMENT_COLS, where=ok),
            *extra,
        )

    def iterate(self, spark, input_dir: str):
        row = self._aggregate(spark.read.parquet(input_dir)).collect()[0]
        row = row.asDict()
        return row, row["triples"] or 0

    def check(self, spark, out: dict) -> list[str]:
        exp = self.exp
        return [
            f"{k}: got {out[k]} expected {exp[k]}"
            for k in ("triples", "error_rows", "h1", "h2")
            if out[k] != exp[k]
        ]

    def trace(self, spark, tracer: probes.Tracer,
              wall: float) -> tuple[dict, list[str]]:
        """Replays the timed call with a span per layer under the root
        span ``run``, and checks its output. Reassembly is not part of
        that call; it is forced on the same corpus in a root span of its
        own, so the ``reassemble`` layer is measured too."""
        from pyspark.sql import functions as F

        from semargl_spark.operators.extract import reassemble_conversations

        with tracer.span("run"):
            with tracer.span("sources"):
                src = spark.read.parquet(self.input_dir)
            with tracer.span("extract") as counts:
                agg = self._aggregate(src, tasks=True)
                row = agg.collect()[0].asDict()
                counts.update(triples=row["triples"], errors=row["error_rows"])
        with tracer.span("reassemble") as counts:
            docs = reassemble_conversations(
                spark.read.parquet(self.input_dir)
            ).agg(
                F.count(F.lit(1)).alias("docs"),
                F.max(F.octet_length("text")).alias("max_bytes"),
            )
            doc_row = docs.collect()[0]
            counts.update(docs=doc_row["docs"])
        shuffle = probes.plan_nodes(docs)
        m = plan_extract_metrics(probes.plan_nodes(agg))
        m.update({
            "extract.tasks": row["tasks"],
            "extract.error_rows": row["error_rows"],
            "reassemble.shuffle_mb": sum(
                x.get("shuffleBytesWritten", 0)
                for x in probes.node_metrics(shuffle, "Exchange")
            ),
            "reassemble.partitions_out": max(
                (x.get("numPartitions", 0)
                 for x in probes.node_metrics(shuffle, "AQEShuffleRead")),
                default=0,
            ),
            "reassemble.max_doc_kb": doc_row["max_bytes"] / 1e3,
        })
        m.update(kernel_and_body(self, tracer, wall))
        return m, self.check(spark, row)

    def l0_docs(self, limit: int):
        """(conv_id, turn_idx, text, fmt) of the turns the kernels see,
        from the first input files, at least ``limit`` rows; and the share
        of the corpus they are."""
        import pyarrow.parquet as pq

        rows, files = [], sorted(os.listdir(self.input_dir))
        for f in files:
            t = pq.read_table(os.path.join(self.input_dir, f))
            rows.extend(zip(*(t.column(c).to_pylist()
                              for c in ("conv_id", "turn_idx", "text", "fmt"))))
            if len(rows) >= limit:
                break
        return rows, len(rows) / self.corpus.n_turns


class TurnsMixed(Workload):
    name = "turns_mixed"
    docs, turns, mixed = 4000, 20, True


class PipelineKG(Workload):
    name = "pipeline_kg"
    docs, turns, mixed = 1000, 20, False
    count_key = "statements"
    # a call is mostly fixed per-job cost (~7 s on 4 cores whatever the
    # input size), so an eighth of the input warms the same code
    warm_parts = 8

    def generate(self, work: str) -> None:
        super().generate(work)
        self.dict_dir = os.path.join(work, "dictionary")
        gen.write_dictionary(self.corpus, self.dict_dir)
        self.out_dir = os.path.join(work, "kg_out")

    def expected(self) -> dict:
        return gen.expected_pipeline(self.corpus)

    def input_mb(self) -> float:
        return super().input_mb() + gen.dir_mb(self.dict_dir)[0]

    def prepare(self, spark) -> None:
        """Each call starts from the input on disk: no output of an
        earlier call, and nothing it left cached (``run()`` leaves its
        ``links`` persisted, and a later call's structurally equal plan
        would read them from the cache)."""
        shutil.rmtree(self.out_dir, ignore_errors=True)
        spark.catalog.clearCache()

    def iterate(self, spark, input_dir: str):
        from jobs.run_pipeline import run

        summary = run(
            spark, input_path=input_dir, output=self.out_dir,
            run_id="perfbench", dictionary=self.dict_dir,
        )
        return summary, summary["statements"]

    def _readback(self, spark, table: str, cols: list[str]) -> list[int]:
        from pyspark.sql import functions as F

        row = spark.read.parquet(os.path.join(self.out_dir, table)).agg(
            F.count(F.lit(1)).alias("n"), *probes.checksum_cols(cols)
        ).collect()[0]
        return [row["n"], row["h1"], row["h2"]]

    def check(self, spark, out: dict) -> list[str]:
        exp = self.exp
        bad = [
            f"{k}: got {out[k]} expected {exp[k]}"
            for k in ("statements", "errors", "nodes", "edges")
            if out[k] != exp[k]
        ]
        for table, cols in (("nodes", ["node", "canonical"]),
                            ("edges", ["src", "pred", "dst"])):
            got = self._readback(spark, table, cols)
            want = [exp[table]] + exp[f"{table}_h"]
            if got != want:
                bad.append(f"{table} table: got {got} expected {want}")
        return bad

    def trace(self, spark, tracer: probes.Tracer,
              wall: float) -> tuple[dict, list[str]]:
        """Replays ``run()`` (as :meth:`iterate` calls it) with a span per
        stage: the same calls and writes in the same order, each stage
        forced inside its span, plus the counts each layer reports. The
        replay's summary and tables are checked like a timed run's, and
        the layer counts against the closed form."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from semargl_spark.operators.canon import connected_components
        from semargl_spark.operators.extract import (
            errors,
            extract_statements,
            triples,
        )
        from semargl_spark.operators.link import extract_mentions, link_entities
        from semargl_spark.operators.materialize import (
            lineage_rows,
            materialize_kg,
            write_lineage,
        )

        sc = spark.sparkContext
        out, run_id = self.out_dir, "perfbench"
        lineage = f"{out}/lineage"
        self.prepare(spark)
        with tracer.span("run"):
            with tracer.span("sources"):
                src = spark.read.parquet(self.input_dir)
            with tracer.span("extract") as counts:
                statements = extract_statements(src).observe(
                    Observation(),
                    F.count(F.lit(1)).alias("rows"),
                    F.sum((F.col("obj_kind") == "error").cast("long"))
                    .alias("error_rows"),
                ).persist()
                st, err = triples(statements), errors(statements)
                # the extraction's plan metrics need an aggregate over it
                agg = statements.withColumn(
                    "_task", F.spark_partition_id()
                ).agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.sum((F.col("obj_kind") == "error").cast("long"))
                    .alias("errors"),
                    (F.max("_task") + 1).alias("tasks"),
                )
                row = agg.collect()[0]
                write_lineage(lineage_rows(st, run_id, "extract"), lineage)
                counts.update(rows=row["rows"], errors=row["errors"])
            with tracer.span("link") as counts:
                links = link_entities(
                    st, spark.read.parquet(self.dict_dir)
                ).persist()
                links.write.mode("overwrite").parquet(f"{out}/links")
                write_lineage(lineage_rows(links, run_id, "link"), lineage)
                counts.update(links=links.count(),
                              mentions=extract_mentions(st).count())
                equiv = links.select(
                    F.col("mention_node").alias("src"),
                    F.col("canonical_iri").alias("dst"),
                ).distinct()
            with tracer.span("canon") as counts:
                sc.setJobGroup("perfbench-canon", "connected components")
                components = connected_components(equiv)
                write_lineage(lineage_rows(components, run_id, "canon"),
                              lineage)
                counts["spark_jobs"] = len(
                    sc.statusTracker().getJobIdsForGroup("perfbench-canon")
                )
                sc.setLocalProperty("spark.jobGroup.id", None)
                counts["edges_in"] = equiv.count()
                counts["components"] = (
                    components.select("component").distinct().count()
                )
            with tracer.span("materialize") as counts:
                mb0, files0 = gen.dir_mb(out)
                summary = materialize_kg(st, components, out, run_id)
                mb, files = gen.dir_mb(out)
                counts.update(nodes=summary["nodes"], edges=summary["edges"],
                              written_mb=mb - mb0, files=files - files0)
            with tracer.span("summary") as counts:
                summary["errors"] = err.count()
                summary["statements"] = st.count()
                counts.update(errors=summary["errors"],
                              statements=summary["statements"])
            statements.unpersist()
        spans = {s["name"]: s for s in tracer.spans}
        dur = lambda n: spans[n]["end"] - spans[n]["start"]  # noqa: E731
        lk, cn, mt = (spans[n]["counts"] for n in ("link", "canon", "materialize"))
        m = plan_extract_metrics(probes.plan_nodes(agg))
        m.update({
            "extract.tasks": row["tasks"],
            "extract.error_rows": row["errors"],
            "link.wall_s": dur("link"),
            "link.mentions": lk["mentions"],
            "link.links": lk["links"],
            "link.hit_ratio": lk["links"] / lk["mentions"] if lk["mentions"] else 0,
            "canon.wall_s": dur("canon"),
            "canon.edges_in": cn["edges_in"],
            "canon.components": cn["components"],
            "canon.spark_jobs": cn["spark_jobs"],
            "materialize.wall_s": dur("materialize"),
            "materialize.written_mb": mt["written_mb"],
            "materialize.files": mt["files"],
            "materialize.nodes": mt["nodes"],
            "materialize.edges": mt["edges"],
        })
        m.update(kernel_and_body(self, tracer, wall))
        bad = self.check(spark, summary)
        exp = self.exp
        bad += [
            f"{name}: got {got} expected {exp[key]}"
            for name, got, key in (
                ("link.mentions", lk["mentions"], "mentions"),
                ("link.links", lk["links"], "links"),
                ("canon.edges_in", cn["edges_in"], "equiv_edges"),
                ("canon.components", cn["components"], "components"),
            )
            if got != exp[key]
        ]
        return m, bad


WORKLOADS = {w.name: w for w in (TurnsMixed, PipelineKG)}
