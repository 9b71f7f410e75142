"""The benchmark's workloads. Each op is the same work every time.

- ``wc_cli``: one in-process CLI word count over a seeded corpus; the
  paper's whole query surface (scan, tokenize, count, bucket sort, text
  sink and rename). Construction is near zero, so it is the control for
  driver-side changes.
- ``registry_construct``: one registry query whose time goes into
  building the plan on the driver (py4j, k-means fits, artifact verify,
  the label-propagation loop), checked against its DuckDB oracle.
- ``stream_hh``: one micro-batch of the count-min heavy-hitter stream,
  the versioned-state loop that writes state beside its reads.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
from collections import Counter

import checks

# ``gen`` pulls in numpy, so workloads import it only after set-up: the
# benchmark's own imports stay out of setup_s.

# SparkContext local properties such as the job group are per thread
# under pinned-thread mode; the registry sets one per (op, query, phase).
GROUP = "perfbench:{wl}:{op}:{q}:{phase}"


class Workload:
    name = ""
    #: ops run before timing starts; chosen from per-op drift measured
    #: on a 4-core host (see perfbench/NOTES.md)
    warmup_ops = 0
    #: spans the traced run must see at least once
    expected_spans: tuple[str, ...] = ()
    #: (module, function, span name) wrapped in the traced run
    traced_functions = (
        ("mapreducewordcount_spark.sources.tables", "load_table",
         "sources.tables.load_table"),
        ("mapreducewordcount_spark.sources.sig_artifacts", "materialize_frame",
         "sources.sig_artifacts.materialize"),
        ("mapreducewordcount_spark.sources.sig_artifacts",
         "materialize_signatures", "sources.sig_artifacts.materialize"),
        ("mapreducewordcount_spark.operators.similarity", "ivf_build",
         "operators.similarity.ivf_build"),
        ("mapreducewordcount_spark.operators.dedup", "dup_groups",
         "operators.dedup.dup_groups"),
        ("mapreducewordcount_spark.operators.wordcount",
         "write_wordcount_output", "operators.wordcount.write_wordcount_output"),
        ("mapreducewordcount_spark.operators.wordcount",
         "rename_to_reference_layout",
         "operators.wordcount.rename_to_reference_layout"),
    )

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.op_no = 0

    def prepare(self) -> None:
        """Untimed: make inputs, import what the op needs."""

    def before_op(self) -> None:
        """Untimed reset between ops."""

    def op(self) -> None:
        raise NotImplementedError

    def check(self) -> str | None:
        """Untimed check of the op just run."""
        return None

    def finish(self) -> str | None:
        """Untimed check after the loop; a failure fails every op."""
        return None

    def after_op_traced(self) -> None:
        """Untimed per-op probes that only the traced run pays for."""

    def layer_metrics(self, timed: list[int]) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass


class WcCli(Workload):
    name = "wc_cli"
    warmup_ops = 5
    expected_spans = ("operators.wordcount.write_wordcount_output",
                      "operators.wordcount.rename_to_reference_layout")
    FILES, LINES_PER_FILE, M = 8, 4000, 4

    def prepare(self) -> None:
        import gen
        from mapreducewordcount_spark import cli

        self.cli = cli
        self.input = os.path.join(self.work, "corpus")
        self.output = os.path.join(self.work, "wc_out")
        counts = gen.write_corpus(self.seed, self.input, self.FILES,
                                  self.LINES_PER_FILE)
        self.want = checks.expected_buckets(counts, self.M)

    def before_op(self) -> None:
        shutil.rmtree(self.output, ignore_errors=True)
        if self.tracer:
            self.spark.sparkContext.setJobGroup(
                GROUP.format(wl=self.name, op=self.op_no, q="cli",
                             phase="run"), "")

    def op(self) -> None:
        with contextlib.redirect_stdout(sys.stderr):
            rc = self.cli.main(["run", "--input", self.input, "--output",
                                self.output, "-m", str(self.M)])
        if rc != 0:
            raise RuntimeError(f"cli exited {rc}")

    def check(self) -> str | None:
        return checks.check_wordcount(self.output, self.want)


class RegistryConstruct(Workload):
    name = "registry_construct"
    warmup_ops = 3
    expected_spans = ("sources.tables.load_table",
                      "sources.sig_artifacts.materialize",
                      "operators.similarity.ivf_build",
                      "operators.dedup.dup_groups")
    QUERIES = ("semantic_dedup_embeddings",)
    # the project's read-only oracle tables (TESTDATA.md), as the tests use
    SF = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")

    def prepare(self) -> None:
        from mapreducewordcount_spark.queries import all_queries
        from mapreducewordcount_spark.sources import tables

        self.tables = tables
        specs = all_queries()
        self.specs = {q: specs[q] for q in self.QUERIES}
        self.last = {}
        self.persisted: list[int] = []

    def before_op(self) -> None:
        # each pass is a fresh job on the same data: no session memo
        # serves one pass's results to the next
        self.spark.catalog.clearCache()
        if hasattr(self.tables, "reset_session_memos"):
            self.tables.reset_session_memos()

    def _phase(self, q: str, phase: str):
        if not self.tracer:
            return contextlib.nullcontext()
        self.spark.sparkContext.setJobGroup(
            GROUP.format(wl=self.name, op=self.op_no, q=q, phase=phase), "")
        return self.tracer.span(f"queries.{phase}")

    def op(self) -> None:
        for q, spec in self.specs.items():
            with self._phase(q, "construct"):
                df = spec.spark_fn(self.spark, self.SF)
            with self._phase(q, "execute"):
                df.write.format("noop").mode("overwrite").save()
            self.last[q] = df

    def finish(self) -> str | None:
        import duckdb

        from tools.oracle_check import canon

        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.SF}/{t}.parquet'")
        for q, spec in self.specs.items():
            got = canon(self.last[q].toPandas())
            want = canon(con.execute(spec.oracle_sql).df())
            why = checks.check_frame(got, want)
            if why:
                return f"{q}: {why}"
        return None

    def after_op_traced(self) -> None:
        self.persisted.append(
            self.spark.sparkContext._jsc.getPersistentRDDs().size())

    def layer_metrics(self, timed: list[int]) -> dict[str, float]:
        c = self.tracer.per_op("queries.construct", timed)
        e = self.tracer.per_op("queries.execute", timed)
        return {"queries.construct_s": c[0], "queries.execute_s": e[0],
                "queries.construct_share": c[0] / (c[0] + e[0]),
                "queries.construct_py4j_calls": c[2],
                "cache.persisted_rdds_after_op": self.persisted[-1]}


class StreamHH(Workload):
    name = "stream_hh"
    warmup_ops = 4
    BATCH_LINES, K = 5000, 20

    def prepare(self) -> None:
        import gen
        from pyspark.sql import types as T

        from mapreducewordcount_spark.streaming.jobs import (
            start_cms_heavy_hitters,
        )

        self.watch = os.path.join(self.work, "watch")
        self.staging = os.path.join(self.work, "staging")
        self.out = os.path.join(self.work, "hh_out")
        self.state = os.path.join(self.work, "hh_state")
        os.makedirs(self.watch)
        os.makedirs(self.staging)
        self.gen = gen
        self.vocab = gen.vocabulary(self.seed)
        self.exact = Counter()
        lines = (self.spark.readStream
                 .schema(T.StructType([T.StructField("value", T.StringType())]))
                 .option("pathGlobFilter", "*.txt")
                 .text(self.watch))
        self.query = start_cms_heavy_hitters(
            lines, state_dir=self.state, out_dir=self.out,
            checkpoint_dir=os.path.join(self.work, "hh_ckpt"), k=self.K)
        self.state_mb: list[float] = []
        self.state_versions: list[int] = []

    def before_op(self) -> None:
        self.lines = self.gen.text_lines(self.seed, 1000 + self.op_no,
                                    self.BATCH_LINES, self.vocab)
        self.staged = os.path.join(self.staging, f"b{self.op_no:05d}.txt")
        with open(self.staged, "w") as f:
            f.write("\n".join(self.lines) + "\n")

    def op(self) -> None:
        # atomic rename: the file source never sees a half-written batch
        os.rename(self.staged, os.path.join(self.watch,
                                            os.path.basename(self.staged)))
        self.query.processAllAvailable()

    def check(self) -> str | None:
        import pandas as pd

        self.exact.update(self.gen.oracle_counts(self.lines))
        versions = [d for d in os.listdir(self.out) if d.startswith("v")]
        latest = max(versions, key=lambda d: int(d[1:]))
        if latest != f"v{self.op_no + 1}":
            return f"latest emitted version {latest}, want v{self.op_no + 1}"
        top = pd.read_parquet(os.path.join(self.out, latest))
        return checks.check_heavy_hitters(
            dict(zip(top["word"], top["cms_count"])), self.exact)

    def after_op_traced(self) -> None:
        size, versions = 0, 0
        for d, dirs, files in os.walk(self.state):
            versions += sum(1 for x in dirs if x.startswith("v"))
            size += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        self.state_mb.append(size / (1024 * 1024))
        self.state_versions.append(versions)

    def layer_metrics(self, timed: list[int]) -> dict[str, float]:
        prog = {}
        for p in self.query.recentProgress:
            p = json.loads(p.json)
            if p.get("numInputRows", 0) > 0:
                prog[p["batchId"]] = p["durationMs"]
        rows = [prog[i] for i in timed if i in prog]

        def med(*keys: str) -> float:
            return statistics.median(sum(d.get(k, 0) for k in keys) / 1000.0
                                     for d in rows)

        return {"streaming.trigger_s": med("triggerExecution"),
                "streaming.add_batch_s": med("addBatch"),
                "streaming.commit_s": med("walCommit", "commitOffsets"),
                "streaming.state_mb": self.state_mb[-1],
                "streaming.state_versions": self.state_versions[-1]}

    def close(self) -> None:
        self.query.stop()


WORKLOADS = {w.name: w for w in (WcCli, RegistryConstruct, StreamHH)}
