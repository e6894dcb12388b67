"""The benchmark's workloads.

Closed loop, one client: the next operation starts when the previous
one has returned.  Each operation is one user-visible call, path in and
checked result out, timed from outside the package.  Outputs are
checked after the clock stops, against the generator's expectations.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

import checks
import gen


def _load(path: str, corrupt: bool) -> dict:
    with open(path, encoding="utf-8") as fh:
        expected = json.load(fh)
    return checks.corrupt(expected) if corrupt else expected


def _ticks(stat_path: str) -> int:
    with open(stat_path, encoding="ascii", errors="replace") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])  # utime + stime


class CpuClock:
    """CPU seconds used so far by this process and the JVM (user +
    system), less the JVM's JIT compiler threads (``jit()``).  The JIT
    compiles in the background at a pace set by how busy the machine
    is, so its time is kept apart.  The JVM runs a fixed set of compiler
    threads (``-XX:-UseDynamicNumberOfCompilerThreads``), so none exits
    and takes its time out of the sum."""

    def __init__(self, jvm_pid: int):
        self.jvm_stat = f"/proc/{jvm_pid}/stat"
        task = f"/proc/{jvm_pid}/task"
        self.compilers = []
        for tid in os.listdir(task):
            try:
                with open(f"{task}/{tid}/comm", encoding="ascii", errors="replace") as fh:
                    if "CompilerThre" in fh.read():  # "C1/C2 CompilerThread<n>"
                        self.compilers.append(f"{task}/{tid}/stat")
            except FileNotFoundError:  # a thread that has just ended
                pass
        self.hz = os.sysconf("SC_CLK_TCK")

    def jit(self) -> float:
        return sum(map(_ticks, self.compilers)) / self.hz

    def __call__(self) -> float:
        t = os.times()
        return t.user + t.system + _ticks(self.jvm_stat) / self.hz - self.jit()


def canary_cpu_s(ctx: "Context") -> float:
    """CPU seconds (``Context.cpu``) of a fixed pure-engine aggregate: no
    package code, no I/O.  It costs twice as much in some stretches of
    a shared machine as in others, as the operations do, so it is the
    yardstick ``op_cpu_s`` and ``setup_s`` are scaled by (run.py)."""
    c0 = ctx.cpu()
    (ctx.spark.range(0, 150_000_000, 1, 4)
     .selectExpr("sum(id * 3 + 1) as s", "count(1) as n")
     .write.format("noop").mode("overwrite").save())
    return ctx.cpu() - c0


class Context:
    """What an operation needs: the session, the package modules (looked
    up at call time, so traced runs see the wrapped functions), the CPU
    clock of the driver and the JVM, and the tracer (None when tracing
    is off)."""

    def __init__(self, spark, modules: dict, jvm_pid: int, tracer, corrupt: bool):
        self.spark = spark
        self.m = modules
        self.cpu = CpuClock(jvm_pid)
        self.tracer = tracer
        self.corrupt = corrupt

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


def run_op(ctx: Context, op_id: int, rows: int, call, check) -> dict:
    """Time ``call()`` as one operation, then check its result.  An
    operation that raises counts as failed."""
    rec = {"op": op_id, "rows": rows, "errors": []}
    if ctx.tracer:
        ctx.tracer.op = op_id
    out = None
    with ctx.span("op"):
        rec["wall_start"] = time.time()
        j0, c0, t0 = ctx.cpu.jit(), ctx.cpu(), time.perf_counter()
        try:
            out = call()
        except Exception as exc:  # the failure is the measurement
            rec["errors"].append(f"raised {type(exc).__name__}: {str(exc)[:300]}")
        rec["seconds"] = time.perf_counter() - t0
        rec["cpu_s"] = ctx.cpu() - c0
        rec["jit_s"] = ctx.cpu.jit() - j0
        rec["wall_end"] = time.time()
    if ctx.tracer:
        ctx.tracer.op = None
    rec["canary_cpu_s"] = canary_cpu_s(ctx)
    if not rec["errors"]:
        rec["errors"] = check(out, rec)
    return rec


def repeat(op, ctx: Context, item: dict, deadline: float) -> list[dict]:
    """Operations on the same input until the deadline."""
    ops: list[dict] = []
    while time.perf_counter() < deadline:
        ops.append(op(ctx, len(ops), item))
    return ops


class ArchiveManySmall:
    """A distinct small DwC-A per operation: ``validate_archive`` then
    ``report_to_json``."""

    name = "archive_many_small"

    @staticmethod
    def pool(seconds: int) -> int:
        return 3 * seconds + 4

    @staticmethod
    def trace(tracer, m) -> None:
        arch = m["operators.archive"]
        tracer.patch(m["package"], "validate_archive", "archive.validate_archive")
        tracer.patch(m["package"], "report_to_json", "model.to_json")
        tracer.patch(arch, "read_descriptor", "dwca.read_descriptor")
        tracer.patch(arch, "read_archive_table", "dwca.read_table")
        tracer.patch(arch, "validate_occurrence_dataframe", "validate.call")
        tracer.patch(arch, "validate_event_dataframe", "validate.call")
        tracer.patch(arch, "generate_breakdowns", "breakdown.call")

    def _op(self, ctx: Context, op_id: int, item: dict) -> dict:
        pkg = ctx.m["package"]
        expected = _load(item["expect"], ctx.corrupt)

        def call():
            return pkg.report_to_json(pkg.validate_archive(ctx.spark, item["path"]))

        def check(text, rec):
            rec["report_bytes"] = len(text.encode("utf-8"))
            return checks.check_report(text, expected)

        return run_op(ctx, op_id, item["rows"], call, check)

    def warm(self, ctx: Context, items: list[dict], first: int = -1) -> list[dict]:
        return [self._op(ctx, first - i, item) for i, item in enumerate(items)]

    def run(self, ctx: Context, manifest: dict, deadline: float) -> list[dict]:
        ops = []
        for i, item in enumerate(manifest["ops"]):
            if time.perf_counter() >= deadline:
                break
            ops.append(self._op(ctx, i, item))
        return ops


class ArchiveLarge(ArchiveManySmall):
    """One Occurrence archive of 100k rows in 4 CSV files, validated
    again and again: per-row work (CSV parse, the one-pass aggregate
    with its distinct-ID count, breakdown shuffles) dominates."""

    name = "archive_large"

    @staticmethod
    def pool(seconds: int) -> int:
        return 1

    def run(self, ctx: Context, manifest: dict, deadline: float) -> list[dict]:
        return repeat(self._op, ctx, manifest["ops"][0], deadline)


class CorpusDedup:
    """Exact keepers (``prepare_training_corpus``) plus near-duplicate
    pairs (``minhash_lsh_pairs``) of one document corpus."""

    name = "corpus_dedup"
    threshold = 0.7  # minhash_lsh_pairs' default

    @staticmethod
    def pool(seconds: int) -> int:
        return 1

    @staticmethod
    def trace(tracer, m) -> None:
        # both calls return lazy frames: their spans, opened around call
        # plus collect, are in _op
        tracer.patch_observed(m["operators.dedup"], "lsh_candidate_pairs",
                              "dedup.lsh_candidates")

    def __init__(self) -> None:
        self._texts: dict[str, dict[int, str]] = {}

    def _texts_of(self, path: str) -> dict[int, str]:
        if path not in self._texts:
            import pyarrow.parquet as pq

            t = pq.read_table(path).to_pydict()
            self._texts[path] = dict(zip(t["doc_id"], t["text"]))
        return self._texts[path]

    def _op(self, ctx: Context, op_id: int, item: dict) -> dict:
        pipeline, dedup = ctx.m["operators.pipeline"], ctx.m["operators.dedup"]
        expected = _load(item["expect"], ctx.corrupt)

        def call():
            df = ctx.spark.read.parquet(item["path"])
            with ctx.span("dedup.exact"):
                keepers = [r[0] for r in pipeline.prepare_training_corpus(df)
                           .select("doc_id").collect()]
            with ctx.span("dedup.lsh_call"):
                pairs = [tuple(r) for r in dedup.minhash_lsh_pairs(df).collect()]
            return keepers, pairs

        def check(out, rec):
            keepers, pairs = out
            rec["verified_pairs"] = len(pairs)
            return checks.check_dedup(keepers, pairs, self._texts_of(item["path"]),
                                      expected, self.threshold)

        return run_op(ctx, op_id, item["rows"], call, check)

    def warm(self, ctx: Context, items: list[dict], first: int = -1) -> list[dict]:
        return [self._op(ctx, first - i, item) for i, item in enumerate(items)]

    def run(self, ctx: Context, manifest: dict, deadline: float) -> list[dict]:
        return repeat(self._op, ctx, manifest["ops"][0], deadline)


class StreamValidation:
    """A file-source stream of occurrence CSVs, one file per trigger,
    into ``validation_report_sink``.  One operation is one micro-batch,
    timed from one fold of the running report to the next; one pass
    streams one group of files with a fresh query."""

    name = "stream_validation"

    @staticmethod
    def pool(seconds: int) -> int:
        return 1

    @staticmethod
    def trace(tracer, m) -> None:
        # report_sink imports the validator from this module at call time
        tracer.patch(m["operators.validate"], "validate_occurrence_dataframe",
                     "validate.call")

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.fold_s: list[float] = []
        self._union_checked = False

    def _report_class(self, ctx: Context):
        base = ctx.m["streaming.report_sink"].RunningReport
        tracer, fold_s, cpu = ctx.tracer, self.fold_s, ctx.cpu

        class TimedReport(base):
            """Records when each fold returns and how long it took."""

            def __init__(self):
                super().__init__()
                # clock, wall, CPU, JIT CPU
                self.marks: list[tuple[float, float, float, float]] = []

            def fold(self, batch_report, batch_id=None):
                t0 = time.perf_counter()
                if tracer:
                    with tracer.span("stream.fold"):
                        super().fold(batch_report, batch_id=batch_id)
                else:
                    super().fold(batch_report, batch_id=batch_id)
                t1 = time.perf_counter()
                fold_s.append(t1 - t0)
                self.marks.append((t1, time.time(), cpu(), cpu.jit()))

        return TimedReport

    def _pass(self, ctx: Context, pass_id: int, item: dict, first_op: int) -> list[dict]:
        from pyspark.sql.types import StringType, StructField, StructType

        sink = ctx.m["streaming.report_sink"]
        expected = _load(item["expect"], ctx.corrupt)
        schema = StructType([StructField(t, StringType()) for t in gen.OCC_CORE])
        running = self._report_class(ctx)()
        if ctx.tracer:
            ctx.tracer.op = pass_id
        errors: list[str] = []
        with ctx.span("stream.pass"):
            t0, w0, c0, j0 = time.perf_counter(), time.time(), ctx.cpu(), ctx.cpu.jit()
            try:
                stream = (ctx.spark.readStream.schema(schema)
                          .options(header=True, sep="\t", maxFilesPerTrigger=1)
                          .csv(item["path"]))
                query = sink.validation_report_sink(
                    stream, ["occurrenceID"], running, queryName=f"pass_{pass_id}")
                query.awaitTermination()
                self.progress += [dict(p["durationMs"]) for p in query.recentProgress
                                  if p["numInputRows"]]
            except Exception as exc:  # the failure is the measurement
                errors.append(f"raised {type(exc).__name__}: {str(exc)[:300]}")
        if ctx.tracer:
            ctx.tracer.op = None
        if not errors:
            got = ctx.m["package"].report_to_dict(running.report)
            errors = checks.check_df_report(got, expected)
            if not self._union_checked and pass_id >= 0:
                # once per run: the fold equals the batch validator on the union
                self._union_checked = True
                union = (ctx.spark.read.schema(schema)
                         .options(header=True, sep="\t").csv(item["path"]))
                batch = ctx.m["operators.validate"].validate_occurrence_dataframe(
                    union, ["occurrenceID"])
                errors += [f"fold vs batch: {e}" for e in checks.check_df_report(
                    got, ctx.m["package"].report_to_dict(batch))]
        ops, prev = [], (t0, w0, c0, j0)
        for k in range(item["files"]):
            rec = {"op": first_op + k, "rows": item["file_rows"], "errors": list(errors)}
            if k < len(running.marks):
                mark = running.marks[k]
                rec.update(seconds=mark[0] - prev[0], wall_start=prev[1], wall_end=mark[1],
                           cpu_s=mark[2] - prev[2], jit_s=mark[3] - prev[3])
                prev = mark
            else:  # the batch never folded
                rec.update(seconds=time.perf_counter() - prev[0], wall_start=prev[1],
                           wall_end=time.time(), cpu_s=ctx.cpu() - prev[2],
                           jit_s=ctx.cpu.jit() - prev[3])
                rec["errors"] = rec["errors"] or ["micro-batch was not folded"]
            ops.append(rec)
        canary = canary_cpu_s(ctx)
        for rec in ops:
            rec["canary_cpu_s"] = canary
        return ops

    def warm(self, ctx: Context, items: list[dict], first: int = -1) -> list[dict]:
        ops = []
        for i, item in enumerate(items):
            ops += self._pass(ctx, first - i, item, 1000 * (first - i))
        self.progress.clear()
        self.fold_s.clear()
        return ops

    def run(self, ctx: Context, manifest: dict, deadline: float) -> list[dict]:
        ops, groups, passes = [], manifest["ops"], 0
        while time.perf_counter() < deadline:
            ops += self._pass(ctx, passes, groups[passes % len(groups)], len(ops))
            passes += 1
        return ops


WORKLOADS = {w.name: w for w in (ArchiveManySmall, ArchiveLarge, CorpusDedup,
                                  StreamValidation)}
