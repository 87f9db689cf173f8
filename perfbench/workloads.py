"""The benchmark's workloads. Each is a closed loop with one client: a pass
starts only after the previous one finished.

A workload stages its input from the seed, runs passes, and checks the
program's outputs against :mod:`oracle`. Every call into a layer of the
program sits inside a ``ctx.tracer`` span named ``<layer>.<function>``.
"""

from __future__ import annotations

import contextlib
import io
import json
import math
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from oracle import continuity_violations, dir_bytes
from spans import median, tail_percentile

from fsharp_data_validation_spark import cache
from fsharp_data_validation_spark.functions import compiler, schema_contract
from fsharp_data_validation_spark.operators import checks, crossrow, drift, stats
from fsharp_data_validation_spark.operators.transcript_suite import transcript_row_suite
from fsharp_data_validation_spark.plans import manifest
from fsharp_data_validation_spark.sources import transcripts
from fsharp_data_validation_spark.streaming.validate_stream import (
    turn_continuity_stream,
    validate_stream,
)

KEY = ["conv_id", "turn_idx", "ts"]
PROFILE_COLS = ["conv_id", "turn_idx", "role", "text", "tool"]
QUANTILES = [0.25, 0.5, 0.75, 0.95]
DRIFT = ("psi", "ks", "js", "w1")


def force(df) -> None:
    """Evaluate a DataFrame fully on the executors; nothing is collected."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    turns = 0  # rows of the generated table
    verify_every_pass = False  # else only the last timed pass is checked

    def stage(self, ctx) -> None:
        """Staging beyond the generated table in ``ctx.input_dir``."""

    def reference(self, ctx) -> None:
        """Expected answers beyond ``ctx.oracle_counts``, computed once."""

    def run_pass(self, ctx) -> dict:
        raise NotImplementedError

    def verify(self, ctx, facts: dict) -> None:
        """Compare one pass's outputs with the oracle through ``ctx.check``."""

    def end_to_end(self, ctx, facts: list[dict]) -> dict:
        """Workload-specific end-to-end metrics over the timed passes."""
        return {}

    def probes(self, ctx) -> None:
        """Traced runs only: extra layer calls timed once, after the passes."""

    def patches(self) -> list:
        """Traced runs only: ``(owner, attr, span name)`` to wrap in spans."""
        return []

    def batches_per_pass(self, ctx) -> int:
        return 0

    def read(self, ctx):
        with ctx.tracer.span("sources.load_transcripts"):
            return transcripts.load_transcripts(ctx.spark, ctx.input_dir)


class RowSuite(Workload):
    """``transcript_row_suite().run``: violations, valid rows and the JSON
    reports of failing rows, each forced by a ``noop`` write. One projection,
    no Exchange."""

    name = "row_suite"
    turns = 200_000

    def run_pass(self, ctx) -> dict:
        df = self.read(ctx)
        T = ctx.tracer
        with T.span("compiler.build"):
            suite = transcript_row_suite()
            res = suite.run(df, KEY)
            reports = df.filter(suite.any_failure_column()).select(
                *KEY, suite.report_json_column().alias("report")
            )
        with T.span("compiler.violations"):
            force(res.violations)
        with T.span("compiler.valid"):
            force(res.valid)
        with T.span("compiler.reports"):
            force(reports)
        return {"res": res, "reports": reports}

    def verify(self, ctx, facts):
        res = facts["res"]
        got = {
            (r["path_str"], r["code"]): r["count"]
            for r in res.violations.groupBy("path_str", "code").count().collect()
        }
        ctx.check("violations per (path, code)", got, ctx.oracle_counts)
        facts["violation_rows"] = sum(got.values())
        rv = ctx.oracle.rows_with_violations()
        ctx.check("valid rows", res.valid.count(), ctx.turns - rv)
        ctx.check("report rows", facts["reports"].count(), rv)


class TableChecks(Workload):
    """Cross-row checks, column statistics, per-day drift and dataset checks
    on the same table, then ``release_caches``. Shuffle- and
    aggregation-bound; the hot conversations skew it."""

    name = "table_checks"
    turns = 200_000

    def run_pass(self, ctx) -> dict:
        T, spark = ctx.tracer, ctx.spark
        df = self.read(ctx)
        tl = df.withColumn("text_len", F.length("text"))
        out = {}
        with T.span("crossrow.uniqueness_violations"):
            out["uniqueness"] = crossrow.uniqueness_violations(df, ["conv_id", "turn_idx"])
            force(out["uniqueness"])
        with T.span("crossrow.referential_violations"):
            out["referential"] = crossrow.referential_violations(
                df, "tool", transcripts.tool_catalog(spark), "tool", ["conv_id", "turn_idx", "tool"]
            )
            force(out["referential"])
        with T.span("crossrow.ordering_violations"):
            out["ordering"] = crossrow.ordering_violations(df)
            force(out["ordering"])
        with T.span("stats.column_profile"):
            force(stats.column_profile(df, PROFILE_COLS))
        with T.span("stats.approx_quantiles"):
            force(stats.approx_quantiles(tl, "text_len", QUANTILES))
        for fn in DRIFT:
            with T.span(f"drift.{fn}_by_group"):
                with T.span("drift.build"):
                    d = getattr(drift, f"{fn}_by_group")(tl, "part_date", "text_len", 25.0, 20)
                force(d)
        with T.span("drift.chi2_by_group"):
            with T.span("drift.build"):
                d = drift.chi2_by_group(df, "part_date", "role")
            force(d)
        out["persisted"] = cache.tracked_count()
        with T.span("checks.dataset_checks"):
            force(checks.dataset_checks(df, dataset_check_suite()))
        with T.span("cache.release_caches"):
            cache.release_caches(spark)
        out["tracked_after"] = cache.tracked_count()
        return out

    def verify(self, ctx, facts):
        o = ctx.oracle
        ctx.check("uniqueness groups", facts["uniqueness"].count(), o.uniqueness())
        ctx.check("referential rows", facts["referential"].count(), o.referential())
        ctx.check("ordering rows", facts["ordering"].count(), o.ordering())
        ctx.check("tracked caches after release", facts["tracked_after"], 0)


def dataset_check_suite() -> list:
    """The check suite ``jobs/validate.py --profile`` runs."""
    return [
        checks.Check("text_completeness", checks.completeness("text"), ">=", 0.95),
        checks.Check(
            "role_compliance", checks.compliance(F.col("role").isin(list(transcripts.ROLES))), ">=", 0.99
        ),
        checks.Check("key_uniqueness", checks.uniqueness(["conv_id", "turn_idx"]), ">=", 1.0),
    ]


def load_job():
    """``jobs/validate.py`` of the checkout being measured, as a module."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "jobs", "validate.py")
    spec = importlib.util.spec_from_file_location("perfbench_validate_job", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class JobResume(Workload):
    """``jobs/validate.py:main`` in-process over ``part_date=`` directories:
    first with ``--max-partitions`` at half the days, then resuming into the
    same fresh ``--output``."""

    name = "job_resume"
    turns = 160_000
    batch_size = 16
    verify_every_pass = True  # also removes the previous pass's output

    def __init__(self):
        self.job = load_job()
        self.outputs = 0
        self.last_out = None  # the newest verified output, kept for the no-op resume

    def main(self, ctx, out_dir, *extra) -> dict:
        argv = [
            "--input", ctx.input_dir, "--output", out_dir, "--emit-valid",
            "--emit-reports", "--batch-size", str(self.batch_size), *extra,
        ]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            code = self.job.main(argv)
        if code != 0:
            raise RuntimeError(f"validate.py exited {code}")
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def run_pass(self, ctx) -> dict:
        self.outputs += 1
        out_dir = os.path.join(ctx.work, f"out{self.outputs}")
        t0 = time.perf_counter()
        with ctx.tracer.span("job.main_first"):
            first = self.main(ctx, out_dir, "--max-partitions", str(len(ctx.files) // 2))
        t1 = time.perf_counter()
        with ctx.tracer.span("job.main_resume"):
            summary = self.main(ctx, out_dir)
        return {
            "out": out_dir,
            "first": first,
            "summary": summary,
            "resume_s": time.perf_counter() - t1,
            "first_s": t1 - t0,
        }

    def verify(self, ctx, facts):
        s, o, out = facts["summary"], ctx.oracle, facts["out"]
        ctx.check("first call partitions", facts["first"]["processed"], len(ctx.files) // 2)
        ctx.check("manifest partitions", s["partitions"], len(ctx.files))
        ctx.check("manifest rows_scanned", s["rows_scanned"], ctx.turns)
        ctx.check("manifest violations", s["violations"], sum(ctx.oracle_counts.values()))
        ctx.check(
            "violations output per (path, code)",
            o.output_counts(os.path.join(out, "violations")),
            ctx.oracle_counts,
        )
        rv = o.rows_with_violations()
        ctx.check("valid output rows", o.rows(f"{out}/valid/*/*.parquet"), ctx.turns - rv)
        ctx.check("reports output rows", o.rows(f"{out}/reports/*/*.parquet"), rv)
        facts["written_bytes"] = dir_bytes(out)
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out

    def end_to_end(self, ctx, facts):
        return {
            "resume_s": median([f["resume_s"] for f in facts]),
            "written_bytes_per_turn": median([f["written_bytes"] for f in facts]) / ctx.turns,
        }

    def batches_per_pass(self, ctx) -> int:
        half = len(ctx.files) // 2
        return math.ceil(half / self.batch_size) + math.ceil((len(ctx.files) - half) / self.batch_size)

    def probes(self, ctx):
        """A no-op resume over a finished output; then, once each, the
        streaming catch-up and the flagship row-suite pass, which measure the
        streaming layer and the compiler on its own."""
        T = ctx.tracer
        with T.span("probe.noop_resume"), T.span("manifest.noop_resume"):
            self.main(ctx, self.last_out)
        for probe in (StreamCatchup(), RowSuite()):
            probe.stage(ctx)
            probe.reference(ctx)
            with T.span(f"probe.{probe.name}"):
                facts = probe.run_pass(ctx)
            probe.verify(ctx, facts)
            ctx.probe_facts.append(facts)

    def patches(self):
        """Spans around the layer calls ``main`` makes internally."""
        VR = manifest.ValidationRun
        return [
            (VR, "__init__", "manifest.init"),
            (VR, "pending_partitions", "manifest.pending_partitions"),
            (VR, "run", "manifest.run"),
            (compiler.Suite, "run", "compiler.build"),
            (schema_contract, "conform_schema", "schema_contract.conform_schema"),
            (self.job, "load_transcripts", "sources.load_transcripts"),
            (cache, "release_caches", "cache.release_caches"),
        ]


class StreamCatchup(Workload):
    """Two ``availableNow`` queries drain a pre-staged backlog of parquet
    files: ``validate_stream`` violations to a ``noop`` sink over every file,
    then the stateful ``turn_continuity_stream`` over a few of them."""

    name = "stream_catchup"
    turns = 160_000
    files_per_trigger = 2
    continuity_files = 2
    verify_every_pass = True

    def stage(self, ctx):
        # distinct, increasing mtimes fix the order the file source takes them in
        t0 = 1_700_000_000
        for i, f in enumerate(ctx.files):
            os.utime(f, (t0 + i, t0 + i))
        ctx.subset_dir = os.path.join(ctx.work, f"sub{ctx.rep}")
        ctx.subset = []
        for i, f in enumerate(ctx.files[1 : 1 + self.continuity_files]):
            d = os.path.join(ctx.subset_dir, os.path.basename(os.path.dirname(f)))
            os.makedirs(d, exist_ok=True)
            dst = os.path.join(d, os.path.basename(f))
            shutil.copyfile(f, dst)
            os.utime(dst, (t0 + i, t0 + i))
            ctx.subset.append(dst)
        ctx.schema = ctx.spark.read.parquet(ctx.input_dir).schema

    def reference(self, ctx):
        ctx.continuity_ref = continuity_violations([[f] for f in ctx.subset])
        ctx.subset_turns = sum(pq.ParquetFile(f).metadata.num_rows for f in ctx.subset)

    def query(self, ctx, name, src, per_trigger, build) -> list[dict]:
        ctx.queries += 1
        stream = (
            ctx.spark.readStream.schema(ctx.schema)
            .option("maxFilesPerTrigger", per_trigger)
            .parquet(src)
        )
        with ctx.tracer.span(name) as rec:
            q = (
                build(stream)
                .writeStream.format("noop")
                .option("checkpointLocation", os.path.join(ctx.work, f"ck{ctx.queries}"))
                .trigger(availableNow=True)
                .start()
            )
            ctx.tracer.claim_group(str(q.runId), rec)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [json.loads(p.json) for p in q.recentProgress]
        return [p for p in progress if p["numInputRows"] > 0]

    def run_pass(self, ctx) -> dict:
        v = self.query(
            ctx, "streaming.validate_stream", ctx.input_dir, self.files_per_trigger,
            lambda s: validate_stream(s, transcript_row_suite(), KEY)[1],
        )
        c = self.query(
            ctx, "streaming.turn_continuity_stream", ctx.subset_dir, 1, turn_continuity_stream
        )
        return {"validate": v, "continuity": c}

    def verify(self, ctx, facts):
        v, c = facts["validate"], facts["continuity"]
        ctx.check("validate_stream input rows", sum(p["numInputRows"] for p in v), ctx.turns)
        ctx.check(
            "validate_stream violations",
            sum(p["sink"]["numOutputRows"] for p in v),
            sum(ctx.oracle_counts.values()),
        )
        ctx.check("continuity input rows", sum(p["numInputRows"] for p in c), ctx.subset_turns)
        ctx.check(
            "continuity violations", sum(p["sink"]["numOutputRows"] for p in c), ctx.continuity_ref
        )

    def end_to_end(self, ctx, facts):
        return microbatch_stats([p for f in facts for p in f["validate"] + f["continuity"]])


def microbatch_stats(progress: list[dict]) -> dict:
    """Median and tail of micro-batch ``triggerExecution`` times, in s; the
    tail is the highest percentile with at least 10 batches beyond it, or
    the maximum when there are too few batches."""
    times = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
    tail = tail_percentile(times)
    return {
        "microbatch_s_p50": median(times),
        "microbatch_s_tail": tail[1] if tail else max(times),
        "microbatch_tail_pct": tail[0] if tail else 100,
        "microbatch_n": len(times),
    }


WORKLOADS = {w.name: w for w in (RowSuite, TableChecks, JobResume, StreamCatchup)}
