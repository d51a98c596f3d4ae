"""One measured run of one workload, in a fresh process.

    python3 perfbench/measure.py --workload <name> --input <dir> \
        --seconds <s> --trace <0|1> --result <file>

Started by run.py, which also samples this process tree's memory while
the file ``<result>.window`` exists. The run is a closed loop: one
client, one Spark job at a time, on ``build_session``'s default
``local[<cores>]`` master.

Order of an untraced run: set-up, one cold operation, untimed warm-up
operations while the JIT still ramps, warm operations until their own
time reaches
``--seconds`` (at least one, and none that would end past it), then two
more set-ups on a fresh SparkContext each, so ``setup_s`` is a median
of three. An operation is one pipeline pass or one execution of a gate
query; each is checked outside its timed section and counts as failed
if it raises or its check fails.

With ``--trace 1`` the run records spans around every call into the
program, runs the cumulative layer cuts and the driver-side per-check
timings, reads Spark's status store, and reports per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import uuid
from typing import Iterator

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from cleaning_web_corpus_spark.config import PipelineConfig, QualityConfig  # noqa: E402
from cleaning_web_corpus_spark.filters.chain import evaluate_text  # noqa: E402
from cleaning_web_corpus_spark.filters.udf import make_verdict_udf  # noqa: E402
from cleaning_web_corpus_spark.functions.tokenize import tokenize  # noqa: E402
from cleaning_web_corpus_spark.models.langid import (  # noqa: E402
    make_batch_detector,
    make_detector,
)
from cleaning_web_corpus_spark.models.perplexity import make_scorer  # noqa: E402
from cleaning_web_corpus_spark.pipeline import conversation as conv  # noqa: E402
from cleaning_web_corpus_spark.pipeline import lineage  # noqa: E402
from cleaning_web_corpus_spark.pipeline.run import (  # noqa: E402
    kept_turns_df,
    run_pipeline,
    turn_verdicts_df,
)
from cleaning_web_corpus_spark.session import build_session  # noqa: E402
from perfbench import common  # noqa: E402
from perfbench.tracer import NullTracer, Tracer  # noqa: E402

perf = time.perf_counter
NULL = NullTracer()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Run:
    def __init__(self, a):
        self.workload = a.workload
        self.indir = a.input
        self.seconds = a.seconds
        self.traced = bool(a.trace)
        self.window_flag = a.result + ".window"
        self.run_id = uuid.uuid4().hex[:12]
        self.tracer = Tracer(self.run_id) if self.traced else NULL
        self.spark = None
        self.setups = []
        self.attempted = 0
        self.failed = 0
        self.errors = []
        self.e2e = {}
        self.layer = {}
        self.samples = {}
        self.notes = {}

    def set_up(self) -> None:
        """Fresh SparkContext (the first one launches the JVM), then a
        small verdict-UDF job on every core: Python-worker spawn and
        model load. Stopping the previous context is not counted."""
        if self.spark is not None:
            self.spark.stop()
        with self.tracer.span("setup"):
            t0 = perf()
            self.spark = build_session(
                app_name=f"perfbench-{self.workload}", extra_conf=common.session_conf()
            )
            verdict = make_verdict_udf(QualityConfig.for_transcripts(), emit_stats=False)
            cores = self.spark.sparkContext.defaultParallelism
            warm = self.spark.range(0, 256 * cores, 1, cores).select(
                F.concat(
                    F.lit("warm the verdict chain on every worker number "),
                    F.col("id").cast("string"),
                ).alias("text")
            )
            noop(warm.select(verdict(F.col("text")).alias("v")))
            self.setups.append(perf() - t0)

    def finish_setups(self) -> None:
        for _ in range(2):
            self.set_up()
        self.e2e["setup_s"] = statistics.median(self.setups)
        self.samples["setup_s"] = len(self.setups)

    def measuring(self, on: bool) -> None:
        """Open or close the window in which run.py samples memory."""
        if on:
            open(self.window_flag, "w").close()
        elif os.path.exists(self.window_flag):
            os.remove(self.window_flag)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[:400])

    def op(self, fn):
        """One checked operation; returns its time, or None if it raised."""
        self.attempted += 1
        try:
            elapsed, problem = fn()
        except Exception as e:  # noqa: BLE001 - any failure is a failed operation
            self.fail(f"{type(e).__name__}: {e}")
            return None
        if problem:
            self.fail(problem)
        return elapsed

    def warm_window(self, fn) -> list:
        """Warm operations until their own time reaches the run's
        seconds: at least one, and none that would end past them."""
        warm = []
        while not warm or sum(warm) + statistics.median(warm) <= self.seconds:
            t = fn()
            if t is None:
                if self.failed > 20:
                    break
                continue
            warm.append(t)
        return warm

    # -- Spark status store ------------------------------------------
    def stages(self) -> dict:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        seq = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            getattr(store, "stageList$default$4")(), jvm.java.util.ArrayList(),
        )
        out = {}
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.status().toString() == "COMPLETE":
                out[(s.stageId(), s.attemptId())] = s
        return out

    def spark_counters(self, before: dict, n_ops: int, n_turns: int) -> None:
        """Per-operation Spark counters over the stages completed since
        ``before``, and the task skew of the stage with the most
        executor time (the verdict stage)."""
        new = [s for k, s in self.stages().items() if k not in before]
        if not new:
            return
        run_ms = sum(s.executorRunTime() for s in new)
        L = self.layer
        L["spark.shuffle_bytes_per_turn"] = sum(s.shuffleWriteBytes() for s in new) / n_ops / n_turns
        L["spark.spill_bytes"] = sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in new) / n_ops
        L["spark.gc_share"] = sum(s.jvmGcTime() for s in new) / run_ms if run_ms else 0.0
        L["spark.tasks"] = sum(s.numCompleteTasks() for s in new) / n_ops
        top = max(new, key=lambda s: s.executorRunTime())
        tasks = self.spark.sparkContext._jsc.sc().statusStore().taskList(
            top.stageId(), top.attemptId(), 100000
        )
        durs = [tasks.apply(i).duration().get() for i in range(tasks.size())]
        if durs and statistics.median(durs) > 0:
            L["spark.task_skew"] = max(durs) / statistics.median(durs)
        for k in L:
            if k.startswith("spark."):
                self.samples[k] = n_ops


# -- pipeline -------------------------------------------------------------


class Pipeline:
    """pipeline_commit: materialized run_pipeline plus resume."""

    def __init__(self, run: Run):
        self.run = run
        self.path = os.path.join(run.indir, "transcripts.parquet")
        with open(os.path.join(run.indir, "meta.json")) as f:
            self.meta = json.load(f)
        with open(os.path.join(run.indir, "sample.json")) as f:
            self.sample = json.load(f)
        self.rows = self.meta["rows"]
        self.stored = []
        self.out_root = os.path.join(common.WORK, "out", run.run_id)

    @property
    def spark(self):
        return self.run.spark

    def check(self, tv, cv) -> str:
        """Output turns == distinct input turn keys; the sampled turns
        carry the reference twin's label, reason and scrubbed bytes; the
        giant conversation is kept."""
        n = tv.count()
        if n != self.meta["distinct_keys"]:
            return f"turn count {n} != distinct input keys {self.meta['distinct_keys']}"
        keys = self.spark.createDataFrame(
            [(s["conv_id"], s["turn_idx"]) for s in self.sample], "conv_id string, turn_idx int"
        )
        got = {
            (r["conv_id"], r["turn_idx"]): (r["passed"], r["reason"], r["text_scrubbed"])
            for r in tv.join(F.broadcast(keys), ["conv_id", "turn_idx"]).collect()
        }
        for s in self.sample:
            if got.get((s["conv_id"], s["turn_idx"])) != (s["passed"], s["reason"], s["text_scrubbed"]):
                return f"twin mismatch at {s['conv_id']}/{s['turn_idx']}"
        kept = cv.filter(F.col("conv_id") == self.meta["giant_conv"]).select("kept").collect()
        if [r["kept"] for r in kept] != [True]:
            return "giant conversation not kept"
        return ""

    def op(self, tr):
        spark = self.spark
        out = os.path.join(self.out_root, uuid.uuid4().hex[:8])
        t0 = perf()
        with tr.span("pass"):
            with tr.span("run.run_pipeline.commit"):
                run_pipeline(spark, spark.read.parquet(self.path), out_dir=out, resume=False)
            with tr.span("run.run_pipeline.resume"):
                res = run_pipeline(spark, spark.read.parquet(self.path), out_dir=out, resume=True)
                res.kept_turns.count()
        elapsed = perf() - t0
        problem = self.check(res.turn_verdicts, res.conv_verdicts)
        self.stored.append(dir_bytes(out) / self.meta["input_bytes"])
        shutil.rmtree(out, ignore_errors=True)
        return elapsed, problem

    def run_untraced(self) -> None:
        run = self.run
        run.set_up()
        run.measuring(True)
        cold = run.op(lambda: self.op(NULL))
        for _ in range(common.WARMUP_OPS):
            run.op(lambda: self.op(NULL))
        warm = run.warm_window(lambda: run.op(lambda: self.op(NULL)))
        run.measuring(False)
        run.finish_setups()
        run.e2e["cold_s"] = cold if cold is not None else float("nan")
        run.e2e["warm_s"] = statistics.median(warm)
        run.samples.update(cold_s=1, warm_s=len(warm))
        run.notes["warm_ops_s"] = [round(t, 3) for t in warm]
        run.notes["input_rows"] = self.rows
        run.notes["turns_per_s"] = self.rows / run.e2e["warm_s"]
        run.notes["stored_bytes_per_input_byte"] = statistics.median(self.stored)

    # -- traced run ---------------------------------------------------
    def run_traced(self) -> None:
        run, tr, L = self.run, self.run.tracer, self.run.layer
        run.set_up()
        for _ in range(1 + common.WARMUP_OPS):  # as in the untraced run
            run.op(lambda: self.op(tr))
        before = run.stages()
        timed = {"untraced": [], "traced": []}
        # ABBA order, so a remaining warm-up trend cancels
        for kind in ("untraced", "traced", "traced", "untraced"):
            t = run.op(lambda: self.op(tr if kind == "traced" else NULL))
            if t is not None:
                timed[kind].append(t)
        run.spark_counters(before, 4, self.rows)
        traced = statistics.median(timed["traced"])
        untraced = statistics.median(timed["untraced"])
        L["pipeline.turns_per_s"] = self.rows / traced
        L["pipeline.untraced_turns_per_s"] = self.rows / untraced
        L["trace.overhead_turns_per_s"] = self.rows / untraced - self.rows / traced
        L["pipeline.stored_bytes_per_input_byte"] = statistics.median(self.stored)

        series = [self.layer_cuts() for _ in range(2)]
        cut = {k: statistics.mean(s[k] for s in series) for k in series[0]}
        steps = [  # (metric, self time), in pipeline order
            ("sources.scan_s", cut["scan"]),
            ("conversation.layout_dedup_s", cut["layout"] - cut["scan"]),
            ("udf.arrow_boundary_s", cut["arrow"] - cut["layout"]),
            ("chain.verdict_stats_s", cut["verdict"] - cut["arrow"]),
            ("scrub.scrub_s", cut["scrub"] - cut["verdict"]),
            ("lineage.commit_tv_s", cut["commit_tv"] - cut["scrub"]),
            ("lineage.stage_metrics_s", cut["stage_metrics"]),
            ("conversation.agg_s", cut["agg"]),
            ("lineage.commit_cv_s", cut["commit_cv"] - cut["agg"]),
            ("run.kept_tail_s", cut["kept_tail"]),
            ("lineage.commit_kept_s", cut["commit_kept"] - cut["kept_tail"]),
            ("lineage.resume_s", cut["resume"]),
        ]
        L.update(steps)
        # the stats-free chain that in-memory callers run, same baseline
        L["chain.verdict_s"] = cut["verdict_nostats"] - cut["arrow"]
        full = sum(cut[k] for k in ("commit_tv", "stage_metrics", "commit_cv", "commit_kept", "resume"))
        ledger = sum(t for _, t in steps)
        run.samples.update({k: len(series) for k, _ in steps})
        run.samples["chain.verdict_s"] = len(series)
        run.samples.update({k: 2 for k in L if k.startswith("pipeline.") or k.startswith("trace.")})
        run.notes["ledger_sum_s"] = ledger
        run.notes["ledger_full_cut_s"] = full
        run.notes["ledger_share_of_traced_pass"] = full / traced
        if abs(ledger - full) > 1e-6:
            run.fail(f"layer self-times sum {ledger:.4f}s != full cut {full:.4f}s")
        self.micro()

    def layer_cuts(self) -> dict:
        """Cumulative cuts over the same input, each written to the noop
        sink, then the materialized path of run_pipeline one public call
        at a time. A layer's self time is the difference between two
        consecutive cuts; a commit's own cost is its time minus the noop
        cut of the same plan. The layout cut restates
        run.turn_verdicts_df's current single-shuffle layout (salted
        repartition feeding dedup_latest); the scrub cut is
        turn_verdicts_df itself."""
        spark, tr = self.spark, self.run.tracer
        pcfg = PipelineConfig()
        df = spark.read.parquet(self.path)
        parts = spark.sparkContext.defaultParallelism * 4
        modulus = max(pcfg.conversation.salt_buckets, parts)
        pre = df.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("turn_idx")), F.lit(modulus))
        ).repartition(parts, F.col("conv_id"), F.col("_salt"))
        spread = conv.dedup_latest(pre, extra_keys=("_salt",)).drop("_salt")

        @F.pandas_udf("string")
        def identity(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            yield from batches

        def judged(emit_stats):
            verdict = make_verdict_udf(pcfg.quality, emit_stats=emit_stats)
            return spread.withColumn("verdict", verdict(F.col("text"))).select(
                "conv_id", "turn_idx", "role", "tool", "ts",
                F.col("verdict.passed").alias("passed"),
                F.col("verdict.reason").alias("reason"),
                F.col("verdict.stats").alias("stats"),
            )

        cut = {}

        def timed(name, fn):
            with tr.span(name):
                t0 = perf()
                r = fn()
                cut[name] = perf() - t0
                return r

        timed("scan", lambda: noop(df))
        timed("layout", lambda: noop(spread))
        timed("arrow", lambda: noop(spread.withColumn("text", identity(F.col("text")))))
        timed("verdict_nostats", lambda: noop(judged(False)))
        timed("verdict", lambda: noop(judged(True)))
        timed("scrub", lambda: noop(turn_verdicts_df(df, pcfg)))

        out = os.path.join(self.out_root, "ledger-" + uuid.uuid4().hex[:8])
        tv_path, cv_path, kept_path = (
            os.path.join(out, s) for s in ("turn_verdicts", "conv_verdicts", "kept_turns")
        )
        mv = {"langid": pcfg.langid_model_version, "perplexity": pcfg.perplexity_model_version}
        snap = timed("commit_tv", lambda: lineage.commit_stage(turn_verdicts_df(df, pcfg), tv_path))
        timed("stage_metrics", lambda: lineage.commit_stage(
            lineage.stage_metrics(spark.read.parquet(tv_path), "turn_verdicts", "ledger", mv,
                                  snapshot_id=snap),
            os.path.join(out, lineage.METRICS_SUBDIR, "stage=turn_verdicts"),
        ))
        tv = spark.read.parquet(tv_path)
        timed("agg", lambda: conv.conversation_verdicts(tv, pcfg.conversation).collect())
        timed("commit_cv", lambda: lineage.commit_stage(
            conv.conversation_verdicts(tv, pcfg.conversation), cv_path))
        cv = spark.read.parquet(cv_path)
        timed("kept_tail", lambda: noop(kept_turns_df(tv, cv, pcfg.scrub)))
        timed("commit_kept", lambda: lineage.commit_stage(kept_turns_df(tv, cv, pcfg.scrub), kept_path))
        timed("resume", lambda: run_pipeline(spark, df, pcfg, out_dir=out, resume=True).kept_turns.count())
        shutil.rmtree(out, ignore_errors=True)
        return cut

    def micro(self) -> None:
        """Driver-side single-thread cost of each check over a seeded
        sample of input turns."""
        import pyarrow.parquet as pq

        texts = pq.read_table(self.path, columns=["text"]).column("text").to_pylist()
        texts = random.Random(len(texts)).sample(texts, min(common.MICRO_TURNS, len(texts)))
        n = len(texts)
        cfg = QualityConfig.for_transcripts()
        detector, batch_detector, scorer = make_detector(), make_batch_detector(), make_scorer()
        batch_detector(texts[:16])  # model load outside the timing
        scorer(["warm", "up"])
        L, tr = self.run.layer, self.run.tracer
        stripped = [(t.strip() if t else "") for t in texts]
        with tr.span("functions.tokenize"):
            t0 = perf()
            toks = [tokenize(t) for t in stripped]
            L["tokenize.us_per_turn"] = (perf() - t0) / n * 1e6
        with tr.span("models.langid.detect_batch"):
            t0 = perf()
            dets = batch_detector(stripped)
            L["langid.us_per_turn"] = (perf() - t0) / n * 1e6
        with tr.span("models.perplexity.score"):
            t0 = perf()
            for w in toks:
                if len(w) >= cfg.min_words_for_perplexity:
                    scorer(w)
            L["perplexity.us_per_turn"] = (perf() - t0) / n * 1e6
        for stats, key in ((False, "chain.us_per_turn"), (True, "chain.stats_us_per_turn")):
            with tr.span(f"filters.chain.evaluate_text.stats={stats}"):
                t0 = perf()
                for i, t in enumerate(texts):
                    evaluate_text(t, cfg, detector, scorer, collect_stats=stats, detected=dets[i])
                L[key] = (perf() - t0) / n * 1e6
        self.run.samples.update({k: n for k in L if k.endswith("us_per_turn")})
        scored = sum(1 for t in stripped if t)
        useful = sum(1 for w in toks if len(w) >= cfg.min_words_for_langid)
        L["langid.useful_ratio"] = useful / scored if scored else 0.0


# -- query sweep ----------------------------------------------------------


class Sweep:
    def __init__(self, run: Run):
        self.run = run
        self.tables = os.path.join(run.indir, "tables")
        with open(os.path.join(run.indir, "expected.json")) as f:
            self.expected = json.load(f)
        import __spark_entry__ as entry
        from tools.check_oracles import value_hash

        self.queries = entry.queries()
        self.value_hash = value_hash
        self.staged = set()

    def one_pass(self, times: dict) -> float:
        """The 26 queries in order; each execution is one operation."""
        from cleaning_web_corpus_spark.ops import session_stage

        run, total = self.run, 0.0
        for q in common.QUERIES:
            n_stages = len(session_stage._CACHE) + len(session_stage._SCALAR_CACHE)
            run.attempted += 1
            try:
                with run.tracer.span(f"q.{q}"):
                    t0 = perf()
                    df = self.queries[q](run.spark, self.tables)
                    cols = df.columns
                    rows = [tuple(r) for r in df.collect()]
                    dt = perf() - t0
            except Exception as e:  # noqa: BLE001 - any failure is a failed operation
                run.fail(f"{q}: {type(e).__name__}: {e}")
                continue
            if len(session_stage._CACHE) + len(session_stage._SCALAR_CACHE) > n_stages:
                self.staged.add(q)
            total += dt
            times.setdefault(q, []).append(dt)
            want = self.expected[q]
            if (len(rows), sorted(cols), self.value_hash(rows, cols)) != (
                want["rows"], want["cols"], want["hash"]
            ):
                run.fail(f"{q}: output differs from its DuckDB oracle")
        return total

    def run_all(self) -> None:
        run = self.run
        run.set_up()
        cold_times, warm_times = {}, {}
        run.measuring(True)
        cold = self.one_pass(cold_times)
        self.one_pass({})  # untimed: the first warm pass still varies with JIT work
        warm = run.warm_window(lambda: self.one_pass(warm_times))
        run.measuring(False)
        run.e2e["cold_s"] = cold
        run.e2e["warm_s"] = statistics.median(warm)
        run.samples.update(cold_s=1, warm_s=len(warm))
        if not run.traced:
            run.finish_setups()
            return
        L = run.layer
        for q in common.QUERIES:
            L[f"q.{q}.cold_s"] = cold_times.get(q, [0.0])[0]
            L[f"q.{q}.warm_s"] = statistics.median(warm_times.get(q, [0.0]))
            run.samples[f"q.{q}.warm_s"] = len(warm_times.get(q, []))
        L["session_stage.build_s"] = sum(
            L[f"q.{q}.cold_s"] - L[f"q.{q}.warm_s"] for q in self.staged
        )
        run.notes["staged_queries"] = sorted(self.staged)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=common.WORKLOADS)
    ap.add_argument("--input", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--result", required=True)
    a = ap.parse_args()
    run = Run(a)
    if a.workload == "query_sweep":
        Sweep(run).run_all()
    else:
        p = Pipeline(run)
        p.run_traced() if run.traced else p.run_untraced()
    run.spark.stop()
    spans = ""
    if run.traced:
        spans = os.path.join(common.WORK, "traces", f"{a.workload}-{run.run_id}.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        run.tracer.dump(spans)
        run.notes["span_self_s"] = run.tracer.self_times()
    shutil.rmtree(os.path.join(common.WORK, "out", run.run_id), ignore_errors=True)
    with open(a.result, "w") as f:
        json.dump(
            {
                "attempted": run.attempted,
                "failed": run.failed,
                "errors": run.errors,
                "e2e": run.e2e,
                "layer": run.layer,
                "samples": run.samples,
                "notes": run.notes,
                "spans": spans,
            },
            f,
        )


if __name__ == "__main__":
    main()
