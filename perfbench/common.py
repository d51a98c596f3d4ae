"""Constants and helpers shared by the benchmark's launcher, input
preparation and measurement processes."""

from __future__ import annotations

import hashlib
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# everything the benchmark writes lives under the checkout, in one
# ignored directory: input cache, Spark scratch, logs, span files
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("pipeline_commit", "query_sweep")

# Input sizes. The pipeline gets a fixed number of generated rows,
# trimmed to whole conversations, so that run time does not follow the
# seed's draw of mega-conversation sizes.
PIPELINE_ROWS = 60_000
GEN_CONVS = 8_500  # enough conversations to fill PIPELINE_ROWS
MEGA_EVERY = 1000
GIANT_SHARE = 0.20  # one conversation holds this share of all rows
GIANT_CONV_ID = "conv_giant"
# untimed pipeline passes after the cold one: pass time still falls
# over the first three or four as the JVM compiles the hot paths
WARMUP_OPS = 3
SAMPLE_KEYS = 200  # turns re-derived with the reference twin per check
MICRO_TURNS = 50_000  # driver-side per-check sample (traced runs)
SWEEP_SF = 0.01

QUERIES = (
    "word_stats drop_reason_histogram stg_dedup_latest fact_order_rollup "
    "coverage_cube top_parts_per_flag exact_dedup minhash_lsh_candidates "
    "embedding_knn embedding_near_dups steps_search_page scrub_documents "
    "verdict_full_chain ablation_chain_retention minhash_candidate_jaccard "
    "dedup_components fuzzy_dedup_survivors ngram_lm_lang_stats ngram_lm_scores "
    "workflow_composition workflow_tools robot_actions quality_classifier_scores "
    "table_profile_lineitem substring_dup_report conversation_near_dups"
).split()

# environment overrides that would change the measured program
STRIPPED_ENV = (
    "SPARK_GRAFT_ALIGN",
    "SPARK_GRAFT_DEFER_SCRUB",
    "SPARK_GRAFT_ARROW_BATCH",
    "SPARK_DRIVER_MEMORY",
)


def session_conf() -> dict:
    """The only settings added to ``build_session``'s defaults."""
    tmp = os.path.join(WORK, "tmp")
    return {
        # bounded heap: the inputs need far less, the host is shared,
        # and the memory figure then tracks the working set rather than
        # how far an 8 GB heap was allowed to grow
        "spark.driver.memory": "1g",
        # JVM temp files (native libs, broadcast spill) stay in the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def source_hash() -> str:
    """Hash of every source file the inputs or expected outputs depend
    on: the generator, the oracles, the reference twin and this
    benchmark. Any edit invalidates the input cache."""
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for top in ("cleaning_web_corpus_spark", "tools", "perfbench"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    files.append(os.path.join(ROOT, "tests", "reference_twin.py"))
    h = hashlib.md5()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def input_dir(workload: str, seed: int) -> str:
    return os.path.join(WORK, "inputs", f"{workload}-s{seed}-{source_hash()}")


# (name, unit) of every metric; BENCHMARK.json lists the same names
END_TO_END = (
    ("setup_s", "s"),
    ("cold_s", "s"),
    ("warm_s", "s"),
    ("mem_p90_mb", "MB"),
)
PER_LAYER = (
    ("sources.scan_s", "s"),
    ("conversation.layout_dedup_s", "s"),
    ("udf.arrow_boundary_s", "s"),
    ("chain.verdict_s", "s"),
    ("chain.verdict_stats_s", "s"),
    ("scrub.scrub_s", "s"),
    ("conversation.agg_s", "s"),
    ("run.kept_tail_s", "s"),
    ("lineage.commit_tv_s", "s"),
    ("lineage.commit_cv_s", "s"),
    ("lineage.commit_kept_s", "s"),
    ("lineage.stage_metrics_s", "s"),
    ("lineage.resume_s", "s"),
    ("tokenize.us_per_turn", "us"),
    ("langid.us_per_turn", "us"),
    ("perplexity.us_per_turn", "us"),
    ("chain.us_per_turn", "us"),
    ("chain.stats_us_per_turn", "us"),
    ("langid.useful_ratio", "ratio"),
    ("spark.shuffle_bytes_per_turn", "B"),
    ("spark.spill_bytes", "B"),
    ("spark.gc_share", "ratio"),
    ("spark.tasks", "count"),
    ("spark.task_skew", "ratio"),
    ("pipeline.turns_per_s", "1/s"),
    ("pipeline.untraced_turns_per_s", "1/s"),
    ("trace.overhead_turns_per_s", "1/s"),
    ("pipeline.stored_bytes_per_input_byte", "ratio"),
    ("session_stage.build_s", "s"),
) + tuple(
    (f"q.{q}.{phase}_s", "s") for q in QUERIES for phase in ("cold", "warm")
)
