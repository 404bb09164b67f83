"""The three benchmark workloads.

Each workload makes one layer do most of the work and another almost none:

- ``pit_chain``: sessionize -> forward-fill -> lag/lead -> as-of join with
  plain operators and a noop sink. Scan, exchange, sort and window work only;
  no Python, no writes.
- ``feature_job``: the shipped resumable job (the calls
  ``scripts/run_pipeline.py`` makes), then a rerun that resumes every stage
  and a point-in-time read of the stored vectors. Most time is in the Arrow
  feature kernel and in parquet writes, which ``pit_chain`` never touches.
- ``mega_skew``: the salted chain on a table where a few mega-conversations
  hold most turns. The only workload on the salt/carry path.

A workload's ``run_pass`` is what one timed pass does; ``after_passes`` times
the feature job's resume and read; ``gate`` checks the output outside the
timed passes and returns (problems, per-layer counts).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import datagen
import gate
from datagen import Shape
from hostprobe import Spans

from featureextraction_spark.operators.asof import asof_join, asof_join_salted
from featureextraction_spark.operators.backfill import forward_fill, forward_fill_salted
from featureextraction_spark.operators.ordering import with_lag_lead
from featureextraction_spark.operators.sessionize import sessionize, sessionize_salted
from featureextraction_spark.oracle import pandas_oracle as O
from featureextraction_spark.oracle.feature_oracle import point_in_time_features_oracle
from featureextraction_spark.plans.feature_pipeline import (
    NUMERIC_FEATURES,
    point_in_time_features,
    turn_state,
)
from featureextraction_spark.plans.pit_read import point_in_time_read
from featureextraction_spark.sources.feature_store import FeatureStore
from featureextraction_spark.streaming.manifest import CheckpointedRunner
from scripts import run_pipeline

SAMPLE_CONVERSATIONS = 6  # besides the largest one
PROBE_LEAD_S = 30  # chain probes sit this long before each user turn
GAP_SECONDS = 1800
PROBES_PER_CONV = 3  # scripts/run_pipeline.py default
JOB_STAGES = ["features", "probes", "store", "turn_state"]
RUN_ID = "run1"  # scripts/run_pipeline.py default
SALT_BUCKET_US = 86_400_000_000  # the salted operators' default bucket


@dataclass
class Context:
    spark: SparkSession
    input_path: str
    work: str
    seed: int
    sizes: list[int]
    spans: Spans = field(default_factory=Spans)
    detail: bool = False  # also gather the per-layer counts of the gate
    state: dict = field(default_factory=dict)  # what passes leave for the gate

    def transcripts(self) -> DataFrame:
        return self.spark.read.parquet(self.input_path)

    def sample(self) -> list[str]:
        return datagen.sample_conversations(self.sizes, self.seed, SAMPLE_CONVERSATIONS)


def force(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- the plain and salted chains ----------------------------------------------

CHAIN_VALUES = ["role", "session_id", "last_tool", "prev_role"]
SALTED_VALUES = ["role", "session_id", "last_tool"]


def user_probes(tr: DataFrame) -> DataFrame:
    """Distinct probes ``PROBE_LEAD_S`` before each user turn: the features
    a model would read just before the user speaks."""
    return (
        tr.filter(F.col("role") == "user")
        .select("conv_id", (F.col("ts") - F.expr(f"INTERVAL {PROBE_LEAD_S} SECONDS")).alias("ts"))
        .dropDuplicates(["conv_id", "ts"])
    )


def user_probes_oracle(tr: pd.DataFrame) -> pd.DataFrame:
    p = tr.loc[tr["role"] == "user", ["conv_id", "ts"]].copy()
    p["ts"] = p["ts"] - pd.Timedelta(seconds=PROBE_LEAD_S)
    return p.drop_duplicates().reset_index(drop=True)


def plain_chain(tr: DataFrame) -> DataFrame:
    e = sessionize(tr, key="conv_id", ts="ts", tie="turn_idx", gap_seconds=GAP_SECONDS)
    e = forward_fill(e, ["tool"], key="conv_id", order=("ts", "turn_idx"))
    e = with_lag_lead(e, ["role"], by="conv_id", order=("ts", "turn_idx"))
    data = e.select(
        "conv_id", F.col("turn_idx").alias("data_turn_idx"), "ts", *CHAIN_VALUES, "next_role"
    )
    return asof_join(user_probes(tr), data, on="ts", by="conv_id", tie="data_turn_idx",
                     value_cols=CHAIN_VALUES)


def salted_chain(tr: DataFrame) -> DataFrame:
    e = sessionize_salted(tr, key="conv_id", ts="ts", tie="turn_idx", gap_seconds=GAP_SECONDS)
    e = forward_fill_salted(e, ["tool"], key="conv_id", ts="ts", tie="turn_idx")
    data = e.select("conv_id", F.col("turn_idx").alias("data_turn_idx"), "ts", *SALTED_VALUES)
    return asof_join_salted(user_probes(tr), data, on="ts", by="conv_id", tie="data_turn_idx",
                            value_cols=SALTED_VALUES)


def chain_oracle(tr: pd.DataFrame, value_cols: list[str]) -> pd.DataFrame:
    e = O.sessionize(tr, gap_seconds=GAP_SECONDS)
    e = O.forward_fill(e, ["tool"])
    e = O.lag_lead(e, ["role"], order=("ts", "turn_idx"))
    data = e.rename(columns={"turn_idx": "data_turn_idx"})[
        ["conv_id", "data_turn_idx", "ts", *value_cols]
    ]
    return O.asof_join(user_probes_oracle(tr), data, on="ts", by="conv_id",
                       tie="data_turn_idx", value_cols=value_cols)


def _day(col: str):
    return F.floor(F.unix_micros(F.col(col)) / F.lit(SALT_BUCKET_US))


def gate_chain(ctx: Context, chain: Callable[[DataFrame], DataFrame],
               value_cols: list[str]) -> tuple[list[str], dict]:
    tr = ctx.transcripts()
    out = chain(tr).cache()
    row = out.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count("matched_ts").alias("matched"),
        F.sum((F.col("matched_ts") > F.col("ts")).cast("long")).alias("leaks"),
        F.sum((_day("matched_ts") < _day("ts")).cast("long")).alias("carried"),
    ).first()
    n_probes = user_probes(tr).count()
    problems = gate.check_rows(row["rows"], n_probes, "as-of")
    problems += gate.check_leaks(row["leaks"] or 0, "as-of")

    sample = ctx.sample()
    tr_pdf = tr.filter(F.col("conv_id").isin(sample)).toPandas()
    got = out.filter(F.col("conv_id").isin(sample)).toPandas()
    exp = chain_oracle(tr_pdf, value_cols)
    problems += gate.compare(got, exp, ["conv_id", "ts"],
                             ["matched_ts", "matched_turn_idx", *value_cols], [], "as-of")
    counts = {
        "asof.probe_rows": n_probes,
        "asof.input_rows": sum(ctx.sizes) + n_probes,
        "asof.matched_frac": row["matched"] / n_probes,
    }
    if ctx.detail and chain is salted_chain:
        counts["salt.buckets"] = tr.select("conv_id", _day("ts")).distinct().count()
        counts["salt.carry_rows"] = row["carried"] or 0
    out.unpersist()
    return problems, counts


# -- the resumable feature job ------------------------------------------------

# The shipped job's 256 kernel buckets are sized for thousands of
# conversations (~16 per bucket at 4,000). This table has 150, so the bucket
# count is scaled with it to keep ~10 conversations per bucket. At 256 a warm
# pass took 14 s instead of 3-5, 11 s of it in the features stage, which then
# runs 256 Python tasks for 150 conversations.
FEATURE_BUCKETS = 16
MANIFEST_SPANS = {
    "turn_state": "manifest.stage_s.turn_state",
    "probes": "manifest.stage_s.probes",
    "features": "manifest.stage_s.features",
}


def job_probes(tr: DataFrame) -> DataFrame:
    """The last ``PROBES_PER_CONV`` turns of each conversation: the probes
    stage of ``scripts/run_pipeline.py``, a closure there."""
    w = Window.partitionBy("conv_id").orderBy(F.desc("ts"), F.desc("turn_idx"))
    return (
        tr.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= PROBES_PER_CONV)
        .select("conv_id", "ts")
        .distinct()
    )


def run_job(ctx: Context, work: str, spans: Spans) -> tuple[CheckpointedRunner, FeatureStore, int]:
    """One run over ``work`` of the stages and store protocol of
    ``scripts/run_pipeline.py``, with ``FEATURE_BUCKETS`` kernel buckets.
    The store append and its read-back are timed into ``spans``."""
    spark = ctx.spark
    fp = run_pipeline.input_fingerprint(ctx.input_path)
    ckpt = CheckpointedRunner(spark, os.path.join(work, "ckpt"), RUN_ID)
    state = ckpt.stage("turn_state", lambda: turn_state(ctx.transcripts(), GAP_SECONDS),
                       fingerprint=fp)
    probes = ckpt.stage("probes", lambda: job_probes(ctx.transcripts()), fingerprint=fp)
    features = ckpt.stage(
        "features",
        lambda: point_in_time_features(None, probes, GAP_SECONDS,
                                       num_buckets=FEATURE_BUCKETS, state=state),
        fingerprint=fp,
    )
    store = FeatureStore(spark, os.path.join(work, "feature_store"), key_cols=["conv_id", "ts"])
    manifest = ckpt.read_manifest("store")
    tag = f"{RUN_ID}:{fp}:store"
    if manifest is not None and manifest.get("input_fingerprint") == fp:
        ckpt.resumed.append("store")
        version = manifest["store_version"]
    else:
        t0 = time.perf_counter()
        version = store.find_version_by_tag(tag)
        adopted = version is not None
        if not adopted:
            with spans.span("store.append_s"):
                version = store.append(features, tag=tag)
        with spans.span("store.read_s"):
            n = store.read(version=version).count()
        ckpt.record("store", fp, n, int((time.perf_counter() - t0) * 1000),
                    extra={"store_version": version}, resumed=adopted)
    store.read().count()
    return ckpt, store, version


def job_pass(ctx: Context, i: int) -> None:
    work = os.path.join(ctx.work, f"job{i}")
    ckpt, store, version = run_job(ctx, work, ctx.spans)
    for m in ckpt.manifest_rows():  # the runner's own per-stage wall times
        if m["stage"] in MANIFEST_SPANS:
            ctx.spans.seconds[MANIFEST_SPANS[m["stage"]]].append(m["wall_ms"] / 1000)
    previous = ctx.state.get("job_work")
    if previous:
        shutil.rmtree(previous, ignore_errors=True)
    ctx.state.update(job_work=work, store=store, version=version)


def label_probes(ctx: Context) -> DataFrame:
    """Where labels are observed: a second after a seeded 5% of turns, and a
    day after each conversation's last turn."""
    tr = ctx.transcripts()
    picked = F.pmod(F.xxhash64(F.lit(ctx.seed), "conv_id", "turn_idx", F.lit(11)), F.lit(20)) == 0
    sampled = tr.filter(picked).select("conv_id", (F.col("ts") + F.expr("INTERVAL 1 SECOND")).alias("ts"))
    after = tr.groupBy("conv_id").agg((F.max("ts") + F.expr("INTERVAL 1 DAY")).alias("ts"))
    return sampled.unionByName(after).dropDuplicates(["conv_id", "ts"])


READ_VALUES = ["ts", "turn_count", "median_width", "last_tool"]


def pit_read(ctx: Context, vectors: DataFrame, probes: DataFrame) -> DataFrame:
    return point_in_time_read(probes, asof_sources=[("f_", vectors, READ_VALUES)],
                              by="conv_id", on="ts", tie="turn_count")


def job_after_passes(ctx: Context) -> None:
    """Run the job once more, untimed: its store is what the gate checks,
    and like the chains' gate runs it warms the JIT before the timed window.
    Then time the rerun over it that resumes every stage, and the
    point-in-time read of its vectors (three times each when tracing, for a
    median); keep the last resume's stage lists for the gate."""
    work = os.path.join(ctx.work, "gate_job")
    _, store, version = run_job(ctx, work, Spans())
    ctx.state.update(job_work=work, store=store, version=version)
    reps = 3 if ctx.detail else 1
    for _ in range(reps):
        with ctx.spans.span("manifest.resume_s"):
            ckpt, _, _ = run_job(ctx, work, Spans())
    ctx.state["resumed"] = sorted(set(ckpt.resumed))
    ctx.state["recomputed"] = sorted(set(ckpt.recomputed))
    probes = label_probes(ctx).cache()
    ctx.state["label_probes"] = probes
    ctx.state["label_rows"] = probes.count()
    vectors = store.read(version)
    for _ in range(reps):
        with ctx.spans.span("pit_read.s"):
            force(pit_read(ctx, vectors, probes))


def gate_job(ctx: Context) -> tuple[list[str], dict]:
    spark, tr = ctx.spark, ctx.transcripts()
    problems = []
    if ctx.state["resumed"] != JOB_STAGES or ctx.state["recomputed"]:
        problems.append(
            f"resume: resumed {ctx.state['resumed']}, recomputed {ctx.state['recomputed']}"
        )
    vectors = ctx.state["store"].read(ctx.state["version"]).cache()
    probes = job_probes(tr)
    n_probes = probes.count()
    problems += gate.check_rows(vectors.count(), n_probes, "features")
    # A vector leaks when it counts more turns than exist at or before its ts.
    seen = (
        probes.alias("p")
        .join(tr.alias("t"), "conv_id")
        .filter(F.col("t.ts") <= F.col("p.ts"))
        .groupBy("conv_id", F.col("p.ts").alias("ts"))
        .agg(F.count(F.lit(1)).alias("seen"))
    )
    leaks = vectors.join(seen, ["conv_id", "ts"], "left").filter(
        F.col("turn_count") > F.coalesce(F.col("seen"), F.lit(0))
    ).count()
    problems += gate.check_leaks(leaks, "features")

    sample = ctx.sample()
    in_sample = F.col("conv_id").isin(sample)
    tr_pdf = tr.filter(in_sample).toPandas()
    exp = point_in_time_features_oracle(tr_pdf, probes.filter(in_sample).toPandas(), GAP_SECONDS)
    got = vectors.filter(in_sample).toPandas()
    problems += gate.compare(got, exp, ["conv_id", "ts"],
                             ["session_id", "turn_count", "prev_role", "last_tool",
                              "role_transitions"], NUMERIC_FEATURES, "features")

    label = ctx.state["label_probes"]
    out = pit_read(ctx, vectors, label).cache()
    row = out.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count("f_ts").alias("matched"),
        F.sum((F.col("f_ts") > F.col("ts")).cast("long")).alias("leaks"),
    ).first()
    n_label = ctx.state["label_rows"]
    problems += gate.check_rows(row["rows"], n_label, "pit_read")
    problems += gate.check_leaks(row["leaks"] or 0, "pit_read")
    exp = O.asof_join(label.filter(in_sample).toPandas(), got, on="ts", by="conv_id",
                      tie="turn_count", value_cols=["median_width", "last_tool"])
    exp = exp.rename(columns={"matched_ts": "f_ts", "matched_turn_idx": "f_turn_count",
                              "median_width": "f_median_width", "last_tool": "f_last_tool"})
    problems += gate.compare(out.filter(in_sample).toPandas(), exp, ["conv_id", "ts"],
                             ["f_ts", "f_turn_count", "f_last_tool"], ["f_median_width"],
                             "pit_read")
    out.unpersist()
    vectors.unpersist()
    label.unpersist()
    counts = {
        "features.probe_rows": n_probes,
        "asof.probe_rows": n_label,
        "asof.input_rows": n_probes + n_label,
        "asof.matched_frac": row["matched"] / n_label,
        "pit_read.matched_frac": row["matched"] / n_label,
    }
    return problems, counts


# -- registry -----------------------------------------------------------------

@dataclass(frozen=True)
class Workload:
    name: str
    shape: Shape
    run_pass: Callable[[Context, int], None]
    gate: Callable[[Context], tuple[list[str], dict]]
    after_passes: Callable[[Context], None] | None = None


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "pit_chain",
            # Pareto sizes, none above ~1% of the turns
            Shape(conversations=6000, min_turns=20, alpha=1.3, cap_turns=4000),
            lambda ctx, i: force(plain_chain(ctx.transcripts())),
            lambda ctx: gate_chain(ctx, plain_chain, CHAIN_VALUES),
        ),
        Workload(
            "feature_job",
            Shape(conversations=150, min_turns=20, alpha=1.3, cap_turns=2000,
                  mega_turns=(10_000,)),
            job_pass,
            gate_job,
            job_after_passes,
        ),
        Workload(
            "mega_skew",
            # three mega-conversations hold about two thirds of the turns
            Shape(conversations=300, min_turns=20, alpha=1.3, cap_turns=2000,
                  mega_turns=(20_000, 12_000, 8_000)),
            lambda ctx, i: force(salted_chain(ctx.transcripts())),
            lambda ctx: gate_chain(ctx, salted_chain, SALTED_VALUES),
        ),
    ]
}
