"""Seeded transcript tables, generated inside Spark.

Every random draw is ``xxhash64(seed, conv, turn, stream)``, a pure function
of the seed and the row's coordinates, so the table is byte-identical at any
core count or partitioning. Conversation sizes come from the same hash
(``turn = -1``) and are collected to the driver, which needs them anyway for
the size report and to balance generation: turns are exploded in chunks of
``CHUNK`` rows so a mega-conversation is spread over every task.

Schema: the canonical transcript table
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)``.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

CHUNK = 4096
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
TURN_US = 60_000_000  # mean spacing of turns within a session
SESSION_BREAK_US = 3_600_000_000  # > the 1800 s sessionize gap
ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["search", "python", "browser", "calculator", "retrieval"]
# CSV-hostile and unicode fragments, as in featureextraction_spark.datagen
FRAGMENTS = [
    "",
    "hello world",
    "line1\nline2",
    "comma, separated, values",
    'quote " inside',
    "unicode: héllo wörld — 你好 🚀",
    "tab\tseparated",
    "trailing space ",
    "a" * 200,
    "short",
]


@dataclass(frozen=True)
class Shape:
    """Size distribution of one workload's table.

    Ordinary conversations have stratified Pareto(``alpha``) sizes starting
    at ``min_turns`` and capped at ``cap_turns``; the first ``len(mega_turns)``
    conversations have exactly the listed sizes instead.
    """

    conversations: int
    min_turns: int
    alpha: float
    cap_turns: int
    mega_turns: tuple[int, ...] = ()


@dataclass(frozen=True)
class Table:
    df: DataFrame  # lazily generated transcripts
    sizes: list[int]  # turns per conversation, index = conversation number

    def report(self) -> dict:
        rows = sum(self.sizes)
        return {
            "rows": rows,
            "conversations": len(self.sizes),
            "largest_conv_share": max(self.sizes) / rows,
        }


def conv_name(c: int) -> str:
    return f"conv_{c:06d}"


def _hash(seed: int, conv: Column, turn: Column, stream: int) -> Column:
    return F.xxhash64(F.lit(seed), conv, turn, F.lit(stream))


def _unit(seed: int, conv: Column, turn: Column, stream: int) -> Column:
    """Uniform double in [0, 1)."""
    return F.pmod(_hash(seed, conv, turn, stream), F.lit(1 << 53)) / F.lit(float(1 << 53))


def _pick(values: list[str], h: Column) -> Column:
    idx = (F.pmod(h, F.lit(len(values))) + 1).cast("int")
    return F.element_at(F.array(*[F.lit(v) for v in values]), idx)


def conversation_sizes(spark: SparkSession, shape: Shape, seed: int) -> list[int]:
    c = F.col("id")
    # Stratified: conversation c draws from the c-th of n equal quantile
    # bands, so the table's total size barely moves with the seed.
    u = (c + _unit(seed, c, F.lit(-1), 0)) / F.lit(float(shape.conversations))
    pareto = F.floor(F.lit(float(shape.min_turns)) * F.pow(F.lit(1.0) - u, F.lit(-1.0 / shape.alpha)))
    size = F.least(pareto, F.lit(shape.cap_turns)).cast("long")
    for i, n in enumerate(shape.mega_turns):
        size = F.when(c == i, F.lit(n)).otherwise(size)
    rows = spark.range(shape.conversations).select(c, size.alias("n")).orderBy("id").collect()
    return [int(r["n"]) for r in rows]


def transcripts(spark: SparkSession, shape: Shape, seed: int) -> Table:
    """The workload's transcript table (lazy) plus its conversation sizes."""
    sizes = conversation_sizes(spark, shape, seed)
    chunks = [(c, k, n) for c, n in enumerate(sizes) for k in range((n + CHUNK - 1) // CHUNK)]
    random.Random(seed).shuffle(chunks)  # spread mega-conversations over the tasks
    # from pandas, so Arrow ships the rows and no Python worker is started
    chunks = spark.createDataFrame(pd.DataFrame(chunks, columns=["conv", "chunk", "n"]))
    rows = chunks.select(
        "conv",
        "n",
        F.explode(
            F.sequence(F.col("chunk") * CHUNK, F.least(F.col("n"), (F.col("chunk") + 1) * CHUNK) - 1)
        ).alias("turn"),
    )
    conv, turn = F.col("conv"), F.col("turn")
    # A turn flagged as a tie repeats the previous turn's timestamp exactly.
    tie = (turn > 0) & (_unit(seed, conv, turn, 1) < 0.07)
    slot = F.when(tie, turn - 1).otherwise(turn)
    session_len = F.lit(20) + F.pmod(_hash(seed, conv, F.lit(-1), 2), F.lit(180))
    start_us = F.floor(_unit(seed, conv, F.lit(-1), 3) * F.lit(5 * 86_400_000_000.0)).cast("long")
    jitter_us = F.floor(_unit(seed, conv, slot, 4) * F.lit(float(TURN_US - 1))).cast("long")
    ts_us = (
        F.lit(BASE_US)
        + start_us
        + slot * F.lit(TURN_US)
        + jitter_us
        + F.floor(slot / session_len).cast("long") * F.lit(SESSION_BREAK_US)
    )
    frag = F.pmod(_hash(seed, conv, turn, 5), F.lit(len(FRAGMENTS)))
    text = F.when(frag == 0, F.lit("")).otherwise(
        F.concat(
            F.element_at(F.array(*[F.lit(v) for v in FRAGMENTS]), (frag + 1).cast("int")),
            F.lit(" t"),
            F.pmod(_hash(seed, conv, turn, 6), F.lit(10000)).cast("string"),
        )
    )
    tool = F.when(_unit(seed, conv, turn, 7) < 0.15, _pick(TOOLS, _hash(seed, conv, turn, 8)))
    df = rows.select(
        F.format_string("conv_%06d", conv).alias("conv_id"),
        turn.cast("int").alias("turn_idx"),
        _pick(ROLES, _hash(seed, conv, turn, 9)).alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.timestamp_micros(ts_us).alias("ts"),
    )
    return Table(df, sizes)


def sample_conversations(sizes: list[int], seed: int, k: int) -> list[str]:
    """Fixed oracle sample: the largest conversation plus ``k`` others
    chosen by the seed (deterministic, independent of Spark)."""
    largest = max(range(len(sizes)), key=lambda c: (sizes[c], -c))
    rest = [c for c in range(len(sizes)) if c != largest]
    picked = random.Random(seed).sample(rest, min(k, len(rest)))
    return [conv_name(c) for c in [largest, *sorted(picked)]]
