"""Deterministic synthetic transcript generator.

Produces the canonical engine input table
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` at any scale as a *pure column-expression program* over
``spark.range`` — no driver-side data, no shuffle, no window functions, so
generation itself scales linearly and is partition-count independent
(every value is a closed-form function of the global row id and the seed).

Injected anomalies (FIXTURES.md F1 requirements, exercised by the QC tests):

- **skew**: the first ``n_mega`` conversations have ``mega_turns`` turns each
  (mega-conversations, the hot keys the rollup must handle);
- **out-of-order ts** within a conversation (CheckMonotonic targets);
- **gaps** larger than the tier width (gap-fill targets);
- **null / empty text** (CheckMissing targets);
- **ts jumps** beyond any reasonable valid_delta (CheckValidDelta);
- **duplicated (conv_id, turn_idx)** rows (dedup-on-standardize target).

Layout arithmetic: conversations ``0..n_mega-1`` have ``mega_turns`` turns,
the rest have ``base_turns``, so a global row id maps to (conv, turn) in
closed form without prefix sums.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class SynthSpec:
    n_convs: int = 200
    base_turns: int = 40
    n_mega: int = 2
    mega_turns: int = 4000
    seed: int = 42
    start_epoch: int = 1704067200  # 2024-01-01T00:00:00Z
    conv_spacing_s: int = 60  # conversations start staggered
    turn_gap_s: int = 20  # nominal gap between turns
    partitions: int = 32

    @property
    def n_rows(self) -> int:
        return self.n_mega * self.mega_turns + (self.n_convs - self.n_mega) * self.base_turns


def generate_transcripts(spark: SparkSession, spec: SynthSpec | None = None) -> DataFrame:
    """Deterministic transcripts table (see module docstring)."""
    s = spec or SynthSpec()
    mega_rows = s.n_mega * s.mega_turns

    df = spark.range(0, s.n_rows, 1, s.partitions)

    in_mega = F.col("id") < F.lit(mega_rows)
    conv = F.when(in_mega, (F.col("id") / s.mega_turns).cast("long")).otherwise(
        s.n_mega + ((F.col("id") - mega_rows) / s.base_turns).cast("long")
    )
    turn = F.when(in_mega, F.col("id") % s.mega_turns).otherwise(
        (F.col("id") - mega_rows) % s.base_turns
    )

    df = df.withColumn("conv_n", conv).withColumn("turn_idx", turn.cast("int"))

    # Per-row deterministic hash driving all randomness (seeded).
    h = F.abs(F.xxhash64(F.col("conv_n"), F.col("turn_idx"), F.lit(s.seed)))
    df = df.withColumn("h", h)

    # Timestamps: conv start + turn * gap + jitter, with injected anomalies.
    jitter = (F.col("h") % 7) - F.lit(3)  # ±3s
    base_ts = (
        F.lit(s.start_epoch)
        + F.col("conv_n") * s.conv_spacing_s
        + F.col("turn_idx").cast("long") * s.turn_gap_s
        + jitter
    )
    # out-of-order: ~1/37 rows pulled backwards past the previous turn.
    # Spikes are backwards-only so each anomaly flags exactly itself under
    # running-max monotonic semantics (a forward spike would flood every
    # subsequent row below the new running max).
    base_ts = F.when((F.col("h") % 37 == 0) & (F.col("turn_idx") > 0), base_ts - 3 * s.turn_gap_s).otherwise(base_ts)
    # big gap: each conversation jumps forward 1h at a per-conv deterministic
    # turn position and stays shifted — a real gap (> tier width, exercises
    # gap-fill and CheckValidDelta) that preserves monotonicity after it.
    h_conv = F.abs(F.xxhash64(F.col("conv_n"), F.lit(s.seed + 1)))
    gap_pos = h_conv % F.when(in_mega, s.mega_turns).otherwise(s.base_turns)
    base_ts = F.when(F.col("turn_idx") >= gap_pos, base_ts + 3600).otherwise(base_ts)
    df = df.withColumn("ts", F.timestamp_seconds(base_ts))

    # role cycles user → assistant → (tool), tool name only on tool turns
    role = (
        F.when(F.col("turn_idx") % 3 == 0, F.lit("user"))
        .when(F.col("turn_idx") % 3 == 1, F.lit("assistant"))
        .otherwise(F.lit("tool"))
    )
    tool = F.when(
        F.col("turn_idx") % 3 == 2,
        F.element_at(
            F.array(F.lit("search"), F.lit("code"), F.lit("browser"), F.lit("calc")),
            (F.col("h") % 4 + 1).cast("int"),
        ),
    ).otherwise(F.lit(None).cast("string"))

    # deterministic pseudo-text: 1..40 words drawn from a fixed vocabulary;
    # ~1/53 empty string, ~1/59 NULL (CheckMissing targets)
    words = F.array(*[F.lit(w) for w in (
        "alpha", "beta", "gamma", "delta", "query", "result", "token",
        "spark", "rollup", "series", "window", "digest",
    )])
    n_words = (F.col("h") % 40 + 1).cast("int")
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), n_words),
            lambda k: F.element_at(words, ((F.col("h") + k * 7) % 12 + 1).cast("int")),
        ),
    )
    text = (
        F.when(F.col("h") % 53 == 0, F.lit(""))
        .when(F.col("h") % 59 == 0, F.lit(None).cast("string"))
        .otherwise(text)
    )

    df = (
        df.withColumn("conv_id", F.concat(F.lit("conv-"), F.lpad(F.col("conv_n").cast("string"), 8, "0")))
        .withColumn("role", role)
        .withColumn("tool", tool)
        .withColumn("text", text)
    )

    # duplicated (conv_id, turn_idx): ~1/97 rows emitted twice
    dup = F.when(F.col("h") % 97 == 0, F.array(F.lit(0), F.lit(1))).otherwise(F.array(F.lit(0)))
    df = df.withColumn("dup", F.explode(dup))

    return df.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
