"""Benchmark inputs: a pure function of ``--seed`` and the scale.

- Transcript days come from the library's own generator
  (:func:`tsdat_spark.synth.generate_transcripts`, seeded with
  ``SynthSpec.seed``), so every day carries the generator's anomalies
  (mega-conversations for skew, out-of-order and duplicated turns, empty
  text, one-hour gaps). One turn in ``LATE_MOD`` is marked late: it lands
  with the next day's append.
- The corpus mirrors the shape of the ``documents`` and ``embeddings``
  test tables (a 30-word vocabulary, 10-89 words per document,
  ~5% near-duplicates that copy another document and append a token, 20
  sources, a skewed language mix; unit-norm 64-d float vectors with 10
  labels), generated with NumPy and written with pyarrow.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import date, timedelta

import numpy as np

EPOCH_DAY = date(2024, 1, 1)
DAY_S = 86_400
TURN_GAP_S = 20
LATE_MOD = 20


@dataclass(frozen=True)
class PipelineScale:
    history_days: int  # backfilled during set-up
    max_appends: int   # days generated for the timed refreshes
    convs_per_day: int
    base_turns: int
    n_mega: int
    mega_turns: int

    @property
    def n_days(self) -> int:
        return self.history_days + self.max_appends


@dataclass(frozen=True)
class CorpusScale:
    n_docs: int
    n_vecs: int


PIPELINE = {
    "full": PipelineScale(history_days=3, max_appends=4,
                          convs_per_day=40, base_turns=150, n_mega=2, mega_turns=2000),
    "smoke": PipelineScale(history_days=2, max_appends=3,
                           convs_per_day=8, base_turns=30, n_mega=1, mega_turns=200),
}
CORPUS = {
    "full": CorpusScale(n_docs=600, n_vecs=300),
    "smoke": CorpusScale(n_docs=300, n_vecs=200),
}


def day_str(day: int) -> str:
    return (EPOCH_DAY + timedelta(days=day)).isoformat()


def write_transcript_days(spark, out_dir: str, seed: int, scale: PipelineScale) -> None:
    """Raw turns of every day, with ``day`` (days since 2024-01-01, from
    the turn's own timestamp) and the ``late`` flag, as one parquet table.

    Two generator calls cover all days: one for the regular conversations,
    ``convs_per_day`` starting evenly over each day, and one for the
    mega-conversations, ``n_mega`` starting evenly over each day. Both
    run past midnight, as real conversations do."""
    from pyspark.sql import functions as F

    from tsdat_spark.synth import SynthSpec, generate_transcripts

    start = int((EPOCH_DAY - date(1970, 1, 1)).total_seconds()) + 60
    regular = SynthSpec(
        n_convs=scale.n_days * scale.convs_per_day, base_turns=scale.base_turns, n_mega=0,
        seed=seed, start_epoch=start, conv_spacing_s=DAY_S // scale.convs_per_day,
        turn_gap_s=TURN_GAP_S, partitions=4)
    mega = SynthSpec(
        n_convs=scale.n_days * scale.n_mega, n_mega=scale.n_days * scale.n_mega,
        mega_turns=scale.mega_turns, seed=seed + 1, start_epoch=start,
        conv_spacing_s=DAY_S // scale.n_mega, turn_gap_s=TURN_GAP_S, partitions=4)
    raw = (generate_transcripts(spark, regular).withColumn("conv_id", F.concat(F.lit("r"), "conv_id"))
           .unionByName(generate_transcripts(spark, mega).withColumn("conv_id", F.concat(F.lit("m"), "conv_id"))))
    raw = raw.withColumn("day", F.datediff(F.to_date("ts"), F.lit(EPOCH_DAY.isoformat()).cast("date")))
    raw = raw.withColumn("late", F.abs(F.xxhash64("conv_id", "turn_idx", F.lit(seed))) % LATE_MOD == 0)
    raw.write.mode("overwrite").parquet(out_dir)


_VOCAB = (
    "a the row key data table query scan join sort hash group merge filter "
    "window stream batch value column vector order line part customer agg "
    "spark fast slow big small"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)


def write_corpus(out_dir: str, seed: int, scale: CorpusScale) -> None:
    """``documents.parquet`` and ``embeddings.parquet`` under ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)])
             for n in rng.integers(10, 90, scale.n_docs)]
    # near-duplicates: copy another document and append one token
    for i in np.flatnonzero(rng.random(scale.n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, scale.n_docs))] + " dup"
    doc_id = np.arange(scale.n_docs, dtype=np.int64)
    docs = pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": rng.choice(_LANGS, size=scale.n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in doc_id],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((scale.n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": np.arange(scale.n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, scale.n_vecs).astype(np.int32),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
