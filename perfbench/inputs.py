"""Seeded input generators and input statistics for the workloads.

The program only ever sees what these functions generate; the same seed
always gives the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_corrector_spark.operators.detect import (
    eligible_bert,
    eligible_keyword,
    err_positions,
    err_prob_key,
)
from ocr_corrector_spark.sources import transcripts as T

PIPELINE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "probs"]
_CJK_DIGITS = "零一二三四五六七八九"


def _cjk_number(col, width: int):
    return F.translate(F.lpad(col.cast("string"), width, "0"), "0123456789", _CJK_DIGITS)


def unique_transcripts(spark: SparkSession, n_convs: int, seed: int) -> DataFrame:
    """``gen_transcripts`` with every row's inner text made distinct.

    A per-row CJK suffix (4 digits from the seed, 8 from the row's
    position) is appended to the inner noisy text, ``probs`` grows by the
    suffix length at 0.99 (never an error position), and the row is
    wrapped again in the generator's own HTML or ``%LAYOUT`` envelope.
    Error positions, eligibility and format mix stay those of the
    repetitive generator, so only the duplication changes.  Keeps the
    generator's oracle columns."""
    df = T.gen_transcripts(spark, n_convs=n_convs, seed=seed, keep_oracle_cols=True)
    conv_no = F.substring("conv_id", 6, 12).cast("long")
    tag = F.concat(
        F.lit("。"),
        _cjk_number(F.pmod(F.xxhash64(F.lit(seed)), F.lit(10_000)), 4),
        _cjk_number(conv_no * 256 + F.col("turn_idx"), 8),
    )
    noisy = F.concat(F.col("text_noisy"), tag)
    pad = F.array_repeat(F.lit(0.99), F.length(tag))
    return (
        df.withColumn("text_noisy", noisy)
        .withColumn("probs", F.concat(F.col("probs"), pad))
        .withColumn(
            "text",
            F.when(
                F.col("is_html"),
                F.concat(F.lit(T._HTML_PREFIX), noisy, F.lit(T._HTML_SUFFIX)),
            )
            .when(
                F.col("is_layout"),
                F.concat(F.lit(T._LAYOUT_PREFIX), noisy, F.lit(T._LAYOUT_SUFFIX)),
            )
            .otherwise(noisy),
        )
    )


def transcript_stats(df: DataFrame) -> dict:
    """Distinct-text ratio, format shares, correction-mode shares and the
    dedup-key ratio of a generated transcripts frame with oracle columns.

    The mode is computed natively on the generator's inner text, which is
    what extraction recovers, with the pipeline's own detection rules."""
    inner = F.col("text_noisy")
    is_report = F.col("tool") == F.lit("report")
    eligible = F.when(is_report, eligible_keyword(inner)).otherwise(eligible_bert(inner))
    mode = (
        F.when(~eligible | (F.size(err_positions(inner, F.col("probs"))) == 0), F.lit(0))
        .when(is_report, F.lit(1))
        .otherwise(F.lit(2))
    )
    r = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct("text").alias("distinct_text"),
        F.count_distinct("text", err_prob_key(F.col("probs")), "tool").alias("distinct_key"),
        F.avg(F.col("is_html").cast("double")).alias("html_share"),
        F.avg(F.col("is_layout").cast("double")).alias("layout_share"),
        *[F.avg((mode == k).cast("double")).alias(f"mode{k}_share") for k in range(3)],
    ).collect()[0]
    rows = r["rows"]
    return {
        "rows": rows,
        "distinct_text_ratio": r["distinct_text"] / rows,
        "unique_key_ratio": r["distinct_key"] / rows,
        "html_share": r["html_share"],
        "layout_share": r["layout_share"],
        **{f"mode{k}_share": r[f"mode{k}_share"] for k in range(3)},
    }


# --- curation tables ------------------------------------------------------
# The sf0.1 testdata's shape: 30-word vocabulary, 8-96 words per document,
# about 5% near-duplicate copies, 20 sources, events over 30 days with
# exponential values, unit-norm 64-d embeddings with random labels.
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
EMB_DIM = 64


def write_curation_tables(
    out_dir: str, seed: int, n_docs: int, n_events: int, n_users: int, n_vecs: int
) -> int:
    """Write ``documents``, ``events`` and ``embeddings`` parquet tables
    for ``seed``; returns the total row count."""
    rng = np.random.default_rng([seed & 0xFFFFFFFF, 0x5EED])
    os.makedirs(out_dir, exist_ok=True)

    # Copies are made of originals only, so near-duplicate groups are stars
    # and the dedup label propagation takes the same rounds on every seed.
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        if originals and rng.random() < 0.05:
            t = texts[originals[int(rng.integers(len(originals)))]]
            texts.append(t + " dup" if rng.random() < 0.5 else t)
        else:
            originals.append(i)
            words = rng.integers(0, len(VOCAB), int(rng.integers(8, 97)))
            texts.append(" ".join(VOCAB[k] for k in words))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": [LANGS[k] for k in rng.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    start_us = 1704067200 * 10**6  # 2024-01-01
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(start_us + offs, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n_events)],
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    vecs = rng.standard_normal((n_vecs, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return n_docs + n_events + n_vecs
