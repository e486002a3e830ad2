"""The correction operator: one Arrow-batched scalar pandas UDF that
dispatches each row to its corrector (``with_dispatched_correction``).

Design (SURVEY.md §2b F4, §4): NO split/merge of the DataFrame — the
reference partitions rows into correct/pass lists and re-inserts by index
(base_corrector.py:54-94); at 10^12-turn scale that positional identity is
replaced by the ``(conv_id, turn_idx)`` key and a single-pass
``CASE WHEN needs_correction THEN kernel(text) ELSE text END``.  The
``needs_correction`` flag is computed natively (operators/detect.py) and
passed INTO the UDF so pass-through rows cost one Arrow column copy, not a
Python kernel call.

Dictionaries ride a Spark broadcast; the BK-tree is built lazily once per
Python worker from the broadcast word list (cheap: ~100 words) and cached.
The correction itself is embarrassingly parallel — no shuffle.  Each
Python worker memoizes row results across batches and tasks; this memo is
the engine's only dedup of repeated rows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..assets import KEYWORDS
from ..assets.scorer_table import SCORER_TABLE
from ..functions.bktree import BKTree
from ..functions.charsim import CharSim
from ..functions.correct_kernels import (
    bert_correct_one,
    bert_correct_one_framed,
    keyword_correct_one,
)

# per-worker kernel caches, keyed by config tuple — survives across Arrow
# batches and tasks in the same Python worker process
_KW_CACHE: dict = {}
_CHAR_SIM_CACHE: dict = {}
_FRAMED_CACHE: dict = {}
_ROW_CACHE_MAX = 200_000
# row-result memos per correction config — worker-global so the memo
# survives across tasks (a closure dict would be re-deserialized fresh
# with every task's UDF command)
_ROW_CACHES: dict = {}


def _get_row_cache(config_key) -> dict:
    cache = _ROW_CACHES.get(config_key)
    if cache is None:
        cache = {}
        _ROW_CACHES[config_key] = cache
    return cache


def _get_char_sim() -> CharSim:
    cs = _CHAR_SIM_CACHE.get("cs")
    if cs is None:
        from ..assets.char_meta import build_char_meta

        cs = CharSim(build_char_meta())
        _CHAR_SIM_CACHE["cs"] = cs
    return cs


def _get_kw_kernel(words: tuple):
    # Content-keyed on the tuple itself (cheap: ~100 short strings) — the
    # dict hashes it and compares on collision, so unlike id(words) or
    # hash(words) there is no stale-entry or collision failure mode.
    hit = _KW_CACHE.get(words)
    if hit is None:
        tree = BKTree(words)
        hit = (tree, frozenset(tree.words))
        _KW_CACHE[words] = hit
    return hit


def _get_framed_scorer(config_key, table, bigrams, topn):
    fs = _FRAMED_CACHE.get(config_key)
    if fs is None:
        from ..functions.framed_scorer import FramedTableScorer

        fs = FramedTableScorer(
            table=table, context_bigrams=bigrams, topn=topn
        )
        _FRAMED_CACHE[config_key] = fs
    return fs


def _table_signature(table: dict) -> tuple:
    # the tuple itself (not its hash) keys the caches — collision-proof
    return tuple(sorted((k, tuple(v)) for k, v in table.items()))


def _get_lm_scorer(checkpoint_path: str, topn: int):
    """Per-worker lazy singleton for the numpy masked-LM backend — the
    checkpoint loads ONCE per Python worker process (the reference's
    per-session checkpoint load, masked_lm.py:386-398, as an
    executor-side cache)."""
    key = ("lm", checkpoint_path, topn)
    fs = _FRAMED_CACHE.get(key)
    if fs is None:
        from ..functions.numpy_lm import NumpyLMScorer

        fs = NumpyLMScorer(checkpoint_path=checkpoint_path, topn=topn)
        _FRAMED_CACHE[key] = fs
    return fs


def framed_score_rows(
    need: dict, fs, topn, char_sim, scorer
) -> dict:
    """Score ``{row_key: (text, errs)}`` through a batch scorer ``fs``
    (FramedTableScorer or NumpyLMScorer — the tokenize → frame → batch
    score contract) with row-level fallback to the char-keyed kernel on
    misalignment/failure.  Returns ``{row_key: corrected_text}``.  Called
    by the correction UDF for the framed/lm backends' uncached bert rows."""
    keys = list(need)
    try:
        scored = fs.score_sentences(
            [need[k][0] for k in keys], [need[k][1] for k in keys]
        )
    except Exception:
        # batch-level failure (malformed custom table, ...): fall back to
        # the char-keyed path per row, which has row-level isolation
        scored = [None] * len(keys)
    out = {}
    for key, per_err in zip(keys, scored):
        t, e = need[key]
        if per_err is None:
            # misalignment/failure → char-keyed fallback
            out[key] = bert_correct_one(t, e, char_sim, scorer, topn)
        else:
            out[key] = bert_correct_one_framed(t, e, char_sim, per_err, topn)
    return out


def with_dispatched_correction(
    df: DataFrame,
    similarity_threshold: float = 0.55,
    topn: int = 3,
    keywords=KEYWORDS,
    spark: SparkSession | None = None,
    row_counter=None,
    scorer_backend: str = "table",
    scorer_table: dict | None = None,
    context_bigrams: dict | None = None,
    lm_checkpoint: str | None = None,
) -> DataFrame:
    """Single-pass correction with per-row corrector dispatch: reads
    ``text``, ``err_pos`` and ``corr_mode``, adds ``text_corrected``.

    ``corr_mode``: 0 = pass-through, 1 = keyword path, 2 = bert path — the
    Spark analog of the reference's biz_type registry
    (corrector/__init__.py:20-38) without per-row Python objects and with
    ONE Arrow transfer for the whole table (vs one per corrector).

    ``row_counter``: optional Spark accumulator; when set, the UDF adds the
    batch size per invocation — tests use it to assert the expensive stage
    executes exactly once per row per job (no recompute from extra actions).

    ``scorer_backend``: ``"table"`` (char-keyed confusion table, default),
    ``"framed"`` (functions/framed_scorer.py — tokenize → frame → score
    through the reference's batch contract, context-bigram aware), or
    ``"lm"`` (functions/numpy_lm.py — the committed pure-numpy masked LM:
    real checkpoint load + forward pass + top-k at the masked positions).
    All are deterministic; framed with an empty bigram table equals table
    by construction (tests/test_framed_scorer.py).

    ``lm_checkpoint``: ``.npz`` path for the ``lm`` backend (default: the
    committed assets/numpy_lm.npz).

    ``scorer_table``: override the built-in SCORER_TABLE with a plain dict
    ``char -> [(candidate, confidence), ...]`` — e.g. the output of the
    offline training loop (operators/confusion.scorer_table_from_stats via
    assets/scorer_table.scorer_table_from_df).  Broadcast to workers.
    """
    spark = spark or SparkSession.getActiveSession()
    bc_words = spark.sparkContext.broadcast(tuple(keywords))
    table_dict = dict(SCORER_TABLE) if scorer_table is None else dict(scorer_table)
    bc_scorer = spark.sparkContext.broadcast(table_dict)
    batched_backend = scorer_backend in ("framed", "lm")
    if scorer_backend == "framed":
        from ..functions.framed_scorer import DEFAULT_CONTEXT_BIGRAMS

        bigrams = (
            dict(DEFAULT_CONTEXT_BIGRAMS)
            if context_bigrams is None
            else dict(context_bigrams)
        )
    else:
        bigrams = {}
    bc_bigrams = spark.sparkContext.broadcast(bigrams)
    if scorer_backend == "lm" and lm_checkpoint is None:
        from ..functions.numpy_lm import DEFAULT_CHECKPOINT

        lm_checkpoint = DEFAULT_CHECKPOINT
    # Memo config signature: correction is a pure function of (mode, text,
    # err_pos) GIVEN the dictionaries/thresholds/backend, and OCR'd
    # transcript segments are highly repetitive (form labels, boilerplate
    # turns) — so each Python worker memoizes row results across batches
    # AND tasks.
    cache_key = (
        similarity_threshold,
        topn,
        tuple(keywords),
        scorer_backend,
        _table_signature(table_dict),
        tuple(sorted(bigrams.items())),
        lm_checkpoint,
    )

    @F.pandas_udf(StringType())
    def correct_udf(text: pd.Series, err_pos: pd.Series, mode: pd.Series) -> pd.Series:
        if row_counter is not None:
            row_counter.add(len(text))
        char_sim = _get_char_sim()
        tree, kwset = _get_kw_kernel(bc_words.value)
        table = bc_scorer.value

        def scorer(ch):
            cands = table.get(ch)
            if cands is None:
                # identity-dominant default; NOT topn_candidates, which
                # would leak the built-in table under a custom scorer_table
                from ..assets.scorer_table import default_candidates

                return default_candidates(ch, topn)
            return cands

        cache = _get_row_cache(cache_key)
        rows = list(zip(text.tolist(), err_pos.tolist(), mode.tolist()))
        # this batch's framed results, consulted BEFORE the worker-global
        # cache: FIFO eviction under _ROW_CACHE_MAX pressure can drop keys
        # scored earlier in the same batch, and falling through to the
        # char-keyed kernel would silently switch which backend scored the
        # row — the local dict makes eviction affect only reuse, never
        # which backend answers
        local: dict = {}
        if batched_backend:
            # batch-score the uncached bert rows through the framing path
            # (A1 batching + pad/de-pad inside the batch scorer), deduped
            # by row key — repetitive boilerplate rows score once
            need = {}
            for t, e, m in rows:
                if m == 2 and t is not None:
                    key = (2, t, tuple(e))
                    if key not in cache and key not in need:
                        need[key] = (t, list(e))
            if need:
                if scorer_backend == "lm":
                    fs = _get_lm_scorer(lm_checkpoint, topn)
                else:
                    fs = _get_framed_scorer(
                        cache_key, table, bc_bigrams.value, topn
                    )
                local = framed_score_rows(need, fs, topn, char_sim, scorer)
                for key, hit in local.items():
                    if len(cache) >= _ROW_CACHE_MAX:
                        cache.pop(next(iter(cache)))
                    cache[key] = hit
        out = []
        # list iteration beats Series iteration (no per-element numpy boxing)
        for t, e, m in rows:
            if m not in (1, 2) or t is None:
                out.append(t)
                continue
            key = (m, t, tuple(e))
            hit = local.get(key)
            if hit is None:
                hit = cache.get(key)
            if hit is None:
                if m == 1:
                    hit = keyword_correct_one(
                        t, e, tree, kwset, char_sim, similarity_threshold
                    )
                else:
                    hit = bert_correct_one(t, e, char_sim, scorer, topn)
                if len(cache) >= _ROW_CACHE_MAX:
                    cache.pop(next(iter(cache)))
                cache[key] = hit
            out.append(hit)
        return pd.Series(out)

    return df.withColumn(
        "text_corrected",
        correct_udf(F.col("text"), F.col("err_pos"), F.col("corr_mode")),
    )

