"""SentencePiece-style unigram-LM subword tokenizer: the other major
tokenizer family next to BPE (operators/bpe.py), trained by EM over a
piece vocabulary and decoded per word by Viterbi.

Published algorithm (Kudo 2018, arXiv:1804.10959; the `unigram`
model inside SentencePiece): a word's probability is the sum over
ALL its segmentations of the product of piece probabilities; training
alternates EM (forward-backward expected piece counts over the
word-frequency table) with pruning of low-utility pieces until the
target vocabulary size; tokenization picks each word's single most
probable segmentation (Viterbi).

Distribution shape — identical to the BPE trainer's:

  * the only cluster-wide stage is the word-frequency shuffle
    (``bpe.word_frequencies``, shared) — one keyed aggregate with
    map-side combine, O(distinct words) shuffle volume;
  * training runs on the driver over the Zipf-capped top
    ``max_words`` types (frequencies carry the mass; the cap bounds
    memory at any corpus scale);
  * tokenization is a stateless Arrow kernel with a per-word LRU —
    no shuffle, streaming-safe, the exact contract of
    ``tokenize_bpe``.

Guarantees kept by construction (and pinned in tests):
  * single characters of every training word are never pruned, so
    every training word segments (alpha > 0 throughout EM);
  * unseen characters at tokenize time fall back to themselves as
    single-char pieces — concatenating a word's pieces ALWAYS
    round-trips the word;
  * EM at fixed vocabulary never decreases the training
    log-likelihood (the classic EM monotonicity — asserted).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trial_data_ingestion_spark.operators.bpe import word_frequencies
from trial_data_ingestion_spark.store import read_params, write_params

__all__ = ["UnigramModel", "train_unigram", "viterbi_segment",
           "tokenize_unigram", "save_unigram", "load_unigram",
           "word_frequencies"]


@dataclass(frozen=True)
class UnigramModel:
    """(piece, logprob) vocabulary; probs sum to ~1."""
    pieces: tuple          # tuple[tuple[str, float], ...]
    max_piece_len: int

    @property
    def logprobs(self) -> dict:
        return dict(self.pieces)


def _forward_backward(word: str, logp: dict, max_len: int):
    """(alpha, beta, total_logprob) in log space; alpha[i] = logprob
    of the prefix w[:i] summed over segmentations."""
    n = len(word)
    neg = float("-inf")
    alpha = [neg] * (n + 1)
    alpha[0] = 0.0
    for i in range(1, n + 1):
        acc = neg
        for j in range(max(0, i - max_len), i):
            lp = logp.get(word[j:i])
            if lp is not None and alpha[j] > neg:
                x = alpha[j] + lp
                acc = x if acc == neg else (
                    max(acc, x) + math.log1p(math.exp(-abs(acc - x))))
        alpha[i] = acc
    beta = [neg] * (n + 1)
    beta[n] = 0.0
    for j in range(n - 1, -1, -1):
        acc = neg
        for i in range(j + 1, min(n, j + max_len) + 1):
            lp = logp.get(word[j:i])
            if lp is not None and beta[i] > neg:
                x = beta[i] + lp
                acc = x if acc == neg else (
                    max(acc, x) + math.log1p(math.exp(-abs(acc - x))))
        beta[j] = acc
    return alpha, beta, alpha[n]


def _em_step(words: list, logp: dict, max_len: int):
    """One E+M pass: returns (new_logp, total_log_likelihood)."""
    expected: dict = {}
    ll = 0.0
    for word, freq in words:
        alpha, beta, tot = _forward_backward(word, logp, max_len)
        if tot == float("-inf"):
            raise AssertionError(f"uncoverable word {word!r}")
        ll += freq * tot
        n = len(word)
        for j in range(n):
            if alpha[j] == float("-inf"):
                continue
            for i in range(j + 1, min(n, j + max_len) + 1):
                lp = logp.get(word[j:i])
                if lp is not None and beta[i] > float("-inf"):
                    post = math.exp(alpha[j] + lp + beta[i] - tot)
                    if post > 0.0:
                        p = word[j:i]
                        expected[p] = expected.get(p, 0.0) + freq * post
    total = sum(expected.values())
    new_logp = {p: math.log(c / total) for p, c in expected.items()
                if c > 0.0}
    # pieces with zero expected count vanish — EXCEPT single chars,
    # which coverage requires; give dropped chars a floor
    floor = math.log(0.5 / total) if total > 0 else -30.0
    for p in logp:
        if len(p) == 1 and p not in new_logp:
            new_logp[p] = floor
    return new_logp, ll


def train_unigram(word_freqs: DataFrame, vocab_size: int = 8000,
                  max_words: int = 200_000, max_piece_len: int = 8,
                  seed_size: int | None = None, em_iters: int = 2,
                  prune_frac: float = 0.25) -> UnigramModel:
    """Learn a unigram piece vocabulary from a (word, cnt) table.

    Seed = every substring (length <= ``max_piece_len``) of the
    capped word list, scored by count * length, top ``seed_size``
    (default 4x the target) plus all single characters; then repeat
    [EM x ``em_iters`` -> prune the lowest-expected-count
    ``prune_frac`` of multi-char pieces] until the vocabulary fits
    ``vocab_size``, and finish with one more EM round.  Deterministic
    throughout (ties break on the piece string)."""
    rows = (word_freqs.orderBy(F.col("cnt").desc(), F.col("word").asc())
            .limit(max_words).collect())
    words = [(r["word"], r["cnt"]) for r in rows]
    if not words:
        return UnigramModel(pieces=(), max_piece_len=max_piece_len)
    # seed scores
    scores: dict = {}
    for w, c in words:
        n = len(w)
        for j in range(n):
            for i in range(j + 1, min(n, j + max_piece_len) + 1):
                p = w[j:i]
                scores[p] = scores.get(p, 0.0) + c * (i - j)
    chars = {p for p in scores if len(p) == 1}
    budget = seed_size or 4 * vocab_size
    multi = sorted((p for p in scores if len(p) > 1),
                   key=lambda p: (-scores[p], p))[:max(0, budget
                                                       - len(chars))]
    vocab = chars | set(multi)
    total = sum(scores[p] for p in vocab)
    logp = {p: math.log(scores[p] / total) for p in vocab}
    ll_prev = None
    while True:
        for _ in range(em_iters):
            logp, ll = _em_step(words, logp, max_piece_len)
            if ll_prev is not None and ll < ll_prev - 1e-6 \
                    and len(logp) == n_prev:
                raise AssertionError("EM likelihood decreased")
            ll_prev, n_prev = ll, len(logp)
        multi = [p for p in logp if len(p) > 1]
        excess = len(logp) - vocab_size
        if excess <= 0 or not multi:
            break
        drop_n = min(len(multi), max(excess,
                                     int(len(multi) * prune_frac)))
        # lowest total contribution first (logprob is the normalized
        # expected count, so it IS the utility ranking here)
        drop = sorted(multi, key=lambda p: (logp[p], p))[:drop_n]
        for p in drop:
            del logp[p]
        ll_prev = None        # vocab changed: monotonicity resets
    logp, _ = _em_step(words, logp, max_piece_len)
    pieces = tuple(sorted(logp.items()))
    return UnigramModel(pieces=pieces, max_piece_len=max_piece_len)


def viterbi_segment(word: str, logp: dict, max_len: int) -> list:
    """Single best segmentation; unseen characters emit themselves
    (round-trip always holds).  Ties prefer the segmentation whose
    final piece is longer, then lexicographic — deterministic."""
    n = len(word)
    neg = float("-inf")
    best = [neg] * (n + 1)
    back: list = [None] * (n + 1)
    best[0] = 0.0
    unk = math.log(1e-12)
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            if best[j] == neg:
                continue
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                if i - j == 1:
                    lp = unk           # char fallback
                else:
                    continue
            cand = best[j] + lp
            prev = back[i]
            if cand > best[i] + 1e-12 or (
                    abs(cand - best[i]) <= 1e-12 and prev is not None
                    and (j < prev[0]
                         or (j == prev[0] and piece < prev[1]))):
                best[i] = cand
                back[i] = (j, piece)
    out = []
    i = n
    while i > 0:
        j, piece = back[i]
        out.append(piece)
        i = j
    return out[::-1]


def tokenize_unigram(df: DataFrame, model: UnigramModel,
                     text_col: str = "text",
                     out_col: str = "unigram_tokens",
                     lowercase: bool = True) -> DataFrame:
    """Attach ``out_col array<string>`` + ``{out_col}_count``:
    stateless Arrow kernel, model in the task closure, per-word LRU
    (same contract as ``tokenize_bpe`` — batch and streaming)."""
    import pandas as pd
    from functools import lru_cache

    logp = model.logprobs
    max_len = model.max_piece_len
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    out_schema = (f"{fields}, {out_col} array<string>,"
                  f" {out_col}_count int")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        @lru_cache(maxsize=65536)
        def seg(word: str) -> tuple:
            return tuple(viterbi_segment(word, logp, max_len))

        for pdf in batches:
            toks_col, cnt_col = [], []
            for text in pdf[text_col]:
                text = text or ""
                if lowercase:
                    text = text.lower()
                toks: list = []
                for w in text.split():
                    toks.extend(seg(w))
                toks_col.append(toks)
                cnt_col.append(len(toks))
            pdf = pdf.copy()
            pdf[out_col] = toks_col
            pdf[out_col + "_count"] = cnt_col
            yield pdf

    return df.mapInPandas(kernel, schema=out_schema)


def save_unigram(model: UnigramModel, spark, path: str) -> None:
    """Record the pieces and ``max_piece_len`` (once, so a model with
    no pieces keeps it) as the ``_params.json`` of ``path``
    (``store.write_params``: no Spark job)."""
    write_params(spark, path, {"pieces": [list(p) for p in model.pieces],
                               "max_piece_len": model.max_piece_len})


def load_unigram(spark, path: str) -> UnigramModel:
    """The model :func:`save_unigram` recorded at ``path`` (no Spark
    job)."""
    params = read_params(spark, path)
    return UnigramModel(pieces=tuple(map(tuple, params["pieces"])),
                        max_piece_len=params["max_piece_len"])
