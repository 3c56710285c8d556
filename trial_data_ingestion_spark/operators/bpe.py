"""Distributed BPE tokenizer: corpus-scale training + Arrow-batched
application.

Byte-pair encoding (Sennrich, Haddow, Birch, "Neural Machine
Translation of Rare Words with Subword Units", ACL 2016) learns a
merge table from word frequencies and segments words by applying the
merges in rank order.  The reference counts whitespace tokens only
(`SURVEY.md` text stats); a training-data engine needs the real
subword pipeline.

Spark shape — the standard industrial split:

* **word frequencies** are computed distributed: ONE shuffle
  (`groupBy(word)` with map-side partial aggregation) over the
  corpus.  This is the only corpus-scale pass.
* **training** runs on the word-frequency table, which is
  Zipf-bounded: the top ``max_words`` distinct words carry almost
  all the mass regardless of corpus size (100 TB of English is still
  only a few million distinct words above any useful ``min_count``).
  The capped table is collected and merges are learned driver-side
  with the indexed pair-statistics algorithm (incremental updates,
  as in subword-nmt) — deterministic: ties broken by lexicographic
  pair order.
* **application** broadcasts the merge ranks (a few hundred KB) into
  an Arrow-batched kernel; each word is segmented once per batch via
  an LRU cache (Zipf again: a handful of distinct words dominate),
  so tokenization is embarrassingly parallel — no shuffle at all.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trial_data_ingestion_spark.store import read_params, write_params

END = "</w>"


def word_frequencies(df: DataFrame, text_col: str = "text",
                     lowercase: bool = True,
                     min_count: int = 1) -> DataFrame:
    """(word, cnt) over whitespace-split tokens — one shuffle, all
    native expressions (split + explode + groupBy with partial
    combine)."""
    txt = F.col(text_col)
    if lowercase:
        txt = F.lower(txt)
    words = (df.select(F.explode(F.split(txt, r"\s+")).alias("word"))
               .where(F.length("word") > 0))
    out = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    if min_count > 1:
        out = out.where(F.col("cnt") >= min_count)
    return out


@dataclass(frozen=True)
class BPEModel:
    """Ordered merge table; rank = position (lower merges first)."""
    merges: tuple  # tuple[tuple[str, str], ...]

    @property
    def ranks(self) -> dict:
        return {pair: i for i, pair in enumerate(self.merges)}


def _pair_stats(words: list) -> tuple[dict, dict]:
    """stats[pair] = weighted count; index[pair] = {word_i: occurrences}."""
    stats: dict = {}
    index: dict = {}
    for i, (syms, freq) in enumerate(words):
        for a, b in zip(syms, syms[1:]):
            pair = (a, b)
            stats[pair] = stats.get(pair, 0) + freq
            index.setdefault(pair, {})
            index[pair][i] = index[pair].get(i, 0) + 1
    return stats, index


def _merge_word(syms: tuple, pair: tuple, joined: str) -> tuple:
    out = []
    i, n = 0, len(syms)
    while i < n:
        if i < n - 1 and syms[i] == pair[0] and syms[i + 1] == pair[1]:
            out.append(joined)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def train_bpe(word_freqs: DataFrame, num_merges: int = 1000,
              max_words: int = 200_000) -> BPEModel:
    """Learn ``num_merges`` merges from a (word, cnt) table.

    The collect is capped at the ``max_words`` most frequent words
    (deterministic order: cnt desc, word asc) — the Zipf cap that
    bounds driver memory at any corpus size.  Merge selection is
    deterministic: highest weighted pair count, ties to the
    lexicographically smallest pair."""
    rows = (word_freqs.orderBy(F.col("cnt").desc(), F.col("word").asc())
                      .limit(max_words).collect())
    words = [(tuple(r["word"]) + (END,), r["cnt"]) for r in rows]
    stats, index = _pair_stats(words)
    merges = []
    for _ in range(num_merges):
        if not stats:
            break
        best_count = max(stats.values())
        best = min(p for p, c in stats.items() if c == best_count)
        if best_count < 1:
            break
        merges.append(best)
        joined = best[0] + best[1]
        touched = list(index.get(best, {}).items())
        for wi, _occ in touched:
            syms, freq = words[wi]
            # retract this word's old adjacencies
            for a, b in zip(syms, syms[1:]):
                pair = (a, b)
                stats[pair] -= freq
                d = index[pair]
                d[wi] -= 1
                if d[wi] <= 0:
                    del d[wi]
                if stats[pair] <= 0 and not d:
                    del stats[pair]
                    del index[pair]
            new_syms = _merge_word(syms, best, joined)
            words[wi] = (new_syms, freq)
            # add the new adjacencies
            for a, b in zip(new_syms, new_syms[1:]):
                pair = (a, b)
                stats[pair] = stats.get(pair, 0) + freq
                index.setdefault(pair, {})
                index[pair][wi] = index[pair].get(wi, 0) + 1
        stats.pop(best, None)
        index.pop(best, None)
    return BPEModel(merges=tuple(merges))


def segment_word(word: str, ranks: dict) -> list:
    """Greedy BPE segmentation: repeatedly apply the lowest-rank
    applicable merge (the standard decode-time algorithm — identical
    output to replaying merges in training order)."""
    syms = list(word) + [END]
    while len(syms) > 1:
        pairs = [(ranks.get((a, b), None), i)
                 for i, (a, b) in enumerate(zip(syms, syms[1:]))]
        ranked = [(r, i) for r, i in pairs if r is not None]
        if not ranked:
            break
        rank, _ = min(ranked)
        pair_syms = None
        for r, i in ranked:
            if r == rank:
                pair_syms = (syms[i], syms[i + 1])
                break
        out, i, n = [], 0, len(syms)
        while i < n:
            if (i < n - 1 and syms[i] == pair_syms[0]
                    and syms[i + 1] == pair_syms[1]):
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def tokenize_bpe(df: DataFrame, model: BPEModel,
                 text_col: str = "text", out_col: str = "bpe_tokens",
                 lowercase: bool = True) -> DataFrame:
    """Attach ``out_col`` (array<string> subword tokens) and
    ``{out_col}_count``: Arrow-batched kernel, merge ranks in the
    task closure, per-word LRU cache (Zipf makes the hit rate ~99%
    on natural text).  No shuffle."""
    import pandas as pd
    from functools import lru_cache

    ranks = model.ranks
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    out_schema = (f"{fields}, {out_col} array<string>,"
                  f" {out_col}_count int")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        @lru_cache(maxsize=65536)
        def seg(word: str) -> tuple:
            return tuple(segment_word(word, ranks))

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


def save_bpe(model: BPEModel, spark, path: str) -> None:
    """Record the merge table, in rank order, as the ``_params.json``
    of ``path`` (``store.write_params``: a driver-side file write, no
    Spark job)."""
    write_params(spark, path, {"merges": [list(m) for m in model.merges]})


def load_bpe(spark, path: str) -> BPEModel:
    """The model :func:`save_bpe` recorded at ``path`` (no Spark job)."""
    return BPEModel(merges=tuple(
        map(tuple, read_params(spark, path)["merges"])))


def vocab_table(model: BPEModel, word_freqs: DataFrame | None = None
                ) -> list:
    """Deterministic token vocabulary: single characters observed in
    the merge table plus every merged symbol, id-ordered (chars
    lexicographic, then merges by rank — the GPT-2 convention of
    base alphabet + merges).  Pass ``word_freqs`` to extend the base
    alphabet with characters the merges never touched (rare chars in
    never-merged words)."""
    base = {END}
    for a, b in model.merges:
        for sym in (a, b):
            if len(sym) == 1:
                base.add(sym)
    if word_freqs is not None:
        from pyspark.sql import functions as FF
        chars = (word_freqs
                 .select(FF.explode(FF.split("word", "")).alias("c"))
                 .where(FF.length("c") > 0)
                 .distinct().collect())
        base.update(r["c"] for r in chars)
    vocab = sorted(base) + [a + b for a, b in model.merges]
    return vocab


def encode_ids(df: DataFrame, model: BPEModel, vocab: list,
               text_col: str = "text", out_col: str = "token_ids",
               unk_id: int | None = None,
               lowercase: bool = True) -> DataFrame:
    """Attach ``out_col`` (array<int>) — the training-shard payload:
    BPE segments mapped through the vocab.  Out-of-vocab segments
    (possible when the vocab was built without ``word_freqs``) map to
    ``unk_id``; default is ``len(vocab)`` (a dedicated trailing UNK
    slot).  Same Arrow shape as :func:`tokenize_bpe` — stateless, no
    shuffle, streaming-safe."""
    import pandas as pd
    from functools import lru_cache

    ranks = model.ranks
    tok2id = {t: i for i, t in enumerate(vocab)}
    unk = len(vocab) if unk_id is None else unk_id
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    out_schema = (f"{fields}, {out_col} array<int>,"
                  f" {out_col}_count int")

    def kernel(batches):
        @lru_cache(maxsize=65536)
        def seg(word: str) -> tuple:
            return tuple(tok2id.get(t, unk)
                         for t in segment_word(word, ranks))

        for pdf in batches:
            ids_col, cnt_col = [], []
            for text in pdf[text_col]:
                text = text or ""
                if lowercase:
                    text = text.lower()
                ids: list = []
                for w in text.split():
                    ids.extend(seg(w))
                ids_col.append(ids)
                cnt_col.append(len(ids))
            pdf = pdf.copy()
            pdf[out_col] = ids_col
            pdf[out_col + "_count"] = cnt_col
            yield pdf

    return df.mapInPandas(kernel, schema=out_schema)
