"""BPE tokenizer — train on the corpus, encode distributed.

Public algorithm: Sennrich, Haddow & Birch, "Neural Machine Translation
of Rare Words with Subword Units" (ACL 2016) — the byte-pair-encoding
merge loop every mainstream tokenizer trainer uses. The reference engine
only counts whitespace tokens (see functions/textstats.py's
bpe_ish_token_count approximation); this module closes the gap between
"approximate token counts" and "the actual training-ready token ids a
100 TB text pipeline must emit".

Scale split (the standard trainer architecture, e.g. HF tokenizers):

* ``word_frequencies`` — the ONLY corpus-sized pass: a partial-agg'd
  groupBy over whitespace words. Distinct words, not rows, bound
  everything after.
* ``bpe_train`` — the merge loop runs DRIVER-SIDE over the bounded
  word-frequency dict (top ``max_words`` by frequency; truncation is
  logged, never silent). Pair counting over a word-freq dict is the
  textbook algorithm — corpus size only enters through the one
  distributed groupBy above.
* ``bpe_encode`` — distributed apply: a pandas UDF greedily applies the
  merge table in rank order, memoizing word → pieces per batch (Zipf:
  the cache hits almost always). Row-local, no shuffle.

Determinism: pair ties break lexicographically (max by (count, pair)),
so the same corpus always yields the same merge table — the engine-wide
reproducibility contract (cf. operators/sampling.py).
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_EOW = "▁"  # end-of-word marker (SentencePiece's visible space)

# ONE whitespace definition for train AND encode: Java regex \s (what
# word_frequencies' F.split compiles to) is exactly this ASCII class —
# Python's str.split() would ALSO split unicode whitespace (NBSP, ideo-
# graphic space...), silently segmenting real-world text differently at
# encode time than the words the merges were trained on.
_WS = "[ \\t\\n\\x0b\\f\\r]+"


def word_ngrams(words, n: int):
    """Array of space-joined word n-grams over a word-array COLUMN —
    the one gram constructor, so every caller agrees on what an n-gram
    is. Carries the two pitfalls once: docs shorter than n yield an
    EMPTY array (F.sequence(1, 0) DESCENDS in Spark, then
    slice(start=0) errors), and callers must pass a materialized
    column, not an inline HOF expression (O(len²) re-evaluation)."""
    if n == 1:
        return words
    return F.when(
        F.size(words) >= n,
        F.transform(F.sequence(F.lit(1), F.size(words) - (n - 1)),
                    lambda i: F.array_join(F.slice(words, i, n), " "))
    ).otherwise(F.array().cast("array<string>"))


class BpeModel:
    """Ordered merge table + the alphabet it grew from."""

    def __init__(self, merges: list, alphabet: list):
        self.merges = [tuple(m) for m in merges]
        self.alphabet = list(alphabet)
        self.ranks = {m: i for i, m in enumerate(self.merges)}

    @property
    def vocab_size(self) -> int:
        return len(self.alphabet) + len(self.merges)


def word_frequencies(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(word, freq) over whitespace words — the corpus-sized reduction.
    Shuffle volume is distinct words x partitions (partial agg)."""
    return (docs
            .select(F.explode(F.split(F.col(text_col), _WS))
                    .alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))


def _pair_index(words: dict) -> tuple:
    """(counts, index): pair → total frequency, pair → words containing
    it. Built once; maintained incrementally per merge."""
    counts: dict = {}
    index: dict = {}
    for w, (syms, freq) in words.items():
        for a, b in zip(syms, syms[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + freq
            index.setdefault((a, b), set()).add(w)
    return counts, index


def _merge_word(syms: tuple, pair: tuple, joined: str) -> tuple:
    out = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == pair[0] and syms[i + 1] == pair[1]:
            out.append(joined)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def bpe_train(docs: DataFrame, *, vocab_size: int,
              text_col: str = "text",
              max_words: int = 1_000_000) -> BpeModel:
    """Fit a BPE merge table. One distributed word count; the classic
    merge loop then runs on the driver over ≤ max_words (word, freq)
    rows — if the corpus has more distinct words, the top-frequency
    ``max_words`` are kept and the truncation is printed to stderr
    (tail words are precisely the ones BPE merges contribute least to).
    """
    wf = (word_frequencies(docs, text_col=text_col)
          .orderBy(F.col("freq").desc(), F.col("word"))
          .limit(max_words + 1).collect())
    if len(wf) > max_words:
        wf = wf[:max_words]
        print(f"bpe_train: word table truncated to top {max_words} "
              f"distinct words by frequency", file=sys.stderr)
    if not wf:
        raise ValueError("bpe_train: empty corpus")
    # word -> (symbol tuple, freq); EOW marks word boundaries so merges
    # can learn whole-word and suffix units
    words = {r.word: (tuple(r.word) + (_EOW,), int(r.freq)) for r in wf}
    alphabet = sorted({s for syms, _ in words.values() for s in syms})
    n_merges = vocab_size - len(alphabet)
    if n_merges <= 0:
        raise ValueError(
            f"vocab_size {vocab_size} <= alphabet {len(alphabet)}")
    # incremental pair bookkeeping (the HF-trainer discipline): each
    # merge touches only the words CONTAINING the chosen pair — a full
    # recount per iteration would be O(n_merges x max_words) and takes
    # hours at vocab 32k over 1M words
    counts, index = _pair_index(words)
    merges: list = []
    for _ in range(n_merges):
        if not counts:
            break  # every word fully merged
        pair = max(counts, key=lambda p: (counts[p], p))
        joined = pair[0] + pair[1]
        merges.append(pair)
        for w in list(index.get(pair, ())):
            syms, f = words[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] -= f
                if counts[(a, b)] <= 0:
                    del counts[(a, b)]
                index[(a, b)].discard(w)
            syms = _merge_word(syms, pair, joined)
            words[w] = (syms, f)
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
                index.setdefault((a, b), set()).add(w)
        index.pop(pair, None)
    return BpeModel(merges, alphabet)


def _encode_word(word: str, ranks: dict) -> list:
    syms = list(word) + [_EOW]
    while len(syms) > 1:
        best, best_rank, best_i = None, None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank, best_i = (syms[i], syms[i + 1]), r, i
        if best is None:
            break
        syms[best_i:best_i + 2] = [best[0] + best[1]]
    return syms


def bpe_encode(df: DataFrame, model: BpeModel, *,
               text_col: str = "text",
               out_col: str = "pieces") -> DataFrame:
    """Append ``out_col`` (array<string> of BPE pieces) — row-local
    pandas UDF; the merge-rank table rides in the closure. Unknown
    characters fall back to themselves as single-char pieces (classic
    BPE behavior), so encoding never fails on unseen input."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    ranks = dict(model.ranks)

    def _encode_fn(s):
        import re

        import pandas as pd
        ws = re.compile(_WS)
        cache: dict = {}

        def enc(text):
            if text is None:
                return []
            pieces = []
            for w in ws.split(text):
                if not w:
                    continue
                got = cache.get(w)
                if got is None:
                    got = _encode_word(w, ranks)
                    cache[w] = got
                pieces.extend(got)
            return pieces

        return s.apply(enc) if not s.empty else pd.Series([], dtype=object)

    enc_udf = pandas_udf(_encode_fn, ArrayType(StringType()))
    return df.withColumn(out_col, enc_udf(F.col(text_col)))


def bpe_save(spark, model: BpeModel, path: str) -> None:
    rows = ([(i, m[0], m[1]) for i, m in enumerate(model.merges)]
            or [(-1, "", "")])
    (spark.createDataFrame(rows, "rank int, left string, right string")
     .withColumn("alphabet", F.lit(model.alphabet))
     .coalesce(1).write.mode("overwrite").parquet(path))


def bpe_load(spark, path: str) -> BpeModel:
    rows = spark.read.parquet(path).collect()
    if not rows:
        raise ValueError(f"no BPE model at {path}")
    alphabet = list(rows[0].alphabet)
    merges = [(r.left, r.right)
              for r in sorted(rows, key=lambda r: r.rank) if r.rank >= 0]
    return BpeModel(merges, alphabet)
