"""Byte-pair-encoding tokenizer: distributed training + map-side apply.

The training-corpus pipeline's tokenizer stage (SURVEY §2B L-family;
sibling of l7's regex token COUNTING — this one produces the actual
subword ids a trainer consumes).

Scale design — the standard BPE factorization, Spark-shaped:

- **The corpus-sized pass is one aggregation.** BPE training only needs
  the WORD FREQUENCY table (how often each distinct whitespace word
  occurs), so the 100 TB text reduces to one explode + groupBy — the
  same shuffle shape as l7/l8. Everything after operates on that
  vocabulary-sized table.
- **The merge loop is driver-side over vocabulary-sized state** — like
  ``similarity.load_or_train_centroids_det`` (k-means quantizer)
  this is dataset-STATE training, not a data pass: pair counting and
  merging touch only distinct words × their symbol lists (bounded by
  vocabulary, independent of corpus size; HF tokenizers / sentencepiece
  train from exactly this counter). Merges persist as parquet dataset
  state keyed by a corpus fingerprint.
- **Apply is map-only**: the learned merge ranks ride an Arrow pandas
  UDF closure (a dict of ~n_merges entries); encoding shuffles nothing
  and scales horizontally like every other mapInPandas stage.

No SQL engine expresses the merge recursion, so the catalog entry is a
declared ≈-operator: rows-only in the driver gate, with EXACT parity
tests in pytest instead — the distributed trainer must reproduce a
pure-Python reference BPE (same merges, same ids) and
``decode(encode(x)) == x`` must hold for every document
(tests/test_tokenizer.py).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from finporter_spark.caching import load_or_build

END = "</w>"  # end-of-word marker, the classic Sennrich et al. formulation


def word_frequencies(
    df: DataFrame, text_col: str = "text", lowercase: bool = True
) -> DataFrame:
    """The one corpus-sized pass: distinct whitespace words + counts."""
    txt = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    return (
        df.select(
            F.explode(
                F.split(F.trim(F.regexp_replace(txt, r"\s+", " ")), " ")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def train_bpe(word_freq: list[tuple[str, int]], n_merges: int) -> list[tuple[str, str]]:
    """Reference BPE trainer over a word-frequency counter (pure Python,
    vocabulary-sized state). Deterministic: ties on pair count break on
    the lexicographically smallest pair, so any engine producing the
    same word counts produces the same merge list."""
    words: dict[tuple[str, ...], int] = {
        tuple(list(w) + [END]): f for w, f in word_freq
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in words.items():
            for i in range(len(syms) - 1):
                pair = (syms[i], syms[i + 1])
                counts[pair] = counts.get(pair, 0) + f
        if not counts:
            break
        # deterministic argmax: highest count, then lexicographically
        # smallest pair (stable across hash/engine orders)
        top = max(counts.values())
        best_pair = min(p for p, c in counts.items() if c == top)
        merges.append(best_pair)
        merged = best_pair[0] + best_pair[1]
        new_words: dict[tuple[str, ...], int] = {}
        for syms, f in words.items():
            out = []
            i = 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and syms[i] == best_pair[0]
                    and syms[i + 1] == best_pair[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_words[key] = new_words.get(key, 0) + f
        words = new_words
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply learned merges to one word: repeatedly merge the
    lowest-rank adjacent pair (exactly how GPT-2-style BPE applies)."""
    syms = list(word) + [END]
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i < 0:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def load_or_train_merges(
    df: DataFrame,
    cache_path: str,
    fingerprint: str,
    n_merges: int = 200,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Merge table as persisted dataset state (the IVF-centroid pattern):
    one distributed word-frequency pass per corpus version, then the
    vocabulary-sized merge loop, persisted as parquet (rank, left,
    right). A stale/missing cache retrains; the cache key folds in
    n_merges so changing the budget rebuilds. Cache rules:
    :func:`caching.load_or_build`."""
    spark = df.sparkSession

    def build(path):
        wf = [
            (r.word, r.freq) for r in word_frequencies(df, text_col).collect()
        ]
        # vocabulary-sized driver state: |distinct words| entries, NOT corpus
        wf.sort()  # engine-order independence before deterministic training
        merges = train_bpe(wf, n_merges)
        spark.createDataFrame(
            [(i, l, r) for i, (l, r) in enumerate(merges)],
            "rank int, left string, right string",
        ).write.mode("overwrite").parquet(path)
        return merges

    def read():
        rows = spark.read.parquet(cache_path).orderBy("rank").collect()
        return [(r.left, r.right) for r in rows]

    return load_or_build(
        cache_path, f"{fingerprint}|merges={n_merges}|col={text_col}",
        build, read,
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """Map-side BPE encoding: (id, tokens array<string>, n_tokens).

    The merge ranks ride the Arrow UDF closure (~n_merges dict entries —
    tiny); per-word results are memoized per batch (Zipf reuse), so the
    Python cost is ~O(distinct words per batch), and the stage shuffles
    nothing."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, list[str]] = {}

        def enc(text: str) -> list[str]:
            out: list[str] = []
            norm = text.lower() if lowercase else text
            for w in norm.split():
                toks = memo.get(w)
                if toks is None:
                    toks = encode_word(w, ranks)
                    memo[w] = toks
                out.extend(toks)
            return out

        for pdf in batches:
            toks = pdf[text_col].map(enc)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "tokens": toks,
                    "n_tokens": toks.map(len),
                }
            )

    return df.mapInPandas(
        _map, f"{id_col} bigint, tokens array<string>, n_tokens bigint"
    )


def bpe_decode_tokens(tokens: list[str]) -> str:
    """Inverse of encode over the token stream (whitespace-normalized)."""
    return "".join(tokens).replace(END, " ").strip()
