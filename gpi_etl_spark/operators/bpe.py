"""Distributed BPE merge training — the tokenizer-training step.

Byte-pair encoding (Sennrich et al. 2016, arXiv:1508.07909) learns a
merge list from corpus statistics: start from characters, repeatedly
merge the most frequent adjacent symbol pair. The classic algorithm is
inherently iterative, so like k-means (`similarity.distributed_kmeans`)
and connected components (`dedup.connected_components`) the loop is
driver-orchestrated with each step ONE distributed plan:

* pair counting is an explode + groupBy over the (bounded) word-type
  table, weighted by word frequency — the corpus itself is touched once
  (the initial word count), every iteration after that runs on word
  TYPES (vocabulary-sized, not corpus-sized);
* the argmax pair is a ``limit(1)`` collect of model state (one row),
  tie-broken deterministically (max count, then lexicographic pair) so
  the merge list is reproducible anywhere;
* applying a merge is a per-word ``aggregate`` fold (greedy
  left-to-right, the reference semantics) — narrow, no shuffle.

At 100 TB the word-type table is the classic compression: a trillion
tokens collapse to a few million types, so every BPE iteration costs a
vocabulary-scale shuffle, not a corpus scan. The driver loop is
oracled via unrolled MATERIALIZED merge CTEs (queries._bpe_ctes, the
q81-class iterative pattern); correctness is additionally pinned by a
pure-Python replay test and a committed fixture.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gpi_etl_spark import runscope

#: end-of-word marker, per the original BPE formulation
EOW = "</w>"


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → (word, n) word-type table — the one corpus-scale pass."""
    from gpi_etl_spark.operators.textstats import tokens

    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _char_symbols(word: Column) -> Column:
    """Word → its character symbols + the end-of-word marker.

    split('') yields the per-codepoint array in one O(n) pass (the
    sequence + substr(i, 1) form re-seeked the string per index —
    O(n²) per word; round-12 optimization, same values). The empty
    word keeps its historical two-empty-symbol encoding (sequence(1,0)
    is DESCENDING: [1, 0] → two '' substrings) so the operator's edge
    behavior is unchanged even though no current caller feeds '' —
    textstats.tokens filters empties."""
    from gpi_etl_spark.functions.hof import let_

    return let_(
        word,
        lambda w: F.concat(
            F.when(
                F.length(w) == 0, F.array(F.lit(""), F.lit(""))
            ).otherwise(F.split(w, "")),
            F.array(F.lit(EOW)),
        ),
    )


def _merge_pair(sym_col: Column, a: str, b: str) -> Column:
    """Greedy left-to-right merge of adjacent (a, b) → a+b in a symbol
    array, as a single fold (merged symbols don't re-merge with the
    preceding element — the reference BPE semantics)."""
    merged = a + b
    return F.aggregate(
        sym_col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == a)
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``num_merges`` BPE merges from the corpus.

    Returns (ordered merge list, final word-type DataFrame with
    ``word, n, symbols``). Deterministic: ties in pair frequency break
    lexicographically, so the same corpus yields the same merges on any
    cluster layout.
    """
    words = word_counts(df, text_col).withColumn(
        "symbols", _char_symbols(F.col("word"))
    )
    words, _ = runscope.checkpoint(words)

    merges: list[tuple[str, str]] = []
    for step in range(num_merges):
        pairs = words.select(
            "n",
            F.explode(
                F.filter(
                    F.zip_with(
                        F.col("symbols"),
                        F.slice(F.col("symbols"), 2, 1 << 30),
                        lambda x, y: F.struct(
                            x.alias("a"), y.alias("b")
                        ),
                    ),
                    lambda st: st["b"].isNotNull(),
                )
            ).alias("pair"),
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(
                F.col("cnt").desc(),
                F.col("pair.a").asc(),
                F.col("pair.b").asc(),
            )
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["pair"]["a"], top[0]["pair"]["b"]
        merges.append((a, b))
        words = words.withColumn(
            "symbols", _merge_pair(F.col("symbols"), a, b)
        )
        # keep lineage flat across iterations (fold-upon-fold plans
        # otherwise nest num_merges deep)
        words, _ = runscope.checkpoint(words)
    return merges, words


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Segment documents with a learned merge list: per document,
    ``(id, n_words, n_bpe_tokens)`` — the sequence-length accounting a
    packing/budgeting stage consumes. Applies each merge in order as a
    fold over per-word symbol arrays; all narrow, no shuffle."""
    from gpi_etl_spark.functions.hof import let_
    from gpi_etl_spark.operators.textstats import tokens

    per_word = let_(
        tokens(text_col),
        lambda tk: F.transform(tk, lambda w: _char_symbols_val(w, merges)),
    )
    sym_counts = F.transform(per_word, lambda syms: F.size(syms))
    return df.select(
        F.col(id_col),
        F.size(tokens(text_col)).alias("n_words"),
        F.coalesce(
            F.aggregate(
                sym_counts, F.lit(0), lambda acc, v: acc + v
            ),
            F.lit(0),
        ).alias("n_bpe_tokens"),
    )


def _char_symbols_val(word: Column, merges: list[tuple[str, str]]) -> Column:
    # split('') per-codepoint array — see _char_symbols (same O(n)
    # rewrite, same empty-word guard)
    syms = F.concat(
        F.when(
            F.length(word) == 0, F.array(F.lit(""), F.lit(""))
        ).otherwise(F.split(word, "")),
        F.array(F.lit(EOW)),
    )
    for a, b in merges:
        syms = _merge_pair(syms, a, b)
    return syms


def bpe_train_reference(
    word_freqs: dict[str, int], num_merges: int
) -> list[tuple[str, str]]:
    """Pure-Python replay of :func:`bpe_train` (test oracle): identical
    greedy semantics and tie-break, no Spark."""
    words = {w: list(w) + [EOW] for w in word_freqs}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in words.items():
            n = word_freqs[w]
            for x, y in zip(syms, syms[1:]):
                counts[(x, y)] = counts.get((x, y), 0) + n
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        for w, syms in words.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            words[w] = out
    return merges
