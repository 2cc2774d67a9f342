"""Diversity-aware subset selection: greedy Maximal Marginal Relevance
(MMR, Carbonell & Goldstein 1998) over an embedding table.

The curation op between retrieval and dedup: given a relevance signal
(cosine to a query/centroid), pick k items that are RELEVANT but not
redundant — each step adds the candidate maximizing
``λ·rel(v) − (1−λ)·max_{s∈selected} cos(v, s)``. Near-dup clusters
contribute one member instead of k copies, which is why RAG rerankers
and eval-set builders run exactly this loop.

No counterpart in the reference (closest is its geo kNN top-k,
HTIPPLSITE/__init__.py:214 — pure relevance, no diversity term);
textbook-public algorithm.

100 TB shape — the same driver-orchestrated pattern as k-means and BPE
(SURVEY §3.2): the scored candidate table is computed ONCE and pinned
(eager localCheckpoint: k argmax scans re-read it without re-deriving
lineage), and each of the k greedy steps is one distributed
``limit(1)`` argmax whose expression embeds ONE vector — the latest
pick — as broadcast literals; earlier picks' penalties live in the
checkpointed running ``_pen`` column (max-cosine so far), so per-row
work per step is one cosine, not one per selected vector. Bounded
model state (dim doubles per step) crosses the driver, never data.
Total cost: k scans of the candidate table; plan size constant per
step. Determinism: the argmax
orders by the 6-dp floor-scaled score (``floor(mmr·1e6+0.5)``) with an
ascending-id tiebreak — scores within 1e-6 tie by construction, so a
last-ulp cross-engine divergence cannot flip a pick (the repo's
argmax-over-floats rule); the unrolled DuckDB oracle
(queries._mmr_ctes) replays the same key end-to-end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gpi_etl_spark import runscope


def _cos_to_literal(v: Column, vec: list[float]) -> Column:
    """Cosine between an array<double> column and a Python vector
    embedded as literals (the selected-set side of the MMR penalty).
    Reuses ``similarity.cosine`` — the fold whose IEEE operation order
    is already proven identical to DuckDB's ``list_dot_product``
    replay by the q35 hash gate. The literal side's norm is NOT
    pre-folded in Python for the same reason: both engines must run
    the same expression."""
    from gpi_etl_spark.operators.similarity import _arr_lit, cosine

    return cosine(v, _arr_lit(vec))


def mmr_select(
    vectors: DataFrame,
    query_vec: list[float],
    k: int = 8,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple]:
    """Greedy MMR selection of ``k`` rows.

    Returns the ordered picks as a list of
    ``(rank, id, rel, mmr_score)`` tuples (bounded model state — k
    rows; build a DataFrame from it for further processing, the same
    driver-side contract as ``bpe_train``'s merge list).

    Step 1 is the pure-relevance argmax (the λ-weighted score of an
    empty selected set); steps 2..k subtract the max-similarity
    penalty against the selected vectors, embedded as literals.

    The penalty is maintained INCREMENTALLY (round-12 optimization):
    after pick j the running ``_pen`` column folds in the new pick's
    cosine — ``greatest(_pen, cos(v, s_j))`` — and is materialized by
    the step's eager localCheckpoint, so step j+1's argmax evaluates
    ONE fresh cosine per row instead of re-evaluating all j selected
    cosines. Total cosine work drops from k²/2·N to k·N column passes
    and the per-step expression stays constant-size. Bit-identical to
    the re-derive-from-scratch form: IEEE max is associative and
    ``greatest`` skips NULLs the same way chained or flat, so
    ``greatest(greatest(c₁,c₂),c₃) ≡ greatest(c₁,c₂,c₃)`` value for
    value (pinned by test_diversity's trajectory checks and the q181
    oracle's flat-max replay).
    """
    scored = vectors.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        _cos_to_literal(F.col(vec_col), query_vec).alias("_rel"),
    )
    scored, _ = runscope.checkpoint(scored)

    picks: list[tuple] = []
    sel_ids: list = []
    has_pen = False
    for step in range(k):
        if has_pen:
            score = (
                F.lit(lam) * F.col("_rel")
                - F.lit(1.0 - lam) * F.col("_pen")
            )
        else:
            score = F.lit(lam) * F.col("_rel")
        cand = scored
        if sel_ids:
            cand = cand.filter(~F.col("_id").isin(sel_ids))
        # Argmax key is the 6-dp FLOOR-SCALED score, not the raw float
        # (the repo's survivor-selection rule, cf. dedup's q183): the
        # raw doubles are proven engine-identical today, but scaling
        # before comparing makes the trajectory robust by MECHANISM —
        # a last-ulp divergence can no longer flip a pick; candidates
        # within 1e-6 tie and resolve on ascending id. The oracle's
        # per-step ORDER BY uses the same key.
        top = (
            cand.select("_id", "_v", "_rel", score.alias("_mmr"))
            .orderBy(
                F.floor(F.col("_mmr") * 1000000.0 + 0.5).desc(),
                F.col("_id").asc(),
            )
            .limit(1)
            .collect()
        )
        if not top:
            break
        row = top[0]
        picks.append((step + 1, row["_id"], row["_rel"], row["_mmr"]))
        sel_ids.append(row["_id"])
        if step < k - 1:
            new_cos = _cos_to_literal(
                F.col("_v"), [float(x) for x in row["_v"]]
            )
            pen = (
                F.greatest(F.col("_pen"), new_cos) if has_pen else new_cos
            )
            scored, _ = runscope.checkpoint(
                scored.select("_id", "_v", "_rel", pen.alias("_pen"))
            )
            has_pen = True
    return picks
