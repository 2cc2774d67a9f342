"""The composed pretraining-corpus curation DAGs (q105 / q161) with a
production ``persist_stages`` path.

The registry entries run the pure LAZY composition — one plan from scan
to selection, which is what the DuckDB oracle replays stage-for-stage.
That form is correct but re-expands each stage's surviving frame under
every downstream branch (the plan audit counts ~30 FileScans / 51
Exchanges for the v2 DAG): at 100 TB those are ~30 real scans of a
multi-TB table, so a production run wants the survivors PINNED between
stages. ``persist_stages=True`` persists exactly the frames that feed
more than one downstream consumer — results are identical (same
operators, same composition; only physical reuse changes), which
``tests/test_curation.py::test_curation_dag_persist_matches_lazy``
asserts, and ``bench.py`` reports both variants.

Stage pins are :func:`gpi_etl_spark.runscope.pin` (a plain
MEMORY_AND_DISK persist, released when the next registry query is
dispatched), not checkpoints: the DAGs are a fixed 4–5-stage
composition, so lineage depth is bounded and recompute-on-executor-loss
safety is worth keeping — unlike the unbounded iterative loops in
``linkgraph`` where the *plan itself* grows with iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpi_etl_spark import runscope


def curation_dag_v1(
    spark: SparkSession, sf_dir: str, persist_stages: bool = False
) -> DataFrame:
    """q105 flagship DAG: profile (tokens, integer-exact stopword gate,
    trigram repetition gate) → normalize-hash exact dedup → overlapping
    40/30 token chunking → 512-token sequence packing → per-(lang, bin)
    accounting. With ``persist_stages`` the dedup input frame (read by
    both the min-id groupBy and the survivor join) is pinned so the
    profile+gates scan runs once, not once per branch.
    """
    from gpi_etl_spark.operators import dedup, textstats
    from gpi_etl_spark.operators.curation import pack_budget_bins
    from gpi_etl_spark.queries import t

    pin = runscope.pin if persist_stages else (lambda df: df)
    docs = t(spark, sf_dir, "documents")
    toks = textstats.tokens("text")
    sw = F.array(*[F.lit(w) for w in textstats.STOPWORDS["en"]])
    prof = docs.select(
        "doc_id", "lang", "text",
        F.size(toks).alias("n_tokens"),
        F.size(
            F.filter(toks, lambda tk: F.array_contains(sw, tk))
        ).alias("n_sw"),
        textstats.ngram_repetition_ratio("text", n=3).alias("rep_ratio"),
    )
    kept = prof.filter(
        (F.col("n_tokens") >= 5)
        & (F.col("n_sw") * 5 <= F.col("n_tokens") * 3)
        & (F.col("rep_ratio") <= 0.5)
    )
    hashed = pin(
        kept.withColumn("h", F.sha2(dedup.normalize_text("text"), 256))
    )
    uniq = hashed.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    docs2 = hashed.join(uniq, ["h", "doc_id"]).select(
        "doc_id", "lang", "text"
    )
    chunks = textstats.chunk_texts(
        docs2, chunk_tokens=40, overlap=10, keep_cols=("lang",)
    ).withColumn("_ck", F.col("doc_id") * 1024 + F.col("chunk_idx"))
    packed = pack_budget_bins(
        chunks, "n_chunk_tokens", "lang", "_ck", budget=512
    )
    return packed.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_chunk_tokens").cast("bigint").alias("sum_tokens"),
    )


def curation_dag_v2(
    spark: SparkSession, sf_dir: str, persist_stages: bool = False
) -> DataFrame:
    """q161 DAG: Gopher quality gate → benchmark decontamination →
    normalized-hash exact dedup → temperature-mixed language quotas
    (T^0.5, budget 150). With ``persist_stages`` the three frames each
    read by ≥2 downstream consumers — the gated survivors, the hashed
    dedup input, and the deduped selection feeding the mixer — are
    pinned, collapsing the ~30-scan lazy plan to one scan per stage.
    """
    from gpi_etl_spark.operators import curation, dedup
    from gpi_etl_spark.operators.textstats import gopher_quality_flags
    from gpi_etl_spark.queries import t

    pin = runscope.pin if persist_stages else (lambda df: df)
    docs = t(spark, sf_dir, "documents")
    heldout = docs.filter(F.col("doc_id") % 17 == 3)
    corpus = docs.filter(F.col("doc_id") % 17 != 3)
    gated = pin(
        gopher_quality_flags(corpus, keep_cols=("lang",))
        .filter(F.col("pass_gopher"))
        .join(docs.select("doc_id", "text"), "doc_id")
    )
    bad = curation.contaminated_ids(gated, heldout, n=4)
    clean = gated.join(bad, "doc_id", "left_anti")
    hashed = pin(
        clean.withColumn("h", F.sha2(dedup.normalize_text("text"), 256))
    )
    uniq = hashed.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    ded = pin(
        hashed.join(uniq, ["h", "doc_id"]).select(
            "doc_id", "lang",
            F.col("n_words").cast("int").alias("n_tokens"),
        )
    )
    mixed = curation.temperature_mix(
        ded, group_col="lang", size_col="n_tokens", alpha=0.5, budget=150
    )
    return mixed.select("doc_id", "lang", "n_tokens", "quota")
