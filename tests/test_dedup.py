"""Dedup kit: exact, Jaccard oracle, MinHash accuracy, SimHash locality."""

from pyspark.sql import functions as F

from gpi_etl_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
    (2, "THE  quick brown fox jumps over the lazy dog"),  # exact dup of 0 after norm
    (3, "completely different words entirely here now"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark))
    assert out.count() == 3  # 0 and 2 collapse
    collapsed = out.filter(F.col("dup_count") == 2).first()
    assert collapsed.doc_id == 0


def test_ngram_jaccard_pairs(spark):
    pairs = ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.5).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    # 0-2 identical (j=1.0); 0-1 and 1-2 share most shingles; 3 pairs with nobody
    assert (0, 2) in got
    assert all(3 not in p for p in got)


def test_minhash_estimates_jaccard(spark):
    docs = _docs(spark)
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.0).collect()
    }
    est = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, n=3, num_hashes=128, bands=64).collect()
    }
    assert (0, 2) in est and est[(0, 2)] == 1.0
    for pair, e in est.items():
        assert abs(e - exact.get(pair, 0.0)) < 0.25  # 128 hashes ⇒ σ≈0.044


def test_minhash_signature_shape(spark):
    sig = minhash_signatures(_docs(spark), num_hashes=16).first()
    assert len(sig.signature) == 16


def test_simhash_locality(spark):
    fp = {r.doc_id: r.simhash for r in simhash(_docs(spark)).collect()}
    assert fp[0] == fp[2]  # identical after normalization

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(fp[0], fp[1]) < hamming(fp[0], fp[3])


def test_connected_components_known_graph(spark):
    from gpi_etl_spark.operators.dedup import connected_components

    # components: {1,2,3,4} (chain), {10,11} (pair), {20,21,22} (triangle)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_one_spark_action_per_round(spark, count_jobs):
    # the known graph takes four rounds (three improving the chain's
    # labels, one observing the fixed point); each is ONE eager
    # checkpoint whose own job carries the changed count, with no
    # separate per-round count() (39 jobs with one)
    from gpi_etl_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    assert count_jobs(lambda: connected_components(edges).collect()) == 31


def test_connected_components_converges_on_long_chain(spark):
    from gpi_etl_spark.operators.dedup import connected_components

    n = 12  # diameter > a couple of rounds: exercises the iteration loop
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert set(got.values()) == {0} and len(got) == n + 1


def test_connected_components_raises_on_nonconvergence(spark):
    from gpi_etl_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1)


def test_incremental_dedup_excludes_history_and_batch_dups(spark):
    from gpi_etl_spark.operators.dedup import incremental_dedup

    history = spark.createDataFrame(
        [(1, "seen before")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, "Seen   BEFORE"),   # dup of history after normalization
            (11, "fresh one"),
            (12, "fresh one"),       # within-batch dup, keep min id
            (13, "another fresh"),
        ],
        "doc_id long, text string",
    )
    got = sorted(r["doc_id"] for r in incremental_dedup(batch, history).collect())
    assert got == [11, 13]


def test_duplicate_spans_hash_and_text_modes_agree(spark):
    """The production path shuffles xxhash64 span keys; the oracle path
    shuffles span text. Marking decisions must be identical."""
    from gpi_etl_spark.operators.dedup import duplicate_spans

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, boiler + " alpha ending one two three four five six seven"),
        (2, boiler + " totally different tail with its own words here"),
        (3, "an unrelated document about nothing shared at all " * 2),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(span_tokens=8, stride=4)
    text_mode = {r.doc_id: (r.n_spans, r.n_dup_spans)
                 for r in duplicate_spans(df, hash_spans=False, **kw).collect()}
    hash_mode = {r.doc_id: (r.n_spans, r.n_dup_spans)
                 for r in duplicate_spans(df, hash_spans=True, **kw).collect()}
    assert text_mode == hash_mode
    # docs 1 and 2 share the 8+-token boilerplate prefix: flagged
    assert text_mode[1][1] > 0 and text_mode[2][1] > 0
    # doc 3's repetition is WITHIN one document: cross-doc rule skips it
    assert text_mode[3][1] == 0
    # null/empty docs emit no spans at all
    assert 4 not in text_mode and 5 not in text_mode


def test_snapshot_diff_statuses(spark):
    from gpi_etl_spark.operators.dedup import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "will vanish"),
         (4, "Whitespace   Normalized")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same text"), (2, "has changed"), (5, "brand new"),
         (4, "whitespace normalized")],  # same after normalization
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   5: "added", 4: "unchanged"}


def test_prefix_filtered_jaccard_equals_naive(spark):
    """The PPJoin prefix filter must return EXACTLY the inverted-index
    answer — it is a candidate-pruning optimization, not an
    approximation."""
    from gpi_etl_spark.operators.dedup import (
        jaccard_pairs_prefix_filtered,
        ngram_jaccard_pairs,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over a lazy dog"),
        (3, "pack my box with five dozen liquor jugs"),
        (4, "pack my box with five dozen liquor jugs today"),
        (5, "completely different text entirely here now"),
        (6, "the quick brown fox naps under the lazy dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.5, 0.8):
        naive = {
            (r.id_a, r.id_b): round(r.jaccard, 9)
            for r in ngram_jaccard_pairs(df, n=1, threshold=t).collect()
        }
        fast = {
            (r.id_a, r.id_b): round(r.jaccard, 9)
            for r in jaccard_pairs_prefix_filtered(
                df, n=1, threshold=t
            ).collect()
        }
        assert fast == naive and len(naive) > 0


def test_prefix_filter_prunes_hub_shingles(spark):
    """Docs sharing ONLY a corpus-wide stop shingle must never become
    candidates: the frequency-ascending prefix pushes hubs out."""
    from gpi_etl_spark.operators.dedup import jaccard_pairs_prefix_filtered

    rows = [(i, f"common u{i} v{i} w{i} x{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = jaccard_pairs_prefix_filtered(df, n=1, threshold=0.5).collect()
    assert got == []  # only 1 of 5 tokens shared -> jaccard 1/9 < 0.5


def test_keep_best_per_cluster_quality_survivor(spark):
    """The survivor must be the highest-quality member (id tiebreak),
    singletons survive as their own cluster, and cluster_id is the
    component label."""
    from gpi_etl_spark.operators.dedup import keep_best_per_cluster

    docs = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (10, 0.1)],
        "doc_id long, q double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    got = {
        r.cluster_id: (r.survivor_id, r.n_members, r.quality_r)
        for r in keep_best_per_cluster(docs, pairs, "q").collect()
    }
    # cluster {1,2,3}: quality tie 0.9 between 2 and 3 -> min id 2
    assert got[1] == (2, 3, 0.9)
    # singleton 10 survives itself
    assert got[10] == (10, 1, 0.1)


def test_keep_best_per_cluster_empty_pairs(spark):
    from gpi_etl_spark.operators.dedup import keep_best_per_cluster

    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.4)], "doc_id long, q double"
    )
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = keep_best_per_cluster(docs, pairs, "q").collect()
    assert {(r.cluster_id, r.survivor_id, r.n_members) for r in got} == {
        (1, 1, 1), (2, 2, 1)
    }
