"""Deduplication kit: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Not present in the reference (its only dedup is row-level
``drop_duplicates``, HTIPPLSITE/__init__.py:315 → P10); these are the
large-scale training-data-pipeline operators the engine adds (BASELINE
.json north star). Design rules for 100 TB:

* content hashing and shingling are per-row expressions (no shuffle);
* the only shuffles are the groupBys on doc_id / band-bucket keys;
* candidate generation (LSH) is an equi-join on (band, bucket) — never
  an all-pairs cross join; the exact all-pairs variants here exist as
  small-scale oracles for the LSH path;
* all hashes are Spark's deterministic ``xxhash64`` — stable across
  runs/executors, no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gpi_etl_spark import runscope
from gpi_etl_spark.functions.rounding import fs6


def normalize_text(col: Column | str) -> Column:
    """Canonical text form for dedup: lowercase, collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the minimum-id row per normalized content hash.

    ``sha2`` on normalized text then min-id per hash: one shuffle on
    the 256-bit hash (uniform keys — no skew even if one document
    repeats a billion times, because the groupBy pre-aggregates
    map-side).
    """
    h = F.sha2(normalize_text(text_col), 256)
    return (
        df.withColumn("content_hash", h)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def incremental_dedup(
    batch: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rows of ``batch`` that are new against BOTH the already-ingested
    ``history`` and the batch itself (first occurrence by min id).

    The incremental-ingest twin of :func:`exact_dedup`: history is
    reduced to its distinct content hashes (at 100 TB this is the
    sink's stored hash column, not a re-scan), the batch keeps its
    first row per hash via a window, and a left-anti join on the
    256-bit hash drops everything seen before. Two shuffles (window +
    anti-join), both on uniform hash keys — no skew.
    """
    from pyspark.sql import Window

    h = F.sha2(normalize_text(text_col), 256)
    hist = history.select(h.alias("content_hash")).distinct()
    w = Window.partitionBy("content_hash").orderBy(id_col)
    firsts = (
        batch.withColumn("content_hash", h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return firsts.join(hist, "content_hash", "left_anti").drop("content_hash")


def word_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3) -> DataFrame:
    """(id, shingle) pairs of ``n``-word shingles, distinct per doc.

    Built with array functions (``split`` + ``transform`` over a
    ``sequence`` of start offsets) and a single ``explode`` — all
    JVM-side; no Python tokenizer in the hot path. The token array is
    let-bound (:func:`gpi_etl_spark.functions.hof.let_`) so the split
    runs once per row, not once per shingle offset.
    """
    from gpi_etl_spark.functions.hof import let_

    toks = F.split(normalize_text(text_col), " ")
    if n == 1:
        # fast path: no window slicing, just distinct tokens
        shingles = toks
    else:
        shingles = let_(
            toks,
            lambda tk: F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(tk) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
            ),
        )
    return (
        df.select(F.col(id_col), F.explode(F.array_distinct(shingles)).alias("shingle"))
        .filter(F.length("shingle") > 0)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, sim ≥ t).

    Inverted-index join: explode shingles, self-join on the shingle,
    count intersections, then |A∪B| = |A|+|B|−|A∩B|. The join key is
    the shingle, so only documents sharing at least one shingle ever
    meet — still quadratic in the worst case (every doc sharing a stop
    shingle), which is why the scale path is :func:`minhash_lsh_pairs`;
    this exact form is the oracle.
    """
    sh = runscope.pin(word_shingles(df, text_col, id_col, n))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per document: array of ``num_hashes`` minima.

    The shingle string is hashed ONCE, then the ``num_hashes``
    permutations derive from the fixed-width base value — far less
    hashing work per row than 64 string hashes. ``hash_mode``:

    * ``"xxhash64"`` (default, the 100 TB path): base =
      ``xxhash64(shingle)``, permutation i = ``xxhash64(base, i)`` —
      JVM intrinsics, wrap-safe under ANSI mode.
    * ``"poly"`` (the audit path): base = polynomial code-point hash
      mod 1e9+7, permutation i = affine map of the base
      (functions/xhash.py) — exact integer arithmetic DuckDB replays
      bit-for-bit, which is what lets q33 run under the hash gate.

    The signature is built in one groupBy over the exploded shingles —
    ``min`` of each hash column, assembled into an array. Shuffle:
    exactly one, on doc_id.
    """
    from gpi_etl_spark.functions import xhash

    sh = word_shingles(df, text_col, id_col, n)
    if hash_mode == "poly":
        sh = sh.withColumn("_base", xhash.poly_hash(F.col("shingle")))
        mins = [
            F.min(
                xhash.affine_hash(F.col("_base"), i, num_hashes)
            ).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    else:
        sh = sh.withColumn("_base", F.xxhash64(F.col("shingle")))
        mins = [
            F.min(F.xxhash64(F.col("_base"), F.lit(i))).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    sig = sh.groupBy(id_col).agg(*mins)
    return sig.select(
        id_col, F.array(*[f"_h{i}" for i in range(num_hashes)]).alias("signature")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float | None = None,
    persist_signatures: bool = True,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash LSH.

    Signatures are cut into ``bands`` bands of ``num_hashes/bands``
    rows; a pair colliding in any band becomes a candidate (equi-join
    on (band, bucket-hash) — linear shuffle, no cross join). Estimated
    Jaccard = fraction of agreeing signature positions; ``threshold``
    optionally filters on it. For verified-exact similarity feed the
    candidates into :func:`ngram_jaccard_pairs` semantics on the pair
    subset.

    The signature table feeds three consumers (banding + both sides of
    the pair attach), so by default it is persisted MEMORY_AND_DISK
    rather than recomputed per consumer — signatures cost
    ``num_hashes × 8`` bytes/doc (≈0.5 TB per billion docs at 64
    hashes: cluster-cacheable, spills gracefully). Pass
    ``persist_signatures=False`` to trade two extra corpus passes for
    zero cache footprint.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes, hash_mode)
    if persist_signatures:
        sig = runscope.pin(sig)
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    # hash the signature slice (array<long>) directly — no per-band
    # string materialization; poly mode folds the slice with the same
    # exact-integer recipe the DuckDB oracle replays
    band_slice = F.slice(
        F.col("signature"), F.col("band") * rows_per_band + 1, rows_per_band
    )
    if hash_mode == "poly":
        from gpi_etl_spark.functions import xhash

        bucket = xhash.poly_fold_longs(band_slice)
    else:
        bucket = F.xxhash64(band_slice)
    banded = sig.select(id_col, "signature", band_idx).withColumn(
        "bucket", bucket
    )
    # Band-join on ids only (signatures are 64×8 bytes and would be
    # duplicated per band through the shuffle); attach each signature
    # once per surviving pair afterwards.
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    pair_ids = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    cands = (
        pair_ids.join(
            sig.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a")),
            "id_a",
        )
        .join(
            sig.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b")),
            "id_b",
        )
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        / F.lit(num_hashes)
    )
    out = cands.withColumn("est_jaccard", est).select("id_a", "id_b", "est_jaccard")
    if threshold is not None:
        out = out.filter(F.col("est_jaccard") >= threshold)
    return out


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash fingerprint per document.

    Per token: hash → for each bit, contribute ±1; fingerprint bit
    = sign of the per-bit sum. Implemented as a per-token ±1 vector
    (``transform`` over bit positions) elementwise-summed per document
    — one groupBy shuffle on doc_id, all array ops JVM-side. Near-dups
    are then pairs with small Hamming distance (compare via
    ``bit_count(xor)`` downstream, or band the fingerprint bytes for
    LSH-style blocking).

    ``hash_mode="xxhash64"`` (default) draws all 64 bit votes from one
    JVM xxhash64; ``"poly"`` draws them from three seeded polynomial
    code-point hashes (30 usable bits each — bit b reads bit b%30 of
    hash b//30), the exact-integer form the DuckDB oracle replays for
    q34's hash gate.
    """
    toks = F.explode(
        F.array_distinct(F.split(normalize_text(text_col), " "))
    ).alias("token")
    tok_df = df.select(F.col(id_col), toks).filter(F.length("token") > 0)
    # per-token ±1 contribution per bit; shift amounts must be Python
    # ints, so the bit axis is unrolled at plan-build time (64 terms in
    # one codegen'd array expression — still zero Python at runtime)
    if hash_mode == "poly":
        from gpi_etl_spark.functions import xhash
        from gpi_etl_spark.functions.hof import let_

        def votes(j: int, nb: int):
            # let-bound: the per-character fold runs once per token,
            # not once per bit reference
            return let_(
                xhash.poly_hash(F.col("token"), seed=xhash.SEED + 10 * j),
                lambda h: F.array(
                    *[
                        F.when(
                            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
                        ).otherwise(-1)
                        for b in range(nb)
                    ]
                ),
            )

        segs = []
        left = bits
        for j in range((bits + 29) // 30):
            nb = min(30, left)
            segs.append(votes(j, nb))
            left -= nb
        contrib = F.concat(*segs)
    else:
        h = F.xxhash64("token")
        contrib = F.array(
            *[
                F.when(
                    F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
                for b in range(bits)
            ]
        )
    summed = (
        tok_df.withColumn("contrib", contrib)
        .groupBy(id_col)
        .agg(
            F.aggregate(
                F.collect_list("contrib"),
                F.array_repeat(F.lit(0), bits),
                lambda acc, v: F.zip_with(acc, v, lambda x, y: x + y),
            ).alias("bit_sums")
        )
    )
    fingerprint = F.lit(0).cast("long")
    for b in range(bits):
        # bit 63 is the sign bit: 1<<63 doesn't fit signed long
        mask = (1 << b) if b < 63 else -(1 << 63)
        fingerprint = fingerprint.bitwiseOR(
            F.when(F.col("bit_sums")[b] > 0, F.lit(mask).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return summed.select(id_col, fingerprint.alias("simhash"))


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected pair list → (node,
    component) where component = min node id reachable. This collapses
    near-dup PAIRS (minhash/simhash/jaccard output) into duplicate
    CLUSTERS so a pipeline can keep one canonical doc per cluster.

    Iterative min-label propagation: each round every node takes the
    min label among itself and its neighbors; converges in O(diameter)
    rounds (near-dup clusters are small, so a handful). Each round is
    one shuffle (join + groupBy min); the loop is driver-orchestrated
    with early exit on convergence — the sanctioned pattern for
    iterative algorithms (SURVEY §3.2: driver orchestrates, each step
    is one Spark plan). Each round is ONE Spark action: the new labels
    are checkpointed (cutting the lineage) and the count of improved
    labels is observed on that same job.
    """
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    ).distinct()
    # pin the symmetric edge list ONCE: every round's join re-reads it,
    # and without this the caller's whole pair-generation lineage (a
    # PPJoin, a minhash bucket join, ...) re-executes per round — the
    # edge list is the loop invariant, the labels are the loop state
    sym, _ = runscope.checkpoint(sym)
    nodes = sym.select(F.col("u").alias("node")).distinct()
    labels = nodes.withColumn("lbl", F.col("node"))
    for i in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.v == labels.node)
            .groupBy("u")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.u, "left")
            .select(
                "node",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
                # new lbl < old lbl ⟺ a neighbor improved it; the
                # checkpoint's job counts these rows, so convergence
                # costs no join and no job of its own
                (F.col("nlbl") < F.col("lbl")).alias("_chg"),
            )
        )
        new_labels, changed = runscope.checkpoint(new_labels, F.col("_chg"))
        labels = new_labels.select("node", "lbl")
        if not changed:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "— a cluster's diameter exceeds max_iter; raise it"
        )
    return labels.select(F.col("node"), F.col("lbl").alias("component"))


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 32,
    stride: int = 16,
    hash_spans: bool = True,
) -> DataFrame:
    """Cross-document repeated-span detection — the token-window
    approximation of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", which
    removes verbatim 50-token repeats that full suffix arrays find).

    Each document emits stride-``stride`` windows of ``span_tokens``
    tokens (complete windows; short docs emit their single clamped
    window); a window text seen in ≥ 2 DISTINCT documents is a
    duplicated span. Returns per-document
    ``(id, n_spans, n_dup_spans, dup_ratio)`` — the curation signal a
    pipeline thresholds on before chunking.

    Scale shape: ONE explode + one groupBy on the span key + one join
    back. With ``hash_spans=True`` (default) the shuffle key is the
    8-byte ``xxhash64`` of the window, never the window text — at 100 TB
    the explode output is ~(tokens/stride)·8 bytes/doc. Text mode
    exists for engines that must replay the grouping on raw strings
    (the DuckDB oracle); marking decisions are identical up to xxhash64
    collisions (~2⁻⁶⁴ per pair).
    """
    from gpi_etl_spark.functions.hof import let_
    from gpi_etl_spark.operators.textstats import tokens

    m = lambda tk: F.greatest(  # noqa: E731
        F.floor((F.size(tk) - span_tokens) / F.lit(float(stride))),
        F.lit(0),
    ).cast("int")
    spans_arr = let_(
        tokens(text_col),
        lambda tk: F.transform(
            F.sequence(F.lit(0), m(tk)),
            lambda i: F.concat_ws(
                " ", F.slice(tk, i * stride + 1, span_tokens)
            ),
        ),
    )
    ex = (
        df.select(F.col(id_col), F.explode(spans_arr).alias("span"))
        .filter(F.length("span") > 0)
    )
    if hash_spans:
        ex = ex.select(id_col, F.xxhash64("span").alias("span"))
    dup = (
        ex.groupBy("span")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("span", F.lit(True).alias("_dup"))
    )
    flagged = ex.join(dup, "span", "left")
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("_dup").isNotNull().cast("int")).cast("bigint").alias(
            "n_dup_spans"
        ),
        # exact integer ratio -> floor-scaled 6-dp rounding (round()
        # diverges between engines on exact half-way points)
        fs6(
            F.sum(F.col("_dup").isNotNull().cast("int"))
            / F.count(F.lit(1))
        ).alias("dup_ratio"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-version diff: per document id, whether it was ``added``,
    ``removed``, ``changed`` (same id, different normalized content
    hash) or ``unchanged`` between two snapshots — the audit a curation
    pipeline runs between dataset releases ("what did this filter
    change?").

    Full outer join on the id with 256-bit content hashes on both
    sides: one shuffle each side, carrying (id, hash) — never text.
    At 100 TB both hash projections are scan-fused, and the join output
    is id-sized; downstream usually aggregates to status counts.
    """
    h = F.sha2(normalize_text(text_col), 256)
    o = old.select(F.col(id_col), h.alias("_h_old"))
    n = new.select(F.col(id_col), h.alias("_h_new"))
    joined = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("_h_old").isNull(), "added")
        .when(F.col("_h_new").isNull(), "removed")
        .when(F.col("_h_old") == F.col("_h_new"), "unchanged")
        .otherwise("changed")
    )
    return joined.select(id_col, status.alias("status"))


def prefix_shingles(
    sh: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Each document's PPJoin prefix over an ``(id, shingle)`` frame:
    its ``|A| - ceil(t·|A|) + 1`` globally-rarest shingles, ranked by
    (ascending corpus frequency, shingle), as
    :func:`jaccard_pairs_prefix_filtered` joins them. The candidate
    counts measured over this recipe are in ``docs/PREFIX_PROBE.md``."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_gf"))
    wrk = Window.partitionBy(id_col).orderBy(
        F.col("_gf").asc(), F.col("shingle").asc()
    )
    return (
        sh.join(freq, "shingle")
        .withColumn("_rk", F.row_number().over(wrk))
        .join(sizes, id_col)
        .filter(
            F.col("_rk")
            <= F.col("_n") - F.ceil(F.col("_n") * F.lit(threshold)) + 1
        )
    )


def jaccard_pairs_prefix_filtered(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT Jaccard pairs with the PPJoin prefix filter — same answer
    as :func:`ngram_jaccard_pairs`, different candidate generation:
    instead of joining the FULL inverted index (every shared shingle
    produces a candidate row, so one stop-shingle shared by k docs
    costs k² join rows), only each document's PREFIX — its
    ``|A| - ceil(t·|A|) + 1`` globally RAREST shingles — enters the
    self-join.

    Why that's lossless (the prefix-filter theorem): order shingles by
    (global frequency, shingle). If Jaccard(A,B) ≥ t, the smallest
    intersection shingle must sit inside BOTH prefixes — were it past
    A's prefix, A would hold ≥ |A| − prefix_len + 1 = ceil(t·|A|)
    non-intersecting shingles, capping |A∩B| below t·|A| ≤ t·|A∪B|, a
    contradiction. So every qualifying pair collides on ≥ 1 prefix
    shingle, and survivors are verified with the exact count over the
    full sets (array_intersect on per-doc shingle arrays).

    At 100 TB this changes the dominant term: join fan-out follows the
    frequency of RARE shingles (tiny by construction — ordering by
    ascending document frequency pushes stop-shingles out of every
    prefix) instead of the corpus's worst hub shingle. MinHash-LSH
    (:func:`minhash_lsh_pairs`) remains the probabilistic path; this
    is the EXACT path that scales past the naive inverted index.
    """
    sh = word_shingles(df, text_col, id_col, n)
    # the shingle frame feeds three consumers (prefix ranking, the
    # global-frequency agg inside it, and the full-set verification),
    # so it is pinned for the run
    sh = runscope.pin(sh)
    ranked = prefix_shingles(sh, id_col, threshold)
    a = ranked.select(F.col(id_col).alias("id_a"), "shingle")
    b = ranked.select(F.col(id_col).alias("id_b"), "shingle")
    cand = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sets = sh.groupBy(id_col).agg(
        F.collect_set("shingle").alias("_set")
    )
    sa = sets.select(
        F.col(id_col).alias("id_a"), F.col("_set").alias("_sa")
    )
    sb = sets.select(
        F.col(id_col).alias("id_b"), F.col("_set").alias("_sb")
    )
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "_common", F.size(F.array_intersect("_sa", "_sb"))
        )
        .withColumn(
            "jaccard",
            F.col("_common")
            / (F.size("_sa") + F.size("_sb") - F.col("_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def keep_best_per_cluster(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Collapse near-dup clusters to ONE canonical survivor each — the
    step a curation pipeline runs AFTER pair generation (jaccard /
    LSH / prefix-join): cluster the pair graph with
    :func:`connected_components`, then keep the highest-QUALITY member
    per cluster instead of the arbitrary min-id one (better data
    survives; Lee et al. 2022 keep-one-per-cluster with a quality
    prior). Rows with no qualifying pair are their own cluster and
    survive trivially, so the output is the full keep-list of the
    deduplicated corpus.

    Survivor order: (quality floor-scaled to 6 dp) DESC, id ASC. The
    6-dp scaling is deliberate — raw quality floats from two engines
    can differ in the last ulp, and an argmax over them would flake on
    near-ties; 6-dp-equal quality (the proven cross-engine class) plus
    the id tiebreak makes the survivor a pure function of the data.

    Returns ``(cluster_id, survivor_id, n_members, quality_r)`` —
    cluster_id is the component label (min reachable id; the row's own
    id for singletons). One CC run (localCheckpointed rounds) plus one
    window over cluster-sized groups; no additional corpus scans.
    """
    cc = connected_components(pairs, "id_a", "id_b", max_iter)
    labeled = (
        df.select(F.col(id_col), F.col(quality_col).alias("_q"))
        .join(cc, df[id_col] == cc["node"], "left")
        .select(
            F.col(id_col),
            F.col("_q"),
            F.coalesce(F.col("component"), F.col(id_col)).alias("_cl"),
        )
    )
    qr = fs6(F.col("_q"))
    w = Window.partitionBy("_cl").orderBy(
        qr.desc(), F.col(id_col).asc()
    )
    ranked = labeled.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_nm", F.count(F.lit(1)).over(Window.partitionBy("_cl"))
    )
    return ranked.filter(F.col("_rn") == 1).select(
        F.col("_cl").cast("bigint").alias("cluster_id"),
        F.col(id_col).alias("survivor_id"),
        F.col("_nm").cast("bigint").alias("n_members"),
        qr.alias("quality_r"),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    order_cols: list[str],
    id_col: str,
    window: int = 4,
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Sorted-neighborhood candidate generation (Hernández & Stolfo
    '95): sort the corpus by a blocking key and compare each record
    only to its ``window - 1`` successors in the sorted order —
    O(n·w) candidate pairs instead of the O(n²) cross product, the
    classic record-linkage alternative to hash blocking when
    near-duplicates share key PREFIXES rather than exact keys.

    The global sort position comes from :func:`windows.global_rank`
    (range-partition + local rank + offsets — no partition-less
    window), and neighbor pairing is an EQUI-join: each record
    explodes into ``window - 1`` probe rows targeting ranks
    ``r+1 … r+window-1``, joined back on the rank key. Shuffle is
    keyed on rank — uniformly distributed by construction, skew-free
    regardless of key distribution (the advantage over blocking when
    one block holds half the corpus).

    Returns ``(id_a, id_b, <payload>_a, <payload>_b)`` with
    ``id_a``'s rank strictly below ``id_b``'s. Similarity scoring on
    the candidates is the caller's (the pair generation is
    similarity-agnostic by design).
    """
    from gpi_etl_spark.operators.windows import global_rank

    if window < 2:
        # sequence(r+1, r+window-1) DESCENDS when window < 2, which
        # would silently emit self-pairs / inverted pairs instead of
        # the documented strictly-ordered neighbors
        raise ValueError(
            f"window must be >= 2 (got {window}): each record compares "
            "to its window-1 successors"
        )
    keep = [id_col, *payload_cols]
    ranked = global_rank(
        df.select(*dict.fromkeys(keep + list(order_cols))),
        [*order_cols],
        rank_col="_r",
    )
    left = ranked.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in payload_cols],
        F.explode(
            F.sequence(F.col("_r") + 1, F.col("_r") + (window - 1))
        ).alias("_rt"),
    )
    right = ranked.select(
        F.col("_r").alias("_rt"),
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in payload_cols],
    )
    return left.join(right, "_rt").drop("_rt")
