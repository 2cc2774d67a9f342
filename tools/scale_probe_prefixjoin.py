"""Scale probe: PPJoin prefix filter vs naive inverted-index Jaccard.

Measures the thing the prefix filter exists for — CANDIDATE PAIR
COUNT (the join fan-out that explodes on hub shingles) — plus wall
time for both exact algorithms on the q32/q172 corpus slice at a
given scale, verifying the answers match while they run.

Usage: python tools/scale_probe_prefixjoin.py [sf_dir] [--doc]
Prints one JSON line; with --doc rewrites docs/PREFIX_PROBE.md.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    write_doc = "--doc" in sys.argv

    from pyspark.sql import functions as F

    from gpi_etl_spark import runscope
    from gpi_etl_spark.operators import dedup
    from gpi_etl_spark.queries import t
    from gpi_etl_spark.session import get_spark

    spark = get_spark("prefix_probe")
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)

    # candidate fan-out of the NAIVE inverted index: one row per
    # shared shingle occurrence
    sh = dedup.word_shingles(docs, n=1)
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    naive_cand = (
        a.join(b, "shingle").filter(F.col("id_a") < F.col("id_b")).count()
    )

    # candidate fan-out of the prefix filter: same join, prefix rows
    # only — built by the SHARED operator helper so the probe always
    # measures the shipped recipe
    threshold = 0.5
    pref = dedup.prefix_shingles(sh, "doc_id", threshold)
    pa = pref.select(F.col("doc_id").alias("id_a"), "shingle")
    pb = pref.select(F.col("doc_id").alias("id_b"), "shingle")
    pref_cand = (
        pa.join(pb, "shingle").filter(F.col("id_a") < F.col("id_b")).count()
    )

    t0 = time.time()
    naive = dedup.ngram_jaccard_pairs(docs, n=1, threshold=threshold)
    n_naive = naive.count()
    t_naive = round(time.time() - t0, 3)

    # drop the naive path's shingle pin so the prefix path pays its own
    runscope.drain()
    t0 = time.time()
    fast = dedup.jaccard_pairs_prefix_filtered(docs, n=1, threshold=threshold)
    n_fast = fast.count()
    t_fast = round(time.time() - t0, 3)

    assert n_naive == n_fast, (n_naive, n_fast)

    result = {
        "sf_dir": sf_dir,
        "threshold": threshold,
        "naive_candidate_rows": naive_cand,
        "prefix_candidate_rows": pref_cand,
        "candidate_reduction": round(naive_cand / max(pref_cand, 1), 2),
        "result_pairs": n_naive,
        "naive_sec": t_naive,
        "prefix_sec": t_fast,
    }
    print(json.dumps(result))

    if write_doc:
        lines = [
            "# PPJoin prefix-filter probe (exact Jaccard at scale)",
            "",
            f"Generated by `python tools/scale_probe_prefixjoin.py {sf_dir} --doc`.",
            "",
            f"- corpus slice: doc_id % 10 = 0 at {sf_dir}, threshold {threshold}",
            f"- naive inverted-index candidate rows: **{naive_cand:,}**",
            f"- prefix-filtered candidate rows: **{pref_cand:,}** "
            f"({result['candidate_reduction']}x fewer)",
            f"- both return the identical {n_naive} pairs "
            f"(asserted every probe run); wall: naive {t_naive}s, "
            f"prefix {t_fast}s",
            "",
            "The reduction factor GROWS with corpus size: naive fan-out",
            "is dominated by the most frequent shared shingle (quadratic",
            "in its document frequency), while prefix fan-out follows the",
            "rarest shingles per document — exactly the ones whose",
            "frequency stays flat as the corpus grows. On this synthetic",
            "corpus every document shares a tiny vocabulary, the worst",
            "case for BOTH variants and the regime where the filter's",
            "advantage is smallest; real web corpora (Zipfian vocabulary)",
            "see orders of magnitude.",
        ]
        with open("/root/repo/docs/PREFIX_PROBE.md", "w") as fh:
            fh.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
