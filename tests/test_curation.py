"""Curation operators: deterministic splits, sampling, packing,
quantile filtering, decontamination (operators/curation.py)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from gpi_etl_spark.operators import curation


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # (doc_id, lang, n_tok) — sizes chosen to exercise bin overflow
        (i, "en" if i % 3 else "es", 10 + (i * 7) % 90)
        for i in range(200)
    ]
    return spark.createDataFrame(rows, "doc_id long, lang string, n_tok int")


def test_mix_hash_matches_duckdb(spark):
    ids = list(range(50)) + [2**31 - 1, 2**31, 2**40 + 123, 2**53 + 7, 2**62]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: r["h"]
        for r in df.select("doc_id", curation.mix_hash("doc_id").alias("h")).collect()
    }
    sql = curation.mix_hash_sql("doc_id", "duckdb")
    want = dict(
        duckdb.sql(
            f"SELECT doc_id, {sql} AS h FROM (SELECT unnest({ids}) AS doc_id)"
        ).fetchall()
    )
    assert got == want
    # 31-bit range, not constant
    assert all(0 <= h < 2**31 for h in got.values())
    assert len(set(got.values())) > len(ids) - 3


def test_split_assign_partitions_everything(docs):
    out = docs.select("doc_id", "lang").transform(curation.split_assign)
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 200
    assert set(counts) <= {"train", "val", "test"}
    # 80/10/10 within loose tolerance on 200 ids
    assert counts["train"] > 120
    # deterministic across invocations
    again = docs.select("doc_id", "lang").transform(curation.split_assign)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_group_sample_k_per_group(docs):
    out = curation.group_sample(docs, "lang", "doc_id", k=5)
    sizes = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert all(n <= 5 for n in sizes.values())
    assert sizes["en"] == 5 and sizes["es"] == 5
    # sample is a subset of the input and stable
    ids = {r["doc_id"] for r in out.collect()}
    assert ids <= set(range(200))
    again = {r["doc_id"] for r in curation.group_sample(docs, "lang", "doc_id", k=5).collect()}
    assert ids == again


def test_pack_budget_bins_contiguous_and_bounded(docs):
    budget = 256
    out = curation.pack_budget_bins(docs, "n_tok", "lang", "doc_id", budget=budget)
    rows = sorted(
        out.select("lang", "doc_id", "n_tok", "bin").collect(),
        key=lambda r: (r["lang"], r["doc_id"]),
    )
    max_doc = max(r["n_tok"] for r in rows)
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        # bins start at 0 and never decrease in doc order
        assert rs[0]["bin"] == 0
        for a, b in zip(rs, rs[1:]):
            assert b["bin"] >= a["bin"]
        # each bin's total ≤ budget + (largest doc - 1): greedy fill
        # with boundary overflow, never two docs past the boundary
        totals: dict[int, int] = {}
        for r in rs:
            totals[r["bin"]] = totals.get(r["bin"], 0) + r["n_tok"]
        assert all(v < budget + max_doc for v in totals.values())
        # bin k ends exactly when the running total crosses (k+1)*budget:
        # cumulative size through each non-final bin reaches its boundary
        last = max(totals)
        running = 0
        for b in sorted(totals):
            running += totals[b]
            if b != last:
                assert running >= (b + 1) * budget


def test_quantile_filter_keeps_top_fraction(docs):
    out = curation.quantile_filter(docs, "n_tok", "lang", keep_top=0.25)
    per_lang_in = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    kept = out.collect()
    per_lang_out: dict[str, list] = {}
    for r in kept:
        per_lang_out.setdefault(r["lang"], []).append(r["n_tok"])
    full = {r["lang"]: [x["n_tok"] for x in docs.collect() if x["lang"] == r["lang"]]
            for r in kept}
    for lang, vals in per_lang_out.items():
        assert len(vals) <= 0.25 * per_lang_in[lang] + 1
        # everything kept is ≥ everything dropped
        dropped = sorted(full[lang], reverse=True)[len(vals):]
        assert not dropped or min(vals) >= max(dropped)


def test_greedy_pack_never_overflows(docs):
    from gpi_etl_spark.operators.groupedmap import greedy_pack

    budget = 256
    out = greedy_pack(docs, "n_tok", "lang", "doc_id", budget=budget)
    rows = sorted(out.collect(), key=lambda r: (r["lang"], r["doc_id"]))
    totals: dict[tuple, int] = {}
    for r in rows:
        totals[(r["lang"], r["bin"])] = totals.get((r["lang"], r["bin"]), 0) + r["n_tok"]
    # exact capacity: no bin exceeds the budget (max doc here is 99 < 256)
    assert all(v <= budget for v in totals.values())
    # bins are contiguous and nondecreasing in doc order within a group
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r["bin"])
    for bins in by_lang.values():
        assert bins[0] == 0
        assert all(b2 - b1 in (0, 1) for b1, b2 in zip(bins, bins[1:]))
    # greedy is at least as tight as the window packer on the same input
    assert all(v > budget - 100 or (k[1] == max(b for (l2, b) in totals if l2 == k[0]))
               for k, v in totals.items())


def test_quantile_filter_approx_agrees_with_exact(docs):
    exact = curation.quantile_filter(docs, "n_tok", "lang", keep_top=0.25)
    approx = curation.quantile_filter_approx(docs, "n_tok", "lang", keep_top=0.25)
    e = {(r["lang"], r["doc_id"]) for r in exact.collect()}
    a = {(r["lang"], r["doc_id"]) for r in approx.collect()}
    # at full accuracy on small groups the cutoff is exact up to ties:
    # approx keeps a superset bounded by tie-expansion at the boundary
    assert e <= a
    assert len(a) <= len(e) + 12  # ties at the cutoff value only
    # and no sort/window in the approx plan
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Sort" not in plan.split("Exchange")[0]


def test_shuffle_deterministic_is_a_stable_permutation(docs):
    out1 = curation.shuffle_deterministic(docs, "doc_id", num_partitions=4)
    order1 = [r["doc_id"] for r in out1.toLocalIterator()]
    order2 = [r["doc_id"] for r in
              curation.shuffle_deterministic(docs, "doc_id", num_partitions=4).toLocalIterator()]
    assert order1 == order2                      # reproducible
    assert sorted(order1) == list(range(200))    # a permutation
    assert order1 != list(range(200))            # actually reordered
    # hash order, not input order: consecutive ids land far apart
    pos = {d: i for i, d in enumerate(order1)}
    adjacent = sum(1 for d in range(199) if abs(pos[d] - pos[d + 1]) == 1)
    assert adjacent < 20


def test_contaminated_ids_flags_only_sharers(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),      # shares "alpha beta gamma"
            (2, "epsilon zeta eta theta"),      # no overlap
            (3, "x alpha beta gamma"),          # shares (offset position)
        ],
        "doc_id long, text string",
    )
    heldout = spark.createDataFrame(
        [(100, "alpha beta gamma iota kappa")], "doc_id long, text string"
    )
    bad = {r["doc_id"] for r in
           curation.contaminated_ids(corpus, heldout, n=3).collect()}
    assert bad == {1, 3}


def test_bloom_contaminated_superset_of_exact(spark):
    """Bloom pass has zero false negatives: its id set is a superset of
    the exact inverted-index join, and on this tiny fixture (sparse bit
    array) it should be exactly equal. Includes a NULL-text corpus row,
    which must flow through (treated as an empty shingle set)."""
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "epsilon zeta eta theta"),
            (3, "x alpha beta gamma"),
            (4, None),                           # NULL text: no shingles
            (5, ""),                             # empty text: no shingles
        ],
        "doc_id long, text string",
    )
    heldout = spark.createDataFrame(
        [(100, "alpha beta gamma iota kappa")], "doc_id long, text string"
    )
    exact = {r["doc_id"] for r in
             curation.contaminated_ids(corpus, heldout, n=3).collect()}
    bloom = {r["doc_id"] for r in
             curation.bloom_contaminated_ids(corpus, heldout, n=3).collect()}
    assert bloom >= exact          # no false negatives, ever
    assert bloom == {1, 3}         # tiny fixture: no false positives either
    # regression (functions/hof.py caveat): the shingle expression feeds
    # a pandas_udf; with nested lambda variables in the argument Spark
    # can fail to lift the UDF out of FilterExec (session-history-
    # dependent INTERNAL_ERROR). Pin that extraction happened.
    plan = (
        curation.bloom_contaminated_ids(corpus, heldout, n=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" in plan


def test_quantile_filter_approx_keeps_null_group(spark):
    df = spark.createDataFrame(
        [(i, None if i < 10 else "en", i) for i in range(30)],
        "doc_id long, lang string, n_tok int",
    )
    out = curation.quantile_filter_approx(df, "n_tok", "lang", keep_top=0.5)
    langs = {r["lang"] for r in out.collect()}
    assert None in langs  # NULL group filtered within itself, not dropped
    null_kept = [r["doc_id"] for r in out.collect() if r["lang"] is None]
    assert 0 < len(null_kept) < 10


def test_pack_invariants_property(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gpi_etl_spark.operators.groupedmap import greedy_pack

    @settings(max_examples=8, deadline=None)
    @given(st.lists(st.integers(min_value=1, max_value=700), min_size=1,
                    max_size=40))
    def run(sizes):
        budget = 512
        df = spark.createDataFrame(
            [(i, "g", s) for i, s in enumerate(sizes)],
            "doc_id long, lang string, n_tok int",
        )
        g = sorted(greedy_pack(df, "n_tok", "lang", "doc_id", budget=budget)
                   .collect(), key=lambda r: r["doc_id"])
        w = sorted(curation.pack_budget_bins(df, "n_tok", "lang", "doc_id",
                                             budget=budget).collect(),
                   key=lambda r: r["doc_id"])
        assert len(g) == len(w) == len(sizes)          # nothing lost
        # greedy bins are contiguous (steps of 0/1); the window packer
        # may SKIP indices when one doc spans multiple budgets (its bin
        # is floor(cum/budget)), so it only guarantees nondecreasing
        assert g[0]["bin"] == 0 and w[0]["bin"] == 0
        assert all(b["bin"] - a["bin"] in (0, 1) for a, b in zip(g, g[1:]))
        assert all(b["bin"] >= a["bin"] for a, b in zip(w, w[1:]))
        # greedy: a bin only exceeds budget if one doc alone does
        totals: dict[int, list] = {}
        for r in g:
            totals.setdefault(r["bin"], []).append(r["n_tok"])
        for members in totals.values():
            assert sum(members) <= budget or len(members) == 1

    run()


def test_token_budget_sample_deterministic_prefix(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "es", 10 + i % 3) for i in range(40)],
        "doc_id long, lang string, n_tokens int",
    )
    out = curation.token_budget_sample(df, {"en": 60, "es": 35}).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    # budgets respected: cumulative totals stay within each budget
    assert max(r.cum_tokens for r in by_lang["en"]) <= 60
    assert max(r.cum_tokens for r in by_lang["es"]) <= 35
    # greedy prefix: adding any one more doc would overflow (undershoot
    # bounded by one document)
    assert max(r.cum_tokens for r in by_lang["en"]) > 60 - 13
    # unbudgeted groups would be dropped; all kept rows have budgets
    assert set(by_lang) == {"en", "es"}
    # deterministic: same input -> same kept set
    again = {r.doc_id for r in
             curation.token_budget_sample(df, {"en": 60, "es": 35}).collect()}
    assert again == {r.doc_id for r in out}


def test_url_domain_extraction(spark):
    from gpi_etl_spark.operators.curation import url_domain

    cases = [
        ("https://WWW.Example.COM/path?q=1", "example.com"),
        ("http://user:pw@sub.site.org:8080/x", "sub.site.org"),
        ("https://plain.net", "plain.net"),
        ("ftp://www.files.example.co.uk/a/b", "files.example.co.uk"),
    ]
    df = spark.createDataFrame(cases, "url string, want string")
    out = df.select(url_domain("url").alias("got"), "want").collect()
    for r in out:
        assert r.got == r.want


def test_blocklist_filter_matches_subdomains(spark):
    from gpi_etl_spark.operators.curation import blocklist_filter

    rows = [
        (1, "https://ok.com/a"),
        (2, "https://bad.com/a"),
        (3, "https://ads.bad.com/a"),        # subdomain of blocked
        (4, "https://notbad.com/a"),         # suffix but NOT a subdomain
        (5, "https://www.bad.com/a"),        # www. strips to the blocked host
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    kept = {r.doc_id for r in blocklist_filter(df, ["bad.com"]).collect()}
    assert kept == {1, 4}


def test_domain_frequency_cap_deterministic(spark):
    from gpi_etl_spark.operators.curation import domain_frequency_cap

    rows = [(i, f"https://only.com/{i}") for i in range(20)]
    rows += [(100 + i, f"https://rare.org/{i}") for i in range(2)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out1 = domain_frequency_cap(df, cap=3)
    got1 = {(r.domain, r.doc_id) for r in out1.collect()}
    assert sum(1 for d, _ in got1 if d == "only.com") == 3
    assert sum(1 for d, _ in got1 if d == "rare.org") == 2  # under cap
    # deterministic: a second run keeps the same rows
    got2 = {(r.domain, r.doc_id) for r in domain_frequency_cap(df, cap=3).collect()}
    assert got1 == got2


def test_url_domain_resists_query_string_at_sign(spark):
    """Regression: '@' in the query string must not be parsed as
    userinfo (that extracted a fake host and bypassed blocklists)."""
    from gpi_etl_spark.operators.curation import blocklist_filter, url_domain

    rows = [
        (1, "https://bad.com?x@y"),
        (2, "https://bad.com#frag@y"),
        (3, "https://user@bad.com/path"),     # genuine userinfo still strips
        (4, "nohost.com/x"),                  # scheme-less: no host
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.doc_id: r.d for r in df.select("doc_id", url_domain("url").alias("d")).collect()}
    assert got[1] == "bad.com" and got[2] == "bad.com" and got[3] == "bad.com"
    assert got[4] == ""
    kept = {r.doc_id for r in blocklist_filter(df, ["bad.com"]).collect()}
    assert kept == {4}


def test_domain_frequency_cap_passes_hostless_rows_through(spark):
    from gpi_etl_spark.operators.curation import domain_frequency_cap

    rows = [(i, f"https://one.com/{i}") for i in range(10)]
    rows += [(100 + i, f"relative/path/{i}") for i in range(10)]  # no host
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = domain_frequency_cap(df, cap=3)
    got = {}
    for r in out.collect():
        got.setdefault(r.domain, set()).add(r.doc_id)
    assert len(got["one.com"]) == 3            # capped
    assert len(got[""]) == 10                  # hostless rows all survive


def test_contamination_overlap_hand_computed(spark):
    from gpi_etl_spark.operators.curation import contamination_overlap

    corpus = spark.createDataFrame(
        [
            # distinct 2-grams: "a b","b c","c d" — "a b" and "b c" held out
            (1, "a b c d"),
            # "x y" only, no overlap
            (2, "x y"),
            # verbatim copy of the held-out doc: full overlap
            (3, "a b c"),
            (4, ""),  # no shingles -> no row
        ],
        "doc_id long, text string",
    )
    heldout = spark.createDataFrame(
        [(100, "a b c")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r
        for r in contamination_overlap(corpus, heldout, n=2).collect()
    }
    assert set(got) == {1, 2, 3}
    assert (got[1].n_shingles, got[1].n_hits) == (3, 2)
    assert got[1].overlap_ratio == round(2 / 3, 6)
    assert (got[2].n_shingles, got[2].n_hits) == (1, 0)
    assert got[3].overlap_ratio == 1.0


def test_contamination_overlap_agrees_with_binary_gate(spark):
    """overlap_ratio > 0 exactly for the ids contaminated_ids flags."""
    from gpi_etl_spark.operators.curation import (
        contaminated_ids,
        contamination_overlap,
    )

    corpus = spark.createDataFrame(
        [(i, f"w{i} common tail phrase number {i % 3}") for i in range(12)],
        "doc_id long, text string",
    )
    heldout = spark.createDataFrame(
        [(99, "common tail phrase number 1")], "doc_id long, text string"
    )
    binary = {r.doc_id for r in contaminated_ids(corpus, heldout, n=3).collect()}
    graded = {
        r.doc_id
        for r in contamination_overlap(corpus, heldout, n=3).collect()
        if r.overlap_ratio > 0
    }
    assert binary == graded and binary


def test_importance_weights_prefers_target_like_docs(spark):
    import math

    from gpi_etl_spark.operators.curation import importance_weights

    target = spark.createDataFrame(
        [(100, "physics physics quantum field"),
         (101, "quantum gravity physics")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "physics quantum notes"),   # target-like
            (2, "cheap pills casino now"),  # off-domain
            (3, ""),                        # no tokens -> no row
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in importance_weights(corpus, target).collect()}
    assert set(got) == {1, 2}
    assert got[1].llr_r > 0 > got[2].llr_r
    # hand-check one token: "physics": ct=3, cc=1; joint vocab v=9,
    # nt=7, nc=7  -> llr = ln(4/16) - ln(2/16)
    # doc 2 tokens are all ct=0, cc=1: llr = ln(1/16) - ln(2/16)
    want2 = round(math.log(1 / 16) - math.log(2 / 16), 6)
    assert got[2].llr_r == want2


def test_temperature_mix_quota_math(spark):
    import math

    from gpi_etl_spark.operators.curation import temperature_mix

    rows = []
    # big lang: 40 docs x 100 tokens; small lang: 10 docs x 10 tokens
    for i in range(40):
        rows.append((i, "big", 100))
    for i in range(100, 110):
        rows.append((i, "small", 10))
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens int")

    out = temperature_mix(df, alpha=0.5, budget=30).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    # hand-replay: T = {big: 4000, small: 100}; z = 4000^.5 + 100^.5
    z = math.sqrt(4000) + math.sqrt(100)
    w_big = round(math.sqrt(4000) / z, 6)
    w_small = round(math.sqrt(100) / z, 6)
    assert by_lang["big"][0].quota == max(1, math.floor(30 * w_big))
    assert by_lang["small"][0].quota == max(1, math.floor(30 * w_small))
    # quota respected exactly (clamped by group size)
    assert len(by_lang["big"]) == min(40, by_lang["big"][0].quota)
    assert len(by_lang["small"]) == min(10, by_lang["small"][0].quota)
    # alpha=0.5 up-samples the small lang vs its raw 2.4% token share
    assert w_small > 100 / 4100


def test_temperature_mix_alpha_zero_uniform(spark):
    from gpi_etl_spark.operators.curation import temperature_mix

    rows = [(i, "a", 1000) for i in range(5)] + [
        (i, "b", 1) for i in range(10, 15)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens int")
    out = temperature_mix(df, alpha=0.0, budget=8).collect()
    quotas = {r.lang: r.quota for r in out}
    # T^0 = 1 for every group: equal quotas regardless of size skew
    assert quotas["a"] == quotas["b"] == 4


def test_curation_dag_persist_matches_lazy(spark):
    """The persist_stages production path must return the SAME rows as
    the lazy composed plan for both DAG versions — only physical
    stage reuse differs (one scan per stage instead of a re-expanded
    scan per downstream branch)."""
    from gpi_etl_spark.plans.curation_dags import (
        curation_dag_v1,
        curation_dag_v2,
    )

    sf = "/root/testdata/sf0.001"
    for dag in (curation_dag_v1, curation_dag_v2):
        lazy = {tuple(r) for r in dag(spark, sf, persist_stages=False).collect()}
        per = {tuple(r) for r in dag(spark, sf, persist_stages=True).collect()}
        assert lazy == per and len(lazy) > 0


def test_curation_dag_persist_collapses_scans(spark):
    """persist_stages is the 100 TB lever: the v2 lazy plan re-scans
    documents under every branch (~30 FileScans) while the pinned plan
    reads each stage's survivors from cache. The plan STRING nests the
    full cached lineage under every InMemoryTableScan (so a raw
    FileScan count is misleading there); what matters is that the
    top-level plan consumes caches — every stage boundary resolves to
    an InMemoryTableScan, and at runtime those read cached blocks, not
    parquet."""
    from gpi_etl_spark import runscope
    from gpi_etl_spark.plans.curation_dags import curation_dag_v2

    # the autouse fixture drained the scope, so no pin from an earlier
    # persist run is left: the CacheManager matches cached plans by
    # logical equality, so leftovers would make even the "lazy" variant
    # read caches
    sf = "/root/testdata/sf0.001"
    lazy_plan = (
        curation_dag_v2(spark, sf, persist_stages=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "InMemoryTableScan" not in lazy_plan
    assert lazy_plan.count("FileScan parquet") > 10  # the re-expansion
    per = curation_dag_v2(spark, sf, persist_stages=True)
    per.count()  # populate the stage caches
    per_plan = (
        per._jdf.queryExecution().executedPlan().toString()
    )
    assert "InMemoryTableScan" in per_plan
    # all three pinned stages materialized and live
    assert len(runscope._pins) == 3
    assert all(df.is_cached for df in runscope._pins)


def test_pps_sample_weight_proportionality(spark):
    """Inclusion counts track weight share: with one dominant-weight
    row and n boundaries, the heavy row is always selected, and the
    per-group sample size is exactly n when all weights < stride."""
    from gpi_etl_spark.operators.curation import pps_systematic_sample

    rows = [(i, "g", 10) for i in range(100)] + [(1000, "g", 100000)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    got = pps_systematic_sample(df, "source", "n_chars", 10).collect()
    assert 1000 in {r.doc_id for r in got}  # w >> stride: always in

    uniform = spark.createDataFrame(
        [(i, "g", 7) for i in range(200)],
        "doc_id long, source string, n_chars long",
    )
    sel = pps_systematic_sample(uniform, "source", "n_chars", 10).collect()
    assert len(sel) == 10  # all weights < stride -> exactly n


def test_pps_sample_deterministic_and_stratified(spark):
    from gpi_etl_spark.operators.curation import pps_systematic_sample

    rows = [(i, "a" if i % 2 else "b", 5 + i % 13) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    s1 = {r.doc_id for r in pps_systematic_sample(df, "source", "n_chars", 8).collect()}
    s2 = {r.doc_id for r in pps_systematic_sample(df, "source", "n_chars", 8).collect()}
    assert s1 == s2 and len(s1) == 16  # 8 per stratum, pure function of ids


def test_redact_pii_counts_and_text(spark):
    from gpi_etl_spark.operators.curation import redact_pii

    rows = [
        (1, "mail me at jo.doe+x@corp.example.org today"),
        (2, "call 555-123-4567 or 555-987-6543"),
        (3, "ssn 123-45-6789 but order 12-345 stays"),
        (4, "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in redact_pii(df).collect()}
    assert (got[1].n_email, got[1].n_phone, got[1].n_ssn) == (1, 0, 0)
    assert (got[2].n_email, got[2].n_phone, got[2].n_ssn) == (0, 2, 0)
    assert (got[3].n_email, got[3].n_phone, got[3].n_ssn) == (0, 0, 1)
    assert (got[4].n_email, got[4].n_phone, got[4].n_ssn) == (0, 0, 0)
    # hash of redacted text equals hash of the expected redaction
    import hashlib

    want = hashlib.sha256(
        b"call [PHONE] or [PHONE]"
    ).hexdigest()
    assert got[2].clean_sha256 == want
    # untouched text hashes unchanged
    want4 = hashlib.sha256(rows[3][1].encode()).hexdigest()
    assert got[4].clean_sha256 == want4


def test_redact_pii_phone_ssn_disjoint(spark):
    """The 3-3-4 phone and 3-2-4 ssn shapes must not consume each
    other regardless of application order."""
    from gpi_etl_spark.operators.curation import redact_pii

    df = spark.createDataFrame(
        [(1, "555-123-4567 123-45-6789")], "doc_id long, text string"
    )
    r = redact_pii(df).collect()[0]
    assert (r.n_phone, r.n_ssn) == (1, 1)


def test_redact_pii_mixed_case_email(spark):
    """Compliance review find: the email pattern must catch
    mixed-case addresses — [EMAIL] tags and counts, not pass-through."""
    from gpi_etl_spark.operators.curation import redact_pii

    df = spark.createDataFrame(
        [(1, "write John.Doe@Example.COM or SALES@CORP.ORG now")],
        "doc_id long, text string",
    )
    r = redact_pii(df).collect()[0]
    assert r.n_email == 2
    import hashlib

    want = hashlib.sha256(b"write [EMAIL] or [EMAIL] now").hexdigest()
    assert r.clean_sha256 == want


def test_embargo_split_boundaries_and_partition(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    # range = 100 seconds -> t0 = +70s (train incl.), t1 = +75s (test
    # incl.), strictly-between rows land in the embargo gap
    rows = [
        (i, base + dt.timedelta(seconds=s))
        for i, s in enumerate([0, 50, 70, 71, 74, 75, 90, 100])
    ]
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp")
    out = {
        r["event_id"]: r["split"]
        for r in curation.embargo_split(df).collect()
    }
    assert out[0] == out[1] == out[2] == "train"   # 70s boundary -> train
    assert out[3] == out[4] == "embargo"
    assert out[5] == out[6] == out[7] == "test"    # 75s boundary -> test


def test_embargo_split_deterministic_across_runs(spark):
    import datetime as dt

    base = dt.datetime(2024, 3, 1)
    rows = [(i, base + dt.timedelta(minutes=i * 7)) for i in range(50)]
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp")
    one = sorted((r["event_id"], r["split"])
                 for r in curation.embargo_split(df).collect())
    two = sorted((r["event_id"], r["split"])
                 for r in curation.embargo_split(df).collect())
    assert one == two
    assert {s for _, s in one} == {"train", "embargo", "test"}


def test_leakage_safe_split_never_straddles_clusters(spark):
    # 100 docs in 50 two-doc clusters: cluster-keyed split must keep
    # every cluster whole, while the doc-keyed split demonstrably
    # splits at least one cluster on this fixture
    rows = [(i, i // 2) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id bigint, cl bigint")
    safe = curation.leakage_safe_split(df, "cl")
    leaky_safe = (
        safe.groupBy("cl")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .count()
    )
    assert leaky_safe == 0
    naive = curation.split_assign(df, id_col="doc_id")
    leaky_naive = (
        naive.groupBy("cl")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .count()
    )
    assert leaky_naive > 0


def _mkdocs(spark, sizes):
    rows = []
    i = 0
    for g, n_docs, tok in sizes:
        for _ in range(n_docs):
            rows.append((i, g, tok))
            i += 1
    return spark.createDataFrame(
        rows, "doc_id bigint, lang string, n_tokens int"
    )


def test_temperature_budgets_sum_exactly(spark):
    df = _mkdocs(spark, [("en", 40, 100), ("de", 10, 100), ("zh", 3, 100)])
    for alpha in (0.3, 0.5, 0.7, 1.0):
        for total in (997, 1000, 12345):
            b = curation.temperature_mix_budgets(
                df, alpha=alpha, total=total
            )
            assert sum(b.values()) == total, (alpha, total, b)


def test_temperature_alpha_upsamples_rare_groups(spark):
    # en holds ~93% of tokens; at alpha=0.5 its budget share must land
    # strictly between the rare group's raw share and its own
    df = _mkdocs(spark, [("en", 93, 100), ("zh", 7, 100)])
    b_half = curation.temperature_mix_budgets(df, alpha=0.5, total=1000)
    b_prop = curation.temperature_mix_budgets(df, alpha=1.0, total=1000)
    assert b_prop["en"] == 930  # alpha=1 is exact proportional
    assert b_half["en"] < b_prop["en"]
    assert b_half["zh"] > b_prop["zh"]
    assert b_half["zh"] > 70


def test_temperature_budgets_deterministic(spark):
    df = _mkdocs(spark, [("a", 5, 33), ("b", 7, 41), ("c", 2, 13)])
    one = curation.temperature_mix_budgets(df, alpha=0.5, total=500)
    two = curation.temperature_mix_budgets(
        df.repartition(7), alpha=0.5, total=500
    )
    assert one == two


def test_epoch_repetition_exact_epochs_and_prefix(spark):
    df = _mkdocs(spark, [("en", 10, 50), ("zh", 4, 25)])
    # en supply 500, zh supply 100
    plan = curation.epoch_repetition_plan(
        df, {"en": 1234, "zh": 333}, token_col="n_tokens"
    ).collect()
    en = [r for r in plan if r.lang == "en"]
    zh = [r for r in plan if r.lang == "zh"]
    assert len(en) == 10 and len(zh) == 4
    # en: k=2 (1234//500), rem=234 -> prefix of 4 docs (200 tokens) gets 3
    assert sorted(r.copies for r in en) == [2] * 6 + [3] * 4
    # zh: k=3 (333//100), rem=33 -> prefix of 1 doc (25 tokens) gets 4
    assert sorted(r.copies for r in zh) == [3, 3, 3, 4]
    # emitted tokens never exceed budget, undershoot < one document
    for grp, budget, tok in (("en", 1234, 50), ("zh", 333, 25)):
        emitted = sum(r.copies * r.n_tokens for r in plan if r.lang == grp)
        assert emitted <= budget
        assert budget - emitted < tok


def test_epoch_repetition_drops_unbudgeted_and_empty(spark):
    df = _mkdocs(spark, [("en", 3, 10), ("xx", 2, 0), ("de", 2, 10)])
    plan = curation.epoch_repetition_plan(
        df, {"en": 100, "xx": 7}, token_col="n_tokens"
    ).collect()
    langs = {r.lang for r in plan}
    assert langs == {"en"}  # de: no budget; xx: zero supply


def test_epoch_repetition_deterministic(spark):
    df = _mkdocs(spark, [("a", 9, 13), ("b", 5, 7)])
    budgets = {"a": 400, "b": 100}
    one = sorted(
        curation.epoch_repetition_plan(df, budgets).collect()
    )
    two = sorted(
        curation.epoch_repetition_plan(
            df.repartition(11), budgets
        ).collect()
    )
    assert one == two


def test_temperature_budgets_edge_inputs(spark):
    import pytest

    empty = spark.createDataFrame([], "doc_id bigint, lang string, n_tokens int")
    assert curation.temperature_mix_budgets(empty, total=100) == {}
    zeros = _mkdocs(spark, [("a", 3, 0), ("b", 2, 0)])
    with pytest.raises(ValueError):
        curation.temperature_mix_budgets(zeros, total=100)
    # precomputed sizes short-circuit matches the aggregating path
    df = _mkdocs(spark, [("en", 40, 100), ("de", 10, 100)])
    via_df = curation.temperature_mix_budgets(df, total=1000)
    via_sizes = curation.temperature_mix_budgets(
        sizes={"en": 4000, "de": 1000}, total=1000
    )
    assert via_df == via_sizes


def test_epoch_repetition_supplies_shortcut_matches(spark):
    df = _mkdocs(spark, [("en", 10, 50), ("zh", 4, 25)])
    budgets = {"en": 1234, "zh": 333}
    full = sorted(curation.epoch_repetition_plan(df, budgets).collect())
    short = sorted(
        curation.epoch_repetition_plan(
            df, budgets, supplies={"en": 500, "zh": 100}
        ).collect()
    )
    assert full == short


# ---------------------------------------------------------------------------
# k_anonymize (cascading-remainder k-anonymity)
# ---------------------------------------------------------------------------


def _kanon_adversarial(spark):
    """The dataset that breaks the NAIVE ladder (original-table group
    counts): nation 1 holds 20 rows, 16 of them in two k-sized
    (nation, segment) groups and a 4-row sliver in a third segment.
    Naive counting releases the sliver at level 1 (nation-1 count is
    20 ≥ k) even though only 4 RELEASED rows would wear the
    (nation=1, NULL) tuple; cascading remainder must push them to the
    suppress-all level instead."""
    rows = (
        [(1, "A", float(i)) for i in range(8)]
        + [(1, "B", float(i)) for i in range(8)]
        + [(1, "C", float(i)) for i in range(4)]   # the sliver
        + [(2, "A", float(i)) for i in range(9)]   # releases at level 0
        + [(3, chr(65 + i), float(i)) for i in range(6)]  # 6 singleton
        # segments under one nation: none release at 0, but nation 3's
        # REMAINDER is 6 < 8 → suppress-all
    )
    return spark.createDataFrame(
        rows, "nation int, segment string, bal double"
    )


def test_k_anonymize_released_groups_hold_k(spark):
    df = _kanon_adversarial(spark)
    out = curation.k_anonymize(
        df, levels=[["nation", "segment"], ["nation"], []], k=8
    )
    assert out.count() == df.count()  # row conservation
    rel = (
        out.groupBy("anon_level", "nation_anon", "segment_anon")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    for r in rel:
        if r.anon_level < 2:
            assert r.n >= 8, r  # the k-anonymity guarantee
    by_level = {r.anon_level: r.n for r in rel if r.nation_anon in (1, None)}
    # the nation-1 sliver and nation-3 singletons (4 + 6 rows) land in
    # suppress-all: neither remainder reaches k at level 1
    assert by_level.get(2) == 10


def test_k_anonymize_masking_matches_level(spark):
    df = _kanon_adversarial(spark)
    out = curation.k_anonymize(
        df, levels=[["nation", "segment"], ["nation"], []], k=8
    ).collect()
    for r in out:
        if r.anon_level == 0:
            assert r.nation_anon == r.nation and r.segment_anon == r.segment
        elif r.anon_level == 1:
            assert r.nation_anon == r.nation and r.segment_anon is None
        else:
            assert r.nation_anon is None and r.segment_anon is None


def test_k_anonymize_naive_counterexample_is_real(spark):
    """Documents WHY the cascade exists: counting on the original
    table would release nation-1's 4-row sliver at level 1 (nation
    count 20 ≥ 8) — an under-k released group."""
    df = _kanon_adversarial(spark)
    naive_l1 = (
        df.groupBy("nation").agg(F.count(F.lit(1)).alias("n1"))
        .filter(F.col("n1") >= 8)
        .collect()
    )
    assert any(r.nation == 1 for r in naive_l1)  # naive would release
    out = curation.k_anonymize(
        df, levels=[["nation", "segment"], ["nation"], []], k=8
    )
    sliver = out.filter(
        (F.col("nation") == 1) & (F.col("segment") == "C")
    ).collect()
    assert all(r.anon_level == 2 for r in sliver)  # cascade suppresses


def test_k_anonymize_ladder_validation(spark):
    df = _kanon_adversarial(spark)
    with pytest.raises(ValueError, match="must end with"):
        curation.k_anonymize(df, levels=[["nation"]], k=8)
    with pytest.raises(ValueError, match="not a subset"):
        curation.k_anonymize(
            df, levels=[["nation"], ["segment"], []], k=8
        )


def test_k_anonymize_null_qi_is_a_group_not_a_leak(spark):
    """A NULL quasi-identifier is a legitimate group: k rows with
    nation=NULL must RELEASE at level 0 (null-safe group join), and
    rows never vanish (the null-unsafe equi-join dropped them from
    every slice — review find)."""
    rows = (
        [(None, "A", float(i)) for i in range(9)]       # NULL nation, ≥k
        + [(7, None, float(i)) for i in range(3)]        # NULL segment sliver
        + [(7, "B", float(i)) for i in range(9)]
    )
    df = spark.createDataFrame(rows, "nation int, segment string, bal double")
    out = curation.k_anonymize(
        df, levels=[["nation", "segment"], ["nation"], []], k=8
    )
    assert out.count() == len(rows)  # NOTHING dropped
    got = {
        (r.nation, r.segment): r.anon_level
        for r in out.select("nation", "segment", "anon_level").distinct()
        .collect()
    }
    assert got[(None, "A")] == 0       # the NULL-nation group released
    assert got[(7, "B")] == 0
    # (7, NULL) sliver: level-1 remainder for nation 7 is 3 < 8 →
    # suppress-all
    assert got[(7, None)] == 2


def test_q224_oracle_null_path_matches_spark(spark, tmp_path):
    """The q224 gate only sees TPC-H customer (no NULL QIs), so its
    oracle's NULL-safe joins (IS NOT DISTINCT FROM — advice find: the
    old JOIN USING silently dropped NULL-QI rows from the oracle,
    diverging from k_anonymize's eqNullSafe cascade) are exercised
    HERE: both engines run the registered q224 query/oracle over a
    customer table where NULL nation/segment groups exist at every
    cascade level, and must agree row-for-row."""
    import math

    from gpi_etl_spark import queries as Q

    rows = (
        [(None, "AUTO", float(100 + i)) for i in range(9)]  # release @0
        + [(7, None, float(i)) for i in range(3)]           # sliver
        + [(7, "BLDG", float(50 + i)) for i in range(9)]    # release @0
        + [(None, None, float(i)) for i in range(2)]        # NULL/NULL
    )
    df = spark.createDataFrame(
        rows, "c_nationkey bigint, c_mktsegment string, c_acctbal double"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))

    sdf = Q.REGISTRY["q224_k_anonymity"][0](spark, str(tmp_path))
    oracle = Q.REGISTRY["q224_k_anonymity"][1]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW customer AS SELECT * FROM "
        f"'{tmp_path}/customer.parquet/*.parquet'"
    )
    cur = con.execute(oracle)
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()

    def canon(cols, recs):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = []
        for r in recs:
            out.append(tuple(
                round(v, 6) if isinstance(v, float) and not math.isnan(v)
                else v
                for v in (r[i] for i in order)
            ))
        return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))

    s_rows = canon(sdf.columns, [tuple(r) for r in sdf.collect()])
    d_rows = canon(o_cols, o_rows)
    assert sorted(sdf.columns) == sorted(o_cols)
    assert s_rows == d_rows
    n_total = sum(
        row[sorted(sdf.columns).index("n")] for row in s_rows
    )
    assert n_total == len(rows)


def test_l_diversity_audit_flags_homogeneous_classes(spark):
    """k-anonymity's blind spot: a big class with ONE sensitive value
    must flag is_l_diverse = 0; NULL sensitive counts as a visible
    category."""
    from pyspark.sql import functions as F

    from gpi_etl_spark.operators.curation import l_diversity_audit

    rows = (
        [("g1", "hiv")] * 10                      # homogeneous — leak
        + [("g2", "flu")] * 4 + [("g2", "ok")] * 4
        + [("g2", "hiv")] * 2                     # 3 values — diverse
        + [("g3", None)] * 3 + [("g3", "ok")] * 3
        + [("g3", "flu")] * 2                     # NULL + 2 = 3
    )
    df = spark.createDataFrame(rows, "cls string, s string")
    out = {r.cls: r for r in l_diversity_audit(
        df, ["cls"], "s", l=3).collect()}
    assert out["g1"].n == 10 and out["g1"].n_sensitive == 1
    assert out["g1"].is_l_diverse == 0
    assert out["g2"].is_l_diverse == 1
    assert out["g3"].n_sensitive == 3 and out["g3"].is_l_diverse == 1
