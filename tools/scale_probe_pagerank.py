"""Scale probe for the iterative link-graph path (PageRank + HITS).

PageRank and HITS are the iterative operators whose cost profile
differs most from the one-shot queries: per-iteration shuffles that
would compound at 100 TB. This probe runs the q123 graph shape at
sf0.1 and reports wall time plus PER-STAGE shuffle bytes from the
status REST API, so the design claim — shuffle per iteration ∝
|nodes|, the edge list cached and co-partitioned once — is a measured
number, not prose. The HITS section exercises BOTH execution paths:
the lazy composed plan at iters=3 and the localCheckpoint
generation-persist fallback at iters=20 (the realistic convergence
count the lazy plan cannot reach — the planner OOMed there before the
round-5 fallback).

Usage: python tools/scale_probe_pagerank.py [sf_dir] [--doc]
Prints one JSON line and (with --doc) rewrites docs/PAGERANK_PROBE.md.
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request

sys.path.insert(0, "/root/repo")


def _api(path: str):
    with urllib.request.urlopen(f"http://localhost:4040/api/v1{path}") as r:
        return json.load(r)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    write_doc = "--doc" in sys.argv

    from pyspark.sql import functions as F

    from gpi_etl_spark import runscope
    from gpi_etl_spark.operators.linkgraph import pagerank
    from gpi_etl_spark.queries import t
    from gpi_etl_spark.session import get_spark

    spark = get_spark(
        "pagerank_scale_probe", extra_conf={"spark.ui.enabled": "true"}
    )
    docs = t(spark, sf_dir, "documents").select("doc_id")
    cnt = docs.count()
    edges = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
    ).select(
        "src",
        ((F.col("src") * F.col("src") + F.col("k")) % cnt).alias("dst"),
    )

    t0 = time.time()
    ranks = pagerank(edges, iters=3, damping=0.85)
    ranks.write.format("noop").mode("overwrite").save()
    t_pr = round(time.time() - t0, 3)
    # do NOT ranks.count() here: in the no-dangling case the rank
    # lineage is uncached, so a second action would re-run all three
    # iterations and the REST stage totals would double-count every
    # shuffle. The node count is the known graph size.
    n_nodes = cnt

    from gpi_etl_spark.operators.linkgraph import hits

    # each timed run starts from an empty run scope: the hits runs pin
    # the same edge and node frames and would reuse each other's pins
    runscope.drain()
    t0 = time.time()
    hits(edges, iters=3, persist_iterations=False).write.format(
        "noop"
    ).mode("overwrite").save()
    t_hits_lazy = round(time.time() - t0, 3)

    runscope.drain()
    t0 = time.time()
    hits(edges, iters=20, persist_iterations=True).write.format(
        "noop"
    ).mode("overwrite").save()
    t_hits_persist = round(time.time() - t0, 3)

    app_id = _api("/applications")[0]["id"]
    stages = _api(f"/applications/{app_id}/stages?status=complete")
    per_stage = sorted(
        (
            {
                "stage": s["stageId"],
                "name": s["name"].split("\n")[0][:70],
                "shuffle_write_mb": round(s["shuffleWriteBytes"] / 2**20, 3),
                "shuffle_read_mb": round(s["shuffleReadBytes"] / 2**20, 3),
                "tasks": s["numCompleteTasks"],
            }
            for s in stages
        ),
        key=lambda d: -(d["shuffle_write_mb"] + d["shuffle_read_mb"]),
    )
    total_write = round(
        sum(s["shuffleWriteBytes"] for s in stages) / 2**20, 3
    )
    total_read = round(sum(s["shuffleReadBytes"] for s in stages) / 2**20, 3)

    result = {
        "sf_dir": sf_dir,
        "n_nodes": n_nodes,
        "n_edges": n_nodes * 3,
        "iters": 3,
        "pagerank_sec": t_pr,
        "hits_lazy_iters3_sec": t_hits_lazy,
        "hits_persist_iters20_sec": t_hits_persist,
        "total_shuffle_write_mb": total_write,
        "total_shuffle_read_mb": total_read,
        "top_stages": per_stage[:12],
    }
    print(json.dumps(result))

    if write_doc:
        lines = [
            "# PageRank scale probe (iterative link-graph ranking)",
            "",
            f"Generated by `python tools/scale_probe_pagerank.py {sf_dir} --doc`.",
            "",
            f"- input: {n_nodes} nodes / {n_nodes * 3} edges ({sf_dir})",
            f"- PageRank, 3 damped iterations end-to-end: **{t_pr}s**",
            f"- HITS, lazy composed plan, iters=3: **{t_hits_lazy}s**",
            f"- HITS, localCheckpoint generation-persist, iters=20: "
            f"**{t_hits_persist}s** — constant plan size per iteration; "
            "the lazy plan cannot reach this depth (analyzer cost grows "
            "with lineage; the pre-fallback attempt OOMed the planner)",
            f"- total shuffle (all runs): {total_write} MB written / "
            f"{total_read} MB read",
            "",
            "Why this holds at 100 TB: the edge list is joined with",
            "out-degrees ONCE, hash-partitioned by src and cached — each",
            "iteration shuffles only the (node, rank) table into that",
            "partitioning plus one groupBy(dst) aggregate, so per-iteration",
            "wire volume is proportional to |nodes|, never |edges| x iters.",
            "With no dangling nodes the loop stays one lazy composed plan",
            "(zero per-iteration driver actions); with dangling nodes one",
            "scalar aggregate per iteration redistributes the lost mass.",
            "",
            "| stage | shuffle write MB | shuffle read MB | tasks | name |",
            "|---|---|---|---|---|",
        ]
        for s in per_stage[:12]:
            lines.append(
                f"| {s['stage']} | {s['shuffle_write_mb']} | "
                f"{s['shuffle_read_mb']} | {s['tasks']} | {s['name']} |"
            )
        lines.append("")
        with open("/root/repo/docs/PAGERANK_PROBE.md", "w") as fh:
            fh.write("\n".join(lines))


if __name__ == "__main__":
    main()
