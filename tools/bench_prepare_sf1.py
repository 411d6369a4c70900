"""sf1-shape evidence for the --prepare export surface (VERDICT r6 #7).

The query suite's sf0.1 -> sf1 ratios are on record (bench_sf1); this
harness puts the END-TO-END training-data export on the same record.
It builds a 300k-doc documents table — 60 perturbed copies of sf0.1's
5,000 docs, the bench_sf1 recipe: a per-copy 8-token suffix that keeps
typical ~45-token docs below the 0.8 Jaccard threshold across copies
(their per-copy internal near-dup structure scales 60x) while LONG
documents, where 8 tokens are proportionally nothing, form cross-copy
clusters up to 60 members — a realistic heavy-cluster stress for the
closure (measured at 2x: near_dup grows super-linearly on exactly that
long-doc fraction). It then runs the full ``--prepare --near-dedup``
stage shape (curate + LSH near-dedup -> split -> corpus write ->
re-read -> per-split packing -> assignment write) at BOTH 5k and 300k,
recording:

- wall seconds per scale and the 60x-data wall ratio;
- rows / kept / near_dup accounting (Observation, rides the write);
- the cluster closure's pass count (``cluster_pairs`` stats: 1, one
  union-find pass over the edges at any scale);
- total and peak per-stage shuffle write bytes (Spark REST API stage
  metrics) — the number that predicts network cost on a real cluster.

Appends a markdown section to BENCH/SF1.md.

Usage: PREP_CPUS=32 python tools/bench_prepare_sf1.py [n_copies]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = int(os.environ.get("PREP_CPUS", "32"))
SRC_SF = os.environ.get("PREP_SRC", "/root/testdata/sf0.1")
CACHE = os.path.join(REPO, ".benchcache", "prep_sf1")
OUT_MD = os.path.join(REPO, "BENCH", "SF1.md")


def _build_big_docs(spark, copies: int) -> str:
    path = os.path.join(CACHE, f"documents_{copies}x.parquet")
    marker = path + "._DONE"
    if os.path.exists(marker):
        return path
    docs = spark.read.parquet(f"{SRC_SF}/documents.parquet")
    n_docs = docs.count()
    parts = []
    for c in range(copies):
        suffix = F.concat_ws(" ", *[
            F.concat(F.lit(f"cp{c}x{j}q"),
                     F.conv(F.hex(F.abs(F.xxhash64(
                         F.col("doc_id"), F.lit(c * 8 + j)))), 16, 36))
            for j in range(8)])
        parts.append(docs.select(
            (F.col("doc_id") + F.lit(c * n_docs)).alias("doc_id"),
            F.concat_ws(" ", F.col("text"), suffix).alias("text"),
            *[col for col in docs.columns
              if col not in ("doc_id", "text")]))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(CPUS).write.mode("overwrite").parquet(path)
    open(marker, "w").write(str(n_docs * copies))
    return path


def _stage_shuffle(spark) -> dict[int, int]:
    url = (f"{spark.sparkContext.uiWebUrl}/api/v1/applications/"
           f"{spark.sparkContext.applicationId}/stages?status=complete")
    data = json.load(urllib.request.urlopen(url))
    return {s["stageId"]: s["shuffleWriteBytes"] for s in data}


def run_prepare(spark, in_path: str, out_path: str) -> dict:
    """The job.py --prepare --near-dedup stage shape, in-process so the
    closure round count and per-stage shuffle metrics are observable."""
    from pyspark.sql.observation import Observation

    from documentai_spark.plans.prepare import (
        pack_corpus, prepare_training_data,
    )
    from job import auto_shards

    shutil.rmtree(out_path, ignore_errors=True)
    before = _stage_shuffle(spark)
    near_stats: dict = {}
    obs_flags = Observation("prep_flags")

    def observer(df):
        return df.observe(
            obs_flags, F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("keep").cast("int")).alias("kept"),
            F.sum(F.col("is_near_dup").cast("int")).alias("near_dup"))

    t0 = time.time()
    prep = prepare_training_data(
        spark.read.parquet(in_path), near_dedup=True,
        observer=observer, near_stats=near_stats)
    corpus_path = os.path.join(out_path, "corpus")
    assign_path = os.path.join(out_path, "assignment")
    obs_corpus = Observation("prep_corpus")
    (prep.corpus.observe(obs_corpus, F.count(F.lit(1)).alias("rows"))
         .write.mode("overwrite").partitionBy("split")
         .parquet(corpus_path))
    rows_c = obs_corpus.get["rows"]
    assign = pack_corpus(spark.read.parquet(corpus_path),
                         n_shards=auto_shards(16, rows_c),
                         est_rows=rows_c)
    assign.write.mode("overwrite").partitionBy("split") \
          .parquet(assign_path)
    wall = time.time() - t0
    after = _stage_shuffle(spark)
    new = {sid: b for sid, b in after.items() if sid not in before}
    acc = dict(obs_flags.get)
    return {
        "wall_sec": round(wall, 1),
        "rows": acc["rows"], "kept": acc["kept"],
        "near_dup": acc["near_dup"], "corpus_rows": rows_c,
        "closure_rounds": near_stats.get("rounds"),
        "n_stages": len(new),
        "shuffle_total_mb": round(sum(new.values()) / 1e6, 1),
        "shuffle_peak_stage_mb": round(max(new.values() or [0]) / 1e6, 1),
    }


def main() -> None:
    from documentai_spark.sources.session import build_session

    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 60
    spark = build_session("bench-prepare-sf1", master=f"local[{CPUS}]",
                          shuffle_partitions=max(CPUS, 32))
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(CACHE, exist_ok=True)
    big = _build_big_docs(spark, copies)

    # warm JVM codegen + every python worker off the clock (shared
    # bench protocol) so the small run does not pay session warm-up and
    # skew the wall ratio
    from documentai_spark.sources.session import warm_workers
    warm_workers(spark, CPUS)

    small = run_prepare(spark, f"{SRC_SF}/documents.parquet",
                        "/tmp/prep_sf01_out")
    print("sf0.1:", json.dumps(small))
    large = run_prepare(spark, big, "/tmp/prep_sf1_out")
    print(f"{copies}x:", json.dumps(large))

    ratio = large["wall_sec"] / max(small["wall_sec"], 1e-9)
    stamp = time.strftime("%Y-%m-%d %H:%M")
    with open(OUT_MD, "a") as f:
        f.write(f"\n## --prepare --near-dedup export at sf1 shape "
                f"{stamp} (local[{CPUS}])\n\n")
        f.write("End-to-end export (curate + LSH near-dedup -> split -> "
                "corpus write -> re-read -> per-split pack -> assignment "
                "write), tools/bench_prepare_sf1.py; shuffle bytes from "
                "the Spark REST stage metrics.\n\n")
        f.write("| scale | docs | wall s | kept | near_dup | closure "
                "passes | stages | shuffle total MB | peak stage MB |\n")
        f.write("|---|---|---|---|---|---|---|---|---|\n")
        for label, r in (("sf0.1", small), (f"{copies}x sf0.1", large)):
            f.write(f"| {label} | {r['rows']:,} | {r['wall_sec']} | "
                    f"{r['kept']:,} | {r['near_dup']:,} | "
                    f"{r['closure_rounds']} | {r['n_stages']} | "
                    f"{r['shuffle_total_mb']} | "
                    f"{r['shuffle_peak_stage_mb']} |\n")
        f.write(f"\nWall ratio at {copies}x data: **{ratio:.1f}x**. "
                f"near_dup scaled "
                f"{large['near_dup'] / max(small['near_dup'], 1):.1f}x — "
                "per-copy internal structure x"
                f"{copies} plus cross-copy clusters (up to {copies} "
                "members) on long documents where the fixed "
                "perturbation is proportionally small; closure passes "
                f"{small['closure_rounds']} -> "
                f"{large['closure_rounds']} (one union-find pass over "
                "the edges).\n")
    print(f"appended -> {OUT_MD}; wall ratio {ratio:.1f}x")
    spark.stop()


if __name__ == "__main__":
    main()
