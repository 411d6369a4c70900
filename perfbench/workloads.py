"""The benchmark workloads: one timed pass, its correctness check and its
traced layer measurements, each through the program's public entry
points.

A workload's ``run`` is what the clock sees. ``check`` runs after the
clock stops and raises :class:`CheckFailed` on a wrong output. ``layers``
runs only in a traced run and returns per-layer figures; layers the
workload never calls are absent from its result and read 0.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import probes


class CheckFailed(Exception):
    pass


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if f.endswith(".parquet"))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_call(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _read_out(path: str, columns: list[str]):
    return ds.dataset(path, format="parquet",
                      partitioning="hive").to_table(columns=columns)


class Extract:
    """``plans.pipeline.run_pipeline``: extraction_pipeline with ordered
    output, written as bucket-partitioned parquet."""

    name = "extract"
    # 13,956 turns: 594 mixed conversations of 5..40 turns and 6 mega
    # conversations of 100 plain turns of 600..1200 words each
    size = {"n_convs": 600, "mega_every": 100, "mega_turns": 100,
            "mega_words": 1200}
    n_files = 8
    # nominal warm-pass seconds on a 4-core host; sets the pass count
    pass_s = 2.5

    def __init__(self, in_path: str, info: dict):
        self.in_path = in_path
        self.rows = info["rows"]
        self._oracle = None

    def plan(self, spark):
        """extraction_pipeline over the input plus run_pipeline's
        ``bucket`` output column."""
        from pyspark.sql import functions as F

        from documentai_spark.plans.pipeline import (
            extraction_pipeline, read_transcripts,
        )
        return (extraction_pipeline(read_transcripts(spark, self.in_path),
                                    ordered_output=True)
                .withColumn("bucket", F.pmod(F.hash("conv_id"), F.lit(16))))

    def write(self, df, out: str) -> None:
        df.write.mode("overwrite").partitionBy("bucket").parquet(out)

    def _sample(self) -> dict:
        """(conv_id, turn_idx) -> oracle record for every 97th input row
        and the first five turns of the first mega conversation."""
        from documentai_spark.core.entities import (
            completeness_score, extract_entities,
        )
        from documentai_spark.core.extract import extract_turn
        from documentai_spark.core.quality import score_turn

        t = pq.read_table(self.in_path, columns=["conv_id", "turn_idx",
                                                 "text"]).to_pylist()
        mega = "conv-%06d" % (Extract.size["mega_every"] - 1)
        picked = [r for i, r in enumerate(t)
                  if i % 97 == 0 or (r["conv_id"] == mega
                                     and r["turn_idx"] < 5)]
        out = {}
        for r in picked:
            kind, text, spans = extract_turn(r["text"])
            q = score_turn(r["text"] or "", text,
                           completeness_score(extract_entities(text)))
            out[(r["conv_id"], r["turn_idx"])] = {
                "kind": kind, "extracted_text": text,
                "spans": [tuple(s) for s in spans],
                **{f: getattr(q, f) for f in q._fields
                   if f.startswith("q_")}}
        return out

    def check(self, out: str) -> None:
        if self._oracle is None:
            self._oracle = self._sample()
        cols = ["conv_id", "turn_idx", "kind", "extracted_text", "spans"] + [
            f for f in next(iter(self._oracle.values())) if
            f.startswith("q_")]
        got = _read_out(out, cols)
        if got.num_rows != self.rows:
            raise CheckFailed(f"extract: {got.num_rows} rows out, "
                              f"{self.rows} in")
        keys = list(zip(got.column("conv_id").to_pylist(),
                        got.column("turn_idx").to_pylist()))
        idx = [i for i, k in enumerate(keys) if k in self._oracle]
        if len(idx) != len(self._oracle):
            raise CheckFailed("extract: sampled turns missing from output")
        for row in got.take(idx).to_pylist():
            want = self._oracle[(row["conv_id"], row["turn_idx"])]
            row["spans"] = [(s["begin"], s["end"], s["kind"], s["text"])
                            for s in row["spans"]]
            bad = [f for f, v in want.items() if row[f] != v]
            if bad:
                raise CheckFailed(
                    f"extract: {row['conv_id']}/{row['turn_idx']} differs "
                    f"from the core oracle in {bad}")

    def layers(self, spark, ui: probes.SparkUI, spans: probes.Spans,
               work: str, scan_s: float) -> dict:
        from pyspark.sql import functions as F

        from documentai_spark.functions.verdict import with_verdict
        from documentai_spark.operators.extraction import (
            with_extraction_and_quality,
        )
        from documentai_spark.plans.pipeline import read_transcripts

        sp = int(spark.conf.get("spark.sql.shuffle.partitions"))

        def src():
            return read_transcripts(spark, self.in_path)

        def exchanged():
            # the ordered-output exchange extraction_pipeline places
            # ahead of its Python stage
            return (src().repartitionByRange(sp, F.col("conv_id"),
                                             F.col("turn_idx"))
                    .sortWithinPartitions("conv_id", "turn_idx"))

        res = {}
        with spans.span("prefix.exchange"):
            ex = timed_call(lambda: noop(exchanged()))
        with spans.span("prefix.extraction"):
            udf = timed_call(lambda: noop(
                with_extraction_and_quality(exchanged())))
        with spans.span("prefix.verdict"):
            ver = timed_call(lambda: noop(with_verdict(
                with_extraction_and_quality(exchanged()))))
        res["plans.pipeline.exchange_s"] = ex - scan_s
        res["operators.extraction.udf_s"] = udf - ex
        res["functions.verdict_s"] = ver - udf
        with spans.span("kernels.in_process"):
            res.update(self._kernels(spark))
        with spans.span("checkpoint"):
            res.update(self._checkpoint(spark, ui, work))
        return res

    def _kernels(self, spark) -> dict:
        """Self CPU time of the Python kernels, called in this process on
        the workload's texts in the UDF's Arrow batch size."""
        import pandas as pd

        from documentai_spark.core.entities import extract_entities
        from documentai_spark.core.extract import extract_turn
        from documentai_spark.core.spans import entity_spans
        from documentai_spark.operators.quality_vec import fused_quality

        batch = int(spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"))
        texts = pq.read_table(self.in_path,
                              columns=["text"]).column("text").to_pylist()
        ext_s = q_s = ent_s = 0.0
        for lo in range(0, len(texts), batch):
            chunk = texts[lo:lo + batch]
            t = time.process_time()
            extracted = [extract_turn(x)[1] for x in chunk]
            t1 = time.process_time()
            fused_quality(pd.Series(chunk, dtype=object), extracted)
            t2 = time.process_time()
            for e in extracted:
                d = extract_entities(e or "")
                if d:
                    entity_spans(e or "", d)
            t3 = time.process_time()
            ext_s += t1 - t
            q_s += t2 - t1
            ent_s += t3 - t2
        return {"core.extract.cpu_s": ext_s,
                "operators.quality_vec.cpu_s": q_s,
                "core.entities.cpu_s": ent_s}

    def _checkpoint(self, spark, ui: probes.SparkUI, work: str) -> dict:
        """The resume_entities layers: one checkpointed run with entities
        into a fresh directory, then a resume over the finished one."""
        from documentai_spark.core.entities import extract_entities
        from documentai_spark.plans.checkpoint import (
            read_manifest, run_checkpointed,
        )

        out = os.path.join(work, "checkpointed")
        shutil.rmtree(out, ignore_errors=True)
        marks: list[float] = []
        mark = ui.mark()
        t0 = time.perf_counter()
        run_checkpointed(spark, self.in_path, out, include_entities=True,
                         log=lambda *a: marks.append(time.perf_counter()))
        jobs = len(ui.since(mark)["jobs"])
        resume = timed_call(lambda: run_checkpointed(
            spark, self.in_path, out, include_entities=True,
            log=lambda *a: None))
        man = read_manifest(out).values()
        if sum(m["rows_in"] for m in man) != self.rows or any(
                m["failures"] for m in man):
            raise CheckFailed("resume_entities: manifests do not sum to "
                              "the input rows without failures")
        got = _read_out(out, ["extracted_text", "entities"])
        for row in got.take(list(range(0, got.num_rows, 97))).to_pylist():
            if dict(row["entities"]) != extract_entities(
                    row["extracted_text"]):
                raise CheckFailed("resume_entities: entities differ from "
                                  "core.entities.extract_entities")
        shutil.rmtree(out)
        bucket_s = [b - a for a, b in zip([t0] + marks, marks)]
        return {"plans.checkpoint.jobs": jobs,
                "plans.checkpoint.bucket_s_p50": statistics.median(bucket_s),
                "plans.checkpoint.bucket_s_max": max(bucket_s),
                "plans.checkpoint.resume_skip_s": resume}


class CurateNeardup:
    """``operators.curation.curate_documents(near_dedup=True)`` plus the
    batch curation write: drop accounting observed on the write job, rows
    partitioned by ``keep``."""

    name = "curate_neardup"
    size = {"n_docs": 4000}
    n_files = 4
    pass_s = 8.0

    def __init__(self, in_path: str, info: dict):
        self.in_path = in_path
        self.rows = info["rows"]
        self.exact_dups = info["exact_dups"]
        self.digest = None
        self.near_stats: dict = {}

    def plan(self, spark, near_dedup: bool = True):
        from documentai_spark.operators.curation import curate_documents
        self.near_stats = {}
        return curate_documents(spark.read.parquet(self.in_path),
                                near_dedup=near_dedup,
                                near_stats=self.near_stats)

    def write(self, df, out: str) -> dict:
        from pyspark.sql import functions as F
        from pyspark.sql.observation import Observation

        obs = Observation()
        counts = [F.count(F.lit(1)).alias("rows"),
                  F.sum(F.col("keep").cast("int")).alias("kept"),
                  F.sum(F.col("is_dup").cast("int")).alias("dup")]
        df.observe(obs, *counts).write.mode("overwrite") \
            .partitionBy("keep").parquet(out)
        return obs.get

    def check(self, out: str) -> None:
        cols = ["doc_id", "keep", "is_dup", "is_near_dup", "bad_lang",
                "bad_len", "low_conf"]
        t = _read_out(out, cols).sort_by("doc_id")
        if t.num_rows != self.rows:
            raise CheckFailed(f"curate: {t.num_rows} rows out, "
                              f"{self.rows} in")
        dups = sum(t.column("is_dup").to_pylist())
        if dups != self.exact_dups:
            raise CheckFailed(f"curate: {dups} rows flagged is_dup, input "
                              f"has {self.exact_dups} exact duplicates")
        h = hashlib.sha256()
        for c in cols:
            h.update(repr(t.column(c).to_pylist()).encode())
        digest = h.hexdigest()
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            raise CheckFailed("curate: output differs between passes")

    def layers(self, spark, ui: probes.SparkUI, spans: probes.Spans,
               work: str, scan_s: float) -> dict:
        from documentai_spark.operators.dedup import (
            cluster_pairs, exact_rep_rows, minhash_dedup_pairs,
            minhash_lsh_candidates,
        )

        out = os.path.join(work, "flags")
        with spans.span("curation.flags_only"):
            rounds = self.near_stats.get("rounds", 0)
            flags = timed_call(lambda: self.write(
                self.plan(spark, near_dedup=False), out))
        shutil.rmtree(out)
        docs = spark.read.parquet(self.in_path)
        reps = exact_rep_rows(docs.select("doc_id", "text"))
        with spans.span("dedup.minhash_pairs"):
            t = time.perf_counter()
            pairs = minhash_dedup_pairs(reps, max_bucket=4096)
            pairs = pairs.localCheckpoint(eager=True)
            pairs_s = time.perf_counter() - t
        with spans.span("dedup.cluster"):
            cluster = timed_call(lambda: noop(cluster_pairs(
                pairs, reps.select("doc_id"), a_col="id_a", b_col="id_b",
                id_col="doc_id")))
        with spans.span("dedup.counts"):
            cand = minhash_lsh_candidates(reps, max_bucket=4096).count()
            verified = pairs.count()
        return {"operators.curation.flags_s": flags,
                "operators.dedup.minhash_pairs_s": pairs_s,
                "operators.dedup.cluster_s": cluster,
                "operators.dedup.candidate_pairs": cand,
                "operators.dedup.verified_pairs": verified,
                "operators.dedup.verify_yield": verified / max(cand, 1),
                "operators.dedup.closure_rounds": rounds}


WORKLOADS = {w.name: w for w in (Extract, CurateNeardup)}
