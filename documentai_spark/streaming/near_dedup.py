"""Streaming near-duplicate detection: the batch ``near_dedup`` chain
(operators/dedup.py) re-expressed for continuously-landing corpora.

Batch ``near_dedup`` is three GLOBAL passes — LSH candidate pairs, a
true shingle-Jaccard verify join, and an iterative cluster closure —
none of which a stream can replay per micro-batch. The streaming form
keeps the exact candidate GEOMETRY (the batch MinHash kernel's
signatures -> identical banded bucket keys, bit-for-bit:
tests/test_streaming_near_dedup pins both against
``minhash_signatures_agg`` / ``band_structs``) and replaces the two global
passes with bounded keyed state:

- **verify** — the true-Jaccard join becomes the unbiased MinHash
  estimator ``est = |{i : sig_a[i] == sig_b[i]}| / num_hashes`` against
  the bucket's stored representative signatures. Std error is
  ``sqrt(p(1-p)/num_hashes)`` (~0.05 at the 0.8 default with 64
  hashes), so a borderline pair can land on the other side of the
  threshold than the batch verify would put it; tests use clear-margin
  corpora. Storing the 64-long signature (512 B) instead of the shingle
  set is what makes the state bounded.
- **closure** — first-wins single-link chaining. The first doc to reach
  a band bucket is stored as a representative; a later doc whose
  estimated similarity to ANY stored rep of ANY of its bands reaches
  the threshold is flagged with that rep's id. A flagged doc still
  becomes a rep in its other (unclaimed) buckets, so chains A<-B<-C
  link transitively like the batch closure's connected components; the
  difference is rep attribution (arrival order vs global min-id), which
  is inherent to any one-pass online dedup. Within a micro-batch each
  bucket processes its rows in ascending id order, so a single-batch
  drain keeps exactly the min-id doc per star-shaped cluster — the
  batch keep set.

Spark restricts a query to ONE ``applyInPandasWithState`` (verified:
chaining raises ``Multiple applyInPandasWithStates are not
supported``, and ``transformWithStateInPandas`` needs a protobuf
runtime this environment lacks), so the per-doc verdict recombination
(OR over the doc's band rows, which all co-arrive in the same
micro-batch by construction) runs in the SINK's ``foreachBatch`` as a
plain batch aggregation, and exactly-once is restored by writing each
micro-batch into its own ``_batch_id=`` partition with dynamic
partition overwrite — a replayed batch overwrites its own partition
instead of appending duplicates (tests/test_streaming_near_dedup pins
a commit-log rollback replay).

State size at scale: up to ``max_reps_per_bucket`` signatures per
occupied band bucket, sharded across executors by the groupBy shuffle;
bucket count grows with distinct non-near-dup content (``bands`` buckets
per admitted doc). ``ttl`` bounds it the same way
``streaming_first_wins_dedup`` bounds fingerprint state: a bucket is
evicted once the watermark passes its FIRST sighting + ttl (expiry
fixed at first sighting, house style), after which its content
re-admits — the windowed-dedup tradeoff.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StructField, StructType,
)

from documentai_spark.functions.ids import checked_long
from documentai_spark.operators.dedup import (
    band_structs, with_minhash_signature_local,
)
from documentai_spark.streaming.pipeline import _event_ms, _interval_ms


def streaming_near_dup_verdicts(stream: DataFrame, *,
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                num_hashes: int = 64,
                                bands: int = 16,
                                threshold: float = 0.8,
                                max_reps_per_bucket: int = 8,
                                ttl: str | None = None,
                                ts_col: str = "ts",
                                watermark: str = "10 minutes",
                                state_shards: int = 1024,
                                ) -> DataFrame:
    """Per-band near-dup verdict stream (the stateful half; pair with
    :func:`start_near_dedup_to_parquet`, which recombines per doc).

    Emits one row per (doc, band) for band 0 (the payload carrier: its
    ``_doc`` struct holds the full original row) and for any band that
    flagged the doc against a stored representative (``rep`` = the
    representative's id, ``est`` = the estimated Jaccard). Unflagged
    non-zero bands emit nothing — the recombination needs only the
    payload row plus the dup notices, not ``bands``x the traffic.

    ``id_col`` must be long-castable (the near-dedup label-domain
    contract, enforced by ``checked_long``). An id re-ingested in a
    LATER micro-batch flags against its own first copy (est 1.0) —
    first-wins, matching ``streaming_first_wins_dedup``. Copies of the
    same id arriving in the SAME micro-batch are NOT flagged against
    each other: the sink's per-doc groupBy merges them into one output
    row, so a self-flag there would mark the doc's only surviving row
    a near-dup of itself and first-wins keep logic would drop the
    content entirely (r7 review repro). When every band bucket of a doc is
    full (``max_reps_per_bucket`` dissimilar reps) and none matches, the
    doc passes unflagged WITHOUT being stored — later near-dups of such
    an overflow doc are missed; at the default geometry that needs 8
    mutually-dissimilar docs colliding in all 16 of a doc's buckets,
    vanishingly unlikely for hash-distributed content.

    **State sharding (r8 — the 0.527 N->4N scaling fix).** The natural
    state key is the band bucket ``(band_idx, band_hash)``, but LSH
    buckets are mostly singletons, and ``applyInPandasWithState`` pays
    ~1.4 ms of pandas/Arrow framing PER GROUP INVOCATION — measured
    ~20x the actual numpy work, and the dominant cost of the whole
    drain (profile: tools/profile_stream_near_dedup.py). The state is
    therefore keyed on ``shard = xxhash64(band_idx, band_hash) %
    state_shards``; each shard's state holds the reps of MANY true
    buckets as parallel per-rep arrays tagged with their bucket, and
    the update function replays each true bucket independently
    (compare/store only against reps with the SAME (band_idx,
    band_hash), ascending-id order within the bucket) — bucket
    semantics, verdicts, and determinism are unchanged, only the
    grouping granularity moves. ``state_shards`` bounds total group
    invocations per micro-batch; larger values reduce per-shard state
    traffic (a touched shard re-ships its whole value through Arrow),
    smaller values amortize framing harder. A checkpoint written under
    a different sharding is refused by Spark's state-schema check.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if num_hashes % bands != 0:
        raise ValueError(f"num_hashes ({num_hashes}) must be a multiple "
                         f"of bands ({bands})")
    if state_shards < 1:
        raise ValueError("state_shards must be positive")
    # the sink re-emits the payload columns NEXT TO the verdict columns
    # (recombine_near_verdicts selects `_doc.*` + is_near_dup/near_rep/
    # near_est), and the stateful plan projects working columns over the
    # input — a collision would surface later as an ambiguous-reference
    # error mid-stream or a silently-shadowed column. Refuse loudly up
    # front, matching with_curation_flags' reserved guard (batch side).
    reserved = {"is_near_dup", "near_rep", "near_est",
                "_id", "_sig", "_band", "_doc", "_ts", "_batch_id",
                "_shard"}
    clash = reserved & set(stream.columns)
    if clash:
        raise ValueError(
            f"streaming near-dedup reserves column names {sorted(clash)} "
            "for its verdict/working columns; rename them in the input "
            "stream (e.g. a prior run's flagged output must drop its "
            "verdict columns before re-processing)")
    ttl_ms = None if ttl is None else _interval_ms(ttl)

    src = stream if ttl_ms is None else stream.withWatermark(ts_col,
                                                             watermark)
    payload = F.struct(*[F.col(c) for c in stream.columns])
    sig = (with_minhash_signature_local(src, text_col, num_hashes, "_sig")
           .withColumn("_id",
                       checked_long(id_col, "streaming_near_dup",
                                    stream.schema[id_col].dataType)))
    # barrier before the band explode: `_sig` feeds every band struct
    # and the per-band-row projection, and projection collapse may
    # re-inline its producer into each post-Generate reference. A
    # nondeterministic always-true filter pins `_sig` as a materialized
    # attribute (the optimizer can neither collapse projections across
    # it nor push it down) — the same trick streaming/pipeline.py uses
    # for the UnsafeRow boundary.
    sig = sig.filter(F.spark_partition_id() >= 0)
    ex = (sig.select(
              "_id", "_sig",
              F.explode(band_structs("_sig", num_hashes, bands))
              .alias("_band"),
              payload.alias("_doc"),
              *([F.col(ts_col).alias("_ts")] if ttl_ms is not None
                else []))
            .select("_id", "_sig",
                    F.col("_band.band_idx").alias("band_idx"),
                    F.col("_band.band_hash").alias("band_hash"),
                    F.pmod(F.xxhash64(F.col("_band.band_idx"),
                                      F.col("_band.band_hash")),
                           F.lit(state_shards)).cast("int")
                     .alias("_shard"),
                    # payload rides ONLY the band-0 row through the
                    # state shuffle — nulling it here keeps shuffle
                    # volume at 1x the corpus, not bands x
                    F.when(F.col("_band.band_idx") == 0,
                           F.col("_doc")).alias("_doc"),
                    *(["_ts"] if ttl_ms is not None else [])))

    out_type = StructType([
        StructField("_id", LongType()),
        StructField("band_idx", IntegerType()),
        StructField("rep", LongType()),
        StructField("est", DoubleType()),
        StructField("_doc", StructType(stream.schema.fields)),
    ])
    # parallel per-rep arrays; bidx/bhash tag each rep with its TRUE
    # band bucket, expiry is the rep's bucket's expiry (same value for
    # every rep of a bucket; 0 when ttl is off). Signatures live in ONE
    # little-endian int64 blob (rep j = bytes [j*8*num_hashes,
    # (j+1)*8*num_hashes)): a nested array<array<bigint>> state column
    # pays per-element boxing on the JVM->Arrow->Python round-trip of
    # every UNTOUCHED rep each batch — the blob is a zero-copy
    # np.frombuffer on load and one memcpy on save (measured 2.9x CPU
    # inflation at 32 cores with the nested form; state traffic is the
    # drain's memory-bandwidth floor)
    state_type = ("bidx array<int>, bhash array<bigint>, "
                  "rep_ids array<bigint>, sigs binary, "
                  "expiry array<bigint>")

    def _load_buckets(state, wm):
        """State arrays -> ({(bidx, bhash): [rep_ids, sigs, expiry]},
        dropped_any), lazily dropping buckets the watermark has expired
        (a bucket whose data raced its timeout re-admits as fresh, same
        contract as first_wins). Each sig is a read-only row view of
        the blob; ``dropped_any`` marks the shard dirty so the sweep
        persists."""
        buckets: dict = {}
        dropped = False
        if state.exists:
            s_bidx, s_bhash, s_ids, s_blob, s_exp = state.get
            sig_mat = np.frombuffer(s_blob, dtype="<i8").reshape(
                -1, num_hashes)
            for j in range(len(s_ids)):
                if ttl_ms is not None and wm >= s_exp[j]:
                    dropped = True
                    continue
                b = buckets.get((s_bidx[j], s_bhash[j]))
                if b is None:
                    buckets[(s_bidx[j], s_bhash[j])] = b = \
                        [[], [], s_exp[j]]
                b[0].append(s_ids[j])
                b[1].append(sig_mat[j])
        return buckets, dropped

    def _save_buckets(state, buckets, wm):
        """Flatten back to parallel arrays + one sig blob (bucket-key
        order — state bytes deterministic), update or remove, re-arm
        the timeout at the min live expiry."""
        n_bidx: list = []
        n_bhash: list = []
        n_ids: list = []
        n_sig_rows: list = []
        n_exp: list = []
        for (bi, bh) in sorted(buckets):
            ids, sigs, exp = buckets[(bi, bh)]
            e = int(exp) if exp is not None else 0
            for rid, s in zip(ids, sigs):
                n_bidx.append(int(bi))
                n_bhash.append(int(bh))
                n_ids.append(int(rid))
                n_sig_rows.append(s)
                n_exp.append(e)
        if not n_ids:
            if state.exists:
                state.remove()
            return
        blob = np.ascontiguousarray(
            np.vstack(n_sig_rows).astype("<i8", copy=False)).tobytes()
        state.update((n_bidx, n_bhash, n_ids, blob, n_exp))
        if ttl_ms is not None:
            state.setTimeoutTimestamp(max(min(n_exp), wm + 1))

    def update(key, pdfs, state):
        wm = state.getCurrentWatermarkMs() if ttl_ms is not None else 0
        if state.hasTimedOut:
            # sweep expired buckets only; live buckets re-arm at their
            # min expiry (per-bucket eviction granularity survives the
            # shard-level timeout)
            buckets, _ = _load_buckets(state, wm)
            _save_buckets(state, buckets, wm)
            return
        buckets, dirty = _load_buckets(state, wm)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # bucket-major, ascending-id within bucket: each true bucket
        # replays exactly the pre-shard semantics (first-wins is
        # deterministic within a batch regardless of partition/arrival
        # order); bucket-vs-bucket order is irrelevant — buckets are
        # independent. Column-list access, NOT itertuples — pandas
        # renames underscore-prefixed fields positionally.
        pdf = pdf.sort_values(["band_idx", "band_hash", "_id"],
                              kind="mergesort")
        r_ids = pdf["_id"].tolist()
        r_sigs = pdf["_sig"].tolist()
        r_bidx = pdf["band_idx"].tolist()
        r_bhash = pdf["band_hash"].tolist()
        r_docs = pdf["_doc"].tolist()
        r_ts = pdf["_ts"].tolist() if ttl_ms is not None else None
        out = []
        cur_key = None
        bucket = None          # [rep_ids, sigs, expiry] of cur_key
        mat = None             # np matrix of bucket's sigs
        stored_this_batch: set = set()   # per-bucket
        new_ts_max = 0         # max event ms of a NEW bucket's rows
        new_bucket = False

        def _finish_bucket():
            # expiry fixed at the bucket's FIRST sighting (house style:
            # duplicates and later reps do not slide the window). An
            # all-null-ts batch anchors at the WATERMARK, not epoch 0
            # (r7 review): a 0-anchored expiry is already in the past,
            # so the bucket evicted immediately and near-identical
            # content re-admitted every batch
            if ttl_ms is not None and new_bucket and bucket is not None \
                    and bucket[2] is None:
                anchor = new_ts_max if new_ts_max > 0 else wm
                bucket[2] = anchor + ttl_ms

        for i in range(len(r_ids)):
            k = (r_bidx[i], r_bhash[i])
            if k != cur_key:
                _finish_bucket()
                cur_key = k
                bucket = buckets.get(k)
                new_bucket = bucket is None
                if new_bucket:
                    bucket = [[], [], 0 if ttl_ms is None else None]
                    buckets[k] = bucket
                mat = (np.array(bucket[1], dtype=np.int64) if bucket[0]
                       else np.empty((0, num_hashes), dtype=np.int64))
                stored_this_batch = set()
                new_ts_max = 0
            if ttl_ms is not None and r_ts[i] is not None \
                    and r_ts[i] == r_ts[i]:   # NaT != NaT
                ms = int(r_ts[i].timestamp() * 1000)
                if ms > new_ts_max:
                    new_ts_max = ms
            cur = int(r_ids[i])
            sig_arr = np.asarray(r_sigs[i], dtype=np.int64)
            rep = None
            est = None
            if mat.shape[0]:
                sims = (mat == sig_arr).mean(axis=1)
                if cur in stored_this_batch:
                    # same-batch copy of a row this invocation just
                    # admitted: the sink's groupBy merges both rows
                    # into ONE, so flagging it against its own first
                    # copy would self-mark the merged row a near-dup
                    # and drop the content entirely — mask the self
                    # rep out (a rep with this id stored by a PRIOR
                    # batch stays matchable: cross-batch re-ingest is
                    # the documented first-wins drop)
                    for j, rid in enumerate(bucket[0]):
                        if rid == cur:
                            sims[j] = -1.0
                best = float(sims.max())
                if best >= threshold:
                    # deterministic attribution: best estimate, then
                    # min rep id among ties
                    tied = [bucket[0][j] for j in np.flatnonzero(
                        sims == best)]
                    rep, est = min(tied), best
            if (rep is None and cur not in stored_this_batch
                    and len(bucket[0]) < max_reps_per_bucket):
                bucket[0].append(cur)
                bucket[1].append(sig_arr)
                mat = np.vstack([mat, sig_arr[None, :]])
                stored_this_batch.add(cur)
                dirty = True
            if r_bidx[i] == 0 or rep is not None:
                out.append({"_id": cur,
                            "band_idx": int(r_bidx[i]),
                            "rep": rep, "est": est,
                            "_doc": r_docs[i]})
        _finish_bucket()
        if dirty:
            # rows that only MATCH existing reps mutate nothing — on a
            # dup-heavy stream most touched shards are clean, and
            # skipping the save halves the state's Arrow round-trip
            # (the armed timeout persists with the untouched value)
            _save_buckets(state, buckets, wm)
        if out:
            yield pd.DataFrame(out)

    timeout = (GroupStateTimeout.NoTimeout if ttl_ms is None
               else GroupStateTimeout.EventTimeTimeout)
    return (ex.groupBy("_shard")
              .applyInPandasWithState(update, out_type, state_type,
                                      "append", timeout))


def recombine_near_verdicts(batch_df: DataFrame) -> DataFrame:
    """Per-doc verdict over a MICRO-BATCH of band rows (batch domain —
    called inside ``foreachBatch``, where this is a plain aggregation;
    every band row of a doc co-arrives in the same micro-batch because
    all derive from the doc's single input row).

    Returns the original row columns plus ``is_near_dup``, ``near_rep``
    (min flagged rep id — deterministic), and ``near_est`` (the best
    flagged estimate).
    """
    agg = batch_df.groupBy("_id").agg(
        F.any_value("_doc", ignoreNulls=True).alias("_doc"),
        F.min("rep").alias("near_rep"),
        F.max("est").alias("near_est"))
    return agg.select(
        "_doc.*",
        F.col("near_rep").isNotNull().alias("is_near_dup"),
        "near_rep", "near_est")


def exact_verify_flags(out: DataFrame, out_path: str, batch_id: int, *,
                       text_col: str = "text", id_col: str = "doc_id",
                       threshold: float = 0.8, w: int = 3) -> DataFrame:
    """Batch-domain exact re-verify of streamed near-dup flags (r8,
    VERDICT r7 #2): recompute the TRUE shingle Jaccard (the batch
    chain's verify — ``normalized_text`` -> ``shingle_udf(w)`` ->
    array_intersect, round(6)) between each FLAGGED doc and its
    attributed representative, and DEMOTE flags whose true similarity
    is below ``threshold``. The MinHash estimator's std is
    ~sqrt(p(1-p)/num_hashes) (~0.05 at 64 hashes), so borderline pairs
    (|J - threshold| within ~2 sigma) can flag spuriously; this pass
    makes every SURVIVING flag batch-true. One-sided by construction:
    it removes false positives but cannot restore pairs the estimator
    missed, and a demoted doc was already not stored as a rep in the
    claimed bucket — both inherent to online dedup.

    Representative text comes from the docs already written to
    ``out_path`` plus the current batch, earliest ``_batch_id`` wins.
    Only FLAGGED docs and their reps are shingled — cost scales with
    flag density, not corpus size. With ``drop=True`` a prior-batch rep
    that was ITSELF flagged (a doc flagged in one bucket still reps its
    other buckets) is absent from the written output; its dependents'
    re-verify join finds no text and the flag conservatively SURVIVES
    (the pass only ever demotes, never invents flags). At very large
    outputs the rep-text lookup should read a dedicated rep table
    instead of the full output scan (the same deployment note as the
    Iceberg stand-in).
    """
    import os

    from documentai_spark.operators.dedup import with_shingles

    spark = out.sparkSession
    flagged = out.filter(F.col("is_near_dup"))
    if flagged.isEmpty():
        # a flag-free batch pays nothing: skip the rep-text pool (which
        # scans the whole prior output) and the demotion join. The
        # caller persisted `out`, so this probe reads the cache.
        return out
    cur = out.select(F.col(id_col), F.col(text_col),
                     F.lit(int(batch_id)).cast("long").alias("_bid"))
    pool = cur
    if os.path.isdir(out_path) and any(
            e.startswith("_batch_id=") for e in os.listdir(out_path)):
        prior = (spark.read.parquet(out_path)
                 .select(F.col(id_col), F.col(text_col),
                         F.col("_batch_id").cast("long").alias("_bid")))
        pool = prior.unionByName(cur)
    rep_ids = flagged.select(F.col("near_rep").alias(id_col)).distinct()
    reps = (pool.join(rep_ids, id_col, "left_semi")
                .groupBy(id_col)
                .agg(F.min_by(text_col, F.col("_bid")).alias("_rep_text")))
    f_sh = with_shingles(flagged.select(id_col, text_col), text_col,
                         "_sh_doc", id_col, w)
    r_sh = with_shingles(reps, "_rep_text", "_sh_rep", id_col, w)
    inter = F.size(F.array_intersect("_sh_doc", "_sh_rep"))
    union = F.size("_sh_doc") + F.size("_sh_rep") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(1.0))
    demoted = (flagged.select(F.col(id_col), F.col("near_rep"))
               .join(f_sh, id_col)
               .join(r_sh.select(F.col(id_col).alias("near_rep"),
                                 "_sh_rep"), "near_rep")
               .filter(F.round(jac, 6) < threshold)
               .select(id_col, F.lit(True).alias("_demote")))
    return (out.join(demoted, id_col, "left")
               .withColumn("is_near_dup",
                           F.when(F.col("_demote"), F.lit(False))
                            .otherwise(F.col("is_near_dup")))
               .withColumn("near_rep",
                           F.when(F.col("_demote"),
                                  F.lit(None).cast("long"))
                            .otherwise(F.col("near_rep")))
               .withColumn("near_est",
                           F.when(F.col("_demote"),
                                  F.lit(None).cast("double"))
                            .otherwise(F.col("near_est")))
               .drop("_demote"))


def start_near_dedup_to_parquet(verdicts: DataFrame, out_path: str,
                                checkpoint: str, *,
                                finish: Callable[[DataFrame], DataFrame]
                                | None = None,
                                drop: bool = False,
                                trigger_once: bool = True,
                                exact_verify: bool = False,
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                threshold: float = 0.8,
                                shingle_w: int = 3):
    """Exactly-once sink for :func:`streaming_near_dup_verdicts`:
    recombines band verdicts per doc, optionally applies a stateless
    ``finish`` transform (e.g. :func:`near_curate_finish`), and writes
    each micro-batch into its own ``_batch_id=`` partition with dynamic
    partition overwrite — a batch REPLAYED after a crash between the
    data write and the checkpoint commit overwrites its own partition,
    so the net output is exactly-once (``foreachBatch`` alone is only
    at-least-once).

    ``drop=True`` filters flagged docs out (the dedup shape);
    ``drop=False`` keeps them with ``is_near_dup`` set (the curation
    flag shape — downstream keep logic folds it, see
    ``with_stateless_flags``).

    ``exact_verify=True`` re-verifies every flag with the batch
    chain's TRUE shingle Jaccard before the drop/finish steps
    (:func:`exact_verify_flags`) — borderline estimator false-flags
    are demoted, so only batch-true flags survive;
    ``text_col``/``id_col``/``threshold``/``shingle_w`` must match the
    values given to :func:`streaming_near_dup_verdicts`.

    Exactly-once holds per CHECKPOINT: a FRESH checkpoint restarts batch
    ids at 0, and dynamic overwrite only replaces the partitions the new
    run writes — reusing an out_path that already holds another run's
    ``_batch_id=`` partitions would silently mix the two runs' docs, so
    that combination is refused up front (r7 review; local-filesystem
    check, the parquet stand-in for a real table format's snapshot
    ownership).
    """
    import os

    # Freshness derives from the OFFSETS dir, not commits (r7 ADVICE):
    # batch 0 writes offsets/0 before its data, so a crash after the
    # batch-0 data write but before commits/0 leaves offsets non-empty —
    # the restarted query RESUMES batch ids (replaying batch 0 into its
    # own partition, the exactly-once path), it does not restart at 0.
    # Only a checkpoint with no offsets at all means a brand-new query
    # whose ids will start from 0 over the old output.
    def _has_entries(sub: str) -> bool:
        try:
            return any(f.isdigit()
                       for f in os.listdir(os.path.join(checkpoint, sub)))
        except OSError:
            return False

    fresh = not (_has_entries("offsets") or _has_entries("commits"))
    if fresh and os.path.isdir(out_path) and \
            any(e.startswith("_batch_id=") for e in os.listdir(out_path)):
        raise ValueError(
            f"output {out_path!r} already holds _batch_id= partitions "
            "from a previous run, but the checkpoint "
            f"{checkpoint!r} is fresh — the new query's batch ids "
            "restart at 0 and would only overwrite a prefix of the old "
            "partitions, silently mixing two runs' output; clear the "
            "output directory or reuse the original checkpoint")

    def _write(batch_df, batch_id):
        out = recombine_near_verdicts(batch_df)
        persisted = None
        if exact_verify:
            # the re-verify plan references the recombined batch
            # several times (the flagged set, the rep-text pool, and
            # the final demotion join) — inside foreachBatch each
            # reference would otherwise RE-EXECUTE the stateful
            # micro-batch subtree (state reload + identical re-commit
            # per reference; deterministic, so correct, but ~6x the
            # drain's dominant cost). Materialize the batch once.
            persisted = out.persist()
            out = exact_verify_flags(persisted, out_path, batch_id,
                                     text_col=text_col, id_col=id_col,
                                     threshold=threshold, w=shingle_w)
        if drop:
            out = out.filter(~F.col("is_near_dup"))
        if finish is not None:
            out = finish(out)
        try:
            (out.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(out_path))
        finally:
            if persisted is not None:
                persisted.unpersist()

    w = (verdicts.writeStream.foreachBatch(_write)
         .option("checkpointLocation", checkpoint))
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()


def near_curate_finish(text_col: str = "text",
                       lm_model: dict | None = None,
                       lm_threshold: float | None = None,
                       **flag_kw) -> Callable[[DataFrame], DataFrame]:
    """``finish`` factory for the curation composition: extraction +
    quality + verdict + the row-local curation flags over the
    recombined survivors — all stateless, so it runs in the batch
    domain of the sink. ``with_stateless_flags`` folds the
    ``is_near_dup`` column into ``keep`` (flagged docs are dropped from
    the kept corpus but stay in the output for accounting), matching
    the batch ``with_curation_flags(near_dedup=True)`` semantics.
    ``flag_kw`` forwards thresholds (min_tokens / max_tokens /
    min_confidence / min_stopword_ratio). ``lm_model`` +
    ``lm_threshold`` (r8): also score under the frozen bigram LM and
    fold ``high_perplexity`` into ``keep`` (stateless, so it runs in
    the same batch domain; the ``streaming_curate`` twin).
    """
    from documentai_spark.functions.verdict import with_verdict
    from documentai_spark.operators.curation import (
        with_lm_perplexity, with_stateless_flags,
    )
    from documentai_spark.operators.extraction import (
        with_extraction_and_quality,
    )

    def _finish(df: DataFrame) -> DataFrame:
        extracted = with_verdict(
            with_extraction_and_quality(df, text_col=text_col))
        if lm_model is not None and lm_threshold is not None:
            extracted = with_lm_perplexity(extracted, lm_model,
                                           text_col=text_col,
                                           threshold=lm_threshold)
        return with_stateless_flags(extracted, text_col=text_col,
                                    **flag_kw)

    return _finish
