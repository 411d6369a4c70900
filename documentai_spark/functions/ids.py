"""Checked id-domain casts for the long-label surfaces.

The near-dedup closure, the exact-dup winner window under it, and the
packing shard key all operate in the LONG domain (``cluster_pairs``
labels, ``pack_sequences``'s ``doc_id % n_shards``). A non-long-castable
id reaching those casts used to fail only as an opaque ANSI
``CAST_INVALID_INPUT`` deep inside the LSH chain (VERDICT r6 #4) — or,
worse, a fractional DOUBLE id would TRUNCATE silently and two distinct
ids could collapse onto one label. ``checked_long`` wraps the cast in an
executor-side ``assert_true`` that names the operator and the fix, costs
zero extra jobs (no driver-side probe scan — the check rides the pass
that needed the cast anyway), and rejects NULL ids and truncating
numerics alongside malformed strings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from documentai_spark.functions import sqltext

_FIX = (" — these surfaces label rows in the long domain; use a "
        "numeric id column, or derive a long surrogate first "
        "(functions.ids.with_surrogate_id — collision-checked "
        "xxhash64 — or a dictionary join)")


def checked_long(name: str, context: str, dtype=None) -> Column:
    """Column ``name`` cast to long, failing fast with a named error when
    any value is NULL, malformed, or would truncate.

    ``try_cast`` turns ANSI's throw into NULL so the ``assert_true``
    message (which names ``context``, the offending value, and the fix)
    is what the user sees. The double round-trip catches lossy casts
    without type introspection: a fractional value (3.5 -> long 3)
    disagrees with its own long image in the double domain, while
    past-2^53 longs agree (both sides lose the SAME low bits). Zero
    extra jobs — the check is an expression riding whichever pass
    needed the cast.

    ``dtype`` (pass ``df.schema[name].dataType``): when the id column
    is a STRING, the value must additionally be the CANONICAL long form
    (r7 review) — '007' and '7' both cast to 7, so two DISTINCT string
    ids would silently share one closure label / shard key and one
    document would inherit the other's dedup verdict. The canonical
    check (string equals its own long's string image) rejects padded,
    signed-plus, or whitespace forms with an error naming the fix.

    Built from SQL text in one ``F.expr`` (the builder form cost ~160
    py4j round trips per call); build it once per operator and reuse
    the returned column.
    """
    from pyspark.sql.types import StringType

    c = sqltext.ident(name)
    lng = f"try_cast({c} AS BIGINT)"
    ok = (f"((({c} IS NOT NULL) AND ({lng} IS NOT NULL)) AND "
          f"(try_cast({c} AS DOUBLE) <=> CAST({lng} AS DOUBLE)))")
    why = " is not losslessly long-castable"
    if isinstance(dtype, StringType):
        ok = f"({ok} AND ({c} <=> CAST({lng} AS STRING)))"
        why = (" is not a canonical long-formatted id (distinct string "
               "ids that collapse onto one long, e.g. '007' and '7', "
               "would be conflated onto one label)")
    q = sqltext.string("'")
    msg = (f"concat({sqltext.string(f'{context}: id value ')}, "
           f"coalesce(concat({q}, CAST({c} AS STRING), {q}), 'NULL'), "
           f"{sqltext.string(why + _FIX)})")
    return F.expr(f"CASE WHEN (assert_true({ok}, {msg}) IS NULL) "
                  f"THEN {lng} END")


def checked_non_null(col: Column, context: str) -> Column:
    """``col`` unchanged, failing fast with a named error on NULL.

    For surfaces whose decisions silently NULL-propagate on a NULL id —
    the dedup semi-join condition and the exact-dup window comparison
    both evaluate NULL and the row vanishes with no audit flag (r7
    review: data loss, not dedup). Same zero-extra-jobs assert_true
    shape as :func:`checked_long`."""
    msg = F.lit(
        f"{context}: id column contains NULL — the first-wins dedup "
        "decision needs a stable non-NULL id per row; filter NULL-id "
        "rows or derive a stable surrogate first")
    return F.when(F.assert_true(col.isNotNull(), msg).isNull(), col)


def checked_id(col: Column, context: str) -> Column:
    """``col`` as the string key of a deterministic hash decision
    (split bucket, mixture thinning, sample rank), failing fast with a
    named error on NULL (r7 review).

    A NULL id used to take each surface's silent worst case: the split
    hash went NULL so every NULL-id row fell through the when-chain
    into the LAST declared split (eval-set contamination by default
    weights), the mixture bucket comparison went NULL so the row was
    silently dropped, and the sample rank ordered NULLS FIRST so
    NULL-id rows hogged the top-k (exact form) while the scale form's
    prefilter dropped them — three different silent outcomes for the
    same defect. Same assert_true shape as :func:`checked_long`: zero
    extra jobs, the check rides the pass that hashes the id.
    """
    ok = col.isNotNull()
    msg = F.lit(
        f"{context}: id column contains NULL — deterministic "
        "hash-bucket decisions need a stable non-NULL id per row; "
        "filter NULL-id rows or derive a stable surrogate first")
    return F.when(F.assert_true(ok, msg).isNull(), col.cast("string"))


class SurrogateCollisionError(ValueError):
    """All salt attempts of :func:`with_surrogate_id` collided."""


def with_surrogate_id(df, id_col: str, out_col: str = "surrogate_id",
                      *, max_attempts: int = 4, salt: int | None = None,
                      _hash=None):
    """``df`` plus a deterministic, collision-checked LONG surrogate for
    an arbitrary-typed id column — the fix-path that every
    :func:`checked_long` error names for ids the long-label surfaces
    reject (zero-padded strings like ``'007'``, UUIDs, composite keys
    cast to string upstream).

    Surrogate = ``xxhash64(id, salt)`` with the FIRST salt (of
    ``max_attempts``) that is collision-free over THIS DataFrame's
    distinct ids. The check is not optional because it is the entire
    point: a silent 64-bit birthday collision would conflate two
    documents onto one dedup/closure/shard label — at 10^12 ids the
    collision probability is ~2.7%, so at corpus scale a collision is
    EXPECTED occasionally and the salted retry (each salt an
    independent hash family) makes the whole derivation succeed with
    probability 1 - (2.7%)^max_attempts while staying deterministic:
    re-running on the same id set always lands on the same first
    collision-free salt, so resume/replay paths see stable surrogates.

    Cost: per attempt, one narrow probe job over ``select(id).
    distinct()`` (two shuffles of a single column — at 10^12 ids a big
    but shuffle-friendly scan, paid once per corpus, not per query);
    attempt 0 almost always wins. The output column itself is a pure
    map-side expression on the full df (no join back), so downstream
    partitioning on the surrogate is exactly as cheap as on a native
    long id. NULL ids fail fast via :func:`checked_non_null` on the
    same pass.

    ``salt`` (pass a value :func:`find_surrogate_salt` returned)
    skips the probe — the shape for a caller that already probed once
    for its accounting line (``job.py --derive-surrogates``).
    ``_hash(col, salt) -> Column`` is a test seam (the real xxhash64
    cannot be made to collide on purpose); production callers leave it
    unset.
    """
    if salt is None:
        salt = find_surrogate_salt(df, id_col,
                                   max_attempts=max_attempts,
                                   _hash=_hash)
    hash_fn = _hash or (lambda c, s: F.xxhash64(c, F.lit(s)))
    ctx = f"with_surrogate_id({id_col})"
    return df.withColumn(
        out_col, hash_fn(checked_non_null(F.col(id_col), ctx), salt))


def find_surrogate_salt(df, id_col: str, *, max_attempts: int = 4,
                        _hash=None) -> int:
    """The first salt in ``0..max_attempts-1`` whose hash family is
    collision-free over ``df``'s distinct ``id_col`` values (the
    deterministic core of :func:`with_surrogate_id`, exposed so callers
    can RECORD which salt a corpus was derived with — e.g. the
    ``job.py --derive-surrogates`` accounting line). One narrow
    distinct+groupBy probe job per attempt; raises
    :class:`SurrogateCollisionError` when every salt collides."""
    if max_attempts < 1:
        raise ValueError("with_surrogate_id: max_attempts must be >= 1")
    hash_fn = _hash or (lambda c, s: F.xxhash64(c, F.lit(s)))
    ctx = f"with_surrogate_id({id_col})"
    ids = df.select(
        checked_non_null(F.col(id_col), ctx).alias("_sid_src")).distinct()
    for salt in range(max_attempts):
        collided = (ids
                    .groupBy(hash_fn(F.col("_sid_src"), salt).alias("_sid"))
                    .agg(F.count(F.lit(1)).alias("_n"))
                    .filter(F.col("_n") > 1))
        if collided.isEmpty():
            return salt
    raise SurrogateCollisionError(
        f"{ctx}: every salt in 0..{max_attempts - 1} produced at least "
        "one 64-bit collision over the distinct ids — raise "
        "max_attempts, or use a dictionary join to assign dense labels")
