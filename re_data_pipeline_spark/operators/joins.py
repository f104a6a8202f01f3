"""Skew-safe join helpers.

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on in
`session.get_spark`) handles most hot keys at runtime by splitting oversized
shuffle partitions.  Explicit salting remains necessary where AQE cannot
intervene: stream-static joins (no runtime re-plan), bucketed/co-located
layouts the optimizer must not reshuffle, and build-side hot keys in
broadcast-unfriendly joins.  This operator is that explicit form, as plain
column algebra with deterministic (hash-derived, not random) salt so results
and plans are reproducible run to run.

Semantics: ``salted_join(left, right, keys)`` ≡ ``left.join(right, keys)``
bit-for-bit for every LEFT-PRESERVING join type — salting only changes the
shuffle key space.  The left (big, skewed) side gets ``hash(row-id) % s``
appended to its key; the right side is replicated s× with each salt value.
A hot key's rows now spread over s shuffle partitions instead of one.
Right-preserving joins (right/full outer) are structurally incompatible
with this orientation — an unmatched right row would be emitted once per
replica — so they are rejected loudly rather than silently multiplied.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from re_data_pipeline_spark.functions.text import md5_60

# Join types whose output is a function of (left row → matching right rows):
# replicating the right side cannot change their result.  right/full outer
# (and the symmetric "right_semi"-style spellings) would emit unmatched
# right rows once per salt replica — structurally wrong under this salting
# orientation, so they are rejected at call time.
_LEFT_PRESERVING = {
    "inner", "cross", "left", "leftouter", "left_outer",
    "semi", "leftsemi", "left_semi", "anti", "leftanti", "left_anti",
}


def salted_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    salt_source: Column | str,
    num_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the left side's hot keys spread across ``num_salts``
    shuffle partitions.

    ``salt_source`` must be a left-side column (any high-cardinality id —
    values need not be unique; they only spread rows; NULLs are fine and
    hash to a fixed salt).  The salt is an md5-derived hash of it, so the
    join is deterministic across runs.  The right side is replicated
    ``num_salts``× via a literal-array explode — at 100 TB the replicated
    side is the SMALL one (dimension/lookup rows); replicating the fact
    side would be the wrong orientation.

    ``how`` must be left-preserving (inner/left/left_semi/left_anti/cross):
    right/full outer would emit every unmatched right row ``num_salts``
    times, so they raise ``ValueError`` instead of silently diverging from
    the plain join.
    """
    if how.lower().replace("_", "") not in {h.replace("_", "") for h in _LEFT_PRESERVING}:
        raise ValueError(
            f"salted_join: how={how!r} is not left-preserving — the replicated "
            "right side would emit unmatched right rows num_salts times. "
            "Use inner/left/left_semi/left_anti, or salt the other side."
        )
    src = F.col(salt_source) if isinstance(salt_source, str) else salt_source
    # NULL-safe: a NULL salt_source would make md5 return NULL → NULL salt →
    # the row silently loses every match (NULL never equi-joins).  Hash the
    # empty string instead so NULL-source rows land on one fixed salt.
    salt = md5_60(F.coalesce(src.cast("string"), F.lit(""))) % num_salts
    l = left.withColumn("__salt", salt)
    r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i).cast("long") for i in range(num_salts)]))
    )
    return l.join(r, [*keys, "__salt"], how).drop("__salt")
