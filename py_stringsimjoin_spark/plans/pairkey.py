"""Pack integral (l_key, r_key) pairs into one 64-bit long for hot
aggregations.

The filter-verify joins end in a hash aggregation keyed by the candidate
pair — the ``distinct()`` over verified matches (or over candidates in
blocking mode), ``distinct_pairs`` below. On dup-heavy corpora that
aggregation holds hundreds of millions of grouping keys, and round-3 event
logs measured it spilling 4-8× its exchange bytes: a two-column UnsafeRow
grouping key pays ~24 bytes + null tracking per entry where a primitive
long pays 8, and it keeps the aggregate off Spark's primitive-key fast
path. Packing both keys into one long —

    packed = (l_key << 32) | (r_key & 0xFFFFFFFF)

— is lossless whenever both values fit in signed 32 bits, and unpacking is
two shifts (arithmetic shift-right sign-extends, so negative keys round-trip
too). All inside whole-stage codegen; the aggregation's hash, compare and
spill-sort all act on one primitive.

When to pack is decided statically from the key dtypes (byte/short/int are
always safe) or — for long keys, whose values usually still fit (row ids,
dense surrogate keys) — from an exact min/max bounds job over just the key
columns (column-pruned scan; parquet row-group statistics make it cheap).

NULL keys: the key attribute is contractually unique and non-null — the
reference REJECTS tables violating it (utils/validation.py:37-44
``validate_key_attr`` raises), and this engine documents it as a
precondition with ``plans.validation.assert_unique_key`` as the opt-in
distributed check (an eager per-call scan is wrong at 10^12 rows). The
long-key bounds job happens to also reject NULLs (they'd collapse distinct
pairs into one packed group); the static small-int path does NOT re-check —
on contract-violating input its aggregation groups all NULL-keyed rows
together where the unpacked groupBy would keep them per-(NULL, r) distinct.
On contract-honoring input packing never changes results, only the
aggregation's memory profile (tests/test_round4_features.py compares long
keys, which pack, against the same keys cast to string, which never do).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, DataType, IntegerType, LongType, ShortType

_SMALL_INT = (ByteType, ShortType, IntegerType)
_I32_MIN, _I32_MAX = -(1 << 31), (1 << 31) - 1
_LO_MASK = (1 << 32) - 1


class PairPacker:
    """Column-expression factory for one (l_type, r_type) key pair."""

    def __init__(self, l_type: DataType, r_type: DataType):
        self._l_type = l_type
        self._r_type = r_type

    def pack(self, l: Column, r: Column) -> Column:
        return F.shiftleft(l.cast("long"), 32).bitwiseOR(
            r.cast("long").bitwiseAND(F.lit(_LO_MASK))
        )

    def unpack_l(self, packed: Column) -> Column:
        return F.shiftright(packed, 32).cast(self._l_type)

    def unpack_r(self, packed: Column) -> Column:
        # shift up then arithmetic-shift down sign-extends the low 32 bits
        return F.shiftright(F.shiftleft(packed, 32), 32).cast(self._r_type)


def _needs_bounds(t: DataType) -> bool | None:
    """True → integral but needs a bounds check; False → statically safe;
    None → not packable (non-integral)."""
    if isinstance(t, _SMALL_INT):
        return False
    if isinstance(t, LongType):
        return True
    return None


def resolve_pair_packer(
    l_keyed: DataFrame,
    r_keyed: DataFrame,
    l_key: str,
    r_key: str,
    is_self: bool,
) -> PairPacker | None:
    """PairPacker when both key columns are integral and provably i32-ranged.

    ``l_keyed``/``r_keyed`` are the projected inputs whose key columns are
    ``l_key``/``r_key``. For statically-safe dtypes this is free; long keys
    cost ONE bounded aggregation job over the key columns only (both sides
    in a single union job; skipped for self-joins). Returns None — pack
    nothing — on any doubt: non-integral dtype, NULL keys or out-of-range
    values."""
    l_type = l_keyed.schema[l_key].dataType
    r_type = r_keyed.schema[r_key].dataType
    l_need = _needs_bounds(l_type)
    r_need = _needs_bounds(r_type)
    if l_need is None or r_need is None:
        return None
    if l_need or r_need:
        sides = [(l_keyed, l_key)]
        if not is_self:
            sides.append((r_keyed, r_key))
        u = None
        for df, k in sides:
            p = df.select(F.col(k).cast("long").alias("_k"))
            u = p if u is None else u.unionByName(p)
        row = u.agg(
            F.min("_k").alias("lo"),
            F.max("_k").alias("hi"),
            F.sum(F.col("_k").isNull().cast("long")).alias("nulls"),
        ).first()
        if (
            row["lo"] is None
            or row["hi"] is None
            or (row["nulls"] or 0) > 0
            or row["lo"] < _I32_MIN
            or row["hi"] > _I32_MAX
        ):
            return None
    return PairPacker(l_type, r_type)


def distinct_pairs(
    df: DataFrame, packer: PairPacker | None, *payload: str
) -> DataFrame:
    """``df.select(_l_key, _r_key, *payload).distinct()``, grouped through one
    packed long when ``packer`` is given. ``payload`` columns must be a
    function of the pair (e.g. its verified score)."""
    if packer is None:
        return df.select("_l_key", "_r_key", *payload).distinct()
    return (
        df.select(packer.pack(F.col("_l_key"), F.col("_r_key")).alias("_pk"), *payload)
        .distinct()
        .select(
            packer.unpack_l(F.col("_pk")).alias("_l_key"),
            packer.unpack_r(F.col("_pk")).alias("_r_key"),
            *payload,
        )
    )
