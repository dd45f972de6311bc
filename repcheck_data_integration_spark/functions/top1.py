"""Top-1 per group as one aggregate: the engine's only argmax encoding.

``row_number() OVER (PARTITION BY g ORDER BY k1, k2, …) = 1`` shuffles and
sorts the whole relation. The same row falls out of ONE map-side-combining
aggregate when the order is folded into the aggregated value. Two forms:

**Struct form** (:class:`Top1`). ``min``/``max`` over a struct compares its
fields lexicographically, so ``max(struct(k1, k2, payload…))`` is the
``(k1 DESC, k2 DESC)`` top-1 row. Mixed directions reverse the keys that
disagree with the chosen aggregate; only numeric keys can be reversed
(integers by bitwise NOT, which cannot overflow where ``-x`` wraps at
Long.MIN; fractional and decimal keys by negation). NULL and NaN land
exactly where Spark's default ordering puts them (ASC NULLS FIRST, DESC
NULLS LAST, NaN greater than every number): a struct field compares NULL
below every value and NaN above, which is already right for a key read in
the aggregate's own direction; a reversed key carries an ``is null`` flag
field in front of it (NULL then sorts on the far side) and, when
fractional, a ``not isnan`` flag (NaN then sorts on the near side). A
struct buffer is not HashAggregate-mutable, so this form plans as a
SortAggregate; use it for order keys that are not small integers.

**Packed form** (:func:`packed_min` over :func:`packed`). For an
integral score and a tie-break id in [0, k), ``min(score * k + id)`` is
the ``(score ASC, id ASC)`` top-1: s1 < s2 ⇒ s1·k + (k−1) < s2·k, and
equal scores break on the smaller id. Both halves unpack exactly
(:func:`unpack_id`, :func:`unpack_score`), negative scores included.
A LONG min is HashAggregate-mutable with map-side combine. The packing
must not wrap, so the aggregated value weaves two checks in front of it
via ``coalesce(assert_true(…), …)`` (the form the optimizer cannot delete):
``id ∈ [0, k)`` and ``|score| ≤ packed_headroom(k)``. Each caller still
states, beside the call, why its own score stays inside that bound.

Relapse rule: any ``min``/``max`` whose buffer is not a fixed-width
mutable type plans the whole aggregate as a SortAggregate — a struct, and
also a STRING (4d220f2: ``min(lang_true)`` riding beside a packed argmin
undid it). A STRING column that depends functionally on the group key
rides IN the group key instead. tests/test_plan_shapes.py pins every
query's SortAggregate count, and tests/test_module_hygiene.py bans a
``F.min``/``F.max`` over ``F.struct`` anywhere but here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType, IntegralType, NumericType

ASC = "asc"
DESC = "desc"


class Top1:
    """The first row per group under ``order``, as one struct aggregate.

    ``order`` is a sequence of ``(column name, ASC | DESC)`` over ``df``;
    ``carry`` names further columns to return from the winning row.
    ``self[c]`` is an aggregate column for ``groupBy(...).agg(...)``:
    column ``c`` of the winning row, decoded and aliased ``c``. Every
    ``self[c]`` shares one aggregate. Raises TypeError when the order
    mixes directions over non-numeric keys, which no aggregate encodes."""

    def __init__(self, df: DataFrame, order, carry=()):
        types = {f.name: f for f in df.schema.fields}
        numeric = {c for c, f in types.items()
                   if isinstance(f.dataType, NumericType)}
        # max follows the first key's direction unless that would reverse
        # a non-numeric key and min would not
        first_max = order[0][1] == DESC
        for use_max in (first_max, not first_max):
            reversed_keys = [c for c, d in order if (d == DESC) != use_max]
            if numeric.issuperset(reversed_keys):
                break
        else:
            raise TypeError(
                f"top1: cannot encode order {order}: keys run both ways "
                "and only numeric keys can be reversed"
            )
        self._flips = {}
        fields = []
        for i, (c, _) in enumerate(order):
            if c not in reversed_keys:
                fields.append(F.col(c))
                continue
            f = types[c]
            if f.nullable:
                fields.append(F.col(c).isNull().alias(f"_null{i}"))
            if isinstance(f.dataType, (FloatType, DoubleType)):
                fields.append((~F.isnan(c)).alias(f"_num{i}"))
            integral = isinstance(f.dataType, IntegralType)
            flip = F.bitwise_not if integral else Column.__neg__
            fields.append(flip(F.col(c)).alias(c))
            self._flips[c] = flip
        self._agg = (F.max if use_max else F.min)(F.struct(*fields, *carry))

    def __getitem__(self, c: str) -> Column:
        flip = self._flips.get(c, lambda x: x)
        return flip(self._agg[c]).alias(c)


def packed_headroom(k: int) -> int:
    """Largest |score| for which ``score * k + id`` cannot leave LONG."""
    return (2**63 - k) // k


def packed(score: Column, id_: Column, k: int) -> Column:
    """``score * k + id`` as one LONG, with the id-domain and
    score-headroom checks woven in. The score must be integral; a NULL
    score fails the headroom check."""
    h = packed_headroom(k)
    s = score.cast("long")
    return F.coalesce(
        F.assert_true(
            (id_ >= 0) & (id_ < k),
            F.lit(f"top1.packed: id outside [0, {k})"),
        ).cast("long"),
        F.assert_true(
            s.between(-h, h),
            F.lit(f"top1.packed: score NULL or past ±{h} for k={k}"),
        ).cast("long"),
        s * k + id_,
    )


def packed_min(score: Column, id_: Column, k: int) -> Column:
    """The ``(score ASC, id ASC)`` top-1 as ``min`` of :func:`packed`."""
    return F.min(packed(score, id_, k))


def unpack_id(pk: Column, k: int) -> Column:
    """The id half of packed value ``pk``."""
    return F.pmod(pk, F.lit(k))


def unpack_score(pk: Column, k: int) -> Column:
    """The score half of packed value ``pk``, exact for negative scores
    (``pk - id`` is a multiple of k, so DIV does not truncate)."""
    return F.call_function("div", pk - unpack_id(pk, k), F.lit(k))
