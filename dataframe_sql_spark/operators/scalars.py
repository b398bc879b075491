"""Broadcast scalar attachment without nested-loop joins.

The pattern "compute a 1-row global aggregate (corpus size, total
token count, dangling PageRank mass) and attach it to every row"
was written throughout this package as ``df.crossJoin(F.broadcast(
one_row))`` — semantically right and cheap (one broadcast row), but
Spark plans any non-equi cross join as BroadcastNestedLoopJoin, which
is indistinguishable in a plan lint from an accidental all-pairs
join. :func:`broadcast_attach` expresses the same attachment as an
equi-join on a constant key, which Catalyst plans as a
BroadcastHashJoin — same cost (the "hash table" is one entry; the
stream side probes a constant), but now ``BroadcastNestedLoopJoin``
in a catalog plan means an *actual* cartesian product and the lint
(tests/test_catalog_plan_lint.py) can ban it outright instead of
whitelisting ten benign scalar attachments.

Also correct for a small-but-multi-row side (e.g. a quantile list):
the constant key makes every (row, small-row) pair, i.e. exactly the
cross product, still hash-planned.

:func:`const_array` is the one way the package puts a driver-side list
(query vector, LUTs, centroids, stopwords, salt buckets) into a plan.

:func:`map_batches` is the package's one ``mapInPandas`` crossing,
used by every row-batch kernel (vector and media).
"""

from __future__ import annotations

import json
import numbers

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F, types as T

__all__ = ["broadcast_attach", "const_array", "map_batches"]

_KEY = "__attach_key"


def broadcast_attach(df: DataFrame, small: DataFrame) -> DataFrame:
    """Cross-attach a broadcast-small frame (typically one aggregate
    row) to every row of ``df`` via a constant-key BroadcastHashJoin.

    Equivalent to ``df.crossJoin(F.broadcast(small))`` whenever
    ``small`` is guaranteed non-empty (a global aggregate always
    yields exactly one row); keeps the plan BNLJ-free.

    The key must be constant-valued yet NOT constant-foldable — a
    bare ``lit(1)`` folds and Catalyst degrades the join back to a
    nested loop. ``pmod(hash(col), 1)`` is always 0, never null (hash
    of null is the seed), and references a real attribute, so it
    survives optimization as an equi-key. The column hashed is the
    first ATOMIC-typed one (``hash()`` is an analysis error on
    MapType, and hashing a wide struct/array column does pointless
    per-row work); a frame with no atomic column hashes
    ``to_json(struct(first_col))`` instead.
    """

    _ATOMIC = (
        T.NumericType,
        T.StringType,
        T.BooleanType,
        T.DateType,
        T.TimestampType,
        T.TimestampNTZType,
        T.BinaryType,
    )

    def _key(frame: DataFrame) -> F.Column:
        for fld in frame.schema.fields:
            if isinstance(fld.dataType, _ATOMIC):
                return F.pmod(F.hash(frame[fld.name]), F.lit(1)).cast("int")
        c = frame.columns[0]
        return F.pmod(
            F.hash(F.to_json(F.struct(frame[c]))), F.lit(1)
        ).cast("int")

    return (
        df.withColumn(_KEY, _key(df))
        .join(F.broadcast(small.withColumn(_KEY, _key(small))), _KEY)
        .drop(_KEY)
    )


_INT_RANGE = {"int": 1 << 31, "bigint": 1 << 63}


def _checked(value, ddl: str):
    """``value`` as a JSON-ready Python object of Spark type ``ddl``
    (``double``, ``int``, ``bigint``, ``string`` or ``array<…>`` of
    those); raises where ``from_json`` would silently yield NULL."""
    if ddl.startswith("array<") and ddl.endswith(">"):
        if isinstance(value, (str, bytes, dict)) or not hasattr(value, "__iter__"):
            raise TypeError(f"const_array: {value!r} is not an {ddl}")
        return [_checked(v, ddl[6:-1]) for v in value]
    if ddl == "double" and isinstance(value, numbers.Real) and not isinstance(value, bool):
        return float(value)
    if ddl in _INT_RANGE and isinstance(value, numbers.Integral) and not isinstance(value, bool):
        if -_INT_RANGE[ddl] <= int(value) < _INT_RANGE[ddl]:
            return int(value)
        raise ValueError(f"const_array: {value!r} is out of range for {ddl}")
    if ddl == "string" and isinstance(value, str):
        return value
    raise TypeError(f"const_array: {value!r} is not a {ddl}")


def const_array(values, elem: str) -> Column:
    """A (nested) constant array of element type ``elem`` (Spark DDL,
    e.g. ``"double"`` or ``"array<array<double>>"``) as ONE plan node.

    ``F.lit(list)`` is ``array(lit(x), …)`` in pyspark: one py4j call
    and one ``CreateArray`` child per element, and every copy of the
    tree is analyzed again — a 4×4×16 LUT cost ~110 ms of plan
    building. Here the values cross as one JSON string parsed by
    ``from_json``, which ConstantFolding turns into a single array
    ``Literal``, so optimized and physical plans carry the same values
    the per-element form did. JSON keeps doubles bit-exact (Python
    writes the shortest round-trip repr, the JVM parses it correctly
    rounded; -0.0, subnormals, NaN and ±Infinity included). Values are
    checked against ``elem`` first: ``from_json`` would turn a
    mistyped or out-of-range value into a NULL array."""
    ddl = f"array<{elem}>"
    return F.from_json(F.lit(json.dumps(_checked(values, ddl))), ddl)


def _stack_vectors(values) -> np.ndarray:
    """An iterable of equal-length number arrays (an Arrow batch's
    ``array<…>`` column) as one (n, dim) float64 matrix."""
    return np.stack([np.asarray(v, np.float64) for v in values])


def _fan_out(pdf, counts):
    """``pdf``'s rows with row i repeated ``counts[i]`` times (a scalar
    repeats every row), and each copy's number, counted from 0."""
    counts = np.broadcast_to(np.asarray(counts, np.int64), (len(pdf),))
    start = np.cumsum(counts) - counts
    copy = np.arange(counts.sum()) - np.repeat(start, counts)
    return pdf.iloc[np.repeat(np.arange(len(pdf)), counts)].reset_index(drop=True), copy


def map_batches(df: DataFrame, added: str, fn, vec_col: str | None = None) -> DataFrame:
    """The ``mapInPandas`` scaffold: ``fn(pdf)`` gets each non-empty
    Arrow batch and returns its output batch — the input columns
    followed by the ``added`` ones (a DDL column list). With
    ``vec_col``, ``fn(pdf, V)`` also gets that column stacked as an
    (n, dim) float64 matrix (:func:`_stack_vectors`)."""

    def kernel(batches):
        for pdf in batches:
            if len(pdf):
                yield fn(pdf) if vec_col is None else fn(pdf, _stack_vectors(pdf[vec_col]))

    cols = ",".join(f"{_quoted(f.name)} {_ddl(f.dataType)}" for f in df.schema.fields)
    return df.mapInPandas(kernel, schema=f"{cols},{added}")


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _ddl(dt: T.DataType) -> str:
    """``dt`` as a DDL type with every struct field name quoted
    (``simpleString`` leaves nested names bare, and a name such as
    ``a b`` then fails to parse). Like any DDL type, it parses back
    with every field, element and value nullable."""
    if isinstance(dt, T.StructType):
        return f"struct<{','.join(f'{_quoted(f.name)}:{_ddl(f.dataType)}' for f in dt.fields)}>"
    if isinstance(dt, T.ArrayType):
        return f"array<{_ddl(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{_ddl(dt.keyType)},{_ddl(dt.valueType)}>"
    return dt.simpleString()
