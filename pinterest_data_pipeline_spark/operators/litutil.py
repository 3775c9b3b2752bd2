"""Fast construction of large (nested) array literals.

``F.lit`` on a nested Python list builds the literal tree element by
element over py4j — ~3 s of driver time for a 16x3x64 double array
(measured; it was the entire warm-build cost of the multi-table LSH
query). Rendering the same value as ONE SQL ``array(...)`` expression
string and parsing it JVM-side costs ~10 ms and constant-folds to the
identical single Literal node: ``repr(float)`` is the shortest
round-trip representation and Java's ``Double.parseDouble`` is
correctly rounded, so every element lands on the bit-identical double
(verified value-equal against the ``F.lit`` construction).

This complements the nested-literal planning-cost lesson (one Literal
node instead of a fan-out of subtrees): that fix moved ANALYSIS cost
out of the JVM; this one moves CONSTRUCTION cost out of py4j.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def array_sql(v) -> str:
    """SQL text of a (nested) int/float array literal, for embedding in a
    larger ``F.expr`` string."""
    if isinstance(v, bool):
        raise TypeError("fast_array_literal: booleans unsupported")
    if isinstance(v, int):
        return f"{v}L"
    if isinstance(v, float):
        return repr(v) + "D"
    if isinstance(v, (list, tuple)):
        return "array(" + ",".join(array_sql(x) for x in v) + ")"
    raise TypeError(f"fast_array_literal: unsupported element {type(v)}")


def fast_array_literal(nested: list) -> Column:
    """One-call (nested) array literal of ints (-> bigint) / floats
    (-> double), bit-identical to ``F.lit(nested)`` but ~300x cheaper to
    construct for thousand-element arrays."""
    return F.expr(array_sql(nested))

