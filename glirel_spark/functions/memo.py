"""Build-once plan expressions.

A ``Column`` made with ``pyspark.sql.functions`` is a handle to a JVM
object, and every function call that builds it is a py4j round trip.
Every documents->graph plan needs the same data-independent
expressions: the gazetteer maps and the mention hygiene lambdas, the
interleave and text lambdas, the alias map, the lexical label argmax
and constraint chain. Re-creating them per job costs ~2,800 of a neural
job's ~3,600 round trips, about half a second of plan construction
before Spark runs anything (measured on a 4-core box).

``once(key, build)`` builds such an expression (a ``Column`` or a tuple
of them) the first time it is asked for and hands back the same object
afterwards. The key names the expression and EVERY input it is built
from (gazetteer, label or alias contents, ``max_chars``), so different
inputs get their own entries. An entry is bound to the JVM it was built
in: a ``Column`` is a reference into one py4j gateway, and a new
gateway rebuilds it. A ``Column`` is an immutable expression tree that
Spark resolves anew in every plan it joins, so one object can serve any
number of plans and sessions on that JVM.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable
from typing import TypeVar

from pyspark import SparkContext

T = TypeVar("T")

_BUILT: dict[Hashable, tuple[object, object]] = {}


def once(key: Hashable, build: Callable[[], T]) -> T:
    """What ``build()`` returns, built once per key per JVM."""
    hit = _BUILT.get(key)
    if hit is not None and hit[0] is SparkContext._jvm:
        return hit[1]
    value = build()
    _BUILT[key] = (SparkContext._jvm, value)
    return value
