"""Pure-Python/pandas kernels — the correctness core of the engine.

Every function here is Spark-free and unit-testable; the ``operators``
package wraps them unchanged into pandas UDFs / ``mapInPandas`` /
``mapInArrow`` stages.
Regex patterns that define observable semantics are taken verbatim from
the reference (they ARE the spec); all surrounding logic is written fresh
for vectorized batch execution.
"""
