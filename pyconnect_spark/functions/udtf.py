"""Python user-defined table functions (Spark 4 UDTF API).

Completes the UDF surface the engine exercises: row UDF (b24), pandas UDF
(sm03/sm05 matmuls), pandas UDAF (x12), mapInPandas (mm02/mm03),
applyInPandasWithState (S08/S21) —
and now the table-function flavor: one input row fans out to N output
rows from plain Python, callable from SQL as ``chunk_text(...)`` after
registration. The reference has no comparable extension point (its only
user hook is the per-record callback); UDTFs are the Spark-native answer
for row-expanding custom logic that genuinely needs Python.

Performance note (why this is NOT how tx16 chunks documents): a UDTF runs
row-at-a-time through the Python worker — fine for moderate fan-out logic
that needs Python libraries, but the hot chunking path stays the JVM
array-expression form (tx16), which is why the declared x42 query exists
in BOTH forms and the test asserts they agree.
"""

from __future__ import annotations

from pyspark.sql.functions import udtf


@udtf(returnType="chunk_idx: int, chunk_text: string")
class ChunkText:
    """Fan a text into consecutive ``size``-word chunks (trailing partial
    chunk dropped — same contract as tx16)."""

    def eval(self, text: str, size: int):  # noqa: D102 — UDTF contract
        if text is None:
            return
        words = text.strip().split()
        for i in range(len(words) // size):
            yield i, " ".join(words[i * size : (i + 1) * size])


def register_udtfs(spark) -> None:
    """Register the UDTF pack on a session: ``SELECT ... FROM
    chunk_text('...', 8)`` or LATERAL-joined against a table."""
    spark.udtf.register("chunk_text", ChunkText)
