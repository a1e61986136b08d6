"""Driver-held frames and deterministic release of eager
``localCheckpoint`` storage.

Rule: a frame built from rows the driver holds (collected labels,
model weights, offsets, lookup maps) is built with ``local_frame``,
never ``spark.createDataFrame(<python list>)``. The list form plans a
``LogicalRDD`` over a ``PythonRDD``, so EVERY action that reads the
frame starts Python worker tasks to unpickle the rows again; the
Arrow-built form is a JVM ``LocalRelation`` — no Python workers, and
the planner knows its size (broadcast joins pick it by statistics).

An eager localCheckpoint truncates lineage by materializing the frame
into MEMORY_AND_DISK blocks; ContextCleaner only reaps those blocks
when driver GC happens to collect the RDD handle, so operators that
checkpoint per call (trainers' feature frames, the multi-table SRP
signature frames) would accumulate storage nondeterministically in a
long-lived session (r13/r14 advisors). ``release_local_checkpoint`` is
the deterministic release the old cache()+unpersist() pair had, without
giving up the lineage truncation — single-sourced here so the trainer
path (operators/training.py, releases in ``finally``) and the frames
contracts (similarity.py's ``"checkpointed"`` lists, the caller's to
release once pairs/oversized are materialized) can never drift."""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_frame(
    spark: SparkSession,
    rows: Sequence,
    schema: T.StructType | str | Sequence[str],
) -> DataFrame:
    """A ``LocalRelation`` DataFrame over driver-held ``rows``.

    ``rows`` are tuples or ``Row``s, matched to the schema by position.
    ``schema`` is a ``StructType``, a DDL string (``"code bigint, label
    string"``) or a list of column names whose types are inferred from
    the rows exactly as ``createDataFrame`` infers them. Values, field
    names, types and nullability equal what ``createDataFrame(rows,
    schema)`` gives; only the plan differs (Arrow batches shipped once
    into the JVM instead of a PythonRDD re-read per action)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = list(rows)
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    elif not isinstance(schema, T.StructType):
        schema = spark._inferSchemaFromList(rows, names=list(schema))
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=schema)


def release_local_checkpoint(df: DataFrame) -> None:
    """Free the MEMORY_AND_DISK blocks behind an eager
    ``localCheckpoint`` once no one will read the frame again.

    The checkpointed Dataset's analyzed plan is the LogicalRDD
    holding the persisted RDD; unpersisting a locally checkpointed
    RDD deletes its block data, which is exactly right for a frame
    nobody will read again (probe-verified to free storage, r14).
    Best-effort: if the internal plan shape ever changes, leaking
    (the old behavior) beats crashing a finished run."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass
