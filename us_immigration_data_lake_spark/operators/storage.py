"""Driver-held frames, and the one place the engine pins storage.

Rule 1: a frame built from rows the driver holds (collected labels,
model weights, offsets, lookup maps) is built with ``local_frame``,
never ``spark.createDataFrame(<python list>)``. The list form plans a
``LogicalRDD`` over a ``PythonRDD``, so EVERY action that reads the
frame starts Python worker tasks to unpickle the rows again; the
Arrow-built form is a JVM ``LocalRelation`` — no Python workers, and
the planner knows its size (broadcast joins pick it by statistics).

Rule 2: every pin goes through ``cache(df)`` or ``checkpoint(df)``
(the eager ``localCheckpoint``), and its lifetime is the innermost
open ``scope()``:

    with storage.scope() as s:
        feats = storage.checkpoint(features(df))
        ...
        return s.hand_off(result)

A pin registers with the innermost scope open in the current context
(a ``contextvars`` stack, so a builder thread run under
``contextvars.copy_context()`` pins into its caller's scope). With no
scope open a pin is the bare call: blocks stay until LRU eviction or
driver GC. On exit — normal or by exception — a scope unpersists every
cache it owns (frames derived from a cache recompute) and releases
every checkpoint it owns (derived frames can NOT recompute: reading one
fails), except the checkpoints a frame passed to ``hand_off`` reads —
those move to the enclosing scope, or stay bare if there is none.
"Reads" means the checkpoint's RDD is a ``LogicalRDD`` leaf of the
frame's analyzed plan, subqueries included. Releases never block.

Who opens a scope: a function that finishes its own work (the corpus
pipelines, the GD trainers, ``connected_components``, ``bpe_merges``).
An operator that returns a lazy frame reading its own pins opens none,
so those pins belong to its caller's scope; a long-lived session wraps
each unit of work in one."""

from __future__ import annotations

import contextvars
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator, Sequence

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



@dataclass
class Scope:
    """The pins made while this scope is the innermost open one."""

    caches: list[DataFrame] = field(default_factory=list)
    checkpoints: list[DataFrame] = field(default_factory=list)
    handed: list[DataFrame] = field(default_factory=list)

    def hand_off(self, df: DataFrame) -> DataFrame:
        """Keep the checkpoints ``df`` reads alive past this scope."""
        self.handed.append(df)
        return df


_SCOPES: contextvars.ContextVar[tuple[Scope, ...]] = contextvars.ContextVar(
    "storage_scopes", default=()
)


def _rdd(ck: DataFrame):
    """The JVM RDD an eager checkpoint's ``LogicalRDD`` holds."""
    return ck._jdf.queryExecution().analyzed().rdd()


def _reads(df: DataFrame) -> set[int]:
    """RDD ids of the ``LogicalRDD`` leaves of ``df``'s analyzed plan
    and of every subquery in it."""
    plan = df._jdf.queryExecution().analyzed()
    subs = plan.subqueriesAll()
    plans = [plan, *(subs.apply(i) for i in range(subs.size()))]
    leaves = [ls.apply(i) for ls in (p.collectLeaves() for p in plans)
              for i in range(ls.size())]
    return {x.rdd().id() for x in leaves if x.nodeName() == "LogicalRDD"}


@contextmanager
def scope() -> Iterator[Scope]:
    """Open a scope: pins made inside it are released when it exits."""
    s = Scope()
    outer = _SCOPES.get()
    token = _SCOPES.set(outer + (s,))
    try:
        yield s
    finally:
        _SCOPES.reset(token)
        for df in s.caches:
            df.unpersist()
        read = set().union(*map(_reads, s.handed)) if s.checkpoints else ()
        for ck in s.checkpoints:
            if _rdd(ck).id() not in read:
                _rdd(ck).unpersist(False)
            elif outer:
                outer[-1].checkpoints.append(ck)


def cache(df: DataFrame) -> DataFrame:
    """``df.cache()``, owned by the innermost open scope."""
    if scopes := _SCOPES.get():
        scopes[-1].caches.append(df)
    return df.cache()


def checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)``, owned by the innermost open
    scope."""
    ck = df.localCheckpoint(eager=True)
    if scopes := _SCOPES.get():
        scopes[-1].checkpoints.append(ck)
    return ck
