"""One durable store for the ``foreachBatch`` sinks: parquet versions
keyed by the micro-batch id.

Structured Streaming hands a ``foreachBatch`` function each micro-batch
with its ``batch_id`` and delivers it at least once, so a sink that
keeps state across batches owns its durability. The rollup store
(``rollup_sink``), the discarding-pane baseline
(``triggers.discarding_early_sink``) and the LSH signature store and
survivor sink (``lsh_dedup``) all keep it by one rule. A fourth user,
the local Datastore entity warehouse (``sources/datastore.py``), is a
snapshot store keyed by mutation count instead of ``batch_id``: it
uses the layout, the commit, :func:`read` and the prune, not
:func:`begin`.

- Layout: version ``b`` is the parquet directory ``<root>/batch=<b>/``.
- Commit: a version is committed iff it holds ``_SUCCESS``, the marker
  Spark's job committer writes after all task output. :func:`write`
  raises if its own write left no marker (a session with
  ``mapreduce.fileoutputcommitter.marksuccessfuljobs=false`` would
  otherwise make every version invisible). :func:`committed` lists the
  markers with one ``globStatus``; readers see committed versions only.
- Baseline: :func:`begin` returns the committed versions below
  ``batch_id``. A snapshot store reads the last of them, an append-only
  store all of them. A redelivered ``batch_id`` recomputes from that
  same baseline and overwrites its own version; while the rewrite runs,
  readers fall back to the previous committed version.
- Lineage guard: Spark's batch ids rise monotonically within one
  checkpoint, so a ``batch_id`` below the highest committed version
  means a fresh checkpoint restarted the ids against an existing
  store. Folding it would double-count, so :func:`begin` raises.
- Prune: a snapshot store keeps ``{baseline, batch_id}``
  (:func:`prune`); only the last delivered batch can be redelivered.

The listing, the marker check and the deletes go through the Hadoop
FileSystem of the root, the one Spark's own writes to it use, so a store
works on ``file:``, ``hdfs:``, ``s3a:``, ``gs:`` alike.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

from cloud_dataflow_batch_processing_spark.caching import _delete_path, hadoop_path

_PREFIX = "batch="


def version_path(root: str, batch_id: int) -> str:
    return f"{root.rstrip('/')}/{_PREFIX}{batch_id}"


def _versions(spark: SparkSession, root: str, leaf: str) -> list[int]:
    """Ids of the ``batch=<id>`` entries under ``root`` that hold
    ``leaf`` (``""``: the version directories themselves), ascending."""
    fs, pattern = hadoop_path(spark, f"{root.rstrip('/')}/{_PREFIX}*{leaf}")
    ids = []
    for status in fs.globStatus(pattern) or []:
        p = status.getPath()
        tail = (p.getParent() if leaf else p).getName()[len(_PREFIX) :]
        if tail.isdigit():
            ids.append(int(tail))
    return sorted(ids)


def committed(spark: SparkSession, root: str) -> list[int]:
    """Ids of the committed versions under ``root``, ascending."""
    return _versions(spark, root, "/_SUCCESS")


def begin(spark: SparkSession, root: str, batch_id: int) -> list[int]:
    """The committed versions a fold of ``batch_id`` reads (those below
    it); raises ``ValueError`` when ``batch_id`` breaks the lineage."""
    done = committed(spark, root)
    if done and batch_id < done[-1]:
        raise ValueError(
            f"batch_id {batch_id} < committed latest {done[-1]} in {root!r}: "
            "the store is bound to one checkpoint lineage — point a fresh "
            "checkpoint at a fresh store"
        )
    return [b for b in done if b < batch_id]


def read(spark: SparkSession, root: str, batch_ids: Iterable[int]) -> DataFrame:
    """The rows of the given versions, without a partition column."""
    return spark.read.parquet(*(version_path(root, b) for b in batch_ids))


def write(df: DataFrame, root: str, batch_id: int) -> None:
    """Write version ``batch_id`` and check that it committed."""
    path = version_path(root, batch_id)
    df.write.mode("overwrite").parquet(path)
    fs, marker = hadoop_path(df.sparkSession, f"{path}/_SUCCESS")
    if not fs.exists(marker):
        raise OSError(
            f"{path} has no _SUCCESS after its write: versions commit by that "
            "marker; set mapreduce.fileoutputcommitter.marksuccessfuljobs=true"
        )


def prune(spark: SparkSession, root: str, keep: Iterable[int]) -> None:
    """Delete every version directory, committed or not, outside ``keep``."""
    keep = set(keep)
    for b in _versions(spark, root, ""):
        if b not in keep:
            _delete_path(spark, version_path(root, b))
