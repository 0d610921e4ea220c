"""The benchmark's workloads. Each one calls a public entry point of
the program on generated inputs and checks the output against the
expected output cached beside the inputs (see ``inputs.py``).

A job is ``entry`` (the program's own call; for the lazy entry points
this is plan construction plus any eager jobs the call runs) followed by
``action`` (the job that consumes the result). The runner times both
and calls ``check`` outside the timed region.
"""

from __future__ import annotations

import os

from perfbench import inputs as I


class Workload:
    name = ""
    #: True when ``entry`` returns a lazy frame that ``action`` runs, so
    #: the time in ``entry`` is plan construction and eager jobs.
    lazy_entry = False
    #: False when no job runs Python UDFs, so set-up starts no Python
    #: workers (a user of that workload never pays for them).
    uses_python = True
    #: Untimed jobs after the first, run until the JIT-compiled code
    #: paths settle and job times stop falling.
    warmup_jobs = 3
    #: Timed jobs that every run makes, whatever ``--seconds`` is; the
    #: median over the timed jobs is ``job_s``.
    min_jobs = 4

    def __init__(self, spark, input_dir: str, work_dir: str):
        self.spark = spark
        self.input_dir = input_dir
        self.work_dir = work_dir
        self.expected = I.load_expected(input_dir)

    def input_rows(self) -> int:
        raise NotImplementedError

    def entry(self, i: int):
        raise NotImplementedError

    def action(self, handle, i: int):
        return handle

    def check(self, output, i: int) -> bool:
        raise NotImplementedError


class EtlCsvGroupSum(Workload):
    """The paper's job: CSV -> raw sink + group-by-sum sink."""

    name = "etl_csv_groupsum"
    uses_python = False

    def __init__(self, spark, input_dir, work_dir):
        super().__init__(spark, input_dir, work_dir)
        self.csv = os.path.join(input_dir, "listings.csv")
        self.warehouse = os.path.join(work_dir, "warehouse")

    def input_rows(self) -> int:
        return self.expected["raw_rows"]

    def entry(self, i):
        from cloud_dataflow_batch_processing_spark.workload import run_reference_pipeline

        run_reference_pipeline(
            self.spark, self.csv, "perfbench.nyc",
            schema_fields=I.NYC_FIELDS, warehouse=self.warehouse,
        )

    def check(self, output, i):
        import pyarrow.parquet as pq

        base = os.path.join(self.warehouse, "perfbench")
        raw = pq.ParquetDataset(os.path.join(base, "nyc_raw"))
        n_raw = sum(f.metadata.num_rows for f in raw.fragments)
        t = pq.read_table(os.path.join(base, "nyc_transform")).to_pydict()
        got = dict(zip(t["neighbourhood"], t["count_listings"]))
        return n_raw == self.expected["raw_rows"] and got == self.expected["transform"]


class SemanticDedup(Workload):
    """k-means clustering, then within-cluster cosine verify."""

    name = "semantic_dedup"
    lazy_entry = True
    warmup_jobs = 4

    def input_rows(self) -> int:
        return self.expected["vectors"]

    def entry(self, i):
        from cloud_dataflow_batch_processing_spark.extensions.similarity import (
            semantic_dedup_stats,
        )

        emb = self.spark.read.parquet(os.path.join(self.input_dir, "embeddings.parquet"))
        return semantic_dedup_stats(
            emb, k=I.SEMANTIC_K, iters=I.SEMANTIC_ITERS, min_cosine=0.9, assign_method="arrow"
        )

    def action(self, handle, i):
        from cloud_dataflow_batch_processing_spark.caching import release_managed_caches

        try:
            return [list(r) for r in handle.collect()]
        finally:
            release_managed_caches()

    def check(self, output, i):
        return sorted(output) == self.expected["clusters"]


WORKLOADS = {w.name: w for w in (EtlCsvGroupSum, SemanticDedup)}
