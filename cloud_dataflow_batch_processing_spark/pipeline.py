"""Pipeline façade — Beam-shaped ergonomics over DataFrames.

The reference builds pipelines as ``p | 'label' >> transform | ...``
(beam/transforms/ptransform.py:445-454; beam/pipeline.py:433). Catalyst's
logical plan *is* our IR (SURVEY.md §3.1), so this façade is a thin
labeled-DAG wrapper: each ``|`` applies a transform to the wrapped
DataFrame lazily; ``run()`` executes the sink actions. No scheduling, no
evaluators — Spark's planner does that (SURVEY.md §4: every DirectRunner
optimization is a Catalyst built-in).

Example (the reference's whole workload, dataflow_pipeline.py:150-223):

    with Pipeline(spark) as p:
        rows = p | "read" >> (lambda s: read_csv(s, path, schema=st))
        rows | "raw sink" >> sink(lambda df: write_table(df, "ds.raw"))
        (rows
         | "project" >> (lambda df: df.select("neighbourhood", "calculated_host_listings_count"))
         | "group sum" >> group_sum
         | "agg sink" >> sink(lambda df: write_table(df, "ds.transform")))
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class _Labeled:
    """``'label' >> transform`` support (Beam's __rrshift__,
    beam/transforms/ptransform.py:445)."""

    def __init__(self, label: str, transform: Callable):
        self.label = label
        self.transform = transform


class PValue:
    """A labeled node wrapping a DataFrame (Beam PCollection twin,
    beam/pvalue.py:112). ``|`` applies a transform (a callable
    DataFrame→DataFrame, or a _Labeled wrapper)."""

    def __init__(self, pipeline: "Pipeline", df: DataFrame | None, label: str):
        self.pipeline = pipeline
        self.df = df
        self.label = label

    def __or__(self, transform: Callable | _Labeled) -> "PValue":
        label = transform.label if isinstance(transform, _Labeled) else getattr(
            transform, "__name__", "transform"
        )
        fn = transform.transform if isinstance(transform, _Labeled) else transform
        out = fn(self.df if self.df is not None else self.pipeline.spark)
        if out is None:  # sink — terminal node
            self.pipeline._sinks.append(label)
            return PValue(self.pipeline, None, label)
        return PValue(self.pipeline, out, label)


class Pipeline:
    """Beam Pipeline twin (beam/pipeline.py:93). Context-manager exit
    runs nothing implicitly (sinks execute eagerly when applied —
    Spark writer actions are the ``run()``); it exists for API parity
    and error scoping."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._sinks: list[str] = []

    def __enter__(self) -> PValue:
        return PValue(self, None, "begin")

    def __exit__(self, *exc) -> None:
        return None

    def apply(self, source_fn: Callable[[SparkSession], DataFrame], label: str = "source") -> PValue:
        return PValue(self, source_fn(self.spark), label)


def sink(write_fn: Callable[[DataFrame], Any]) -> Callable[[DataFrame], None]:
    """Wrap a writer action as a terminal transform."""

    def run(df: DataFrame) -> None:
        write_fn(df)
        return None

    return run


class label:  # noqa: N801 — Beam-style 'label' >> transform
    """``label('x') >> fn`` — explicit labeled application."""

    def __init__(self, name: str):
        self.name = name

    def __rshift__(self, transform: Callable) -> _Labeled:
        return _Labeled(self.name, transform)
