"""Declarative stage-DAG pipeline (SURVEY.md §3.1 / §7 Phase 1.6).

The reference's ``run_pipeline`` (``etl.py:281-314``) ran six stage
functions strictly sequentially even though five of them were mutually
independent, and cut lineage by writing parquet then re-reading it.
This Pipeline generalizes that pattern:

  - Stages declare their inputs by name; the DAG is resolved
    topologically, and ``run`` writes the materializing stages of each
    ready wave from parallel driver threads by default, so Spark
    schedules independent stages' jobs concurrently. The serial path
    (``run(concurrent=False)``) is kept as the reference the tests
    compare against.
  - Write threads inherit the caller's Spark local properties (job
    group, description, scheduler pool) and session tags, so
    ``cancelJobGroup`` and fair-scheduler pools cover a concurrent
    build exactly as they cover a serial one.
  - ``materialize=True`` marks an explicit lineage-cut boundary
    (write parquet + re-read — the reference's implicit checkpoint
    pattern made first-class). At 100 TB a deliberate materialization
    point bounds recomputation and lets downstream stages read a
    pruned, partitioned copy instead of re-running upstream lineage.
    The re-read reuses the schema just written: no footer-inference
    job, and partition columns keep their declared types.

We intentionally compile to plain DataFrames and let Catalyst do ALL
optimization — there is no custom IR (SURVEY.md §3 conclusion).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from udacity_capstone_data_engineering_spark.sources.sinks import write_parquet


@dataclass
class Stage:
    name: str
    fn: Callable[..., DataFrame]  # receives resolved input DataFrames
    inputs: list[str] = field(default_factory=list)
    materialize: bool = False
    partition_by: list[str] | None = None


class Pipeline:
    """A named DAG of DataFrame-producing stages."""

    def __init__(self, spark: SparkSession, workdir: str | None = None):
        self.spark = spark
        self.workdir = workdir
        self._stages: dict[str, Stage] = {}

    def stage(
        self,
        name: str,
        inputs: list[str] | None = None,
        materialize: bool = False,
        partition_by: list[str] | None = None,
    ):
        """Decorator: register a stage function."""

        def wrap(fn: Callable[..., DataFrame]):
            self._stages[name] = Stage(
                name, fn, inputs or [], materialize, partition_by
            )
            return fn

        return wrap

    def add(self, stage: Stage) -> None:
        self._stages[stage.name] = stage

    def _materialize(self, st: Stage, df: DataFrame) -> DataFrame:
        if not self.workdir:
            raise ValueError(
                f"stage {st.name!r} asks to materialize but Pipeline has no workdir"
            )
        path = write_parquet(df, self.workdir, st.name, partition_by=st.partition_by)
        # A bare read would infer the schema from the parquet footers (one
        # Spark job) and re-guess partition types from directory names.
        # Spark lays out a partitioned directory as the data columns, then
        # the partition columns in partitionBy order.
        parts = st.partition_by or []
        schema = StructType(
            [f for f in df.schema.fields if f.name not in parts]
            + [df.schema[c] for c in parts]
        )
        return self.spark.read.schema(schema).parquet(path)

    def run(self, concurrent: bool = True) -> dict[str, DataFrame]:
        """Resolve the DAG topologically and build every stage's DataFrame.

        By default the materializing stages of each ready wave write
        from parallel driver threads (Spark schedules jobs from
        different threads concurrently) — the reference ran its five
        mutually-independent stages strictly sequentially
        (``etl.py:307-312``). At small sizes per-job fixed cost, not
        data volume, bounds each write, so overlapping them keeps the
        executors busy. Plan building stays on the caller thread (it is
        lazy and cheap); only actions (writes) fan out, each as soon as
        its plan is built, and each write thread inherits the caller's
        Spark local properties and tags.

        ``concurrent=False`` runs every stage on the caller thread in
        topological order: the reference the tests compare against.
        """
        graph = {s.name: set(s.inputs) for s in self._stages.values()}
        results: dict[str, DataFrame] = {}
        if not concurrent:
            for name in TopologicalSorter(graph).static_order():
                st = self._stages[name]
                df = st.fn(*(results[i] for i in st.inputs))
                if st.materialize:
                    df = self._materialize(st, df)
                results[name] = df
            return results

        from concurrent.futures import Future, ThreadPoolExecutor

        ts = TopologicalSorter(graph)
        ts.prepare()
        with ThreadPoolExecutor(max_workers=8) as pool:
            while ts.is_active():
                wave: dict[str, DataFrame | Future] = {}
                for name in ts.get_ready():
                    # Each write starts as soon as its plan is built. The
                    # wrapper is made per submission: it captures the
                    # caller's local properties into one Properties
                    # object, which concurrent writes must not share
                    # (each query sets its own SQL execution id in it).
                    st = self._stages[name]
                    df = st.fn(*(results[i] for i in st.inputs))
                    wave[name] = (
                        pool.submit(
                            inheritable_thread_target(self.spark)(self._materialize), st, df
                        )
                        if st.materialize
                        else df
                    )
                for name, out in wave.items():
                    results[name] = out.result() if isinstance(out, Future) else out
                    ts.done(name)
        return results
