"""Arrow-batched model inference with LOAD-ONCE worker state.

The pattern every embedding / classifier / reward-model stage of a
training-data pipeline needs: an expensive model handle (GPU session,
tokenizer, ONNX runtime) must be constructed once per executor task
and reused across every Arrow batch that task processes — naive
per-batch (or worse, per-row) construction turns a 100 TB inference
sweep into a model-loading benchmark.

``mapInPandas`` receives an ITERATOR of batches per task, so the
pattern is: build the model before the loop, yield per batch inside
it.  This module packages that shape with an explicit
``model_factory`` seam; real model libs are not in this container, so
the tests drive it with a deterministic fake (the Spark-side plumbing
— schema, batch iteration, init-once semantics, parallelism fan-out —
is real and asserted).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame

from adhesive_spark.sources.registry import ensure_parallelism


def batch_infer(
    df: DataFrame,
    model_factory: Callable[[], Callable[[pd.Series], pd.DataFrame]],
    input_col: str,
    output_schema: str,
    *,
    id_col: str | None = None,
) -> DataFrame:
    """Run ``model = model_factory()`` ONCE per task, then
    ``model(batch[input_col])`` per Arrow batch; each call returns a
    DataFrame of new columns aligned to the batch, concatenated onto
    the carried columns.

    - ``output_schema``: the FULL result schema (carried cols + model
      outputs), Spark DDL string.
    - ``id_col``: when given, the input is fanned out with
      :func:`ensure_parallelism` first — a CPU/GPU-dense stage must
      not inherit a 1-partition upstream (one worker would own the
      whole sweep).

    Construction cost amortizes as O(tasks), not O(batches): Spark
    streams every batch of a task through one generator invocation, so
    anything built before the loop lives for the task.
    """
    if id_col is not None:
        df = ensure_parallelism(df, id_col)

    carried = df.columns

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = model_factory()  # once per task, NOT per batch
        for b in batches:
            out = model(b[input_col])
            out.index = b.index
            yield pd.concat([b[carried], out], axis=1)

    return df.mapInPandas(_run, schema=output_schema)
