"""Complete groups from key-sorted Arrow record batches.

A `repartition(key) + sortWithinPartitions(key)` stage hands a Python
`mapInArrow` kernel each partition's rows sorted by key, so every group
is one contiguous run — but a run may straddle Arrow batch boundaries.
`complete_groups` restores whole groups: it carries a batch's trailing
group into the next one and yields runs of complete groups with their
bounds, so a kernel works on whole batches with numpy instead of taking
a Python call and a fresh frame per group (the `groupBy().applyInPandas`
cost; guide §2.3/§4).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

# map_groups is for small per-document groups; fail fast with a clear
# error instead of quadratic carry re-concats if a caller feeds bigger ones
_MAX_GROUP_ROWS = 100_000


def complete_groups(
    batches: Iterable[pa.RecordBatch], keys: list[str], max_rows: int
) -> Iterator[tuple[pa.RecordBatch, np.ndarray]]:
    """Yield `(batch, bounds)` runs of complete groups from a stream of
    record batches sorted by `keys`: group i is rows
    `[bounds[i], bounds[i + 1])` of `batch`. A group that spans a batch
    boundary is carried into the next yield. A group of more than
    `max_rows` rows raises ValueError, which also bounds the carry."""
    carry = None
    for batch in batches:
        if batch.num_rows == 0:
            continue
        if carry is not None:
            batch = pa.Table.from_batches([carry, batch]).combine_chunks().to_batches()[0]
        cols = [batch.column(k).to_numpy(zero_copy_only=False) for k in keys]
        changed = np.zeros(batch.num_rows - 1, dtype=bool)
        for c in cols:
            changed |= c[1:] != c[:-1]
        bounds = np.concatenate([[0], np.flatnonzero(changed) + 1, [batch.num_rows]])
        if int(np.diff(bounds).max()) > max_rows:
            raise ValueError(f"a group of keys {keys} has more than {max_rows} rows")
        last = int(bounds[-2])
        carry = batch.slice(last)
        if last:
            yield batch.slice(0, last), bounds[:-1]
    if carry is not None:
        yield carry, np.array([0, carry.num_rows])


def map_groups(
    df: DataFrame,
    run_one: Callable,
    schema: str,
    key_col: str,
    sort_col: str,
) -> DataFrame:
    """Per-group Python kernel as ONE mapInArrow pass over key-partitioned,
    key-sorted batches. `run_one` gets one group's full pandas frame,
    sorted by `sort_col` and indexed `RangeIndex(0, n)`, exactly what
    `groupBy(key_col).applyInPandas` would pass it; the pandas frame it
    returns must match `schema` (a DDL string). At ~1,800 two-row groups the
    per-group plumbing of applyInPandas dominated the kernel 3:1."""
    # pandas stays out of the module imports: Python workers import this
    # module to unpickle score_blocks' kernel, which never needs it
    import pandas as pd
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    out_schema = to_arrow_schema(StructType.fromDDL(schema))
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    arranged = df.repartition(width, key_col).sortWithinPartitions(key_col, sort_col)

    def _run(batches):
        for batch, bounds in complete_groups(batches, [key_col], _MAX_GROUP_ROWS):
            pdf = batch.to_pandas()
            out = [
                run_one(pdf.iloc[a:b].reset_index(drop=True))
                for a, b in zip(bounds[:-1], bounds[1:])
            ]
            yield pa.RecordBatch.from_pandas(
                pd.concat(out, ignore_index=True), schema=out_schema, preserve_index=False
            )

    return arranged.mapInArrow(_run, schema=schema)
