"""complete_groups (operators/sorted_groups.py): whole groups out of
key-sorted Arrow batches, on hand-built batches; map_groups on Spark."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from trainable_entity_extractor_spark.operators.sorted_groups import complete_groups, map_groups


def _batches(*chunks):
    """One record batch per chunk of (band, key, id) rows."""
    return [
        pa.RecordBatch.from_pylist(
            [{"band": b, "key": k, "id": i} for b, k, i in rows],
            schema=pa.schema([("band", pa.int32()), ("key", pa.int64()), ("id", pa.string())]),
        )
        for rows in chunks
    ]


def _groups(batches, max_rows=100):
    """The yielded groups as lists of ids."""
    groups = []
    for batch, bounds in complete_groups(batches, ["band", "key"], max_rows):
        assert bounds[0] == 0 and bounds[-1] == batch.num_rows
        assert (np.diff(bounds) > 0).all()
        ids = batch.column("id").to_pylist()
        groups += [ids[a:b] for a, b in zip(bounds[:-1], bounds[1:])]
    return groups


def test_single_batch():
    rows = [(0, 1, "a"), (0, 1, "b"), (0, 2, "c"), (1, 1, "d")]
    assert _groups(_batches(rows)) == [["a", "b"], ["c"], ["d"]]


def test_group_spanning_two_batches():
    groups = _groups(_batches([(0, 1, "a"), (0, 2, "b")], [(0, 2, "c"), (0, 3, "d")]))
    assert groups == [["a"], ["b", "c"], ["d"]]


def test_group_spanning_three_batches():
    groups = _groups(
        _batches([(0, 1, "a"), (0, 2, "b")], [(0, 2, "c")], [(0, 2, "d"), (0, 4, "e")])
    )
    assert groups == [["a"], ["b", "c", "d"], ["e"]]


def test_empty_batches_are_skipped():
    groups = _groups(_batches([], [(0, 1, "a")], [], [(0, 1, "b"), (0, 2, "c")], []))
    assert groups == [["a", "b"], ["c"]]
    assert list(complete_groups(_batches([], []), ["band", "key"], 10)) == []
    assert list(complete_groups([], ["band", "key"], 10)) == []


def test_only_the_second_key_changes():
    rows = [(3, 1, "a"), (3, 1, "b"), (3, 2, "c"), (3, 2, "d"), (3, 3, "e")]
    assert _groups(_batches(rows)) == [["a", "b"], ["c", "d"], ["e"]]


def test_only_the_first_key_changes():
    rows = [(0, 7, "a"), (1, 7, "b"), (1, 7, "c")]
    assert _groups(_batches(rows)) == [["a"], ["b", "c"]]


def test_group_over_max_rows_raises():
    with pytest.raises(ValueError, match="more than 2 rows"):
        _groups(_batches([(0, 1, "a"), (0, 1, "b"), (0, 1, "c")]), max_rows=2)
    # also when the group only outgrows the cap across batches (the carry)
    with pytest.raises(ValueError, match="more than 2 rows"):
        _groups(_batches([(0, 0, "x"), (0, 1, "a")], [(0, 1, "b")], [(0, 1, "c")]), max_rows=2)
    # a group of exactly max_rows is fine
    assert _groups(_batches([(0, 1, "a")], [(0, 1, "b")]), max_rows=2) == [["a", "b"]]


def test_map_groups_hands_every_group_a_zero_based_index(spark):
    """Every group run_one receives, head groups of a batch included, is
    indexed RangeIndex(0, n) and sorted by the sort column."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        rows = [(d, s) for d in range(40) for s in range(d % 4 + 1)]
        df = spark.createDataFrame(rows, "doc_id long, seg_idx int")

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            zero_based = isinstance(pdf.index, pd.RangeIndex) and pdf.index.equals(
                pd.RangeIndex(len(pdf))
            )
            return pd.DataFrame(
                {
                    "doc_id": [int(pdf["doc_id"].iloc[0])],
                    "n": [len(pdf)],
                    "sorted": [pdf["seg_idx"].tolist() == list(range(len(pdf)))],
                    "zero_based": [zero_based],
                }
            )

        out = map_groups(
            df, run, "doc_id long, n int, sorted boolean, zero_based boolean", "doc_id", "seg_idx"
        ).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert sorted((r["doc_id"], r["n"]) for r in out) == [(d, d % 4 + 1) for d in range(40)]
    assert all(r["sorted"] and r["zero_based"] for r in out)
