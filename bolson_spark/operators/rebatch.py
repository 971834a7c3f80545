"""R1 — resize / ordered re-batching.

Reference semantics (convert/resizer.cpp:21-50): a parsed batch with
more than ``max_rows`` rows is sliced (zero-copy) into consecutive
chunks of at most ``max_rows`` rows; each slice's sequence range is the
contiguous sub-range it covers; slices partition the input range in
order. Default max_rows = 1024 (cli.cpp:37-39).

Spark-first mapping: with contiguous 0-based ``bolson_seq``, the slice
assignment is pure arithmetic — ``batch_id = floor((seq - base) /
max_rows)`` — which Catalyst evaluates inside whole-stage codegen with
no shuffle at all. The seq operators already leave each partition
holding contiguous seq runs, so ``rebatch`` only sorts within
partitions: it adds no exchange. The *physical* zero-copy slicing
happens at serialization time (serialize.py) on Arrow batches, cut at
``max_rows`` and at every seq break; this module supplies the logical
grouping and the per-slice seq-range stats that the reference's
Resizer recomputes (resizer.cpp:27-42).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bolson_spark import MAX_ROWS_DEFAULT, SEQ_COL


def add_batch_id(
    df: DataFrame,
    max_rows: int = MAX_ROWS_DEFAULT,
    seq_col: str = SEQ_COL,
    base: int = 0,
    name: str = "batch_id",
) -> DataFrame:
    """Assign each row its output-batch id (shuffle-free arithmetic)."""
    return df.withColumn(
        name, F.floor((F.col(seq_col) - F.lit(base)) / F.lit(max_rows))
    )


def rebatch(
    df: DataFrame,
    max_rows: int = MAX_ROWS_DEFAULT,
    seq_col: str = SEQ_COL,
    base: int = 0,
) -> DataFrame:
    """Tag each row with its output batch and order every partition by
    seq, without an exchange (the Resizer slices a batch that is already
    in order, resizer.cpp:21-50).

    Precondition: the rows of each partition of ``df``, sorted by seq,
    form few contiguous seq runs. Both seq operators give that:
    ``add_seq`` emits one partition holding one run, and
    ``add_seq_scalable`` one partition per literal bucket, each one
    run. Output is correct for ANY input — ``serialize_ipc`` cuts
    messages at every seq break — so the precondition only decides how
    full the messages are: each run adds at most one partial message.
    """
    return add_batch_id(df, max_rows, seq_col, base).sortWithinPartitions(seq_col)


def batch_stats(
    df: DataFrame,
    max_rows: int = MAX_ROWS_DEFAULT,
    seq_col: str = SEQ_COL,
    base: int = 0,
) -> DataFrame:
    """Per-output-batch seq range + row count (resizer.cpp:27-42 analog).

    Invariants the tests assert: rows <= max_rows; ranges contiguous
    (seq_last - seq_first + 1 == rows); batches partition the input.
    """
    return (
        add_batch_id(df, max_rows, seq_col, base)
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.min(seq_col).alias("seq_first"),
            F.max(seq_col).alias("seq_last"),
        )
    )
