"""The composed convert pipeline — parse -> seq -> rebatch [-> serialize].

This is the reference's converter thread loop (convert/converter.cpp:
96-171: Parse -> Resize -> Serialize) as a declarative DataFrame
composition; Spark tasks replace converter threads. Parsed rows cross
one exchange (the seq operator's) and every document is parsed once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from bolson_spark import MAX_IPC_SIZE, MAX_ROWS_DEFAULT, SEQ_COL
from bolson_spark.operators.parse import parse_json, parse_json_arrow
from bolson_spark.operators.rebatch import rebatch
from bolson_spark.operators.seq import add_seq, add_seq_scalable
from bolson_spark.operators.serialize import serialize_ipc


def convert(
    df: DataFrame,
    schema: T.StructType,
    json_col: str,
    order_by: str,
    *,
    max_rows: int = MAX_ROWS_DEFAULT,
    max_ipc_size: int = MAX_IPC_SIZE,
    strict: bool = True,
    serialize: bool = False,
    seq_mode: str = "exact",
    parser: str = "arrow",
) -> DataFrame:
    """Raw JSON rows -> parsed + sequenced + rebatched [+ serialized].

    seq_mode: "exact" (single global window — parity with the
    reference's one-TCP-stream total order) or "scalable" (literal
    range buckets + bucket-local numbering + driver offset map; same
    result, tested equal, no single-reducer sort — the 100 TB path).

    parser: "arrow" (Arrow C++ JSON TableReader via mapInArrow, strict
    validation built into its single pass) or "catalyst" (JVM
    from_json; strict=True adds a key-scan guard that reads each
    document a second time). Both impls are tested equal.

    Output: ``bolson_seq``, ``order_by``, the schema fields and
    ``batch_id``; with ``serialize=True``, one row per IPC message
    whose payload carries only ``bolson_seq`` + the schema fields (the
    reference's output schema, parse/arrow.cpp:147-163).

    Composition note — where the parse goes. mapInArrow is opaque to
    Catalyst, so every pass over a plan containing the Arrow parse
    re-runs it in full. The parse is therefore placed where exactly
    one pass reads it:

    - "exact": parse BEFORE the single-reducer window, so the parse
      stays parallel and the window's exchange carries parsed rows;
    - "scalable": parse AFTER numbering, inside the bucket tasks — the
      seq operator sees only ``(order_by, json_col)``, so its key-only
      bounds and counts passes never touch the parse.

    Either way the plan has one exchange: ``rebatch`` only sorts within
    the partitions the seq operator emits (its precondition holds for
    both seq operators, see rebatch.py).
    """
    if seq_mode not in ("exact", "scalable"):
        raise ValueError(f"unknown seq_mode {seq_mode!r}")
    if parser not in ("catalyst", "arrow"):
        raise ValueError(f"unknown parser {parser!r}")
    parse_fn = parse_json if parser == "catalyst" else parse_json_arrow
    if seq_mode == "exact":
        parsed = parse_fn(df, schema, json_col, strict=strict, keep=[order_by])
        seqd = add_seq(parsed, order_by)
    else:
        keyed = add_seq_scalable(df.select(order_by, json_col), order_by)
        seqd = parse_fn(
            keyed, schema, json_col, strict=strict, keep=[SEQ_COL, order_by]
        )
    batched = rebatch(seqd, max_rows=max_rows)
    if serialize:
        return serialize_ipc(
            batched.select(SEQ_COL, *schema.names),
            max_rows=max_rows,
            max_ipc_size=max_ipc_size,
        )
    return batched
