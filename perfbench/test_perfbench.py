"""The benchmark's own tests: each output check fails on a planted
defect, and BENCHMARK.json lists exactly the metrics run.py prints.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest

import checks
import corpus_dedup
import inputs
from metrics import END_TO_END, PER_LAYER, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))


def _messages(docs: list[str], sizes: list[int], shift: int = 0) -> pa.Table:
    """Serialize ``docs`` the way the sinks publish them: one Arrow IPC
    payload per message, with its seq range."""
    rows = {"payload": [], "seq_first": [], "seq_last": [], "num_rows": []}
    lo = 0
    for n in sizes:
        part = [json.loads(d) for d in docs[lo : lo + n]]
        seqs = list(range(lo + shift, lo + shift + n))
        batch = pa.RecordBatch.from_pylist(
            [{"bolson_seq": s, **r} for s, r in zip(seqs, part)]
        )
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, batch.schema) as w:
            w.write_batch(batch)
        rows["payload"].append(sink.getvalue().to_pybytes())
        rows["seq_first"].append(seqs[0])
        rows["seq_last"].append(seqs[-1])
        rows["num_rows"].append(n)
        lo += n
    return pa.table(rows)


DOCS = inputs.battery_docs(60, seed=3)
SIZES = [20, 25, 15]


def test_checks_pass_on_correct_output():
    msgs = _messages(DOCS, SIZES)
    decoded = checks.decode_messages(msgs)
    assert checks.seq_cover(msgs, len(DOCS)) == []
    assert checks.rows_equal(decoded, DOCS) == []


def test_dropped_message_fails():
    msgs = _messages(DOCS, SIZES)
    dropped = pa.concat_tables([msgs.slice(0, 1), msgs.slice(2)])
    assert any("gap" in e for e in checks.seq_cover(dropped, len(DOCS)))
    assert checks.rows_equal(checks.decode_messages(dropped), DOCS)


def test_shifted_seq_fails():
    shifted = _messages(DOCS, SIZES, shift=1)
    assert checks.seq_cover(shifted, len(DOCS))
    assert checks.rows_equal(checks.decode_messages(shifted), DOCS)


def test_overlapping_message_fails():
    msgs = _messages(DOCS, SIZES)
    dup = pa.concat_tables([msgs, msgs.slice(1, 1)])
    assert any("overlap" in e for e in checks.seq_cover(dup, len(DOCS)))


def test_wrong_row_fails():
    wrong = list(DOCS)
    wrong[30] = json.dumps({"voltage": [9999]})
    assert checks.rows_equal(checks.decode_messages(_messages(wrong, SIZES)), DOCS)


def test_rows_out_of_arrival_order_fail():
    # two docs swapped inside one message: seqs still cover 0..n-1
    swapped = list(DOCS)
    swapped[0], swapped[1] = swapped[1], swapped[0]
    msgs = _messages(swapped, SIZES)
    assert checks.seq_cover(msgs, len(DOCS)) == []
    assert checks.rows_equal(checks.decode_messages(msgs), DOCS)


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert tuple(w["name"] for w in bench["workloads"]) == WORKLOADS
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER


@pytest.fixture(scope="module")
def spark():
    pyspark = pytest.importorskip("pyspark")
    session = (
        pyspark.sql.SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield session
    session.stop()


def test_registry_check_fails_on_wrong_row(spark, monkeypatch):
    """The corpus workload's check (``oracle.compare_query``) rejects a
    query result with one altered row."""
    from pyspark.sql import functions as F

    from bolson_spark import oracle
    from bolson_spark.queries import QUERIES

    data = corpus_dedup.DATA
    con = oracle.duckdb_connection(data)
    assert oracle.compare_query(spark, con, "hll_distinct", data).ok

    real = QUERIES["hll_distinct"]

    def planted(spark_, sf_dir):
        df = real.fn(spark_, sf_dir)
        num = next(f.name for f in df.schema.fields if f.dataType.typeName() in ("long", "integer"))
        first = df.orderBy(*df.columns).limit(1)
        return df.exceptAll(first).unionByName(first.withColumn(num, F.col(num) + 1))

    monkeypatch.setitem(QUERIES, "hll_distinct", type(real)(planted, real.oracle, real.tags))
    assert not oracle.compare_query(spark, con, "hll_distinct", data).ok
