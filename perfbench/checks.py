"""Output checks. Each returns a list of failure messages (empty when
the output is right) and runs outside the timed part of a workload.
They take plain Python / Arrow values so the tests can plant defects.
"""

from __future__ import annotations

import json

import pyarrow as pa

SEQ_COL = "bolson_seq"


def seq_cover(messages: pa.Table, n_expected: int) -> list[str]:
    """Published messages (``seq_first``, ``seq_last``, ``num_rows``)
    cover exactly ``[0, n_expected)``: no gap, no overlap, and each
    message's row count matches its range."""
    rows = sorted(
        zip(
            messages.column("seq_first").to_pylist(),
            messages.column("seq_last").to_pylist(),
            messages.column("num_rows").to_pylist(),
        )
    )
    errors = []
    nxt = 0
    for first, last, n in rows:
        if first != nxt:
            kind = "gap" if first > nxt else "overlap"
            errors.append(f"seq {kind}: message starts at {first}, expected {nxt}")
        if n != last - first + 1:
            errors.append(f"message [{first}, {last}] holds {n} rows")
        nxt = max(nxt, last + 1)
    if nxt != n_expected:
        errors.append(f"messages end at seq {nxt - 1}, expected {n_expected - 1}")
    return errors[:5]


def decode_messages(messages: pa.Table) -> pa.Table:
    """Concatenate the Arrow IPC payloads, ordered by sequence number."""
    tables = []
    for payload in messages.column("payload").to_pylist():
        with pa.ipc.open_stream(payload) as reader:
            tables.append(reader.read_all())
    if not tables:
        return pa.table({SEQ_COL: pa.array([], pa.int64())})
    t = pa.concat_tables(tables)
    return t.sort_by(SEQ_COL)


def _doc_rows(decoded: pa.Table, docs: list[str]) -> list[dict]:
    """Decoded rows restricted to the documents' fields (the payload
    may carry helper columns such as the arrival key)."""
    fields = list(json.loads(docs[0])) if docs else []
    return decoded.select(fields).to_pylist()


def rows_equal(decoded: pa.Table, docs: list[str]) -> list[str]:
    """The decoded rows, in sequence order, equal the JSON documents
    that were sent, in arrival order, and seqs run 0..n-1."""
    errors = []
    seqs = decoded.column(SEQ_COL).to_pylist()
    if seqs != list(range(len(seqs))):
        errors.append("decoded seqs are not 0..n-1")
    if decoded.num_rows != len(docs):
        errors.append(f"decoded {decoded.num_rows} rows, sent {len(docs)} docs")
        return errors
    got = _doc_rows(decoded, docs)
    for i, (row, doc) in enumerate(zip(got, docs)):
        want = json.loads(doc)
        if row != want:
            errors.append(f"row {i}: got {str(row)[:120]}, sent {doc[:120]}")
            break
    return errors


def in_order_fraction(decoded: pa.Table, docs: list[str]) -> float:
    """Share of rows whose seq equals the arrival position of their doc."""
    got = _doc_rows(decoded, docs)
    same = sum(r == json.loads(d) for r, d in zip(got, docs))
    return same / max(len(docs), 1)
