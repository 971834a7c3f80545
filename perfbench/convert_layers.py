"""The batch convert path, ``operators.convert(serialize=True)``, split
by layer from outside the program.

``convert`` composes ``parse_json -> add_seq -> rebatch ->
serialize_ipc``. Each prefix of that composition is materialised into
a noop sink; a layer's time is the difference between the median times
of consecutive prefixes. The output of ``convert`` itself is checked
once, outside the timed materialisations.
"""

from __future__ import annotations

import os
import time

import checks
import harness
import inputs

# materialisations per prefix: a full-size convert takes seconds, and a
# traced run must stay within the run-time limit
REPS = 2


def cached_frame(spark, docs, path):
    """``docs`` as a cached ``(arrival, value)`` frame, materialised;
    ``path`` is the parquet file they go through."""
    if not os.path.exists(path):
        inputs.write_docs(path, docs)
    raw = spark.read.parquet(path).cache()
    raw.count()
    return raw


def check_convert(spark, out, name, docs, schema, path) -> None:
    """Message row totals, contiguous seqs, and the IPC round trip equal
    to the parsed input."""
    from bolson_spark.operators import convert

    raw = cached_frame(spark, docs, path)
    try:
        msgs = convert(raw, schema, "value", "arrival", serialize=True).toArrow()
        errs = checks.seq_cover(msgs, len(docs))
        out.check(not errs, f"{name} convert seq cover: {errs}")
        errs = checks.rows_equal(checks.decode_messages(msgs), docs)
        out.check(not errs, f"{name} convert round trip: {errs}")
    finally:
        raw.unpersist()


def prefix_split(ctx, spark, name, docs, schema, path) -> dict:
    """Per-layer seconds, job count, plan time and MJ/s of converting
    ``docs``; job counts come from the event log, so the caller fills
    ``<name>.jobs`` after the session stops (see ``jobs_per_convert``)."""
    from bolson_spark import MAX_IPC_SIZE, MAX_ROWS_DEFAULT
    from bolson_spark.operators import add_seq, parse_json, rebatch, serialize_ipc

    def compose():
        parsed = parse_json(raw, schema, "value", strict=True, keep=["arrival"])
        seqd = add_seq(parsed, "arrival")
        batched = rebatch(seqd, max_rows=MAX_ROWS_DEFAULT)
        ser = serialize_ipc(batched, max_rows=MAX_ROWS_DEFAULT, max_ipc_size=MAX_IPC_SIZE)
        return (("parse", parsed), ("seq", seqd), ("rebatch", batched), ("serialize", ser))

    raw = cached_frame(spark, docs, path)
    prefixes = compose()
    med = {}
    for layer, df in prefixes:
        times = []
        for _ in range(REPS):
            with harness.job_group(spark, f"t:{name}:{layer}"), ctx.tracer.span(
                f"convert.{layer}", schema=name
            ):
                t0 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                times.append(time.perf_counter() - t0)
            ctx.rss.sample()
        med[layer] = harness.median(times)
    # planning phases of a frame built just now: the tracker stretches a
    # phase re-entered later over the whole interval in between
    plan = harness.plan_ms(compose()[-1][1])
    raw.unpersist()
    prev = 0.0
    layers = {}
    for layer, _ in prefixes:
        layers[f"{name}.{layer}_s"] = med[layer] - prev
        prev = med[layer]
    layers[f"{name}.mjs"] = len(docs) / med["serialize"] / 1e6
    layers[f"{name}.plan_ms"] = plan
    return layers


def jobs_per_convert(jobs, name: str) -> float:
    """Spark jobs one full convert (the serialize prefix) launched."""
    return sum(1 for j in jobs if j.group == f"t:{name}:serialize") / REPS
