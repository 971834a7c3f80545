"""stream_socket: the socket stream, end to end and by layer. Run by
hand; ``BENCHMARK.json`` does not list it, because its content check
fails on the program at HEAD (README.md, "Known defect").

An open loop: one generator process serves one TCP connection per
stream query and sends seeded battery documents on a fixed schedule,
whatever the stream does. The docs go through ``run_stream_convert``
with its defaults (catalyst parser, ``on_error="fail"``, unstaged) into
an ``IpcFileSink``. The first stream steps through a low and a high rate
(the ladder), pauses, and sends one burst whose drain rate is the
stream's capacity. The second holds the quarantine rung: a low rate
with a fixed share of malformed documents and ``on_error="quarantine"``.

A document's latency runs from the time its chunk was due at the
generator to the return of the sink write that published it. The
k-th sink write publishes seqs ``[sum(batches[:k]), sum(batches[:k+1]))``
of the ``StreamMetrics.batches`` the pipeline returns. The output check
wants the published rows, in seq order, to equal the clean documents in
the order they were sent.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import socket
import time
from datetime import datetime

import numpy as np

import checks
import convert_layers
import harness
import inputs
from metrics import RUNGS, STREAM_LAYERS, with_zeros

RATE_LO = 1_000  # docs/s
# docs/s: a quarter of the ~10 k docs/s burst drain rate. Nearer
# capacity a slow batch grows the next one, which amplifies run-to-run
# noise (batch time = fixed cost / (1 - per-doc cost x rate)).
RATE_HI = 2_500
BURST_DOCS = 40_000
BAD_FRAC = 0.05  # malformed share on the quarantine rung
CHUNK_S = 0.05  # the generator sends one chunk every 50 ms
# Left out of the metrics: the first micro-batches of a stream query
# run up to 3x slower, and their backlog takes a few batches to clear.
WARM_S = 9.0
QUAR_WARM_S = 2.0  # the quarantine stream starts on a warm JVM
GAP_S = 3.0  # idle time before the burst, so it starts on a drained stream
PRIMER_DOCS = 20
WARMUP_DOCS = 20_000  # batch-converted once before the streams start
DRAIN_TIMEOUT_S = 60.0
POLL_S = 0.5
QUAR = 1  # stream index of the quarantine stream (the ladder is 0)


def _schedule(segments):
    """segments: (rung, rate docs/s, seconds) or (rung, docs, None) for
    one chunk of ``docs``. Returns (due offsets, rung per chunk, docs
    per chunk)."""
    offs, rungs, sizes, t = [], [], [], 0.0
    for rung, rate, secs in segments:
        if secs is None:
            offs.append(t)
            rungs.append(rung)
            sizes.append(rate)
            continue
        per = int(round(rate * CHUNK_S))
        for _ in range(int(round(secs / CHUNK_S))):
            offs.append(t)
            rungs.append(rung)
            sizes.append(per)
            t += CHUNK_S
    return np.array(offs), rungs, np.array(sizes, dtype=np.int64)


def _generator(pipe, streams) -> None:
    """Serve each stream's connection in turn and send its chunks on
    schedule. Reports (port), then per stream (t0) and the lateness of
    each chunk, and closes a connection when the parent says so."""
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    pipe.send(srv.getsockname()[1])
    try:
        for offsets, payloads in streams:
            conn, _ = srv.accept()
            t0 = time.time()
            pipe.send(t0)
            late = []
            for off, data in zip(offsets, payloads):
                wait = t0 + off - time.time()
                if wait > 0:
                    time.sleep(wait)
                late.append(time.time() - (t0 + off))
                conn.sendall(data)
            pipe.send(late)
            pipe.recv()  # parent: stream stopped, close the connection
            conn.close()
    finally:
        srv.close()


class TimedSink:
    """Times each ``write`` of the wrapped sink (the publish)."""

    def __init__(self, sink, tracer):
        self.sink = sink
        self.tracer = tracer
        self.writes: list[tuple[float, float]] = []

    def handshake(self, expected) -> None:
        self.sink.handshake(expected)

    def write(self, serialized) -> None:
        with self.tracer.span("sink.write"):
            t0 = time.time()
            self.sink.write(serialized)
            self.writes.append((t0, time.time()))


def run(ctx: harness.Context) -> harness.Outcome:
    from bolson_spark.schemas import BATTERY_SPARK

    out = harness.Outcome()

    def prepare(prev):
        return harness.new_session(prev), None

    with ctx.phase("setup"):
        spark, _, out.e2e["setup_s"], setup_times = harness.timed_setups(prepare)
    ctx.rss.attach(spark)
    # On a cold JVM the first micro-batches run several times slower than
    # the schedule and the backlog never clears within the warm-up rung:
    # a batch convert (and its output check) warms parse and serialize.
    with ctx.phase("warmup"):
        docs = inputs.battery_docs(WARMUP_DOCS, ctx.seed)
        path = os.path.join(ctx.run_dir, "inputs", "warmup.parquet")
        convert_layers.check_convert(spark, out, "battery", docs, BATTERY_SPARK, path)
    streams = measure(ctx, spark, out)
    out.e2e["latency_p50_ms"] = streams[0]["layers"]["lo.latency_p50_ms"]
    peak_rss_mb = ctx.rss.peak_mb()
    out.detail = {
        "peak_rss_mb": peak_rss_mb,
        "setup_times_s": setup_times,
        "streams": [{k: v for k, v in r.items() if k != "layers"} for r in streams],
    }
    spark.stop()
    if not ctx.trace:
        return out
    jobs = harness.read_event_log(ctx.run_dir)
    layers = {}
    for res in streams:
        layers.update(res["layers"])
    layers.update(jobs_layers(jobs, streams))
    windows = [w for res in streams for w in res["windows"].values()]
    in_rungs = [j for j in jobs if any(a <= j.submit_s <= b for a, b, _ in windows)]
    n_batches = sum(n for _, _, n in windows)
    layers.update({f"exec.{k}": v for k, v in harness.summarize_jobs(in_rungs, n_batches).items()})
    layers["session.launch_s"] = setup_times[0]
    layers["mem.peak_rss_mb"] = peak_rss_mb
    layers["setup.warmup_s"] = ctx.phases["warmup"]
    out.layers = with_zeros(layers, STREAM_LAYERS)
    return out


def measure(ctx: harness.Context, spark, out: harness.Outcome) -> list[dict]:
    """Run the ladder stream (with the burst) and the quarantine stream;
    returns one result per stream, whose ``layers`` hold the per-layer
    metrics of its rungs. ``jobs_layers`` adds the job counts from the
    event log once the session has stopped."""
    from bolson_spark.schemas import BATTERY_SPARK

    lo_s = max(1.0, 0.45 * ctx.seconds)
    hi_s = max(1.0, 0.2 * ctx.seconds)
    quar_s = max(1.0, 0.2 * ctx.seconds)
    plans = [
        _schedule(
            [
                ("warm", RATE_LO, WARM_S),
                ("lo", RATE_LO, lo_s),
                ("hi", RATE_HI, hi_s),
                ("gap", 0, GAP_S),
                # a small batch in flight when the burst lands, so the
                # whole burst waits for, and fills, the next micro-batch
                ("primer", PRIMER_DOCS, None),
                ("gap", 0, 0.3),
                ("burst", BURST_DOCS, None),
            ]
        ),
        _schedule([("warm", RATE_LO, QUAR_WARM_S), ("quar", RATE_LO, quar_s)]),
    ]
    docs, payloads = [], []
    for i, (offs, _, sizes) in enumerate(plans):
        d = inputs.battery_docs(int(sizes.sum()), ctx.seed * 2 + i)
        bad = inputs.bad_positions(len(d), BAD_FRAC) if i == QUAR else [False] * len(d)
        sent = [inputs.corrupt(x) if b else x for x, b in zip(d, bad)]
        bounds = np.concatenate([[0], np.cumsum(sizes)])
        payloads.append(
            [
                "".join(s + "\n" for s in sent[a:b]).encode()
                for a, b in zip(bounds[:-1], bounds[1:])
            ]
        )
        docs.append((d, np.array(bad)))

    mpc = mp.get_context("spawn")
    parent, child = mpc.Pipe()
    gen = mpc.Process(
        target=_generator,
        args=(child, [(p[0], pl) for p, pl in zip(plans, payloads)]),
        daemon=True,
    )
    gen.start()
    try:
        port = parent.recv()
        results = []
        for i in range(len(plans)):
            with ctx.phase(f"stream{i}"):
                results.append(
                    _run_stream(ctx, spark, parent, port, i, plans[i], docs[i],
                                i == QUAR, BATTERY_SPARK, out)
                )
    finally:
        gen.join(30)
        if gen.is_alive():
            gen.terminate()
            gen.join(5)
    return results


def jobs_layers(jobs, results) -> dict:
    """Jobs per micro-batch of each rung, from the event log."""
    layers = {}
    for res in results:
        for rung, (start, end, n_batches) in res["windows"].items():
            if rung in RUNGS:
                in_rung = [j for j in jobs if start <= j.submit_s <= end]
                layers[f"{rung}.jobs_per_batch"] = len(in_rung) / max(n_batches, 1)
    return layers


def _published(query) -> int:
    return sum(1 for p in query.recentProgress if p.numInputRows > 0)


def _run_stream(ctx, spark, pipe, port, idx, plan, docs, quarantine, schema, out):
    from bolson_spark.sources import read_socket_stream
    from bolson_spark.streaming import run_stream_convert
    from bolson_spark.streaming.sink import IpcFileSink

    offsets, chunk_rung, sizes = plan
    texts, bad = docs
    base = os.path.join(ctx.run_dir, f"stream{idx}")
    sink = TimedSink(IpcFileSink(os.path.join(base, "topic")), ctx.tracer)
    kwargs = {}
    if quarantine:
        kwargs = {"on_error": "quarantine", "quarantine_dir": os.path.join(base, "quarantine")}
    query, m = run_stream_convert(
        read_socket_stream(spark, "127.0.0.1", port),
        schema,
        sink,
        available_now=False,
        **kwargs,
    )
    n_sent = int(sizes.sum())
    n_bad = int(bad.sum())
    try:
        t0 = pipe.recv()
        late = None
        deadline = None
        while True:
            if query.exception() is not None:
                raise RuntimeError(f"stream query failed: {query.exception()}")
            if late is None and pipe.poll():
                late = np.array(pipe.recv())
                deadline = time.time() + DRAIN_TIMEOUT_S
            if late is not None and m.num_jsons + m.num_quarantined >= n_sent:
                break
            if deadline is not None and time.time() > deadline:
                raise RuntimeError(
                    f"stream drained {m.num_jsons + m.num_quarantined}/{n_sent} "
                    f"docs in {DRAIN_TIMEOUT_S} s"
                )
            # the micro-batch callbacks run in this process: poll gently
            time.sleep(POLL_S)
        # the last batch's progress is posted just after its publish
        deadline = time.time() + 10
        while time.time() < deadline and _published(query) < len(m.batches):
            time.sleep(POLL_S)
    finally:
        query.stop()
        pipe.send("close")
    progress = [p for p in query.recentProgress if p.numInputRows > 0]

    # --- output checks (outside the timed stream)
    import pyarrow.parquet as pq

    clean_texts = [t for t, b in zip(texts, bad) if not b]
    msgs = pq.read_table(sink.sink.data_path)
    errs = checks.seq_cover(msgs, len(clean_texts))
    out.check(not errs, f"stream {idx} seq cover: {errs}")
    decoded = checks.decode_messages(msgs)
    errs = checks.rows_equal(decoded, clean_texts)
    out.check(not errs, f"stream {idx} content: {errs}")
    if quarantine:
        n_q = pq.read_table(kwargs["quarantine_dir"]).num_rows
        out.check(
            m.num_quarantined == n_bad and n_q == n_bad,
            f"quarantined {m.num_quarantined} counted / {n_q} stored, sent {n_bad} bad",
        )
    out.attempted += len(m.batches)

    # --- per-doc timing
    doc_chunk = np.repeat(np.arange(len(sizes)), sizes)[~bad]
    due = t0 + offsets[doc_chunk]
    n_batches = np.array(m.batches, dtype=np.int64)
    if len(n_batches) != len(sink.writes):
        raise RuntimeError(f"{len(n_batches)} batches but {len(sink.writes)} sink writes")
    pub_end = np.array([w[1] for w in sink.writes])
    batch_of_doc = np.repeat(np.arange(len(n_batches)), n_batches)
    lat_ms = (pub_end[batch_of_doc] - due) * 1e3
    doc_rung = np.array(chunk_rung)[doc_chunk]
    # the k-th progress entry with input rows is the k-th published
    # batch; the last one may not be posted yet when the query stops
    starts = np.full(len(n_batches), np.nan)
    trig_ms = np.full(len(n_batches), np.nan)
    for k, p in enumerate(progress[: len(n_batches)]):
        starts[k] = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        trig_ms[k] = p.durationMs.get("triggerExecution", np.nan)
    cum_pub = np.cumsum(n_batches)
    # docs due (clean ones) by each publish time
    due_by = np.searchsorted(np.sort(due), pub_end, side="right")
    backlog = due_by - cum_pub
    first_doc_rung = doc_rung[np.concatenate([[0], cum_pub[:-1]])]
    chunk_late_ms = late * 1e3

    layers, windows = {}, {}
    for rung in sorted(set(chunk_rung) - {"warm", "gap", "primer"}):
        sel = doc_rung == rung
        bsel = first_doc_rung == rung
        cl = chunk_late_ms[np.array(chunk_rung) == rung]
        if rung == "burst":
            # drain rate of a full backlog: burst docs over the processing
            # time of the micro-batch(es) that published them
            bidx = np.unique(batch_of_doc[sel])
            span_s = pub_end[bidx[-1]] - starts[bidx[0]]
            layers["burst.docs_per_s"] = sel.sum() / span_s
            windows[rung] = (starts[bidx[0]], pub_end[bidx[-1]], len(bidx))
            continue
        wait_ms = (starts[batch_of_doc[sel]] - due[sel]) * 1e3
        layers.update(
            {
                f"{rung}.latency_p50_ms": harness.percentile(lat_ms[sel], 50),
                f"{rung}.latency_p99_ms": harness.percentile(lat_ms[sel], 99),
                f"{rung}.batches": float(bsel.sum()),
                f"{rung}.docs_per_batch_p50": harness.median(n_batches[bsel]),
                f"{rung}.batch_ms_p50": harness.median(trig_ms[bsel]),
                f"{rung}.sink_write_ms_p50": harness.median(
                    [(sink.writes[k][1] - sink.writes[k][0]) * 1e3 for k in np.nonzero(bsel)[0]]
                ),
                f"{rung}.source_wait_ms_p50": harness.percentile(np.maximum(wait_ms, 0), 50),
                f"{rung}.backlog_docs_max": float(backlog[bsel].max()) if bsel.any() else 0.0,
                f"{rung}.generator_late_ms_max": float(cl.max()) if len(cl) else 0.0,
            }
        )
        bidx = np.nonzero(bsel)[0]
        if len(bidx):
            windows[rung] = (starts[bidx[0]], pub_end[bidx[-1]], len(bidx))
    ctx.rss.sample()
    return {
        "layers": layers,
        "windows": windows,
        "docs_sent": n_sent,
        "docs_bad": n_bad,
        "batches": m.batches,
        "batch_ms": trig_ms.tolist(),
        "in_order_frac": checks.in_order_fraction(decoded, clean_texts),
        "lat_ms_by_rung": {
            r: [float(harness.percentile(lat_ms[doc_rung == r], q)) for q in (50, 90, 99)]
            for r in sorted(set(doc_rung.tolist()))
        },
    }
