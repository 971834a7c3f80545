"""corpus_dedup: registry dedup / sketch / tokenizer queries into a
noop sink, on the repo's fixed sf0.01 test tables.

``functions.*`` and the eager jobs that query construction launches
dominate here; no ``operators`` or ``streaming`` code runs. The unit of
work is one pass over the queries, in an order drawn from the seed.
Each query is checked against its DuckDB oracle in the warm-up pass,
outside the timed passes.
"""

from __future__ import annotations

import os
import random
import time

import harness
from metrics import CORPUS_QUERIES, with_zeros

# A byte-identical copy of the repo's sf0.01 test tables (500 documents),
# read-only; the DuckDB oracle opens a view on every table. README.md,
# "Scope", says why not sf0.1.
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
MIN_PASSES = 2  # a median needs a second warm pass on a slow box


def run(ctx: harness.Context) -> harness.Outcome:
    from bolson_spark.oracle import compare_query, duckdb_connection
    from bolson_spark.queries import QUERIES
    from bolson_spark.session import load_table

    out = harness.Outcome()

    def prepare(prev):
        spark = harness.new_session(prev)
        load_table(spark, DATA, "documents").schema
        return spark, None

    with ctx.phase("setup"):
        spark, _, out.e2e["setup_s"], setup_times = harness.timed_setups(prepare)
    ctx.rss.attach(spark)

    # Warm-up: the output check (each query against its oracle), then
    # one untimed pass, without which the first timed passes still run
    # 20-60 % slower.
    con = duckdb_connection(DATA)
    with ctx.phase("warmup"):
        for q in CORPUS_QUERIES:
            try:
                res = compare_query(spark, con, q, DATA)
                out.check(res.ok, f"{q}: {res.detail}")
            except Exception as e:  # noqa: BLE001 — a raised query is a failed op
                out.check(False, f"{q}: raised {e!r:.300}")
            ctx.rss.sample()
        con.close()
        for q in CORPUS_QUERIES:
            if not any(f.startswith(f"{q}:") for f in out.check_failures):
                QUERIES[q].fn(spark, DATA).write.mode("overwrite").format("noop").save()
    warmup_s = ctx.phases["warmup"]

    rng = random.Random(ctx.seed)
    times = {q: {"build": [], "exec": [], "plan": []} for q in CORPUS_QUERIES}
    passes = 0
    deadline = time.perf_counter() + ctx.seconds
    while passes < MIN_PASSES or time.perf_counter() < deadline:
        order = list(CORPUS_QUERIES)
        rng.shuffle(order)
        with ctx.phase("timed"):
            for q in order:
                out.attempted += 1
                try:
                    _timed_query(ctx, spark, QUERIES[q].fn, q, times[q])
                except Exception as e:  # noqa: BLE001
                    out.failed += 1
                    out.check_failures.append(f"{q} (timed): raised {e!r:.300}")
                ctx.rss.sample()
        passes += 1

    med = {
        q: {k: harness.median(v) for k, v in t.items()} for q, t in times.items()
    }
    batch_s = sum(m["build"] + m["exec"] for m in med.values())
    out.e2e["latency_p50_ms"] = batch_s * 1e3
    peak_rss_mb = ctx.rss.peak_mb()
    out.detail = {
        "peak_rss_mb": peak_rss_mb,
        "passes": passes,
        "setup_times_s": setup_times,
        "warmup_s": warmup_s,
        "query_s": {q: times[q] for q in CORPUS_QUERIES},
    }
    spark.stop()
    if ctx.trace:
        jobs = harness.read_event_log(ctx.run_dir)
        timed = [j for j in jobs if j.group.startswith("t:")]
        layers = {
            f"exec.{k}": v for k, v in harness.summarize_jobs(timed, passes).items()
        }
        layers["session.launch_s"] = setup_times[0]
        layers["mem.peak_rss_mb"] = peak_rss_mb
        layers["setup.warmup_s"] = warmup_s
        for q in CORPUS_QUERIES:
            build = [j for j in timed if j.group == f"t:build:{q}"]
            both = [j for j in timed if j.group in (f"t:build:{q}", f"t:exec:{q}")]
            s = harness.summarize_jobs(both, passes)
            layers.update(
                {
                    f"{q}.build_s": med[q]["build"],
                    f"{q}.build_jobs": len(build) / passes,
                    f"{q}.plan_ms": med[q]["plan"],
                    f"{q}.exec_s": med[q]["exec"],
                    f"{q}.task_s": s["task_s"],
                    f"{q}.shuffle_mb": s["shuffle_mb"],
                }
            )
        out.layers = with_zeros(layers)
    return out


def _timed_query(ctx, spark, fn, q, acc) -> None:
    """fn() (query build, with its eager jobs) then the noop write
    (planning + execution). Traced, the planning phases are read from
    the built frame before the write."""
    tr = ctx.tracer
    with harness.job_group(spark, f"t:build:{q}"), tr.span("build", query=q):
        t0 = time.perf_counter()
        df = fn(spark, DATA)
        t1 = time.perf_counter()
    if ctx.trace:
        with tr.span("plan", query=q):
            acc["plan"].append(harness.plan_ms(df))
    with harness.job_group(spark, f"t:exec:{q}"), tr.span("exec", query=q):
        t2 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        t3 = time.perf_counter()
    acc["build"].append(t1 - t0)
    acc["exec"].append(t3 - t2)
