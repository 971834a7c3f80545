"""convert_bulk: batch ``operators.convert(..., serialize=True)`` into a
noop sink, the reference's ``bench convert``.

Seeded battery docs (short lists: seq and serialize weigh most) and
trip docs (19 fields, 118 list items: parse weighs most) are generated,
cached in Spark, and converted in alternating timed passes for
``--seconds``. No streaming orchestration runs; the unit of work is one
battery input plus one trip input. Traced runs add, after the timed
passes, the per-layer split of convert (``convert_layers``).
"""

from __future__ import annotations

import time

import os

import convert_layers
import harness
import inputs
from metrics import with_zeros

# Half the sizes of the reference's measured run (400 000 / 50 000): a
# run must stay near a minute (README.md, "Scope").
BATTERY_DOCS = 200_000  # 12 MB of JSON
TRIP_DOCS = 25_000  # 21 MB of JSON
CHECK_SHARE = 20  # the output checks convert 1/20 of each input


def run(ctx: harness.Context) -> harness.Outcome:
    from bolson_spark.operators import convert
    from bolson_spark.schemas import BATTERY_SPARK, TRIP_SPARK

    out = harness.Outcome()
    schemas = {
        "battery": (BATTERY_SPARK, inputs.battery_docs(BATTERY_DOCS, ctx.seed)),
        "trip": (TRIP_SPARK, inputs.trip_docs(TRIP_DOCS, ctx.seed)),
    }

    def prepare(prev):
        return harness.new_session(prev), None

    with ctx.phase("setup"):
        spark, _, out.e2e["setup_s"], setup_times = harness.timed_setups(prepare)
    ctx.rss.attach(spark)
    paths = {name: os.path.join(ctx.run_dir, "inputs", f"{name}.parquet") for name in schemas}
    frames = {
        name: convert_layers.cached_frame(spark, docs, paths[name])
        for name, (_, docs) in schemas.items()
    }

    def convert_pass(name, schema, group):
        with harness.job_group(spark, group), ctx.tracer.span("convert", schema=name):
            t0 = time.perf_counter()
            convert(frames[name], schema, "value", "arrival", serialize=True).write.mode(
                "overwrite"
            ).format("noop").save()
            return time.perf_counter() - t0

    # The first jobs of a JVM run several times slower (JIT, Python
    # workers) and the first full-size pass still 10-40 % slower: the
    # output checks and one untimed pass take that cost before timing.
    with ctx.phase("warmup"):
        for name, (schema, docs) in schemas.items():
            sub = docs[: len(docs) // CHECK_SHARE]
            path = os.path.join(ctx.run_dir, "inputs", f"check-{name}.parquet")
            convert_layers.check_convert(spark, out, name, sub, schema, path)
        for name, (schema, _) in schemas.items():
            convert_pass(name, schema, f"w:pass:{name}")
    times = {name: [] for name in schemas}
    passes = 0
    deadline = time.perf_counter() + ctx.seconds
    with ctx.phase("timed"):
        while passes < 2 or time.perf_counter() < deadline:
            for name, (schema, _) in schemas.items():
                out.attempted += 1
                times[name].append(convert_pass(name, schema, f"t:pass:{name}"))
            ctx.rss.sample()
            passes += 1
    for df in frames.values():
        df.unpersist()
    med = {name: harness.median(t) for name, t in times.items()}
    out.e2e["latency_p50_ms"] = sum(med.values()) * 1e3
    peak_rss_mb = ctx.rss.peak_mb()
    out.detail = {
        "passes": passes,
        "peak_rss_mb": peak_rss_mb,
        "setup_times_s": setup_times,
        "pass_s": times,
        "mjs": {name: len(schemas[name][1]) / m / 1e6 for name, m in med.items()},
    }
    if not ctx.trace:
        spark.stop()
        return out

    layers = {}
    with ctx.phase("convert_layers"):
        for name, (schema, docs) in schemas.items():
            layers.update(
                convert_layers.prefix_split(ctx, spark, name, docs, schema, paths[name])
            )
    spark.stop()
    jobs = harness.read_event_log(ctx.run_dir)
    timed = [j for j in jobs if j.group.startswith("t:pass:")]
    layers.update({f"exec.{k}": v for k, v in harness.summarize_jobs(timed, passes).items()})
    for name in schemas:
        layers[f"{name}.jobs"] = convert_layers.jobs_per_convert(jobs, name)
    layers["session.launch_s"] = setup_times[0]
    layers["mem.peak_rss_mb"] = peak_rss_mb
    layers["setup.warmup_s"] = ctx.phases["warmup"]
    out.layers = with_zeros(layers)
    return out
