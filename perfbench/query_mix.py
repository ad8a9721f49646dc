"""query_mix: one pass over the pinned query set (13 headline analytics
queries, at least one from each query module, in name order) into the
noop sink, over tables generated at set-up, with each query running for
the first time in the session.  The seed sets the order in which each
table's rows are stored; the rows, and so the results, stay the same.

After set-up, an untimed warm-up pays Spark's own first-use costs with
plain Spark over the same tables.  The measured pass then times each
query's first run: fmx's planning, code generation and execution of that
query, which a job that runs each query once pays every time.  Later
runs in the same session reach no steady state within a run: every run
of these queries generates new classes (about 400 per pass), so the JIT
keeps compiling through them.  An untimed check pass follows: every query runs
again, is collected, and its row count and order-independent checksum
must match ``expected_queries.json``.

Unit of work: one query.  ``items_per_s`` is queries/s over the measured
pass, ``op_p50_ms``/``op_p90_ms`` are percentiles of the per-query times
and ``op_max_ms`` is the slowest query.  A run measures whole passes
until ``--seconds`` have passed, each in a fresh session, and takes each
query's median over them; at the benchmark's sizes one pass outlasts
``run_seconds``.
"""

from __future__ import annotations

import json
import sys
import time
from contextlib import nullcontext

from perfbench import checksum, tables
from perfbench.harness import (
    JobCounters, RssSampler, Tracer, dispatch_floor_ms, median, noop_write,
    patched, percentile, repeated_setup, shutdown, start_session,
    traced_call, whole_rounds,
)
from perfbench.metrics import HERE, headline_queries


def _specs():
    import fmx.queries as Q

    registry = Q.all_queries()
    return {name: registry[name] for name in headline_queries()}


def spark_warm_up(spark, data: str) -> None:
    """Pay the engine's first-use costs -- reading every table through
    ``fmx.sources.load_table``, then joins, aggregation, windows, sorting,
    explode and higher-order functions in plain Spark -- so the measured
    pass does not charge them to whichever query runs first.  No Python
    UDF: none of the queries starts Python workers."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fmx.sources import TABLES, load_table

    def read(name):
        return load_table(spark, data, name)

    for name in TABLES:
        noop_write(read(name))
    li, orders, events = read("lineitem"), read("orders"), read("events")
    docs, emb = read("documents"), read("embeddings")
    key = li.l_orderkey == orders.o_orderkey
    by_user = Window.partitionBy("user_id").orderBy("ts")
    for df in (
        li.join(orders, key).groupBy("o_orderpriority").agg(
            F.sum("l_extendedprice"), F.avg("l_discount"), F.count("*")),
        li.join(F.broadcast(orders.where("o_orderstatus = 'F'")), key)
          .select(F.year("o_orderdate").alias("y"), "l_quantity")
          .groupBy("y").agg(F.max("l_quantity")),
        events.withColumn("rn", F.row_number().over(by_user))
              .withColumn("prev", F.lag("ts").over(by_user))
              .where("rn > 1"),
        emb.select("vec_id", F.posexplode("embedding"))
           .groupBy("pos").agg(F.sum("col")),
        emb.select(F.aggregate("embedding", F.lit(0.0),
                               lambda a, x: a + x * x).alias("n2"),
                   F.transform("embedding", lambda x: x * 2).alias("v2")),
        docs.select(F.explode(F.split("text", " ")).alias("w"))
            .groupBy("w").count().orderBy(F.desc("count")).limit(10),
    ):
        noop_write(df)


def _pass(ctx, spark, data, specs, order, around=None):
    """Run every query in ``order`` into the noop sink, each inside
    ``around(name)`` when given; returns the per-query wall times and the
    number of queries that raised."""
    times, failed = [], 0
    for name in order:
        t = time.perf_counter()
        try:
            with around(name) if around else nullcontext():
                noop_write(specs[name].fn(spark, data))
        except Exception as e:  # counted as failed; the pass goes on
            failed += 1
            ctx.details[f"error.{name}"] = repr(e)[:200]
        times.append(time.perf_counter() - t)
    return times, failed


def _check_pass(ctx, spark, data, specs, order, expected) -> int:
    """Run every query in ``order`` once, collect it and compare it with
    its expected summary; returns the number of queries that raised or
    did not match."""
    failed = 0
    for name in order:
        want = expected[name]
        try:
            pdf = specs[name].fn(spark, data).toPandas()
            diffs = checksum.compare(
                checksum.summarize(pdf, checksum.kinds_of(want)), want)
        except Exception as e:  # counted as failed; the pass goes on
            diffs = [repr(e)]
        if diffs:
            failed += 1
            ctx.details[f"mismatch.{name}"] = "; ".join(diffs)[:300]
    return failed


def run(ctx) -> dict:
    from fmx.sources import TABLES, load_table

    specs = _specs()
    # a fixed order: a first run's time depends on which queries ran
    # before it, so a seeded order moved the per-query times between runs
    order = headline_queries()
    if ctx.scale < 1.0:
        order = order[:max(2, round(len(order) * ctx.scale))]
    expected = json.loads((HERE / "expected_queries.json").read_text())

    def build(spark, rep):
        # a fresh directory per set-up, so each one pays for schema
        # discovery in fmx.sources again
        data = str(tables.write_tables(ctx.work / f"tables-{rep}",
                                       row_seed=ctx.seed))
        for name in TABLES:
            load_table(spark, data, name)
        return data

    rss = RssSampler().start()
    values: dict[str, float] = {}
    try:
        spark, data, setup, session = repeated_setup(ctx, build)
        values["setup_s"] = median(setup)
        t = time.perf_counter()
        spark_warm_up(spark, data)
        ctx.details.update(queries=len(order), warm_up_s=round(
            time.perf_counter() - t, 3))
        if ctx.trace:
            attempted, failed = _traced(ctx, spark, data, specs, order,
                                        expected, values)
            values["session.start_s"] = session[0]
        else:
            samples: dict[str, list[float]] = {name: [] for name in order}
            failed = 0
            for rnd in whole_rounds(ctx.seconds):
                if rnd:
                    # every measured pass is a first run: a new JVM
                    shutdown()
                    spark = start_session(ctx.work, ctx.cpus)
                    data = build(spark, rnd + 2)
                    spark_warm_up(spark, data)
                t, f = _pass(ctx, spark, data, specs, order)
                for name, x in zip(order, t):
                    samples[name].append(x)
                failed += f
            t = time.perf_counter()
            failed += _check_pass(ctx, spark, data, specs, order, expected)
            ctx.details["check_pass_s"] = round(time.perf_counter() - t, 3)
            passes = len(samples[order[0]])
            attempted = (passes + 1) * len(order)
            typical = {name: median(xs) for name, xs in samples.items()}
            times = list(typical.values())
            values["items_per_s"] = len(times) / sum(times)
            values["op_p50_ms"] = median(times) * 1e3
            values["op_p90_ms"] = percentile(times, 90) * 1e3
            values["op_max_ms"] = max(times) * 1e3
            ctx.details.update(
                passes=passes, query_pass_s=round(sum(times), 3),
                query_s={n: round(typical[n], 3) for n in sorted(typical)})
    finally:
        values["peak_rss_mb"] = rss.stop()
        ctx.details["peak_rss_parts_mb"] = {
            k: round(v, 1) for k, v in rss.parts_mb.items()}
    return {"attempted": attempted, "failed": failed, "values": values}


def _traced(ctx, spark, data, specs, order, expected, values):
    """The measured pass counted (each query under its own job group, no
    spans), the check pass, then an untraced and a traced pass, both
    warm, where the traced one makes every table load inside a query a
    span and materializes its table into the noop sink.  Returns
    (attempted, failed)."""
    import fmx.sources

    counters = JobCounters(spark)
    total: dict = {}
    times, failed = _pass(ctx, spark, data, specs, order,
                          lambda name: counters.group(name, total))
    first = sum(times)
    values.update({f"query.{n}_s": t for n, t in zip(order, times)})
    values.update({
        "query.jobs_per_pass": total["jobs"],
        "query.executor_cpu_s_per_pass": total["cpu_s"],
        "query.shuffle_write_bytes_per_pass": total["shuffle_write_bytes"],
        "query.busy_share": total["run_s"] / (first * ctx.cpus),
    })
    failed += _check_pass(ctx, spark, data, specs, order, expected)
    values["session.dispatch_floor_ms"] = dispatch_floor_ms(spark)
    times, f = _pass(ctx, spark, data, specs, order)
    failed += f
    plain = sum(times)

    tracer = Tracer(enabled=True)
    load = fmx.sources.load_table
    wrapper = traced_call(tracer, "sources.load_table", load,
                          lambda _name, df: noop_write(df))
    # query modules import load_table by name, so patch every binding
    modules = {fmx.sources} | {sys.modules[spec.fn.__module__]
                               for spec in specs.values()}
    targets = [(mod, attr, wrapper) for mod in modules
               for attr, obj in vars(mod).items() if obj is load]
    with patched(targets):
        times, f = _pass(ctx, spark, data, specs, order,
                         lambda name: tracer.op(f"query.{name}"))
    traced = sum(times)
    ctx.spans = tracer.spans
    values["sources.scan_s"] = tracer.total("sources.load_table")
    values["trace.overhead_share"] = traced / plain - 1.0
    ctx.details.update(first_pass_s=round(first, 3),
                       plain_pass_s=round(plain, 3),
                       traced_pass_s=round(traced, 3))
    return 4 * len(order), failed + f
