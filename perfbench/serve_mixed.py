"""serve_mixed: one closed-loop client over a model trained before the
measured window, sending a seeded 9:1 mix of score requests and online
updates (one update at a seeded position in every block of ten
operations).

- score request: 8 candidate items for one user, through
  ``FMModel.transform(...).collect()``;
- online update: 256 labelled interactions through
  ``OnlineFMTrainer.process_batch`` — one mini-batch SGD step
  (``FMRegressorSGD._sgd_step``).  The first request after an update
  scores on a fresh ``trainer.model()``, so reads see writes.

The client runs whole blocks until ``--seconds`` have passed.  Unit of
work: one operation of either kind.  ``items_per_s`` is operations/s,
``op_p50_ms``/``op_p90_ms`` are score-request latencies, and
``op_max_ms`` is the slowest operation of a block (median over blocks):
the update, which takes about 2.5 times a score request.  Checks: every
response has one row per candidate, and on the first request and the
first after each update every prediction matches a NumPy evaluation of
the FM formula on the collected parameters within 1e-9.  An update fails
when its loss is not finite.
"""

from __future__ import annotations

import math
import random
import time
from contextlib import nullcontext

from perfbench import fm_data
from perfbench.harness import (
    JobCounters, RssSampler, Tracer, dispatch_floor_ms, median, noop_write,
    patched, percentile, repeated_setup, traced_call, whole_rounds,
)

N_BASE = 1024          # interactions the set-up model is trained on
CANDIDATES = 8
UPDATE_ROWS = 256
BLOCK = 10             # each block of 10 operations holds one update
TOLERANCE = 1e-9
# the reference sample app's SGD settings; it never updates the global
# bias, which with labels in [0, 1] leaves every prediction far below
# the labels, so the intercept is on
HYPER = dict(stepSize=1.0, initialSd=0.01, regParam=0.0, minLabel=0.0,
             maxLabel=1.0, fitIntercept=True, seed=1234)
STEP_FUNCS = ("join_params", "forward_wide", "per_row_gradients_wide",
              "aggregate_gradients_merged")


def estimator():
    from fmx.fm.sgd import FMRegressorSGD

    return FMRegressorSGD(**HYPER)


class Client:
    """The closed-loop client: request generation, the two operation
    kinds, and the response checks."""

    def __init__(self, spark, gen: fm_data.Planted, trainer, tracer: Tracer,
                 seed: int, scale: float):
        from pyspark.ml.linalg import VectorUDT
        from pyspark.sql.types import (
            IntegerType, StructField, StructType,
        )

        self.spark = spark
        self.gen = gen
        self.trainer = trainer
        self.tracer = tracer
        self.model = trainer.model()
        self.stale = False
        self.first = True
        self.ops = random.Random(seed)
        self.n_ops = 0
        self.update_at = 0
        self.update_rows = max(16, int(UPDATE_ROWS * scale))
        self.batch_id = 1
        self.errors: list[str] = []
        self.update_patches: list = []   # installed around each update
        self.req_schema = StructType([
            StructField("item", IntegerType(), False),
            StructField("features", VectorUDT(), False)])

    def next_is_update(self) -> bool:
        """9:1 mix: one update per block of BLOCK operations, at a seeded
        position within the block."""
        pos = self.n_ops % BLOCK
        if pos == 0:
            self.update_at = self.ops.randrange(BLOCK)
        self.n_ops += 1
        return pos == self.update_at

    def score(self) -> tuple[float, list, list, bool]:
        """One score request; returns (seconds, request rows, response
        rows, whether this request's predictions get checked)."""
        from pyspark.ml.linalg import SparseVector

        g = self.gen
        user = int(g.rng.integers(0, fm_data.N_USERS))
        items = g.items(CANDIDATES, replace=False)
        ctx_id, ctx_val = g.contexts(1)
        rows = []
        for item in items:
            idx, val = fm_data.feature_lists(user, item, ctx_id[0], ctx_val[0])
            rows.append((int(item), SparseVector(fm_data.DIM, idx, val)))
        # check the first request, and the first after each update: it
        # reads the parameters the update wrote
        check = self.stale or self.first
        self.first = False
        t = time.perf_counter()
        with self.tracer.op("serve.score"):
            if self.stale:
                with self.tracer.span("online.model"):
                    self.model = self.trainer.model()
                self.stale = False
            df = self.spark.createDataFrame(rows, self.req_schema)
            with self.tracer.span("model.transform"):
                out = self.model.transform(df)
            with self.tracer.span("model.request_exec"):
                resp = out.select("item", "prediction").collect()
        return time.perf_counter() - t, rows, resp, check

    def update(self) -> tuple[float, bool]:
        r = self.gen.ratings(self.update_rows)
        df = self.spark.createDataFrame(fm_data.to_rows(r),
                                        fm_data.rating_schema())
        n_losses = len(self.trainer.losses)
        t = time.perf_counter()
        with self.tracer.op("serve.update"), patched(self.update_patches):
            with self.tracer.span("online.process_batch"):
                self.trainer.process_batch(df, self.batch_id)
        d = time.perf_counter() - t
        self.batch_id += 1
        self.stale = True
        losses = self.trainer.losses[n_losses:]
        return d, len(losses) == 1 and math.isfinite(losses[0])

    def response_ok(self, rows, resp, check: bool) -> bool:
        if sorted(r.item for r in resp) != sorted(item for item, _ in rows):
            return False
        if not check:
            return True
        return self.predictions_match(rows, {r.item: r.prediction
                                             for r in resp})

    def predictions_match(self, rows, preds: dict) -> bool:
        from pyspark.sql import functions as F

        m = self.model
        ids = sorted({int(i) for _, v in rows for i in v.indices})
        strength = {r.featureId: r.strength for r in m.strength.where(
            F.col("featureId").isin(ids)).collect()}
        factors = {r.featureId: r.vec for r in m.factors.where(
            F.col("featureId").isin(ids)).collect()}
        for item, v in rows:
            want = fm_data.fm_predict(
                m.global_bias, strength, factors, [int(i) for i in v.indices],
                [float(x) for x in v.values], m.getMinLabel(), m.getMaxLabel())
            if not abs(preds[item] - want) <= TOLERANCE:
                return False
        return True


def run(ctx) -> dict:
    from fmx.fm.online import OnlineFMTrainer

    def build(spark, rep):
        gen = fm_data.Planted.from_seed(ctx.seed)
        base = gen.ratings(max(256, int(N_BASE * ctx.scale)))
        base_df = spark.createDataFrame(fm_data.to_rows(base),
                                        fm_data.rating_schema()).cache()
        base_df.count()
        return gen, base_df

    tracer = Tracer(enabled=False)
    rss = RssSampler().start()
    values: dict[str, float] = {}
    try:
        spark, (gen, base_df), setup, session = repeated_setup(ctx, build)
        values["setup_s"] = median(setup)
        # untimed: train the model (one online SGD step over the base
        # ratings, which also initializes the parameters), then one update
        # and one score request, so the first measured update and request
        # do not pay first-run costs
        t = time.perf_counter()
        trainer = OnlineFMTrainer(estimator())
        trainer.process_batch(base_df, 0)
        warm = Client(spark, gen, trainer, tracer, ctx.seed + 1, ctx.scale)
        warm.update()
        warm.score()
        ctx.details["warm_up_s"] = round(time.perf_counter() - t, 3)
        client = Client(spark, gen, trainer, tracer, ctx.seed, ctx.scale)
        if ctx.trace:
            attempted, failed = _traced(ctx, spark, client, values)
            values["session.start_s"] = session[0]
        else:
            attempted, failed, scores, updates, slowest = _loop(
                client, ctx.seconds)
            busy = sum(scores) + sum(updates)
            values["items_per_s"] = (len(scores) + len(updates)) / busy
            values["op_p50_ms"] = median(scores) * 1e3
            values["op_p90_ms"] = percentile(scores, 90) * 1e3
            values["op_max_ms"] = median(slowest) * 1e3
            ctx.details.update(
                blocks=len(slowest), score_requests=len(scores),
                updates=len(updates),
                serve_score_p50_ms=round(values["op_p50_ms"], 1),
                serve_score_p90_ms=round(values["op_p90_ms"], 1),
                serve_update_p50_ms=round(median(updates) * 1e3, 1)
                if updates else None,
                serve_ops_per_s=round(values["items_per_s"], 3))
        if client.errors:
            ctx.details["errors"] = client.errors[:3]
    finally:
        values["peak_rss_mb"] = rss.stop()
        ctx.details["peak_rss_parts_mb"] = {
            k: round(v, 1) for k, v in rss.parts_mb.items()}
    return {"attempted": attempted, "failed": failed, "values": values}


def _loop(client: Client, seconds: float, counters=None, acc=None):
    """Run whole blocks of operations until ``seconds`` have passed;
    returns (attempted, failed, score seconds, update seconds,
    slowest operation of each block).  An operation that raises counts as
    failed and adds no latency.  With ``counters``, each operation runs
    under its own job group and its counters add into ``acc[kind]``."""
    scores: list[float] = []
    updates: list[float] = []
    slowest: list[float] = []
    attempted = failed = 0
    for _ in whole_rounds(seconds):
        slowest.append(0.0)
        for _ in range(BLOCK):
            kind = "update" if client.next_is_update() else "score"
            group = (counters.group(kind, acc[kind]) if counters is not None
                     else nullcontext())
            attempted += 1
            try:
                with group:
                    if kind == "update":
                        d, ok = client.update()
                    else:
                        d, rows, resp, check = client.score()
                if kind == "score":
                    ok = client.response_ok(rows, resp, check)
            except Exception as e:  # counted as failed; the loop goes on
                client.errors.append(f"{kind}: {e!r}"[:300])
                failed += 1
                continue
            (updates if kind == "update" else scores).append(d)
            slowest[-1] = max(slowest[-1], d)
            failed += 0 if ok else 1
    return attempted, failed, scores, updates, slowest


def _traced(ctx, spark, client: Client, values) -> tuple[int, int]:
    """Half the window counted per job group, without spans; then half
    with spans at the model, online-trainer, SGD-step, dataflow and
    linalg boundaries.  Inside an update each dataflow and linalg output
    is materialized into the noop sink under its own job group."""
    import fmx.core.linalg as L
    import fmx.fm.dataflow as DF
    from fmx.fm.sgd import FMRegressorSGD

    values["session.dispatch_floor_ms"] = dispatch_floor_ms(spark)
    counters = JobCounters(spark)
    acc = {"score": {}, "update": {}}
    a1, f1, scores, updates, _ = _loop(client, ctx.seconds / 2, counters,
                                       acc)
    n_s, n_u = len(scores), max(1, len(updates))
    values.update({
        "model.jobs_per_request": acc["score"].get("jobs", 0) / n_s,
        "model.stages_per_request": acc["score"].get("stages", 0) / n_s,
        "model.tasks_per_request": acc["score"].get("tasks", 0) / n_s,
        "online.process_batch_ms": median(updates) * 1e3 if updates else 0.0,
        "online.jobs_per_update": acc["update"].get("jobs", 0) / n_u,
        "online.shuffle_write_bytes_per_update":
            acc["update"].get("shuffle_write_bytes", 0) / n_u,
    })

    client.tracer = tracer = Tracer(enabled=True)
    step_counts: dict = {}

    def materialize(name, df):
        with counters.group(name, step_counts):
            noop_write(df)

    client.update_patches = [(L, "explode_vector", traced_call(
        tracer, "linalg.explode_vector", L.explode_vector, materialize))]
    client.update_patches += [
        (DF, f, traced_call(tracer, f"dataflow.{f}", getattr(DF, f),
                            materialize)) for f in STEP_FUNCS]
    client.update_patches.append((FMRegressorSGD, "_sgd_step", traced_call(
        tracer, "sgd.step", FMRegressorSGD._sgd_step)))
    a2, f2, t_scores, t_updates, _ = _loop(client, ctx.seconds / 2)
    ctx.spans = tracer.spans

    def med_ms(name):
        spans = tracer.named(name)
        return median([(s["end"] - s["start"]) * 1e3 for s in spans]) \
            if spans else 0.0

    steps = tracer.named("sgd.step")
    n_steps = max(1, len(steps))
    values.update({
        "model.transform_call_ms": med_ms("model.transform"),
        "model.request_exec_ms": med_ms("model.request_exec"),
        "online.model_ms": med_ms("online.model"),
        "linalg.explode_sparse_s":
            tracer.total("linalg.explode_vector") / n_steps,
        "dataflow.join_params_s":
            tracer.total("dataflow.join_params") / n_steps,
        "dataflow.forward_wide_s":
            tracer.total("dataflow.forward_wide") / n_steps,
        "dataflow.gradients_s": (
            tracer.total("dataflow.per_row_gradients_wide")
            + tracer.total("dataflow.aggregate_gradients_merged")) / n_steps,
        "dataflow.shuffle_write_bytes_per_step":
            step_counts.get("shuffle_write_bytes", 0) / n_steps,
        "sgd.step_self_s": sum(tracer.self_time(s) for s in steps) / n_steps,
        "trace.overhead_share": (sum(t_scores) + sum(t_updates))
        / (len(t_scores) + len(t_updates))
        / ((sum(scores) + sum(updates)) / (len(scores) + len(updates)))
        - 1.0,
    })
    ctx.details.update(counted_ops=a1, traced_ops=a2, spans=len(tracer.spans))
    return a1 + a2, f1 + f2
