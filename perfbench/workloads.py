"""The two workloads: the reference cashflow lifecycle, closed loop, one
client.

Each workload turns a round into a list of units of work. ``serve`` runs
one pipeline iteration per round; ``query_mix`` runs one pass over its 30
registry queries per round. A unit times only the engine's work; its
output check runs after the clock stops.

Traced runs wrap every call into an engine layer in a span. Spark is lazy,
so a traced unit also materialises each stage's output (only the columns
the next stage reads) to charge the stage its own time; ``Context.keep``
does that and is a no-op when tracing is off.
"""

from __future__ import annotations

import contextlib
import math
import random
import sys
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from functools import partial
from pathlib import Path

from perfbench import checks, tables

END_DATE = "2020-03-31"  # last day of the 487-day 2018-12-01.. axis
X_DAYS, Y_DAYS = 365, 92
N_DAYS = 487
ONE_MONTH_DAYS = 31  # r2_metrics' default
BATCH_SIZE = 200


@dataclass
class Unit:
    """One timed unit of work: a pipeline iteration or a query."""

    name: str
    seconds: float
    items: int
    ok: bool
    family: str = ""
    counters: dict[str, float] = field(default_factory=dict)
    # set by the runner
    group: str = ""
    round: int = -1


@dataclass
class Context:
    spark: object
    work: Path
    cache: Path
    seed: int
    tracer: object
    check_s: float = 0.0
    _kept: list = field(default_factory=list)

    @contextlib.contextmanager
    def checking(self) -> Iterator[None]:
        """Time spent here is checking, not set-up or work."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0

    def keep(self, df, cols: list[str]):
        """Traced runs: cache and force ``cols`` of ``df``."""
        if not self.tracer.enabled:
            return df
        out = df.select(*cols).cache()
        out.count()
        self._kept.append(out)
        return out

    def release(self) -> None:
        for df in self._kept:
            df.unpersist()
        self._kept.clear()


class Workload:
    name = ""
    # untimed rounds before timing starts: the first is cold (class
    # loading, JIT); on serve the JIT keeps speeding up the interpreted
    # array functions for several more
    warmup_rounds = 1

    def setup(self, ctx: Context) -> None:
        """Make the inputs."""

    def round(self, ctx: Context, r: int) -> list[tuple[str, Callable[[], Unit]]]:
        raise NotImplementedError


def _write_series_table(ctx: Context, n_series: int, path: str) -> str:
    """The reference's ``create_time_series`` job: generate ``n_series``
    487-day series from the run's seed and write them as parquet."""
    from time_series_prediction_spark.sources.generate import generate_series_frame
    from time_series_prediction_spark.sources.io import write_parquet

    t = ctx.tracer
    with t.span("generate.gen"):
        df = ctx.keep(
            generate_series_frame(ctx.spark, n_series, seed=ctx.seed),
            ["primaryaccountholder", "transactiondate", "balance", "signal_type"],
        )
    with t.span("io.write"):
        write_parquet(df, path)
    ctx.release()
    return path


def _failed(why: str) -> None:
    print(f"perfbench: serve set-up check failed: {why}", file=sys.stderr)
    return None


def _timed_factory(ctx: Context, factory):
    """Wrap a model factory so executors add their forward-pass time to
    an accumulator."""
    acc = ctx.spark.sparkContext.accumulator(0.0)

    def make():
        predict = factory()

        def timed(x):
            t0 = time.perf_counter()
            y = predict(x)
            acc.add(time.perf_counter() - t0)
            return y

        return timed

    return make, acc


class Serve(Workload):
    """The lifecycle on a 487-day table. Set-up generates and writes the
    table and trains the 1-D CNN for one epoch on it (T.1 to T.3); each
    iteration then reads, cleans, pre-processes, scores with that model,
    post-processes and evaluates R² (S.1 to S.3 plus E.2)."""

    name = "serve"
    n_series = 2000
    warmup_rounds = 5

    def setup(self, ctx: Context) -> None:
        from time_series_prediction_spark.model.numpy_cnn import NumpyCNN1D
        from time_series_prediction_spark.model.scoring import numpy_cnn_factory

        self.table = _write_series_table(ctx, self.n_series, str(ctx.work / "series"))
        model = NumpyCNN1D(X_DAYS, Y_DAYS, seed=ctx.seed)
        losses, _ = _train_epoch(ctx, self.table, model)
        weights = str(ctx.work / "cnn.npz")
        model.save(weights)
        self.factory = numpy_cnn_factory(weights, X_DAYS, Y_DAYS)
        with ctx.checking():
            if losses and all(math.isfinite(v) for v in losses):
                self.reference = self._reference(ctx, model)
            else:
                self.reference = _failed(f"the training epoch gave losses {losses}")

    def _reference(self, ctx: Context, model) -> tuple | None:
        """The ``(n_series, r2_3month, r2_1month)`` every iteration must
        return, worked out without Spark's pipeline; None (so that every
        iteration fails) when the table or the scores are wrong.

        The table's first series must equal DuckDB's draw-for-draw replay
        of the generator. The scored frame must hold exactly the series
        ``clean_series`` should keep, by a NumPy recount over the table,
        and its predictions must equal the model's run on the driver.
        Both R² values are recomputed with NumPy from the table's
        balances and the scored frame's rescaled predictions."""
        import numpy as np
        import pyarrow.parquet as pq

        from time_series_prediction_spark.model.scoring import score_dataframe
        from time_series_prediction_spark.plans.preprocess import (
            clean_series,
            post_processing,
            pre_processing,
        )
        from time_series_prediction_spark.sources.io import read_parquet

        if not checks.replays_generator(self.table, ctx.seed, 8, N_DAYS):
            return _failed("the table differs from the generator's DuckDB replay")
        table = pq.read_table(self.table, columns=["primaryaccountholder", "balance"])
        ids = table["primaryaccountholder"].to_numpy()
        balance = np.asarray(table["balance"].combine_chunks().flatten()).reshape(len(ids), -1)
        row_of = {int(i): k for k, i in enumerate(ids)}

        scored = post_processing(
            score_dataframe(
                pre_processing(
                    clean_series(read_parquet(ctx.spark, self.table)), END_DATE,
                    serving=False, freq=30, x_days=X_DAYS, y_days=Y_DAYS,
                ),
                self.factory, horizon=Y_DAYS,
            )
        )
        rows = scored.select(
            "primaryaccountholder", "X", "y_pred", "y_pred_rescaled_retrended"
        ).collect()
        kept = sorted(r["primaryaccountholder"] for r in rows)
        want = sorted(int(i) for i in ids[checks.kept_series(balance)])
        if kept != want:
            return _failed(f"{len(kept)} series scored, {len(want)} should be kept")
        x = np.array([r["X"] for r in rows], dtype=np.float32)
        y_pred = np.array([r["y_pred"] for r in rows], dtype=np.float32)
        on_driver = np.concatenate(
            [model.predict(x[i:i + BATCH_SIZE]) for i in range(0, len(x), BATCH_SIZE)]
        )
        if not np.allclose(y_pred, on_driver, rtol=1e-5, atol=1e-5):
            return _failed("scores differ from the model's on the driver")
        truth = balance[[row_of[r["primaryaccountholder"]] for r in rows], -Y_DAYS:]
        pred = np.array([r["y_pred_rescaled_retrended"] for r in rows], dtype=np.float64)
        return (
            len(rows),
            checks.r2_ppm_mean(truth, pred, Y_DAYS),
            checks.r2_ppm_mean(truth, pred, ONE_MONTH_DAYS),
        )

    def round(self, ctx, r):
        return [(self.name, partial(self.iteration, ctx))]

    def iteration(self, ctx: Context) -> Unit:
        from time_series_prediction_spark.model.scoring import score_dataframe
        from time_series_prediction_spark.plans.preprocess import (
            clean_series,
            post_processing,
            pre_processing,
            r2_metrics,
        )
        from time_series_prediction_spark.sources.io import read_parquet

        t = ctx.tracer
        factory, acc = self.factory, None
        if t.enabled:
            factory, acc = _timed_factory(ctx, factory)
        scored_cols = ["balance", "mean", "std", "trend_next_3months_1MW"]
        t0 = time.perf_counter()
        with t.span("io.read"):
            df = ctx.keep(read_parquet(ctx.spark, self.table), ["balance"])
        with t.span("preprocess.clean"):
            df = ctx.keep(clean_series(df), ["balance"])
        with t.span("preprocess.pre_processing"):
            df = ctx.keep(
                pre_processing(
                    df, END_DATE, serving=False, freq=30,
                    x_days=X_DAYS, y_days=Y_DAYS,
                ),
                ["X", *scored_cols],
            )
        with t.span("scoring.score"):
            df = ctx.keep(
                score_dataframe(df, factory, horizon=Y_DAYS),
                ["y_pred", *scored_cols],
            )
        with t.span("preprocess.post_metrics"):
            row = r2_metrics(post_processing(df), y_days=Y_DAYS).collect()[0]
        seconds = time.perf_counter() - t0
        ctx.release()

        with ctx.checking():
            got = (row["n_series"], row["r2_3month"], row["r2_1month"])
            ok = self.reference is not None and got == self.reference
        counters = {"cnn.forward_s": acc.value} if acc else {}
        return Unit(self.name, seconds, int(row["n_series"]), ok, counters=counters)


def _train_epoch(ctx: Context, table: str, model) -> tuple[list[float], int]:
    """T.1 to T.3 on ``table``: clean, pre-process and split, then one
    epoch of ``model`` over ``training_batches`` on the driver. Returns
    the batch losses and the number of samples."""
    from time_series_prediction_spark.model.train import training_batches
    from time_series_prediction_spark.plans.preprocess import (
        clean_series,
        pre_processing,
        train_val_test_split,
    )
    from time_series_prediction_spark.sources.io import read_parquet

    t = ctx.tracer
    raw_cols = ["primaryaccountholder", "transactiondate", "balance"]
    with t.span("io.read"):
        df = ctx.keep(read_parquet(ctx.spark, table), raw_cols)
    with t.span("preprocess.clean"):
        df = ctx.keep(clean_series(df), raw_cols)
    with t.span("preprocess.pre_processing"):
        train, _, _ = train_val_test_split(
            pre_processing(
                df, END_DATE, serving=False, freq=30,
                x_days=X_DAYS, y_days=Y_DAYS,
            )
        )
        train = ctx.keep(train, ["X", "y"])
    batches = training_batches(train, BATCH_SIZE)
    losses: list[float] = []
    samples = 0
    while True:
        with t.span("train.feed"):
            batch = next(batches, None)
        if batch is None:
            break
        with t.span("cnn.step"):
            losses.append(model.train_batch(*batch))
        samples += len(batch[0])
    ctx.release()
    return losses, samples


FAMILIES = (
    "plans.flagship",
    "plans.timeseries_queries",
    "plans.timeseries_queries2",
    "plans.window_queries",
)


def _registry() -> dict[str, tuple[Callable, str, str]]:
    """name -> (plan builder, DuckDB oracle SQL, plans module)."""
    from time_series_prediction_spark.plans import flagship
    from time_series_prediction_spark.plans.timeseries_queries import TIMESERIES_QUERIES
    from time_series_prediction_spark.plans.timeseries_queries2 import TIMESERIES2_QUERIES
    from time_series_prediction_spark.plans.window_queries import WINDOW_QUERIES

    # the flagship entries under the names __spark_entry__ registers
    flagship_queries = {
        "cashflow_wide_pipeline": (flagship.cashflow_wide_summary, flagship.CASHFLOW_WIDE_SQL),
        "cashflow_scoring_pipeline": (
            flagship.cashflow_scoring_pipeline, flagship.CASHFLOW_SCORING_SQL,
        ),
        "cashflow_holdout_eval": (flagship.cashflow_holdout_eval, flagship.CASHFLOW_HOLDOUT_SQL),
    }
    registries = (flagship_queries, TIMESERIES_QUERIES, TIMESERIES2_QUERIES, WINDOW_QUERIES)
    return {
        name: (fn, sql, family)
        for family, queries in zip(FAMILIES, registries)
        for name, (fn, sql) in queries.items()
    }


class QueryMix(Workload):
    """The 30 registry queries of the time-series families over seeded
    sf0.01-sized tables, in a seeded order per pass."""

    name = "query_mix"

    def setup(self, ctx: Context) -> None:
        import duckdb

        self.sf_dir = str(ctx.work / "sf")
        tables.write_tables(self.sf_dir, ctx.seed)
        self.queries = _registry()
        with ctx.checking():
            con = duckdb.connect()
            for t in tables.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            self.oracle = {
                name: checks.cached_duckdb_result(con, sql, list(tables.TABLES), ctx.cache)
                for name, (_, sql, _) in self.queries.items()
            }

    def round(self, ctx, r):
        from time_series_prediction_spark.session_memo import clear_session_memos

        # every pass measures first-touch compute, as bench.py does
        clear_session_memos(ctx.spark)
        order = sorted(self.queries)
        random.Random(ctx.seed * 1000 + r).shuffle(order)
        return [(name, partial(self.query, ctx, name)) for name in order]

    def query(self, ctx: Context, name: str) -> Unit:
        fn, _, family = self.queries[name]
        t = ctx.tracer
        t0 = time.perf_counter()
        with t.span("plans.build"):
            df = fn(ctx.spark, self.sf_dir)
        with t.span("plans.exec"):
            rows = df.collect()
        seconds = time.perf_counter() - t0
        with ctx.checking():
            ok = checks.same_result(checks.canon_result(df.columns, rows), self.oracle[name])
        return Unit(name, seconds, 1, ok, family=family)


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (Serve, QueryMix)}
