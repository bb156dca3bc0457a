"""End-to-end serve path: pre_process -> scalar Arrow UDF scoring ->
post_process -> R2, with the baseline models; and the scorer's width
checks."""

from __future__ import annotations

import numpy as np
import pytest

from time_series_prediction_spark.model.numpy_cnn import NumpyCNN1D
from time_series_prediction_spark.model.scoring import (
    last_value_model_factory,
    numpy_cnn_factory,
    score_dataframe,
)
from time_series_prediction_spark.plans.preprocess import (
    clean_series,
    post_processing,
    pre_processing,
    r2_metrics,
)
from time_series_prediction_spark.sources.generate import generate_series_frame


def zero_model_factory(horizon: int = 92):
    """Predicts 0 (the scaled-space mean) for every day."""
    return lambda: lambda x: np.zeros((x.shape[0], horizon), dtype=np.float32)


def test_full_serve_path_with_stub_model(spark):
    raw = generate_series_frame(spark, 30, seed=5)
    pre = pre_processing(clean_series(raw), "2020-03-31", serving=True)
    scored = score_dataframe(pre, zero_model_factory())
    post = post_processing(scored)
    rows = post.select("mean", "y_pred", "y_pred_rescaled").collect()
    assert all(len(r["y_pred"]) == 92 for r in rows)
    for r in rows:
        np.testing.assert_allclose(
            np.asarray(r["y_pred_rescaled"], dtype=float),
            np.full(92, r["mean"]),
            rtol=1e-5,
        )


def test_last_value_model_beats_zero_model_on_r2(spark):
    raw = generate_series_frame(spark, 60, seed=11)
    pre = pre_processing(clean_series(raw), "2020-03-31", serving=False)
    out = {}
    for name, factory in {
        "zero": zero_model_factory(),
        "last": last_value_model_factory(),
    }.items():
        scored = post_processing(score_dataframe(pre, factory))
        m = r2_metrics(scored).first()
        out[name] = m["r2_3month"]
    # persistence forecast must explain more variance than the mean
    assert out["last"] > out["zero"]


def test_cashflow_scoring_pipeline_registry_shape(spark, sf_dir):
    """The registry e2e (S.1→S.3 + E.2 on the events fixture): one
    row, every series that passed cleaning scored, finite metrics,
    and run-to-run determinism."""
    import math

    from time_series_prediction_spark.plans.flagship import (
        cashflow_scoring_pipeline,
    )

    a = cashflow_scoring_pipeline(spark, sf_dir).collect()
    b = cashflow_scoring_pipeline(spark, sf_dir).collect()
    assert len(a) == 1
    row = a[0]
    assert row["n_series"] > 0
    assert math.isfinite(row["r2_horizon"]) and math.isfinite(row["r2_3day"])
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_scoring_pipeline_matches_oracle_exactly(spark, sf_dir):
    """Round-8 graduation: the FULL serving lifecycle — pandas_udf
    scoring stage included — must be BIT-exact against the generated
    DuckDB oracle (no float tolerance; the driver's t2 gate hashes
    values). Works because the last-value model does no arithmetic
    (float32 passthrough) and the cross-series R² mean is quantized
    to integer ppm before averaging (order-free sums)."""
    import numpy as np
    import pandas as pd

    from tests.oracle_harness import _normalize, duck_connection
    from time_series_prediction_spark.plans.flagship import (
        CASHFLOW_SCORING_SQL,
        cashflow_scoring_pipeline,
    )

    con = duck_connection(sf_dir)
    got = _normalize(cashflow_scoring_pipeline(spark, sf_dir).toPandas())
    want = _normalize(con.execute(CASHFLOW_SCORING_SQL).df())
    con.close()
    assert got.shape == want.shape
    assert got.shape[0] == 1
    for c in got.columns:
        g, w = got[c].to_numpy(), want[c].to_numpy()
        eq = (g == w) | (pd.isna(g) & pd.isna(w))
        assert np.all(eq), (c, got[c], want[c])


def test_numpy_cnn_factory_rejects_other_widths(tmp_path):
    """A saved CNN built for other widths fails at load, naming both
    (x_days, y_days) pairs, instead of with a shape error per batch."""
    weights = str(tmp_path / "cnn.npz")
    NumpyCNN1D(20, 4, filters=2, dense_units=3, seed=0).save(weights)
    make = numpy_cnn_factory(weights, x_days=365, horizon=92)
    with pytest.raises(ValueError, match=r"\(20, 4\).*\(365, 92\)"):
        make()
    # matching widths load and predict (B, y_days)
    predict = numpy_cnn_factory(weights, x_days=20, horizon=4)()
    assert predict(np.zeros((3, 20), dtype=np.float32)).shape == (3, 4)


def test_scoring_udf_rejects_wrong_output_width(spark):
    """A model whose output is not (len(x), horizon) fails the query
    with the scorer's ValueError instead of writing short arrays."""
    raw = generate_series_frame(spark, 5, seed=1)
    pre = pre_processing(clean_series(raw), "2020-03-31", serving=True)
    scored = score_dataframe(pre, zero_model_factory(horizon=10), horizon=92)
    with pytest.raises(Exception, match=r"ValueError.*scorer expects"):
        scored.select("y_pred").collect()


def test_score_dataframe_reuses_the_scorer_udf(spark, monkeypatch):
    """Scoring twice with one factory reuses one UDF object: a UDF pickles
    its function on first use, and a new one per call would pay that on
    every build. The last-value baseline is one factory per horizon, so
    ``cashflow_scoring_pipeline`` reuses its scorer too. The model is
    still built in each task: the driver's ``model`` list, which every
    task unpickles, stays empty."""
    from time_series_prediction_spark.model import scoring

    made = []
    build = scoring.scoring_udf

    def spy(*args):
        made.append(build(*args))
        return made[-1]

    monkeypatch.setattr(scoring, "scoring_udf", spy)
    df = spark.createDataFrame(
        [(i, [0.0, float(i)]) for i in range(6)], "id long, X array<float>"
    ).repartition(3)
    for _ in range(2):
        rows = score_dataframe(df, last_value_model_factory(3), horizon=3).collect()
    assert len(made) == 2
    assert made[0] is made[1]
    assert last_value_model_factory(3) is last_value_model_factory(3)
    assert sorted(r["y_pred"] for r in rows) == [[float(i)] * 3 for i in range(6)]
    score = made[0].func
    cells = dict(zip(score.__code__.co_freevars, score.__closure__))
    assert cells["model"].cell_contents == []
