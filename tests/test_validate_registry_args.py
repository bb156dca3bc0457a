"""Argument handling of ``scripts/validate_registry.py``: every bad
invocation exits with status 2 before a Spark session starts, and the
summary's denominator is the queries actually run."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

SCRIPT = Path(__file__).resolve().parent.parent / "scripts" / "validate_registry.py"
NAMES = ["q_b", "q_a", "q_c"]


@pytest.fixture(scope="module")
def vr():
    spec = importlib.util.spec_from_file_location("validate_registry", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _exit_code(vr, argv) -> int:
    with pytest.raises(SystemExit) as exc:
        vr.parse_args(argv, NAMES)
    return exc.value.code


def test_parse_runs_all_or_only_the_named_queries(vr, tmp_path):
    d = str(tmp_path)
    args = vr.parse_args([d], NAMES)
    assert (args.sf_dir, args.run) == (d, ["q_a", "q_b", "q_c"])
    # --only with "=" or with a space, comma-separated
    assert vr.parse_args([d, "--only=q_c,q_a"], NAMES).run == ["q_a", "q_c"]
    assert vr.parse_args([d, "--only", "q_b"], NAMES).run == ["q_b"]
    assert vr.parse_args(["--only", "q_b", d], NAMES).run == ["q_b"]


def test_parse_rejects_bad_invocations(vr, tmp_path):
    d = str(tmp_path)
    assert _exit_code(vr, [d, "--sf", d]) == 2  # unknown flag
    assert _exit_code(vr, ["--sf", d]) == 2
    assert _exit_code(vr, []) == 2  # sf_dir is required
    assert _exit_code(vr, [str(tmp_path / "missing")]) == 2
    assert _exit_code(vr, [d, "--only=typo"]) == 2
    assert _exit_code(vr, [d, "--only=q_a,typo"]) == 2
    assert _exit_code(vr, [d, "--only="]) == 2
    assert _exit_code(vr, [d, "--only"]) == 2


def test_unknown_query_exits_before_spark_starts(vr, tmp_path, monkeypatch):
    import time_series_prediction_spark.session as session

    def no_spark(*a, **k):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(session, "get_spark", no_spark)
    monkeypatch.setattr(
        "sys.argv", ["validate_registry.py", str(tmp_path), "--only=typo"]
    )
    with pytest.raises(SystemExit) as exc:
        vr.main()
    assert exc.value.code == 2
