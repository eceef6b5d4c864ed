"""get_spark's attach path: the shuffle-writer threshold is a static
conf, so attaching to a running session with a different requested
value can only be reported. The running session is stubbed, so no
Spark conf changes here."""

from __future__ import annotations

import warnings
from types import SimpleNamespace

import pytest
from pyspark.sql import SparkSession

from data_feature_extraction_and_retrieval_pipeline_spark.session import (
    get_spark,
)


def _attach(monkeypatch, have: str, want: str) -> list:
    conf = SimpleNamespace(get=lambda key, default=None: have)
    active = SimpleNamespace(
        sparkContext=SimpleNamespace(getConf=lambda: conf)
    )
    sentinel = object()
    monkeypatch.setattr(SparkSession, "getActiveSession", lambda: active)
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: sentinel
    )
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_BYPASS", want)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert get_spark(cpus=1, shuffle_partitions=1) is sentinel
    return [w for w in caught if "bypassMergeThreshold" in str(w.message)]


def test_equal_thresholds_spelled_differently_do_not_warn(
    monkeypatch, capsys
):
    assert _attach(monkeypatch, have="0", want="00") == []
    assert "bypassMergeThreshold" not in capsys.readouterr().err


def test_threshold_mismatch_warns(monkeypatch):
    (w,) = _attach(monkeypatch, have="200", want="0")
    assert issubclass(w.category, RuntimeWarning)
    assert "bypassMergeThreshold=200" in str(w.message)


@pytest.mark.parametrize("have", ["", "many"])
def test_unparsable_threshold_does_not_warn(monkeypatch, have):
    assert _attach(monkeypatch, have=have, want="0") == []
