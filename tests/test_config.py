"""Central knob surface (config.py) + the non-default branches it gates."""

import numpy as np
import pandas as pd
import pytest

from jena_geo_spark import config as C


def test_knob_defaults_and_env_override(monkeypatch):
    assert C.knob("KNN_ENDGAME_BROADCAST_ROWS") == 200_000
    assert C.knob("SPATIAL_DIM_MAX") == 10_000
    monkeypatch.setenv("SPARK_GRAFT_SPATIAL_DIM_MAX", "7")
    assert C.knob("SPATIAL_DIM_MAX") == 7
    with pytest.raises(KeyError):
        C.knob("NO_SUCH_KNOB")


def test_knob_unknown_name_raises_even_when_env_set(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_NO_SUCH_KNOB", "5")
    with pytest.raises(KeyError):
        C.knob("NO_SUCH_KNOB")


def test_knob_malformed_env_names_the_variable(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SPATIAL_DIM_MAX", "1e5")
    with pytest.raises(ValueError, match="SPARK_GRAFT_SPATIAL_DIM_MAX.*1e5"):
        C.knob("SPATIAL_DIM_MAX")


def test_knn_endgame_pivot_both_branches(spark, monkeypatch):
    """A right side smaller than k sends EVERY left row to the coarse
    endgame.  Default knob → pending broadcast; knob 0 → the right side
    (provably < k rows) is broadcast and pending streams.  Both branches
    must return identical rows."""
    from jena_geo_spark.operators.knn import knn_join_frames

    rng = np.random.default_rng(7)
    nl, nr, k = 120, 3, 5  # nr < k → endgame for all left rows
    ldf = spark.createDataFrame(pd.DataFrame({
        "id": [f"l{i:03d}" for i in range(nl)],
        "lon": rng.uniform(-170, 170, nl),
        "lat": rng.uniform(-80, 80, nl),
    }))
    rdf = spark.createDataFrame(pd.DataFrame({
        "id": [f"r{i}" for i in range(nr)],
        "lon": rng.uniform(-170, 170, nr),
        "lat": rng.uniform(-80, 80, nr),
    }))

    def run():
        return sorted(
            (r.id, r.rank, r.id_right, round(r.dist, 9))
            for r in knn_join_frames(spark, ldf, rdf, k).collect()
        )

    default_rows = run()
    assert len(default_rows) == nl * nr  # only nr neighbors exist
    monkeypatch.setenv("SPARK_GRAFT_KNN_ENDGAME_BROADCAST_ROWS", "0")
    assert run() == default_rows
