"""Observations melt (wide census-style tables -> long observation rows)."""

from __future__ import annotations

from kgspark import observations


def test_melt_observations(spark):
    wide = spark.createDataFrame(
        [(1, "a", 10.0, None, "x"), (2, "b", None, 5.5, None)],
        "place_id int, name string, population double, farm_area double, note string",
    )
    obs = observations.melt_observations(
        wide, id_cols=["place_id"], metadata_cols=["name", "note"]
    )
    got = {(r["place_id"], r["variable"]): r for r in obs.collect()}
    assert (1, "population") in got and got[(1, "population")]["unit"] == "persons"
    assert (2, "farm_area") in got and got[(2, "farm_area")]["unit"] == "acres"
    assert (2, "population") not in got  # null skipped
    # numeric vs string split
    assert got[(1, "population")]["value_numeric"] == 10.0
    assert got[(1, "population")]["value_string"] is None


def test_melt_observations_semi_join_and_meta(spark):
    wide = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "place_id int, population double"
    )
    valid = spark.createDataFrame([(1,), (3,)], "id int")
    meta = spark.createDataFrame(
        [("population", "Demography")], "variable string, category string"
    )
    obs = observations.melt_observations(
        wide, id_cols=["place_id"], valid_ids=valid, variable_meta=meta
    )
    rows = obs.collect()
    assert {r["place_id"] for r in rows} == {1, 3}
    assert all(r["category"] == "Demography" for r in rows)
