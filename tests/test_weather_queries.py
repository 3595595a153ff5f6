"""End-to-end: raw fixtures → clean table → the reference's three Athena
queries verbatim (plans/weather_sql.py), with hand-computed goldens."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from canary_weather_etl_spark.plans import weather_sql as Q
from canary_weather_etl_spark.sources import weather as W


@pytest.fixture(scope="module")
def clean_table(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("wxq")
    raw = str(tmp / "raw")
    # two locations; loc A has double the sunshine of loc B; uv differs by month
    specs = [("Gran_Canaria", "Las_Palmas_de_Gran_Canaria", 7200.0, 5.0),
             ("Tenerife", "Vilaflor", 3600.0, 8.0)]
    dates = ([f"2024-01-{i:02d}" for i in range(1, 11)]
             + [f"2024-02-{i:02d}" for i in range(1, 11)])
    for island, loc, sunshine, uv in specs:
        d = os.path.join(raw, island, loc)
        os.makedirs(d)
        daily = {"date": dates}
        for name, typ in W.OPEN_METEO_DAILY_VARS.items():
            if typ.__name__ == "StringType":
                daily[name] = [f"{x}T07:00" for x in dates]
            elif typ.__name__ == "LongType":
                daily[name] = [1] * len(dates)
            elif name == "sunshine_duration":
                # feb gets 2x sunshine so Q2's top month is deterministic
                daily[name] = [sunshine * (2 if x[6] == '2' else 1)
                               for x in dates]
            else:
                daily[name] = [1.0] * len(dates)
        om = {"location": f"{island}/{loc}", "latitude": 28.0,
              "longitude": -15.0, "elevation": 10.0,
              "timezone": "Atlantic/Canary", "daily": daily}
        with open(os.path.join(d, "2024.json"), "w") as f:
            json.dump(om, f)
        days = []
        for j, x in enumerate(dates):
            day = {"datetime": x}
            for vname, vtyp in W.VISUAL_CROSSING_DAY_FIELDS.items():
                if vtyp.__name__ == "StringType":
                    day[vname] = "c"
                elif vname == "uvindex":
                    # uv doubles in february
                    day[vname] = uv * (2 if x[6] == '2' else 1)
                else:
                    day[vname] = 1.0
            days.append(day)
        vc = {"queryCost": 1.0, "latitude": 28.0, "longitude": -15.0,
              "resolvedAddress": "x", "address": f"{island}/{loc}",
              "timezone": "Atlantic/Canary", "tzoffset": 0.0, "days": days}
        with open(os.path.join(d, "vc.json"), "w") as f:
            json.dump(vc, f)

    clean = W.build_clean(W.read_open_meteo(spark, f"{raw}/*/*/2*.json"),
                          W.read_visual_crossing(spark, f"{raw}/*/*/vc*.json"))
    out = str(tmp / "clean")
    W.write_clean(clean, out)
    Q.register_clean_view(spark, out)
    return out


def test_q1_sunniest_location(spark, clean_table):
    rows = Q.q1_sunniest_location(spark).collect()
    assert [r["location"] for r in rows] == [
        "Gran_Canaria/Las_Palmas_de_Gran_Canaria", "Tenerife/Vilaflor"]
    # avg over jan(7200)+feb(14400) = 10800 s = 3.0 h
    assert rows[0]["avg_sunshine_hours"] == 3.0
    assert rows[1]["avg_sunshine_hours"] == 1.5


def test_q2_top10_and_corrected_variant(spark, clean_table):
    rows = Q.q2_sunniest_month_location(spark).collect()
    assert len(rows) == 4  # 2 locations x 2 months (under LIMIT 10)
    top = rows[0]
    assert top["location"] == "Gran_Canaria/Las_Palmas_de_Gran_Canaria"
    assert top["month"] == 2 and top["avg_sunshine_hours"] == 4.0

    best = Q.q2_corrected_best_location_per_month(spark).collect()
    assert [(r["month"], r["location"]) for r in best] == [
        (1, "Gran_Canaria/Las_Palmas_de_Gran_Canaria"),
        (2, "Gran_Canaria/Las_Palmas_de_Gran_Canaria")]


def test_q3_partition_pruned_uv(spark, clean_table):
    rows = Q.q3_best_uv_month(spark).collect()
    assert [(r["month"], r["avg_uvindex"]) for r in rows] == [(2, 10.0), (1, 5.0)]
    # the WHERE hits the partition column → pruned scan
    plan = Q.q3_best_uv_month(spark)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
