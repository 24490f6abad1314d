"""The layered profiler (tools/profile.py) and the one session builder it
shares with the product."""

import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def profiles(spark, sf_dir):
    from cam_etl_spark.plans import QUERIES
    from tools.profile import measure

    names = ("graph_pagerank", "etl_end_to_end_counts")
    for n in names:  # the tool's warm-up pass
        QUERIES[n].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return {n: measure(spark, n, sf_dir, repeats=1) for n in names}


def test_profile_build_phase_jobs(profiles):
    assert profiles["graph_pagerank"]["build_jobs"] > 0
    etl = profiles["etl_end_to_end_counts"]
    assert etl["build_jobs"] == 0
    assert etl["exec_jobs"] >= 1


@pytest.mark.parametrize("name", ["graph_pagerank", "etl_end_to_end_counts"])
def test_profile_layers_stages_operators(spark, profiles, name):
    p = profiles[name]
    assert p["build_s"] + p["plan_s"] + p["exec_s"] == pytest.approx(p["wall_s"], abs=1e-9)
    assert p["counters"]["jobs"] == p["build_jobs"] + p["exec_jobs"]
    assert p["stages"] and p["operators"]
    # offsets are from the run start, not shifted by a time zone
    for s in p["stages"]:
        assert -0.01 <= s["submit_s"] <= s["complete_s"] <= p["wall_s"] + 0.01
    assert any(o["metrics"] for o in p["operators"])
    assert spark.sparkContext.uiWebUrl is None


def test_session_builder_only_in_session_module():
    """Every measured or tested session is the product's ``get_spark``."""
    builder = re.compile(r"SparkSession\s*\.\s*builder\b")
    found = []
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if not d.startswith(".") and d != "__pycache__"]
        for f in filenames:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    if builder.search(fh.read()):
                        found.append(os.path.relpath(path, ROOT))
    assert found == [os.path.join("cam_etl_spark", "session.py")]
