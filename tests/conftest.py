from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)
sys.path.insert(0, os.path.join(REPO_ROOT, "perfbench"))
import pstgen  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    cpus = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))
    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # driver simulation: default confs (200 shuffle partitions, no
        # tuned knobs) + a hostile non-UTC session timezone — every
        # result must be identical to the tuned-session run
        from pyspark.sql import SparkSession

        s = (
            SparkSession.builder.appName("dps-tests-vanilla")
            .master(f"local[{cpus}]")
            .config("spark.sql.session.timeZone", "America/New_York")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from duckdb_pst_spark.session import get_spark

        s = get_spark("dps-tests", cpus=cpus, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def corpus(tmp_path_factory):
    """Five small generated PST archives (perfbench/pstgen.py) of 12, 40,
    7, 25 and 60 messages: uneven on purpose, so file-count planning and
    byte-balanced planning disagree. Returns the directory and the
    writer's manifest entries (expected counts per archive)."""
    d = tmp_path_factory.mktemp("pst_corpus")
    manifest = []
    for i, n in enumerate((12, 40, 7, 25, 60)):
        manifest.append(pstgen.write_archive(str(d / f"a{i}.pst"), {
            "name": f"Planner {i}", "seed": 1000 + i, "shape_seed": f"planner:{i}",
            "n_messages": n, "attach_p": 0.2, "body_median": 300, "body_sigma": 0.8,
            "body_cap": 6000, "attach_median": 2000, "max_recipients": 3,
        }))
    return d, manifest
