import sys
from pathlib import Path

import pytest

# the checkout this conftest belongs to, so a copy of the repo tests its
# own code
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from hypothesis import HealthCheck, settings  # noqa: E402

from text_sentiment_classification_hadoop_spark_spark.session import get_spark  # noqa: E402

# Hypothesis example budget (property tests are the
# suite's top cost — every @given example that touches Spark pays a
# createDataFrame+collect round-trip, so example counts ARE suite
# seconds). Tests inherit max_examples from the active profile instead
# of pinning it per-test; run `HYPOTHESIS_PROFILE=thorough pytest` for
# deep sweeps. Pure-python property tests (no Spark in the loop) keep
# their own larger explicit @settings — they're microseconds each.
settings.register_profile(
    "suite", max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.too_slow])
settings.register_profile(
    "thorough", max_examples=50, deadline=None,
    suppress_health_check=[HealthCheck.too_slow])
import os  # noqa: E402

settings.load_profile(os.environ.get("HYPOTHESIS_PROFILE", "suite"))

SF_SMOKE = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "nightly: opt-in coverage trimmed from the default suite for "
        "wall budget (run with SPARK_GRAFT_NIGHTLY=1; each such test "
        "names the out-of-band gate that replaces it in default runs)")


@pytest.fixture(scope="session")
def spark():
    # core count env-overridable for suite-time experiments (8 vs 4
    # measured only ~4% on the heaviest files — the suite
    # is per-job-overhead-bound, not CPU-bound, so the knob stays at a
    # mild 8); shuffle_partitions stays pinned at 4 so plan-shape
    # tests (AQE skew, occupancy, bucket fan-out) see the same
    # partitioning
    cores = os.environ.get("SPARK_GRAFT_TEST_CORES", "8")
    s = get_spark(app_name="pytest", master=f"local[{cores}]",
                  shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def loop_rounds(monkeypatch):
    """``loop_rounds(build, setup, probe)`` calls ``build()`` and
    returns ``(its result, rounds run)``. It asserts that the eager
    DataFrame calls (``collect``, ``count``, ``localCheckpoint``) made
    inside ``build`` are ``setup`` checkpoints, then per round exactly
    one checkpoint followed by one ``probe`` call — so no probe runs
    before round 1."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF
    calls = []
    for name in ("collect", "count", "localCheckpoint"):
        def spy(self, *args, _orig=getattr(ClassicDF, name), _name=name,
                **kwargs):
            calls.append(_name)
            return _orig(self, *args, **kwargs)
        monkeypatch.setattr(ClassicDF, name, spy)

    def run(build, setup, probe):
        calls.clear()
        out = build()
        seen, ckpt = list(calls), "localCheckpoint"
        assert seen[:setup] == [ckpt] * setup, seen
        rest = seen[setup:]
        assert rest and rest == [ckpt, probe] * (len(rest) // 2), seen
        return out, len(rest) // 2
    return run


@pytest.fixture
def jobs_started(spark):
    """``jobs_started(fn)`` calls ``fn()`` and returns ``(its result,
    the number of Spark jobs it started)``, counted by a job group
    unique to the call."""
    import uuid
    sc = spark.sparkContext

    def run(fn):
        group = f"test-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    return run


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
