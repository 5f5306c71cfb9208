"""Session factory contracts: environment settings fail fast with a clear
message, and Python-worker queries run from any working directory."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import textwrap

import pytest

from basin_climbing_data_pipeline_spark import session
from basin_climbing_data_pipeline_spark.streaming import stateful

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_READERS = {
    "SPARK_GRAFT_CPUS": lambda spark: session.get_spark(),
    "SPARK_GRAFT_SHUFFLE_PARTITIONS": lambda spark: session.get_spark(),
    "SPARK_GRAFT_STATEFUL_STREAM_PARTITIONS": stateful._stateful_stream_partitions,
}


@pytest.mark.parametrize("bad", ["0", "-2", "four", "2.5"])
@pytest.mark.parametrize("var", sorted(_READERS))
def test_bad_env_setting_fails_fast(spark, monkeypatch, var, bad):
    """A setting that is not a positive integer raises before any session
    or stream is built, naming the variable and the value."""
    monkeypatch.setenv(var, bad)
    with pytest.raises(ValueError, match=re.escape(f"{var} must be a positive integer, got {bad!r}")):
        _READERS[var](spark)


def test_env_positive_int_defaults_and_parses(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.env_positive_int("SPARK_GRAFT_CPUS", 32) == 32
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert session.env_positive_int("SPARK_GRAFT_CPUS", 32) == 32
    monkeypatch.setenv("SPARK_GRAFT_CPUS", " 6 ")
    assert session.env_positive_int("SPARK_GRAFT_CPUS", 32) == 6


def test_python_worker_query_runs_from_any_working_directory(sf_dir, tmp_path):
    """media_frame_sample runs applyInPandas; its Python workers must import
    the package even when the process starts outside the repository."""
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from basin_climbing_data_pipeline_spark import registry
        from basin_climbing_data_pipeline_spark.session import get_spark

        spark = get_spark("cwd-test", shuffle_partitions=4)
        df = registry.REGISTRY["media_frame_sample"][0](spark, {sf_dir!r})
        df.write.format("noop").mode("overwrite").save()
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
