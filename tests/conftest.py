from __future__ import annotations

import contextlib
import os
import shutil

import pytest

# recompute-based oracles must read the same SF the parity tests query
# (the driver's gate runs at sf0.01 — the entry module's default)
os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from rugo_spark.session import get_spark

    s = get_spark(master="local[4]", app_name="rugo_spark_tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture()
def tmp_out(tmp_path):
    out = str(tmp_path / "encoded")
    yield out
    shutil.rmtree(out, ignore_errors=True)


@pytest.fixture()
def plan_on(monkeypatch):
    """``with plan_on("driver"|"executors"):`` forces where decode_table and
    metadata_agg plan, through their one switch threshold."""
    from rugo_spark import engine

    @contextlib.contextmanager
    def force(side: str):
        threshold = {"driver": 1 << 62, "executors": -1}[side]
        with monkeypatch.context() as m:
            m.setattr(engine, "_DISTRIBUTED_PLAN_THRESHOLD", threshold)
            yield

    return force
