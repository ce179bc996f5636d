from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_SHUFFLE_PARTITIONS", "4")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _extra_conf() -> dict:
    """Spark confs from SPARK_GRAFT_TEST_EXTRA_CONF, a JSON object."""
    import json

    raw = os.environ.get("SPARK_GRAFT_TEST_EXTRA_CONF", "{}")
    try:
        conf = json.loads(raw)
    except ValueError as e:
        raise ValueError(
            f"SPARK_GRAFT_TEST_EXTRA_CONF is not valid JSON ({e}): {raw!r}"
        ) from e
    if not isinstance(conf, dict):
        raise ValueError(
            "SPARK_GRAFT_TEST_EXTRA_CONF must be a JSON object of Spark "
            f"confs, got {type(conf).__name__}: {raw!r}"
        )
    return conf


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from postgres_cdc_reconciliation_spark.session import get_spark

    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    extra = {"spark.sql.warehouse.dir": warehouse}
    extra.update(_extra_conf())
    s = get_spark(
        app_name="pcr-tests",
        extra_conf=extra,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
