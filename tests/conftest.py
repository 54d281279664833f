from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def _default_driver_mem() -> str:
    """40% of physical RAM, capped at 16g: the driver JVM holds every
    executor in local mode, and /dev/shm shuffle files (session.py)
    draw on the same RAM."""
    import os

    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 1024**3
    return f"{max(1, min(16, int(ram_gib * 0.4)))}g"


@pytest.fixture(scope="session")
def spark():
    import os

    from easy_alterator_spark.session import get_spark

    # Cores follow the host: SPARK_GRAFT_CPUS (set by the tier-1
    # command to nproc), else every core; EA_TEST_CORES overrides.
    cores = os.environ.get("EA_TEST_CORES") or os.environ.get(
        "SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)
    )
    # session.py defaults the driver heap to 16g, which is more than a
    # 15 GB host has; size it from RAM unless the caller chose.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem())
    s = get_spark("easy-alterator-spark-tests", master=f"local[{cores}]")
    yield s
    s.stop()


def make_duck(sf_dir: str):
    """DuckDB connection with the star-schema tables as views."""
    import duckdb

    from easy_alterator_spark.sources import TABLE_NAMES

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


@pytest.fixture(scope="session")
def duck_smoke():
    return make_duck(SF_SMOKE)


@pytest.fixture(scope="session")
def duck_oracle():
    return make_duck(SF_ORACLE)
