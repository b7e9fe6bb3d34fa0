import os

import pytest


def _host_heap() -> dict[str, str] | None:
    """Half the host's RAM as the session JVM's heap, unless
    SPARK_GRAFT_DRIVER_MEM sets it: one JVM serves the whole suite, so it
    gets more than the library default (``session.driver_memory``, a
    quarter of MemTotal), still well under the host's RAM."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return {"spark.driver.memory": f"{int(line.split()[1]) // 2048}m"}
    return None


@pytest.fixture(scope="session")
def spark():
    from ocr_spark.session import get_spark

    s = get_spark(
        "ocr-spark-tests", cores=4, shuffle_partitions=8,
        extra_conf=_host_heap(),
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_parquet(tmp_path_factory):
    """Deterministic 60-doc pages table (covers kinds A/B/C, all langs)."""
    from ocr_spark.fixtures import write_pages_parquet

    path = tmp_path_factory.mktemp("data") / "pages.parquet"
    return str(write_pages_parquet(path, 60))
