from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yadamu___yet_another_data_migration_utility_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # one task slot and one shuffle partition per CPU the run may use
    # (SPARK_GRAFT_CPUS, else the CPUs this process may run on -- nproc)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))
    s = get_spark("pytest", master=f"local[{cpus}]", shuffle_partitions=cpus,
                  extra_conf={"spark.driver.memory": "8g"})
    yield s


@pytest.fixture()
def tmp_table_root(tmp_path):
    return str(tmp_path / "laketable")
