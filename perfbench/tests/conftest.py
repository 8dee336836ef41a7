import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from perfbench import host as hostmod
    from open_ocr_spark.pipeline.session import get_spark

    work = str(tmp_path_factory.mktemp("work"))
    host = hostmod.Host(cores=2, driver_memory_mb=1024)
    os.environ.update(hostmod.spark_environment(ROOT, work, host))
    session = get_spark(master=host.master, shuffle_partitions=2,
                        extra_conf=hostmod.spark_conf(work))
    yield session
    session.stop()
