from __future__ import annotations

import pytest

from entity_linking_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "el-tests", cores=4, extra_conf={"spark.sql.shuffle.partitions": "8"}
    )
    yield s


SF_DIR = "/root/testdata/sf0.001"
