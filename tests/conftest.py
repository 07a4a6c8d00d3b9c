from __future__ import annotations

import pytest

from perl_data_validate_sanctions_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pdvs-tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(fn)`` runs ``fn`` and returns ``(fn(), n)``, where ``n``
    is the number of Spark jobs ``fn`` submitted from this thread."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"pdvs-test-{uuid.uuid4()}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
