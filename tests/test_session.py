"""Session start-up must fail loudly: a session whose Python workers cannot
run the kernel imports is not healthy, and get_spark must not hand it out."""

import pytest

from aezspark import session


class _FailingJob:
    """Stands in for a SparkSession whose warm-up job fails on the workers."""

    def range(self, *args):
        return self

    def mapInPandas(self, *args):
        return self

    def count(self):
        raise RuntimeError("ModuleNotFoundError: No module named 'aezspark'")


def test_warm_up_failure_raises():
    stub = _FailingJob()
    for _ in range(2):  # a failed warm-up is not recorded as done
        with pytest.raises(RuntimeError, match="--py-files") as e:
            session._warm_worker_pools(stub, 2)
        assert "No module named 'aezspark'" in str(e.value.__cause__)
