import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from didtool_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("didtool-spark-tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture
def force_distributed(monkeypatch):
    """Context manager that makes every bounded driver pull report "over
    the cap", so the four pulling operators run their distributed
    fallback — the reference path the driver path is compared against."""
    import contextlib

    from didtool_spark.operators import dedup, graph, scalers, segments

    @contextlib.contextmanager
    def forced():
        with monkeypatch.context() as m:
            for mod in (dedup, graph, scalers, segments):
                m.setattr(mod, "bounded_pull", lambda df, cap: None)
            yield

    return forced
