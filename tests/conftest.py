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


@pytest.fixture
def tiny_driver_cap(monkeypatch):
    """Context manager that shrinks the capped fit pull's driver cap
    (``binning.MAX_DISTINCT``) and, when given, its micro-bin count
    (``binning.PRE_BINS``), so every capped fit takes its over-cap path
    on small data."""
    import contextlib

    from didtool_spark.operators import binning

    @contextlib.contextmanager
    def tiny(cap, pre_bins=None):
        with monkeypatch.context() as m:
            m.setattr(binning, "MAX_DISTINCT", cap)
            if pre_bins is not None:
                m.setattr(binning, "PRE_BINS", pre_bins)
            yield

    return tiny
