from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from rcspark.session import get_spark

    s = get_spark(app="rcspark-tests", cores=8)
    yield s
    s.stop()
