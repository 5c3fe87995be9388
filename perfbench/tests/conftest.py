import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]


@pytest.fixture
def fixed_span():
    """Records a finished span at fixed times: the clock is not under test."""

    def make(tracer, name, start, end, parent=None):
        with tracer.span(name) as s:
            pass
        s.start, s.end, s.parent = start, end, parent
        return s

    return make
