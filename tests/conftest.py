from __future__ import annotations

import datetime as dt
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from matric_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="matric_spark_tests", cpus=None, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny_transcripts(spark):
    """Hand-built transcript table with known planted violations.

    conv A: clean 3-turn conversation (must pass everything).
    conv B: duplicate (B, 1); out-of-order ts at turn 2; null text at 3.
    conv C: bad role 'moderator' turn 0; bad tool 'telnet' turn 1;
            turn_idx gap (0, 2) — not contiguous.
    Partitions: A,B in part 1; C in part 2.
    """
    t0 = dt.datetime(2024, 1, 1)

    def r(conv, idx, role, text, tool, sec, part):
        return (conv, idx, role, text, tool, t0 + dt.timedelta(seconds=sec), part)

    rows = [
        r("A", 0, "system", "sys prompt", None, 0, 1),
        r("A", 1, "user", "hi", None, 10, 1),
        r("A", 2, "assistant", "hello", None, 20, 1),
        r("B", 0, "user", "q", None, 0, 1),
        r("B", 1, "assistant", "a1", None, 10, 1),
        r("B", 1, "assistant", "a1-dup", None, 11, 1),
        r("B", 2, "tool", "out", "bash", 5, 1),  # ts goes backwards
        r("B", 3, "user", None, None, 30, 1),  # null text
        r("C", 0, "moderator", "x", None, 0, 2),  # bad role
        r("C", 2, "assistant", "y", "telnet", 10, 2),  # bad tool + gap
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, part_month int",
    )
