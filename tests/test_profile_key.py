"""The per-key profiler reads Spark REST API times as UTC."""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
)

from tools.profile_key import rest_epoch  # noqa: E402


def test_rest_epoch_is_utc(monkeypatch):
    """A job that spans New York's 2024 spring-forward wall-clock gap
    (02:00 local) lasts its UTC length, whatever the host's zone."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        assert rest_epoch("1970-01-01T00:00:00.500GMT") == 0.5
        assert rest_epoch("2024-03-10T03:00:01.250GMT") - rest_epoch(
            "2024-03-10T01:59:59.750GMT"
        ) == 3601.5
        assert rest_epoch("1970-01-01T00:00:01.123456GMT") == pytest.approx(1.123456)
    finally:
        monkeypatch.undo()
        time.tzset()
