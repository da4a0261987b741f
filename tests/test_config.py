"""Config-plane literal parsing (HOCON getDuration parity)."""

from __future__ import annotations

import pytest

from atiesh_spark.config import parse_duration_seconds


@pytest.mark.parametrize(
    "lit,expected",
    [
        (30, 30.0),
        ("30s", 30.0),
        ("250ms", 0.25),
        ("5 minutes", 300.0),
        ("2h", 7200.0),
        ("1 day", 86400.0),
        ("1.5", 1.5),
    ],
)
def test_parse_duration(lit, expected):
    assert parse_duration_seconds(lit) == expected


@pytest.mark.parametrize("bad", ["", "K", "12Q", "x12", "12 lightyears"])
def test_rejects_bad_literals(bad):
    with pytest.raises(ValueError):
        parse_duration_seconds(bad)
