"""The suite runs on the PySpark the program ships with: the session-wide
guard in conftest.py names any reader/writer method that something replaced."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrameReader, DataFrameWriter


def test_readwriter_is_stock(stock_pyspark):
    assert stock_pyspark() == []


@pytest.mark.parametrize(
    "cls, name",
    [(DataFrameWriter, "save"), (DataFrameWriter, "mode"), (DataFrameReader, "load")],
)
def test_patched_readwriter_is_named(stock_pyspark, monkeypatch, cls, name):
    orig = cls.__dict__[name]

    def wrapper(self, *args, **kwargs):
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(cls, name, wrapper)
    assert stock_pyspark() == [f"{cls.__name__}.{name}"]
    monkeypatch.undo()
    assert stock_pyspark() == []
