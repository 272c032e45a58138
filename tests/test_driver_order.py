"""The driver contract's iteration order (``__spark_entry__._staleness_order``):
the one place the catalog is ordered by verification staleness."""

from __future__ import annotations

import json

import pytest

import __spark_entry__ as E


def _ledgers(tmp_path, monkeypatch, green, sampled):
    (tmp_path / "driver_green.json").write_text(green)
    (tmp_path / "driver_sampled.json").write_text(sampled)
    monkeypatch.setattr(E, "_LEDGER_DIR", str(tmp_path))


def test_staleness_tiers(tmp_path, monkeypatch):
    _ledgers(
        tmp_path,
        monkeypatch,
        json.dumps({"g_new": 9, "g_old": 3, "g_mid": 5}),
        json.dumps({"g_new": 9, "g_old": 3, "g_mid": 5, "s_b": 8, "s_a": 4}),
    )
    names = ["u_b", "g_new", "s_b", "g_old", "u_a", "s_a", "g_mid"]
    assert E._staleness_order(names) == [
        "s_a", "s_b",  # sampled, never green: fixed oracles awaiting proof
        "u_a", "u_b",  # never sampled
        "g_old", "g_mid", "g_new",  # green, stalest round first
    ]


@pytest.mark.parametrize("broken", ["{not json", "[1, 2]", '{"q": "x"}'])
def test_broken_ledger_warns_and_orders_as_empty(tmp_path, monkeypatch, broken):
    _ledgers(tmp_path, monkeypatch, broken, json.dumps({"s": 1}))
    with pytest.warns(UserWarning, match="driver_green.json unusable"):
        order = E._staleness_order(["u", "s", "q"])
    assert order == ["s", "q", "u"]


def test_missing_ledger_warns(tmp_path, monkeypatch):
    monkeypatch.setattr(E, "_LEDGER_DIR", str(tmp_path))
    with pytest.warns(UserWarning, match="unusable"):
        assert E._staleness_order(["b", "a"]) == ["a", "b"]
