"""The registry's iteration order is pinned by
``queries/registration_order.txt``; a list that disagrees with the
registered set must fail loudly and name every offender."""

from __future__ import annotations

import pathlib

import pytest

from market_etl_spark.queries import REGISTRY, registry

_ORDER = pathlib.Path(registry.__file__).with_name("registration_order.txt")


def test_registry_follows_the_order_list():
    assert list(REGISTRY) == _ORDER.read_text().split()


def test_extra_name_is_named():
    before = list(REGISTRY)
    with pytest.raises(ValueError, match="q_not_registered"):
        registry.pin_order(before + ["q_not_registered"])
    assert list(REGISTRY) == before


def test_missing_name_is_named():
    before = list(REGISTRY)
    with pytest.raises(ValueError, match=before[5]):
        registry.pin_order(before[:5] + before[6:])
    assert list(REGISTRY) == before


def test_extra_and_missing_are_both_named():
    before = list(REGISTRY)
    with pytest.raises(ValueError) as err:
        registry.pin_order(before[1:] + ["q_not_registered"])
    assert before[0] in str(err.value)
    assert "q_not_registered" in str(err.value)
    assert list(REGISTRY) == before
