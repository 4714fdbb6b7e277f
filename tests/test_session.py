"""Session set-up parsing that needs no JVM."""

from __future__ import annotations

import pytest

from adenhq_hive_spark.session import _offheap_conf


@pytest.mark.parametrize(
    "value", ["", "0", "0g", "0G", "off", "OFF", "false", "False", "no", "NO",
              " off ", "0m"],
)
def test_offheap_kill_switch_disables(value):
    assert _offheap_conf(value) == {}


@pytest.mark.parametrize(
    "value,size", [("8g", "8g"), ("8G", "8g"), ("512m", "512m"),
                   ("2gb", "2gb"), (" 1t ", "1t")],
)
def test_offheap_size_enables(value, size):
    assert _offheap_conf(value) == {
        "spark.memory.offHeap.enabled": "true",
        "spark.memory.offHeap.size": size,
    }


@pytest.mark.parametrize(
    "value", ["8", "1024", "yes", "true", "on", "8 g", "1.5g", "-1g", "8x"],
)
def test_offheap_rejects_unitless_or_unknown(value):
    with pytest.raises(ValueError, match="SPARK_GRAFT_OFFHEAP"):
        _offheap_conf(value)
