"""The broadcast size gate (``fastpath.broadcast_if_small``): at bench
scale the gated pins apply, with the gate shut only the enum pins remain,
and the gate keys off the source tables' on-disk bytes. The registry-wide
unbounded-broadcast guard itself runs in tests/test_plan_guards.py, with
the gate forced shut.
"""

from __future__ import annotations

import etl_poor_main_pipeline_spark.fastpath as fastpath
from etl_poor_main_pipeline_spark import registry
from etl_poor_main_pipeline_spark.plans.explain import (
    _bracket_groups,
    _logical_outline_lines,
    unbounded_broadcast_hints,
)

SF = "/root/testdata/sf0.001"

GATED_QUERIES = ("tpch_q3_shipping_priority", "tpch_q5_star_join")
#: enum pins that legitimately survive the shut gate (nation, region)
AT_SCALE_PINS = {"tpch_q3_shipping_priority": 0, "tpch_q5_star_join": 2}


def _hint_count(df) -> int:
    return df._jdf.queryExecution().analyzed().toString().count(
        "strategy=broadcast"
    )


def test_gate_open_pins_locally(spark):
    """At bench scale the gate passes and the hints ARE applied — the
    local plan (and its bench number) is unchanged by the gating."""
    qs = registry.queries()
    for name in GATED_QUERIES:
        assert _hint_count(qs[name](spark, SF)) > AT_SCALE_PINS[name]


def test_gate_shut_drops_growing_pins(spark, monkeypatch):
    """With the gate forced shut, only the enum pins survive and the
    detector is clean: the 100 TB plan carries no growing pin."""
    monkeypatch.setattr(fastpath, "BROADCAST_GATE_THRESHOLD_BYTES", 0)
    qs = registry.queries()
    for name in GATED_QUERIES:
        df = qs[name](spark, SF)
        assert _hint_count(df) == AT_SCALE_PINS[name], name
        assert unbounded_broadcast_hints(df) == [], name


def test_gate_is_size_derived(tmp_path):
    """broadcast_if_small keys off the SOURCE tables' on-disk bytes — a
    missing table (0 bytes) or an over-threshold table both refuse the
    pin; a small real table pins it."""
    assert fastpath.tables_bytes(str(tmp_path), "customer") == 0
    assert fastpath.tables_bytes(SF, "customer") > 0

    class _Sentinel:
        pass

    df = _Sentinel()
    out = fastpath.broadcast_if_small(df, SF, ["customer"], threshold_bytes=1)
    assert out is df
    out = fastpath.broadcast_if_small(df, str(tmp_path), ["customer"])
    assert out is df  # absent table: never pin


def test_outline_parser_basics():
    keyed = "Aggregate [lang#1], [lang#1, count(1) AS n#2L]"
    assert len(_bracket_groups(keyed)) == 2
    nodes = _logical_outline_lines("Project [a#1]\n+- Filter (a#1 > 1)")
    assert [h for _, h, _ in nodes] == ["Project", "Filter"]
