"""Executed-plan helpers for plan pins.

Pins read the AQE-final executed plan, never formatted explain: in
formatted mode an Exchange node's name and its partitioning print on
separate lines, so counting ``"Exchange hashpartitioning"`` there is
always 0, whatever the plan is.
"""

from __future__ import annotations

import re


def final_plan(df) -> str:
    """Execute ``df`` (which finalizes its adaptive plan) and return the
    final executed plan's text."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    return plan.split("== Initial Plan ==")[0]


def hash_exchange_keys(plan: str) -> list[str]:
    """The leading partitioning key of every hash shuffle in ``plan``,
    expression ids stripped (``qid#331L`` -> ``qid``)."""
    keys = re.findall(r"\bExchange hashpartitioning\(([^,)]+)", plan)
    return [re.sub(r"#\d+L?$", "", k) for k in keys]
