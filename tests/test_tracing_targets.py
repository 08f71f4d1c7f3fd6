"""The traced benchmark run (perfbench/tracing.py) patches el's entry
points by name. A rename in el would break only that run; this check
resolves every name it patches, so the suite notices first. It reads
perfbench and changes nothing there."""

from __future__ import annotations

import importlib
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tracing():
    spec = importlib.util.spec_from_file_location(
        "perfbench_tracing", os.path.join(REPO, "perfbench", "tracing.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


TRACING = _tracing()
# perfbench/workloads.py imports the first; Tracer.install patches the
# second to count CC rounds
EXTRA = [
    ("el.incremental", "_scored_pair_tables"),
    ("el.clustering", "_signature"),
]


@pytest.mark.parametrize(
    "mod_name,attr",
    [(m, a) for m, a, _ in TRACING.TARGETS] + EXTRA,
)
def test_tracer_target_resolves(mod_name, attr):
    owner = importlib.import_module(mod_name)
    for part in attr.split("."):
        owner = getattr(owner, part)
    assert callable(owner)


def test_tracer_actions_resolve(spark):
    df = spark.range(1)
    for attr in TRACING.ACTIONS:
        assert callable(getattr(type(df), attr))
    assert callable(type(df.write).parquet)
