"""The five reference example jobs run in-process on the shared session.

Each ``examples/<name>.py`` asserts its own result inside ``main()``, so
running it is the whole check. ``get_spark`` returns the running session
and no example stops it, so they reuse the test session.
"""

from __future__ import annotations

import importlib.util
import inspect
from pathlib import Path

import pytest

_EXAMPLES = Path(__file__).resolve().parent.parent / "examples"


@pytest.mark.parametrize(
    "name",
    [
        "simple_pipeline",
        "stateful_deduplication",
        "stream_join",
        "windowed_aggregation",
        "word_count",
    ],
)
def test_example_runs_and_self_checks(spark, sf_dir, name):
    spec = importlib.util.spec_from_file_location(
        f"examples_{name}", _EXAMPLES / f"{name}.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    # the sf-reading examples take the fixture directory as their one arg
    args = [sf_dir] if inspect.signature(mod.main).parameters else []
    mod.main(*args)
