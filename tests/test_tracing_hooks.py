"""The traced benchmark run (perfbench/tracing.py) wraps engine,
manifest, zonemap and COPY functions by attribute name. A refactor that
renames or removes one of them breaks the traced run, so check here that
every hook point exists and that uninstalling restores each original."""

from __future__ import annotations

import importlib.util
from pathlib import Path

TRACING = Path(__file__).resolve().parents[1] / "perfbench" / "tracing.py"


def test_tracer_hook_points_exist_and_are_restored(spark):
    spec = importlib.util.spec_from_file_location("perfbench_tracing", TRACING)
    tracing = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tracing)
    tracer = tracing.Tracer(spark)
    try:
        tracer.install()  # AttributeError if a wrapped name is gone
        patched = list(tracer._patches)
        assert patched
        for owner, attr, orig in patched:
            assert getattr(owner, attr) is not orig, f"{attr} not wrapped"
    finally:
        tracer.uninstall()
    for owner, attr, orig in patched:
        assert getattr(owner, attr) is orig, f"{attr} not restored"
