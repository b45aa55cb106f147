"""Registry layout: one module per operator family.

A key's prefix names its family, and the family names the one module
that defines the key's function and registers it. These tests pin that
rule, that the operator package holds only family modules, and that
each family module imports on its own (no import cycle hides behind
the registry's import order).
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pytest

from kuibadb_spark import registry

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PREFIX_MODULE = {
    "ev": "kuibadb_spark.operators.events",
    "text": "kuibadb_spark.operators.text",
    "join": "kuibadb_spark.operators.relational",
    "setop": "kuibadb_spark.operators.relational",
    "sort": "kuibadb_spark.operators.relational",
    "subq": "kuibadb_spark.operators.relational",
    "sample": "kuibadb_spark.operators.sample",
    "ts": "kuibadb_spark.operators.temporal",
    "time": "kuibadb_spark.operators.temporal",
    "asof": "kuibadb_spark.operators.temporal",
    "range": "kuibadb_spark.operators.temporal",
    "rollup": "kuibadb_spark.operators.temporal",
    "dedup": "kuibadb_spark.operators.dedup",
    "sim": "kuibadb_spark.operators.similarity",
    "agg": "kuibadb_spark.operators.aggregates",
    "graph": "kuibadb_spark.operators.graph",
    "mm": "kuibadb_spark.operators.multimodal",
    "profile": "kuibadb_spark.operators.pipelines",
    "pipeline": "kuibadb_spark.operators.pipelines",
    "rfm": "kuibadb_spark.operators.pipelines",
    "w": "kuibadb_spark.operators.windows",
    "stream": "kuibadb_spark.streaming.events",
    "scalar": "kuibadb_spark.functions.scalar",
    "coll": "kuibadb_spark.operators.collections",
    "rec": "kuibadb_spark.operators.recursive",
    "udf": "kuibadb_spark.functions.udfs",
}


def _family_module(key: str) -> str:
    prefix = key.split("_", 1)[0]
    if re.fullmatch(r"q\d+", prefix):
        return "kuibadb_spark.operators.relational"
    return _PREFIX_MODULE[prefix]


def test_every_key_lives_in_its_family_module():
    misplaced = []
    for m in registry._MODULES:
        for key, fn in m.QUERIES.items():
            want = _family_module(key)
            if m.__name__ != want or fn.__module__ != want:
                misplaced.append((key, m.__name__, fn.__module__, want))
        for key in getattr(m, "ORACLES", {}):
            if m.__name__ != _family_module(key):
                misplaced.append((key, m.__name__, "ORACLES"))
    assert not misplaced


def test_operator_package_holds_only_family_modules():
    ops = os.path.join(_ROOT, "kuibadb_spark", "operators")
    names = {f[:-3] for f in os.listdir(ops) if f.endswith(".py")}
    families = {
        m.rsplit(".", 1)[1]
        for m in _PREFIX_MODULE.values()
        if m.startswith("kuibadb_spark.operators.")
    }
    assert names == families | {"__init__"}


@pytest.mark.parametrize(
    "module", sorted(set(_PREFIX_MODULE.values()) | {"kuibadb_spark.registry"})
)
def test_family_module_imports_on_its_own(module):
    proc = subprocess.run(
        [sys.executable, "-c", f"import {module}"],
        cwd=_ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
