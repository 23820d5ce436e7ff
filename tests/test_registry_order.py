"""The registry order is the driver-coverage rotation: ``_ROTATION_PREFIX``
first, then every other query by its module's place in
``registry._MODULES``. It must not depend on which registering module a
process happens to import first, so each probe imports one module in a
fresh interpreter before asking for the order."""

from __future__ import annotations

import os
import subprocess
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import hashlib, importlib, sys
importlib.import_module(sys.argv[1])
from document_query_system_spark.registry import all_specs
print(hashlib.sha256("\\\\n".join(all_specs()).encode()).hexdigest())
"""


def _order_digest(first: str) -> str:
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, "document_query_system_spark." + first],
        cwd=_ROOT,
        capture_output=True,
        text=True,
        check=True,
    )
    return out.stdout.strip()


def test_registry_order_ignores_import_order():
    digests = {
        first: _order_digest(first)
        for first in ("registry", "api", "operators.search", "functions.vector")
    }
    assert len(set(digests.values())) == 1, digests
