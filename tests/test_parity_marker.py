"""Collection-only checks of the ``parity`` marker split (pytest.ini runs
``-m "not parity"`` by default): the main suite must never pick up an
oracle-parity case, and the parity tier must hold only the registry-wide
sweeps, so neither selection can shrink or grow silently."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# registry-wide checks outside test_oracle_parity* that ride the parity
# tier on purpose: each builds every registry query's plan
PARITY_REGISTRY_SWEEPS = (
    "tests/test_registry_lint.py::test_lint_covers_most_of_registry",
    "tests/test_registry_lint.py::test_no_container_typed_output[",
    "tests/test_scale_plans.py::test_no_python_eval_in_hot_paths",
)


def _collect(*args: str) -> set[str]:
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests", "--collect-only", "-q",
         "-p", "no:cacheprovider", *args],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    return {line for line in out.stdout.splitlines() if "::" in line}


def _is_oracle_parity(node_id: str) -> bool:
    return node_id.startswith("tests/test_oracle_parity")


def test_parity_marker_splits_the_suite():
    default = _collect()
    parity = _collect("-m", "parity")
    assert default and parity
    assert not default & parity
    assert not [t for t in default if _is_oracle_parity(t)]
    assert [t for t in parity if _is_oracle_parity(t)]
    assert not [
        t for t in parity
        if not _is_oracle_parity(t) and not t.startswith(PARITY_REGISTRY_SWEEPS)
    ]
