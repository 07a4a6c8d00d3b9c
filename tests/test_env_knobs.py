"""No environment knob may creep into the package unless a test or the
benchmark sets it, or it is a deployment setting."""

from __future__ import annotations

import re
from pathlib import Path

import perl_data_validate_sanctions_spark as pkg

ALLOWED = {
    "PDVS_JPEG_C",  # kernel kill-switches, set by the kernel tests
    "PDVS_PNG_C",
    "PDVS_MSE_C",
    "PDVS_NATIVE_CACHE",  # compiled-kernel cache dir, set by tests and perfbench
    "PDVS_DRIVER_MEM",  # deployment: driver heap size
}


def test_package_env_knobs_are_allowlisted():
    root = Path(pkg.__file__).parent
    found = {
        m.group(1)
        for path in root.rglob("*.py")
        for m in re.finditer(r"""["'](PDVS_[A-Z0-9_]+)["']""", path.read_text())
    }
    assert found, "scan found no knobs at all; is the pattern stale?"
    assert found <= ALLOWED, sorted(found - ALLOWED)
