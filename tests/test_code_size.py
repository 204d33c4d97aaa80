"""The package's settable surface: the defaulted parameters of every
function in ``addressparser_spark/``, as ``tools/code_lines.py --params``
counts them.

Every defaulted parameter is a setting some caller may pass and every
later change must keep working. A change that adds one re-pins
``PACKAGE_PARAMS`` here with the reason it earns its place, as
``LINK_JOBS`` in ``tests/test_cli_link.py`` is re-pinned for jobs; a
change that removes one lowers the pin.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# defaulted parameters over addressparser_spark/**/*.py
PACKAGE_PARAMS = 38


def test_package_defaulted_parameters_are_pinned():
    files = sorted(glob.glob(os.path.join(ROOT, "addressparser_spark", "**", "*.py"), recursive=True))
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "code_lines.py"), "--params", *files],
        capture_output=True, text=True, check=True,
    ).stdout
    total, label = out.splitlines()[-1].split()
    assert label == "total"
    assert int(total) == PACKAGE_PARAMS, out
