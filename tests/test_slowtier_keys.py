"""Every ``SLOWTIER`` key in ``conftest.py`` names a collected test.

A key that stops matching (a renamed or removed test) is silently
harmless to collection: the slow test it meant just runs in the default
tier again and eats the verify budget. This check makes it loud.
"""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import SLOWTIER

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(TESTS_DIR)


def test_every_slowtier_key_matches_a_collected_test():
    files = sorted({"tests/" + key.split("::", 1)[0] for key in SLOWTIER})
    out = subprocess.run(
        [
            sys.executable, "-m", "pytest", "--collect-only", "-q",
            "-p", "no:cacheprovider", "-m", "slowtier or not slowtier",
            *files,
        ],
        cwd=REPO_ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    collected = {
        line.strip().rsplit("tests/", 1)[-1]
        for line in out.stdout.splitlines()
        if "::" in line
    }
    assert collected, out.stdout + out.stderr
    missing = sorted(SLOWTIER - collected)
    assert not missing, "SLOWTIER keys matching no collected test: " + ", ".join(
        missing
    )
