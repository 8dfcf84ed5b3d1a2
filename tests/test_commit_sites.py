"""Only ``catalog.py`` calls ``SnapshotCatalog._commit``.

A read-modify-write commit outside the catalog (read the table, derive
a frame, ``_commit`` it unpinned) silently overwrites any snapshot
another writer committed in between. Such rewrites go through
``SnapshotCatalog.rewrite``, which pins the basis; this check keeps a
new unpinned copy from creeping back in.
"""

from __future__ import annotations

import os
import re

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "konohadataplatform_spark",
)


def test_no_module_outside_catalog_calls_commit():
    callers = []
    for dirpath, _, files in os.walk(PACKAGE):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == os.path.join(PACKAGE, "catalog.py"):
                continue
            with open(path) as fh:
                for n, line in enumerate(fh, start=1):
                    if re.search(r"\._commit\(", line):
                        callers.append(f"{os.path.relpath(path, PACKAGE)}:{n}")
    assert not callers, "_commit called outside catalog.py: " + ", ".join(callers)
