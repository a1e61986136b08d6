"""No test or script hard-codes a checkout location: each one finds the
engine, the docs and its own working directory from ``__file__``. A
fixed path put one checkout first on ``sys.path``, so a pytest run
started in any other copy of the tree silently tested that fixed
copy's engine. JVM-free source scan."""

from __future__ import annotations

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# assembled, so this file does not match its own scan
FIXED = "/".join(["", "root", "repo"])


def fixed_path_sites(root: str) -> list[str]:
    """``file:line`` of every line in a ``.py`` file under ``root``
    that contains the fixed checkout path."""
    hits = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for name in sorted(filenames):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as f:
                for n, line in enumerate(f, 1):
                    if FIXED in line:
                        hits.append(f"{os.path.relpath(path, root)}:{n}")
    return hits


def test_tests_and_scripts_hold_no_fixed_checkout_path():
    for sub in ("tests", "scripts"):
        assert fixed_path_sites(os.path.join(REPO, sub)) == [], sub


def test_fixed_path_scan_flags_a_planted_literal(tmp_path):
    (tmp_path / "clean.py").write_text("import os\n")
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "planted.py").write_text(
        f'import sys\nsys.path.insert(0, "{FIXED}")\n'
    )
    assert fixed_path_sites(str(tmp_path)) == [
        os.path.join("pkg", "planted.py") + ":2"
    ]
