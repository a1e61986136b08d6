"""Documentation counts stay generated, never hand-edited: the
update_doc_counts --check mode must report in-sync (r4 verdict #8 —
two rounds of hand-reconciled drift before the generator existed)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_doc_counts_in_sync():
    out = subprocess.run(
        [sys.executable, "scripts/update_doc_counts.py", "--check"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stdout + out.stderr
