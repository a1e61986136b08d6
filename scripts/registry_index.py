"""Generate QUERIES.md: one line per registered query — name, tags,
oracle status, bench membership, and the first docstring-comment line
from its registry block. Run after adding queries:

    python scripts/registry_index.py > QUERIES.md

(scripts/update_doc_counts.py calls ``render()`` and writes/checks
QUERIES.md itself, so the doc-count drift gate covers this file too.)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from us_immigration_data_lake_spark.plans.queries import QUERIES  # noqa: E402

SRC = os.path.join(REPO, "us_immigration_data_lake_spark", "plans", "queries.py")


def _headlines() -> dict[str, str]:
    """qNN → the '# QNN — ...' banner line's text, from the source."""
    out: dict[str, str] = {}
    text = open(SRC).read()
    for m in re.finditer(r"^# (Q\d+[a-z+]*) — (.+)$", text, re.M):
        out[m.group(1).lower()] = m.group(2).strip()
    return out


def render() -> str:
    banners = _headlines()
    lines = [
        "# Query registry index",
        "",
        f"{len(QUERIES)} queries, "
        f"{sum(1 for s in QUERIES.values() if s.oracle)} oracled, "
        f"{sum(1 for s in QUERIES.values() if s.bench)} bench headliners. "
        "Generated by scripts/registry_index.py.",
        "",
        "| query | oracle | bench | tags | summary |",
        "| --- | --- | --- | --- | --- |",
    ]
    for name, spec in QUERIES.items():
        qkey = name.split("_", 1)[0]
        banner = banners.get(qkey, "")
        lines.append(
            f"| {name} "
            f"| {'yes' if spec.oracle else 'rows-only'} "
            f"| {'yes' if spec.bench else ''} "
            f"| {', '.join(spec.tags)} "
            f"| {banner} |"
        )
    return "\n".join(lines) + "\n"


def main() -> None:
    sys.stdout.write(render())


if __name__ == "__main__":
    main()
