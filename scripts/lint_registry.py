"""Registry-wide plan lint: run the physical-plan linter
(plans/lint.py) over every registered batch query and summarize.

Usage: python scripts/lint_registry.py [sf_dir]
Exit 1 if any error-severity finding appears outside the documented
exemptions (the input-restricted brute-force verification baselines).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from us_immigration_data_lake_spark.plans.lint import (  # noqa: E402
    lint_plan,
    unexempted_error_rules,
)
from us_immigration_data_lake_spark.plans.queries import QUERIES  # noqa: E402
from us_immigration_data_lake_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("lint-registry")
    spark.sparkContext.setLogLevel("ERROR")
    bad = 0
    for name, spec in QUERIES.items():
        if "streaming" in spec.tags:
            continue
        findings = lint_plan(spec.fn(spark, sf_dir))
        # gate rule single-sourced with tests/test_plan_lint.py's
        # registry sweep (plans/lint.py:unexempted_error_rules) —
        # incl. the union-agg warn escalated to error outside the
        # adjudicated exemptions (r13 verdict ask #2)
        gate_rules = unexempted_error_rules(name, findings)
        errors = [f for f in findings if f.rule in gate_rules]
        warns = [
            f for f in findings
            if f.severity == "warn" and f.rule not in gate_rules
        ]
        if errors or warns:
            print(f"{name}:")
            for f in errors:
                # label by GATE outcome, not raw severity, so the
                # report never prints [WARN] on a finding that fails
                # the sweep
                tag = ("ERROR" if f.severity == "error"
                       else "ERROR (escalated warn)")
                print(f"  [{tag}] {f.rule}: {f.message}")
            for f in warns:
                print(f"  [WARN] {f.rule}: {f.message}")
            bad += len(errors)
    print(f"\nlint sweep: {bad} unexempted error-severity finding(s)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
