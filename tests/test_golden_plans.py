"""Golden explain-plan diffs — any plan regression in the headline set
fails here, naming the query (the reference's PlannerTest golden-file
methodology, fe/src/test/java/org/apache/impala/planner/
PlannerTest.java + testdata/.../PlannerTest/*.test).

On intentional plan changes: `python3 scripts/snapshot_plans.py`,
review the git diff, commit.
"""

from __future__ import annotations

import difflib
import os

import pytest

from tests.conftest import SF_SMALL


def _names():
    from incubator_impala_spark.testing import plansnap

    return plansnap.all_plan_queries()


@pytest.mark.parametrize("name", _names())
def test_golden_plan(spark, name):
    from incubator_impala_spark.queries import QUERIES
    from incubator_impala_spark.testing import plansnap

    path = plansnap.golden_path(name)
    assert os.path.exists(path), (
        f"no golden plan for {name}; run scripts/snapshot_plans.py"
    )
    # Cold-cache state: a persisted intermediate materialized by an
    # earlier test carries exact size statistics that can flip a join
    # strategy, making the plan depend on test order.
    spark.catalog.clearCache()
    got = plansnap.normalize(
        plansnap.explain_formatted(QUERIES[name](spark, SF_SMALL))
    )
    with open(path) as f:
        want = plansnap.normalize(f.read())
    if got != want:
        diff = "\n".join(
            difflib.unified_diff(
                want.splitlines(), got.splitlines(),
                fromfile=f"golden/{name}", tofile=f"current/{name}",
                lineterm="",
            )
        )
        pytest.fail(
            f"physical plan changed for {name} — if intentional, rerun "
            f"scripts/snapshot_plans.py and review the diff:\n{diff}"
        )
