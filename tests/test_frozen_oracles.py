"""Regen tripwire for the frozen VALUES-CTE oracles (q40/q41/q42/q55).

Those oracles (cogie_spark/fixtures/expected_oracles.py) are generated
from the pipeline's own output by scripts/gen_expected_oracles.py and
must be regenerated after any INTENTIONAL fixture/pipeline-default
change. Before this test, a forgotten regen surfaced only as a red
driver run (CORRECTNESS hash mismatch); here we recompute each query
live at the driver's sf0.01 scale, run the frozen SQL through DuckDB,
and compare the row multisets — so drift fails in `pytest tests/`.

Mutating a pipeline default (e.g. LinkageConfig.threshold) without
rerunning the generator makes this fail locally, which is the point.
"""

from __future__ import annotations

import duckdb
import pytest

from cogie_spark.fixtures.expected_oracles import EXPECTED_ORACLES

SF_DIR = "/root/testdata/sf0.01"  # the driver's correctness scale


def _canon(rows: list[tuple]) -> list[tuple]:
    """None-safe canonical ordering + float normalization.

    DuckDB DOUBLE and Spark double both round-trip repr() exactly, so
    exact equality is intentional — the oracle freeze exists to detect
    ANY behavioral drift, not approximate agreement.
    """
    return sorted(rows, key=lambda r: tuple((v is None, str(type(v)), v) for v in r))


# q40/q41 run the flagship through the frozen __spark_entry__.py, which
# drops run_linkage's result (and with it the release handle): the one
# place its caches outlive a call
_DROPS_RUN = pytest.mark.leaks_rdds(
    reason="__spark_entry__.py is frozen and drops the run_linkage result"
)


@pytest.mark.parametrize("name", [
    pytest.param(n, marks=_DROPS_RUN) if n.startswith(("q40_", "q41_")) else n
    for n in sorted(EXPECTED_ORACLES)
])
def test_frozen_oracle_matches_live_output(spark, name):
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, SF_DIR)
    live = _canon([tuple(r) for r in df.collect()])
    expected = _canon(duckdb.sql(EXPECTED_ORACLES[name]).fetchall())
    assert live == expected, (
        f"{name}: live pipeline output diverged from the frozen oracle. "
        "If the fixture or a pipeline default changed INTENTIONALLY, rerun "
        "`PYTHONPATH=/root/repo python scripts/gen_expected_oracles.py` and "
        "commit the regenerated cogie_spark/fixtures/expected_oracles.py; "
        f"otherwise this is a behavioral regression.\nlive     ({len(live)} rows): "
        f"{live[:5]}\nexpected ({len(expected)} rows): {expected[:5]}"
    )
