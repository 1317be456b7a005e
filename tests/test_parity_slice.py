"""CI-style rotating strict-parity slice.

The round driver samples ~50 of the registered queries per round, so
most of the registry is only ever checked by a full
tools/parity_strict.py run. This test replays the driver's EXACT pandas
value-hash gate (tools/parity_strict.py) over a deterministic 35-query
window that rotates with the round number: every oracle-backed query
gets a recorded strict check within ~5 rounds without any single test
run paying for the full registry. The current window is recorded in
COVERAGE.md.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

spec = importlib.util.spec_from_file_location(
    "parity_strict", os.path.join(REPO, "tools", "parity_strict.py")
)
ps = importlib.util.module_from_spec(spec)
sys.modules["parity_strict"] = ps
spec.loader.exec_module(ps)

from omicidx_gh_etl_spark.queries import REGISTRY  # noqa: E402
from omicidx_gh_etl_spark.queries.base import ORACLE_TABLES  # noqa: E402

SF_GATE = "/root/testdata/sf0.01"  # the driver's comparison scale


def test_slice_rotation_is_deterministic_and_covering():
    names = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
    seen: set[str] = set()
    rounds_to_cover = -(-len(names) // 35)
    for r in range(1, rounds_to_cover + 1):
        s = ps.slice_for_round(names, r)
        assert len(s) == 35
        assert s == ps.slice_for_round(names, r)  # deterministic
        seen.update(s)
    assert seen == set(names)  # full registry within ceil(n/35) rounds


@pytest.mark.skipif(
    not os.path.isdir(SF_GATE), reason="driver-scale testdata not present"
)
def test_strict_parity_rotating_slice(spark):
    round_no = ps.current_round(REPO)
    names = [n for n, q in REGISTRY.items() if q.oracle is not None]
    window = ps.slice_for_round(names, round_no)

    con = duckdb.connect()
    for t in ORACLE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_GATE}/{t}.parquet')"
        )
    failures = {}
    for name in window:
        try:
            sdf = REGISTRY[name].builder(spark, SF_GATE)
            errors = ps.compare_strict(name, sdf, con)
        except Exception as e:  # noqa: BLE001
            errors = [f"EXCEPTION: {type(e).__name__}: {e}"]
        if errors:
            failures[name] = errors[:3]
    assert not failures, (
        f"round {round_no} slice ({len(window)} queries): {failures}"
    )
