"""Pytest gate for the two retired r10 canaries (VERDICT r11 item 7).

`canary_events_ts_sum` and `canary_null_bool` were registry entries from the
r10 bisection era; both went driver-green (r10/r11) and their diagnostic job
is done, so r12 retires them from the registry. The axes they pin — events
content reaching both engines identically, NULL BIGINT and BOOLEAN hash
normalization — stay enforced here, through the SAME compare_to_oracle path
the local gate replica (tools/oracle_check.py) uses.
"""

from __future__ import annotations

import pytest


def _gate_specs():
    from duckdb_ml_spark.plans.bisect import GATE_SPECS

    return [pytest.param(spec, id=name) for name, spec in GATE_SPECS.items()]


@pytest.mark.parametrize("spec", _gate_specs())
def test_retired_canary_still_matches_oracle(spark, sf_dir, oracle_con, spec):
    from duckdb_ml_spark.testing import compare_to_oracle

    df = spec.builder(spark, sf_dir)
    report = compare_to_oracle(df, spec.oracle, oracle_con, name=spec.name)
    assert report["match"], f"{spec.name}: {report}"


def test_retired_canaries_not_registered():
    import __spark_entry__ as entrymod

    names = set(entrymod.queries())
    assert "canary_events_ts_sum" not in names
    assert "canary_null_bool" not in names


def test_plan_cache_resets_on_session_change(spark, sf_dir):
    """VERDICT r13 nit: the queries() plan memo must not accumulate entries
    for dead sessions — a new session's first call resets it, and the two
    sessions never share a built plan."""
    import __spark_entry__ as entrymod
    from duckdb_ml_spark import memo

    sf = sf_dir
    memo.reset()
    qs = entrymod.queries()
    df1 = qs["range_ids"](spark, sf)
    assert qs["range_ids"](spark, sf) is df1  # memoized within the session
    n1 = memo.stats()["entries"]
    assert n1 >= 1
    other = spark.newSession()
    try:
        df2 = qs["range_ids"](other, sf)
        assert df2 is not df1
        # the first session's entries are GONE (no cross-session growth)
        assert memo.stats()["entries"] == n1
        assert qs["range_ids"](other, sf) is df2
    finally:
        memo.reset()
