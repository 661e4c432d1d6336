"""Driver-check freshness invariant (VERDICT r11 item 2).

tools/check_ledger.py derives, from the committed CORRECTNESS_r*.json files
and git history, which registered queries are STALE — their registering
module was committed to after their last driver-green round, so the driver
has never hashed the current plan. This test pins the freshness contract:

  every stale query is either inside the declared driver window
  (the first 50 registry entries, i.e. _CHECK_PRIORITY) or explicitly
  declared in __spark_entry__._WINDOW_CARRYOVER (the committed rotation
  plan for the rounds after next).

So a plan-touching commit can never silently leave a query unchecked — it
either fits the next window or the carryover declaration must be updated in
the same change, which the judge and the ledger (CHECKLEDGER.md) both see.

No SparkSession needed: the ledger only imports registries, reads JSON, and
runs `git log` — a few seconds.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))


def _ledger():
    import check_ledger

    return check_ledger.build_ledger()


def test_every_stale_query_is_windowed_or_carried():
    import __spark_entry__ as entrymod

    ledger = _ledger()
    window = set(ledger["window"])
    carry = set(entrymod._WINDOW_CARRYOVER)
    stale = {r["query"] for r in ledger["rows"] if r["stale"]}
    orphans = stale - window - carry
    assert not orphans, (
        f"{len(orphans)} stale queries neither in the driver window nor "
        f"declared in _WINDOW_CARRYOVER: {sorted(orphans)} — add them to the "
        "next window or the carryover rotation in __spark_entry__.py"
    )


def test_carryover_names_are_registered():
    import __spark_entry__ as entrymod

    names = set(entrymod._all_query_specs())
    unknown = set(entrymod._WINDOW_CARRYOVER) - names
    assert not unknown, f"carryover lists unregistered queries: {sorted(unknown)}"


def test_window_priority_names_are_registered():
    import __spark_entry__ as entrymod

    names = set(entrymod._all_query_specs())
    unknown = set(entrymod._CHECK_PRIORITY) - names
    assert not unknown, f"_CHECK_PRIORITY lists unregistered queries: {sorted(unknown)}"
    # the window must actually fill the driver's 50 slots with priority rows
    assert len(entrymod._CHECK_PRIORITY) == 50


def test_env_sentinels_exempt_only_while_fingerprint_pinned():
    """ADVICE r12: canaries are exempt from the rotation ONLY while their
    plan builder + oracle hash to the pinned last-driver-green fingerprint.
    A real edit changes the fingerprint and the exemption must lapse."""
    import check_ledger

    cur = check_ledger.canary_fingerprints()
    # the committed pin must match the committed canary.py — if this fails,
    # someone edited a sentinel plan/oracle without scheduling a driver
    # re-check: add the canary to the window/carryover, get it green, THEN
    # re-pin via canary_fingerprints()
    assert cur == {
        k: v for k, v in check_ledger._CANARY_PINNED_FP.items() if k in cur
    }, (
        "canary plan/oracle edited without re-pinning — schedule a driver "
        "re-check before updating _CANARY_PINNED_FP"
    )
    # and the exemption logic must depend on that equality: simulate a drift
    orig = check_ledger._CANARY_PINNED_FP.copy()
    try:
        check_ledger._CANARY_PINNED_FP["canary_ts_raw"] = "0" * 16
        ledger = check_ledger.build_ledger()
        row = next(r for r in ledger["rows"] if r["query"] == "canary_ts_raw")
        # canary.py's last commit postdates the r8/r9 green, so without the
        # fingerprint match the row must surface as stale again
        assert row["stale"] and not row["exempt_sentinel"]
    finally:
        check_ledger._CANARY_PINNED_FP.clear()
        check_ledger._CANARY_PINNED_FP.update(orig)


def test_checkledger_md_exists():
    assert (REPO / "CHECKLEDGER.md").exists(), (
        "run tools/check_ledger.py and commit CHECKLEDGER.md"
    )


def test_uncommitted_module_edit_counts_as_touched(monkeypatch):
    """A registry module with working-tree or index changes is touched now,
    so its rows are stale before the edit is committed — the gate must see
    a plan change in the change that makes it, not one commit later."""
    import check_ledger

    target = "duckdb_ml_spark/operators/similarity.py"
    real_git = check_ledger._git

    def fake_git(*args: str) -> str:
        if args[0] == "status":
            return f" M {target}" if args[-1] == target else ""
        return real_git(*args)

    monkeypatch.setattr(check_ledger, "_git", fake_git)
    rows = [r for r in check_ledger.build_ledger()["rows"] if r["module"] == target]
    assert rows, f"no registry rows found for {target}"
    assert all(r["stale"] for r in rows), [r["query"] for r in rows if not r["stale"]]
    assert {r["module_commit"] for r in rows} == {"uncommitted"}
