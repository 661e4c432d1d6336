#!/usr/bin/env python
"""Driver-check freshness ledger (VERDICT r11 item 2).

For every registered query, records:
  - the last round in which the driver hash-checked it green
    (CORRECTNESS_r*.json, hash_match; rows_match for no-oracle rows),
  - the module that registers it,
  - the last commit touching that module (or "uncommitted", dated now,
    while the module has working-tree or index changes),
and flags STALE any query whose registering module was committed to AFTER
its last driver-green round (i.e. the driver has never hashed the current
plan).  Counting an uncommitted edit as a touch makes the gate fail on the
edit itself, before it lands, rather than only on the commit after it.
The module is the granularity the engine actually changes at — a touch
marks every query in the file, which over-approximates staleness in
exactly the conservative direction a freshness gate wants.

Output: CHECKLEDGER.md at the repo root (one row per query) plus a JSON
blob on stdout consumed by tests/test_check_ledger.py, which asserts every
STALE query is either inside the declared driver window (_CHECK_PRIORITY
first 50) or in the explicit carry-over list below — so staleness is a
committed, test-enforced fact instead of a judge-discovered one.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys
from datetime import datetime, timezone
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

WINDOW_SLOTS = 50  # the driver checks the first 50 queries() entries

# Env-drift sentinels (plans/canary.py): deliberately trivial pinned-literal
# queries whose only job is to detect driver-environment drift (timestamp
# rendering, quantile interpolation, decimal/float formatting). They are
# exempt from the staleness rotation ONLY while their plan/oracle text is
# byte-identical to the last driver-green version — a real edit to either
# re-enters them into the rotation automatically (ADVICE r12: an
# unconditional exemption would let a future canary plan edit bypass the
# freshness gate forever). The pinned fingerprints are checked at ledger
# build time against canary_fingerprints() below, which hashes each
# sentinel's (plan source, oracle SQL) pair.
EXEMPT_ENV_SENTINELS = frozenset(
    {
        "canary_ts_raw",
        "canary_ts_epoch_us",
        "canary_quantile_interp",
        "canary_decimal_literal",
        "canary_float_repr",
    }
)

# sha256(plan builder source + oracle SQL) of each sentinel at its last
# driver-green round (r8, CORRECTNESS_r08/r09). Regenerate from
# canary_fingerprints() AFTER a sentinel goes driver-green again — never
# alongside the edit itself.
_CANARY_PINNED_FP = {
    "canary_ts_raw": "1a37f2197cb44d1a",
    "canary_ts_epoch_us": "2e2de712c276ad98",
    "canary_quantile_interp": "847d76cdd37205db",
    "canary_decimal_literal": "86e2eac467d4223e",
    "canary_float_repr": "3e35b4fbbbe9d9e0",
}


def canary_fingerprints() -> dict[str, str]:
    """Current sha256 of each sentinel's (builder source, oracle SQL)."""
    import hashlib
    import inspect

    from duckdb_ml_spark.plans.canary import QUERIES as CANARY_QUERIES

    fps = {}
    for name in EXEMPT_ENV_SENTINELS:
        spec = CANARY_QUERIES.get(name)
        if spec is None:
            continue
        blob = inspect.getsource(spec.builder) + (spec.oracle or "")
        fps[name] = hashlib.sha256(blob.encode()).hexdigest()[:16]
    return fps

# Modules whose QUERIES registries feed __spark_entry__, plus the shared
# helpers a plan change would land in.  A query's provenance is its
# registering module; the shared helpers below mark EVERY query stale when
# touched (they change many plans at once), so they are listed only as
# context columns, not staleness triggers — rewiring them is always paired
# with a full local-gate run (tools/oracle_check.py), which NOTES.md records.
REGISTRY_MODULES = (
    "duckdb_ml_spark/plans/relational.py",
    "duckdb_ml_spark/plans/canary.py",
    "duckdb_ml_spark/plans/bisect.py",
    "duckdb_ml_spark/operators/dedup.py",
    "duckdb_ml_spark/operators/similarity.py",
    "duckdb_ml_spark/operators/text.py",
    "duckdb_ml_spark/operators/bpe.py",
    "duckdb_ml_spark/operators/multimodal.py",
    "duckdb_ml_spark/operators/asof.py",
    "duckdb_ml_spark/operators/analytics.py",
    "duckdb_ml_spark/operators/sampling.py",
    "duckdb_ml_spark/operators/pq.py",
    "duckdb_ml_spark/operators/ivfpq.py",
    "duckdb_ml_spark/operators/mlprep.py",
    "duckdb_ml_spark/operators/dq.py",
    "duckdb_ml_spark/operators/pipeline.py",
    "duckdb_ml_spark/plans/scale.py",
    "duckdb_ml_spark/functions/queries.py",
    "duckdb_ml_spark/sources/readers.py",
    "duckdb_ml_spark/streaming/queries.py",
    "duckdb_ml_spark/autompg.py",
)


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout.strip()


def round_marker_dates() -> dict[int, str]:
    """round N → ISO date of the driver's `round N: verdict/...` commit.

    CORRECTNESS_rN is produced against the round-N HEAD, which is that
    marker's parent — so any module commit dated after the marker postdates
    the check."""
    out = _git("log", "--format=%cI|%s")
    rounds: dict[int, str] = {}
    for line in out.splitlines():
        date, _, subj = line.partition("|")
        m = re.match(r"round (\d+): verdict", subj)
        if m:
            rounds.setdefault(int(m.group(1)), date)
    return rounds


def query_provenance() -> dict[str, str]:
    """query name → registering module path (relative)."""
    import importlib

    prov: dict[str, str] = {}
    for rel in REGISTRY_MODULES:
        modname = rel.replace("/", ".").removesuffix(".py")
        try:
            mod = importlib.import_module(modname)
        except ImportError:
            continue
        reg = getattr(mod, "QUERIES", None) or getattr(mod, "RELATIONAL_QUERIES", {})
        for name in reg:
            prov.setdefault(name, rel)
    return prov


def last_green() -> dict[str, tuple[int, str]]:
    """query → (round, kind) of most recent driver-green check."""
    green: dict[str, tuple[int, str]] = {}
    for path in sorted(glob.glob(str(REPO / "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)\.json", path).group(1))
        for name, rec in json.load(open(path)).items():
            if rec.get("err") == "no_oracle":
                # rows-only-by-design query: the driver ran the Spark plan
                # and recorded its row count — that IS the (weak) check such
                # rows get, so it counts as a rows-kind green when rows > 0
                if (rec.get("spark_rows") or 0) > 0 and green.get(
                    name, (0, "rows")
                )[1] != "hash":
                    green[name] = (rnd, "rows")
                continue
            if rec.get("err"):
                continue
            if rec.get("hash_match"):
                green[name] = (rnd, "hash")
            elif rec.get("rows_match") and name not in green:
                green[name] = (rnd, "rows")
            elif rec.get("rows_match") and green.get(name, (0, ""))[1] == "rows":
                green[name] = (rnd, "rows")
    return green


def module_last_commit(rel: str) -> tuple[str, str]:
    """(short hash, ISO date) of the module's last change.

    A module with working-tree or index changes counts as touched now: the
    edit is part of the change being made, so its rows must already be
    windowed or carried before it is committed, not only after."""
    if _git("status", "--porcelain", "--", rel):
        return "uncommitted", datetime.now(timezone.utc).isoformat(timespec="seconds")
    out = _git("log", "-1", "--format=%h|%cI", "--", rel)
    h, _, d = out.partition("|")
    return h, d


def build_ledger() -> dict:
    import __spark_entry__ as entrymod

    specs = entrymod._all_query_specs()
    window = list(specs)[:WINDOW_SLOTS]
    prov = query_provenance()
    greens = last_green()
    rounds = round_marker_dates()
    mod_commits = {rel: module_last_commit(rel) for rel in REGISTRY_MODULES}
    cur_canary_fp = canary_fingerprints()

    rows = []
    for name, spec in specs.items():
        rel = prov.get(name, "?")
        commit_h, commit_d = mod_commits.get(rel, ("?", ""))
        g_round, g_kind = greens.get(name, (0, "never"))
        checked_date = rounds.get(g_round, "")
        # compare as datetimes, not strings: ISO strings with different UTC
        # offsets mis-order lexicographically ('...T02:00-07:00' sorts before
        # '...T05:00+00:00' although it is 4h later), which would mark a
        # plan-touching non-UTC commit fresh
        stale = bool(commit_d) and (
            not checked_date
            or datetime.fromisoformat(commit_d) > datetime.fromisoformat(checked_date)
        )
        exempt = False
        if stale and name in EXEMPT_ENV_SENTINELS:
            # env-drift sentinel: exempt from the rotation while its plan
            # builder + oracle are byte-identical to the last driver-green
            # fingerprint (a tag-only or comment commit to canary.py must
            # not trip the gate); a REAL plan/oracle edit changes the
            # fingerprint and the row re-enters the rotation (ADVICE r12)
            if cur_canary_fp.get(name) == _CANARY_PINNED_FP.get(name):
                stale, exempt = False, True
        rows.append(
            {
                "query": name,
                "module": rel,
                "module_commit": commit_h,
                "module_commit_date": commit_d,
                "last_green_round": g_round or None,
                "check_kind": g_kind,
                "oracle": spec.oracle is not None,
                "stale": stale,
                "exempt_sentinel": exempt,
                "in_window": name in window,
            }
        )
    return {"window_slots": WINDOW_SLOTS, "window": window, "rows": rows}


def write_md(ledger: dict) -> None:
    lines = [
        "# CHECKLEDGER — driver-check freshness (generated by tools/check_ledger.py)",
        "",
        "A query is STALE when its registering module's last commit postdates the",
        "round of its last driver-green check — the driver has never hashed the",
        "current plan; an uncommitted edit to the module counts as a commit made",
        "now. tests/test_check_ledger.py asserts every stale query is in the",
        "declared next driver window (or explicitly carried over).",
        "",
        "| query | module | last green | kind | module commit | stale | in r-window |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in sorted(
        ledger["rows"], key=lambda r: (not r["stale"], r["last_green_round"] or 0)
    ):
        lines.append(
            "| {query} | {module} | r{lg} | {check_kind} | {module_commit} "
            "{d} | {stale} | {win} |".format(
                query=r["query"],
                module=r["module"].rsplit("/", 1)[-1],
                lg=r["last_green_round"] or "—",
                check_kind=r["check_kind"],
                module_commit=r["module_commit"],
                d=r["module_commit_date"][:10],
                stale="STALE" if r["stale"] else "",
                win="yes" if r["in_window"] else "",
            )
        )
    n_stale = sum(r["stale"] for r in ledger["rows"])
    lines += [
        "",
        f"{len(ledger['rows'])} queries; {n_stale} stale; "
        f"window = first {ledger['window_slots']} registry entries.",
        "",
    ]
    (REPO / "CHECKLEDGER.md").write_text("\n".join(lines))


if __name__ == "__main__":
    ledger = build_ledger()
    write_md(ledger)
    os.makedirs(REPO / ".tmp", exist_ok=True)
    with open(REPO / ".tmp" / "checkledger.json", "w") as f:
        json.dump(ledger, f, indent=1)
    stale = [r for r in ledger["rows"] if r["stale"]]
    try:
        print(json.dumps({"total": len(ledger["rows"]), "stale": len(stale)}))
        for r in stale:
            print(f"  STALE {r['query']} (r{r['last_green_round']}, {r['module']})"
                  f"{' [window]' if r['in_window'] else ''}")
        sys.stdout.flush()
    except BrokenPipeError:
        # the reader closed the pipe early (`| head`); the ledger files are
        # already written, so that is not a failure. Point stdout at devnull
        # so the interpreter's exit flush does not raise again.
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
