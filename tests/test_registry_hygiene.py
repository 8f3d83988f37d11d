"""Registry ↔ SURVEY ↔ oracle-snapshot hygiene (VERDICT r6 item 8, r7
item 4). Three invariants, all cheap (no Spark session):

1. Every `@register`-ed operator appears in SURVEY.md §2, and every §2
   operator is registered — the judge checks §2 line by line, so a
   drifted inventory misreports coverage in BOTH directions.
2. Every registered oracle's text matches the committed snapshot
   (tools/oracle_snapshot.json). The snapshot can only be refreshed by
   `python tools/oracle_snapshot.py --update`, which re-runs the local
   correctness gate on exactly the changed operators first — so an
   oracle-semantics change cannot land without a same-session green
   gate line (the round-7 msg_registry_decode hole: oracle widened,
   engine not, driver sample didn't draw it, tree shipped broken).
3. The snapshot carries no stale names.
"""

from __future__ import annotations

import os
import re

from zigchain_indexer_clickhouse_spark.plans import registry

import tools.oracle_snapshot as snap_mod

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _survey_section2_names() -> set[str]:
    text = open(os.path.join(_REPO, "SURVEY.md")).read()
    start = text.index("## §2 ")
    end = text.index("## §3 ")
    names: set[str] = set()
    for line in text[start:end].splitlines():
        if not line.startswith("|"):
            continue
        cells = line.split("|")
        if len(cells) < 3 or not re.match(r"^\s*\d+[a-z]?\s*$", cells[1]):
            continue
        # operator cell: backticked name(s) before the first em-dash;
        # rows like 8 and 32a carry several names separated by " / "
        head = cells[2].split("—")[0]
        names.update(re.findall(r"`([a-z0-9_]+)`", head))
    return names


def test_registry_matches_survey_section2():
    registered = set(registry.queries())
    survey = _survey_section2_names()
    missing_from_survey = sorted(registered - survey)
    missing_from_registry = sorted(survey - registered)
    assert not missing_from_survey, (
        f"registered but absent from SURVEY §2: {missing_from_survey}"
    )
    assert not missing_from_registry, (
        f"in SURVEY §2 but not @register-ed: {missing_from_registry}"
    )


def test_oracle_snapshot_is_current():
    cur = snap_mod.current_hashes()
    snap = snap_mod.load_snapshot()
    assert snap, (
        "tools/oracle_snapshot.json missing — run "
        "`python tools/oracle_snapshot.py --update`"
    )
    drifted = snap_mod.drift(cur, snap, snap_mod.current_impl_hashes())
    assert not drifted, (
        f"oracle text or defining-module source changed without "
        f"re-verification for {drifted}; run "
        "`python tools/oracle_snapshot.py --update <sf_dir>` (it re-runs "
        "the local correctness gate on exactly these operators before "
        "refreshing the snapshot, and stamps reverify_after so the "
        "driver sample re-draws them)"
    )


def test_impl_drift_is_detected(monkeypatch):
    """A changed implementation source (impl hash) counts as drift even
    when the oracle text is untouched — the r12 q21/ingest hole. That
    includes an edit to a helper module that defines no operator: the
    operators importing it drift, the ones that do not stay clean."""
    cur = snap_mod.current_hashes()
    snap = snap_mod.load_snapshot()
    impl = snap_mod.current_impl_hashes()
    assert set(impl) == set(cur)
    name = next(iter(cur))
    forged = dict(impl)
    forged[name] = "0" * 16
    assert name in snap_mod.drift(cur, snap, forged)

    # helper-module case: msg_body_decode (rpc_json.py) imports the wire
    # codec from functions/protobuf.py; q1_pricing_summary (olap.py) does
    # not, directly or transitively
    fresh = {n: {"hash": cur[n], "impl": impl[n], "reverify_after": 0}
             for n in cur}
    assert not snap_mod.drift(cur, fresh, impl)
    helper = os.path.join(_REPO, "zigchain_indexer_clickhouse_spark",
                          "functions", "protobuf.py")
    real = snap_mod._source
    monkeypatch.setattr(
        snap_mod, "_source",
        lambda p: real(p) + (b"\n# edited\n" if os.path.samefile(p, helper)
                             else b""),
    )
    drifted = snap_mod.drift(cur, fresh, snap_mod.current_impl_hashes())
    assert "msg_body_decode" in drifted
    assert "q1_pricing_summary" not in drifted

    # C-source case: native_registry.py compiles and loads the kernel
    # it names, so an edit to native_walk.c drifts the registry decode
    kernel = os.path.join(_REPO, "zigchain_indexer_clickhouse_spark",
                          "functions", "native_walk.c")
    monkeypatch.setattr(
        snap_mod, "_source",
        lambda p: real(p) + (b"\n/* edited */\n" if os.path.samefile(p, kernel)
                             else b""),
    )
    drifted = snap_mod.drift(cur, fresh, snap_mod.current_impl_hashes())
    assert "msg_registry_decode" in drifted
    assert "q1_pricing_summary" not in drifted


def test_oracle_snapshot_has_no_stale_names():
    cur = snap_mod.current_hashes()
    snap = snap_mod.load_snapshot()
    stale = sorted(set(snap) - set(cur))
    assert not stale, (
        f"snapshot names no longer registered: {stale}; run "
        "`python tools/oracle_snapshot.py --update`"
    )
