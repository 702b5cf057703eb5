"""DTPD coverage gate: replay the reference's own embedded test cases
(all 188 DateTimeParseInstr entries, ere_datetimes_impl.rs:2317-6439)
through our bank and assert coverage.

Round-4 bar (the round-3 verdict's item 1): EVERY one of the 830
embedded cases must either pass or be a machine-verified
entry-isolation contradiction.  The reference validates each entry's
regex ALONE; 7 cases of the no-tz fallback entries (64, 148, 153)
reuse the haystack shape — four of them the byte-identical haystack —
of an earlier tz-capturing entry (60, 146, 152) whose own embedded
case expects the tz SHIFTED.  One deterministic bank can satisfy at
most one side of each pair; we implement the runtime winner
(first-match-wins table order tries the tz-shifting entry first).
tools/dtpd_audit.py proves each such case against its passing twin:
same digit-normalized shape, and the twin's utc offset exactly
explains our output.
"""

import pytest

pytestmark = pytest.mark.requires_reference


def test_dtpd_coverage_complete():
    import sys

    sys.path.insert(0, "tools")
    from dtpd_audit import run_audit

    audit = run_audit()
    assert audit["entries_total"] == 188
    # every entry COVERED or COVERED* (contradicted-only remainder)
    assert audit["partial"] == 0 and audit["uncovered"] == 0, (
        f"DTPD coverage regressed: {audit['covered']} covered + "
        f"{audit['covered_contradicted']} covered*, "
        f"{audit['partial']} partial, {audit['uncovered']} uncovered"
    )
    # every individual case passes or is twin-verified contradicted
    assert (
        audit["cases_pass"] + audit["cases_contradicted"]
        == audit["cases_total"]
    ), (
        f"cases {audit['cases_pass']}+{audit['cases_contradicted']} "
        f"of {audit['cases_total']}"
    )
    # the contradicted remainder must stay the known, proven 7 —
    # growth here means a real regression hiding behind the twin rule
    assert audit["cases_contradicted"] <= 7
    assert audit["cases_pass"] >= 823
