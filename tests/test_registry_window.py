"""Registry invariants: oracled checks come first, and the documented
check counts cannot drift from the registry."""

from __future__ import annotations

from el.queries import REGISTRY


def test_oracled_checks_precede_rows_only_checks():
    flags = [REGISTRY[n].oracle is None for n in REGISTRY]
    assert flags == sorted(flags)


def test_documented_counts_match_registry():
    # README.md / COVERAGE.md quote these; keep them honest.
    n_total = len(REGISTRY)
    n_oracled = sum(1 for c in REGISTRY.values() if c.oracle is not None)
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    for doc in ("README.md", "COVERAGE.md"):
        text = (root / doc).read_text()
        m = re.search(r"(\d+) registered / (\d+) oracled", text)
        assert m, f"{doc} lost its registry-count line"
        assert int(m.group(1)) == n_total, f"{doc} total stale: {m.group(1)} != {n_total}"
        assert int(m.group(2)) == n_oracled, f"{doc} oracled stale: {m.group(2)} != {n_oracled}"
