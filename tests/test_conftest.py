"""The test suite's own reporting hooks (tests/conftest.py)."""

from __future__ import annotations

from types import SimpleNamespace

import conftest


class _Reporter:
    def __init__(self, skipped):
        self.stats = {"skipped": skipped}
        self.lines: list[str] = []

    def write_sep(self, sep, title, **markup):
        self.lines.append(title)


def _skip(reason: str):
    return SimpleNamespace(longrepr=("tests/x.py", 1, f"Skipped: {reason}"))


def test_golden_skip_is_named_in_the_summary():
    """Skipped golden-artifact parity tests print one line naming the
    missing CSV and their count; other skips are not counted."""
    golden = _skip(f"golden artifact {conftest.GOLDEN_CSV} not present")
    rep = _Reporter([golden, golden, _skip("needs a GPU")])
    conftest.pytest_terminal_summary(rep)
    assert rep.lines == [
        f"golden-artifact parity NOT checked: {conftest.GOLDEN_CSV} is missing, "
        "2 parity tests skipped"
    ]


def test_no_golden_skip_prints_nothing():
    rep = _Reporter([_skip("needs a GPU")])
    conftest.pytest_terminal_summary(rep)
    assert rep.lines == []
    rep = _Reporter([])
    rep.stats = {}
    conftest.pytest_terminal_summary(rep)
    assert rep.lines == []
