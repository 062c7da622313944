"""The fast-profile skip list must name only tests that exist."""

from __future__ import annotations

from conftest import SLOW_TESTS, missing_slow_tests


def test_renamed_slow_test_is_reported():
    entry = next(iter(SLOW_TESTS))
    file = entry.split("::")[0]
    others = {e for e in SLOW_TESTS if e != entry}
    assert missing_slow_tests(others, {file}) == [entry]


def test_partly_collected_file_is_not_checked():
    assert missing_slow_tests(set(), set()) == []
