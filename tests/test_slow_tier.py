"""The slow-tier list in conftest.py must name real tests."""

from __future__ import annotations

import os

import pytest

from .conftest import check_slow_entries


def test_stale_slow_entry_is_a_usage_error(request):
    here = request.node.fspath.basename
    check_slow_entries([request.node], {(here, request.node.name)})
    with pytest.raises(pytest.UsageError, match="test_no_such_test"):
        check_slow_entries([request.node], {(here, "test_no_such_test[x]")})


def test_entry_for_an_uncollected_file_is_ignored(request):
    here = request.node.fspath
    other = next(
        name
        for name in sorted(os.listdir(here.dirname))
        if name.startswith("test_") and name.endswith(".py") and name != here.basename
    )
    check_slow_entries([request.node], {(other, "test_x")})


def test_entry_for_a_missing_file_is_a_usage_error(request):
    with pytest.raises(pytest.UsageError, match="test_no_such_file.py"):
        check_slow_entries([request.node], {("test_no_such_file.py", "test_x")})
