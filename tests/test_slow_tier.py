"""The slow-tier list in conftest.py must name real tests."""

from __future__ import annotations

import pytest

from .conftest import check_slow_entries


def test_stale_slow_entry_is_a_usage_error(request):
    here = request.node.fspath.basename
    check_slow_entries([request.node], {(here, request.node.name)})
    with pytest.raises(pytest.UsageError, match="test_no_such_test"):
        check_slow_entries([request.node], {(here, "test_no_such_test[x]")})


def test_entry_for_an_uncollected_file_is_ignored(request):
    check_slow_entries([request.node], {("test_not_collected.py", "test_x")})
