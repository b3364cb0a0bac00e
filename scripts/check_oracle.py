"""DuckDB oracle parity at sf0.01 for the given queries (default: all) —
a shortcut to the Tier-1 test tests/test_oracle.py.

Usage: python scripts/check_oracle.py [query ...]
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TEST = os.path.join(ROOT, "tests", "test_oracle.py")

if __name__ == "__main__":
    ids = [f"{TEST}::test_oracle_parity[{q}]" for q in sys.argv[1:]] or [TEST]
    raise SystemExit(pytest.main(["-q", "-p", "no:cacheprovider", *ids]))
