"""The tools resolve the checkout they live in, so a second checkout (a
parent copy for an A/B) imports its own package and writes its own reports."""

import re
from pathlib import Path

TOOLS = Path(__file__).resolve().parents[1] / "tools"

#: a literal absolute path put on sys.path, or opened for writing
_PINNED = re.compile(
    r"""sys\.path\.insert\(\s*0\s*,\s*["']/|open\(\s*["']/[^"']*["']\s*,\s*["'][wa]"""
)


def test_no_tool_pins_a_checkout_path():
    offenders = [
        p.name for p in sorted(TOOLS.glob("*.py")) if _PINNED.search(p.read_text())
    ]
    assert offenders == []
