"""README figures that must track the code."""

import os
import re

import __spark_entry__ as entry

README = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "README.md")


def test_readme_query_count_matches_registry():
    with open(README, encoding="utf-8") as f:
        text = f.read()
    n = str(len(entry.queries()))
    assert re.findall(r"registers (\d+) queries", text) == [n]
    assert re.findall(r"(\d+)/(\d+) green", text) == [(n, n)]
