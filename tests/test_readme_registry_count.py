"""Pin README facts to the tree.

r15 VERDICT #3: the README count drifted (227 vs 228) because it was
hand-bumped.  Rather than generating the doc, pin it: this test fails the
suite the moment a query lands (or is removed) without the README headline
following, so the count can never silently drift again.

Every script under tools/ must also have a row in README's layout table:
an experiment script no row names is one nobody finds or maintains —
document it, fold its finding into the code it measured, or delete it.
"""

from __future__ import annotations

import pathlib
import re


def test_readme_count_matches_registry():
    from flink_net_spark.queries import QUERIES

    readme = pathlib.Path(__file__).resolve().parents[1] / "README.md"
    m = re.search(r"(\d+) registered queries", readme.read_text())
    assert m, "README.md no longer states the registered-queries count"
    assert int(m.group(1)) == len(QUERIES), (
        f"README says {m.group(1)} registered queries but the registry has "
        f"{len(QUERIES)} — update the README headline (r15 verdict #3)"
    )


def test_every_tool_is_in_readme_table():
    root = pathlib.Path(__file__).resolve().parents[1]
    readme = (root / "README.md").read_text()
    rows = set(re.findall(r"^\|\s*`(tools/[^`]+\.py)`\s*\|", readme, re.M))
    tools = {f"tools/{p.name}" for p in (root / "tools").glob("*.py")}
    assert tools - rows == set(), "tools/*.py missing from README's file table"
