"""Every engine option is documented, and every documented one exists.

Scans ``recommend_spark/`` for ``SPARK_GRAFT_*`` environment names and
``spark.graft.*`` session-conf names (string literals that ARE a knob name,
so prose in docstrings and comments does not count) and compares that set
with the rows of README's "Scale knobs" table whose "Read in" file lives
under ``recommend_spark/``.  A knob added without a README row, or a row
left behind after its knob is removed, fails here.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
KNOB = re.compile(r"SPARK_GRAFT_[A-Z0-9_]+|spark\.graft\.[A-Za-z0-9_.]+")


def _engine_knobs() -> set[str]:
    found = set()
    for path in (ROOT / "recommend_spark").rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and KNOB.fullmatch(node.value)
            ):
                found.add(node.value)
    return found


def _readme_rows() -> list[tuple[set[str], str]]:
    text = (ROOT / "README.md").read_text()
    table = text.split("## Scale knobs", 1)[1].split("\n## ", 1)[0]
    rows = []
    for line in table.splitlines():
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if len(cells) < 4 or not KNOB.search(cells[0]):
            continue
        rows.append((set(KNOB.findall(cells[0])), cells[2].strip("`")))
    return rows


def test_readme_rows_name_the_file_that_reads_them():
    rows = _readme_rows()
    assert rows
    for names, where in rows:
        src = (ROOT / where).read_text()
        for name in names:
            assert f'"{name}"' in src, (name, where)


def test_engine_knobs_match_readme_table():
    documented = set()
    for names, where in _readme_rows():
        if where.startswith("recommend_spark/"):
            documented |= names
    assert _engine_knobs() == documented
