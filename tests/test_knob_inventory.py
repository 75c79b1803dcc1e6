"""Every engine option is documented, and every documented one exists.

Scans ``recommend_spark/`` for ``SPARK_GRAFT_*`` environment names and
``spark.graft.*`` session-conf names (string literals that ARE a knob name,
so prose in docstrings and comments does not count) and compares that set
with the rows of README's "Scale knobs" table whose "Read in" file lives
under ``recommend_spark/``.  A knob added without a README row, or a row
left behind after its knob is removed, fails here.

It also keeps the broadcast-hint size gate single: a conditional
``F.broadcast(x) if … else x`` outside ``io.py`` is a second rule beside
``io.hint_if`` and fails here.  Likewise the block kernels' staging rule:
a ``MAX_STAGED_BYTES`` read or a ``.cogroup(`` call outside
``blockkernel.py`` is a second copy of ``blockkernel.block_join``.  And
the statistics path: an ``if`` or ternary that tests ``stats_key`` is a
second path beside ``io.stats_memo``, which takes ``None`` itself.
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


def _is_hint_call(node) -> bool:
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    if isinstance(f, ast.Name):
        return f.id == "broadcast"
    return (
        isinstance(f, ast.Attribute)
        and f.attr == "broadcast"
        and isinstance(f.value, ast.Name)
        and f.value.id == "F"
    )


def test_conditional_broadcast_hints_go_through_hint_if():
    found = []
    for path in (ROOT / "recommend_spark").rglob("*.py"):
        if path.name == "io.py" and path.parent.name == "recommend_spark":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.IfExp) and (
                _is_hint_call(node.body) or _is_hint_call(node.orelse)
            ):
                found.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert not found, f"size-gate these hints with io.hint_if: {found}"


def _ref_name(node) -> str | None:
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.alias):
        return node.name
    return None


def test_staging_rule_lives_in_blockkernel():
    """The block kernels' stage-or-grid choice is made once, in
    ``blockkernel.block_join``: another engine module that reads
    ``MAX_STAGED_BYTES`` or calls ``.cogroup(`` is a second copy of it."""
    found = []
    for path in (ROOT / "recommend_spark").rglob("*.py"):
        if path.name == "blockkernel.py" and path.parent.name == "recommend_spark":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if _ref_name(node) in ("MAX_STAGED_BYTES", "cogroup"):
                found.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert not found, f"route these through blockkernel.block_join: {found}"


def test_stats_key_is_never_branched_on():
    """Keyed and keyless callers share one line, ``io.stats_memo(key,
    compute)`` (``key=None`` computes unmemoized): a branch on
    ``stats_key`` is a second statistics path."""
    found = []
    for path in (ROOT / "recommend_spark").rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, (ast.If, ast.IfExp)) and any(
                _ref_name(n) == "stats_key" for n in ast.walk(node.test)
            ):
                found.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert not found, f"pass stats_key to io.stats_memo instead: {found}"
