"""Guard the maintenance tools against doc rot.

Every ``tools/<name>.py`` that the README, the verify skill, ``bench.py``
or a test tells someone to run must exist, and every script in
``tools/`` must at least compile — so deleting or renaming a tool fails
here until the docs that cite it are updated too.
"""

from __future__ import annotations

import py_compile
import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
TOOL_REF = re.compile(r"\btools/([A-Za-z0-9_]+\.py)\b")


def _citing_files() -> list[Path]:
    docs = [
        ROOT / "README.md",
        ROOT / ".claude" / "skills" / "verify" / "SKILL.md",
        ROOT / "bench.py",
    ]
    return [p for p in docs if p.exists()] + sorted(
        (ROOT / "tests").glob("*.py")
    )


def test_cited_tools_exist():
    cited = {
        (path.relative_to(ROOT).as_posix(), name)
        for path in _citing_files()
        for name in TOOL_REF.findall(path.read_text(encoding="utf-8"))
    }
    assert cited, "no tools/<name>.py citations found; pattern out of date?"
    missing = sorted(
        f"{src} cites tools/{name}"
        for src, name in cited
        if not (ROOT / "tools" / name).is_file()
    )
    assert not missing, missing


@pytest.mark.parametrize(
    "tool", sorted(p.name for p in (ROOT / "tools").glob("*.py"))
)
def test_tool_compiles(tool, tmp_path):
    py_compile.compile(
        str(ROOT / "tools" / tool),
        cfile=str(tmp_path / f"{tool}c"),
        doraise=True,
    )
