"""The developer docs name only scripts that exist.

Makefile, CLAUDE.md, README.md and the verify skill tell a reader
which commands to run; a deleted tool that they still name sends the
reader to a file that is not there. Every ``dir/name.py`` path under
a top-level directory of the repo must exist, and every bare
``name.py`` must be a repo-root script or the file name of some module
in the repo (the docs name package modules by file name). Stdlib only.
"""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
DOCS = ["Makefile", "CLAUDE.md", "README.md", ".claude/skills/verify/SKILL.md"]
# a path or file name ending in .py, not glued to a word, dot or brace
PY = re.compile(r"(?<![\w.{}/-])((?:[\w-]+/)*[\w-]+\.py)\b")


def _missing(root: Path) -> list[str]:
    top = {p.name for p in root.iterdir() if p.is_dir()}
    names = {p.name for p in root.rglob("*.py")}
    out = []
    for doc in DOCS:
        text = (root / doc).read_text(encoding="utf-8")
        for ref in sorted(set(PY.findall(text))):
            head, _, rest = ref.partition("/")
            if rest and head in top:
                ok = (root / ref).is_file()
            elif rest:
                continue  # a path inside the package, e.g. queries/core.py
            else:
                ok = (root / ref).is_file() or ref in names
            if not ok:
                out.append(f"{doc}: {ref}")
    return out


def test_docs_name_only_existing_scripts():
    assert _missing(ROOT) == []


def test_guard_sees_a_deleted_tool(tmp_path):
    (tmp_path / "tools").mkdir()
    (tmp_path / "tools" / "oracle_check.py").write_text("")
    (tmp_path / "bench.py").write_text("")
    (tmp_path / ".claude" / "skills" / "verify").mkdir(parents=True)
    for doc in DOCS:
        (tmp_path / doc).write_text("python tools/oracle_check.py; python bench.py\n")
    (tmp_path / "Makefile").write_text("skew:\n\tpython tools/skew_bench.py\n")
    (tmp_path / "README.md").write_text("run `gen_sf1.py` first\n")
    assert _missing(tmp_path) == ["Makefile: tools/skew_bench.py", "README.md: gen_sf1.py"]
