"""Every ``tools/<name>.py`` that the docs or the code name must exist,
so deleting a tool fails here until its last reference goes too."""

import re
import subprocess
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
DOCS = ["README.md", ".claude/skills/verify/SKILL.md", "COVERAGE.md"]


def test_referenced_tools_exist():
    py = subprocess.run(["git", "ls-files", "*.py"], cwd=REPO, check=True,
                        capture_output=True, text=True).stdout.split()
    missing = sorted(
        f"{src}: tools/{name}.py"
        for src in DOCS + py
        for name in set(re.findall(r"tools/(\w+)\.py",
                                   (REPO / src).read_text()))
        if not (REPO / "tools" / f"{name}.py").exists())
    assert not missing, missing
