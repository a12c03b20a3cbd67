"""Every ``tools/<name>.py`` that the docs or the code name must exist,
so deleting a tool fails here until its last reference goes too; and
every ``SCALE.md §N`` citation must name a section SCALE.md still has."""

import re
import subprocess
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
DOCS = ["README.md", ".claude/skills/verify/SKILL.md", "COVERAGE.md",
        "SCALE.md"]


def _tracked_py():
    return subprocess.run(["git", "ls-files", "*.py"], cwd=REPO, check=True,
                          capture_output=True, text=True).stdout.split()


def test_referenced_tools_exist():
    missing = sorted(
        f"{src}: tools/{name}.py"
        for src in DOCS + _tracked_py()
        for name in set(re.findall(r"tools/(\w+)\.py",
                                   (REPO / src).read_text()))
        if not (REPO / "tools" / f"{name}.py").exists())
    assert not missing, missing


def test_scale_md_section_citations_resolve():
    # a citation may wrap onto the next comment line: "SCALE.md\n    # §4"
    cite = re.compile(r"SCALE\.md\s*(?:#\s*)?§\s*(\d+(?:\.\d+)?)")
    heads = set(re.findall(r"^#{2,3} (\d+(?:\.\d+)?)\.? ",
                           (REPO / "SCALE.md").read_text(), re.M))
    cited = {(src, n)
             for src in ["README.md", "COVERAGE.md"] + _tracked_py()
             for n in cite.findall((REPO / src).read_text())}
    assert cited
    missing = sorted(f"{src}: §{n}" for src, n in cited if n not in heads)
    assert not missing, missing
