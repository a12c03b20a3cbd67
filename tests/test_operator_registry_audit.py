"""tools/operator_registry_audit.py: every public operator function is
reached by the registry, a test, or a documented waiver."""

import importlib.util
from pathlib import Path

TOOL = Path(__file__).resolve().parents[1] / "tools" / "operator_registry_audit.py"


def test_operator_registry_audit_is_clean_and_detects_orphans(tmp_path):
    """The public-operator audit: HEAD must carry
    zero unwaived uncovered public functions, and a synthetic orphan
    module must be flagged."""
    spec2 = importlib.util.spec_from_file_location(
        "operator_registry_audit", TOOL)
    ora = importlib.util.module_from_spec(spec2)
    spec2.loader.exec_module(ora)
    assert ora.audit() == []
    # a module whose public function nothing references must be caught
    mod = (tmp_path / "orphan_op.py")
    mod.write_text("def shiny_new_operator(df):\n    return df\n")
    orig = ora._package_sources
    ora._package_sources = lambda: orig() + [str(mod)]
    try:
        findings = ora.audit()
    finally:
        ora._package_sources = orig
    assert any("shiny_new_operator" in f for f in findings)
