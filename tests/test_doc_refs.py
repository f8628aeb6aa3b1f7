"""Code comments cite only documents that exist.

``playbook #N`` citations must resolve to a numbered rule of the
determinism playbook in ROUND_NOTES.md, and no source file may point at
a per-round artifact that was removed from the tree except through
``git show <commit>:<path>``, where git history keeps it.
"""

from __future__ import annotations

import pathlib
import re
import subprocess

ROOT = pathlib.Path(__file__).resolve().parent.parent
SELF = pathlib.Path(__file__).resolve()

CITATION = re.compile(
    r"(?:playbook(?:\s+rules?)?[\s-]*#|(?:playbook|ROUND_NOTES) rule )(\d+)"
)
REMOVED_ARTIFACT = re.compile(
    r"(git\s+show\s+[0-9a-f]+:)?"
    r"(?:ROUND_NOTES r\d+|OPTIMIZATION_r\d|plans/r1\d/|CORRECTNESS_r\d|SCALE_SWEEP_r\d"
    r"|(?:tools/)?(?:plan_audit|scale_sweep|scaling_report|epoch_scaling_probe"
    r"|profile_query)\.py|PLAN_AUDIT\.md|SCALING\.md)"
)


def _tracked_py() -> dict[str, str]:
    git = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True, text=True
    )
    if git.returncode == 0:
        names = git.stdout.split()
    else:  # not a work tree (e.g. a ``git archive`` copy): walk it
        names = [
            p.relative_to(ROOT).as_posix()
            for p in ROOT.rglob("*.py")
            if not {".git", "spark-warehouse"} & set(p.relative_to(ROOT).parts)
        ]
    return {
        n: (ROOT / n).read_text(encoding="utf-8")
        for n in names
        if (ROOT / n).resolve() != SELF and (ROOT / n).exists()
    }


def _playbook_rules() -> set[int]:
    notes = (ROOT / "ROUND_NOTES.md").read_text(encoding="utf-8")
    section = notes.split("## Cross-engine determinism playbook", 1)[1]
    section = section.split("\n## ", 1)[0]
    return {int(n) for n in re.findall(r"^(\d+)\. ", section, re.M)}


def test_playbook_citations_resolve():
    rules = _playbook_rules()
    assert rules == set(range(1, max(rules) + 1)), "playbook numbering has gaps"
    dangling = [
        f"{name}: #{n}"
        for name, text in _tracked_py().items()
        for n in CITATION.findall(text)
        if int(n) not in rules
    ]
    assert not dangling, f"playbook citations without a rule: {dangling}"


def test_no_citations_of_removed_round_artifacts():
    hits = [
        f"{name}: {m.group()}"
        for name, text in _tracked_py().items()
        for m in REMOVED_ARTIFACT.finditer(text)
        if not m.group(1)
    ]
    assert not hits, f"citations of removed artifacts: {hits}"
