"""Every file in tools/ must be run or documented somewhere that is kept
current: the README, the round script, the verify skill, bench.py or a
test.  A script named only in history documents (SCALE.md, VERDICT.md,
OPTIMIZATION_r14.md) is dead weight that still pins private package
names, so it fails here."""

from __future__ import annotations

import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _texts() -> dict[str, str]:
    paths = ["README.md", "tools/verify_round.sh", ".claude/skills/verify/SKILL.md", "bench.py"]
    paths += [
        os.path.relpath(p, REPO)
        for p in glob.glob(os.path.join(REPO, "tests", "**", "*"), recursive=True)
        if os.path.isfile(p) and "__pycache__" not in p
    ]
    texts = {}
    for rel in paths:
        with open(os.path.join(REPO, rel), encoding="utf-8", errors="replace") as f:
            texts[rel] = f.read()
    # this file names the reference list itself, not any tool
    texts.pop(os.path.relpath(__file__, REPO))
    return texts


def test_every_tool_is_referenced():
    texts = _texts()
    tools = sorted(
        f for f in os.listdir(os.path.join(REPO, "tools"))
        if os.path.isfile(os.path.join(REPO, "tools", f))
    )
    assert tools
    unreferenced = [
        name
        for name in tools
        if not any(
            os.path.splitext(name)[0] in text
            for rel, text in texts.items()
            if rel != f"tools/{name}"  # a tool does not reference itself
        )
    ]
    assert not unreferenced, f"tools named nowhere that is kept current: {unreferenced}"
