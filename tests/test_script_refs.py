"""Every `scripts/<name>.py` or `.sh` that the package, the scripts,
the tests, the README or the verify skill names must exist, so deleting
a script also means deleting or rewording what points at it."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
_REF = re.compile(r"scripts/([A-Za-z0-9_]+\.(?:py|sh))\b")


def _sources():
    for d in ("osm2streets_spark", "scripts", "tests"):
        for p in sorted((ROOT / d).rglob("*")):
            if p.suffix in (".py", ".sh"):
                yield p
    yield ROOT / "README.md"
    yield ROOT / ".claude" / "skills" / "verify" / "SKILL.md"


def test_named_scripts_exist():
    missing = sorted(
        f"{p.relative_to(ROOT)}: scripts/{name}"
        for p in _sources() if p.exists()
        for name in _REF.findall(p.read_text(encoding="utf-8"))
        if not (ROOT / "scripts" / name).exists())
    assert not missing, missing
