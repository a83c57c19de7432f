"""Every environment variable the package reads is a documented knob."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENV_READ = re.compile(
    r"""(?:environ(?:\.get|\.setdefault)?\(|environ\[|getenv\()\s*["']([A-Za-z_]\w*)["']"""
)


def _knobs_paragraph() -> str:
    text = (ROOT / "README.md").read_text()
    start = text.index("Knobs:")
    end = text.find("\n\n", start)
    return text[start : end if end != -1 else len(text)]


def test_every_env_read_is_a_documented_knob():
    reads = {
        name: path.relative_to(ROOT)
        for path in sorted((ROOT / "datatransformertools_spark").rglob("*.py"))
        for name in ENV_READ.findall(path.read_text())
    }
    assert reads, "the scan found no environment reads at all"
    knobs = _knobs_paragraph()
    missing = {name: str(path) for name, path in reads.items() if f"`{name}`" not in knobs}
    assert not missing, f"env vars read but not in README's Knobs line: {missing}"
