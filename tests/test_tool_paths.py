"""Every ``tools/<name>.py`` cited by the engine, bench.py, the README or
the verify skill must exist, so deleting a tool cannot leave a dangling
pointer behind. Historical records (OPTIMIZATION_*, VERDICT, CHANGES)
are not scanned: they describe tools as they were."""
from __future__ import annotations

import re
from pathlib import Path

_ROOT = Path(__file__).resolve().parent.parent
_CITE = re.compile(r"\btools/(\w+\.py)\b")


def _cited() -> dict[str, set[str]]:
    files = [
        *(_ROOT / "olympic_athletes_etl_spark").rglob("*.py"),
        _ROOT / "bench.py",
        _ROOT / "README.md",
        *(p for p in (_ROOT / ".claude" / "skills").rglob("*") if p.is_file()),
    ]
    cited: dict[str, set[str]] = {}
    for f in files:
        for name in _CITE.findall(f.read_text(encoding="utf-8")):
            cited.setdefault(name, set()).add(str(f.relative_to(_ROOT)))
    return cited


def test_cited_tool_paths_exist():
    cited = _cited()
    assert "check_parity.py" in cited  # the scan itself reaches the docs
    missing = {
        name: sorted(where)
        for name, where in cited.items()
        if not (_ROOT / "tools" / name).is_file()
    }
    assert not missing, f"cited tools that do not exist: {missing}"
