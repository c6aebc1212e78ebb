"""tools/ holds only scripts something runs, and no document cites a
script that is gone.

A script in tools/ must be imported by tests/ or bench.py, or be one of
the named instruments below.  A deleted script stays citable in the
commit-pinned form ``<sha>:tools/<name>.py`` (``git show`` prints it);
a bare ``tools/<name>.py`` must name a file that exists.  Historical
ledgers (CHANGES.md, OPTIMIZATION_r*.md, VERDICT.md) are records and
are not scanned.  Starts no Spark session.
"""

from __future__ import annotations

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# scripts run by hand as measuring instruments, with the reason each stays
INSTRUMENTS = {
    "jobstat_probe": "per-query job/stage/task census behind job-count claims",
    "plan_capture": "writes the plans/ before/after explain receipts",
    "adjudicate_probe": "the 10-trial protocol of BASELINE.md's canary rule",
}

DOCS = (
    "README.md",
    "CLAUDE.md",
    "SCALE.md",
    "BASELINE.md",
    "COVERAGE.md",
    "ROADMAP.md",
)

_IMPORT = re.compile(r"\btools\.(\w+)")
_CITE = re.compile(r"(?:\b([0-9a-f]{7,40}):)?\btools/(\w+)\.py\b")


def _py_files(top: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(ROOT, top))
        if "__pycache__" not in d
        for f in fs
        if f.endswith(".py")
    ]


def _read(path: str) -> str:
    with open(path, encoding="utf-8") as fh:
        return fh.read()


def _scanned() -> list[str]:
    return (
        _py_files("cybersecurity_ioc_etl_spark")
        + _py_files("tests")
        + [os.path.join(ROOT, "bench.py")]
        + [os.path.join(ROOT, d) for d in DOCS]
    )


def stale_citations(paths: list[str]) -> list[str]:
    """``file:line: tools/<name>.py`` for every bare citation of a
    script that tools/ does not hold."""
    out = []
    for path in paths:
        for n, line in enumerate(_read(path).splitlines(), 1):
            for m in _CITE.finditer(line):
                sha, name = m.groups()
                if sha is None and not os.path.exists(
                    os.path.join(ROOT, "tools", f"{name}.py")
                ):
                    rel = os.path.relpath(path, ROOT)
                    out.append(f"{rel}:{n}: tools/{name}.py")
    return out


def test_every_tool_has_a_caller_or_is_an_instrument():
    imported = set()
    for path in _py_files("tests") + [os.path.join(ROOT, "bench.py")]:
        imported |= set(_IMPORT.findall(_read(path)))
    scripts = {
        f[:-3]
        for f in os.listdir(os.path.join(ROOT, "tools"))
        if f.endswith(".py") and f != "__init__.py"
    }
    assert sorted(scripts - imported - set(INSTRUMENTS)) == []
    assert sorted(set(INSTRUMENTS) - scripts) == []


def test_no_bare_citation_names_a_missing_tool():
    assert stale_citations(_scanned()) == []
