"""Meta-test: operators stay distributed.

If an operator iterates `.collect()` results or round-trips through
`.toPandas()`, it isn't a distributed operator — it's a driver script
with Spark-flavored syntax, and it dies at 100 TB.  This test greps the
package so the anti-pattern can't creep in.  Allowed exceptions are
listed explicitly with their justification.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "cybersecurity_ioc_etl_spark"

FORBIDDEN = re.compile(r"\.collect\(\)|\.toPandas\(\)|\.toLocalIterator\(")

# Line-level escape hatch: a call site annotated `# driver-ok: <reason>`
# declares a BOUNDED driver-side materialization (rows limited by a
# parameter like k·M or LIMIT 1, never by data volume).  The reason is
# mandatory — a bare pragma still fails.
PRAGMA = re.compile(r"#\s*driver-ok:\s*\S")

# file → reason a driver-side materialization is legitimate there
ALLOWED = {
    "sinks/kv.py": "compact_parquet samples ONE aggregated row (avg width) to size output files",
    "batch.py": "run_hisac_batch returns run metrics: collects ONE row of per-type sums and the message count (bounded by #IOC types, never by data)",
    "plans/inspect.py": "formatted_plan(execute=True) intentionally executes the frame so AQE materializes the final plan — a debugging/CI tool, not an operator",
    "corpus_export.py": "run_corpus_export returns run metrics: collects the ONE-row sum of the per-source manifest (bounded by #sources, never by data)",
    "sinks/bucketed.py": "write_zordered collects the ONE-row min/max bounds used to normalize the interleave domain",
}


def test_no_driver_side_materialization_in_operators():
    offenders = []
    for py in PKG.rglob("*.py"):
        rel = str(py.relative_to(PKG))
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if (
                FORBIDDEN.search(line)
                and rel not in ALLOWED
                and not PRAGMA.search(line)
            ):
                offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, (
        "driver-side materialization in operator code (move to a "
        "distributed form or document an ALLOWED exception):\n"
        + "\n".join(offenders)
    )


def test_allowed_exceptions_still_exist():
    # prune stale entries so the allowlist can't rot
    for rel in ALLOWED:
        text = (PKG / rel).read_text()
        assert FORBIDDEN.search(text), f"stale ALLOWED entry: {rel}"
