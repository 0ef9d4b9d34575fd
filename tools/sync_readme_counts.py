"""Regenerate the query/oracle/test counts quoted in README.md.

The counts drifted twice when entries were added without re-syncing
(VERDICT r2 nit); this makes them mechanical. Run after changing
queries()/oracle_sql() or adding tests:

    python tools/sync_readme_counts.py
"""
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as E  # noqa: E402


def main() -> None:
    n_q = len(E.queries())
    n_o = len(E.oracle_sql())
    collected = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q"],
        capture_output=True, text=True, cwd=REPO,
    ).stdout
    m = re.search(r"(\d+) tests collected", collected)
    n_t = int(m.group(1)) if m else None

    path = REPO / "README.md"
    src = path.read_text()
    src = re.sub(r"\d+ queries, \d+ with exact DuckDB oracles",
                 f"{n_q} queries, {n_o} with exact DuckDB oracles", src)
    src = re.sub(r"# \d+ oracle-matched queries",
                 f"# {n_o} oracle-matched queries", src)
    if n_t is not None:
        src = re.sub(r"\d+ tests:", f"{n_t} tests:", src)
        src = re.sub(r"# \d+ tests", f"# {n_t} tests", src)
    path.write_text(src)
    print(f"README synced: {n_q} queries, {n_o} oracles, {n_t} tests")


if __name__ == "__main__":
    main()
