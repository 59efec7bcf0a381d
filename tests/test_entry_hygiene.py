"""Import-hygiene regression guard for the driver entry module.

The ``\\s``-in-a-non-raw-f-string defect shipped twice (r4 flagged line
1878, r5 reintroduced it at the doc_scrub oracle) — this test imports
``__spark_entry__`` in a fresh interpreter with DeprecationWarning (and
SyntaxWarning, its 3.12+ successor) promoted to errors so it cannot ship a
third time. A subprocess is required: the module is usually already
imported (and its string literals already compiled) in the test process.

``test_cited_scripts_exist`` guards the other kind of rot: a path to a
deleted script left behind in code or docs.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_entry_imports_clean_of_deprecation_warnings():
    r = subprocess.run(
        [
            sys.executable,
            "-W", "error::DeprecationWarning",
            "-W", "error::SyntaxWarning",
            "-c", "import __spark_entry__",
        ],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
        env={**os.environ, "PYTHONPATH": REPO_ROOT},
        timeout=120,
    )
    assert r.returncode == 0, f"stderr:\n{r.stderr}"


def test_cited_scripts_exist():
    """Every ``scripts/<name>.py`` that the package, the tools, the tests or
    the living docs name must exist: a deleted probe's result is cited
    where it is recorded, never by the script's path."""
    import pathlib
    import re

    root = pathlib.Path(REPO_ROOT)
    files = [root / f for f in ("bench.py", "bench_extra.py", "README.md",
                                "PLANS.md", "COVERAGE.md")]
    for d in ("cassovary_spark", "scripts", "tests"):
        files += [p for p in sorted((root / d).rglob("*"))
                  if p.suffix in (".py", ".md") and "__pycache__" not in p.parts]
    cited = re.compile(r"(?<![\w/.])scripts/[\w\-]+\.py")
    dangling = sorted(
        f"{p.relative_to(root)}: {m}"
        for p in files
        for m in set(cited.findall(p.read_text(encoding="utf-8")))
        if not (root / m).is_file()
    )
    assert not dangling, "cited scripts that do not exist:\n" + "\n".join(dangling)
