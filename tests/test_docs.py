"""Documentation hygiene: the README, the ROADMAP and the BENCH/ records
only cite tools that exist. A removed script is named by bare file name
plus the commit to recover it from, never as a ``tools/`` path."""

import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_docs_cite_existing_tools():
    docs = [os.path.join(ROOT, "README.md"), os.path.join(ROOT, "ROADMAP.md"),
            *sorted(glob.glob(os.path.join(ROOT, "BENCH", "*.md")))]
    missing = []
    for doc in docs:
        with open(doc) as f:
            for lineno, line in enumerate(f, 1):
                for path in re.findall(r"tools/\w+\.py", line):
                    if not os.path.isfile(os.path.join(ROOT, path)):
                        missing.append(
                            f"{os.path.relpath(doc, ROOT)}:{lineno} {path}")
    assert not missing, missing
