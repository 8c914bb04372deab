"""Every repo path the user-facing docs advertise must exist.

Collects each backticked path under ``tools/``, ``jobs/``, ``tests/``,
``plans/`` or ``BENCH/`` from README.md and the verify skill notes (inline
code spans and fenced blocks alike) and checks it against the repo root, so
a deleted tool cannot stay advertised.  Other backticked paths are not
checked: the docs also cite package-relative files (``operators/skew.py``)
and reference-repo files (``pyspark_example.py``).  Spark-free."""

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = ["README.md", os.path.join(".claude", "skills", "verify", "SKILL.md")]

_FENCED = re.compile(r"```[^\n]*\n(.*?)```", re.S)
_INLINE = re.compile(r"`([^`\n]+)`")
# a path token: starts at one of the prefixes, not inside a longer path
_PATH = re.compile(r"(?<![\w./-])((?:tools|jobs|tests|plans|BENCH)/[\w./-]*)")


def doc_paths(text: str) -> set[str]:
    code = _FENCED.findall(text) + _INLINE.findall(_FENCED.sub("", text))
    return {m.rstrip(".") for span in code for m in _PATH.findall(span)}


def test_doc_path_extraction():
    text = ("see `tools/a.py` and `python tests/b.py::test_x -q`, "
            "`operators/skew.py`, `pkg/tools/c.py`\n"
            "```bash\npython BENCH/d.md\n```\n")
    assert doc_paths(text) == {"tools/a.py", "tests/b.py", "BENCH/d.md"}


def test_documented_paths_exist():
    missing = []
    for doc in DOCS:
        with open(os.path.join(ROOT, doc), encoding="utf-8") as f:
            for p in sorted(doc_paths(f.read())):
                if not os.path.exists(os.path.join(ROOT, p)):
                    missing.append(f"{doc}: {p}")
    assert not missing, missing
