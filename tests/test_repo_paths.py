"""Repository wiring checks, no Spark session.

Deleting a script must not leave another script importing it, nor a
document telling readers to run it:

- every import in ``scripts/*.py`` and the root ``*.py`` files names a
  module that is a file or package of the repo (next to the importing
  file, or at the root) or that ``importlib.util.find_spec`` finds;
- every ``scripts/<x>.py`` path and every ``python <x>.py`` command cited
  in README.md and the repo's skill recipes names a file that exists.
"""

from __future__ import annotations

import ast
import glob
import importlib.util
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: README plus the repo's build-and-run recipes (``<dot-dir>/skills/*/SKILL.md``)
DOCS = ["README.md"] + sorted(
    os.path.relpath(p, REPO)
    for p in glob.glob(os.path.join(REPO, ".*", "skills", "*", "SKILL.md"))
)

PY_FILES = sorted(
    os.path.relpath(p, REPO)
    for pattern in ("scripts/*.py", "*.py")
    for p in glob.glob(os.path.join(REPO, pattern))
)

#: a scripts/ path anywhere, or the script argument of a python command
CITED = re.compile(r"(\bpython3?\s+)?([\w./-]+\.py)\b")


def _imported_roots(path: str) -> set[str]:
    """Top-level names of every absolute import in ``path``, including
    imports inside functions (a script may import another lazily)."""
    with open(os.path.join(REPO, path)) as f:
        tree = ast.parse(f.read(), filename=path)
    roots = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            roots.update(a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            roots.add(node.module.split(".")[0])
    return roots


def _resolves(name: str, importer: str) -> bool:
    for base in {REPO, os.path.join(REPO, os.path.dirname(importer))}:
        if os.path.isfile(os.path.join(base, f"{name}.py")) or os.path.isfile(
            os.path.join(base, name, "__init__.py")
        ):
            return True
    return importlib.util.find_spec(name) is not None


def _cited_paths(doc: str) -> set[str]:
    with open(os.path.join(REPO, doc)) as f:
        text = f.read()
    cited = set()
    for command, path in CITED.findall(text):
        if command or path.startswith("scripts/"):
            cited.add(path)
    return cited


def test_py_files_found():
    assert "__spark_entry__.py" in PY_FILES
    assert "scripts/crosscheck.py" in PY_FILES


@pytest.mark.parametrize("path", PY_FILES)
def test_every_import_resolves(path):
    missing = sorted(n for n in _imported_roots(path) if not _resolves(n, path))
    assert not missing, f"{path} imports modules that do not exist: {missing}"


@pytest.mark.parametrize("doc", DOCS)
def test_cited_scripts_exist(doc):
    cited = _cited_paths(doc)
    assert cited, f"no script paths found in {doc}"
    missing = sorted(p for p in cited if not os.path.isfile(os.path.join(REPO, p)))
    assert not missing, f"{doc} cites scripts that do not exist: {missing}"
