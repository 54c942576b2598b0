"""Static check: every global name a function reads is bound.

Python resolves a function's global names only when the line runs, so a
misspelt or never-assigned global surfaces as a ``NameError`` at run
time, on whatever path reaches it first. This walks each module's
``symtable`` and asserts that every implicit global read inside a
function (or class body) is bound at module level or is a builtin.
"""

import builtins
import os
import symtable

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: names every module has without binding them
_MODULE_NAMES = {"__file__", "__name__", "__doc__", "__spec__", "__package__",
                 "__loader__", "__path__", "__builtins__", "__cached__"}
_BUILTINS = set(dir(builtins)) | _MODULE_NAMES


def _sources():
    """The package, ``tools/`` and the top-level scripts."""
    yield from (f for f in os.listdir(REPO) if f.endswith(".py"))
    for root in ("deepdoc_api_spark", "tools"):
        for d, _, files in os.walk(os.path.join(REPO, root)):
            for f in files:
                if f.endswith(".py"):
                    yield os.path.relpath(os.path.join(d, f), REPO)


def _unbound_globals(path: str) -> list:
    with open(os.path.join(REPO, path), encoding="utf-8") as fh:
        top = symtable.symtable(fh.read(), path, "exec")
    bound = {
        s.get_name()
        for s in top.get_symbols()
        if s.is_assigned() or s.is_imported() or s.is_namespace()
    }
    reads = []

    def walk(table):
        for child in table.get_children():
            for s in child.get_symbols():
                if s.is_declared_global() and s.is_assigned():
                    bound.add(s.get_name())  # `global x; x = ...`
                elif s.is_global() and s.is_referenced():
                    reads.append((child.get_name(), s.get_name()))
            walk(child)

    walk(top)
    return sorted(
        f"{fn} -> {name}" for fn, name in reads
        if name not in bound and name not in _BUILTINS
    )


@pytest.mark.parametrize("path", sorted(_sources()))
def test_function_globals_are_bound(path):
    assert _unbound_globals(path) == []
