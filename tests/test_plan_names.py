"""Every name a function in ``mapreduce__spark/plans/`` loads must resolve.

A query body runs only when someone calls it, so a name it reads that no
import or definition provides (a dropped import, a renamed helper) fails at
call time, and only for a query that no test happens to run. This check
resolves every such name statically: ``symtable`` classifies each name a
function scope references as local, free (bound in an enclosing function)
or global, and each global must be an attribute of the imported module or
a builtin.
"""

from __future__ import annotations

import builtins
import importlib
import pkgutil
import symtable

import pytest

import mapreduce__spark.plans as plans

MODULES = sorted(m.name for m in pkgutil.iter_modules(plans.__path__))


def _unresolved_globals(table: symtable.SymbolTable, known: set[str]):
    """(scope, name) for each global a function scope under ``table``
    references that ``known`` lacks."""
    for child in table.get_children():
        if child.get_type() == "function":
            for sym in child.get_symbols():
                if sym.is_referenced() and sym.is_global() and sym.get_name() not in known:
                    yield child.get_name(), sym.get_name()
        yield from _unresolved_globals(child, known)


@pytest.mark.parametrize("name", MODULES)
def test_function_globals_resolve(name):
    module = importlib.import_module(f"{plans.__name__}.{name}")
    with open(module.__file__) as fh:
        table = symtable.symtable(fh.read(), module.__file__, "exec")
    known = set(vars(module)) | set(dir(builtins))
    assert list(_unresolved_globals(table, known)) == []
