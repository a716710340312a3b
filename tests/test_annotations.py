"""Every module-level function in the package has annotations that resolve.

The modules use `from __future__ import annotations`, so an annotation
naming a type the module never imports only fails when something asks for
it (`typing.get_type_hints`, documentation tools, runtime validators)."""

from __future__ import annotations

import importlib
import inspect
import pkgutil
import typing

import analyzing_big_data_in_scala_spark as pkg


def test_every_package_function_resolves_its_type_hints():
    unresolved = {}
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        module = importlib.import_module(info.name)
        for name, fn in inspect.getmembers(module, inspect.isfunction):
            if fn.__module__ != module.__name__:
                continue
            try:
                typing.get_type_hints(fn)
            except (NameError, TypeError, AttributeError) as e:
                unresolved[f"{info.name}.{name}"] = repr(e)
    assert not unresolved, unresolved
