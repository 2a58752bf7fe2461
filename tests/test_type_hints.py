"""Every annotation in the package resolves.

``from __future__ import annotations`` keeps annotations as strings, so a
name used only in an annotation and never imported goes unnoticed until
something calls ``typing.get_type_hints`` on the function. This walks every
``tstore_spark`` module and resolves the hints of each function and method
it defines."""

import importlib
import inspect
import pkgutil
import typing

import tstore_spark


def _defined_functions(module):
    for _name, obj in vars(module).items():
        if getattr(obj, "__module__", None) != module.__name__:
            continue
        if inspect.isfunction(obj):
            yield obj.__qualname__, obj
        elif inspect.isclass(obj):
            for _attr, member in vars(obj).items():
                fn = getattr(member, "__func__", member)
                if inspect.isfunction(fn):
                    yield fn.__qualname__, fn


def test_every_function_annotation_resolves():
    modules = [
        importlib.import_module(info.name)
        for info in pkgutil.walk_packages(tstore_spark.__path__, "tstore_spark.")
    ]
    assert len(modules) > 50
    failures = []
    for module in modules:
        for qualname, fn in _defined_functions(module):
            try:
                typing.get_type_hints(fn)
            except Exception as exc:  # report every failure at once, not the first
                failures.append(f"{module.__name__}.{qualname}: {exc!r}")
    assert failures == []
