"""Every optional parameter of the engine is set by some caller.

An *option* is a parameter with a default on a module-level function or a
class method in ``ocds_entity_extract_spark/**/*.py`` (the query registries
``queries*.py`` and ``datagen.py`` aside). It counts as *set* when any call
in the repo's ``.py`` files passes it by keyword, by position, or through
``**kwargs``. An option that no call sets has one value in use, so it
belongs in the body as a constant; this test keeps that rule from eroding.
"""
from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "ocds_entity_extract_spark"
SKIP_DIRS = {"spark-warehouse", ".work", "__pycache__", ".git"}

# The Iceberg table-format seam (sources/catalog.py) is a deployment setting.
ALLOWED_UNSET = {"Catalog.__init__(fmt)"}


def _py_files(root):
    for p in sorted(root.rglob("*.py")):
        if not SKIP_DIRS.intersection(p.relative_to(root).parts):
            yield p


def _options():
    """(qualified name, short name, [(param, positional index or None)])."""
    out = []
    for path in _py_files(PKG):
        if path.name.startswith("queries") or path.name == "datagen.py":
            continue
        tree = ast.parse(path.read_text())
        for node in tree.body:
            if isinstance(node, ast.ClassDef):
                defs = [(f"{node.name}.{f.name}", node.name if f.name == "__init__" else f.name, f, True)
                        for f in node.body if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))]
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs = [(node.name, node.name, node, False)]
            else:
                continue
            for qual, short, fn, is_method in defs:
                a = fn.args
                pos = a.posonlyargs + a.args
                opts = [(p.arg, i - int(is_method))
                        for i, p in enumerate(pos) if i >= len(pos) - len(a.defaults)]
                opts += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
                if opts:
                    out.append((qual, short, opts))
    return out


def _calls():
    """short callee name -> list of (n positional, keywords, has **kwargs, has *args)."""
    calls = {}
    for path in _py_files(ROOT):
        try:
            tree = ast.parse(path.read_text())
        except SyntaxError:
            continue
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name is None:
                continue
            calls.setdefault(name, []).append((
                sum(not isinstance(a, ast.Starred) for a in node.args),
                {k.arg for k in node.keywords if k.arg},
                any(k.arg is None for k in node.keywords),
                any(isinstance(a, ast.Starred) for a in node.args),
            ))
    return calls


def _never_set():
    calls = _calls()
    unset = set()
    n = 0
    for qual, short, opts in _options():
        for param, idx in opts:
            n += 1
            if not any(star_kw or param in kws or (idx is not None and (star or npos > idx))
                       for npos, kws, star_kw, star in calls.get(short, [])):
                unset.add(f"{qual}({param})")
    return n, unset


def test_every_option_is_set_by_a_caller():
    n, unset = _never_set()
    assert unset == ALLOWED_UNSET, (n, sorted(unset - ALLOWED_UNSET))
