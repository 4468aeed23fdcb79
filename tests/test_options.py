"""Every optional parameter of the engine is set by some caller.

An *option* is a parameter with a default on a module-level function or a
class method in ``ocds_entity_extract_spark/**/*.py`` (the query registries
``queries*.py`` and ``datagen.py`` aside). It counts as *set* when any call
in the repo's ``.py`` files passes it, by keyword or by position, a value
that is not provably its default, or may pass it through ``*args`` or
``**kwargs``. A passed value is provably the default when both are literals
(``ast.literal_eval``) of one type and equal; a bare name that is a
module-level literal constant of the caller's or the callee's module is
compared as its literal. An option that no call sets has one value in use,
so it belongs in the body as a constant; this test keeps that rule from
eroding.
"""
from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "ocds_entity_extract_spark"
SKIP_DIRS = {"spark-warehouse", ".work", "__pycache__", ".git"}

# The Iceberg table-format seam (sources/catalog.py) is a deployment setting.
ALLOWED_UNSET = {"Catalog.__init__(fmt)"}

_UNKNOWN = object()


def _py_files(root):
    for p in sorted(root.rglob("*.py")):
        if not SKIP_DIRS.intersection(p.relative_to(root).parts):
            yield p


def _literal(node):
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError):
        return _UNKNOWN


def _constants(tree):
    """Module-level `NAME = <literal>` and `A, B = <literal>, <literal>`."""
    out = {}
    for node in tree.body:
        if not (isinstance(node, ast.Assign) and len(node.targets) == 1):
            continue
        tgt, val = node.targets[0], node.value
        pairs = [(tgt, val)]
        if isinstance(tgt, ast.Tuple) and isinstance(val, ast.Tuple) and len(tgt.elts) == len(val.elts):
            pairs = list(zip(tgt.elts, val.elts))
        for t, v in pairs:
            if isinstance(t, ast.Name) and (lit := _literal(v)) is not _UNKNOWN:
                out[t.id] = lit
    return out


def _value(node, *scopes):
    """The literal value of `node`, resolving a bare name in `scopes`."""
    if isinstance(node, ast.Name):
        for consts in scopes:
            if node.id in consts:
                return consts[node.id]
        return _UNKNOWN
    return _literal(node)


def _same(a, b):
    return a is not _UNKNOWN and b is not _UNKNOWN and type(a) is type(b) and a == b


def _options():
    """(qualified name, short name, module constants, [(param, positional index or None, default)])."""
    out = []
    for path in _py_files(PKG):
        if path.name.startswith("queries") or path.name == "datagen.py":
            continue
        tree = ast.parse(path.read_text())
        consts = _constants(tree)
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
                first = len(pos) - len(a.defaults)
                opts = [(p.arg, i - int(is_method), _value(a.defaults[i - first], consts))
                        for i, p in enumerate(pos) if i >= first]
                opts += [(p.arg, None, _value(d, consts))
                         for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
                if opts:
                    out.append((qual, short, consts, opts))
    return out


def _calls():
    """short callee name -> list of (caller constants, positional args, keywords, has **kwargs, has *args)."""
    calls = {}
    for path in _py_files(ROOT):
        try:
            tree = ast.parse(path.read_text())
        except SyntaxError:
            continue
        consts = _constants(tree)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name is None:
                continue
            calls.setdefault(name, []).append((
                consts,
                [a for a in node.args if not isinstance(a, ast.Starred)],
                {k.arg: k.value for k in node.keywords if k.arg},
                any(k.arg is None for k in node.keywords),
                any(isinstance(a, ast.Starred) for a in node.args),
            ))
    return calls


def _sets(call, callee_consts, param, idx, default):
    consts, args, kws, star_kw, star = call
    if star_kw or (idx is not None and star):
        return True
    if param in kws:
        passed = kws[param]
    elif idx is not None and len(args) > idx:
        passed = args[idx]
    else:
        return False
    return not _same(_value(passed, consts, callee_consts), default)


def _never_set():
    calls = _calls()
    unset = set()
    n = 0
    for qual, short, consts, opts in _options():
        for param, idx, default in opts:
            n += 1
            if not any(_sets(c, consts, param, idx, default) for c in calls.get(short, [])):
                unset.add(f"{qual}({param})")
    return n, unset


def test_every_option_is_set_by_a_caller():
    n, unset = _never_set()
    assert unset == ALLOWED_UNSET, (n, sorted(unset - ALLOWED_UNSET))
