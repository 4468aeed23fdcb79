"""Every optional parameter of the engine is set by a program, every default
is taken by one, and every public function of the engine is reached by one.

An *option* is a parameter with a default on a module-level function or a
class method in ``ocds_entity_extract_spark/**/*.py`` (the query registries
``queries*.py`` and ``datagen.py`` aside). It counts as *set* when a call in
a non-test ``.py`` file of the repo (the package, the CLI, ``bench/``,
``perfbench/``, ``tools/``, the driver entry) passes it, by keyword or by
position, a value that is not provably its default, or may pass it through
``*args`` or ``**kwargs``. A call through a ``from m import f as g`` alias
counts as a call of ``f``. A passed value is provably the default when both
are literals (``ast.literal_eval``) of one type and equal; a bare name that
is a module-level literal constant of the caller's or the callee's module is
compared as its literal. An option that only tests set has one value in
use, so it belongs in the body as a constant.

An option's default is *taken* when a non-test call omits that argument, or
may omit it through ``*args``/``**kwargs``. A default that only tests take
is not a default of any program: the parameter is required, and the code
that only the default reached goes. Functions that no program calls are the
function rule's business, not this one's.

Every public module-level function and class of those package modules is
*reached* from a program: the walk starts at the module-level code of every
non-test file, every decorated definition (the ``@query`` registries) and
the allowlisted names below, and follows each name a reached body loads or
reads as an attribute to the module-level definitions of that name. One
that only tests reach is deleted, or allowlisted below with its reason.
"""
from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "ocds_entity_extract_spark"
TESTS = ROOT / "tests"
SKIP_DIRS = {"spark-warehouse", ".work", "__pycache__", ".git"}

# The Iceberg table-format seam (sources/catalog.py) is a deployment setting.
ALLOWED_UNSET = {"Catalog.__init__(fmt)"}

# Public package names that only tests reference, each with its reason.
ALLOWED_UNREFERENCED = {
    # reference oracles the tests compare the production paths against
    "detect_spans": "JVM regex oracle of detect_spans_fused",
    "with_extracted_text": "JVM text oracle of the fused span UDF",
    "extract_text_bytes_parser": "byte-level oracle of extract_text",
    # the north rule's resumable-batch path (ROADMAP open item 6)
    "run_incremental": "resumable chunked batch over the catalog",
}

_UNKNOWN = object()


def _py_files(root):
    for p in sorted(root.rglob("*.py")):
        if not SKIP_DIRS.intersection(p.relative_to(root).parts):
            yield p


def _program_files():
    """Every `.py` file of the repo outside `tests/`."""
    return [p for p in _py_files(ROOT) if TESTS not in p.parents]


def _package_modules():
    return [p for p in _py_files(PKG)
            if not (p.name.startswith("queries") or p.name == "datagen.py")]


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
    for path in _package_modules():
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


def _calls(paths):
    """short callee name -> list of (caller constants, positional args, keywords, has **kwargs, has *args).

    A bare-name call through a `from m import f as g` alias is filed under `f`."""
    calls = {}
    for path in paths:
        try:
            tree = ast.parse(path.read_text())
        except SyntaxError:
            continue
        consts = _constants(tree)
        aliases = {a.asname: a.name for node in ast.walk(tree) if isinstance(node, ast.ImportFrom)
                   for a in node.names if a.asname}
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Attribute):
                name = f.attr
            elif isinstance(f, ast.Name):
                name = aliases.get(f.id, f.id)
            else:
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
    calls = _calls(_program_files())
    unset = set()
    n = 0
    for qual, short, consts, opts in _options():
        for param, idx, default in opts:
            n += 1
            if not any(_sets(c, consts, param, idx, default) for c in calls.get(short, [])):
                unset.add(f"{qual}({param})")
    return n, unset


def _omits(call, param, idx):
    """Whether `call` omits the argument, or may omit it through a star."""
    _consts, args, kws, _star_kw, _star = call
    return param not in kws and not (idx is not None and len(args) > idx)


def _defaults_not_taken():
    """Options with a program call, none of which omits the argument."""
    calls = _calls(_program_files())
    return {
        f"{qual}({param})"
        for qual, short, _consts, opts in _options()
        if calls.get(short)
        for param, idx, _default in opts
        if not any(_omits(c, param, idx) for c in calls[short])
    }


def _loads(node, aliases):
    """Names `node` loads (through `from m import f as g` aliases) or reads
    as attributes."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            yield aliases.get(n.id, n.id)
        elif isinstance(n, ast.Attribute):
            yield n.attr


def _reach(paths, names):
    """Names reached from the module-level code and decorated definitions of
    `paths`, then from `names`; returns (from programs, also from `names`)."""
    defs, roots = {}, []
    for path in paths:
        tree = ast.parse(path.read_text())
        aliases = {a.asname: a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)
                   for a in n.names if a.asname}
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append((node, aliases))
                if not node.decorator_list:
                    continue
            roots.append((node, aliases))

    reached = set()

    def walk(todo):
        todo = [n for n in todo if n not in reached]
        reached.update(todo)
        while todo:
            for node, aliases in defs.get(todo.pop(), ()):
                for name in _loads(node, aliases):
                    if name not in reached:
                        reached.add(name)
                        todo.append(name)

    walk([name for node, aliases in roots for name in _loads(node, aliases)])
    from_programs = set(reached)
    walk(list(names))
    return from_programs, reached


def _public(paths):
    return {node.name for path in paths for node in ast.parse(path.read_text()).body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            and not node.name.startswith("_")}


def _unreferenced(programs, modules, allowed):
    """Public module-level functions and classes of `modules` that no program
    reaches; what only an `allowed` name reaches is not reported."""
    from_programs, reached = _reach(programs, allowed)
    return _public(modules) - from_programs - (reached - set(allowed))


def test_every_option_is_set_by_a_caller():
    n, unset = _never_set()
    assert unset == ALLOWED_UNSET, (n, sorted(unset ^ ALLOWED_UNSET))


def test_every_default_is_taken_by_a_program():
    not_taken = _defaults_not_taken()
    assert not not_taken, sorted(not_taken)


def test_every_public_function_is_used_by_a_program():
    unused = _unreferenced(_program_files(), _package_modules(), ALLOWED_UNREFERENCED)
    assert unused == set(ALLOWED_UNREFERENCED), sorted(unused ^ set(ALLOWED_UNREFERENCED))


def test_function_named_only_by_an_unreached_function_is_reported(tmp_path):
    mod = tmp_path / "mod.py"
    mod.write_text(
        "def used():\n    return 1\n\n\n"
        "def orphan():\n    return helper()\n\n\n"
        "def helper():\n    return 2\n\n\n"
        "def allowed():\n    return kept()\n\n\n"
        "def kept():\n    return 3\n"
    )
    prog = tmp_path / "prog.py"
    prog.write_text("from mod import used as run\n\nrun()\n")
    assert _unreferenced([mod, prog], [mod], {"allowed"}) == {"orphan", "helper", "allowed"}


def test_aliased_call_counts_as_its_target(tmp_path):
    mod = tmp_path / "caller.py"
    mod.write_text("from pkg.cli import main as cli_main\n\ncli_main(['--out', 'x'])\n")
    calls = _calls([mod])
    assert "cli_main" not in calls
    (consts, args, kws, star_kw, star), = calls["main"]
    assert [ast.literal_eval(a) for a in args] == [["--out", "x"]]
    assert not (kws or star_kw or star)
