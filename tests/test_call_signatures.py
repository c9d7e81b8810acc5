"""Static check: every call from the jobs, scripts, registered queries,
bench and benchmark into ``pdfminer_six_spark/ops`` or
``pdfminer_six_spark/spark`` passes only keywords (and no more positional
arguments than) the called function takes.

These callers mostly run outside the unit tests, so a keyword left behind
when a parameter is deleted would otherwise fail only at run time.  Pure
``ast``: nothing is imported or run."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGES = ("pdfminer_six_spark.ops", "pdfminer_six_spark.spark")
CALLERS = {
    "jobs": "jobs/*.py",
    "scripts": "scripts/*.py",
    "queries": "pdfminer_six_spark/queries.py",
    "bench": "bench.py",
    "entry": "__spark_entry__.py",
    "perfbench": "perfbench/*.py",
}

_SCOPES = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _parse(path):
    with open(path) as f:
        return ast.parse(f.read(), path)


def _own_nodes(scope):
    """The nodes of ``scope`` outside its nested functions and classes."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, _SCOPES):
            todo.extend(ast.iter_child_nodes(node))


def _imports(scope):
    """``{local name: (module, name or None)}`` for the imports that
    ``scope`` itself makes; ``name`` is None for a bound module."""
    out = {}
    for node in _own_nodes(scope):
        if isinstance(node, ast.ImportFrom) and node.module and not node.level:
            for a in node.names:
                sub = f"{node.module}.{a.name}"
                if sub.rsplit(".", 1)[0] in PACKAGES:
                    out[a.asname or a.name] = (sub, None)
                else:
                    out[a.asname or a.name] = (node.module, a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = (a.name, None)
    return out


def _modules():
    """``{module: (functions, imports)}`` for every module of PACKAGES."""
    mods = {}
    for pkg in PACKAGES:
        for path in glob.glob(os.path.join(ROOT, *pkg.split("."), "*.py")):
            tree = _parse(path)
            funcs = {n.name: n.args for n in tree.body
                     if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))}
            name = os.path.splitext(os.path.basename(path))[0]
            mods[f"{pkg}.{name}"] = (funcs, _imports(tree))
    return mods


def _resolve(mods, module, name):
    """The arguments of ``module.name``, following re-imports."""
    for _ in range(5):
        if module not in mods:
            return None
        funcs, imports = mods[module]
        if name in funcs:
            return funcs[name]
        if name not in imports or imports[name][1] is None:
            return None
        module, name = imports[name]
    return None


def _problems(args, call):
    params = {a.arg for a in args.posonlyargs + args.args + args.kwonlyargs}
    if args.kwarg is None:
        for kw in call.keywords:
            if kw.arg is not None and kw.arg not in params:
                yield f"no parameter {kw.arg!r}"
    positional = len(args.posonlyargs) + len(args.args)
    starred = any(isinstance(a, ast.Starred) for a in call.args)
    if args.vararg is None and not starred and len(call.args) > positional:
        yield f"{len(call.args)} positional arguments, takes {positional}"


def _check_scope(mods, scope, env, where, found):
    env = {**env, **_imports(scope)}
    checked = 0
    for node in _own_nodes(scope):
        if isinstance(node, _SCOPES):
            checked += _check_scope(mods, node, env, where, found)
            continue
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id in env and env[f.id][1]:
            target = env[f.id]
        elif (isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name)
              and f.value.id in env and env[f.value.id][1] is None):
            target = (env[f.value.id][0], f.attr)
        else:
            continue
        args = _resolve(mods, *target)
        if args is None:
            continue
        checked += 1
        for p in _problems(args, node):
            found.append(f"{where}:{node.lineno} {'.'.join(target)}: {p}")
    return checked


def check(root=ROOT):
    """``({caller group: calls checked}, [problem, ...])``."""
    mods = _modules()
    counts, found = {}, []
    for group, pattern in CALLERS.items():
        counts[group] = 0
        for path in sorted(glob.glob(os.path.join(root, pattern))):
            where = os.path.relpath(path, root)
            counts[group] += _check_scope(mods, _parse(path), {}, where, found)
    return counts, found


def test_calls_into_ops_and_spark_match_signatures():
    counts, found = check()
    assert not found, "\n".join(found)
    # every caller group reaches the package: the resolver still works
    assert all(counts.values()), counts


def test_checker_flags_stale_keyword_and_extra_positional(tmp_path):
    caller = tmp_path / "jobs"
    caller.mkdir()
    (caller / "stale.py").write_text(
        "from pdfminer_six_spark.ops import retrieval\n"
        "from pdfminer_six_spark.spark.session import build_session\n"
        "def run(df):\n"
        "    build_session('a', None, None, None, 'extra')\n"
        "    return retrieval.ngram_lm_scores(df, no_such_option=False)\n"
    )
    _, found = check(str(tmp_path))
    assert sorted(found) == [
        "jobs/stale.py:4 pdfminer_six_spark.spark.session.build_session: "
        "5 positional arguments, takes 4",
        "jobs/stale.py:5 pdfminer_six_spark.ops.retrieval.ngram_lm_scores: "
        "no parameter 'no_such_option'",
    ]
