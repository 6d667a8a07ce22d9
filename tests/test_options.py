"""No option without a caller: every keyword parameter of a public
function in the ops, streaming, sources and spark layers is passed by
at least one call somewhere in the repo.

The check is an AST scan. A parameter with a default counts as passed
when a call to a function of that name names it, reaches its position
positionally, or spreads ``*args`` (positional parameters) or ``**kw``
(any parameter). A parameter that no call passes is an option nobody
uses: its value belongs in a constant, and the code serving the other
values can go.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAYERS = ("ops", "streaming", "sources", "spark")
CALLERS = ("pdf_table_spark", "scripts", "perfbench", "bench.py",
           "__spark_entry__.py", "tests")


def _py_files(path):
    if path.endswith(".py"):
        yield path
        return
    for d, _, files in os.walk(path):
        yield from (os.path.join(d, f) for f in sorted(files)
                    if f.endswith(".py"))


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _keyword_params():
    """{function name: [(module path, param, position or None)]} for
    the defaulted parameters of every public top-level function."""
    out = {}
    for layer in LAYERS:
        for path in _py_files(os.path.join(ROOT, "pdf_table_spark", layer)):
            rel = os.path.relpath(path, ROOT)
            for node in _parse(path).body:
                if (not isinstance(node, ast.FunctionDef)
                        or node.name.startswith("_")):
                    continue
                a = node.args
                pos = a.posonlyargs + a.args
                first = len(pos) - len(a.defaults)
                params = [(rel, p.arg, i) for i, p in enumerate(pos)
                          if i >= first]
                params += [(rel, p.arg, None)
                           for p, d in zip(a.kwonlyargs, a.kw_defaults)
                           if d is not None]
                out.setdefault(node.name, []).extend(params)
    return out


def _passed(call, position, name) -> bool:
    if any(k.arg is None or k.arg == name for k in call.keywords):
        return True
    return position is not None and (
        position < len(call.args)
        or any(isinstance(a, ast.Starred) for a in call.args))


def test_every_public_keyword_is_passed_somewhere():
    params = _keyword_params()
    unpassed = {(rel, fn, p): i for fn, ps in params.items()
                for rel, p, i in ps}
    for caller in CALLERS:
        for path in _py_files(os.path.join(ROOT, caller)):
            for call in ast.walk(_parse(path)):
                if not isinstance(call, ast.Call):
                    continue
                f = call.func
                fn = (f.id if isinstance(f, ast.Name)
                      else f.attr if isinstance(f, ast.Attribute) else None)
                for rel, p, i in params.get(fn, ()):
                    if _passed(call, i, p):
                        unpassed.pop((rel, fn, p), None)
    assert not unpassed, "keyword parameters no call passes:\n" + "\n".join(
        f"  {rel} {fn}({p}=)" for rel, fn, p in sorted(unpassed))
