"""List package definitions that nothing reachable from the roots uses.

    python tools/reach.py [ROOT ...]    # run from the repository root

A ROOT is a file or directory (every name in it is used) or a name. By
default: ``run_pipeline``, every ``ALL_QUERIES`` gate, the package
``__main__``s, ``__spark_entry__.py``, ``bench.py``, ``pipeline_bench/``,
``tools/``. A definition (top-level function, class or name, or a
method of a reached class) is reached, to a fixpoint, once reached or
import-time code mentions it: as a name, attribute, imported name or
``"pkg.mod:func"`` spec string (f-strings too), or by a ``register``
decorator (``@atexit.register``). Docstrings and module-level imports
(``__init__.py`` re-exports) mention nothing. Names collide
(``atexit.register`` makes every ``register`` look used), so the output
is a candidate list: confirm each entry with grep.
"""

from __future__ import annotations

import ast
import pathlib
import re
import sys

PKG = pathlib.Path("defi_features_data_pipeline_spark")
DEFAULT_ROOTS = ["run_pipeline", "ALL_QUERIES", str(PKG / "__main__.py"),
                 str(PKG / "pipelines/defi/__main__.py"), "__spark_entry__.py",
                 "bench.py", "pipeline_bench", "tools"]
SPEC = re.compile(r"[A-Za-z_][\w.]*:([A-Za-z_]\w*)")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def parse(path: pathlib.Path):
    """The module's tree, and a function giving the names a node mentions."""
    tree = ast.parse(path.read_text())
    docs = {id(n.body[0].value) for n in ast.walk(tree) if isinstance(n, (ast.Module, *DEFS)) and n.body
            and isinstance(n.body[0], ast.Expr) and isinstance(n.body[0].value, ast.Constant)}
    alias = {a.asname: a.name for n in tree.body if isinstance(n, ast.ImportFrom)
             for a in n.names if a.asname}

    def refs(node: ast.AST) -> set[str]:
        out: set[str] = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out |= {n.id, alias.get(n.id, n.id)}
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.ImportFrom):
                out |= {a.name for a in n.names}
            elif isinstance(n, ast.JoinedStr):  # f"{__name__}:fetch_page_http?url=..."
                out |= {m[1] for v in n.values if isinstance(v, ast.Constant)
                        for m in re.finditer(r"^:([A-Za-z_]\w*)", str(v.value))}
            elif isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in docs:
                out |= set(SPEC.findall(n.value))
        return out

    return tree, refs


def targets(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, DEFS):
        return [stmt.name]
    ts = getattr(stmt, "targets", [getattr(stmt, "target", None)])
    return [t.id for t in ts if isinstance(t, ast.Name)] if isinstance(
        stmt, (ast.Assign, ast.AnnAssign)) else []


def names_in(paths) -> set[str]:
    files = [f for r in map(pathlib.Path, paths) for f in ([r] if r.is_file() else r.rglob("*.py"))]
    return set().union(*(refs(tree) for tree, refs in map(parse, files)))


def package():
    """Definitions, the names import-time code mentions, classes with an outside base."""
    defs = {}  # "mod:qual" -> (name, class or None, lines, names it mentions, registered)
    on_import: set[str] = set()
    bases = {}
    for f in sorted(PKG.rglob("*.py")):
        mod = ".".join(f.with_suffix("").parts)
        tree, refs = parse(f)
        for stmt in tree.body:
            names = [n for n in targets(stmt) if not n.startswith("__")]
            if not names:
                if not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                    on_import |= refs(stmt)
                continue
            decos = getattr(stmt, "decorator_list", [])
            start = min([stmt.lineno] + [d.lineno for d in decos])
            reg = any(getattr(d, "attr", getattr(d, "id", "")) == "register" for d in decos)
            own = refs(stmt)
            if isinstance(stmt, ast.ClassDef):  # methods and class attributes are own nodes
                bases[f"{mod}:{stmt.name}"] = stmt.bases
                members = [m for m in stmt.body if targets(m) and not isinstance(m, ast.AnnAssign)]
                own = set().union(*(refs(n) for n in stmt.body + stmt.bases + decos
                                    if n not in members))
                for m in members:
                    for name in targets(m):
                        defs[f"{mod}:{stmt.name}.{name}"] = (
                            name, f"{mod}:{stmt.name}", m.end_lineno - m.lineno + 1, refs(m), False)
            for name in names:
                defs[f"{mod}:{name}"] = (name, None, stmt.end_lineno - start + 1, own, reg)
    local = {c.rpartition(":")[2] for c in bases}
    outside = {c for c, bs in bases.items()
               if any(getattr(b, "id", getattr(b, "attr", None)) not in local for b in bs)}
    return defs, on_import, outside


def reach(defs, used: set[str], outside: set[str]) -> set[str]:
    reached: set[str] = set()
    while True:  # fixpoint: a newly reached definition may reach others
        new = {q for q, (name, cls, _, _, reg) in defs.items() if q not in reached and (
            name in used or reg if cls is None else cls in reached and (
                # a method of a class with an outside base may be a framework callback
                name in used or name.startswith("__") or cls in outside))}
        if not new:
            return reached
        reached |= new
        used = used.union(*(defs[q][3] for q in new))


def main(roots: list[str]) -> None:
    defs, used, outside = package()
    used |= names_in(r for r in roots if pathlib.Path(r).exists())
    used |= {r for r in roots if not pathlib.Path(r).exists()}
    reached = reach(defs, used, outside)
    with_tests = reach(defs, used | names_in(["tests"]), outside)
    dead = [(q, n, "tests only" if q in with_tests else "no reference")
            for q, (_, cls, n, _, _) in defs.items()
            if q not in reached and (cls is None or cls in reached)]
    for q, n, why in dead:
        print(f"{q}  {n} lines  ({why})")
    print(f"{len(dead)} unreached definitions, {sum(n for _, n, _ in dead)} lines")


if __name__ == "__main__":
    main(sys.argv[1:] or DEFAULT_ROOTS)
