"""Every defaulted keyword on a function in ``operators/``, ``functions/``
and ``pipeline/`` is there because some caller sets it to a second value.

An AST scan of the package, ``perfbench/``, ``bench.py``, ``tools/``,
``__spark_entry__.py`` and the tests resolves each call to the function
it names and collects the values it can pass for each parameter: a
literal (or a module constant bound to one; ``**`` of a module-constant
dict counts as its keywords), the default when the call omits it, the values of an enclosing function's parameter that the call
forwards unchanged, or "any value" for everything else. A keyword whose
values collapse to one is a constant spelled as an option and belongs in
the module body instead. ``EXEMPT`` lists the ones kept on purpose."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCOPE = ("xsarsea_spark/operators/", "xsarsea_spark/functions/",
         "xsarsea_spark/pipeline/")
# Modules whose functions are entry points for callers outside the repo:
# their parameters can take any value.
PUBLIC = ("xsarsea_spark/api.py", "xsarsea_spark/cli.py",
          "xsarsea_spark/session.py", "xsarsea_spark/utils.py",
          "xsarsea_spark/sources/", "xsarsea_spark/testing/")
ANY = "<any>"

EXEMPT = {
    # xsarsea's reference signature (``model`` is also what perfbench
    # passes; the benchmark's files stay fixed).
    "operators/detrend.py:sigma0_detrend(model)": "reference signature",
    "operators/detrend.py:sigma0_detrend(wind_speed_gmf)":
        "reference signature",
    "operators/detrend.py:sigma0_detrend(wind_dir_gmf)":
        "reference signature",
    "operators/detrend.py:sigma0_detrend(first_line)":
        "reference signature",
    "operators/inversion.py:invert_from_model(dsig_co)":
        "reference signature",
    # Data, not tuning.
    "operators/pagerank.py:pagerank(dangling)":
        "its general path is the one correct for nodes without in-edges",
    "pipeline/dedup.py:minhash_lsh_cross_snapshot(batch_snapshot)":
        "the batch's snapshot tag",
    "pipeline/psl.py:exact_two_level_suffixes(lines)":
        "the public suffix list itself",
}


def _module(path: pathlib.Path) -> str:
    rel = path.relative_to(ROOT).with_suffix("")
    parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
    return ".".join(parts)


def _sources() -> list[pathlib.Path]:
    paths = [p for d in ("xsarsea_spark", "perfbench", "tools", "tests")
             for p in (ROOT / d).rglob("*.py")]
    return sorted(paths + [ROOT / "bench.py", ROOT / "__spark_entry__.py"])


def _literal(node):
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError, SyntaxError, MemoryError,
            RecursionError):
        return None


class _Module:
    def __init__(self, path: pathlib.Path):
        self.path = path
        self.rel = str(path.relative_to(ROOT))
        self.name = _module(path)
        self.tree = ast.parse(path.read_text())
        self.defs: dict[str, list] = {}      # name -> function nodes
        self.methods: dict[str, list] = {}   # method name -> nodes
        self.classes: dict[str, ast.ClassDef] = {}
        self.consts: dict[str, ast.AST] = {}
        self.imports: dict[str, tuple[str, str | None]] = {}
        self.parent: dict[ast.AST, ast.AST] = {}
        for node in ast.walk(self.tree):
            for child in ast.iter_child_nodes(node):
                self.parent[child] = node
        for node in ast.walk(self.tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if isinstance(self.parent[node], ast.ClassDef):
                    self.methods.setdefault(node.name, []).append(node)
                else:
                    self.defs.setdefault(node.name, []).append(node)
            elif isinstance(node, ast.ClassDef):
                self.classes[node.name] = node
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.imports[a.asname] = (a.name, None)
                    else:
                        top = a.name.split(".")[0]
                        self.imports[top] = (top, None)
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    pkg = self.name.split(".")
                    if self.path.name != "__init__.py":
                        pkg = pkg[:-1]
                    pkg = pkg[:len(pkg) - node.level + 1]
                    base = ".".join(pkg + ([base] if base else []))
                for a in node.names:
                    self.imports[a.asname or a.name] = (base, a.name)
        for node in self.tree.body:
            if isinstance(node, ast.Assign) and len(node.targets) == 1:
                target, value = node.targets[0], node.value
                if isinstance(target, ast.Name):
                    self.consts[target.id] = value
                elif (isinstance(target, ast.Tuple)
                        and isinstance(value, ast.Tuple)
                        and len(target.elts) == len(value.elts)):
                    self.consts.update(
                        (t.id, v) for t, v in zip(target.elts, value.elts)
                        if isinstance(t, ast.Name))
            elif (isinstance(node, ast.AnnAssign) and node.value is not None
                    and isinstance(node.target, ast.Name)):
                self.consts[node.target.id] = node.value

    def enclosing(self, node):
        node = self.parent.get(node)
        while node is not None:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.Lambda)):
                yield node
            node = self.parent.get(node)


def _params(fn) -> list[tuple[str, ast.AST | None, bool]]:
    """(name, default, positional) for every named parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    defaults = [None] * (len(pos) - len(a.defaults)) + list(a.defaults)
    out = [(p.arg, d, True) for p, d in zip(pos, defaults)]
    out += [(p.arg, d, False) for p, d in zip(a.kwonlyargs, a.kw_defaults)]
    return out


class _Scan:
    def __init__(self):
        self.mods = {m.name: m for m in map(_Module, _sources())}
        self.owner: dict[ast.AST, _Module] = {}
        for m in self.mods.values():
            for node in ast.walk(m.tree):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.Lambda)):
                    self.owner[node] = m
        self.calls: dict[ast.AST, list[tuple[_Module, ast.Call, int]]] = {}
        self.referenced: set[ast.AST] = set()
        for m in self.mods.values():
            for node in ast.walk(m.tree):
                if isinstance(node, ast.Call):
                    for fn, skip in self.resolve(m, node.func):
                        self.calls.setdefault(fn, []).append((m, node, skip))
            callees = {id(n.func) for n in ast.walk(m.tree)
                       if isinstance(n, ast.Call)}
            for node in ast.walk(m.tree):
                if (isinstance(node, (ast.Name, ast.Attribute))
                        and isinstance(node.ctx, ast.Load)
                        and id(node) not in callees):
                    self.referenced |= {fn for fn, _ in
                                        self.resolve(m, node)}

    # -- name resolution ------------------------------------------------
    def lookup(self, modname: str, name: str, depth: int = 0):
        """Functions (with the count of leading parameters a call skips)
        that ``modname.name`` denotes, following re-exports."""
        m = self.mods.get(modname)
        if m is None or depth > 8:
            return []
        if name in m.defs:
            return [(fn, 0) for fn in m.defs[name]
                    if next(m.enclosing(fn), None) is None]
        if name in m.classes:
            return [(fn, 1) for fn in m.classes[name].body
                    if isinstance(fn, ast.FunctionDef)
                    and fn.name == "__init__"]
        if name in m.imports:
            base, attr = m.imports[name]
            if attr is None:
                return []
            if f"{base}.{attr}" in self.mods:
                return []
            return self.lookup(base, attr, depth + 1)
        return []

    def module_of(self, m: _Module, node) -> str | None:
        if isinstance(node, ast.Name) and node.id in m.imports:
            base, attr = m.imports[node.id]
            full = base if attr is None else f"{base}.{attr}"
            return full if full in self.mods else None
        if isinstance(node, ast.Attribute):
            base = self.module_of(m, node.value)
            if base and f"{base}.{node.attr}" in self.mods:
                return f"{base}.{node.attr}"
        return None

    def resolve(self, m: _Module, func):
        if isinstance(func, ast.Name):
            if func.id in m.defs:
                return [(fn, 0) for fn in m.defs[func.id]]
            if func.id in m.classes or func.id in m.imports:
                return self.lookup(m.name, func.id)
            return []
        if isinstance(func, ast.Attribute):
            mod = self.module_of(m, func.value)
            if mod is not None:
                return self.lookup(mod, func.attr)
            # A method call on a receiver of unknown type may reach any
            # method of that name.
            return [(fn, 1) for mod in self.mods.values()
                    for fn in mod.methods.get(func.attr, [])]
        return []

    # -- values ---------------------------------------------------------
    def const(self, m: _Module, name: str, depth: int = 0):
        if depth > 8:
            return None
        if name in m.consts:
            return _literal(m.consts[name])
        if name in m.imports:
            base, attr = m.imports[name]
            if attr and base in self.mods:
                return self.const(self.mods[base], attr, depth + 1)
        return None

    def value(self, m: _Module, node, at):
        """A literal, ("param", fn, name) for a forwarded parameter, or
        ANY."""
        lit = _literal(node)
        if lit is not None:
            return lit
        if isinstance(node, ast.Name):
            for fn in m.enclosing(at):
                names = [p for p, _, _ in _params(fn)]
                if node.id in names:
                    stored = any(isinstance(n, ast.Name) and n.id == node.id
                                 and isinstance(n.ctx, ast.Store)
                                 for n in ast.walk(fn))
                    return ANY if stored else ("param", fn, node.id)
                if any(isinstance(n, ast.Name) and n.id == node.id
                       and isinstance(n.ctx, ast.Store)
                       for n in ast.walk(fn)):
                    return ANY
            lit = self.const(m, node.id)
            return lit if lit is not None else ANY
        if isinstance(node, ast.Attribute):
            mod = self.module_of(m, node.value)
            if mod is not None:
                lit = self.const(self.mods[mod], node.attr)
                if lit is not None:
                    return lit
        return ANY

    def keywords(self, m: _Module, call: ast.Call):
        """name -> value node of a call's keywords, ``**`` of a module
        constant ``dict(...)`` or ``{...}`` literal expanded; None when
        a ``**`` operand is anything else."""
        out = {}
        for kw in call.keywords:
            if kw.arg is not None:
                out[kw.arg] = kw.value
                continue
            src = (m.consts.get(kw.value.id)
                   if isinstance(kw.value, ast.Name) else None)
            if (isinstance(src, ast.Call) and isinstance(src.func, ast.Name)
                    and src.func.id == "dict" and not src.args
                    and all(k.arg for k in src.keywords)):
                out.update((k.arg, k.value) for k in src.keywords)
            elif isinstance(src, ast.Dict) and all(
                    isinstance(k, ast.Constant) for k in src.keys):
                out.update((k.value, v) for k, v in zip(src.keys,
                                                        src.values))
            else:
                return None
        return out

    def public(self, fn) -> bool:
        """Callers the scan cannot see may reach ``fn``: it is an entry
        point, a test, or passed around as a value."""
        m = self.owner[fn]
        return (m.rel.startswith(PUBLIC) or m.rel.startswith("tests/")
                or fn in self.referenced)

    def sources(self, fn, name: str):
        """Values each call of ``fn`` can bind to parameter ``name``."""
        params = _params(fn)
        idx = [p for p, _, _ in params].index(name)
        _, default, positional = params[idx]
        if self.public(fn):
            return [ANY]
        m = self.owner[fn]
        calls = self.calls.get(fn, [])
        if not calls:
            return [ANY if default is None
                    else self.value(m, default, default)]
        out = []
        for cm, call, skip in calls:
            pos = idx - skip
            keywords = self.keywords(cm, call)
            if keywords is None or any(isinstance(a, ast.Starred)
                                       for a in call.args):
                out.append(ANY)
            elif positional and 0 <= pos < len(call.args):
                out.append(self.value(cm, call.args[pos], call))
            elif name in keywords:
                out.append(self.value(cm, keywords[name], call))
            elif default is not None:
                out.append(self.value(m, default, default))
            else:
                out.append(ANY)
        return out

    def values(self, fn, name: str) -> set[str]:
        memo: dict[tuple, set[str]] = {}
        stack: set[tuple] = set()

        def walk(f, p):
            key = (f, p)
            if key in memo:
                return memo[key]
            if key in stack:
                return set()
            stack.add(key)
            out: set[str] = set()
            for v in self.sources(f, p):
                out |= walk(v[1], v[2]) if isinstance(v, tuple) else {v}
            stack.discard(key)
            memo[key] = out
            return out
        return walk(fn, name)


def single_valued_keywords() -> list[str]:
    scan = _Scan()
    out = []
    for m in scan.mods.values():
        if not m.rel.startswith(SCOPE):
            continue
        for fn in (n for n in ast.walk(m.tree)
                   if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))):
            for name, default, _ in _params(fn):
                if default is None or name in ("self", "cls"):
                    continue
                vals = scan.values(fn, name)
                if ANY not in vals and len(vals) <= 1:
                    key = (f"{m.rel.removeprefix('xsarsea_spark/')}:"
                           f"{fn.name}({name})")
                    out.append(key)
    return sorted(out)


def test_every_keyword_option_takes_two_values():
    found = single_valued_keywords()
    left = [k for k in found if k not in EXEMPT]
    assert not left, (f"{len(left)} keyword(s) no caller sets to a second "
                      "value:\n" + "\n".join(left))


def test_exemptions_are_still_keywords():
    found = set(single_valued_keywords())
    stale = [k for k in EXEMPT if k not in found]
    assert not stale, "\n".join(stale)


if __name__ == "__main__":
    print("\n".join(single_valued_keywords()))
