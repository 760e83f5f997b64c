"""Every top-level package function has a non-test caller, and every
option it branches on is varied by one.

A pure-AST scan, no Spark: starting from the entry points (every
``@query`` function in the registry, ``__spark_entry__.py``,
``__main__.py``, ``bench.py``, ``tools/`` and ``perfbench/``, plus the
functions ``perfbench/trace.py`` wraps by name), follow every name a
reached function uses to the package function it resolves to.  A
function the walk never reaches fails the test unless ``ALLOWED``
names it with the reason it stays.

A second walk over the same non-test code looks at options: a
parameter with a ``bool`` default that the body branches on, or with a
``str`` default that the body compares to a string literal.  Some
non-test call must pass it a value other than its default, or
``ALLOWED_OPTIONS`` must name it with the reason it stays; otherwise
the branch only tests select, and the option should be a constant.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "vectorsearch_scylla_spark"

# Functions kept with no non-test caller, each for the reason given.  The
# walk starts from them too, so what they call counts as reached.
ALLOWED = {
    "operators.pq.pq_adc_topk":
        "Spark reference that pq_adc_topk_np is tested bit-for-bit against",
    "plans.registry.q_dedup_clusters_union":
        "uncascaded union the cascade tests compare dedup_clusters_union_cascade against",
    "plans.registry._union_evidence_edges":
        "evidence edges of q_dedup_clusters_union, the cascade tests' reference",
    "operators.dedup.roll_forward_signatures":
        "builds the signature-artifact chains the incremental_components and against= tests run",
    "operators.dedup._check_artifact_schema":
        "schema guard roll_forward_signatures applies to every artifact it reads",
    "streaming.pipeline.metric_stream_from_kafka":
        "the reference's Kafka ingest transport",
    "streaming.pipeline.parse_metric_messages":
        "decodes the Kafka ingest's messages",
    "streaming.pipeline.to_kafka_messages":
        "encodes metric rows as the Kafka ingest's messages",
}

# Options ("module.function.parameter") kept although no non-test caller
# passes a value other than the default, each for the reason given.
ALLOWED_OPTIONS: dict[str, str] = {}


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, os.path.join(ROOT, PACKAGE))
    parts = rel[:-3].split(os.sep)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _py_files(*dirs: str) -> list[str]:
    out = []
    for d in dirs:
        for base, _subdirs, files in os.walk(os.path.join(ROOT, d)):
            out += [os.path.join(base, f) for f in files if f.endswith(".py")]
    return sorted(out)


class _Module:
    """One parsed file: its top-level functions and import bindings."""

    def __init__(self, path: str, name: str | None = None):
        self.name = name
        self.is_package = path.endswith("__init__.py")
        with open(path) as fh:
            self.tree = ast.parse(fh.read(), path)
        self.functions = {
            n.name: n
            for n in self.tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        }
        # local name -> package module ("ops.x") or function ("ops.x.f")
        self.bindings: dict[str, str] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.ImportFrom):
                base = self._absolute(node)
                if base is None:
                    continue
                for alias in node.names:
                    target = f"{base}.{alias.name}" if base else alias.name
                    self.bindings[alias.asname or alias.name] = target
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.startswith(PACKAGE + ".") and alias.asname:
                        self.bindings[alias.asname] = alias.name[len(PACKAGE) + 1:]

    def _absolute(self, node: ast.ImportFrom) -> str | None:
        mod = node.module or ""
        if node.level:
            pkg = (self.name or "").split(".")
            if not self.is_package:
                pkg = pkg[:-1]
            pkg = pkg[: len(pkg) - (node.level - 1)]
            return ".".join([p for p in pkg if p] + ([mod] if mod else []))
        if mod == PACKAGE:
            return ""
        if mod.startswith(PACKAGE + "."):
            return mod[len(PACKAGE) + 1:]
        return None


def _load_package() -> dict[str, _Module]:
    return {_module_name(p): _Module(p, _module_name(p)) for p in _py_files(PACKAGE)}


def _is_query(fn: ast.AST) -> bool:
    for dec in fn.decorator_list:
        target = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(target, ast.Name) and target.id == "query":
            return True
    return False


def _module_body_refs(tree: ast.Module) -> list[ast.AST]:
    """Module-level statements other than defs and imports: they run at import."""
    return [
        n for n in tree.body
        if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Import, ast.ImportFrom))
    ]


def _decorators_and_defaults(fn: ast.AST) -> list[ast.AST]:
    args = fn.args
    return list(fn.decorator_list) + list(args.defaults) + [d for d in args.kw_defaults if d]


class _Package:
    """The parsed package plus name resolution into its functions."""

    def __init__(self):
        self.modules = _load_package()
        self.everything = {
            f"{m}.{f}" for m, mod in self.modules.items() for f in mod.functions
        }

    def _resolve(self, target: str) -> str | None:
        """Follow a binding ("ops.x.f") through re-exports to a function."""
        for _ in range(5):
            if target in self.everything:
                return target
            mod, _, attr = target.rpartition(".")
            if mod in self.modules and attr in self.modules[mod].bindings:
                target = self.modules[mod].bindings[attr]
                continue
            return None
        return None

    def function_named(self, mod: _Module, node: ast.AST) -> str | None:
        """The package function a ``Name`` or ``module.attr`` node in
        ``mod`` refers to, if any."""
        if isinstance(node, ast.Name):
            if mod.name is not None and node.id in mod.functions:
                return f"{mod.name}.{node.id}"
            if node.id in mod.bindings:
                return self._resolve(mod.bindings[node.id])
        elif isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            base = mod.bindings.get(node.value.id)
            if base is not None:
                return self._resolve(f"{base}.{node.attr}" if base else node.attr)
        return None

    def definition(self, name: str) -> ast.FunctionDef:
        owner, _, fname = name.rpartition(".")
        return self.modules[owner].functions[fname]


def _entry_files() -> list[str]:
    return [
        os.path.join(ROOT, "__spark_entry__.py"),
        os.path.join(ROOT, "bench.py"),
        os.path.join(ROOT, PACKAGE, "__main__.py"),
    ] + _py_files("tools", "perfbench")


def reachable(extra_roots=()) -> tuple[set[str], set[str]]:
    """(every top-level package function, the ones the entry points and
    ``extra_roots`` reach)."""
    pkg = _Package()
    modules, everything = pkg.modules, pkg.everything
    reached: set[str] = set()
    work: list[tuple[_Module, list[ast.AST]]] = []

    def visit(mod: _Module, nodes: list[ast.AST]) -> None:
        for root in nodes:
            for node in ast.walk(root):
                hit = pkg.function_named(mod, node)
                if hit and hit not in reached:
                    reached.add(hit)
                    owner, _, fname = hit.rpartition(".")
                    fn = modules[owner].functions[fname]
                    work.append((modules[owner], [fn]))

    for mod in modules.values():
        visit(mod, _module_body_refs(mod.tree))
        for fn in mod.functions.values():
            visit(mod, _decorators_and_defaults(fn))
            if _is_query(fn):
                reached.add(f"{mod.name}.{fn.name}")
                work.append((mod, [fn]))
    for path in _entry_files():
        ext = _Module(path)
        visit(ext, [ext.tree])
    roots = [n for n in extra_roots if n in everything]
    trace = _Module(os.path.join(ROOT, "perfbench", "trace.py"))
    for node in ast.walk(trace.tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "MODULE_FUNCTIONS" for t in node.targets
        ):
            roots += [f"{row[0]}.{row[1]}" for row in ast.literal_eval(node.value)]
    for name in roots:
        if name not in reached:
            reached.add(name)
            owner, _, fname = name.rpartition(".")
            work.append((modules[owner], [modules[owner].functions[fname]]))
    while work:
        mod, nodes = work.pop()
        visit(mod, nodes)
    return everything, reached


def test_every_package_function_is_reached():
    everything, reached = reachable(extra_roots=ALLOWED)
    unreached = sorted(everything - reached - set(ALLOWED))
    assert not unreached, (
        "package functions no registered query, stream, tool or benchmark "
        f"reaches (delete them, or add a reason to ALLOWED): {unreached}"
    )


def test_allow_list_is_current():
    everything, reached = reachable()
    stale = sorted(n for n in ALLOWED if n not in everything or n in reached)
    assert not stale, f"ALLOWED entries that are gone or now reached: {stale}"


def _options(fn: ast.FunctionDef) -> dict[str, object]:
    """{parameter: default} for the ``bool`` parameters ``fn`` branches
    on and the ``str`` parameters it compares to a string literal."""
    args = fn.args
    positional = args.posonlyargs + args.args
    defaulted = positional[len(positional) - len(args.defaults):]
    defaults = {a.arg: d for a, d in zip(defaulted, args.defaults)}
    defaults.update(
        (a.arg, d) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None
    )
    consts = {
        name: d.value for name, d in defaults.items()
        if isinstance(d, ast.Constant) and isinstance(d.value, (bool, str))
    }
    branched, compared = set(), set()
    for node in ast.walk(fn):
        if isinstance(node, (ast.If, ast.IfExp, ast.While)):
            branched |= {n.id for n in ast.walk(node.test) if isinstance(n, ast.Name)}
        elif isinstance(node, ast.Compare):
            sides = [node.left, *node.comparators]
            literal = any(
                isinstance(c, ast.Constant) and isinstance(c.value, str)
                for side in sides for c in ast.walk(side)
            )
            if literal:
                compared |= {s.id for s in sides if isinstance(s, ast.Name)}
    return {
        name: value for name, value in consts.items()
        if (isinstance(value, bool) and name in branched)
        or (isinstance(value, str) and name in compared)
    }


def _varied_options(pkg: _Package) -> set[str]:
    """Every "function.parameter" some non-test call passes a value that
    is not the parameter's literal default (a non-literal counts)."""
    varied: set[str] = set()
    files = [(mod, mod.tree) for mod in pkg.modules.values()]
    files += [(m, m.tree) for m in map(_Module, _entry_files())]
    for mod, tree in files:
        for call in (n for n in ast.walk(tree) if isinstance(n, ast.Call)):
            name = pkg.function_named(mod, call.func)
            if name is None:
                continue
            fn = pkg.definition(name)
            params = [a.arg for a in fn.args.posonlyargs + fn.args.args]
            defaults = _options(fn)
            passed = []
            for i, arg in enumerate(call.args):
                if isinstance(arg, ast.Starred):
                    passed += [(p, arg) for p in params[i:]]
                    break
                if i < len(params):
                    passed.append((params[i], arg))
            for kw in call.keywords:
                if kw.arg is None:  # **kwargs may carry any option
                    passed += [(p, kw.value) for p in defaults]
                else:
                    passed.append((kw.arg, kw.value))
            for param, value in passed:
                if param in defaults and not (
                    isinstance(value, ast.Constant) and value.value == defaults[param]
                ):
                    varied.add(f"{name}.{param}")
    return varied


def test_every_option_is_varied_by_a_non_test_caller():
    pkg = _Package()
    varied = _varied_options(pkg)
    options = {
        f"{name}.{param}"
        for name in pkg.everything - set(ALLOWED)
        for param in _options(pkg.definition(name))
    }
    dead = sorted(options - varied - set(ALLOWED_OPTIONS))
    assert not dead, (
        "options no non-test caller sets to a non-default value — make each "
        f"a constant and delete the branch only tests select, or add a reason "
        f"to ALLOWED_OPTIONS: {dead}"
    )
    stale = sorted(n for n in ALLOWED_OPTIONS if n not in options or n in varied)
    assert not stale, f"ALLOWED_OPTIONS entries that are gone or now varied: {stale}"


# The similarity convention (zero-norm guard, per-batch top-k retention)
# has one home; a kernel that calls these itself has grown its own copy.
CONVENTION_HOME = "functions.vector"


def _convention_calls(tree: ast.Module) -> list[int]:
    """Line numbers of ``*.linalg.norm(...)`` and ``*.argpartition(...)``
    calls in ``tree``."""
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if f.attr == "argpartition" or (
                f.attr == "norm"
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "linalg"
            ):
                lines.append(node.lineno)
    return lines


# The oracles' zero-guarded cosine has one home too: DuckDB's
# list_cosine_similarity yields -1.0 on a zero vector, and the guard
# lives in this one function.
SQL_COSINE_HOME = ("plans.registry", "_cos_sql")


def _sql_cosine_lines(name: str, tree: ast.Module) -> list[int]:
    """Line numbers of string literals (docstrings aside) that spell out
    ``list_cosine_similarity`` outside ``SQL_COSINE_HOME``."""
    docs = {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and n.body
        and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }
    home = {
        line
        for fn in tree.body
        if name == SQL_COSINE_HOME[0]
        and isinstance(fn, ast.FunctionDef)
        and fn.name == SQL_COSINE_HOME[1]
        for line in range(fn.lineno, fn.end_lineno + 1)
    }
    return [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and "list_cosine_similarity" in n.value
        and id(n) not in docs
        and n.lineno not in home
    ]


def test_similarity_convention_has_one_home():
    modules = _load_package()
    copies = {
        f"{name}:{line}"
        for name, mod in modules.items()
        if name != CONVENTION_HOME
        for line in _convention_calls(mod.tree)
    }
    assert not copies, (
        "np.linalg.norm / np.argpartition outside functions/vector.py — call "
        f"its _unit_rows / _cosine_block / _topk_keep instead: {sorted(copies)}"
    )
    sql_copies = {
        f"{name}:{line}"
        for name, mod in modules.items()
        for line in _sql_cosine_lines(name, mod.tree)
    }
    assert not sql_copies, (
        "list_cosine_similarity outside registry._cos_sql — build the oracle "
        f"cosine with _cos_sql instead: {sorted(sql_copies)}"
    )
