"""List the top-level definitions under ``emf_spark/`` that no entry
point reaches, and the defaulted function parameters that no caller
sets.

Reachability is an AST closure. The roots are the module-level code of
every ``emf_spark/`` module (the driver-query registry among it),
``ENTRY_POINTS``, and all code under ``perfbench/`` and ``tools/``, in
``bench.py`` and in ``__spark_entry__.py``. The definitions are the
top-level functions and classes and the module constants (a top-level
``NAME = ...``) of ``emf_spark/``; every other module-level statement
is a root. A reached piece of code reaches the definitions it names: a
bare name defined in its module or bound by an import, or
``module.name`` where ``module`` is an imported module. Comments,
docstrings and other strings name nothing. The tests are not roots, so
what is left is the code that only tests reach.

A defaulted parameter of a top-level ``emf_spark/`` function is set by
a call that passes it by position or by keyword (``*args`` or
``**kwargs`` set them all), with calls resolved the same way. A
function named without being called (a registry value, ``partial``, a
UDF wrapper) has all of its parameters set. Calls are collected from
every scanned file and from ``tests/``; the tests are callers, not
roots. A call inside a code string is not seen.

``ALLOWED`` keeps a few unreached definitions on purpose and
``KEPT_PARAMS`` a few unset parameters, each with its reason; they are
printed apart from the rest.

    python3 tools/test_only_defs.py [repo root]
"""

from __future__ import annotations

import ast
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "emf_spark"
SCANNED = (PACKAGE, "perfbench", "tools", "bench.py", "__spark_entry__.py")
TESTS = "tests"
ENTRY_POINTS = (
    "emf_spark.cli:main",
    "emf_spark.pipeline:run",
    "emf_spark.streaming.job:run_microbatch",
)
ALLOWED = {
    "emf_spark.datax.multimodal:synth_bmp": "fixture generator for the BMP decode tests",
    "emf_spark.datax.multimodal:synth_png16_gray": "fixture generator for the 16-bit PNG tests",
    "emf_spark.datax.multimodal:synth_adpcm_wav": "fixture generator for the IMA ADPCM tests",
    "emf_spark.datax.multimodal:fake_media_df": "fixture generator for the media column tests",
    "emf_spark.operators.grok:COMMON_LOG": "the Apache common-log pattern the grok tests parse with",
    "emf_spark.tokenizer:tokenize_bytes": "spec form the Arrow tokenizer is tested against",
    "emf_spark.tokenizer:detokenize_bytes": "spec form the Arrow detokenizer is tested against",
    "emf_spark.datax.dedup:word_shingle_hashes": "spec form the shingle hashing is tested against",
    "emf_spark.datax.dedup:simhash64": "spec form the SimHash column is tested against",
    "emf_spark.datax.textstats:bpe_train": "reference trainer that `BPE_MERGES` and `bpe_apply` are tested against",
    "emf_spark.operators.parse:with_parsed_metrics": "spec form the staged parse is tested against",
    "emf_spark.streaming.merge:merge_partial_events": "streaming == batch re-merge of partial events",
    "emf_spark.streaming.merge:compact_events": "streaming == batch re-merge of partial events",
}
KEPT_PARAMS = {
    "emf_spark.pipeline:run(lookup)": "the enrichment table is input data, like a path",
    "emf_spark.pipeline:build_events(lookup)": "the enrichment table is input data, like a path",
    "emf_spark.streaming.job:run_microbatch(lookup)": "the enrichment table is input data, like a path",
    "emf_spark.streaming.job:run_microbatch(window_ms)": "the reference's aggregation_period; the stream has no CLI",
    "emf_spark.streaming.job:run_microbatch(trigger)": "the reference's aggregation_period ticker; the stream has no CLI",
}
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def module_name(rel: Path) -> str:
    parts = list(rel.with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def parse_tree(root: Path, names=SCANNED) -> dict[str, tuple[Path, ast.Module]]:
    """Every ``.py`` file under ``names`` as {module name: (path, AST)}."""
    paths = []
    for name in names:
        p = root / name
        if p.is_dir():
            paths += sorted(p.rglob("*.py"))
        elif p.is_file():
            paths.append(p)
    out = {}
    for p in paths:
        rel = p.relative_to(root)
        out[module_name(rel)] = (rel, ast.parse(p.read_text(), str(rel)))
    return out


def imported_base(mod: str, is_pkg: bool, node: ast.ImportFrom) -> str:
    """The absolute module a ``from ... import`` reads from."""
    if not node.level:
        return node.module or ""
    parts = mod.split(".") if is_pkg else mod.split(".")[:-1]
    parts = parts[: len(parts) - (node.level - 1)]
    return ".".join(parts + ([node.module] if node.module else []))


def constant_names(stmt: ast.stmt) -> list[str]:
    """The names a module-level ``NAME = ...`` defines, else []."""
    if isinstance(stmt, ast.Assign) and all(isinstance(t, ast.Name) for t in stmt.targets):
        return [t.id for t in stmt.targets]
    if isinstance(stmt, ast.AnnAssign) and stmt.value and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def definitions(mod: str, t: ast.Module) -> list[tuple[str, ast.stmt]]:
    """A module's top-level definitions as (name, statement); module
    constants count only under the package."""
    out = []
    for n in t.body:
        if isinstance(n, DEFS):
            out.append((n.name, n))
        elif mod.split(".")[0] == PACKAGE:
            out += [(name, n) for name in constant_names(n)]
    return out


class Resolver:
    """Name resolution over the scanned files and the tests."""

    def __init__(self, root: Path):
        self.tree = parse_tree(root)
        self.tests = parse_tree(root, (TESTS,))
        self.defs: dict[str, list[ast.stmt]] = defaultdict(list)
        for mod, (_, t) in self.tree.items():
            for name, node in definitions(mod, t):
                self.defs[f"{mod}:{name}"].append(node)
        # Module-wide name bindings from every import in the file, nested
        # ones included: {module: {name: {"m:<module>" | "d:<module>:<def>"}}}.
        self.binds: dict[str, dict[str, set[str]]] = {}
        for mod, (rel, t) in {**self.tree, **self.tests}.items():
            b = self.binds[mod] = defaultdict(set)
            for node in ast.walk(t):
                if isinstance(node, ast.Import):
                    for a in node.names:
                        b[a.asname or a.name.split(".")[0]].add(
                            f"m:{a.name if a.asname else a.name.split('.')[0]}"
                        )
                elif isinstance(node, ast.ImportFrom):
                    base = imported_base(mod, rel.name == "__init__.py", node)
                    for a in node.names:
                        full = f"{base}.{a.name}"
                        b[a.asname or a.name].add(f"m:{full}" if full in self.tree else f"d:{base}:{a.name}")

    def modules_of(self, mod: str, expr: ast.expr) -> set[str]:
        if isinstance(expr, ast.Name):
            return {t[2:] for t in self.binds[mod].get(expr.id, ()) if t[0] == "m"}
        if isinstance(expr, ast.Attribute):
            return {f"{m}.{expr.attr}" for m in self.modules_of(mod, expr.value)} & self.tree.keys()
        return set()

    def resolve(self, mod: str, n: ast.AST) -> set[str]:
        """The definitions one ``Name`` or ``Attribute`` node may name."""
        if isinstance(n, ast.Name):
            out = {t[2:] for t in self.binds[mod].get(n.id, ()) if t[0] == "d"} | {f"{mod}:{n.id}"}
        elif isinstance(n, ast.Attribute):
            out = {f"{m}:{n.attr}" for m in self.modules_of(mod, n.value)}
        else:
            return set()
        return out & self.defs.keys()

    def named(self, mod: str, node: ast.AST) -> set[str]:
        return set().union(*(self.resolve(mod, n) for n in ast.walk(node)))


def unreached_defs(root: Path = ROOT) -> tuple[list[tuple[Path, str, int]], list[tuple[Path, str, int]]]:
    """The top-level definitions under ``emf_spark/`` that no entry
    point reaches, as (file, name, lines): (allowlisted, the rest)."""
    r = Resolver(root)
    tree, defs = r.tree, r.defs
    defined = {id(n) for nodes in defs.values() for n in nodes}
    work = [(mod, stmt) for mod, (_, t) in tree.items() for stmt in t.body
            if not (mod.split(".")[0] == PACKAGE and id(stmt) in defined)]
    work += [(key.split(":")[0], n) for key in ENTRY_POINTS for n in defs[key]]
    reached = set(ENTRY_POINTS)
    while work:
        mod, node = work.pop()
        for key in r.named(mod, node) - reached:
            reached.add(key)
            work += [(key.split(":")[0], n) for n in defs[key]]
    allowed, rest = [], []
    for key, nodes in defs.items():
        if key.split(".")[0] == PACKAGE and key not in reached:
            mod, name = key.split(":")
            found = (tree[mod][0], name, sum(n.end_lineno - n.lineno + 1 for n in nodes))
            (allowed if key in ALLOWED else rest).append(found)
    return allowed, rest


def defaulted(fn: ast.FunctionDef) -> tuple[list[str], list[str]]:
    """(every positional parameter, the defaulted ones) of ``fn``, with
    the defaulted keyword-only parameters among the latter."""
    a = fn.args
    positional = [p.arg for p in a.posonlyargs + a.args]
    with_default = positional[len(positional) - len(a.defaults):]
    with_default += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return positional, with_default


def defaulted_params(root: Path = ROOT):
    """Every defaulted parameter of a top-level ``emf_spark/`` function
    by who sets it, as (file, function, parameter):
    (kept, unset, set only by tests, number of parameters, of functions)."""
    r = Resolver(root)
    funcs = {key: nodes[-1] for key, nodes in r.defs.items()
             if key.split(".")[0] == PACKAGE and isinstance(nodes[-1], FUNCS)}
    sigs = {key: defaulted(fn) for key, fn in funcs.items()}
    sigs = {key: sig for key, sig in sigs.items() if sig[1]}
    set_by: dict[str, set[str]] = defaultdict(set)  # "key(param)" -> {"code", "tests"}
    for who, files in (("code", r.tree), ("tests", r.tests)):
        for mod, (_, t) in files.items():
            callees = set()
            for node in ast.walk(t):
                if not isinstance(node, ast.Call):
                    continue
                callees.add(id(node.func))
                for key in r.resolve(mod, node.func) & sigs.keys():
                    positional, params = sigs[key]
                    if any(isinstance(a, ast.Starred) for a in node.args) or any(
                        k.arg is None for k in node.keywords
                    ):
                        passed = set(params)
                    else:
                        passed = set(positional[: len(node.args)]) | {k.arg for k in node.keywords}
                    for p in passed & set(params):
                        set_by[f"{key}({p})"].add(who)
            for node in ast.walk(t):
                if isinstance(node, (ast.Name, ast.Attribute)) and id(node) not in callees:
                    for key in r.resolve(mod, node) & sigs.keys():
                        for p in sigs[key][1]:
                            set_by[f"{key}({p})"].add(who)
    kept, unset, tests_only = [], [], []
    for key, (_, params) in sigs.items():
        mod, name = key.split(":")
        for p in params:
            found = (r.tree[mod][0], name, p)
            who = set_by[f"{key}({p})"]
            if not who:
                (kept if f"{key}({p})" in KEPT_PARAMS else unset).append(found)
            elif who == {"tests"}:
                tests_only.append(found)
    return kept, unset, tests_only, sum(len(p) for _, p in sigs.values()), len(sigs)


def report(title: str, defs: list[tuple[Path, str, int]]) -> None:
    print(title)
    for path, name, n in defs:
        reason = ALLOWED.get(f"{module_name(path)}:{name}")
        print(f"{n:5d}  {path}:{name}" + (f"  ({reason})" if reason else ""))
    print(f"{len(defs)} definitions, {sum(n for *_, n in defs)} lines")


def report_params(title: str, params: list[tuple[Path, str, str]]) -> None:
    print(title)
    for path, name, p in params:
        reason = KEPT_PARAMS.get(f"{module_name(path)}:{name}({p})")
        print(f"       {path}:{name}({p})" + (f"  ({reason})" if reason else ""))
    print(f"{len(params)} parameters")


if __name__ == "__main__":
    root = Path(sys.argv[1]) if len(sys.argv) > 1 else ROOT
    allowed, rest = unreached_defs(root)
    report("Reached only from tests, kept on purpose:", allowed)
    report("\nReached only from tests:", rest)
    kept, unset, tests_only, n_params, n_funcs = defaulted_params(root)
    report_params("\nDefaulted parameters no caller sets, kept on purpose:", kept)
    report_params("\nDefaulted parameters no caller sets:", unset)
    report_params("\nDefaulted parameters only tests set:", tests_only)
    print(f"\n{n_params} defaulted parameters in {n_funcs} functions; "
          f"{len(unset)} unset, {len(tests_only)} set only by tests, {len(kept)} kept")
