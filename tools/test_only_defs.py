"""List the top-level functions and classes under ``emf_spark/`` that no
entry point reaches, with their line counts.

Reachability is an AST closure. The roots are the module-level code of
every ``emf_spark/`` module (the driver-query registry among it),
``ENTRY_POINTS``, and all code under ``perfbench/`` and ``tools/``, in
``bench.py`` and in ``__spark_entry__.py``. A reached piece of code
reaches the definitions it names: a bare name defined in its module or
bound by an import, or ``module.name`` where ``module`` is an imported
module. Comments, docstrings and other strings name nothing. The tests
are not roots, so what is left is the code that only tests reach.

``ALLOWED`` keeps a few such definitions on purpose, each with its
reason; they are printed apart from the rest.

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
ENTRY_POINTS = (
    "emf_spark.cli:main",
    "emf_spark.cli:datax_main",
    "emf_spark.pipeline:run",
    "emf_spark.streaming.job:run_microbatch",
)
ALLOWED = {
    "emf_spark.datax.multimodal:synth_bmp": "fixture generator for the BMP decode tests",
    "emf_spark.datax.multimodal:synth_png16_gray": "fixture generator for the 16-bit PNG tests",
    "emf_spark.datax.multimodal:synth_adpcm_wav": "fixture generator for the IMA ADPCM tests",
    "emf_spark.datax.multimodal:fake_media_df": "fixture generator for the media column tests",
    "emf_spark.tokenizer:tokenize_bytes": "spec form the Arrow tokenizer is tested against",
    "emf_spark.tokenizer:detokenize_bytes": "spec form the Arrow detokenizer is tested against",
    "emf_spark.datax.dedup:word_shingle_hashes": "spec form the shingle hashing is tested against",
    "emf_spark.datax.dedup:simhash64": "spec form the SimHash column is tested against",
    "emf_spark.operators.parse:with_parsed_metrics": "spec form the staged parse is tested against",
    "emf_spark.streaming.merge:merge_partial_events": "streaming == batch re-merge of partial events",
    "emf_spark.streaming.merge:compact_events": "streaming == batch re-merge of partial events",
}
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def module_name(rel: Path) -> str:
    parts = list(rel.with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def parse_tree(root: Path) -> dict[str, tuple[Path, ast.Module]]:
    """Every scanned ``.py`` file as {module name: (path, AST)}."""
    paths = []
    for name in SCANNED:
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


def unreached_defs(root: Path = ROOT) -> tuple[list[tuple[Path, str, int]], list[tuple[Path, str, int]]]:
    """The top-level definitions under ``emf_spark/`` that no entry
    point reaches, as (file, name, lines): (allowlisted, the rest)."""
    tree = parse_tree(root)
    defs = {
        f"{mod}:{n.name}": n
        for mod, (_, t) in tree.items()
        for n in t.body
        if isinstance(n, DEFS)
    }
    # Module-wide name bindings from every import in the file, nested
    # ones included: {module: {name: {"m:<module>" | "d:<module>:<def>"}}}.
    binds: dict[str, dict[str, set[str]]] = {}
    for mod, (rel, t) in tree.items():
        b = binds[mod] = defaultdict(set)
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
                    b[a.asname or a.name].add(f"m:{full}" if full in tree else f"d:{base}:{a.name}")

    def modules_of(mod: str, expr: ast.expr) -> set[str]:
        if isinstance(expr, ast.Name):
            return {t[2:] for t in binds[mod].get(expr.id, ()) if t[0] == "m"}
        if isinstance(expr, ast.Attribute):
            return {f"{m}.{expr.attr}" for m in modules_of(mod, expr.value)} & tree.keys()
        return set()

    def named(mod: str, node: ast.AST) -> set[str]:
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out |= {t[2:] for t in binds[mod].get(n.id, ()) if t[0] == "d"}
                out.add(f"{mod}:{n.id}")
            elif isinstance(n, ast.Attribute):
                out |= {f"{m}:{n.attr}" for m in modules_of(mod, n.value)}
        return out & defs.keys()

    work = [(mod, stmt) for mod, (_, t) in tree.items() for stmt in t.body
            if not (mod.split(".")[0] == PACKAGE and isinstance(stmt, DEFS))]
    work += [(key.split(":")[0], defs[key]) for key in ENTRY_POINTS]
    reached = set(ENTRY_POINTS)
    while work:
        mod, node = work.pop()
        for key in named(mod, node) - reached:
            reached.add(key)
            work.append((key.split(":")[0], defs[key]))
    allowed, rest = [], []
    for key, node in defs.items():
        if key.split(".")[0] == PACKAGE and key not in reached:
            found = (tree[key.split(":")[0]][0], node.name, node.end_lineno - node.lineno + 1)
            (allowed if key in ALLOWED else rest).append(found)
    return allowed, rest


def report(title: str, defs: list[tuple[Path, str, int]]) -> None:
    print(title)
    for path, name, n in defs:
        reason = ALLOWED.get(f"{module_name(path)}:{name}")
        print(f"{n:5d}  {path}:{name}" + (f"  ({reason})" if reason else ""))
    print(f"{len(defs)} definitions, {sum(n for *_, n in defs)} lines")


if __name__ == "__main__":
    allowed, rest = unreached_defs(Path(sys.argv[1]) if len(sys.argv) > 1 else ROOT)
    report("Reached only from tests, kept on purpose:", allowed)
    report("\nReached only from tests:", rest)
