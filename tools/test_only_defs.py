"""List the top-level functions and classes under ``emf_spark/`` that
nothing outside the tests names, with their line counts.

A definition counts as used when its name appears as a whole word
anywhere in ``emf_spark/``, ``perfbench/``, ``tools/``, ``bench.py`` or
``__spark_entry__.py`` other than its own ``def``/``class`` line, in
code, comments or docstrings, its own body included; so the total is a
lower bound on the code that only tests reach.

    python3 tools/test_only_defs.py [repo root]
"""

from __future__ import annotations

import ast
import re
import sys
from collections import Counter
from pathlib import Path

WORD = re.compile(r"\w+")
ROOT = Path(__file__).resolve().parent.parent
SCANNED = ("emf_spark", "perfbench", "tools", "bench.py", "__spark_entry__.py")


def sources(root: Path) -> dict[Path, list[str]]:
    """Every scanned ``.py`` file, as its lines."""
    paths = []
    for name in SCANNED:
        p = root / name
        if p.is_dir():
            paths += sorted(p.rglob("*.py"))
        elif p.is_file():
            paths.append(p)
    return {p.relative_to(root): p.read_text().splitlines() for p in paths}


def unreferenced_defs(root: Path) -> list[tuple[Path, str, int]]:
    """(file, name, lines) of every unreferenced top-level definition."""
    files = sources(root)
    words = Counter(w for text in files.values() for line in text for w in WORD.findall(line))
    found = []
    for path, text in files.items():
        if path.parts[0] != "emf_spark":
            continue
        for node in ast.parse("\n".join(text), str(path)).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            own_line = WORD.findall(text[node.lineno - 1]).count(node.name)
            if words[node.name] == own_line:
                found.append((path, node.name, node.end_lineno - node.lineno + 1))
    return found


if __name__ == "__main__":
    defs = unreferenced_defs(Path(sys.argv[1]) if len(sys.argv) > 1 else ROOT)
    for path, name, n in defs:
        print(f"{n:5d}  {path}:{name}")
    print(f"{len(defs)} definitions, {sum(n for *_, n in defs)} lines")
