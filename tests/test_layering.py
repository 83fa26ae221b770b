"""The production layers must not import the oracle-query layer.

``queries/`` wraps operators into registry entries checked against
DuckDB; the ELT, serving and corpus-build paths call the operators
directly.  An import from ``queries/`` in a production module would
make the production path depend on the query registry.  ``streaming/``
is not listed yet: its monitors still take shared helpers from
``queries/`` (ROADMAP, direction 5).
"""

import ast
import pathlib

import sleep_edf_data_pipeline_spark as pkg

ROOT = pathlib.Path(pkg.__file__).parent
PRODUCTION = ["plans", "operators", "functions", "sources", "quality", "writers",
              "marts.py", "tables.py"]


def _imported_modules(path: pathlib.Path) -> list[tuple[int, str]]:
    """(line, absolute dotted name) of every module a file imports."""
    here = [pkg.__name__, *path.relative_to(ROOT).parent.parts]
    out = []
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            out += [(node.lineno, a.name) for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = here[: len(here) - node.level + 1] if node.level else []
            mod = ".".join([*base, *([node.module] if node.module else [])])
            out += [(node.lineno, f"{mod}.{a.name}") for a in node.names]
    return out


def test_production_layers_do_not_import_queries():
    queries = f"{pkg.__name__}.queries"
    offenders = []
    for entry in PRODUCTION:
        target = ROOT / entry
        files = target.rglob("*.py") if target.is_dir() else [target]
        for p in files:
            for line, mod in _imported_modules(p):
                if mod == queries or mod.startswith(queries + "."):
                    offenders.append(f"{p.relative_to(ROOT)}:{line} {mod}")
    assert offenders == []
