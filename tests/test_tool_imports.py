"""Scripts outside the test suite's import graph (tools/, perfbench/,
bench.py, __spark_entry__.py) still name only engine symbols that exist.

Each script is parsed with ``ast``, not run: every ``from tsne_flink_spark…
import name`` must resolve to an importable module that has ``name`` (or a
submodule of that name), and every ``import tsne_flink_spark…`` must
import.  A refactor that deletes or renames an engine symbol fails here
instead of in the next manual run of a probe or the benchmark."""

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    [*ROOT.glob("tools/*.py"), *ROOT.glob("perfbench/*.py"),
     ROOT / "bench.py", ROOT / "__spark_entry__.py"]
)
PACKAGE = "tsne_flink_spark"


def _engine_imports(path: Path):
    """(lineno, module, name or None) for every engine import in ``path``."""
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module == PACKAGE or (node.module or "").startswith(PACKAGE + ".")
        ):
            for alias in node.names:
                if alias.name != "*":
                    yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PACKAGE:
                    yield node.lineno, alias.name, None


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ModuleNotFoundError:
        return False
    if name is None or hasattr(mod, name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_scripts_found():
    assert len(SCRIPTS) > 3 and all(p.exists() for p in SCRIPTS)


@pytest.mark.parametrize(
    "path", SCRIPTS, ids=[str(p.relative_to(ROOT)) for p in SCRIPTS]
)
def test_engine_imports_resolve(path):
    missing = [
        f"{path.name}:{line}: {module}" + (f" has no {name!r}" if name else "")
        for line, module, name in _engine_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, "\n".join(missing)
