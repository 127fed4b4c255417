"""The once-per-worker zip-rescan patch (tsne_flink_spark/worker.py): it
sticks in reused Python workers, leaves imports working, never touches the
driver, and every engine kernel runs it first."""

import ast
import pathlib
import zipfile
import zipimport

from tsne_flink_spark import worker
from tsne_flink_spark.worker import skip_zip_rescan

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "tsne_flink_spark"

# The APIs whose function argument runs in a Python worker task.
_UDF_APIS = {
    "mapInArrow", "mapInPandas", "applyInPandas", "applyInPandasWithState",
    "mapPartitions",
}

# Sites whose function argument the walk cannot resolve by name, and why.
UNRESOLVED = {
    ("operators/skyline.py", "_range_merge", "local"):
        "a parameter: pareto_frontier passes its own `local`, which the walk "
        "checks at pareto_frontier's own mapInPandas sites",
}


def _is_udf_call(call: ast.Call) -> bool:
    f = call.func
    if not isinstance(f, ast.Attribute):
        return False
    if f.attr in _UDF_APIS:
        return True
    # rdd.map; a pandas Series .map runs inside a kernel, not as one
    recv = f.value
    return f.attr == "map" and (
        isinstance(recv, ast.Attribute) and recv.attr == "rdd"
        or isinstance(recv, ast.Name) and recv.id.endswith("rdd")
    )


def _own_statements(scope):
    """The statements of ``scope`` itself, through if/for/with/try blocks
    but not inside nested functions or classes."""
    todo = list(scope.body)
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            todo.extend(c for c in ast.iter_child_nodes(node) if isinstance(c, ast.stmt))


def _local_defs(scope) -> dict:
    """Name -> the def, or the assigned value, bound in ``scope`` itself."""
    found = {}
    for node in _own_statements(scope):
        if isinstance(node, ast.FunctionDef):
            found.setdefault(node.name, node)
        elif isinstance(node, ast.Assign) and len(node.targets) == 1 \
                and isinstance(node.targets[0], ast.Name):
            found.setdefault(node.targets[0].id, node.value)
    return found


def _returned_def(module: ast.Module, call: ast.Call):
    """The inner def a module-level factory returns, e.g. ``_block_kernel``
    returning ``run``."""
    if not isinstance(call.func, ast.Name):
        return None
    factory = _local_defs(module).get(call.func.id)
    if not isinstance(factory, ast.FunctionDef):
        return None
    returns = [n for n in _own_statements(factory) if isinstance(n, ast.Return)]
    if len(returns) != 1 or not isinstance(returns[0].value, ast.Name):
        return None
    inner = _local_defs(factory).get(returns[0].value.id)
    return inner if isinstance(inner, ast.FunctionDef) else None


def _resolve(module: ast.Module, scopes: list, arg):
    """The FunctionDef that ``arg`` names, or None."""
    if isinstance(arg, ast.Call):
        return _returned_def(module, arg)
    if not isinstance(arg, ast.Name):
        return None
    for scope in reversed(scopes):
        if isinstance(scope, ast.FunctionDef) and arg.id in {
            a.arg for a in scope.args.args + scope.args.kwonlyargs
        }:
            return None
        bound = _local_defs(scope).get(arg.id)
        if isinstance(bound, ast.FunctionDef):
            return bound
        if isinstance(bound, ast.Call):
            return _returned_def(module, bound)
    return None


def _starts_with_helper(fn: ast.FunctionDef) -> bool:
    body = fn.body
    if isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant) \
            and isinstance(body[0].value.value, str):
        body = body[1:]  # docstring
    first = body[0] if body else None
    return (
        isinstance(first, ast.Expr) and isinstance(first.value, ast.Call)
        and isinstance(first.value.func, ast.Name)
        and first.value.func.id == skip_zip_rescan.__name__
        and not first.value.args
    )


def kernel_sites(source: str, path: str = "<src>"):
    """Yield ``(site, kernel def or None)`` for every UDF API call and
    every ``pandas_udf``-decorated def in ``source``; ``site`` is
    ``(path, enclosing function, argument)``."""
    module = ast.parse(source)

    def visit(node, scopes):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.FunctionDef):
                if any("pandas_udf" in ast.unparse(d) for d in child.decorator_list):
                    yield (path, scopes[-1].name if len(scopes) > 1 else "", child.name), child
                yield from visit(child, scopes + [child])
                continue
            if isinstance(child, ast.Call) and _is_udf_call(child) and child.args:
                arg = child.args[0]
                where = scopes[-1].name if len(scopes) > 1 else ""
                yield (path, where, ast.unparse(arg)), _resolve(module, scopes, arg)
            yield from visit(child, scopes)

    yield from visit(module, [module])


def _missing(sites):
    unresolved, uncalled = [], []
    for site, fn in sites:
        if fn is None:
            unresolved.append(site)
        elif not _starts_with_helper(fn):
            uncalled.append((*site, fn.lineno))
    return unresolved, uncalled


def test_every_engine_kernel_calls_the_helper_first():
    sites = [
        s for p in sorted(PACKAGE.rglob("*.py"))
        for s in kernel_sites(p.read_text(), p.relative_to(PACKAGE).as_posix())
    ]
    unresolved, uncalled = _missing(sites)
    assert uncalled == [], "kernels that do not call skip_zip_rescan() first"
    assert set(unresolved) == set(UNRESOLVED), "unresolved UDF sites"
    kernels = {(site[0], fn.name) for site, fn in sites if fn is not None}
    # the walk really reaches the t-SNE path's kernels and the MinHash one
    assert {
        ("operators/knn.py", "run"), ("operators/gradient.py", "run"),
        ("operators/affinities.py", "per_partition"),
        ("pipeline/dedup.py", "sign_batches"), ("pipeline/dedup.py", "blob"),
    } <= kernels
    assert len(sites) >= 45


def test_coverage_walk_flags_a_forgotten_call():
    source = '''
def _factory(k):
    def run(batches):
        yield from batches
    return run

def op(df):
    def kernel(it):
        """doc"""
        yield from it

    @pandas_udf("long")
    def plus(s):
        return s + 1

    made = _factory(2)
    df.mapInPandas(kernel, "x long")
    df.mapInArrow(_factory(1), "x long")
    df.mapInArrow(made, "x long")
    df.rdd.map(lambda r: r)
    return df.select(plus("x"))
'''
    unresolved, uncalled = _missing(kernel_sites(source))
    assert sorted(u[2] for u in uncalled) == ["_factory(1)", "kernel", "made", "plus"]
    assert unresolved == [("<src>", "op", "lambda r: r")]
    patched = source.replace("    def run(batches):\n", "    def run(batches):\n        skip_zip_rescan()\n")
    patched = patched.replace('        """doc"""\n', '        """doc"""\n        skip_zip_rescan()\n')
    _, uncalled = _missing(kernel_sites(patched))
    assert [u[2] for u in uncalled] == ["plus"]


def test_patch_sticks_in_reused_workers(spark):
    """Counter host noise cannot flip: a task in a worker that already ran
    the helper spends < 10 ms in ``importlib.invalidate_caches()`` — the
    call pyspark makes before every task — where an unpatched worker
    re-reads every zip on its sys.path (>= 100 ms here, BASELINE.md B94).
    Jobs of 4 one-row tasks repeat until some task lands on a pid that
    ran an earlier job (the idle-worker queue is FIFO, so a pool of more
    than 4 workers can hand job 2 other workers)."""

    def kernel(rows):
        import importlib
        import os
        import time

        t = time.perf_counter()
        importlib.invalidate_caches()
        before = time.perf_counter() - t
        skip_zip_rescan()
        t = time.perf_counter()
        importlib.invalidate_caches()
        yield os.getpid(), before, time.perf_counter() - t

    rdd = spark.sparkContext.parallelize(range(4), 4)
    seen, reused = set(), []
    for _ in range(8):
        rows = rdd.mapPartitions(kernel).collect()
        assert len(rows) == 4
        assert all(after < 0.01 for _, _, after in rows), rows
        reused += [r for r in rows if r[0] in seen]
        seen |= {pid for pid, _, _ in rows}
        if len(reused) >= 4:
            break
    assert reused, "no worker was reused"
    assert all(before < 0.01 for _, before, _ in reused), reused


def test_patched_worker_still_imports(spark, tmp_path):
    """Patched, a worker still imports a module it has not loaded yet from
    the archives already on its path, and a newly added ``addPyFile``
    archive (a fresh importer)."""
    name = f"zip_probe_{tmp_path.name.replace('-', '_')}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 41 + 1\n")

    candidates = [
        "pyspark.mllib.fpm", "pyspark.ml.fpm", "pyspark.mllib.random",
        "pyspark.sql.avro.functions", "pyspark.sql.protobuf.functions",
    ]

    def patch(rows):
        skip_zip_rescan()
        import zipimport as zi

        yield zi.zipimporter.invalidate_caches.__name__

    def probe(rows):
        import importlib
        import sys
        import zipimport as zi

        skip_zip_rescan()
        fresh = next(c for c in candidates if c not in sys.modules)
        mod = importlib.import_module(fresh)
        probe_mod = importlib.import_module(name)
        yield (zi.zipimporter.invalidate_caches.__name__, fresh,
               mod.__file__, sys.modules["pyspark"].__file__, probe_mod.VALUE)

    sc = spark.sparkContext
    assert set(sc.parallelize(range(4), 4).mapPartitions(patch).collect()) == {
        "_keep_directory"
    }
    sc.addPyFile(str(archive))
    rows = sc.parallelize(range(4), 4).mapPartitions(probe).collect()
    for patched, fresh, path, pyspark_path, value in rows:
        assert patched == "_keep_directory"
        assert value == 42
        assert path and fresh.split(".")[-1] in path
        # where the worker runs pyspark from its zip, so is the fresh module
        assert (".zip" in path) == (".zip" in pyspark_path)


def test_driver_is_never_patched_by_a_fit(spark):
    import numpy as np

    from tsne_flink_spark.sources.readers import points_from_rows
    from tsne_flink_spark.tsne import TSNE

    original = zipimport.zipimporter.invalidate_caches
    rng = np.random.default_rng(4)
    df = points_from_rows(spark, [(i, rng.normal(0, 1, 4).tolist()) for i in range(30)])
    out = TSNE(perplexity=3.0, neighbors=6, iterations=2, random_state=0).fit(points=df)
    assert out.count() == 30
    skip_zip_rescan()  # outside a task: a no-op
    assert zipimport.zipimporter.invalidate_caches is original
    assert original is not worker._keep_directory
