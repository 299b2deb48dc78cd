"""spark-submit --py-files artifact: the zip must be importable on its own
(the executor-side condition) and carry every engine module; the engine's
modules import nothing from the curation code beside it."""

import ast
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")


def test_pyfiles_zip_imports_standalone(tmp_path):
    sys.path.insert(0, TOOLS)
    from package import build_zip

    out = str(tmp_path / "airbyte_spark.zip")
    names = build_zip(out)
    assert "airbyte_spark/lake/table.py" in names
    assert "airbyte_spark/streaming/runner.py" in names
    assert len(names) >= 25

    # import the package from the zip alone, in a clean interpreter with
    # the repo NOT on sys.path — exactly what an executor sees
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import airbyte_spark.lake, airbyte_spark.streaming, "
        "airbyte_spark.sources, airbyte_spark.ops, airbyte_spark.job; "
        "print('zip-import-ok')" % out
    )
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd=str(tmp_path)
    )
    assert r.returncode == 0, r.stderr
    assert "zip-import-ok" in r.stdout


def _imported_modules(path: str, module: str) -> list[str]:
    """Absolute names of every module ``path`` (named ``module``) imports,
    relative imports resolved; a from-import also yields each
    ``<module>.<name>``, since the name may be a submodule."""
    with open(path) as f:
        tree = ast.parse(f.read())
    is_pkg = os.path.basename(path) == "__init__.py"
    package = module if is_pkg else module.rpartition(".")[0]
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            anchor = package.rsplit(".", node.level - 1)[0] if node.level else ""
            base = ".".join(filter(None, [anchor, node.module]))
            out += [base] + [f"{base}.{a.name}" for a in node.names]
    return out


def test_cdc_engine_imports_no_curation_code():
    """The CDC engine (airbyte_spark/ minus ops/ and curate.py, plus the
    driver contract and bench.py) imports nothing from ops/ or curate.py,
    so taking those out is a pure deletion. The reverse edge
    (ops/curation.py importing job.py) is allowed."""
    pkg = os.path.join(ROOT, "airbyte_spark")
    engine = {
        "__spark_entry__": os.path.join(ROOT, "__spark_entry__.py"),
        "bench": os.path.join(ROOT, "bench.py"),
    }
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = [d for d in dirnames if d not in ("ops", "__pycache__")]
        for fn in filenames:
            path = os.path.join(dirpath, fn)
            if not fn.endswith(".py") or path == os.path.join(pkg, "curate.py"):
                continue
            rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
            engine[".".join(rel[:-1] if rel[-1] == "__init__" else rel)] = path
    assert "airbyte_spark.lake.table" in engine and len(engine) >= 25
    banned = ("airbyte_spark.ops", "airbyte_spark.curate")
    hits = [
        f"{module} imports {name}"
        for module, path in sorted(engine.items())
        for name in _imported_modules(path, module)
        if any(name == b or name.startswith(b + ".") for b in banned)
    ]
    assert not hits, hits
