"""spark-submit --py-files artifact: the zip must be importable on its own
(the executor-side condition) and carry every engine module."""

import os
import subprocess
import sys

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


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
