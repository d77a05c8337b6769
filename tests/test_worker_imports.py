"""Foreign-session regression: executor Python workers must import this
package even when the driver session was built elsewhere with a foreign cwd
(exactly how the external driver runs __spark_entry__.py)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import importlib.util
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", "%(repo)s/__spark_entry__.py")
mod = importlib.util.module_from_spec(spec); spec.loader.exec_module(mod)
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[2]").appName("wimp").getOrCreate()
# q_multimodal_decode runs a mapInPandas closure whose helper lives at
# module level -> workers MUST import the package (died with
# ModuleNotFoundError before the addPyFile shipping fix)
n = mod.queries()["q_multimodal_decode"](spark, "/root/testdata/sf0.001").count()
assert n == 500, n
print("WORKER_IMPORT_OK", n)
spark.stop()
"""


def test_vanilla_session_foreign_cwd_worker_imports():
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH",)  # nothing may leak the repo path
    }
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT % {"repo": REPO}],
        cwd="/tmp",
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "WORKER_IMPORT_OK 500" in out.stdout, (
        out.stdout[-2000:] + out.stderr[-2000:]
    )


def _checkout_files() -> dict[str, int]:
    out = {}
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if d not in (".git", "__pycache__")]
        for f in files:
            path = os.path.join(root, f)
            out[path] = os.stat(path).st_mtime_ns
    return out


def test_worker_imports_write_nothing_under_the_checkout(spark, monkeypatch):
    """Shipping the package builds its zip under the process's scratch
    root, outside the checkout, and leaves the checkout's files as they
    were."""
    from data_integration_spark.sources import catalog

    monkeypatch.setattr(catalog, "_PYFILE_SHIPPED", set())
    monkeypatch.setattr(catalog, "_PKG_ZIP", None)
    before = _checkout_files()
    catalog.ensure_worker_imports(spark)
    assert _checkout_files() == before
    zip_path = catalog._PKG_ZIP
    assert os.path.isfile(zip_path)
    assert not os.path.realpath(zip_path).startswith(os.path.realpath(REPO) + os.sep)


def test_query_index_is_current():
    """QUERIES.md must match the live registry (regenerate with
    tools/gen_query_index.py when adding queries)."""
    import re

    from data_integration_spark.queries import ORACLES, QUERIES, load_all

    load_all()
    text = open(os.path.join(REPO, "QUERIES.md")).read()
    m = re.search(r"\*\*(\d+) queries — (\d+) oracle-checked", text)
    assert m, "summary line missing from QUERIES.md"
    assert int(m.group(1)) == len(QUERIES), "QUERIES.md is stale: rerun tools/gen_query_index.py"
    assert int(m.group(2)) == len(ORACLES), "QUERIES.md is stale: rerun tools/gen_query_index.py"
    # every registered name appears in the index
    missing = [n for n in QUERIES if f"`{n}`" not in text]
    assert not missing, f"missing from QUERIES.md: {missing[:5]}"
