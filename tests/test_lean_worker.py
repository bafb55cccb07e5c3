"""The lean Python worker daemon (``extractor_spark/spark/lean_daemon.py``).

Both branches: on this session's workers pyspark comes from outside Spark's
archives and nothing keeps an archive in the import machinery; on a fake
``SPARK_HOME`` a version mismatch or a missing py4j leaves the import state
as it was, and a match removes Spark's archives only.  Nothing here times
anything.
"""

import json
import os
import pathlib
import subprocess
import sys
import types
import zipfile

import pytest

from extractor_spark.spark.lean_daemon import lean_import_state

REPO = pathlib.Path(__file__).resolve().parent.parent


def _archived(path: str) -> bool:
    """True when ``path`` names a file inside an archive: its nearest
    existing ancestor is a regular file."""
    while path and not os.path.exists(path):
        parent = os.path.dirname(path)
        if parent == path:
            return False
        path = parent
    return os.path.isfile(path) and (path.endswith(".zip") or path.endswith(".jar"))


def _worker_import_state(batches):
    import sys
    import zipimport

    import pandas as pd
    import pyspark

    for _ in batches:
        pass
    zipimporters = [
        key
        for key, finder in sys.path_importer_cache.items()
        if isinstance(finder, zipimport.zipimporter)
    ]
    modules = {
        name: [p for p in (getattr(m, "__path__", None) or ()) if isinstance(p, str)]
        for name, m in list(sys.modules.items())
    }
    state = {"pyspark": pyspark.__file__, "zipimporters": zipimporters, "modules": modules}
    yield pd.DataFrame({"state": [json.dumps(state)]})


def test_worker_imports_pyspark_outside_archives(spark):
    home = os.environ.get("SPARK_HOME", "")
    if not lean_import_state(home, list(sys.path), {}, {}):
        pytest.skip("Spark's shipped pyspark/py4j differ from the importable ones: "
                    "workers keep the stock state")
    spark_home = os.path.realpath(home) + os.sep
    frame = spark.range(2, numPartitions=2).mapInPandas(_worker_import_state, "state string")
    rows = frame.collect()
    assert len(rows) == 2
    for row in rows:
        state = json.loads(row.state)
        assert os.path.isfile(state["pyspark"]) and not _archived(state["pyspark"]), state["pyspark"]
        zipimporters = [k for k in state["zipimporters"] if os.path.realpath(k).startswith(spark_home)]
        assert zipimporters == []
        archived = sorted(n for n, paths in state["modules"].items() if any(map(_archived, paths)))
        assert archived == []


def _zip(path: pathlib.Path, members: dict) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, text in members.items():
            z.writestr(name, text)
    return str(path)


def _package(root: pathlib.Path, name: str, version: str) -> None:
    (root / name).mkdir(parents=True)
    (root / name / "__init__.py").write_text("")
    (root / name / "version.py").write_text(f"__version__: str = '{version}'\n")


@pytest.fixture
def fake_spark(tmp_path):
    """A SPARK_HOME reached through a symlink, shipping pyspark 9.9.9 and
    py4j 0.1.2 in zips plus a core jar, and the import state a stock worker
    has over it: sys.path, runpy's cached importers, and the namespace
    package ``org`` over the jar."""
    real = tmp_path / "spark-9.9.9-bin"
    home = tmp_path / "spark"
    lib, jars = home / "python" / "lib", real / "jars"
    _zip(real / "python" / "lib" / "pyspark.zip", {
        "pyspark/__init__.py": "", "pyspark/version.py": "__version__: str = '9.9.9'\n"})
    _zip(real / "python" / "lib" / "py4j-0.1.2-src.zip", {
        "py4j/__init__.py": "", "py4j/version.py": "__version__ = '0.1.2'\n"})
    jar = _zip(jars / "spark-core_2.13-9.9.9.jar", {"org/apache/spark/SparkContext.class": "x"})
    home.symlink_to(real)
    user_zip = _zip(tmp_path / "user" / "deps.zip", {"deps/__init__.py": ""})
    stdlib_zip = str(tmp_path / "py" / "lib" / "python311.zip")  # absent, as usual
    site = tmp_path / "site"
    _package(site, "pyspark", "9.9.9")
    _package(site, "py4j", "0.1.2")
    spark_entries = [str(lib / "pyspark.zip"), str(lib / "py4j-0.1.2-src.zip"), jar]
    path = [str(tmp_path / "cwd"), *spark_entries, user_zip, stdlib_zip, str(site)]
    cache = {entry: object() for entry in path}
    cache[stdlib_zip] = None
    cache[jar + "/org"] = object()
    cache[str(lib / "pyspark.zip") + "/pyspark"] = object()
    org = types.ModuleType("org")
    org.__path__ = [jar + "/org"]
    deps = types.ModuleType("deps")
    deps.__path__ = [user_zip + "/deps"]
    modules = {"json": json, "org": org, "deps": deps}
    return types.SimpleNamespace(
        home=str(home), site=site, path=path, cache=cache, modules=modules,
        kept=[str(tmp_path / "cwd"), user_zip, stdlib_zip, str(site)],
    )


def test_matching_versions_remove_only_sparks_archives(fake_spark):
    f = fake_spark
    assert lean_import_state(f.home, f.path, f.cache, f.modules)
    assert f.path == f.kept
    assert sorted(f.cache) == sorted(f.kept)
    assert sorted(f.modules) == ["deps", "json"]


@pytest.mark.parametrize("case", ["pyspark_version", "py4j_version", "no_py4j", "pyspark_imported"])
def test_mismatch_leaves_import_state_unchanged(fake_spark, case):
    f = fake_spark
    if case == "pyspark_version":
        (f.site / "pyspark" / "version.py").write_text("__version__: str = '9.9.8'\n")
    elif case == "py4j_version":
        (f.site / "py4j" / "version.py").write_text("__version__ = '0.1.3'\n")
    elif case == "no_py4j":
        (f.site / "py4j" / "__init__.py").unlink()
    else:
        f.modules["pyspark"] = types.ModuleType("pyspark")
    before = (list(f.path), dict(f.cache), dict(f.modules))
    assert not lean_import_state(f.home, f.path, f.cache, f.modules)
    assert (f.path, f.cache, f.modules) == before


def test_package_import_leaves_pyspark_unimported():
    # ``-m extractor_spark.spark.lean_daemon`` imports both packages before
    # the daemon can strip the path, so neither may import pyspark
    code = (
        "import sys, extractor_spark.spark.lean_daemon; "
        "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, check=True, capture_output=True, text=True
    ).stdout
    assert out.strip() == "[]"
