"""Worker daemon entry point (worker_daemon.py): Spark's zip/jar archives
leave the Python worker's sys.path only when a matching directory install
of pyspark and py4j can replace them."""

import os
import types
import zipfile

import pyarrow as pa

from tesseract_rs_spark import session
from tesseract_rs_spark.worker_daemon import strip_spark_archives


def _write(path, text=""):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def _layout(tmp_path, installed_pyspark="4.1.2", installed_py4j="0.10.9.9"):
    """Spark's archives, a stdlib zip and (optionally) a site directory with
    pyspark and py4j, laid out in the order the JVM builds the path."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    archives = {
        "pyspark.zip": {"pyspark/__init__.py": "", "pyspark/version.py": "__version__: str = '4.1.2'\n"},
        "py4j-0.10.9.9-src.zip": {"py4j/__init__.py": "", "py4j/version.py": "__version__ = '0.10.9.9'\n"},
    }
    for name, members in archives.items():
        with zipfile.ZipFile(lib / name, "w") as zf:
            for member, text in members.items():
                zf.writestr(member, text)
    jar = tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar"
    jar.parent.mkdir(parents=True)
    with zipfile.ZipFile(jar, "w") as zf:
        zf.writestr("org/apache/Spark.class", b"")
    stdlib_zip = tmp_path / "python311.zip"
    with zipfile.ZipFile(stdlib_zip, "w") as zf:
        zf.writestr("abc_stdlib.py", "")
    site = tmp_path / "site-packages"
    site.mkdir()
    for pkg, version in (("pyspark", installed_pyspark), ("py4j", installed_py4j)):
        if version is not None:
            _write(str(site / pkg / "__init__.py"))
            _write(str(site / pkg / "version.py"), f"__version__ = '{version}'\n")
    spark_entries = [str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip"), str(jar)]
    path = [str(tmp_path / "cwd"), *spark_entries, str(stdlib_zip), str(site)]
    return path, spark_entries


def _cache(path):
    cache = {p: object() for p in path}
    cache[path[1] + os.sep + "pyspark"] = object()
    cache[path[3] + os.sep + "org"] = object()
    return cache


def test_archives_dropped_when_directory_install_matches(tmp_path):
    path, spark_entries = _layout(tmp_path)
    kept = [p for p in path if p not in spark_entries]
    cache = _cache(path)
    assert strip_spark_archives(path, cache, {})
    assert path == kept
    assert str(tmp_path / "python311.zip") in path  # the stdlib zip stays
    assert set(cache) == set(kept)


def test_path_unchanged_without_matching_install(tmp_path):
    for i, versions in enumerate(
        [
            {"installed_pyspark": None},
            {"installed_py4j": None},
            {"installed_pyspark": "4.0.0"},
            {"installed_py4j": "0.10.9.7"},
        ]
    ):
        path, _ = _layout(tmp_path / str(i), **versions)
        before, cache = list(path), _cache(path)
        cache_before = dict(cache)
        assert not strip_spark_archives(path, cache, {})
        assert path == before
        assert cache == cache_before


def test_archive_only_namespace_package_is_removed(tmp_path):
    path, spark_entries = _layout(tmp_path)
    jar = spark_entries[2]
    # what copy/pickle's Jython probe leaves behind: `org` found only in the jar
    org = types.ModuleType("org")
    org.__path__ = [jar + os.sep + "org"]
    # a namespace package that also has a directory portion stays
    mixed = types.ModuleType("mixed")
    mixed.__path__ = [jar + os.sep + "mixed", str(tmp_path / "site-packages" / "mixed")]
    regular = types.ModuleType("regular")
    regular.__file__ = str(tmp_path / "regular.py")
    modules = {"org": org, "mixed": mixed, "regular": regular}
    assert strip_spark_archives(path, {}, modules)
    assert set(modules) == {"mixed", "regular"}


def test_daemon_conf_needs_a_visible_package_directory(tmp_path, monkeypatch):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.setattr(session.site, "getsitepackages", lambda: [])
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(tmp_path)
    assert session._worker_daemon_conf() == {}
    monkeypatch.setenv("PYTHONPATH", repo)
    assert session._worker_daemon_conf() == {
        "spark.python.daemon.module": session.WORKER_DAEMON
    }


def test_workers_import_pyspark_from_a_directory(spark):
    # nested, so cloudpickle ships it by value (workers cannot import tests)
    def worker_imports(batches):
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            pass
        zips = [
            key
            for key, importer in sys.path_importer_cache.items()
            if isinstance(importer, zipimport.zipimporter)
        ]
        yield pa.RecordBatch.from_pydict({"pyspark_file": [pyspark.__file__], "zips": [zips]})

    assert spark.conf.get("spark.python.daemon.module") == session.WORKER_DAEMON
    rows = (
        spark.range(64, numPartitions=2)
        .mapInArrow(worker_imports, "pyspark_file string, zips array<string>")
        .collect()
    )
    assert len(rows) == 2
    for row in rows:
        assert os.path.isfile(row.pyspark_file), row.pyspark_file
        assert not [z for z in row.zips if "pyspark.zip" in z or "py4j-" in z or ".jar" in z], row.zips
