"""The shared session's settings that callers rely on."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import textwrap
import zipfile

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import Window
from pyspark.sql import functions as F

from nfdump2clickhouse_spark.session import PACKAGE_ROOT, codegen_compiles
from nfdump2clickhouse_spark.worker_daemon import filter_path


def test_cyclic_workload_compiles_once(spark):
    """A repeated set of queries whose generated classes outnumber Spark's
    default cache (100 entries) compiles nothing the second time round:
    each of the 60 queries makes 2 classes."""

    def run_all():
        for i in range(60):
            spark.range(0, 4, 1, 1).selectExpr(f"id * {i + 7} + {i}").collect()

    run_all()
    before = codegen_compiles(spark)
    run_all()
    assert codegen_compiles(spark) - before == 0


# --- the worker daemon's path filter -----------------------------------------


def _zip(path, files: dict[str, bytes]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return str(path)


@pytest.fixture
def importer_cache():
    """The filter looks pyspark up through the process's own importer
    cache; the entries it adds for the synthetic paths go afterwards."""
    before = set(sys.path_importer_cache)
    yield {}
    for key in set(sys.path_importer_cache) - before:
        del sys.path_importer_cache[key]


def test_daemon_drops_archives_without_python(tmp_path, importer_cache):
    jar = _zip(tmp_path / "core.jar", {"META-INF/MANIFEST.MF": b"", "org/A.class": b"\xca"})
    lib = _zip(tmp_path / "lib.zip", {"lib/__init__.py": b""})
    pyc = _zip(tmp_path / "compiled.zip", {"c/__init__.pyc": b""})
    plain, missing = str(tmp_path), str(tmp_path / "missing.zip")
    for key in (jar, jar + "/org", jar + "2", lib, lib + "/lib", plain):
        importer_cache[key] = object()
    assert filter_path([plain, jar, lib, pyc, missing], importer_cache) == [plain, lib, pyc, missing]
    assert sorted(importer_cache) == sorted([jar + "2", lib, lib + "/lib", plain])


@pytest.mark.parametrize(
    "installed, dropped",
    [(b"__version__ = '4.1.2'\n", True), (b"__version__ = '4.1.1'\n", False), (None, False)],
    ids=["same-version", "other-version", "not-installed"],
)
def test_daemon_drops_pyspark_zip_only_when_installed_matches(
    tmp_path, importer_cache, installed, dropped
):
    archive = _zip(
        tmp_path / "pyspark.zip",
        {"pyspark/__init__.py": b"", "pyspark/version.py": b"__version__ = '4.1.2'\n"},
    )
    site = tmp_path / "site"
    site.mkdir()
    if installed is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_bytes(b"")
        (site / "pyspark" / "version.py").write_bytes(installed)
    importer_cache[archive + "/pyspark"] = object()
    kept = filter_path([archive, str(site)], importer_cache)
    assert kept == ([str(site)] if dropped else [archive, str(site)])
    assert (archive + "/pyspark" in importer_cache) is not dropped


# --- the Python workers -------------------------------------------------------


def test_workers_import_nothing_from_spark_archives(spark):
    """A task's pyspark comes from its directory, and no archive without
    Python has an importer that each task's ``invalidate_caches`` re-reads."""

    def report(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        archives = sorted(
            {v.archive for v in list(sys.path_importer_cache.values()) if isinstance(v, zipimport.zipimporter)}
        )
        yield pd.DataFrame({"pyspark": [pyspark.__file__], "archives": [archives]})

    (row,) = spark.range(1, numPartitions=1).mapInPandas(report, "pyspark string, archives array<string>").collect()
    assert os.path.isfile(row.pyspark), row.pyspark
    for archive in row.archives:
        with zipfile.ZipFile(archive) as z:
            assert any(n.endswith((".py", ".pyc")) for n in z.namelist()), archive


def test_workers_import_the_package_from_a_foreign_directory(tmp_path):
    """A driver whose working directory and PYTHONPATH hold no checkout
    (the package is only on its own ``sys.path``) still runs a pandas UDF
    that imports the package."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {PACKAGE_ROOT!r})
        from pyspark.sql.functions import pandas_udf
        from nfdump2clickhouse_spark.session import get_spark

        spark = get_spark("foreign-cwd", master="local[1]")

        @pandas_udf("string")
        def version(s):
            import nfdump2clickhouse_spark
            return s.map(lambda _: nfdump2clickhouse_spark.__version__)

        print("VERSION", spark.range(1).select(version("id")).first()[0])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "512m"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert "VERSION 0.1.0" in out.stdout, out.stderr[-3000:]


# --- errors and the sessions the package builds -------------------------------


def test_runtime_errors_keep_their_condition(spark):
    """With DataFrame call-site capture off, an ANSI runtime error keeps
    its error class and loses only the DataFrame call-site fragment."""
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with pytest.raises(ArithmeticException) as err:
            spark.range(1).select(F.col("id") / F.lit(0)).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
    assert "== DataFrame ==" not in str(err.value)


def test_column_calls_look_up_no_jvm_class(spark, monkeypatch):
    """PySpark resolves some JVM classes by name on every Column and
    DataFrame call; the session's JVM view answers those without asking
    the JVM."""
    client = spark._jvm._gateway_client
    send, lookups = client.send_command, []

    def counting(command, *args, **kwargs):
        if command.startswith("r\nu\n"):  # py4j: reflection, unknown member
            lookups.append(command.split("\n")[2])
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    df = spark.range(3).select(F.col("id"), F.lit(1).alias("one"), F.array("id", F.lit(2)).alias("a"))
    df = df.withColumn("rank", F.row_number().over(Window.partitionBy("one").orderBy(F.col("id").desc())))
    df.where(F.col("rank") > 1).groupBy("one").agg(F.sum("id"))
    assert lookups == []


class _BuilderUses(ast.NodeVisitor):
    """The functions (None: module level) that read ``SparkSession.builder``."""

    def __init__(self):
        self.scope, self.found = None, set()

    def visit_FunctionDef(self, node):
        outer, self.scope = self.scope, node.name
        self.generic_visit(node)
        self.scope = outer

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Attribute(self, node):
        owner = node.value
        if node.attr == "builder" and "SparkSession" in (getattr(owner, "id", None), getattr(owner, "attr", None)):
            self.found.add(self.scope)
        self.generic_visit(node)


def test_only_get_spark_builds_sessions():
    """Every session of the product and of ``bench.py`` comes from
    ``session.get_spark``, so each gets its worker daemon, worker path and
    debugging flags."""
    files = [os.path.join(PACKAGE_ROOT, "bench.py")]
    for d, _, names in os.walk(os.path.join(PACKAGE_ROOT, "nfdump2clickhouse_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    users = set()
    for path in files:
        with open(path) as f:
            uses = _BuilderUses()
            uses.visit(ast.parse(f.read()))
        users |= {(os.path.relpath(path, PACKAGE_ROOT), scope) for scope in uses.found}
    assert users == {(os.path.join("nfdump2clickhouse_spark", "session.py"), "get_spark")}
