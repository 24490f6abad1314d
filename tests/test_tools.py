"""The layered profiler (tools/profile.py) and the one session builder it
shares with the product."""

import ast
import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def profiles(spark, sf_dir):
    from cam_etl_spark.plans import QUERIES
    from tools.profile import measure

    names = ("graph_pagerank", "etl_end_to_end_counts")
    for n in names:  # the tool's warm-up pass
        QUERIES[n].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return {n: measure(spark, n, sf_dir, repeats=1) for n in names}


def test_profile_build_phase_jobs(profiles):
    assert profiles["graph_pagerank"]["build_jobs"] > 0
    etl = profiles["etl_end_to_end_counts"]
    assert etl["build_jobs"] == 0
    assert etl["exec_jobs"] >= 1


def test_profile_build_actions(profiles):
    """SQL executions started during build: pagerank's checkpoints and
    probes; the ETL counts build lazily."""
    assert profiles["graph_pagerank"]["build_actions"] == 4
    assert profiles["etl_end_to_end_counts"]["build_actions"] == 0


@pytest.mark.parametrize("name", ["graph_pagerank", "etl_end_to_end_counts"])
def test_profile_layers_stages_operators(spark, profiles, name):
    p = profiles[name]
    assert p["build_s"] + p["plan_s"] + p["exec_s"] == pytest.approx(p["wall_s"], abs=1e-9)
    assert p["counters"]["jobs"] == p["build_jobs"] + p["exec_jobs"]
    assert p["stages"] and p["operators"]
    # offsets are from the run start, not shifted by a time zone
    for s in p["stages"]:
        assert -0.01 <= s["submit_s"] <= s["complete_s"] <= p["wall_s"] + 0.01
    assert any(o["metrics"] for o in p["operators"])
    assert spark.sparkContext.uiWebUrl is None


def test_profile_budget_violations(spark, sf_dir, profiles, monkeypatch):
    """The record carries the query's plan-budget check: clean as
    registered, and the broken entry once the budget is tightened."""
    from cam_etl_spark.plans import QUERIES
    from tools.profile import measure

    name = "etl_end_to_end_counts"
    assert profiles[name]["budget_violations"] == []
    q = QUERIES[name]
    lo, hi = q.plan["Exchange hashpartitioning"]
    monkeypatch.setattr(q, "plan", {**q.plan, "Exchange hashpartitioning": (lo, hi - 1)})
    # a second measure of the query: its counters also hold the first's
    # jobs, but only the budget check is read here
    violations = measure(spark, name, sf_dir, repeats=1)["budget_violations"]
    assert violations == [
        f"{name}: 'Exchange hashpartitioning' occurs {hi}x, budget ({lo}, {hi - 1})"
    ]


def test_session_builder_only_in_session_module():
    """Every measured or tested session is the product's ``get_spark``."""
    builder = re.compile(r"SparkSession\s*\.\s*builder\b")
    found = []
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if not d.startswith(".") and d != "__pycache__"]
        for f in filenames:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    if builder.search(fh.read()):
                        found.append(os.path.relpath(path, ROOT))
    assert found == [os.path.join("cam_etl_spark", "session.py")]


def _package_sources():
    pkg = os.path.join(ROOT, "cam_etl_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for f in sorted(filenames):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, pkg), fh.read()


def test_fixture_mechanisms_defined_once():
    """Each catalog fixture mechanism has one definition: ``micro6``
    once, the scratch directory only in ``catalog.fixture_dir``, Delta
    ``add`` / Iceberg ``data_file`` dicts only in ``sources/``, the
    stream source and sinks only in ``streaming/transforms.py`` and the
    one-task-per-item frame only in ``catalog.task_per_item``."""
    micro6, tmp, actions, retyped = [], [], [], []
    harness = re.compile(
        r'mkdtemp|"maxFilesPerTrigger"|processingTime|time\.sleep\('
        r"|createDataFrame\(\s*\[\(r\.path,\)"
        r"|createDataFrame\((?:[^()]|\([^()]*\))*\)\s*\.repartition\(\s*len\("
    )
    for rel, text in _package_sources():
        micro6 += [rel] * len(re.findall(r"\bdef micro6\(", text))
        if rel.startswith("plans" + os.sep):
            for fn in ast.parse(text).body:
                n = ast.unparse(fn).count("tempfile.gettempdir()")
                tmp += [(rel, getattr(fn, "name", None))] * n
            retyped += [(rel, m.group()) for m in harness.finditer(text)]
        if not rel.startswith("sources" + os.sep) and re.search(
            r'"add": \{|"data_file": \{', text
        ):
            actions.append(rel)
    assert micro6 == [os.path.join("multimodal", "__init__.py")]
    assert tmp == [(os.path.join("plans", "catalog.py"), "fixture_dir")]
    assert actions == []
    assert retyped == []


def test_oracle_fragments_only_in_oracles():
    """An oracle shares no code with the Spark builder it checks: names
    from ``plans/oracle_sql.py`` appear only in ``register(...)``
    arguments and in the module-level oracle helpers those arguments
    use, never in a registered builder or another package module, and
    the fragment module imports nothing from the package."""
    mod = "cam_etl_spark.plans.oracle_sql"

    def is_register(node):
        return isinstance(node, ast.Call) and getattr(node.func, "id", None) == "register"

    leaks = []
    for rel, text in _package_sources():
        tree = ast.parse(text)
        if rel == os.path.join("plans", "oracle_sql.py"):
            leaks += [
                (rel, node.module)
                for node in ast.walk(tree)
                if isinstance(node, ast.ImportFrom) and "cam_etl_spark" in (node.module or "")
            ]
            leaks += [
                (rel, a.name)
                for node in ast.walk(tree)
                if isinstance(node, ast.Import)
                for a in node.names
                if "cam_etl_spark" in a.name
            ]
            continue
        imported = {
            a.asname or a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom) and node.module == mod
            for a in node.names
        }
        imported |= {
            a.asname or a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.Import)
            for a in node.names
            if a.name == mod
        }
        if not imported:
            continue
        if rel not in (os.path.join("plans", "extensions.py"), os.path.join("plans", "surface.py")):
            leaks.append((rel, "imports oracle_sql"))
            continue
        oracle_args = [
            arg for node in ast.walk(tree) if is_register(node) for arg in node.args[1:]
        ]
        helpers = {
            n.id for arg in oracle_args for n in ast.walk(arg) if isinstance(n, ast.Name)
        }
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(stmt, ast.FunctionDef) and stmt.name in helpers:
                continue
            if isinstance(stmt, ast.Assign) and any(
                getattr(t, "id", None) in helpers for t in stmt.targets
            ):
                continue
            if isinstance(stmt, ast.FunctionDef):
                allowed = [d for d in stmt.decorator_list if is_register(d)]
            else:
                allowed = []
            inside = {id(n) for d in allowed for n in ast.walk(d)}
            leaks += [
                (rel, getattr(stmt, "name", stmt.lineno), n.id)
                for n in ast.walk(stmt)
                if isinstance(n, ast.Name) and n.id in imported and id(n) not in inside
            ]
    assert leaks == []


@pytest.mark.parametrize(
    "tool", ["bench_scaling", "catalog_report", "check_correctness", "plan_dump", "plan_report"]
)
def test_tool_scripts_import_stdlib_profile(tool):
    """Run as a script, a tool's directory is sys.path[0]; PySpark's
    ``import cProfile`` must still find the standard library's
    ``profile``, not tools/profile.py (which made every such tool fail
    with a circular import of cam_etl_spark.plans)."""
    tools = os.path.join(ROOT, "tools")
    code = (
        "import runpy, sys\n"
        f"sys.path.insert(0, {tools!r})\n"
        f"runpy.run_path({os.path.join(tools, tool + '.py')!r}, run_name='tool')\n"
        "import cProfile, profile\n"
        f"assert not profile.__file__.startswith({tools!r}), profile.__file__\n"
    )
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True)
    assert proc.returncode == 0, proc.stderr[-2000:]


def test_check_correctness_names_a_lost_session(sf_dir):
    """When the Spark JVM dies mid-run the tool prints one SESSION LOST
    line with the exit code and the queries not run, and exits non-zero,
    instead of one connection-error FAIL per remaining query."""
    tools = os.path.join(ROOT, "tools")
    code = (
        "import runpy, sys, types\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from pyspark import SparkContext\n"
        "from cam_etl_spark.plans import QUERIES\n"
        "def kill(spark, sf):\n"
        "    proc = SparkContext._gateway.proc  # this process's own JVM only\n"
        "    proc.kill()\n"
        "    proc.wait()\n"
        "    return spark.range(1)\n"
        "def one(spark, sf):\n"
        "    return spark.range(1)\n"
        "for n, fn in (('stub_kill', kill), ('stub_a', one), ('stub_b', one)):\n"
        "    QUERIES[n] = types.SimpleNamespace(spark=fn, oracle=None)\n"
        "sys.argv = ['check_correctness.py', 'stub_a', 'stub_kill', 'stub_a', 'stub_b']\n"
        f"runpy.run_path({os.path.join(tools, 'check_correctness.py')!r}, run_name='__main__')\n"
    )
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g", SPARK_GRAFT_CPUS="2",
               SPARK_GRAFT_SF_DIR=sf_dir)
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                          env=env, timeout=600)
    lines = proc.stdout.splitlines()
    assert proc.returncode == 2, (proc.stdout[-2000:], proc.stderr[-2000:])
    assert lines[0].startswith("ROWS  stub_a: 1 rows"), lines
    assert lines[1:] == [
        "SESSION LOST at stub_kill (2 of 4): Spark JVM exited with code -9;"
        " 2 queries not run (0 pass, 0 fail before it)"
    ]


def test_worker_daemon_imports_pyspark_without_archives(tmp_path):
    """A driver started outside the checkout runs its Python tasks on the
    package's worker daemon, whose workers import nothing from a zip or
    jar."""
    code = (
        "import json, sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from cam_etl_spark.session import get_spark\n"
        "spark = get_spark('daemon_test', shuffle_partitions=2)\n"
        "def paths(batches):\n"
        "    import sys\n"
        "    import pandas as pd\n"
        "    for _ in batches:\n"
        "        pass\n"
        "    yield pd.DataFrame({'p': [json.dumps(sys.path)]})\n"
        "rows = spark.range(0, 2, 1, 2).mapInPandas(paths, 'p string').collect()\n"
        "print(json.dumps([spark.conf.get('spark.python.daemon.module')]"
        " + [json.loads(r.p) for r in rows]))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_DRIVER_MEMORY="1g", SPARK_GRAFT_CPUS="2")
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                          env=env, cwd=tmp_path, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    module, *worker_paths = json.loads(proc.stdout.splitlines()[-1])
    assert module == "cam_etl_spark.worker_daemon"
    assert len(worker_paths) == 2
    for path in worker_paths:
        assert ROOT in path
        # (the interpreter's own python3XX.zip entry names no file here)
        archives = [p for p in path if p.endswith((".zip", ".jar")) and os.path.exists(p)]
        assert not archives, path


def test_worker_daemon_keeps_archives_on_version_mismatch(tmp_path):
    import zipfile

    import pyspark

    from cam_etl_spark.worker_daemon import zip_free_path

    plain = [p for p in sys.path if not p.endswith((".zip", ".jar"))]
    jar = str(tmp_path / "spark-core.jar")

    def archive(version):
        path = tmp_path / version / "pyspark.zip"
        path.parent.mkdir()
        with zipfile.ZipFile(path, "w") as z:
            z.writestr("pyspark/version.py", f"__version__: str = {version!r}\n")
        return str(path)

    same = [archive(pyspark.__version__), jar] + plain
    assert zip_free_path(same) == plain
    other = [archive("0.0.0"), jar] + plain
    assert zip_free_path(other) == other
