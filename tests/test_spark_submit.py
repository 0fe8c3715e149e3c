"""North-rule invocation smoke: the pipeline must run via
`spark-submit --py-files <pkg.zip> causalre_spark/main.py` — the exact
cluster submission shape (package shipped as a zip on PYTHONPATH, not
an installed library). Asserts the run emits its summary JSON, writes
stage tables + the per-partition lineage metrics table, and that a
--resume rerun completes (markers honored).
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str | None:
    exe = shutil.which("spark-submit")
    if exe:
        return exe
    # pip-installed pyspark ships the launcher next to the package
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    return cand if os.path.exists(cand) else None


def _submit_setup(tmp_path):
    """(spark-submit launcher, package zip, env without PYTHONPATH)."""
    submit = _spark_submit()
    if submit is None:  # pragma: no cover
        pytest.skip("spark-submit launcher not available")
    zip_path = shutil.make_archive(str(tmp_path / "causalre_spark_pkg"), "zip",
                                   root_dir=REPO, base_dir="causalre_spark")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip alone must satisfy imports
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return submit, zip_path, env


def test_spark_submit_py_files_end_to_end(tmp_path):
    submit, zip_path, env = _submit_setup(tmp_path)
    out = str(tmp_path / "kg_run")
    cmd = [submit, "--master", "local[4]",
           "--conf", "spark.sql.shuffle.partitions=4",
           "--conf", "spark.driver.memory=3g",
           "--py-files", zip_path,
           os.path.join(REPO, "causalre_spark", "main.py"),
           "--synthetic", "40", "--out", out]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                       cwd=str(tmp_path), env=env)
    assert r.returncode == 0, r.stderr[-4000:]
    summary = json.loads(
        [ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1])
    assert summary["triples"] >= 0 and summary["workdir"] == out
    # the submit-provided master must win over get_spark's local default
    assert summary["master"] == "local[4]", summary

    # stage tables + lineage metrics landed in the workdir
    produced = set(os.listdir(out))
    assert "_metrics" in produced, produced
    assert any(s in produced for s in ("docs", "triples")), produced

    # --resume rerun completes and reports the same triple count
    r2 = subprocess.run(cmd + ["--resume"], capture_output=True, text=True,
                        timeout=600, cwd=str(tmp_path), env=env)
    assert r2.returncode == 0, r2.stderr[-4000:]
    summary2 = json.loads(
        [ln for ln in r2.stdout.splitlines() if ln.startswith("{")][-1])
    assert summary2["triples"] == summary["triples"]


PROBE = """
import json
from causalre_spark.session import get_spark

spark = get_spark(app="java_opts_probe", cores=2)
conf = spark.sparkContext.getConf()
print(json.dumps({
    "driver": conf.get("spark.driver.extraJavaOptions", ""),
    "executor": conf.get("spark.executor.extraJavaOptions", ""),
    "probe_prop": spark._jvm.java.lang.System.getProperty("sparkcre.probe"),
}))
"""


def test_spark_submit_keeps_submitted_java_options(tmp_path):
    """get_spark appends its JIT flag to the java options a submit
    already configured instead of replacing them."""
    submit, zip_path, env = _submit_setup(tmp_path)
    probe = tmp_path / "probe.py"
    probe.write_text(PROBE)
    cmd = [submit, "--master", "local[2]",
           "--conf", "spark.driver.memory=1g",
           "--conf", "spark.driver.extraJavaOptions=-Dsparkcre.probe=1",
           "--conf", "spark.executor.extraJavaOptions=-Dcausalre.exec=1",
           "--py-files", zip_path, str(probe)]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=300,
                       cwd=str(tmp_path), env=env)
    assert r.returncode == 0, r.stderr[-4000:]
    got = json.loads(
        [ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1])
    assert got["probe_prop"] == "1"  # the submitted option reached the JVM
    driver, executor = got["driver"].split(), got["executor"].split()
    assert {"-Dsparkcre.probe=1", "-XX:-DontCompileHugeMethods"} <= set(driver), got
    assert {"-Dcausalre.exec=1", "-XX:-DontCompileHugeMethods"} <= set(executor), got


def test_session_defaults_sized_from_the_host(monkeypatch):
    """A session nobody sized takes the host's cores and an eighth of
    its RAM, never more driver memory than the host has; the env vars
    still win. Starts no JVM."""
    from causalre_spark.session import default_sizing

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "5g")
    assert default_sizing() == (3, "5g")

    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.delenv("SPARK_DRIVER_MEM")
    cores, mem = default_sizing()
    assert cores == len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh
                        if line.startswith("MemTotal:"))
    assert mem.endswith("m") and 1024 <= int(mem[:-1]) <= 8192
    assert int(mem[:-1]) * 1024 <= total_kb
