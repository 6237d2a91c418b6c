"""Cold start from the driver JVM's class-data archive
(``class_archive``): the first session records it, a later one maps it,
and a bad archive, a conf directory holding real files or a CLI run
never gets less than a launch without one: the session works, stdout
holds only the program's own output, and no process outlives the
Python one. Every session runs in a subprocess with its own
``XDG_CACHE_HOME``."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_NAME = "usda-food-data-pipeline-spark"

SESSION = textwrap.dedent(
    """
    import json
    from usda_food_data_pipeline_spark import class_archive
    from usda_food_data_pipeline_spark.session import get_spark
    spark = get_spark("cold-start-test")
    print(json.dumps({
        "count": spark.range(10).count(),
        "state": class_archive.state(spark),
        "conf_dir": spark._jvm.System.getenv("SPARK_CONF_DIR"),
        "marker": spark.conf.get("spark.cold.start.marker", None),
    }))
    """
)


def _env(cache, **extra) -> dict:
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_GRAFT_CPUS="2",
               SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=ROOT)
    env.update(extra)
    return env


def _run(args, env) -> subprocess.CompletedProcess:
    p = subprocess.run(args, cwd=ROOT, env=env, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    assert "][cds" not in p.stdout, p.stdout  # no JVM CDS log line
    return p


def _session(cache, **extra) -> dict:
    p = _run([sys.executable, "-c", SESSION], _env(cache, **extra))
    assert _processes_naming(cache) == []
    return json.loads(p.stdout)  # the whole of stdout is one JSON document


def _cli_query(cache, sf_dir, out) -> dict:
    args = [sys.executable, "-m", "usda_food_data_pipeline_spark", "query", "group_mean",
            "--sf-dir", sf_dir, "--output", str(out)]
    p = _run(args, _env(cache))
    assert _processes_naming(cache) == []
    return json.loads(p.stdout)


def _processes_naming(path) -> list[str]:
    """Command lines of the live processes that name ``path``: the
    driver JVM (its archive and class path) and the archive check."""
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if str(path) in cmd:
            found.append(cmd)
    return found


def _published(cache) -> tuple[str, str]:
    d = os.path.join(cache, CACHE_NAME)
    (archive,) = glob.glob(os.path.join(d, "driver-*.jsa"))
    assert not glob.glob(os.path.join(d, "*.tmp"))
    return archive, archive[: -len(".jsa")] + ".json"


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """A cache into which one session recorded the archive, and what
    that session printed."""
    cache = tmp_path_factory.mktemp("cold_start") / "cache"
    return cache, _session(cache)


def test_first_session_records_second_maps(recorded, tmp_path):
    """The first session records and publishes the archive; in the
    second the JVM itself reports classes loaded from the archive's top
    (dynamic) layer."""
    cache, first = recorded
    assert first["count"] == 10 and first["state"] == "recorded"
    archive, sidecar = _published(cache)
    with open(sidecar) as f:
        assert json.load(f)["size"] == os.path.getsize(archive)
    log = tmp_path / "classes-%p.log"
    got = _session(cache, JAVA_TOOL_OPTIONS=f"-Xlog:class+load=info:file={log}")
    assert got["count"] == 10 and got["state"] == "used"
    logs = "".join(open(p).read() for p in glob.glob(str(tmp_path / "classes-*.log")))
    assert "source: shared objects file (top)" in logs


def _other_class_path_archive(path) -> None:
    """A valid dynamic archive, recorded under another class path."""
    from pyspark.find_spark_home import _find_spark_home

    (launcher,) = glob.glob(os.path.join(_find_spark_home(), "jars", "spark-launcher*.jar"))
    subprocess.run(
        ["java", f"-XX:ArchiveClassesAtExit={path}", "-Xlog:cds*=off", "-cp", launcher,
         "org.apache.spark.launcher.Main"],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=120,
    )
    assert os.path.getsize(path) > 0


@pytest.mark.parametrize(
    "kind", ["truncated", "garbage", pytest.param("other_class_path", marks=pytest.mark.slow)]
)
def test_bad_archive_falls_back(recorded, tmp_path, kind):
    """A session starts and works with a bad archive at the published
    path, and prints no CDS line. A truncated one (the size differs from
    the published size) never reaches the JVM, and the session records
    a good one in its place."""
    good, good_sidecar = _published(recorded[0])
    cache = tmp_path / "cache"
    os.makedirs(cache / CACHE_NAME)
    archive = str(cache / CACHE_NAME / os.path.basename(good))
    sidecar = archive[: -len(".jsa")] + ".json"
    if kind == "truncated":
        with open(good, "rb") as src, open(archive, "wb") as dst:
            dst.write(src.read(1 << 20))
        with open(good_sidecar) as src, open(sidecar, "w") as dst:
            dst.write(src.read())
    else:
        if kind == "garbage":
            with open(archive, "wb") as f:
                f.write(os.urandom(1 << 20))
        else:
            _other_class_path_archive(archive)
        with open(sidecar, "w") as f:
            json.dump({"size": os.path.getsize(archive)}, f)

    got = _session(cache)
    assert got["count"] == 10
    if kind == "truncated":
        assert got["state"] == "recorded"
        _published(cache)
        with open(sidecar) as f:
            assert json.load(f)["size"] == os.path.getsize(archive) > 1 << 20
    else:
        assert got["state"] == "used"


def test_real_conf_dir_gets_no_redirect_and_no_archive(tmp_path):
    """A conf directory holding a real spark-defaults.conf stays the
    JVM's, its setting is honoured, and no archive is used or made."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.cold.start.marker honoured\n")
    got = _session(tmp_path / "cache", SPARK_CONF_DIR=str(conf))
    assert got == {"count": 10, "state": "off", "conf_dir": str(conf), "marker": "honoured"}
    assert not os.path.exists(tmp_path / "cache" / CACHE_NAME)


def test_temp_files_of_dead_processes_are_removed(tmp_path, monkeypatch):
    """A launch removes the temp files whose writing process is gone,
    and keeps a live process's."""
    from usda_food_data_pipeline_spark import class_archive

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    d = tmp_path / CACHE_NAME
    d.mkdir()
    gone = subprocess.Popen(["true"])
    gone.wait()
    (d / f"driver-0.jsa.{gone.pid}.tmp").touch()
    live = d / f"driver-0.jsa.{os.getpid()}.tmp"
    live.touch()
    assert class_archive._prepare("-Xmx1g").recording
    assert sorted(os.listdir(d)) == ["conf", live.name]


@pytest.mark.slow
def test_cli_query_prints_json(tmp_path, sf_dir):
    """A CLI query prints one JSON document on stdout both in the run
    that records the archive and in the run that maps it."""
    cache = tmp_path / "cache"
    assert _cli_query(cache, sf_dir, tmp_path / "first")["status"] == "ok"
    _published(cache)
    assert _cli_query(cache, sf_dir, tmp_path / "second")["status"] == "ok"
