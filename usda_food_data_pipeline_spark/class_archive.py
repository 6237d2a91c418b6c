"""The driver JVM's class-data archive (the JDK's dynamic AppCDS).

A fresh driver JVM spends seconds loading, parsing and verifying the
classes Spark needs from ``$SPARK_HOME/jars``. The first session
:func:`~.session.get_spark` launches records them: the JVM runs with
``-XX:ArchiveClassesAtExit`` and writes the archive as it exits, and
the exit hook waits for it, checks it and publishes it. Every later
launch with the same JDK, jars and driver JVM options maps it with
``-XX:SharedArchiveFile``. The archive lives in
``${XDG_CACHE_HOME:-~/.cache}/usda-food-data-pipeline-spark/``;
deleting that directory makes the next session record afresh.

Only a complete archive that ``java -Xshare:on`` accepted reaches the
JVM: a truncated one kills it at start, and one it cannot use turns
off the JDK's base archive too. Anything that goes wrong (an
unwritable cache, a failed dump or check, a conf directory holding
real files) leaves the launch without an archive.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import json
import os
import shlex
import shutil
import subprocess

from pyspark.sql import SparkSession

# CDS warnings go to the JVM's stdout, which is the CLI's stdout
_QUIET = "-Xlog:cds*=off"
# seconds to wait for the JVM to write the archive and exit, and for
# the check of the archive
_EXIT_TIMEOUT_S = 120
_CHECK_TIMEOUT_S = 60


class _Launch:
    """Where one launch's archive is read from or recorded to."""

    def __init__(self, cache: str, key: str, jvm_opts: str) -> None:
        self.conf_dir = os.path.join(cache, "conf")
        self.archive = os.path.join(cache, f"driver-{key}.jsa")
        self.sidecar = os.path.join(cache, f"driver-{key}.json")
        self.tmp = f"{self.archive}.{os.getpid()}.tmp"
        self.jvm_opts = jvm_opts
        self.recording = not self._published()

    def _published(self) -> bool:
        """The archive is in place and as long as when it was published
        (a shorter one crashes the JVM)."""
        try:
            with open(self.sidecar, encoding="utf-8") as f:
                size = json.load(f)["size"]
            return os.path.getsize(self.archive) == size
        except (OSError, ValueError, KeyError, TypeError):
            return False

    @property
    def flags(self) -> str:
        opt = "ArchiveClassesAtExit" if self.recording else "SharedArchiveFile"
        path = self.tmp if self.recording else self.archive
        return f"{shlex.quote(f'-XX:{opt}={path}')} {_QUIET}"

    def publish(self, java: str, class_path: str) -> None:
        """Move the recorded archive into place if a plain JVM with the
        session's class path and options maps it; drop it otherwise."""
        side_tmp = f"{self.sidecar}.{os.getpid()}.tmp"
        try:
            check = subprocess.run(
                [java, "-Xshare:on", f"-XX:SharedArchiveFile={self.tmp}", _QUIET,
                 *shlex.split(self.jvm_opts), "-cp", class_path, "-version"],
                stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL, timeout=_CHECK_TIMEOUT_S,
            )
            if check.returncode == 0:
                size = os.path.getsize(self.tmp)
                # running JVMs map the published file: replace, never rewrite
                os.replace(self.tmp, self.archive)
                with open(side_tmp, "w", encoding="utf-8") as f:
                    json.dump({"size": size}, f)
                os.replace(side_tmp, self.sidecar)
        except (OSError, subprocess.SubprocessError):
            pass
        finally:
            for path in (self.tmp, side_tmp):
                with contextlib.suppress(OSError):
                    os.remove(path)


def get_or_create(builder: SparkSession.Builder, memory: str, java_opts: str) -> SparkSession:
    """``builder.getOrCreate()`` with ``java_opts`` as the driver's
    extra JVM options, plus the archive's flags when this call launches
    the driver JVM; ``memory`` is the driver's heap size."""
    from pyspark import SparkContext

    launch = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        launch = _prepare(f"-Xmx{memory} {java_opts}")
    if launch is None:
        return builder.config("spark.driver.extraJavaOptions", java_opts).getOrCreate()
    builder.config("spark.driver.extraJavaOptions", f"{java_opts} {launch.flags}")
    # the dump refuses a non-empty directory on the class path, and the
    # launcher puts the conf directory there: launch with an empty one
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    system = spark._jvm.System
    java = os.path.join(system.getProperty("java.home"), "bin", "java")
    atexit.register(_at_exit, launch, SparkContext._gateway, java,
                    system.getProperty("java.class.path"))
    return spark


def state(spark: SparkSession) -> str:
    """What the session's JVM was launched with: ``used`` (an
    archive), ``recorded`` (recording one) or ``off``."""
    args = " ".join(
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    )
    if "-XX:SharedArchiveFile=" in args:
        return "used"
    return "recorded" if "-XX:ArchiveClassesAtExit=" in args else "off"


def _prepare(jvm_opts: str) -> _Launch | None:
    """The launch's archive paths, or None when no archive applies."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    # never hide a user's conf files, nor any other class path entry
    conf_files = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
    if any(not n.endswith(".template") for n in conf_files) or any(
        os.environ.get(v)
        for v in ("SPARK_CLASSPATH", "SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")
    ):
        return None
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "usda-food-data-pipeline-spark",
    )
    try:
        launch = _Launch(cache, _key(spark_home, jvm_opts), jvm_opts)
        os.makedirs(launch.conf_dir, exist_ok=True)
        _remove_dead_tmp(cache)
        if os.listdir(launch.conf_dir):
            return None
        if launch.recording:  # the JVM must be able to write its dump
            open(launch.tmp, "wb").close()
            os.remove(launch.tmp)
        return launch
    except (OSError, TypeError):  # TypeError: no java on the PATH
        return None


def _key(spark_home: str, jvm_opts: str) -> str:
    """The archive's key: the JDK the launcher runs, the jars on the
    class path (names and sizes) and the driver's own JVM options. No
    per-run value (app name, temp dirs) may enter it."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    h = hashlib.sha256(f"{java_home}\n{jvm_opts}\n".encode())
    with open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    with os.scandir(os.path.join(spark_home, "jars")) as it:
        for e in sorted(it, key=lambda e: e.name):
            h.update(f"{e.name} {e.stat().st_size}\n".encode())
    return h.hexdigest()[:16]


def _remove_dead_tmp(cache: str) -> None:
    """Remove temp files whose writing process is gone."""
    for path in glob.glob(os.path.join(cache, "*.tmp")):
        try:
            pid = int(path.rsplit(".", 2)[-2])
            os.kill(pid, 0)
        except ProcessLookupError:
            with contextlib.suppress(OSError):  # another session got it first
                os.remove(path)
        except (ValueError, PermissionError):
            pass


def _at_exit(launch: _Launch, gateway, java: str, class_path: str) -> None:
    """Stop the gateway JVM (unless the caller already has) and wait
    for it, so that no process outlives this one; publish what a
    recording JVM wrote as it exited."""
    proc = gateway.proc
    if proc.poll() is None:
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        try:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            gateway.shutdown()
        except (Py4JError, OSError):  # the JVM still exits below
            pass
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=_EXIT_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if launch.recording and os.path.exists(launch.tmp):
        launch.publish(java, class_path)
