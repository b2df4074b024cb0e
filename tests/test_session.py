"""The driver JVM's class-data archive: the launch plan, decided with no
JVM, and ``java`` runs showing that a garbage, missing or mismatched
archive starts quietly."""

import glob
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.find_spark_home import _find_spark_home

from osm_lib_spark import session
from osm_lib_spark.session import Launch, launch_conf, plan_launch

_CALLER = {"spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/x -XX:-UsePerfData"}


@pytest.fixture
def conf_dir(tmp_path, monkeypatch):
    """A Spark conf dir holding only a template, as a stock install's does."""
    conf = tmp_path / "spark-conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    return conf


@pytest.fixture
def cache(tmp_path, conf_dir):
    return str(tmp_path / "cache")


def _dead_pid() -> int:
    proc = subprocess.Popen([sys.executable, "-c", ""])
    proc.wait()
    return proc.pid


def _stem(launch: Launch) -> str:
    return launch.claim[: -len(".claim")]


def _write_archive(path: str, size: int = 8192) -> None:
    """The header of a finished archive: magic, version 11, one region
    of 4 KiB at offset 4 KiB; ``size`` bytes in all."""
    head = session._ARCHIVE_MAGIC + bytes(4) + (11).to_bytes(8, "little")
    head += session._REGION.pack(4096, 4096) + bytes(6 * session._REGION.size)
    with open(path, "wb") as f:
        f.write(head.ljust(size, b"\0"))


def test_no_archive_dumps_under_a_claim(cache):
    launch = plan_launch(cache)
    assert launch.java_options.startswith("-XX:ArchiveClassesAtExit=" + _stem(launch) + ".dump")
    assert session._QUIET_CDS in launch.java_options
    assert Path(launch.claim).read_text() == str(os.getpid())
    assert launch.conf_dir == os.path.join(cache, "conf") and os.listdir(launch.conf_dir) == []


def test_live_claim_gets_no_flags(cache):
    first = plan_launch(cache)
    session._hand_claim_to(first.claim, os.getpid())  # a JVM still dumping
    assert plan_launch(cache) == Launch()
    assert os.path.exists(first.claim)


def test_dead_claim_is_cleared(cache):
    first = plan_launch(cache)
    with open(_stem(first) + ".dump", "wb") as f:
        f.write(bytes(4096))  # its header never written
    session._hand_claim_to(first.claim, _dead_pid())
    again = plan_launch(cache)
    assert again.claim == first.claim and Path(again.claim).read_text() == str(os.getpid())
    assert not os.path.exists(_stem(first) + ".dump")


def test_finished_dump_is_promoted(cache):
    first = plan_launch(cache)
    stem = _stem(first)
    _write_archive(stem + ".dump")
    session._hand_claim_to(first.claim, _dead_pid())
    launch = plan_launch(cache)
    assert launch.java_options == f"-XX:SharedArchiveFile={stem}.jsa {session._QUIET_CDS}"
    assert launch.claim is None and launch.conf_dir == first.conf_dir
    assert sorted(os.listdir(cache)) == sorted(["conf", os.path.basename(stem) + ".jsa"])


def test_truncated_archive_is_replaced(cache):
    stem = _stem(plan_launch(cache))
    os.remove(stem + ".claim")
    _write_archive(stem + ".jsa", size=4096)  # its one region past the end
    launch = plan_launch(cache)
    assert launch.claim == stem + ".claim" and not os.path.exists(stem + ".jsa")


def test_other_keys_archives_are_deleted(cache):
    stem = _stem(plan_launch(cache))
    os.remove(stem + ".claim")
    other = os.path.join(cache, "0123456789abcdef")
    _write_archive(other + ".jsa")
    _write_archive(other + ".dump")
    plan_launch(cache)
    assert not os.path.exists(other + ".jsa") and not os.path.exists(other + ".dump")


def test_non_template_conf_dir_gets_no_flags(cache, conf_dir):
    (conf_dir / "spark-defaults.conf").write_text("spark.driver.memory 1g\n")
    launch = plan_launch(cache)
    assert launch == Launch() and not os.path.exists(cache)
    with session._conf_dir_env(launch.conf_dir):
        assert os.environ["SPARK_CONF_DIR"] == str(conf_dir)
    assert os.environ["SPARK_CONF_DIR"] == str(conf_dir)


def test_caller_java_options_kept(cache):
    launch = plan_launch(cache)
    conf = launch_conf(_CALLER, launch)
    assert conf["spark.driver.extraJavaOptions"] == (
        _CALLER["spark.driver.extraJavaOptions"] + " " + launch.java_options
    )
    assert launch_conf(_CALLER, Launch()) == _CALLER
    assert launch_conf(None, launch) == {"spark.driver.extraJavaOptions": launch.java_options}


def _java(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run([session.java_binary(), *args], capture_output=True, text=True, timeout=60)


@pytest.mark.parametrize("case", ["garbage", "missing", "mismatched"])
def test_bad_archive_starts_quietly(tmp_path, case):
    """The JVM starts without the archive and CDS writes nothing to
    stdout: with no ``-Xlog`` flag a mismatched archive warns there."""
    archive = str(tmp_path / "archive.jsa")
    classpath = []
    if case == "garbage":
        with open(archive, "w") as f:
            f.write("not an archive\n")
    elif case == "mismatched":
        # app classes archived from one classpath, mapped under another
        launcher = glob.glob(os.path.join(_find_spark_home(), "jars", "spark-launcher*.jar"))[0]
        dump = _java(f"-XX:ArchiveClassesAtExit={archive}", *session._QUIET_CDS.split(),
                     "-cp", launcher, "org.apache.spark.launcher.Main")
        assert dump.stdout == "" and session._is_archive(archive)
        other = tmp_path / "other.jar"
        other.write_bytes(Path(launcher).read_bytes())
        classpath = ["-cp", os.pathsep.join([str(other), launcher])]
    out = _java(f"-XX:SharedArchiveFile={archive}", *session._QUIET_CDS.split(), *classpath, "-version")
    assert out.returncode == 0, out.stderr
    assert out.stdout == ""
    assert "version" in out.stderr
