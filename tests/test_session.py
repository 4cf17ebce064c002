"""The driver JVM's class-data-sharing archive (session.py), without a Spark
session: keying, promotion of a dumped ``.part``, the cases that turn the
archive off, and the launch environment."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from pgosm_flex_spark.session import (
    JAVA_OPTIONS,
    ClassArchive,
    archive_key,
    java_home,
    launch_env,
    merged_conf,
    plan_class_archive,
    settle_archives,
)

JAVA = os.path.join(java_home() or "", "bin", "java")


@pytest.fixture(autouse=True)
def cache(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "SPARK_CONF_DIR",
                "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(var, raising=False)
    return tmp_path / "cache" / "pgosm-flex-spark" / "cds"


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """One real archive, recorded by a ``java -version`` run at its exit."""
    d = tmp_path_factory.mktemp("dump")
    (d / "cp").mkdir()
    part = d / "a.part"
    subprocess.run([JAVA, f"-XX:ArchiveClassesAtExit={part}", "-Xlog:cds*=off", "-cp", str(d / "cp"),
                    "-version"], check=True, capture_output=True, timeout=120)
    return part.read_bytes(), {"classpath": str(d / "cp"), "modules": []}


def exited_pid() -> int:
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait()
    return p.pid


def put_part(directory, stem: str, data: bytes, writer: dict) -> tuple[str, str]:
    directory.mkdir(parents=True, exist_ok=True)
    part, meta = directory / f"{stem}.part", directory / f"{stem}.json"
    part.write_bytes(data)
    meta.write_text(json.dumps(writer))
    return str(part), str(meta)


def test_key_follows_jdk_release_and_jar_size_and_mtime(tmp_path):
    jdk, jar = tmp_path / "jdk", tmp_path / "a.jar"
    jdk.mkdir()
    (jdk / "release").write_text('JAVA_VERSION="17.0.1"\n')
    jar.write_bytes(b"x" * 10)
    keys = [archive_key(str(jdk), [str(jar)])]
    assert archive_key(str(jdk), [str(jar)]) == keys[0]
    jar.write_bytes(b"y" * 11)
    os.utime(jar, ns=(0, 10**18))
    keys.append(archive_key(str(jdk), [str(jar)]))
    os.utime(jar, ns=(0, 10**18 + 1))
    keys.append(archive_key(str(jdk), [str(jar)]))
    (jdk / "release").write_text('JAVA_VERSION="17.0.2"\n')
    keys.append(archive_key(str(jdk), [str(jar)]))
    assert len(set(keys)) == 4


def test_whole_part_is_promoted_truncated_part_deleted(tmp_path, dumped):
    data, writer = dumped
    d = tmp_path / "cds"
    # a dumping JVM killed mid-write leaves a short file; mapping one
    # crashes the JVM, so the probe must refuse it
    put_part(d, "k.trunc", data[: len(data) // 2], {**writer, "pid": exited_pid()})
    put_part(d, "k.unknown", data, {"pid": "?"})  # no writer record: never promoted
    assert not settle_archives(str(d), "k", JAVA)
    assert sorted(os.listdir(d)) == []
    put_part(d, "k.whole", data, {**writer, "pid": exited_pid()})
    put_part(d, "k.second", data, {**writer, "pid": exited_pid()})
    (d / "other.jsa").write_bytes(data)
    assert not settle_archives(str(d), "k", JAVA)
    assert sorted(os.listdir(d)) == ["k.jsa"]
    assert (d / "k.jsa").read_bytes() == data


def test_part_of_live_writer_is_promoted_and_mapped_only_after_it_exits(cache, dumped):
    first = plan_class_archive({})
    assert first.state == "dumping", first
    key = os.path.basename(first.part).split(".")[0]
    part = str(cache / f"{key}.live.part")
    writer = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(120)", part])
    try:
        put_part(cache, f"{key}.live", dumped[0], {**dumped[1], "pid": writer.pid})
        assert plan_class_archive({}) == ClassArchive("off:busy")
        assert os.path.exists(part) and not os.path.exists(cache / f"{key}.jsa")
    finally:
        writer.kill()
        writer.wait(timeout=30)
    # the writer has exited: the probe maps its archive, which is promoted
    mapped = plan_class_archive({})
    assert mapped.state == "mapped" and f"{key}.jsa" in mapped.java_options
    assert set(os.listdir(cache)) == {"conf", f"{key}.jsa"}


@pytest.mark.parametrize("name,off", [("spark-defaults.conf", True), ("spark-env.sh.template", False)])
def test_conf_dir_with_a_non_template_file_turns_archive_off(tmp_path, monkeypatch, name, off):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / name).write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    archive = plan_class_archive({})
    if off:
        assert archive == ClassArchive("off:conf-dir")
    else:
        assert archive.state == "dumping" and archive.conf_dir != str(conf)


@pytest.mark.parametrize("case,state", [
    ("hadoop", "off:hadoop-conf"),
    ("classpath", "off:classpath"),
    ("gateway", "off:jvm-running"),
    ("unwritable", "off:cache"),
])
def test_archive_off_leaves_the_launch_as_it_was(tmp_path, monkeypatch, case, state):
    if case == "hadoop":
        monkeypatch.setenv("HADOOP_CONF_DIR", str(tmp_path))
    elif case == "classpath":
        monkeypatch.setenv("SPARK_DIST_CLASSPATH", str(tmp_path))
    elif case == "gateway":  # spark-submit started the JVM (tools/submit.sh)
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    else:
        (tmp_path / "file").write_text("")
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))
    # no java option, no conf dir, no archive file: the launch as without it
    assert plan_class_archive({}) == ClassArchive(state)


@pytest.mark.parametrize("before", [None, "/etc/spark"])
def test_launch_env_restores_spark_conf_dir(tmp_path, monkeypatch, before):
    if before is not None:
        monkeypatch.setenv("SPARK_CONF_DIR", before)
    archive = ClassArchive("mapped", "-XX:SharedArchiveFile=x.jsa", str(tmp_path))
    with pytest.raises(RuntimeError):
        with launch_env(archive):
            assert os.environ["SPARK_CONF_DIR"] == str(tmp_path)
            raise RuntimeError("the gateway failed to start")
    assert os.environ.get("SPARK_CONF_DIR") == before
    with launch_env(ClassArchive("off:conf-dir")):
        assert os.environ.get("SPARK_CONF_DIR") == before
    assert os.environ.get("SPARK_CONF_DIR") == before


def test_java_options_merge_in_order():
    conf = merged_conf(
        {JAVA_OPTIONS: "-XX:SharedArchiveFile=k.jsa", "spark.a": "default"},
        {JAVA_OPTIONS: "-Djava.io.tmpdir=/w", "spark.a": "env"},
        {JAVA_OPTIONS: "-Dx=1", "spark.b": "extra"},
    )
    assert conf == {JAVA_OPTIONS: "-XX:SharedArchiveFile=k.jsa -Djava.io.tmpdir=/w -Dx=1",
                    "spark.a": "env", "spark.b": "extra"}
    assert merged_conf({JAVA_OPTIONS: ""}, {"spark.a": "1"}) == {"spark.a": "1"}
