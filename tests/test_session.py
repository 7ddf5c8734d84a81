"""Session set-up: the JVM<->Python worker channel runs over a Unix
domain socket in a private directory whose socket paths always fit the
AF_UNIX limit."""

from __future__ import annotations

import os
import stat
import tempfile
import uuid

from embulk_input_parquet_hadoop_spark import session


def _socket_path(d: str) -> bytes:
    # how Spark names a socket in its directory
    return os.fsencode(os.path.join(d, f".{uuid.uuid4()}.sock"))


def _private(d: str) -> bool:
    st = os.stat(d)
    return st.st_uid == os.getuid() and stat.S_IMODE(st.st_mode) == 0o700


def test_unix_socket_dir_is_private_and_fits_sun_path(tmp_path, monkeypatch):
    with tempfile.TemporaryDirectory(dir="/tmp") as short:
        for base in (short, None):
            d = session.unix_socket_dir(base)
            try:
                assert os.path.dirname(d) == (base or "/tmp")
                assert _private(d) and os.listdir(d) == []
                assert len(_socket_path(d)) <= 107
            finally:
                os.rmdir(d)
    # an over-long base falls back to /tmp and leaves nothing behind
    long_dir = tmp_path / ("d" * 80)
    long_dir.mkdir()
    d = session.unix_socket_dir(str(long_dir))
    try:
        assert os.path.dirname(d) == "/tmp" and _private(d)
        assert len(_socket_path(d)) <= 107
        assert list(long_dir.iterdir()) == []
    finally:
        os.rmdir(d)
    # with no usable directory the session stays on TCP
    def refuse(**kw):
        raise PermissionError(kw["dir"])
    monkeypatch.setattr(session.tempfile, "mkdtemp", refuse)
    assert session.unix_socket_dir(str(tmp_path)) is None


class _FakeBuilder:
    """Records the conf ``get_spark`` builds, without starting Spark."""

    def __init__(self):
        self.conf = {}

    def appName(self, _):
        return self

    def master(self, _):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        conf = self.conf
        sc = type("SC", (), {"getConf": lambda _: conf,
                             "setLogLevel": lambda _, level: None})()
        return type("Session", (), {"sparkContext": sc})()


def test_callers_socket_setting_wins(monkeypatch):
    builder = _FakeBuilder()
    monkeypatch.setattr(session, "SparkSession",
                        type("FakeSession", (), {"builder": builder}))
    made = []
    monkeypatch.setattr(session, "unix_socket_dir",
                        lambda base: made.append(base))
    session.get_spark(cores=1, extra_conf={
        "spark.python.unix.domain.socket.enabled": "false"})
    assert builder.conf["spark.python.unix.domain.socket.enabled"] == "false"
    assert "spark.python.unix.domain.socket.dir" not in builder.conf
    assert made == []


def test_worker_channel_runs_on_unix_socket(spark):
    sc = spark.sparkContext
    conf = sc.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    assert _private(conf.get("spark.python.unix.domain.socket.dir"))
    env = sc.parallelize([0], 1).map(
        lambda _: os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")).collect()
    # the JVM passes the flag as "True"; pyspark compares it lower-cased
    assert [v.lower() for v in env] == ["true"]


def test_collector_default_yields_to_callers_collector(monkeypatch):
    def built(extra_conf=None, env=None):
        builder = _FakeBuilder()
        monkeypatch.setattr(session, "SparkSession",
                            type("FakeSession", (), {"builder": builder}))
        for k in ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS"):
            monkeypatch.delenv(k, raising=False)
        for k, v in (env or {}).items():
            monkeypatch.setenv(k, v)
        session.get_spark(cores=1, extra_conf={
            "spark.python.unix.domain.socket.enabled": "false",
            **(extra_conf or {})})
        return builder.conf.get("spark.driver.defaultJavaOptions")

    gc = "-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy"
    assert built() == gc
    # other driver options leave the default in place
    assert built({"spark.driver.extraJavaOptions": "-XX:-UsePerfData"}) == gc
    # a collector named elsewhere is kept: the JVM refuses two
    assert built({"spark.driver.extraJavaOptions": "-XX:+UseG1GC"}) is None
    assert built(env={"JAVA_TOOL_OPTIONS": "-XX:+UseSerialGC"}) is None
    assert built(env={"JDK_JAVA_OPTIONS": "-XX:+UseZGC -Xss2m"}) is None
    assert built({"spark.driver.defaultJavaOptions": "-Xss2m"}) == "-Xss2m"


def test_jvm_runs_the_parallel_collector_with_fixed_sizes(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    names = {b.getName() for b in mf.getGarbageCollectorMXBeans()}
    assert names == {"PS Scavenge", "PS MarkSweep"}
    assert "-XX:-UseAdaptiveSizePolicy" in list(
        mf.getRuntimeMXBean().getInputArguments())
