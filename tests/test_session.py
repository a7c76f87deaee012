"""build_session's conf, read off a recording builder (no JVM starts)."""

import os

import pytest

from dxnn_ocr_cpp_spark import session


class _Builder:
    def __init__(self):
        self.conf = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, _):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        class _Spark:
            class sparkContext:
                @staticmethod
                def setLogLevel(_):
                    pass
        return _Spark()


@pytest.fixture
def builder(monkeypatch):
    b = _Builder()
    monkeypatch.setattr(session.SparkSession, "builder", b)
    monkeypatch.setattr(session.os, "cpu_count", lambda: 12)
    return b


@pytest.mark.parametrize("master, partitions", [
    ("local[4]", 8), ("local[*]", 12), ("local[4,2]", 8), ("local[*,3]", 12),
    ("local[16,2]", 16)])
def test_local_master_forms(builder, master, partitions):
    session.build_session(master=master)
    assert builder.conf["master"] == master
    assert builder.conf["spark.sql.shuffle.partitions"] == str(partitions)


def test_env_master_with_task_retries(builder, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "local[*,3]")
    session.build_session()
    assert builder.conf["spark.sql.shuffle.partitions"] == "12"


def test_local_workers_get_the_package_parent(builder, monkeypatch):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.delenv("PYTHONPATH", raising=False)
    session.build_session(master="local[2]")
    assert builder.conf["spark.executorEnv.PYTHONPATH"] == repo

    monkeypatch.setenv("PYTHONPATH", "/caller/lib")
    session.build_session(master="local[2]")
    assert builder.conf["spark.executorEnv.PYTHONPATH"] == \
        os.pathsep.join([repo, "/caller/lib"])

    session.build_session(master="local[2]",
                          extra_conf={"spark.executorEnv.PYTHONPATH": "/mine"})
    assert builder.conf["spark.executorEnv.PYTHONPATH"] == "/mine"


def test_cluster_master_keeps_python_path_unset(builder):
    session.build_session(master="local-cluster[2,2,1024]")
    assert "spark.executorEnv.PYTHONPATH" not in builder.conf
