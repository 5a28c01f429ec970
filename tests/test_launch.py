"""How the package is launched: ``build_spark``'s default master and the
command line of ``tools/ab_bench.py``. Neither test starts a JVM."""

import os
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

from adhesive_spark import session

ROOT = Path(__file__).resolve().parents[1]


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records master and conf."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def _built_conf(monkeypatch, **kwargs):
    monkeypatch.setattr(
        session, "SparkSession", SimpleNamespace(builder=_RecordingBuilder())
    )
    return session.build_spark(**kwargs)


def test_build_spark_defaults_to_host_cpus(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    n = len(os.sched_getaffinity(0))
    conf = _built_conf(monkeypatch)
    assert conf["master"] == f"local[{n}]"
    assert conf["spark.sql.shuffle.partitions"] == str(n)


def test_build_spark_env_cpus_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = _built_conf(monkeypatch)
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"


def _ab_bench(*args):
    return subprocess.run(
        [sys.executable, str(ROOT / "tools" / "ab_bench.py"), *args],
        capture_output=True,
        text=True,
        timeout=120,
    )


def test_ab_bench_help_prints_usage():
    out = _ab_bench("--help")
    assert out.returncode == 0, out.stderr
    assert out.stdout.startswith("usage: ab_bench.py")


def test_ab_bench_missing_spec_is_a_plain_error(tmp_path):
    missing = tmp_path / "no_such_spec.py"
    out = _ab_bench(str(missing))
    assert out.returncode != 0
    assert str(missing) in out.stderr
    assert "Traceback" not in out.stderr
