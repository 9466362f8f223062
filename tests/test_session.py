"""session.get_spark's default master follows the usable cores."""

from __future__ import annotations

import os
from types import SimpleNamespace

from docling_eval_spark import session


class _Builder:
    """Records the master get_spark asks for; builds nothing."""

    def appName(self, name):
        return self

    def master(self, master):
        self.master_url = master
        return self

    def config(self, key, value):
        return self

    def getOrCreate(self):
        return self


def _default_master(monkeypatch) -> str:
    monkeypatch.setattr(session, "SparkSession",
                        SimpleNamespace(builder=_Builder()))
    return session.get_spark().master_url


def test_default_master_is_usable_cores_without_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _default_master(monkeypatch) == \
        f"local[{len(os.sched_getaffinity(0))}]"


def test_env_overrides_default_master(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _default_master(monkeypatch) == "local[3]"
    assert session.usable_cpus() == 3
