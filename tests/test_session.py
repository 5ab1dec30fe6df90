"""build_session sets the shared runtime confs from one list."""

from __future__ import annotations

from kafkastreamsjavachallenge_spark.session import _RUNTIME_CONFS


def test_built_session_reads_back_every_runtime_conf(spark):
    assert {k: spark.conf.get(k) for k in _RUNTIME_CONFS} == _RUNTIME_CONFS
