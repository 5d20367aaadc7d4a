"""Session sizing: the default core count and the default driver heap."""

import os

import pytest

from newscrawler_spark import session


def test_default_cores_follows_env_else_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_cores() == 3


@pytest.mark.parametrize(
    "v2, v1, want_mb",
    [
        ("268435456\n", None, 256 * 4 // 10),  # cgroup v2 limit: 256 MiB
        (None, "536870912\n", 512 * 4 // 10),  # cgroup v1 limit: 512 MiB
        ("max\n", "536870912\n", None),  # v2 unlimited decides
        (None, "9223372036854771712\n", None),  # v1 unlimited
    ],
    ids=["v2_limited", "v1_limited", "v2_unlimited", "v1_unlimited"],
)
def test_default_heap_capped_by_cgroup_limit(monkeypatch, tmp_path, v2, v1, want_mb):
    """40 % of the cgroup memory limit caps the heap when a limit is
    set; an unlimited cgroup leaves the MemAvailable/per-core rule."""
    paths = (tmp_path / "memory.max", tmp_path / "memory.limit_in_bytes")
    monkeypatch.setattr(session, "CGROUP_MEMORY_LIMIT_FILES", tuple(map(str, paths)))
    uncapped = session._default_driver_mem(1)
    assert int(uncapped[:-1]) > 512 * 4 // 10  # the caps below bite
    for path, text in zip(paths, (v2, v1)):
        if text is not None:
            path.write_text(text)
    want = uncapped if want_mb is None else f"{want_mb}m"
    assert session._default_driver_mem(1) == want


@pytest.mark.parametrize(
    "driver_mem, available, want",
    [
        ("4g", 8 << 30, True),  # perfbench's heap on a box it runs on
        ("4g", 4 << 30, True),  # exactly fits
        ("4097m", 4 << 30, False),
        ("16g", 15 << 30, False),  # an oversized SPARK_DRIVER_MEM
        ("6000", 6000 << 20, True),  # a bare number is MiB
        ("64g", None, True),  # no /proc/meminfo: pre-touch as before
    ],
)
def test_pretouch_only_a_heap_that_fits(driver_mem, available, want):
    assert session.pretouch_heap(driver_mem, available) is want


def test_default_heap_is_pretouched():
    """The default heap is at most 40 % of MemAvailable, so it always
    keeps the pre-touch."""
    heap = session._default_driver_mem(session.default_cores())
    assert session.pretouch_heap(heap, session._mem_available())


class _Recorder:
    """Stands in for SparkSession.builder and for spark.conf: records
    every conf set, last write wins."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, _):
        return self

    appName = master

    def config(self, k, v):
        self.conf[k] = v
        return self

    def set(self, k, v):
        self.conf[k] = v

    def getOrCreate(self):
        class _Spark:
            class sparkContext:
                @staticmethod
                def setLogLevel(_):
                    pass

        return _Spark()


def test_get_spark_and_tune_set_one_conf_list(monkeypatch):
    """get_spark and tune() set the same runtime SQL confs, and
    SPARK_GRAFT_EXTRA_CONF then extra_conf still override them."""
    builder = _Recorder()
    monkeypatch.setattr(session.SparkSession, "builder", builder)
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF", raising=False)
    session.get_spark("t", cores=3, shuffle_partitions=5)
    want = session._sql_confs(3, 5)
    assert len(want) == 9
    assert {k: builder.conf[k] for k in want} == want

    tuned = _Recorder()

    class _Session:
        conf = tuned

        class sparkContext:
            defaultParallelism = 3

    session.tune(_Session())
    assert tuned.conf == session._sql_confs(3)

    builder.conf.clear()
    monkeypatch.setenv(
        "SPARK_GRAFT_EXTRA_CONF",
        '{"spark.sql.shuffle.partitions": 7, "spark.sql.adaptive.enabled": "false"}',
    )
    session.get_spark(
        "t", cores=3, extra_conf={"spark.sql.adaptive.enabled": "true",
                                  "spark.sql.session.timeZone": "Asia/Seoul"},
    )
    assert builder.conf["spark.sql.shuffle.partitions"] == "7"
    assert builder.conf["spark.sql.adaptive.enabled"] == "true"
    assert builder.conf["spark.sql.session.timeZone"] == "Asia/Seoul"
