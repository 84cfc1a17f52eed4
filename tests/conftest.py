import contextlib
import os
import uuid

import pytest
from pyspark.sql import SparkSession

_SLOW_TIER = os.path.join(os.path.dirname(__file__), "slow_tier.txt")


def pytest_collection_modifyitems(config, items):
    """Attach the slow marker to the nightly tier (tests/slow_tier.txt
    + module-level pytestmark in the streaming e2e files). The default
    run excludes them via pytest.ini addopts; run the tier with
    ``pytest tests/ -m slow`` (see slow_tier.txt header)."""
    with open(_SLOW_TIER) as fh:
        patterns = [
            ln.strip()
            for ln in fh
            if ln.strip() and not ln.startswith("#")
        ]
    for item in items:
        if any(p in item.nodeid for p in patterns):
            item.add_marker(pytest.mark.slow)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
#: override to shake out partitioning-sensitive nondeterminism (tie-break
#: bugs surface under different partition counts)
SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_TEST_SHUFFLE", "4")


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("mysql-syncer-spark-tests")
        .config("spark.sql.shuffle.partitions", SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="session")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


@pytest.fixture()
def jobs_in_group(spark):
    """``with jobs_in_group() as jobs:`` runs the block under a fresh
    job group; on exit ``jobs`` holds the ids of the Spark jobs started
    inside it (from the block's thread and any thread that inherited its
    properties)."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def run():
        group = f"test-{uuid.uuid4().hex}"
        jobs: list[int] = []
        sc.setJobGroup(group, "jobs_in_group")
        try:
            yield jobs
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
            # job starts reach the status tracker through the listener
            # bus; drain it so no job of the block is missed
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.extend(sc.statusTracker().getJobIdsForGroup(group))

    return run


class _Recorder:
    """See the ``recording_factory`` fixture."""

    def __init__(self, path: str):
        self.path = path

    def factory(self, connect=None):
        """A connection factory whose connections record every executed
        statement, with the pid of the process that ran it, then run it
        on ``connect()``'s real connection (or nowhere, without
        ``connect``)."""
        path = self.path

        def factory():
            real = connect() if connect is not None else None

            class Cur:
                def __init__(self):
                    self.cur = real.cursor() if real is not None else None

                def execute(self, sql, *args):
                    with open(path, "a") as f:
                        f.write(f"{os.getpid()}\x1f{sql}\n\x1e\n")
                    if self.cur is not None:
                        return self.cur.execute(sql, *args)

                def __getattr__(self, name):  # fetchall & co.
                    return getattr(self.cur, name)

            class Conn:
                def cursor(self):
                    return Cur()

                def commit(self):
                    if real is not None:
                        real.commit()

                def close(self):
                    if real is not None:
                        real.close()

            return Conn()

        return factory

    def recorded(self) -> list[tuple[int, str]]:
        """``(pid, statement)`` for every statement executed so far, in
        execution order."""
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            records = [r for r in f.read().split("\n\x1e\n") if r]
        return [(int(pid), sql) for pid, sql in
                (r.split("\x1f", 1) for r in records)]


@pytest.fixture()
def recording_factory(tmp_path):
    """``rec.factory(connect=None)`` makes connection
    factories that log each executed statement with the pid of the
    process that ran it; ``rec.recorded()`` reads the log back."""
    return _Recorder(str(tmp_path / f"recorded-{uuid.uuid4().hex}.log"))
