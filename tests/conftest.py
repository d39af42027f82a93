import os
import shutil
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_TEST = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running soak/scale batteries (run in the full suite)"
    )


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    import tempfile

    s = (
        SparkSession.builder.master("local[4]")
        .appName("spark-binlog-spark-tests")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="spark-wh-"))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_TEST}/{t}.parquet"
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


class _CrashAt:
    """Makes the ``step``-th call, while armed, to any of the wrapped
    functions raise, as a crash at that step of a batch commit.
    ``targets`` names them as ``(module, attribute)`` pairs; the default
    is ``shutil.move`` and ``shutil.rmtree``."""

    def __init__(self, monkeypatch, targets=((shutil, "move"), (shutil, "rmtree"))):
        self.step = self.calls = 0
        self.armed = self.fired = False
        for mod, name in targets:
            monkeypatch.setattr(mod, name, self._wrap(getattr(mod, name)))

    def reset(self, step):
        self.step, self.calls, self.fired = step, 0, False

    def _wrap(self, real):
        def call(*args, **kwargs):
            if self.armed:
                self.calls += 1
                if self.calls == self.step:
                    self.fired = True
                    raise OSError(f"injected crash at commit step {self.step}")
            return real(*args, **kwargs)

        return call


class _RoundTrips:
    """Counts py4j round trips from the Python driver to the JVM (calls
    of ``ClientServerConnection.send_command``) from construction on;
    ``n`` holds the count."""

    def __init__(self, monkeypatch):
        from py4j.clientserver import ClientServerConnection

        self.n = 0
        real = ClientServerConnection.send_command

        def send_command(conn, *args, **kwargs):
            self.n += 1
            return real(conn, *args, **kwargs)

        monkeypatch.setattr(ClientServerConnection, "send_command", send_command)


class _Jobs:
    """Counts the Spark jobs started inside ``with _Jobs(spark) as
    jobs:``: the block runs in its own job group, and ``n`` is the
    number of job ids the status tracker holds for that group."""

    _groups = 0

    def __init__(self, spark):
        self.sc = spark.sparkContext
        _Jobs._groups += 1
        self.group = f"job-budget-{_Jobs._groups}"

    def __enter__(self):
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc._jsc.clearJobGroup()

    @property
    def n(self) -> int:
        # job starts reach the status store through the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group))
