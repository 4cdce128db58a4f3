import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("ARESDB_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MED = "/root/testdata/sf0.01"
# Checkout of the upstream AresDB repository, beside this one, whose
# shipped fixtures the reference-golden tests read. Every such test goes
# through the ``reference_root`` fixture, so one reason string counts the
# skips.
REFERENCE_ROOT = os.path.join(os.path.dirname(REPO_ROOT), "reference")


def pytest_addoption(parser):
    parser.addoption(
        "--full-soak", action="store_true",
        help="run the streaming-dedup soak (test_streaming_dedup.py) at "
             "50 micro-batches instead of the in-suite 25")


@pytest.fixture(scope="session")
def reference_root():
    """The reference checkout; skips the requesting test when absent."""
    if not os.path.isdir(REFERENCE_ROOT):
        pytest.skip("reference fixtures not mounted")
    return REFERENCE_ROOT


@pytest.fixture(scope="session")
def spark():
    from aresdb_spark.session import get_spark

    s = get_spark(app_name="aresdb-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"),
                  shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True)
def no_leaked_streams():
    """Fail a test that leaves a streaming query active, after stopping
    it: a leaked query keeps running micro-batches through every later
    test."""
    yield
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    leaked = session.streams.active if session is not None else []
    for q in leaked:
        q.stop()
    if leaked:
        pytest.fail(f"{len(leaked)} streaming query(ies) left active: "
                    f"{[q.name or q.id for q in leaked]}")


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def count_jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` submits, counted through a job group
    of its own: the status tracker lists the group's jobs once the
    listener bus has delivered every event posted so far."""
    import uuid

    sc = spark.sparkContext
    tag = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(tag, tag)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(tag))


def count_py4j(spark, fn) -> int:
    """Number of Py4J commands ``fn()`` sends to the JVM: each is one
    driver round trip. Memory-delete commands (``m\\nd``) are left out —
    Python's GC sends them at arbitrary points, for objects made before
    ``fn`` as much as by it."""
    from py4j.clientserver import ClientServer, ClientServerConnection
    from py4j.java_gateway import GatewayConnection

    conn = ClientServerConnection \
        if isinstance(spark.sparkContext._gateway, ClientServer) \
        else GatewayConnection
    send = conn.send_command
    sent = 0

    def counted(self, command, *args, **kwargs):
        nonlocal sent
        if not command.startswith("m\nd"):
            sent += 1
        return send(self, command, *args, **kwargs)

    conn.send_command = counted
    try:
        fn()
    finally:
        conn.send_command = send
    return sent


def load_events(spark, sf_dir=SF_DIR):
    """events with a proper timestamp ``ts``, across Spark versions.

    The testdata writes events.ts as INT64 TIMESTAMP(NANOS). Spark 3 reads it
    as bigint (via spark.sql.legacy.parquet.nanosAsLong) and needs a
    truncating nanos->micros cast; Spark 4 reads it natively as timestamp_ntz
    and ignores the legacy flag, so the cast must be skipped.
    """
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def assert_df_matches_duck(df, duck, sql, sort_by=None, approx=False, tol=1e-9):
    """Compare a Spark DataFrame against a DuckDB oracle query."""
    import math

    spark_rows = [tuple(r) for r in df.collect()]
    duck_rows = [tuple(r) for r in duck.execute(sql).fetchall()]

    def norm(rows):
        def nv(v):
            from datetime import datetime
            from decimal import Decimal
            if isinstance(v, Decimal):
                return float(v)
            if isinstance(v, datetime):
                return v.replace(tzinfo=None)
            return v
        return sorted([tuple(nv(v) for v in r) for r in rows], key=lambda r: tuple(str(x) for x in r))

    a, b = norm(spark_rows), norm(duck_rows)
    assert len(a) == len(b), f"row count {len(a)} != {len(b)}\nspark={a[:5]}\nduck={b[:5]}"
    for ra, rb in zip(a, b):
        assert len(ra) == len(rb), f"width mismatch {ra} vs {rb}"
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                if math.isnan(va) and math.isnan(vb):
                    continue
                assert va == pytest.approx(vb, rel=tol, abs=tol), f"{ra} vs {rb}"
            else:
                assert va == vb, f"{ra} vs {rb}"
