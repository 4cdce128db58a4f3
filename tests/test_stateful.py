import time
from datetime import datetime

from pyspark.sql import Row
from pyspark.sql import functions as F

from aresdb_spark.streaming.stateful import (first_seen, first_seen_batch,
                                             first_seen_batch_oracle_sql)
from tests.conftest import SF_DIR, assert_df_matches_duck


def _run(spark, src_glob, schema, ckpt, out_dir):
    # foreachBatch parquet sink: unlike the memory sink it supports
    # restarting from the checkpoint, which is the point of this test
    from aresdb_spark.streaming.ingest import file_source

    stream = file_source(spark, src_glob, schema)

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    q = (first_seen(stream, ["k"], order_col="seq")
         .writeStream.foreachBatch(sink)
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", ckpt).start())
    q.awaitTermination(120)
    return spark.read.schema(schema).parquet(out_dir).collect()


def test_first_seen_across_restarts(spark, tmp_path):
    """Keys seen in run 1 stay suppressed in run 2 (state checkpointed)."""
    schema = spark.createDataFrame(
        [Row(k="x", seq=1, v="a")]).schema
    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    out1 = str(tmp_path / "out1")
    spark.createDataFrame(
        [Row(k="x", seq=2, v="x-late"), Row(k="x", seq=1, v="x-first"),
         Row(k="y", seq=3, v="y-first")]) \
        .coalesce(1).write.parquet(str(src / "b1"))
    got1 = {(r["k"], r["v"]) for r in _run(spark, f"{src}/*", schema, ckpt, out1)}
    assert got1 == {("x", "x-first"), ("y", "y-first")}

    # second run: x and y repeat (dropped), z is new (emitted)
    out2 = str(tmp_path / "out2")
    spark.createDataFrame(
        [Row(k="x", seq=9, v="x-again"), Row(k="z", seq=4, v="z-first"),
         Row(k="y", seq=8, v="y-again")]) \
        .coalesce(1).write.parquet(str(src / "b2"))
    got2 = {(r["k"], r["v"]) for r in _run(spark, f"{src}/*", schema, ckpt, out2)}
    assert got2 == {("z", "z-first")}


def test_first_seen_batch_matches_oracle(spark, duck):
    from aresdb_spark.operators.text import fingerprint

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", fingerprint(F.col("text")).alias("fp"))
    df = first_seen_batch(docs, ["fp"], "doc_id")
    sql = first_seen_batch_oracle_sql(
        "SELECT doc_id, md5(array_to_string(list_filter("
        "regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t <> ''), ' ')) AS fp "
        "FROM documents",
        ["fp"], "doc_id", select="doc_id, fp")
    assert_df_matches_duck(df, duck, sql)


def test_first_seen_with_ttl_still_dedups_within_window(spark, tmp_path):
    """With a long TTL, semantics within the window match NoTimeout
    (expiry itself is wall-clock behavior, exercised implicitly)."""
    from aresdb_spark.streaming.ingest import file_source

    schema = spark.createDataFrame([Row(k="x", seq=1, v="a")]).schema
    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(
        [Row(k="x", seq=1, v="first"), Row(k="x", seq=2, v="dup")]) \
        .coalesce(1).write.parquet(str(src / "b1"))
    out = str(tmp_path / "out")

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    stream = file_source(spark, f"{src}/*", schema)
    q = (first_seen(stream, ["k"], order_col="seq",
                    state_ttl_ms=3_600_000)
         .writeStream.foreachBatch(sink).outputMode("append")
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    # a processing-time timeout always asks for another (no-data) batch,
    # so this availableNow query never terminates, and
    # processAllAvailable never returns: wait for the data batch's
    # progress, then stop the query
    try:
        deadline = time.monotonic() + 120
        while not any(p["numInputRows"] for p in q.recentProgress):
            assert time.monotonic() < deadline, "data batch never ran"
            time.sleep(0.1)
    finally:
        q.stop()
    rows = spark.read.schema(schema).parquet(out).collect()
    assert [(r["k"], r["v"]) for r in rows] == [("x", "first")]
