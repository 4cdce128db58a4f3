"""Model-based property check of the whole HotColdStore lifecycle
(hypothesis).

A random sequence of store operations — eager ingest, deferred-backfill
ingest, backfill flush, archiving cutoff advances, retention purges —
must keep ``read()`` (the exactly-once hot/cold union view) equal to a
pure-Python model at every step. The model is a direct transcription of
the reference's visibility rules:

- upserts are last-writer-wins per PK (overwrite-not-null mode);
- deferred pre-cutoff rows are INVISIBLE until the backfill job runs
  (backfill_manager.go buffer; the reference's buffered records only
  become queryable when backfill merges them into archive batches);
- the deferred queue applies in arrival order at flush;
- archiving moves rows across the hot/cold boundary but never changes
  the union view;
- purge drops whole cold day-partitions below the boundary — and ONLY
  rows that have already been archived into them (memstore/purge.go
  drops archive batches; live rows are untouched);
- a mutation that dies before its pointer commit changes nothing: the
  batch dirs it wrote (the next number of the hot log, the backfill
  queue or the dimension journal) are never read, and the next append
  reclaims their number.

Ops and days are drawn small so each example stays cheap; the sequence
length (up to 6 ops) still reaches every pairwise interleaving class
(deferred-then-archive, archive-then-flush, purge-with-queue, ...).
"""

from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.test_pointer_stores import _CrashOnCommit

DAY0 = datetime(2024, 1, 10)
CUTOFF0 = DAY0 + timedelta(days=2)


def _mkstore(spark, path):
    from aresdb_spark.sources.hotcold import HotColdStore

    store = HotColdStore(str(path), time_column="ts", primary_key=["id"])
    store.init_from(
        spark.createDataFrame([], "id int, ts timestamp, v double"),
        cutoff=CUTOFF0)
    return store


# an op is one of:
#   ("ingest", rows, deferred)   rows = [(id, value)]; a row's DAY is
#       fixed at its id (day = id), so a PK never moves across the
#       hot/cold boundary — with per-side PK merges a key that changed
#       sides would legitimately exist on both (in this engine AND the
#       reference, whose live PK index doesn't see archive batches),
#       and the flat model below would stop being the right oracle
#   ("flush",)                   fold the deferred queue into cold
#   ("archive", days)            advance the cutoff to DAY0 + days
#   ("purge", days)              drop cold day-partitions < DAY0 + days
#   ("orphan", rows, deferred)   an ingest that dies before its commit
_row = st.builds(lambda i, v: (i, i, v), st.integers(0, 5),
                 st.integers(-9, 9))
_ingest = st.tuples(st.just("ingest"),
                    st.lists(_row, min_size=1, max_size=4),
                    st.booleans())
_flush = st.tuples(st.just("flush"))
_archive = st.tuples(st.just("archive"), st.integers(2, 6))
_purge = st.tuples(st.just("purge"), st.integers(0, 4))
_orphan = st.tuples(st.just("orphan"),
                    st.lists(_row, min_size=1, max_size=4), st.booleans())
ops = st.lists(st.one_of(_ingest, _flush, _archive, _purge, _orphan),
               min_size=1, max_size=6)


@pytest.fixture(scope="module")
def _spark(spark):
    return spark


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(ops=ops)
def test_lifecycle_matches_model(_spark, tmp_path_factory, ops):
    spark = _spark
    store = _mkstore(spark, tmp_path_factory.mktemp("store") / "t")

    visible: dict[int, tuple] = {}      # id -> (day, value)
    queued: list[list[tuple]] = []      # deferred batches, arrival order
    archived_days: set[int] = set()     # days materialized in cold
    cutoff_days = 2

    def ts(day):
        return DAY0 + timedelta(days=day, hours=12)

    for op in ops:
        if op[0] in ("ingest", "orphan"):
            _, rows, deferred = op
            # one batch may not repeat a PK (reference batches are
            # PK-collapsed upstream); keep the last occurrence
            dedup = {r[0]: r for r in rows}
            batch = spark.createDataFrame(
                [(i, ts(d), float(v)) for i, d, v in dedup.values()],
                "id int, ts timestamp, v double")
            cut = DAY0 + timedelta(days=cutoff_days)
            if op[0] == "orphan":
                with _CrashOnCommit(), \
                        pytest.raises(RuntimeError, match="pointer flip"):
                    store.ingest(spark, batch, cut, defer_backfill=deferred)
            elif deferred:
                store.ingest(spark, batch, cut, defer_backfill=True)
                late = [r for r in dedup.values() if r[1] < cutoff_days]
                if late:
                    queued.append(late)
                for i, d, v in dedup.values():
                    if d >= cutoff_days:
                        visible[i] = (d, float(v))
            else:
                store.ingest(spark, batch, cut)
                for i, d, v in dedup.values():
                    visible[i] = (d, float(v))
                    if d < cutoff_days:
                        # merged straight into cold: its day materializes
                        archived_days.add(d)
        elif op[0] == "flush":
            store.flush_backfill(spark)
            for late in queued:
                for i, d, v in late:
                    visible[i] = (d, float(v))
                    archived_days.add(d)
            queued = []
        elif op[0] == "archive":
            days = max(op[1], cutoff_days)   # cutoff never moves back
            store.archive(spark, DAY0 + timedelta(days=days))
            for i, (d, _v) in visible.items():
                if cutoff_days <= d < days:
                    archived_days.add(d)
            cutoff_days = days
        elif op[0] == "purge":
            store.purge(spark, DAY0 + timedelta(days=op[1]))
            gone = {d for d in archived_days if d < op[1]}
            archived_days -= gone
            visible = {i: (d, v) for i, (d, v) in visible.items()
                       if d not in gone}

        got = {(r.id, (r.ts - DAY0).days, r.v)
               for r in store.read(
                   spark, DAY0 + timedelta(days=cutoff_days)).collect()}
        want = {(i, d, v) for i, (d, v) in visible.items()}
        assert got == want, (op, got, want)


# dimension-store ops, against a dict model in add mode:
#   ("journal", rows)   journal_ingest (replayed at read, folded at snapshot)
#   ("ingest", rows)    eager ingest (a snapshot rewrite)
#   ("snapshot",)       fold the journal into a new snapshot
#   ("orphan", rows)    a journal_ingest that dies before its commit
_dim_rows = st.lists(st.tuples(st.integers(0, 3), st.integers(1, 9)),
                     min_size=1, max_size=3)
dim_ops = st.lists(st.one_of(
    st.tuples(st.sampled_from(["journal", "ingest", "orphan"]), _dim_rows),
    st.tuples(st.just("snapshot"))), min_size=1, max_size=6)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(ops=dim_ops)
def test_dimension_journal_matches_model(_spark, tmp_path_factory, ops):
    from aresdb_spark.sources.hotcold import DimensionStore

    spark = _spark
    dim = DimensionStore(str(tmp_path_factory.mktemp("dim") / "d"),
                         primary_key=("id",), modes={"v": "add"})
    dim.init_from(spark.createDataFrame([], "id int, v long"))
    model: dict[int, int] = {}
    for op in ops:
        if op[0] == "snapshot":
            dim.snapshot(spark)
        else:
            rows = dict(op[1])          # one batch never repeats a PK
            batch = spark.createDataFrame(list(rows.items()),
                                          "id int, v long")
            if op[0] == "orphan":
                with _CrashOnCommit(), \
                        pytest.raises(RuntimeError, match="pointer flip"):
                    dim.journal_ingest(batch)
            else:
                if op[0] == "journal":
                    dim.journal_ingest(batch)
                else:
                    dim.ingest(spark, batch)
                for i, v in rows.items():
                    model[i] = model.get(i, 0) + v
        got = {r.id: r.v for r in dim.read(spark).collect()}
        assert got == model, (op, got, model)
