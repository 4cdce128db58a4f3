"""Property-based check of upsert semantics (hypothesis).

The reference applies upsert records SEQUENTIALLY against the live store
(memstore/ingestion.go ApplyUpsertBatch); `apply_upsert_batch` collapses
the batch first and merges once. This test proves the two are equivalent:
a pure-Python sequential model (a direct transcription of the reference's
per-mode rules) must match the Spark result for random batches.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aresdb_spark.streaming.upsert import UpdateMode, apply_upsert_batch

MODES = [UpdateMode.OVERWRITE, UpdateMode.FORCE, UpdateMode.ADD,
         UpdateMode.MIN, UpdateMode.MAX]

value = st.one_of(st.none(), st.integers(min_value=-50, max_value=50))
# pk may be NULL: the merge is null-safe, so NULL is one legal key —
# regression for presence detection via pk-nullability silently dropping
# a NULL-PK row's update
pk = st.one_of(st.none(), st.integers(min_value=0, max_value=4))
row = st.tuples(pk, value, value)  # (pk, x, y)


def model_merge(base: list[tuple], batch: list[tuple],
                mode_x: UpdateMode, mode_y: UpdateMode) -> dict:
    """Sequential reference semantics, one record at a time."""
    state = {pk: {"x": x, "y": y} for pk, x, y in base}

    def apply_col(old, new, mode):
        if mode is UpdateMode.FORCE:
            return new
        if new is None:
            return old  # every other mode skips null updates
        if mode is UpdateMode.OVERWRITE:
            return new
        if mode is UpdateMode.ADD:
            return (old or 0) + new  # existing null = 0
        if mode is UpdateMode.MIN:
            return new if old is None else min(old, new)
        if mode is UpdateMode.MAX:
            return new if old is None else max(old, new)
        raise AssertionError(mode)

    for pk, x, y in batch:
        if pk not in state:
            state[pk] = {"x": x, "y": y}
        else:
            state[pk]["x"] = apply_col(state[pk]["x"], x, mode_x)
            state[pk]["y"] = apply_col(state[pk]["y"], y, mode_y)
    return state


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    base=st.lists(row, max_size=6, unique_by=lambda r: r[0]),
    batch=st.lists(row, min_size=1, max_size=8),
    mode_x=st.sampled_from(MODES),
    mode_y=st.sampled_from(MODES),
)
def test_collapsed_merge_equals_sequential_model(spark, base, batch,
                                                 mode_x, mode_y):
    base_df = spark.createDataFrame(base or [(99, None, None)], "pk int, x int, y int")
    if not base:
        base_df = base_df.filter("pk < 0")  # empty frame with schema
    batch_df = spark.createDataFrame(
        [(pk, x, y, i) for i, (pk, x, y) in enumerate(batch)],
        "pk int, x int, y int, seq int")
    out = apply_upsert_batch(base_df, batch_df, ["pk"],
                             {"x": mode_x, "y": mode_y}, seq_col="seq")
    got = {r["pk"]: {"x": r["x"], "y": r["y"]} for r in out.collect()}
    want = model_merge(base, batch, mode_x, mode_y)
    assert got == want


def test_composite_pk_with_null_components(spark):
    """Two-column PK where one component may be NULL: the null-safe join
    treats (1, NULL) as one key; presence markers must apply its update."""
    base = spark.createDataFrame(
        [(1, None, 10), (1, 2, 20), (None, None, 30)],
        "k1 int, k2 int, v int")
    batch = spark.createDataFrame(
        [(1, None, 100, 0), (None, None, 300, 1), (2, 2, 400, 2)],
        "k1 int, k2 int, v int, seq int")
    out = apply_upsert_batch(base, batch, ["k1", "k2"],
                             {"v": UpdateMode.OVERWRITE}, seq_col="seq")
    got = {(r["k1"], r["k2"]): r["v"] for r in out.collect()}
    assert got == {(1, None): 100, (1, 2): 20, (None, None): 300,
                   (2, 2): 400}


def test_pk_only_table_collapses_to_distinct(spark):
    """A table whose only columns ARE the primary key: collapsing a batch
    has nothing to fold — it is a plain dedupe (regression: groupBy with
    zero aggregate expressions raised)."""
    from aresdb_spark.streaming.upsert import apply_upsert_batch

    base = spark.createDataFrame([("a",), ("b",)], "k string")
    batch = spark.createDataFrame([("b",), ("c",), ("c",)], "k string")
    got = sorted(r["k"] for r in
                 apply_upsert_batch(base, batch, ["k"]).collect())
    assert got == ["a", "b", "c"]


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    base=st.lists(row, max_size=5, unique_by=lambda r: r[0]),
    batches=st.lists(st.lists(row, min_size=1, max_size=5),
                     min_size=1, max_size=4),
    mode_x=st.sampled_from(MODES),
    mode_y=st.sampled_from(MODES),
)
def test_fold_upserts_equals_chained_merges(spark, tmp_path_factory, base,
                                            batches, mode_x, mode_y):
    """The append-only stores' read-side resolution (fold_upserts: ONE
    aggregation over base + the pending batches read as ONE relation)
    must equal the eager chain of per-batch merges — i.e. every update
    mode's merge is associative over (batch, seq) arrival order. This
    is the invariant that lets ingest be O(batch) while reads stay
    exact. Each batch is written as a multi-file ``batch=<n>`` dir and
    read back by the stores' one-scan reader, so read-back row order
    differs from write order; only the dir number and the persisted
    ``__seq`` may order the fold."""
    from aresdb_spark.sources.hotcold import _ORD, _read_batches
    from aresdb_spark.streaming.upsert import fold_upserts

    modes = {"x": mode_x, "y": mode_y}
    base_df = spark.createDataFrame(base or [(99, None, None)],
                                    "pk int, x int, y int")
    if not base:
        base_df = base_df.filter("pk < 0")
    root = tmp_path_factory.mktemp("fold")
    batch_dfs, dirs = [], []
    for n, b in enumerate(batches):
        bdf = spark.createDataFrame(
            [(pk, x, y, i) for i, (pk, x, y) in enumerate(b)],
            "pk int, x int, y int, __seq long")
        batch_dfs.append(bdf)
        # numbered with gaps, like a queue whose consumed or orphaned
        # numbers are skipped, and so that the dir names sort wrongly
        # as strings
        d = str(root / f"batch={(9, 10, 100, 1000)[n]}")
        bdf.repartition(len(b), "__seq").write.parquet(d)
        dirs.append(d)
    chained = base_df
    for bdf in batch_dfs:
        chained = apply_upsert_batch(chained, bdf, ["pk"], modes,
                                     seq_col="__seq")
    pending = _read_batches(spark, base_df.schema, dirs)
    folded = fold_upserts(base_df, pending, _ORD, ["pk"], modes)
    got = {r["pk"]: (r["x"], r["y"]) for r in folded.collect()}
    want = {r["pk"]: (r["x"], r["y"]) for r in chained.collect()}
    assert got == want


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    base=st.lists(
        st.tuples(st.integers(0, 5),            # pk
                  st.integers(0, 3),            # day offset
                  st.integers(-20, 20)),        # v
        min_size=1, max_size=8, unique_by=lambda r: r[0]),
    batches=st.lists(
        st.lists(st.tuples(st.integers(0, 7),   # pk (may be new)
                           st.integers(0, 3),
                           st.one_of(st.none(),
                                     st.integers(-20, 20))),
                 min_size=1, max_size=4),
        min_size=1, max_size=3),
    mode_v=st.sampled_from(MODES),
    # ts modes that can MOVE a row across days — the risky path of the
    # r9 per-day cold map (old day must be rewritten, new day gains the
    # row, nothing double-counts). add is excluded (timestamp arithmetic
    # is invalid for the eager path too).
    mode_ts=st.sampled_from([UpdateMode.OVERWRITE, UpdateMode.FORCE,
                             UpdateMode.MIN, UpdateMode.MAX]),
)
def test_per_day_backfill_flush_equals_full_merge(spark, tmp_path_factory,
                                                  base, batches,
                                                  mode_v, mode_ts):
    """The r9 day-scoped backfill flush (rewrite affected days only)
    must produce EXACTLY the state a full-store merge would — including
    when update modes move a row's event time across day boundaries
    (the old day's copy must vanish, the new day's appear, counted
    once). Oracle: chained apply_upsert_batch over the whole pre-flush
    cold store."""
    from datetime import datetime, timedelta

    from aresdb_spark.sources.hotcold import HotColdStore

    t0 = datetime(2024, 1, 1)

    def mk(rows):
        return spark.createDataFrame(
            [(pk, t0 + timedelta(days=d, hours=1),
              float(v) if v is not None else None)
             for pk, d, v in rows],
            "id int, ts timestamp, v double")

    modes = {"ts": mode_ts, "v": mode_v}
    cutoff = t0 + timedelta(days=30)
    store = HotColdStore(
        path=str(tmp_path_factory.mktemp("flushprop") / "t"),
        time_column="ts", primary_key=("id",), sort_columns=("ts",),
        modes=modes)
    store.init_from(mk(base), cutoff)

    # oracle BEFORE the flush: full merge over the whole cold store
    want_df = store.read_cold(spark)
    for b in batches:
        want_df = apply_upsert_batch(want_df, mk(b), ["id"], modes, None)
    want = sorted((r["id"], r["ts"], r["v"]) for r in want_df.collect())

    for b in batches:
        store.ingest(spark, mk(b), cutoff, defer_backfill=True)
    store.flush_backfill(spark)
    got = sorted((r["id"], r["ts"], r["v"])
                 for r in store.read_cold(spark).collect())
    assert got == want
    # day-map invariant: every row sits in the day dir its ts names
    m = store._cold_day_map()
    for _, ts, _ in got:
        assert ts.strftime("%Y-%m-%d") in m


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    base=st.lists(
        st.tuples(st.one_of(st.none(), st.integers(0, 5)),   # pk (nullable)
                  st.integers(-20, 20)),
        max_size=6, unique_by=lambda r: r[0]),
    batches=st.lists(
        st.lists(st.tuples(st.one_of(st.none(), st.integers(0, 7)),
                           st.one_of(st.none(), st.integers(-20, 20))),
                 min_size=1, max_size=4),
        min_size=1, max_size=3),
    mode_v=st.sampled_from(MODES),
)
def test_hot_store_pending_pk_split_read_equals_eager_chain(
        spark, tmp_path_factory, base, batches, mode_v):
    """r10 directive 2: the store-level hot read now SPLITS the base by
    the pending-PK set (broadcast semi/anti) and folds only the matched
    slice — this property drives that path end-to-end through
    ingest/read_hot (not fold_upserts directly) and must equal the
    eager merge chain under every mode, including NULL PKs (a legal
    single key for the null-safe split join) and PKs absent from the
    base (pure inserts ride the fold)."""
    from datetime import datetime, timedelta

    from aresdb_spark.sources.hotcold import HotColdStore

    cutoff = datetime(2024, 1, 15)
    t0 = cutoff + timedelta(days=1)
    modes = {"v": mode_v}
    store = HotColdStore(
        path=str(tmp_path_factory.mktemp("hotsplit") / "t"),
        time_column="ts", primary_key=("pk",), modes=modes,
        allow_missing_event_time=False)

    def mk(rows, with_seq=False):
        if with_seq:
            return spark.createDataFrame(
                [(pk, t0, float(v) if v is not None else None, i)
                 for i, (pk, v) in enumerate(rows)],
                "pk int, ts timestamp, v double, __seq long")
        return spark.createDataFrame(
            [(pk, t0, float(v) if v is not None else None)
             for pk, v in rows],
            "pk int, ts timestamp, v double")

    store.init_from(mk(base), cutoff)
    want_df = mk(base)
    for b in batches:
        store.ingest(spark, mk(b), cutoff)
        want_df = apply_upsert_batch(want_df, mk(b, with_seq=True),
                                     ["pk"], {"ts": "overwrite", **modes},
                                     seq_col="__seq")
    got = sorted(((r["pk"], r["v"]) for r in
                  store.read_hot(spark).collect()),
                 key=lambda t: (t[0] is None, t[0]))
    want = sorted(((r["pk"], r["v"]) for r in want_df.collect()),
                  key=lambda t: (t[0] is None, t[0]))
    assert got == want
