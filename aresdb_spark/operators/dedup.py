"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the point of this module):
  - exact dedup       one hash-shuffle on a 32-hex key — the minimum possible
  - MinHash+LSH       signatures computed scan-side (array exprs, no UDF, no
                      shuffle); candidate generation = self-join on (band,
                      band_hash) buckets — shuffle is proportional to docs ×
                      n_bands, never O(n²); verification only touches
                      candidate pairs
  - SimHash           64-bit signature scan-side; near-dup = bucket join on
                      rotated bit-blocks (pigeonhole: hamming ≤ k ⇒ some
                      block of the signature matches exactly)
  - n-gram Jaccard    exact verification on candidate pairs only
  - embedding cosine  see operators.similarity (hyperplane-LSH buckets)

Hash portability: integer hash = first 7 hex digits of md5 (28 bits) so
mixing with 31-bit constants stays in int64 in both Spark and the DuckDB
oracle. MinHash permutations h_j(x) = (A_j * x + B_j) mod P with P =
2^31-1 (Carter-Wegman), constants fixed below for reproducibility.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aresdb_spark.operators.text import tokens, tokens_oracle_sql
from aresdb_spark.operators.util import ensure_parallelism as _parallelize
from aresdb_spark.operators.util import hof as _hof
from aresdb_spark.operators.util import let as _let

P = 2_147_483_647  # 2^31 - 1

# Fixed Carter-Wegman constants (generated once, committed; NOT runtime
# random — determinism is what makes the oracle comparison possible).
MINHASH_A = (
    1203077917, 676941229, 1544282683, 781635079, 1878296881, 437067853,
    992468437, 1370234153, 215964299, 1733423219, 655842451, 1098274847,
    1494906679, 333165319, 1902016099, 844125809,
)
MINHASH_B = (
    472882027, 1394749387, 904462969, 1713470429, 125731237, 1581509281,
    739581139, 280812923, 1946515019, 584304361, 1170596743, 47297497,
    1642477481, 917391733, 364997803, 1256224417,
)
N_HASHES = 16
N_BANDS = 4          # 4 bands × 4 rows: catches jaccard ≳ 0.5 reliably
ROWS_PER_BAND = 4
# largest LSH bucket before the job aborts: at 100k ids one bucket is
# ~5×10⁹ candidate pairs — already pathological; a real corpus hits this
# only via a degenerate key (empty docs, boilerplate) that exact dedup
# should have removed
MAX_BUCKET_SIZE = 100_000
SHINGLE_SIZE = 3


def _hash28(c: str) -> str:
    """Portable 28-bit integer hash of a string (md5-derived), as Spark
    SQL text over the SQL text ``c``."""
    return f"CAST(conv(substring(md5({c}), 1, 7), 16, 10) AS BIGINT)"


def _hash28_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 7))::BIGINT"


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Group identical normalized content; emit one row per content hash
    with the canonical (min) id and the duplicate count.

    One shuffle on a 32-byte key; at 100 TB this is the cheapest possible
    exact dedup (hash-partitioned groupBy, map-side partial agg)."""
    from aresdb_spark.operators.text import fingerprint

    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_copies"))
    )


def exact_duplicates_oracle_sql(table: str = "documents", text_col: str = "text",
                                id_col: str = "doc_id") -> str:
    from aresdb_spark.operators.text import fingerprint_oracle_sql

    fp = fingerprint_oracle_sql(text_col)
    return (f"SELECT {fp} AS fp, min({id_col}) AS canonical_id, "
            f"count(*) AS n_copies FROM {table} GROUP BY 1")


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Return the deduplicated set (keep the min-id row per content)."""
    from aresdb_spark.operators.text import fingerprint

    w = df.select("*", fingerprint(F.col(text_col)).alias("__fp"))
    keep = w.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return w.join(keep, ["__fp", id_col], "inner").drop("__fp")


# ---------------------------------------------------------------------------
# Shingles + MinHash signatures (pure Column expressions)
# ---------------------------------------------------------------------------


def _token_runs(text: Column, n: int, stride: int = 1,
                fn: str = "") -> Column:
    """Distinct runs of ``n`` lowercased tokens starting every ``stride``
    tokens, each joined by spaces and passed through the SQL function
    ``fn``; docs shorter than ``n`` tokens contribute their full token
    string as one run. The token array is let-bound so tokenization runs
    once per row even though the body references it three times."""
    return _let(tokens(F.lower(text)), (
        f"tk -> CASE WHEN size(tk) >= {n} THEN array_distinct(transform("
        f"sequence(1, greatest(size(tk) - {n - 1}, 1), {stride}), "
        f"i -> {fn}(array_join(slice(tk, i, {n}), ' ')))) "
        f"ELSE array({fn}(array_join(tk, ' '))) END"))


def shingles(text: Column, n: int = SHINGLE_SIZE) -> Column:
    """Word n-gram shingles of the lowercased text; docs shorter than n
    tokens contribute their full token string as a single shingle."""
    return _token_runs(text, n)


def shingles_oracle_sql(col: str, n: int = SHINGLE_SIZE) -> str:
    toks = tokens_oracle_sql(f"lower({col})")
    # duckdb list slicing is 1-based inclusive: arr[i:i+n-1] = n elements
    grams = (f"list_distinct([array_to_string(({toks})[i:i+{n - 1}], ' ') "
             f"for i in range(1, len({toks}) - {n - 2})])")
    return (f"(CASE WHEN len({toks}) >= {n} THEN {grams} "
            f"ELSE [array_to_string({toks}, ' ')] END)")


def hashed_shingles(text: Column, n: int = SHINGLE_SIZE) -> Column:
    return _hof("transform", shingles(text, n), f"s -> {_hash28('s')}")


def hashed_shingles_sql(col: str, n: int = SHINGLE_SIZE) -> str:
    return f"list_transform({shingles_oracle_sql(col, n)}, s -> {_hash28_sql('s')})"


# The permutations as one literal array of (a, b) structs, so a signature
# is one transform over it rather than one Python-built lambda per hash.
_PERMUTATIONS_SQL = "array(" + ", ".join(
    f"named_struct('a', {a}, 'b', {b})"
    for a, b in zip(MINHASH_A, MINHASH_B)) + ")"


def minhash_signature(text: Column, n_hashes: int = N_HASHES) -> Column:
    """Array of n_hashes MinHash values. Scan-side, shuffle-free.

    The hashed-shingle array is let-bound: tokenize/shingle/md5 run ONCE
    per row. The signature is then ONE transform over the literal
    (A_j, B_j) array, each element the min of
    ``transform(hs, h -> (a*h + b) % P)`` over the ~dozens of 28-bit
    hashes — built as Spark-SQL text, so the expression costs a fixed
    handful of Py4J round trips, whatever ``n_hashes`` is."""
    return _let(hashed_shingles(text), (
        f"hs -> transform(slice({_PERMUTATIONS_SQL}, 1, {n_hashes}), "
        f"p -> array_min(transform(hs, h -> (p.a * h + p.b) % {P})))"))


def minhash_signature_sql(col: str, n_hashes: int = N_HASHES) -> str:
    hs = hashed_shingles_sql(col)
    parts = [
        f"list_min(list_transform({hs}, h -> (({MINHASH_A[j]}::BIGINT * h + {MINHASH_B[j]}) % {P})))"
        for j in range(n_hashes)
    ]
    return "[" + ", ".join(parts) + "]"


# ---------------------------------------------------------------------------
# LSH banding → candidate pairs → Jaccard verification
# ---------------------------------------------------------------------------


def _bands(n_bands: int, rows_per_band: int, fn: str = "") -> str:
    """SQL text over column ``sig``: one transform over
    ``sequence(0, n_bands - 1)`` giving the array of (band, bh) structs
    that the band explode unnests. ``bh`` is the band hash, md5 over the
    band's slice of the signature — THE persisted-store format; both the
    in-corpus LSH and the incremental store derive buckets from this one
    definition — passed through the SQL function ``fn``."""
    return (f"transform(sequence(0, {n_bands - 1}), b -> named_struct("
            f"'band', b, 'bh', {fn}(md5(array_join(transform(slice(sig, "
            f"b * {rows_per_band} + 1, {rows_per_band}), "
            f"x -> CAST(x AS STRING)), '-')))))")


# Every (id_a, id_b) pair of a sorted ``ids`` bucket, id_a first, as the
# struct column ``p``.
_BUCKET_PAIRS = (
    "explode(flatten(transform(ids, (a, i) -> transform(slice(ids, i + 2, "
    "greatest(0, size(ids) - i - 1)), "
    "b -> named_struct('id_a', a, 'id_b', b))))) AS p")


def _band_selects_sql(src: str, n_bands: int, rows_per_band: int,
                      extra: str = "") -> str:
    """DuckDB twin of _bands, one SELECT per band over ``src``
    (which must expose ``id`` and ``sig``)."""
    return "\nUNION ALL\n".join(
        f"  SELECT id, {extra}{b} AS band, "
        f"md5(array_to_string(sig[{b * rows_per_band + 1}:"
        f"{(b + 1) * rows_per_band}], '-')) AS bh FROM {src}"
        for b in range(n_bands))


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           n_bands: int = N_BANDS,
                           rows_per_band: int = ROWS_PER_BAND,
                           max_bucket_size: int = MAX_BUCKET_SIZE) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    Plan shape: scan → explode to (doc, band, band_hash) [n_bands rows
    per doc] → ONE shuffle on (band, band_hash) → collect each bucket's
    ids → generate in-bucket pairs scan-side → distinct. Signatures are
    computed exactly once (a bucket self-join would recompute them on
    both sides and shuffle twice). Pair count is Σ bucket² either way —
    tiny unless everything collides (i.e., actual dups); a degenerate
    mega-bucket (a million identical docs) blows up any LSH variant and
    should be removed by exact dedup first.

    ``max_bucket_size`` enforces that contract at scale: a bucket larger
    than the cap fails LOUDLY at execution time (an in-plan assert — the
    collect_list of a planted degenerate key would otherwise OOM one
    task and the bucket² pair expansion would build a 10¹²-row plan)
    instead of silently truncating candidates. Raise the cap explicitly
    if a corpus legitimately needs bigger buckets."""
    sig = minhash_signature(F.col(text_col))
    base = _parallelize(df.select(F.col(id_col).alias("id"), F.col(text_col))) \
        .select("id", sig.alias("sig"))

    # the exchange key carries unhex(md5) — the same 128-bit value as 16
    # raw bytes instead of a 32-char hex UTF8String (r16, VERDICT r15
    # directive 3; guide §2.3 "narrower types"). unhex is injective on
    # md5 hex output, so the (band, bh) buckets — and every candidate
    # pair — are byte-identical to the hex form (verified: equal
    # candidate counts at x10/x100, artifacts/q7_bandkey_*_r16.json;
    # measured shuffle bytes -11..-14%, wall a wash on local[32] where
    # no NIC prices the exchange). The PERSISTED store format
    # (signature_bands) keeps the hex string — only this transient
    # in-corpus exchange narrows.
    bands = base.selectExpr(
        "id", f"explode({_bands(n_bands, rows_per_band, 'unhex')}) AS bb"
    ).select("id", "bb.band", "bb.bh")

    buckets = (bands.groupBy("band", "bh")
               .agg(F.array_sort(F.collect_list("id")).alias("ids"))
               .filter(F.size("ids") >= 2))
    # mega-bucket guard: executes inside the plan (assert_true returns
    # NULL when the predicate holds, so the filter keeps every row and
    # cannot be optimized away); an oversized bucket aborts the job with
    # a message naming this parameter
    buckets = buckets.filter(F.assert_true(
        F.size("ids") <= max_bucket_size,
        F.concat(
            F.lit("LSH bucket of size "), F.size("ids").cast("string"),
            F.lit(f" exceeds max_bucket_size={max_bucket_size}; run exact "
                  "dedup first or raise max_bucket_size"))).isNull())
    return (buckets.selectExpr(_BUCKET_PAIRS)
            .select("p.id_a", "p.id_b").distinct())


def ngram_jaccard(df_pairs: DataFrame, docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = SHINGLE_SIZE) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (verification stage).

    Joins the (small) candidate set back to the docs — at scale the pair
    set is ≪ corpus, so these are cheap shuffles; shingle sets are
    recomputed scan-side rather than shuffled with the signatures."""
    sh = _parallelize(docs.select(F.col(id_col).alias("id"), F.col(text_col))) \
        .select("id", shingles(F.col(text_col), n).alias("sh"))
    # |A∪B| = |A|+|B|-|A∩B| for the (distinct) shingle arrays — the
    # let-bound intersect size replaces materializing a second merged
    # array per pair (r15; the verify stage is the q7 x100 wall and
    # array_union allocated ~|A|+|B| strings per candidate). Integer
    # cardinalities are unchanged, so every jaccard double — and the
    # DuckDB oracle match — is bit-identical.
    score = _let(F.size(F.array_intersect("sh_a", "sh_b")),
                 lambda i: i.cast("double")
                 / (F.size("sh_a") + F.size("sh_b") - i).cast("double"))
    out = (
        df_pairs
        .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .select("id_a", "id_b", score.alias("jaccard"))
    )
    return out


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        threshold: float = 0.5,
                        n: int = SHINGLE_SIZE,
                        sample_mod: int | None = None) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard near-dup pairs — the brute-force
    baseline of the MinHash-LSH family (the same role sim_cosine_topk
    plays for IVF): every pair, no banding, so an LSH-implementation
    bug can't hide in a matching oracle.

    O(n²) BY DESIGN: run it on a bounded slice (``sample_mod`` keeps
    ``id % sample_mod == 0``, a deterministic sample) to validate the
    banded pipeline; at 100 TB the scale path is
    ``minhash_near_duplicates`` (candidates ≪ all pairs). Returns
    (id_a, id_b, jaccard) with id_a < id_b."""
    base = df.select(F.col(id_col).alias("id"),
                     shingles(F.col(text_col), n).alias("sh"))
    if sample_mod is not None:
        base = base.filter(F.col("id") % sample_mod == 0)
    a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (a.join(b, F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    _let(F.size(F.array_intersect("sh_a", "sh_b")),
                         lambda i: i.cast("double")
                         / (F.size("sh_a") + F.size("sh_b") - i)
                         .cast("double"))
                    .alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def ngram_jaccard_pairs_oracle_sql(table: str = "documents",
                                   text_col: str = "text",
                                   id_col: str = "doc_id",
                                   threshold: float = 0.5,
                                   n: int = SHINGLE_SIZE,
                                   sample_mod: int | None = None) -> str:
    sh = shingles_oracle_sql(text_col, n)
    pred = (f"WHERE {id_col} % {sample_mod} = 0"
            if sample_mod is not None else "")
    return f"""
WITH s AS (SELECT {id_col} AS id, {sh} AS sh FROM {table} {pred})
SELECT a.id AS id_a, b.id AS id_b,
       (len(list_intersect(a.sh, b.sh))::DOUBLE
        / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE) AS jaccard
FROM s a JOIN s b ON a.id < b.id
WHERE (len(list_intersect(a.sh, b.sh))::DOUBLE
        / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE) >= {threshold}
"""


def minhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            threshold: float = 0.5,
                            max_bucket_size: int = MAX_BUCKET_SIZE
                            ) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates → exact Jaccard ≥
    threshold. Returns (id_a, id_b, jaccard) sorted pairs.

    Verify scope (VERDICT r10 directive 4): the exact-Jaccard stage
    re-shingles only the docs that APPEAR in a candidate pair. The
    candidate set is materialized once (localCheckpoint — it is ≪
    corpus by LSH design, and Catalyst does not dedupe common
    subplans, so without the cut the verify joins would recompute the
    whole candidate pipeline per leg), its id set broadcasts as a semi
    filter on the docs, and shingles are computed for that slice only.
    Before this the verify stage streamed the FULL corpus through the
    shingle expression twice (accepted in PERF_NOTES since r4) — a
    per-corpus cost where a per-candidate one suffices; the candidate
    stage is now the only full-corpus pass."""
    cand = minhash_lsh_candidates(df, text_col, id_col,
                                  max_bucket_size=max_bucket_size) \
        .localCheckpoint()
    ids = (cand.select(F.col("id_a").alias("id"))
           .unionByName(cand.select(F.col("id_b").alias("id")))
           .distinct())
    # both sides aliased (ADVICE r11 #5): an unqualified F.col("id")
    # is ambiguous the moment the caller's docs already carry an "id"
    # column (or id_col="id") — AnalysisException where the hotcold
    # probes' qualified form works for any column name
    cand_docs = df.alias("d").join(
        F.broadcast(ids.alias("i")),
        F.col(f"d.{id_col}").eqNullSafe(F.col("i.id")), "left_semi")
    return (ngram_jaccard(cand, cand_docs, text_col, id_col)
            .filter(F.col("jaccard") >= threshold))


def minhash_oracle_sql(table: str = "documents", text_col: str = "text",
                       id_col: str = "doc_id", threshold: float = 0.5,
                       n_bands: int = N_BANDS,
                       rows_per_band: int = ROWS_PER_BAND) -> str:
    sig = minhash_signature_sql(text_col)
    sh = shingles_oracle_sql(text_col)
    band_selects = _band_selects_sql("sigs", n_bands, rows_per_band)
    return f"""
WITH sigs AS (
  SELECT {id_col} AS id, {sig} AS sig, {sh} AS sh FROM {table}
),
bands AS (
{band_selects}
),
pairs AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh AND l.id < r.id
)
SELECT p.id_a, p.id_b,
       (len(list_intersect(a.sh, b.sh))::DOUBLE
        / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE) AS jaccard
FROM pairs p
JOIN sigs a ON a.id = p.id_a
JOIN sigs b ON b.id = p.id_b
WHERE (len(list_intersect(a.sh, b.sh))::DOUBLE
        / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE) >= {threshold}
"""


# ---------------------------------------------------------------------------
# Incremental dedup against a persisted signature store (continuous crawl)
# ---------------------------------------------------------------------------


def signature_bands(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", n_bands: int = N_BANDS,
                    rows_per_band: int = ROWS_PER_BAND) -> DataFrame:
    """One row per (doc, band): the banded-index form of the corpus —
    (id, band, bh, bhp, sig). ``bhp`` is the first hex char of the band
    hash, the store's partition key. Signatures are computed once
    scan-side and carried on every band row so the incremental probe
    can estimate Jaccard without a second pass over the corpus."""
    sig = minhash_signature(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), sig.alias("sig"))

    return (base.selectExpr(
        "id", "sig", f"explode({_bands(n_bands, rows_per_band)}) AS bb")
        .select("id", "sig", "bb.band", "bb.bh",
                F.substring("bb.bh", 1, 1).alias("bhp")))


def build_signature_store(df: DataFrame, path: str, text_col: str = "text",
                          id_col: str = "doc_id",
                          mode: str = "overwrite") -> None:
    """Persist a corpus's banded MinHash index so later batches dedup
    against it WITHOUT re-mining the corpus (the continuous-crawl
    pattern: at 100 TB you never re-shingle history — each increment
    costs one partition-pruned store probe plus the new batch's
    signatures).

    Layout (sources/hotcold.py ``SignatureStore``): a ``_state.json``
    pointer, a base ``sig_v<N>/bhp=<c>/`` partitioned by the first hex
    char of the band hash, and an append log of increments
    ``sigbatch/batch=<n>/``. ``bhp`` is the probe's index: a
    ``bhp IN (<probe prefixes>)`` filter prunes the base to the
    partitions the probe's band hashes land in — the persisted-store
    analog of the reference's cuckoo PK probe
    (memstore/cuckoo_index.go:63: a lookup touches O(1) buckets, never
    the whole store).

    ``mode="overwrite"`` writes a NEW base and atomically flips the
    pointer (object-store-safe: no rename of data files, see
    sources/pointer.py); ``mode="append"`` logs an already-deduped
    increment, visible once its ledger entry commits; appending to a
    root with no committed state creates the store. Displaced dirs are
    NOT deleted at the flip: they survive the read-grace window so a
    reader that resolved them mid-probe finishes over intact files
    (``SignatureStore.gc``)."""
    from aresdb_spark.sources.hotcold import SignatureStore

    SignatureStore(path).write(signature_bands(df, text_col, id_col), mode)


def read_signature_store(spark, path: str) -> DataFrame:
    """The committed store — base plus logged increments — as one
    DataFrame of (id, sig, band, bh, bhp) rows."""
    from aresdb_spark.sources.hotcold import SignatureStore

    return SignatureStore(path).read(spark)


def estimated_jaccard(sig_a: Column, sig_b: Column,
                      n_hashes: int = N_HASHES) -> Column:
    """MinHash Jaccard estimate: the fraction of agreeing signature
    components (the standard unbiased estimator — exact shingle sets
    are not available for store docs, by design)."""
    return (F.size(F.filter(F.zip_with(sig_a, sig_b,
                                       lambda x, y: x == y),
                            lambda v: v)).cast("double") / n_hashes)


def incremental_near_duplicates(spark, new_df: DataFrame, store_path: str,
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                threshold: float = 0.5,
                                prune: bool = False) -> DataFrame:
    """New-batch docs that near-duplicate a document already in the
    signature store: (new_id, store_id, est_jaccard).

    Plan shape: partition-pruned store scan → join the BROADCAST banded
    probe on (band, bhp, bh) → distinct pairs → signature-agreement
    estimate. The store is never shuffled and never re-shingled; the
    increment's cost is one store probe + the new batch's scan-side
    signatures. Intra-batch duplicates are a separate
    ``minhash_near_duplicates(new_df)`` call — this operator is the
    history side only.

    ``prune=True`` materializes the (small) probe eagerly, collects its
    distinct ``bhp`` values (at most 16) and filters the store on them
    — partition pruning on the base, a pushed filter on the log — so
    the probe reads O(|probe| × store/16) instead of O(store): the
    reference's cuckoo-lookup cost model (memstore/cuckoo_index.go:63).
    Dynamic partition pruning cannot do this, as the probe carries no
    selective predicate. This is the right mode for continuous-crawl
    micro-batches, where the probe is tiny relative to history; default
    False keeps the operator fully lazy for batch callers."""
    store = read_signature_store(spark, store_path)
    probe = (signature_bands(new_df, text_col, id_col)
             .withColumnRenamed("id", "new_id")
             .withColumnRenamed("sig", "new_sig"))
    if prune:
        probe = probe.localCheckpoint(eager=True)  # compute signatures once
        store = store.filter(F.col("bhp").isin(
            [r[0] for r in probe.select("bhp").distinct().collect()]))
    cand = (store.join(F.broadcast(probe), ["band", "bhp", "bh"])
            .select(F.col("new_id"), F.col("id").alias("store_id"),
                    "new_sig", "sig")
            .distinct())
    return (cand.select(
        "new_id", "store_id",
        estimated_jaccard(F.col("sig"), F.col("new_sig"))
        .alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold))


def compact_signature_store(spark, store_path: str, keep_ids: DataFrame,
                            id_col: str = "doc_id") -> int:
    """Retention for the signature store: rewrite it down to the ids
    still in the corpus (the dedup-index half of the reference's purge
    job — a doc dropped by ``recordRetentionInDays`` must also stop
    matching new crawls, or the store pins deleted content forever).

    One broadcast semi-join of base + log against the keep-set, one
    ``bhp``-partitioned rewrite into a NEW base (one file per ``bhp``
    dir, so the per-increment log dirs fold away); returns the number
    of band rows kept. Like the purge job, run it on the lifecycle
    cadence, not per increment.

    Crash safety: the new base and the emptied ledger become visible in
    ONE pointer commit (sources/pointer.py); a crash before it leaves
    the old base and log fully live. The displaced dirs survive the
    read-grace window, so a reader that resolved them just before the
    flip finishes its probe over intact files (the reference keeps
    displaced archive batch versions until purge the same way,
    memstore/purge.go)."""
    from aresdb_spark.sources.hotcold import SignatureStore

    return SignatureStore(store_path).compact(keep_ids.select(id_col))


def incremental_oracle_sql(old_where: str, new_select: str,
                           text_col: str = "text", id_col: str = "doc_id",
                           threshold: float = 0.5,
                           n_bands: int = N_BANDS,
                           rows_per_band: int = ROWS_PER_BAND,
                           table: str = "documents") -> str:
    """DuckDB twin of build_signature_store + incremental_near_duplicates:
    ``old_where`` filters the store slice; ``new_select`` is a full
    SELECT yielding the new batch as (doc_id, text) columns."""
    sig = minhash_signature_sql(text_col)
    sig_new = minhash_signature_sql("text")

    def bands(src: str) -> str:
        return _band_selects_sql(src, n_bands, rows_per_band,
                                 extra="sig, ")

    agree = (f"(len([i for i in range(1, {N_HASHES + 1}) "
             f"if a.sig[i] = b.sig[i]]) / {N_HASHES}.0)")
    return f"""
WITH old_sigs AS (
  SELECT {id_col} AS id, {sig} AS sig FROM {table} WHERE {old_where}
),
new_docs AS ({new_select}),
new_sigs AS (
  SELECT doc_id AS id, {sig_new} AS sig FROM new_docs
),
old_bands AS (
{bands('old_sigs')}
),
new_bands AS (
{bands('new_sigs')}
),
pairs AS (
  SELECT DISTINCT n.id AS new_id, o.id AS store_id
  FROM old_bands o JOIN new_bands n ON o.band = n.band AND o.bh = n.bh
)
SELECT p.new_id, p.store_id, {agree} AS est_jaccard
FROM pairs p
JOIN old_sigs a ON a.id = p.store_id
JOIN new_sigs b ON b.id = p.new_id
WHERE {agree} >= {threshold}
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def _hash32(c: str) -> str:
    """Full-entropy 32-bit token hash (first 8 md5 hex digits), as SQL
    text over ``c``. SimHash only — MinHash keeps the 28-bit hash so A*h
    stays inside int64."""
    return f"CAST(conv(substring(md5({c}), 1, 8), 16, 10) AS BIGINT)"


def _hash32_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 8))::BIGINT"


def simhash(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over token hashes: bit b is 1 iff Σ_tokens (±1 by token's
    bit b) > 0. Pure Column expressions — scan-side at scale.

    Single fold: ONE aggregate() pass over the token array carrying an
    array<int> of per-bit counters (vs. 32 independent folds, which blew
    up codegen and re-scanned the array per bit)."""
    idx = f"sequence(0, {bits - 1})"
    # 2^b by float pow is exact for b ≤ 31; (h div 2^b) mod 2 = bit b of h
    pow2 = "pow(2.0D, CAST(b AS DOUBLE))"
    sums = (f"aggregate(hs, array_repeat(0, {bits}), (acc, h) -> zip_with("
            f"acc, transform({idx}, b -> CASE WHEN CAST(floor(h / {pow2}) "
            f"AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END), (a, s) -> a + s))")
    hs = _hof("transform", tokens(F.lower(text)), f"t -> {_hash32('t')}")
    return _let(hs, f"hs -> aggregate(zip_with({sums}, {idx}, (s, b) -> CASE "
                f"WHEN s > 0 THEN CAST({pow2} AS BIGINT) ELSE CAST(0 AS "
                f"BIGINT) END), CAST(0 AS BIGINT), (acc, x) -> acc + x)")


def simhash_oracle_sql(col: str, bits: int = SIMHASH_BITS) -> str:
    """Per-bit rendering for DuckDB (semantically identical; integer sums
    are order-independent so the fold structure doesn't matter)."""
    hs = f"list_transform({tokens_oracle_sql(f'lower({col})')}, t -> {_hash32_sql('t')})"
    terms = []
    for b in range(bits):
        s = (f"list_sum(list_transform({hs}, h -> CASE WHEN (h >> {b}) & 1 = 1 "
             f"THEN 1 ELSE -1 END))")
        terms.append(f"(CASE WHEN {s} > 0 THEN {1 << b}::BIGINT ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def simhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            max_hamming: int = 3,
                            bits: int = SIMHASH_BITS,
                            n_blocks: int = 4) -> DataFrame:
    """Near-dups by SimHash hamming distance ≤ max_hamming.

    Pigeonhole blocking: split the signature into n_blocks bit-blocks;
    any pair within hamming ≤ n_blocks-1 shares at least one exact block
    → self-join per block bucket instead of O(n²). Verification by
    bit_count(xor) on candidates only."""
    assert n_blocks > max_hamming, "need n_blocks > max_hamming for pigeonhole"
    block_bits = bits // n_blocks
    mask = (1 << block_bits) - 1
    base = _parallelize(df.select(F.col(id_col).alias("id"), F.col(text_col))) \
        .select("id", simhash(F.col(text_col), bits).alias("sh"))
    blocks = base.select(
        "id", "sh",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("blk"),
                     F.shiftright("sh", b * block_bits).bitwiseAND(F.lit(mask)).alias("bv"))
            for b in range(n_blocks)
        ])).alias("bb"),
    ).select("id", "sh", "bb.blk", "bb.bv")
    l, r = blocks.alias("l"), blocks.alias("r")
    pairs = (
        l.join(r, (F.col("l.blk") == F.col("r.blk")) & (F.col("l.bv") == F.col("r.bv"))
               & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
                F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def simhash_near_duplicates_oracle_sql(table: str = "documents",
                                       text_col: str = "text",
                                       id_col: str = "doc_id",
                                       max_hamming: int = 3,
                                       bits: int = SIMHASH_BITS) -> str:
    """Oracle does the O(n²) exact hamming join (fine at sf0.01) — same
    result set as the blocked Spark plan when n_blocks > max_hamming."""
    sh = simhash_oracle_sql(text_col, bits)
    return f"""
WITH s AS (SELECT {id_col} AS id, {sh} AS sh FROM {table})
SELECT a.id AS id_a, b.id AS id_b, bit_count(xor(a.sh, b.sh))::INT AS hamming
FROM s a JOIN s b ON a.id < b.id
WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# Duplicate clusters (connected components over the near-dup pair graph)
# ---------------------------------------------------------------------------


def duplicate_clusters(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", threshold: float = 0.5,
                       max_rounds: "int | None" = None,
                       algorithm: str = "hashmin") -> DataFrame:
    """Group documents into duplicate clusters: connected components of
    the MinHash near-duplicate graph, labeled by the minimum reachable
    doc id. Returns (id_col, cluster_id) for EVERY input document
    (singletons cluster with themselves).

    A training-data pipeline dedupes by keeping one representative per
    cluster — pairs alone under-delete when duplicates chain (a~b, b~c
    but a!~c must still collapse to one cluster).

    Algorithm: hash-min label propagation — each round every node takes
    the min label among itself and its neighbors; fixpoint in
    O(component diameter) rounds. Near-dup clusters are dense and
    shallow (diameter 2-3 in practice), so this converges in 2-4 shuffle
    rounds; for adversarially long chains at 100 TB swap in
    large-star/small-star (same join shape, fewer rounds).

    Cost shape per round: contribution join + min-groupBy = 2 shuffles,
    both over EDGE-CONNECTED nodes only (singletons — the vast majority
    of a deduped corpus — rejoin once at the end). Convergence is
    detected with a single sum(cluster) aggregate: labels only ever
    decrease, so an unchanged sum IS the fixpoint — no compare join.
    The edge list is checkpointed once; labels per round (lineage
    truncation)."""
    edges = (minhash_near_duplicates(df, text_col, id_col, threshold=threshold)
             .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    # max_rounds=None keeps each variant's own default budget (hash-min
    # 10 = O(diameter); star 20 = O(log n) + its confirmation round)
    if algorithm == "star":
        labels = connected_components_star(
            edges, **({} if max_rounds is None
                      else {"max_rounds": max_rounds}))
    elif algorithm == "hashmin":
        labels = connected_components(
            edges, **({} if max_rounds is None
                      else {"max_rounds": max_rounds}))
    else:
        raise ValueError(f"algorithm must be hashmin|star: {algorithm!r}")
    return (df.select(F.col(id_col).cast("long").alias("id"))
            .join(labels, "id", "left")
            .select(F.col("id").alias(id_col),
                    F.coalesce("cluster", F.col("id")).alias("cluster_id")))


class ConvergenceError(RuntimeError):
    """An iterative operator exhausted its round budget before reaching a
    verified fixpoint. Raised (never silently swallowed) so a caller at
    100 TB scale learns the labels are partial and can re-run with a
    bigger ``max_rounds`` or switch algorithm."""


def connected_components_star(edges: DataFrame,
                              max_rounds: int = 20) -> DataFrame:
    """Large-star/small-star connected components (the two-phase
    alternating algorithm of Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14 — public algorithm): converges in
    O(log n) rounds regardless of component DIAMETER, vs the hash-min
    loop's O(diameter). Same output contract as connected_components:
    one (id, cluster) row per edge-connected node, cluster = component
    minimum.

    Use this variant when components can be long chains (URL redirect
    graphs, citation chains); for shallow near-dup clusters the hash-min
    loop does fewer shuffles per round and wins. Measured crossover
    (PERF_NOTES.md, 50k nodes, local[32]): hash-min wins below component
    diameter ~16, star is effectively flat in diameter (8s at diameter
    512 vs hash-min's 140s).

    Round shape: each phase is a groupBy(node) computing the closed-
    neighborhood minimum plus a co-partitioned join back to the edges
    (both sides hashed on the same key — AQE plans one exchange each).
    No neighbor list is ever materialized, so a 100M-degree hub streams
    through the aggregate instead of blowing one task's memory (the
    reason this is NOT collect_list + explode).

    - large-star: for each node u, link every neighbor v > u to
      m = min(N(u) + [u]).
    - small-star: link every neighbor v <= u (and u itself) to m.
    Fixpoint: the edge list is a set of stars whose centers are the
    component minima; labels read directly off the final edges."""
    # normalize: undirected edge set as (big, small) pairs, no loops
    e = (edges.select(F.greatest("src", "dst").alias("u"),
                      F.least("src", "dst").alias("v"))
         .filter(F.col("u") != F.col("v"))
         .distinct().localCheckpoint(eager=True))
    prev_sig, prev_e, converged = None, None, False
    for _ in range(max_rounds):
        # large-star: over symmetric adjacency, link each strictly larger
        # neighbor w of u to m(u) = min of u's closed neighborhood
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m"))
        e = (sym.join(mins, "u")
             .filter(F.col("v") > F.col("u"))
             .filter(F.col("v") != F.col("m"))
             .select(F.col("v").alias("u"), F.col("m").alias("v"))
             .distinct())
        # small-star: over the (big → small) direction, link every smaller
        # neighbor and u itself to m(u)
        mins = e.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m"))
        relinked = (e.join(mins, "u")
                    .select(F.col("v").alias("w"), F.col("m")))
        self_links = mins.select(F.col("u").alias("w"), F.col("m"))
        e = (relinked.union(self_links)
             .filter(F.col("w") != F.col("m"))
             .select(F.greatest("w", "m").alias("u"),
                     F.least("w", "m").alias("v"))
             .distinct().localCheckpoint(eager=True))
        # convergence: cheap signature as a PRE-check only — a matching
        # signature is then CONFIRMED by exact edge-set equality (both
        # sides are distinct sets; equal counts + empty exceptAll ⇒ equal
        # sets), so a signature collision can never end the loop early
        sig = e.agg(F.count("*").alias("n"),
                    F.sum(F.col("u") + F.col("v")).alias("s"),
                    F.sum(F.col("v") * F.col("v")).alias("q")).collect()[0]
        sig = (sig["n"], sig["s"], sig["q"])
        if sig == prev_sig and prev_e is not None \
                and e.exceptAll(prev_e).isEmpty():
            converged = True
            break
        prev_sig, prev_e = sig, e
    if not converged:
        raise ConvergenceError(
            f"connected_components_star: no fixpoint within "
            f"max_rounds={max_rounds} (theory bound is O(log n) rounds; "
            f"raise max_rounds)")
    # fixpoint edges are (member, center) stars; centers label themselves
    members = e.select(F.col("u").alias("id"), F.col("v").alias("cluster"))
    centers = e.select(F.col("v").alias("id")).distinct()         .withColumn("cluster", F.col("id"))
    return members.union(centers).groupBy("id").agg(
        F.min("cluster").cast("long").alias("cluster"))


def connected_components(edges: DataFrame, max_rounds: int = 10,
                         stats: "dict | None" = None) -> DataFrame:
    """Hash-min label propagation over an (src, dst) edge list → one
    (id, cluster) row per edge-connected node, cluster = min reachable id.

    Labels are seeded with round 1's result directly (min of self and
    neighbors, one groupBy over the edge list — no join round), and the
    seed sum primes the convergence check, so a diameter-2 graph (the
    near-dup norm) finishes after a single join round.

    ``stats``: optional dict the call fills with {"rounds", "round_secs"}
    — per-round attribution for the bench payload (VERDICT r10
    directive 6: q12's scale quotient must name its rounds), zero cost
    when not requested (the per-round collect already happens for the
    convergence check)."""
    import time as _time

    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    sym = sym.localCheckpoint(eager=True)

    t0 = _time.perf_counter()
    labels = (sym.groupBy(F.col("src").alias("id"))
              .agg(F.least(F.min("src"), F.min("dst")).cast("long")
                   .alias("cluster"))
              .localCheckpoint(eager=True))
    prev_sum = labels.agg(F.sum("cluster")).collect()[0][0]
    round_secs = [round(_time.perf_counter() - t0, 4)]   # seed round
    converged = prev_sum is None  # no edges ⇒ no labels ⇒ trivially done
    for _ in range(max_rounds):
        if converged:
            break
        t0 = _time.perf_counter()
        contrib = (sym.join(labels, sym.dst == labels.id)
                   .select(F.col("src").alias("id"), F.col("cluster")))
        labels = (contrib.union(labels)
                  .groupBy("id").agg(F.min("cluster").alias("cluster"))
                  .localCheckpoint(eager=True))
        # labels are monotone non-increasing, so an unchanged sum IS the
        # exact fixpoint (any change strictly decreases the sum)
        new_sum = labels.agg(F.sum("cluster")).collect()[0][0]
        round_secs.append(round(_time.perf_counter() - t0, 4))
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if stats is not None:
        stats["rounds"] = len(round_secs)
        stats["round_secs"] = round_secs
    if not converged:
        raise ConvergenceError(
            f"connected_components: no fixpoint within max_rounds="
            f"{max_rounds} (rounds needed = component diameter; raise "
            f"max_rounds or use connected_components_star)")
    return labels


def duplicate_clusters_oracle_sql(table: str = "documents",
                                  text_col: str = "text",
                                  id_col: str = "doc_id",
                                  threshold: float = 0.5) -> str:
    """Transitive closure by recursive CTE (exact; sf0.01 scale only):
    cluster id = min(id, min reachable id)."""
    pairs = minhash_oracle_sql(table, text_col, id_col, threshold)
    return f"""
WITH RECURSIVE np AS ({pairs}),
e AS (SELECT id_a AS a, id_b AS b FROM np
      UNION SELECT id_b, id_a FROM np),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
),
m AS (SELECT a AS id, min(b) AS mn FROM reach GROUP BY a)
SELECT d.{id_col}, least(d.{id_col}, coalesce(m.mn, d.{id_col})) AS cluster_id
FROM {table} d LEFT JOIN m ON m.id = d.{id_col}
"""


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = SHINGLE_SIZE) -> DataFrame:
    """Remove training docs that overlap an evaluation benchmark: any
    corpus document sharing at least one word n-gram shingle with any
    benchmark document is dropped (the standard n-gram-collision test-set
    decontamination rule).

    Scale shape: shingles are scan-side expressions on both sides; the
    benchmark shingle set is small (benchmarks are thousands of docs, not
    billions) so it broadcasts — the 100 TB corpus is filtered with a
    broadcast semi/anti join, no corpus shuffle. The corpus-side explode
    multiplies rows by ~tokens-per-doc before the semi join; at extreme
    scale, aggregate to `arrays_overlap` against a collected set instead."""
    bench_sh = (benchmark
                .select(F.explode(shingles(F.col(text_col), n)).alias("sh"))
                .distinct())
    corpus_sh = corpus.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("sh"))
    contaminated = (corpus_sh
                    .join(F.broadcast(bench_sh), "sh", "semi")
                    .select(id_col).distinct())
    return corpus.join(contaminated, id_col, "left_anti")


def decontaminate_oracle_sql(corpus_pred: str, bench_pred: str,
                             table: str = "documents",
                             text_col: str = "text", id_col: str = "doc_id",
                             n: int = SHINGLE_SIZE) -> str:
    """Oracle over one `table` split by predicates into corpus/benchmark."""
    sh = shingles_oracle_sql(text_col, n)
    return f"""
WITH bench AS (
  SELECT DISTINCT unnest({sh}) AS sh FROM {table} WHERE {bench_pred}
),
corp AS (
  SELECT {id_col}, unnest({sh}) AS sh FROM {table} WHERE {corpus_pred}
),
bad AS (SELECT DISTINCT c.{id_col} FROM corp c JOIN bench b ON b.sh = c.sh)
SELECT {id_col} FROM {table}
WHERE {corpus_pred} AND {id_col} NOT IN (SELECT {id_col} FROM bad)
"""


# ---------------------------------------------------------------------------
# Cross-document shared substrings (windowed exact-match dedup)
# ---------------------------------------------------------------------------
# The window-granular analog of exact-substring training-data dedup
# (Lee et al., "Deduplicating Training Data Makes Language Models
# Better", ACL 2022 — public; their suffix-array ExactSubstr finds
# any-offset matches, this finds every shared run of >= `window` tokens
# at stride-1 window granularity, which is the same detection guarantee
# for runs of that length and a join-friendly shape for Spark).


def _token_windows(text: Column, window: int, stride: int) -> Column:
    """Distinct md5 hashes of every `window`-token run (at `stride`);
    docs shorter than the window contribute their whole text as one
    window, mirroring the shingle convention."""
    return _token_runs(text, window, stride, "md5")


def shared_substring_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", window: int = 20,
                           stride: int = 1) -> DataFrame:
    """Pairs of documents sharing at least one exact `window`-token run,
    with the count of distinct shared windows → (id_a, id_b,
    shared_windows), id_a < id_b.

    Plan shape (the minhash bucket pattern): windows hashed scan-side →
    explode → ONE shuffle on the window hash → in-bucket pair
    generation → one count aggregation per pair. stride=1 detects every
    shared run >= window tokens; a larger stride trades detection of
    misaligned runs (caught only when offsets agree mod stride) for
    stride-x fewer exploded rows — at 100 TB use winnowing-style
    sampling or run exact dedup first, same caveat as LSH's mega-bucket
    note above."""
    w = _parallelize(df.select(F.col(id_col).alias("id"), F.col(text_col))) \
        .select("id", F.explode(
            _token_windows(F.col(text_col), window, stride)).alias("h"))
    buckets = (w.groupBy("h")
               .agg(F.array_sort(F.collect_list("id")).alias("ids"))
               .filter(F.size("ids") >= 2))
    return (buckets.selectExpr(_BUCKET_PAIRS)
            .groupBy("p.id_a", "p.id_b")
            .agg(F.count("*").alias("shared_windows"))
            .select(F.col("id_a"), F.col("id_b"), "shared_windows"))


def shared_substring_pairs_oracle_sql(table: str = "documents",
                                      text_col: str = "text",
                                      id_col: str = "doc_id",
                                      window: int = 20,
                                      stride: int = 1) -> str:
    toks = tokens_oracle_sql(f"lower({text_col})")
    runs = (f"list_distinct([md5(array_to_string(({toks})[i:i+{window - 1}],"
            f" ' ')) for i in range(1, len({toks}) - {window - 2},"
            f" {stride})])")
    windows = (f"(CASE WHEN len({toks}) >= {window} THEN {runs} "
               f"ELSE [md5(array_to_string({toks}, ' '))] END)")
    return f"""
WITH w AS (
  SELECT {id_col} AS id, unnest({windows}) AS h FROM {table}
)
SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared_windows
FROM w a JOIN w b ON a.h = b.h AND a.id < b.id
GROUP BY 1, 2
"""
