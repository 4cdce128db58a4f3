"""``dataprep``: one data-curation job, repeated.

Text path: ``text_stats`` quality filter, then ``duplicate_clusters``
(one representative kept per cluster), then ``pack_text`` over the
survivors. Embedding path: ``semantic_dedup``. Media path:
``media_near_duplicates`` over seeded PNG and WAV payloads with planted
near-duplicate twins. The ``operators`` layer and the Python/Arrow UDF
boundary do all the work; ``aql`` and the stores do none.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.common import Ctx, Phase, run_for, traced_op, traced_span

QUALITY_MIN = 0.6
DUP_THRESHOLD = 0.5
MEDIA_GROUPS = 8      # twin pairs per modality
MIN_JOBS = 2
STAGES = ("text_stats", "duplicate_clusters", "pack_text", "semantic_dedup",
          "media_near_duplicates")


class Dataprep:
    name = "dataprep"
    tables = ("documents", "embeddings")
    # smaller than sf0.1 (5k docs, 2k vectors) so that several jobs fit in
    # one run; the job's Spark job count does not depend on the size
    sizes = {"documents": 1_000, "embeddings": 1_000}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.media_rows, self.planted = inputs.media_rows(ctx.seed,
                                                          MEDIA_GROUPS)
        self.outputs: list[dict] = []

    def setup(self) -> float:
        """Read the text and embedding inputs and load the media corpus,
        each materialized once. Returns its wall seconds."""
        spark, d = self.ctx.spark, self.ctx.data_dir
        t0 = time.perf_counter()
        self.docs = spark.read.parquet(f"{d}/documents.parquet")
        self.emb = spark.read.parquet(f"{d}/embeddings.parquet")
        self.media = spark.createDataFrame(
            self.media_rows, "media_id long, kind string, payload binary")
        self.n_emb = self.emb.count()
        self.docs.count()
        self.media.count()
        return time.perf_counter() - t0

    def warm(self) -> None:
        ph = Phase()
        self._job(ph, None)
        self.verify(ph)
        if ph.failed:
            raise RuntimeError(f"dataprep warm-up failed: {ph.errors}")

    def _job(self, ph: Phase, tracer) -> None:
        from aresdb_spark.operators.chunking import pack_text
        from aresdb_spark.operators.dedup import duplicate_clusters
        from aresdb_spark.operators.multimodal import media_near_duplicates
        from aresdb_spark.operators.similarity import semantic_dedup
        from aresdb_spark.operators.text import text_stats

        ph.attempted += 1
        out = {}
        t0 = time.perf_counter()
        try:
            with traced_op(tracer, "job"):
                with traced_span(tracer, "op.text_stats"):
                    good = (text_stats(self.docs)
                            .filter(F.col("quality") >= QUALITY_MIN)
                            .select("doc_id", "text")
                            .localCheckpoint(eager=True))
                    out["kept"] = good.count()
                with traced_span(tracer, "op.duplicate_clusters"):
                    clusters = duplicate_clusters(
                        good, threshold=DUP_THRESHOLD).localCheckpoint(
                        eager=True)
                    reps = good.join(
                        clusters.filter(F.col("doc_id") == F.col(
                            "cluster_id")).select("doc_id"), "doc_id")
                    out["clusters"] = reps.count()
                with traced_span(tracer, "op.pack_text"):
                    row = (pack_text(reps, ctx_tokens=512, n_shards=16)
                           .agg(F.count("*").alias("bins"),
                                F.sum("n_tokens").alias("tokens"))
                           .first())
                    out["bins"], out["tokens"] = row["bins"], row["tokens"]
                with traced_span(tracer, "op.semantic_dedup"):
                    out["emb_kept"] = (semantic_dedup(self.emb,
                                                      n_rows=self.n_emb)
                                       .filter("keep").count())
                with traced_span(tracer, "op.media_near_duplicates"):
                    out["media_pairs"] = sorted(
                        (r["kind"], r["id_a"], r["id_b"]) for r in
                        media_near_duplicates(self.media).collect())
        except Exception as e:  # a failed job is a measured outcome
            ph.record_failure(f"job: {e}")
            return
        dt = time.perf_counter() - t0
        ph.latencies_ms.append(dt * 1e3)
        ph.busy_s += dt
        self.outputs.append(out)

    def measure(self, seconds: float, tracer=None) -> Phase:
        ph = Phase()
        run_for(seconds, lambda: self._job(ph, tracer), MIN_JOBS)
        return ph

    def layer_figures(self) -> dict:
        """Useful-to-attempted ratio of the MinHash dedup layer on the
        quality-filtered documents: verified pairs per LSH candidate."""
        from aresdb_spark.operators.dedup import (minhash_lsh_candidates,
                                                  minhash_near_duplicates)
        from aresdb_spark.operators.text import text_stats
        good = (text_stats(self.docs).filter(F.col("quality") >= QUALITY_MIN)
                .select("doc_id", "text").localCheckpoint(eager=True))
        cand = minhash_lsh_candidates(good).count()
        pairs = minhash_near_duplicates(good, threshold=DUP_THRESHOLD).count()
        return {"dedup.verified_per_candidate": pairs / cand if cand else 0.0}

    def verify(self, ph: Phase) -> None:
        """Every pass must give the same curated output, and the media
        pairs must be exactly the planted twins."""
        first = self.outputs[0] if self.outputs else None
        for out in self.outputs:
            if out != first:
                ph.record_failure("job output differs between passes")
            if set(out["media_pairs"]) != self.planted:
                ph.record_failure("media pairs differ from the planted twins")
        self.outputs = self.outputs[:1]
