"""STANDING curation — the production composition of the streaming
quality and dedup machinery into one continuously-running job: as
crawl data arrives, each micro-batch is

1. LM-quality scored against a PERSISTED reference model
   (``streaming/quality.py``'s stateless-scoring contract — the model
   is the offline-trained artifact, CCNet's deployment shape),
2. cut at a FIXED precomputed threshold (``lm_score >= cutoff``;
   unscorable docs drop with the tail — no evidence is not good
   evidence in a keep-the-best filter, the ``quality_filter`` rule),
3. optionally NEAR-deduped against a persistent LSH band index of
   every gate-passing document seen so far (``near_index_dir=`` —
   the fuzzy stage a production 100-TB curation stream needs, r12
   verdict task #1; the batch ``pipeline_curate_mix`` recipe's
   near-dup analogue, built from the ``run_index_lsh_stream``
   banding machinery; semantics below),
4. exact-deduped against the PERSISTENT bucketed hash index of every
   previously KEPT document (the ``run_index_dedup_stream``
   machinery: O(batch) probe I/O pruned to the batch's buckets,
   first-arrival wins, within-batch min-id), and
5. assigned its deterministic training SHARD (the ``global_shuffle``
   md5 convention — position-free: within-shard order is a corpus
   property a standing stream deliberately does not claim).

Near-dedup semantics (the min-id band-collision rule): a gate-passing
document DROPS iff any of its MinHash LSH bands is already held by a
SMALLER-id gate-passing document — earlier batches' docs via the
persistent band index, batch-mates via a per-(band, bhash) min. The
band index covers ALL gate-passing documents (kept AND near-dropped):
near-duplication is not transitive, so a doc that collides only with
a near-DROPPED earlier doc must still drop — the corpus already
carries that content. (Physically the index stores only each band
value's MIN-id row — a larger-id row can never win a future min, so
the index is O(distinct band values), not O(gate-passers × bands).)
Quality-REJECTED docs never
band-index (the gate runs first), so a rejected early copy cannot
near-shadow a later acceptable one — the same non-shadowing ordering
the exact stage pins. This rule is monotone in arrival order, so the
union of per-batch survivors under the gated id-ordered replay equals
the one-shot ``score → cut → min-id band near-dedup → min-id exact
dedup → shard`` composition the registered oracle spells.

Survivors land under ``out_dir/batch=<id>/`` as ``(id, text_hash,
lm_score, shard)`` — the append-only feed a training-data loader
consumes shard-by-shard (with the near stage enabled, under
``batch=<id>/kept/``, next to the batch's fresh ``bands/`` — the
LSH runner's two-artifact layout, so a retry can repair BOTH index
appends from the committed batch dir). The quality gate runs BEFORE
the indexes, so rejected documents never consume index space and a
rejected early copy does not shadow a later acceptable one.

Union-of-batches == one-shot: scoring is stateless against the fixed
model, the cutoff is a value comparison, the shard is a pure id hash,
and dedup keeps the first arrival — under the gated id-ordered replay
that is exactly the batch composition ``score → cutoff → min-id dedup
→ shard`` the registered oracle spells.

Delivery contract identical to ``run_index_dedup_stream``:
at-least-once, batch-id idempotent via the REQUIRED durable
checkpoint, index-append-after-output-commit with retry-time repair,
pending erasure tombstones filtered at every probe and append
(``streaming/forget.py``).

Per-trigger action sequence of a fresh batch (near stage on; every
intermediate is computed once):

1. score, cut and within-batch dedup into ``batch_best``, banded into
   ``batch_bands`` (both lazy checkpoints);
2. ONE collect gives both prune lists, the band index's buckets and the
   hash index's. The hash list is ``batch_best``'s before the near drop:
   a superset of the survivors' buckets, safe because the prune is
   coarse and the exact anti-join matches on ``text_hash``;
3. the near decisions: one checkpointed row per batch ``(id, band,
   bhash)`` with the band value's smallest holder and an
   already-indexed flag; the batch's fresh band rows and the near drop
   are filters of it;
4. ``fresh``: the survivors not in the hash index, with their shard;
5. two overlapped writes, ``kept/`` and ``bands/``;
6. ``_SUCCESS``;
7. two order-free index appends, hash and band.

Without the near stage, steps 2-3 shrink to the hash prune collect and
step 5 to the ``kept`` write, whose own ``_SUCCESS`` commits the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import h64
from .dedup import (
    _append_index,
    _assert_modulus_unchanged,
    _collect_bucket_lists,
    _collect_buckets,
    _fs_exists,
    _index_bucket,
    _read_index_pruned,
    _resolve_live_modulus,
    _run_independent,
    _touch_success,
)


def run_curate_stream(
    stream: DataFrame,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    model_dir: str,
    cutoff: float,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    n_buckets: int = 16,
    small_batch: bool = True,
    shard_seed: str = "shuffle-v1",
    near_index_dir: str | None = None,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    scorer: str = "lm",
    clf_model=None,
):
    """Standing curation runner (see the module docstring). ``cutoff``
    is the precomputed score threshold (e.g. the corpus P20 from a
    calibration run — ``plans/pipeline.py::quality_filter``'s exact
    percentile convention, computed offline exactly like the model);
    ``model_dir`` is ``streaming/quality.py::write_lm_model``'s
    layout.

    ``scorer='linear'`` gates with the SUPERVISED quality classifier
    instead of the n-gram LM (``operators/quality_clf.py`` — the
    CCNet/fastText labeled leg; the ``quality_filter(scorer=...)``
    plug-in applied to the standing path): each batch scores
    scan-side (exact int64 margin, zero shuffles, no model table to
    probe — the weights ride the plan as literals), the gate is
    ``margin >= cutoff`` in micro²-units (``cutoff=0`` = the trained
    decision boundary), and the survivors' score column keeps the
    plug-in name ``lm_score`` (the margin cast to double — exact,
    magnitudes sit under 2^53). ``clf_model`` pins a specific
    :class:`~..operators.quality_clf.QualityModel` (e.g. from the
    distributed trainer); default = the deterministic fixture-trained
    artifact. ``model_dir`` is ignored for this scorer.

    ``near_index_dir`` enables the fuzzy near-dup stage: a persistent
    ``(id, band, bhash)`` MinHash LSH band index (the
    ``run_index_lsh_stream`` banding, bucketed by ``ibucket =
    pmod(xxhash64(band, bhash), n_buckets)`` with its own ``_meta``)
    of every gate-passing document. A batch doc drops when any of its
    bands is held by a smaller-id gate-passer (index or batch-mate);
    see the module docstring for why dropped docs' bands still index
    and why this equals the one-shot composition. Per-batch cost is
    O(batch signatures + touched buckets) — the index never rescans.
    """
    if not checkpoint_dir:
        raise ValueError(
            "run_curate_stream requires a durable checkpoint_dir: "
            "batch-id-based retry idempotency is only safe when batch "
            "ids survive restarts"
        )
    if scorer not in ("lm", "linear"):
        raise ValueError(f"scorer must be 'lm' or 'linear', got {scorer}")

    from ..operators.dedup import band_rows, minhash_signatures
    from ..operators.lm import lm_transition_scores
    from ..operators.training_data import _shuffle_hash
    from .quality import read_lm_model

    if scorer == "linear" and clf_model is None:
        from ..operators.quality_clf import train_quality_classifier

        clf_model = train_quality_classifier()

    _resolved: dict = {}
    # the band index has its own _meta / modulus / non-emptiness
    # lifecycle — a SEPARATE memo dict, so a re-bucket of one store
    # can never invalidate (or worse, satisfy) the other's cached
    # layout facts ("nonempty" is per-dict, the r12 scoped-pop lesson)
    _resolved_near: dict = {}
    _model: list = []

    def _repair_band_append(spark, committed_bands: DataFrame, bnb: int):
        """Retry-time repair of a possibly lost band-index append:
        re-append exactly the committed band rows the index lacks
        (keyed (id, band, bhash), pruned to their buckets)."""
        bidx = _read_index_pruned(
            spark, near_index_dir,
            _collect_buckets(committed_bands, bnb, "band", "bhash"),
        )
        missing = committed_bands if bidx is None else committed_bands.join(
            bidx, on=[id_col, "band", "bhash"], how="left_anti"
        )
        _assert_modulus_unchanged(spark, near_index_dir, _resolved_near)
        _append_index(
            missing.withColumn("ibucket", _index_bucket(bnb, "band", "bhash")),
            near_index_dir,
        )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        nb = _resolve_live_modulus(spark, index_dir, n_buckets, _resolved)
        bnb = (
            _resolve_live_modulus(
                spark, near_index_dir, n_buckets, _resolved_near
            )
            if near_index_dir
            else None
        )
        batch_out = out_dir.rstrip("/") + f"/batch={batch_id}"
        kept_out = batch_out + ("/kept" if near_index_dir else "")
        bands_out = batch_out + "/bands"
        if _fs_exists(spark, batch_out + "/_SUCCESS"):
            # retried committed batch: repair possibly lost index
            # appends from the committed artifacts (the exact-dedup
            # runner's branch; _append_index filters pending erasure
            # tombstones). With the near stage on, the batch dir holds
            # BOTH halves: kept/ repairs the hash index, bands/ the
            # band index.
            committed = spark.read.parquet(kept_out).select("text_hash")
            idx = _read_index_pruned(
                spark, index_dir,
                _collect_buckets(committed, nb, "text_hash"),
            )
            missing = committed if idx is None else committed.join(
                idx.select("text_hash"), on="text_hash", how="left_anti"
            )
            _assert_modulus_unchanged(spark, index_dir, _resolved)
            _append_index(
                missing.withColumn(
                    "ibucket", _index_bucket(nb, "text_hash")
                ),
                index_dir,
            )
            if near_index_dir:
                _repair_band_append(
                    spark, spark.read.parquet(bands_out), bnb
                )
            return
        if scorer == "linear":
            from ..operators.quality_clf import classify_quality

            # the margin is scan-side (weights are plan literals — no
            # model table), but its interpreted expression tree is
            # LARGE (the hashed-feature fold under a 64-literal dot):
            # a filter ON the margin column before materialization
            # duplicates that tree into the optimizer (predicate
            # pushdown substitutes it into the condition) and the
            # fixed-point rule passes over the doubled tree cost ~35 s
            # per batch — measured, execution was never the problem.
            # So: checkpoint the THIN (id, margin) frame FIRST (the
            # margin appears exactly once in the optimized plan; the
            # id not-null filter is margin-free and pushes for free),
            # apply the cut on the flat frame, join back for the text
            # — the LM path's exact shape. The checkpoint is LAZY:
            # the plan flattens to a LogicalRDD immediately (the cut
            # still cannot push into the margin tree) and
            # materialization rides batch_best's chain instead of a
            # dedicated job.
            margins = (
                classify_quality(
                    batch_df, model=clf_model,
                    id_col=id_col, text_col=text_col,
                )
                .where(F.col(id_col).isNotNull())
                .select(id_col, "quality_margin")
                .localCheckpoint(eager=False)
            )
            kept = (
                batch_df.join(
                    margins.where(
                        F.col("quality_margin") >= F.lit(int(cutoff))
                    ).select(
                        id_col,
                        F.col("quality_margin").cast("double")
                        .alias("lm_score"),
                    ),
                    id_col,
                )
                .withColumn("text_hash", h64(text_col))
            )
        else:
            if not _model:
                # vocab-scale tables probed every trigger: read once per
                # runner and persist (the centroid-cache rule — a lazy
                # handle would re-scan the model parquet per batch)
                _model.append(
                    tuple(
                        df.persist() for df in read_lm_model(spark, model_dir)
                    )
                )
            scores = lm_transition_scores(
                batch_df, id_col=id_col, text_col=text_col, model=_model[0]
            )
            kept = (
                batch_df.join(
                    scores.where(
                        (F.col("n_bigrams") > 0)
                        & (F.col("lm_score") >= F.lit(float(cutoff)))
                    ).select(id_col, "lm_score"),
                    id_col,
                )
                .withColumn("text_hash", h64(text_col))
            )
        # within-batch dedup: min id per hash carries its own score
        # (scores are per id, so the struct-min tie is value-free; the
        # near stage needs the text too — identical hash means
        # identical text, so the struct-min text is the group's).
        # localCheckpoint-ed LAZILY (the standing-runner rule, minus
        # the dedicated materialization job): the bucket collect, the
        # anti-join, the output write and the index append all start
        # from a flat LogicalRDD instead of re-analyzing the
        # score+hash lineage per action; the first bucket collect is
        # the materializing action. With the near stage on, the group
        # shuffle is an explicit keyed one at full parallelism: it
        # satisfies the groupBy's clustering and leaves the MinHash
        # projection enough partitions that ``_parallelize_scan``
        # passes it through — one exchange instead of two.
        best_cols = [F.col(id_col), F.col("lm_score")] + (
            [F.col(text_col)] if near_index_dir else []
        )
        if near_index_dir:
            kept = kept.repartition(
                spark.sparkContext.defaultParallelism, "text_hash"
            )
        batch_best = (
            kept.groupBy("text_hash")
            .agg(F.min(F.struct(*best_cols)).alias("__m"))
            .select(
                "text_hash",
                F.col(f"__m.{id_col}").alias(id_col),
                F.col("__m.lm_score").alias("lm_score"),
                *([F.col(f"__m.{text_col}").alias(text_col)]
                  if near_index_dir else []),
            )
            .localCheckpoint(eager=False)
        )
        fresh_bands = None
        if not near_index_dir:
            hash_buckets = _collect_buckets(batch_best, nb, "text_hash")
        else:
            # ---- NEAR stage: min-id band-collision dedup vs the
            # persistent band index of every gate-passer so far.
            # ONE signature+banding pass, lazily checkpointed: the
            # bucket collect, the probe and the min fold reuse the
            # flat rows.
            batch_bands = band_rows(
                minhash_signatures(
                    batch_best, text_col, id_col, num_hashes
                ),
                id_col,
                bands,
                rows_per_band,
            ).localCheckpoint(eager=False)
            # ONE collect serves both prune lists. The hash list is
            # taken BEFORE the near drop: a superset of the surviving
            # docs' buckets, and a safe one — the prune is coarse and
            # the exact anti-join matches on text_hash, so an extra
            # bucket adds scan I/O, never rows.
            band_buckets, hash_buckets = _collect_bucket_lists(
                (batch_bands, bnb, ("band", "bhash")),
                (batch_best, nb, ("text_hash",)),
            )
            bidx = _read_index_pruned(
                spark, near_index_dir, band_buckets,
                nonempty_memo=_resolved_near,
            )
            holders = batch_bands.select(
                id_col, "band", "bhash", F.lit(True).alias("__mine")
            )
            if bidx is not None:
                # the bucket prune is coarse; narrow the probed rows to
                # the batch's band values before they meet the batch
                # (no distinct on the prune side: a left-semi join is
                # duplicate-insensitive)
                holders = holders.unionByName(
                    bidx.join(
                        batch_bands.select("band", "bhash"),
                        ["band", "bhash"],
                        "left_semi",
                    ).select(
                        id_col, "band", "bhash", F.lit(False).alias("__mine")
                    )
                )
            # ONE decision row per batch (id, band, bhash), from ONE
            # shuffle on the band value: __gmin is the value's smallest
            # holder across the index and the batch, __held marks a row
            # the index already holds (a redelivered doc's whole band
            # set, or the min-winning overlap of a re-ingest — it must
            # not re-append, the LSH runner's partial-match rule).
            # Checkpointed: the band artifact, the band append and the
            # near drop are all filters of the same materialized rows.
            decided = (
                holders.repartition("band", "bhash")
                .groupBy("band", "bhash", id_col)
                .agg(
                    F.max("__mine").alias("__mine"),
                    (~F.min("__mine")).alias("__held"),
                )
                .withColumn(
                    "__gmin",
                    F.min(id_col).over(Window.partitionBy("band", "bhash")),
                )
                .where(F.col("__mine"))
                .localCheckpoint(eager=False)
            )
            # only MIN-WINNING rows append: a row whose band value
            # already has a smaller-id holder can never win a future
            # per-band min (drop decisions test `holder < id`, and
            # min_at_arrival < p < f chains), so indexing it is dead
            # weight — the index stays O(distinct band values), not
            # O(gate-passers x bands); an exact re-copy of an indexed
            # doc appends nothing at all. The bucket column rides
            # along: the batch artifact write and the index append
            # read the SAME materialized rows (no read-back)
            fresh_bands = (
                decided.where(
                    ~F.col("__held") & (F.col(id_col) == F.col("__gmin"))
                )
                .select(id_col, "band", "bhash")
                .withColumn("ibucket", _index_bucket(bnb, "band", "bhash"))
            )
            # no distinct: consumed by a left-anti join only
            near_drop = decided.where(
                F.col("__gmin") < F.col(id_col)
            ).select(id_col)
            batch_best = batch_best.join(near_drop, id_col, "left_anti")
        idx = _read_index_pruned(
            spark, index_dir, hash_buckets, nonempty_memo=_resolved,
        )
        fresh = batch_best if idx is None else batch_best.join(
            idx.select("text_hash"), on="text_hash", how="left_anti"
        )
        fresh = fresh.select(id_col, "text_hash", "lm_score").withColumn(
            "shard",
            F.pmod(_shuffle_hash(id_col, shard_seed), F.lit(n_shards))
            .cast("int"),
        ).localCheckpoint(eager=False)
        if near_index_dir:
            # two order-free sub-artifacts overlapped, then the batch
            # dir's OWN _SUCCESS commits last (the LSH runner's
            # protocol) — a retry can repair BOTH index appends from
            # the committed halves
            _run_independent(
                lambda: fresh.write.mode("overwrite").parquet(kept_out),
                lambda: fresh_bands.drop("ibucket")
                .write.mode("overwrite")
                .parquet(bands_out),
            )
            _touch_success(spark, batch_out)
        else:
            fresh.write.mode("overwrite").parquet(kept_out)
        _assert_modulus_unchanged(spark, index_dir, _resolved)
        if near_index_dir:
            _assert_modulus_unchanged(
                spark, near_index_dir, _resolved_near
            )
        # the two appends are order-free: the retry branch repairs the
        # hash index from kept/ and the band index from bands/, each
        # with its own anti-join — neither repair reads the other store
        _run_independent(
            lambda: _append_index(
                fresh.select("text_hash").withColumn(
                    "ibucket", _index_bucket(nb, "text_hash")
                ),
                index_dir,
                small_batch=small_batch,
            ),
            *(
                [
                    lambda: _append_index(
                        fresh_bands, near_index_dir,
                        small_batch=small_batch,
                    )
                ]
                if near_index_dir
                else []
            ),
        )

    writer = (
        stream.writeStream.foreachBatch(_process)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
