"""The composed corpus-cleaning pipeline (dedup ∘ quality ∘ lang ∘ sample).

Individual operators are verified one by one elsewhere; THIS plan is
the shape a 100 TB pretraining-data curation job actually runs — the
standard cleaning recipe (C4/Gopher lineage) as ONE composed
DataFrame job:

1. **quality filter** — token/punctuation/stopword heuristics
   (functions/text.py), scan-side codegen expressions;
2. **language filter** — stopword-overlap argmax, also scan-side;
3. **exact dedup** — keep the lowest ``doc_id`` per text hash
   (one window over the 8-byte ``h64(text)``);
4. **deterministic sample** — md5-threshold on the doc id
   (partitioning/engine-stable, same convention as
   ``operators/sampling.py``).

Composition order IS the optimization: the text-derived filters (1)
and (2) commute with the text-keyed dedup — every member of a
duplicate group shares the text, so the group passes or fails as one
— and are therefore applied BEFORE the dedup exchange, so the only
shuffle in the whole pipeline sees just the quality-surviving,
in-language slice of the corpus. The sample keys on ``doc_id`` (not
text) so it must stay after dedup. Net plan: scan-side everything,
ONE exchange, then a residual scan-side filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_rows

from ..functions.hashing import h64
from ..functions.text import with_lang_id, with_text_stats


def _cleaned(
    documents: DataFrame,
    min_quality: float,
    lang: str,
    keep_bp: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """The shared cleaning chain (quality filter → language filter →
    exact dedup → deterministic sample) used by BOTH
    :func:`clean_corpus` and :func:`curate_and_shard` — one source of
    truth so a semantics change (sample hash, dedup tie-break, quality
    formula inputs) cannot silently diverge between the two. Returns
    the survivors with every scored column still attached; callers
    project what they need."""
    # NULL ids are dropped UP FRONT by an explicit rule: left in, a
    # null id would WIN its text's dedup group (NULLS FIRST in the
    # rank order) and then be silently discarded by the id-hash sample
    # (h64(NULL) is NULL), deleting the whole duplicate group from the
    # corpus with no stated reason.
    scored = with_lang_id(
        with_text_stats(
            documents.where(F.col(id_col).isNotNull()), text_col
        ),
        text_col,
    )
    filtered = scored.where(
        (F.col("quality_score") >= min_quality)
        & (F.col("lang_pred") == lang)
    )
    w = Window.partitionBy(h64(F.col(text_col))).orderBy(id_col)
    kept = (
        filtered.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    return kept.where(
        h64(F.concat(F.lit("clean:"), F.col(id_col).cast("string")))
        % 10000
        < keep_bp
    )


def clean_corpus(
    documents: DataFrame,
    min_quality: float = 0.5,
    lang: str = "en",
    keep_bp: int = 9000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cleaned corpus: ``(doc_id, n_tokens, quality_score, lang_pred)``
    for documents that pass quality ≥ ``min_quality``, predicted
    language ``lang``, exact dedup (lowest id wins), and a
    ``keep_bp``/10000 deterministic sample.
    """
    return _cleaned(
        documents, min_quality, lang, keep_bp, text_col, id_col
    ).select(id_col, "n_tokens", "quality_score", "lang_pred")


def curate_survivors(
    documents: DataFrame,
    min_quality: float = 0.5,
    lang: str = "en",
    keep_bp: int = 9000,
    cap: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """The curation chain UP TO the surviving documents (quality →
    lang → exact dedup → sample → two-phase per-source cap), returned
    as ``(doc_id, text, source)`` — the public single source of truth
    shared by :func:`curate_and_shard` and the curation CLI."""
    from ..operators.training_data import cap_per_source

    sampled = _cleaned(
        documents, min_quality, lang, keep_bp, text_col, id_col
    ).select(id_col, text_col, source_col)
    return cap_per_source(
        sampled,
        source_col=source_col,
        key_col=id_col,
        cap=cap,
        presort_cap=4 * cap,
    )


def stub_chunk_embedding(hash_col: str, dims: int) -> F.Column:
    """Deterministic stand-in embedding derived from the chunk hash:
    component ``d`` = ``(h64('{hash}:{d}') mod 2001 - 1000) / 1000``
    as ``float`` — the same md5-derived-integer convention as the SRP
    planes, so a SQL oracle reproduces every component bit-for-bit.

    This is the pipeline's ONE swap point for a real encoder: a
    production deployment replaces this column with a Pandas-UDF
    (``mapInPandas``, Arrow-batched) model call over the chunk text —
    the schema (``array<float>``), partitioning, and every downstream
    stage (SRP bucketing, dedup keying) are already the real thing
    and stay unchanged. The container has no embedding model, so the
    stub keeps the composed plan end-to-end verifiable instead of
    stubbing the whole pipeline."""
    return F.expr(
        f"transform(sequence(0, {dims - 1}), d -> cast("
        f"((cast(conv(substring(md5(concat(cast({hash_col} as string),"
        f" ':', cast(d as string))), 1, 15), 16, 10) as bigint)"
        f" % 2001) - 1000) / 1000.0 as float))"
    )


def rag_index(
    documents: DataFrame,
    chunk_chars: int = 256,
    overlap: int = 64,
    dims: int = 16,
    n_planes: int | None = 6,
    n_tables: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The RAG-ingestion pipeline as ONE composed job: overlapping
    chunking → exact chunk-hash dedup → (stub) embedding → SRP bucket
    index. The retrieval-side twin of :func:`curate_and_shard` — what
    a production corpus runs to build the ANN index that
    ``ann_topk_batched`` then probes.

    Stages (each the already-verified operator):

    1. ``chunk_documents`` — scan-side ``sequence``/``explode``/
       ``substring``; NULL-text docs excluded at the source.
    2. exact dedup on ``chunk_hash`` — overlapping chunks repeat
       across near-identical docs; first ``(doc_id, chunk_idx)`` wins
       (deterministic tie-break). ONE exchange on the 8-byte hash.
    3. :func:`stub_chunk_embedding` — scan-side; the real-encoder
       swap point (see its docstring).
    4. ``srp_signatures`` — per-(chunk, table) SRP bucket; the index
       a batched query side joins on ``(table, bucket)``.

    Output: one row per (surviving chunk, table) —
    ``(chunk_hash, doc_id, chunk_idx, chunk_start, table, bucket)``.

    Shuffle census: the dedup exchange on ``chunk_hash`` is the ONLY
    data motion; chunking, embedding, and bucketing are all scan-side
    — at 100 TB the index build moves each surviving chunk's 8-byte
    hash + pointer exactly once, never the text or the vectors.

    NULL-id docs are dropped by explicit rule (same doctrine as
    ``_cleaned``): a NULL id would win its chunk-hash dedup group
    under Spark's NULLS FIRST ordering (DuckDB orders NULLS LAST —
    the engines even disagree), poisoning the index with pointers
    that cannot be followed back to a document.
    """
    from ..operators.similarity import srp_signatures
    from ..operators.training_data import chunk_documents

    chunks = chunk_documents(
        documents.where(F.col(id_col).isNotNull()),
        text_col, id_col, chunk_chars, overlap,
    )
    w = Window.partitionBy("chunk_hash").orderBy(id_col, "chunk_idx")
    deduped = (
        chunks.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    embedded = deduped.select(
        F.struct(
            "chunk_hash", F.col(id_col), "chunk_idx", "chunk_start"
        ).alias("__ref"),
        stub_chunk_embedding("chunk_hash", dims).alias("embedding"),
    )
    if n_planes is None:
        from ..operators.similarity import auto_planes

        n_planes = auto_planes(embedded.count())
    sigs = srp_signatures(
        embedded,
        n_planes=n_planes,
        id_col="__ref",
        vec_col="embedding",
        dims=dims,
        n_tables=n_tables,
    )
    return sigs.select(
        F.col("__ref.chunk_hash").alias("chunk_hash"),
        F.col(f"__ref.{id_col}").alias(id_col),
        F.col("__ref.chunk_idx").alias("chunk_idx"),
        F.col("__ref.chunk_start").alias("chunk_start"),
        "table",
        "bucket",
    )


def curate_and_shard(
    documents: DataFrame,
    min_quality: float = 0.5,
    lang: str = "en",
    keep_bp: int = 9000,
    cap: int = 10,
    n_shards: int = 8,
    budget: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """The WHOLE curation story as one job: raw corpus → quality
    filter → language filter → exact dedup → deterministic sample →
    per-source cap → global shuffle → context-window packing. Returns
    the per-(shard, window) manifest — what a training job reads to
    plan its epoch — and every stage is the already-verified operator
    (clean_corpus stages, operators/training_data.py), so the
    composed DuckDB oracle checks the END-TO-END pipeline, not just
    its parts.

    Shuffle census for the whole pipeline: quality/lang filters are
    scan-side and commute with the text-keyed dedup (its ONE exchange
    sees only survivors); the source cap windows on `source` with the
    two-phase skew guard; the shuffle+pack stages share ONE exchange
    on `shard` (plan-pinned for the standalone operators). Four
    exchanges end-to-end for a six-stage pipeline, each over an
    already-reduced slice.
    """
    from ..operators.training_data import pack_context_windows

    capped = curate_survivors(
        documents, min_quality, lang, keep_bp, cap,
        text_col, id_col, source_col,
    )
    return pack_context_windows(
        capped,
        text_col=text_col,
        key_col=id_col,
        n_shards=n_shards,
        budget=budget,
    ).withColumn("shard", F.col("shard").cast("long"))


def curate_mix_shards(
    documents: DataFrame,
    bottom_frac: float = 0.2,
    tau: float = 0.5,
    target_fraction: float = 0.5,
    n_shards: int = 8,
    budget: int = 512,
    min_doc_frac: float = 0.05,
    min_docs: int = 2,
    cutoff: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """The full modern curation recipe as ONE composed job — what a
    100 TB pretraining-data pipeline actually runs, every stage the
    already-verified operator:

    1. **clean** — CCNet line-level boilerplate removal
       (``remove_boilerplate_lines``);
    2. **LM-score + percentile cut** — bigram-LM scoring of the
       cleaned text, drop the worst ``bottom_frac``
       (:func:`quality_filter`, ``with_text=True`` so the cleaned
       text flows on without re-running the line-frequency shuffle);
    3. **mix** — temperature-based source resampling over the
       survivors (``temperature_mixture``; counts are computed on the
       survivor population, which is what the recipe means — mixing
       weights follow what is LEFT after quality filtering);
    4. **dedup** — exact dedup on the CLEANED text (boilerplate
       stripping canonicalizes near-identical pages into exact
       duplicates — deduping after cleaning is the whole point of the
       ordering), lowest id wins;
    5. **shard** — deterministic global shuffle + fixed-token-budget
       context-window packing (``pack_context_windows``); output is
       the per-(shard, win) manifest.

    Provenance re-attaches by an id join after stage 2 (the quality
    chain is (id, text)-pure); with duplicate ids carrying different
    texts the join follows SQL multiplicity — and the downstream
    shuffle's ``(hash, id)`` sort key can then tie, so like every
    packer here the manifest is only deterministic on unique-id
    corpora (the engine-wide contract; ``_cleaned`` documents the
    same rule).

    Shuffle census: boilerplate line-frequency exchange + its doc
    regroup, two thin LM aggregates, the one-partition calibration
    window (or none with ``cutoff=``), broadcast-joined mix rates,
    ONE dedup exchange on the 8-byte cleaned-text hash, and the
    packer's shard exchange. Nothing moves the corpus twice; every
    post-clean stage sees only survivors.
    """
    from ..operators.sampling import temperature_mixture
    from ..operators.training_data import pack_context_windows

    kept = quality_filter(
        documents.select(id_col, text_col),
        bottom_frac=bottom_frac,
        min_doc_frac=min_doc_frac,
        min_docs=min_docs,
        cutoff=cutoff,
        id_col=id_col,
        text_col=text_col,
        with_text=True,
    )
    with_src = kept.join(
        documents.select(id_col, source_col),
        id_col,
    )
    mixed = temperature_mixture(
        with_src,
        tau=tau,
        strata_col=source_col,
        id_col=id_col,
        target_fraction=target_fraction,
    )
    w = Window.partitionBy(h64(F.col("text_clean"))).orderBy(id_col)
    deduped = (
        mixed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    return pack_context_windows(
        deduped,
        text_col="text_clean",
        key_col=id_col,
        n_shards=n_shards,
        budget=budget,
    ).withColumn("shard", F.col("shard").cast("long"))


def quality_filter(
    docs: DataFrame,
    bottom_frac: float = 0.2,
    min_doc_frac: float = 0.05,
    min_docs: int = 2,
    cutoff: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_count: int | None = None,
    with_text: bool = False,
    lm_order: int = 2,
    scorer: str = "lm",
) -> DataFrame:
    """The composed CCNet-shaped quality chain, one oracle-checked
    plan: line-level boilerplate removal -> bigram-LM scoring of the
    CLEANED text (self-trained, so boilerplate can't inflate its own
    transition counts) -> drop the worst-scoring ``bottom_frac`` of
    scorable documents. Output: the kept docs as ``(id, lm_score,
    n_bigrams, n_removed)``. Unscorable docs (< 2 tokens after
    cleaning) are dropped with the bottom slice — no evidence is not
    good evidence in a keep-the-best filter.

    ``scorer='linear'`` swaps the self-trained n-gram LM for the
    SUPERVISED linear quality classifier
    (``operators/quality_clf.py::classify_quality`` — fastText/CCNet's
    labeled-classifier leg over the engine's hashed features): the
    score column is the exact-int64 decision margin (cast to double —
    magnitudes sit under 2^53, so the cast is exact), the evidence
    column is ``n_scorable`` (1 when the cleaned text embeds, the
    margin-IS-NOT-NULL rule). The score column keeps the name
    ``lm_score`` — the plug-in contract is that downstream stages are
    scorer-agnostic. Pass ``cutoff=0.0`` for the trained decision
    boundary (the classifier deployment shape) or leave the
    ``bottom_frac`` percentile cut for CCNet-style keep-the-best.

    The cut value is the exact PERCENTILE_DISC(``bottom_frac``) of the
    scores (smallest score with rank >= ceil(frac * n)) — kept =
    ``score >= cut``, a VALUE comparison, so rank-order ties between
    engines cannot change membership. Calibration is deliberately a
    single-group exact percentile: map-side partial percentile buffers
    merge in ONE final task (the single-point stage — the partial
    buffers hold every distinct score value, mostly-distinct doubles,
    in that task's heap without spilling) — at 100 TB either calibrate
    on a :func:`~..operators.sampling.deterministic_sample` or pass a
    precomputed ``cutoff`` (the CCNet recipe's fixed per-bucket
    thresholds), which skips the percentile entirely.

    ``with_text=True`` appends the boilerplate-cleaned ``text_clean``
    column to the output — the downstream stages of a composed
    curation pipeline (dedup, packing) consume the CLEANED text, and
    re-deriving it would re-run the line-frequency shuffle.
    """
    if cutoff is None and not (0.0 < bottom_frac < 1.0):
        raise ValueError("bottom_frac must be in (0, 1)")
    if lm_order not in (2, 3, 5):
        raise ValueError(f"lm_order must be 2, 3 or 5, got {lm_order}")
    if scorer not in ("lm", "linear"):
        raise ValueError(f"scorer must be 'lm' or 'linear', got {scorer}")
    from ..operators.lm import _OUTPUT, _scores
    from ..operators.training_data import remove_boilerplate_lines

    cleaned = remove_boilerplate_lines(
        docs,
        min_doc_frac=min_doc_frac,
        min_docs=min_docs,
        id_col=id_col,
        text_col=text_col,
        corpus_count=corpus_count,
    )
    clean_docs = cleaned.select(
        F.col(id_col), F.col("text_clean").alias("text")
    )
    # lm_order picks the n-gram order (operators/lm.py: one model, the
    # bigram the default) under ONE output contract: the score column
    # is renamed lm_score so downstream stages are order-agnostic; the
    # evidence column keeps its true name (n_bigrams / n_trigrams /
    # n_5grams). On the fixture corpus the orders disagree on which
    # docs the bottom-20% cut drops (pinned in tests/test_lm3.py and
    # tests/test_lm5.py) — longer context separates reference-like
    # word ORDER that bigram counts cannot.
    if scorer == "linear":
        from ..operators.quality_clf import classify_quality

        n_col = "n_scorable"
        # the embed fan-out contract (operators/embedding.py): the
        # margin is an interpreted higher-order fold that
        # CollapseProject would inline into the scorable filter, both
        # derived columns, the cleaned join AND the cut comparison —
        # measured 85 s -> ~8 s at 5k docs with this one eager
        # materialization of the THIN (id, margin) frame
        scored = (
            classify_quality(clean_docs, id_col=id_col)
            .select(id_col, "quality_margin")
            .localCheckpoint(eager=False)
            .select(
                F.col(id_col),
                F.when(F.col("quality_margin").isNotNull(), 1)
                .otherwise(0)
                .cast("bigint")
                .alias("n_scorable"),
                F.col("quality_margin").cast("double").alias("lm_score"),
            )
        )
    else:
        n_col, _, score_col = _OUTPUT[lm_order]
        scored = _scores(clean_docs, lm_order, id_col=id_col).select(
            F.col(id_col), F.col(n_col), F.col(score_col).alias("lm_score")
        )
    keep_cols = ["n_removed"] + (["text_clean"] if with_text else [])
    scorable = scored.where(F.col(n_col) > 0).join(
        cleaned.select(id_col, *keep_cols), id_col
    )
    if cutoff is not None:
        cut = local_rows(
            scorable.sparkSession, [(float(cutoff),)], "__t double"
        )
    else:
        # the calibration subquery and the returned plan both consume
        # scorable with DIFFERENT column pruning, so ReuseExchange
        # cannot merge them — without this checkpoint the whole
        # clean+score chain (the two heavy shuffles) runs twice.
        # Lazy: the first consumer action materializes it; no
        # dedicated checkpoint job
        scorable = scorable.localCheckpoint(eager=False)
    if cutoff is None:
        # exact PERCENTILE_DISC as ONE aggregate: "smallest score with
        # rank >= ceil(frac * n)" is percentile_disc's definition, and
        # the value is bit-identical to the former ranked-window
        # spelling (verified over ties/singletons/random doubles) —
        # but the aggregate runs with map-side partials instead of
        # TWO single-partition window passes (global sort row_number +
        # unbounded count) over the scorable corpus.
        cut = scorable.select("lm_score").agg(
            F.expr(
                f"percentile_disc({float(bottom_frac)!r}) "
                "WITHIN GROUP (ORDER BY lm_score)"
            ).alias("__t")
        )
    return (
        scorable.crossJoin(F.broadcast(cut))
        .where(F.col("lm_score") >= F.col("__t"))
        .select(id_col, "lm_score", n_col, *keep_cols)
    )
