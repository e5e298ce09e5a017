"""N-gram language-model quality scoring (CCNet-style filter).

The missing pillar of the text-quality family next to the heuristic
stats (``functions/text.py::with_text_stats``): score every document
by how well its token n-grams fit a reference corpus — the public
CCNet/Gopher recipe (Wenzek et al., "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data", arXiv:1911.00359) trains a
small LM on trusted text and drops the worst-scoring web documents
(CCNet scores with a 5-gram KenLM). ONE model of order ``n`` serves
every public order — 2 (:func:`lm_fit` / :func:`lm_transition_scores`),
3 (``lm3_*``) and 5 (``lm5_*``) — trained on the corpus itself
(``reference=None``, the self-consistency variant: boilerplate and
gibberish score low against the corpus's own statistics), on a
trusted reference DataFrame, or read back as a persisted ``model=``
tuple of plain count tables (the standing-deployment shape,
``streaming/quality.py``).

The model. Per n-gram ``w1 .. wn`` each leg is an add-one-smoothed
conditional probability, k = n..2, plus the unigram leg

    pk = (c(w_{n-k+1} .. wn) + 1) / (c(w_{n-k+1} .. w_{n-1} ·) + V)
    p1 = (c(wn) + 1) / (N + V)

(V = vocabulary size, N = token count), mixed by a FIXED-weight linear
interpolation (Jelinek-Mercer) over the legs n..1:

    order 2: (1, 0)             p = p2
    order 3: (3, 2, 1) / 6      p = (3·p3 + 2·p2 + p1) / 6
    order 5: (5, 4, 3, 2, 1) / 15

— weight n..1 over their sum for n >= 3; the bigram is p2 alone, so
its model has no unigram table (``vocab(v)`` instead of
``uni``/``totals``). Interpolation with fixed λ rather than
Katz/Kneser-Ney or EM-tuned λ because every term stays one correctly
rounded operation (below). The higher orders add what bigram counts
blur: word ORDER (order 3, pinned in tests/test_lm3.py) and long-range
4-token templates (order 5, tests/test_lm5.py); an unseen top-order
context contributes its uniform add-one floor while the observed
lower legs still separate reference-like from scrambled text.

Determinism contract (why a probability mean, not a log perplexity):
``ln`` is not correctly rounded and differs by ulps across
engines/libms, which breaks the engine-vs-oracle value-hash gate this
repo runs every round. Every arithmetic step here IS correctly rounded
by IEEE 754 — integer counts, one exact int→double cast per operand,
one division per leg, one multiply per weight, one division by the
weight sum, half-up round to an integer — so the score is
bit-identical on any compliant engine. A zero-weight leg is not
computed, a weight-1 leg is not multiplied, and weights summing to 1
are not divided (each order's SQL is exactly its hand-written form).
Each transition is quantized to ``qp = round(p * LM_QUANT)`` (bigint);
the doc score is the MEAN ``sum(qp) / n / LM_QUANT`` — monotone in the
same direction as negative cross-entropy for filtering purposes. A
single-engine deployment that wants true log-perplexity or tuned λ
swaps the expression at one marked line (:func:`_qp_sql`).

Evidence rules: docs with fewer than ``n`` tokens (or NULL text) get
count 0 and a NULL score — no evidence, not bad evidence; route them
to the heuristic stats. Every doc row is preserved (left join back to
``docs``), duplicate ids pool their n-grams into one score group, NULL
ids ride through with NULL stats (null-unsafe join, the engine-wide
rule). n-grams unseen in an external reference back off to count 0
(the add-one floor), and an unseen context scores ``1 / V`` on its
leg. Add-one artifact to know when setting cutoffs: an unseen
CONTEXT's uniform ``1/V`` can exceed a frequent context's
unseen-continuation floor ``1/(c(w1)+V)``, so fully-OOV gibberish is
not guaranteed to score below shuffled common words — the reliable
signal is reference-like transitions scoring far above both floors
(pinned in the tests; Kneser-Ney/backoff swaps in at the same marked
line). A reference with no tokens at all (V = 0) scores every
transition at the uniform ceiling instead of dividing by zero.

Tokenizer: the repo-wide whitespace convention (``functions/text.py::
_TOKENS``), lower-cased — the same stream with_text_stats and the
TF-IDF/BPE family consume, so scores compose with their outputs.
Tokens contain no whitespace by construction, which makes the
space-joined ``w1 .. wn`` an injective n-gram key from which
``substring_index`` recovers every suffix and context exactly (the
DuckDB oracles use the identical spelling with split_part/||).

Plan shape by order. ``qp`` is a pure function of the n-gram string
(every joined count keys off a suffix or prefix of it), so the count
joins may run over distinct grams. Order 2 joins its two count legs on
the per-occurrence gram stream: a 100-doc batch scored against a
persisted model runs 7 Spark jobs in 1.2 s that way, against 10 jobs in
1.9 s over distinct grams (4-core VM) — two joins do not repay the
distinct, pre-aggregation and attach shuffles. Order >= 3 joins its
2n-1 count legs over the DISTINCT grams (self-trained: the top-order
count table, whose keys are exactly the corpus grams, so no distinct
pass and no top-count join), then attaches ``qp`` to one ``(id, gram)``
occurrence pre-aggregation and sums multiplicity x qp — exact integer
arithmetic, the same sum — so the long join chain reads each gram once
however often the corpus repeats it. (On the sf0.1 fixture, where
5-grams rarely repeat, the two shapes time within host noise of each
other: self-trained order 5, best-of-3 7.2–8.9 s distinct against
6.6–8.6 s per occurrence, four runs each, 4-core VM.)

100 TB notes: n-gram extraction is scan-side (``transform`` over the
token array, whole-stage codegen); the model is count aggregates (one
shuffle each, map-side combined) bounded by the distinct-gram count;
natural-language n-gram frequency is Zipfian, so AQE skew-join handles
the "of the" keys; the totals are one broadcast row. Nothing is ever
collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import _TOKENS  # single tokenizer source

#: probability quantum: qp = round(p * QUANT) as bigint. 1e9 keeps
#: three-token docs distinguishable and sums far below int64 overflow
#: (a doc would need ~9e9 tokens at p=1.0 to overflow).
LM_QUANT = 1_000_000_000

#: per-order count-table columns ``(gram, count, context, context
#: count)`` — the persisted model layout (``write_lm_model`` and lm3/lm5
#: fits written as parquet are read back by these names). The unigram
#: leg is ``uni(t, cu)`` + ``totals(n_tokens, v)``; the bigram model
#: has only ``vocab(v)``.
_LEGS = {
    2: ("big", "cb", "w1", "cp"),
    3: ("tri", "c3", "ctx", "cp3"),
    4: ("g4", "c4", "ctx4", "cp4"),
    5: ("g5", "c5", "ctx5", "cp5"),
}

#: per public order: scorer output ``(n-gram count, qp sum, score)``
_OUTPUT = {
    2: ("n_bigrams", "lm_prob_sum", "lm_score"),
    3: ("n_trigrams", "lm3_prob_sum", "lm3_score"),
    5: ("n_5grams", "lm5_prob_sum", "lm5_score"),
}


def _token_arrays(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, tk)`` lowered token arrays — THE single tokenize pass
    every n-gram order derives from. A self-trained scorer runs many
    n-gram extractions over one corpus (order-5 fit + score is seven:
    g5/g4/tri/big/uni/totals legs plus the scoring stream); sharing a
    MATERIALIZED token frame replaces seven regex-tokenize corpus
    scans with one tokenize plus six re-reads of the flat arrays (the
    measured win behind :func:`_shared_tokens`)."""
    toks = f"transform({_TOKENS.format(c=text_col)}, t -> lower(t))"
    return docs.select(F.col(id_col), F.expr(toks).alias("tk"))


def _shared_tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Materialized token arrays for a BATCH frame (streaming frames
    pass through lazily — ``localCheckpoint`` is illegal on them, and
    micro-batch scoring runs a single extraction anyway)."""
    tok = _token_arrays(docs, id_col, text_col)
    # lazy: the caller's first action materializes the token arrays —
    # the flat-plan truncation (one tokenize, six re-reads) costs no
    # dedicated job
    return tok if docs.isStreaming else tok.localCheckpoint(eager=False)


def _ngrams(tok: DataFrame, id_col: str, n: int) -> DataFrame:
    """``(id, 'w1 .. wn')`` (gram column named per :data:`_LEGS`), one
    row per adjacent token n-gram of a ``(id, tk)`` token frame.
    Scan-side: pairing runs inside codegen; NULL or shorter-than-``n``
    token arrays emit nothing (the guard matters: Spark's
    sequence(1, 0) counts DOWN)."""
    joined = ", ' ', ".join(f"element_at(tk, i + {j})" for j in range(n))
    return tok.where(F.expr(f"tk IS NOT NULL AND size(tk) >= {n}")).select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(1, size(tk) - {n - 1}),"
                f" i -> concat({joined}))"
            )
        ).alias(_LEGS[n][0]),
    )


def _fit(
    reference: DataFrame,
    n: int,
    id_col: str,
    text_col: str,
    tokens: DataFrame | None = None,
) -> tuple[DataFrame, ...]:
    """The order-``n`` count tables ``(g_n, ctx_n, .., g_2, ctx_2)``
    (columns per :data:`_LEGS`) followed by ``vocab(v)`` for the
    bigram or ``uni(t, cu), totals(n_tokens, v)`` above it. Every leg
    reads ONE token frame: ``tokens=`` shares the caller's, otherwise
    one is materialized here."""
    tok = tokens if tokens is not None else _shared_tokens(
        reference, id_col, text_col
    )
    tables = []
    for k in range(n, 1, -1):
        gram, c, ctx, cp = _LEGS[k]
        counts = _ngrams(tok, id_col, k).groupBy(gram).agg(
            F.count("*").alias(c)
        )
        ctx_counts = (
            counts.withColumn(ctx, F.substring_index(gram, " ", k - 1))
            .groupBy(ctx)
            .agg(F.sum(c).alias(cp))
        )
        tables += [counts, ctx_counts]
    stream = tok.select(F.explode(F.col("tk")).alias("t"))
    if n == 2:
        return (*tables, stream.agg(F.count_distinct("t").alias("v")))
    uni_counts = stream.groupBy("t").agg(F.count("*").alias("cu"))
    totals = stream.agg(
        F.count("*").alias("n_tokens"), F.count_distinct("t").alias("v")
    )
    return (*tables, uni_counts, totals)


def _qp_sql(n: int) -> str:
    """The quantized interpolated probability of an order-``n`` gram
    over the joined count columns (module docstring: weights per
    order, one correctly rounded step each)."""
    weights = (1, 0) if n == 2 else tuple(range(n, 0, -1))
    legs = [
        (_LEGS[k][1], f"coalesce({_LEGS[k][3]}, 0)") for k in range(n, 1, -1)
    ] + [("cu", "n_tokens")]
    # greatest(v, 1): a reference with no tokens makes V = 0 and every
    # context count NULL — without the floor the divisor is 0 and ANSI
    # mode kills the job; with it every leg is the uniform ceiling
    terms = [
        ("" if w == 1 else f"{w}.0 * ")
        + f"(cast(coalesce({c}, 0) + 1 as double)"
        f" / cast({ctx} + greatest(v, 1) as double))"
        for w, (c, ctx) in zip(weights, legs)
        if w
    ]
    p = " + ".join(terms)
    if len(terms) > 1:
        p = f"({p})"
    if sum(weights) != 1:
        p += f" / {sum(weights)}.0"
    # marked line: a single-engine deployment swaps this for ln(...)
    # (true log-perplexity) or tuned-λ interpolation
    return f"cast(round({p} * {LM_QUANT}.0) as bigint)"


def _scores(
    docs: DataFrame,
    n: int,
    reference: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    model: tuple[DataFrame, ...] | None = None,
) -> DataFrame:
    """Per-document order-``n`` LM fit ``(id, *_OUTPUT[n])`` against
    ``model`` (a :func:`_fit` tuple), else against a model fitted on
    ``reference`` (``None``: on ``docs`` itself)."""
    gram = _LEGS[n][0]
    ref = reference if reference is not None else docs
    self_trained = model is None and ref is docs
    if model is None:
        tok = _shared_tokens(ref, id_col, text_col)
        model = _fit(ref, n, id_col, text_col, tokens=tok)
    # self-trained, the scoring stream reads the SAME materialized token
    # arrays the fit legs read; otherwise it tokenizes docs on its own
    if not self_trained:
        tok = _token_arrays(docs, id_col, text_col)
    grams = _ngrams(tok, id_col, n)
    # plan shape rule (module docstring): order 2 rides the
    # per-occurrence stream, higher orders the distinct grams
    if n == 2:
        scored = grams.join(model[0], gram, "left")
    elif self_trained:
        scored = model[0]  # corpus grams == count keys
    else:
        scored = grams.select(gram).distinct().join(model[0], gram, "left")
    legs = zip(range(n, 1, -1), model[0::2], model[1::2])
    for k, counts, ctx_counts in legs:
        g, _, ctx, _ = _LEGS[k]
        if k < n:
            scored = scored.withColumn(
                g, F.substring_index(gram, " ", -k)
            ).join(counts, g, "left")
        scored = scored.withColumn(
            ctx, F.substring_index(g, " ", k - 1)
        ).join(ctx_counts, ctx, "left")
    if n > 2:
        scored = scored.withColumn(
            "t", F.substring_index(gram, " ", -1)
        ).join(model[-2], "t", "left")
    scored = scored.crossJoin(F.broadcast(model[-1]))
    qp = F.expr(_qp_sql(n)).alias("qp")
    n_col, sum_col, score_col = _OUTPUT[n]
    if n == 2:
        agg = scored.select(F.col(id_col), qp).groupBy(id_col).agg(
            F.count("*").alias(n_col), F.sum("qp").alias(sum_col)
        )
    else:
        occ = grams.groupBy(id_col, gram).agg(F.count("*").alias("__m"))
        # inner join: every doc gram is in the qp table by construction
        agg = (
            occ.join(scored.select(gram, qp), gram)
            .groupBy(id_col)
            .agg(
                F.sum("__m").alias(n_col),
                F.sum(F.col("__m") * F.col("qp")).alias(sum_col),
            )
        )
    return docs.select(id_col).join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col(n_col), F.lit(0)).cast("long").alias(n_col),
        F.coalesce(F.col(sum_col), F.lit(0)).cast("long").alias(sum_col),
        F.when(
            F.col(n_col) > 0,
            (F.col(sum_col).cast("double") / F.col(n_col).cast("double"))
            / F.lit(float(LM_QUANT)),
        ).alias(score_col),
    )


def lm_fit(
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fit the bigram model: ``(big_counts(big, cb), prev_counts(w1,
    cp), vocab(v))`` — the ``model=`` tuple of
    :func:`lm_transition_scores` and the ``write_lm_model`` layout.
    ``tokens=`` takes a pre-tokenized ``(id, tk)`` frame (the
    :func:`_shared_tokens` shape)."""
    return _fit(reference, 2, id_col, text_col, tokens)


def lm_transition_scores(
    docs: DataFrame,
    reference: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    model: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Per-document bigram-LM fit: ``(id, n_bigrams, lm_prob_sum,
    lm_score)`` — higher = more reference-like; a filtering job keeps
    ``lm_score >= cutoff`` or the top quantile. ``model=`` takes the
    :func:`lm_fit` tables (read back from parquet in a standing
    deployment) and skips training; otherwise ``reference=None``
    trains on ``docs`` itself."""
    return _scores(docs, 2, reference, id_col, text_col, model)


def lm_quality_buckets(
    docs: DataFrame,
    reference: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    model: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    cutoffs: DataFrame | None = None,
) -> DataFrame:
    """CCNet's head/middle/tail quality bucketing (Wenzek et al.
    arXiv:1911.00359 §4.3), per SOURCE stratum: rank every scorable
    document's :func:`lm_transition_scores` value inside its source
    and label the top tercile ``head``, the next ``middle``, the rest
    ``tail`` — the recipe's pre-training data split (train on head,
    sample middle, drop tail) generalized from per-language to any
    provenance column. Output: one row per DISTINCT scorable
    ``(id, source)`` pair — ``(id, source, lm_score, bucket)``.

    Cut values are the per-source exact PERCENTILE_DISC at 1/3 and
    2/3 (smallest score with rank >= ceil(frac * n)); bucket
    membership is a VALUE comparison against them, so rank-order ties
    cannot flip labels across engines. Excluded by the engine-wide
    provenance/evidence rules: NULL ids, NULL sources, and docs with
    ``n_bigrams = 0`` (no transitions -> no quality evidence).
    Duplicate id rows pool their bigrams into one score group
    (the :func:`lm_transition_scores` contract) and bucket once per
    distinct (id, source).

    ``cutoffs=`` takes a precomputed ``(source, cut1, cut2)`` frame
    and skips the ranking pass entirely — the CCNet deployment shape
    (fixed per-stratum thresholds), and the scale path when a single
    source dominates the corpus: the ranking window sorts each
    source's scores through one partition (thin rows, but one task
    per hot source), while fixed cutoffs keep everything scan-side.
    A provided frame must cover EVERY scorable source: the bucket
    join is inner, so a stale threshold table would otherwise
    silently delete whole sources from the output — validated up
    front (one action on the distinct source lists, bounded by the
    number of sources) and raised loudly naming the uncovered
    sources.
    """
    user_cutoffs = cutoffs is not None
    scored = (
        lm_transition_scores(docs, reference, id_col, text_col, model)
        .where(F.col("n_bigrams") > 0)
        .select(id_col, "lm_score")
        .distinct()
    )
    pairs = (
        docs.where(
            F.col(id_col).isNotNull() & F.col(source_col).isNotNull()
        )
        .select(id_col, source_col)
        .distinct()
    )
    scorable = pairs.join(scored, id_col)
    if cutoffs is None:
        w = Window.partitionBy(source_col).orderBy("lm_score")
        ranked = scorable.withColumn(
            "__rn", F.row_number().over(w)
        ).withColumn(
            "__n", F.count("*").over(Window.partitionBy(source_col))
        )
        cutoffs = ranked.groupBy(source_col).agg(
            F.max(
                F.when(
                    F.col("__rn")
                    == F.ceil(F.col("__n") / F.lit(3.0)).cast("long"),
                    F.col("lm_score"),
                )
            ).alias("cut1"),
            F.max(
                F.when(
                    F.col("__rn")
                    == F.ceil(F.lit(2.0) * F.col("__n") / F.lit(3.0)).cast(
                        "long"
                    ),
                    F.col("lm_score"),
                )
            ).alias("cut2"),
        )
    if user_cutoffs:
        missing = [
            r[0]
            for r in scorable.select(source_col)
            .distinct()
            .join(cutoffs.select(source_col), source_col, "left_anti")
            .collect()
        ]
        if missing:
            raise ValueError(
                "cutoffs= frame has no row for scorable source(s) "
                f"{sorted(missing)!r} — the bucket join is inner, so "
                "these sources would silently vanish from the output; "
                "add rows for them (or recompute cutoffs without the "
                "argument)"
            )
    return scorable.join(F.broadcast(cutoffs), source_col).select(
        id_col,
        source_col,
        "lm_score",
        F.when(F.col("lm_score") >= F.col("cut2"), F.lit("head"))
        .when(F.col("lm_score") >= F.col("cut1"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def lm3_fit(
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens: DataFrame | None = None,
) -> tuple[DataFrame, ...]:
    """Fit the interpolated-trigram model: ``(tri_counts(tri, c3),
    ctx_counts(ctx, cp3), big_counts(big, cb), prev_counts(w1, cp),
    uni_counts(t, cu), totals(n_tokens, v))`` — the ``model=`` tuple of
    :func:`lm3_transition_scores`."""
    return _fit(reference, 3, id_col, text_col, tokens)


def lm3_transition_scores(
    docs: DataFrame,
    reference: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    model: tuple[DataFrame, ...] | None = None,
) -> DataFrame:
    """Per-document interpolated trigram-LM fit (λ = (3, 2, 1) / 6):
    ``(id, n_trigrams, lm3_prob_sum, lm3_score)``; ``model=`` takes the
    :func:`lm3_fit` tables."""
    return _scores(docs, 3, reference, id_col, text_col, model)


def lm5_fit(
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens: DataFrame | None = None,
) -> tuple[DataFrame, ...]:
    """Fit the interpolated 5-gram model (CCNet's published order):
    ``(g5_counts(g5, c5), ctx5_counts(ctx5, cp5), g4_counts(g4, c4),
    ctx4_counts(ctx4, cp4), tri_counts, ctx_counts, big_counts,
    prev_counts, uni_counts, totals)`` — the last six exactly
    :func:`lm3_fit`'s; the ``model=`` tuple of
    :func:`lm5_transition_scores`."""
    return _fit(reference, 5, id_col, text_col, tokens)


def lm5_transition_scores(
    docs: DataFrame,
    reference: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    model: tuple[DataFrame, ...] | None = None,
) -> DataFrame:
    """Per-document interpolated 5-gram LM fit (λ = (5, 4, 3, 2, 1) /
    15): ``(id, n_5grams, lm5_prob_sum, lm5_score)``; ``model=`` takes
    the :func:`lm5_fit` tables."""
    return _scores(docs, 5, reference, id_col, text_col, model)
