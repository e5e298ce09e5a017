"""Streaming substring dedup (streaming/substring.py) — the standing
twin of operators/substring.py::repeated_spans.

Contracts pinned:

* union-of-marks == one-shot: after any chunked replay,
  read_repeated_spans equals repeated_spans over the whole corpus —
  including RETROACTIVE marks (a past doc's window becomes repeated
  when a later batch's copy arrives) and spans that GROW across
  batches (adjacent windows marked in different triggers merge into
  one extent at read time);
* retry idempotency: a second availableNow run over the same source +
  checkpoint adds no marks and no index rows;
* at-least-once source redelivery across batch ids: a redelivered
  document neither recounts (no false min_count crossings) nor
  re-appends;
* erasure integration: forget_index_keys removes a document's window
  occurrences from the substring index.
"""

from __future__ import annotations

import os

from amazon_sagemaker_feature_store_streaming_aggregation_spark.operators.substring import (
    repeated_spans,
)
from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming import (
    read_repeated_spans,
    run_index_substring_stream,
)

from .test_streaming_dedup import _one_file

K = 3
SCHEMA = "doc_id long, text string"

# the fixture corpus, spread over three micro-batches:
#  - P repeats across batches 0/1/2 (doc 1 marked RETROACTIVELY at
#    batch 1; doc 3 arrives after the crossing and marks on arrival)
#  - doc 4's two adjacent phrases Q and R are duplicated by DIFFERENT
#    later batches — its marks span two triggers and must merge into
#    ONE extent at read time
#  - doc 7 repeats a phrase WITHIN itself (marked at its own batch)
CHUNK0 = [
    (1, "a1 a2 a3 p1 p2 p3 a4 a5 a6"),
    (4, "x1 q1 q2 q3 r1 r2 r3 x2"),
    (7, "s1 s2 s3 t s1 s2 s3"),
    (8, None),
]
CHUNK1 = [
    (2, "b1 b2 p1 p2 p3 b3 b4"),
    (5, "q1 q2 q3"),
]
CHUNK2 = [
    (3, "c1 p1 p2 p3"),
    (6, "z1 r1 r2 r3"),
]
ALL_DOCS = CHUNK0 + CHUNK1 + CHUNK2


def _run(spark, d, out_dir, index_dir, ckpt):
    stream = (
        spark.readStream.format("parquet")
        .schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
    )
    q = run_index_substring_stream(
        stream, out_dir, index_dir, checkpoint_dir=ckpt, k=K, n_buckets=4
    )
    assert q.awaitTermination(180)


def _spans_set(df):
    return sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in df.collect()
    )


def test_stream_spans_equal_one_shot_and_replay_idempotent(spark, tmp_path):
    d = tmp_path / "stream"
    out_dir = str(tmp_path / "out")
    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    _one_file(spark, d, "00.parquet", CHUNK0, SCHEMA)
    _one_file(spark, d, "01.parquet", CHUNK1, SCHEMA)
    _one_file(spark, d, "02.parquet", CHUNK2, SCHEMA)
    _run(spark, d, out_dir, index_dir, ckpt)

    got = _spans_set(read_repeated_spans(spark, out_dir, k=K))
    want = _spans_set(
        repeated_spans(
            spark.createDataFrame(ALL_DOCS, SCHEMA), k=K, min_count=2
        )
    )
    assert got == want
    # the cross-batch cases actually exercised:
    by_doc = {g[0]: g for g in got}
    assert by_doc[1] == (1, 3, 6, 1)  # retroactive mark at batch 1
    assert by_doc[3] == (3, 1, 4, 1)  # post-crossing arrival
    assert by_doc[4] == (4, 1, 7, 2)  # Q (batch 1) + R (batch 2) merged
    assert by_doc[7][0] == 7  # within-doc repeat marked at batch 0

    # the window-occurrence index is ibucket-partitioned and probes
    # prune on the partition column (the layout regression guard every
    # standing index pins)
    from pyspark.sql import functions as F

    pruned = spark.read.parquet(index_dir).where(F.col("ibucket") == 0)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "ibucket" in plan.split("PartitionFilters", 1)[1][:120]

    # a fresh availableNow run over the same source + checkpoint is a
    # no-op: no new marks, no duplicate index rows
    n_marks = spark.read.parquet(
        os.path.join(out_dir, "batch=*", "marks")
    ).count()
    n_idx = spark.read.parquet(index_dir).count()
    _run(spark, d, out_dir, index_dir, ckpt)
    assert (
        spark.read.parquet(os.path.join(out_dir, "batch=*", "marks")).count()
        == n_marks
    )
    assert spark.read.parquet(index_dir).count() == n_idx
    assert _spans_set(read_repeated_spans(spark, out_dir, k=K)) == want


def test_redelivered_doc_does_not_recount(spark, tmp_path):
    """Doc 10 carries a UNIQUE phrase; redelivering the doc in a later
    batch must not push that phrase's count to min_count (the per-row
    anti-join routes indexed occurrences around counting)."""
    d = tmp_path / "stream"
    out_dir = str(tmp_path / "out")
    index_dir = str(tmp_path / "index")
    rows = [(10, "u1 u2 u3 u4")]
    _one_file(spark, d, "00.parquet", rows, SCHEMA)
    _one_file(spark, d, "01.parquet", rows, SCHEMA)  # redelivery
    _run(spark, d, out_dir, index_dir, str(tmp_path / "ckpt"))
    assert read_repeated_spans(spark, out_dir, k=K).count() == 0
    # the redelivered rows did not re-append either
    assert spark.read.parquet(index_dir).count() == 2  # 4 tokens, k=3


def test_forget_erases_document_windows(spark, tmp_path):
    """Erasure reaches the substring index: after forget, a later copy
    of the erased doc's phrase does not mark retroactively against it."""
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming import (
        forget_index_keys,
    )

    from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming import (
        scrub_batch_outputs,
    )

    from .test_forget import _val_in_any_parquet

    d = tmp_path / "stream"
    out_dir = str(tmp_path / "out")
    index_dir = str(tmp_path / "index")
    # docs 1 and 9 share a phrase -> doc 1 has committed MARKS too
    _one_file(
        spark, d, "00.parquet",
        [(1, "p1 p2 p3 p4"), (9, "z p1 p2 p3")], SCHEMA,
    )
    _run(spark, d, out_dir, index_dir, str(tmp_path / "ckpt"))
    assert read_repeated_spans(spark, out_dir, k=K).count() == 2
    res = forget_index_keys(spark, index_dir, [1], key_col="doc_id")
    assert res["purged_leaves"] >= 1
    # the committed marks/wins artifacts hold the erased doc's rows
    # (content-derived window hashes included) — the outputs scrub
    # erases them, and the span reconstruction stops emitting the doc
    assert scrub_batch_outputs(spark, out_dir, [1]) == [0]
    assert not _val_in_any_parquet(out_dir, "doc_id", 1)
    spans = {r["doc_id"] for r in
             read_repeated_spans(spark, out_dir, k=K).collect()}
    assert spans == {9}
    # a later copy of doc 1's unique tail sees count 1 (the erased
    # index occurrences are gone) — nothing new marks against doc 1
    _one_file(spark, d, "01.parquet", [(2, "p2 p3 p4 q")], SCHEMA)
    _run(spark, d, out_dir, index_dir, str(tmp_path / "ckpt"))
    spans = {r["doc_id"] for r in
             read_repeated_spans(spark, out_dir, k=K).collect()}
    assert 1 not in spans and 2 not in spans


# -------------------------- standing curation (streaming/curate.py) —
# housed here with the other composed standing-runner suites


def test_curate_stream_orderings(spark, tmp_path):
    """The orderings the one-shot composition cannot see fail in a
    broken runner: a REJECTED early copy must not shadow a later
    acceptable one (quality gate before the index), an accepted copy
    must shadow later re-submissions across batches, and a second
    availableNow run is a no-op."""
    import os

    from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming import (
        run_curate_stream,
        write_lm_model,
    )

    ref = "the cat sat on the mat and the dog sat on the rug"
    good = "the cat sat on the mat"
    # scores vs the 8x-ref model: good 0.486, ref 0.499, gibberish
    # 0.125 (the add-one uniform floor) -> the 0.3 cutoff separates
    gibberish = "zz qq xx vv kk jj ww"
    rows0 = [(1, gibberish), (2, good)]
    rows1 = [(3, good), (4, gibberish + " extra"), (5, ref)]
    schema = "doc_id long, text string"
    d = tmp_path / "stream"
    _one_file(spark, d, "00.parquet", rows0, schema)
    _one_file(spark, d, "01.parquet", rows1, schema)
    model_dir = str(tmp_path / "model")
    # reference model: the fluent corpus — gibberish scores at the
    # add-one floor, reference-like text far above it
    write_lm_model(
        spark.createDataFrame([(i, ref) for i in range(8)], schema),
        model_dir,
    )

    out_dir = str(tmp_path / "out")
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
    )
    q = run_curate_stream(
        stream, out_dir, str(tmp_path / "index"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        model_dir=model_dir, cutoff=0.3, n_buckets=4,
    )
    assert q.awaitTermination(180)
    got = {
        r["doc_id"]: r["shard"]
        for r in spark.read.parquet(
            os.path.join(out_dir, "batch=*")
        ).collect()
    }
    # 1 and 4 rejected by quality; 3 deduped against the ACCEPTED 2;
    # 5 accepted. A rejected doc never entered the index (doc 2's
    # acceptance is independent of doc 1's earlier rejection).
    assert set(got) == {2, 5}
    assert all(0 <= s < 8 for s in got.values())

    # replay idempotency
    q2 = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
    )
    q2 = run_curate_stream(
        q2, out_dir, str(tmp_path / "index"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        model_dir=model_dir, cutoff=0.3, n_buckets=4,
    )
    assert q2.awaitTermination(120)
    assert spark.read.parquet(os.path.join(out_dir, "batch=*")).count() == 2


def test_substring_index_maintenance_mid_replay(spark, tmp_path, capsys):
    """The (id, pos, sh) occurrence index — the LARGEST standing
    artifact, O(tokens) rows accreting one file per bucket per trigger
    — goes through the full maintenance lifecycle MID-replay via the
    operator CLI (VERDICT r12 task #3): per-bucket compaction, then an
    online re-bucket (4 -> 8), between micro-batches. The resumed
    runner adopts the flipped modulus (n_buckets=None — the live
    _meta adoption rule), retroactive marks against PRE-maintenance
    occurrences still fire, spans still equal the one-shot run, and a
    resume pinning the stale modulus fails loudly."""
    import json

    import pytest as _pytest

    from amazon_sagemaker_feature_store_streaming_aggregation_spark import maintain_cli
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming.dedup import (
        _ensure_index_buckets,
        _read_index_pruned,
    )

    d = tmp_path / "stream"
    out_dir = str(tmp_path / "out")
    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    def _run(n_buckets):
        stream = (
            spark.readStream.format("parquet")
            .schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .load(str(d))
        )
        q = run_index_substring_stream(
            stream, out_dir, index_dir, checkpoint_dir=ckpt, k=K,
            n_buckets=n_buckets,
        )
        assert q.awaitTermination(180)

    # two triggers before maintenance so hot buckets hold >=2 files
    _one_file(spark, d, "00.parquet", CHUNK0, SCHEMA)
    _one_file(spark, d, "01.parquet", CHUNK1, SCHEMA)
    _run(4)
    before = sorted(
        map(tuple, spark.read.parquet(index_dir).drop("ibucket").collect())
    )

    # per-bucket compaction through the CLI (quiesced, between batches)
    assert maintain_cli.main(["compact-index", "--path", index_dir]) == 0
    m1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m1["cmd"] == "compact-index" and m1["files_per_bucket"]
    assert all(int(v) == 1 for v in m1["files_per_bucket"].values())

    # online re-bucket through the CLI: probe key is the window hash
    assert maintain_cli.main(
        ["rebucket-index", "--path", index_dir, "--keys", "sh"]
    ) == 0
    m2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m2["n_buckets"] == 8
    assert _ensure_index_buckets(spark, index_dir, None) == 8

    # maintenance is row-preserving and probes stay partition-pruned
    after = sorted(
        map(tuple, spark.read.parquet(index_dir).drop("ibucket").collect())
    )
    assert before == after
    plan = (
        _read_index_pruned(spark, index_dir, [0, 1])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan
    assert "ibucket" in plan.split("PartitionFilters", 1)[1][:120]

    # a resume pinning the stale modulus fails loudly
    with _pytest.raises(Exception, match="n_buckets=8"):
        _ensure_index_buckets(spark, index_dir, 4)

    # the resumed runner adopts the flipped modulus; CHUNK2's copies
    # still mark RETROACTIVELY against pre-maintenance occurrences
    _one_file(spark, d, "02.parquet", CHUNK2, SCHEMA)
    _run(None)
    got = _spans_set(read_repeated_spans(spark, out_dir, k=K))
    want = _spans_set(
        repeated_spans(
            spark.createDataFrame(ALL_DOCS, SCHEMA), k=K, min_count=2
        )
    )
    assert got == want


def test_curate_near_stream_semantics(spark, tmp_path):
    """The near-dup stage of the standing curation runner (r12 verdict
    task #1) — the orderings the one-shot composition cannot see:

    * a quality-REJECTED doc never band-indexes (gate before index);
    * a later near-dup (similar, NOT identical) of a kept doc drops
      across batches against the persistent band index;
    * a near-DROPPED doc's bands still index, so a doc colliding only
      with the dropped one (near-dup is not transitive) still drops;
    * an exact re-copy of a kept doc drops via its indexed bands;
    * replay is a no-op; a redelivered kept doc re-emits nothing and
      re-appends nothing; forget readmits a later copy.

    The A/B/C texts are chosen so bands(B)∩bands(A) >= 1,
    bands(C)∩bands(B) >= 1 and bands(C)∩bands(A) == 0 (asserted as a
    precondition), so C's drop can ONLY come from the dropped B's
    indexed bands."""
    import os

    from pyspark.sql import functions as F

    from amazon_sagemaker_feature_store_streaming_aggregation_spark.functions.hashing import (
        h64,
    )
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.operators.dedup import (
        band_rows,
        minhash_signatures,
    )
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming import (
        forget_index_keys,
        run_curate_stream,
        write_lm_model,
    )

    A = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lamda mu nu xi omicron pi rho sigma tau upsilon")
    B = A.replace("gamma", "changedone")
    C = (B.replace("omicron", "changedtwo")
          .replace("rho", "changedthree"))
    D = ("one two three four five six seven eight nine ten "
         "eleven twelve thirteen fourteen fifteen sixteen")
    gib = "zz qq xx vv kk jj ww"

    # precondition: the engineered non-transitive band structure
    tri = spark.createDataFrame(
        [(1, A), (2, B), (3, C)], "doc_id long, text string"
    )
    bs = band_rows(minhash_signatures(tri), "doc_id").collect()
    bands_of = {i: set() for i in (1, 2, 3)}
    for r in bs:
        bands_of[r["doc_id"]].add((r["band"], r["bhash"]))
    assert bands_of[1] & bands_of[2], "fixture: A and B must collide"
    assert bands_of[2] & bands_of[3], "fixture: B and C must collide"
    assert not (bands_of[1] & bands_of[3]), "fixture: A and C must NOT"

    schema = "doc_id long, text string"
    model_dir = str(tmp_path / "model")
    write_lm_model(
        spark.createDataFrame(
            [(i, A) for i in range(4)] + [(i + 4, D) for i in range(4)],
            schema,
        ),
        model_dir,
    )
    # data-derived cutoff: every fluent doc passes, gibberish fails
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.operators.lm import (
        lm_transition_scores,
    )
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming.quality import (
        read_lm_model,
    )

    probe = spark.createDataFrame(
        [(1, A), (2, B), (3, C), (4, D), (5, gib)], schema
    )
    sc = {
        r["doc_id"]: r["lm_score"]
        for r in lm_transition_scores(
            probe, model=read_lm_model(spark, model_dir)
        ).collect()
    }
    cutoff = min(sc[i] for i in (1, 2, 3, 4))
    assert sc[5] < cutoff, "fixture: gibberish must fail the gate"

    d = tmp_path / "stream"
    _one_file(spark, d, "00.parquet", [(1, gib), (2, A)], schema)
    _one_file(spark, d, "01.parquet", [(3, B), (4, D)], schema)
    _one_file(spark, d, "02.parquet", [(5, C), (6, A)], schema)
    out_dir = str(tmp_path / "out")
    index_dir = str(tmp_path / "index")
    near_dir = str(tmp_path / "near_index")
    ckpt = str(tmp_path / "ckpt")

    def _run():
        stream = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", 1)
            .load(str(d))
        )
        q = run_curate_stream(
            stream, out_dir, index_dir, checkpoint_dir=ckpt,
            model_dir=model_dir, cutoff=cutoff, n_buckets=4,
            near_index_dir=near_dir,
        )
        assert q.awaitTermination(240)

    _run()
    kept_glob = os.path.join(out_dir, "batch=*", "kept")
    got = {r["doc_id"] for r in spark.read.parquet(kept_glob).collect()}
    # 1 quality-rejected; 3 near-dropped vs kept 2 (A~B); 5 dropped
    # ONLY via the near-DROPPED 3's indexed bands (C∩A empty); 6 an
    # exact re-copy of 2, dropped via 2's bands
    assert got == {2, 4}

    idx_ids = {
        r["doc_id"]
        for r in spark.read.parquet(near_dir)
        .select("doc_id").distinct().collect()
    }
    # every GATE-PASSER indexes (kept and near-dropped both);
    # the rejected doc 1 never does; the exact re-copy 6's bands are
    # all already held under id 2, so nothing of 6 appends
    assert idx_ids == {2, 3, 4, 5}

    # replay is a no-op: same outputs, no band-index growth
    n_idx = spark.read.parquet(near_dir).count()
    _run()
    assert {
        r["doc_id"] for r in spark.read.parquet(kept_glob).collect()
    } == {2, 4}
    assert spark.read.parquet(near_dir).count() == n_idx

    # source REDELIVERY of the kept doc under a new batch id:
    # re-emits nothing, re-appends nothing
    _one_file(spark, d, "03.parquet", [(2, A)], schema)
    _run()
    assert {
        r["doc_id"] for r in spark.read.parquet(kept_glob).collect()
    } == {2, 4}
    assert spark.read.parquet(near_dir).count() == n_idx

    # forget doc 2 (and the near-dropped 3, whose bands also cover
    # A's content) from the band index + doc 2's hash from the keep
    # index: a LATER copy of A is readmitted
    forget_index_keys(spark, near_dir, [2, 3], key_col="doc_id")
    a_hash = spark.createDataFrame([(A,)], "text string").select(
        h64("text").alias("h")
    ).first()["h"]
    forget_index_keys(spark, index_dir, [a_hash], key_col="text_hash")
    _one_file(spark, d, "04.parquet", [(7, A)], schema)
    _run()
    assert {
        r["doc_id"] for r in spark.read.parquet(kept_glob).collect()
    } == {2, 4, 7}


def test_curate_clf_gate_orderings(spark, tmp_path):
    """The classifier-gated standing curation (scorer='linear'): a
    boilerplate doc is rejected by the supervised gate and never
    enters either index (a later prose doc with near-identical
    BOILERPLATE text is irrelevant — but a rejected PROSE-like copy
    must not shadow a later identical acceptable one), accepted docs
    near-dedup and exact-dedup across batches, and the emitted score
    column is the margin under the plug-in name lm_score."""
    import os

    from amazon_sagemaker_feature_store_streaming_aggregation_spark.operators.quality_clf import (
        classify_quality,
        train_quality_classifier,
    )
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming import (
        run_curate_stream,
    )

    prose = ("the query reads the data so the sort can stay fast "
             "while the stream stays live and the join stays cheap")
    prose2 = prose.replace("cheap", "small")   # near-dup of prose
    other = ("a window groups each row until the batch is done "
             "and the value stays in order as the merge runs")
    boiler = "click here to subscribe home about contact privacy policy"
    schema = "doc_id long, text string"

    # fixture precondition: the trained gate separates these
    model = train_quality_classifier()
    probe = spark.createDataFrame(
        [(1, prose), (2, prose2), (3, other), (4, boiler)], schema
    )
    keep = {
        r["doc_id"]: r["quality_keep"]
        for r in classify_quality(probe, model).collect()
    }
    assert keep == {1: True, 2: True, 3: True, 4: False}

    d = tmp_path / "stream"
    _one_file(spark, d, "00.parquet", [(1, boiler), (2, prose)], schema)
    _one_file(spark, d, "01.parquet",
              [(3, prose2), (4, other), (5, prose)], schema)
    out_dir = str(tmp_path / "out")

    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
    )
    q = run_curate_stream(
        stream, out_dir, str(tmp_path / "index"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        model_dir=None, cutoff=0, n_buckets=4,
        near_index_dir=str(tmp_path / "near"),
        scorer="linear",
    )
    assert q.awaitTermination(240)
    rows = spark.read.parquet(os.path.join(out_dir, "batch=*", "kept"))
    got = {r["doc_id"]: r["lm_score"] for r in rows.collect()}
    # 1 rejected by the gate; 3 near-dup of the ACCEPTED 2 (its band
    # index row, not the rejected 1's absence, decides); 5 an exact
    # re-copy of 2 -> dropped; 2 and 4 kept with positive margins
    assert set(got) == {2, 4}
    assert all(v is not None and v >= 0 for v in got.values())
    # the rejected doc never entered the band index
    idx_ids = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "near"))
        .select("doc_id").distinct().collect()
    }
    assert 1 not in idx_ids and 2 in idx_ids


def _curate_fixture(spark, tmp_path, rows):
    """Reference LM model over ``rows``' texts and a cutoff every one of
    them passes (the gate is not under test here)."""
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.operators.lm import (
        lm_transition_scores,
    )
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming import (
        write_lm_model,
    )
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming.quality import (
        read_lm_model,
    )

    docs = spark.createDataFrame(rows, SCHEMA)
    model_dir = str(tmp_path / "model")
    write_lm_model(docs, model_dir)
    scores = lm_transition_scores(docs, model=read_lm_model(spark, model_dir))
    cutoff = min(r["lm_score"] for r in scores.collect())
    return model_dir, cutoff


def _curate_near(stream, base, model_dir, cutoff, available_now=True):
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming import (
        run_curate_stream,
    )

    return run_curate_stream(
        stream, os.path.join(base, "out"), os.path.join(base, "index"),
        checkpoint_dir=os.path.join(base, "ckpt"), model_dir=model_dir,
        cutoff=cutoff, n_buckets=4, near_index_dir=os.path.join(base, "near"),
        available_now=available_now,
    )


def test_curate_retry_repairs_both_index_appends(spark, tmp_path):
    """Crash window after the commit: batch 1's ``kept/`` and ``bands/``
    and its ``_SUCCESS`` are on disk, its two index appends are not. The
    redelivered batch takes the retry branch and both indexes gain
    exactly the committed rows (the same indexes an uninterrupted run
    builds); a second redelivery appends nothing. The committed
    ``bands/`` artifact is pinned too: exactly the batch's min-winning
    band rows (a row whose band value no smaller-id gate-passer holds)."""
    import shutil

    from amazon_sagemaker_feature_store_streaming_aggregation_spark.operators.dedup import (
        band_rows,
        minhash_signatures,
    )

    A = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lamda mu nu xi omicron pi rho sigma tau upsilon")
    B = A.replace("gamma", "changedone")  # near copy of A
    D = ("one two three four five six seven eight nine ten "
         "eleven twelve thirteen fourteen fifteen sixteen")
    E = ("red orange yellow green blue indigo violet black white "
         "grey brown pink cyan magenta teal olive")
    rows0 = [(1, A), (2, D)]
    # 3 near-drops against 1, 5 is an exact copy of 2, 4 is new
    rows1 = [(3, B), (4, E), (5, D)]
    model_dir, cutoff = _curate_fixture(spark, tmp_path, rows0 + rows1)

    d = tmp_path / "stream"
    _one_file(spark, d, "00.parquet", rows0, SCHEMA)
    crashed = str(tmp_path / "crashed")
    clean = str(tmp_path / "clean")

    def _run(base):
        stream = (
            spark.readStream.format("parquet").schema(SCHEMA)
            .option("maxFilesPerTrigger", 1).load(str(d))
        )
        assert _curate_near(stream, base, model_dir, cutoff).awaitTermination(240)

    def _rows(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    _run(crashed)
    shutil.copytree(crashed, clean)
    _one_file(spark, d, "01.parquet", rows1, SCHEMA)
    _run(clean)
    batch1 = os.path.join(clean, "out", "batch=1")
    assert {r[0] for r in _rows(batch1 + "/kept")} == {4}

    sigs = band_rows(
        minhash_signatures(spark.createDataFrame(rows0 + rows1, SCHEMA))
    ).collect()
    holders = {}
    for r in sigs:
        key = (r["band"], r["bhash"])
        holders[key] = min(holders.get(key, r["doc_id"]), r["doc_id"])
    want_bands = sorted(
        (r["doc_id"], r["band"], r["bhash"]) for r in sigs
        if r["doc_id"] >= 3 and holders[(r["band"], r["bhash"])] == r["doc_id"]
    )
    assert _rows(batch1 + "/bands") == want_bands
    assert {i for i, _, _ in want_bands} == {3, 4}  # 3's unshared bands too

    # the crash: batch 1 committed, neither index append made
    before = {ix: _rows(os.path.join(crashed, ix)) for ix in ("index", "near")}
    planted = os.path.join(crashed, "out", "batch=1")
    shutil.copytree(batch1, planted)
    files = sorted(os.listdir(planted + "/kept") + os.listdir(planted + "/bands"))
    _run(crashed)
    # the retry branch only reads the committed artifacts
    assert sorted(os.listdir(planted + "/kept") + os.listdir(planted + "/bands")) == files
    for ix in ("index", "near"):
        got = _rows(os.path.join(crashed, ix))
        assert got == _rows(os.path.join(clean, ix))
        assert len(got) > len(before[ix])
    assert len(_rows(os.path.join(crashed, "near"))) == len(before["near"]) + len(want_bands)

    # redeliver batch 1 once more (its commit-log entry lost): the
    # retry branch runs again and appends nothing
    commits = os.path.join(crashed, "ckpt", "commits")
    os.remove(os.path.join(commits, "1"))
    if os.path.exists(os.path.join(commits, ".1.crc")):
        os.remove(os.path.join(commits, ".1.crc"))
    _run(crashed)
    for ix in ("index", "near"):
        assert _rows(os.path.join(crashed, ix)) == _rows(os.path.join(clean, ix))


def test_curate_near_trigger_job_count(spark, tmp_path):
    """A steady-state near-stage curation trigger has a fixed Spark-job
    cost: at most 20 jobs on the ``foreachBatch`` thread (44 before
    both prune lists came from one collect, the near decisions from one
    checkpoint and index reads from a memoized schema, here and on the
    ``curate_stream`` benchmark shape alike). The only
    ``parquet`` job is the ``kept/`` write: an index read infers no
    schema once the runner has read that index, and a memoized read
    runs no job at all."""
    import numpy as np

    from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming.dedup import (
        _read_index_pruned,
    )

    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(30)]
    texts = []
    for i in range(90):
        if i > 5 and i % 7 == 0:
            texts.append(texts[int(rng.integers(0, i))])  # exact copy
        elif i > 5 and i % 5 == 0:
            words = texts[int(rng.integers(0, i))].split()
            words[0] = "edit"
            texts.append(" ".join(words))  # near copy
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(10, 30)))))
    rows = list(enumerate(texts))
    model_dir, cutoff = _curate_fixture(spark, tmp_path, rows)

    d = tmp_path / "stream"
    os.makedirs(d)

    def _release(name, part):
        # written elsewhere, then renamed in: the running source never
        # sees a half-written file
        _one_file(spark, tmp_path / "staging", name, part, SCHEMA)
        os.rename(tmp_path / "staging" / name, d / name)

    _release("00.parquet", rows[:30])
    stream = (
        spark.readStream.format("parquet").schema(SCHEMA)
        .option("maxFilesPerTrigger", 1).load(str(d))
    )
    base = str(tmp_path / "run")
    q = _curate_near(stream, base, model_dir, cutoff, available_now=False)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        q.processAllAvailable()
        # batch 1 reads the now non-empty indexes for the first time;
        # batch 2 is the steady state
        _release("01.parquet", rows[30:60])
        q.processAllAvailable()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        seen = set(tracker.getJobIdsForGroup(q.runId))
        _release("02.parquet", rows[60:])
        q.processAllAvailable()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = set(tracker.getJobIdsForGroup(q.runId)) - seen
    finally:
        q.stop()
    assert q.exception() is None
    kept = spark.read.parquet(os.path.join(base, "out", "batch=2", "kept"))
    assert kept.count() > 0

    def names(jid):
        return [tracker.getStageInfo(s).name for s in tracker.getJobInfo(jid).stageIds]

    parquet_jobs = [j for j in jobs if any(n.startswith("parquet") for n in names(j))]
    assert len(jobs) <= 20, sorted(jobs)
    assert len(parquet_jobs) == 1, [names(j) for j in parquet_jobs]

    memo: dict = {}
    near = os.path.join(base, "near")
    _read_index_pruned(spark, near, [0, 1], nonempty_memo=memo)
    assert "schema" in memo
    group = "curate-index-read"
    sc.setJobGroup(group, group)
    try:
        bidx = _read_index_pruned(spark, near, [0, 1], nonempty_memo=memo)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(tracker.getJobIdsForGroup(group)) == 0
    assert bidx.columns == ["doc_id", "band", "bhash"]
