"""Quality checks for the approximate operators (the ones the duckdb
oracle can't express): IVF recall vs brute force, SimHash recall vs the
exact-Jaccard planted pairs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stream_processing_platform_spark.operators.ann import (
    brute_force_topk,
    ivf_topk,
    ivfpq_topk,
    pq_topk,
)
from stream_processing_platform_spark.operators.dedup import (
    embedding_near_dup_pairs,
    hyperplane_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from stream_processing_platform_spark.tables import load_table


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, q, k=5, num_cells=16, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # nprobe=4/16 cells on random-ish vectors: recall well above chance
    # (chance = 4/16 = 0.25); the bound is loose on purpose — this
    # guards plumbing regressions (empty cells, wrong ranking), not ANN
    # tuning. 0.45: the r9 Knuth-ordered centroid sample (which bought
    # the full duckdb oracle) lands at 0.48 on this corpus where the
    # old xxhash sample happened to land a bit above 0.5 — same tier of
    # sampling luck, and the trained tier's recall gate still enforces
    # >= 0.5.
    assert recall >= 0.45, f"IVF recall {recall:.2f} too low"


def test_pq_recall_vs_brute_force(spark, sf_dir):
    """PQ + exact re-rank at the defaults (16 subspaces × 64 codes,
    16× refine) recalls nearly all true top-5 neighbors: measured 0.97
    at sf0.01 on the synthetic embeddings; bound left at 0.8 so the
    gate catches plumbing breaks (mis-indexed distance tables score as
    noise and recall collapses toward k/corpus), not sampling jitter."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(emb, q, k=5).collect()
    }
    approx = {(r.query_id, r.neighbor_id) for r in pq_topk(emb, q, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"PQ recall {recall:.2f} too low"
    # exact re-rank: every reported cosine must equal the brute-force
    # cosine for that pair (PQ only selects candidates, never scores the
    # output), so ranks within the intersection are consistent
    bf_cos = {(r.query_id, r.neighbor_id): r.cos for r in brute_force_topk(emb, q, k=5).collect()}
    for r in pq_topk(emb, q, k=5).collect():
        if (r.query_id, r.neighbor_id) in bf_cos:
            assert r.cos == bf_cos[(r.query_id, r.neighbor_id)]


def test_ivf_works_on_sparse_noncontiguous_ids(spark, sf_dir):
    """Centroid selection must not assume dense 0..n ids: remap ids to a
    sparse space (×1000 + 7) and demand the same recall bound. The old
    stride-based centroid pick (every n/num_cells-th id) silently
    degenerates to <num_cells cells here; the hash-sample pick must not."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "vec_id", F.col("vec_id") * 1000 + 7
    )
    q = emb.where(F.col("vec_id") < 20_007)
    exact = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, q, k=5, num_cells=16, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # Chance level at nprobe=4/16 cells is ~0.25; the old stride pick
    # yields near-zero here. 0.4 guards the plumbing without pinning
    # centroid luck on random-ish vectors.
    assert recall >= 0.4, f"IVF recall {recall:.2f} too low on sparse ids"


@pytest.mark.parametrize("threshold", [0.8, 0.9, 0.95])
def test_hyperplane_lsh_recall_vs_brute_force(spark, sf_dir, threshold):
    """The LSH family's recall curve: hyperplane_lsh_pairs vs the exact
    all-pairs baseline (embedding_near_dup_pairs — this test is the
    baseline's caller) on the twin-augmented corpus at several
    thresholds. Both paths verify exact cosine, so LSH ⊆ exact and the
    only question is banding recall."""
    from stream_processing_platform_spark.queries.similarity import _augmented

    aug = _augmented(spark, sf_dir)
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(aug, "vec_id", "embedding", threshold).collect()
    }
    n_vecs = aug.count() // 2
    # every original pairs with its planted twin (cos≈0.9986 > 0.95);
    # background pairs top out ~0.52, so exact == the twin pairs exactly
    assert len(exact) == n_vecs, f"expected {n_vecs} planted twin pairs, got {len(exact)}"
    lsh = {
        (r.id_a, r.id_b)
        for r in hyperplane_lsh_pairs(aug, "vec_id", "embedding", threshold).collect()
    }
    assert lsh <= exact, "LSH verify stage must not pass sub-threshold pairs"
    recall = len(lsh & exact) / len(exact)
    # at cos≈0.9986 the per-pair miss probability with 12 bands of 16
    # bits is ~4e-8 — demand near-perfect recall, not just "above chance"
    assert recall >= 0.99, f"LSH recall {recall:.3f} at threshold {threshold}"


def test_hyperplane_lsh_empty_input_yields_no_pairs(spark):
    """Regression guard: dimensionality probing head() returns None on an
    empty frame — must degrade to zero pairs, not crash at plan build."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert hyperplane_lsh_pairs(empty, "vec_id", "embedding", 0.95).count() == 0


def test_hyperplane_lsh_leading_empty_vector_keeps_dims(spark):
    """A null/empty vector in the FIRST row must not shrink the probed
    dimensionality to 1 (which would collapse every signature and turn
    LSH into near-all-pairs). With real dims, the two orthogonal vectors
    below land in different buckets almost surely and produce no
    candidate pair; the identical pair still verifies at cos=1."""
    rows = [
        (0, []),  # poison row: empty vector first
        (1, [1.0] + [0.0] * 63),
        (2, [1.0] + [0.0] * 63),
        (3, [0.0] * 63 + [1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r.id_a, r.id_b)
        for r in hyperplane_lsh_pairs(df, "vec_id", "embedding", 0.95).collect()
    }
    assert pairs == {(1, 2)}, pairs


def test_arrow_twins_name_null_and_ragged_vectors(spark):
    """The Arrow assignment/encoding twins (_assign_cells, _encode_codes,
    _sem_members_arrow) stack each batch with np.stack: a NULL or
    wrong-length embedding used to die with an opaque numpy shape error
    deep in an executor. The contract is now a loud, named error (the
    LSH sigrun masks such rows only because its expression twin defines
    all-zero semantics for them; these twins have none)."""
    from stream_processing_platform_spark.operators.ann import ivf_topk
    from stream_processing_platform_spark.operators.dedup import semantic_dedup

    rows = [(i, [float(i), 1.0, 0.0, 0.5]) for i in range(8)]
    bad = spark.createDataFrame(
        rows + [(98, None), (99, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    q = spark.createDataFrame(rows[:2], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="NULL or non-4-dim"):
        ivf_topk(bad, q, num_cells=2, nprobe=2).collect()
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cid long, cvec array<double>",
    )
    with pytest.raises(Exception, match="NULL or non-4-dim"):
        semantic_dedup(bad, cents).collect()


def test_simhash_arrow_signature_equals_expr(spark, sf_dir):
    """The Arrow simhash fingerprints must equal the expression twin
    EXACTLY (pure int64 arithmetic — no float-noise allowance, unlike
    the semdedup/PQ twins): real corpus + adversarial strings (empty,
    whitespace-only, ASCII-control whitespace, 16+-token runs)."""
    from stream_processing_platform_spark.functions.text import tokens as tok_fn
    from stream_processing_platform_spark.operators.dedup import (
        _simhash_bits_arrow,
        simhash_bits,
    )

    def both_equal(df):
        arrow = _simhash_bits_arrow(df, "doc_id", "text", 64)
        bits = simhash_bits(tok_fn(F.col("text")), 64)
        pack = lambda lohi: F.aggregate(  # noqa: E731
            lohi, F.lit(0).cast("long"), lambda acc, bit: acc * 2 + bit
        )
        expr = df.select(F.col("doc_id").alias("_id"), bits.alias("_b")).select(
            "_id",
            pack(F.slice(F.col("_b"), 1, 32)).alias("_hi"),
            pack(F.slice(F.col("_b"), 33, 32)).alias("_lo"),
        )
        j = arrow.alias("a").join(expr.alias("e"), "_id")
        assert j.count() == df.count()
        return (
            j.where(
                (F.col("a._hi") != F.col("e._hi")) | (F.col("a._lo") != F.col("e._lo"))
            ).count()
            == 0
        )

    docs = load_table(spark, sf_dir, "documents").limit(200)
    assert both_equal(docs)
    adversarial = spark.createDataFrame(
        [
            (1, ""),
            (2, None),
            (3, "   \t\n  "),
            (4, "ONE"),
            (5, "MiXeD Case TOKENS here\tand\nthere\x0band\x0celsewhere"),
            (6, " ".join(f"tok{i}" for i in range(40))),
        ],
        "doc_id long, text string",
    )
    assert both_equal(adversarial)


def test_simhash_finds_planted_near_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    assert exact, "fixture should contain planted near-dup pairs"
    sim = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(docs, "doc_id", "text", max_hamming=10, bands=8).collect()
    }
    recall = len(exact & sim) / len(exact)
    assert recall >= 0.6, f"SimHash recall {recall:.2f} vs exact pairs too low"


def test_ivfpq_recall_tracks_ivf(spark, sf_dir):
    """The combined index's defining property: the PQ candidate stage +
    exact re-rank must lose (almost) NOTHING beyond the IVF cell
    restriction — ivfpq recall tracks ivf-alone recall at the same
    nprobe (measured equal at sf0.01), and stays above the plumbing-
    break floor."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(emb, q, k=5).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, q, k=5, num_cells=16, nprobe=6).collect()
    }
    comb = {
        (r.query_id, r.neighbor_id) for r in ivfpq_topk(emb, q, k=5, nprobe=6).collect()
    }
    r_ivf = len(exact & ivf) / len(exact)
    r_comb = len(exact & comb) / len(exact)
    assert r_comb >= r_ivf - 0.05, f"PQ stage lost recall: {r_comb:.2f} vs ivf {r_ivf:.2f}"
    assert r_comb >= 0.4, f"IVFPQ recall {r_comb:.2f} below plumbing floor"


def test_ivfpq_residual_encoding_on_clustered_data(spark):
    """Residual PQ (x/|x| - c/|c|) is the faithful FAISS composition;
    on CLUSTERED data — where cells explain most of the vector and the
    residual carries the fine structure — it must match brute force at
    least as well as raw-vector encoding. Crafted corpus: 4 tight
    clusters around orthogonal-ish anchors, 32 points each."""
    import numpy as np

    rng = np.random.default_rng(7)
    anchors = np.eye(4).repeat(4, axis=1)  # 4 anchors in 16-d
    rows = []
    vid = 0
    for a in anchors:
        for _ in range(32):
            v = a + rng.normal(0, 0.08, size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = df.where(F.col("vec_id") % 16 == 0)
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(df, q, k=5).collect()}

    def recall(**kw):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivfpq_topk(
                df, q, k=5, dim=16, num_cells=4, nprobe=2,
                num_subspaces=4, num_codes=16, refine=8, **kw
            ).collect()
        }
        return len(exact & got) / len(exact)

    r_raw = recall()
    r_res = recall(residual=True)
    assert r_res >= 0.6, f"residual IVFPQ recall {r_res:.2f} below floor"
    assert r_res >= r_raw - 0.1, (r_res, r_raw)


def test_ivfpq_residual_training_trains_the_codebook(spark):
    """residual=True + train_iters>0 trains the RESIDUAL codebook
    (normalize=False k-means over x/|x| − c/|c|) instead of silently
    ignoring train_iters — recall on clustered data stays at-or-above
    the untrained residual tier."""
    import numpy as np

    rng = np.random.default_rng(11)
    anchors = np.eye(4).repeat(4, axis=1)  # 4 anchors in 16-d
    rows = []
    vid = 0
    for a in anchors:
        for _ in range(32):
            v = a + rng.normal(0, 0.08, size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = df.where(F.col("vec_id") % 16 == 0)
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(df, q, k=5).collect()}

    def recall(**kw):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivfpq_topk(
                df, q, k=5, dim=16, num_cells=4, nprobe=2,
                num_subspaces=4, num_codes=16, refine=8, residual=True, **kw
            ).collect()
        }
        return len(exact & got) / len(exact)

    r_untrained = recall()
    r_trained = recall(train_iters=2)
    assert r_trained >= 0.6, f"trained residual IVFPQ recall {r_trained:.2f} below floor"
    assert r_trained >= r_untrained - 0.1, (r_trained, r_untrained)


def test_semdedup_drops_planted_twins_keeps_originals(spark, sf_dir):
    """SemDeDup ground truth on the twin-augmented corpus: every
    original survives (background pair cosine tops out ~0.52), and
    nearly every planted twin (cos 0.9986 to its lower-id original) is
    dropped — the shortfall is exactly the twins whose normalized
    vector straddles a cluster boundary, the paper's documented
    approximation. Also pins the policy: kept=false requires a
    lower-id neighbor, so the drop set can never include both members
    of a twin pair."""
    from stream_processing_platform_spark.functions.similarity import as_double_array
    from stream_processing_platform_spark.operators.clustering import _normed
    from stream_processing_platform_spark.operators.dedup import semantic_dedup
    from stream_processing_platform_spark.queries.similarity import _TWIN_OFFSET, _augmented

    aug = _augmented(spark, sf_dir)
    cents = aug.where((F.col("vec_id") % 61) == 3).select(
        F.col("vec_id").alias("cid"),
        _normed(as_double_array(F.col("embedding"))).alias("cvec"),
    )
    res = semantic_dedup(aug, cents, threshold=0.95).cache()
    n = aug.count() // 2
    originals = res.where(F.col("vec_id") < _TWIN_OFFSET)
    twins = res.where(F.col("vec_id") >= _TWIN_OFFSET)
    assert originals.where(~F.col("kept")).count() == 0
    dropped = twins.where(~F.col("kept")).count()
    assert dropped >= int(0.9 * n), f"only {dropped}/{n} twins dropped"
    res.unpersist()


def _sem_inc_fixture(spark):
    """2-D deterministic fixture: centroid directions A=(1,0), B=(0,1);
    corpus holds one kept vector per direction."""
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid int, cvec array<double>"
    )
    corpus = spark.createDataFrame(
        [(1, [2.0, 0.0]), (2, [0.0, 2.0])], "vec_id bigint, embedding array<double>"
    )
    return cents, corpus


def test_incremental_semantic_dedup_policies(spark):
    """Batch vectors drop against the kept corpus (any id) and against
    LOWER-id batchmates, while a same-cluster vector below threshold
    survives — the three policy legs of the steady-state SemDeDup
    ingest."""
    from stream_processing_platform_spark.operators.dedup import incremental_semantic_dedup

    cents, corpus = _sem_inc_fixture(spark)
    batch = spark.createDataFrame(
        [
            (10, [1.0, 0.05]),   # cos 0.9988 to corpus A -> dropped vs corpus
            (11, [1.0, 0.7]),    # cluster A, cos 0.82 to A, 0.57 to 10 -> kept
            (12, [1.0, 0.06]),   # cos 0.9988 to A AND to 10 -> dropped (both legs)
            (13, [0.05, 1.0]),   # cos 0.9988 to corpus B -> dropped vs corpus
        ],
        "vec_id bigint, embedding array<double>",
    )
    res = {
        r.vec_id: (r.cluster, r.kept)
        for r in incremental_semantic_dedup(batch, corpus, cents, threshold=0.95).collect()
    }
    assert res[10] == (0, False)
    assert res[11] == (0, True)
    assert res[12] == (0, False)
    assert res[13] == (1, False)
    # batch-internal leg alone: with an EMPTY corpus, 12 still drops
    # against lower-id batchmate 10, and 10 itself survives
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    res2 = {
        r.vec_id: r.kept
        for r in incremental_semantic_dedup(batch, empty, cents, threshold=0.95).collect()
    }
    assert res2[10] is True and res2[12] is False


def test_incremental_semantic_dedup_streaming_foreachbatch(spark, tmp_path):
    """The operator IS the foreachBatch body: drive two staged file
    micro-batches through writeStream.foreachBatch, appending kept rows
    back to the corpus between batches — batch 2's near-dup of a vector
    KEPT in batch 1 must drop against the accumulated corpus, not just
    the seed corpus."""
    from pyspark.sql import functions as F

    from stream_processing_platform_spark.operators.dedup import incremental_semantic_dedup
    from stream_processing_platform_spark.sources.streaming import file_source

    cents, corpus = _sem_inc_fixture(spark)
    corpus_dir = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_dir)

    import glob
    import os
    import shutil

    src = tmp_path / "src"
    src.mkdir()
    schema = "vec_id bigint, embedding array<double>"

    def stage(rows, name, mtime):
        tmp = tmp_path / f"_stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp))
        part = glob.glob(str(tmp / "part-*.parquet"))[0]
        dst = str(src / f"{name}.parquet")
        shutil.copyfile(part, dst)
        os.utime(dst, (mtime, mtime))  # FileStreamSource admits oldest first

    stage([(20, [1.0, 0.7])], "b0", 1_000_000)   # kept (cluster A, below thr)
    stage([(30, [1.0, 0.71])], "b1", 2_000_000)  # near-dup of 20 (kept in b1)

    seen = []

    def on_batch(batch_df, batch_id):
        existing = spark.read.parquet(corpus_dir).select("vec_id", "embedding")
        res = incremental_semantic_dedup(batch_df, existing, cents, threshold=0.95)
        seen.append({r.vec_id: r.kept for r in res.collect()})
        res.where(F.col("kept")).select("vec_id").join(
            batch_df, "vec_id"
        ).select("vec_id", "embedding").write.mode("append").parquet(corpus_dir)

    q = (
        file_source(spark, str(src), schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    merged = {k: v for d in seen for k, v in d.items()}
    assert merged[20] is True
    # 30 dropped against 20, which entered the corpus only via batch 1
    assert merged[30] is False


def test_semdedup_arrow_assignment_matches_expression_twin(spark, sf_dir):
    """The vectorized mapInPandas member prep (batch matmul + numpy
    rounded argmin) must agree row-for-row with the pure expression
    form on cluster AND kept — the same twin-pinning doctrine as
    winnow_fingerprints vs its HOF expression twin. The admitted
    pairwise-vs-sequential summation delta (~1e-15) sits nine orders
    under the 1e-6 rounding step, so any divergence here is a real
    bug, not float noise."""
    from stream_processing_platform_spark.functions.similarity import as_double_array
    from stream_processing_platform_spark.operators.clustering import _normed
    from stream_processing_platform_spark.operators.dedup import semantic_dedup
    from stream_processing_platform_spark.queries.similarity import _augmented

    aug = _augmented(spark, sf_dir)
    cents = aug.where((F.col("vec_id") % 61) == 3).select(
        F.col("vec_id").alias("cid"),
        _normed(as_double_array(F.col("embedding"))).alias("cvec"),
    )
    arrow = {
        r.vec_id: (r.cluster, r.kept)
        for r in semantic_dedup(aug, cents, threshold=0.95, assign="arrow").collect()
    }
    expr = {
        r.vec_id: (r.cluster, r.kept)
        for r in semantic_dedup(aug, cents, threshold=0.95, assign="expr").collect()
    }
    assert arrow == expr


def test_hyperplane_lsh_arrow_signature_matches_expression_twin(spark, sf_dir):
    """The vectorized mapInPandas signature stage (batch matmul sign
    bits + chunk fold) must return the exact same verified pair set as
    the interpreted expression form — the twin-pinning doctrine. A sign
    can only diverge when |projection| ~ 1e-13, and then banding
    redundancy plus exact verify still bound the effect; equality here
    means any divergence is a bug."""
    from stream_processing_platform_spark.operators.dedup import hyperplane_lsh_pairs
    from stream_processing_platform_spark.queries.similarity import _augmented

    aug = _augmented(spark, sf_dir)
    arrow = {
        (r.id_a, r.id_b, r.cos)
        for r in hyperplane_lsh_pairs(aug, "vec_id", "embedding", signature="arrow").collect()
    }
    expr = {
        (r.id_a, r.id_b, r.cos)
        for r in hyperplane_lsh_pairs(aug, "vec_id", "embedding", signature="expr").collect()
    }
    assert arrow == expr and len(arrow) > 0


def test_pq_encode_arrow_matches_expression_twin(spark, sf_dir):
    """The Arrow einsum PQ encoder must produce the exact same code
    arrays as the explode-join-argmin expression form, for both the
    normalized (raw PQ) and raw (residual) inputs — twin-pinning
    doctrine; fp-noise ties are the only admitted divergence channel
    and equality here means none fired."""
    from pyspark.sql import functions as F

    from stream_processing_platform_spark.operators.ann import (
        _encode_codes,
        _pq_codebook,
        _prep,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    c = _prep(emb, "vec_id", "embedding", "neighbor_id", "_cv")
    cb = _pq_codebook(c, 64, 16, 64, 0)
    for normalize in (True, False):
        arrow = {
            r.neighbor_id: list(r.codes)
            for r in _encode_codes(
                c, "neighbor_id", "_cv", cb, 64, 16, normalize, encode="arrow"
            ).collect()
        }
        expr = {
            r.neighbor_id: list(r.codes)
            for r in _encode_codes(
                c, "neighbor_id", "_cv", cb, 64, 16, normalize, encode="expr"
            ).collect()
        }
        assert arrow == expr, f"normalize={normalize}"


def test_ivf_assign_cells_arrow_matches_expression_twin(spark, sf_dir):
    """The Arrow matmul cell assignment must agree row-for-row with the
    crossJoin + min(struct(-sim, cell)) expression form — twin-pinning
    doctrine for the IVF side."""
    from stream_processing_platform_spark.operators.ann import (
        _assign_cells,
        _ivf_centroids,
        _prep,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    c = _prep(emb, "vec_id", "embedding", "cid", "_cv")
    cents = _ivf_centroids(c, 16, 0)
    arrow = {
        r.cid: r.cell for r in _assign_cells(c, cents, assign="arrow").collect()
    }
    expr = {
        r.cid: r.cell for r in _assign_cells(c, cents, assign="expr").collect()
    }
    assert arrow == expr and len(arrow) == emb.count()


def test_hyperplane_lsh_null_vector_is_bucketed_not_fatal(spark):
    """A NULL embedding must not kill the Arrow signature stage — it
    reads an all-zero signature (the expr path's zip_with null-pad
    semantics) and simply buckets harmlessly; the verify stage never
    emits it as a pair."""
    from stream_processing_platform_spark.operators.dedup import hyperplane_lsh_pairs

    rows = [(1, [1.0] * 8), (2, [1.0] * 8), (3, None), (4, [])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    for sig in ("arrow", "expr"):
        pairs = {
            (r.id_a, r.id_b)
            for r in hyperplane_lsh_pairs(
                df, "vec_id", "embedding", threshold=0.95, signature=sig
            ).collect()
        }
        assert pairs == {(1, 2)}, sig


def test_semantic_dedup_string_ids(spark):
    """The Arrow member prep derives id/cluster types from its inputs —
    string document ids (the common real-world key) work on both
    paths."""
    from stream_processing_platform_spark.operators.dedup import semantic_dedup

    cents = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], "cid string, cvec array<double>"
    )
    df = spark.createDataFrame(
        [("d1", [2.0, 0.0]), ("d2", [2.0, 0.1]), ("d3", [0.0, 3.0])],
        "vec_id string, embedding array<double>",
    )
    for mode in ("arrow", "expr"):
        res = {
            r.vec_id: (r.cluster, r.kept)
            for r in semantic_dedup(df, cents, threshold=0.95, assign=mode).collect()
        }
        assert res["d1"] == ("a", True)
        assert res["d2"] == ("a", False)  # lower-id neighbor d1, cos ~0.999
        assert res["d3"] == ("b", True)
