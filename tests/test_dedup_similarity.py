from __future__ import annotations

from pyspark.sql import functions as F

from syslog_ng_spark.operators import dedup, similarity


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
        (3, "completely different text about spark query engines and shuffles"),
        (4, "THE QUICK  brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1 modulo case/ws
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_normalizes(spark):
    kept = dedup.dedup_exact(_docs(spark))
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [1, 2, 3]  # 4 collapses into 1


def test_jaccard_finds_near_dup(spark):
    pairs = dedup.jaccard_pairs(_docs(spark), threshold=0.5).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got and (1, 4) in got
    assert not any(3 in p for p in got)


def test_minhash_lsh_candidates_cover_jaccard_pairs(spark):
    jp = {(r.id_a, r.id_b) for r in dedup.jaccard_pairs(_docs(spark), threshold=0.8).collect()}
    cand = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(_docs(spark)).collect()}
    assert jp <= cand  # LSH candidates must cover true near-dups


def test_minhash_lsh_bucket_cap_prunes_hot_buckets(spark):
    # 30 copies of one boilerplate text form a hot band bucket
    # (30*29/2 = 435 degenerate pairs); one genuine near-dup pair sits
    # in its own small bucket and must survive the cap.
    rows = [(i, "spam spam spam spam the same boilerplate every time") for i in range(30)]
    rows += [
        (100, "the quick brown fox jumps over the lazy dog near the river bank"),
        (101, "the quick brown fox jumps over the lazy dog near the river bend"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(docs).collect()}
    capped = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(docs, bucket_cap=10).collect()}
    assert (100, 101) in uncapped and (100, 101) in capped
    assert len(uncapped) >= 435 + 1
    assert capped == {(100, 101)}  # every hot-bucket pair dropped


def test_simhash_deterministic_and_close(spark):
    sig = {r.doc_id: r.simhash for r in dedup.simhash(_docs(spark)).collect()}
    sig2 = {r.doc_id: r.simhash for r in dedup.simhash(_docs(spark)).collect()}
    assert sig == sig2
    ham_12 = bin(sig[1] ^ sig[2]).count("1")
    ham_13 = bin(sig[1] ^ sig[3]).count("1")
    assert ham_12 < ham_13  # near-dup closer than unrelated
    assert sig[1] == sig[4]  # normalization-equal docs identical


def _emb(spark, n=50, dim=8):
    rows = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_bruteforce_vs_pandas_topk_agree(spark):
    emb = _emb(spark)
    q = emb.where(F.col("vec_id") == 0)
    qvec = q.collect()[0].embedding
    corpus = emb.where(F.col("vec_id") != 0)
    a = [(r.vec_id, r.cos_sim) for r in similarity.cosine_topk_bruteforce(corpus, q, k=5).collect()]
    b = [(r.vec_id, r.cos_sim) for r in similarity.cosine_topk_pandas(corpus, qvec, k=5).collect()]
    assert a == b


def test_lsh_buckets_groups_identical_vectors(spark):
    emb = _emb(spark)
    planes = [[1.0] * 8, [1.0, -1.0] * 4, [-1.0, 0.5] * 4]
    out = similarity.lsh_buckets(emb, planes)
    buckets = {r.vec_id: r.lsh_bucket for r in out.collect()}
    assert all(0 <= b < 8 for b in buckets.values())
    # vectors repeat with period 11 in construction → same bucket
    assert buckets[0] == buckets[11]


def test_cosine_pairs_blocked_matches_bruteforce(spark):
    """Triangle block partitioning is EXACT: same pairs and scores as
    the quadratic broadcast join it replaced, for every block count
    (including blocks > n and blocks == 1)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("_va"),
        similarity.norm(F.col("embedding")).alias("_na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("_vb"),
        similarity.norm(F.col("embedding")).alias("_nb"),
    )
    brute = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                similarity.dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.4)
        .collect()
    }
    assert brute, "fixture should produce at least one pair"
    for blocks in (1, 4, 64):
        got = {
            (r.id_a, r.id_b, r.cos_sim)
            for r in similarity.cosine_pairs_blocked(emb, 0.4, blocks=blocks).collect()
        }
        assert got == brute


def test_cosine_pairs_blocked_plan_has_no_bnl(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = similarity.cosine_pairs_blocked(emb, 0.45)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_topk_recall_and_exactness_at_full_probe(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") != 0)
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    cents = similarity.ivf_train(corpus, k=8, iters=2)
    brute = [r.vec_id for r in similarity.cosine_topk_pandas(corpus, qvec, k=10).collect()]
    got4 = [r.vec_id for r in similarity.ivf_topk(corpus, qvec, cents, k=10, nprobe=4).collect()]
    assert len(set(got4) & set(brute)) >= 7  # measured 0.9 on this data
    # probing every cell degenerates to the exact scan
    full = [r.vec_id for r in similarity.ivf_topk(corpus, qvec, cents, k=10, nprobe=8).collect()]
    assert full == brute


def test_trainer_driver_local_matches_distributed(spark):
    """r14: ivf_train/pq_train's bounded driver-local path must produce
    EXACTLY the distributed loop's centroids/codebooks (both round
    every score and mean to 9 digits, which absorbs summation-order
    differences) — the oracle replays training, so any divergence
    breaks the ann_* gates."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") != 0)
    for iters in (1, 2):
        assert similarity.ivf_train(corpus, k=8, iters=iters) == similarity.ivf_train(
            corpus, k=8, iters=iters, driver_train=False
        )
        assert similarity.pq_train(corpus, m=4, k=8, iters=iters) == similarity.pq_train(
            corpus, m=4, k=8, iters=iters, driver_train=False
        )


def test_trainer_driver_local_bound_fallback(spark):
    """auto falls back to the distributed loop when the corpus exceeds
    the collect bound (proven by the limit(n+1) probe); forcing
    driver_train=True past the bound is a loud error."""
    import pytest

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    auto = similarity.ivf_train(emb, k=4, iters=1, max_driver_train_rows=3)
    assert auto == similarity.ivf_train(emb, k=4, iters=1, driver_train=False)
    with pytest.raises(ValueError, match="exceeds"):
        similarity.ivf_train(emb, k=4, iters=1, driver_train=True, max_driver_train_rows=3)


def test_ivf_assignment_is_deterministic(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = similarity.ivf_train(emb, k=4, iters=1)
    c2 = similarity.ivf_train(emb, k=4, iters=1)
    assert c1 == c2
    a1 = similarity.ivf_assign(emb, c1).groupBy("ivf_cell").count().collect()
    sizes = {r.ivf_cell: r["count"] for r in a1}
    assert sum(sizes.values()) == emb.count() and len(sizes) > 1


def test_connected_components_clusters(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 1)],  # {1,2,3,9} and {5,6}
        "id_a long, id_b long",
    )
    got = {
        r.node: r.cluster_id
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}


def test_connected_components_chain_converges(spark):
    # a path graph exercises multi-round propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "id_a long, id_b long"
    )
    got = {r.node: r.cluster_id for r in dedup.connected_components(pairs).collect()}
    assert set(got.values()) == {1} and len(got) == 12


def test_dedup_exact_handles_map_columns(spark):
    rows = [
        (1, "same text", {"k": "v"}),
        (2, "same text", {"k": "w"}),
        (3, "other", {}),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, sdata map<string,string>")
    kept = sorted(r.doc_id for r in dedup.dedup_exact(df).collect())
    assert kept == [1, 3]


def test_connected_components_raises_when_unconverged(spark):
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a long, id_b long"
    )
    # max_driver_edges=0 pins the distributed loop (the driver-local
    # union-find has no iteration count to exhaust)
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iters=1, max_driver_edges=0)


def test_simhash60_recall_guarantee_and_subset(spark):
    """60-bit/15-bit-chunk SimHash (the SCALE.md remedy for the
    saturated 256-value bucket space): pigeonhole recall holds — every
    pair within hamming<=chunks-1 of the 60-bit signature is found —
    and the signature actually uses bits above 32 (a token hash wider
    than 8 hex chars), which is what multiplies the bucket space."""
    docs = _docs(spark)
    sig = {r.doc_id: r.simhash for r in dedup.simhash(docs, bits=60).collect()}
    assert any(s >= (1 << 32) for s in sig.values())  # high bits populated
    found = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_neardup_pairs(docs, bits=60, max_hamming=3, chunks=4).collect()
    }
    ids = sorted(sig)
    expect = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(sig[a] ^ sig[b]).count("1") <= 3
    }
    assert found == expect
    assert (1, 4) in found  # normalization-equal docs always pair


def test_simhash_rejects_unbacked_bits(spark):
    import pytest

    with pytest.raises(ValueError):
        dedup.simhash(_docs(spark), bits=64)


def test_fuzzy_dedup_keeps_canonicals(spark):
    """End-to-end recipe: docs 1/2/4 form one cluster — 4 is
    normalization-equal to 1 (jaccard 1.0) and 2 differs in one word,
    which flips exactly one of 11 distinct shingles (jaccard 10/12 =
    0.833 >= 0.8). Keep list = min-id canonical (1) + the unrelated
    doc (3); at threshold 0.9 doc 2 survives instead."""
    kept = sorted(r.doc_id for r in dedup.fuzzy_dedup(_docs(spark)).collect())
    assert kept == [1, 3]
    kept_strict = sorted(
        r.doc_id for r in dedup.fuzzy_dedup(_docs(spark), threshold=0.9).collect()
    )
    assert kept_strict == [1, 2, 3]


def test_containment_catches_embedded_doc(spark):
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(20))
    long_doc = "alpha beta gamma delta epsilon zeta eta theta iota kappa " + filler
    rows = [
        (1, long_doc),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),  # subset of 1
        (3, "totally unrelated words about spark catalyst tungsten engine"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    jac = {(r.id_a, r.id_b) for r in dedup.jaccard_pairs(docs, threshold=0.8).collect()}
    con = {
        (r.id_a, r.id_b)
        for r in dedup.jaccard_pairs(docs, threshold=0.9, metric="containment").collect()
    }
    assert (1, 2) not in jac        # union denominator dilutes the subset
    assert (1, 2) in con            # containment catches it
    assert not any(3 in p for p in con)
    row = (
        dedup.jaccard_pairs(docs, threshold=0.9, metric="containment")
        .where("id_a = 1 and id_b = 2")
        .first()
    )
    assert row.containment == 1.0   # every shingle of 2 is in 1


def test_incremental_dedup_filters_known_docs(spark):
    corpus = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog near the river bank"),
            (101, "completely different text about spark query engines and shuffles"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 100
            (2, "a genuinely novel document with brand new words and content here"),
            (3, "THE QUICK  brown fox jumps over the lazy dog near the river bank"),  # exact dup of 100
        ],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in dedup.incremental_dedup(new, corpus, threshold=0.5).collect())
    assert kept == [2]
    # higher threshold lets the near-dup through but not the exact dup
    kept9 = sorted(r.doc_id for r in dedup.incremental_dedup(new, corpus, threshold=0.99).collect())
    assert kept9 == [1, 2]


def test_connected_components_long_chain_converges(spark):
    """A 200-node path graph has diameter 199 — plain min-label
    propagation needs 199 rounds, pointer jumping needs ~8. Regression
    for the sf1 blow-up where chain-shaped near-dup clusters exceeded
    max_iters=20."""
    from syslog_ng_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)] + [(500, 501)], "id_a long, id_b long"
    )
    # max_driver_edges=0 pins the distributed loop — pointer jumping is
    # what this regression is about
    out = connected_components(pairs, max_iters=20, max_driver_edges=0).collect()
    labels = {r.node: r.cluster_id for r in out}
    assert all(labels[i] == 0 for i in range(200))
    assert labels[500] == labels[501] == 500


def test_connected_components_driver_local_matches_distributed(spark):
    """The driver-local union-find (default for small edge sets) and
    the distributed pointer-jumping loop must label identically —
    min member id per component, every paired node present."""
    edges = (
        [(i, i + 1) for i in range(10, 30)]      # a chain
        + [(100, 101), (101, 102), (100, 102)]   # a triangle
        + [(7, 200), (200, 7)]                   # duplicate edge both ways
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    local = {
        r.node: r.cluster_id for r in dedup.connected_components(pairs).collect()
    }
    dist = {
        r.node: r.cluster_id
        for r in dedup.connected_components(pairs, max_driver_edges=0).collect()
    }
    assert local == dist
    assert local[102] == 100 and local[200] == 7 and local[29] == 10


def test_ivf_assign_matches_python_argmax(spark):
    """ivf_assign against a pure-Python argmax: dot with each centroid
    normalized by math.sqrt(sum(x*x)), rounded to 9 digits, ties
    toward the larger cell index; a NULL vector gets a NULL cell."""
    import math
    import random

    from syslog_ng_spark.operators.similarity import ivf_assign

    def ref(v, cents):
        if v is None:
            return None
        normed = [[x / (math.sqrt(sum(y * y for y in c)) or 1.0) for x in c] for c in cents]
        scores = [round(sum(a * b for a, b in zip(v, c)), 9) for c in normed]
        return max(range(len(cents)), key=lambda i: (scores[i], i))

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(300)]
    # force exact ties: a duplicate centroid
    cents = [rows[i][1] for i in range(6)] + [rows[0][1]]
    rows.append((300, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(4)
    got = {r.vec_id: r.c for r in ivf_assign(df, cents, "embedding", "c").collect()}
    assert got == {i: ref(v, cents) for i, v in rows}
    assert got[0] == 6 and got[300] is None  # tie to the larger index
    assert ivf_assign(df.where("vec_id < 0"), cents, "embedding", "c").collect() == []

    # scores 1.0 and 1 - 5e-11 differ only past the 9th digit: the
    # rounding ties them, so the larger index wins
    near = [[1.0, 0.0], [1.0, 1e-5]]
    one = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<double>")
    assert ivf_assign(one, near, "embedding", "c").first().c == 1 == ref([1.0, 0.0], near)


def test_repeated_passages_coverage(spark):
    """Hand-built corpus: docs A and B share an 8-token passage; C is
    unique. Coverage must count exactly the positions under shared
    8-grams, and unique docs report 0."""
    from syslog_ng_spark.operators.dedup import repeated_passages

    shared = "the quick brown fox jumps over the lazy"  # 8 tokens
    docs = [
        (1, f"alpha beta {shared} gamma delta"),          # 12 tokens
        (2, f"{shared} epsilon zeta eta theta"),          # 12 tokens
        (3, "one two three four five six seven eight nine ten"),  # unique
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in repeated_passages(df, n=8, min_docs=2).collect()}
    # only the single shared 8-gram matches across docs -> 8 covered
    # positions in each of A and B
    assert out[1].dup_tokens == 8 and out[2].dup_tokens == 8
    assert out[3].dup_tokens == 0 and out[3].dup_ratio == 0.0
    assert abs(out[1].dup_ratio - 8 / 12) < 1e-6


def test_repeated_passages_overlapping_grams_merge(spark):
    """Two docs sharing a 10-token run: overlapping shared 8-grams must
    merge into one 10-position covered span, not double-count."""
    from syslog_ng_spark.operators.dedup import repeated_passages

    run = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"  # 10 tokens
    df = spark.createDataFrame(
        [(1, f"x {run} y"), (2, f"p q {run}")], "doc_id long, text string"
    )
    out = {r.doc_id: r.dup_tokens for r in repeated_passages(df, n=8, min_docs=2).collect()}
    assert out == {1: 10, 2: 10}


def test_repeated_spans_maximal_intervals(spark):
    """Spans are MAXIMAL: a shared 10-token run yields ONE [start,
    start+10) interval per doc (overlapping 8-gram hits merged), at
    the right 0-based offsets; two separate shared runs yield two."""
    from syslog_ng_spark.operators.dedup import repeated_spans

    run = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
    run2 = "b1 b2 b3 b4 b5 b6 b7 b8"
    df = spark.createDataFrame(
        [
            (1, f"x {run} y z w {run2}"),    # run at 1..11, run2 at 14..22
            (2, f"p q {run} {run2} tail"),
            (3, "unique text with no repeats at all here okay fine"),
        ],
        "doc_id long, text string",
    )
    spans = {}
    for r in repeated_spans(df, n=8, min_docs=2).collect():
        spans.setdefault(r.doc_id, []).append(
            (r.span_start, r.span_end, r.span_len))
    assert sorted(spans[1]) == [(1, 11, 10), (14, 22, 8)]
    # doc 2's runs touch ([2,12) then [12,20)): contiguous duplicated
    # coverage is ONE maximal interval
    assert sorted(spans[2]) == [(2, 20, 18)]
    assert 3 not in spans


def test_repeated_spans_mass_equals_passages_coverage(spark):
    """Cross-operator invariant: the union of maximal spans IS the
    coverage repeated_passages counts — per doc, sum(span_len) ==
    dup_tokens on the real documents table."""
    from pyspark.sql import functions as F

    from syslog_ng_spark.operators.dedup import repeated_passages, repeated_spans

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mass = {
        r.doc_id: r.total
        for r in repeated_spans(docs, n=8, min_docs=2)
        .groupBy("doc_id").agg(F.sum("span_len").alias("total")).collect()
    }
    cov = {
        r.doc_id: r.dup_tokens
        for r in repeated_passages(docs, n=8, min_docs=2).collect()
    }
    assert any(v > 0 for v in cov.values())  # the corpus does repeat
    for did, dup in cov.items():
        assert mass.get(did, 0) == dup, did


def test_exactsubstr_trim_cuts_spans_only(spark):
    """The removal step: duplicated runs disappear, unique context
    stays in order, unique docs and short docs pass through unchanged
    (normalized), fully-duplicated docs come back empty."""
    from syslog_ng_spark.operators.dedup import exactsubstr_trim

    run = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
    df = spark.createDataFrame(
        [
            (1, f"x {run} y"),
            (2, f"p q {run}"),
            (3, "unique text that nobody else repeats anywhere at all"),
            (4, run),                 # fully duplicated -> empty
            (5, "short doc"),         # < n tokens -> untouched
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in exactsubstr_trim(df, n=8, min_docs=2).collect()}
    assert out[1].trimmed_text == "x y" and out[1].removed_tokens == 10
    assert out[2].trimmed_text == "p q" and out[2].removed_tokens == 10
    assert out[3].removed_tokens == 0
    assert out[3].trimmed_text.startswith("unique text")
    assert out[4].trimmed_text == "" and out[4].removed_tokens == 10
    assert out[5].trimmed_text == "short doc" and out[5].removed_tokens == 0


def test_ivf_partitioned_table_prunes_cell_directories(spark, tmp_path):
    """The materialized IVF layout must turn the probe filter into
    literal partition pruning: inputFiles() of the probed scan lists
    only the nprobe cell directories, and results match the in-memory
    ivf_topk exactly."""
    from syslog_ng_spark.ann_fixtures import IVF_CENTROIDS
    from syslog_ng_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_from_table,
        probe_cells,
        write_ivf_table,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") != 0)
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    path = str(tmp_path / "ivf_table")
    write_ivf_table(corpus, path, IVF_CENTROIDS)

    # files ACTUALLY read by the probed scan (inputFiles() lists
    # pre-pruning files so it cannot demonstrate pruning)
    probe = probe_cells(qvec, IVF_CENTROIDS, nprobe=4)
    probed = spark.read.parquet(path).where(F.col("ivf_cell").isin(probe))
    files = [r.f for r in probed.select(F.input_file_name().alias("f")).distinct().collect()]
    cells_read = {f.split("ivf_cell=")[1].split("/")[0] for f in files if "ivf_cell=" in f}
    assert cells_read == {str(c) for c in probe}, f"read {cells_read}, probe {probe}"
    # and the planner sees it as a partition filter, not a data filter
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_cell" in plan.split("PartitionFilters")[1][:200]

    out = ivf_topk_from_table(spark, path, qvec, IVF_CENTROIDS, k=10, nprobe=4)
    want = [(r.vec_id, r.cos_sim) for r in ivf_topk(corpus, qvec, IVF_CENTROIDS, k=10, nprobe=4).collect()]
    got = [(r.vec_id, r.cos_sim) for r in out.collect()]
    assert got == want


def test_line_dedup_boilerplate_removal(spark):
    from syslog_ng_spark.operators.dedup import line_dedup

    docs = [
        (1, "unique alpha\ncookie banner\nbody one"),
        (2, "unique beta\nCookie  Banner \nbody two"),  # normalized match
        (3, "cookie banner"),  # all-boilerplate -> dropped
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r.text for r in line_dedup(df, min_docs=2).collect()}
    assert out[1] == "unique alpha\nbody one"
    assert out[2] == "unique beta\nbody two"
    assert 3 not in out


def test_line_dedup_threshold_and_within_doc_repeat(spark):
    from syslog_ng_spark.operators.dedup import line_dedup

    # a line repeated twice WITHIN one doc is 1 distinct doc -> kept
    docs = [(1, "chorus\nverse\nchorus"), (2, "other text")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r.text for r in line_dedup(df, min_docs=2).collect()}
    assert out[1] == "chorus\nverse\nchorus"


def test_semantic_decontaminate_flags_near_eval_vectors(spark):
    """A training vector colinear with an eval vector is flagged with
    max_cos 1.0; an orthogonal one is not (same LSH bucket or not,
    the cosine cut removes it)."""
    from syslog_ng_spark.operators.similarity import semantic_decontaminate

    planes = [[1.0, 0.5], [-0.3, 1.0]]
    evalset = spark.createDataFrame(
        [(100, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    corpus = spark.createDataFrame(
        [(1, [2.0, 0.0]), (2, [0.0, 3.0]), (3, [-1.0, 0.01])],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in
           semantic_decontaminate(corpus, evalset, planes, threshold=0.9).collect()}
    assert 1 in out and out[1].max_cos == 1.0
    assert 2 not in out and 3 not in out


def test_hard_negatives_picks_best_pos_and_hardest_neg(spark):
    """Within one cell: the anchor pairs with its most-similar
    above-threshold vector as positive and the most-similar
    below-threshold one as negative; anchors with no positive drop."""
    from syslog_ng_spark.operators.similarity import hard_negatives

    # one centroid -> everything in one cell
    cents = [[1.0, 0.0]]
    rows = [
        (1, [1.0, 0.0]),        # anchor
        (2, [1.0, 0.01]),       # near-dup of 1 (cos ~ 1.0) -> 1's positive
        (3, [1.0, 1.0]),        # cos ~ 0.707 vs 1 -> positive band too
        (4, [-1.0, 0.05]),      # anti-similar to every other vector
        (5, [0.3, 1.0]),        # cos ~ 0.287 vs 1 -> hardest negative for 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.anchor_id: r for r in
           hard_negatives(df, cents, pos_threshold=0.6, neg_lo=0.0).collect()}
    assert out[1].pos_id == 2 and out[1].pos_cos > 0.99
    assert out[1].neg_id == 5 and 0.2 < out[1].neg_cos < 0.6
    # vec 4 has no positive partner above 0.6 except nothing -> absent
    assert 4 not in out


def test_hard_negatives_calibrated_floor_preserves_positives(spark):
    """neg_lo_quantile moves only the negative band's lower edge:
    positives are identical to the uncalibrated run, and the chosen
    negative is at or above the calibrated floor."""
    from syslog_ng_spark.operators.similarity import hard_negatives

    cents = [[1.0, 0.0]]
    rows = [(i, [1.0, i / 50.0]) for i in range(1, 26)] + [
        (100 + i, [0.1 * i, 1.0]) for i in range(1, 6)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = {r.anchor_id: r for r in
            hard_negatives(df, cents, pos_threshold=0.9, neg_lo=0.0).collect()}
    cal = {r.anchor_id: r for r in
           hard_negatives(df, cents, pos_threshold=0.9, neg_lo=0.0,
                          neg_lo_quantile=0.5).collect()}
    assert set(base) == set(cal)
    for k in base:
        assert base[k].pos_id == cal[k].pos_id
        assert base[k].pos_cos == cal[k].pos_cos
        # the hardest negative is the max of the band; raising the
        # band floor can only drop it to NULL, never change its value
        assert cal[k].neg_cos is None or cal[k].neg_cos == base[k].neg_cos
    # approx calibration runs the same plan shape
    ap = hard_negatives(df, cents, pos_threshold=0.9, neg_lo=0.0,
                        neg_lo_quantile=0.5, calib_method="approx")
    assert ap.count() == len(base)


def test_gram_table_decontaminate_parity_and_bucket_local_join(spark, tmp_path):
    """The materialized gram-table path returns exactly the inline
    decontaminate counts, and the bucketed corpus side joins without
    its own Exchange (the bench side may still shuffle)."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F
    from syslog_ng_spark.operators.dedup import (
        decontaminate_from_table,
        shingles,
        write_gram_table,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc{i} epsilon zeta eta theta") for i in range(20)]
        + [(100, "alpha beta gamma delta unique bench text here okay")],
        "doc_id long, text string",
    )
    corpus = docs.where(F.col("doc_id") < 100)
    bench = docs.where(F.col("doc_id") >= 100)
    write_gram_table(
        corpus, "gram_tbl_test", n=4, gram_buckets=4, path=str(tmp_path / "grams")
    )
    bench_grams = shingles(bench, "text", n=4, target="gram")
    out = decontaminate_from_table(spark, "gram_tbl_test", bench_grams)
    got = {r.doc_id: r.n_shared for r in out.collect()}

    # inline reference: same shingle sets joined directly
    inline = (
        shingles(corpus, "text", n=4, target="gram")
        .join(bench_grams.select("gram").distinct(), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared"))
    )
    want = {r.doc_id: r.n_shared for r in inline.collect()}
    assert got == want and len(got) == 20  # shared 'alpha beta gamma delta' gram

    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # the bucketed scan feeds the join without an Exchange above it:
    # with SMJ on a 4-bucket table, only the bench side shuffles
    assert "Exchange" in plan  # bench side still exchanges
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan[:2000]
    spark.sql("DROP TABLE IF EXISTS gram_tbl_test")
