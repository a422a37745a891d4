"""Similarity search over embedding columns (LLM-pipeline extension).

Brute-force cosine top-k is the correctness baseline; the scale path
is LSH bucketing (random-hyperplane signs) so candidate generation is
linear. Vector math uses JVM array functions (zip_with + aggregate in
double precision) — deterministic sequential order, reproducible in
the DuckDB oracle. IVF cell assignment is an Arrow-batched numpy
matmul (ivf_assign); cosine_topk_pandas is the matmul top-k variant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _corpus_dim(df: DataFrame, vec_col: str) -> int:
    """Vector dimensionality from the first corpus row, with a clear
    error on an empty corpus (first() returns None, which would
    otherwise surface as an opaque TypeError deep in training)."""
    first = df.select(vec_col).first()
    if first is None or first[0] is None:
        raise ValueError(f"empty corpus: no rows with a non-null {vec_col!r} vector")
    return len(first[0])


# --- SQL-text expression builders (r14 optimization) -------------------
#
# The PQ/LSH expressions embed hundreds of literals (codes x dim
# components). Building them as Column trees costs one py4j round
# trip PER OPERATOR — profiled at 1.4-4s per k-way argmax on the
# driver, dwarfing the 0.5s Spark job it feeds (guide §1/§5: the driver
# must not be the bottleneck). Rendering the SAME expression as one SQL
# string and parsing it JVM-side with F.expr is a single round trip.
#
# The rendered form also unrolls dot/norm into plain arithmetic
# (codegen-friendly) instead of transform/zip_with/aggregate lambdas
# (interpreted per row, one intermediate array per centroid). FP
# equivalence is by construction: the unrolled sum keeps aggregate()'s
# exact left-associative fold order ((((0.0 + x0*c0) + x1*c1) + ...)
# and the identical per-element CAST(v[d] AS DOUBLE), so every double
# is bit-identical to the lambda form — verified value-exact against
# the DuckDB oracles (which replay the same parenthesisation).


def _dlit(v: float) -> str:
    """Exact SQL double literal: repr() round-trips the double, and the
    D suffix stops Spark's parser from reading a bare decimal as
    DECIMAL(p,s)."""
    r = repr(float(v))
    return f"{r}D" if ("." in r or "e" in r or "E" in r or "n" in r) else f"{r}.0D"


def _dot_lit_sql(vec: str, vals: list[float], offset: int = 0) -> str:
    """Unrolled dot(vec[offset:offset+len(vals)], vals) with dot()'s
    fold order: (((0.0 + cast(v[o])*c0) + cast(v[o+1])*c1) + ...).

    Keep unrolled expressions under ~200 terms: past that the
    generated method exceeds HotSpot's JIT size limit and runs in the
    BYTECODE interpreter — measured 2.2s vs 0.5s per Lloyd-round job
    for the 16x64-term argmax."""
    s = "0.0D"
    for d, v in enumerate(vals):
        s = f"({s} + (CAST(`{vec}`[{offset + d}] AS DOUBLE) * {_dlit(v)}))"
    return s


def _dot_cols_hof_sql(a: str, b: str) -> str:
    """dot between two vector columns in the original HOF tree shape
    (bit-identical to dot()); the fast form when the dot sits in a
    join's output projection over many pairs — the unrolled version
    inflates the codegen'd join method past JIT limits (measured
    5.9s vs 1.5s on the blocked all-pairs join)."""
    return (
        f"aggregate(zip_with(transform(`{a}`, x -> CAST(x AS DOUBLE)), "
        f"transform(`{b}`, x -> CAST(x AS DOUBLE)), (x, y) -> x * y), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def _norm_sql(vec: str, dim: int) -> str:
    """Unrolled norm(vec): sqrt of aggregate()'s fold
    (((0.0 + x0*x0) + x1*x1) + ...) with the same per-element cast."""
    s = "0.0D"
    for d in range(dim):
        s = f"({s} + (CAST(`{vec}`[{d}] AS DOUBLE) * CAST(`{vec}`[{d}] AS DOUBLE)))"
    return f"SQRT({s})"


def _norm_hof_sql(vec: str) -> str:
    """norm(vec) in the original HOF tree shape — bit-identical to
    norm(), no dim knowledge needed."""
    return (
        f"SQRT(aggregate(transform(`{vec}`, x -> CAST(x AS DOUBLE)), "
        f"0.0D, (acc, x) -> acc + x * x))"
    )


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine: broadcast the (single-row) query side,
    score every corpus vector, take k. Ties broken by id; scores
    rounded to 6 digits so ordering is engine-portable."""
    q = F.broadcast(
        query.select(F.col(vec_col).alias("_qvec"), norm(F.col(vec_col)).alias("_qn"))
    )
    scored = corpus.crossJoin(q).select(
        F.col(id_col),
        F.round(
            dot(F.col(vec_col), F.col("_qvec")) / (norm(F.col(vec_col)) * F.col("_qn")), 6
        ).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def cosine_topk_pandas(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Arrow-batched numpy variant: per-partition matmul then global
    top-k. Preferred at scale — one pass, no per-row lambda overhead."""
    import numpy as np
    import pandas as pd

    q = np.asarray(query_vec, dtype="float64")
    qn = np.linalg.norm(q)

    def score(iterator):
        for pdf in iterator:
            mat = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            sims = (mat @ q) / (np.linalg.norm(mat, axis=1) * qn)
            out = pd.DataFrame({id_col: pdf[id_col], "cos_sim": np.round(sims, 6)})
            yield out.nlargest(min(k, len(out)), "cos_sim")

    partial = corpus.select(id_col, vec_col).mapInPandas(
        score, schema=f"{id_col} long, cos_sim double"
    )
    return partial.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def cosine_pairs_blocked(
    corpus: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    blocks: int = 8,
) -> DataFrame:
    """EXACT all-pairs cosine >= threshold via triangle block
    partitioning: vectors hash into `blocks` blocks; every unordered
    block pair (i <= j) is one join task, so the n^2/2 comparisons
    spread over blocks*(blocks+1)/2 equi-join tasks with bounded
    memory ((n/blocks)^2 pairs each). Replication is blocks+1 copies
    of each vector — one shuffle, NO broadcast of the corpus and no
    BroadcastNestedLoopJoin, so the plan scales horizontally (raise
    `blocks` until a task fits an executor).

    Why not LSH here: candidate pruning only helps when the threshold
    is high. At tau=0.45 (theta/pi ~ 0.35) the hyperplane-LSH gain
    exponent is rho = ln(1/0.65)/ln(1/0.5) ~ 0.62, and any banding
    with recall ~1 generates ~n^2 candidates anyway — the exact
    blocked join is strictly better. For true near-dup thresholds
    (cos >= 0.8) use the bucketed paths (`lsh_buckets`,
    `ann_lsh_topk`, SimHash) where candidates are ~linear."""
    from syslog_ng_spark.util import rebalance

    normed = rebalance(corpus).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.expr(_norm_hof_sql(vec_col)).alias("_n"),
        F.pmod(F.hash(F.col(id_col)), F.lit(blocks)).alias("_b"),
    )
    # block b joins tasks (b, j) for j >= b as the low side and
    # (i, b) for i <= b as the high side; task key packed as i*B+j
    lo_tasks = F.expr(f"transform(sequence(_b, {blocks - 1}), j -> _b * {blocks} + j)")
    hi_tasks = F.expr(f"transform(sequence(0, _b), i -> i * {blocks} + _b)")
    left = normed.select(
        F.col("_id").alias("id_l"),
        F.col("_v").alias("_vl"),
        F.col("_n").alias("_nl"),
        F.col("_b").alias("_bl"),
        F.explode(lo_tasks).alias("_t"),
    )
    right = normed.select(
        F.col("_id").alias("id_r"),
        F.col("_v").alias("_vr"),
        F.col("_n").alias("_nr"),
        F.col("_b").alias("_br"),
        F.explode(hi_tasks).alias("_t"),
    )
    # distinct-block tasks see each unordered pair once; same-block
    # tasks need the id ordering to drop self pairs and mirrors
    pairs = left.join(right, "_t").where(
        (F.col("_bl") != F.col("_br")) | (F.col("id_l") < F.col("id_r"))
    )
    return pairs.select(
        F.least("id_l", "id_r").alias("id_a"),
        F.greatest("id_l", "id_r").alias("id_b"),
        # x*y terms and the fold order are symmetric, so the value is
        # FP-identical whichever side the lower id lands on
        F.expr(
            f"ROUND({_dot_cols_hof_sql('_vl', '_vr')} / (`_nl` * `_nr`), 6)"
        ).alias("cos_sim"),
    ).where(F.col("cos_sim") >= threshold)


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    target: str = "ivf_cell",
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF coarse
    quantizer): `df` with an int `target` column appended. One
    Arrow-batched numpy matmul per batch against the normalized
    centroids; the cost per row is flat in k, where an inlined k-way
    Catalyst argmax grows its generated code with k (janino compile
    time dominated the query at k=256).

    |v| is constant across centroids, so plain dot against the
    NORMALIZED centroid has the same argmax as cosine. Centroids are
    normalized with Python's math.sqrt(sum(x*x)), scores are rounded
    to 9 digits so the argmax (and thus every cell boundary) is
    engine-portable — the DuckDB oracle recomputes this assignment —
    and ties go to the LARGER cell index. A NULL vector gets a NULL
    cell."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    norms = np.array([math.sqrt(sum(x * x for x in c)) or 1.0 for c in centroids])
    cn = (np.asarray(centroids, dtype="float64") / norms[:, None]).T  # dim x k
    last = cn.shape[1] - 1
    df = df.drop(target)
    schema = StructType(list(df.schema.fields) + [StructField(target, IntegerType())])

    def assign(batches):
        for pdf in batches:
            vecs = pdf[vec_col]
            has = vecs.notna().to_numpy()
            cell = pd.Series(pd.NA, index=pdf.index, dtype="Int32")
            if has.any():
                scores = np.round(np.stack(vecs[has].to_numpy()).astype("float64") @ cn, 9)
                # argmax with ties toward the larger index: reverse,
                # argmax (first hit = largest original index), map back
                cell[has] = last - np.argmax(scores[:, ::-1], axis=1)
            yield pdf.assign(**{target: cell})

    return df.mapInPandas(assign, schema)


def _collect_small_corpus(
    df: DataFrame, vec_col: str, id_col: str, bound: int
) -> list[tuple] | None:
    """The (id, vector) corpus as driver-local Python when it fits
    `bound` rows, else None (util.collect_at_most proves the bound)."""
    from syslog_ng_spark.util import collect_at_most

    rows = collect_at_most(df.select(F.col(id_col), F.col(vec_col)), bound)
    if rows is None:
        return None
    return [(r[0], [float(x) for x in r[1]]) for r in rows]


def _local_seeds(corpus: list[tuple], k: int) -> list[list[float]]:
    """Driver-local replay of the trainers' seed selection: rank by
    (md5-derived hash, id) ascending, take k. Bit-identical to the
    Spark expression conv(substring(md5(cast(id as string)), 1, 15),
    16, 10) — hashlib md5 over the decimal string id, first 15 hex
    digits (60 bits, fits the long cast) as an int."""
    import hashlib

    ranked = sorted(
        corpus,
        key=lambda r: (int(hashlib.md5(str(r[0]).encode()).hexdigest()[:15], 16), r[0]),
    )
    return [list(vec) for _, vec in ranked[:k]]


def _ivf_train_local(corpus: list[tuple], k: int, iters: int) -> list[list[float]]:
    """Driver-local Lloyd rounds, numerically aligned with the
    distributed path: centroid normalization uses the identical
    Python-float math.sqrt/divide that ivf_assign uses, scores round
    to 9 digits before the argmax (ties toward the LARGER index, as
    in ivf_assign),
    and means round to 9 digits (the same round that makes the
    distributed sums engine-portable absorbs numpy's pairwise
    summation order here)."""
    import math

    import numpy as np

    centroids = _local_seeds(corpus, k)
    V = np.array([vec for _, vec in corpus], dtype="float64")
    for _ in range(iters):
        cn = np.array(
            [
                [x / (math.sqrt(sum(y * y for y in c)) or 1.0) for x in c]
                for c in centroids
            ],
            dtype="float64",
        )
        scores = np.round(V @ cn.T, 9)
        best = (k - 1) - np.argmax(scores[:, ::-1], axis=1)
        centroids = [
            [round(float(s) / int((best == i).sum()), 9) for s in V[best == i].sum(axis=0)]
            if (best == i).any()
            else centroids[i]
            for i in range(k)
        ]
    return centroids


def ivf_train(
    df: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 3,
    driver_train: bool | str = "auto",
    max_driver_train_rows: int = 65_536,
) -> list[list[float]]:
    """Deterministic mini k-means for the IVF coarse quantizer:
    centroids seed from k hash-selected vectors (reproducible, no
    RNG), then `iters` Lloyd rounds, each ONE groupBy over the corpus
    (assignment is in-plan; only k centroid vectors come back to the
    driver per round). At 100 TB you'd train on a hash-sample —
    assignment cost dominates and stays distributed either way.

    Engine portability (the DuckDB oracle replays the whole training):
    seeds are selected by the md5-derived hash (not Spark murmur3,
    which no other engine reproduces), and every Lloyd update rounds
    the new centroid to 9 digits — FP summation order differs across
    engines by ~1e-14, and an unrounded centroid would propagate that
    into divergent cell boundaries.

    driver_train (r14): training is 1 + iters Spark jobs of pure
    round-trip latency when the corpus is small; "auto" collects it
    (bounded by `max_driver_train_rows`, proven by a limit(n+1)
    collect) and runs the SAME seeds + Lloyd rounds locally —
    value-identical because every score and mean is rounded to 9
    digits on both paths (parity pytest-pinned). Past the bound (or
    driver_train=False) the distributed loop runs unchanged; at
    100 TB you train on a hash-sample that fits the bound anyway."""
    if driver_train:
        corpus = _collect_small_corpus(df, vec_col, id_col, max_driver_train_rows)
        if corpus is not None:
            if not corpus:
                raise ValueError(f"empty corpus: no rows with a {vec_col!r} vector")
            return _ivf_train_local(corpus, k, iters)
        if driver_train is True:
            raise ValueError(
                f"driver_train=True but corpus exceeds {max_driver_train_rows} rows"
            )
    seed_hash = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    seeds = (
        df.select(F.col(id_col), F.col(vec_col))
        .withColumn("_h", seed_hash)
        .orderBy("_h", id_col)
        .limit(k)
        .collect()
    )
    if not seeds:
        raise ValueError(f"empty corpus: no rows with a {vec_col!r} vector")
    centroids = [list(map(float, r[1])) for r in seeds]
    # dim from the seed rows — saves the separate _corpus_dim job
    dim = len(centroids[0])
    for _ in range(iters):
        assigned = ivf_assign(df.select(vec_col), centroids, vec_col, "_cell")
        sums = assigned.groupBy("_cell").agg(
            *[
                F.expr(f"SUM(element_at(`{vec_col}`, {d + 1}))").alias(f"s{d}")
                for d in range(dim)
            ],
            F.count(F.lit(1)).alias("n"),
        )
        rows = {r["_cell"]: r for r in sums.collect()}
        centroids = [
            [round(rows[i][f"s{d}"] / rows[i]["n"], 9) for d in range(dim)]
            if i in rows
            else centroids[i]
            for i in range(k)
        ]
    return centroids


def probe_cells(
    query_vec: list[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """The query's nprobe nearest cells by rounded centroid cosine —
    shared by the in-memory and materialized-table scans (ties break
    toward the larger cell index, matching the oracle)."""
    import math

    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    sims = []
    for i, c in enumerate(centroids):
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        d = round(sum(a * b for a, b in zip(query_vec, c)) / (qn * cn), 9)
        sims.append((d, i))
    return [i for _, i in sorted(sims, reverse=True)[:nprobe]]


def ivf_topk(
    corpus: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN search: score ONLY the `nprobe` cells nearest to the
    query — the partition-pruned scan that replaces the full linear
    scan at scale (corpus written partitioned by ivf_cell makes this
    literal partition pruning on disk)."""
    import math

    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    probe = probe_cells(query_vec, centroids, nprobe)
    cells = ivf_assign(corpus.select(id_col, vec_col), centroids, vec_col, "_cell").where(
        F.col("_cell").isin(probe)
    )
    qd = [float(x) for x in query_vec]
    score = (
        f"ROUND({_dot_lit_sql(vec_col, qd)}"
        f" / ({_norm_sql(vec_col, len(qd))} * {_dlit(qn)}), 6)"
    )
    return (
        cells.select(F.col(id_col), F.expr(score).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def semantic_dedup_pairs(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.45,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with the IVF coarse
    quantizer, then compare pairs ONLY within a cluster — semantic
    duplicates are by construction near the same centroid, so the
    quadratic all-pairs verify shrinks to sum(c_i^2) over cell sizes
    (~n^2/k for balanced cells, embarrassingly parallel per cell).

    The shape at 100 TB: ivf_assign is one Arrow pass per partition,
    the pair generation is an equi-join on the cell id (one hash shuffle;
    with the corpus written partitioned by cell it's a co-located
    join), and nothing is broadcast. Known tradeoff vs the exact
    blocked join (`cosine_pairs_blocked`): pairs straddling a cell
    boundary are missed — recall measured in
    tests/test_dedup_similarity.py; raise k for finer cells or run
    both on a sample to calibrate.

    Scaling law (SCALE.md r5): with FIXED k the within-cell pair count
    is Σc_i² ~ n²/k — quadratic. Holding CELL SIZE constant (k ∝ n)
    makes it linear; ivf_assign's matmul cost per row is flat in k.
    """
    dim = len(centroids[0])
    assigned = ivf_assign(corpus.select(id_col, vec_col), centroids, vec_col, "_cell")
    nrm = F.expr(_norm_sql(vec_col, dim))
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        nrm.alias("_na"),
        "_cell",
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        nrm.alias("_nb"),
        "_cell",
    )
    return (
        a.join(b, "_cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.col("_cell").alias("ivf_cell"),
            F.expr(
                f"ROUND({_dot_cols_hof_sql('_va', '_vb')} / (`_na` * `_nb`), 6)"
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def _subvec(vec_col: Column, s: int, sub: int) -> Column:
    return F.slice(_as_double(vec_col), s * sub + 1, sub)


def _pq_assign_expr(vec_col: str, codebook_s: list[list[float]], s: int, sub: int) -> Column:
    """Code for subspace s = argmin over the codebook of squared L2
    distance to the subvector. |x_s|^2 is constant across codes, so the
    comparable score is round(-2*x_s·c + |c|^2, 9) — the rounding pins
    the argmin across engines (the oracle computes the identical
    formula); ties break toward the SMALLER code index (array_min on
    struct(score, idx) — the oracle orders score ASC, cid ASC).

    r14: rendered as one SQL string (see _dot_lit_sql block comment) —
    the subvector slice becomes an index offset, values bit-identical."""
    return F.expr(_pq_assign_sql(vec_col, codebook_s, s, sub))


def _pq_assign_sql(vec_col: str, codebook_s: list[list[float]], s: int, sub: int) -> str:
    """SQL text of _pq_assign_expr, for inlining into larger strings."""
    scored = []
    for i, c in enumerate(codebook_s):
        c2 = sum(v * v for v in c)
        d = (
            f"ROUND(({_dot_lit_sql(vec_col, [float(v) for v in c], offset=s * sub)}"
            f" * -2.0D) + {_dlit(float(c2))}, 9)"
        )
        scored.append(f"named_struct('d', {d}, 'i', {i})")
    return f"array_min(array({', '.join(scored)})).i"


def _pq_train_local(
    corpus: list[tuple], m: int, k: int, iters: int
) -> list[list[list[float]]]:
    """Driver-local per-subspace Lloyd rounds, numerically aligned
    with the distributed path: scores are round((dot * -2.0) + |c|²,
    9) with |c|² from the identical Python-float sum the SQL inlines,
    argmin ties toward the SMALLER code (np.argmin's first hit =
    array_min's tie-break), means round to 9 digits."""
    import numpy as np

    seeds = _local_seeds(corpus, k)
    dim = len(corpus[0][1])
    sub = dim // m
    assert m * sub == dim, f"dim {dim} not divisible by m={m}"
    books = [[[float(v) for v in s[ss * sub : (ss + 1) * sub]] for s in seeds] for ss in range(m)]
    X = np.array([vec for _, vec in corpus], dtype="float64")
    for _ in range(iters):
        new_books = []
        for s in range(m):
            xs = X[:, s * sub : (s + 1) * sub]
            c = np.array(books[s], dtype="float64")
            c2 = np.array([sum(v * v for v in code) for code in books[s]], dtype="float64")
            d = np.round((xs @ c.T) * -2.0 + c2, 9)
            best = np.argmin(d, axis=1)
            new_books.append(
                [
                    [
                        round(float(v) / int((best == i).sum()), 9)
                        for v in xs[best == i].sum(axis=0)
                    ]
                    if (best == i).any()
                    else books[s][i]
                    for i in range(k)
                ]
            )
        books = new_books
    return books


def pq_train(
    df: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    driver_train: bool | str = "auto",
    max_driver_train_rows: int = 65_536,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: the vector splits into `m`
    contiguous subspaces, each trained with its own k-means (classic
    L2 Lloyd — means, not spherical). Returns codebooks[m][k][dim/m].

    Determinism/portability mirrors ivf_train: seeds are the first k
    vectors by md5-derived hash (their slices seed every subspace),
    every Lloyd mean is rounded to 9 digits, every assignment score is
    rounded to 9 digits. The DuckDB oracle replays the whole thing.

    Scale: training touches the corpus iters*m times but each pass is
    one groupBy of 16-dim slices; at 100 TB train on a hash-sample
    (codebooks are tiny — m*k*sub floats) and only ENCODING (one
    column expression, no shuffle) runs over the full corpus.

    driver_train (r14): same bounded-collect local path as ivf_train
    (see there) — value-identical via the shared 9-digit rounding,
    parity pytest-pinned, distributed fallback unchanged."""
    if driver_train:
        corpus = _collect_small_corpus(df, vec_col, id_col, max_driver_train_rows)
        if corpus is not None:
            if not corpus:
                raise ValueError(f"empty corpus: no rows with a {vec_col!r} vector")
            return _pq_train_local(corpus, m, k, iters)
        if driver_train is True:
            raise ValueError(
                f"driver_train=True but corpus exceeds {max_driver_train_rows} rows"
            )
    seed_hash = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    seeds = (
        df.select(F.col(id_col), F.col(vec_col))
        .withColumn("_h", seed_hash)
        .orderBy("_h", id_col)
        .limit(k)
        .collect()
    )
    if not seeds:
        raise ValueError(f"empty corpus: no rows with a {vec_col!r} vector")
    # dim from the seed rows — saves the separate _corpus_dim job
    dim = len(seeds[0][1])
    sub = dim // m
    assert m * sub == dim, f"dim {dim} not divisible by m={m}"
    books = [
        [[float(v) for v in r[1][s * sub : (s + 1) * sub]] for r in seeds] for s in range(m)
    ]
    for _ in range(iters):
        # ONE corpus pass per Lloyd round (r14; was m groupBy jobs over
        # a persisted assigned frame): every subspace's (code, slice)
        # explodes into an (s, code, e0..e{sub-1}) row, and a single
        # groupBy(s, code) computes all m subspace sums together. All m
        # assignments read the start-of-round codebooks, so the merged
        # pass is update-order-identical to the per-subspace loop; the
        # per-(s, code) sums add the same cast doubles (merge order was
        # never deterministic — the 9-digit centroid round pins it).
        structs = []
        for s in range(m):
            elems = ", ".join(
                f"'e{d}', CAST(`{vec_col}`[{s * sub + d}] AS DOUBLE)"
                for d in range(sub)
            )
            structs.append(
                f"named_struct('s', {s}, 'code', "
                f"{_pq_assign_sql(vec_col, books[s], s, sub)}, {elems})"
            )
        rows_df = df.select(
            F.expr(f"explode(array({', '.join(structs)}))").alias("ex")
        ).select("ex.*")
        sums = rows_df.groupBy("s", "code").agg(
            *[F.expr(f"SUM(`e{d}`)").alias(f"s{d}") for d in range(sub)],
            F.count(F.lit(1)).alias("n"),
        )
        by_sub: list[dict] = [{} for _ in range(m)]
        for r in sums.collect():
            by_sub[r["s"]][r["code"]] = r
        books = [
            [
                [round(by_sub[s][i][f"s{d}"] / by_sub[s][i]["n"], 9) for d in range(sub)]
                if i in by_sub[s]
                else books[s][i]
                for i in range(k)
            ]
            for s in range(m)
        ]
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Corpus → (id, norm, code_0..code_{m-1}): m small ints + one
    double instead of the full vector — the 100 TB memory story (64
    float32 dims = 256 B → 4 bytes of codes + 8 of norm, ~21x). Pure
    column expressions, no shuffle; the encoded table is what an ADC
    scan reads, so the big vectors never leave the encode stage."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    dim = m * sub
    return df.select(
        F.col(id_col),
        F.expr(f"ROUND({_norm_sql(vec_col, dim)}, 9)").alias("vnorm"),
        *[
            _pq_assign_expr(vec_col, codebooks[s], s, sub).alias(f"code_{s}")
            for s in range(m)
        ],
    )


def pq_topk(
    corpus: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate cosine top-k by asymmetric distance computation:
    encode the corpus, then score rows from per-subspace lookup tables
    lut_s[code] = q_s·c (computed once on the driver — m*k dots) —
    cos(q, x) ~ sum_s lut_s[code_s] / (|q|*|x|) with the TRUE row norm
    kept at encode time. The scan reads m+1 tiny columns, does m
    array lookups and a fixed-order sum per row — no vector math on
    the hot path and no shuffle before the top-k."""
    import math

    m = len(codebooks)
    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    sub = len(codebooks[0][0])
    luts = []
    for s in range(m):
        qs = query_vec[s * sub : (s + 1) * sub]
        luts.append(
            [round(sum(a * b for a, b in zip(qs, c)), 9) for c in codebooks[s]]
        )
    enc = pq_encode(corpus, codebooks, vec_col, id_col)
    # fixed left-assoc sum (((ip0+ip1)+ip2)+...) — the oracle writes the
    # identical parenthesisation so FP addition order matches
    score = F.element_at(F.array(*[F.lit(v) for v in luts[0]]), F.col("code_0") + 1)
    for s in range(1, m):
        score = score + F.element_at(
            F.array(*[F.lit(v) for v in luts[s]]), F.col(f"code_{s}") + 1
        )
    return (
        enc.select(
            id_col,
            F.round(score / (F.lit(qn) * F.col("vnorm")), 6).alias("cos_sim_adc"),
        )
        .orderBy(F.desc("cos_sim_adc"), F.asc(id_col))
        .limit(k)
    )


def ivfpq_topk(
    corpus: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ — the production ANN composition: the IVF coarse
    quantizer prunes ROWS (only the query's `nprobe` nearest cells are
    scanned; corpus written partitioned by cell = disk partition
    pruning), and PQ shrinks BYTES (the scanned rows are m one-byte
    codes + a norm, scored from lookup tables — no vector math on the
    hot path). At 100 TB the stored table is (cell, codes, norm):
    ~25 bytes/vector instead of 256, scanned at 1/k_ivf selectivity.

    Encoding is independent of the cell assignment, so encode-then-
    filter and filter-then-encode give identical results; this
    implementation filters first so only probed rows pay the encode
    expressions (on a pre-encoded table it's a plain filter)."""
    import math

    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    sims = []
    for i, c in enumerate(centroids):
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        d = round(sum(a * b for a, b in zip(query_vec, c)) / (qn * cn), 9)
        sims.append((d, i))
    probe = [i for _, i in sorted(sims, reverse=True)[:nprobe]]
    pruned = ivf_assign(corpus.select(id_col, vec_col), centroids, vec_col, "_cell").where(
        F.col("_cell").isin(probe)
    )
    return pq_topk(pruned.drop("_cell"), query_vec, codebooks, k, vec_col, id_col)


def lsh_buckets(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
    target: str = "lsh_bucket",
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign bits against fixed planes.
    ANN then only scores within the query's bucket (plus neighbors) —
    the linear-candidate scale path for 100 TB corpora.

    r14: one SQL string (see _dot_lit_sql block comment) — the plane
    dots unroll to codegen arithmetic, values bit-identical."""
    bits = []
    for i, p in enumerate(planes):
        d = _dot_lit_sql(vec_col, [float(x) for x in p])
        bits.append(f"(CASE WHEN {d} >= 0 THEN {1 << i} ELSE 0 END)")
    total = bits[0]
    for b in bits[1:]:
        total = f"({total} + {b})"
    return df.withColumn(target, F.expr(f"CAST({total} AS INT)"))


def write_ivf_table(
    corpus: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize the IVF layout: the corpus written as parquet
    PARTITIONED BY its coarse-quantizer cell. This is what the ivf_*
    docstrings' "literal disk partition pruning" means — once the
    table lives on disk keyed by cell, a top-k probe reads ONLY the
    nprobe cell directories; the other k-nprobe cells are never
    opened. At 100 TB this is the difference between scanning the
    corpus and scanning nprobe/k of it, enforced by the storage
    layout rather than per-query compute."""
    assigned = ivf_assign(corpus, centroids, vec_col, "ivf_cell")
    assigned.write.mode("overwrite").partitionBy("ivf_cell").parquet(path)


def ivf_topk_from_table(
    spark,
    path: str,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k over a materialized IVF table (write_ivf_table): the
    probe-cell filter is a partition-column predicate, so Catalyst
    prunes the non-probed cell directories at planning time — verify
    with explain() ("PartitionFilters: [ivf_cell IN (…)]") or by
    collecting distinct input_file_name() over the probed scan (the
    pruning test does; note df.inputFiles() lists PRE-pruning files
    and cannot show this). Scoring is identical to ivf_topk; probe
    choice is the shared probe_cells()."""
    import math

    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    probe = probe_cells(query_vec, centroids, nprobe)
    cells = spark.read.parquet(path).where(F.col("ivf_cell").isin(probe))
    qd = [float(x) for x in query_vec]
    score = (
        f"ROUND({_dot_lit_sql(vec_col, qd)}"
        f" / ({_norm_sql(vec_col, len(qd))} * {_dlit(qn)}), 6)"
    )
    return (
        cells.select(F.col(id_col), F.expr(score).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def semantic_decontaminate(
    corpus: DataFrame,
    evalset: DataFrame,
    planes: list[list[float]],
    threshold: float = 0.45,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag training docs
    whose embedding is near ANY eval-set embedding — the semantic
    leakage that n-gram decontamination (catalog `decontaminate`)
    misses once a benchmark item has been paraphrased.

    Both sides get the same fixed random-hyperplane LSH bucketing
    (lsh_buckets); candidates are the bucket equi-join — one hash
    shuffle per side, nothing broadcast, so the plan needs no
    small-side assumption (eval sets are usually tiny, and AQE will
    broadcast the bucketed eval side on its own when it is). Exact
    cosine runs on candidates only, rounded to 6dp BEFORE the
    threshold compare so the cut is bit-portable across engines
    (same convention as semantic_dedup_pairs).

    Recall tradeoff: a (train, eval) pair straddling a bucket
    boundary is missed — identical to ann_lsh_topk; run with r
    independent plane sets and union the hits to push recall
    toward 1 - (1 - p)^r.

    Returns (id_col, n_eval_hits, max_cos) for flagged docs only;
    anti-join the corpus against it to get the clean keep-list.
    """
    dim = len(planes[0])
    cb = lsh_buckets(corpus, planes, vec_col, "_b")
    eb = lsh_buckets(evalset, planes, vec_col, "_b")
    nrm = F.expr(_norm_sql(vec_col, dim))
    c = cb.select(
        F.col(id_col).alias("_cid"),
        F.col(vec_col).alias("_cv"),
        nrm.alias("_cn"),
        "_b",
    )
    e = eb.select(
        F.col(vec_col).alias("_ev"), nrm.alias("_en"), "_b"
    )
    return (
        c.join(e, "_b")
        .select(
            "_cid",
            F.expr(
                f"ROUND({_dot_cols_hof_sql('_cv', '_ev')} / (`_cn` * `_en`), 6)"
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
        .groupBy(F.col("_cid").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_eval_hits"),
            F.max("cos_sim").alias("max_cos"),
        )
    )


def hard_negatives(
    corpus: DataFrame,
    centroids: list[list[float]],
    pos_threshold: float = 0.45,
    neg_lo: float = 0.0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    neg_lo_quantile: float | None = None,
    calib_method: str = "exact",
) -> DataFrame:
    """Contrastive-pair mining for embedding-model training: for each
    anchor, pick its best positive (most-similar neighbor with
    cos >= pos_threshold) and its hardest negative (most-similar
    neighbor in [neg_lo, pos_threshold) — close enough to be
    informative, far enough to be a true negative). The standard
    in-batch-negatives upgrade for contrastive finetuning (DPR /
    SimCSE recipes).

    Distributed shape: candidates come from the IVF-cell equi-join
    (semantic_dedup_pairs' plan — one hash shuffle, no broadcast,
    Σc_i² pair work bounded by cell size), then ONE window partitioned
    by (anchor, category) picks the top of each category, and a
    per-anchor agg pivots the two rows wide. Cosine is rounded to 6dp
    BEFORE banding so the category cut is engine-portable. Anchors
    with no positive are dropped; neg_* columns are NULL when the
    cell offers no in-band negative (the caller can re-mine those
    from a wider nprobe or fall back to random negatives).

    Same scaling law as semantic_dedup_pairs (SCALE.md Addendum 5/10):
    FIXED k leaves candidate volume ~n²/k (measured 21.8×/decade at
    sf10); k ∝ n holds cell size — and the mining — linear, and
    ivf_assign's matmul cost per row is flat in k.

    neg_lo is the production knob that keeps the WINDOW input linear:
    with neg_lo=0 every sub-threshold candidate in the cell rides the
    (anchor, category) shuffle just to lose to row_number()=1.
    neg_lo_quantile calibrates the floor from the data instead of a
    magic constant: one tiny agg over the sub-threshold candidate
    cos_sims (the quantile_select shape, broadcast back), so e.g. 0.9
    keeps only the hardest 10% in the negative band. Positives are
    untouched by construction (the floor only moves the band's lower
    edge). calib_method='exact' is percentile (DuckDB-replayable for
    the gate); 'approx' is the G-K sketch for 100 TB, same plan.
    Measured at sf10 in SCALE.md Addendum 11.
    """
    from pyspark.sql import Window

    # the Arrow assign feeds BOTH join branches and is recomputed per
    # branch — measured FASTER than persisting it (49.6s vs 89.1s at
    # sf10/k=256): the cache materialization barrier + InMemoryTableScan
    # of the vector column costs more than running the batched matmul
    # twice. Recorded in SCALE.md Addendum 10 so it isn't "fixed" back.
    assigned = ivf_assign(corpus.select(id_col, vec_col), centroids, vec_col, "_cell")
    dim = len(centroids[0])
    nrm = F.expr(_norm_sql(vec_col, dim))
    a = assigned.select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("_va"),
        nrm.alias("_na"),
        "_cell",
    )
    b = assigned.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("_vb"),
        nrm.alias("_nb"),
        "_cell",
    )
    cand = (
        a.join(b, "_cell")
        .where(F.col("anchor_id") != F.col("cand_id"))
        .select(
            "anchor_id",
            "cand_id",
            F.expr(
                f"ROUND({_dot_cols_hof_sql('_va', '_vb')} / (`_na` * `_nb`), 6)"
            ).alias("cos_sim"),
        )
    )
    cached = None
    if neg_lo_quantile is not None:
        from pyspark.storagelevel import StorageLevel

        from syslog_ng_spark.util import quantile_agg_expr

        # the floor agg and the banded output BOTH read `cand`; without
        # a persist the IVF-cell join (the expensive stage) runs twice
        # and calibration costs MORE than it saves (measured at sf1:
        # 130s calibrated vs 76s uncalibrated, SCALE.md Addendum 11).
        # Unlike the vector-heavy assign (Addendum 10 §2, kept
        # unpersisted), cand is three narrow scalar columns — cheap to
        # materialize. Riders release it via release_cached().
        cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
        cached = cand
        agg = quantile_agg_expr("cos_sim", neg_lo_quantile, calib_method)
        floor = (
            cand.where(F.col("cos_sim") < pos_threshold)
            .agg(F.round(F.expr(agg), 6).alias("_floor"))
            .select(F.coalesce("_floor", F.lit(neg_lo)).alias("_floor"))
        )
        cand = cand.crossJoin(F.broadcast(floor))
        lo = F.greatest(F.col("_floor"), F.lit(neg_lo))
    else:
        lo = F.lit(neg_lo)
    cand = cand.withColumn(
        "_cat",
        F.when(F.col("cos_sim") >= pos_threshold, F.lit("pos")).when(
            F.col("cos_sim") >= lo, F.lit("neg")
        ),
    ).where(F.col("_cat").isNotNull())
    # top-of-category via max-of-struct in ONE per-anchor aggregate
    # (r14): the old (anchor, _cat) row_number window + per-anchor
    # pivot needed an extra exchange and two sorts just to keep one
    # row per category; max(struct(cos, -cand)) is the same pick —
    # highest cos, ties to the SMALLEST cand_id — with map-side
    # partial aggregation and a single anchor-keyed shuffle.
    def _best(cat: str) -> F.Column:
        return F.max(
            F.when(
                F.col("_cat") == cat,
                F.struct(
                    F.col("cos_sim"), (-F.col("cand_id")).alias("_nid")
                ),
            )
        )

    out = (
        cand.groupBy("anchor_id")
        .agg(_best("pos").alias("_p"), _best("neg").alias("_n"))
        .where(F.col("_p").isNotNull())
        .select(
            "anchor_id",
            (-F.col("_p._nid")).alias("pos_id"),
            F.col("_p.cos_sim").alias("pos_cos"),
            (-F.col("_n._nid")).alias("neg_id"),
            F.col("_n.cos_sim").alias("neg_cos"),
        )
    )
    if cached is not None:
        from syslog_ng_spark.util import track_cached

        out = track_cached(out, cached)
    return out
