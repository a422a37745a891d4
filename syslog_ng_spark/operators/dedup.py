"""Deduplication operators (LLM-pipeline extensions).

Exact, n-gram Jaccard, MinHash+LSH and SimHash near-dup detection over
a text column. All hashes derive from md5 (JVM builtin) so results are
deterministic AND reproducible in the DuckDB oracle.

Cache ownership: jaccard_pairs / minhash_lsh_pairs /
simhash_neardup_pairs / repeated_passages persist() an intermediate
that their result plan reads twice; the cache can only be dropped
after the caller materializes the result, so CALLERS own cleanup —
the persisted frames ride on the result via `util.track_cached`, so
long-lived sessions call `util.release_cached(result)` after their
terminal action (or `spark.catalog.clearCache()`, as bench.py does
between queries).

Scale notes (100 TB):
- exact: one shuffle on a 16-byte key; partial agg applies.
- jaccard: |pairs| is bounded by document-frequency pruning (df_cap);
  without it, stop-shingles produce quadratic blowup on skewed keys.
- minhash-LSH: candidate generation is linear in corpus size on
  open-vocab corpora (band buckets), the classic alternative to the
  quadratic shingle join; on degenerate corpora hot buckets turn it
  superlinear (measured in SCALE.md) — `bucket_cap` restores the
  linear bound.
- simhash: 64-bit signatures bucketed by 16-bit chunks (hamming<=3 →
  at least one of 4 chunks equal, pigeonhole) — again linear.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from syslog_ng_spark.util import collect_at_most, rebalance, track_cached

# Mersenne prime 2^31-1: affine minhash stays < 2^62 so the arithmetic
# never overflows BIGINT in either Spark or DuckDB (DuckDB errors on
# overflow instead of wrapping, so staying small is a portability
# requirement, not just hygiene).
MERSENNE31 = 2147483647


def _affine_params(i: int) -> tuple[int, int]:
    a = (i * 2654435761 + 1) % MERSENNE31 or 1
    b = (i * 40503 + 7) % MERSENNE31
    return a, b


def normalize_text(c):
    """lower + collapse whitespace + trim — shared by all dedup ops."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per exact (normalized) text.

    min(id) hash-aggregate + self-join on (key, id): TWO shuffles, but
    both stages are HashAggregate/hash-join with map-side partial
    aggregation — a key duplicated a million times collapses to one
    row per map task BEFORE any shuffle, so heavy-dup skew (the crawl
    dedup reality) never concentrates on one reducer, and the payload
    crosses the wire exactly once. Map-typed payload columns are fine
    (nothing orders on the payload).

    Single-shuffle alternatives, all measured at sf0.1 (first
    execution / repeat, local[32]):
      min(struct(id, payload))  1.82s / 0.33s — SortAggregate, whole
        payload in the ordering comparison (r2's flagged regression);
      min_by(struct, id)        2.37s / 0.30s — still SortAggregate in
        Spark 4.x (MinBy is a DeclarativeAggregate with a struct
        buffer; ObjectHashAggregate only serves TypedImperative
        aggregates), and its per-task projection init dominates cold;
      row_number() window       0.49s / 0.26s — fastest here but NO
        partial aggregation: every duplicate row of a hot key lands
        on one reducer, the one property that cannot be allowed to
        break at 100 TB;
      this formulation          0.93s / 0.46s — the only one that is
        simultaneously un-flagged on the bench floor, skew-safe, and
        map-typed-payload-safe.

    `keep_key` exposes the fingerprint as a column instead of
    dropping it — callers that need it (the gate query does) would
    otherwise recompute md5+regex over the whole surviving corpus."""
    keyed = df.withColumn("_k", F.md5(normalize_text(F.col(text_col))))
    winners = keyed.groupBy("_k").agg(F.min(id_col).alias(id_col))
    return keyed.join(winners, ["_k", id_col], "inner").drop("_k")


def dedup_exact_keyed(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", key_col: str = "fp"
) -> DataFrame:
    """dedup_exact keeping the md5 fingerprint column (see above)."""
    keyed = df.withColumn(key_col, F.md5(normalize_text(F.col(text_col))))
    winners = keyed.groupBy(key_col).agg(F.min(id_col).alias(id_col))
    return keyed.join(winners, [key_col, id_col], "inner")


def shingles(df: DataFrame, text_col: str = "text", n: int = 3, target: str = "shingle") -> DataFrame:
    """Distinct word n-gram shingles per document (exploded).

    The token array is materialized as a column BEFORE the gram
    lambda: an expression captured inside transform() is re-evaluated
    per element, so an inlined split(normalize_text(…)) would re-run
    the regex once per shingle — O(tokens²) per doc (the same
    pathology fixed in textstats._hashed_ngram_features, measured 2×
    there)."""
    return (
        shingle_sets(df, text_col, n=n, target="_grams")
        .withColumn(target, F.explode(F.col("_grams")))
        .drop("_grams")
    )


def shingle_sets(df: DataFrame, text_col: str = "text", n: int = 3, target: str = "_sh") -> DataFrame:
    """Per-document distinct n-gram shingle SET as an array column —
    shingles() without the explode. Consumers that need the per-doc
    set (fuzzy verify joins) or its size read it straight off the
    projection instead of re-aggregating the exploded stream back
    with groupBy+collect_set (r14: that explode → shuffle → rebuild
    round-trip was pure cost; one select produces the same set,
    order-insensitively equal).

    Docs with fewer than n tokens drop out (no shingles), matching
    the explode shape. The filter runs BEFORE any downstream explode:
    sequence(0, size-n) is descending for short docs, so correctness
    must not depend on the optimizer pushing the predicate below a
    Generate."""
    base = rebalance(df).withColumn("_toks", F.split(normalize_text(F.col(text_col)), " "))
    toks = F.col("_toks")
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    return (
        base.where(F.size(toks) >= n)
        .withColumn(target, F.array_distinct(grams))
        .drop("_toks")
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int = 1000,
    metric: str = "jaccard",
) -> DataFrame:
    """All document pairs with n-gram similarity >= threshold.

    `metric`: "jaccard" = common/(|A|+|B|-common); "containment"
    (Broder) = common/min(|A|,|B|) — asymmetric near-dup, catches a
    short doc embedded in a long one (quotes, syndication, prompt
    templates) that Jaccard's union denominator dilutes away.

    Pipeline (ONE corpus scan, r14): shingle-set projection →
    explode carrying the per-doc set size → df-prune hot shingles
    (df_cap) → pairs generated inside the per-shingle array → count
    common → filter. The doc sizes RIDE the shingle shuffle as an
    extra int per entry, which removes the old separate sizes pass
    (a second tokenize scan + a groupBy(doc) exchange) and both
    broadcast size-lookup joins — same rows out (the size is
    size(array_distinct(grams)), exactly the exploded count the old
    aggregate computed). The df_cap prune is the skew guard: a
    shingle shared by k docs creates k^2 candidate pairs."""
    if metric not in ("jaccard", "containment"):
        raise ValueError(f"unknown metric {metric!r}")
    # NOT persisted (r14): recompute-vs-persist was measured on the
    # old two-pass shape (1.5-2.4s vs 2.2-2.8s per run at sf0.1) —
    # the materialization barrier + storing the exploded shingle
    # stream (~10x the text bytes) costs more than a codegen'd pass;
    # the single-scan shape below makes the question moot.
    sets = shingle_sets(df.select(id_col, text_col), text_col, n=n, target="_grams")
    sh = sets.select(
        id_col, F.size("_grams").alias("_sz"), F.explode("_grams").alias("shingle")
    )
    # ONE shuffle on shingle: group (doc-id, size) per shingle
    # (df-capped), generate ordered pairs inside the array — replaces
    # the self-join + prune-join formulation (2 extra shuffles, 2.3x
    # slower measured at sf0.1). The cap bounds both skew AND per-task
    # memory: a shingle shared by k docs expands to k(k-1)/2 structs
    # in one row. array_sort orders by the struct's first field (the
    # unique doc id), so pair order matches the old id-only sort.
    grouped = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_list(F.struct(F.col(id_col), F.col("_sz")))).alias("_ds"))
        .where((F.size("_ds") >= 2) & (F.size("_ds") <= df_cap))
    )
    pair_expr = (
        "flatten(transform(_ds, (x, i) -> "
        "transform(slice(_ds, i + 2, size(_ds) - i - 1), "
        f"y -> struct(x.{id_col} as id_a, x._sz as _sza, "
        f"y.{id_col} as id_b, y._sz as _szb))))"
    )
    common = (
        grouped.select(F.explode(F.expr(pair_expr)).alias("_p"))
        .select("_p.id_a", "_p._sza", "_p.id_b", "_p._szb")
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("_common"),
            # constant within a group (a doc has one size) — min is a
            # deterministic pick, not a computation
            F.min("_sza").alias("_sza"),
            F.min("_szb").alias("_szb"),
        )
    )
    out = (
        common.withColumn(
            metric,
            F.round(
                F.col("_common") / (F.col("_sza") + F.col("_szb") - F.col("_common")), 6
            )
            if metric == "jaccard"
            else F.round(F.col("_common") / F.least("_sza", "_szb"), 6),
        )
        .where(F.col(metric) >= threshold)
        .select("id_a", "id_b", metric)
    )
    return out


def base_hash(c) -> F.Column:
    """First 15 hex chars of md5(x) as bigint, reduced mod 2^31-1.
    Portable: DuckDB computes the identical value via
    ('0x' || substr(md5(x),1,15))::BIGINT % 2147483647."""
    return (F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long") % MERSENNE31).alias("h")


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", num_hashes: int = 16, n: int = 3,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """MinHash signature: min over the shingle set of `num_hashes`
    affine hash functions h_i = (a_i*h + b_i) mod (2^31-1), all derived
    from ONE md5 per shingle — one expensive hash + k cheap integer ops
    instead of k md5s (the md5-per-hash version was 6× slower).

    `carry_cols` are constant-per-document marker columns (e.g. a
    side tag) kept through the aggregate as extra grouping keys."""
    sh = shingles(df.select(id_col, text_col, *carry_cols), text_col, n=n).select(
        id_col, *carry_cols, base_hash(F.col("shingle"))
    )
    # rendered as SQL text: one parse call per aggregate instead of ~6
    # py4j round trips per Column sub-node (r14, same rationale as the
    # similarity kernels) — identical expression tree after parsing
    aggs = []
    for i in range(num_hashes):
        a, b = _affine_params(i)
        aggs.append(F.expr(f"min((h * {a} + {b}) % {MERSENNE31}) AS mh_{i}"))
    return sh.groupBy(id_col, *carry_cols).agg(*aggs)


def _band_buckets(sig: DataFrame, id_col: str, num_hashes: int, bands: int,
                  carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """Signature rows → exploded (id, band bucket) keys."""
    rows = num_hashes // bands
    band_cols = [
        F.concat_ws(
            "_", F.lit(bi), *[F.col(f"mh_{bi * rows + r}").cast("string") for r in range(rows)]
        ).alias(f"band_{bi}")
        for bi in range(bands)
    ]
    return sig.select(id_col, *carry_cols, F.explode(F.array(*band_cols)).alias("bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: signatures split into `bands` bands of
    num_hashes/bands rows; docs sharing any full band collide.
    Candidates are linear-ish in corpus size; verify with jaccard or
    signature agreement downstream.

    `bucket_cap` drops band buckets holding more than that many docs
    before the self-join. Collision probability between *unrelated*
    docs is corpus-dependent: on a degenerate corpus (tiny vocabulary,
    boilerplate-heavy web text) hot buckets make the candidate set
    superlinear — the sf10 scale experiment (SCALE.md) measured 445k
    candidates for 500k docs on a 31-word-vocab corpus, growing ~n²
    with a tiny constant. A bucket with k docs contributes k(k-1)/2
    pairs yet, past a few hundred, almost no *true* near-dups the
    other bands wouldn't also catch — capping restores the linear
    bound the same way `df_cap` does for the shingle join. Default
    None = exact LSH semantics (the oracle-gated catalog query)."""
    banded = _band_buckets(
        minhash_signatures(df, text_col, id_col, num_hashes, n), id_col, num_hashes, bands
    )
    if bucket_cap is not None:
        # bucket occupancy as a window count over the bucket partition
        # (r14), and the POST-filter frame is the persisted thing
        # (r15, the simhash_neardup_pairs treatment): the cache then
        # holds rows already pruned of hot buckets AND partitioned on
        # `bucket` — the self-join's key — so each join side reads the
        # cache without re-running the window+filter or adding an
        # exchange. The pre-filter persist paid the occupancy window
        # once per side.
        from pyspark.sql import Window

        banded = (
            banded.withColumn(
                "_k", F.count(F.lit(1)).over(Window.partitionBy("bucket"))
            )
            .where(F.col("_k") <= bucket_cap)
            .drop("_k")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    else:
        # self-joined below; avoid recomputing signatures twice
        banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    a = banded.select(F.col(id_col).alias("id_a"), "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "bucket")
    out = (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return track_cached(out, banded)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """SimHash over word tokens: bit i of the signature is the sign of
    sum over tokens of (+1 if bit i of md5(token) else -1).

    Bit extraction uses integer DIV (not float division — portable and
    exact); one md5 per token, bits derived arithmetically. The DuckDB
    oracle reproduces this bit-for-bit (see catalog).

    The token hash takes ceil(bits/4) hex chars of the md5 so every
    signature bit is backed by a real hash bit (capped at 15 hex =
    60 bits to stay inside a signed long). bits<=32 keeps the original
    8-hex hash, so existing oracles are unchanged; bits=60 is the
    scale variant — SCALE.md measures how widening the signature
    restores ~linear candidate growth when the 32-bit bucket space
    saturates."""
    if bits > 60:
        raise ValueError("simhash supports at most 60 bits (signed-long token hash)")
    toks = F.split(normalize_text(F.col(text_col)), " ")
    n_hex = (bits + 3) // 4
    tokened = rebalance(df).select(id_col, F.explode(toks).alias("tok")).select(
        id_col,
        F.conv(F.substring(F.md5(F.col("tok")), 1, n_hex), 16, 10).cast("long").alias("th"),
    )
    # both stages rendered as SQL text — one parse call per aggregate /
    # one for the whole bit-weave — instead of ~8 py4j round trips per
    # bit (r14; ~1 s of driver build time for bits=60). The parsed
    # trees are the ones the Column API built: CASE WHEN for when/
    # otherwise, left-associative + chain, same integer literals.
    sums = tokened.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(CASE WHEN (th DIV {1 << i}) % 2 = 1 THEN 1 ELSE -1 END) AS s{i}"
            )
            for i in range(bits)
        ]
    )
    weave = " + ".join(f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
    sig = sums.select(id_col, F.expr(f"CAST(0 + {weave} AS BIGINT) AS simhash"))
    return sig


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    chunks: int = 4,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on bits/chunks-bit chunks
    (pigeonhole — hamming <= chunks-1 guarantees one equal chunk),
    verify candidates with an exact popcount.

    Candidate generation is linear only while bucket occupancy stays
    O(1). SCALE.md measured the failure mode: on a low-entropy corpus
    (fixed 31-word vocab) signature mass concentrates, hot buckets
    grow with corpus size, and candidates went quadratic (99x for 10x
    docs) even at 60 bits. `bucket_cap` is the skew guard, the exact
    analog of jaccard_pairs' df_cap: buckets with more than cap
    members are dropped before the self-join, bounding a bucket's pair
    fan-out at cap^2/2. Recall caveat (same as df_cap): a pair whose
    ONLY equal chunk is a hot bucket is missed — acceptable because a
    chunk shared by >cap docs carries no similarity signal, exactly
    like a stop-shingle."""
    sig = simhash(df, text_col, id_col, bits=bits)
    width = bits // chunks
    chunk_cols = [
        F.concat_ws(
            "_", F.lit(ci), F.expr(f"(simhash DIV {1 << (ci * width)}) % {1 << width}")
        ).alias(f"c{ci}")
        for ci in range(chunks)
    ]
    if bucket_cap is not None:
        # occupancy as count() over the bucket window instead of
        # groupBy+broadcast-join (r14, the minhash-LSH cap treatment):
        # the old keep-frame was aggregated AND broadcast once PER
        # self-join side (the planner does not dedupe the two
        # subtrees — plan showed two BroadcastExchanges over the same
        # aggregate). The window needs one hash exchange on `bucket` —
        # exactly the partitioning the self-join requires — and the
        # POST-filter frame is what gets persisted, so both join sides
        # read a cache that is (a) already pruned of hot buckets and
        # (b) partitioned on the join key: the join adds no exchange.
        # Identical rows: count over the bucket partition == the
        # groupBy count, filter <= cap == the inner keep-join.
        # Footprint trade (r14 advice): the cache holds the exploded
        # post-filter band table (~chunks rows per doc, each with the
        # signature + a bucket string) rather than a per-doc sig cache
        # — deliberately, for the saved exchange; revisit if cache
        # pressure shows at larger scale.
        from pyspark.sql import Window

        occ = F.count(F.lit(1)).over(Window.partitionBy("bucket"))
        banded = (
            sig.select(id_col, "simhash", F.explode(F.array(*chunk_cols)).alias("bucket"))
            .withColumn("_k", occ)
            .where(F.col("_k") <= bucket_cap)
            .drop("_k")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        cached = banded
    else:
        sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
        banded = sig.select(
            id_col, "simhash", F.explode(F.array(*chunk_cols)).alias("bucket")
        )
        cached = sig
    a = banded.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), "bucket")
    # hamming BEFORE the dedup of multi-bucket collisions (r14): the
    # popcount filter is a per-row expression, so running it on the
    # raw join output costs nothing extra, while the distinct that
    # follows now shuffles only the (tiny) surviving near-dup set —
    # three narrow columns — instead of every candidate pair dragging
    # both 8-byte signatures through the exchange (guide §2.3).
    # Identical result set: hamming is a function of the pair, so
    # filter-then-distinct == distinct-then-filter.
    out = (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long")
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )
    return track_cached(out, cached)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    max_driver_edges: int | None = 2_000_000,
) -> DataFrame:
    """Duplicate-cluster assembly: near-dup PAIRS → components, each
    labeled by its minimum member id (the canonical document).

    Two execution paths, identical results (the component labeling —
    min member id per component — is algorithm-independent):

    - driver-local union-find (r14): near-dup EDGES are a tiny
      fraction of the corpus (the docstrings of every pair producer),
      so up to `max_driver_edges` they collect to the driver and
      union-find labels them in O(E α(E)) — milliseconds, where each
      distributed round costs ~2 Spark jobs of driver round-trip
      latency. Bounded exactly like bpe_train's driver profile: the
      limit(max+1) collect proves the bound before committing.
    - distributed min-label propagation with pointer jumping
      (max_driver_edges=None/0 or edge count over the bound): every
      node starts as its own label; each round takes the min of its
      neighbors' labels, then shortcuts label <- label(label). The
      neighbor step alone converges in O(diameter) rounds — fine for
      blob-shaped dup clusters, but a CHAIN of near-dups (doc_i ~
      doc_{i+1}, the shape the 1.5%-mutation synthetic corpus builds)
      has diameter O(cluster size) and blew past 20 rounds at sf1.
      The shortcut halves every label path per round, so convergence
      is O(log diameter) — 2^20 diameter headroom within
      max_iters=20. Each round is ONE join + ONE groupBy + the
      pointer-jump join (r14: the old-label column rides the round,
      so the convergence check reads the checkpointed frame instead
      of re-joining the previous labels); only the convergence
      counter reaches the driver, and localCheckpoint truncates the
      lineage so plans stay flat at scale.

    Returns (node, cluster_id) for every node that appears in a pair;
    dedup keeps rows where node == cluster_id (cluster canonicals)."""
    if max_driver_edges:
        rows = collect_at_most(
            pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")),
            max_driver_edges,
        )
        if rows is not None:
            parent: dict = {}

            def find(x):
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                # path compression
                while parent.get(x, x) != r:
                    parent[x], x = r, parent[x]
                return r

            for r in rows:
                ra, rb = find(r[0]), find(r[1])
                if ra != rb:
                    # union by MIN so the root IS the canonical label
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            nodes = {x for r in rows for x in (r[0], r[1])}
            out = [(n, find(n)) for n in sorted(nodes)]
            id_type = pairs.schema[id_a].dataType
            from pyspark.sql.types import StructField, StructType

            schema = StructType([
                StructField("node", id_type, False),
                StructField("cluster_id", id_type, False),
            ])
            return pairs.sparkSession.createDataFrame(out, schema)
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    id_type = pairs.schema[id_a].dataType
    for _ in range(max_iters):
        # the previous label rides the round as _old (labels contribute
        # exactly one row per node; neighbor rows carry null), so the
        # convergence check below reads the checkpointed frame instead
        # of re-joining the previous labels — one join fewer per round
        nbr = sym.join(labels, sym["b"] == labels["node"]).select(
            F.col("a").alias("node"),
            F.col("label"),
            F.lit(None).cast(id_type).alias("_old"),
        )
        stepped = (
            labels.select("node", "label", F.col("label").alias("_old"))
            .union(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.max("_old").alias("_old"))
        )
        # pointer jumping: a label is itself a node id, so label(label)
        # is defined for every row; it only ever decreases, and chasing
        # one hop per round gives the logarithmic contraction
        parent = stepped.select(F.col("node").alias("label"), F.col("label").alias("_pl"))
        new_labels = (
            stepped.join(parent, "label", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("_pl", "label")).alias("label"),
                "_old",
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.where(F.col("label") != F.col("_old")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    else:
        # silently returning unconverged labels would split one true
        # component into several and let duplicates through as
        # "deduplicated" — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(component diameter exceeds max_iters); raise max_iters"
        )
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def fuzzy_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.8,
    bucket_cap: int | None = None,
) -> DataFrame:
    """End-to-end fuzzy dedup — the production training-data recipe:
    MinHash-LSH candidates → exact Jaccard verify on candidates only →
    connected components → keep the minimum-id doc per duplicate
    cluster (plus every unclustered doc). Returns the KEEP list of ids.

    Scale shape: candidates are ~linear in corpus size (banded LSH),
    the verify join touches only candidate pairs (two hash joins
    against the per-doc shingle-set table, ~50-element arrays — set
    ops stay in codegen), and component assembly runs on the verified
    pairs, which are a tiny fraction of the corpus. Nothing in the
    pipeline materializes more than O(candidates) rows, so the whole
    recipe is one LSH pass + joins — this is the composition
    CCNet/Gopher-style dedup uses at web scale."""
    cand = minhash_lsh_pairs(df, text_col, id_col, num_hashes, bands, n, bucket_cap=bucket_cap)
    # per-doc shingle sets straight off the projection (r14): the old
    # shingles()+groupBy+collect_set round-trip exploded every shingle
    # through a shuffle only to rebuild the per-doc set it started
    # from; array_intersect/array_union are order-insensitive, so the
    # array_distinct set is value-identical
    shsets = shingle_sets(df.select(id_col, text_col), text_col, n=n).select(
        id_col, F.col("_sh")
    )
    verified = (
        cand.join(
            shsets.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sha")), "id_a"
        )
        .join(
            shsets.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_shb")), "id_b"
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("_sha", "_shb"))
                / F.size(F.array_union("_sha", "_shb")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b")
    )
    labels = connected_components(verified)
    dup_nodes = labels.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return df.select(id_col).join(dup_nodes, id_col, "left_anti")


def dedup_exact_stream(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup at the ingest edge: fingerprint the
    normalized text and drop repeats within the watermark horizon
    (dropDuplicatesWithinWatermark — state expires with the watermark,
    so memory is bounded by the dedup horizon, not the stream's
    history). This is the streaming half of `dedup_exact`: batch
    backfill dedups the corpus globally by min-id; the stream dedups
    NEW arrivals against the horizon. A crawl pipeline runs both —
    the horizon catches republication bursts cheaply, the nightly
    batch catches everything else.

    Differences from batch, by construction: "first seen wins" (there
    is no global min-id in an unbounded stream) and duplicates farther
    apart than the watermark both survive (resolved by the batch
    pass)."""
    keyed = stream.withColumn("_fp", F.md5(normalize_text(F.col(text_col))))
    return (
        keyed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_fp"])
        .drop("_fp")
    )


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.8,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Cross-corpus dedup for incremental ingestion: keep the NEW docs
    that are NOT near-dups of anything already in `corpus_df` —
    LSH-band join between the two tables, exact Jaccard verify on the
    candidates, anti-join the matched new docs away. Returns surviving
    rows of `new_df` (all columns).

    This is the nightly-crawl shape: the corpus side's band table is
    computed once per batch (at 100 TB you PERSIST the corpus's band
    buckets and signatures as a table and only re-derive the new
    side); candidates are one equi-join on the bucket key; the verify
    join touches candidate pairs only. Self-duplicates WITHIN the new
    batch are out of scope — run `fuzzy_dedup` on the survivors for
    that (two ops, two clear semantics).

    `bucket_cap` drops band buckets whose COMBINED (new + corpus)
    membership exceeds the cap — same degenerate-boilerplate guard as
    minhash_lsh_pairs.

    Type constraint (since the r14 one-pass rewrite): the two inputs
    are unioned on (id_col, text_col), so those columns must have
    union-compatible types on both sides — mismatched id/text types
    that the old per-side pipelines tolerated now raise
    AnalysisException; cast one side before calling."""
    # ONE signature pass over both sides (r14, guide §2.4): the two
    # per-side minhash pipelines each ran their own shingle explode +
    # 16-min groupBy over their slice of the corpus — two scans, two
    # aggregate pipelines covering the same total bytes. A side tag
    # unioned through one pass builds ONE band table, and that table
    # is persisted (keys only: id, side, bucket — the guide-§8
    # "shuffle metadata, not payloads" shape, and literally the
    # persisted corpus band table the 100 TB note below prescribes) so
    # the nb/cb consumers read the cache instead of re-planning the
    # aggregate per side (a plain filter split would NOT reuse: the
    # _side predicate is on a grouping key, so Catalyst pushes it
    # below the exchange and re-splits the subtrees — plan-checked).
    # Grouping on (id, _side) keeps an id that appears on both sides
    # as two rows, exactly like the old per-side pipelines.
    tagged = (
        new_df.select(id_col, text_col).withColumn("_side", F.lit(0))
        .unionByName(corpus_df.select(id_col, text_col).withColumn("_side", F.lit(1)))
    )
    bb = _band_buckets(
        minhash_signatures(tagged, text_col, id_col, num_hashes, n, carry_cols=("_side",)),
        id_col, num_hashes, bands, carry_cols=("_side",),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    nb = bb.where(F.col("_side") == 0).drop("_side")
    cb = bb.where(F.col("_side") == 1).drop("_side")
    if bucket_cap is not None:
        both = nb.select("bucket").unionAll(cb.select("bucket"))
        surviving = (
            both.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("_k"))
            .where(F.col("_k") <= bucket_cap)
            .select("bucket")
        )
        nb = nb.join(surviving, "bucket")
        cb = cb.join(surviving, "bucket")
    cand = (
        nb.select(F.col(id_col).alias("_id_new"), "bucket")
        .join(cb.select(F.col(id_col).alias("_id_corp"), "bucket"), "bucket")
        .select("_id_new", "_id_corp")
        .distinct()
    )
    # per-doc sets off the projection, no explode/groupBy round-trip
    # (r14, same argument as fuzzy_dedup's shsets)
    sh_new = shingle_sets(new_df.select(id_col, text_col), text_col, n=n, target="_shn").select(
        F.col(id_col).alias("_id_new"), "_shn"
    )
    sh_corp = shingle_sets(
        corpus_df.select(id_col, text_col), text_col, n=n, target="_shc"
    ).select(F.col(id_col).alias("_id_corp"), "_shc")
    matched = (
        cand.join(sh_new, "_id_new")
        .join(sh_corp, "_id_corp")
        .where(
            F.round(
                F.size(F.array_intersect("_shn", "_shc"))
                / F.size(F.array_union("_shn", "_shc")),
                6,
            )
            >= threshold
        )
        .select(F.col("_id_new").alias(id_col))
        .distinct()
    )
    return track_cached(new_df.join(matched, id_col, "left_anti"), bb)


def repeated_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    min_docs: int = 2,
    df_cap: int = 1000,
) -> DataFrame:
    """Cross-document repeated-passage mass per document — the
    exact-substring dedup recipe (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better") at word-n-gram
    granularity: a token position is "duplicated" if it is covered by
    any n-gram that also appears in >= min_docs distinct documents.
    Returns (doc_id, n_tokens, dup_tokens, dup_ratio) — the filter
    column a training pipeline thresholds on (drop or trim docs whose
    passage mass is mostly boilerplate shared with other docs).

    Plan shape at 100 TB: positions explode only for grams that ARE
    cross-doc duplicated (the hits join), so the heavy explode is
    proportional to duplicated mass, not corpus size; df_cap drops
    degenerate boilerplate grams exactly like jaccard_pairs' shingle
    cap (a gram in >cap docs contributes coverage to every doc and
    carries no discriminative signal — at that point it's the
    boilerplate REMOVER's job, not the dedup scorer's). Suffix-array
    exactness (maximal spans, arbitrary lengths) needs a different
    engine; fixed-n rolling coverage is the distributable
    approximation and upper-bounds span recall for spans >= n."""
    from pyspark.sql import Window

    hits, with_toks_all, exploded = _dup_gram_hits(
        df, text_col, id_col, n, min_docs, df_cap)
    with_toks = with_toks_all.where(F.size("_t") >= n)
    # dup mass = Σ merged-island lengths (r14): the covered position
    # set is the union of [pos, pos+n) over hits, and repeated_spans'
    # island merge produces exactly its maximal disjoint intervals
    # (the cross-operator pytest invariant), so countDistinct over an
    # n-way position explode equals one window pass + two aggregates
    # on the SAME partition key — no explode, no countDistinct
    # shuffle of n× the hit volume (guide §2.3).
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + n).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    brk = F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0)
    per_doc = (
        hits.select(id_col, "pos", F.sum(brk).over(w).alias("_island"))
        .groupBy(id_col, "_island")
        .agg(F.min("pos").alias("_s"), (F.max("pos") + n).alias("_e"))
        .groupBy(id_col)
        .agg(F.sum(F.col("_e") - F.col("_s")).alias("dup_tokens"))
    )
    all_docs = with_toks.select(id_col, F.size("_t").cast("long").alias("n_tokens"))
    out = (
        all_docs.join(
            per_doc.select(id_col, F.col("dup_tokens").cast("long")), id_col, "left"
        )
        .select(
            id_col,
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.round(F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 6).alias(
                "dup_ratio"
            ),
        )
    )
    return track_cached(out, exploded)


def _dup_gram_hits(
    df: DataFrame, text_col: str, id_col: str, n: int, min_docs: int,
    df_cap: int,
):
    """Shared front half of the exact-substring family: (doc, pos)
    start positions of n-grams that recur across >= min_docs docs,
    plus the tokenized frame (doc, _t). Same normalize/md5-gram shapes
    as repeated_passages so the oracles replay identically."""
    base = rebalance(df)
    toks = F.split(normalize_text(F.col(text_col)), " ")
    with_toks = base.select(F.col(id_col), toks.alias("_t"))
    long_enough = with_toks.where(F.size("_t") >= n)
    idx = F.sequence(F.lit(0), F.size("_t") - n)
    grams = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"),
            F.md5(F.array_join(F.slice(F.col("_t"), i + 1, n), " ")).alias("g"),
        ),
    )
    exploded = long_enough.select(id_col, F.explode(grams).alias("e")).select(
        id_col, F.col("e.pos").alias("pos"), F.col("e.g").alias("g")
    )
    exploded = exploded.persist(StorageLevel.MEMORY_AND_DISK)
    shared = (
        exploded.groupBy("g")
        .agg(F.countDistinct(id_col).alias("_d"))
        .where((F.col("_d") >= min_docs) & (F.col("_d") <= df_cap))
        .select("g")
    )
    hits = exploded.join(shared, "g").select(id_col, "pos")
    return hits, with_toks, exploded


def repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    min_docs: int = 2,
    df_cap: int = 1000,
) -> DataFrame:
    """MAXIMAL duplicated spans per document — the interval geometry of
    ExactSubstr dedup (Lee et al. 2022 remove the duplicated substring
    itself, not the document): overlapping/adjacent duplicated n-gram
    start positions merge into [span_start, span_end) token intervals.
    Complement of repeated_passages, which scores the covered MASS;
    the union of these spans is exactly that coverage (asserted as a
    cross-operator pytest invariant).

    Island detection is one window pass per doc: a new span starts
    where a hit's position clears the running max end of everything
    before it — O(hits log hits) in the per-doc sort, no self-join.
    At 100 TB the window partitions by doc (no global sort), and the
    hits input is already proportional to duplicated mass only."""
    from pyspark.sql import Window

    hits, _with_toks, exploded = _dup_gram_hits(
        df, text_col, id_col, n, min_docs, df_cap)
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + n).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    brk = F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0)
    grouped = hits.select(
        id_col, "pos", F.sum(brk).over(w).alias("_island"))
    out = (
        grouped.groupBy(id_col, "_island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + n).cast("long").alias("span_end"),
        )
        .select(
            id_col, "span_start", "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_len"),
        )
    )
    return track_cached(out, exploded)


def exactsubstr_trim(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    min_docs: int = 2,
    df_cap: int = 1000,
) -> DataFrame:
    """The removal step of ExactSubstr dedup: cut every maximal
    duplicated span out of the (normalized) text, keeping the
    remainder in order. Returns (doc_id, n_tokens, removed_tokens,
    trimmed_text); docs shorter than n tokens pass through untouched
    (normalized), fully-duplicated docs come back empty — the
    pipeline's drop candidates.

    Plan shape: spans explode into covered positions (proportional to
    duplicated mass), token positions anti-join them, and the text
    rebuilds with one array_sort per doc — no window over tokens."""
    hits, with_toks, exploded = _dup_gram_hits(
        df, text_col, id_col, n, min_docs, df_cap)
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + n).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    brk = F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0)
    spans = (
        hits.select(id_col, "pos", F.sum(brk).over(w).alias("_island"))
        .groupBy(id_col, "_island")
        .agg(F.min("pos").alias("_s"), (F.max("pos") + n).alias("_e"))
    )
    # per-doc span arrays + one indexed filter() over the token array
    # (r14): the old shape pos-exploded EVERY token of EVERY doc
    # through an anti-join and re-assembled with collect_list — three
    # token-level shuffles carrying token strings. Spans per doc are
    # tiny (merged islands), so aggregating them to one array row per
    # doc and trimming in place costs at most ONE shuffle of the
    # token arrays (zero when AQE broadcasts the span side); a token
    # survives iff no span covers its position — same kept set, same
    # order, bit-identical rebuilt text.
    spans_per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct(F.col("_s"), F.col("_e"))).alias("_spans")
    )
    kept = F.filter(
        "_t",
        lambda tok, i: ~F.exists(
            F.col("_spans"), lambda sp: (i >= sp["_s"]) & (i < sp["_e"])
        ),
    )
    out = (
        with_toks.join(spans_per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.size("_t").cast("long").alias("n_tokens"),
            F.when(F.col("_spans").isNull(), F.col("_t"))
            .otherwise(kept)
            .alias("_kept_toks"),
        )
        .select(
            id_col,
            "n_tokens",
            (F.col("n_tokens") - F.size("_kept_toks"))
            .cast("long").alias("removed_tokens"),
            F.array_join("_kept_toks", " ").alias("trimmed_text"),
        )
    )
    return track_cached(out, exploded)


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    joiner: str = "\n",
) -> DataFrame:
    """CCNet-style line-level boilerplate removal: drop every line
    that appears (normalized) in >= min_docs DISTINCT documents, keep
    the rest in order, re-join. The classic crawl-cleaning step —
    cookie banners, nav menus, copyright footers repeat across a
    domain while body text doesn't (CCNet, Wenzek et al. 2020 §3.1).

    Returns (id_col, text_col) with the filtered text; a document
    whose every line was boilerplate drops out entirely (the pipeline
    behavior — re-left-join the input to route empties instead).

    Scale shape: posexplode is narrow; the line-frequency profile is
    (line_key, id) pre-aggregation → count, both HashAggregates with
    map-side partials (a footer on a billion pages collapses per map
    task, same skew argument as dedup_exact); the boilerplate filter
    is a left_anti hash join keyed on md5 — uniform after hot keys are
    on the BUILD side; one final groupBy reassembles docs. No step
    materializes a per-line corpus ordering and nothing is driver-side.
    min_docs is an absolute count by design — at 100 TB you set it per
    shard/domain partition (CCNet dedups per shard too)."""
    lines = rebalance(df).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), joiner)).alias("_pos", "_line"),
    ).withColumn("_lk", F.md5(normalize_text(F.col("_line"))))
    boiler = (
        lines.select("_lk", id_col)
        .distinct()
        .groupBy("_lk")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= min_docs)
        .select("_lk")
    )
    kept = lines.join(boiler, "_lk", "left_anti")
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_pos").alias("p"), F.col("_line").alias("l")))
                ),
                lambda s: s["l"],
            ),
            joiner,
        ).alias(text_col)
    )


def write_gram_table(
    df: DataFrame,
    table_name: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    gram_buckets: int = 64,
    path: str | None = None,
) -> None:
    """Materialize the corpus n-gram index: (gram, doc_id) saved as a
    parquet table BUCKETED BY hash(gram) into a fixed bucket count,
    sorted by gram within buckets. This is the storage layout that
    makes REPEATED decontamination / containment runs cheap at
    100 TB:

    - the gram key becomes a SCAN COLUMN, so joins against it are
      eligible for Spark's runtime Bloom-filter injection and
      min/max row-group skipping — neither can fire on a key
      synthesized by explode(transform(tokens)) at query time
      (measured: zero BloomFilterMightContain nodes even with
      injection thresholds forced to 1 byte, SCALE.md Addendum 10);
    - two tables bucketed the same way equi-join bucket-locally
      (no Exchange on the bucketed side — verified by plan in
      tests), so corpus-vs-benchmark and corpus-vs-corpus gram
      joins stop re-paying the explode AND the shuffle every run.

    Bucketing metadata lives in the catalog, so the table must be
    read back with spark.table(table_name), not spark.read.parquet.
    Tokenization cost is paid once at write time. Same layout
    argument as similarity.write_ivf_table (parquet partitioned by
    cell)."""
    grams = shingles(df.select(id_col, text_col), text_col, n=n, target="gram").select(
        "gram", id_col
    )
    writer = (
        grams.write.mode("overwrite")
        .bucketBy(gram_buckets, "gram")
        .sortBy("gram")
        .format("parquet")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def decontaminate_from_table(
    spark,
    gram_table: str,
    bench_grams: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination over a materialized gram table
    (write_gram_table): join the benchmark gram set against the
    stored (gram, doc_id) index and count shared grams per doc.
    The corpus side is a bucketed parquet scan whose join key is a
    real column — no Exchange on the corpus side when the join
    respects the bucketing, and filter pushdown / runtime Bloom
    injection apply; the tokenize/explode cost was paid once at
    write time. `bench_grams` must expose a `gram` column
    (shingles() with target='gram')."""
    corpus = spark.table(gram_table)
    return (
        corpus.join(bench_grams.select("gram").distinct(), "gram")
        .groupBy(id_col)
        .agg(F.countDistinct("gram").alias("n_shared"))
    )
