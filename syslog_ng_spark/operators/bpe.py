"""Distributed BPE tokenizer training (LLM-pipeline extension).

The byte-pair-encoding training loop (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units") is the
standard way tokenizers are built before an LLM pretraining run. The
reference engine has no analog — this is a first-class extension like
dedup/ANN, built the way a 100 TB corpus forces:

- The corpus is touched ONCE: a whitespace tokenize + word-count
  aggregate produces the distinct-word profile. Heaps' law (measured
  in this repo's `vocab_growth` gate: V ~ N^beta, beta ~ 0.5-0.7)
  makes that table orders of magnitude smaller than the corpus, and
  map-side partial aggregation keeps the shuffle skew-safe.
- Every merge round then runs on the word profile only: pair counts
  are an explode + sum over a vocab-sized table, the argmax is ONE
  row collected to the driver per round (same documented pattern as
  the k-means training loops in similarity.py), and the merge is
  applied with a plain string replace — no Python touches row data.

Merge application is the double-space trick: with symbols joined by
TWO spaces and the string padded, replacing ' a  b ' with ' ab '
performs exactly the left-to-right non-overlapping merge BPE
specifies ('a a a' -> 'aa a', never 'a aa'), because consecutive
matches no longer share a delimiter character. Plain `replace` has
identical semantics in Spark and DuckDB, so the oracle replays
training bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from syslog_ng_spark.util import collect_at_most

# end-of-word marker, a symbol that whitespace tokenization can never
# produce (words are split on whitespace, so they contain none)
EOW = "▁"


def _word_profile(df: DataFrame, text_col: str, lowercase: bool = True) -> DataFrame:
    """(word, cnt) over the corpus — the single corpus-scale pass."""
    txt = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    words = df.select(
        F.explode(F.filter(F.split(txt, r"\s+"), lambda w: w != "")).alias("word")
    )
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


def _to_symbols(word: Column) -> Column:
    """'low' -> 'l o w <EOW>': a space between every char plus the
    end-of-word symbol. regexp_replace('(.)' -> '$1 ') is the
    engine-portable char splitter."""
    return F.concat(F.regexp_replace(word, "(.)", "$1 "), F.lit(EOW))


def _apply_merge(sym: Column, a: str, b: str) -> Column:
    """One BPE merge on a single-space symbol string, via the
    double-space replace trick (see module docstring).

    r14: the space-doubling and collapse steps use literal replace()
    instead of regexp_replace() — both replace left-to-right
    non-overlapping occurrences of a metacharacter-free literal, so
    the result string is identical, without the regex engine on every
    word x merge (measured ~2x when this also drove segmentation)."""
    doubled = F.concat(F.lit(" "), F.replace(sym, F.lit(" "), F.lit("  ")), F.lit(" "))
    merged = F.replace(doubled, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    return F.trim(F.replace(merged, F.lit("  "), F.lit(" ")))


def _pair_counts(profile: DataFrame) -> DataFrame:
    s = F.split(F.col("sym"), " ")
    pairs = F.arrays_zip(
        F.slice(s, 1, F.size(s) - 1).alias("a"),
        F.slice(s, 2, F.size(s) - 1).alias("b"),
    )
    return (
        profile.select(F.col("cnt"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").alias("c"))
    )


def _train_merges_local(
    word_counts: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str]]:
    """The merge loop on a collected (word, count) profile — pure
    Python, incremental. Semantics are bit-identical to the
    distributed loop (parity-pytested): pair counts include every
    adjacent position ('a a a' contributes (a,a) twice), the argmax
    breaks ties on lexicographically smallest (left, right) — Python
    code-point string order == Spark's UTF8String binary order because
    UTF-8 preserves code-point order — and merge application is
    left-to-right non-overlapping, exactly the double-space replace.

    Cost model: the classic fast-BPE incremental update (the
    subword-nmt learn_bpe shape). A lazy max-heap holds (-count, a, b)
    entries — every count change pushes a fresh entry, pops discard
    stale ones — so the per-round argmax is O(log P) amortized instead
    of a full O(P) scan; the merge itself revisits ONLY the words that
    contain the chosen pair (tracked in an inverted index), so total
    work is proportional to text actually rewritten, not
    vocab x rounds. ~ms/round at real vocab sizes vs ~2.2s/round for
    a distributed round trip (SCALE.md Addendum 11/12).
    """
    import heapq
    from collections import Counter

    words: list[tuple[list[str], int]] = [
        (list(w) + [EOW], c) for w, c in word_counts
    ]
    stats: dict[tuple[str, str], int] = {}
    occurs: dict[tuple[str, str], set[int]] = {}
    for idx, (syms, cnt) in enumerate(words):
        for p in zip(syms, syms[1:]):
            stats[p] = stats.get(p, 0) + cnt
            occurs.setdefault(p, set()).add(idx)
    heap: list[tuple[int, str, str]] = [
        (-c, a, b) for (a, b), c in stats.items()
    ]
    heapq.heapify(heap)

    def _push(p: tuple[str, str], c: int) -> None:
        heapq.heappush(heap, (-c, p[0], p[1]))

    merges: list[tuple[int, str, str]] = []
    for rank in range(1, n_merges + 1):
        best: tuple[str, str] | None = None
        while heap:
            negc, a, b = heap[0]
            if stats.get((a, b)) == -negc:
                best = (a, b)
                break
            heapq.heappop(heap)  # stale entry (count since changed)
        if best is None:
            break  # every word is a single symbol already
        a, b = best
        merges.append((rank, a, b))
        for idx in sorted(occurs.get(best, ())):
            syms, cnt = words[idx]
            old_pairs = list(zip(syms, syms[1:]))
            new_syms = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    new_syms.append(a + b)
                    i += 2
                else:
                    new_syms.append(syms[i])
                    i += 1
            new_pairs = list(zip(new_syms, new_syms[1:]))
            delta: Counter = Counter(new_pairs)
            delta.subtract(old_pairs)
            for p, d in delta.items():
                if d == 0:
                    continue
                nc = stats.get(p, 0) + d * cnt
                if nc <= 0:
                    stats.pop(p, None)
                else:
                    stats[p] = nc
                    _push(p, nc)
            oldset, newset = set(old_pairs), set(new_pairs)
            for p in newset - oldset:
                occurs.setdefault(p, set()).add(idx)
            for p in oldset - newset:
                s = occurs.get(p)
                if s is not None:
                    s.discard(idx)
            words[idx] = (new_syms, cnt)
        stats.pop(best, None)
        occurs.pop(best, None)
    return merges


def _train_local(
    df: DataFrame, text_col: str, n_merges: int, lowercase: bool, bound: int
) -> tuple[list[tuple[int, str, str]], list[tuple[str, int]]] | None:
    """bpe_train's driver-local path: (merges, word profile) when the
    word profile fits `bound` rows, else None."""
    rows = collect_at_most(_word_profile(df, text_col, lowercase), bound)
    if rows is None:
        return None
    wc = [(r["word"], r["cnt"]) for r in rows]
    return _train_merges_local(wc, n_merges), wc


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    lowercase: bool = True,
    driver_profile: bool | str = "auto",
    max_driver_profile_rows: int = 2_000_000,
) -> list[tuple[int, str, str]]:
    """Learn `n_merges` BPE merges from a corpus; returns
    [(rank, left, right)] with rank 1 = most frequent pair. Ties break
    lexicographically on (left, right) so training is deterministic.

    Two execution paths, identical results (parity-pytested):

    - distributed (`driver_profile=False`): one 1-row collect per
      round (the argmax pair) — the word profile and all pair counting
      stay distributed. Right when the profile itself is too big to
      collect; ~2.2s/round of job latency (Addendum 11).
    - driver-local (`driver_profile=True`): the corpus is touched
      ONCE (the `_word_profile` aggregate), the vocab-sized profile is
      collected — bounded by `max_driver_profile_rows`, Heaps' law
      (this repo's `vocab_growth` gate: V ~ N^0.5-0.7) keeps it
      orders of magnitude under corpus size — and the merge loop runs
      in pure Python at ~ms/round (`_train_merges_local`). The ONLY
      viable path for a real ~30k-merge vocabulary: 30k distributed
      rounds would be ~18 hours of driver round-trips.

    `driver_profile="auto"` (default) picks driver-local whenever the
    profile fits the collect bound (r14: previously only for
    n_merges > 32 — but the cost model is the same at ANY merge count:
    a distributed round is ~2 Spark jobs of driver round-trip latency
    vs ~ms locally, and the corpus-scale work, the ONE word-profile
    aggregate, is identical on both paths; measured 6.0s -> 1.0s for
    the 8-merge gate at sf0.1). Falls back to the distributed loop if
    the profile exceeds the collect bound. Both paths are
    parity-pytested bit-identical, so the choice is invisible to
    results.
    Character model: BOTH paths split words by Unicode code point —
    Python iterates strings by code point, and Spark's regexp '(.)'
    does too (java.util.regex treats a surrogate pair as one match),
    so an astral-plane character (emoji, musical symbols) is ONE
    symbol on both paths. Measured, not assumed: the parity tests
    cover supplementary-plane corpora explicitly
    (tests/test_bpe.py::test_astral_plane_*).
    """
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    use_driver = True if driver_profile == "auto" else bool(driver_profile)
    if use_driver:
        local = _train_local(df, text_col, n_merges, lowercase, max_driver_profile_rows)
        if local is not None:
            return local[0]
        if driver_profile is True:
            raise ValueError(
                f"word profile exceeds max_driver_profile_rows="
                f"{max_driver_profile_rows}; raise the bound or use "
                "driver_profile=False"
            )
        # auto: profile too big to collect — distributed loop below
    profile = (
        _word_profile(df, text_col, lowercase)
        .select(_to_symbols(F.col("word")).alias("sym"), "cnt")
        .persist()
    )
    merges: list[tuple[int, str, str]] = []
    current = profile
    try:
        for rank in range(1, n_merges + 1):
            top = (
                _pair_counts(current)
                .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()
            )
            if not top:
                break  # every word is a single symbol already
            a, b = top[0]["a"], top[0]["b"]
            merges.append((rank, a, b))
            nxt = current.select(_apply_merge(F.col("sym"), a, b).alias("sym"), "cnt").persist()
            nxt.count()  # materialize before dropping the parent
            if current is not profile:
                current.unpersist()
            current = nxt
            if rank % 16 == 0:
                # truncate lineage: persist() keeps the whole replace
                # chain in the logical plan, so by a few hundred rounds
                # re-analysis is O(rounds) per round and the plan trees
                # OOM the driver (measured at 500 merges). The profile
                # is vocab-sized — checkpointing it is cheap.
                chk = current.localCheckpoint(eager=True)
                current.unpersist()
                current = chk
    finally:
        if current is not profile:
            current.unpersist()
        profile.unpersist()
    return merges


def bpe_train_and_vocab(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    lowercase: bool = True,
    max_driver_profile_rows: int = 2_000_000,
) -> tuple[list[tuple[int, str, str]], dict[str, int]]:
    """Train AND build the token→id vocabulary from ONE word-profile
    pass (r15, guide §1.2: don't recompute what you already have).
    The train+encode pipeline previously touched the corpus twice on
    the driver-local path — bpe_train collected the profile, then
    bpe_vocab ran a SECOND corpus-scale `_word_profile` aggregate
    plus a distributed alphabet/window/crossJoin pipeline just to
    collect the vocab back — even though the vocabulary is a pure
    function of the already-collected profile: alphabet = the distinct
    symbols of the profile's words (+ EOW) with ids in binary string
    order (Python sorted == Spark UTF8String order — UTF-8 preserves
    code-point order), then one token per merge in rank order with
    id = |alphabet| + rank - 1, lowest id winning duplicate surface
    forms (bpe_vocab's documented policy; see _local_vocab).

    Past the collect bound both halves fall back to the distributed
    paths unchanged (the 100 TB shape: bpe_vocab's profile aggregate
    is the corpus pass, everything downstream vocab-sized).
    Parity with bpe_vocab(df).collect() is pytest-pinned."""
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    local = _train_local(df, text_col, n_merges, lowercase, max_driver_profile_rows)
    if local is not None:
        merges, wc = local
        return merges, _local_vocab(wc, merges)
    merges = bpe_train(df, text_col, n_merges, lowercase, driver_profile=False)
    vocab = {
        r["token"]: r["id"]
        for r in bpe_vocab(df, text_col, merges, lowercase).collect()
    }
    return merges, vocab


def _local_vocab(
    word_counts: list[tuple[str, int]], merges: list[tuple[int, str, str]]
) -> dict[str, int]:
    """bpe_vocab over a collected word profile. Merges are visited in
    rank order whatever order the caller passes them in, so
    setdefault keeps the LOWEST id of a duplicate surface form."""
    alpha = sorted({ch for w, _ in word_counts for ch in w} | {EOW})
    vocab = {t: i for i, t in enumerate(alpha)}
    for rank, a, b in sorted(merges):
        vocab.setdefault(a + b, len(alpha) + rank - 1)
    return vocab


def _segment_word_ranked(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Standard rank-priority BPE application (the GPT-2 encoder
    algorithm): repeatedly merge the lowest-rank adjacent pair,
    left-to-right non-overlapping, until no learned pair remains.

    For a merge list produced by genuine BPE training this is
    EQUIVALENT to one left-to-right replace pass per merge in rank
    order (the training loop's _apply_merge): merge j's components
    exist before merge k>j is learned, so applying k can never create
    a new adjacency for j (the only new symbol, a_k+b_k, postdates j)
    — hence rank order == priority order. The parity pytest checks this on trained lists
    AND on a 500-deep chain list."""
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_rank = None
        best_pair = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (syms[i], syms[i + 1])
        if best_pair is None:
            break
        a, b = best_pair
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _segment_frame(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[int, str, str]],
    lowercase: bool,
    out_col: str,
    elem_type,
    vocab: dict[str, int] | None = None,
) -> DataFrame:
    """`df` plus an array column `out_col`: each row's words segmented
    by the rank-priority encoder, mapped through `vocab` when given
    (tokens outside it become NULL)."""
    import re

    from pyspark.sql.types import ArrayType, StructField, StructType

    ranks = {(a, b): r for r, a, b in merges}
    out_schema = StructType(list(df.schema.fields) + [StructField(out_col, ArrayType(elem_type))])
    ws = re.compile(r"\s+")

    def run(batches):
        memo: dict[str, list] = {}
        for pdf in batches:
            res = []
            for txt in pdf[text_col]:
                if txt is None:
                    res.append(None)
                    continue
                t = txt.lower() if lowercase else txt
                toks: list = []
                for w in ws.split(t):
                    if not w:
                        continue
                    got = memo.get(w)
                    if got is None:
                        got = _segment_word_ranked(w, ranks)
                        if vocab is not None:
                            got = [vocab.get(tok) for tok in got]
                        memo[w] = got
                    toks.extend(got)
                res.append(toks)
            yield pdf.assign(**{out_col: res})

    return df.mapInPandas(run, out_schema)


def bpe_segment(df: DataFrame, text_col: str, merges: list[tuple[int, str, str]],
                lowercase: bool = True, out_col: str = "bpe") -> DataFrame:
    """Apply a trained merge list to a corpus: each row's text becomes
    an array of subword tokens.

    Arrow-batched mapInPandas running the standard rank-priority
    encoder with a per-partition word memo — Zipf makes the
    distinct-word working set tiny relative to rows, so each distinct
    word is segmented once per partition, O(len·pairs) in Python but
    amortized across every repeat. Cost is flat in merge count, so it
    serves a real ~30k-merge vocabulary; an expression tree with one
    replace per merge hits the janino wall past a few dozen merges
    (SCALE.md Addendum 5 §3)."""
    from pyspark.sql.types import StringType

    return _segment_frame(df, text_col, merges, lowercase, out_col, StringType())


def bpe_vocab(
    df: DataFrame, text_col: str, merges: list[tuple[int, str, str]],
    lowercase: bool = True,
) -> DataFrame:
    """(token, id) vocabulary for a trained merge list — what a
    trainer's tokenizer config actually ships: the corpus ALPHABET
    (every distinct symbol incl. the end-of-word marker, ids assigned
    in binary string order — deterministic across engines) followed by
    one token per merge in rank order (id = |alphabet| + rank - 1).
    The alphabet scan is the word profile re-used (Heaps-small);
    everything downstream is tiny.

    Duplicate surface forms are possible — two merges can yield the
    same token string (('a','bc') and ('ab','c') both produce 'abc'),
    and a merge token can collide with an alphabet symbol. Policy:
    **keep the LOWEST id per token** (first producer wins; ids above
    it are simply unused). This keeps both consumers consistent:
    bpe_segment_ids' dict and the SQL oracle's join (which would fan
    rows out)."""
    from pyspark.sql import Window

    syms = _word_profile(df, text_col, lowercase).select(
        _to_symbols(F.col("word")).alias("sym")
    )
    alpha = syms.select(F.explode(F.split(F.col("sym"), " ")).alias("token")).distinct()
    w = Window.orderBy("token")
    alpha_ids = alpha.select(
        "token", (F.row_number().over(w) - 1).cast("long").alias("id")
    )
    spark = df.sparkSession
    merge_rows = spark.createDataFrame(
        [(r, a + b) for r, a, b in merges], "rank long, token string"
    )
    n_alpha = alpha.agg(F.count(F.lit(1)).alias("_n"))
    merged_ids = merge_rows.crossJoin(F.broadcast(n_alpha)).select(
        "token", (F.col("_n") + F.col("rank") - 1).cast("long").alias("id")
    )
    # lowest-id-wins dedup (see docstring policy)
    return (
        alpha_ids.unionByName(merged_ids)
        .groupBy("token")
        .agg(F.min("id").alias("id"))
    )


def bpe_segment_ids(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[int, str, str]],
    lowercase: bool = True,
    out_col: str = "ids",
    vocab: dict[str, int] | None = None,
) -> DataFrame:
    """Segment AND map to token ids — the int sequence a training
    loader consumes. `vocab` is the TRAINING corpus's token→id table
    (collect `bpe_vocab(train_df, ...)` once — driver-sized by the
    same Heaps argument as the merge list itself); when None it is
    built from `df` itself, which is only correct when encoding the
    training corpus (symbols unseen at training time would otherwise
    silently join the alphabet and shift every merge-token id).

    bpe_segment's kernel emits the ids directly through its
    per-partition word memo — one Arrow pass, no joins,
    merge-count-flat. Tokens outside the vocabulary map to NULL (unk
    handling is the loader's policy decision)."""
    from pyspark.sql.types import LongType

    if vocab is None:
        vocab = {
            r["token"]: r["id"]
            for r in bpe_vocab(df, text_col, merges, lowercase).collect()
        }
    return _segment_frame(df, text_col, merges, lowercase, out_col, LongType(), vocab)
