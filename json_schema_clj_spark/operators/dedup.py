"""Deduplication operators for training-data pipelines (north-star
extension over the `documents` table).

All variants are expressed as Column/HOF plans — no per-row Python:

* exact           — normalize → md5 → hash-groupBy (partial agg + one
                    shuffle on the hash; dup groups are rare → tiny result)
* n-gram Jaccard  — word-shingle explode → pair-join on shingle hash →
                    exact Jaccard on shared counts (classic candidate-pair
                    plan; shingle key is high-cardinality → well-spread
                    shuffle, hot shingles capped via frequency filter)
* MinHash + LSH   — per-row signature arrays via HOFs, banded bucket join,
                    signature-similarity verification (the 100 TB path:
                    |pairs| never materializes beyond shared buckets)
* SimHash         — 64-bit sign-aggregated word-hash fingerprint, banded
                    by 16-bit chunks for Hamming-neighbor candidates
* embedding cosine near-dup — see similarity.py

Hash choice: md5 (hex string) for anything an external oracle must
replicate (DuckDB has md5); xxhash64 (JVM-side, fastest) for internal-only
signatures.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _with_deps(result: DataFrame, *persisted: DataFrame) -> DataFrame:
    """Attach the persisted intermediates backing `result` so long-lived
    sessions can release their cached blocks once the result is
    materialized (repeated operator calls would otherwise accumulate
    executor storage until LRU eviction)."""
    result._persisted_deps = list(persisted)  # type: ignore[attr-defined]
    return result


def carry_deps(outer: DataFrame, inner: DataFrame) -> DataFrame:
    """Re-attach `inner`'s persisted-deps handle to a transformed result.
    `_persisted_deps` is a plain Python attribute on one DataFrame object —
    every ``.select()/.orderBy()/...`` returns a NEW object without it, so
    a query wrapper that reshapes an operator's output must carry the
    handle forward or `release()` on the shipped result silently no-ops."""
    deps = getattr(inner, "_persisted_deps", None)
    if deps:
        outer._persisted_deps = deps  # type: ignore[attr-defined]
    return outer


def release(result: DataFrame) -> None:
    """Unpersist the cached intermediates a banded/LSH operator persisted
    on behalf of `result`.  Call after the result is fully materialized
    (written / collected); the result itself stays valid but recomputes."""
    for dep in getattr(result, "_persisted_deps", ()):
        dep.unpersist()
        _ckpt_release(dep)


def _ckpt(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` that records the RDD blocks it
    persisted, so iterative loops can free each round's blocks once the
    next round has materialized (``DataFrame.unpersist()`` does NOT touch
    checkpoint blocks — without this every round's edge/label set stays
    resident until GC, an edge-set-sized leak per round at 10^12 edges)."""
    sc = df.sparkSession.sparkContext
    before = {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}
    out = df.localCheckpoint(eager=True)
    after = sc._jsc.getPersistentRDDs()
    out._ckpt_rdd_ids = [  # type: ignore[attr-defined]
        int(k) for k in after.keySet().toArray() if int(k) not in before
    ]
    out._ckpt_sc = sc  # type: ignore[attr-defined]
    return out


def _ckpt_release(df) -> None:
    """Free the RDD blocks a `_ckpt` DataFrame pinned.  Only call once no
    future job will read the frame (its lineage is truncated — the blocks
    cannot be recomputed)."""
    if df is None:
        return
    sc = getattr(df, "_ckpt_sc", None)
    ids = getattr(df, "_ckpt_rdd_ids", ())
    if sc is None or not ids:
        return
    jmap = sc._jsc.getPersistentRDDs()
    for rid in ids:
        if jmap.containsKey(rid):
            jmap.get(rid).unpersist(False)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain mixing constants):
    derives independent hash families from one base hash, pure uint64 ops."""
    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _hash_words(words: np.ndarray, seed: int) -> np.ndarray:
    """Deterministic uint64 hash of a string array: pandas' stable keyed
    string hash, then splitmix64-mixed with the seed."""
    base = pd.util.hash_array(words, categorize=False)
    return _splitmix64(base ^ np.uint64(seed))


def _normalized_pd(texts: pd.Series) -> pd.Series:
    return (
        texts.fillna("").str.lower().str.replace(r"\s+", " ", regex=True).str.strip()
    )


def normalized(text: Column) -> Column:
    """Canonical text form: lowercase, collapsed whitespace, trimmed."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def text_hash(text: Column) -> Column:
    return F.md5(normalized(text))


def exact_duplicate_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(text_hash, n) for every exactly-duplicated normalized text."""
    return (
        df.groupBy(text_hash(F.col(text_col)).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per normalized text.  min_by avoids a
    window sort — one hash agg, then a semi-join free projection."""
    keep = (
        df.select(F.col(id_col), text_hash(F.col(text_col)).alias("_h"))
        .groupBy("_h")
        .agg(F.min(F.col(id_col)).alias(id_col))
    )
    return df.join(keep.select(id_col), on=id_col, how="left_semi")


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Resolve duplicate-pair edges into clusters: (id, cluster_id) where
    cluster_id = the minimum id reachable in the pair graph — the step that
    turns pairwise dedup output into keep-one-per-cluster decisions.

    Min-label propagation: every node starts labeled with itself; each
    round, a node takes the min of its label and its neighbors' labels
    (one shuffle join + partial-agg'd min per round), until a round changes
    nothing.  Rounds needed = graph diameter — dup clusters are shallow
    (near-clique), so this converges in 2-3 rounds in practice; the classic
    large-star/small-star variant halves the diameter per round if ever
    needed.  ``localCheckpoint`` truncates the per-iteration lineage so the
    plan doesn't grow unboundedly (iterative algorithms otherwise recompile
    an ever-deeper tree each round).
    """
    sym = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges0 = sym.union(
        sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    # Size the edge partitioning to the DATA, not the session default: the
    # per-round join rescans the edge set every iteration, so a tiny pair
    # result spread over defaultParallelism partitions pays iterations ×
    # partitions empty-task scheduling (measured 10.9s → 6.3s at sf0.1 just
    # from 32 → 8 partitions).  Hash-partitioning on the join key also
    # co-locates every round's edges-side exchange.  At cluster scale the
    # row target keeps p = full parallelism.
    n_edges = edges0.count()
    sc = pairs.sparkSession.sparkContext
    p = max(1, min(sc.defaultParallelism, 1 + n_edges // 2_000_000))
    edges = _ckpt(edges0.repartition(p, "dst"))
    edges0.unpersist()
    labels = _ckpt(
        edges.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    )

    # Convergence detection without a second join: an order-insensitive
    # checksum over (id, label) — sum of xxhash64(id, label) — is unchanged
    # between rounds iff no label changed (up to a ~2^-64 multiset hash
    # collision, same tradeoff as connected_components_star's edge
    # checksum).  xxhash64 works for ANY id type: the earlier
    # cast-label-to-decimal sum returned NULL for non-numeric ids, and
    # NULL == NULL declared convergence after round 1 with wrong clusters.
    # The sum runs over the eagerly checkpointed blocks (in-memory scan, no
    # shuffle), replacing the old per-round nxt⋈labels "changed" count job.
    def _checksum(lab: DataFrame):
        return lab.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("id", "label").cast("decimal(38,0)")).alias("s"),
        ).first()

    prev = _checksum(labels)
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # one shuffle join + one min-agg per round: neighbor labels unioned
        # with each node's own label, then a partial-agg'd min — the
        # labels⋈nbr left-join of the naive formulation folds away.
        nxt = _ckpt(
            edges.join(labels, edges["dst"] == labels["id"])
            .select(F.col("src").alias("id"), F.col("label"))
            .unionByName(labels)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        cur = _checksum(nxt)
        _ckpt_release(labels)  # nxt is materialized; round k-1 blocks free
        labels = nxt
        if tuple(cur) == tuple(prev):
            converged = True
            break
        prev = cur
    _ckpt_release(edges)
    if not converged:
        # Silent under-merge would split real duplicate clusters downstream
        # with no signal (graph diameter > max_iter rounds).
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (rounds needed = graph diameter), or use "
            "connected_components_star (rounds ~ log diameter)"
        )
    out = _with_deps(
        labels.select(F.col("id"), F.col("label").alias("cluster_id")), labels
    )
    out._cc_rounds = rounds  # type: ignore[attr-defined] — observability
    return out


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    deep-graph / 100 TB path: rounds grow with log(diameter), not diameter,
    and each round is a bounded number of shuffles of the (shrinking) edge
    set.  Prefer this over the min-label loop when duplicate chains are
    long (min-label needs diameter rounds; a 40-hop boilerplate chain means
    40 full-edge shuffles).

    large-star: every node's larger neighbors re-attach to the minimum of
    its neighborhood; small-star: smaller neighbors (and the node) attach
    to the minimum of the smaller neighborhood.  The fixpoint is a star per
    component centered at the component minimum; labels read directly off
    the final edges.  Convergence is detected by an order-insensitive edge
    checksum (count + hash sum) going stable.
    """
    sym0 = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")).where(
        F.col("u") != F.col("v")
    )
    edges = _ckpt(
        sym0.select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )
    # nodes derived from the checkpointed edges, not from `pairs` — the
    # (possibly expensive, unpersisted) pair pipeline runs exactly once
    nodes = _ckpt(
        edges.select(F.col("u").alias("id"))
        .union(edges.select(F.col("v").alias("id")))
        .distinct()
    )

    def checksum(e: DataFrame):
        r = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s"),
        ).first()
        return (r["n"], r["s"])

    prev = checksum(edges)
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # large-star over the bidirectional view; canonical edges (u<v) ARE
        # the v>u directed pairs, so no filter is needed on the emit side
        bb = edges.select("u", "v").union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m_l = bb.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least("mv", F.col("u")).alias("m")
        )
        e_l = (
            edges.join(m_l, "u")
            .select(F.least("v", "m").alias("u"), F.greatest("v", "m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: the directed pairs with second < first are exactly the
        # canonical edges swapped
        le = e_l.select(F.col("v").alias("u"), F.col("u").alias("v"))
        m_s = le.groupBy("u").agg(F.min("v").alias("m"))
        prev_edges = edges
        edges = _ckpt(
            le.join(m_s, "u")
            .select(F.col("v").alias("x"), "m")
            .union(m_s.select(F.col("u").alias("x"), "m"))
            .where(F.col("x") != F.col("m"))
            .select(F.least("m", "x").alias("u"), F.greatest("m", "x").alias("v"))
            .distinct()
        )
        _ckpt_release(prev_edges)  # new round's edge set is materialized
        cur = checksum(edges)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(f"connected_components_star did not converge in {max_iter} rounds")
    lab = nodes.join(
        edges.select(F.col("v").alias("id"), F.col("u").alias("cluster_id")), "id", "left"
    )
    out = _with_deps(
        lab.select("id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")),
        nodes,
        edges,
    )
    out._cc_rounds = rounds  # type: ignore[attr-defined] — observability
    return out


# ---------------------------------------------------------------------------
# shingles


def raw_word_ngrams(text: Column, n: int) -> Column:
    """ALL word n-grams in document order (duplicates kept, space-joined
    strings) — the shared scaffold under both the shingle hashers here and
    the repetition counters in operators/text.py.

    Zips n shifted copies of the word array instead of slicing per index:
    `slice(words, i, n)` inside a transform lambda re-evaluates the split
    for EVERY index (no CSE across lambda boundaries) — measured 14×
    slower.  arrays_zip pads the shorter (shifted) arrays with null; rows
    whose last word is null are the <n tails and are filtered out."""
    words = F.split(normalized(text), " ")
    shifted = [F.slice(words, i + 1, 1 << 30).alias(f"w{i}") for i in range(n)]
    z = F.arrays_zip(*shifted)
    last = f"w{n - 1}"
    return F.filter(
        F.transform(
            z,
            lambda s: F.when(
                s[last].isNotNull(),
                F.concat_ws(" ", *[s[f"w{i}"] for i in range(n)]),
            ),
        ),
        lambda x: x.isNotNull(),
    )


def word_shingles(text: Column, k: int = 3, hasher=None) -> Column:
    """Distinct k-word shingles, hashed (default md5 hex → array<string>;
    pass ``hasher=F.xxhash64`` for narrow bigint keys on the scale path)."""
    hasher = hasher or F.md5
    return F.array_distinct(F.transform(raw_word_ngrams(text, k), lambda g: hasher(g)))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard over word-k-shingles for every candidate pair sharing
    at least one shingle: (id_a, id_b, jaccard) with id_a < id_b.

    Plan: explode distinct shingles → self-join on shingle hash (shuffle
    key = shingle, high cardinality) → count shared per pair → join the two
    per-doc shingle counts (broadcastable aggregate) → Jaccard.  At 100 TB,
    `max_shingle_freq` drops boilerplate shingles that would create
    quadratic hot buckets (the standard stop-shingle guard).
    """
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("sh"),
    )
    # spread the exploded shingle table across the cluster regardless of the
    # input's partitioning (a single-file read would otherwise serialize the
    # whole join), and compute it once
    ex = ex.repartition(df.sparkSession.sparkContext.defaultParallelism, "sh").persist()
    if max_shingle_freq is not None:
        hot = ex.groupBy("sh").count().where(F.col("count") > max_shingle_freq).select("sh")
        ex = ex.join(F.broadcast(hot), on="sh", how="left_anti")
    # per-doc shingle counts derived from the same exploded frame (shingles
    # are already distinct per doc)
    sizes = ex.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = ex.alias("a")
    b = ex.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = (
        shared.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn("jaccard", F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def exact_substring_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_shared: int = 1,
    use_xxhash: bool = True,
    max_window_freq: int | None = 50,
) -> DataFrame:
    """Exact n-token substring duplication: pairs of documents sharing at
    least `min_shared` distinct n-token windows, with the count.

    This is the training-data "exact substring dedup" semantics (two docs
    containing the same verbatim n-token run are near-dups even when their
    overall Jaccard is low — boilerplate headers, quoted passages, license
    blocks).  The suffix-array formulation of that dedup is inherently
    sequential; the Spark-first plan is a shingle-hash join, identical in
    output for window granularity n:

      distinct (id, window_hash) → repartition by hash → hot-window guard
      (windows in > max_window_freq docs are boilerplate, no dedup signal,
      and would make the self-join quadratic in the hottest key) →
      self-join on hash → count shared windows per pair.

    `use_xxhash=True` shuffles narrow bigint keys (the 100 TB path);
    False uses md5 hex — bit-reproducible in ANSI SQL for the oracle twin.
    Returns (id_a, id_b, n_shared) with id_a < id_b.
    """
    hasher = F.xxhash64 if use_xxhash else F.md5
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), n, hasher=hasher)).alias("wh"),
    )
    ex = ex.repartition(df.sparkSession.sparkContext.defaultParallelism, "wh").persist()
    if max_window_freq is not None:
        hot = ex.groupBy("wh").count().where(F.col("count") > max_window_freq).select("wh")
        ex = ex.join(F.broadcast(hot), on="wh", how="left_anti")
    a, b = ex.alias("a"), ex.alias("b")
    pairs = (
        a.join(b, (F.col("a.wh") == F.col("b.wh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return _with_deps(pairs, ex)


def positional_windows(text: Column, n: int, hasher=None) -> Column:
    """All n-word windows WITH their 0-based token position:
    array<struct<pos:int, wh>> (not distinct — runs need every position)."""
    hasher = hasher or F.md5
    words = F.split(normalized(text), " ")
    shifted = [F.slice(words, i + 1, 1 << 30).alias(f"w{i}") for i in range(n)]
    z = F.arrays_zip(*shifted)
    last = f"w{n - 1}"
    win = F.transform(
        z,
        lambda s, i: F.when(
            s[last].isNotNull(),
            F.struct(
                i.cast("int").alias("pos"),
                hasher(F.concat_ws(" ", *[s[f"w{j}"] for j in range(n)])).alias("wh"),
            ),
        ),
    )
    return F.filter(win, lambda x: x.isNotNull())


def shared_run_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    use_xxhash: bool = True,
    max_window_freq: int | None = 50,
) -> DataFrame:
    """Longest shared verbatim token run per document pair — the span
    length that decides WHAT to cut in exact-substring dedup, not just
    which pairs collide.

    Diagonal-run formulation (the distributed stand-in for a suffix-array
    local alignment): anchor matches are window-hash equijoins carrying
    both positions; a verbatim run of r consecutive shared windows lies
    on one diagonal d = pos_b - pos_a as r consecutive pos_a values, so
    gaps-and-islands (pos_a - row_number() over the (pair, diagonal)
    partition) recovers r exactly, and the longest shared token span is
    max(r) + n - 1.  Shuffles: one on window hash (the join), one on the
    (pair, diagonal) key (the window function) — both bounded by matched
    anchors, which the hot-window guard keeps non-quadratic.

    Returns (id_a, id_b, max_run_tokens, n_diagonals) with id_a < id_b.
    """
    from pyspark.sql import Window

    hasher = F.xxhash64 if use_xxhash else F.md5
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(positional_windows(F.col(text_col), n, hasher=hasher)).alias("w"),
    ).select("id", F.col("w.pos").alias("pos"), F.col("w.wh").alias("wh"))
    ex = ex.repartition(df.sparkSession.sparkContext.defaultParallelism, "wh").persist()
    if max_window_freq is not None:
        # guard counts DOCS per window (a window repeated inside one doc is
        # not boilerplate)
        hot = (
            ex.select("wh", "id").distinct()
            .groupBy("wh").count()
            .where(F.col("count") > max_window_freq)
            .select("wh")
        )
        ex = ex.join(F.broadcast(hot), on="wh", how="left_anti")
    a, b = ex.alias("a"), ex.alias("b")
    anchors = a.join(b, (F.col("a.wh") == F.col("b.wh")) & (F.col("a.id") < F.col("b.id"))).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.pos").alias("pos_a"),
        (F.col("b.pos") - F.col("a.pos")).alias("diag"),
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    islands = anchors.withColumn("island", F.col("pos_a") - F.row_number().over(w))
    runs = (
        islands.groupBy("id_a", "id_b", "diag", "island")
        .agg(F.count(F.lit(1)).alias("run_windows"))
    )
    out = runs.groupBy("id_a", "id_b").agg(
        (F.max("run_windows") + F.lit(n - 1)).alias("max_run_tokens"),
        F.count_distinct("diag").alias("n_diagonals"),
    )
    return _with_deps(out, ex)


def cross_contamination(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    use_xxhash: bool = True,
    max_window_freq: int | None = 50,
) -> DataFrame:
    """Benchmark decontamination: training documents sharing at least one
    verbatim n-token window with ANY benchmark document — the standard
    test-set-overlap filter a pretraining corpus runs before training.

    Asymmetric by construction: the benchmark side is thousands of docs
    against a 100 TB train side, so its distinct window set is collected
    into a broadcast hash join — the train scan streams once, shuffle-free
    on the probe.  The hot-window guard is computed on the TRAIN side
    (boilerplate lives there) and also drops those windows from the bench
    set, keeping the match signal-bearing.

    Returns per-train-doc (doc_id, n_shared_windows, n_bench_docs):
    distinct contaminating windows and distinct benchmark docs hit.
    """
    hasher = F.xxhash64 if use_xxhash else F.md5
    tw = train.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), n, hasher=hasher)).alias("wh"),
    )
    bw = bench.select(
        F.col(id_col).alias("bench_id"),
        F.explode(word_shingles(F.col(text_col), n, hasher=hasher)).alias("wh"),
    )
    if max_window_freq is not None:
        hot = (
            tw.groupBy("wh").count()
            .where(F.col("count") > max_window_freq)
            .select("wh")
        )
        tw = tw.join(F.broadcast(hot), on="wh", how="left_anti")
        bw = bw.join(F.broadcast(hot), on="wh", how="left_anti")
    hits = tw.join(F.broadcast(bw), on="wh")
    return hits.groupBy(F.col("id").alias(id_col)).agg(
        F.count_distinct("wh").alias("n_shared_windows"),
        F.count_distinct("bench_id").alias("n_bench_docs"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(id, sig array<bigint>) — MinHash is a pure per-document map, so it
    runs as ONE Arrow-batched mapInPandas stage with NO shuffle: shingling,
    hashing (stable keyed string hash + splitmix64-derived families) and the
    num_hashes mins are all vectorized numpy.  At 10^12 rows this is scan →
    map, nothing else."""
    out_schema = "id long, sig array<long>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        salts = _splitmix64(np.arange(num_hashes, dtype=np.uint64) ^ np.uint64(seed * 2654435761))
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            words = _normalized_pd(pdf[text_col]).str.split(" ")
            ex = words.reset_index(drop=True).explode()
            doc = ex.index.to_numpy(dtype=np.int64)
            w = ex.to_numpy(dtype=object)
            # k-word shingles: concat k shifted copies within the same doc
            sh = w.astype(object)
            valid = np.ones(len(w), dtype=bool)
            for j in range(1, k):
                nxt = np.roll(w, -j)
                # The last j positions wrap around the batch array: when the
                # batch holds a single document the rolled doc-id comparison
                # is true there and fabricates shingles joining the doc's
                # tail words to its head.  Invalidate them explicitly.
                same_doc = np.zeros(len(doc), dtype=bool)
                if len(doc) > j:
                    same_doc[:-j] = doc[j:] == doc[:-j]
                valid &= same_doc
                sh = np.where(same_doc, sh + " " + nxt.astype(object), sh)
            doc, sh = doc[valid], sh[valid]
            # distinct shingles per doc
            dd = pd.DataFrame({"d": doc, "s": sh}).drop_duplicates()
            h0 = _hash_words(dd["s"].to_numpy(dtype=object), seed)
            d = dd["d"].to_numpy()
            order = np.argsort(d, kind="stable")
            d_sorted, h_sorted = d[order], h0[order]
            if len(d_sorted) == 0:
                # dtype=object, not a bare [] — an empty list column defaults
                # to float64, which Arrow cannot convert to list<int64> (bites
                # exactly when EVERY doc in a partition has < k words)
                yield pd.DataFrame({"id": ids[:0], "sig": pd.Series([], dtype=object)})
                continue
            starts = np.flatnonzero(np.r_[True, d_sorted[1:] != d_sorted[:-1]])
            present = d_sorted[starts]
            # docs with < k words have no shingles and emit no signature
            # (same as the grouped variant, where groupBy never sees them)
            sig = np.empty((len(present), num_hashes), dtype=np.int64)
            for j in range(num_hashes):
                hj = _splitmix64(h_sorted ^ salts[j])
                sig[:, j] = np.minimum.reduceat(hj, starts).astype(np.int64, copy=False)
            yield pd.DataFrame({"id": ids[present], "sig": list(sig)})

    return df.select(F.col(id_col).alias(id_col), F.col(text_col)).mapInPandas(
        run, schema=out_schema
    )


def lsh_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: (id_a, id_b, sim) where sim is the
    signature agreement rate (unbiased Jaccard estimate).

    Banding: signature split into `bands` chunks of num_hashes/bands; a pair
    lands in a candidate bucket iff some whole band agrees.  The join key is
    (band_idx, band_hash) — collision probability tuned by bands/rows so
    shuffle volume stays ~linear in corpus size at 100 TB.

    Hot-bucket guard: (band, bh) buckets holding more than
    ``max_bucket_size`` ids are dropped before the self-join (same guard
    and default as :func:`hamming_near_duplicates`).  A boilerplate- or
    template-dominated web corpus — the normal case in crawl training
    data — puts millions of docs into one band bucket, and an unguarded
    self-join goes quadratic in the hottest bucket; capped, the join is
    ≤ cap²·n_buckets.  Recall boundary: a pair survives unless ALL
    `bands` of its buckets are hot — which is exactly the case for a
    near-dup CLUSTER larger than the cap (every member shares every band
    bucket), so clusters above ``max_bucket_size`` are kept wholesale
    rather than deduplicated.  Callers that expect near-dup clusters
    beyond the cap should raise it or pass ``None`` to disable the guard
    (CurationConfig exposes this as ``lsh_max_bucket_size``); running the
    near stage on exact-dedup keepers (as `curate()` does) keeps byte
    clones from ever inflating the buckets.
    """
    rows_per_band = num_hashes // bands
    # persist: the signature agg (shingle explode + 64-way min) feeds the
    # bucket explode AND both candidate-pair joinbacks — compute it once
    sigs = minhash_signatures(df, text_col, id_col, k, num_hashes, seed).persist()
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(F.concat_ws(",", F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band))).alias("bh"),
        ),
    )
    # NARROW bucket rows: the band explode is ×bands rows per doc, so a sig
    # column here would shuffle the 64-element payload `bands`× redundantly
    # through the self-join (the dominant cost at 10^12 docs); signatures
    # join back on the candidate pairs only — a candidate-sized shuffle
    buckets = sigs.select("id", F.explode(band_arr).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    if max_bucket_size is not None:
        hot = (
            buckets.groupBy("band", "bh")
            .count()
            .where(F.col("count") > max_bucket_size)
            .select("band", "bh")
        )
        buckets = buckets.join(F.broadcast(hot), on=["band", "bh"], how="left_anti")
    cand = (
        buckets.alias("a")
        .join(
            buckets.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    pairs = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(
                    F.filter(
                        F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                        lambda eq: eq,
                    )
                )
                / F.size(F.col("sig_a"))
            ).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )
    return _with_deps(pairs, sigs)


def lsh_incremental_near_duplicates(
    new_docs: DataFrame,
    store_path: str,
    batch_id: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """Incremental MinHash-LSH dedup: near-dup pairs touching the NEW batch
    (new×new plus new×every previously stored batch) WITHOUT recomputing
    old signatures — at 10^12 rows, re-shingling the whole corpus per
    arriving batch is the difference between an hourly pipeline and an
    impossible one.

    The store is two parquet tables, each laid out one subdirectory per
    batch (``batch=<id>`` partition): ``buckets/`` holds the NARROW banded
    rows ``(id, band, bh)`` and ``sigs/`` holds one ``(id, sig)`` row per
    doc.  Keeping the 64-element signature out of the band rows matters at
    scale: the band explode is ×`bands` rows per doc, so a sig column
    there is stored — and shuffled through every future (band, bh) bucket
    join — `bands`× redundantly; signatures are joined back only for the
    candidate pairs the bucket join surfaces (a candidate-sized shuffle).
    Both subdirs are written with overwrite BEFORE pairs are computed —
    the same crash-idempotent shape as the violations sink: a re-run of a
    failed batch replaces its own subdirs, never duplicates them, and
    committed batches are never rewritten.

    Companion of :func:`lsh_near_duplicates` (same signature family and
    banding, so a full-corpus run and the incremental path agree) and of
    ``stats.partition_hll_sketches`` (the incremental-cardinality
    pattern).  The caller owns commit bookkeeping (e.g. the manifest) for
    which batches are present.
    """
    rows_per_band = num_hashes // bands
    spark = new_docs.sparkSession
    sigs = minhash_signatures(new_docs, text_col, id_col, k, num_hashes, seed)
    # sigs land first; band rows derive from the WRITTEN parquet (cheap
    # columnar re-read) so the Arrow shingling pipeline runs exactly once
    sigs.write.mode("overwrite").parquet(f"{store_path}/sigs/batch={batch_id}")
    new_sigs = spark.read.parquet(f"{store_path}/sigs/batch={batch_id}")
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(
                F.concat_ws(",", F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band))
            ).alias("bh"),
        ),
    )
    buckets = new_sigs.select("id", F.explode(band_arr).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    buckets.write.mode("overwrite").parquet(f"{store_path}/buckets/batch={batch_id}")

    bstore = spark.read.parquet(f"{store_path}/buckets")
    # Hot-bucket guard over the WHOLE store (history + new batch): the
    # store accumulates every boilerplate doc ever ingested, so its hot
    # buckets only grow across batches — counting store-wide keeps the
    # guard's view identical to what a full-corpus lsh_near_duplicates
    # run would see.  Same cap/default as hamming_near_duplicates.
    if max_bucket_size is not None:
        hot = (
            bstore.groupBy("band", "bh")
            .count()
            .where(F.col("count") > max_bucket_size)
            .select("band", "bh")
        )
        bstore = bstore.join(F.broadcast(hot), on=["band", "bh"], how="left_anti")
    cand = (
        bstore.where(F.col("batch") == batch_id)
        .alias("a")
        .join(
            bstore.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sstore = spark.read.parquet(f"{store_path}/sigs")
    sa = sstore.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sstore.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    sim = F.size(
        F.filter(F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y), lambda e: e)
    ) / F.size(F.col("sig_a"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", sim.alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def minhash_md5_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """Oracle-replicable MinHash-LSH: `bands` independent single-row bands,
    hash family j = lexicographic min of ``md5('j:' || shingle_md5)`` over the
    doc's distinct k-word shingles (md5 exists in every SQL engine, so an
    external oracle can reproduce the signatures bit-for-bit — unlike the
    xxhash64 fast path in :func:`lsh_near_duplicates`).

    Candidate pair iff some band's min agrees (classic r=1 banding);
    ``sim`` = agreeing-band fraction, counted directly from the bucket
    self-join (one join row per agreeing band), so no signature joinback
    exists in the plan.  With an inert hot-bucket guard this equals the
    full-signature agreement rate (an unbiased Jaccard estimate); under
    an ACTIVE guard, hot-dropped bands can't contribute, so sim is
    conservatively LOWER for pairs whose agreement lived in hot buckets.
    Plan shape: shingle explode → `bands`-way MIN hash agg (map-side
    partial mins compress the shuffle to |docs| rows) → narrow
    (id, band, bh) bucket self-join → per-pair band count.
    """
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("sh"),
    )
    # F.expr strings, not per-op Column building: each Column op is one
    # Py4J round trip (~3 ms), one SQL parse per agg is one round trip
    aggs = [F.expr(f"min(md5(concat('{j}:', sh))) AS h{j}") for j in range(bands)]
    sig_arr = "array(" + ", ".join(f"h{j}" for j in range(bands)) + ")"
    # persist: the signature agg feeds both sides of the bucket self-join
    sigs = ex.groupBy("id").agg(*aggs).select("id", F.expr(sig_arr).alias("sig")).persist()
    band_structs = F.transform(
        F.sequence(F.lit(1), F.lit(bands)),
        lambda j: F.struct(j.alias("band"), F.element_at(F.col("sig"), j).alias("bh")),
    )
    # NARROW bucket rows, mirroring lsh_near_duplicates: the band explode
    # is ×bands rows per doc, and each md5 band-min is a 32-char string —
    # carrying the full `bands`-element sig through the explode, the guard
    # count and BOTH sides of the self-join shuffled the wide payload
    # bands× redundantly (the 1.61× clean-floor regression when the guard
    # landed).  No joinback at all: sim is the per-pair band count below.
    buckets = sigs.select("id", F.explode(band_structs).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    # same hot-bucket guard as lsh_near_duplicates (inert on the planted
    # oracle corpus, bucket size <= 2); the count pass scans (band, bh) only
    if max_bucket_size is not None:
        hot = (
            buckets.groupBy("band", "bh")
            .count()
            .where(F.col("count") > max_bucket_size)
            .select("band", "bh")
        )
        buckets = buckets.join(F.broadcast(hot), on=["band", "bh"], how="left_anti")
    # r=1 banding makes the bucket join itself the sim measurement: a pair
    # produces exactly one join row per band whose mins agree (the band
    # index is in the key, and each doc has one min per band), so
    # count-of-rows == number of agreeing bands and NO signature joinback
    # is needed — one (id_a, id_b) shuffle with map-side partial counts
    # replaces dropDuplicates + two sig joins.  Under an ACTIVE hot-bucket
    # guard the count runs over surviving bands only, so a retained pair
    # whose agreeing bands were hot-dropped reports a conservatively lower
    # sim than full-signature agreement (inert-guard corpora — including
    # the oracle construction, bucket size <= 2 — are bit-identical).
    out = (
        buckets.alias("a")
        .join(
            buckets.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.round(F.count(F.lit(1)) / F.lit(float(bands)), 6).alias("sim"))
        .where(F.col("sim") >= threshold)
    )
    return _with_deps(out, sigs)


# ---------------------------------------------------------------------------
# SimHash


def simhash_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    seed: int = 7,
) -> DataFrame:
    """(id, sh) SimHash fingerprints — a pure per-document map, so ONE
    Arrow-batched mapInPandas stage with NO shuffle: tokenize, stable word
    hash, unpack to a (words × 64) bit matrix, per-doc popcount, sign rule
    2·popcount > n — all vectorized numpy.  Scan → map at any scale.
    The pure-SQL grouped shape (explode → conditional-sum agg) lives in
    :func:`simhash_md5_candidates`."""
    assert bits == 64, "packed fingerprint is 64-bit"
    out_schema = "id long, sh long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        powers = np.uint64(1) << np.arange(64, dtype=np.uint64)
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            words = _normalized_pd(pdf[text_col]).str.split(" ")
            ex = words.reset_index(drop=True).explode()
            dd = pd.DataFrame(
                {"d": ex.index.to_numpy(dtype=np.int64), "w": ex.to_numpy(dtype=object)}
            ).drop_duplicates()
            d = dd["d"].to_numpy()
            h = _hash_words(dd["w"].to_numpy(dtype=object), seed)
            # (n_words, 64) bit matrix, little-endian bit order → column b = bit b
            bm = np.unpackbits(
                h.astype("<u8").view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )
            order = np.argsort(d, kind="stable")
            d_sorted, bm_sorted = d[order], bm[order]
            starts = np.flatnonzero(np.r_[True, d_sorted[1:] != d_sorted[:-1]])
            counts = np.add.reduceat(bm_sorted.astype(np.int64), starts, axis=0)
            n_words = np.diff(np.r_[starts, len(d_sorted)])
            bits_on = (2 * counts) > n_words[:, None]
            packed = (bits_on.astype(np.uint64) * powers).sum(axis=1, dtype=np.uint64)
            out = np.zeros(len(ids), dtype=np.int64)  # empty docs → sh = 0
            out[d_sorted[starts]] = packed.view(np.int64)
            yield pd.DataFrame({"id": ids, "sh": out})

    return df.select(F.col(id_col).alias(id_col), F.col(text_col)).mapInPandas(
        run, schema=out_schema
    )


def simhash_md5_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 60,
) -> DataFrame:
    """SQL-replicable SimHash near-dup candidates: 60-bit fingerprints from
    md5-derived word hashes (first 15 hex chars as an integer — both this
    engine's ``conv(..., 16, 10)`` and an external oracle's hex cast produce
    the identical value), 4×15-bit banding (pigeonhole recall guarantee for
    Hamming ≤ 3), exact Hamming verify via ``bit_count(xor)``.

    The xxhash64 fast path is :func:`simhash_candidates`; this variant
    exists so the whole pipeline — hash, sign aggregation, banding,
    verification — is reproducible bit-for-bit in ANSI SQL.  Plan shape is
    the pure-SQL grouped one: explode distinct words → 60 conditional sums
    in one partial+final hash agg (shuffle = |docs| rows) → chunk-bucket
    self-join.
    """
    n_chunks, chunk_bits = 4, bits // 4
    mask = (1 << chunk_bits) - 1
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(normalized(F.col(text_col)), " "))).alias("w"),
    )
    ex = ex.select("id", F.expr("cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint)").alias("h"))
    aggs = [F.expr(f"sum((h >> {b}) & 1) AS p{b}") for b in range(bits)] + [F.expr("count(*) AS n")]
    packed = " + ".join(
        f"(CASE WHEN 2 * p{b} > n THEN CAST({1 << b} AS BIGINT) ELSE 0L END)" for b in range(bits)
    )
    # persist: the 60-way fingerprint agg feeds both sides of the self-join
    sh = ex.groupBy("id").agg(*aggs).select("id", F.expr(packed).alias("sh")).persist()
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("sh"), c * chunk_bits).bitwiseAND(F.lit(mask)).alias("ch"),
            )
            for c in range(n_chunks)
        ]
    )
    buckets = sh.select("id", "sh", F.explode(chunks).alias("c")).select(
        "id", "sh", F.col("c.chunk").alias("chunk"), F.col("c.ch").alias("ch")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    out = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ch") == F.col("b.ch"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), ham.alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("hamming") <= max_hamming)
    )
    return _with_deps(out, sh)


def hamming_near_duplicates(
    df: DataFrame,
    fp_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_bucket_size: int = 500,
) -> DataFrame:
    """Near-dup pairs on an EXISTING 64-bit fingerprint column (e.g. the
    images table's `phash` — the image-pipeline analog of SimHash on text):
    band the int64 into four 16-bit chunks (pigeonhole: Hamming ≤ 3 ⇒ at
    least one chunk equal), bucket-join on (chunk_pos, chunk_value), then
    verify exact Hamming via bit_count(a XOR b) ≤ max_hamming.

    Scale shape: one explode (4 rows/fingerprint), one shuffle on the
    narrow (chunk, value) key, broadcast anti-join hot-bucket guard —
    identical plan family to simhash_candidates but with zero Python and
    no signature computation (the fingerprint is input data).  Arithmetic
    shiftright is safe: the 0xFFFF mask strips sign extension."""
    base = df.select(F.col(id_col).alias("id"), F.col(fp_col).alias("fp"))
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("fp"), c * 16).bitwiseAND(F.lit(0xFFFF)).alias("ch"),
            )
            for c in range(4)
        ]
    )
    buckets = base.select("id", "fp", F.explode(chunks).alias("c")).select(
        "id", "fp", F.col("c.chunk").alias("chunk"), F.col("c.ch").alias("ch")
    )
    if max_bucket_size is not None:
        hot = (
            buckets.groupBy("chunk", "ch")
            .count()
            .where(F.col("count") > max_bucket_size)
            .select("chunk", "ch")
        )
        buckets = buckets.join(F.broadcast(hot), on=["chunk", "ch"], how="left_anti")
    a, b = buckets.alias("a"), buckets.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ch") == F.col("b.ch"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), ham.alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    seed: int = 7,
    max_bucket_size: int = 500,
) -> DataFrame:
    """Near-dup candidates by SimHash: band the 64-bit fingerprint into four
    16-bit chunks (pigeonhole: Hamming ≤ 3 ⇒ at least one chunk equal),
    bucket-join, then verify exact Hamming distance ≤ max_hamming.

    Buckets larger than `max_bucket_size` are dropped before the self-join
    (the hot-bucket guard: a degenerate chunk shared by everything would
    make the join quadratic)."""
    # persist: the fingerprint agg (explode + 64-way sum) feeds BOTH join
    # sides and the hot-bucket scan — without it the whole pipeline runs 3×
    sh = simhash_df(df, text_col, id_col, seed=seed).persist()
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("sh"), c * 16).bitwiseAND(F.lit(0xFFFF)).alias("ch"),
            )
            for c in range(4)
        ]
    )
    buckets = sh.select("id", "sh", F.explode(chunks).alias("c")).select(
        "id", "sh", F.col("c.chunk").alias("chunk"), F.col("c.ch").alias("ch")
    )
    if max_bucket_size is not None:
        hot = (
            buckets.groupBy("chunk", "ch")
            .count()
            .where(F.col("count") > max_bucket_size)
            .select("chunk", "ch")
        )
        buckets = buckets.join(F.broadcast(hot), on=["chunk", "ch"], how="left_anti")
    a, b = buckets.alias("a"), buckets.alias("b")
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    out = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ch") == F.col("b.ch"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), ham.alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("hamming") <= max_hamming)
    )
    return _with_deps(out, sh)
