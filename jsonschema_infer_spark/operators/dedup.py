"""Deduplication operators for training-data pipelines, Spark-first.

Four families, each scale-shaped differently:
- exact: hash-groupBy on (normalized) content — one shuffle of
  (fingerprint, id) pairs, map-side combined;
- n-gram Jaccard: exact set similarity via an inverted shingle index —
  explode + self-join on shingle, count intersections, compute
  |A∩B| / (|A|+|B|-|A∩B|); stop-shingle cap bounds the join fan-out;
- MinHash + LSH: num_perm permutations via seeded xxhash64 (pure Column
  expressions), banded into LSH buckets, candidates from bucket joins,
  then EXACT Jaccard verification of candidates only — the 100 TB path
  (no all-pairs term ever materializes);
- SimHash: 64-bit near-dup signature from one groupBy with 64 per-bit
  majority-vote sums (pure JVM), hamming-distance bucketing on 4 16-bit
  chunks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .text import WS, normalize_text, fingerprint


# --- exact -------------------------------------------------------------------


def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of exact (normalized) duplicates: fingerprint, group size,
    the kept id (min) — one groupBy shuffle of small pairs."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("group_size") > 1)
    )


# --- n-gram Jaccard ------------------------------------------------------------


def char_shingles(col, n: int = 5):
    """Distinct character n-grams of the normalized text (array<string>)."""
    norm = normalize_text(col)
    length = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(length - n + 1, F.lit(1)))
    return F.array_distinct(
        F.filter(
            F.transform(idx, lambda i: F.substring(norm, i, n)),
            lambda s: F.length(s) == n,
        )
    )


def word_shingles(col, n: int = 3):
    """Distinct word n-grams (array<string>, space-joined)."""
    toks = F.split(normalize_text(col), " ")
    cnt = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
    return F.array_distinct(
        F.filter(
            F.transform(
                idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
            ),
            lambda s: F.size(F.split(s, " ")) == n,
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int = 1000,
    shingles: str = "word",
) -> DataFrame:
    """Exact Jaccard-similar pairs (id_a < id_b, jaccard >= threshold) via an
    inverted shingle index. ``max_shingle_freq`` drops stop-shingles that
    appear in more rows than the cap — the classic fan-out bound that keeps
    the self-join linear-ish at scale."""
    sh = char_shingles(F.col(text_col), n) if shingles == "char" else word_shingles(
        F.col(text_col), n
    )
    # materialize the inverted index ONCE: both self-join sides, the
    # frequency filter and the size table all reuse it (without the cache
    # the shingle expression would be evaluated 4x). At 100 TB this is the
    # artifact you'd write to storage instead.
    inv = (
        df.select(F.col(id_col).alias("id"), F.explode(sh).alias("shingle"))
        .persist()
    )
    sizes = inv.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    if max_shingle_freq is not None:
        # the DROP list (stop-shingles over the cap) is tiny by
        # construction — broadcast anti-join it, instead of inner-joining
        # the full keep-list back onto the index (which re-shuffles the
        # whole inverted index; measured 2x on the exploratory bench query)
        stop = (
            inv.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_freq"))
            .filter(F.col("df_freq") > max_shingle_freq)
            .select("shingle")
        )
        inv_j = inv.join(F.broadcast(stop), "shingle", "left_anti")
    else:
        inv_j = inv
    # join payload is (shingle, id) only — sizes come back via two joins
    # against the tiny per-id table (broadcast)
    a = inv_j.select("shingle", F.col("id").alias("id_a"))
    b = inv_j.select("shingle", F.col("id").alias("id_b"))
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sz = F.broadcast(sizes)
    inter = (
        inter.join(sz.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "size_a"), "id_a")
        .join(sz.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "size_b"), "id_b")
    )
    jac = F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common"))
    return (
        inter.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- benchmark decontamination --------------------------------------------------


def contamination_hits(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    shingles: str = "word",
    broadcast_benchmark: bool = True,
    impl: str = "expr",
) -> DataFrame:
    """Test-set decontamination: for each corpus document, the number of
    distinct word/char n-grams it shares with ANY benchmark document —
    the standard overlap check run before training to keep eval data out
    of the corpus. Returns only contaminated docs as ``(id, matched_
    shingles)``; drop them with a left-anti join (see ``decontaminate``).

    Scale shape: the benchmark side collapses to a DISTINCT shingle set
    and broadcasts (eval suites are tiny next to the corpus), so the check
    is one corpus scan with a map-side broadcast-hash probe — the only
    shuffle is the per-doc count of MATCHED shingles, which for a clean
    corpus is near-empty. Set ``broadcast_benchmark=False`` if the
    "benchmark" is itself corpus-sized; AQE then picks the join."""
    if impl == "pandas":
        explode_fn = lambda df, with_id: _exploded_word_shingles_pandas(  # noqa: E731
            df, text_col, id_col if with_id else None, n
        )
        if shingles != "word":
            raise ValueError("impl='pandas' supports word shingles only")
        bench = explode_fn(benchmark, False).distinct()
        corp = explode_fn(docs, True)
    elif impl == "expr":
        sh = (
            char_shingles(F.col(text_col), n)
            if shingles == "char"
            else word_shingles(F.col(text_col), n)
        )
        bench = benchmark.select(F.explode(sh).alias("shingle")).distinct()
        corp = docs.select(F.col(id_col), F.explode(sh).alias("shingle"))
    else:
        raise ValueError("impl must be 'expr' or 'pandas'")
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    return (
        corp.join(bench, "shingle", "inner")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("matched_shingles"))
    )


def py_word_tokens(text) -> list:
    """Pure-Python twin of ``split(normalize_text(c), ' ')`` — exact JVM
    semantics: shared whitespace class (text.WS), U+0020-only strip."""
    import re

    if text is None:
        return []
    return re.sub(WS + "+", " ", str(text).lower()).strip(" ").split(" ")


def py_word_shingles(text, n: int = 3) -> set:
    """Pure-Python twin of ``word_shingles()`` (distinct word n-grams).
    Shared by the Arrow shingler below and the driver-oracle signature
    builders in __spark_entry__ (equality-tested vs the JVM expressions
    in test_ops_training_data.py)."""
    if text is None:
        return set()
    toks = py_word_tokens(text)
    return {
        " ".join(toks[i : i + n])
        for i in range(max(len(toks) - n, 0) + 1)
        if len(toks[i : i + n]) == n
    }


def _exploded_word_shingles_pandas(
    df: DataFrame, text_col: str, id_col: str | None, n: int
) -> DataFrame:
    """(id, shingle) rows (distinct per doc) via Arrow-batched Python —
    identical values to explode(word_shingles(...)); interpreted JVM
    higher-order functions cost ~1 ms/doc, batched Python ~50 µs/doc
    (equality-tested in test_ops_training_data.py)."""
    import pandas as pd

    id_type = (
        df.schema[id_col].dataType.simpleString() if id_col else None
    )
    out_schema = (
        f"`{id_col}` {id_type}, shingle string" if id_col else "shingle string"
    )
    cols = [c for c in (id_col, text_col) if c]

    def gen(batches):
        for pdf in batches:
            ids, shs = [], []
            for idx in range(len(pdf)):
                t = pdf[text_col].iloc[idx]
                if t is None:
                    continue
                grams = py_word_shingles(t, n)
                if id_col:
                    ids.extend([pdf[id_col].iloc[idx]] * len(grams))
                shs.extend(grams)
            if id_col:
                yield pd.DataFrame({id_col: ids, "shingle": shs})
            else:
                yield pd.DataFrame({"shingle": shs})

    return df.select(*cols).mapInPandas(gen, out_schema)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    shingles: str = "word",
    min_hits: int = 1,
) -> DataFrame:
    """The corpus with benchmark-overlapping documents removed: docs whose
    shared-shingle count reaches ``min_hits`` are dropped via a broadcast
    left-anti join on the (small) contaminated-id set."""
    hits = contamination_hits(docs, benchmark, text_col, id_col, n, shingles)
    bad = hits.filter(F.col("matched_shingles") >= min_hits).select(id_col)
    return docs.join(F.broadcast(bad), id_col, "left_anti")


# --- MinHash + LSH --------------------------------------------------------------


def md5_hash64(col, seed: int | None = None):
    """Portable 60-bit hash: first 15 hex chars of md5 as a BIGINT.

    Engine-portable by construction — DuckDB's
    ``CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)`` produces the
    identical value, which is what makes the md5-mode minhash/simhash
    driver queries fully DuckDB-oracle-able (xxhash64 has no DuckDB
    equivalent). ~3x slower than xxhash64, so it's the *contract* hash;
    xxhash64 stays the default performance hash."""
    h = F.md5(F.concat(col, F.lit(f":{seed}"))) if seed is not None else F.md5(col)
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long")


def _perm_hash(s, i: int, hash_fn: str):
    if hash_fn == "md5":
        return md5_hash64(s, i)
    return F.xxhash64(s, F.lit(i))


def minhash_signature(shingles_col, num_perm: int = 64, hash_fn: str = "xxhash64"):
    """num_perm minhash values as array<bigint>: min over hash(shingle,
    seed) per permutation — pure Column expressions, no UDF. hash_fn
    "xxhash64" (fast, default) or "md5" (engine-portable, oracle-able).

    The permutation index is bound through a closure-returning helper, NOT
    a lambda default: ``F.transform`` passes the ARRAY INDEX as the second
    argument to any two-parameter function, silently overriding a
    ``lambda s, i=i`` default — which made every permutation hash with the
    element position as its seed (all num_perm values identical per doc;
    caught by the independent pure-Python-XXH64 oracle in round 3)."""

    def perm(i: int):
        return F.array_min(
            F.transform(shingles_col, lambda s: _perm_hash(s, i, hash_fn))
        )

    return F.array(*[perm(i) for i in range(num_perm)])


def minhash_expected_recall(
    threshold: float, bands: int, rows_per_band: int
) -> float:
    """MinHash-LSH recall FLOOR for ``minhash_lsh_pairs``: the probability
    that a pair whose Jaccard similarity is exactly ``threshold`` shares at
    least one band.

    A single minhash agrees with probability j (the Jaccard similarity), a
    band of r rows matches with j^r, and any-of-``bands`` collision is
    1 − (1 − j^r)^bands — the classic S-curve (Leskovec/Rajaraman/Ullman
    ch. 3). Recall is monotone increasing in j, so pairs ABOVE the
    threshold are recalled at least this often. The curve's waterline sits
    near (1/bands)^(1/r): banding tuned for high thresholds silently drops
    moderate-similarity pairs (the sign-LSH twin ``similarity.
    expected_recall`` documents the same trap for cosine)."""
    j = max(0.0, min(1.0, threshold))
    return 1.0 - (1.0 - j**rows_per_band) ** bands


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    shingles: str = "word",
    hash_fn: str = "xxhash64",
    min_recall: float = 0.5,
    on_low_recall: str = "warn",
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH with exact verification.

    bands x rows-per-band = num_perm; a pair is a candidate if any band's
    signature slice matches (bucket join on (band, hash(slice))) — at
    threshold .8 with 16x4 the miss probability is ~(1-.8^4)^16 ≈ 3e-4.
    Candidates (tiny vs all-pairs) are then verified with EXACT Jaccard,
    so the output contains no false positives.

    RECALL CONTRACT: pairs at the threshold boundary are found with
    probability ``minhash_expected_recall(threshold, bands, num_perm //
    bands)``; when that floor is below ``min_recall`` the call warns (or
    raises with ``on_low_recall='raise'``; ``'ignore'`` silences). The
    default 16x4 shape recalls >= 99.96% at threshold 0.8 but only ~33%
    at threshold 0.35 — low thresholds need more/shorter bands.

    hash_fn "md5" swaps the permutation hash for the engine-portable
    md5_hash64 and the band bucket for the comma-joined slice string —
    both exactly reproducible in DuckDB SQL, making the whole operator
    (banding included) oracle-able. Default "xxhash64" is the fast path."""
    rows_per_band = num_perm // bands
    if rows_per_band * bands != num_perm:
        raise ValueError("bands must divide num_perm")
    if on_low_recall not in ("warn", "raise", "ignore"):
        raise ValueError(f"on_low_recall: {on_low_recall!r}")
    floor = minhash_expected_recall(threshold, bands, rows_per_band)
    if floor < min_recall and on_low_recall != "ignore":
        msg = (
            f"minhash_lsh_pairs: expected recall at threshold {threshold} "
            f"with {bands} bands x {rows_per_band} rows is only "
            f"{floor:.3f} (< min_recall={min_recall}); pairs near the "
            "threshold will mostly be missed. Raise the threshold, use "
            "more/shorter bands (recall rises, selectivity falls), or "
            "pass on_low_recall='ignore' to accept the trade."
        )
        if on_low_recall == "raise":
            raise ValueError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    sh = char_shingles(F.col(text_col), n) if shingles == "char" else word_shingles(
        F.col(text_col), n
    )
    # persist: shingling + num_perm hash scans happen once; buckets and the
    # exact-verification joins both reuse the materialized signatures
    base = (
        df.select(F.col(id_col).alias("id"), sh.alias("sh"))
        .filter(F.size("sh") > 0)
        .withColumn("sig", minhash_signature(F.col("sh"), num_perm, hash_fn))
        .persist()
    )

    def _bucket(b: int):
        sl = F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
        if hash_fn == "md5":
            # SQL-mirrorable bucket: the slice itself as a comma string
            return F.array_join(F.transform(sl, lambda v: v.cast("string")), ",")
        return F.xxhash64(F.to_json(sl)).cast("string")

    buckets = base.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), _bucket(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["band", "bucket"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    # exact verification of candidates only
    sides = base.select("id", "sh")
    verified = (
        cand.join(sides.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sides.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


# --- SimHash ---------------------------------------------------------------------


def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deterministic SimHash, fully JVM-side and scale-shaped: explode
    token hashes, then ONE groupBy with 64 per-bit majority-vote sums
    (map-side combined — the shuffle carries 64 longs per doc, not tokens),
    then recombine the sign bits into the 64-bit signature with literal
    shifts. Documents with no tokens are absent from the output.

    hash_fn "md5" uses the engine-portable 60-bit md5_hash64 token hash
    (bits 60-63 then majority-vote to 0 on both engines), making the
    signature — and the whole near-pair query — DuckDB-oracle-able."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    exploded = df.select(
        F.col(id_col).alias("id"), F.explode(toks).alias("tok")
    ).filter(F.length("tok") > 0)
    h = md5_hash64(F.col("tok")) if hash_fn == "md5" else F.xxhash64("tok")
    aggs = [
        F.sum(
            (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
        ).alias(f"b{b}")
        for b in range(64)
    ]
    votes = exploded.groupBy("id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for b in range(64):
        bit = F.when(F.col(f"b{b}") >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig.bitwiseOR(F.shiftleft(bit, b))
    return votes.select("id", sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 3, hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on each of the 4 16-bit chunks
    (pigeonhole: hamming<=3 pairs share at least one exact chunk), join
    within buckets, verify hamming distance exactly via bit_count(xor)."""
    sig = simhash_table(df, text_col, id_col, hash_fn)
    chunks = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("chunk"),
                        F.shiftright(F.col("simhash"), 16 * k)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("c"),
    ).select("id", "simhash", "c.chunk", "c.val")
    pairs = (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk", "val"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.simhash").alias("sig_a"),
            F.col("y.simhash").alias("sig_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --- connected components (pair graph -> dedup clusters) -----------------------


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) labels for the undirected graph of duplicate
    pairs — the step that turns pairwise near-dup output (Jaccard /
    MinHash-LSH / SimHash) into KEEP-ONE-PER-CLUSTER decisions.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14). Both steps
    are one groupBy-min plus one join per round and converge in
    O(log^2 n) rounds (2 rounds for the tiny-diameter clusters dedup
    produces), so the shuffled data stays proportional to the edge set —
    never an all-pairs or whole-graph-to-driver term, which is why this
    shape survives 100 TB pair sets where label-propagation-to-fixpoint
    (O(diameter) full passes) and driver-side union-find do not.

    The fixpoint is a star forest with every node pointing at its
    component's MINIMUM node id, so labels equal the min-reachable-id
    convention a recursive-CTE oracle computes. Each round
    localCheckpoints to cut the iterative-join lineage (on a cluster,
    set a checkpoint dir and use checkpoint() semantics instead).
    Node ids may be any orderable type (long, string).
    """
    e = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # orient big -> small; the loop keeps this invariant
    cur = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct().localCheckpoint(eager=True)

    converged = False
    for _ in range(max_iter):
        # large-star: attach every strictly-larger neighbor of u to
        # m = min(neighbors(u) + {u})
        sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        large = (
            sym.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: attach u and all its smaller neighbors to the
        # smallest of them (edges already big -> small, no symmetrize)
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        j = large.join(mins2, "u")
        nxt = (
            j.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # converged when the edge set is unchanged (set equality; both
        # sides are distinct, and the sets are small: one row per non-root)
        if (
            nxt.exceptAll(cur).isEmpty()
            and cur.exceptAll(nxt).isEmpty()
        ):
            cur = nxt
            converged = True
            break
        cur = nxt
    if not converged:
        # a non-converged star forest can leave a node with several parent
        # edges, so the left join below would emit duplicate rows with
        # inconsistent labels — downstream cluster_dedup assumes one label
        # per node, so fail loudly instead of returning garbage
        raise RuntimeError(
            f"connected_components did not reach the edge-set fixpoint in "
            f"{max_iter} rounds; raise max_iter (alternating star rounds "
            f"converge in O(log^2 n) — needing more than {max_iter} means "
            f"a pathological pair graph)"
        )
    labels = nodes.join(cur, nodes["node"] == cur["u"], "left").select(
        "node", F.coalesce(cur["v"], nodes["node"]).alias("component")
    )
    return labels


def cluster_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Keep exactly one row (the component-minimum id) per near-dup
    cluster: connected_components over ``pairs``, then an anti-join that
    drops every non-canonical member. Rows that appear in no pair pass
    through untouched — only the (small) pair-graph nodes shuffle."""
    drop = (
        connected_components(pairs, src=src, dst=dst)
        .where(F.col("node") != F.col("component"))
        .select(F.col("node").alias(id_col))
    )
    return df.join(drop, on=id_col, how="left_anti")
