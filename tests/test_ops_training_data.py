"""Dedup / similarity / text / multimodal operators on data with KNOWN
structure: the transcript fixture's pool-based text has real duplicate
groups (text is drawn from a finite pool), and embeddings near-dups are
planted explicitly."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from jsonschema_infer_spark.operators import dedup as D
from jsonschema_infer_spark.operators import similarity as SIM
from jsonschema_infer_spark.operators import text as T
from jsonschema_infer_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_features,
    frame_sample_plan,
    synthesize_media_rows,
)


@pytest.fixture(scope="module")
def docs(spark, tx_paths):
    """Transcript turns as documents: (doc_id, text); pool-based text means
    exact duplicate groups exist by construction."""
    df = spark.read.parquet(tx_paths["clean"])
    return (
        df.select(
            F.xxhash64("conv_id", "turn_idx").alias("doc_id"), F.col("text")
        )
        .filter(F.length("text") > 0)
        .cache()
    )


def test_exact_dedup_matches_groundtruth(spark, docs):
    # ground truth duplicate groups computed directly on normalized text
    truth = (
        docs.select(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")).alias("t"))
        .groupBy("t")
        .count()
        .filter("count > 1")
    )
    expected_groups = truth.count()

    groups = D.exact_duplicate_groups(docs)
    assert groups.count() == expected_groups


def test_ngram_jaccard_finds_exact_dups(spark, docs):
    sample = docs.limit(400).cache()
    dup_fps = {
        r.fp for r in D.exact_duplicate_groups(sample).collect()
    }
    pairs = D.ngram_jaccard_pairs(sample, threshold=0.999)
    # every exact-duplicate pair must appear with jaccard 1.0
    n_exact_pairs = (
        D.exact_duplicate_groups(sample)
        .select((F.col("group_size") * (F.col("group_size") - 1) / 2).alias("p"))
        .agg(F.sum("p"))
        .collect()[0][0]
    )
    got = pairs.collect()
    assert all(abs(r.jaccard - 1.0) < 1e-9 for r in got)
    assert len(got) == int(n_exact_pairs or 0)


def test_minhash_lsh_recovers_exact_dups(spark, docs):
    sample = docs.limit(400).cache()
    exact = D.ngram_jaccard_pairs(sample, threshold=0.999)
    lsh = D.minhash_lsh_pairs(sample, threshold=0.999, num_perm=32, bands=16)
    exact_set = {(r.id_a, r.id_b) for r in exact.collect()}
    lsh_set = {(r.id_a, r.id_b) for r in lsh.collect()}
    # identical docs have identical signatures -> recall 1.0 at j=1.0;
    # verification guarantees precision 1.0
    assert lsh_set == exact_set


def test_simhash_identical_and_near(spark, docs):
    sample = docs.limit(400)
    sigs = D.simhash_table(sample).cache()
    # identical normalized text -> identical simhash
    joined = (
        sample.select(
            F.col("doc_id").alias("id"),
            T.normalize_text(F.col("text")).alias("norm"),
        )
        .join(sigs, "id")
        .groupBy("norm")
        .agg(F.count_distinct("simhash").alias("d"))
    )
    assert joined.filter("d > 1").count() == 0
    near = D.simhash_near_pairs(sample, max_hamming=0)
    exact = D.ngram_jaccard_pairs(sample, threshold=0.999)
    near_set = {(r.id_a, r.id_b) for r in near.collect()}
    exact_set = {(r.id_a, r.id_b) for r in exact.collect()}
    assert exact_set <= near_set  # hamming 0 must cover identical docs


def test_cosine_topk_and_lsh(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal((200, 16)).astype(np.float32)
    base[17] = base[3] + rng.standard_normal(16).astype(np.float32) * 0.01  # near-dup
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(base)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    top = SIM.cosine_topk(df, [float(x) for x in base[3]], k=3)
    got = [r.vec_id for r in top.collect()]
    assert got[0] == 3 and 17 in got[:2]
    # the pure-Column HOF form must agree with the vectorized default
    top_expr = SIM.cosine_topk(df, [float(x) for x in base[3]], k=3, impl="expr")
    assert [(r.vec_id, r.cos_sim) for r in top.collect()] == [
        (r.vec_id, r.cos_sim) for r in top_expr.collect()
    ]

    pairs = SIM.lsh_cosine_pairs(df, threshold=0.99, n_planes=16, bands=8)
    assert (3, 17) in {(r.id_a, r.id_b) for r in pairs.collect()}

    ivf = SIM.ivf_topk(df, [float(x) for x in base[3]], k=3, n_cells=8, n_probe=4)
    assert [r.vec_id for r in ivf.collect()][0] == 3
    # vectorized cell-assign/score must agree with the pure-Column form
    ivf_expr = SIM.ivf_topk(
        df, [float(x) for x in base[3]], k=3, n_cells=8, n_probe=4, impl="expr"
    )
    assert [(r.vec_id, r.cos_sim) for r in ivf.collect()] == [
        (r.vec_id, r.cos_sim) for r in ivf_expr.collect()
    ]
    # full probe == brute force exactly (the driver's embeddings_ivf_exact
    # contract): every cell scanned -> identical to cosine_topk
    full = SIM.ivf_topk(df, [float(x) for x in base[3]], k=5, n_cells=8, n_probe=8)
    brute = SIM.cosine_topk(df, [float(x) for x in base[3]], k=5)
    assert [(r.vec_id, r.cos_sim) for r in full.collect()] == [
        (r.vec_id, r.cos_sim) for r in brute.collect()
    ]


def test_lsh_md5q_matches_python_replica(spark):
    """plane_fn='md5q' is the engine-portability contract for hyperplane
    LSH: quantized integer projections against md5-derived ±1 planes must
    reproduce EXACTLY in any engine. Assert the whole operator output
    (bucketing included) equals a hashlib+numpy replica of the math the
    DuckDB oracle runs."""
    import hashlib

    rng = np.random.default_rng(11)
    base = rng.standard_normal((150, 16)).astype(np.float32) * 0.2
    base[40] = base[7] + rng.standard_normal(16).astype(np.float32) * 0.005
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(base)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    n_planes, bands, rpb, thr = 16, 4, 4, 0.9
    got = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in SIM.lsh_cosine_pairs(
            df, threshold=thr, n_planes=n_planes, bands=bands, plane_fn="md5q"
        ).collect()
    }

    M = base.astype(np.float64)
    S = np.empty((n_planes, 16), dtype=np.int64)
    for b in range(n_planes):
        for i in range(16):
            h = int(hashlib.md5(f"p{b}:{i}".encode()).hexdigest()[:15], 16)
            S[b, i] = 1 if (h & 1) else -1
    bits = (np.floor(M * float(1 << 20)).astype(np.int64) @ S.T > 0).astype(int)
    bandvals = np.zeros((len(M), bands), dtype=np.int64)
    for b in range(n_planes):
        bandvals[:, b // rpb] |= bits[:, b] << (b % rpb)
    exp = set()
    for a in range(len(M)):
        for c in range(a + 1, len(M)):
            if (bandvals[a] == bandvals[c]).any():
                cs = round(
                    float(M[a] @ M[c])
                    / (np.linalg.norm(M[a]) * np.linalg.norm(M[c])),
                    4,
                )
                if cs >= thr:
                    exp.add((a, c, cs))
    assert got == exp
    assert (7, 40, round(float(M[7] @ M[40] / (np.linalg.norm(M[7]) * np.linalg.norm(M[40]))), 4)) in got


def test_text_quality_and_langid(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog, and that is that."),
        (2, "le chat est dans la maison et il est content dans le jardin"),
        (3, "xyzzy plugh !!!! ???? ...."),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    q = {r.doc_id: r for r in T.quality_features(df, keep=["doc_id"]).collect()}
    assert q[1].n_tokens == 13
    assert q[4].n_tokens == 0 and q[4].quality_score == 0.0
    assert q[3].alpha_ratio < 0.5 and q[3].quality_score <= 0.2
    assert q[1].stopword_ratio > 0.2

    lang = {r.doc_id: r.lang for r in df.select(
        "doc_id", T.lang_id(F.col("text")).alias("lang")).collect()}
    assert lang[1] == "en" and lang[2] == "fr" and lang[3] == "und"


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "goodbye world")],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.fp for r in df.select(
        "doc_id", T.fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_multimodal_plumbing(spark):
    media = spark.createDataFrame(synthesize_media_rows(30, 1), MEDIA_SCHEMA)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r.feature) == 64 for r in rows)
    # deterministic: same payload -> same feature
    feats2 = {r.media_id: r.feature for r in extract_features(media).collect()}
    assert all(feats2[r.media_id] == r.feature for r in rows)
    plan = frame_sample_plan(media, every_ms=1000)
    assert plan.filter(F.col("n_frames") <= 0).count() == 0


def test_md5_hash64_matches_python(spark):
    """md5_hash64 is the engine-portability contract: first 15 md5 hex
    chars as a 60-bit BIGINT, identical in Spark, DuckDB and hashlib."""
    import hashlib

    vals = ["hello world", "the quick brown", "a:0", ""]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {
        r.s: (r.h, r.hs)
        for r in df.select(
            "s",
            D.md5_hash64(F.col("s")).alias("h"),
            D.md5_hash64(F.col("s"), seed=7).alias("hs"),
        ).collect()
    }
    for v in vals:
        exp = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
        exp_s = int(hashlib.md5(f"{v}:7".encode()).hexdigest()[:15], 16)
        assert got[v] == (exp, exp_s), v


def test_minhash_md5_mode_recovers_exact_dups(spark, docs):
    sample = docs.limit(400).cache()
    exact = D.ngram_jaccard_pairs(sample, threshold=0.999)
    lsh = D.minhash_lsh_pairs(
        sample, threshold=0.999, num_perm=16, bands=8, hash_fn="md5"
    )
    exact_set = {(r.id_a, r.id_b) for r in exact.collect()}
    lsh_set = {(r.id_a, r.id_b) for r in lsh.collect()}
    assert lsh_set == exact_set


def test_simhash_md5_mode_hamming0_covers_exact_dups(spark, docs):
    sample = docs.limit(400)
    near = D.simhash_near_pairs(sample, max_hamming=0, hash_fn="md5")
    exact = D.ngram_jaccard_pairs(sample, threshold=0.999)
    near_set = {(r.id_a, r.id_b) for r in near.collect()}
    exact_set = {(r.id_a, r.id_b) for r in exact.collect()}
    assert exact_set <= near_set


def test_repetition_features_known_values(spark):
    from jsonschema_infer_spark.operators.text import repetition_features

    # 4 non-blank lines, "same line" repeated 3x -> 2 duplicate lines;
    # tokens: same line same line same line other -> "same line" 2-gram dups
    text = "same line\nsame line\n\nsame line\nother"
    df = spark.createDataFrame([(1, text), (2, "all unique lines\nhere now")],
                               "doc_id long, text string")
    rows = {r.doc_id: r for r in repetition_features(df, "text").collect()}
    r1 = rows[1]
    assert r1.n_lines == 4
    assert r1.dup_line_frac == 0.5  # 2 of 4 lines repeat an earlier one
    # chars: 4 lines of [9,9,9,5] = 32; distinct = 9+5 = 14 -> 18/32
    assert r1.dup_line_char_frac == round(18 / 32, 4)
    # 2-grams of [same,line,same,line,same,line,other]: 6 grams,
    # distinct {same line, line same, line other} = 3 -> 3/6
    assert r1.dup_2gram_frac == 0.5
    assert r1.repetitive
    r2 = rows[2]
    assert r2.dup_line_frac == 0.0 and not r2.repetitive


def test_repetition_features_empty_and_single(spark):
    from jsonschema_infer_spark.operators.text import repetition_features

    df = spark.createDataFrame(
        [(1, ""), (2, "word"), (3, "   \n  \n")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in repetition_features(df, "text").collect()}
    for i in (1, 2, 3):
        r = rows[i]
        assert r.dup_line_frac == 0.0 and r.dup_2gram_frac == 0.0
        assert not r.repetitive
    assert rows[1].n_lines == 0 and rows[3].n_lines == 0
    assert rows[2].n_lines == 1


def test_contamination_hits_and_decontaminate(spark):
    from jsonschema_infer_spark.operators.dedup import (
        contamination_hits,
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "something with the quick brown fox inside it"),  # 2 shared 3-grams
            (2, "completely unrelated text about databases"),
            (3, "quick brown fox jumps high"),  # 2 shared 3-grams
        ],
        "doc_id long, text string",
    )
    hits = {r.doc_id: r.matched_shingles
            for r in contamination_hits(docs, bench, n=3).collect()}
    assert hits == {1: 2, 3: 2}
    clean = {r.doc_id for r in decontaminate(docs, bench, n=3).collect()}
    assert clean == {2}
    # min_hits above the overlap keeps everything
    loose = {r.doc_id for r in decontaminate(docs, bench, n=3, min_hits=5).collect()}
    assert loose == {1, 2, 3}


def test_contamination_plan_broadcasts_benchmark(spark):
    from jsonschema_infer_spark.operators.dedup import contamination_hits

    bench = spark.createDataFrame([(9, "a b c d")], "doc_id long, text string")
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    plan = (
        contamination_hits(docs, bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def _py_repetition(text):
    """Pure-Python reference implementation of repetition_features."""
    import re

    lines = [l.strip(" ") for l in text.split("\n")]
    lines = [l for l in lines if l]
    dlines = list(dict.fromkeys(lines))
    toks = re.sub(r"\s+", " ", text.lower(), flags=re.ASCII).strip(" ").split(" ")

    def grams(n):
        out = [" ".join(toks[i : i + n]) for i in range(max(len(toks) - n, 0) + 1)]
        return [g for g in out if len(g.split(" ")) == n]

    def frac(num, den):
        # Spark round() is HALF_UP, not Python's banker's rounding —
        # hypothesis found the 1/32 = 0.03125 boundary
        from jsonschema_infer_spark.operators.text import _round4_half_up

        return _round4_half_up(num / den) if den > 0 else 0.0

    chars_all = sum(len(l) for l in lines)
    chars_d = sum(len(l) for l in dlines)
    g2, g3 = grams(2), grams(3)
    return {
        "n_lines": len(lines),
        "dup_line_frac": frac(len(lines) - len(dlines), len(lines)),
        "dup_line_char_frac": frac(chars_all - chars_d, chars_all),
        "dup_2gram_frac": frac(len(g2) - len(set(g2)), len(g2)),
        "dup_3gram_frac": frac(len(g3) - len(set(g3)), len(g3)),
    }


def test_repetition_features_matches_python_reference(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from jsonschema_infer_spark.operators.text import repetition_features

    words = st.sampled_from(["alpha", "beta", "gamma", "x", "42", "l'été"])
    line = st.lists(words, min_size=0, max_size=6).map(" ".join)
    doc = st.lists(line, min_size=0, max_size=8).map("\n".join)

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.lists(doc, min_size=1, max_size=4))
    def check(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {r.doc_id: r.asDict() for r in repetition_features(df, "text").collect()}
        for i, t in enumerate(texts):
            want = _py_repetition(t)
            for k, v in want.items():
                assert got[i][k] == v, (k, t, got[i][k], v)

    check()


def _psi(ref_counts: dict, obs_counts: dict, eps: float = 1e-6) -> float:
    """Population Stability Index of two count dicts: the sum over the key
    union of (p_obs - p_ref) * ln(p_obs / p_ref), proportions clamped to
    ``eps`` (the formula psi_categorical runs as Column expressions)."""
    import math

    n_ref, n_obs = sum(ref_counts.values()), sum(obs_counts.values())
    total = 0.0
    for k in set(ref_counts) | set(obs_counts):
        pr = max(ref_counts.get(k, 0) / n_ref, eps)
        po = max(obs_counts.get(k, 0) / n_obs, eps)
        total += (po - pr) * math.log(po / pr)
    return total


def test_psi_column_form_matches_driver_function(spark):
    import random

    from jsonschema_infer_spark.operators.drift import psi_categorical

    rng = random.Random(7)
    cats = "abcdef"
    for _ in range(5):
        ca = {c: rng.randint(0, 40) for c in cats}
        cb = {c: rng.randint(0, 40) for c in cats}
        ca = {k: v for k, v in ca.items() if v} or {"a": 1}
        cb = {k: v for k, v in cb.items() if v} or {"b": 1}
        a = spark.createDataFrame([(c,) for c, n in ca.items() for _ in range(n)], "cat string")
        b = spark.createDataFrame([(c,) for c, n in cb.items() for _ in range(n)], "cat string")
        total = sum(r.psi_term for r in psi_categorical(a, b, "cat").collect())
        # Column form rounds per-term to 6dp; allow that much slack per key
        assert abs(total - _psi(ca, cb)) < 1e-5 * (len(cats) + 1), (ca, cb)


def test_repetition_pandas_impl_equals_expr(spark):
    from jsonschema_infer_spark.operators.text import repetition_features

    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    cols = ["doc_id", "n_lines", "dup_line_frac", "dup_line_char_frac",
            "dup_2gram_frac", "dup_3gram_frac", "repetitive"]
    a = {r.doc_id: tuple(r[c] for c in cols[1:])
         for r in repetition_features(df, "text", keep=["doc_id"]).collect()}
    b = {r.doc_id: tuple(r[c] for c in cols[1:])
         for r in repetition_features(
             df, "text", keep=["doc_id"], impl="pandas").collect()}
    assert a == b
    # hostile inputs: nulls, empties, blank lines
    edge = spark.createDataFrame(
        [(1, None), (2, ""), (3, " \n\n "), (4, "a b a b a b\na b a b a b")],
        "doc_id long, text string",
    )
    ea = {r.doc_id: tuple(r[c] for c in cols[1:])
          for r in repetition_features(edge, "text", keep=["doc_id"]).collect()}
    eb = {r.doc_id: tuple(r[c] for c in cols[1:])
          for r in repetition_features(
              edge, "text", keep=["doc_id"], impl="pandas").collect()}
    assert ea == eb


def test_contamination_pandas_impl_equals_expr(spark):
    from jsonschema_infer_spark.operators.dedup import contamination_hits

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    bench = docs.filter("doc_id % 50 = 0")
    corpus = docs.filter("doc_id % 50 <> 0")
    a = {r.doc_id: r.matched_shingles
         for r in contamination_hits(corpus, bench, n=3).collect()}
    b = {r.doc_id: r.matched_shingles
         for r in contamination_hits(corpus, bench, n=3, impl="pandas").collect()}
    assert a == b and len(a) > 0
    # hostile: nulls and empties on both sides
    edge = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b c d"), (4, "x y")],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame([(9, "a b c")], "doc_id long, text string")
    ea = {r.doc_id: r.matched_shingles
          for r in contamination_hits(edge, ref, n=3).collect()}
    eb = {r.doc_id: r.matched_shingles
          for r in contamination_hits(edge, ref, n=3, impl="pandas").collect()}
    assert ea == eb == {3: 1}


def test_cosine_topk_string_ids(spark):
    # the pandas impl must preserve non-bigint id types
    rng = np.random.default_rng(3)
    base = rng.standard_normal((30, 8)).astype(np.float64)
    rows = [(f"doc-{i}", [float(x) for x in v]) for i, v in enumerate(base)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    q = [float(x) for x in base[5]]
    top = SIM.cosine_topk(df, q, k=2).collect()
    assert top[0].vec_id == "doc-5"
    expr = SIM.cosine_topk(df, q, k=2, impl="expr").collect()
    assert [(r.vec_id, r.cos_sim) for r in top] == [
        (r.vec_id, r.cos_sim) for r in expr
    ]


def test_repetition_impls_agree_on_tabs_and_unicode_ws(spark):
    from jsonschema_infer_spark.operators.text import repetition_features

    df = spark.createDataFrame(
        [(1, "a\n\ta"), (2, "x y x y"), (3, "b  b\nb  b")],
        "doc_id long, text string",
    )
    cols = ["n_lines", "dup_line_frac", "dup_2gram_frac", "repetitive"]
    a = {r.doc_id: tuple(r[c] for c in cols)
         for r in repetition_features(df, "text", keep=["doc_id"]).collect()}
    b = {r.doc_id: tuple(r[c] for c in cols)
         for r in repetition_features(
             df, "text", keep=["doc_id"], impl="pandas").collect()}
    assert a == b
    # "\ta" is NOT a duplicate of "a": trim strips spaces only
    assert a[1][1] == 0.0


def test_cosine_pairs_exact_blocked_matches_bruteforce(spark):
    """The distributed blocked self-join (cogroup per unordered block pair,
    no driver collect) must emit exactly the brute-force pair set — incl.
    cross-block pairs where the LEFT side holds the larger id."""
    rng = np.random.default_rng(0)
    M = rng.standard_normal((60, 8)).astype(np.float32)
    M[11] = M[4] * 1.5  # exact-direction dup across arbitrary blocks
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(M)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    Mn = M.astype(np.float64)
    Mn /= np.linalg.norm(Mn, axis=1, keepdims=True)
    S = np.round(Mn @ Mn.T, 4)
    for thr, blocks in [(0.2, 4), (0.2, 1), (0.9, 7)]:
        got = {
            (r.id_a, r.id_b): r.cos_sim
            for r in SIM.cosine_pairs_exact(df, thr, n_blocks=blocks).collect()
        }
        exp = {
            (i, j): S[i, j]
            for i in range(60)
            for j in range(i + 1, 60)
            if S[i, j] >= thr
        }
        assert got == exp, (thr, blocks)
        # a count()-only plan must agree too: Catalyst prunes the cogroup's
        # right child to its grouping keys when the UDF output is unused
        # and both children share attribute ids (the left/right frames both
        # derive from one projection) — the operator renames the right
        # side's data columns so pruning can't starve the UDF of its input
        assert SIM.cosine_pairs_exact(df, thr, n_blocks=blocks).count() == len(
            exp
        ), (thr, blocks)


def test_ivf_topk_deterministic_row_centroids(spark):
    """centroid_ids picks table rows as centroids (no sample, no Lloyd):
    full probe still equals brute force, and a partial probe returns the
    brute-force ranking restricted to probed cells."""
    rng = np.random.default_rng(3)
    base = rng.standard_normal((120, 16)).astype(np.float32)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(base)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [float(x) for x in base[5]]

    cids = list(range(1, 9))
    full = SIM.ivf_topk(df, q, k=5, n_cells=8, n_probe=8, centroid_ids=cids)
    brute = SIM.cosine_topk(df, q, k=5)
    assert [(r.vec_id, r.cos_sim) for r in full.collect()] == [
        (r.vec_id, r.cos_sim) for r in brute.collect()
    ]

    # partial probe: results are a prefix-consistent subset of brute-force
    # order over the probed cells only; top hit (the query row itself,
    # which sits in whatever cell it maps to) must appear when probed
    part = SIM.ivf_topk(df, q, k=5, n_cells=8, n_probe=2, centroid_ids=cids)
    got = [r.vec_id for r in part.collect()]
    assert len(got) == 5 and got[0] == 5


def test_ivf_write_probe_matches_recompute_and_prunes(spark, tmp_path):
    """The materialized IVF index (cell-partitioned parquet + stored
    centroids) must (a) return exactly what recomputing assignments with
    the same centroids returns, (b) PRUNE non-probed cell partitions at
    the scan — the 100 TB shape ivf_topk's docstring promises."""
    rng = np.random.default_rng(11)
    base = rng.standard_normal((300, 16)).astype(np.float32)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(base)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [float(x) for x in base[9]]
    cids = list(range(1, 9))

    path = str(tmp_path / "ivf_index")
    SIM.ivf_write(df, path, n_cells=8, centroid_ids=cids)

    probe = SIM.ivf_probe(spark, path, q, k=6, n_probe=3)
    recompute = SIM.ivf_topk(df, q, k=6, n_cells=8, n_probe=3, centroid_ids=cids)
    assert [(r.vec_id, r.cos_sim) for r in probe.collect()] == [
        (r.vec_id, r.cos_sim) for r in recompute.collect()
    ]

    # partition pruning: the cell filter must land in PartitionFilters
    # (pruned at planning — whole directories skipped), NOT DataFilters.
    # (inputFiles() reflects the pre-pruning file index, so the plan is
    # the evidence, as in tests/test_plans.py.)
    import json
    import os

    cents = np.asarray(
        json.load(open(os.path.join(path, "_ivf_centroids.json"))), dtype=np.float64
    )
    qv = np.asarray(q, dtype=np.float64)
    probed = sorted(
        int(c) for c in (((cents - qv[None, :]) ** 2).sum(1)).argsort()[:3]
    )
    pruned = spark.read.parquet(path).filter(F.col("cell").isin(probed))
    pruned.collect()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan, plan
    assert "DataFilters: []" in plan, plan


def test_minhash_signature_per_perm_seeds(spark):
    """Regression (r3): F.transform passes the ARRAY INDEX to two-parameter
    lambdas, so a `lambda s, i=i` seed-binding silently hashed with the
    element position — every permutation identical. The signature must
    equal an independent per-permutation computation in BOTH hash modes."""
    import hashlib

    from jsonschema_infer_spark.functions.xxh64 import (
        to_signed,
        xxh64_bytes,
        xxh64_int32,
    )

    toks = ["alpha", "beta", "gamma", "delta"]
    df = spark.createDataFrame([(toks,)], "arr array<string>")

    sig_md5 = df.select(D.minhash_signature(F.col("arr"), 4, "md5").alias("s")).collect()[0].s
    exp_md5 = [
        min(int(hashlib.md5(f"{t}:{i}".encode()).hexdigest()[:15], 16) for t in toks)
        for i in range(4)
    ]
    assert sig_md5 == exp_md5

    sig_xx = df.select(D.minhash_signature(F.col("arr"), 4).alias("s")).collect()[0].s
    exp_xx = [
        min(to_signed(xxh64_int32(i, xxh64_bytes(t.encode()))) for t in toks)
        for i in range(4)
    ]
    assert sig_xx == exp_xx
    # permutations must actually differ (the bug made them all identical)
    assert len(set(sig_xx)) > 1 and len(set(sig_md5)) > 1


def test_expected_recall_formula_and_contract():
    """Analytic pins + the warn/raise contract of the sign-LSH recall
    floor (expected_recall)."""
    import math

    import pytest

    # perfect similarity always collides; orthogonal pairs collide at the
    # selectivity rate 1-(1-2^-b)^bands
    assert SIM.expected_recall(1.0, 8, 8) == pytest.approx(1.0)
    assert SIM.expected_recall(0.0, 8, 8) == pytest.approx(
        1 - (1 - 2.0**-8) ** 8
    )
    # per-plane agreement p=1-acos(s)/pi: spot value at the driver query's
    # shape (threshold 0.4, 8 bands x 8 bits) ~ 0.17 — the documented ~18%
    p = 1 - math.acos(0.4) / math.pi
    assert SIM.expected_recall(0.4, 8, 8) == pytest.approx(
        1 - (1 - p**8) ** 8
    )
    assert 0.1 < SIM.expected_recall(0.4, 8, 8) < 0.25
    # production near-dup threshold: the same banding recalls >= 90%
    assert SIM.expected_recall(0.9, 8, 8) > 0.9
    # monotone in threshold and in bands
    assert SIM.expected_recall(0.6, 8, 8) > SIM.expected_recall(0.5, 8, 8)
    assert SIM.expected_recall(0.5, 16, 8) > SIM.expected_recall(0.5, 8, 8)


def test_lsh_low_recall_warns_and_raises(spark):
    import pytest

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)], "vec_id long, embedding array<float>"
    )
    with pytest.warns(RuntimeWarning, match="expected recall"):
        SIM.lsh_cosine_pairs(df, threshold=0.3, n_planes=64, bands=8)
    with pytest.raises(ValueError, match="expected recall"):
        SIM.lsh_cosine_pairs(
            df, threshold=0.3, n_planes=64, bands=8, on_low_recall="raise"
        )
    # high threshold: no warning
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        SIM.lsh_cosine_pairs(df, threshold=0.95, n_planes=64, bands=8)


def test_minhash_expected_recall_formula():
    """Analytic pins of the MinHash-LSH recall floor (the S-curve
    1-(1-j^r)^b; a single minhash agrees with probability exactly j)."""
    import pytest

    assert D.minhash_expected_recall(1.0, 16, 4) == pytest.approx(1.0)
    assert D.minhash_expected_recall(0.0, 16, 4) == pytest.approx(0.0)
    # the docstring's contract numbers: 16x4 at threshold .8 misses only
    # (1-.8^4)^16 ~ 3e-4; at threshold .35 recall is ~0.21
    assert D.minhash_expected_recall(0.8, 16, 4) == pytest.approx(
        1 - (1 - 0.8**4) ** 16
    )
    assert D.minhash_expected_recall(0.8, 16, 4) > 0.999
    assert 0.15 < D.minhash_expected_recall(0.35, 16, 4) < 0.35
    # monotone in similarity and in bands
    assert D.minhash_expected_recall(0.6, 16, 4) > D.minhash_expected_recall(
        0.5, 16, 4
    )
    assert D.minhash_expected_recall(0.5, 32, 4) > D.minhash_expected_recall(
        0.5, 16, 4
    )


def test_minhash_low_recall_warns_and_raises(spark):
    import warnings

    import pytest

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(4)],
        "doc_id long, text string",
    )
    with pytest.warns(RuntimeWarning, match="expected recall"):
        D.minhash_lsh_pairs(df, threshold=0.3, num_perm=64, bands=16)
    with pytest.raises(ValueError, match="expected recall"):
        D.minhash_lsh_pairs(
            df, threshold=0.3, num_perm=64, bands=16, on_low_recall="raise"
        )
    # the default driver shape stays quiet
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        D.minhash_lsh_pairs(df, threshold=0.8, num_perm=64, bands=16)


def test_expected_recall_matches_measured_sf001_pairs():
    """The recall FORMULA against MEASURED banding on the real sf0.01
    embeddings with the driver query's exact seeded planes (numpy replica
    of _plane_udf's float64 projections — the banding itself is
    DuckDB-oracled in the driver compare): the measured recalled fraction
    of true cos>=0.4 pairs must sit inside the binomial band around the
    formula's per-pair prediction."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(
        "/root/testdata/sf0.01/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    ids = t.column("vec_id").to_numpy(zero_copy_only=False)
    M = np.stack(
        [np.asarray(v, dtype=np.float64) for v in t.column("embedding").to_pylist()]
    )
    n_planes, bands, thr = 64, 8, 0.4
    rpb = n_planes // bands
    rng = np.random.default_rng(42)
    planes = rng.standard_normal((n_planes, M.shape[1]))
    bits = (M @ planes.T) > 0  # (n, 64)
    sig = np.zeros(len(M), dtype=np.uint64)
    for b in range(n_planes):
        sig |= bits[:, b].astype(np.uint64) << np.uint64(b)
    band_vals = np.stack(
        [(sig >> np.uint64(b * rpb)) & np.uint64((1 << rpb) - 1) for b in range(bands)],
        axis=1,
    )
    norms = np.linalg.norm(M, axis=1)
    cos = (M @ M.T) / np.outer(norms, norms)
    iu = np.triu_indices(len(M), k=1)
    true_mask = cos[iu] >= thr
    n_true = int(true_mask.sum())
    assert n_true > 10  # the fixture has a meaningful pair population
    collide = (band_vals[iu[0][true_mask]] == band_vals[iu[1][true_mask]]).any(axis=1)
    measured = int(collide.sum())
    r = np.array(
        [SIM.expected_recall(s, bands, rpb) for s in cos[iu][true_mask]]
    )
    mean, sd = r.sum(), float(np.sqrt((r * (1 - r)).sum()))
    assert abs(measured - mean) <= 3 * sd + 2, (measured, mean, sd)


def test_ivf_measured_recall_contract_sf001(spark):
    """VERDICT r4 item 8: IVF gets a recall contract like the LSH families.
    IVF has no closed-form floor, so the contract is MEASURED: recall@10 of
    n_probe=4 (of 16 cells — a 25% scan) vs exact on the real sf0.01
    embeddings fixture with the default seeded centroids. Pins the
    n_probe/n_cells trade the docstring documents: ~0.58 mean recall for a
    4x scan saving on this fixture, monotone in n_probe, and exactly 1.0
    at full probe (ivf_topk's brute-force equality)."""
    from jsonschema_infer_spark.operators import similarity as SIM

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = [
        [float(x) for x in r.embedding]
        for r in df.orderBy("vec_id").limit(3).collect()
    ]
    out = SIM.ivf_measured_recall(df, qs, k=10, n_cells=16, n_probe=4, seed=42)
    assert out["n_cells"] == 16 and out["scan_fraction"] == 0.25
    assert out["min_recall"] >= 0.4, out
    assert 0.5 <= out["mean_recall"] < 1.0, out  # genuinely approximate
    more = SIM.ivf_measured_recall(df, qs, k=10, n_cells=16, n_probe=8, seed=42)
    assert more["mean_recall"] >= out["mean_recall"], (more, out)
    full = SIM.ivf_measured_recall(df, qs, k=10, n_cells=16, n_probe=16, seed=42)
    assert full["mean_recall"] == 1.0 and full["min_recall"] == 1.0
