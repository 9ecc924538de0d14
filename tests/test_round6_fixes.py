"""Round-6 scale/correctness fixes, pinned:

- the duplicate-collapse pre-pass is GATED on measured duplication and
  (with the empty-shingle guard) row-identical to the naive plan on
  corpora WITH duplicates — including duplicated sub-shingle-length
  texts, where the naive Jaccard is NULL (0/0) and must stay absent;
- the LSH hot-bucket cap bounds candidate volume with a pinned
  degradation contract;
- trajectory_jaccard_pairs auto-routes to the AllPairs prefix plan on
  measured hot-cell skew with row-identical output;
- lang_scores' contains-based form equals the bigram-intersect form;
- the MG sketch tokenization agrees with the exact recount on
  non-ASCII whitespace and edge empty tokens;
- cosine_topk's blocked-GEMM strategy equals the crossjoin strategy.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from ariadne_cartograph_spark.operators import dedup as D
from ariadne_cartograph_spark.operators import trajectory as TJ
from ariadne_cartograph_spark.operators.similarity import cosine_topk


WORDS = "alpha bravo charlie delta echo foxtrot golf hotel india juliet".split()


def _corpus_with_dups(spark, n=120, seed=11):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        base = " ".join(rng.choice(WORDS) for _ in range(rng.randint(6, 14)))
        rows.append((i, base))
    # heavy duplication: clone 60% of docs 2-4x under new ids
    nid = n
    for i in range(int(n * 0.6)):
        for _ in range(rng.randint(1, 3)):
            rows.append((nid, rows[i][1]))
            nid += 1
    # duplicated SHORT docs (< shingle_size tokens → EMPTY shingle set):
    # the naive Jaccard for these pairs is 0/0 → NULL → filtered, so the
    # collapse expansion must not emit them either.
    for t in ("tiny", "two words"):
        for _ in range(3):
            rows.append((nid, t))
            nid += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs_set(df, metric):
    return {
        (r["id_a"], r["id_b"], round(float(r[metric]), 9)) for r in df.collect()
    }


@pytest.mark.parametrize("fn,metric", [
    (lambda df: D.minhash_near_dup_pairs(df, "doc_id", "text"), "jaccard"),
    (lambda df: D.ngram_jaccard_pairs_auto(df, "doc_id", "text"), "jaccard"),
    (lambda df: D.simhash_md5_near_dup_pairs(df, "doc_id", "text"), "hamming"),
    (lambda df: D.ngram_containment_pairs(df, "doc_id", "text", threshold=0.7),
     "containment"),
])
def test_collapse_gate_row_identical(spark, monkeypatch, fn, metric):
    df = _corpus_with_dups(spark)
    collapsed = _pairs_set(fn(df), metric)
    # force the gate to always skip → the naive (no-collapse) plan.
    # ratio=1.0 makes the skip condition n_fp >= 0 (always true);
    # -1.0 — the r11 advice finding — made it n_fp >= 2n (never true),
    # i.e. it forced COLLAPSE and compared the collapsed plan to itself.
    monkeypatch.setattr(D, "_COLLAPSE_MIN_DUP_RATIO", 1.0)
    naive = _pairs_set(fn(df), metric)
    D.release_caches()
    assert collapsed == naive
    assert collapsed  # non-trivial corpus


def test_collapse_skips_dup_free_corpus(spark):
    df = spark.createDataFrame(
        [(i, f"unique text number {i} with tail {i * 7}") for i in range(50)],
        "doc_id long, text string",
    )
    rep_df, member = D._exact_dup_collapse(df, "doc_id", "text")
    assert member is None and rep_df is df
    D.release_caches()


def test_short_dup_docs_emit_no_jaccard_pairs(spark):
    # ONLY duplicated sub-shingle-length docs plus unique fillers: the
    # naive plan emits nothing for the short dups (NULL jaccard), so the
    # collapsed plan must emit nothing for them too.
    rows = [(i, f"filler document body {i} {i+1} {i+2} {i+3}") for i in range(30)]
    rows += [(100 + j, "tiny") for j in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.minhash_near_dup_pairs(df, "doc_id", "text").collect()
    D.release_caches()
    assert all(r["id_a"] < 100 and r["id_b"] < 100 for r in out)


def test_lsh_hot_bucket_cap(spark):
    # 40 docs share one band bucket (identical signature); 6 docs have
    # distinct signatures sharing a different bucket pairwise-never.
    hot = [(i, [7] * 32) for i in range(40)]
    cold = [(100 + i, [100 + i] * 32) for i in range(6)]
    sig = spark.createDataFrame(hot + cold, "doc_id long, mh_sig array<long>")
    uncapped = D.lsh_candidate_pairs(sig, "doc_id").count()
    capped = D.lsh_candidate_pairs(sig, "doc_id", max_bucket_size=10).count()
    assert uncapped == 40 * 39 // 2  # the viral bucket's quadratic blowup
    assert capped == 0  # hot buckets dropped, cold buckets are singletons
    # cap above the bucket size → identical to uncapped (no silent loss)
    assert D.lsh_candidate_pairs(sig, "doc_id", max_bucket_size=64).count() == uncapped
    D.release_caches()


def _traj_points(spark, hot_cell_every=True, dup_ratio=0.0, seed=5):
    rng = random.Random(seed)
    rows = []
    tid = 0
    base_trajs = []
    for _ in range(60):
        cells = {(rng.randint(0, 6), rng.randint(0, 6)) for _ in range(rng.randint(3, 8))}
        if hot_cell_every:
            cells.add((50, 50))  # downtown cell present in EVERY trajectory
        base_trajs.append(sorted(cells))
    for cells in base_trajs:
        for (cx, cy) in cells:
            rows.append((tid, cx * 10.0 + 1.0, cy * 5.0 + 1.0))
        tid += 1
    for i in range(int(60 * dup_ratio)):
        for (cx, cy) in base_trajs[i]:
            rows.append((tid, cx * 10.0 + 1.0, cy * 5.0 + 1.0))
        tid += 1
    return spark.createDataFrame(rows, "traj_id long, lng double, lat double")


def test_trajectory_auto_routes_and_matches_count_plan(spark, monkeypatch):
    pts = _traj_points(spark, hot_cell_every=True)
    # tiny universe + hot cell (dense similarity): the bitmask
    # all-pairs gate fires FIRST (n_reps²/2 ≤ Σdf² and ≤ 50 cells),
    # so ngram_join_strategy is never consulted
    strategies = []
    real = D.ngram_join_strategy

    def spy(max_df, total, sum_sq=None):
        s = real(max_df, total, sum_sq)
        strategies.append(s)
        return s

    monkeypatch.setattr(TJ, "ngram_join_strategy", spy)
    auto = _pairs_set(
        TJ.trajectory_jaccard_pairs(pts, "traj_id", "lng", "lat", cell_deg=10.0), "jaccard"
    )
    assert strategies == []  # bitmask route won
    # disable the bitmask gate: the hot cell makes max_df² ≥ Σ df →
    # prefix route, byte-identical rows
    monkeypatch.setattr(TJ, "_BITMASK_MAX_CELLS", 0)
    prefix = _pairs_set(
        TJ.trajectory_jaccard_pairs(pts, "traj_id", "lng", "lat", cell_deg=10.0), "jaccard"
    )
    assert strategies == ["prefix"]
    # force the count plan → identical rows again
    monkeypatch.setattr(TJ, "ngram_join_strategy", lambda *a, **k: "count")
    count = _pairs_set(
        TJ.trajectory_jaccard_pairs(pts, "traj_id", "lng", "lat", cell_deg=10.0), "jaccard"
    )
    D.release_caches()
    assert auto == prefix == count
    assert auto


def test_trajectory_collapse_gate_row_identical(spark, monkeypatch):
    pts = _traj_points(spark, hot_cell_every=False, dup_ratio=0.5)
    collapsed = _pairs_set(
        TJ.trajectory_jaccard_pairs(pts, "traj_id", "lng", "lat", cell_deg=10.0), "jaccard"
    )
    # 1.0 → skip condition always true → genuine naive plan (the r11
    # advice finding: -1.0 forced collapse, comparing it to itself)
    monkeypatch.setattr(TJ, "_COLLAPSE_MIN_DUP_RATIO", 1.0)
    naive = _pairs_set(
        TJ.trajectory_jaccard_pairs(pts, "traj_id", "lng", "lat", cell_deg=10.0), "jaccard"
    )
    D.release_caches()
    assert collapsed == naive
    assert any(j == 1.0 for _, _, j in collapsed)  # dup pairs present


def test_near_dup_edges_components_match_pair_set(spark):
    """Star-expanded edge list (ngram_near_dup_edges) must induce
    EXACTLY the same connected components — node set and min-id
    labels — as the full clique pair set, including on a corpus with
    duplicated short (empty-shingle) docs that must stay singletons."""
    from ariadne_cartograph_spark.operators.cluster import connected_components

    df = _corpus_with_dups(spark)
    pairs = D.ngram_jaccard_pairs_auto(df, "doc_id", "text")
    edges = D.ngram_near_dup_edges(df, "doc_id", "text")
    cp = {(r["id"], r["comp"]) for r in connected_components(pairs).collect()}
    ce = {(r["id"], r["comp"]) for r in connected_components(edges).collect()}
    D.release_caches()
    assert cp == ce and cp
    # edge list strictly smaller than the clique pair set on this corpus
    assert edges.count() < pairs.count()


def test_lang_scores_contains_equals_bigram_intersect(spark):
    from ariadne_cartograph_spark.functions import text as T

    rng = random.Random(3)
    texts = [
        "",
        "a",
        "th",
        "the quick brown fox",
        "der schnelle braune Fuchs springt",
        "le renard brun rapide",
        "el rapido zorro marron",
        "THE THE THE the",
        "  padded   text  ",
    ] + [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz .,") for _ in range(rng.randint(0, 80)))
        for _ in range(60)
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    # the pre-round-6 formula, inlined: distinct bigram array ∩ profile
    grams = T.char_ngrams(F.lower(F.col("text")), 2)
    old_cols = [
        (F.size(F.array_intersect(grams, F.array(*[F.lit(x) for x in prof])))
         .cast("double") / len(prof)).alias(f"old_{lang}")
        for lang, prof in T.LANG_PROFILES.items()
    ]
    new = F.col("__m")
    rows = df.withColumn("__m", T.lang_scores("text")).select(
        "i", *old_cols, *[new[lang].alias(f"new_{lang}") for lang in T.LANG_PROFILES]
    ).collect()
    for r in rows:
        for lang in T.LANG_PROFILES:
            assert r[f"old_{lang}"] == r[f"new_{lang}"], (r["i"], lang)


def test_sketch_tokenization_agrees_with_recount(spark):
    from ariadne_cartograph_spark.operators.sketch import heavy_hitters_topk

    # "x y" joined by non-ASCII whitespace is ONE token under the
    # Java \s+ split — the sketch must form it too, or the heaviest
    # token can silently miss the candidate set. Padded docs exercise
    # the '' edge tokens filtered on both sides.
    docs = [(i, "  x y common  ") for i in range(30)]
    docs += [(100 + i, f"rare{i} common") for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [(r["tok"], r["n_occurrences"]) for r in
           heavy_hitters_topk(df, "doc_id", "text", k=3, capacity=4).collect()]
    assert got[0] == ("common", 35)
    assert got[1] == ("x y", 30)
    assert "" not in {t for t, _ in got}


def test_cosine_topk_auto_routes_by_pair_count(spark, monkeypatch):
    """auto must take the blocked-GEMM path above the pair threshold
    and the crossjoin path below it, with identical results either
    side of the boundary."""
    from ariadne_cartograph_spark.operators import similarity as S

    rng = random.Random(23)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") % 17 == 3)

    calls = []
    real = S._cosine_topk_blocked

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(S, "_cosine_topk_blocked", spy)
    lo = S.cosine_topk(emb, q, "vec_id", "embedding", k=4)  # below threshold
    lo_rows = {tuple(r) for r in lo.collect()}
    assert not calls
    monkeypatch.setattr(S, "BLOCKED_TOPK_MIN_PAIRS", 10)
    hi = S.cosine_topk(emb, q, "vec_id", "embedding", k=4, block_rows=32)
    hi_rows = {tuple(r) for r in hi.collect()}
    assert calls  # routed through the GEMM kernel
    assert lo_rows == hi_rows


def test_bigram_lm_doc_scores_hand_computed(spark):
    """4-doc corpus small enough to verify the add-1 bigram LM by hand:
    corpus bigrams: (a b)x4 (docs 1, 2, and twice in 3), (b a)x1
    (doc 3). V = |{a, b}| = 2. ctx(a)=4, ctx(b)=1.
    P(b|a) = (4+1)/(4+2) = 5/6 ; P(a|b) = (1+1)/(1+2) = 2/3.
    doc1/doc2 score = ln 5/6 ; doc3 = (2 ln 5/6 + ln 2/3)/3;
    doc4 has < 2 tokens -> 0 bigrams, NULL score."""
    import math

    from ariadne_cartograph_spark.operators.lm import bigram_lm_doc_scores

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a  b"), (3, "a b a b"), (4, "a")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in bigram_lm_doc_scores(df, "doc_id", "text").collect()}
    assert rows[4].n_bigrams == 0 and rows[4].lm_score is None
    lab = math.log(5.0 / 6.0)
    lba = math.log(2.0 / 3.0)
    assert rows[1].n_bigrams == 1 and abs(rows[1].lm_score - lab) < 1e-6
    assert abs(rows[2].lm_score - lab) < 1e-6  # double space = same tokens
    assert rows[3].n_bigrams == 3
    assert abs(rows[3].lm_score - (2 * lab + lba) / 3.0) < 1e-6
    # corpus-typical transitions score higher than rare ones
    assert rows[1].lm_score > (2 * lab + lba) / 3.0


def _ref_bpe(word_counts: dict, n_merges: int, min_count: int = 2):
    """Independent plain-Python BPE (Sennrich 2016) for equivalence
    checks: same tie-break (count desc, pair lexicographic asc), same
    left-greedy non-overlapping apply."""
    words = {tuple(list(w) + ["</w>"]): c for w, c in word_counts.items()}
    merges = []
    for step in range(1, n_merges + 1):
        pc: dict = {}
        for sym, c in words.items():
            for i in range(len(sym) - 1):
                pc[(sym[i], sym[i + 1])] = pc.get((sym[i], sym[i + 1]), 0) + c
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), c = best
        if c < min_count:
            break
        merges.append((step, a, b, a + b, c))
        new_words: dict = {}
        for sym, cnt in words.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_words[tuple(out)] = new_words.get(tuple(out), 0) + cnt
        words = new_words
    return merges


def test_bpe_merges_match_reference(spark):
    from ariadne_cartograph_spark.operators.bpe import train_bpe_merges

    # classic Sennrich-style corpus + a randomized one
    rng = random.Random(9)
    corpora = [
        {"low": 5, "lower": 2, "newest": 6, "widest": 3},
        {
            "".join(rng.choice("abcd") for _ in range(rng.randint(1, 6))): rng.randint(1, 9)
            for _ in range(40)
        },
    ]
    for wc in corpora:
        text = " ".join(" ".join([w] * c) for w, c in sorted(wc.items()))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        got = [
            (m["step"], m["left"], m["right"], m["merged"], m["pair_count"])
            for m in train_bpe_merges(df, "text", n_merges=12)
        ]
        assert got == _ref_bpe(wc, 12), wc


def test_bpe_segmentation_roundtrip(spark):
    from pyspark.sql import functions as F

    from ariadne_cartograph_spark.operators.bpe import (
        bpe_segment_words,
        train_bpe_merges,
    )

    df = spark.createDataFrame(
        [(1, "low low low lower newest newest widest")], "doc_id long, text string"
    )
    merges = train_bpe_merges(df, "text", n_merges=8)
    assert merges  # learns something on this corpus
    words = spark.createDataFrame(
        [("low",), ("lowest",), ("newest",)], "word string"
    )
    seg = {
        r["word"]: r["sym"]
        for r in bpe_segment_words(words, "word", merges).collect()
    }
    for w, sym in seg.items():
        # subwords reassemble the word + terminal exactly
        assert "".join(sym) == w + "</w>"
        assert len(sym) >= 1


def test_cosine_topk_blocked_equals_crossjoin(spark):
    rng = random.Random(17)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(300)
    ]
    # inject exact ties: duplicate vectors under different ids
    vecs += [(300 + i, list(vecs[i][1])) for i in range(10)]
    # a zero vector: scores 0.0 on both paths (numpy kernel clamps the
    # zero norm; the column cosine's when-guard matches) — no ANSI
    # divide-by-zero on either side
    vecs += [(999, [0.0] * 16)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") % 31 == 4)
    a = cosine_topk(emb, q, "vec_id", "embedding", k=7, strategy="crossjoin")
    b = cosine_topk(emb, q, "vec_id", "embedding", k=7, strategy="blocked", block_rows=64)
    ra = {(r["q_vec_id"], r["vec_id"], r["cosine"], r["rank"]) for r in a.collect()}
    rb = {(r["q_vec_id"], r["vec_id"], r["cosine"], r["rank"]) for r in b.collect()}
    assert ra == rb


def test_trajectory_pairs_empty_and_singleton_corpus(spark):
    """Edge guard for the bitmask gate: an EMPTY point frame (universe
    0 — would make the mask width 0) and a single-trajectory corpus
    (no pairs possible) must both return empty cleanly."""
    empty = spark.createDataFrame([], "traj_id long, lng double, lat double")
    assert (
        TJ.trajectory_jaccard_pairs(empty, "traj_id", "lng", "lat", cell_deg=10.0).count()
        == 0
    )
    one = spark.createDataFrame(
        [(1, 11.0, 6.0), (1, 21.0, 6.0)], "traj_id long, lng double, lat double"
    )
    assert (
        TJ.trajectory_jaccard_pairs(one, "traj_id", "lng", "lat", cell_deg=10.0).count()
        == 0
    )
    D.release_caches()


def test_two_table_join_collapse_row_identical(spark, monkeypatch, spark_jobs):
    """ngram_jaccard_join_two_tables' per-side collapse (the
    decontamination shape) must be row-identical to the naive plan on
    corpora where BOTH sides carry exact duplicates — including
    cross-table identical texts (jaccard 1.0 pairs) and duplicated
    sub-shingle-length docs (empty shingle sets: no pairs, either way)."""
    rng = random.Random(17)
    corpus_rows, bench_rows = [], []
    texts = [" ".join(rng.choice(WORDS) for _ in range(rng.randint(6, 12))) for _ in range(25)]
    nid = 0
    for t in texts:
        for _ in range(rng.randint(1, 4)):  # duplicated corpus side
            corpus_rows.append((nid, t)); nid += 1
    for t in texts[:10]:                    # bench shares some texts exactly
        for _ in range(rng.randint(1, 3)):
            bench_rows.append((1000 + nid, t)); nid += 1
    for _ in range(4):                      # short dup docs on both sides
        corpus_rows.append((nid, "tiny")); nid += 1
        bench_rows.append((1000 + nid, "tiny")); nid += 1
    corpus = spark.createDataFrame(corpus_rows, "corpus_id long, text string")
    bench = spark.createDataFrame(bench_rows, "bench_id long, text string")

    # both sides' duplication gates run as ONE combined probe job
    with spark_jobs() as probe:
        gates = D._dup_gate_stats([(corpus, "text"), (bench, "text")])
    assert probe.actions == 1
    assert gates == [
        (len(rows), len({t for _, t in rows})) for rows in (corpus_rows, bench_rows)
    ]

    def pairs():
        return {
            (r["corpus_id"], r["bench_id"], round(float(r["jaccard"]), 9))
            for r in D.ngram_jaccard_join_two_tables(
                corpus, bench, "corpus_id", "bench_id", "text", threshold=0.1
            ).collect()
        }

    collapsed = pairs()
    # 1.0 → gate always skips → genuine naive plan (the r11 advice
    # finding: -1.0 forced collapse, comparing it to itself)
    monkeypatch.setattr(D, "_COLLAPSE_MIN_DUP_RATIO", 1.0)
    naive = pairs()
    D.release_caches()
    assert collapsed == naive
    assert any(j == 1.0 for _, _, j in collapsed)  # cross-table exact dups present
    assert all(a < 1000 <= b for a, b, _ in collapsed)  # id spaces respected
