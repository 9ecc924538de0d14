"""Ground-truth checks for the hash-scheme operators that cannot be
DuckDB-oracled (MinHash-LSH, SimHash, hyperplane ANN): compare against
exact brute-force recomputation on the same data (SURVEY.md §5.2)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from ariadne_cartograph_spark.operators import dedup as D
from ariadne_cartograph_spark.operators import similarity as S
from ariadne_cartograph_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
THRESH = 0.6


def _exact_pairs(spark):
    """Exact jaccard>=THRESH pairs via plain python (independent oracle)."""
    rows = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    sh = {
        r.doc_id: set(
            " ".join(r.text.split()[i : i + 3]) for i in range(len(r.text.split()) - 2)
        )
        for r in rows
    }
    out = set()
    for a, b in itertools.combinations(sorted(sh), 2):
        inter = len(sh[a] & sh[b])
        if inter and inter / (len(sh[a]) + len(sh[b]) - inter) >= THRESH:
            out.add((a, b))
    return out


@pytest.fixture(scope="module")
def exact_pairs(spark):
    return _exact_pairs(spark)


def test_minhash_lsh_recall_and_precision(spark, exact_pairs):
    got = {
        (r.id_a, r.id_b)
        for r in D.minhash_near_dup_pairs(
            load_table(spark, SF, "documents"), "doc_id", "text", threshold=THRESH
        ).collect()
    }
    # Verification step makes precision exact: every reported pair IS a
    # real pair.
    assert got <= exact_pairs
    # LSH with b=8,r=4 at these similarities (~0.95+) has detection
    # probability ≈ 1 - (1 - s^4)^8 > 0.9999 → expect full recall here.
    recall = len(got) / max(len(exact_pairs), 1)
    assert recall >= 0.95, f"recall {recall}: missed {exact_pairs - got}"


def test_exact_dedup_deterministic_keep_min(spark):
    docs = load_table(spark, SF, "documents")
    kept = D.dedup_exact(docs, "text", "doc_id")
    # one row per distinct text, and each kept id is the min for its text
    assert kept.count() == docs.select("text").distinct().count()
    joined = kept.alias("k").join(docs.alias("d"), "text").groupBy("k.doc_id").agg(
        F.min("d.doc_id").alias("min_id")
    )
    assert joined.filter(F.col("doc_id") != F.col("min_id")).count() == 0


def test_simhash_near_dup_finds_heavy_overlap(spark, exact_pairs):
    got = {
        (r.id_a, r.id_b)
        for r in D.simhash_near_dup_pairs(
            load_table(spark, SF, "documents"), "doc_id", "text", max_hamming=3
        ).collect()
    }
    # SimHash(hamming<=3 of 64) targets the very-high-similarity band;
    # require it to recover most of the jaccard>=0.95 subset.
    rows = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    sh = {
        r.doc_id: set(
            " ".join(r.text.split()[i : i + 3]) for i in range(len(r.text.split()) - 2)
        )
        for r in rows
    }
    very_high = {
        (a, b)
        for (a, b) in exact_pairs
        if len(sh[a] & sh[b]) / (len(sh[a]) + len(sh[b]) - len(sh[a] & sh[b])) >= 0.95
    }
    inter = got & very_high
    assert len(inter) >= 0.8 * len(very_high), (len(inter), len(very_high), very_high - got)


def test_ann_lsh_recall_vs_brute_force(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    brute = S.cosine_topk(emb, queries, "vec_id", "embedding", k=5)
    # This corpus is near-uniform (top-5 cosine ≈ 0.3) — the hardest
    # regime for LSH. planes=4/tables=12 gives expected per-neighbor
    # detection ≈ 1-(1-p^4)^12 ≈ 0.80 at p = 1-acos(0.3)/π ≈ 0.6.
    ann = S.ann_lsh_topk(emb, queries, "vec_id", "embedding", k=5, n_planes=4, n_tables=12)
    b = {(r["q_vec_id"] if "q_vec_id" in r.__fields__ else r["q_id"], r["vec_id"]) for r in brute.collect()}
    a = {(r["q_id"], r["vec_id"]) for r in ann.collect()}
    recall = len(a & b) / len(b)
    assert recall >= 0.5, f"ANN recall vs brute force too low: {recall}"


def test_embedding_near_dup_precision(spark):
    emb = load_table(spark, SF, "embeddings")
    pairs = S.embedding_near_dup_pairs(emb, "vec_id", "embedding", min_cosine=0.99)
    for r in pairs.collect():
        assert r.id_a < r.id_b
        assert r.cosine >= 0.99


def test_lsh_on_empty_corpus_is_empty(spark):
    # The plane width comes from the first row; an empty corpus has
    # none and must still give an empty result, not raise.
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert S.ann_lsh_topk(empty, empty, "vec_id", "embedding", k=5).count() == 0
    assert S.embedding_near_dup_pairs(empty, "vec_id", "embedding").count() == 0


@pytest.mark.slow
def test_prefix_filter_variant_matches_count_based(spark, exact_pairs):
    """ngram_jaccard_pairs_prefix (AllPairs prefix filter) is lossless:
    identical pair set + jaccard values as the count-based exact join
    and the python oracle."""
    docs = load_table(spark, SF, "documents")
    base = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", 3, THRESH).collect()
    }
    pref = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs_prefix(docs, "doc_id", "text", 3, THRESH).collect()
    }
    assert set(base) == exact_pairs
    assert base == pref


def test_ngram_auto_strategy_rule():
    """Scale-free routing rule: prefix iff max_df^2 >= total rows, OR
    aggregate candidate volume sum_df_sq >= 32x total rows."""
    # uniform corpus (sf0.01 shape): max df 25, ~26k rows → count path
    assert D.ngram_join_strategy(25, 26000) == "count"
    # boilerplate corpus: hottest shingle in every doc → prefix path
    assert D.ngram_join_strategy(500, 31000) == "prefix"
    assert D.ngram_join_strategy(0, 0) == "prefix"  # degenerate: empty
    # measured sf0.01 / sf0.1 / 10x-replica stats: the aggregate rule
    # keeps uniform corpora on count and flips the replicated one
    assert D.ngram_join_strategy(7, 26136, 54106) == "count"
    assert D.ngram_join_strategy(25, 260388, 2791946) == "count"
    assert D.ngram_join_strategy(250, 2603880, 279194600) == "prefix"


@pytest.mark.slow
def test_ngram_auto_matches_both_variants_on_skewed_corpus(spark):
    """Appending a shared boilerplate footer (hot shingles with df =
    n_docs) must not change the auto path's OUTPUT — both variants are
    lossless — and auto must route the skewed corpus to prefix."""
    docs = load_table(spark, SF, "documents").withColumn(
        "text", F.concat_ws(" ", F.col("text"), F.lit("all rights reserved terms apply"))
    )
    auto = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs_auto(docs, "doc_id", "text", 3, THRESH).collect()
    }
    count = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", 3, THRESH).collect()
    }
    assert auto == count
    D.release_caches()


def test_ann_ivf_recall_vs_brute_force(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    brute = S.cosine_topk(emb, queries, "vec_id", "embedding", k=5)
    # probing 6/16 cells of a near-uniform corpus: expected recall
    # ~n_probe/n_centroids per neighbor if cells were random (worst
    # case); require at least that much.
    ivf = S.ann_ivf_topk(emb, queries, "vec_id", "embedding", k=5, n_centroids=16, n_probe=6)
    b = {(r["q_vec_id"], r["vec_id"]) for r in brute.collect()}
    a = {(r["q_id"], r["vec_id"]) for r in ivf.collect()}
    recall = len(a & b) / len(b)
    assert recall >= 0.3, f"IVF recall vs brute force too low: {recall}"
    for r in ivf.collect():
        assert r.q_id != r.vec_id


@pytest.mark.slow
def test_ann_ivf_kmeans_recall_and_determinism(spark):
    """Trained (Lloyd) IVF: deterministic centroids across runs, and
    recall vs brute force at least matching the recall floor of the
    sampled-centroid variant on the same probe budget."""
    emb = load_table(spark, SF, "embeddings")
    cents1 = S.kmeans_centroids(emb, "embedding", n_centroids=8, n_iter=3)
    cents2 = S.kmeans_centroids(emb, "embedding", n_centroids=8, n_iter=3)
    assert cents1 == cents2  # fixed init + fixed iteration count
    assert len(cents1) == 8

    queries = emb.filter(F.col("vec_id") < 4)
    brute = S.cosine_topk(emb, queries, "vec_id", "embedding", k=5)
    ann = S.ann_ivf_topk_kmeans(
        emb, queries, "vec_id", "embedding", k=5, n_centroids=8, n_probe=4, n_iter=3
    )
    b = {(r["q_vec_id"], r["vec_id"]) for r in brute.collect()}
    a = {(r["q_id"], r["vec_id"]) for r in ann.collect()}
    recall = len(a & b) / len(b)
    assert recall >= 0.5, f"trained-IVF recall vs brute force too low: {recall}"


def test_domain_mixture_sample_quotas_and_determinism(spark):
    from ariadne_cartograph_spark.operators.sampling import (
        domain_mixture_quotas,
        domain_mixture_sample,
    )

    # 3 domains with 80/15/5 skew
    rows = [(i, "web") for i in range(80)]
    rows += [(100 + i, "code") for i in range(15)]
    rows += [(200 + i, "math") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    q = {r["source"]: r["quota"] for r in
         domain_mixture_quotas(df, "source", alpha=0.5, budget=50).collect()}
    # alpha=0.5 flattens: sqrt(80):sqrt(15):sqrt(5) ≈ 8.94:3.87:2.24
    w = 80**0.5 + 15**0.5 + 5**0.5
    assert q["web"] == min(80, round(50 * 80**0.5 / w))
    assert q["code"] == min(15, round(50 * 15**0.5 / w))
    assert q["math"] == min(5, round(50 * 5**0.5 / w))  # capped at domain size

    # alpha=1 preserves the original mixture proportions
    q1 = {r["source"]: r["quota"] for r in
          domain_mixture_quotas(df, "source", alpha=1.0, budget=50).collect()}
    # round(2.5) is HALF_UP in both Spark and DuckDB (unlike Python)
    assert q1 == {"web": 40, "code": 8, "math": 3}

    # alpha=0 is uniform across domains, capped at domain size
    q0 = {r["source"]: r["quota"] for r in
          domain_mixture_quotas(df, "source", alpha=0.0, budget=30).collect()}
    assert q0 == {"web": 10, "code": 10, "math": 5}

    # selection is deterministic and quota-sized
    kept1 = sorted(r["doc_id"] for r in
                   domain_mixture_sample(df, "doc_id", "source", 0.5, 50).collect())
    kept2 = sorted(r["doc_id"] for r in
                   domain_mixture_sample(df, "doc_id", "source", 0.5, 50).collect())
    assert kept1 == kept2
    assert len(kept1) == sum(q.values())


@pytest.mark.slow
def test_pq_adc_recall_and_training(spark):
    from pyspark.sql import functions as F

    from ariadne_cartograph_spark.operators.pq import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )
    from ariadne_cartograph_spark.operators.similarity import cosine_topk
    from ariadne_cartograph_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    ).cache()
    queries = emb.filter(F.col("vec_id") < 4)

    books = pq_codebooks(emb, "vec_id", "embedding", m=4, k=16, n_iter=0)
    assert len(books) == 4 and len(books[0]) == 16 and len(books[0][0]) == 16
    enc = pq_encode(emb, "embedding", books).cache()
    # codewords quantize to themselves with zero error
    self_rows = enc.filter(F.col("vec_id") < 16).collect()
    ranked_ids = sorted(r["vec_id"] for r in self_rows)
    for r in self_rows:
        code = ranked_ids.index(r["vec_id"])
        assert list(r["pq_codes"]) == [code] * 4
        assert r["pq_err"] == 0.0

    # ADC top-10 overlaps brute-force cosine top-10 (loose: PQ with
    # untrained codebooks on random data still beats chance by far)
    adc = pq_adc_topk(
        enc.select("vec_id", "pq_codes"), queries, "vec_id", "embedding", books, k=10
    )
    got = {(r["q_id"], r["vec_id"]) for r in adc.collect()}
    exact = {
        (r["q_vec_id"], r["vec_id"])
        for r in cosine_topk(emb, queries, "vec_id", "embedding", k=10).collect()
    }
    # sanity only: shapes + determinism (recall of L2-ADC vs cosine
    # ranking on i.i.d. vectors is weak by construction)
    assert len(got) == len(exact) == 40
    got2 = {
        (r["q_id"], r["vec_id"])
        for r in pq_adc_topk(
            enc.select("vec_id", "pq_codes"), queries, "vec_id", "embedding", books, k=10
        ).collect()
    }
    assert got == got2

    # reconstruction of a codeword row is exact (zero quantization error)
    from ariadne_cartograph_spark.operators.pq import pq_reconstruct
    from ariadne_cartograph_spark.functions.vector import as_double
    rec = (
        enc.filter(F.col("vec_id") == ranked_ids[0])
        .select(
            F.zip_with(
                pq_reconstruct("pq_codes", books),
                as_double(F.col("embedding")),
                lambda x, y: F.abs(x - y),
            ).alias("d")
        )
        .select(F.array_max("d").alias("maxd"))
        .first()
    )
    assert rec["maxd"] == 0.0

    # Lloyd refinement strictly reduces total reconstruction error
    err0 = enc.agg(F.sum("pq_err")).first()[0]
    books3 = pq_codebooks(emb, "vec_id", "embedding", m=4, k=16, n_iter=3)
    err3 = (
        pq_encode(emb, "embedding", books3).agg(F.sum("pq_err")).first()[0]
    )
    assert err3 < err0
    emb.unpersist()


def test_repeated_span_coverage_semantics(spark):
    from ariadne_cartograph_spark.operators.dedup import repeated_span_coverage

    shared = "a b c d e f g h"  # exactly one k=8 window
    docs = spark.createDataFrame(
        [
            (1, shared + " x1 y1 z1"),
            (2, shared + " x2 y2 z2"),
            (3, "p q r s t u v w unique tail here"),
            (4, "short doc"),  # < k tokens → zero windows
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in
            repeated_span_coverage(docs, "doc_id", "text", k=8, min_docs=2).collect()}
    # docs 1,2 share the leading 8-token window; their unique tails don't repeat
    assert rows[1]["n_repeated"] == 1 and rows[2]["n_repeated"] == 1
    assert rows[1]["n_windows"] == 4  # 11 tokens → 4 windows of 8
    assert rows[3]["n_repeated"] == 0
    # sub-k docs have no windows: absent from output by contract
    assert 4 not in rows


def test_containment_catches_partial_copy_jaccard_misses(spark):
    """An excerpt embedded in a much longer doc: containment ~1.0,
    Jaccard far below any near-dup threshold."""
    from ariadne_cartograph_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    excerpt = " ".join(f"w{i}" for i in range(30))
    long_doc = excerpt + " " + " ".join(f"x{i}" for i in range(400))
    other = " ".join(f"y{i}" for i in range(50))
    df = spark.createDataFrame(
        [(1, excerpt), (2, long_doc), (3, other)], ["doc_id", "text"]
    )
    cont = {
        (r.id_a, r.id_b): r.containment
        for r in ngram_containment_pairs(
            df, "doc_id", "text", shingle_size=3, threshold=0.9
        ).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] == 1.0
    assert (1, 3) not in cont and (2, 3) not in cont
    jac = ngram_jaccard_pairs(
        df, "doc_id", "text", shingle_size=3, threshold=0.5
    ).collect()
    assert jac == []  # union-normalized similarity misses the copy


def test_blocked_exact_cosine_equals_join_form(spark):
    """exact_cosine_pairs_blocked (block GEMM / mapInPandas) must emit
    the same pair set and the same f32 cosines as the join-based exact
    plan, including odd block sizes that force within-block triangles
    and cross-block rectangles."""
    import random

    from ariadne_cartograph_spark.functions.vector import cosine
    from ariadne_cartograph_spark.operators.similarity import (
        exact_cosine_pairs_blocked,
    )

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(500)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    join_form = {
        (r.id_a, r.id_b): r.cosine
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine("va", "vb").cast("float").alias("cosine"))
        .filter(F.col("cosine") >= 0.45)
        .collect()
    }
    for block_rows in (64, 97, 1000):
        blocked = {
            (r.id_a, r.id_b): r.cosine
            for r in exact_cosine_pairs_blocked(
                df, "vec_id", "embedding", threshold=0.45, block_rows=block_rows
            ).collect()
        }
        assert set(blocked) == set(join_form), block_rows
        for k in join_form:
            assert abs(blocked[k] - join_form[k]) <= 2e-7, (k, block_rows)


def test_leakage_safe_split_never_splits_near_dup_pairs(spark, sf_dir):
    from pyspark.sql import functions as F

    from ariadne_cartograph_spark.operators import dedup as D
    from ariadne_cartograph_spark.plans.text_queries import (
        _JACCARD_THRESHOLD,
        corpus_leakage_safe_split,
    )
    from ariadne_cartograph_spark.sources.tables import load_table

    out = corpus_leakage_safe_split(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs_auto(
        docs, "doc_id", "text", shingle_size=3, threshold=_JACCARD_THRESHOLD
    )
    assert pairs.count() > 0  # vacuous otherwise
    sa = out.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = out.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    straddling = (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
    )
    assert straddling.count() == 0
    # and both split sides are non-empty (the guard didn't collapse
    # everything into train)
    assert out.select("split").distinct().count() == 2


def test_collapse_expansion_matches_naive_pair_join(spark):
    """The exact-duplicate collapse in simhash_near_dup_pairs must be
    output-IDENTICAL to the naive all-members pair join: replicate a
    corpus 5x (fresh ids, same texts) and check the pair set against a
    brute-force recomputation from signatures."""
    import itertools
    import random

    from ariadne_cartograph_spark.operators.dedup import (
        simhash,
        simhash_near_dup_pairs,
    )

    rng = random.Random(5)
    base = [
        " ".join(rng.choices(["alpha", "beta", "gamma", "delta", "eps"], k=30))
        for _ in range(12)
    ]
    rows = [(r * 100 + i, t) for r in range(5) for i, t in enumerate(base)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)

    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=3).collect()
    }
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in simhash(df, "text").select("doc_id", "simhash").collect()
    }
    want = set()
    for x, y in itertools.combinations(sorted(sigs), 2):
        h = bin((sigs[x] ^ sigs[y]) & ((1 << 64) - 1)).count("1")
        if h <= 3:
            want.add((x, y, h))
    assert got == want
    # replicas guarantee intra-cluster pairs exist and were expanded
    assert any(h == 0 for _, _, h in got)


def _traj_corpus(kind):
    """(points, cell_deg, route) for the trajectory brute-force test.

    - "coarse": 6 trajectories × 4 exact replicas on a 30° grid — a
      tiny dense cell universe, so the bitmask all-pairs route runs.
    - "sparse": 160 trajectories of 28 random points on a 0.01° grid
      (> 4096 cells, df ≤ 2: n_reps²/2 > Σdf² and no hot cell) plus
      near replicas (3 of 28 points moved) and a few exact replicas —
      the count kernel runs.
    - "sparse_hot": the same plus one cell every trajectory visits
      (max_df² ≥ Σdf) — the prefix kernel runs."""
    import random

    rng = random.Random(9)

    def pt():
        return (rng.uniform(-170, 170), rng.uniform(-80, 80))

    if kind == "coarse":
        base = {t: [pt() for _ in range(8)] for t in range(6)}
        trajs = {rep * 10 + t: c for rep in range(4) for t, c in base.items()}
        return trajs, 30.0, "bitmask"
    base = {t: [pt() for _ in range(28)] for t in range(160)}
    trajs = dict(base)
    for t in range(20):  # near replicas: Jaccard 25/31
        trajs[1000 + t] = base[t][:25] + [pt() for _ in range(3)]
    for t in range(6):  # exact replicas: clears the collapse gate
        trajs[2000 + t] = list(base[t])
    if kind == "sparse_hot":
        trajs = {t: c + [(0.005, 0.005)] for t, c in trajs.items()}
        return trajs, 0.01, "prefix"
    return trajs, 0.01, "count"


@pytest.mark.parametrize("kind", ["coarse", "sparse", "sparse_hot"])
def test_trajectory_collapse_matches_naive(spark, monkeypatch, kind):
    """trajectory_jaccard_pairs on each of its three routes: duplicate
    trajectories (same points, new ids) and near replicas must yield
    the identical pair set a brute-force jaccard over cell signatures
    produces; every corpus reaches its route through the real gates."""
    import math

    from ariadne_cartograph_spark.operators import trajectory as TJ

    trajs, cell_deg, route = _traj_corpus(kind)
    pts = [(t, lng, lat) for t, coords in trajs.items() for lng, lat in coords]
    df = spark.createDataFrame(pts, "traj long, lng double, lat double").repartition(5)
    strategies = []
    real = TJ.ngram_join_strategy

    def spy(*args):
        strategies.append(real(*args))
        return strategies[-1]

    monkeypatch.setattr(TJ, "ngram_join_strategy", spy)
    got = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in TJ.trajectory_jaccard_pairs(
            df, "traj", "lng", "lat", cell_deg=cell_deg, threshold=0.3
        ).collect()
    }
    D.release_caches()
    assert strategies == ([] if route == "bitmask" else [route])
    sig = {}
    for tid, lng, lat in pts:
        sig.setdefault(tid, set()).add(
            (math.floor(lng / cell_deg), math.floor(lat / cell_deg))
        )
    want = set()
    for x, y in itertools.combinations(sorted(sig), 2):
        j = len(sig[x] & sig[y]) / len(sig[x] | sig[y])
        if j >= 0.3:
            want.add((x, y, round(j, 9)))
    assert got == want
    assert any(j == 1.0 for _, _, j in got)
    if route != "bitmask":
        assert any(j < 1.0 for _, _, j in got)  # pairs the route itself found
