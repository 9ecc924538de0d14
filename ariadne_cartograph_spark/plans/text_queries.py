"""Text-analysis / dedup / similarity catalog entries (SURVEY.md §2.7
U4-U5 + north-star LLM-pipeline operators) over `documents` and
`embeddings`.

Oracle-expressible semantics get DuckDB SQL; hash-scheme-dependent ops
(MinHash/SimHash/LSH — xxhash64 has no DuckDB twin) are rows-only here
and are instead verified in tests against exact recomputation
(tests/test_dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators import dedup as D
from ..operators import similarity as S
from ..sources.tables import fan_out, load_table
from .catalog import register

# --------------------------------------------------------------------------
# Token counting / quality scoring (U5) — pure column math.
# --------------------------------------------------------------------------


@register(
    "text_token_stats",
    tags=["U5"],
    oracle=r"""
SELECT lang,
       count(*) AS n_docs,
       -- CAST: DuckDB sum(int) is HUGEINT (int128) — Arrow-canonicalizes
       -- differently from Spark's int64 sum.
       CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS total_tokens,
       CAST(avg(len(string_split_regex(text, '\s+'))) AS FLOAT) AS avg_tokens,
       max(len(string_split_regex(text, '\s+'))) AS max_tokens
FROM documents
GROUP BY lang
ORDER BY lang
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = T.token_count("text")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n).alias("total_tokens"),
            F.avg(n).cast("float").alias("avg_tokens"),
            F.max(n).alias("max_tokens"),
        )
        .orderBy("lang")
    )


@register(
    "text_quality_metrics",
    tags=["U5"],
    oracle=r"""
SELECT doc_id,
       len(string_split_regex(text, '\s+')) AS n_tokens,
       CAST(length(replace(text, ' ', '')) AS DOUBLE)
         / len(string_split_regex(text, '\s+')) AS avg_word_len_d,
       CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                            w -> list_contains(['the','a','an','and','or','of','to','in','is','it'], w))) AS DOUBLE)
         / len(string_split_regex(text, '\s+')) AS stopword_ratio_d
FROM documents
WHERE doc_id < 100
ORDER BY doc_id
""",
)
def text_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return (
        docs.select(
            "doc_id",
            T.token_count("text").alias("n_tokens"),
            T.avg_word_length("text").alias("avg_word_len_d"),
            T.stopword_ratio("text").alias("stopword_ratio_d"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_fingerprint_exact_dedup",
    headline=True,
    tags=["W6", "U5"],
    oracle="""
WITH fp AS (SELECT doc_id, source, md5(text) AS fingerprint FROM documents),
keep AS (SELECT fingerprint, min(doc_id) AS doc_id FROM fp GROUP BY fingerprint)
SELECT f.source,
       count(*) AS n_docs,
       count(k.doc_id) AS n_kept
FROM fp f LEFT JOIN keep k ON f.fingerprint = k.fingerprint AND f.doc_id = k.doc_id
GROUP BY f.source
ORDER BY f.source
""",
)
def text_fingerprint_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The census only needs each keeper's SOURCE, so min_by carries it
    # through the fingerprint groupBy and both sides collapse to tiny
    # per-source aggregates — no semi join, no join back to the corpus
    # by id (two 100%-of-rows exchanges in the old plan).
    docs = load_table(spark, sf_dir, "documents")
    kept_src = (
        D.dedup_exact_keepers(docs, "text", "doc_id", "source")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(kept_src, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# N-gram Jaccard similarity join — exact, oracle-checked (W6/U4).
# --------------------------------------------------------------------------

_JACCARD_THRESHOLD = 0.6


@register(
    "ngram_jaccard_near_dup",
    headline=True,
    tags=["W6", "U4"],
    oracle=rf"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(string_split_regex(text,'\s+')) - 2, 0) + 1),
                   i -> concat_ws(' ',
                        string_split_regex(text,'\s+')[i],
                        string_split_regex(text,'\s+')[i+1],
                        string_split_regex(text,'\s+')[i+2])))) AS g
  FROM documents),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {_JACCARD_THRESHOLD}
ORDER BY id_a, id_b
""",
)
def ngram_jaccard_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Measured auto-router (collapse gate + count/prefix selection,
    # operators/dedup.ngram_jaccard_pairs_auto): on the uniform sf0.1
    # corpus the gate skips and this IS the r1 count plan (two 1-row
    # stats aggregates of overhead); on the 10x-replica sf1 stress set
    # every shingle df is 10x, so the ungated count join ground through
    # 113M intermediate pairs for 250k results — the exact-dup collapse
    # cuts that 100x (17.4s -> ~2s for the intersection stage).
    # Lossless either way (route equality pinned in
    # tests/test_round6_fixes.py); the skewed-corpus entry demonstrates
    # the third (prefix) route under boilerplate skew.
    # fan_out: the shingle/signature pass is CPU-bound and the
    # compressed text scan under-splits (see text_rolling_fingerprint)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return D.ngram_jaccard_pairs_auto(
        docs, "doc_id", "text", shingle_size=3, threshold=_JACCARD_THRESHOLD
    ).orderBy("id_a", "id_b")


_CONTAINMENT_THRESHOLD = 0.7


@register(
    "ngram_containment_pairs",
    tags=["W6", "U4"],
    oracle=rf"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(string_split_regex(text,'\s+')) - 2, 0) + 1),
                   i -> concat_ws(' ',
                        string_split_regex(text,'\s+')[i],
                        string_split_regex(text,'\s+')[i+1],
                        string_split_regex(text,'\s+')[i+2])))) AS g
  FROM documents),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= {_CONTAINMENT_THRESHOLD}
ORDER BY id_a, id_b
""",
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-copy detection: containment = |A∩B| / min(|A|,|B|)
    flags excerpt/quote duplication that Jaccard's union-normalization
    hides (a paragraph inside a 100x longer doc). Same bucketed
    hashed-shingle equi-join shape as the Jaccard entry — see
    operators/dedup.ngram_containment_pairs for the scale notes."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_containment_pairs(
        docs, "doc_id", "text", shingle_size=3, threshold=_CONTAINMENT_THRESHOLD
    ).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# Skewed-corpus near-dup — the 100 TB stress shape. Every document gets
# the same boilerplate footer appended (ToS / license banners in real
# crawls), which makes the footer shingles' doc-frequency equal the
# corpus size: the count-based self-join would blow up to Σ df² ≈
# n_docs² candidate rows PER hot shingle, while the AllPairs prefix
# filter sorts hot shingles to the end of every doc's ordering so they
# never enter a prefix — candidates stay bounded by genuinely-rare
# shingle collisions. ngram_jaccard_pairs_auto measures max df and
# routes to the prefix plan on this corpus (pinned in
# tests/test_dedup_similarity.py). Lossless → same oracle shape as
# ngram_jaccard_near_dup, with the footer concatenated in SQL too.
# --------------------------------------------------------------------------

_BOILERPLATE = (
    "all rights reserved terms of service apply to this document content"
)


@register(
    "ngram_jaccard_skewed_corpus",
    headline=True,
    tags=["W6", "U4"],
    oracle=rf"""
WITH docs2 AS (
  SELECT doc_id, text || ' {_BOILERPLATE}' AS text FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(string_split_regex(text,'\s+')) - 2, 0) + 1),
                   i -> concat_ws(' ',
                        string_split_regex(text,'\s+')[i],
                        string_split_regex(text,'\s+')[i+1],
                        string_split_regex(text,'\s+')[i+2])))) AS g
  FROM docs2),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {_JACCARD_THRESHOLD}
ORDER BY id_a, id_b
""",
)
def ngram_jaccard_skewed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.concat_ws(" ", F.col("text"), F.lit(_BOILERPLATE))
    )
    return D.ngram_jaccard_pairs_auto(
        docs, "doc_id", "text", shingle_size=3, threshold=_JACCARD_THRESHOLD
    ).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# Near-dup CLUSTER RESOLUTION — pairs are not dedup decisions: the
# similarity graph's connected components are the duplicate clusters,
# and the pipeline keeps min-id per component (same deterministic-
# representative convention as dedup_exact). Spark side is iterative
# min-label propagation (operators/cluster.py); the oracle replays the
# same reachability with a DuckDB recursive CTE. Members serialize as
# a sorted comma-joined string so both engines hash identically.
# --------------------------------------------------------------------------


@register(
    "dedup_cluster_resolution",
    tags=["W6", "U4"],
    oracle=rf"""
WITH RECURSIVE
sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(string_split_regex(text,'\s+')) - 2, 0) + 1),
                   i -> concat_ws(' ',
                        string_split_regex(text,'\s+')[i],
                        string_split_regex(text,'\s+')[i+1],
                        string_split_regex(text,'\s+')[i+2])))) AS g
  FROM documents),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)
        >= {_JACCARD_THRESHOLD}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(id, comp) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.id),
comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
SELECT comp AS keep_id,
       count(*) AS n_members,
       string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
FROM comps GROUP BY comp ORDER BY keep_id
""",
)
def dedup_cluster_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cluster import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs_auto(
        docs, "doc_id", "text", shingle_size=3, threshold=_JACCARD_THRESHOLD
    )
    return (
        dedup_clusters(pairs)
        .select(
            "keep_id",
            "n_members",
            F.array_join(
                F.transform("members", lambda x: x.cast("string")), ","
            ).alias("members"),
        )
        .orderBy("keep_id")
    )


# --------------------------------------------------------------------------
# Quality-aware canonical selection — production near-dup pipelines
# keep the BEST member of each duplicate cluster, not an arbitrary one
# (near-dups differ by truncation/boilerplate/noise). Quality here =
# distinct 3-gram shingle count (information content, already the
# pipeline's working representation); ties break to min id. The oracle
# replays components via the recursive CTE and picks the argmax with an
# explicit (n_sh DESC, id) row_number — deterministic on both engines.
# --------------------------------------------------------------------------


@register(
    "dedup_keep_best_quality",
    tags=["W6", "U4", "A5"],
    oracle=rf"""
WITH RECURSIVE
sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(string_split_regex(text,'\s+')) - 2, 0) + 1),
                   i -> concat_ws(' ',
                        string_split_regex(text,'\s+')[i],
                        string_split_regex(text,'\s+')[i+1],
                        string_split_regex(text,'\s+')[i+2])))) AS g
  FROM documents),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)
        >= {_JACCARD_THRESHOLD}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(id, comp) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.id),
comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
ranked AS (
  SELECT comp, id, n_sh,
         row_number() OVER (PARTITION BY comp ORDER BY n_sh DESC, id) AS rn
  FROM comps JOIN sizes ON doc_id = id),
membership AS (
  SELECT comp, count(*) AS n_members,
         string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
  FROM comps GROUP BY comp)
SELECT r.comp AS cluster_id, r.id AS keep_id,
       CAST(r.n_sh AS BIGINT) AS keep_score,
       m.n_members, m.members
FROM ranked r JOIN membership m ON m.comp = r.comp
WHERE r.rn = 1
ORDER BY cluster_id
""",
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import hashed_word_shingles
    from ..operators.cluster import keep_best_per_cluster

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs_auto(
        docs, "doc_id", "text", shingle_size=3, threshold=_JACCARD_THRESHOLD
    )
    # Distinct-shingle count as the quality score: counts distinct gram
    # HASHES where the oracle counts distinct gram STRINGS — bijective
    # modulo negligible 64-bit collisions (same equivalence the whole
    # near-dup family's parity rests on).
    scores = docs.select(
        "doc_id",
        F.size(hashed_word_shingles("text", n=3)).cast("bigint").alias("n_shingles"),
    )
    return (
        keep_best_per_cluster(
            pairs, scores, id_col="doc_id", score_col="n_shingles"
        )
        .select(
            "cluster_id",
            "keep_id",
            F.col("keep_score").cast("bigint").alias("keep_score"),
            "n_members",
            F.array_join(
                F.transform("members", lambda x: x.cast("string")), ","
            ).alias("members"),
        )
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------------
# MinHash-LSH — the VERIFIED output of the pipeline (exact Jaccard on
# LSH candidates) is oracle-checkable: every emitted pair carries its
# exact Jaccard ≥ t, and the oracle computes the full exact-Jaccard
# pair set the same way ngram_jaccard_near_dup's does. The row is green
# iff LSH banding missed no pair ≥ t on the oracle corpus — i.e. the
# oracle checks both the verification math AND perfect recall at b=8,
# r=4 (LSH threshold ≈ 0.59 vs t=0.6; recall re-pinned in
# tests/test_dedup_similarity.py).
# --------------------------------------------------------------------------


@register(
    "minhash_lsh_near_dup",
    headline=True,
    tags=["W6", "U4"],
    oracle=rf"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(string_split_regex(text,'\s+')) - 2, 0) + 1),
                   i -> concat_ws(' ',
                        string_split_regex(text,'\s+')[i],
                        string_split_regex(text,'\s+')[i+1],
                        string_split_regex(text,'\s+')[i+2])))) AS g
  FROM documents),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {_JACCARD_THRESHOLD}
ORDER BY id_a, id_b
""",
)
def minhash_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_near_dup_pairs(
        docs, "doc_id", "text", n_hashes=32, bands=8, threshold=_JACCARD_THRESHOLD
    ).orderBy("id_a", "id_b")


@register(
    "simhash_near_dup",
    tags=["W6", "U4"],
    oracle=r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
th AS (
  SELECT doc_id, md5(tok) || md5('x:' || tok) AS h FROM toks),
votes AS (
  SELECT doc_id, b,
         sum(2 * ((CASE WHEN a <= 57 THEN a - 48 ELSE a - 87 END) % 2) - 1) AS vote
  FROM (
    SELECT doc_id, bb.b AS b, ascii(substring(h, CAST(bb.b + 1 AS INT), 1)) AS a
    FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bb)
  GROUP BY doc_id, b),
sig AS (
  SELECT doc_id, list(CASE WHEN vote > 0 THEN 1 ELSE 0 END ORDER BY b) AS bits
  FROM votes GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(list_sum(list_transform(range(1, 65),
              i -> CASE WHEN a.bits[CAST(i AS INT)] <> b.bits[CAST(i AS INT)]
                        THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3 ORDER BY id_a, id_b
""",
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with the md5 bit scheme
    (operators/dedup.simhash_md5_near_dup_pairs): the oracle recomputes
    the same 64 token bits (md5 digit parity), the same frequency-
    weighted votes, and brute-force Hamming over all pairs — so the
    pigeonhole block join's losslessness AND the sketch math are both
    value-hash checked. The xxhash64-signature variant
    (simhash_near_dup_pairs) is the scale scheme (8-byte signatures,
    no hex strings); equivalence of the two pipelines' semantics is
    pinned in tests/test_dedup_similarity.py."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return D.simhash_md5_near_dup_pairs(docs, "doc_id", "text", max_hamming=3).orderBy(
        "id_a", "id_b"
    )


@register(
    "text_rolling_fingerprint",
    tags=["U5"],
    # Full value-hash oracle (r6 verdict #4): the md5 fingerprint twin
    # recomputes min-over-8-shingle hashes in DuckDB (fixed-width hex →
    # string min == numeric min); the sub-word count replays the same
    # three class-transition regexp_replace passes.
    oracle=r"""
WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(text, '\s+') AS toks
  FROM documents),
fp AS (
  SELECT doc_id, text,
    CASE WHEN len(toks) >= 8
         THEN list_aggregate(
                list_transform(generate_series(1, len(toks) - 7),
                               i -> md5(array_to_string(toks[i:i+7], ' '))),
                'min')
         ELSE md5(text) END AS fingerprint
  FROM t)
SELECT doc_id, fingerprint,
  CAST(len(regexp_split_to_array(trim(
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          '([a-zA-Z])([0-9])|([0-9])([a-zA-Z])', '\1\3 \2\4', 'g'),
        '([a-zA-Z0-9])([^\sa-zA-Z0-9])', '\1 \2', 'g'),
      '([^\sa-zA-Z0-9])([a-zA-Z0-9])', '\1 \2', 'g')
  ), '\s+')) AS BIGINT) AS n_subword_tokens
FROM fp ORDER BY doc_id
""",
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprint + sub-word token budget. The
    catalog entry fingerprints with the md5 twin so the whole pipeline
    is hash-checked; xxhash64 (functions/text.rolling_fingerprint) is
    the production scale scheme — same twin pattern as
    simhash_md5_near_dup_pairs, equivalence pinned in pytest. The scan
    is fanned out first: the projection is pure CPU (per-shingle md5 +
    three regex passes) and the compressed text scan under-splits."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            "doc_id",
            T.rolling_fingerprint_md5("text").alias("fingerprint"),
            T.bpe_ish_token_count("text").alias("n_subword_tokens"),
        )
        .orderBy("doc_id")
    )


def _lang_id_oracle() -> str:
    # Generated from the same LANG_PROFILES the Spark side uses, so the
    # two can never drift. Tie-break mirrors array_max on struct(v, k):
    # max score, then max lang code. Scoring is the same substring-
    # membership form the Spark side uses (a profile bigram is in the
    # doc's distinct-bigram set iff position() finds it) — value-
    # identical to the original list_intersect-over-all-bigrams oracle
    # but without materializing the O(len) bigram list per doc, which
    # dominated this entry's oracle cost at the sf1 rehearsal.
    structs = ",\n           ".join(
        "{'k': '%s', 'v': CAST(%s AS DOUBLE) / %d}"
        % (
            lang,
            " + ".join(
                f"CAST(position('{g}' IN t) > 0 AS INT)" for g in profile
            ),
            len(profile),
        )
        for lang, profile in T.LANG_PROFILES.items()
    )
    return f"""
WITH g AS (
  SELECT doc_id, lang, lower(coalesce(text, '')) AS t FROM documents),
sc AS (
  SELECT doc_id, lang,
         unnest([{structs}]) AS s
  FROM g),
best AS (
  SELECT doc_id, lang, s.k AS detected_lang,
         row_number() OVER (PARTITION BY doc_id ORDER BY s.v DESC, s.k DESC) AS rn
  FROM sc)
SELECT lang, detected_lang, count(*) AS n
FROM best WHERE rn = 1
GROUP BY lang, detected_lang
ORDER BY lang, detected_lang
"""


@register("text_lang_id", tags=["U5"], oracle=_lang_id_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "lang", T.lang_id("text").alias("detected_lang"))
        .groupBy("lang", "detected_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "detected_lang")
    )


# --------------------------------------------------------------------------
# Similarity search over embeddings (U4).
# --------------------------------------------------------------------------


@register(
    "similarity_topk_cosine",
    headline=True,
    tags=["U4"],
    oracle="""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         CAST(list_dot_product(e.embedding::DOUBLE[], q.qvec::DOUBLE[])
              / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                 * sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[]))) AS FLOAT) AS cosine
  FROM embeddings e, q
  WHERE e.vec_id <> 0)
SELECT vec_id, cosine,
       CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
FROM scored
ORDER BY cosine DESC, vec_id
LIMIT 10
""",
)
def similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") == 0)
    return (
        S.cosine_topk(
            emb,
            queries,
            "vec_id",
            "embedding",
            k=10,
            query_id_col=None,
            # point lookup on the id: cardinality known to the caller,
            # so routing needs no probe job (F.broadcast-style hint)
            queries_count_hint=1,
        )
        .select("vec_id", "cosine", "rank")
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
    )


_ANN_DIM = 64  # embeddings table: array<float> of 64 (TESTDATA.md corpus)


def _ann_lsh_oracle(k: int = 5, n_planes: int = 12, n_tables: int = 4, seed: int = 42) -> str:
    """DuckDB twin of the FULL approximate LSH pipeline: identical
    literal ±1 planes → identical buckets → identical candidate set →
    identical exact rerank. Hash-checks the approximation itself, not
    just the rerank."""
    from ..functions.vector import rademacher_planes

    selects = []
    for t in range(n_tables):
        planes = rademacher_planes(n_planes, _ANN_DIM, seed=seed + 1000 * t)
        terms = "\n       + ".join(
            f"(CASE WHEN list_dot_product(v, [{', '.join(repr(x) for x in row)}]) >= 0"
            f" THEN {1 << p} ELSE 0 END)"
            for p, row in enumerate(planes)
        )
        selects.append(f"SELECT vec_id, {t} AS tbl, CAST({terms} AS BIGINT) AS bucket FROM e")
    union = "\n  UNION ALL\n  ".join(selects)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bk AS (
  {union}
),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS cid
  FROM bk q JOIN bk c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.vec_id < 4 AND c.vec_id <> q.vec_id),
scored AS (
  SELECT cand.q_id, cand.cid AS vec_id,
         CAST(list_dot_product(ce.v, qe.v)
              / (sqrt(list_dot_product(ce.v, ce.v)) * sqrt(list_dot_product(qe.v, qe.v)))
           AS FLOAT) AS cosine
  FROM cand JOIN e qe ON qe.vec_id = cand.q_id JOIN e ce ON ce.vec_id = cand.cid),
ranked AS (
  SELECT q_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
  FROM scored)
SELECT q_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k} ORDER BY q_id, rank
"""


@register("similarity_ann_lsh", tags=["U4"], oracle=_ann_lsh_oracle())
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH ANN (operators/similarity.ann_lsh_topk).
    Its planes are literal Rademacher ±1 components, so the oracle
    replays the exact bucketing; its recall vs brute force is pinned in
    tests."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 4)
    return (
        S.ann_lsh_topk(emb, queries, "vec_id", "embedding", k=5)
        .select("q_id", "vec_id", "cosine", "rank")
        .orderBy("q_id", "rank")
    )


def _ann_ivf_oracle(k: int = 5, n_centroids: int = 16, n_probe: int = 6) -> str:
    # Tie-break mirrors the Spark plan exactly: cell assignment =
    # first-max (s DESC, cell ASC), probe list = reverse(array_sort) =
    # (s DESC, cell DESC).
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS cv
  FROM e ORDER BY vec_id LIMIT {n_centroids}),
scored_cells AS (
  SELECT e.vec_id, e.v, cent.cell,
         list_dot_product(e.v, cent.cv)
           / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))) AS s
  FROM e CROSS JOIN cent),
assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
    FROM scored_cells) WHERE rn = 1),
qprobe AS (
  SELECT vec_id AS q_id, v AS qv, cell FROM (
    SELECT vec_id, v, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
    FROM scored_cells WHERE vec_id < 4) WHERE rn <= {n_probe}),
cand AS (
  SELECT qprobe.q_id, assign.vec_id, qprobe.qv, assign.v AS cv
  FROM assign JOIN qprobe ON assign.cell = qprobe.cell
  WHERE assign.vec_id <> qprobe.q_id),
scored AS (
  SELECT q_id, vec_id,
         CAST(list_dot_product(cv, qv)
              / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)))
           AS FLOAT) AS cosine
  FROM cand),
ranked AS (
  SELECT q_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
  FROM scored)
SELECT q_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k} ORDER BY q_id, rank
"""


@register("similarity_ann_ivf", tags=["U4"], oracle=_ann_ivf_oracle())
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN. The driver-checked form selects the
    n_centroids smallest vec_ids as centroids (centroids="first") so
    the DuckDB oracle can rebuild the identical quantizer and replay
    assignment + probing + rerank — a value-hash over the whole
    approximate pipeline. centroids="hash" (xxhash64 sampling) is the
    100 TB default; recall vs brute force pinned in tests."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 4)
    return (
        S.ann_ivf_topk(
            emb, queries, "vec_id", "embedding",
            k=5, n_centroids=16, n_probe=6, centroids="first",
        )
        .select("q_id", "vec_id", "cosine", "rank")
        .orderBy("q_id", "rank")
    )


def _ann_ivf_trained_oracle(
    k: int = 5, n_centroids: int = 16, n_probe: int = 6, n_iter: int = 3,
    dim: int = 64,
) -> str:
    """DuckDB replay of the FULL trained-IVF pipeline: the Lloyd
    rounds unrolled (one assign/update/carry CTE-triple per round) on
    top of the sampled-IVF search oracle. Possible at all because the
    engine's centroid update is quantized-integer (associative sums →
    bit-identical across engines, operators/similarity.
    KMEANS_UPDATE_SCALE) and ``init="first"`` is SQL-expressible; the
    assign-side cosine is the same expression the sampled oracle
    already proves bit-compatible. Empty cells carry their previous
    centroid (COALESCE) exactly like the engine."""
    S = "2147483648.0"  # KMEANS_UPDATE_SCALE (2^31)
    ctes = [
        """e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)""",
        f"""c1 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS cv
  FROM e ORDER BY vec_id LIMIT {n_centroids})""",
    ]
    for t in range(1, n_iter + 1):
        ctes.append(f"""a{t} AS MATERIALIZED (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, c.cv)
                      / (sqrt(list_dot_product(e.v, e.v))
                         * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.cell ASC) AS rn
    FROM e CROSS JOIN c{t} c) WHERE rn = 1)""")
        ctes.append(f"""u{t} AS MATERIALIZED (
  SELECT cell, list(CAST(q AS DOUBLE) / CAST(n AS DOUBLE) / {S} ORDER BY i) AS cv
  FROM (
    SELECT cell, i,
           sum(CAST(round(v[i] * {S}) AS BIGINT)) AS q,
           count(*) AS n
    FROM a{t}, LATERAL unnest(range(1, {dim + 1})) AS u(i)
    GROUP BY cell, i)
  GROUP BY cell)""")
        ctes.append(f"""c{t + 1} AS MATERIALIZED (
  SELECT c.cell, COALESCE(u.cv, c.cv) AS cv
  FROM c{t} c LEFT JOIN u{t} u USING (cell))""")
    cent = f"c{n_iter + 1}"
    return "WITH " + ",\n".join(ctes) + f""",
scored_cells AS (
  SELECT e.vec_id, e.v, cent.cell,
         list_dot_product(e.v, cent.cv)
           / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))) AS s
  FROM e CROSS JOIN {cent} cent),
assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
    FROM scored_cells) WHERE rn = 1),
qprobe AS (
  SELECT vec_id AS q_id, v AS qv, cell FROM (
    SELECT vec_id, v, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
    FROM scored_cells WHERE vec_id < 4) WHERE rn <= {n_probe}),
cand AS (
  SELECT qprobe.q_id, assign.vec_id, qprobe.qv, assign.v AS cv
  FROM assign JOIN qprobe ON assign.cell = qprobe.cell
  WHERE assign.vec_id <> qprobe.q_id),
scored AS (
  SELECT q_id, vec_id,
         CAST(list_dot_product(cv, qv)
              / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)))
           AS FLOAT) AS cosine
  FROM cand),
ranked AS (
  SELECT q_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
  FROM scored)
SELECT q_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k} ORDER BY q_id, rank
"""


@register(
    "similarity_ann_ivf_trained", tags=["U4"], oracle=_ann_ivf_trained_oracle()
)
def similarity_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over a TRAINED coarse quantizer (distributed Lloyd k-means,
    operators/similarity.kmeans_centroids) — previously rows-only
    because float-avg centroid updates were summation-order shaky; the
    quantized-integer update made training bit-deterministic, so the
    WHOLE train → search pipeline is now value-hash checked against a
    DuckDB replay of the Lloyd rounds (:func:`_ann_ivf_trained_oracle`).
    Recall vs brute force stays pinned in
    tests/test_dedup_similarity.py."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 4)
    return (
        S.ann_ivf_topk_kmeans(
            emb, queries, "vec_id", "embedding",
            k=5, n_centroids=16, n_probe=6, n_iter=3, init="first",
        )
        .select("q_id", "vec_id", "cosine", "rank")
        .orderBy("q_id", "rank")
    )


# --------------------------------------------------------------------------
# Product quantization (U4 scale path, operators/pq.py): m=4 subspaces
# × k=16 codewords over the 64-dim embeddings. The oracle-checked form
# uses the deterministic "k smallest ids" codebook init (the IVF
# centroids="first" convention) so DuckDB can rebuild the identical
# codebooks and replay encode + ADC search under a value hash; Lloyd-
# refined codebooks are the trained variant, pinned by recall tests.
# --------------------------------------------------------------------------

_PQ_M, _PQ_K, _PQ_DSUB = 4, 16, 16


def _pq_ctes() -> str:
    """Shared oracle CTEs: codebooks from the K smallest ids, per-
    (vector, subspace, codeword) squared distances, first-min codes."""
    d = _PQ_DSUB
    return f"""cw AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code,
         embedding::DOUBLE[] AS v
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_PQ_K})),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
d AS (
  SELECT e.vec_id, j.j, cw.code,
         list_sum(list_transform(range(1, {d + 1}),
           i -> (e.v[(j.j-1)*{d} + i] - cw.v[(j.j-1)*{d} + i])
              * (e.v[(j.j-1)*{d} + i] - cw.v[(j.j-1)*{d} + i]))) AS dist
  FROM e
  CROSS JOIN (SELECT unnest(range(1, {_PQ_M + 1})) AS j) j
  CROSS JOIN cw),
best AS (
  SELECT vec_id, j, code, dist,
         row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) AS rn
  FROM d)"""


def _pq_err_sum(col: str) -> str:
    # explicit j-ordered addition so the double fold associates the same
    # way as the Spark side (never a GROUP-BY-order-dependent sum)
    return " + ".join(f"max(CASE WHEN j={j} THEN {col} END)" for j in range(1, _PQ_M + 1))


@register(
    "embedding_pq_encode",
    tags=["U4"],
    oracle=f"""
WITH {_pq_ctes()}
SELECT vec_id,
       CAST(max(CASE WHEN j=1 THEN code END) AS INT) AS c0,
       CAST(max(CASE WHEN j=2 THEN code END) AS INT) AS c1,
       CAST(max(CASE WHEN j=3 THEN code END) AS INT) AS c2,
       CAST(max(CASE WHEN j=4 THEN code END) AS INT) AS c3,
       CAST({_pq_err_sum("dist")} AS FLOAT) AS pq_err
FROM best WHERE rn = 1
GROUP BY vec_id ORDER BY vec_id
""",
)
def embedding_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode of the whole corpus: 64 float32s → 4 codes (32× at
    k≤256 with m=8; 16× here). Codes + reconstruction error under the
    full value hash."""
    from ..operators.pq import pq_codebooks, pq_encode

    emb = fan_out(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    books = pq_codebooks(emb, "vec_id", "embedding", m=_PQ_M, k=_PQ_K, n_iter=0)
    enc = pq_encode(emb, "embedding", books)
    return enc.select(
        "vec_id",
        *[F.col("pq_codes")[j].alias(f"c{j}") for j in range(_PQ_M)],
        "pq_err",
    ).orderBy("vec_id")


@register(
    "embedding_pq_adc_topk",
    tags=["U4"],
    oracle=f"""
WITH {_pq_ctes()},
q AS (SELECT vec_id, v FROM e WHERE vec_id < 4),
adc AS (
  SELECT q.vec_id AS q_id, b.vec_id, b.j,
         list_sum(list_transform(range(1, {_PQ_DSUB + 1}),
           i -> (cwv.v[(b.j-1)*{_PQ_DSUB} + i] - q.v[(b.j-1)*{_PQ_DSUB} + i])
              * (cwv.v[(b.j-1)*{_PQ_DSUB} + i] - q.v[(b.j-1)*{_PQ_DSUB} + i]))) AS dj
  FROM best b
  JOIN cw cwv ON cwv.code = b.code
  CROSS JOIN q
  WHERE b.rn = 1 AND b.vec_id <> q.vec_id),
tot AS (
  SELECT q_id, vec_id,
         CAST(-({_pq_err_sum("dj")}) AS FLOAT) AS neg_adc_dist
  FROM adc GROUP BY q_id, vec_id),
ranked AS (
  SELECT q_id, vec_id, neg_adc_dist,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY neg_adc_dist DESC, vec_id) AS BIGINT) AS rank
  FROM tot)
SELECT q_id, vec_id, neg_adc_dist, rank FROM ranked WHERE rank <= 5
ORDER BY q_id, rank
""",
)
def embedding_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance PQ search: the corpus side is ONLY the code
    table (what a 100 TB ANN deployment scans); queries keep full
    precision. Hash-checked end-to-end against DuckDB replaying the
    identical codebooks, codes, and distance sums."""
    from ..operators.pq import pq_adc_topk, pq_codebooks, pq_encode

    emb = fan_out(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    books = pq_codebooks(emb, "vec_id", "embedding", m=_PQ_M, k=_PQ_K, n_iter=0)
    codes = pq_encode(emb, "embedding", books).select("vec_id", "pq_codes")
    queries = emb.filter(F.col("vec_id") < 4)
    return (
        pq_adc_topk(codes, queries, "vec_id", "embedding", books, k=5)
        .select("q_id", "vec_id", "neg_adc_dist", "rank")
        .orderBy("q_id", "rank")
    )


def _ivfpq_oracle(k: int = 5, n_centroids: int = 16, n_probe: int = 6) -> str:
    """IVF-PQ composite oracle: the IVF oracle's cell assignment +
    probe list, rescored with the PQ oracle's ADC distance — DuckDB
    replays coarse quantizer, codebooks, codes, and distance sums."""
    d = _PQ_DSUB
    return f"""
WITH {_pq_ctes()},
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS cv
  FROM e ORDER BY vec_id LIMIT {n_centroids}),
scored_cells AS (
  SELECT e.vec_id, e.v, cent.cell,
         list_dot_product(e.v, cent.cv)
           / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))) AS s
  FROM e CROSS JOIN cent),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
    FROM scored_cells) WHERE rn = 1),
qprobe AS (
  SELECT vec_id AS q_id, v AS qv, cell FROM (
    SELECT vec_id, v, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
    FROM scored_cells WHERE vec_id < 4) WHERE rn <= {n_probe}),
cand AS (
  SELECT qprobe.q_id, assign.vec_id, qprobe.qv
  FROM assign JOIN qprobe ON assign.cell = qprobe.cell
  WHERE assign.vec_id <> qprobe.q_id),
adc AS (
  SELECT c.q_id, c.vec_id, b.j,
         list_sum(list_transform(range(1, {d + 1}),
           i -> (cwv.v[(b.j-1)*{d} + i] - c.qv[(b.j-1)*{d} + i])
              * (cwv.v[(b.j-1)*{d} + i] - c.qv[(b.j-1)*{d} + i]))) AS dj
  FROM cand c
  JOIN best b ON b.vec_id = c.vec_id AND b.rn = 1
  JOIN cw cwv ON cwv.code = b.code),
tot AS (
  SELECT q_id, vec_id,
         CAST(-({_pq_err_sum("dj")}) AS FLOAT) AS neg_adc_dist
  FROM adc GROUP BY q_id, vec_id),
ranked AS (
  SELECT q_id, vec_id, neg_adc_dist,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY neg_adc_dist DESC, vec_id) AS BIGINT) AS rank
  FROM tot)
SELECT q_id, vec_id, neg_adc_dist, rank FROM ranked WHERE rank <= {k}
ORDER BY q_id, rank
"""


@register("similarity_ann_ivfpq", tags=["U4"], oracle=_ivfpq_oracle())
def similarity_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite (operators/pq.ivf_pq_topk): coarse cells prune
    the scan, PQ codes rank inside probed cells — the FAISS-style
    billion-scale layout. Deterministic "16 smallest ids" serve as both
    IVF centroids and PQ codeword init, so the full pipeline (both
    quantizers included) sits under the driver's value hash."""
    from ..operators.pq import ivf_pq_topk, pq_codebooks

    emb = fan_out(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    books = pq_codebooks(emb, "vec_id", "embedding", m=_PQ_M, k=_PQ_K, n_iter=0)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(16).collect()
    ]
    queries = emb.filter(F.col("vec_id") < 4)
    return (
        ivf_pq_topk(
            emb, queries, "vec_id", "embedding", books, cents, k=5, n_probe=6
        )
        .select("q_id", "vec_id", "neg_adc_dist", "rank")
        .orderBy("q_id", "rank")
    )


@register(
    "embedding_near_dup",
    tags=["U4", "W6"],
    oracle="""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
            / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
               * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
        AS FLOAT) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE CAST(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
           / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
              * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
       AS FLOAT) >= 0.45
ORDER BY id_a, id_b
""",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: exact O(n²) plan with a full value
    oracle. The threshold (0.45) is chosen so the oracle corpus — 500
    i.i.d. random vectors whose max pairwise cosine is ≈ 0.51 — yields
    a non-empty pair set; the previous 0.99 threshold green-lit
    vacuously (0 rows on both sides).

    At 100 TB the exact plan is replaced by
    operators/similarity.embedding_near_dup_pairs (the hyperplane-LSH
    bucket join of ann_lsh_topk + exact cosine filter, same output
    contract); its precision is pinned in
    tests/test_dedup_similarity.py. Random low-similarity corpora
    defeat LSH recall at low thresholds, so the driver-checked entry
    is the exact form."""
    # Blocked GEMM form of the exact plan (see
    # operators/similarity.exact_cosine_pairs_blocked): the sf1
    # rehearsal caught the naive non-equi self-join wedged for 20 min
    # on one core — a BroadcastNestedLoopJoin streams in O(file-split)
    # partitions and pays ~1 us/pair in the join iterator regardless
    # of how cheap the pair expression is. Block-matrix numpy turns
    # the same n² work into (n/B)²/2 BLAS calls. Cosine is division-
    # derived → f32 output per the repo float policy, so the blocked
    # result hashes identically to the join form (equality pinned in
    # tests/test_dedup_similarity.py).
    emb = fan_out(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    return S.exact_cosine_pairs_blocked(emb, "vec_id", "embedding", threshold=0.45)


@register(
    "embedding_label_norms",
    tags=["U4", "A5"],
    oracle="""
SELECT label,
       count(*) AS n_vecs,
       CAST(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS FLOAT)
         AS avg_norm
FROM embeddings
GROUP BY label
ORDER BY label
""",
)
def embedding_label_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import norm

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.avg(norm("embedding")).cast("float").alias("avg_norm"),
        )
        .orderBy("label")
    )


@register(
    "text_winnow_fingerprint_md5",
    tags=["U5"],
    oracle=r"""
SELECT doc_id,
       CASE WHEN len(words) >= 8
            THEN list_min(list_transform(
                   generate_series(1, len(words) - 7),
                   i -> md5(array_to_string(words[i:i+7], ' '))))
            ELSE md5(text) END AS fingerprint
FROM (SELECT doc_id, text,
             string_split_regex(text, '\s+') AS words
      FROM documents)
ORDER BY doc_id
""",
)
def text_winnow_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint with a cross-engine hash: min(md5) over
    word 8-shingles, falling back to md5(text) for short docs. Same
    scheme as text_rolling_fingerprint but oracle-checkable; the
    xxhash64 variant stays the scale path (8-byte hashes, no string
    materialization per gram). Fold-min + fan-out, same reasons as
    text_rolling_fingerprint."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    fp = T.rolling_fingerprint_md5("text", window=8)
    return docs.select("doc_id", fp.alias("fingerprint")).orderBy("doc_id")


# --------------------------------------------------------------------------
# Ranked retrieval (U5): BM25 top-k and sparse TF-IDF — the corpus-
# scale "score documents against a query" primitive (decontamination
# sweeps, quality-targeted sampling). Scores cast to float32 on both
# sides so last-ulp libm/summation-order differences cannot flip the
# hash; top-k ties broken by doc_id in both engines.
# --------------------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "window", "stream")
_BM25_K1, _BM25_B, _BM25_K = 1.2, 0.75, 10


@register(
    "text_bm25_topk",
    headline=True,
    tags=["U5", "W4"],
    oracle=rf"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents)
  WHERE tok <> ''),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
n_df AS (SELECT tok, count(DISTINCT doc_id) AS df_t FROM toks GROUP BY tok),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - n_df.df_t + 0.5) / (n_df.df_t + 0.5))
         * (tf.tf * ({_BM25_K1} + 1))
         / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))
         AS term_score
  FROM tf
  JOIN n_df ON n_df.tok = tf.tok
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  WHERE tf.tok IN {_BM25_TERMS!r}),
agg AS (
  SELECT doc_id, CAST(sum(term_score) AS FLOAT) AS score
  FROM scored GROUP BY doc_id)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
FROM agg
ORDER BY score DESC, doc_id
LIMIT {_BM25_K}
""",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(
        docs, list(_BM25_TERMS), "doc_id", "text",
        k=_BM25_K, k1=_BM25_K1, b=_BM25_B,
    )


@register(
    "text_tfidf_probe_terms",
    tags=["U5"],
    oracle=rf"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents)
  WHERE tok <> ''),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
n_df AS (SELECT tok, count(DISTINCT doc_id) AS df_t FROM toks GROUP BY tok),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
SELECT tf.doc_id AS doc_id,
       tf.tok AS term,
       CAST((CAST(tf.tf AS DOUBLE) / dl.dl) * ln(n.n_docs / n_df.df_t) AS FLOAT)
         AS tf_idf
FROM tf
JOIN dl ON dl.doc_id = tf.doc_id
JOIN n_df ON n_df.tok = tf.tok
CROSS JOIN n
WHERE tf.tok IN {_BM25_TERMS!r}
ORDER BY tf.doc_id, term
""",
)
def text_tfidf_probe_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import tfidf_vectors

    docs = load_table(spark, sf_dir, "documents")
    return (
        tfidf_vectors(docs, "doc_id", "text")
        .filter(F.col("term").isin(*_BM25_TERMS))
        .select("doc_id", "term", F.col("tf_idf").cast("float").alias("tf_idf"))
        .orderBy("doc_id", "term")
    )


# --------------------------------------------------------------------------
# End-to-end corpus curation (U5 + W6 composition) — the dataflow an
# LLM-training pipeline actually runs: exact-dedup the corpus, apply
# quality gates (token-count band + stopword-ratio floor), report
# per-source funnel counts. Every stage is an already-oracled operator;
# this entry proves they COMPOSE into one lazy plan (one shuffle per
# stage key, no Python).
# --------------------------------------------------------------------------

_CURATE_MIN_TOKENS, _CURATE_MAX_TOKENS = 20, 90
_CURATE_MIN_STOPWORD = 0.02


@register(
    "corpus_curation_funnel",
    tags=["U5", "W6"],
    oracle=f"""
WITH fp AS (
  SELECT doc_id, source, text, md5(text) AS fingerprint FROM documents),
keep AS (SELECT fingerprint, min(doc_id) AS keep_id FROM fp GROUP BY fingerprint),
dedup AS (
  SELECT f.doc_id, f.source, f.text
  FROM fp f JOIN keep k ON f.fingerprint = k.fingerprint AND f.doc_id = k.keep_id),
scored AS (
  SELECT doc_id, source,
         len(string_split_regex(text, '\\s+')) AS n_tokens,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
              w -> list_contains(['the','a','an','and','or','of','to','in','is','it'], w))) AS DOUBLE)
           / len(string_split_regex(text, '\\s+')) AS sw_ratio
  FROM dedup)
SELECT source,
       count(*) AS n_dedup,
       CAST(sum(CASE WHEN n_tokens BETWEEN {_CURATE_MIN_TOKENS} AND {_CURATE_MAX_TOKENS}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_token_band,
       CAST(sum(CASE WHEN n_tokens BETWEEN {_CURATE_MIN_TOKENS} AND {_CURATE_MAX_TOKENS}
                 AND sw_ratio >= {_CURATE_MIN_STOPWORD}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM scored GROUP BY source ORDER BY source
""",
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dedup = D.dedup_exact(docs, "text", "doc_id")
    scored = dedup.select(
        "source",
        T.token_count("text").alias("n_tokens"),
        T.stopword_ratio("text").alias("sw_ratio"),
    )
    in_band = F.col("n_tokens").between(_CURATE_MIN_TOKENS, _CURATE_MAX_TOKENS)
    kept = in_band & (F.col("sw_ratio") >= _CURATE_MIN_STOPWORD)
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_dedup"),
            F.sum(in_band.cast("long")).alias("n_token_band"),
            F.sum(kept.cast("long")).alias("n_kept"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Token-budget sharding (U5/W3): assign documents, in deterministic
# doc_id order, to training shards by cumulative token budget — the
# shard-assignment step before packing/serialization. Pure window
# cumsum, identical definition both engines; per-shard stats keep the
# output small and hash-stable.
# --------------------------------------------------------------------------

_SHARD_TOKEN_BUDGET = 2000


@register(
    "text_token_shards",
    tags=["U5", "W3"],
    oracle=f"""
WITH toks AS (
  SELECT doc_id, len(string_split_regex(text, '\\s+')) AS n_tokens FROM documents),
cum AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM toks),
sharded AS (
  SELECT doc_id, n_tokens,
         CAST(floor(CAST(cum_tokens - n_tokens AS DOUBLE) / {_SHARD_TOKEN_BUDGET}) AS BIGINT)
           AS shard_id
  FROM cum)
SELECT shard_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM sharded GROUP BY shard_id ORDER BY shard_id
""",
)
def text_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The global-order cumsum uses the two-phase range-partitioned
    # rewrite (operators/windows.scalable_cumsum), NOT a bare
    # `ORDER BY doc_id` window — that would collapse the corpus into
    # one partition, the canonical 100 TB scale-killer.
    from ..operators.windows import scalable_cumsum

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", T.token_count("text").alias("n_tokens"))
    sharded = scalable_cumsum(
        toks, ["doc_id"], "n_tokens", out_col="cum_tokens"
    ).withColumn(
        "shard_id",
        F.floor(
            (F.col("cum_tokens") - F.col("n_tokens")).cast("double")
            / _SHARD_TOKEN_BUDGET
        ),
    )
    return (
        sharded.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard_id")
    )


# --------------------------------------------------------------------------
# RAG-style text chunking (U5): overlapping fixed-size token windows —
# the retrieval-corpus preparation step. Pure column math (sequence →
# transform → slice → posexplode); chunk text round-trips through md5
# so the oracle hash-checks CONTENT, not just counts, cross-engine.
# --------------------------------------------------------------------------

_CHUNK_SIZE, _CHUNK_STRIDE = 40, 30  # 10-token overlap


@register(
    "text_chunking",
    tags=["U5", "P4"],
    oracle=rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
chunks AS (
  SELECT doc_id,
         CAST(i - 1 AS INT) AS chunk_idx,
         list_slice(t, (i - 1) * {_CHUNK_STRIDE} + 1,
                       (i - 1) * {_CHUNK_STRIDE} + {_CHUNK_SIZE}) AS c
  FROM toks,
       LATERAL unnest(range(1, greatest(CAST(ceil((len(t) - {_CHUNK_SIZE})
                / CAST({_CHUNK_STRIDE} AS DOUBLE)) AS BIGINT) + 1, 1) + 1)) AS r(i))
SELECT doc_id, chunk_idx,
       CAST(len(c) AS BIGINT) AS chunk_tokens,
       md5(array_to_string(c, ' ')) AS chunk_md5
FROM chunks
ORDER BY doc_id, chunk_idx
""",
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), r"\s+")
    # number of chunks: every token covered, last chunk may be short;
    # ceil((n - size)/stride) + 1, min 1 — identical formula both sides
    n_chunks = F.greatest(
        F.ceil(
            (F.size(t) - F.lit(_CHUNK_SIZE)).cast("double") / _CHUNK_STRIDE
        ).cast("long")
        + 1,
        F.lit(1).cast("long"),
    )
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.slice(t, i * _CHUNK_STRIDE + 1, _CHUNK_SIZE),
            )
        ).alias("chunk_idx", "c"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size("c").cast("long").alias("chunk_tokens"),
        F.md5(F.array_join("c", " ")).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_idx")


# --------------------------------------------------------------------------
# Int8 embedding quantization (U4): per-vector max-abs scaling to int8
# — the storage/bandwidth shrink (4x vs float32) a 100 TB embedding
# store applies before ANN. Column math only; the oracle recomputes
# the identical quantizer (round matches: both engines round half away
# from zero) and the output aggregates per-vector checksums so the
# hash covers every quantized component.
# --------------------------------------------------------------------------


@register(
    "embedding_int8_quantize",
    tags=["U4"],
    oracle="""
WITH scaled AS (
  SELECT vec_id,
         greatest(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))), 1e-12)
           AS max_abs
  FROM embeddings),
q AS (
  SELECT e.vec_id,
         CAST(s.max_abs AS FLOAT) AS scale,
         list_transform(e.embedding::DOUBLE[],
                        x -> CAST(round(x / s.max_abs * 127) AS BIGINT)) AS qv
  FROM embeddings e JOIN scaled s ON e.vec_id = s.vec_id)
SELECT vec_id, scale,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_min(qv) AS BIGINT) AS q_min,
       CAST(list_max(qv) AS BIGINT) AS q_max
FROM q ORDER BY vec_id
""",
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    max_abs = F.greatest(
        F.array_max(F.transform(xd, lambda x: F.abs(x))), F.lit(1e-12)
    )
    with_scale = emb.select("vec_id", xd.alias("xd"), max_abs.alias("max_abs"))
    qv = F.transform(
        F.col("xd"), lambda x: F.round(x / F.col("max_abs") * 127).cast("long")
    )
    return (
        with_scale.select(
            "vec_id",
            F.col("max_abs").cast("float").alias("scale"),
            qv.alias("qv"),
        )
        .select(
            "vec_id",
            "scale",
            F.aggregate("qv", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
            F.array_min("qv").alias("q_min"),
            F.array_max("qv").alias("q_max"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# Distributed PCA projection (U3+U4, operators/pca.py): the
# dimensionality-reduction front-end of an embedding pipeline. Train =
# one Arrow-batched Gram pass (d² int64 state per partition, model-
# sized collect) + fixed-init quantized power iteration on the driver;
# project = exact integer dot product against the trained direction.
# All cross-row arithmetic is integer, so the oracle replays the WHOLE
# train (Gram + 3 unrolled iterations) bit-exactly in DuckDB — the
# same contract as the trained-IVF k-means entry.
# --------------------------------------------------------------------------


_PCA_ORACLE = """
WITH e AS MATERIALIZED (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(floor(x * 1024.0 + 0.5) AS BIGINT)) AS q
  FROM embeddings),
g AS MATERIALIZED (
  SELECT i, j, sum(e.q[i] * e.q[j]) AS s
  FROM e, generate_series(1, 64) AS u1(i), generate_series(1, 64) AS u2(j)
  GROUP BY i, j),
it1 AS (SELECT i, s AS u FROM g WHERE j = 1),
v1 AS (SELECT i, CAST(floor(u * 32768.0 / (SELECT max(abs(u)) FROM it1) + 0.5) AS BIGINT) AS v FROM it1),
it2 AS (SELECT g.i, sum(g.s * v1.v) AS u FROM g JOIN v1 ON v1.i = g.j GROUP BY g.i),
v2 AS (SELECT i, CAST(floor(u * 32768.0 / (SELECT max(abs(u)) FROM it2) + 0.5) AS BIGINT) AS v FROM it2),
it3 AS (SELECT g.i, sum(g.s * v2.v) AS u FROM g JOIN v2 ON v2.i = g.j GROUP BY g.i),
v3 AS (SELECT i, CAST(floor(u * 32768.0 / (SELECT max(abs(u)) FROM it3) + 0.5) AS BIGINT) AS v FROM it3)
SELECT e.vec_id, e.label, CAST(sum(e.q[v3.i] * v3.v) AS BIGINT) AS pc1
FROM e, v3
GROUP BY e.vec_id, e.label
ORDER BY e.vec_id
"""


@register(
    "embedding_pca_project",
    headline=True,
    tags=["U3", "U4"],
    oracle=_PCA_ORACLE,
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pca import pca_power_project

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    return pca_power_project(emb, ["vec_id", "label"], "embedding").orderBy("vec_id")


# --------------------------------------------------------------------------
# Streaming/incremental PCA twin (streaming/pca.py): the Gram is an
# associative int64 aggregate, so per-micro-batch partials accumulated
# over an availableNow file stream sum to EXACTLY the offline Gram —
# trained direction and projections bit-identical, pinned against the
# SAME oracle as the batch entry. The production shape for model-state
# maintenance over an append-only embedding store: d² driver state,
# retrain without replaying history. Two staged files give two
# micro-batches, the fewest that still exercise the accumulation. The
# stage is a keyed work directory, built once per input; the checkpoint
# and partial store get a fresh unkeyed one per call, since a reused
# checkpoint would see no new files and fold an empty Gram.
# --------------------------------------------------------------------------


@register(
    "embedding_stream_pca_parity",
    tags=["T6", "U3", "U4"],
    oracle=_PCA_ORACLE,
)
def embedding_stream_pca_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators.pca import power_iteration, project_direction
    from ..session import work_dir
    from ..streaming.pca import stage_embeddings_as_stream_source, streaming_gram

    stage = work_dir(
        ("pca_stage", os.path.abspath(sf_dir)),
        lambda d: stage_embeddings_as_stream_source(spark, sf_dir, d, n_files=2),
    )
    G = streaming_gram(spark, stage, work_dir())
    p = power_iteration(G)
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    return project_direction(emb, ["vec_id", "label"], "embedding", p).orderBy(
        "vec_id"
    )


# --------------------------------------------------------------------------
# Zipf vocabulary statistics (U5+A5 — the corpus-health diagnostic
# run before tokenizer training: a healthy natural-language corpus has
# log-log rank/frequency slope near −1; templated or synthetic text
# bends it). Token counts are exact ints; the top-V cut is the
# deterministic (count desc, token asc) TakeOrderedAndProject; the OLS
# fit of ln(count) ~ ln(rank) runs as ONE aggregate over the top-V
# rows in f64 and surfaces as f32 — cross-engine libm/summation-order
# residue is ~V·2⁻⁵², ~2⁻²⁸ below the f32 cast's resolution.
# --------------------------------------------------------------------------

_ZIPF_TOP_V = 1000


@register(
    "text_zipf_vocab_stats",
    tags=["U5", "A5", "W4"],
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split_regex(text, '\\s+')) AS tok FROM documents),
t2 AS (SELECT tok FROM toks WHERE len(tok) > 0),
c AS (SELECT tok, count(*) AS n FROM t2 GROUP BY tok),
g AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size,
             CAST(sum(n) AS BIGINT) AS total_tokens FROM c),
top AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok ASC) AS r
        FROM c ORDER BY n DESC, tok ASC LIMIT {_ZIPF_TOP_V}),
f AS (SELECT CAST(count(*) AS DOUBLE) AS v,
             sum(ln(CAST(r AS DOUBLE))) AS sx,
             sum(ln(CAST(n AS DOUBLE))) AS sy,
             sum(ln(CAST(r AS DOUBLE)) * ln(CAST(n AS DOUBLE))) AS sxy,
             sum(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))) AS sxx
      FROM top)
SELECT g.vocab_size, g.total_tokens,
       CAST((f.v * f.sxy - f.sx * f.sy)
            / (f.v * f.sxx - f.sx * f.sx) AS FLOAT) AS zipf_slope,
       CAST((f.sy * f.sxx - f.sx * f.sxy)
            / (f.v * f.sxx - f.sx * f.sx) AS FLOAT) AS zipf_intercept
FROM g, f
""",
)
def text_zipf_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
    ).filter(F.length("tok") > 0)
    c = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    g = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum("n").cast("bigint").alias("total_tokens"),
    )
    from pyspark.sql.window import Window as W

    top = (
        c.orderBy(F.desc("n"), F.asc("tok"))
        .limit(_ZIPF_TOP_V)
        .withColumn(
            "r", F.row_number().over(W.orderBy(F.desc("n"), F.asc("tok")))
        )
    )
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("n").cast("double"))
    f = top.agg(
        F.count(F.lit(1)).cast("double").alias("v"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    den = F.col("v") * F.col("sxx") - F.col("sx") * F.col("sx")
    return g.crossJoin(F.broadcast(f)).select(
        "vocab_size",
        "total_tokens",
        ((F.col("v") * F.col("sxy") - F.col("sx") * F.col("sy")) / den)
        .cast("float")
        .alias("zipf_slope"),
        ((F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")) / den)
        .cast("float")
        .alias("zipf_intercept"),
    )


# --------------------------------------------------------------------------
# Embedding dimension correlation (A5+U4 depth — the redundancy
# diagnostic run before PCA/quantization: near-±1 dimension pairs mean
# wasted width). Pearson correlation of the QUANTIZED embedding matrix
# (the operator's documented contract — quantization makes every
# cross-row aggregate exact): ONE augmented Gram pass (operators/pca.
# gram_matrix over q ++ [1], so G carries Σqᵢqⱼ, the per-dim sums in
# its last column AND n in its corner — model-sized d+1² state), then
# corr(i,j) = (n·Sᵢⱼ − SᵢSⱼ)/√((n·Sᵢᵢ−Sᵢ²)(n·Sⱼⱼ−Sⱼ²)) on the driver
# from exact ints with one IEEE multiply/sqrt/divide — replayed
# bit-exactly by the oracle from the same integer CTEs. f32 surface
# per the float policy; constant dims → NULL on both engines.
# --------------------------------------------------------------------------


@register(
    "embedding_dim_correlation",
    tags=["A5", "U4"],
    oracle="""
WITH e AS MATERIALIZED (
  SELECT list_append(
           list_transform(embedding, x -> CAST(floor(x * 1024.0 + 0.5) AS BIGINT)),
           CAST(1 AS BIGINT)) AS q
  FROM embeddings),
g AS MATERIALIZED (
  SELECT i, j, sum(e.q[i] * e.q[j]) AS s
  FROM e, generate_series(1, 65) AS u1(i), generate_series(1, 65) AS u2(j)
  WHERE i <= j GROUP BY i, j),
sx AS (SELECT i, s FROM g WHERE j = 65 AND i < 65),
dg AS (SELECT i, s FROM g WHERE i = j AND i < 65),
nn AS (SELECT s AS n FROM g WHERE i = 65 AND j = 65),
pairs AS (
  -- HUGEINT (int128) for the n*S products: with |q| <= ~1025 the
  -- BIGINT envelope n^2 * 2^20 < 2^63 only holds to n ~ 3e6 rows —
  -- within 10x of plausible corpus sizes. The engine side is immune
  -- (Python driver ints are arbitrary precision); int128 moves the
  -- oracle's bound to n ~ 1e16 (r14 ADVICE).
  SELECT go.i AS i, go.j AS j,
         CAST((SELECT n FROM nn) AS HUGEINT) * go.s
           - CAST(si.s AS HUGEINT) * sj.s AS num,
         CAST((SELECT n FROM nn) AS HUGEINT) * di.s
           - CAST(si.s AS HUGEINT) * si.s AS dx,
         CAST((SELECT n FROM nn) AS HUGEINT) * dj.s
           - CAST(sj.s AS HUGEINT) * sj.s AS dy
  FROM g go
  JOIN sx si ON si.i = go.i
  JOIN sx sj ON sj.i = go.j
  JOIN dg di ON di.i = go.i
  JOIN dg dj ON dj.i = go.j
  WHERE go.i < go.j AND go.j < 65)
SELECT i, j,
       CASE WHEN dx = 0 OR dy = 0 THEN NULL
            ELSE CAST(CAST(num AS DOUBLE)
                      / sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)) AS FLOAT)
       END AS corr
FROM pairs ORDER BY i, j
""",
)
def embedding_dim_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..operators.pca import gram_matrix, quantize_vec

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    qa = F.concat(
        quantize_vec(F.col("embedding")), F.array(F.lit(1).cast("long"))
    )
    G = gram_matrix(emb.select(qa.alias("q")), "q")
    d = len(G) - 1
    # The oracle's generate_series bound is the 64-dim testdata schema
    # plus the augment column; a schema drift would silently compare
    # different matrices, so pin it here (r14 ADVICE).
    assert d == 64, (
        f"embedding width {d} != 64: the DuckDB oracle's hard-coded "
        "series bound (65) no longer matches the table schema"
    )
    n = G[d][d]
    S = [G[i][d] for i in range(d)]
    rows = []
    for i in range(d):
        dx = n * G[i][i] - S[i] * S[i]
        for j in range(i + 1, d):
            dy = n * G[j][j] - S[j] * S[j]
            num = n * G[i][j] - S[i] * S[j]
            c = (
                None
                if dx == 0 or dy == 0
                else float(num) / math.sqrt(float(dx) * float(dy))
            )
            rows.append((i + 1, j + 1, c))
    return spark.createDataFrame(rows, "i long, j long, corr float").orderBy(
        "i", "j"
    )


# --------------------------------------------------------------------------
# Temperature-scaled domain mixture resample (U5/W1): the α-smoothing
# sampler used to rebalance multi-domain pretraining corpora (public
# scheme — exponential smoothing as in XLM/mT5 data sampling). Domain
# quotas come from a one-row-per-domain model aggregate; selection is
# the same deterministic md5-order draw the stratified sampler uses.
# The oracle pins the EXACT kept set via an integer id checksum.
# --------------------------------------------------------------------------

_MIX_ALPHA = 0.5
_MIX_BUDGET = 300


@register(
    "corpus_domain_mixture_sample",
    tags=["U5", "W1", "A5"],
    oracle=f"""
WITH counts AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
tw AS (SELECT sum(pow(n_docs, {_MIX_ALPHA})) AS w FROM counts),
quotas AS (
  SELECT source, n_docs,
         least(n_docs,
               CAST(round({_MIX_BUDGET} * pow(n_docs, {_MIX_ALPHA})
                          / (SELECT w FROM tw)) AS BIGINT)) AS quota
  FROM counts),
ranked AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
SELECT r.source,
       q.n_docs AS n_before,
       CAST(q.quota AS BIGINT) AS n_kept,
       CAST(sum(r.doc_id) AS BIGINT) AS sum_kept_ids
FROM ranked r JOIN quotas q USING (source)
WHERE r.rn <= q.quota
GROUP BY r.source, q.n_docs, q.quota
ORDER BY source
""",
)
def corpus_domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import domain_mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = domain_mixture_sample(
        docs, "doc_id", "source", alpha=_MIX_ALPHA, budget=_MIX_BUDGET
    )
    before = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_before"))
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").cast("bigint").alias("sum_kept_ids"),
        )
        .join(F.broadcast(before), "source")
        .select("source", "n_before", "n_kept", "sum_kept_ids")
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Deterministic corpus splitting (U5): train/val assignment must be a
# pure function of the document id — never random() — so reruns,
# backfills and cross-engine audits agree row-for-row. The bucket is
# the first 8 hex digits of md5(doc_id), a scheme both engines compute
# identically (same trick as the winnowing fingerprint). xxhash64 is
# the cheaper in-engine alternative when cross-engine replay isn't
# needed.
# --------------------------------------------------------------------------

_VAL_PCT = 5  # bucket < 5% of 2^32 → validation


_SPLIT_MOD = 100


@register(
    "corpus_hash_split",
    tags=["U5"],
    oracle=rf"""
WITH b AS (
  SELECT source,
         len(string_split_regex(text, '\s+')) AS n_tokens,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % {_SPLIT_MOD} AS bucket
  FROM documents)
SELECT source,
       CASE WHEN bucket < {_VAL_PCT} THEN 'val' ELSE 'train' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM b GROUP BY source, split ORDER BY source, split
""",
)
def corpus_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % _SPLIT_MOD
    )
    split = F.when(bucket < _VAL_PCT, F.lit("val")).otherwise(F.lit("train"))
    return (
        docs.select(
            "source", split.alias("split"), T.token_count("text").alias("n_tokens")
        )
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
        .orderBy("source", "split")
    )


# --------------------------------------------------------------------------
# Stratified deterministic sampling (U5/W1): k documents per source,
# chosen by md5 order — a reproducible "take a representative sample
# of every stratum" primitive (data audits, eval-set construction).
# Per-group top-k rides the same partitioned row_number the other W1
# entries use; the hash order makes the choice stable cross-engine.
# --------------------------------------------------------------------------

_STRATA_K = 3


@register(
    "corpus_stratified_sample",
    tags=["U5", "W1"],
    oracle=f"""
WITH ranked AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
SELECT source, doc_id, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {_STRATA_K}
ORDER BY source, rn
""",
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("source", "doc_id", F.row_number().over(w).cast("long").alias("rn"))
        .filter(F.col("rn") <= _STRATA_K)
        .orderBy("source", "rn")
    )


# --------------------------------------------------------------------------
# Decontamination sweep (W6/U4 cross-table shape): score the corpus
# against a "benchmark" table (here: every 25th document plays the
# benchmark role) with the two-table exact n-gram Jaccard join — the
# R x S similarity join whose cost is the benchmark's footprint in the
# corpus, never corpus². Low threshold on purpose: decontamination
# wants partial-overlap hits.
# --------------------------------------------------------------------------

_DECON_THRESHOLD = 0.02


@register(
    "decontamination_overlap",
    tags=["W6", "U4"],
    oracle=rf"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 <> 0),
bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
sh_c AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(string_split_regex(text,'\s+')) - 2, 0) + 1),
                   i -> concat_ws(' ',
                        string_split_regex(text,'\s+')[i],
                        string_split_regex(text,'\s+')[i+1],
                        string_split_regex(text,'\s+')[i+2])))) AS g
  FROM corpus),
sh_b AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(string_split_regex(text,'\s+')) - 2, 0) + 1),
                   i -> concat_ws(' ',
                        string_split_regex(text,'\s+')[i],
                        string_split_regex(text,'\s+')[i+1],
                        string_split_regex(text,'\s+')[i+2])))) AS g
  FROM bench),
sz_c AS (SELECT doc_id, count(*) AS n_c FROM sh_c GROUP BY doc_id),
sz_b AS (SELECT doc_id, count(*) AS n_b FROM sh_b GROUP BY doc_id),
inter AS (
  SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id, count(*) AS n_inter
  FROM sh_c c JOIN sh_b b ON c.g = b.g
  GROUP BY 1, 2)
SELECT corpus_id, bench_id,
       CAST(n_inter AS DOUBLE) / (sc.n_c + sb.n_b - n_inter) AS jaccard
FROM inter
JOIN sz_c sc ON sc.doc_id = corpus_id
JOIN sz_b sb ON sb.doc_id = bench_id
WHERE CAST(n_inter AS DOUBLE) / (sc.n_c + sb.n_b - n_inter) >= {_DECON_THRESHOLD}
ORDER BY corpus_id, bench_id
""",
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 25 != 0).select(
        F.col("doc_id").alias("corpus_id"), "text"
    )
    bench = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return D.ngram_jaccard_join_two_tables(
        corpus, bench, "corpus_id", "bench_id", "text",
        shingle_size=3, threshold=_DECON_THRESHOLD,
    ).orderBy("corpus_id", "bench_id")


@register(
    "text_normalized_exact_dedup",
    tags=["W6", "U5"],
    oracle="""
WITH fp AS (
  SELECT doc_id, source,
         md5(text) AS fp_raw,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp_norm
  FROM documents),
keep_raw AS (SELECT fp_raw, min(doc_id) AS doc_id FROM fp GROUP BY fp_raw),
keep_norm AS (SELECT fp_norm, min(doc_id) AS doc_id FROM fp GROUP BY fp_norm)
SELECT f.source,
       count(*) AS n_docs,
       count(kr.doc_id) AS n_kept_raw,
       count(kn.doc_id) AS n_kept_norm
FROM fp f
LEFT JOIN keep_raw kr ON f.fp_raw = kr.fp_raw AND f.doc_id = kr.doc_id
LEFT JOIN keep_norm kn ON f.fp_norm = kn.fp_norm AND f.doc_id = kn.doc_id
GROUP BY f.source
ORDER BY f.source
""",
)
def text_normalized_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on NORMALIZED text (functions/text.normalize_text —
    the C4-style case/punctuation/whitespace canonicalization) next to
    the raw-fingerprint baseline: norm dedup keeps ≤ raw dedup, and the
    gap measures formatting-only duplication. Same two-narrow-shuffle
    plan as dedup_exact, once per fingerprint."""
    # Same keeper-census shape as text_fingerprint_exact_dedup: min_by
    # carries each keeper's source through the fingerprint groupBy, so
    # the old plan's two semi joins and two joins back to the corpus by
    # id (four 100%-of-rows exchanges) become three tiny per-source
    # aggregates joined on source.
    docs = load_table(spark, sf_dir, "documents")
    kept_raw = (
        D.dedup_exact_keepers(docs, "text", "doc_id", "source")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept_raw"))
    )
    kept_norm = (
        D.dedup_exact_keepers(
            docs.withColumn("__norm", T.normalize_text("text")),
            "__norm",
            "doc_id",
            "source",
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept_norm"))
    )
    return (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(kept_raw, "source", "left")
        .join(kept_norm, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_kept_raw"), F.lit(0)).cast("long").alias("n_kept_raw"),
            F.coalesce(F.col("n_kept_norm"), F.lit(0)).cast("long").alias("n_kept_norm"),
        )
        .orderBy("source")
    )


@register(
    "docs_incremental_dedup_parity",
    tags=["T6", "W6", "U4"],
    oracle=rf"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(string_split_regex(text,'\s+')) - 2, 0) + 1),
                   i -> concat_ws(' ',
                        string_split_regex(text,'\s+')[i],
                        string_split_regex(text,'\s+')[i+1],
                        string_split_regex(text,'\s+')[i+2])))) AS g
  FROM documents),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.6),
d AS (
  SELECT doc.doc_id, doc.source,
         doc.doc_id IN (SELECT id_b FROM pairs) AS dropped
  FROM documents doc)
SELECT source,
       count(*) AS n_docs,
       count(*) FILTER (WHERE NOT dropped) AS n_kept,
       CAST(sum(CASE WHEN NOT dropped THEN doc_id ELSE 0 END) AS BIGINT) AS kept_checksum
FROM d GROUP BY source ORDER BY source
""",
)
def docs_incremental_dedup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL (crawl-ingest) near-dup filter under the driver
    value hash: documents arrive as four id-ordered batches, each
    filtered against the accumulated MinHash band store
    (streaming/docs.incremental_near_dup_filter); under id-ordered
    arrival the kept set must equal the offline rule "keep iff no
    smaller-id neighbor at exact Jaccard ≥ 0.6" — which the oracle
    computes directly from the exhaustive pair join. Hash-equality here
    covers both the incremental state machinery AND perfect LSH recall
    at b=8/r=4 on this corpus."""
    from ..session import work_dir
    from ..streaming.docs import incremental_near_dup_filter

    docs = load_table(spark, sf_dir, "documents")
    # Id-ordered ~quartile batches from THREE boundary ids (one
    # distributed approx-percentile agg, collected driver-side — 3 ints,
    # model-sized). The kept set is boundary-independent: offline-rule
    # equality holds for ANY id-ordered split, so approximate quartiles
    # are as correct as exact ones. This replaces the earlier
    # ntile-over-global-order window, whose single-partition sort of the
    # whole table re-executed in every batch's lineage AND every kept
    # join (~8× per run — 27 s → 16 s at sf1); with boundary literals
    # each batch is a doc_id range predicate PUSHED to the parquet scan,
    # so a batch reads only its own row groups — the shape a real
    # streaming source gives for free.
    b1, b2, b3 = (
        int(v)
        for v in docs.agg(
            F.percentile_approx("doc_id", [0.25, 0.5, 0.75], 10000)
        ).first()[0]
    )
    ranges = [
        F.col("doc_id") <= b1,
        (F.col("doc_id") > b1) & (F.col("doc_id") <= b2),
        (F.col("doc_id") > b2) & (F.col("doc_id") <= b3),
        F.col("doc_id") > b3,
    ]
    store = work_dir()
    kept_frames = []
    for pred in ranges:
        batch = docs.filter(pred)
        kept_frames.append(
            incremental_near_dup_filter(spark, batch, store).select("doc_id", "source")
        )
    kept = kept_frames[0]
    for f in kept_frames[1:]:
        kept = kept.unionByName(f)
    kept = kept.withColumn("__kept", F.lit(1))
    return (
        docs.join(kept.select("doc_id", "__kept"), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("__kept").alias("n_kept"),
            F.sum(F.when(F.col("__kept").isNotNull(), F.col("doc_id")).otherwise(0))
            .cast("bigint")
            .alias("kept_checksum"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# CCNet-style duplicated-passage removal (W6/U5): fingerprint every
# non-overlapping token chunk corpus-wide, keep only first occurrences,
# rebuild documents. The passage-level complement to the whole-document
# exact dedup above — kills shared boilerplate inside otherwise-unique
# docs. Keeper choice is a map-side-combinable groupBy().min(), never a
# window sort over the hot fingerprints (operators/dedup.py:
# chunk_exact_dedup for the scale analysis).
# --------------------------------------------------------------------------

_CDD_SIZE = 40


@register(
    "text_chunk_dedup",
    tags=["W6", "U5"],
    oracle=rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
chunks AS (
  SELECT doc_id,
         CAST(i - 1 AS BIGINT) AS chunk_idx,
         list_slice(t, (i - 1) * {_CDD_SIZE} + 1,
                       (i - 1) * {_CDD_SIZE} + {_CDD_SIZE}) AS c
  FROM toks,
       LATERAL unnest(range(1, greatest(CAST(ceil((len(t) - {_CDD_SIZE})
                / CAST({_CDD_SIZE} AS DOUBLE)) AS BIGINT) + 1, 1) + 1)) AS r(i)),
fp AS (
  SELECT doc_id, chunk_idx, c,
         md5(array_to_string(c, ' ')) AS f,
         doc_id * 1000000 + chunk_idx AS k
  FROM chunks),
keep AS (SELECT f, min(k) AS keep_k FROM fp GROUP BY f),
marked AS (
  SELECT fp.doc_id, fp.chunk_idx, fp.c, (fp.k = keep.keep_k) AS kept
  FROM fp JOIN keep ON fp.f = keep.f)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN kept THEN array_to_string(c, ' ') END,
                           ' ' ORDER BY chunk_idx), '') AS new_text
FROM marked GROUP BY doc_id ORDER BY doc_id
""",
)
def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.chunk_exact_dedup(docs, "text", "doc_id", chunk_size=_CDD_SIZE).orderBy(
        "doc_id"
    )


# --------------------------------------------------------------------------
# Sequence packing (U5/W3): concatenate-and-cut assignment of documents
# to fixed-length training sequences, sharded so no global sort exists
# (operators/packing.py for the scale analysis). Output is the per-doc
# pack index a trainer's data loader consumes.
# --------------------------------------------------------------------------

_PACK_L = 256
_PACK_SHARDS = 8


@register(
    "corpus_sequence_pack",
    tags=["U5", "W3"],
    oracle=rf"""
WITH b AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % {_PACK_SHARDS} AS shard,
         CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_excl
  FROM b)
SELECT doc_id, shard, n_tokens,
       CAST(shard * 1000000000000 + cum_excl // {_PACK_L} AS BIGINT) AS pack_id,
       CAST(cum_excl % {_PACK_L} AS BIGINT) AS offset_in_pack,
       (cum_excl % {_PACK_L}) + n_tokens > {_PACK_L} AS spans_boundary
FROM c ORDER BY doc_id
""",
)
def corpus_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import sequence_pack

    docs = load_table(spark, sf_dir, "documents")
    return sequence_pack(
        docs, context_len=_PACK_L, n_shards=_PACK_SHARDS
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# k-NN label vote (U4): classify query vectors by majority vote of
# their k nearest neighbors — the standard "label new data from the
# labeled corpus" primitive (auto-labeling, eval-set sanity checks).
# Exact brute-force rerank here (query set is broadcast-small and the
# oracle must be exact); at corpus scale the neighbor search swaps to
# the IVF/IVF-PQ operators with the same vote tail.
# --------------------------------------------------------------------------

_KNN_K = 10


@register(
    "embedding_knn_label_vote",
    tags=["U4", "W1"],
    oracle=f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv, label AS qlabel
  FROM embeddings WHERE vec_id % 25 = 7),
scored AS (
  SELECT q.qid, q.qlabel, e.vec_id, e.label,
         CAST(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[])
              / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                 * sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))) AS FLOAT)
           AS cosine
  FROM embeddings e, q WHERE e.vec_id <> q.qid),
knn AS (
  SELECT * FROM (
    SELECT qid, qlabel, vec_id, label,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, vec_id) AS rn
    FROM scored) WHERE rn <= {_KNN_K}),
votes AS (
  SELECT qid, qlabel, label, count(*) AS votes
  FROM knn GROUP BY qid, qlabel, label),
pred AS (
  SELECT qid, qlabel, label, votes,
         row_number() OVER (PARTITION BY qid
                            ORDER BY votes DESC, label) AS vr
  FROM votes)
SELECT qid AS vec_id,
       CAST(qlabel AS INT) AS true_label,
       CAST(label AS INT) AS pred_label,
       CAST(votes AS BIGINT) AS votes
FROM pred WHERE vr = 1 ORDER BY vec_id
""",
)
def embedding_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") % 25 == 7)
    knn = S.cosine_topk(emb, q, "vec_id", "embedding", k=_KNN_K)
    nbr = knn.join(emb.select("vec_id", "label"), "vec_id")
    votes = nbr.groupBy("q_vec_id", "label").agg(F.count(F.lit(1)).alias("votes"))
    w = W.partitionBy("q_vec_id").orderBy(F.desc("votes"), F.asc("label"))
    pred = votes.withColumn("vr", F.row_number().over(w)).filter(F.col("vr") == 1)
    return (
        pred.join(
            q.select(
                F.col("vec_id").alias("q_vec_id"), F.col("label").alias("true_label")
            ),
            "q_vec_id",
        )
        .select(
            F.col("q_vec_id").alias("vec_id"),
            F.col("true_label").cast("int").alias("true_label"),
            F.col("label").cast("int").alias("pred_label"),
            F.col("votes").cast("long").alias("votes"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# Vocabulary induction + OOV coverage (U5): build the top-V token
# vocabulary from corpus frequencies (the word-level skeleton of BPE
# vocab training) and measure per-source out-of-vocabulary rate — the
# tokenizer-fit audit a pipeline runs before committing to a vocab.
# Scale: token counts are map-side combinable; the vocab is top-V
# (TakeOrdered, never a global sort) and model-sized → broadcast to
# tag the token stream. One wide shuffle on token, one on source.
# --------------------------------------------------------------------------

_VOCAB_V = 50


@register(
    "text_vocab_coverage",
    tags=["U5", "W4"],
    oracle=rf"""
WITH tok AS (
  SELECT source, unnest(string_split_regex(text, '\s+')) AS t FROM documents),
cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
vocab AS (SELECT t FROM cnt ORDER BY c DESC, t LIMIT {_VOCAB_V})
SELECT source,
       CAST(count(*) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN tok.t IN (SELECT t FROM vocab) THEN 0 ELSE 1 END)
            AS BIGINT) AS oov_tokens,
       CAST(sum(CASE WHEN tok.t IN (SELECT t FROM vocab) THEN 0 ELSE 1 END)
            / CAST(count(*) AS DOUBLE) AS FLOAT) AS oov_rate
FROM tok GROUP BY source ORDER BY source
""",
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.col("text"), r"\s+")).alias("t")
    )
    vocab = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("t"))
        .limit(_VOCAB_V)
        .select("t", F.lit(1).alias("__v"))
    )
    tagged = tok.join(F.broadcast(vocab), "t", "left")
    return (
        tagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.sum(F.when(F.col("__v").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("oov_tokens"),
        )
        .select(
            "source",
            "total_tokens",
            "oov_tokens",
            (F.col("oov_tokens") / F.col("total_tokens").cast("double"))
            .cast("float")
            .alias("oov_rate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Leakage-safe corpus split (W6/U5): train/val assignment keyed on the
# near-dup CLUSTER representative, not the document id — so a document
# and its near-duplicates can never straddle the split boundary (the
# classic eval-contamination bug a doc-id hash split silently commits).
# Composition: near-dup pairs (skew-routed prefix/AllPairs join) →
# connected components (bounded min-label rounds) → md5 bucket of the
# representative. Singletons are their own representative, so the
# assignment degrades to the plain hash split exactly where no
# duplicate structure exists.
# --------------------------------------------------------------------------

_LEAK_MOD, _LEAK_VAL_PCT = 100, 10


@register(
    "corpus_leakage_safe_split",
    tags=["W6", "U5"],
    oracle=rf"""
WITH RECURSIVE
sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(string_split_regex(text,'\s+')) - 2, 0) + 1),
                   i -> concat_ws(' ',
                        string_split_regex(text,'\s+')[i],
                        string_split_regex(text,'\s+')[i+1],
                        string_split_regex(text,'\s+')[i+2])))) AS g
  FROM documents),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)
        >= {_JACCARD_THRESHOLD}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(id, comp) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.id),
comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
rep AS (
  SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS rep_id
  FROM documents d LEFT JOIN comps c ON c.id = d.doc_id)
SELECT doc_id, rep_id,
       CASE WHEN CAST(('0x' || substring(md5(CAST(rep_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % {_LEAK_MOD} < {_LEAK_VAL_PCT}
            THEN 'val' ELSE 'train' END AS split
FROM rep ORDER BY doc_id
""",
)
def corpus_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cluster import connected_components

    docs = load_table(spark, sf_dir, "documents")
    # Star-expanded edge list, NOT the full pair set: components (and
    # therefore min-id reps and the split) are identical, but collapsed
    # duplicate clusters contribute k−1 edges instead of k²/2 pairs —
    # the difference between this entry being the worst sf1-rehearsal
    # entry (937 s, clique form) and an ordinary one.
    pairs = D.ngram_near_dup_edges(
        docs, "doc_id", "text", shingle_size=3, threshold=_JACCARD_THRESHOLD
    )
    membership = connected_components(pairs, "id_a", "id_b").select(
        F.col("id").alias("doc_id"), F.col("comp").alias("rep_id")
    )
    rep = (
        docs.select("doc_id")
        .join(membership, "doc_id", "left")
        .withColumn("rep_id", F.coalesce("rep_id", F.col("doc_id")))
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("rep_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % _LEAK_MOD
    )
    return rep.select(
        "doc_id",
        "rep_id",
        F.when(bucket < _LEAK_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Heavy hitters via mergeable Misra-Gries sketch + exact recount
# (operators/sketch.py). The sketch pass shuffles ONLY per-partition
# summaries (<= capacity rows each, never raw tokens); the recount is a
# candidate-only aggregate — the two-pass exact heavy-hitters plan that
# survives 100 TB. The oracle is the plain exact top-k: with capacity
# 4096 the merged MG bound n/(m+1) sits far below the k-th frequency on
# this corpus, so the sketch path provably returns the exact answer.
# --------------------------------------------------------------------------

_HH_K = 20


@register(
    "text_token_topk_sketch",
    headline=True,  # fences the MG-sketch mapInPandas + recount path
    tags=["U3", "A5", "W4"],
    oracle=rf"""
WITH toks AS (
  SELECT unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
c AS (SELECT tok, count(*) AS n_occurrences FROM toks WHERE tok <> '' GROUP BY tok)
SELECT tok, n_occurrences FROM c
ORDER BY n_occurrences DESC, tok LIMIT {_HH_K}
""",
)
def text_token_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import heavy_hitters_topk

    docs = load_table(spark, sf_dir, "documents")
    return heavy_hitters_topk(docs, "doc_id", "text", k=_HH_K, capacity=4096)


# --------------------------------------------------------------------------
# DSIR-style importance resampling (operators/sampling.py): score docs
# by mean token log(P_target/P_source) against the corpus's own 'en'
# subset as target, draw ∝ weight via seedless md5-Gumbel top-k. The
# selection key is rounded to 1e-4 pre-rank on BOTH sides so the
# double-ulp noise of the token-log mean cannot flip an ordering.
# --------------------------------------------------------------------------

_DSIR_BUDGET = 200


@register(
    "corpus_importance_resample",
    tags=["U5", "A5", "W4"],
    oracle=rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
src AS (SELECT tok, CAST(count(*) AS DOUBLE) AS sc FROM toks GROUP BY tok),
tgtc AS (
  SELECT unnest(string_split_regex(text, '\s+')) AS tok FROM documents
  WHERE lang = 'en'),
tgt AS (SELECT tok, CAST(count(*) AS DOUBLE) AS tc FROM tgtc GROUP BY tok),
stats AS (
  SELECT (SELECT sum(sc) FROM src) AS ns,
         (SELECT CAST(count(*) AS DOUBLE) FROM src) AS v,
         (SELECT sum(tc) FROM tgt) AS nt),
scored AS (
  SELECT t.doc_id,
         avg(ln((coalesce(g.tc, 0) + 1.0) / (stats.nt + stats.v))
             - ln((s.sc + 1.0) / (stats.ns + stats.v))) AS log_ratio
  FROM toks t JOIN src s USING (tok) LEFT JOIN tgt g USING (tok)
  CROSS JOIN stats
  GROUP BY t.doc_id),
keyed AS (
  SELECT doc_id, log_ratio,
         round(log_ratio - ln(-ln(
           (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            + 0.5) / 4294967296.0)), 4) AS gkey
  FROM scored),
ranked AS (
  SELECT doc_id, log_ratio,
         row_number() OVER (ORDER BY gkey DESC, doc_id) AS rank
  FROM keyed)
SELECT CAST(rank AS BIGINT) AS rank, doc_id, CAST(log_ratio AS FLOAT) AS log_ratio
FROM ranked WHERE rank <= {_DSIR_BUDGET} ORDER BY rank
""",
)
def corpus_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import importance_resample

    docs = load_table(spark, sf_dir, "documents")
    return importance_resample(
        docs, "doc_id", "text", F.col("lang") == "en", budget=_DSIR_BUDGET
    )


# --------------------------------------------------------------------------
# Streaming heavy hitters (streaming/sketch.py): documents drain as 4
# micro-batches through a per-bucket Misra-Gries applyInPandasWithState
# operator; the union of emitted candidates is recounted exactly in
# batch. Same candidate/recount contract as text_token_topk_sketch, so
# the SAME exact-top-k oracle hash-checks the whole streaming state
# machinery end-to-end.
# --------------------------------------------------------------------------


@register(
    "docs_stream_topk_parity",
    tags=["T4", "U3", "A5", "W4"],
    oracle=rf"""
WITH toks AS (
  SELECT unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
c AS (SELECT tok, count(*) AS n_occurrences FROM toks WHERE tok <> '' GROUP BY tok)
SELECT tok, n_occurrences FROM c
ORDER BY n_occurrences DESC, tok LIMIT {_HH_K}
""",
)
def docs_stream_topk_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import uuid

    from ..session import work_dir
    from ..streaming.events import run_to_memory
    from ..streaming.sketch import (
        read_docs_stream,
        running_token_sketch,
        stage_docs_as_stream_source,
    )

    stage = work_dir(
        ("docs_stage", os.path.abspath(sf_dir)),
        lambda d: stage_docs_as_stream_source(spark, sf_dir, d, n_files=4),
    )
    name = f"stream_topk_{uuid.uuid4().hex[:8]}"
    run_to_memory(
        running_token_sketch(read_docs_stream(spark, stage)),
        name,
        output_mode="update",
    )
    cands = spark.table(name).select("tok").distinct()
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    return (
        toks.join(F.broadcast(cands), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("tok"))
        .limit(_HH_K)
    )


# --------------------------------------------------------------------------
# Hybrid retrieval with reciprocal-rank fusion (U4+U5 composition —
# the modern RAG retrieval shape): BM25 lexical candidates and exact
# dense-cosine candidates, fused by RRF score Σ 1/(60 + rank). Both
# legs are already-oracled operators; fusion is a full-outer join of
# two depth-20 lists — model-sized, so the fuse stage is free at any
# corpus scale (the legs carry the cost, each already scale-shaped).
# --------------------------------------------------------------------------

_RRF_K0, _RRF_DEPTH, _RRF_OUT = 60, 20, 10


@register(
    "text_hybrid_retrieval_rrf",
    tags=["U4", "U5", "W4"],
    oracle=rf"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents)
  WHERE tok <> ''),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
n_df AS (SELECT tok, count(DISTINCT doc_id) AS df_t FROM toks GROUP BY tok),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - n_df.df_t + 0.5) / (n_df.df_t + 0.5))
         * (tf.tf * ({_BM25_K1} + 1))
         / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))
         AS term_score
  FROM tf
  JOIN n_df ON n_df.tok = tf.tok
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  WHERE tf.tok IN {_BM25_TERMS!r}),
agg AS (
  SELECT doc_id, CAST(sum(term_score) AS FLOAT) AS score
  FROM scored GROUP BY doc_id),
lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
  FROM agg ORDER BY score DESC, doc_id LIMIT {_RRF_DEPTH}),
q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
dscored AS (
  SELECT e.vec_id,
         CAST(list_dot_product(e.embedding::DOUBLE[], q.qvec::DOUBLE[])
              / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                 * sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[]))) AS FLOAT) AS cosine
  FROM embeddings e, q
  WHERE e.vec_id <> 0),
dense AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT) AS dense_rank
  FROM dscored ORDER BY cosine DESC, vec_id LIMIT {_RRF_DEPTH}),
fused AS (
  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id, l.lex_rank, d.dense_rank,
         CAST(coalesce(1.0 / ({_RRF_K0} + l.lex_rank), 0)
              + coalesce(1.0 / ({_RRF_K0} + d.dense_rank), 0) AS FLOAT) AS rrf_score
  FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id)
SELECT doc_id, lex_rank, dense_rank, rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {_RRF_OUT}
""",
)
def text_hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import bm25_topk
    from ..operators.similarity import cosine_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    lex = bm25_topk(
        docs, list(_BM25_TERMS), "doc_id", "text",
        k=_RRF_DEPTH, k1=_BM25_K1, b=_BM25_B,
    ).select("doc_id", F.col("rank").cast("long").alias("lex_rank"))
    dense = cosine_topk(
        emb, emb.filter(F.col("vec_id") == 0), "vec_id", "embedding", k=_RRF_DEPTH
    ).select(F.col("vec_id").alias("doc_id"), F.col("rank").alias("dense_rank"))
    fused = lex.join(dense, "doc_id", "full_outer")
    rrf = (
        F.coalesce(1.0 / (F.lit(_RRF_K0) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(_RRF_K0) + F.col("dense_rank")), F.lit(0.0))
    ).cast("float")
    return (
        fused.withColumn("rrf_score", rrf)
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(_RRF_OUT)
        .select("doc_id", "lex_rank", "dense_rank", "rrf_score")
    )


# --------------------------------------------------------------------------
# BPE merge training (operators/bpe.py): learn subword merges from the
# corpus's own word frequencies — Sennrich et al. 2016, trained as
# Spark aggregates over the (vocabulary-sized) word-frequency table.
# No SQL oracle on purpose: the training loop is iterative with
# driver-held model state (the driver records the weaker rows-only
# check); correctness is pinned in tests/test_round6_fixes.py against
# an independent plain-Python reference implementation plus the
# classic fixed example, and determinism follows from integer-only
# (count desc, pair asc) selection.
# --------------------------------------------------------------------------

_BPE_MERGES = 20


def _bpe_oracle(
    n_merges: int, min_pair_count: int = 2, final_vocab: bool = False
) -> str:
    """DuckDB twin of the FULL iterative BPE training loop, unrolled
    one CTE-triple per merge round (the _logreg_oracle device applied
    to symbol sequences). Words are carried as fully-space-delimited
    symbol strings — ``' c  a  t  </w> '`` — legal because tokens are
    ``\\s+``-split so symbols can never contain whitespace; applying a
    merge is then a literal ``replace(' a  b ' → ' ab ')``, whose
    left-to-right non-overlapping semantics are exactly the engine's
    left-greedy fold (operators/bpe._apply_merge). Pair counting
    re-lists the symbols and zips adjacent positions (overlap-counting,
    like _adjacent_pairs); the per-round argmax uses the same
    (count DESC, left ASC, right ASC) binary-collation tie-break. A
    round with no pair ≥ min_pair_count yields an empty best CTE —
    words pass through unchanged and no merge row is emitted, which is
    value-identical to the engine's early break (a no-op round can
    never un-stall). CTEs are MATERIALIZED: w{t} is referenced twice
    per round, and inlining would re-expand the corpus scan 2^rounds
    times."""
    ctes = ["""w1 AS MATERIALIZED (
  SELECT ' ' || array_to_string(string_split(word, ''), '  ') || '  </w> ' AS s,
         count(*) AS n
  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS word FROM documents)
  WHERE word <> ''
  GROUP BY 1)"""]
    for t in range(1, n_merges + 1):
        ctes.append(f"""p{t} AS MATERIALIZED (
  SELECT syms[i] AS a, syms[i + 1] AS b, sum(n) AS c
  FROM (SELECT n, list_filter(string_split(s, ' '), x -> x <> '') AS syms FROM w{t}),
       LATERAL unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2)""")
        ctes.append(f"""best{t} AS (
  SELECT a, b, c FROM p{t} WHERE c >= {min_pair_count}
  ORDER BY c DESC, a, b LIMIT 1)""")
        if t < n_merges or final_vocab:
            ctes.append(f"""w{t + 1} AS MATERIALIZED (
  SELECT CASE WHEN best.a IS NULL THEN w.s
         ELSE replace(w.s, ' ' || best.a || '  ' || best.b || ' ',
                           ' ' || best.a || best.b || ' ') END AS s,
         w.n
  FROM w{t} w LEFT JOIN best{t} best ON TRUE)""")
    union = "\nUNION ALL\n".join(
        f'SELECT CAST({t} AS INT) AS step, a AS "left", b AS "right",'
        f" a || b AS merged, CAST(c AS BIGINT) AS pair_count FROM best{t}"
        for t in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + union + "\nORDER BY step"


def _bpe_encode_oracle(n_merges: int, top_k: int, min_pair_count: int = 2) -> str:
    """Oracle for train → ENCODE → count: the same unrolled training
    chain, but with the final round's merge also APPLIED (final_vocab),
    then the post-training symbol inventory counted corpus-weighted —
    each vocabulary word's subword sequence times its corpus frequency.
    The w{T} strings ARE the segmentation, so encoding costs no extra
    machinery beyond one more replace round."""
    train = _bpe_oracle(n_merges, min_pair_count, final_vocab=True)
    chain = train[: train.rindex("\nSELECT CAST(1 AS INT)")]  # drop the merge UNION
    assert chain.startswith("WITH ")
    return f"""{chain}
SELECT sym AS token, CAST(sum(n) AS BIGINT) AS corpus_count
FROM (SELECT n, list_filter(string_split(s, ' '), x -> x <> '') AS syms
      FROM w{n_merges + 1}),
     LATERAL unnest(syms) AS u(sym)
GROUP BY 1
ORDER BY corpus_count DESC, token
LIMIT {top_k}
"""


@register("text_bpe_merge_train", tags=["U5", "A5"], oracle=_bpe_oracle(20))
def text_bpe_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine BPE merge training (operators/bpe.train_bpe_merges:
    one corpus-scale word-frequency scan, then vocabulary-sized rounds
    of count-pairs → argmax → apply), previously rows-only — now
    value-hash checked against the fully unrolled DuckDB replay of the
    training loop (:func:`_bpe_oracle`)."""
    from ..operators.bpe import train_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, "text", n_merges=_BPE_MERGES)
    return spark.createDataFrame(
        [
            (m["step"], m["left"], m["right"], m["merged"], m["pair_count"])
            for m in merges
        ],
        "step int, left string, right string, merged string, pair_count long",
    ).orderBy("step")


@register(
    "text_bpe_corpus_encode",
    tags=["U5", "A5"],
    oracle=_bpe_encode_oracle(_BPE_MERGES, top_k=50),
)
def text_bpe_corpus_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained tokenizer APPLIED — train merges in-engine, segment
    the word vocabulary with them (operators/bpe.bpe_segment_words:
    |merges| row-local folds over the vocab frame, never the corpus),
    and report the top-50 subword tokens by corpus-weighted count —
    the token-budget accounting a training pipeline runs after
    tokenizer training. Corpus cost: ONE word-frequency scan shared by
    train and encode; everything after is vocabulary-sized. The oracle
    replays training with the final merge also applied and counts the
    same segmentation."""
    from ..operators.bpe import (
        bpe_segment_words,
        train_bpe_merges,
        word_freq_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    words = word_freq_table(docs, "text").localCheckpoint(eager=True)
    merges = train_bpe_merges(docs, "text", n_merges=_BPE_MERGES)
    seg = bpe_segment_words(words, "word", merges)
    return (
        seg.select(F.explode("sym").alias("token"), "n")
        .groupBy("token")
        .agg(F.sum("n").cast("bigint").alias("corpus_count"))
        .orderBy(F.desc("corpus_count"), "token")
        .limit(50)
    )


# --------------------------------------------------------------------------
# Chi-squared discriminative terms (r14, U5 depth — the feature-
# selection pass a quality-classifier pipeline runs before training:
# which tokens are most associated with a domain label; Manning/IR
# chapter 13 formulation). Doc-level presence contingency per (term,
# source): a = docs in the class containing the term, b = other docs
# containing it, c = class docs without it, d = the rest;
# chi2 = N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)). Every cell is an exact
# integer from two aggregates (term x class counts + term totals) and
# one broadcastable class census; the statistic is the same IEEE
# multiply/divide sequence on both engines, so the per-class top-5
# ranking (chi2 desc, term asc) is bit-stable. Terms absent from a
# class (a = 0) participate — negative association discriminates too.
# --------------------------------------------------------------------------


@register(
    "text_chi2_discriminative_terms",
    tags=["U5", "A5", "W1"],
    oracle=r"""
WITH dt AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_distinct(string_split_regex(text, '\s+'))) AS term
  FROM documents),
cls AS (SELECT source, count(*) AS nc FROM documents GROUP BY source),
n AS (SELECT count(*) AS n FROM documents),
tc AS (SELECT term, source, count(*) AS a FROM dt GROUP BY term, source),
tt AS (SELECT term, sum(a) AS t_tot FROM tc GROUP BY term),
grid AS (
  SELECT tt.term, cls.source, cls.nc, tt.t_tot,
         coalesce(tc.a, 0) AS a
  FROM tt CROSS JOIN cls
  LEFT JOIN tc ON tc.term = tt.term AND tc.source = cls.source),
cells AS (
  SELECT term, source,
         CAST(a AS BIGINT) AS a,
         CAST(t_tot - a AS BIGINT) AS b,
         CAST(nc - a AS BIGINT) AS c,
         CAST((SELECT n FROM n) - nc - (t_tot - a) AS BIGINT) AS d
  FROM grid),
scored AS (
  SELECT term, source,
         CASE WHEN (a+b) = 0 OR (c+d) = 0 OR (a+c) = 0 OR (b+d) = 0 THEN NULL
              ELSE CAST((SELECT n FROM n) AS DOUBLE)
                   * CAST(a*d - b*c AS DOUBLE) * CAST(a*d - b*c AS DOUBLE)
                   / (CAST(a+b AS DOUBLE) * CAST(c+d AS DOUBLE)
                      * CAST(a+c AS DOUBLE) * CAST(b+d AS DOUBLE))
         END AS chi2
  FROM cells),
ranked AS (
  SELECT source, term, CAST(chi2 AS FLOAT) AS chi2,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY chi2 DESC, term ASC) AS INT) AS rank
  FROM scored WHERE chi2 IS NOT NULL)
SELECT source, term, chi2, rank FROM ranked WHERE rank <= 5
ORDER BY source, rank
""",
)
def text_chi2_discriminative_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id", "source", F.explode(F.array_distinct(F.split("text", r"\s+"))).alias("term")
    ).distinct()
    # class census + corpus size: model-sized driver collect (a handful
    # of sources), broadcast back as literals
    cls_rows = docs.groupBy("source").agg(F.count(F.lit(1)).alias("nc")).collect()
    n = sum(int(r["nc"]) for r in cls_rows)
    cls = docs.sparkSession.createDataFrame(
        [(r["source"], int(r["nc"])) for r in cls_rows], "source string, nc long"
    )
    tc = dt.groupBy("term", "source").agg(F.count(F.lit(1)).alias("a"))
    tt = tc.groupBy("term").agg(F.sum("a").alias("t_tot"))
    grid = (
        tt.crossJoin(F.broadcast(cls))
        .join(tc, ["term", "source"], "left")
        .na.fill({"a": 0})
    )
    a = F.col("a").cast("long")
    b = (F.col("t_tot") - F.col("a")).cast("long")
    c = (F.col("nc") - F.col("a")).cast("long")
    d = (F.lit(n) - F.col("nc") - (F.col("t_tot") - F.col("a"))).cast("long")
    diff = (a * d - b * c).cast("double")
    den = (
        (a + b).cast("double") * (c + d).cast("double")
        * (a + c).cast("double") * (b + d).cast("double")
    )
    chi2 = F.when(
        ((a + b) == 0) | ((c + d) == 0) | ((a + c) == 0) | ((b + d) == 0), None
    ).otherwise(F.lit(float(n)) * diff * diff / den)
    w = W.partitionBy("source").orderBy(F.desc("chi2"), F.asc("term"))
    return (
        grid.withColumn("chi2", chi2)
        .filter(F.col("chi2").isNotNull())
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("source", "term", F.col("chi2").cast("float").alias("chi2"), "rank")
        .orderBy("source", "rank")
    )


# --------------------------------------------------------------------------
# Bigram lift collocations (r14, U5 depth — phrase mining for tokenizer
# and n-gram vocabulary construction): lift = P(ab) / (P(a)P(b)), the
# log-free monotone twin of PMI, so the ranking is identical while
# every value derives from exact integer counts with the same IEEE
# divide/multiply sequence on both engines (no cross-libm log). Bigram
# and unigram counts are occurrence counts (not doc-level), one
# explode + groupBy each with map-side combine; the two corpus totals
# are a model-sized 1-row aggregate broadcast as literals.
# --------------------------------------------------------------------------

_LIFT_MIN_COUNT = 5


@register(
    "text_bigram_lift_collocations",
    tags=["U5", "A5", "W4"],
    oracle=rf"""
WITH w AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
uni AS (
  SELECT unnest(ws) AS t FROM w),
u AS (SELECT t, count(*) AS c FROM uni GROUP BY t),
nu AS (SELECT count(*) AS nu FROM uni),
bi AS (
  SELECT unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                i -> concat_ws(' ', ws[i], ws[i+1]))) AS bg,
         unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                i -> ws[i])) AS t1,
         unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                i -> ws[i+1])) AS t2
  FROM w),
b AS (SELECT bg, t1, t2, count(*) AS cab FROM bi GROUP BY bg, t1, t2
      HAVING count(*) >= {_LIFT_MIN_COUNT}),
nb AS (SELECT count(*) AS nb FROM bi),
scored AS (
  SELECT b.bg AS bigram, b.cab AS n_ab,
         (CAST(b.cab AS DOUBLE) / (SELECT nb FROM nb))
         / ((CAST(u1.c AS DOUBLE) / (SELECT nu FROM nu))
            * (CAST(u2.c AS DOUBLE) / (SELECT nu FROM nu))) AS lift
  FROM b JOIN u u1 ON u1.t = b.t1 JOIN u u2 ON u2.t = b.t2)
SELECT bigram, CAST(n_ab AS BIGINT) AS n_ab, CAST(lift AS FLOAT) AS lift,
       CAST(row_number() OVER (ORDER BY lift DESC, bigram ASC) AS INT) AS rank
FROM scored ORDER BY lift DESC, bigram ASC LIMIT 20
""",
)
def text_bigram_lift_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    w = docs.select(F.split("text", r"\s+").alias("ws"))
    uni = w.select(F.explode("ws").alias("t"))
    u = uni.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    nu = uni.count()
    bi = w.select(
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(ws) - 1, 0)),"
                " i -> struct(concat_ws(' ', ws[i-1], ws[i]) as bg,"
                " ws[i-1] as t1, ws[i] as t2))"
            )
        ).alias("p")
    ).select("p.bg", "p.t1", "p.t2")
    nb = bi.count()
    b = (
        bi.groupBy("bg", "t1", "t2")
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= _LIFT_MIN_COUNT)
    )
    scored = (
        b.join(u.select(F.col("t").alias("t1"), F.col("c").alias("c1")), "t1")
        .join(u.select(F.col("t").alias("t2"), F.col("c").alias("c2")), "t2")
        .select(
            F.col("bg").alias("bigram"),
            F.col("cab").cast("long").alias("n_ab"),
            (
                (F.col("cab").cast("double") / F.lit(float(nb)))
                / (
                    (F.col("c1").cast("double") / F.lit(float(nu)))
                    * (F.col("c2").cast("double") / F.lit(float(nu)))
                )
            ).alias("lift"),
        )
    )
    # distributed top-k first (TakeOrderedAndProject — no global
    # single-partition window sort over the vocabulary-sized frame),
    # THEN rank the 20 survivors with a trivial window
    win = W.orderBy(F.desc("lift"), F.asc("bigram"))
    return (
        scored.orderBy(F.desc("lift"), F.asc("bigram"))
        .limit(20)
        .withColumn("rank", F.row_number().over(win).cast("int"))
        .select("bigram", "n_ab", F.col("lift").cast("float").alias("lift"), "rank")
        .orderBy(F.desc("lift"), F.asc("bigram"))
    )


# --------------------------------------------------------------------------
# Retrieval-quality evaluation (r14 continuation, U5/W4): MRR@10 and
# hits@10 of single-term BM25 rankings against a deterministic
# relevance label (tf >= 3 — "the term is actually about this doc").
# The eval layer is exact integer math end to end: reciprocal ranks
# are scaled by 720720 (divisible by every 1..16, so 720720 DIV rank
# is exact for any cutoff <= 16) and hit counts are plain BIGINTs —
# no libm beyond the already-pinned BM25 idf ln. Scale: each term's
# ranking is the distributed TakeOrdered top-k from bm25_topk (never a
# global sort); the label probe is row-local HOF math on the document
# scan; the k×|terms| survivor frame is broadcast into the label join.
# Reference parity: mirrors the reference's retrieval smoke-eval the
# way its tests score ranked output (see SURVEY §2 U5).
# --------------------------------------------------------------------------

_EVAL_TERMS = ("spark", "join", "window", "stream")
_EVAL_K = 10
_EVAL_MIN_TF = 3
_RR_SCALE = 720720  # lcm(1..16): DIV by any rank 1..16 stays exact


@register(
    "retrieval_eval_mrr",
    tags=["U5", "W4"],
    oracle=rf"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents)
  WHERE tok <> ''),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
n_df AS (SELECT tok, count(DISTINCT doc_id) AS df_t FROM toks GROUP BY tok),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
scored AS (
  SELECT tf.tok AS term, tf.doc_id,
         CAST(ln(1.0 + (stats.n_docs - n_df.df_t + 0.5) / (n_df.df_t + 0.5))
         * (tf.tf * ({_BM25_K1} + 1))
         / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))
         AS FLOAT) AS score
  FROM tf
  JOIN n_df ON n_df.tok = tf.tok
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  WHERE tf.tok IN {_EVAL_TERMS!r}),
ranked AS (
  SELECT term, doc_id,
         row_number() OVER (PARTITION BY term
                            ORDER BY score DESC, doc_id) AS rnk
  FROM scored),
top AS (SELECT term, doc_id, rnk FROM ranked WHERE rnk <= {_EVAL_K}),
rel AS (SELECT tok AS term, doc_id FROM tf
        WHERE tok IN {_EVAL_TERMS!r} AND tf >= {_EVAL_MIN_TF}),
n_rel AS (SELECT term, count(*) AS n_relevant FROM rel GROUP BY term),
hit AS (SELECT top.term, count(*) AS hits_at_10, min(top.rnk) AS best
        FROM top JOIN rel ON rel.term = top.term AND rel.doc_id = top.doc_id
        GROUP BY top.term)
SELECT n_rel.term AS term,
       CAST(n_rel.n_relevant AS BIGINT) AS n_relevant,
       CAST(coalesce(hit.hits_at_10, 0) AS BIGINT) AS hits_at_10,
       CAST(CASE WHEN hit.best IS NULL THEN 0
                 ELSE {_RR_SCALE} // hit.best END AS BIGINT) AS rr_at_10_scaled
FROM n_rel LEFT JOIN hit ON hit.term = n_rel.term
ORDER BY term
""",
)
def retrieval_eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import bm25_topk_per_term

    docs = load_table(spark, sf_dir, "documents")
    # one shared tokenize/tf/dl/df pass for all terms (the per-term
    # bm25_topk loop re-ran the token pipeline |terms| times — 4x the
    # scan cost on this 4-term eval); per-term rankings are still
    # independent TakeOrdered jobs, value-identical (single-term score
    # is the same double expression, cast f32 at the same point)
    tops = bm25_topk_per_term(docs, list(_EVAL_TERMS), k=_EVAL_K).select(
        "term", "doc_id", F.col("rank").alias("rnk")
    )
    # Relevance labels: row-local term-frequency probes on the scan —
    # one pass over documents, no token shuffle for the label side.
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))

    # NB: a two-parameter lambda would be bound as (element, index) by
    # F.filter — the term must be closed over via a factory instead.
    def _tf(term: str):
        return F.size(F.filter(words, lambda x: x == F.lit(term)))

    probes = F.array(
        *[
            F.struct(F.lit(t).alias("term"), _tf(t).alias("tf"))
            for t in _EVAL_TERMS
        ]
    )
    labeled = (
        docs.select("doc_id", F.explode(probes).alias("p"))
        .select("doc_id", F.col("p.term").alias("term"), F.col("p.tf").alias("tf"))
        .filter(F.col("tf") >= _EVAL_MIN_TF)
    )
    n_rel = labeled.groupBy("term").agg(F.count(F.lit(1)).alias("n_relevant"))
    hits = (
        labeled.join(F.broadcast(tops), ["term", "doc_id"])
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("hits_at_10"),
            F.min("rnk").alias("best"),
        )
    )
    return (
        n_rel.join(hits, "term", "left")
        .select(
            "term",
            F.col("n_relevant").cast("long").alias("n_relevant"),
            F.coalesce(F.col("hits_at_10"), F.lit(0)).cast("long").alias("hits_at_10"),
            F.when(F.col("best").isNull(), F.lit(0))
            .otherwise(F.expr(f"{_RR_SCALE} DIV best"))
            .cast("long")
            .alias("rr_at_10_scaled"),
        )
        .orderBy("term")
    )


# --------------------------------------------------------------------------
# Cross-source vocabulary overlap (r14 continuation, U5/A5): pairwise
# Jaccard between the sources' distinct-token vocabularies — the
# "how much do my crawl slices share" census that drives mixture
# weighting decisions. Jaccard is quantized by exact integer division
# ((n_inter·1e6) DIV (n_a + n_b − n_inter)) so the hash is libm-free.
# Scale: ONE shuffle on token (distinct + groupBy); pair generation is
# a row-local HOF over each token's <= |sources| membership array, so
# the fan-out is bounded by C(|sources|, 2) per token regardless of
# corpus size — never a vocabulary self-join. The oracle takes the
# opposite formulation (vocab self-join on token) so the hash
# cross-checks the HOF pair enumeration against the join semantics.
# --------------------------------------------------------------------------


@register(
    "corpus_source_overlap",
    tags=["U5", "A5"],
    oracle=r"""
WITH vocab AS (
  SELECT DISTINCT source, tok FROM (
    SELECT source, unnest(string_split_regex(text, '\s+')) AS tok FROM documents)
  WHERE tok <> ''),
sizes AS (SELECT source, count(*) AS n FROM vocab GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
  FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2)
SELECT inter.source_a, inter.source_b,
       CAST(inter.n_shared AS BIGINT) AS n_shared,
       CAST((inter.n_shared * 1000000)
            // (sa.n + sb.n - inter.n_shared) AS BIGINT) AS jaccard_micro
FROM inter
JOIN sizes sa ON sa.source = inter.source_a
JOIN sizes sb ON sb.source = inter.source_b
ORDER BY source_a, source_b
""",
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
    vocab = docs.select("source", F.explode(words).alias("tok")).distinct()
    srcs = (
        vocab.groupBy("tok")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
    )
    # pairs within each token's sorted membership array — row-local,
    # bounded by C(|sources|, 2) per token
    pairs = srcs.select(
        F.explode(
            F.flatten(
                F.expr(
                    "transform(srcs, (x, i) -> "
                    "transform(slice(srcs, i + 2, size(srcs)), "
                    "y -> struct(x AS a, y AS b)))"
                )
            )
        ).alias("p")
    ).select(F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b"))
    inter = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.expr("(n_shared * 1000000) DIV (na + nb - n_shared)")
            .cast("long")
            .alias("jaccard_micro"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# Per-document lexical diversity (r14 continuation, U5/P14): the
# unbiased Gini–Simpson index 1 − Σ nᵢ(nᵢ−1) / (N(N−1)) over token
# frequencies — a log-free quality signal (repetitive spam → low
# diversity) next to the entropy-flavored Gopher battery. Pure
# rationals quantized by exact integer division, so the value is
# bit-identical across engines by construction. Scale: the WHOLE
# computation is row-local whole-stage-codegen HOF math — sort the
# token array, fold run-lengths into Σ nᵢ(nᵢ−1) with one aggregate()
# pass — zero shuffles, zero UDFs; the oracle takes the opposite
# formulation (explode + GROUP BY doc, token) to cross-check the fold.
# --------------------------------------------------------------------------


@register(
    "text_simpson_diversity",
    tags=["U5", "P14"],
    oracle=r"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents)
  WHERE tok <> ''),
counts AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok),
per_doc AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(c * (c - 1)) AS BIGINT) AS same_pairs
  FROM counts GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(CASE WHEN coalesce(p.n_tokens, 0) >= 2
                 THEN ((p.n_tokens * (p.n_tokens - 1) - p.same_pairs) * 1000000)
                      // (p.n_tokens * (p.n_tokens - 1))
                 ELSE NULL END AS BIGINT) AS simpson_micro
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
ORDER BY d.doc_id
""",
)
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    words = F.array_sort(
        F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
    )
    # run-length fold over the sorted array: Σ nᵢ(nᵢ−1) in one pass.
    # Tokens are nonempty post-filter, so "" is a safe initial prev.
    same_pairs = F.aggregate(
        words,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("acc"),
        ),
        lambda st, tok: F.struct(
            tok.alias("prev"),
            F.when(tok == st["prev"], st["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(tok == st["prev"], st["acc"])
            .otherwise(st["acc"] + st["run"] * (st["run"] - 1))
            .alias("acc"),
        ),
        lambda st: st["acc"] + st["run"] * (st["run"] - 1),
    )
    return (
        docs.select(
            "doc_id",
            F.size(words).cast("long").alias("n_tokens"),
            same_pairs.alias("same_pairs"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.when(
                F.col("n_tokens") >= 2,
                F.expr(
                    "((n_tokens * (n_tokens - 1) - same_pairs) * 1000000)"
                    " DIV (n_tokens * (n_tokens - 1))"
                ),
            )
            .cast("long")
            .alias("simpson_micro"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# ANN index-quality evaluation (r14 continuation, U4/A5): recall@10 of
# the IVF index against exact brute-force cosine truth, per query —
# the eval loop an embedding-dedup/retrieval deployment runs before
# trusting an index at 100 TB. Both rankings are the established
# bit-stable pipelines (the brute-force f32 ranking of
# similarity_topk_cosine, the replayable centroids="first" IVF of
# similarity_ann_ivf); the eval layer on top is exact integer math
# (intersection counts, recall quantized by integer DIV). n_probe=1
# deliberately under-probes (measured: probe=2 already covers every
# true neighbor cell on this corpus and the metric degenerates to a
# constant 1.0) so the recall is non-trivially < 1 and the entry
# actually measures index quality, not a tautology. Scale:
# the truth side auto-routes through the blocked-GEMM kernel, the IVF
# side is the celled candidate join; the eval join is k×|queries|
# rows broadcast.
# --------------------------------------------------------------------------

_RECALL_K = 10
_RECALL_PROBE = 1


@register(
    "ann_recall_eval",
    tags=["U4", "A5"],
    oracle=f"""
WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bf AS (
  SELECT q.vec_id AS q_id, c.vec_id,
         CAST(list_dot_product(c.v, q.v)
              / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.v, q.v)))
           AS FLOAT) AS cosine
  FROM e c JOIN e q ON q.vec_id < 4 AND c.vec_id <> q.vec_id),
bf_top AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk
    FROM bf) WHERE rnk <= {_RECALL_K}),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS cv
  FROM e ORDER BY vec_id LIMIT 16),
scored_cells AS (
  SELECT e.vec_id, e.v, cent.cell,
         list_dot_product(e.v, cent.cv)
           / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))) AS s
  FROM e CROSS JOIN cent),
assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
    FROM scored_cells) WHERE rn = 1),
qprobe AS (
  SELECT vec_id AS q_id, v AS qv, cell FROM (
    SELECT vec_id, v, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
    FROM scored_cells WHERE vec_id < 4) WHERE rn <= {_RECALL_PROBE}),
cand AS (
  SELECT qprobe.q_id, assign.vec_id, qprobe.qv, assign.v AS cv
  FROM assign JOIN qprobe ON assign.cell = qprobe.cell
  WHERE assign.vec_id <> qprobe.q_id),
ivf_scored AS (
  SELECT q_id, vec_id,
         CAST(list_dot_product(cv, qv)
              / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)))
           AS FLOAT) AS cosine
  FROM cand),
ivf_top AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk
    FROM ivf_scored) WHERE rnk <= {_RECALL_K}),
hits AS (
  SELECT bf_top.q_id, count(*) AS n_hits
  FROM bf_top JOIN ivf_top
    ON ivf_top.q_id = bf_top.q_id AND ivf_top.vec_id = bf_top.vec_id
  GROUP BY bf_top.q_id),
qs AS (SELECT DISTINCT vec_id AS q_id FROM e WHERE vec_id < 4)
SELECT qs.q_id,
       CAST({_RECALL_K} AS BIGINT) AS k,
       CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
       CAST((coalesce(hits.n_hits, 0) * 1000000) // {_RECALL_K} AS BIGINT)
         AS recall_micro
FROM qs LEFT JOIN hits ON hits.q_id = qs.q_id
ORDER BY qs.q_id
""",
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 4)
    truth = S.cosine_topk(
        emb, queries, "vec_id", "embedding", k=_RECALL_K, queries_count_hint=4
    ).select(F.col("q_vec_id").alias("q_id"), "vec_id")
    approx = S.ann_ivf_topk(
        emb, queries, "vec_id", "embedding",
        k=_RECALL_K, n_centroids=16, n_probe=_RECALL_PROBE, centroids="first",
    ).select("q_id", "vec_id")
    hits = (
        F.broadcast(approx)
        .join(F.broadcast(truth), ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qs = queries.select(F.col("vec_id").alias("q_id")).distinct()
    return (
        qs.join(hits, "q_id", "left")
        .select(
            "q_id",
            F.lit(_RECALL_K).cast("long").alias("k"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) * 1000000 / _RECALL_K)
            .cast("long")
            .alias("recall_micro"),
        )
        .orderBy("q_id")
    )
