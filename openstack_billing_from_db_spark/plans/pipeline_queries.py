"""Training-data pipeline registry entries (dedup, similarity search,
text analysis, multimodal) — BASELINE.json north-star operators, each
with a DuckDB oracle twin built from the same constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openstack_billing_from_db_spark.functions.hashing import (
    portable_hash64_sql,
    seeded_hash64_sql,
)
from openstack_billing_from_db_spark.operators import dedup, multimodal, similarity, text
from openstack_billing_from_db_spark.registry import register
from openstack_billing_from_db_spark.sources.tables import load_table

# DuckDB twin of operators/text.py words()
_W = "list_filter(string_split(trim(text), ' '), w -> w != '')"

_STOP = {lang: ", ".join(f"'{s}'" for s in sw) for lang, sw in text.LANG_STOPWORDS.items()}


# --- text analysis ----------------------------------------------------------


@register(
    "q30_token_stats",
    oracle=f"""
SELECT doc_id,
       CAST(len({_W}) AS BIGINT) AS n_words,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(regexp_extract_all(text, '{text.ALPHA_TOKEN_RE}')) AS BIGINT) AS n_alpha_tokens,
       CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nonspace_chars
FROM documents
""",
)
def q30_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        text.token_count(t).alias("n_words"),
        F.length(t).cast("long").alias("n_chars"),
        text.alpha_token_count(t).alias("n_alpha_tokens"),
        F.length(F.regexp_replace(t, " ", "")).cast("long").alias("n_nonspace_chars"),
    )


@register(
    "q31_quality_score",
    oracle=f"""
SELECT doc_id,
       least(1.0, len({_W}) / 100.0) * 0.4
       + len(list_filter({_W}, w -> w IN ({_STOP['en']}))) / greatest(len({_W}), 1) * 0.4
       + length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / greatest(length(text), 1) * 0.2
         AS quality_score
FROM documents
""",
)
def q31_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.quality_score(F.col("text")).alias("quality_score"))


@register(
    "q32_langid",
    oracle=f"""
WITH hits AS (
  SELECT doc_id, lang,
         CAST(len(list_filter({_W}, w -> w IN ({_STOP['en']}))) AS BIGINT) AS en_hits,
         CAST(len(list_filter({_W}, w -> w IN ({_STOP['de']}))) AS BIGINT) AS de_hits,
         CAST(len(list_filter({_W}, w -> w IN ({_STOP['es']}))) AS BIGINT) AS es_hits,
         CAST(len(list_filter({_W}, w -> w IN ({_STOP['fr']}))) AS BIGINT) AS fr_hits
  FROM documents
)
SELECT doc_id, lang AS declared_lang,
       CASE WHEN en_hits + de_hits + es_hits + fr_hits = 0 THEN 'unknown'
            WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
            WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
            WHEN es_hits >= fr_hits THEN 'es'
            ELSE 'fr' END AS predicted_lang,
       en_hits, de_hits, es_hits, fr_hits
FROM hits
""",
)
def q32_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    w = text.words(t)
    return docs.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        text.langid(t).alias("predicted_lang"),
        *[
            text.stopword_hits(w, sw).alias(f"{lang}_hits")
            for lang, sw in text.LANG_STOPWORDS.items()
        ],
    )


@register(
    "q33_fingerprint",
    oracle="""
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               ' +', ' ', 'g'))) AS fingerprint
FROM documents
""",
)
def q33_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.fingerprint(F.col("text")).alias("fingerprint"))


@register(
    "q60_fingerprint_pandas_udf",
    oracle="""
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               ' +', ' ', 'g'))) AS fingerprint
FROM documents
""",
)
def q60_fingerprint_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME fingerprint as q33, computed through a vectorized
    pandas_udf instead of native Columns — the sanctioned Arrow slow-path
    demonstration (SURVEY.md §2.10), oracle-identical to the native
    implementation. Native q33 remains the hot-path default."""
    from openstack_billing_from_db_spark.functions.udfs import fingerprint_pandas

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_pandas(F.col("text")).alias("fingerprint"))


# --- deduplication -----------------------------------------------------------


@register(
    "q34_dedup_exact",
    oracle="""
SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
""",
)
def q34_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(load_table(spark, sf_dir, "documents"))


_NUM_HASHES = 12
_ROWS_PER_BAND = 2
_SHINGLE_N = 3

_MH_PARAMS = "(VALUES " + ", ".join(
    f"({j}, CAST({a} AS BIGINT), CAST({b} AS BIGINT))"
    for j, (a, b) in enumerate(dedup.minhash_coefficients(_NUM_HASHES))
) + ")"

# (doc_id, shingle) stream shared by the minhash pipeline and the exact
# set-similarity join's brute-force oracle (q123). Parametrized on the
# source relation so the q128 recipe can run the same chain over its
# filtered/deduplicated intermediate; the module constants render the
# default and keep every existing oracle byte-identical.
def _shingle_cte_blocks(src: str = "documents") -> str:
    return f"""
wrd AS (SELECT doc_id, {_W} AS w FROM {src}),
sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w) - {_SHINGLE_N - 2}),
                               i -> array_to_string(w[i:i+{_SHINGLE_N - 1}], ' '))) AS shingle
  FROM wrd WHERE len(w) >= {_SHINGLE_N}
)"""


_SHINGLE_CTES = _shingle_cte_blocks()

def _minhash_cte_blocks(src: str = "documents") -> str:
    return f"""{_shingle_cte_blocks(src)},
shh AS (
  SELECT doc_id, shingle, {portable_hash64_sql("shingle")} % {dedup.MINHASH_P} AS hh
  FROM sh
),
mh AS (
  SELECT doc_id, p.j, min((p.a * hh + p.b) % {dedup.MINHASH_P}) AS mh
  FROM shh CROSS JOIN {_MH_PARAMS} AS p(j, a, b)
  GROUP BY doc_id, p.j
),
bands AS (
  SELECT doc_id, j // {_ROWS_PER_BAND} AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j)) AS sig
  FROM mh GROUP BY doc_id, j // {_ROWS_PER_BAND}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
"""


_MINHASH_CTES = _minhash_cte_blocks()


# _MINHASH_CTES extended with the exact-Jaccard verify stage; shared by
# q35 (pair emission), q67 (transitive-closure clustering), and the
# q128 recipe (over its own filtered source).
def _minhash_jaccard_blocks(src: str = "documents") -> str:
    return f"""{_minhash_cte_blocks(src)},
ps AS (SELECT DISTINCT doc_id, shingle FROM sh),
sz AS (SELECT doc_id, count(*) AS n FROM ps GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN ps pa ON pa.doc_id = c.doc_a
  JOIN ps pb ON pb.doc_id = c.doc_b AND pb.shingle = pa.shingle
  GROUP BY c.doc_a, c.doc_b
),
jc AS (
  SELECT c.doc_a, c.doc_b,
         CAST(coalesce(i.i, 0) AS DOUBLE) / (sa.n + sb.n - coalesce(i.i, 0)) AS jaccard
  FROM cand c
  JOIN sz sa ON sa.doc_id = c.doc_a
  JOIN sz sb ON sb.doc_id = c.doc_b
  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
)
"""


_MINHASH_JACCARD_CTES = _minhash_jaccard_blocks()


@register(
    "q35_minhash_near_dups",
    oracle=f"""
WITH {_MINHASH_JACCARD_CTES}
SELECT doc_a, doc_b, jaccard FROM jc
""",
)
def q35_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH: shingle→minhash→band→bucket-join, then exact n-gram
    Jaccard verification on candidates (covers the n-gram-Jaccard method
    too — the verify stage IS the exact Jaccard)."""
    return dedup.minhash_near_duplicates(
        load_table(spark, sf_dir, "documents"),
        num_hashes=_NUM_HASHES,
        rows_per_band=_ROWS_PER_BAND,
        shingle_n=_SHINGLE_N,
    )


_SSJ_T_BP = 6000  # exact-join Jaccard threshold, basis points (0.6)


@register(
    "q123_set_similarity_join",
    oracle=f"""
WITH {_SHINGLE_CTES},
ps AS (SELECT DISTINCT doc_id, shingle FROM sh),
sz AS (SELECT doc_id, count(*) AS n FROM ps GROUP BY doc_id),
tp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM ps a JOIN ps b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT tp.doc_a, tp.doc_b,
       CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
FROM tp
JOIN sz sa ON sa.doc_id = tp.doc_a
JOIN sz sb ON sb.doc_id = tp.doc_b
WHERE i * 10000 >= {_SSJ_T_BP} * (sa.n + sb.n - i)
""",
)
def q123_set_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AllPairs/PPJoin-style EXACT Jaccard ≥ 0.6 self-join: per-doc
    shingle sets ordered rarest-token-first, prefix + length filtering
    (both lossless for the threshold), narrow exploded verification.
    The oracle is the UNPRUNED brute-force shingle self-join, so driver
    parity doubles as a losslessness proof of the prefix filter on real
    data. Complements approximate q35 (MinHash-LSH) with the exact
    scale path; see operators/dedup.set_similarity_join."""
    return dedup.set_similarity_join(
        load_table(spark, sf_dir, "documents"),
        threshold_bp=_SSJ_T_BP,
        shingle_n=_SHINGLE_N,
    )


_CLUSTER_JACCARD = 0.5


@register(
    "q67_dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_MINHASH_JACCARD_CTES},
pairs AS (SELECT doc_a, doc_b FROM jc WHERE jaccard >= {_CLUSTER_JACCARD}),
e AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
reach(v, r) AS (
  SELECT s, s FROM e
  UNION
  SELECT e.s, reach.r FROM e JOIN reach ON e.d = reach.v
)
SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v
""",
)
def q67_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment: MinHash pairs (Jaccard ≥ 0.5) fed
    through distributed connected components (iterative min-label
    propagation, operators/graph.py) — the keep-one-per-cluster step a
    production dedup pipeline runs after pair generation. cluster_id is
    the minimum doc_id of each component, i.e. the canonical survivor.
    The oracle re-derives the same fixpoint as a recursive-CTE
    transitive closure, so an off-by-one-hop propagation bug hash-fails."""
    from openstack_billing_from_db_spark.operators import graph

    pairs = dedup.minhash_near_duplicates(
        load_table(spark, sf_dir, "documents"),
        num_hashes=_NUM_HASHES,
        rows_per_band=_ROWS_PER_BAND,
        shingle_n=_SHINGLE_N,
    ).filter(F.col("jaccard") >= _CLUSTER_JACCARD)
    return graph.dedup_clusters(pairs)


_SIMHASH_BITS = 32

_SIMHASH_CTES = f"""
tok AS (SELECT doc_id, unnest({_W}) AS w FROM documents),
th AS (SELECT doc_id, {portable_hash64_sql("concat('sim|', w)")} AS h FROM tok),
votes AS (
  SELECT doc_id,
         {', '.join(f"sum(CASE WHEN (h & {1 << j}) != 0 THEN 1 ELSE -1 END) AS s{j}" for j in range(_SIMHASH_BITS))}
  FROM th GROUP BY doc_id
),
fp AS (
  SELECT doc_id,
         {' + '.join(f"(CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)" for j in range(_SIMHASH_BITS))}
           AS simhash
  FROM votes
)
"""


@register(
    "q36_simhash",
    oracle=f"WITH {_SIMHASH_CTES} SELECT doc_id, simhash FROM fp",
)
def q36_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(load_table(spark, sf_dir, "documents"), bits=_SIMHASH_BITS)


@register(
    "q37_simhash_near_dups",
    oracle=f"""
WITH {_SIMHASH_CTES},
m AS (
  SELECT doc_id, simhash, k AS band, (simhash >> (k * 8)) & 255 AS bucket
  FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS k) ks
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM m a JOIN m b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
""",
)
def q37_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = dedup.simhash(load_table(spark, sf_dir, "documents"), bits=_SIMHASH_BITS)
    return dedup.simhash_near_duplicates(fp, bits=_SIMHASH_BITS, band_bits=8, max_hamming=4)


# --- similarity search -------------------------------------------------------

_DIMS = 64
_N_PLANES = 8
_SIGNS = similarity.hyperplane_signs(_N_PLANES, _DIMS)


def _plane_sql(j: int) -> str:
    return "[" + ", ".join(str(v) for v in _SIGNS[j]) + "]::DOUBLE[]"


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_inner_product(embedding::DOUBLE[], {_plane_sql(j)}) > 0 "
    f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
    for j in range(_N_PLANES)
)


@register(
    "q38_ann_topk_bruteforce",
    oracle="""
WITH corpus AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS e,
         sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS e_norm
  FROM embeddings
),
queries AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS q,
         sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS q_norm
  FROM embeddings WHERE vec_id < 10
),
scored AS (
  SELECT query_id, neighbor_id,
         list_inner_product(e, q) / (e_norm * q_norm) AS cos
  FROM corpus, queries WHERE neighbor_id != query_id
)
SELECT query_id, neighbor_id, rn FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= 5
""",
)
def q38_ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.brute_force_topk(load_table(spark, sf_dir, "embeddings"))


@register(
    "q39_ann_topk_lsh",
    oracle=f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
         ({_BUCKET_SQL}) AS bucket
  FROM embeddings
),
queries AS (SELECT vec_id AS query_id, e AS q, nrm AS q_norm, bucket AS qbucket
            FROM base WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         list_inner_product(b.e, q.q) / (b.nrm * q.q_norm) AS cos
  FROM base b JOIN queries q ON b.bucket = q.qbucket AND b.vec_id != q.query_id
)
SELECT query_id, neighbor_id, rn FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= 5
""",
)
def q39_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_topk(
        load_table(spark, sf_dir, "embeddings"), n_planes=_N_PLANES, dims=_DIMS
    )


_IVF_HASH = seeded_hash64_sql("CAST(vid AS VARCHAR)", "ivf")


@register(
    "q65_ivf_ann",
    oracle=f"""
WITH corpus AS (
  SELECT vec_id AS vid, embedding::DOUBLE[] AS e,
         sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS e_norm
  FROM embeddings
),
cents AS (
  SELECT vid AS cid, e AS c, e_norm AS c_norm
  FROM corpus ORDER BY {_IVF_HASH}, vid LIMIT 16
),
assign AS (
  SELECT vid, e, e_norm, cid,
         row_number() OVER (
           PARTITION BY vid
           ORDER BY list_inner_product(e, c) / (e_norm * c_norm) DESC, cid
         ) AS arn
  FROM corpus CROSS JOIN cents
),
idx AS (SELECT vid, e, e_norm, cid FROM assign WHERE arn = 1),
probed AS (
  SELECT query_id, q, q_norm, cid FROM (
    SELECT vid AS query_id, e AS q, e_norm AS q_norm, cid,
           row_number() OVER (
             PARTITION BY vid
             ORDER BY list_inner_product(e, c) / (e_norm * c_norm) DESC, cid
           ) AS prn
    FROM corpus CROSS JOIN cents WHERE vid < 10
  ) WHERE prn <= 4
),
cand AS (
  SELECT query_id, vid AS neighbor_id,
         list_inner_product(e, q) / (e_norm * q_norm) AS cos
  FROM idx JOIN probed USING (cid) WHERE vid != query_id
)
SELECT query_id, neighbor_id, rn FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
  FROM cand
) WHERE rn <= 5
""",
)
def q65_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (the data-adaptive ANN family next to q39's sign-LSH):
    deterministic hash-sampled centroids, nearest-centroid cells, probe
    the 4 nearest cells per query, exact rank within candidates. The
    oracle re-derives centroid choice, cell assignment, probing, and
    ranking from the same closed forms."""
    return similarity.ivf_topk(load_table(spark, sf_dir, "embeddings"))


@register(
    "q40_embedding_near_dups",
    oracle=f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
         ({_BUCKET_SQL}) AS bucket
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       list_inner_product(a.e, b.e) / (a.nrm * b.nrm) AS cos
FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_inner_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.35
""",
)
def q40_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_duplicates(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.35,
        n_planes=_N_PLANES,
        dims=_DIMS,
    )


# --- corpus term statistics (the exact-count half of TF-IDF) ----------------


@register(
    "q45_term_stats",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_W}) AS term FROM documents)
SELECT term,
       count(*) AS tf,
       count(DISTINCT doc_id) AS df
FROM tok GROUP BY term
""",
)
def q45_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term/document frequencies (exact integer counts — the IDF
    log stays out of the oracle because ln() differs across engines in
    the last ulp)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(text.words(F.col("text"))).alias("term")
    )
    return tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )


@register(
    "q46_top_bigrams",
    oracle=f"""
WITH wrd AS (SELECT doc_id, {_W} AS w FROM documents),
bg AS (
  SELECT unnest(list_transform(range(1, len(w)),
                               i -> array_to_string(w[i:i+1], ' '))) AS bigram
  FROM wrd WHERE len(w) >= 2
)
SELECT bigram, count(*) AS n FROM bg GROUP BY bigram
ORDER BY n DESC, bigram LIMIT 20
""",
)
def q46_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 word bigrams (deterministic: count desc, bigram asc).

    Counts group on (word, next_word) column pairs; the bigram STRING is
    built only for the ~vocab² surviving groups, not the corpus's millions
    of occurrences."""
    docs = load_table(spark, sf_dir, "documents")
    w = text.words(F.col("text"))
    n_w = F.size(w)
    pairs = docs.select(
        F.explode(
            F.arrays_zip(
                F.slice(w, 1, n_w - 1).alias("w1"),
                F.slice(w, 2, n_w - 1).alias("w2"),
            )
        ).alias("p")
    ).filter(F.col("p.w1").isNotNull() & F.col("p.w2").isNotNull())
    return (
        pairs.groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.concat_ws(" ", "w1", "w2").alias("bigram"), "n")
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(20)
    )


# --- q53: cross-modal composition (embedding pairs × document metadata) -----


@register(
    "q53_crossmodal_near_dups",
    oracle=f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
         ({_BUCKET_SQL}) AS bucket
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_inner_product(a.e, b.e) / (a.nrm * b.nrm) AS cos
  FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE list_inner_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.3
)
SELECT p.vec_a, p.vec_b, p.cos,
       da.lang AS lang_a, db.lang AS lang_b,
       CAST(da.source = db.source AS BOOLEAN) AS same_source
FROM pairs p
JOIN documents da ON da.doc_id = p.vec_a
JOIN documents db ON db.doc_id = p.vec_b
""",
)
def q53_crossmodal_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup candidates enriched with text metadata —
    the cross-table composition a real dedup pipeline runs before
    deciding which copy to keep (vec_id keys the documents table)."""
    pairs = similarity.embedding_near_duplicates(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.3,
        n_planes=_N_PLANES,
        dims=_DIMS,
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    da = docs.select(
        F.col("doc_id").alias("vec_a"), F.col("lang").alias("lang_a"), F.col("source").alias("src_a")
    )
    db = docs.select(
        F.col("doc_id").alias("vec_b"), F.col("lang").alias("lang_b"), F.col("source").alias("src_b")
    )
    return (
        pairs.join(da, "vec_a")
        .join(db, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            "cos",
            "lang_a",
            "lang_b",
            (F.col("src_a") == F.col("src_b")).alias("same_source"),
        )
    )


# --- multimodal --------------------------------------------------------------


@register(
    "q41_multimodal_meta",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_hash
FROM documents
""",
)
def q41_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing end-to-end: attach a binary payload, then
    extract metadata via an Arrow-batched mapInPandas pass (the real
    multimodal decode path; codecs themselves are stubbed)."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.extract_payload_meta(multimodal.attach_payload(docs))


@register(
    "q63_image_decode",
    oracle="""
SELECT doc_id,
       'image/bmp' AS mime,
       CAST(8 + doc_id % 9 AS INTEGER) AS width,
       CAST(4 + doc_id % 5 AS INTEGER) AS height,
       CAST(doc_id % 256 AS DOUBLE) AS mean_r,
       CAST((doc_id // 3) % 256 AS DOUBLE) AS mean_g,
       CAST((doc_id // 7) % 256 AS DOUBLE) AS mean_b
FROM documents
""",
)
def q63_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode round-trip (ref has no media path; this is the
    beyond-reference multimodal brief): per doc a genuine 24-bit BMP file
    is encoded (dimensions/color closed-form in doc_id, row padding
    exercised by width % 4 variation), then byte-level parsed back by the
    numpy BMP codec inside Arrow-batched mapInPandas. The oracle computes
    the closed form — any header/stride/channel-order bug hash-fails."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_images(multimodal.synthesize_image_payloads(docs))


@register(
    "q88_png_decode",
    oracle="""
SELECT doc_id,
       'image/png' AS mime,
       CAST(8 + doc_id % 9 AS INTEGER) AS width,
       CAST(4 + doc_id % 5 AS INTEGER) AS height,
       CAST(doc_id % 256 AS DOUBLE) AS mean_r,
       CAST((doc_id // 3) % 256 AS DOUBLE) AS mean_g,
       CAST((doc_id // 7) % 256 AS DOUBLE) AS mean_b
FROM documents
""",
)
def q88_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode round-trip: per doc a genuine
    truecolor PNG (zlib DEFLATE, scanline filter cycling doc_id % 5 so
    all five defilters — including Paeth — run on corpus data) is
    encoded, then byte-level parsed back by the stdlib-zlib + numpy PNG
    codec (functions/media.py) inside Arrow-batched mapInPandas. The
    oracle computes the closed form — any chunk-walk, inflate, or
    defilter bug hash-fails. Closes the 'compressed formats are
    PIL-gated' gap (VERDICT r3 Next #4)."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_images(
        multimodal.synthesize_image_payloads(docs, fmt="png")
    )


@register(
    "q64_audio_features",
    oracle="""
SELECT doc_id,
       CAST(1 AS INTEGER) AS channels,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(100 + doc_id % 32 AS BIGINT) AS duration_ms,
       CAST((doc_id % 1000) * 16 AS DOUBLE) AS mean_abs,
       CAST((doc_id % 1000) * 16 AS INTEGER) AS peak
FROM documents
""",
)
def q64_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode round-trip: 16-bit PCM WAV payloads (stdlib wave
    encoder, sample count/amplitude closed-form in doc_id) parsed back to
    channels/rate/duration/amplitude stats via mapInPandas. Exact-integer
    construction (frames divisible by the ms rate, constant amplitude)
    keeps every output column hash-exact against the SQL closed form."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_audio(multimodal.synthesize_audio_payloads(docs))


# --- corpus splitting --------------------------------------------------------

_SPLIT_HASH = seeded_hash64_sql("CAST(doc_id AS VARCHAR)", "split")


@register(
    "q66_hash_split",
    oracle=f"""
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len({_W})) AS BIGINT) AS total_tokens,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id
FROM (
  SELECT doc_id, text,
         CASE WHEN {_SPLIT_HASH} % 100 < 80 THEN 'train'
              WHEN {_SPLIT_HASH} % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
GROUP BY split
""",
)
def q66_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test corpus split — the reproducible-holdout
    primitive every training pipeline needs: membership is a pure function
    of doc_id (seeded portable hash mod 100 → 80/10/10), so the split is
    stable across runs, machines, and engines (the oracle re-derives it),
    and assignment is a map-side projection with zero shuffle before the
    final per-split rollup."""
    from openstack_billing_from_db_spark.functions.hashing import seeded_hash64

    docs = load_table(spark, sf_dir, "documents")
    bucket = seeded_hash64(F.col("doc_id").cast("string"), "split") % 100
    return (
        docs.withColumn(
            "split",
            F.when(bucket < 80, F.lit("train"))
            .when(bucket < 90, F.lit("val"))
            .otherwise(F.lit("test")),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(text.token_count(F.col("text"))).alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


# --- k-means corpus clustering ---------------------------------------------

_KM_K = 8
_KM_ITER = 2
_KM_DP = 6


def _kmeans_oracle(k: int = _KM_K, n_iter: int = _KM_ITER, dp: int = _KM_DP) -> str:
    """CTE chain mirroring operators/clustering.kmeans_assign iteration
    for iteration: assignment = argmin(|c|²−2⟨e,c⟩, tie→lowest cid) via
    left-to-right list_inner_product folds (bit-identical to the Spark
    fold), update = per-dimension mean rounded half-up to ``dp`` with the
    same floor(x·10^dp+0.5)/10^dp formula the operator uses."""

    def assign(name: str, cents: str) -> str:
        return f"""{name} AS (
  SELECT vid, cid AS cluster FROM (
    SELECT co.vid, ce.cid, row_number() OVER (
      PARTITION BY co.vid
      ORDER BY list_inner_product(ce.c, ce.c) - 2 * list_inner_product(co.e, ce.c), ce.cid
    ) AS rn
    FROM corpus co CROSS JOIN {cents} ce
  ) WHERE rn = 1
)"""

    blocks = [
        "corpus AS (SELECT vid, e FROM (SELECT vec_id AS vid, embedding::DOUBLE[] AS e FROM embeddings))",
        # k lowest ids present, labeled by rank — mirrors kmeans_assign's
        # orderBy(vid).limit(k) seeding (robust to sparse/offset id spaces)
        f"c0 AS (SELECT row_number() OVER (ORDER BY vid) - 1 AS cid, e AS c "
        f"FROM (SELECT vid, e FROM corpus ORDER BY vid LIMIT {k}))",
    ]
    cur = "c0"
    for it in range(1, n_iter + 1):
        blocks.append(assign(f"a{it}", cur))
        blocks.append(
            f"""u{it} AS (
  SELECT cluster AS cid, list(v ORDER BY pos) AS c FROM (
    SELECT cluster, pos, floor(avg(val) * 1e{dp} + 0.5) / 1e{dp} AS v
    FROM (
      SELECT a.cluster, unnest(co.e) AS val, generate_subscripts(co.e, 1) AS pos
      FROM a{it} a JOIN corpus co USING (vid)
    ) GROUP BY cluster, pos
  ) GROUP BY cluster
)"""
        )
        blocks.append(
            f"c{it} AS (SELECT p.cid, coalesce(u.c, p.c) AS c "
            f"FROM {cur} p LEFT JOIN u{it} u USING (cid))"
        )
        cur = f"c{it}"
    blocks.append(assign("afinal", cur))
    ctes = ",\n".join(blocks)
    return f"""
WITH {ctes}
SELECT vid AS vec_id, CAST(cluster AS BIGINT) AS cluster_id FROM afinal
"""


@register("q73_kmeans_clusters", oracle=_kmeans_oracle())
def q73_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, 2 iterations, deterministic lowest-id seed)
    over the embeddings table: the corpus-clustering step of a training
    pipeline (domain balancing / cluster sampling). Assignment is a pure
    map stage against driver-broadcast centroid literals; the update
    shuffle is k rows of per-dimension sums (operators/clustering.py)."""
    from openstack_billing_from_db_spark.operators.clustering import kmeans_assign

    return kmeans_assign(
        load_table(spark, sf_dir, "embeddings"),
        k=_KM_K,
        n_iter=_KM_ITER,
        round_dp=_KM_DP,
    )


# --- DSIR importance resampling (round 6) -----------------------------------

_DSIR_B = 4096  # hashed feature buckets
_DSIR_K = 100
_DSIR_TARGET = "src0"  # target distribution: one source's documents


@register(
    "q131_dsir_topk",
    oracle=f"""
WITH t AS (
  SELECT doc_id AS did, source = '{_DSIR_TARGET}' AS tgt, unnest({_W}) AS w
  FROM documents
),
bk AS (
  SELECT did, tgt, {portable_hash64_sql("w")} % {_DSIR_B} AS bkt FROM t
),
cnt AS (
  SELECT bkt,
         sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
         sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cs
  FROM bk GROUP BY bkt
),
tot AS (SELECT sum(ct) AS nt, sum(cs) AS ns FROM cnt),
r AS (
  SELECT bkt,
         CAST(floor((ln(ct + 1.0) - ln(cs + 1.0)
            + ln(CAST(ns + {_DSIR_B} AS DOUBLE))
            - ln(CAST(nt + {_DSIR_B} AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT)
           AS r_micro
  FROM cnt CROSS JOIN tot
),
df AS (
  SELECT did, bkt, count(*) AS c FROM bk WHERE NOT tgt GROUP BY did, bkt
),
lw AS (
  SELECT did, CAST(sum(c * r_micro) AS BIGINT) AS logw_micro
  FROM df JOIN r USING (bkt) GROUP BY did
)
SELECT did AS doc_id, logw_micro, rank FROM (
  SELECT did, logw_micro,
         CAST(row_number() OVER (ORDER BY logw_micro DESC, did) AS BIGINT)
           AS rank
  FROM lw
) WHERE rank <= {_DSIR_K}
""",
)
def q131_dsir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (operators/sampling.dsir_importance_topk;
    Xie et al. 2023): rank the raw pool ({_DSIR_TARGET} is the target
    distribution, everything else is raw) by hashed-bag-of-words
    importance weight log w(d) = Σ_b c_db·[ln p_target(b) − ln p_raw(b)]
    and keep the top {_DSIR_K} — the classifier-free way to tilt a
    pretraining mix toward a small high-quality corpus. Engine-exact:
    each per-bucket log-ratio rounds ONCE to integer micro-units (the
    only ln calls — ≤{_DSIR_B} per corpus, cross-engine ulp drift
    absorbed by the 1e-6 grid), after which the per-doc weight is pure
    BIGINT arithmetic. Scale shape: one token explode feeding the
    {_DSIR_B}-row histogram and per-(doc,bucket) counts; scoring is a
    broadcast join of the ratio table; one global top-k
    (TakeOrderedAndProject). Nothing pairwise."""
    from openstack_billing_from_db_spark.operators.sampling import (
        dsir_importance_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    return dsir_importance_topk(
        docs,
        F.col("source") == _DSIR_TARGET,
        n_buckets=_DSIR_B,
        topk=_DSIR_K,
    )


# --- SemDeDup: embedding-cluster semantic dedup (round 6) -------------------

_SEM_T = 0.35  # cosine threshold (same regime as q40's embedding near-dups)


def _semantic_dedup_oracle() -> str:
    """The q73 Lloyd CTE chain (corpus/afinal), then within-cluster
    squared-form cosine (dot >= 0 AND dot² >= t²·|a|²·|b|² — no sqrt)
    with the greedy keep-lowest-id survivor rule. Every operand is the
    same left-to-right list fold Spark computes (q114's parity law)."""
    km = _kmeans_oracle()
    ctes = km.split("WITH ", 1)[1].rsplit("\nSELECT vid AS vec_id", 1)[0]
    t2 = _SEM_T * _SEM_T
    fold = "list_sum(list_transform(range(1, 65), i -> {a}.e[i] * {b}.e[i]))"
    return f"""
WITH {ctes},
x AS (
  SELECT f.vid, f.cluster, co.e,
         {fold.format(a="co", b="co")} AS n2
  FROM afinal f JOIN corpus co USING (vid)
),
pr AS (
  SELECT a.vid AS va, b.vid AS vb, a.n2 AS n2a, b.n2 AS n2b,
         {fold.format(a="a", b="b")} AS dot
  FROM x a JOIN x b ON a.cluster = b.cluster AND a.vid < b.vid
),
drp AS (
  SELECT DISTINCT vb AS vid FROM pr
  WHERE dot >= 0 AND dot * dot >= {t2!r} * n2a * n2b
)
SELECT x.vid AS vec_id, CAST(x.cluster AS BIGINT) AS cluster_id,
       CASE WHEN d.vid IS NULL THEN 'kept' ELSE 'dropped' END AS fate
FROM x LEFT JOIN drp d ON d.vid = x.vid
"""


@register("q130_semantic_dedup", oracle=_semantic_dedup_oracle())
def q130_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication
    (operators/similarity.semantic_dedup; Abbas et al. 2023): k-means
    partitions the embedding corpus ({_KM_K} clusters, the q73 Lloyd
    machinery), then cosine >= {_SEM_T} is tested only WITHIN clusters
    — Σ_c n_c² pairs instead of n², the clustering-bounded pair space
    that lets semantic dedup run where global pairwise cosine cannot.
    A vector is dropped when a lower-id cluster-mate exceeds the
    threshold (greedy keep-lowest-id, the q87 canonical rule); the
    cosine test is evaluated in squared form (no sqrt), every operand a
    left-to-right fold, so both engines agree bit-for-bit."""
    from openstack_billing_from_db_spark.operators.similarity import (
        semantic_dedup,
    )

    return semantic_dedup(
        load_table(spark, sf_dir, "embeddings"),
        k=_KM_K,
        n_iter=_KM_ITER,
        round_dp=_KM_DP,
        threshold=_SEM_T,
    )


# --- Gopher-style repetition quality counters ------------------------------


def _gram_sql(n: int) -> str:
    # DuckDB twin of operators/text.word_shingles(w, n): overlapping
    # n-word grams (same pattern as the MinHash shingle CTE above)
    return (
        f"list_transform(range(1, len(ws) - {n - 2}), "
        f"i -> array_to_string(ws[i:i+{n - 1}], ' '))"
    )


@register(
    "q74_repetition_stats",
    oracle=f"""
WITH w AS (SELECT doc_id, {_W} AS ws FROM documents),
g AS (
  SELECT doc_id, 2 AS n, unnest({_gram_sql(2)}) AS gram FROM w WHERE len(ws) >= 2
  UNION ALL
  SELECT doc_id, 3 AS n, unnest({_gram_sql(3)}) AS gram FROM w WHERE len(ws) >= 3
),
c AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
s AS (
  SELECT doc_id,
         CAST(coalesce(sum(c) FILTER (n = 2), 0) AS BIGINT) AS n_bigrams,
         CAST(coalesce(max(c) FILTER (n = 2), 0) AS BIGINT) AS top_bigram_n,
         CAST(coalesce(sum(c) FILTER (n = 2 AND c > 1), 0) AS BIGINT) AS dup_bigram_tokens,
         CAST(coalesce(sum(c) FILTER (n = 3), 0) AS BIGINT) AS n_trigrams,
         CAST(coalesce(max(c) FILTER (n = 3), 0) AS BIGINT) AS top_trigram_n,
         CAST(coalesce(sum(c) FILTER (n = 3 AND c > 1), 0) AS BIGINT) AS dup_trigram_tokens
  FROM c GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(s.n_bigrams, 0) AS n_bigrams,
       coalesce(s.top_bigram_n, 0) AS top_bigram_n,
       coalesce(s.dup_bigram_tokens, 0) AS dup_bigram_tokens,
       coalesce(s.n_trigrams, 0) AS n_trigrams,
       coalesce(s.top_trigram_n, 0) AS top_trigram_n,
       coalesce(s.dup_trigram_tokens, 0) AS dup_trigram_tokens
FROM documents d LEFT JOIN s USING (doc_id)
""",
)
def q74_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition counters (top-/duplicate-n-gram
    occurrence counts for word 2- and 3-grams) per document — the
    repetition quality filters of a pretraining corpus pipeline
    (operators/text.repetition_stats)."""
    return text.repetition_stats(load_table(spark, sf_dir, "documents"))


# --- CCNet-style LM quality score ------------------------------------------


@register(
    "q76_lm_quality",
    oracle=f"""
WITH w AS (SELECT doc_id, {_W} AS ws FROM documents),
g AS (
  SELECT doc_id, unnest({_gram_sql(2)}) AS g FROM w WHERE len(ws) >= 2
),
gc AS (SELECT g, ctx, c_bg FROM (
  SELECT g, string_split(g, ' ')[1] AS ctx, count(*) AS c_bg FROM g GROUP BY g
  )),
cc AS (SELECT ctx, sum(c_bg) AS c_ctx FROM gc GROUP BY ctx),
vv AS (SELECT count(DISTINCT u) AS v FROM (SELECT unnest(ws) AS u FROM w)),
sc AS (
  SELECT g.doc_id,
         ln((gc.c_bg + 1.0) / (cc.c_ctx + 1.0 * vv.v)) AS logp
  FROM g JOIN gc USING (g) JOIN cc ON cc.ctx = gc.ctx CROSS JOIN vv
),
p AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(floor(sum(logp) / count(*) * 1e6 + 0.5) AS BIGINT) AS avg_logp_micro
  FROM sc GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_bigrams, 0) AS n_bigrams,
       coalesce(p.avg_logp_micro, 0) AS avg_logp_micro
FROM documents d LEFT JOIN p USING (doc_id)
""",
)
def q76_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-trained bigram-LM quality score (add-1
    smoothing, mean log-prob in micro-nats) — the perplexity filter of a
    pretraining pipeline (operators/text.lm_quality_score)."""
    return text.lm_quality_score(load_table(spark, sf_dir, "documents"))


@register(
    "q77_video_frame_sample",
    oracle="""
SELECT doc_id,
       CAST((2 + doc_id % 4) * j // 2 AS BIGINT) AS frame_idx,
       CAST(2 + doc_id % 4 AS BIGINT) AS n_frames,
       CAST(4 + doc_id % 3 AS INTEGER) AS width,
       CAST(2 + doc_id % 2 AS INTEGER) AS height,
       CAST((doc_id + 11 * ((2 + doc_id % 4) * j // 2)) % 256 AS DOUBLE) AS mean_r,
       CAST((doc_id * 3 + 5 * ((2 + doc_id % 4) * j // 2)) % 256 AS DOUBLE) AS mean_g,
       CAST((doc_id * 7 + 13 * ((2 + doc_id % 4) * j // 2)) % 256 AS DOUBLE) AS mean_b
FROM documents, range(0, 2) t(j)
""",
)
def q77_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling: per doc an RVID container (length-
    prefixed BMP frames, closed-form count/dims/colors) is built, then
    the sampler walks the index to 2 evenly spaced frames and BMP-decodes
    ONLY those (operators/multimodal.sample_video_frames) — the decode-
    cost-∝-sampled-frames property that matters at video scale. The
    oracle recomputes every stat from the closed form; any index-walk or
    stride bug hash-fails."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.sample_video_frames(multimodal.synthesize_video_payloads(docs))


# --- BPE tokenizer training --------------------------------------------------

_BPE_MERGES = 3
_PAIRS = "list_transform(range(1, len(sy)), i -> sy[i] || ' ' || sy[i+1])"


def _bpe_cte_blocks(n_merges: int = _BPE_MERGES) -> list[str]:
    """The SQL replay of operators/bpe.bpe_train as a reusable CTE
    chain: vocab ``v``, per-round pair counts ``p{r}``, top pair
    ``t{r}``, merged symbol tables ``s0..s{n}`` (each carrying the word
    ``w`` so downstream consumers — q100's encoder — can join the final
    word → symbols map back to the corpus)."""
    blocks = [
        f"""v AS (
  SELECT w, count(*) AS freq FROM (SELECT unnest({_W}) AS w FROM documents) GROUP BY w
)""",
        "s0 AS (SELECT w, freq, array_to_string(string_split(w, ''), ' ') AS syms FROM v)",
    ]
    for r in range(n_merges):
        blocks.extend([
            f"""p{r} AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS c FROM (
    SELECT freq, unnest({_PAIRS}) AS pair
    FROM (SELECT freq, string_split(syms, ' ') AS sy FROM s{r})
  ) GROUP BY pair
)""",
            f"t{r} AS (SELECT pair, c FROM p{r} ORDER BY c DESC, pair LIMIT 1)",
            f"""s{r + 1} AS (
  SELECT w, freq, replace(trim(replace(
           ' ' || replace(syms, ' ', '  ') || ' ',
           (SELECT ' ' || replace(pair, ' ', '  ') || ' ' FROM t{r}),
           (SELECT ' ' || replace(pair, ' ', '') || ' ' FROM t{r}))),
         '  ', ' ') AS syms
  FROM s{r}
)""",
        ])
    return blocks


def _bpe_oracle(n_merges: int = _BPE_MERGES) -> str:
    """Replays operators/bpe.bpe_train in SQL: same vocab table, same
    frequency-weighted pair counts, same (count desc, pair asc) top-1,
    same boundary-safe left-to-right non-overlapping merge per round
    (the doubled-separator encoding of bpe._apply_merge, replayed
    operation-for-operation with DuckDB replace/btrim)."""
    outs = [
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, pair, "
        f"replace(pair, ' ', '') AS merged, c AS pair_count FROM t{r}"
        for r in range(n_merges)
    ]
    ctes = ",\n".join(_bpe_cte_blocks(n_merges))
    union = "\nUNION ALL\n".join(outs)
    return f"WITH {ctes}\n{union}"


@register("q78_bpe_train", oracle=_bpe_oracle())
def q78_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training over the corpus (3 merge rules): word-
    frequency table once, then vocabulary-sized pair-count iterations
    with one-row driver fetches (operators/bpe.py). The oracle replays
    the entire training loop in SQL — a wrong tie-break, a re-merging
    replace, or a frequency-weighting bug all hash-fail."""
    from openstack_billing_from_db_spark.operators.bpe import bpe_train

    return bpe_train(load_table(spark, sf_dir, "documents"), n_merges=_BPE_MERGES)


# --- temperature source mixing ----------------------------------------------

_MIX_HASH = seeded_hash64_sql("CAST(doc_id AS VARCHAR)", "mix")
_MIX_ALPHA = 0.5
_MIX_FRAC = 0.3


@register(
    "q79_temperature_mix",
    oracle=f"""
WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
tot AS (SELECT sum(n) AS grand_n, sum(pow(n, {_MIX_ALPHA})) AS z FROM counts),
rates AS (
  SELECT source, n,
         least(10000, CAST(floor(
           {_MIX_FRAC} * tot.grand_n * (pow(n, {_MIX_ALPHA}) / tot.z) / n * 10000
         ) AS BIGINT)) AS rate_bp
  FROM counts CROSS JOIN tot
),
kept AS (
  SELECT d.doc_id, d.source
  FROM documents d JOIN rates r USING (source)
  WHERE {_MIX_HASH} % 10000 < r.rate_bp
)
SELECT r.source,
       CAST(r.n AS BIGINT) AS n_total,
       r.rate_bp,
       CAST(count(k.doc_id) AS BIGINT) AS n_sampled,
       CAST(min(k.doc_id) AS BIGINT) AS min_doc_id
FROM rates r LEFT JOIN kept k USING (source)
GROUP BY r.source, r.n, r.rate_bp
""",
)
def q79_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (α=0.5 multinomial smoothing, 30%
    target): derived per-source rates from one tiny counts aggregation,
    broadcast back, map-side hash gate — the data-recipe step fixed-rate
    stratified sampling can't express (operators/sampling.py)."""
    from openstack_billing_from_db_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    sampled = temperature_mixture_sample(
        docs, id_col="doc_id", source_col="source", alpha=_MIX_ALPHA,
        target_fraction=_MIX_FRAC,
    )
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    totals = counts.agg(
        F.sum("n_total").alias("grand_total"),
        F.sum(F.pow("n_total", F.lit(_MIX_ALPHA))).alias("Z"),
    )
    rates = counts.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_total",
        F.least(
            F.lit(10000),
            F.floor(
                F.lit(_MIX_FRAC)
                * F.col("grand_total")
                * (F.pow("n_total", F.lit(_MIX_ALPHA)) / F.col("Z"))
                / F.col("n_total")
                * 10000
            ),
        )
        .cast("long")
        .alias("rate_bp"),
    )
    per_src = sampled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled"), F.min("doc_id").alias("min_doc_id")
    )
    return rates.join(per_src, "source", "left").select(
        "source",
        F.col("n_total").cast("long").alias("n_total"),
        "rate_bp",
        F.coalesce(F.col("n_sampled"), F.lit(0)).cast("long").alias("n_sampled"),
        F.col("min_doc_id").cast("long").alias("min_doc_id"),
    )


# --- cross-document span duplication (substring-dedup signal) ---------------

_SPAN_N = 8


@register(
    "q80_span_dedup",
    oracle=f"""
WITH w AS (SELECT doc_id, {_W} AS ws FROM documents),
sp AS (
  SELECT doc_id, unnest(
    list_transform(range(1, len(ws) - {_SPAN_N - 2}),
                   i -> array_to_string(ws[i:i+{_SPAN_N - 1}], ' '))
  ) AS span
  FROM w WHERE len(ws) >= {_SPAN_N}
),
sd AS (SELECT span, count(DISTINCT doc_id) AS n_docs_with_span FROM sp GROUP BY span),
p AS (
  SELECT sp.doc_id,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(CASE WHEN sd.n_docs_with_span > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS cross_dup_spans
  FROM sp JOIN sd USING (span) GROUP BY sp.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_spans, 0) AS n_spans,
       coalesce(p.cross_dup_spans, 0) AS cross_dup_spans
FROM documents d LEFT JOIN p USING (doc_id)
""",
)
def q80_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span counts (8-word windows occurring in
    ≥2 docs) — the substring-level exact-dedup signal (Lee et al. 2022)
    complementing whole-doc (q34) and near-dup (q35/q37/q40) dedup
    (operators/dedup.cross_doc_span_stats)."""
    return dedup.cross_doc_span_stats(
        load_table(spark, sf_dir, "documents"), span_words=_SPAN_N
    )


# --- composed quality filter (the keep/drop verdict) ------------------------

_QF_MAX_DUP3 = 0.5  # max duplicate-trigram token fraction
_QF_MIN_LOGP = -7_500_000  # min mean bigram log-prob, micro-nats
_QF_MIN_WORDS = 20


@register(
    "q81_quality_filter",
    oracle=f"""
WITH w AS (SELECT doc_id, {_W} AS ws FROM documents),
g3 AS (
  SELECT doc_id, unnest({_gram_sql(3)}) AS gram FROM w WHERE len(ws) >= 3
),
c3 AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY 1, 2),
rep AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_trigrams,
         CAST(coalesce(sum(c) FILTER (c > 1), 0) AS BIGINT) AS dup_trigram_tokens
  FROM c3 GROUP BY doc_id
),
g2 AS (SELECT doc_id, unnest({_gram_sql(2)}) AS g FROM w WHERE len(ws) >= 2),
gc AS (SELECT g, string_split(g, ' ')[1] AS ctx, count(*) AS c_bg FROM g2 GROUP BY g),
cc AS (SELECT ctx, sum(c_bg) AS c_ctx FROM gc GROUP BY ctx),
vv AS (SELECT count(DISTINCT u) AS v FROM (SELECT unnest(ws) AS u FROM w)),
lm AS (
  SELECT g2.doc_id,
         CAST(floor(sum(ln((gc.c_bg + 1.0) / (cc.c_ctx + 1.0 * vv.v))) / count(*) * 1e6 + 0.5) AS BIGINT)
           AS avg_logp_micro
  FROM g2 JOIN gc USING (g) JOIN cc ON cc.ctx = gc.ctx CROSS JOIN vv
  GROUP BY g2.doc_id
)
SELECT d.doc_id,
       CAST(len(w.ws) AS BIGINT) AS n_words,
       coalesce(rep.n_trigrams, 0) AS n_trigrams,
       coalesce(rep.dup_trigram_tokens, 0) AS dup_trigram_tokens,
       coalesce(lm.avg_logp_micro, 0) AS avg_logp_micro,
       (len(w.ws) >= {_QF_MIN_WORDS}
        AND coalesce(rep.dup_trigram_tokens, 0) <= {_QF_MAX_DUP3} * coalesce(rep.n_trigrams, 0)
        AND coalesce(lm.avg_logp_micro, 0) >= {_QF_MIN_LOGP}) AS keep
FROM documents d
JOIN w ON w.doc_id = d.doc_id
LEFT JOIN rep ON rep.doc_id = d.doc_id
LEFT JOIN lm ON lm.doc_id = d.doc_id
""",
)
def q81_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed keep/drop verdict a corpus pipeline actually applies:
    length floor AND Gopher duplicate-trigram cap (q74's counters) AND
    CCNet LM-score floor (q76's micro-nats) — assembled from the same
    operators, with the whole composition value-hash-checked (the
    'composed pipeline' entry that previously had no oracle)."""
    from openstack_billing_from_db_spark.operators.text import (
        lm_quality_score,
        repetition_stats,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    rep = repetition_stats(docs).select("doc_id", "n_trigrams", "dup_trigram_tokens")
    lm = lm_quality_score(docs)
    base = docs.select("doc_id", token_count(F.col("text")).alias("n_words"))
    out = base.join(rep, "doc_id", "left").join(lm, "doc_id", "left")
    keep = (
        (F.col("n_words") >= _QF_MIN_WORDS)
        & (
            F.col("dup_trigram_tokens")
            <= F.lit(_QF_MAX_DUP3) * F.col("n_trigrams")
        )
        & (F.col("avg_logp_micro") >= _QF_MIN_LOGP)
    )
    return out.select(
        "doc_id",
        "n_words",
        "n_trigrams",
        "dup_trigram_tokens",
        "avg_logp_micro",
        keep.alias("keep"),
    )


# --- q86: Python UDTF demo (sanctioned slow path, like q60's pandas UDF) ----


@register(
    "q86_ngram_udtf",
    oracle=f"""
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams
FROM (
  SELECT doc_id, unnest({_gram_sql(2)}) AS g
  FROM (SELECT doc_id, {_W} AS ws FROM documents) WHERE len(ws) >= 2
)
GROUP BY doc_id
""",
)
def q86_ngram_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function API) emitting word bigrams
    via LATERAL, rolled up per doc. The sanctioned-slow-path demo for
    UDTFs — q60 plays the same role for pandas UDFs; the NATIVE
    higher-order-function formulation (q74) is the production path, and
    pytest pins this output identical to q74's n_bigrams column."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: bigint, gram: string")
    class BigramUDTF:
        def eval(self, doc_id: int, text: str):
            ws = [w for w in (text or "").strip().split(" ") if w]
            for a, b in zip(ws, ws[1:]):
                yield doc_id, f"{a} {b}"

    import uuid as _uuid

    fname = f"bigrams_{_uuid.uuid4().hex[:8]}"
    spark.udtf.register(fname, BigramUDTF)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(f"docs_{fname}")
    return spark.sql(
        f"""
        SELECT b.doc_id, count(*) AS n_bigrams
        FROM docs_{fname} d, LATERAL {fname}(d.doc_id, d.text) b
        GROUP BY b.doc_id
        """
    )


# --- q87: dedup survivor list (the pipeline's final output) ------------------


@register(
    "q87_dedup_survivors",
    oracle=f"""
WITH RECURSIVE {_MINHASH_JACCARD_CTES},
prs AS (SELECT doc_a, doc_b FROM jc WHERE jaccard >= {_CLUSTER_JACCARD}),
e AS (
  SELECT doc_a AS s, doc_b AS d FROM prs
  UNION
  SELECT doc_b AS s, doc_a AS d FROM prs
),
reach(v, r) AS (
  SELECT s, s FROM e
  UNION
  SELECT e.s, reach.r FROM e JOIN reach ON e.d = reach.v
),
clusters AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v)
SELECT d.doc_id,
       CASE WHEN c.doc_id IS NULL THEN 'unique'
            WHEN c.cluster_id = d.doc_id THEN 'canonical'
            ELSE 'dropped' END AS fate
FROM documents d LEFT JOIN clusters c USING (doc_id)
""",
)
def q87_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's FINAL artifact: per document, keep it because
    it is unique (in no near-dup cluster), keep it as its cluster's
    canonical (minimum doc_id), or drop it — the keep-list a corpus build
    writes after pair generation (q35) and transitive clustering (q67).
    One anti-joinable left join over the cluster table; the heavy work is
    the in-gate q35/q67 machinery this composes."""
    from openstack_billing_from_db_spark.operators import graph

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_duplicates(
        docs, num_hashes=_NUM_HASHES, rows_per_band=_ROWS_PER_BAND,
        shingle_n=_SHINGLE_N,
    ).filter(F.col("jaccard") >= _CLUSTER_JACCARD)
    clusters = graph.dedup_clusters(pairs)
    return docs.select("doc_id").join(clusters, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("cluster_id").isNull(), F.lit("unique"))
        .when(F.col("cluster_id") == F.col("doc_id"), F.lit("canonical"))
        .otherwise(F.lit("dropped"))
        .alias("fate"),
    )


# --- blocked edit-distance near-duplicates (round 5) -------------------------


_EDIT_KEEP_BP = 2000  # evaluate 20% of blocks (basis points of 10000)
_EDIT_SAMPLE_SEED = "q120blocks"


def _edit_dups_oracle() -> str:
    from openstack_billing_from_db_spark.functions.hashing import (
        seeded_hash64_sql,
    )

    gate = seeded_hash64_sql("pfx || '|' || CAST(lenb AS VARCHAR)",
                             _EDIT_SAMPLE_SEED)
    return f"""
WITH n AS (
  SELECT doc_id AS did,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                             ' +', ' ', 'g')) AS norm
  FROM documents
),
k AS (
  SELECT did, substr(norm, 1, 96) AS capped, substr(norm, 1, 16) AS pfx,
         length(norm) // 32 AS lenb
  FROM n
),
ks AS (SELECT * FROM k WHERE {gate} % 10000 < {_EDIT_KEEP_BP}),
ok AS (SELECT pfx, lenb FROM ks GROUP BY pfx, lenb HAVING count(*) <= 64),
kk AS (SELECT ks.* FROM ks JOIN ok USING (pfx, lenb))
SELECT a.did AS doc_a, b.did AS doc_b,
       CAST(levenshtein(a.capped, b.capped) AS BIGINT) AS edit_distance
FROM kk a JOIN kk b ON a.pfx = b.pfx AND a.lenb = b.lenb AND a.did < b.did
WHERE levenshtein(a.capped, b.capped) <= 8
"""


@register("q120_edit_distance_dups", oracle=_edit_dups_oracle())
def q120_edit_distance_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance near-duplicate pairs
    (operators/dedup.edit_distance_near_duplicates) — the string-metric
    dedup member beside exact/MinHash/SimHash/embedding: prefix+length
    blocking and a block-size cap keep the Levenshtein comparisons off
    the doc x doc product; distances are unit-cost integers, exact in
    both engines. The registered query evaluates a deterministic
    _EDIT_KEEP_BP/10000 hash-sample of the BLOCK universe (VERDICT r5
    Next #3 — the q116 bounding recipe, oracle-mirrored): on a corpus
    where every block is full, the unsampled sweep is cap²·|blocks|
    Levenshtein calls, the costliest verify in the repo; a sampled
    block still compares ALL its members, so every emitted pair is
    exact. Production dedup uses the operator unsampled (default)."""
    return dedup.edit_distance_near_duplicates(
        load_table(spark, sf_dir, "documents"),
        block_keep_bp=_EDIT_KEEP_BP,
        block_seed=_EDIT_SAMPLE_SEED,
    )


# --- token-budgeted epoch construction ---------------------------------------

_EPOCH_BUDGET = 2000  # tokens per source
_EPOCH_SEED = "epoch0"


@register(
    "q127_token_budget_epoch",
    oracle=f"""
WITH t AS (
  SELECT source, doc_id AS id,
         CAST(len({_W}) AS BIGINT) AS n_tokens,
         {seeded_hash64_sql("CAST(doc_id AS VARCHAR)", _EPOCH_SEED)} AS h
  FROM documents
),
c AS (
  SELECT source, id, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_tokens
  FROM t
)
SELECT source, id AS doc_id, n_tokens, cum_tokens
FROM c WHERE cum_tokens <= {_EPOCH_BUDGET}
""",
)
def q127_token_budget_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted epoch construction: per source, admit documents
    in deterministic seeded-hash order until the cumulative token count
    reaches {_EPOCH_BUDGET} — the data-recipe step whose quota is
    TOKENS rather than a document ratio (q79) or a per-group row count
    (q105). operators/sampling.token_budget_sample; the hash-prefix
    pre-gate scale path (sort ~margin·budget tokens per source instead
    of the whole source) is pinned output-identical by test."""
    from openstack_billing_from_db_spark.operators.sampling import (
        token_budget_sample,
    )

    kept = token_budget_sample(
        load_table(spark, sf_dir, "documents"),
        budget_tokens=_EPOCH_BUDGET,
        seed=_EPOCH_SEED,
    )
    return kept.select(
        "source", F.col("id").alias("doc_id"), "n_tokens", "cum_tokens"
    )


# --- the composed corpus recipe, oracle-proven end to end --------------------

_RECIPE_MIN_Q = 0.3
_RECIPE_JACCARD = 0.8


def _recipe_text_ctes() -> str:
    """The q128 text-stage CTE chain (scored → canon → minhash jc →
    drops → clean), shared byte-identically by q128 and q143 so the
    composed-with-images recipe replays EXACTLY the audited text
    stages."""
    quality = (
        f"least(1.0, len({_W}) / 100.0) * 0.4"
        f" + len(list_filter({_W}, w -> w IN ({_STOP['en']})))"
        f" / greatest(len({_W}), 1) * 0.4"
        f" + length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))"
        f" / greatest(length(text), 1) * 0.2"
    )
    return f"""scored AS (
  SELECT * FROM documents WHERE {quality} >= {_RECIPE_MIN_Q}
),
canon AS MATERIALIZED (
  SELECT * EXCLUDE (rn) FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM scored)
  WHERE rn = 1
),{_minhash_jaccard_blocks("canon")},
drops AS (SELECT DISTINCT doc_b AS doc_id FROM jc
          WHERE jaccard >= {_RECIPE_JACCARD}),
clean AS MATERIALIZED (SELECT c.* FROM canon c ANTI JOIN drops d ON d.doc_id = c.doc_id)"""


def _recipe_lang_summary(src: str) -> str:
    """The q128 langid + per-language summary tail over ``src``."""
    return f"""lid AS (
  SELECT doc_id,
         CAST(len({_W}) AS BIGINT) AS n_tokens,
         CAST(len(list_filter({_W}, w -> w IN ({_STOP['en']}))) AS BIGINT) AS en_hits,
         CAST(len(list_filter({_W}, w -> w IN ({_STOP['de']}))) AS BIGINT) AS de_hits,
         CAST(len(list_filter({_W}, w -> w IN ({_STOP['es']}))) AS BIGINT) AS es_hits,
         CAST(len(list_filter({_W}, w -> w IN ({_STOP['fr']}))) AS BIGINT) AS fr_hits
  FROM {src}
),
labeled AS (
  SELECT doc_id, n_tokens,
         CASE WHEN en_hits + de_hits + es_hits + fr_hits = 0 THEN 'unknown'
              WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
              WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
              WHEN es_hits >= fr_hits THEN 'es'
              ELSE 'fr' END AS predicted_lang
  FROM lid
)
SELECT predicted_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id
FROM labeled GROUP BY predicted_lang
"""


def _recipe_oracle() -> str:
    return f"""
WITH {_recipe_text_ctes()},
{_recipe_lang_summary("clean")}"""


@register("q128_corpus_recipe", oracle=_recipe_oracle())
def q128_corpus_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED corpus pipeline (plans/corpus_pipeline.prepare_corpus
    — quality filter → exact dedup → MinHash near-dedup → language ID →
    token accounting) proven end to end against one DuckDB oracle that
    replays every stage: the flagship statement that the operators
    compose, not just pass in isolation. Per-language summary output so
    the signal is the pipeline's SURVIVOR SET, not any one stage.
    Scale shape: the stages are the individually-audited q31/q34/q35/
    q32 plans chained — map-side scoring, one hash aggregation, the
    banded LSH join, map-side labeling."""
    from openstack_billing_from_db_spark.plans.corpus_pipeline import (
        prepare_corpus,
    )

    corpus = prepare_corpus(
        spark,
        sf_dir,
        None,
        min_quality=_RECIPE_MIN_Q,
        near_dup_jaccard=_RECIPE_JACCARD,
    )
    return corpus.groupBy("predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
    )


# --- leakage-free train/val/test split (round 6) -----------------------------

_CSPLIT_HASH = seeded_hash64_sql("CAST(ck AS VARCHAR)", "cluster-split")


@register(
    "q133_leakage_free_split",
    oracle=f"""
WITH RECURSIVE {_MINHASH_JACCARD_CTES},
prs AS (SELECT doc_a, doc_b FROM jc WHERE jaccard >= {_CLUSTER_JACCARD}),
e AS (
  SELECT doc_a AS s, doc_b AS d FROM prs
  UNION
  SELECT doc_b AS s, doc_a AS d FROM prs
),
reach(v, r) AS (
  SELECT s, s FROM e
  UNION
  SELECT e.s, reach.r FROM e JOIN reach ON e.d = reach.v
),
cl AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
k AS (
  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS ck
  FROM documents d LEFT JOIN cl USING (doc_id)
),
s AS (
  SELECT doc_id, ck,
         CASE WHEN {_CSPLIT_HASH} % 100 < 80 THEN 'train'
              WHEN {_CSPLIT_HASH} % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM k
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT ck) AS BIGINT) AS n_clusters,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id
FROM s GROUP BY split
""",
)
def q133_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split: membership is a seeded hash of
    the near-dup CLUSTER canonical id (q35 MinHash pairs at Jaccard ≥
    0.5 → q67 connected components; singletons key by their own
    doc_id), so near-duplicate documents can NEVER straddle splits —
    the eval-contamination failure mode a doc-keyed split (q66) is
    blind to. Structural guarantee, not a checked property: split is a
    pure function of the cluster key. The oracle re-derives clusters as
    a recursive-CTE transitive closure and replays the same seeded
    80/10/10 hash, so a propagation bug, a wrong canonical id, or a
    split-hash drift all hash-fail. Scale shape: the pair + CC stages
    are the audited q35/q67 plans; the split itself adds one doc_id-keyed
    left join (near-dup labels ≪ corpus) and a map-side projection."""
    from openstack_billing_from_db_spark.functions.hashing import seeded_hash64
    from openstack_billing_from_db_spark.operators import graph

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_duplicates(
        docs,
        num_hashes=_NUM_HASHES,
        rows_per_band=_ROWS_PER_BAND,
        shingle_n=_SHINGLE_N,
    ).filter(F.col("jaccard") >= _CLUSTER_JACCARD)
    keyed = (
        docs.select("doc_id")
        .join(graph.dedup_clusters(pairs), "doc_id", "left")
        .withColumn("ck", F.coalesce("cluster_id", "doc_id"))
    )
    bucket = seeded_hash64(F.col("ck").cast("string"), "cluster-split") % 100
    return (
        keyed.withColumn(
            "split",
            F.when(bucket < 80, F.lit("train"))
            .when(bucket < 90, F.lit("val"))
            .otherwise(F.lit("test")),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("ck").cast("long").alias("n_clusters"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
        )
    )


# --- quality-canonical dedup survivors (round 6) -----------------------------

_QMICRO_SQL = f"""(least(len({_W}), 100) * 10000 * 4
       + (len(list_filter({_W}, w -> w IN ({_STOP['en']}))) * 1000000
          // greatest(len({_W}), 1)) * 4
       + (length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1000000
          // greatest(length(text), 1)) * 2) // 10"""


@register(
    "q135_quality_dedup_survivors",
    oracle=f"""
WITH RECURSIVE {_MINHASH_JACCARD_CTES},
prs AS (SELECT doc_a, doc_b FROM jc WHERE jaccard >= {_CLUSTER_JACCARD}),
e AS (
  SELECT doc_a AS s, doc_b AS d FROM prs
  UNION
  SELECT doc_b AS s, doc_a AS d FROM prs
),
reach(v, r) AS (
  SELECT s, s FROM e
  UNION
  SELECT e.s, reach.r FROM e JOIN reach ON e.d = reach.v
),
cl AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
q AS (SELECT doc_id, CAST({_QMICRO_SQL} AS BIGINT) AS qm FROM documents),
j AS (SELECT cl.cluster_id, cl.doc_id, q.qm FROM cl JOIN q USING (doc_id)),
r AS (
  SELECT cluster_id, doc_id, qm,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY qm DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY cluster_id) AS n
  FROM j
)
SELECT cluster_id, doc_id AS kept_doc_id, qm AS kept_quality_micro,
       CAST(n AS BIGINT) AS n_docs
FROM r WHERE rn = 1
""",
)
def q135_quality_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-canonical near-dup survivors: per MinHash cluster (the
    q67 components) keep the HIGHEST-quality member, ties → lowest
    doc_id — the curation rule where dedup doubles as a quality upgrade
    (vs q87's lowest-id canonical). Quality is
    text.quality_score_micro: the q31 heuristic on a 1e-6 integer grid
    (floor-div ratios), so the argmax total order is engine-exact —
    a double-valued score would make ties engine-dependent.

    Plan shape (operators/dedup.keep_best_per_cluster): the audited
    q35 pair + q67 CC stages, one doc_id equi-join to attach scores,
    then ONE partial-aggregable groupBy — argmax as min(struct(-q, id))
    combines map-side; no per-cluster window sort. The oracle re-derives
    clusters as a recursive-CTE closure and picks survivors by window,
    so a propagation bug or a score-grid drift hash-fails."""
    from openstack_billing_from_db_spark.operators import graph
    from openstack_billing_from_db_spark.operators.text import (
        quality_score_micro,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_duplicates(
        docs,
        num_hashes=_NUM_HASHES,
        rows_per_band=_ROWS_PER_BAND,
        shingle_n=_SHINGLE_N,
    ).filter(F.col("jaccard") >= _CLUSTER_JACCARD)
    scores = docs.select(
        "doc_id", quality_score_micro(F.col("text")).alias("quality_micro")
    )
    return dedup.keep_best_per_cluster(
        graph.dedup_clusters(pairs), scores
    ).select(
        "cluster_id",
        "kept_doc_id",
        F.col("kept_score").alias("kept_quality_micro"),
        "n_docs",
    )


# --- greedy k-center coreset (round 6) ---------------------------------------

_KC_K = 8


def _kcenter_oracle(k: int = _KC_K) -> str:
    """Chained-CTE farthest-point traversal mirroring
    operators/clustering.kcenter_coreset: every distance is the q73
    arithmetic ((e·e − 2 e·c) + c·c, left-to-right list_inner_product
    folds — bit-parity with the Spark zip_with fold pinned since round
    3), selection is ORDER BY mind DESC, vid LIMIT 1 per round."""
    # Every sel{i} is MATERIALIZED: cand{i} references sel{i-1} twice
    # (join + NOT IN) and sel{i} references it again, so without
    # materialization DuckDB inlines the traversal ~3^k times —
    # measured 175 s → <1 s at k=8 over 500 vectors (the q146/q152
    # inlining lesson).
    blocks = [
        "corpus AS MATERIALIZED (SELECT vec_id AS vid, embedding::DOUBLE[] AS e FROM embeddings)",
        "sel1 AS MATERIALIZED (SELECT vid, e, 1 AS rnk, 0.0 AS mind FROM corpus ORDER BY vid LIMIT 1)",
    ]
    for i in range(2, k + 1):
        prev = f"sel{i - 1}"
        blocks.append(
            f"""cand{i} AS (
  SELECT co.vid, co.e,
         min((list_inner_product(co.e, co.e) - 2 * list_inner_product(co.e, s.e))
             + list_inner_product(s.e, s.e)) AS mind
  FROM corpus co CROSS JOIN {prev} s
  WHERE co.vid NOT IN (SELECT vid FROM {prev})
  GROUP BY co.vid, co.e
)"""
        )
        blocks.append(
            f"pick{i} AS (SELECT vid, e, {i} AS rnk, mind FROM cand{i} "
            f"ORDER BY mind DESC, vid LIMIT 1)"
        )
        blocks.append(
            f"sel{i} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL SELECT * FROM pick{i})"
        )
    ctes = ",\n".join(blocks)
    return f"""
WITH {ctes}
SELECT CAST(rnk AS BIGINT) AS sel_rank, vid AS vec_id, mind AS min_dist
FROM sel{k}
"""


@register("q139_kcenter_coreset", oracle=_kcenter_oracle())
def q139_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embedding corpus
    (operators/clustering.kcenter_coreset; Gonzalez 1985 farthest-point
    traversal, the diversity-pruning selection rule): {_KC_K} vectors
    that span the embedding space, with the coverage-radius sequence
    (each pick's distance to the already-selected set). The diversity
    counterpart of the density-seeking selectors in-gate (q130 SemDeDup
    drops redundancy, q131 DSIR seeks target-likeness; this maximizes
    coverage). k−1 bounded 1-row collects; the corpus never shuffles —
    each round is a map-side distance projection against driver-literal
    centers + TakeOrdered(1). The oracle replays the traversal as
    chained CTEs with bit-identical fold arithmetic, so a wrong argmax
    tie-break or a drifted distance expression hash-fails."""
    from openstack_billing_from_db_spark.operators.clustering import (
        kcenter_coreset,
    )

    return kcenter_coreset(
        load_table(spark, sf_dir, "embeddings"), k=_KC_K
    )


# --- SemDeDup at the k ∝ n scale shape (round 8) -----------------------------
#
# q130 certifies the SemDeDup semantics at a FIXED k (the quadratic
# registered shape); this entry certifies the PRODUCTION shape — k
# derived from ``target_cluster_size`` (the paper's k ∝ n, which bounds
# per-cluster pair quadratics as the corpus grows) — and, because the
# derived k exceeds quantization.LITERAL_CODEBOOK_MAX_CODES (1024), the
# broadcast+Arrow nearest-centroid assignment kernel end-to-end. The
# 500-vector test corpus is replicated 5× with shifted ids (the scaled
# fixture: 2500 vectors → k = 1250 centroids at target size 2); exact
# replicas are the expected casualties (cosine 1 within the duplicate's
# cluster), so the fate column certifies assignment + pair stage + the
# keep-lowest-id rule on the Arrow path.

_SEM_SCALE_R = 5  # replica factor (id shift 1e6 per replica)
_SEM_SCALE_TARGET = 2  # target cluster size -> k = ceil(n/2) = 1250
_SEM_SCALE_ITER = 1


def _semantic_dedup_scaled_oracle() -> str:
    """The q73/q130 CTE machinery with a REPLICATED corpus and an
    n-derived centroid count: corpus = 5 shifted replicas, c0 = the
    ceil(n/target) lowest-id vectors (row_number bound instead of a
    literal LIMIT — k is data-derived exactly like the Spark side's
    base.count()), then the same assign/update/assign chain and
    within-cluster squared-form cosine as q130's oracle."""

    def assign(name: str, cents: str) -> str:
        # argmin as a grouped min over (score, cid) structs — the same
        # ordering (score, then cid) the row_number formulation sorts
        # by, minus the 3M-row window sort; |c|² is computed once per
        # centroid (identical value, identical downstream float ops).
        # At k = 1250 derived centroids this is the difference between
        # a ~5 s and a ~1 s assign, ×2 assigns per oracle.
        return f"""{name} AS MATERIALIZED (
  SELECT co.vid,
         min(struct_pack(s := ce.c2 - 2 * list_inner_product(co.e, ce.c),
                         c := ce.cid)).c AS cluster
  FROM corpus co CROSS JOIN (
    SELECT cid, c, list_inner_product(c, c) AS c2 FROM {cents}) ce
  GROUP BY co.vid
)"""

    r, tgt, dp = _SEM_SCALE_R, _SEM_SCALE_TARGET, _KM_DP
    blocks = [
        # MATERIALIZED throughout: without it DuckDB inlines each CTE
        # into every consumer, so x's Lloyd chain re-runs for every
        # reference (pr references x twice, drp re-runs pr, the final
        # select re-runs x) — measured 230 s → ~8 s at sf0.01 for the
        # q152 composition from materialization alone.
        f"corpus AS MATERIALIZED (SELECT r.r * 1000000 + e.vec_id AS vid, "
        f"e.embedding::DOUBLE[] AS e FROM embeddings e "
        f"CROSS JOIN (SELECT unnest(range({r})) AS r) r)",
        f"""c0 AS (SELECT rn - 1 AS cid, e AS c FROM (
    SELECT row_number() OVER (ORDER BY vid) AS rn, e FROM corpus
  ) WHERE rn <= (SELECT CAST(ceil(count(*) / {tgt}.0) AS BIGINT) FROM corpus))""",
    ]
    cur = "c0"
    for it in range(1, _SEM_SCALE_ITER + 1):
        blocks.append(assign(f"a{it}", cur))
        blocks.append(
            f"""u{it} AS (
  SELECT cluster AS cid, list(v ORDER BY pos) AS c FROM (
    SELECT cluster, pos, floor(avg(val) * 1e{dp} + 0.5) / 1e{dp} AS v
    FROM (
      SELECT a.cluster, unnest(co.e) AS val, generate_subscripts(co.e, 1) AS pos
      FROM a{it} a JOIN corpus co USING (vid)
    ) GROUP BY cluster, pos
  ) GROUP BY cluster
)"""
        )
        blocks.append(
            f"c{it} AS (SELECT p.cid, coalesce(u.c, p.c) AS c "
            f"FROM {cur} p LEFT JOIN u{it} u USING (cid))"
        )
        cur = f"c{it}"
    blocks.append(assign("afinal", cur))
    t2 = _SEM_T * _SEM_T
    fold = "list_sum(list_transform(range(1, 65), i -> {a}.e[i] * {b}.e[i]))"
    ctes = ",\n".join(blocks)
    return f"""
WITH {ctes},
x AS MATERIALIZED (
  SELECT f.vid, f.cluster, co.e,
         {fold.format(a="co", b="co")} AS n2
  FROM afinal f JOIN corpus co USING (vid)
),
pr AS (
  SELECT a.vid AS va, b.vid AS vb, a.n2 AS n2a, b.n2 AS n2b,
         {fold.format(a="a", b="b")} AS dot
  FROM x a JOIN x b ON a.cluster = b.cluster AND a.vid < b.vid
),
drp AS (
  SELECT DISTINCT vb AS vid FROM pr
  WHERE dot >= 0 AND dot * dot >= {t2!r} * n2a * n2b
)
SELECT x.vid AS vec_id, CAST(x.cluster AS BIGINT) AS cluster_id,
       CASE WHEN d.vid IS NULL THEN 'kept' ELSE 'dropped' END AS fate
FROM x LEFT JOIN drp d ON d.vid = x.vid
"""


@register("q140_semantic_dedup_scaled", oracle=_semantic_dedup_scaled_oracle())
def q140_semantic_dedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup on the production scale path
    (operators/similarity.semantic_dedup with ``target_cluster_size``):
    k ∝ n — ceil(n / {_SEM_SCALE_TARGET}) centroids over a 5×-replicated
    corpus (2500 vectors → 1250 centroids), which exceeds the 1024-code
    literal cap and therefore drives the broadcast+Arrow
    nearest-centroid kernel (quantization._nearest_code_arrow — the
    left-to-right fold arithmetic keeps it bit-identical to the oracle's
    list_inner_product). Certifies the gap the fixed-k q130 leaves open:
    derived k, bounded cluster sizes, Arrow assignment, and the
    keep-lowest-id fate rule, end-to-end under the driver."""
    from openstack_billing_from_db_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    rep = (
        emb.select(
            F.explode(
                F.array(*[F.lit(i).cast("long") for i in range(_SEM_SCALE_R)])
            ).alias("r"),
            "vec_id",
            "embedding",
        )
        .select(
            (F.col("r") * 1000000 + F.col("vec_id")).alias("vec_id"),
            "embedding",
        )
    )
    return semantic_dedup(
        rep,
        n_iter=_SEM_SCALE_ITER,
        round_dp=_KM_DP,
        threshold=_SEM_T,
        target_cluster_size=_SEM_SCALE_TARGET,
    )


# --- perceptual-hash image dedup (round 8) ------------------------------------

_DH_GRID = 8  # 8×8 mesh -> 56-bit dHash (sign-safe in BIGINT)
_DH_MAX_HAMMING = 4

# closed-form pooled-cell intensity of media.synth_textured_pixels:
# portable md5 cell hash (the repo's cross-engine hash family) + the
# one-cell +128 member bump
_DH_CELL_SQL = (
    "("
    + portable_hash64_sql(
        "concat('cell|', CAST(d.doc_id // 5 AS VARCHAR), ':', "
        "CAST(u.u AS VARCHAR), ':', CAST(r.r AS VARCHAR))"
    )
    + " % 256"
    + " + CASE WHEN u.u = d.doc_id % 5 AND r.r = d.doc_id % 5"
    + " THEN 128 ELSE 0 END) % 256"
)


@register(
    "q141_image_phash_dedup",
    oracle=f"""
WITH g AS (
  SELECT d.doc_id, r.r, u.u, {_DH_CELL_SQL} AS v
  FROM documents d, range({_DH_GRID}) r(r), range({_DH_GRID}) u(u)
),
bits AS (
  SELECT a.doc_id, CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit,
         a.r * {_DH_GRID - 1} + a.u AS k
  FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.r = a.r AND b.u = a.u + 1
  WHERE a.u < {_DH_GRID - 1}
),
fp AS (
  SELECT doc_id, CAST(sum(bit * (CAST(1 AS BIGINT) << k)) AS BIGINT) AS h
  FROM bits GROUP BY doc_id
),
bands AS (
  SELECT doc_id, h, b.b, (h >> (b.b * 8)) & 255 AS bucket
  FROM fp, range(7) b(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.h AS ha, b.h AS hb
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT da AS doc_a, db AS doc_b,
       CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {_DH_MAX_HAMMING}
""",
)
def q141_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image deduplication (VERDICT r6 #6 / r7 #7): a
    REAL decode→dHash→banded-hamming-join chain. Each doc gets a genuine
    16×16 BMP (media.synth_textured_pixels — per-family md5 cell
    textures with a one-cell member bump, so families are true
    near-duplicates; gradient cells were measured and rejected), the
    byte-level BMP codec decodes it back inside Arrow-batched
    mapInPandas, media.dhash_pixels pools intensity to an 8×8 mesh and
    packs the 56 horizontal-neighbor comparisons into one BIGINT word,
    and dedup.multiword_hamming_pairs at n_words=1 — the banded-hamming
    kernel q37's simhash join shares, word_bits=56/band_bits=8 — emits
    verified pairs at hamming <= {_DH_MAX_HAMMING}. The oracle replays pixel synthesis, pooling
    (identity on 2×2-constant cells), bit packing, banding, and the
    hamming verify in closed form — any codec, pooling, packing, or
    band-extraction bug hash-fails. Scale shape: pixels never shuffle
    (narrow (doc_id, w0) rows after the map stage); the pair space is
    band-bucketed with the shared kernel's bucket caps available for
    skewed corpora. The FIXED 56-bit/8-bit banding registered here
    saturates past ~131k uniform images (63× wall measured at x100) —
    multimodal.phash_near_duplicates is the corpus-size-driven entry
    point (dedup.tune_hamming_band_bits) that auto-widens to q142's
    two-word wide bands instead."""
    docs = load_table(spark, sf_dir, "documents")
    bits = _DH_GRID * (_DH_GRID - 1)
    fp = multimodal.dhash_images(
        multimodal.synthesize_textured_image_payloads(docs),
        grid=_DH_GRID,
        word_bits=bits,
    )
    return dedup.multiword_hamming_pairs(
        fp,
        n_words=1,
        word_bits=bits,
        band_bits=8,
        max_hamming=_DH_MAX_HAMMING,
    )


# --- 72-bit wide-band perceptual dedup (round 8) -------------------------------
#
# The scale lever q141's x100 sweep names: at 500k images the 56-bit /
# 8-bit-band (256-bucket) guaranteed-recall banding saturates (~3.4e9
# candidate pairs, measured 63× wall). grid=9 gives 72 dHash bits in TWO
# sign-safe 36-bit BIGINT words; 6 bands × 12 bits keeps the pigeonhole
# guarantee (6 > max_hamming=4) with 4096 buckets per band — 16× the
# bucket space, deferring saturation by the same factor.

_DH9_GRID = 9
_DH9_WORD_BITS = 36
_DH9_BAND_BITS = 12


def _dh9_fp_ctes() -> str:
    """The 18×18 texture → pooling → 72-bit two-word packing chain as a
    CTE block ``g → bits → fp`` (fp: doc_id, w0, w1) — shared
    byte-identically by q142's pair oracle and q160's streaming
    admission oracle."""
    return f"""g AS (
  SELECT d.doc_id, r.r, u.u, {_DH_CELL_SQL} AS v
  FROM documents d, range({_DH9_GRID}) r(r), range({_DH9_GRID}) u(u)
),
bits AS (
  SELECT a.doc_id, CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit,
         a.r * {_DH9_GRID - 1} + a.u AS k
  FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.r = a.r AND b.u = a.u + 1
  WHERE a.u < {_DH9_GRID - 1}
),
fp AS MATERIALIZED (
  SELECT doc_id,
         CAST(sum(CASE WHEN k < {_DH9_WORD_BITS}
                       THEN bit * (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS w0,
         CAST(sum(CASE WHEN k >= {_DH9_WORD_BITS}
                       THEN bit * (CAST(1 AS BIGINT) << (k - {_DH9_WORD_BITS})) ELSE 0 END) AS BIGINT) AS w1
  FROM bits GROUP BY doc_id
)"""


def _dh9_oracle() -> str:
    bits = _DH9_GRID * (_DH9_GRID - 1)
    bpw = _DH9_WORD_BITS // _DH9_BAND_BITS
    n_bands = (bits // _DH9_WORD_BITS + (1 if bits % _DH9_WORD_BITS else 0)) * bpw
    mask = (1 << _DH9_BAND_BITS) - 1
    return f"""
WITH {_dh9_fp_ctes()},
bands AS (
  SELECT doc_id, w0, w1, b.b,
         ((CASE WHEN b.b < {bpw} THEN w0 ELSE w1 END)
          >> ({_DH9_BAND_BITS} * (b.b % {bpw}))) & {mask} AS bucket
  FROM fp, range({n_bands}) b(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
         a.w0 AS a0, a.w1 AS a1, b.w0 AS b0, b.w1 AS b1
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT da AS doc_a, db AS doc_b,
       CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) <= {_DH_MAX_HAMMING}
"""


@register("q142_image_phash72_dedup", oracle=_dh9_oracle())
def q142_image_phash72_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-band perceptual-hash dedup — q141's documented scale lever
    implemented: 18×18 textured BMPs (the same md5 cell texture, grid=9
    superset), byte-level decode in Arrow mapInPandas, 72-bit dHash
    split into two 36-bit BIGINT words (media.dhash_words), pairs via
    dedup.multiword_hamming_pairs with 6 bands × 12 bits — pigeonhole
    recall guarantee intact (6 > hamming budget 4) with 4096 buckets
    per band (16× q141's 256), deferring banded-join bucket saturation
    by the same factor. The oracle replays synthesis → pooling →
    two-word packing → per-word band extraction → the summed-xor
    hamming verify in closed form."""
    docs = load_table(spark, sf_dir, "documents")
    fp = multimodal.dhash_images(
        multimodal.synthesize_textured_image_payloads(docs, grid=_DH9_GRID),
        grid=_DH9_GRID,
        word_bits=_DH9_WORD_BITS,
    )
    return dedup.multiword_hamming_pairs(
        fp,
        n_words=2,
        word_bits=_DH9_WORD_BITS,
        band_bits=_DH9_BAND_BITS,
        max_hamming=_DH_MAX_HAMMING,
    )


# --- composed corpus recipe with the image-dedup stage (round 9) --------------


def _image_stage_ctes(src: str, out: str) -> str:
    """The perceptual image-dedup stage CTE block over ``src``, ending
    in ``{out}`` = survivors — shared byte-identically by q143 and the
    full-multimodal q146. The Spark side sizes the hamming banding from
    the stage input's cardinality (multimodal.phash_near_duplicates →
    dedup.tune_hamming_band_bits); through sf0.1 that cardinality is
    far below the 131k single-word boundary, so the tuner
    deterministically picks the 56-bit dHash at band_bits=11 (widest
    width keeping 56//11 = 5 > max_hamming bands) — which is exactly
    the banding this block replays."""
    band_bits = 11
    n_bands = (_DH_GRID * (_DH_GRID - 1)) // band_bits
    mask = (1 << band_bits) - 1
    return f"""g AS MATERIALIZED (
  SELECT d.doc_id, r.r, u.u, {_DH_CELL_SQL} AS v
  FROM {src} d, range({_DH_GRID}) r(r), range({_DH_GRID}) u(u)
),
hbits AS (
  SELECT a.doc_id, CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit,
         a.r * {_DH_GRID - 1} + a.u AS k
  FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.r = a.r AND b.u = a.u + 1
  WHERE a.u < {_DH_GRID - 1}
),
fp AS (
  SELECT doc_id, CAST(sum(bit * (CAST(1 AS BIGINT) << k)) AS BIGINT) AS h
  FROM hbits GROUP BY doc_id
),
ibands AS MATERIALIZED (
  SELECT doc_id, h, b.b, (h >> (b.b * {band_bits})) & {mask} AS bucket
  FROM fp, range({n_bands}) b(b)
),
icand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.h AS ha, b.h AS hb
  FROM ibands a JOIN ibands b
    ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
idrops AS (
  SELECT DISTINCT db AS doc_id FROM icand
  WHERE bit_count(xor(ha, hb)) <= {_DH_MAX_HAMMING}
),
{out} AS MATERIALIZED (SELECT c.* FROM {src} c ANTI JOIN idrops i ON i.doc_id = c.doc_id)"""


def _recipe_images_oracle() -> str:
    """q128's text chain + the perceptual image-dedup stage (see
    :func:`_image_stage_ctes` for the banding-width proof)."""
    return f"""
WITH {_recipe_text_ctes()},
{_image_stage_ctes("clean", "final")},
{_recipe_lang_summary("final")}"""


@register("q143_corpus_recipe_images", oracle=_recipe_images_oracle())
def q143_corpus_recipe_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus recipe WITH the multimodal dedup stage
    (VERDICT r8 Next #4): q128's audited text chain (quality filter →
    exact dedup → MinHash near-dedup), then each survivor's image
    payload is synthesized, byte-decoded, dHashed, and near-dup pairs
    drop the higher-id member — via multimodal.phash_near_duplicates,
    so the recipe inherits the corpus-size-driven band selection (the
    72-bit wide-band q142 path automatically past the 56-bit boundary;
    the oracle replays the small-corpus branch the tuner provably picks
    through sf0.1). Same per-language summary as q128 — the signal is
    the composed survivor set across BOTH modalities. Scale shape:
    every stage is the audited operator plan; pixels live only inside
    the decode map stage."""
    from openstack_billing_from_db_spark.plans.corpus_pipeline import (
        prepare_corpus,
    )

    corpus = prepare_corpus(
        spark,
        sf_dir,
        None,
        min_quality=_RECIPE_MIN_Q,
        near_dup_jaccard=_RECIPE_JACCARD,
        image_dedup=True,
        image_max_hamming=_DH_MAX_HAMMING,
    )
    return corpus.groupBy("predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
    )


# --- audio near-duplicate dedup (round 9) --------------------------------------
#
# The audio member of the perceptual-dedup family: real RIFF/WAV decode
# → 56-bit delta-energy fingerprint (media.audio_delta_hash) → the SAME
# banded-hamming join kernel the image path certifies. Fixture families
# mirror the image texture design (shared md5 frame profile + one
# member frame bump ⇒ within-family hamming ≤ 4, cross-family
# ~Binomial(56, ½)).
#
# Band widths are DERIVED from dedup.tune_hamming_band_bits at import
# time (VERDICT r9 Next #3: no bare band-width literal in a registered
# perceptual plan) — the registered plan and its f-string oracle both
# consume the same constant, so a tuner re-anchor (e.g. the r9
# occupancy 64→128 change) re-derives BOTH sides together and parity
# cannot silently desynchronize. The static plan+oracle pair is sized
# for the registered fixtures (documents ≤ ~6k rows at sf0.1);
# _PERCEPTUAL_FIXTURE_MAX_DOCS bounds the corpus the pair is certified
# for — past it, use the auto-tuning production entry points
# (multimodal.phash_near_duplicates and friends), which re-tune per
# corpus.

_PERCEPTUAL_FIXTURE_MAX_DOCS = 100_000
_AW_BAND_BITS = dedup.tune_hamming_band_bits(
    _PERCEPTUAL_FIXTURE_MAX_DOCS, bits=56, max_hamming=_DH_MAX_HAMMING
)
def _aw_amp_sql(vid: str = "d.doc_id") -> str:
    """q144's frame-amplitude expression over the id expression ``vid``
    — parametrized so q146's audio stage can synthesize from an
    OFFSET id (each modality gets its own duplicate-family structure,
    as real multimodal corpora have)."""
    return (
        portable_hash64_sql(
            f"concat('awave|', CAST({vid} // 5 AS VARCHAR), ':', "
            "CAST(k.k AS VARCHAR))"
        )
        + f" % 2048 + CASE WHEN k.k = {vid} % 5 THEN 4096 ELSE 0 END"
    )


_AW_AMP_SQL = _aw_amp_sql()


@register(
    "q144_audio_phash_dedup",
    oracle=f"""
WITH amps AS (
  SELECT d.doc_id, k.k, {_AW_AMP_SQL} AS amp
  FROM documents d, range(57) k(k)
),
abits AS (
  SELECT a.doc_id, CASE WHEN b.amp > a.amp THEN 1 ELSE 0 END AS bit, a.k
  FROM amps a JOIN amps b ON b.doc_id = a.doc_id AND b.k = a.k + 1
  WHERE a.k < 56
),
fp AS (
  SELECT doc_id, CAST(sum(bit * (CAST(1 AS BIGINT) << k)) AS BIGINT) AS h
  FROM abits GROUP BY doc_id
),
bands AS (
  SELECT doc_id, h, b.b,
         (h >> (b.b * {_AW_BAND_BITS})) & {(1 << _AW_BAND_BITS) - 1} AS bucket
  FROM fp, range({56 // _AW_BAND_BITS}) b(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.h AS ha, b.h AS hb
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT da AS doc_a, db AS doc_b,
       CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {_DH_MAX_HAMMING}
""",
)
def q144_audio_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate detection — a REAL decode→fingerprint→
    banded-hamming chain over WAV payloads: each doc gets a genuine
    RIFF/WAV clip (media.synth_family_wav_samples — shared md5
    frame-amplitude profile per family, one member frame bump),
    media.decode_wav parses it back inside Arrow-batched mapInPandas,
    media.audio_delta_hash sums |PCM| per equal frame and packs the 56
    consecutive-frame comparisons into one BIGINT word, and
    dedup.multiword_hamming_pairs at n_words=1 — the SAME kernel the
    image dHash path uses (q141/q142), at the width the hamming tuner
    picks for this corpus size — emits verified pairs at hamming ≤ 4. The oracle
    replays frame amplitudes (portable md5 hash family), delta-bit
    packing, banding, and the hamming verify in closed form — a codec,
    framing, packing, or banding bug hash-fails. Scale shape: PCM never
    shuffles (narrow (doc_id, w0) rows after the map stage); the
    pair space is band-bucketed with pigeonhole recall (5 bands >
    hamming budget 4)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = multimodal.audio_dhash(
        multimodal.synthesize_family_audio_payloads(docs)
    )
    return dedup.multiword_hamming_pairs(
        fp,
        n_words=1,
        word_bits=56,
        band_bits=_AW_BAND_BITS,
        max_hamming=_DH_MAX_HAMMING,
    )


# --- video near-duplicate dedup (round 9) --------------------------------------
#
# The video member of the perceptual family, and a NEW join shape:
# entities carry one fingerprint PER SAMPLED FRAME, and a pair is a
# near-dup iff a frame MAJORITY (>= 2 of 3) matches at hamming <= 4.
# The fixture (media.synth_family_video_frames) makes the majority rule
# discriminative: within a family, member var=4 carries an independent
# frame 0 and var=3 an independent frame 1, so pairs match on 3, 2, or
# (for the (3,4) pair, dropped) 1 frame positions.

# same tuner derivation as _AW_BAND_BITS: per-frame fingerprints are
# 56-bit dHashes, one per (doc, frame) — the banded join keys include
# the frame position, so per-bucket occupancy is per-frame and the
# documents-count bound applies per frame position
_VW_BAND_BITS = dedup.tune_hamming_band_bits(
    _PERCEPTUAL_FIXTURE_MAX_DOCS, bits=56, max_hamming=_DH_MAX_HAMMING
)
_VW_MIN_FRAMES = 2
def _vw_cell_sql(vid: str = "d.doc_id") -> str:
    """q145's per-frame texture-cell expression over the id expression
    ``vid`` — parametrized for the same per-modality family-offset
    reason as :func:`_aw_amp_sql`."""
    return (
        f"CASE WHEN ({vid} % 5 = 4 AND f.f = 0) OR ({vid} % 5 = 3 AND f.f = 1) THEN "
        + portable_hash64_sql(
            f"concat('vdist|', CAST({vid} // 5 AS VARCHAR), ':', "
            f"CAST({vid} % 5 AS VARCHAR), ':', CAST(u.u AS VARCHAR), ':', "
            "CAST(r.r AS VARCHAR))"
        )
        + " % 256 ELSE ("
        + portable_hash64_sql(
            f"concat('vcell|', CAST({vid} // 5 AS VARCHAR), ':', "
            "CAST(f.f AS VARCHAR), ':', CAST(u.u AS VARCHAR), ':', "
            "CAST(r.r AS VARCHAR))"
        )
        + " % 256"
        + f" + CASE WHEN u.u = {vid} % 5 AND r.r = {vid} % 5"
        + " THEN 128 ELSE 0 END) % 256 END"
    )


_VW_CELL_SQL = _vw_cell_sql()


@register(
    "q145_video_phash_dedup",
    oracle=f"""
WITH g AS (
  SELECT d.doc_id, f.f, r.r, u.u, {_VW_CELL_SQL} AS v
  FROM documents d, range(3) f(f), range(8) r(r), range(8) u(u)
),
vbits AS (
  SELECT a.doc_id, a.f, CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit,
         a.r * 7 + a.u AS k
  FROM g a JOIN g b
    ON b.doc_id = a.doc_id AND b.f = a.f AND b.r = a.r AND b.u = a.u + 1
  WHERE a.u < 7
),
fp AS (
  SELECT doc_id, f,
         CAST(sum(bit * (CAST(1 AS BIGINT) << k)) AS BIGINT) AS h
  FROM vbits GROUP BY doc_id, f
),
bands AS (
  SELECT doc_id, f, h, b.b,
         (h >> (b.b * {_VW_BAND_BITS})) & {(1 << _VW_BAND_BITS) - 1} AS bucket
  FROM fp, range({56 // _VW_BAND_BITS}) b(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.f AS f,
         a.h AS ha, b.h AS hb
  FROM bands a JOIN bands b
    ON a.f = b.f AND a.b = b.b AND a.bucket = b.bucket
   AND a.doc_id < b.doc_id
),
fmatch AS (
  SELECT da, db, f FROM cand
  WHERE bit_count(xor(ha, hb)) <= {_DH_MAX_HAMMING}
)
SELECT da AS doc_a, db AS doc_b,
       CAST(count(*) AS BIGINT) AS n_frames_matched
FROM fmatch GROUP BY da, db
HAVING count(*) >= {_VW_MIN_FRAMES}
""",
)
def q145_video_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate detection — frame-majority matching over
    per-frame perceptual hashes: each doc gets a real RVID container of
    3 family-textured BMP frames (media.synth_family_video_frames), the
    container index walk decodes exactly the sampled frames
    (multimodal.video_frame_dhash — skipped frames never decode, the
    100 TB property), each frame gets the q141 dHash (one 56-bit
    word), and dedup.framewise_multiword_hamming_pairs joins banded
    WITHIN frame position
    and keeps pairs matching on >= {_VW_MIN_FRAMES} of 3 frames. The
    fixture's distorted-frame members make the majority rule
    discriminative (family pairs match 3 or 2 frames; the doubly-
    distorted pair matches 1 and is dropped). The oracle replays
    texture synthesis, per-frame packing, frame-scoped banding, the
    hamming verify, and the majority count in closed form. Scale
    shape: video bytes never shuffle (narrow (doc_id, frame_idx, w0)
    rows after the map stage); the pair space is banded per frame position
    with the pigeonhole guarantee intact (5 bands > hamming 4)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = multimodal.video_frame_dhash(
        multimodal.synthesize_family_video_payloads(docs), n_samples=3
    )
    return dedup.framewise_multiword_hamming_pairs(
        fp,
        n_words=1,
        word_bits=56,
        band_bits=_VW_BAND_BITS,
        max_hamming=_DH_MAX_HAMMING,
        min_frames=_VW_MIN_FRAMES,
    )


# --- composed corpus recipe with ALL multimodal dedup stages (round 10) --------


def _audio_stage_ctes(src: str, out: str, synth_id_div: int = 1) -> str:
    """The audio perceptual-dedup stage CTE block over ``src`` — q144's
    amplitude-profile → delta-bit packing → banding → hamming verify
    chain, parametrized by source relation and with a-prefixed CTE
    names so it composes with the image/video blocks. ``synth_id_div``
    keys the fixture content off doc_id // synth_id_div (each modality
    gets its own duplicate structure, so every composed stage has real
    work — see audio_dedup_stage). Band width is the
    shared tuner-derived ``_AW_BAND_BITS`` (the Spark stage sizes its
    banding from the stage input's cardinality via
    multimodal.audio_near_duplicates → tune_hamming_band_bits, which
    picks the same width for any corpus the static fixture pair is
    certified for — see ``_PERCEPTUAL_FIXTURE_MAX_DOCS``)."""
    vid = f"(d.doc_id // {synth_id_div})" if synth_id_div != 1 else "d.doc_id"
    return f"""aamps AS MATERIALIZED (
  SELECT d.doc_id, k.k, {_aw_amp_sql(vid)} AS amp
  FROM {src} d, range(57) k(k)
),
aabits AS (
  SELECT a.doc_id, CASE WHEN b.amp > a.amp THEN 1 ELSE 0 END AS bit, a.k
  FROM aamps a JOIN aamps b ON b.doc_id = a.doc_id AND b.k = a.k + 1
  WHERE a.k < 56
),
afp AS (
  SELECT doc_id, CAST(sum(bit * (CAST(1 AS BIGINT) << k)) AS BIGINT) AS h
  FROM aabits GROUP BY doc_id
),
abands AS MATERIALIZED (
  SELECT doc_id, h, b.b,
         (h >> (b.b * {_AW_BAND_BITS})) & {(1 << _AW_BAND_BITS) - 1} AS bucket
  FROM afp, range({56 // _AW_BAND_BITS}) b(b)
),
acand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.h AS ha, b.h AS hb
  FROM abands a JOIN abands b
    ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
adrops AS (
  SELECT DISTINCT db AS doc_id FROM acand
  WHERE bit_count(xor(ha, hb)) <= {_DH_MAX_HAMMING}
),
{out} AS MATERIALIZED (SELECT c.* FROM {src} c ANTI JOIN adrops a ON a.doc_id = c.doc_id)"""


def _video_stage_ctes(src: str, out: str, synth_id_div: int = 1) -> str:
    """The video frame-majority dedup stage CTE block over ``src`` —
    q145's per-frame texture → packing → frame-scoped banding →
    majority-count chain, parametrized by source relation with
    v-prefixed CTE names. Same tuner-derived width and ``synth_id_div``
    contracts as :func:`_audio_stage_ctes`."""
    vid = f"(d.doc_id // {synth_id_div})" if synth_id_div != 1 else "d.doc_id"
    return f"""vg AS MATERIALIZED (
  SELECT d.doc_id, f.f, r.r, u.u, {_vw_cell_sql(vid)} AS v
  FROM {src} d, range(3) f(f), range(8) r(r), range(8) u(u)
),
vvbits AS (
  SELECT a.doc_id, a.f, CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit,
         a.r * 7 + a.u AS k
  FROM vg a JOIN vg b
    ON b.doc_id = a.doc_id AND b.f = a.f AND b.r = a.r AND b.u = a.u + 1
  WHERE a.u < 7
),
vfp AS (
  SELECT doc_id, f,
         CAST(sum(bit * (CAST(1 AS BIGINT) << k)) AS BIGINT) AS h
  FROM vvbits GROUP BY doc_id, f
),
vbands AS MATERIALIZED (
  SELECT doc_id, f, h, b.b,
         (h >> (b.b * {_VW_BAND_BITS})) & {(1 << _VW_BAND_BITS) - 1} AS bucket
  FROM vfp, range({56 // _VW_BAND_BITS}) b(b)
),
vcand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.f AS f,
         a.h AS ha, b.h AS hb
  FROM vbands a JOIN vbands b
    ON a.f = b.f AND a.b = b.b AND a.bucket = b.bucket
   AND a.doc_id < b.doc_id
),
vfmatch AS (
  SELECT da, db, f FROM vcand
  WHERE bit_count(xor(ha, hb)) <= {_DH_MAX_HAMMING}
),
vdrops AS (
  SELECT DISTINCT db AS doc_id FROM (
    SELECT da, db FROM vfmatch GROUP BY da, db
    HAVING count(*) >= {_VW_MIN_FRAMES})
),
{out} AS MATERIALIZED (SELECT c.* FROM {src} c ANTI JOIN vdrops v ON v.doc_id = c.doc_id)"""


# each modality keys its synthetic CONTENT off a different divisor of
# doc_id (image: doc_id, audio: doc_id // 2, video: doc_id // 3): docs
# whose images differ can still be exact audio duplicates (consecutive
# ids share an audio content key) and image/audio survivors can still
# be video near-dups — every stage in the composed recipe has real
# drops to make, exactly like real corpora where image/audio/video
# duplicate independently. The divisors ride the fixture synthesis
# only; fingerprints, pairs, and drops stay keyed on the true doc_id.
_AUDIO_SYNTH_DIV = 2
_VIDEO_SYNTH_DIV = 3


def _recipe_multimodal_oracle() -> str:
    """q128's text chain + image + audio + video dedup stages, replayed
    in pipeline order (text → image → audio → video), each stage's
    survivors feeding the next — one end-to-end oracle for the fully
    composed multimodal recipe."""
    return f"""
WITH {_recipe_text_ctes()},
{_image_stage_ctes("clean", "final")},
{_audio_stage_ctes("final", "afinal", _AUDIO_SYNTH_DIV)},
{_video_stage_ctes("afinal", "vfinal", _VIDEO_SYNTH_DIV)},
{_recipe_lang_summary("vfinal")}"""


@register("q146_corpus_recipe_multimodal", oracle=_recipe_multimodal_oracle())
def q146_corpus_recipe_multimodal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The composed corpus recipe with EVERY perceptual-dedup stage
    (VERDICT r9 Next #5): q128's audited text chain (quality filter →
    exact dedup → MinHash near-dedup), then image (q143's stage), then
    audio (q144's decode→delta-hash kernel as a composable stage), then
    video (q145's frame-majority kernel), each dropping the higher-id
    member of its verified pairs before the next stage runs — via
    plans/corpus_pipeline.prepare_corpus with all three modality flags
    on, so the registered query exercises exactly the production
    composition (corpus_cli prepare --image-dedup --audio-dedup
    --video-dedup). The oracle replays all six stages in closed form
    against the same parquet; the per-language summary makes the signal
    the final composed survivor set. Scale shape: each stage is the
    individually-audited operator plan — payloads (pixels, PCM, video
    bytes) live only inside their stage's Arrow map tasks, banding is
    corpus-size-tuned per stage, and every inter-stage handoff is a
    narrow anti-join on doc_id."""
    from openstack_billing_from_db_spark.plans.corpus_pipeline import (
        prepare_corpus,
    )

    corpus = prepare_corpus(
        spark,
        sf_dir,
        None,
        min_quality=_RECIPE_MIN_Q,
        near_dup_jaccard=_RECIPE_JACCARD,
        image_dedup=True,
        image_max_hamming=_DH_MAX_HAMMING,
        audio_dedup=True,
        audio_max_hamming=_DH_MAX_HAMMING,
        audio_synth_id_div=_AUDIO_SYNTH_DIV,
        video_dedup=True,
        video_max_hamming=_DH_MAX_HAMMING,
        video_min_frames=_VW_MIN_FRAMES,
        video_synth_id_div=_VIDEO_SYNTH_DIV,
    )
    return corpus.groupBy("predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
    )


# --- streaming video admission, driver-certified (round 11) --------------------
#
# The four streaming admit_*_batch compositions were pytest-only; this
# entry replays a TWO-EPOCH video admission (the newest path) through
# the REAL streaming/dedup_stream.admit_video_batch function — epoch 1
# against an empty index, epoch 2 against epoch 1's admitted additions
# — and the oracle replays the whole process from closed form
# (VERDICT r10 Next #6, the q151 incremental-≡-batch certification
# pattern). Epochs split by doc_id parity so every 5-member fixture
# family straddles both epochs: epoch-2 docs get blocked by INDEX
# matches (var-0/2/4 members admitted in epoch 1) and by LOWER-ID
# IN-BATCH matches, and the doubly-distorted (var=3, var=4) pair's
# 1-frame match stays below the majority gate — all three admission
# rules carry driver rows.


def _video_admission_oracle() -> str:
    """Closed-form two-epoch replay: q145's per-frame texture/packing
    chain, EXACT all-pairs frame matches (banding is recall-exact by
    pigeonhole, so the oracle skips it), the ≥ min_frames majority in
    both directions, then epoch 1 verdicts → admitted index → epoch 2
    verdicts with the shared blocking rule (index match, or lower-id
    in-batch match)."""
    return f"""
WITH g AS (
  SELECT d.doc_id, f.f, r.r, u.u, {_VW_CELL_SQL} AS v
  FROM documents d, range(3) f(f), range(8) r(r), range(8) u(u)
),
vbits AS (
  SELECT a.doc_id, a.f, CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit,
         a.r * 7 + a.u AS k
  FROM g a JOIN g b
    ON b.doc_id = a.doc_id AND b.f = a.f AND b.r = a.r AND b.u = a.u + 1
  WHERE a.u < 7
),
fp AS (
  SELECT doc_id, f,
         CAST(sum(bit * (CAST(1 AS BIGINT) << k)) AS BIGINT) AS h
  FROM vbits GROUP BY doc_id, f
),
mj AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS nf
  FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id <> b.doc_id
  WHERE bit_count(xor(a.h, b.h)) <= {_DH_MAX_HAMMING}
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= {_VW_MIN_FRAMES}
),
b1 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
b2 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1),
e1m AS (
  SELECT m.* FROM mj m
  JOIN b1 x ON x.doc_id = m.da JOIN b1 y ON y.doc_id = m.db
),
e1v AS (
  SELECT a.doc_id, count(m.db) AS n_matches, max(m.nf) AS best,
         count(CASE WHEN m.db < a.doc_id THEN 1 END) = 0 AS admitted
  FROM b1 a LEFT JOIN e1m m ON m.da = a.doc_id
  GROUP BY a.doc_id
),
idx1 AS (SELECT doc_id FROM e1v WHERE admitted),
e2m AS (
  SELECT m.da, m.db, m.nf,
         CASE WHEN i.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_idx
  FROM mj m
  JOIN b2 x ON x.doc_id = m.da
  LEFT JOIN idx1 i ON i.doc_id = m.db
  LEFT JOIN b2 y ON y.doc_id = m.db
  WHERE i.doc_id IS NOT NULL OR y.doc_id IS NOT NULL
),
e2v AS (
  SELECT a.doc_id, count(m.db) AS n_matches, max(m.nf) AS best,
         count(CASE WHEN m.in_idx = 1 OR m.db < a.doc_id THEN 1 END) = 0
           AS admitted
  FROM b2 a LEFT JOIN e2m m ON m.da = a.doc_id
  GROUP BY a.doc_id
)
SELECT doc_id, CAST(0 AS BIGINT) AS epoch,
       CAST(n_matches AS BIGINT) AS n_matches,
       CAST(best AS BIGINT) AS best_frames_matched, admitted
FROM e1v
UNION ALL
SELECT doc_id, CAST(1 AS BIGINT), CAST(n_matches AS BIGINT),
       CAST(best AS BIGINT), admitted
FROM e2v
"""


@register(
    "q153_streaming_video_admission", oracle=_video_admission_oracle()
)
def q153_streaming_video_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-epoch streaming video admission through the real
    streaming/dedup_stream.admit_video_batch composition: even-id clips
    arrive in epoch 1 (probed against an empty per-frame index), their
    admitted fingerprints become the index, odd-id clips arrive in
    epoch 2 and are blocked by index majority-matches OR lower-id
    in-batch matches (the min-id-canonical rule). Per-epoch work is
    (batch frame hashes) + (banded probe against the ~24 B/frame-row
    index) — video bytes never leave the decode stage; the index grows
    at the unique-clip rate. Output: one verdict row per clip
    (doc_id, epoch, n_matches, best_frames_matched, admitted)."""
    from openstack_billing_from_db_spark.streaming.dedup_stream import (
        admit_video_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    pay = multimodal.synthesize_family_video_payloads(docs)
    b1 = pay.filter(F.col("doc_id") % 2 == 0)
    b2 = pay.filter(F.col("doc_id") % 2 == 1)
    empty = spark.createDataFrame([], "doc_id long, frame_idx int, w0 long")
    # epoch 1's verdict/addition plans are referenced again by epoch 2
    # and the final union, but deliberately NOT persisted: the expensive
    # half (decode + fingerprints) is already cached inside the match
    # kernel, and an A/B at sf0.1 measured caching the downstream
    # verdicts SLOWER (8.2 s vs 5.3 s — the InMemoryRelation barrier
    # costs more than recomputing the narrow match join from the cached
    # fingerprints)
    v1, add1 = admit_video_batch(
        spark,
        b1,
        None,
        band_bits=_VW_BAND_BITS,
        max_hamming=_DH_MAX_HAMMING,
        min_frames=_VW_MIN_FRAMES,
        existing_index=empty,
    )
    v2, _ = admit_video_batch(
        spark,
        b2,
        None,
        band_bits=_VW_BAND_BITS,
        max_hamming=_DH_MAX_HAMMING,
        min_frames=_VW_MIN_FRAMES,
        existing_index=add1,
    )
    def with_epoch(v: DataFrame, e: int) -> DataFrame:
        return v.select(
            "doc_id",
            F.lit(e).cast("long").alias("epoch"),
            F.col("n_matches").cast("long").alias("n_matches"),
            F.col("best_frames_matched").cast("long").alias(
                "best_frames_matched"
            ),
            "admitted",
        )

    return with_epoch(v1, 0).unionByName(with_epoch(v2, 1))


# --- wide-mesh audio/video dedup, driver-certified (round 11) ------------------
#
# Round 11 gave audio/video the image family's 72-bit two-word
# escalation (multimodal.audio_dhash / video_frame_dhash at the wide
# meshes; auto-engaged by the *_near_duplicates
# entry points past the 56-bit tuner ceiling). These entries put the
# wide meshes themselves under the driver's oracle gate — the q142
# precedent (register the escalated shape, not just the escalator):
# mesh-ALIGNED wide fixtures (73 frame-aligned amplitude frames; 18×18
# exact-pool grid=9 frames), two-word packing, per-word band
# extraction, summed-xor hamming verify, and (video) the frame-majority
# count, all replayed closed-form.

from openstack_billing_from_db_spark.functions import media as _media

_AW9_FRAMES = _media.WIDE_AUDIO_FRAMES  # 73 frames -> 72 delta bits
# same tuner tie-in as _AW_BAND_BITS: plan and oracle consume the one
# derived constant (12-bit bands, 6 per 72 bits > max_hamming=4)
_AW9_BAND_BITS = dedup.tune_hamming_band_bits(
    _PERCEPTUAL_FIXTURE_MAX_DOCS,
    bits=_AW9_FRAMES - 1,
    word_bits=_DH9_WORD_BITS,
    max_hamming=_DH_MAX_HAMMING,
)


def _two_word_pairs_sql(src: str, bits: int, band_bits: int) -> str:
    """Shared closed-form tail for two-word banded hamming joins: band
    extraction per word, distinct candidate pairs, summed-xor verify.
    ``src`` must expose (doc_id, w0, w1)."""
    bpw = _DH9_WORD_BITS // band_bits
    n_bands = -(-bits // band_bits)
    mask = (1 << band_bits) - 1
    return f"""bands AS (
  SELECT doc_id, w0, w1, b.b,
         ((CASE WHEN b.b < {bpw} THEN w0 ELSE w1 END)
          >> ({band_bits} * (b.b % {bpw}))) & {mask} AS bucket
  FROM {src}, range({n_bands}) b(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
         a.w0 AS a0, a.w1 AS a1, b.w0 AS b0, b.w1 AS b1
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT da AS doc_a, db AS doc_b,
       CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) <= {_DH_MAX_HAMMING}"""


@register(
    "q154_audio_phash72_dedup",
    oracle=f"""
WITH amps AS (
  SELECT d.doc_id, k.k, {_AW_AMP_SQL} AS amp
  FROM documents d, range({_AW9_FRAMES}) k(k)
),
abits AS (
  SELECT a.doc_id, CASE WHEN b.amp > a.amp THEN 1 ELSE 0 END AS bit, a.k
  FROM amps a JOIN amps b ON b.doc_id = a.doc_id AND b.k = a.k + 1
  WHERE a.k < {_AW9_FRAMES - 1}
),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN k < {_DH9_WORD_BITS}
                       THEN bit * (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS w0,
         CAST(sum(CASE WHEN k >= {_DH9_WORD_BITS}
                       THEN bit * (CAST(1 AS BIGINT) << (k - {_DH9_WORD_BITS})) ELSE 0 END) AS BIGINT) AS w1
  FROM abits GROUP BY doc_id
),
{_two_word_pairs_sql("fp", _AW9_FRAMES - 1, _AW9_BAND_BITS)}
""",
)
def q154_audio_phash72_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-mesh audio perceptual dedup — the 72-bit escalation the
    audio entry point auto-engages past ~262k clips, registered on its
    own fixture (the q142 pattern): mesh-aligned 73-frame family WAVs
    (media.synth_family_wav_samples at WIDE_AUDIO_FRAMES — the bump
    frame aligns with the hash mesh, so intra-family hamming stays ≤
    {_DH_MAX_HAMMING} at the wide width), RIFF decode + 72-bit
    delta-energy hash split into two 36-bit words inside Arrow
    mapInPandas, pairs via dedup.multiword_hamming_pairs at the
    tuner-derived {_AW9_BAND_BITS}-bit bands. The oracle replays the
    amplitude profile, delta packing into two words, per-word band
    extraction, and the summed-xor verify in closed form. PCM never
    leaves the decode stage; measured 12.4 s at 500k clips (PLANS.md
    round-11)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = multimodal.audio_dhash(
        multimodal.synthesize_family_audio_payloads(
            docs, n_frames=_AW9_FRAMES
        ),
        n_frames=_AW9_FRAMES,
        word_bits=_DH9_WORD_BITS,
    )
    return dedup.multiword_hamming_pairs(
        fp,
        n_words=2,
        word_bits=_DH9_WORD_BITS,
        band_bits=_AW9_BAND_BITS,
        max_hamming=_DH_MAX_HAMMING,
        bits=_AW9_FRAMES - 1,
    )


_VW9_GRID = 9
_VW9_BAND_BITS = dedup.tune_hamming_band_bits(
    _PERCEPTUAL_FIXTURE_MAX_DOCS,
    bits=_VW9_GRID * (_VW9_GRID - 1),
    word_bits=_DH9_WORD_BITS,
    max_hamming=_DH_MAX_HAMMING,
)


@register(
    "q155_video_phash72_dedup",
    oracle=f"""
WITH g AS (
  SELECT d.doc_id, f.f, r.r, u.u, {_VW_CELL_SQL} AS v
  FROM documents d, range(3) f(f), range({_VW9_GRID}) r(r), range({_VW9_GRID}) u(u)
),
vbits AS (
  SELECT a.doc_id, a.f, CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit,
         a.r * {_VW9_GRID - 1} + a.u AS k
  FROM g a JOIN g b
    ON b.doc_id = a.doc_id AND b.f = a.f AND b.r = a.r AND b.u = a.u + 1
  WHERE a.u < {_VW9_GRID - 1}
),
fp AS (
  SELECT doc_id, f,
         CAST(sum(CASE WHEN k < {_DH9_WORD_BITS}
                       THEN bit * (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS w0,
         CAST(sum(CASE WHEN k >= {_DH9_WORD_BITS}
                       THEN bit * (CAST(1 AS BIGINT) << (k - {_DH9_WORD_BITS})) ELSE 0 END) AS BIGINT) AS w1
  FROM vbits GROUP BY doc_id, f
),
fm AS (
  SELECT a.doc_id AS da, b.doc_id AS db, a.f
  FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1))
        <= {_DH_MAX_HAMMING}
)
SELECT da AS doc_a, db AS doc_b,
       CAST(count(*) AS BIGINT) AS n_frames_matched
FROM fm GROUP BY da, db
HAVING count(*) >= {_VW_MIN_FRAMES}
""",
)
def q155_video_phash72_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-mesh video perceptual dedup — the grid=9 / 72-bit per-frame
    escalation the video entry point auto-engages past ~262k clips,
    registered on its own fixture: 18×18 family frames (exact 2×2-cell
    pooling at grid 9 — the synth_textured_pixels superset contract),
    RVID index walk decoding only sampled frames, per-frame two-word
    dHash, pairs via dedup.framewise_multiword_hamming_pairs (the
    multiword kernel frame-scoped through group_col) at the
    tuner-derived {_VW9_BAND_BITS}-bit bands with the ≥
    {_VW_MIN_FRAMES}-of-3 majority gate. The oracle replays texture →
    per-frame two-word packing → EXACT all-pairs frame matches (banding
    is recall-exact by pigeonhole, 6 bands > hamming 4) → majority
    count. Measured 35.0 s at 500k clips (PLANS.md round-11)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = multimodal.video_frame_dhash(
        multimodal.synthesize_family_video_payloads(docs, grid=_VW9_GRID),
        n_samples=3,
        grid=_VW9_GRID,
        word_bits=_DH9_WORD_BITS,
    )
    return dedup.framewise_multiword_hamming_pairs(
        fp,
        n_words=2,
        word_bits=_DH9_WORD_BITS,
        band_bits=_VW9_BAND_BITS,
        max_hamming=_DH_MAX_HAMMING,
        min_frames=_VW_MIN_FRAMES,
    )


# --- chunked sharding escalation, driver-certified (round 11) ------------------
#
# chunked_hamming_pairs' exact-recall contract means the sharded union
# over C(C+1)/2 chunk-pair joins must reproduce the single-pass pair
# set EXACTLY — so the wide single-pass oracle (q142's _dh9_oracle)
# certifies the chunked path verbatim: any duplicate emission, lost
# cross-chunk pair, or wrong chunk-membership filter hash-fails under
# the driver. n_docs=600_000 forces the corpus-size tuner past both the
# 56-bit (~262k) and the single-join wide (~524k) ceilings, so the
# registered plan is 3 chunks × 6 joins of the grid=9 two-word mesh
# over the same fixture payloads q142 hashes.


@register("q156_chunked_image_dedup", oracle=_dh9_oracle())
def q156_chunked_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-11 sharding escalation under the driver gate: the
    two-word fingerprints are hash-sharded at dedup.tune_hamming_chunks'
    600k-doc pick (3 chunks, 12-bit bands) and joined per chunk pair by
    dedup.chunked_hamming_pairs — 6 multiword joins whose union is
    pinned ≡ the single-pass wide join by the oracle (q142's
    closed-form replay; exact recall makes the two plans
    output-identical on any input). Measured 31.1 s at 1M synthetic
    docs (4 chunks / 10 joins, PLANS.md round-11). Driven as the
    explicit composition since round 12: the auto entry point
    (multimodal.phash_near_duplicates) now WIDENS to the three-word
    132-bit mesh (q161) before it ever shards, so a 600k declared
    cardinality no longer reaches this path organically — chunking
    engages organically only past the widest mesh's ~537M single-join
    ceiling."""
    docs = load_table(spark, sf_dir, "documents")
    pay = multimodal.synthesize_textured_image_payloads(
        docs, grid=_DH9_GRID
    )
    n_chunks, band_bits = dedup.tune_hamming_chunks(
        600_000, bits=9 * 8, word_bits=_DH9_WORD_BITS,
        max_hamming=_DH_MAX_HAMMING,
    )
    fp = multimodal.dhash_images(
        pay, grid=_DH9_GRID, word_bits=_DH9_WORD_BITS
    )
    return dedup.chunked_hamming_pairs(
        fp,
        lambda subset: dedup.multiword_hamming_pairs(
            subset,
            n_words=2,
            word_bits=_DH9_WORD_BITS,
            band_bits=band_bits,
            max_hamming=_DH_MAX_HAMMING,
            persist_input=False,
        ),
        n_chunks=n_chunks,
    )


# --- streaming audio admission, driver-certified (round 11, session 2) ----------
#
# q153 put the newest admit_* path (video) under the driver; this entry
# certifies the shared single-fingerprint admission core
# (_admit_fingerprint_batch — the image/audio path) the same way: a
# two-epoch replay through the REAL streaming/dedup_stream.
# admit_audio_batch (epoch 1 against an empty index, epoch 2 against
# epoch 1's admitted additions) vs a closed-form full-process oracle.
# Epochs split by doc_id parity, so 5-member fixture families straddle
# both: epoch-2 docs get blocked by INDEX matches and by LOWER-ID
# IN-BATCH matches, and unmatched docs exercise the admit-by-default
# left join (NULL best_hamming on both sides).


def _audio_admission_oracle() -> str:
    """Closed-form two-epoch replay: q144's amplitude→delta-bit→pack
    chain, EXACT all-pairs hamming matches (banding is recall-exact by
    pigeonhole, so the oracle skips it), then epoch 1 verdicts →
    admitted index → epoch 2 verdicts with the shared blocking rule
    (index match, or lower-id in-batch match)."""
    return f"""
WITH amps AS MATERIALIZED (
  SELECT d.doc_id, k.k, {_AW_AMP_SQL} AS amp
  FROM documents d, range(57) k(k)
),
abits AS (
  SELECT a.doc_id, CASE WHEN b.amp > a.amp THEN 1 ELSE 0 END AS bit, a.k
  FROM amps a JOIN amps b ON b.doc_id = a.doc_id AND b.k = a.k + 1
  WHERE a.k < 56
),
fp AS MATERIALIZED (
  SELECT doc_id, CAST(sum(bit * (CAST(1 AS BIGINT) << k)) AS BIGINT) AS h
  FROM abits GROUP BY doc_id
),
mj AS MATERIALIZED (
  SELECT a.doc_id AS da, b.doc_id AS db,
         bit_count(xor(a.h, b.h)) AS hamming
  FROM fp a JOIN fp b ON a.doc_id <> b.doc_id
  WHERE bit_count(xor(a.h, b.h)) <= {_DH_MAX_HAMMING}
),
b1 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
b2 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1),
e1m AS (
  SELECT m.* FROM mj m
  JOIN b1 x ON x.doc_id = m.da JOIN b1 y ON y.doc_id = m.db
),
e1v AS (
  SELECT a.doc_id, count(m.db) AS n_matches, min(m.hamming) AS best,
         count(CASE WHEN m.db < a.doc_id THEN 1 END) = 0 AS admitted
  FROM b1 a LEFT JOIN e1m m ON m.da = a.doc_id
  GROUP BY a.doc_id
),
idx1 AS (SELECT doc_id FROM e1v WHERE admitted),
e2m AS (
  SELECT m.da, m.db, m.hamming,
         CASE WHEN i.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_idx
  FROM mj m
  JOIN b2 x ON x.doc_id = m.da
  LEFT JOIN idx1 i ON i.doc_id = m.db
  LEFT JOIN b2 y ON y.doc_id = m.db
  WHERE i.doc_id IS NOT NULL OR y.doc_id IS NOT NULL
),
e2v AS (
  SELECT a.doc_id, count(m.db) AS n_matches, min(m.hamming) AS best,
         count(CASE WHEN m.in_idx = 1 OR m.db < a.doc_id THEN 1 END) = 0
           AS admitted
  FROM b2 a LEFT JOIN e2m m ON m.da = a.doc_id
  GROUP BY a.doc_id
)
SELECT doc_id, CAST(0 AS BIGINT) AS epoch,
       CAST(n_matches AS BIGINT) AS n_matches,
       CAST(best AS BIGINT) AS best_hamming, admitted
FROM e1v
UNION ALL
SELECT doc_id, CAST(1 AS BIGINT), CAST(n_matches AS BIGINT),
       CAST(best AS BIGINT), admitted
FROM e2v
"""


@register(
    "q158_streaming_audio_admission", oracle=_audio_admission_oracle()
)
def q158_streaming_audio_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-epoch streaming audio admission through the real
    streaming/dedup_stream.admit_audio_batch composition — the
    single-fingerprint admission core (_admit_fingerprint_batch) shared
    by the image and audio streams, driver-certified the way q153
    certified the framewise video path: even-id clips arrive in epoch 1
    (probed against an empty index), their admitted fingerprints become
    the index, odd-id clips arrive in epoch 2 and are blocked by index
    matches OR lower-id in-batch matches (min-id canonical). Per-epoch
    work is (batch fingerprints) + (banded probe against the ~16 B/clip
    index) — PCM never leaves the decode stage. Output: one verdict row
    per clip (doc_id, epoch, n_matches, best_hamming, admitted)."""
    from openstack_billing_from_db_spark.streaming.dedup_stream import (
        admit_audio_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    pay = multimodal.synthesize_family_audio_payloads(docs)
    b1 = pay.filter(F.col("doc_id") % 2 == 0)
    b2 = pay.filter(F.col("doc_id") % 2 == 1)
    empty = spark.createDataFrame([], "doc_id long, w0 long")
    # default band_bits: derived inside admit_audio_batch from the same
    # tuner anchor as the batch path's _AW_BAND_BITS (11-bit bands; the
    # single-word probe permits non-divisor widths since a band can
    # never straddle words — ADVICE r11 closed). 5 bands > max_hamming=4
    # keeps pigeonhole recall exact, so the exact-pairs oracle is
    # unaffected by the band choice.
    v1, add1 = admit_audio_batch(
        spark,
        b1,
        None,
        max_hamming=_DH_MAX_HAMMING,
        existing_index=empty,
    )
    # NOT persisted — same measured decision as q153: the fingerprints
    # are cached inside the match kernel and re-deriving the narrow
    # verdicts beats the cache barrier
    v2, _ = admit_audio_batch(
        spark,
        b2,
        None,
        max_hamming=_DH_MAX_HAMMING,
        existing_index=add1,
    )

    def with_epoch(v: DataFrame, e: int) -> DataFrame:
        return v.select(
            "doc_id",
            F.lit(e).cast("long").alias("epoch"),
            F.col("n_matches").cast("long").alias("n_matches"),
            F.col("best_hamming").cast("long").alias("best_hamming"),
            "admitted",
        )

    return with_epoch(v1, 0).unionByName(with_epoch(v2, 1))


# --- streaming image admission, driver-certified (round 12) --------------------
#
# Closes the admission matrix (VERDICT r11 Next #3): text (q159),
# audio (q158), video (q153) all had driver rows; admit_image_batch —
# the image entry into the shared _admit_fingerprint_batch core — was
# pytest-only. Same two-epoch parity-split replay as q158, on q142's
# 18×18 textured-family fixture and its 72-bit two-word fingerprints:
# the oracle reuses _dh9_fp_ctes() verbatim (texture → pooling →
# two-word packing) and skips banding (6 bands × 12 bits > hamming 4,
# so banded recall is exact by pigeonhole and EXACT all-pairs matches
# are the same set).


def _image_admission_oracle() -> str:
    """Closed-form two-epoch replay: q142's texture→pool→two-word-pack
    chain (the shared _dh9_fp_ctes block), EXACT all-pairs two-word
    hamming matches, then epoch 1 verdicts → admitted index → epoch 2
    verdicts with the shared blocking rule (index match, or lower-id
    in-batch match)."""
    return f"""
WITH {_dh9_fp_ctes()},
mj AS MATERIALIZED (
  SELECT a.doc_id AS da, b.doc_id AS db,
         bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) AS hamming
  FROM fp a JOIN fp b ON a.doc_id <> b.doc_id
  WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1))
        <= {_DH_MAX_HAMMING}
),
b1 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
b2 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1),
e1m AS (
  SELECT m.* FROM mj m
  JOIN b1 x ON x.doc_id = m.da JOIN b1 y ON y.doc_id = m.db
),
e1v AS (
  SELECT a.doc_id, count(m.db) AS n_matches, min(m.hamming) AS best,
         count(CASE WHEN m.db < a.doc_id THEN 1 END) = 0 AS admitted
  FROM b1 a LEFT JOIN e1m m ON m.da = a.doc_id
  GROUP BY a.doc_id
),
idx1 AS (SELECT doc_id FROM e1v WHERE admitted),
e2m AS (
  SELECT m.da, m.db, m.hamming,
         CASE WHEN i.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_idx
  FROM mj m
  JOIN b2 x ON x.doc_id = m.da
  LEFT JOIN idx1 i ON i.doc_id = m.db
  LEFT JOIN b2 y ON y.doc_id = m.db
  WHERE i.doc_id IS NOT NULL OR y.doc_id IS NOT NULL
),
e2v AS (
  SELECT a.doc_id, count(m.db) AS n_matches, min(m.hamming) AS best,
         count(CASE WHEN m.in_idx = 1 OR m.db < a.doc_id THEN 1 END) = 0
           AS admitted
  FROM b2 a LEFT JOIN e2m m ON m.da = a.doc_id
  GROUP BY a.doc_id
)
SELECT doc_id, CAST(0 AS BIGINT) AS epoch,
       CAST(n_matches AS BIGINT) AS n_matches,
       CAST(best AS BIGINT) AS best_hamming, admitted
FROM e1v
UNION ALL
SELECT doc_id, CAST(1 AS BIGINT), CAST(n_matches AS BIGINT),
       CAST(best AS BIGINT), admitted
FROM e2v
"""


@register(
    "q160_streaming_image_admission", oracle=_image_admission_oracle()
)
def q160_streaming_image_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-epoch streaming image admission through the real
    streaming/dedup_stream.admit_image_batch composition — the last
    cell of the driver-certified admission matrix (text q159 / audio
    q158 / video q153): even-id images arrive in epoch 1 (decoded →
    72-bit two-word dHash → probed against an empty index), their
    admitted fingerprints become the index, odd-id images arrive in
    epoch 2 and are blocked by index matches OR lower-id in-batch
    matches (min-id canonical — admit_batch's rule). Per-epoch work is
    (batch decode + fingerprints) + (banded probe against the
    ~24 B/image index) — pixels never leave the decode map stage.
    Output: one verdict row per image (doc_id, epoch, n_matches,
    best_hamming, admitted). Bands: the stream's native 12-bit wide
    bands (q142's tuner pick — 12 | 36, 6 bands > max_hamming=4 keeps
    pigeonhole recall exact, so the exact-pairs oracle is unaffected
    by the band choice)."""
    from openstack_billing_from_db_spark.streaming.dedup_stream import (
        admit_image_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    pay = multimodal.synthesize_textured_image_payloads(
        docs, grid=_DH9_GRID
    )
    b1 = pay.filter(F.col("doc_id") % 2 == 0)
    b2 = pay.filter(F.col("doc_id") % 2 == 1)
    empty = spark.createDataFrame([], "doc_id long, w0 long, w1 long")
    v1, add1 = admit_image_batch(
        spark,
        b1,
        None,
        grid=_DH9_GRID,
        word_bits=_DH9_WORD_BITS,
        band_bits=_DH9_BAND_BITS,
        max_hamming=_DH_MAX_HAMMING,
        existing_index=empty,
    )
    # NOT persisted — same measured decision as q153/q158: the
    # fingerprints are cached inside the match kernel and re-deriving
    # the narrow verdicts beats the cache barrier
    v2, _ = admit_image_batch(
        spark,
        b2,
        None,
        grid=_DH9_GRID,
        word_bits=_DH9_WORD_BITS,
        band_bits=_DH9_BAND_BITS,
        max_hamming=_DH_MAX_HAMMING,
        existing_index=add1,
    )

    def with_epoch(v: DataFrame, e: int) -> DataFrame:
        return v.select(
            "doc_id",
            F.lit(e).cast("long").alias("epoch"),
            F.col("n_matches").cast("long").alias("n_matches"),
            F.col("best_hamming").cast("long").alias("best_hamming"),
            "admitted",
        )

    return with_epoch(v1, 0).unionByName(with_epoch(v2, 1))


# --- 132-bit three-word perceptual dedup (round 12) ----------------------------
#
# The W-word mesh generalized past two words (VERDICT r11 Next #4): the
# chunked two-word path's documented ceiling was ~8.4M docs at
# max_chunks=32; the 12×12 grid gives 132 dHash bits in THREE sign-safe
# 44-bit words, and the widest admissible band (22 bits — 44 % 22 == 0,
# 6 bands > max_hamming=4) gives 2^22 buckets per band: single-join
# headroom to ~537M docs at the default occupancy anchor, with chunk
# sharding on top only past that (multimodal._wide_or_chunked_pairs'
# ladder). The fixture is the same md5 cell texture at a superset grid
# (cells at equal (u, r) are identical across grids), so family members
# still sit within hamming <= 4 while cross-family pairs are
# ~Binomial(132, 1/2).

_DH12_GRID = multimodal.XWIDE_IMAGE_GRID  # 12 -> 132 dHash bits
_DH12_WORD_BITS = multimodal.XWIDE_WORD_BITS  # 3 x 44-bit words
# same import-time tuner derivation as _AW_BAND_BITS: plan and oracle
# consume one constant, so a tuner re-anchor re-derives both together
_DH12_BAND_BITS = dedup.tune_hamming_band_bits(
    _PERCEPTUAL_FIXTURE_MAX_DOCS,
    bits=_DH12_GRID * (_DH12_GRID - 1),
    word_bits=_DH12_WORD_BITS,
    max_hamming=_DH_MAX_HAMMING,
)


def _dh12_oracle() -> str:
    """Closed-form replay of the three-word chain: texture synthesis →
    pooling (identity on 2×2-constant cells) → 132-bit packing into
    (w0, w1, w2) → per-word 22-bit band extraction → banded candidate
    join → summed-xor hamming verify. Banding is replayed (not exact
    all-pairs) so the oracle stays near-linear at sf0.1: 6 bands ×
    2^22 buckets keep candidate sets family-sized."""
    bits = _DH12_GRID * (_DH12_GRID - 1)
    bpw = _DH12_WORD_BITS // _DH12_BAND_BITS
    n_bands = min(
        3 * bpw, bits // _DH12_BAND_BITS + (1 if bits % _DH12_BAND_BITS else 0)
    )
    mask = (1 << _DH12_BAND_BITS) - 1
    word_case = (
        f"(CASE WHEN b.b < {bpw} THEN w0 "
        f"WHEN b.b < {2 * bpw} THEN w1 ELSE w2 END)"
    )
    return f"""
WITH g AS (
  SELECT d.doc_id, r.r, u.u, {_DH_CELL_SQL} AS v
  FROM documents d, range({_DH12_GRID}) r(r), range({_DH12_GRID}) u(u)
),
bits AS (
  SELECT a.doc_id, CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit,
         a.r * {_DH12_GRID - 1} + a.u AS k
  FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.r = a.r AND b.u = a.u + 1
  WHERE a.u < {_DH12_GRID - 1}
),
fp AS MATERIALIZED (
  SELECT doc_id,
         CAST(sum(CASE WHEN k < {_DH12_WORD_BITS}
                       THEN bit * (CAST(1 AS BIGINT) << k) ELSE 0 END)
              AS BIGINT) AS w0,
         CAST(sum(CASE WHEN k >= {_DH12_WORD_BITS} AND k < {2 * _DH12_WORD_BITS}
                       THEN bit * (CAST(1 AS BIGINT) << (k - {_DH12_WORD_BITS}))
                       ELSE 0 END) AS BIGINT) AS w1,
         CAST(sum(CASE WHEN k >= {2 * _DH12_WORD_BITS}
                       THEN bit * (CAST(1 AS BIGINT) << (k - {2 * _DH12_WORD_BITS}))
                       ELSE 0 END) AS BIGINT) AS w2
  FROM bits GROUP BY doc_id
),
bands AS (
  SELECT doc_id, w0, w1, w2, b.b,
         ({word_case} >> ({_DH12_BAND_BITS} * (b.b % {bpw}))) & {mask} AS bucket
  FROM fp, range({n_bands}) b(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
         a.w0 AS w0a, a.w1 AS w1a, a.w2 AS w2a,
         b.w0 AS w0b, b.w1 AS w1b, b.w2 AS w2b
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT da AS doc_a, db AS doc_b,
       CAST(bit_count(xor(w0a, w0b)) + bit_count(xor(w1a, w1b))
            + bit_count(xor(w2a, w2b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(w0a, w0b)) + bit_count(xor(w1a, w1b))
      + bit_count(xor(w2a, w2b)) <= {_DH_MAX_HAMMING}
"""


@register("q161_image_phash132_dedup", oracle=_dh12_oracle())
def q161_image_phash132_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-word wide-mesh perceptual dedup — the generalized W-word
    scale lever (VERDICT r11 Next #4): 24×24 textured BMPs (the same
    md5 cell texture, grid=12 superset), byte-level decode in Arrow
    mapInPandas, 132-bit dHash split into three 44-bit BIGINT words
    (media.dhash_words), pairs via dedup.multiword_hamming_pairs at
    the tuner-derived 22-bit bands — pigeonhole recall intact (6 bands
    > hamming budget 4) with 2^22 buckets per band (1024× q142's
    4096), deferring single-join bucket saturation from ~524k to
    ~537M docs. The oracle replays synthesis → pooling → three-word
    packing → per-word band extraction → the summed-xor hamming verify
    in closed form. Scale shape: pixels never shuffle (narrow
    (doc_id, w0..w2) rows after the map stage); this is the level
    multimodal.phash_near_duplicates' escalation ladder selects before
    any chunk sharding."""
    docs = load_table(spark, sf_dir, "documents")
    fp = multimodal.dhash_images(
        multimodal.synthesize_textured_image_payloads(docs, grid=_DH12_GRID),
        grid=_DH12_GRID,
        word_bits=_DH12_WORD_BITS,
    )
    return dedup.multiword_hamming_pairs(
        fp,
        n_words=3,
        word_bits=_DH12_WORD_BITS,
        band_bits=_DH12_BAND_BITS,
        max_hamming=_DH_MAX_HAMMING,
    )


# --- batched BPE training (round 12) -------------------------------------------
#
# VERDICT r11 Next #5: bpe_train's one-driver-barrier-per-merge shape is
# impractical at a production 30k-merge vocabulary. bpe_train_batched
# accepts up to B non-interacting merges per Spark job (window-ranked,
# order-free acceptance — operators/bpe._pair_conflicts), cutting the
# driver-loop count ~B×. The oracle unrolls the rounds and replays the
# WHOLE algorithm: per-round pair counts, the (count desc, pair asc)
# window, the NOT-EXISTS no-higher-ranked-conflict acceptance, and the
# rank-ordered boundary-safe replace chain applied on the
# doubled-separator encoding (one encode/decode per round — replacement
# preserves the encoding invariant, so chaining on the encoded form is
# identical to bpe._apply_merge's per-merge encode/decode).

_BBPE_ROUNDS = 16
_BBPE_BATCH = 8
_BBPE_WINDOW = 32


def _bbpe_conflict_sql() -> str:
    return (
        "q.p1 IN (w.p1, w.p2) OR q.p2 IN (w.p1, w.p2) "
        "OR q.pm IN (w.p1, w.p2) OR w.pm IN (q.p1, q.p2) "
        "OR q.pm = w.pm"
    )


def _bbpe_oracle(
    n_rounds: int = _BBPE_ROUNDS,
    batch: int = _BBPE_BATCH,
    window: int = _BBPE_WINDOW,
) -> str:
    blocks = _bpe_cte_blocks(0)  # v + s0 only
    for r in range(n_rounds):
        blocks.append(
            f"""p{r} AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS c FROM (
    SELECT freq, unnest({_PAIRS}) AS pair
    FROM (SELECT freq, string_split(syms, ' ') AS sy FROM s{r})
  ) GROUP BY pair
)"""
        )
        # MATERIALIZED throughout: w{r} is referenced twice (the
        # NOT-EXISTS self-join), a{r} 2·batch+2 times (the scalar-
        # subquery apply chain + the final union + rank offsets), s{r}
        # twice (p{r} and s{r+1}) — DuckDB would otherwise inline the
        # whole per-round chain combinatorially (the q146 lesson; here
        # it exhausts file handles re-opening the parquet per leaf)
        blocks.append(
            f"""w{r} AS MATERIALIZED (
  SELECT pair, c,
         string_split(pair, ' ')[1] AS p1,
         string_split(pair, ' ')[2] AS p2,
         replace(pair, ' ', '') AS pm,
         row_number() OVER (ORDER BY c DESC, pair) AS rk
  FROM p{r} ORDER BY c DESC, pair LIMIT {window}
)"""
        )
        blocks.append(
            f"""a{r} AS MATERIALIZED (
  SELECT *, row_number() OVER (ORDER BY rk) AS arow FROM (
    SELECT w.* FROM w{r} w
    WHERE NOT EXISTS (
      SELECT 1 FROM w{r} q
      WHERE q.rk < w.rk AND ({_bbpe_conflict_sql()})
    )
  ) QUALIFY arow <= {batch}
)"""
        )
        chain = "' ' || replace(syms, ' ', '  ') || ' '"
        for k in range(1, batch + 1):
            tgt = (
                f"coalesce((SELECT ' ' || replace(pair, ' ', '  ') || ' ' "
                f"FROM a{r} WHERE arow = {k}), chr(1))"
            )
            rep = (
                f"coalesce((SELECT ' ' || pm || ' ' FROM a{r} "
                f"WHERE arow = {k}), chr(1))"
            )
            chain = f"replace({chain},\n    {tgt},\n    {rep})"
        blocks.append(
            f"""s{r + 1} AS MATERIALIZED (
  SELECT w, freq, replace(trim({chain}), '  ', ' ') AS syms
  FROM s{r}
)"""
        )
    outs = []
    for r in range(n_rounds):
        offset = " + ".join(
            [f"(SELECT count(*) FROM a{j})" for j in range(r)] or ["0"]
        )
        outs.append(
            f"SELECT CAST({offset} + arow - 1 AS BIGINT) AS merge_rank, "
            f"CAST({r} AS BIGINT) AS round, pair, pm AS merged, "
            f"c AS pair_count FROM a{r}"
        )
    ctes = ",\n".join(blocks)
    union = "\nUNION ALL\n".join(outs)
    return f"WITH {ctes}\n{union}"


@register("q162_bpe_train_batched", oracle=_bbpe_oracle())
def q162_bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BPE tokenizer training (operators/bpe.bpe_train_batched):
    up to {_BBPE_ROUNDS}×{_BBPE_BATCH} merge rules in {_BBPE_ROUNDS}
    vocabulary passes — one Spark job + one window-sized driver fetch
    per ROUND instead of per merge. The oracle replays every round in
    SQL: the frequency-weighted pair counts, the (count desc, pair asc)
    top-{_BBPE_WINDOW} window, the no-higher-ranked-conflict acceptance
    (symbol/merged-string disjointness), and the rank-ordered
    boundary-safe merge chain — a wrong tie-break, a mis-ordered apply,
    a conflict-rule bug, or a re-merging replace all hash-fail.
    bpe_train_batched at batch=1, window=1 is bit-identical to the
    sequential q78 trainer (pytest pin), making this the q78 twin at a
    realistic merge count."""
    from openstack_billing_from_db_spark.operators.bpe import (
        bpe_train_batched,
    )

    return bpe_train_batched(
        load_table(spark, sf_dir, "documents"),
        n_rounds=_BBPE_ROUNDS,
        batch=_BBPE_BATCH,
        window=_BBPE_WINDOW,
    )


# --- 132-bit three-word audio dedup (round 12) ---------------------------------
#
# The audio member of the q161 three-word level: the 133-frame temporal
# mesh packs 132 delta-energy bits into three 44-bit words — the ladder
# level audio_near_duplicates selects past the two-word bound. The
# 133-frame fixture aligns exactly to the 16-sample frame grid (2128
# samples / 133 frames), so the +4096 member bump flips at most its two
# boundary bits and families sit within hamming <= 4. Registered into
# the DEFERRED tail this round (the r12 head is full at 50); the r13
# rotation promotes it within the ledger's two-round deadline —
# meanwhile tests/test_oracle_parity.py certifies it locally at sf0.01.

_AW12_FRAMES = 133
_AW12_WORD_BITS = 44
_AW12_BAND_BITS = dedup.tune_hamming_band_bits(
    _PERCEPTUAL_FIXTURE_MAX_DOCS,
    bits=_AW12_FRAMES - 1,
    word_bits=_AW12_WORD_BITS,
    max_hamming=_DH_MAX_HAMMING,
)


def _aw12_oracle() -> str:
    bits = _AW12_FRAMES - 1
    bpw = _AW12_WORD_BITS // _AW12_BAND_BITS
    n_bands = min(3 * bpw, -(-bits // _AW12_BAND_BITS))
    mask = (1 << _AW12_BAND_BITS) - 1
    word_case = (
        f"(CASE WHEN b.b < {bpw} THEN w0 "
        f"WHEN b.b < {2 * bpw} THEN w1 ELSE w2 END)"
    )
    return f"""
WITH amps AS MATERIALIZED (
  SELECT d.doc_id, k.k, {_AW_AMP_SQL} AS amp
  FROM documents d, range({_AW12_FRAMES}) k(k)
),
abits AS (
  SELECT a.doc_id, CASE WHEN b.amp > a.amp THEN 1 ELSE 0 END AS bit, a.k
  FROM amps a JOIN amps b ON b.doc_id = a.doc_id AND b.k = a.k + 1
  WHERE a.k < {bits}
),
fp AS MATERIALIZED (
  SELECT doc_id,
         CAST(sum(CASE WHEN k < {_AW12_WORD_BITS}
                       THEN bit * (CAST(1 AS BIGINT) << k) ELSE 0 END)
              AS BIGINT) AS w0,
         CAST(sum(CASE WHEN k >= {_AW12_WORD_BITS} AND k < {2 * _AW12_WORD_BITS}
                       THEN bit * (CAST(1 AS BIGINT) << (k - {_AW12_WORD_BITS}))
                       ELSE 0 END) AS BIGINT) AS w1,
         CAST(sum(CASE WHEN k >= {2 * _AW12_WORD_BITS}
                       THEN bit * (CAST(1 AS BIGINT) << (k - {2 * _AW12_WORD_BITS}))
                       ELSE 0 END) AS BIGINT) AS w2
  FROM abits GROUP BY doc_id
),
bands AS (
  SELECT doc_id, w0, w1, w2, b.b,
         ({word_case} >> ({_AW12_BAND_BITS} * (b.b % {bpw}))) & {mask} AS bucket
  FROM fp, range({n_bands}) b(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
         a.w0 AS w0a, a.w1 AS w1a, a.w2 AS w2a,
         b.w0 AS w0b, b.w1 AS w1b, b.w2 AS w2b
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT da AS doc_a, db AS doc_b,
       CAST(bit_count(xor(w0a, w0b)) + bit_count(xor(w1a, w1b))
            + bit_count(xor(w2a, w2b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(w0a, w0b)) + bit_count(xor(w1a, w1b))
      + bit_count(xor(w2a, w2b)) <= {_DH_MAX_HAMMING}
"""


@register("q164_audio_phash132_dedup", oracle=_aw12_oracle())
def q164_audio_phash132_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-word wide-mesh AUDIO dedup — q161's level for the audio
    chain: real RIFF/WAV clips on the 133-frame family fixture
    (aligned to the 16-sample frame grid), decode + delta-energy hash
    in Arrow mapInPandas, 132 bits split into three 44-bit words
    (media.dhash_words), pairs via dedup.multiword_hamming_pairs at
    the tuner-derived {_AW12_BAND_BITS}-bit bands (6 bands > hamming
    budget 4 keeps pigeonhole recall; 2^22 buckets per band). The
    oracle replays amplitudes → delta bits → three-word packing →
    per-word band extraction → the summed-xor verify in closed form.
    PCM never leaves the decode stage."""
    docs = load_table(spark, sf_dir, "documents")
    pay = multimodal.synthesize_family_audio_payloads(
        docs, n_frames=_AW12_FRAMES
    )
    fp = multimodal.audio_dhash(
        pay, n_frames=_AW12_FRAMES, word_bits=_AW12_WORD_BITS
    )
    return dedup.multiword_hamming_pairs(
        fp,
        n_words=3,
        word_bits=_AW12_WORD_BITS,
        band_bits=_AW12_BAND_BITS,
        max_hamming=_DH_MAX_HAMMING,
        bits=_AW12_FRAMES - 1,
    )
