"""LLM-data-pipeline queries: dedup, text analysis, similarity search,
multimodal — the north-star extension set (BASELINE.json), each as a
registry entry. SQL-expressible ops carry exact DuckDB oracles; the
hash-seeded sketches (MinHash/SimHash/LSH — xxhash64 has no DuckDB
equivalent) are rows-only with property gates in tests/test_pipeline.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysteryann_spark.functions.text import (
    doc_fingerprint,
    lang_id_cols,
    quality_score_cols,
    token_count,
    tokens_col,
)
from mysteryann_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_bits,
)
from mysteryann_spark.operators.multimodal import (
    decode_frames,
    mean_pool_embeddings,
    synth_media_from_documents,
)
from mysteryann_spark.operators.similarity import cosine_topk, lsh_cosine_topk
from mysteryann_spark.queries.base import QuerySpec, stable_round
from mysteryann_spark.sources.tables import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "documents", sf_dir)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "embeddings", sf_dir)


# --- text analysis (all oracle-checked) ------------------------------------


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokens_col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        doc_fingerprint("text").alias("fingerprint"),
    )


_TOKEN_STATS_SQL = """
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), t -> t != '')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t != ''))) AS BIGINT) AS n_distinct,
       md5(array_to_string(list_sort(list_distinct(list_filter(string_split(text, ' '), t -> t != ''))), ' ')) AS fingerprint
FROM documents
"""


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = lang_id_cols("text")
    return _docs(spark, sf_dir).select(
        "doc_id", *[expr.alias(name) for name, expr in cols.items()]
    )


_LANG_SQL = """
WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks FROM documents),
h AS (SELECT doc_id,
        CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it','for','on'], x))) AS BIGINT) AS en_hits,
        CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','zu','ist','ein','mit','von','nicht'], x))) AS BIGINT) AS de_hits,
        CAST(len(list_filter(toks, x -> list_contains(['le','la','de','et','un','est','pour','que','dans','sur'], x))) AS BIGINT) AS fr_hits
      FROM t)
SELECT doc_id, en_hits, de_hits, fr_hits,
       CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
            WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
            WHEN fr_hits > 0 THEN 'fr'
            ELSE 'und' END AS pred_lang
FROM h
"""


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = quality_score_cols("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        cols["n_tokens"].alias("n_tokens"),
        stable_round(cols["avg_word_len"], 6).alias("avg_word_len"),
        stable_round(cols["stopword_ratio"], 6).alias("stopword_ratio"),
        stable_round(cols["quality"], 6).alias("quality"),
    )


_QUALITY_SQL = """
WITH t AS (SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x != '') AS toks FROM documents),
b AS (SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        greatest(len(toks), 1) * 1.0 AS nt,
        CAST(length(text) AS DOUBLE) AS n_chars,
        len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it','for','on'], x))) * 1.0 AS sw_hits
      FROM t),
c AS (SELECT doc_id, n_tokens,
        (n_chars - (nt - 1)) / nt AS awl,
        sw_hits / nt AS swr,
        least(nt / 200.0, 1.0) AS len_score
      FROM b)
SELECT doc_id, n_tokens,
       round(awl + 1e-9, 6) AS avg_word_len,
       round(swr + 1e-9, 6) AS stopword_ratio,
       round(0.4 * swr + 0.3 * len_score + 0.3 * (CASE WHEN awl >= 3 AND awl <= 8 THEN 1.0 ELSE 0.0 END) + 1e-9, 6) AS quality
FROM c
"""


def doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer counts vs whitespace counts — the token
    budget metric a training pipeline reports per document."""
    from mysteryann_spark.functions.text import bpe_token_count

    ws = token_count("text")
    bpe = bpe_token_count("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        bpe.alias("n_bpe"),
        ws.alias("n_ws"),
        stable_round(bpe.cast("double") / F.greatest(ws, F.lit(1)).cast("double"), 6).alias(
            "bpe_per_word"
        ),
    )


_BPE_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+')) AS BIGINT) AS n_bpe,
       CAST(len(list_filter(string_split(text, ' '), t -> t != '')) AS BIGINT) AS n_ws,
       round(len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+')) * 1.0 /
             greatest(len(list_filter(string_split(text, ' '), t -> t != '')), 1) + 1e-9, 6) AS bpe_per_word
FROM documents
"""


def doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash fingerprint per document: window count,
    minimum window hash (the Broder-style sketch representative), and
    distinct-window count over token 3-grams. Exact-oracled — the whole
    modular pipeline reproduces in DuckDB BIGINT math."""
    from mysteryann_spark.functions.text import rolling_hashes

    rh = rolling_hashes("text", w=3)
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(rh).cast("bigint").alias("n_windows"),
        F.coalesce(F.array_min(rh), F.lit(-1)).cast("bigint").alias("min_hash"),
        F.size(F.array_distinct(rh)).cast("bigint").alias("n_distinct"),
    )


_ROLLING_SQL = """
WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks FROM documents),
h AS (SELECT doc_id,
        list_transform(toks, tk ->
          (length(tk) * 131
           + ascii(substr(tk, 1, 1)) * 31
           + ascii(substr(tk, -1, 1))
           + list_sum(list_transform(list_filter(string_split(tk, ''), c -> c != ''), c -> ascii(c)))
          ) % 1000000007) AS hs,
        len(toks) AS n
      FROM t),
r AS (SELECT doc_id,
        CASE WHEN n < 3 THEN []
             ELSE list_transform(generate_series(1, n - 2), i ->
               (hs[i] * 66049 + hs[i + 1] * 257 + hs[i + 2]) % 1000000007)
        END AS rh
      FROM h)
SELECT doc_id,
       CAST(len(rh) AS BIGINT) AS n_windows,
       CAST(coalesce(list_min(rh), -1) AS BIGINT) AS min_hash,
       CAST(len(list_distinct(rh)) AS BIGINT) AS n_distinct
FROM r
"""


# --- dedup ------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir))


_DEDUP_EXACT_SQL = """
SELECT doc_id,
       count(*) OVER (PARTITION BY md5(text)) AS group_size,
       CAST(doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS INT) AS is_canonical
FROM documents
"""


def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words dedup: same sorted distinct-token set => duplicates
    (54 non-trivial groups at sf0.01)."""
    return exact_dedup(_docs(spark, sf_dir), key_expr=doc_fingerprint("text"))


_DEDUP_FP_SQL = """
WITH k AS (SELECT doc_id,
        md5(array_to_string(list_sort(list_distinct(list_filter(string_split(text, ' '), t -> t != ''))), ' ')) AS grp
      FROM documents)
SELECT doc_id,
       count(*) OVER (PARTITION BY grp) AS group_size,
       CAST(doc_id = min(doc_id) OVER (PARTITION BY grp) AS INT) AS is_canonical
FROM k
"""


def dedup_jaccard_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-bigram Jaccard pairs >= 0.1 over the doc_id < 100 slice."""
    return ngram_jaccard_pairs(
        _docs(spark, sf_dir).where(F.col("doc_id") < 100), n=2, threshold=0.1
    )


_JACCARD_SQL = """
WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
           FROM documents WHERE doc_id < 100),
g AS (SELECT doc_id,
        CASE WHEN len(w) < 2 THEN []
             ELSE list_distinct(list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1]))
        END AS grams
      FROM t)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.grams, b.grams)) * 1.0 /
             len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.grams, b.grams)) * 1.0 /
      len(list_distinct(list_concat(a.grams, b.grams))) >= 0.1
"""


def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation flagship: quality-filter (>= 10 tokens) ->
    near-dup grouping (MinHash-LSH candidates -> exact unigram Jaccard
    >= 0.9 -> connected components) -> one canonical survivor per group
    with group size and survivor token count. The whole training-data
    curation loop as ONE composed query with no all-pairs join anywhere
    in the plan, oracle-checked end to end (components via recursive
    CTE — the LSH banding is sized so the verified pair set equals the
    oracle's all-pairs set; see dedup_groups)."""
    from mysteryann_spark.functions.text import token_count
    from mysteryann_spark.operators.dedup import dedup_groups

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 300)
    kept = d.where(token_count("text") >= 10)
    groups = dedup_groups(kept, threshold=0.9, n=1)
    sizes = groups.groupBy("component").agg(F.count("*").alias("n_members"))
    survivors = (
        groups.where(F.col("doc_id") == F.col("component"))
        .join(sizes, "component")
        .join(kept.select("doc_id", token_count("text").alias("survivor_tokens")), "doc_id")
    )
    return survivors.select(
        F.col("component").alias("group_id"), "n_members", "survivor_tokens"
    )


_CURATE_SQL = """
WITH RECURSIVE t AS (
  SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x != '')) AS w,
         len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens
  FROM documents WHERE doc_id < 300),
kept AS (SELECT * FROM t WHERE n_tokens >= 10),
e AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib FROM kept a JOIN kept b ON a.doc_id <> b.doc_id
  WHERE len(list_intersect(a.w, b.w)) * 1.0 /
        len(list_distinct(list_concat(a.w, b.w))) >= 0.9),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM kept
  UNION
  SELECT e.ib, reach.r FROM reach JOIN e ON e.ia = reach.id),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
sizes AS (SELECT component, count(*) AS n_members FROM comp GROUP BY component)
SELECT c.component AS group_id, s.n_members, k.n_tokens AS survivor_tokens
FROM comp c JOIN sizes s ON c.component = s.component
JOIN kept k ON k.doc_id = c.id
WHERE c.id = c.component
"""


def dedup_ann_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via the RoarGraph index (the 100 TB path:
    N*k graph searches, not an N^2 sweep). Rows-only; pair recall >= 0.9
    vs the exact sweep is gated in tests."""
    from mysteryann_spark.operators.dedup import ann_neardup_pairs

    return ann_neardup_pairs(_emb(spark, sf_dir), threshold=0.35, k=10).select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim")
    )


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS: MinHash-LSH candidates -> exact unigram Jaccard
    >= 0.9 pair graph (doc_id < 300) -> connected components in one numpy
    task; component id = min doc_id of the group. Oracle: DuckDB
    recursive CTE reachability over the all-pairs graph (the LSH banding
    provably recovers it; see dedup_groups)."""
    from mysteryann_spark.operators.dedup import dedup_groups

    return dedup_groups(
        _docs(spark, sf_dir).where(F.col("doc_id") < 300), threshold=0.9, n=1
    )


_COMPONENTS_SQL = """
WITH RECURSIVE t AS (
  SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x != '')) AS w
  FROM documents WHERE doc_id < 300),
e AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib FROM t a JOIN t b ON a.doc_id <> b.doc_id
  WHERE len(list_intersect(a.w, b.w)) * 1.0 /
        len(list_distinct(list_concat(a.w, b.w))) >= 0.9),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM t
  UNION
  SELECT e.ib, reach.r FROM reach JOIN e ON e.ia = reach.id)
SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
"""


def dedup_groups_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus near-dup grouping — NO slice: MinHash-LSH candidates ->
    exact unigram Jaccard >= 0.9 -> connected components over the entire
    documents table. Rows-only: the recursive-CTE oracle is quadratic in
    corpus size (the 300-doc slice dedup_components carries the hash
    oracle); full-corpus component equality vs the independent all-pairs
    generator is gated in tests/test_pipeline.py."""
    from mysteryann_spark.operators.dedup import dedup_groups

    return dedup_groups(_docs(spark, sf_dir), threshold=0.9, n=1)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (unigram shingles, 35 perms, 5 bands of
    7 rows, exact-Jaccard-verified >= 0.8). Rows-only: xxhash64 signatures
    are not reproducible in DuckDB; completeness vs exact Jaccard is gated
    in tests/test_pipeline.py."""
    # 5 bands x 7 rows: collision prob at j=0.9 is ~0.96 (completeness
    # holds) but ~0.04 at j=0.5 — on this highly self-similar corpus the
    # wider 8x4 banding floods the verifier with nearly every pair.
    return minhash_lsh_pairs(_docs(spark, sf_dir), num_perm=35, bands=5, threshold=0.8)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 64-bit SimHash signature as a bit string (char 0 = bit 0).
    Signs with the md5 token-hash family (operators/dedup._md5_token_hash)
    so the WHOLE signature is value-hash-oracled in DuckDB — the per-bit
    signed sums, the sign rule, and the bit order all re-derived from
    md5(token) on the oracle side."""
    return simhash_bits(_docs(spark, sf_dir), hash_fn="md5")


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-distance near-dup pairs (<= 3) via exact pigeonhole
    banding: equi-join on signature chunks + XOR-popcount verify, no
    cartesian in the plan. md5 signing makes the pair set AND the hamming
    values DuckDB-oracled (the oracle recomputes signatures from
    md5(token) and compares ALL pairs — exactness of the pigeonhole path
    is what makes that equality hold; also gated vs the all-pairs
    baseline in tests/test_pipeline.py)."""
    from mysteryann_spark.operators.dedup import simhash_pigeonhole_pairs

    return simhash_pigeonhole_pairs(_docs(spark, sf_dir), max_hamming=3, hash_fn="md5")


# Shared oracle scaffolding: re-derive the md5-family simhash per doc.
# Token hash = first 16 hex chars of md5(token) as (hi, lo) 32-bit halves;
# bit j of the signature = sign of the summed ±1 contributions of bit j
# (j>=32 from hi, else lo) over the token BAG; empty docs sign to all-0.
_SIMHASH_CTE = """
t AS (SELECT doc_id,
        unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      FROM documents),
h AS (SELECT doc_id,
        CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS hi,
        CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS lo
      FROM t),
bitidx AS (SELECT unnest(generate_series(0, 63)) AS j),
s AS (SELECT doc_id, j,
        sum(((CASE WHEN j >= 32 THEN (hi >> (j - 32)) ELSE (lo >> j) END) & 1) * 2 - 1) AS c
      FROM h CROSS JOIN bitidx GROUP BY doc_id, j)
"""

_SIMHASH_SQL = f"""
WITH {_SIMHASH_CTE},
sig AS (SELECT doc_id,
          string_agg(CASE WHEN c > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
        FROM s GROUP BY doc_id)
SELECT d.doc_id, coalesce(sig.simhash, repeat('0', 64)) AS simhash
FROM documents d LEFT JOIN sig ON d.doc_id = sig.doc_id
"""

_SIMHASH_PAIRS_SQL = f"""
WITH {_SIMHASH_CTE},
ints AS (SELECT doc_id,
           sum(CASE WHEN c > 0 AND j < 32 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS lo,
           sum(CASE WHEN c > 0 AND j >= 32 THEN (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END) AS hi
         FROM s GROUP BY doc_id),
sig AS (SELECT d.doc_id, CAST(coalesce(i.lo, 0) AS BIGINT) AS lo,
               CAST(coalesce(i.hi, 0) AS BIGINT) AS hi
        FROM documents d LEFT JOIN ints i ON d.doc_id = i.doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
"""


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    return embedding_neardup_pairs(e, 0.4).select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim")
    )


_EMB_NEARDUP_SQL = """
WITH n AS (
  SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(unnest(a.embedding) AS DOUBLE) AS xa, CAST(unnest(b.embedding) AS DOUBLE) AS xb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
s AS (SELECT id_a, id_b, sum(xa * xb) AS dot FROM p GROUP BY id_a, id_b)
SELECT s.id_a, s.id_b, round(s.dot / (na.nrm * nb.nrm), 6) AS cos_sim
FROM s JOIN n na ON s.id_a = na.vec_id JOIN n nb ON s.id_b = nb.vec_id
WHERE s.dot / (na.nrm * nb.nrm) >= 0.4
"""


# --- similarity search ------------------------------------------------------


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("qid"), "embedding")
    return cosine_topk(q, e, 5).select(
        "qid", "nn_id", F.round("dist", 6).alias("dist"), "rank"
    )


_ANN_COSINE_SQL = """
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
u AS (SELECT q.qid, b.vec_id AS nn_id,
             CAST(unnest(q.qe) AS DOUBLE) AS xa, CAST(unnest(b.embedding) AS DOUBLE) AS xb
      FROM q CROSS JOIN embeddings b WHERE b.vec_id != q.qid),
d AS (SELECT qid, nn_id,
             -(sum(xa * xb) / (sqrt(sum(xa * xa)) * sqrt(sum(xb * xb)))) AS dist
      FROM u GROUP BY qid, nn_id),
r AS (SELECT qid, nn_id, dist,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, nn_id) AS INT) AS rank
      FROM d)
SELECT qid, nn_id, round(dist, 6) AS dist, rank FROM r WHERE rank <= 5
"""


def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k over the int8 scalar-quantized base (asymmetric SQ8:
    full-precision queries, per-dim max|x|/127 scales, clamp/floor
    quantizer) — the 4x-smaller-index scale path, fully SQL-oracled."""
    from mysteryann_spark.operators.similarity import quantized_cosine_topk

    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("qid"), "embedding")
    return quantized_cosine_topk(q, e, 5).select(
        "qid", "nn_id", F.round("dist", 6).alias("dist"), "rank"
    )


_ANN_QUANT_SQL = """
WITH idx AS (SELECT unnest(generate_series(
         1, (SELECT max(len(embedding)) FROM embeddings))) AS i),
p AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x FROM embeddings CROSS JOIN idx),
sc AS (SELECT i, CASE WHEN max(abs(x)) > 0 THEN max(abs(x)) / 127.0 ELSE 1.0 END AS s
       FROM p GROUP BY i),
dq AS (SELECT p.vec_id, p.i,
              greatest(-127, least(127, floor(p.x / sc.s + 0.5))) * sc.s AS xd
       FROM p JOIN sc ON p.i = sc.i),
q AS (SELECT vec_id AS qid, i, x AS xq FROM p WHERE vec_id < 20),
u AS (SELECT q.qid, b.vec_id AS nn_id, q.xq AS xa, b.xd AS xb
      FROM q JOIN dq b ON q.i = b.i AND b.vec_id != q.qid),
d AS (SELECT qid, nn_id,
             -(sum(xa * xb) / (sqrt(sum(xa * xa)) * sqrt(sum(xb * xb)))) AS dist
      FROM u GROUP BY qid, nn_id),
r AS (SELECT qid, nn_id, dist,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, nn_id) AS INT) AS rank
      FROM d)
SELECT qid, nn_id, round(dist, 6) AS dist, rank FROM r WHERE rank <= 5
"""


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate cosine top-k (rows-only; recall vs the
    exact baseline gated in tests)."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("qid"), "embedding")
    return lsh_cosine_topk(q, e, 5).select(
        "qid", "nn_id", F.round("dist", 6).alias("dist"), "rank"
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (KMeans inverted-file) approximate cosine top-k through the
    IVF join (operators/knn_approx.py): probe the 6 nearest of 16
    centroid lists, exact-rerank inside them (recall vs the exact
    baseline gated in tests). Reports the cosine DISTANCE 1 - cos, not
    the engine's -cos: the pinned oracle reads this convention."""
    from mysteryann_spark.operators.knn_approx import ivf_knn_join

    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("qid"), "embedding")
    return ivf_knn_join(
        q, e, 5, "cosine", n_centroids=16, n_probe=6, exclude_self=True
    ).select("qid", "nn_id", F.round(F.col("dist") + 1.0, 6).alias("dist"), "rank")


def doc_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (doc_id < 200): tf = in-doc count,
    idf = ln(N / doc-frequency), (score desc, token asc) tiebreak. One
    explode + two aggregations + a window — the whole-corpus statistics
    (df, N) are map-side-combined aggregates, never a cross join."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    n_docs = d.count()
    toks = d.select("doc_id", F.explode(tokens_col("text")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = toks.dropDuplicates(["doc_id", "token"]).groupBy("token").agg(
        F.count("*").alias("df")
    )
    scored = tf.join(dfreq, "token").select(
        "doc_id",
        "token",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")) + 1e-9, 6).alias(
            "score"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("token").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "token", "score", "rk")
    )


_TFIDF_SQL = """
WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
           FROM documents WHERE doc_id < 200),
n AS (SELECT count(*) AS n_docs FROM d),
t AS (SELECT doc_id, unnest(w) AS token FROM d),
tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY doc_id, token),
dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM t GROUP BY token),
scored AS (SELECT tf.doc_id, tf.token,
                  round(tf.tf * ln(n.n_docs * 1.0 / dfreq.df) + 1e-9, 6) AS score
           FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n),
rk AS (SELECT doc_id, token, score,
              row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rk
       FROM scored)
SELECT doc_id, token, score, rk FROM rk WHERE rk <= 3
"""


# --- multimodal -------------------------------------------------------------


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: synth media table -> frame-sampled decode
    (deterministic fake): one row per (media, frame) with payload stats."""
    media = synth_media_from_documents(_docs(spark, sf_dir))
    return decode_frames(media)


def multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: deterministic PPM/BMP payloads
    (actual encoded wire bytes) -> pure-numpy decoder -> per-frame
    fingerprint of the DECODED RGB raster. Rows-only; exact pixel
    recovery (encode->decode == source array) is gated in
    tests/test_pipeline.py."""
    from mysteryann_spark.operators.multimodal import synth_real_media_from_documents

    media = synth_real_media_from_documents(_docs(spark, sf_dir))
    return decode_frames(media, real_decode=True)


def multimodal_meanpool(spark: SparkSession, sf_dir: str) -> DataFrame:
    pooled = mean_pool_embeddings(_emb(spark, sf_dir), "label")
    return pooled.select(
        "label",
        "n",
        *[F.round(F.element_at("pooled", i + 1), 6).alias(f"c{i + 1}") for i in range(4)],
    )


# clip4clip pooling (prepare_for_clip_webvid.py:93-98): normalize each row
# (zero norms clamped to 1), mean the normalized rows, renormalize.
_MM_POOL_SQL = """
WITH idx AS (SELECT unnest(generate_series(
         1, (SELECT max(len(embedding)) FROM embeddings))) AS i),
r AS (SELECT label, embedding,
        CASE WHEN sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) = 0 THEN 1.0
             ELSE sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) END AS rnorm
      FROM embeddings),
m AS (SELECT label, i, avg(CAST(embedding[i] AS DOUBLE) / rnorm) AS m
      FROM r CROSS JOIN idx GROUP BY label, i),
nrm AS (SELECT label, sqrt(sum(m * m)) AS nrm FROM m GROUP BY label),
c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label)
SELECT c.label, c.n,
       round(max(CASE WHEN m.i = 1 THEN m.m END) / nrm.nrm, 6) AS c1,
       round(max(CASE WHEN m.i = 2 THEN m.m END) / nrm.nrm, 6) AS c2,
       round(max(CASE WHEN m.i = 3 THEN m.m END) / nrm.nrm, 6) AS c3,
       round(max(CASE WHEN m.i = 4 THEN m.m END) / nrm.nrm, 6) AS c4
FROM c JOIN m ON c.label = m.label JOIN nrm ON c.label = nrm.label
GROUP BY c.label, c.n, nrm.nrm
"""




# --- round-3 pipeline extensions -------------------------------------------


def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact round-trip. The corpus is synthetic word salad
    with no PII, so deterministic PII (an email, an IP, a phone) is
    INJECTED from doc_id in both engines first — the oracle then actually
    exercises the regex logic (counts + md5 of the scrubbed text) instead
    of comparing no-ops. Patterns live in the Java-regex ∩ RE2 subset so
    DuckDB runs them verbatim."""
    from mysteryann_spark.functions.text import pii_counts_cols, pii_scrub

    d = _docs(spark, sf_dir)
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
        F.lit(" call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    counts = pii_counts_cols(synth)
    return d.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_ips"].alias("n_ips"),
        counts["n_phones"].alias("n_phones"),
        F.md5(pii_scrub(synth)).alias("scrubbed_md5"),
    )


_PII_SQL = r"""
WITH s AS (SELECT doc_id,
  concat(text, ' contact user', CAST(doc_id AS VARCHAR), '@mail.example.com or 10.0.',
         CAST(doc_id % 256 AS VARCHAR), '.', CAST((doc_id * 7) % 256 AS VARCHAR),
         ' call 555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS synth
  FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(synth, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(synth, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
  CAST(len(regexp_extract_all(synth, '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
  md5(regexp_replace(regexp_replace(regexp_replace(synth,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        '\b\d{3}-\d{4}\b', '<PHONE>', 'g')) AS scrubbed_md5
FROM s
"""


def doc_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule filter (word-count bounds, mean-word-length band,
    minimum stop-word fraction) with the per-rule measurements — the
    rule-based quality gate of a curation pipeline, fully SQL-oracled."""
    from mysteryann_spark.functions.text import gopher_quality_cols

    d = _docs(spark, sf_dir)
    cols = gopher_quality_cols(F.col("text"))
    return d.select(
        "doc_id",
        cols["n_words"].alias("n_words"),
        stable_round(cols["mean_word_len"], 6).alias("mean_word_len"),
        stable_round(cols["stop_fraction"], 6).alias("stop_fraction"),
        cols["passes_gopher"].alias("passes_gopher"),
    )


_GOPHER_SQL = """
WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks FROM documents),
b AS (SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_words,
        greatest(len(toks), 1) * 1.0 AS nd,
        CAST(list_sum(list_transform(toks, tk -> length(tk))) AS DOUBLE) AS chars,
        len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it','for','on'], x))) * 1.0 AS sw
      FROM t),
c AS (SELECT doc_id, n_words, chars / nd AS mwl, sw / nd AS sf FROM b)
SELECT doc_id, n_words,
       round(mwl + 1e-9, 6) AS mean_word_len,
       round(sf + 1e-9, 6) AS stop_fraction,
       CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
                  AND mwl >= 3.0 AND mwl <= 10.0 AND sf >= 0.02
            THEN 1 ELSE 0 END AS INTEGER) AS passes_gopher
FROM c
"""


def doc_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide repeated token-3-gram detection (the exact-substring
    dedup primitive of Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): every rolling-hash window that occurs more
    than once anywhere in the corpus, with its document spread and
    occurrence count. One explode + one hash aggregation — the 100 TB
    shape is a single shuffle on the window hash."""
    from mysteryann_spark.functions.text import rolling_hashes

    d = _docs(spark, sf_dir)
    wins = d.select("doc_id", F.explode(rolling_hashes("text", 3)).alias("rhash"))
    return (
        wins.groupBy("rhash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
        .where(F.col("n_occ") >= 2)
    )


_SUBSTR_SQL = """
WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks FROM documents),
h AS (SELECT doc_id,
        list_transform(toks, tk ->
          (length(tk) * 131
           + ascii(substr(tk, 1, 1)) * 31
           + ascii(substr(tk, -1, 1))
           + list_sum(list_transform(list_filter(string_split(tk, ''), c -> c != ''), c -> ascii(c)))
          ) % 1000000007) AS hs,
        len(toks) AS n
      FROM t),
r AS (SELECT doc_id,
        CASE WHEN n < 3 THEN []
             ELSE list_transform(generate_series(1, n - 2), i ->
               (hs[i] * 66049 + hs[i + 1] * 257 + hs[i + 2]) % 1000000007)
        END AS rh
      FROM h),
w AS (SELECT doc_id, CAST(unnest(rh) AS BIGINT) AS rhash FROM r)
SELECT rhash,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occ
FROM w GROUP BY rhash HAVING count(*) >= 2
"""


def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM training-data hygiene
    step): flag every TRAIN document sharing any token 5-gram with the
    EVAL set (here the deterministic doc_id % 20 == 0 slice standing in
    for a benchmark suite). Train-side grams explode into one row per
    window; the eval gram set is distinct-collapsed and broadcast — at
    100 TB the eval side is always tiny (benchmarks are MBs), so the
    contamination join is a broadcast hash join against the full-corpus
    gram explosion, one shuffle for the per-doc re-aggregation."""
    d = _docs(spark, sf_dir).withColumn("toks", tokens_col("text"))
    grams = F.when(
        F.size("toks") < 5, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 4),
            lambda i: F.concat_ws(" ", F.slice("toks", i, 5)),
        )
    )
    g = d.select("doc_id", F.explode(grams).alias("gram"))
    eval_grams = g.where(F.col("doc_id") % 20 == 0).select("gram").distinct()
    train = g.where(F.col("doc_id") % 20 != 0)
    hits = (
        train.join(F.broadcast(eval_grams), "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared"))
    )
    return (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") % 20 != 0)
        .select("doc_id")
        .join(hits, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


_DECONTAM_SQL = """
WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
           FROM documents),
g AS (SELECT doc_id, unnest(
        CASE WHEN len(toks) < 5 THEN []
             ELSE list_transform(generate_series(1, len(toks) - 4),
                                 i -> array_to_string(list_slice(toks, i, i + 4), ' '))
        END) AS gram
      FROM t),
e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
h AS (SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared
      FROM g JOIN e USING (gram) WHERE g.doc_id % 20 != 0 GROUP BY g.doc_id)
SELECT d.doc_id,
       CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
       CAST(CASE WHEN coalesce(h.n_shared, 0) > 0 THEN 1 ELSE 0 END AS INTEGER)
         AS contaminated
FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
WHERE d.doc_id % 20 != 0
"""


def pipeline_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic twin of
    the 5-gram entry above (the published recipe when eval rephrasings
    defeat exact n-gram matching): flag every TRAIN vector whose max
    cosine similarity against the EVAL slice (vec_id < 5 standing in for
    a benchmark suite) clears the threshold.

    Scale shape: the eval side is always tiny (benchmarks are MBs), so
    it broadcasts; the train side is one scan with a row-local zip_with
    dot product against each eval row and a map-side max — no shuffle of
    vectors, cost ∝ |train| × |eval|. The ANN index is the escalation
    path when |eval| stops being broadcastable."""
    e = _emb(spark, sf_dir)
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    scored = e.select("vec_id", "embedding", F.sqrt(sq).alias("nrm"))
    ev = scored.where(F.col("vec_id") < 5).select(
        F.col("embedding").alias("eval_emb"), F.col("nrm").alias("eval_nrm")
    )
    train = scored.where(F.col("vec_id") >= 5)
    dot = F.aggregate(
        F.zip_with(
            "embedding", "eval_emb", lambda a, b: a.cast("double") * b.cast("double")
        ),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    cos = F.when(
        (F.col("nrm") > 0) & (F.col("eval_nrm") > 0),
        dot / (F.col("nrm") * F.col("eval_nrm")),
    ).otherwise(F.lit(0.0))
    return (
        train.crossJoin(F.broadcast(ev))
        .select("vec_id", cos.alias("cos"))
        .groupBy("vec_id")
        .agg(
            F.round(F.max("cos"), 6).alias("max_eval_sim"),
            (F.max("cos") >= 0.4).cast("int").alias("contaminated"),
        )
    )


_DECONTAM_SEM_SQL = """
WITH n AS (
  SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
p AS (
  SELECT t.vec_id AS vec_id, e.vec_id AS eval_id,
         CAST(unnest(t.embedding) AS DOUBLE) AS xa,
         CAST(unnest(e.embedding) AS DOUBLE) AS xb
  FROM embeddings t JOIN embeddings e ON t.vec_id >= 5 AND e.vec_id < 5),
d AS (SELECT vec_id, eval_id, sum(xa * xb) AS dot FROM p GROUP BY vec_id, eval_id),
m AS (
  SELECT d.vec_id,
         max(coalesce(d.dot / nullif(nt.nrm * ne.nrm, 0), 0)) AS ms
  FROM d JOIN n nt ON d.vec_id = nt.vec_id JOIN n ne ON d.eval_id = ne.vec_id
  GROUP BY d.vec_id)
SELECT vec_id, round(ms, 6) AS max_eval_sim,
       CAST(CASE WHEN ms >= 0.4 THEN 1 ELSE 0 END AS INTEGER) AS contaminated
FROM m
"""


def pipeline_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified data mixing: per-source sampling rates
    applied via an md5-derived uniform — the reproducible (re-runnable,
    retry-stable) way a pipeline downsamples sources to a target mixture.
    Pure per-row expressions; the only cost is the scan."""
    d = _docs(spark, sf_dir)
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(4294967296.0)
    rate = (
        F.when(F.col("source").isin("src0", "src1", "src2", "src3", "src4"), F.lit(0.9))
        .when(F.col("source").isin("src5", "src6", "src7", "src8", "src9"), F.lit(0.5))
        .otherwise(F.lit(0.2))
    )
    return d.where(u < rate).select(
        "doc_id", "source", stable_round(u, 6).alias("u")
    )


_MIX_SQL = """
SELECT doc_id, source, round(u + 1e-9, 6) AS u
FROM (SELECT doc_id, source,
        CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS u,
        CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN CAST(0.9 AS DOUBLE)
             WHEN source IN ('src5','src6','src7','src8','src9') THEN CAST(0.5 AS DOUBLE)
             ELSE CAST(0.2 AS DOUBLE) END AS rate
      FROM documents)
WHERE u < rate
"""


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embeddings table: k-means
    clusters -> within-cluster cosine near-dup groups -> one survivor per
    group. Rows-only (seeded k-means is not SQL-expressible); the
    keep-set properties are gated in tests/test_pipeline.py."""
    from mysteryann_spark.operators.dedup import semantic_dedup

    return semantic_dedup(_emb(spark, sf_dir), threshold=0.5, n_clusters=16)


_RANGE_RADIUS = 1.4


def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (radius) similarity search: all base vectors within squared
    L2 1.4 of each query — the fixed-threshold retrieval mode (near-dup
    harvesting) next to the top-k entries. Zero-shuffle plan: staged
    query block + per-batch GEMM + local radius predicate."""
    from mysteryann_spark.operators.knn import range_join

    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("qid"), "embedding")
    out = range_join(q, e, radius=_RANGE_RADIUS, metric="l2", exclude_self=True)
    return out.select("qid", "nn_id", stable_round(F.col("dist"), 6).alias("dist"))


_RANGE_SQL = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
u AS (SELECT q.qid, b.vec_id AS nn_id,
             CAST(unnest(q.qe) AS DOUBLE) AS xa, CAST(unnest(b.embedding) AS DOUBLE) AS xb
      FROM q, embeddings b WHERE q.qid != b.vec_id),
d AS (SELECT qid, nn_id, sum(xa * xa) + sum(xb * xb) - 2 * sum(xa * xb) AS dist
      FROM u GROUP BY qid, nn_id)
SELECT qid, nn_id, round(dist + 1e-9, 6) AS dist FROM d WHERE dist <= {_RANGE_RADIUS}
"""


def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED exact kNN (the Big-ANN filtered-track semantics): top-5
    same-label neighbors per query. knn_join's match_col groups the
    staged queries by label and scores each base row only against its
    own label's queries — one scan, no per-label re-partitioning, exact
    and fully SQL-oracled."""
    from mysteryann_spark.operators.knn import knn_join

    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding", "label"
    )
    return knn_join(
        q, e, 5, "l2", exclude_self=True, match_col="label"
    ).select("qid", "nn_id", stable_round(F.col("dist"), 6).alias("dist"), "rank")


_ANN_FILTERED_SQL = """
WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS ql FROM embeddings WHERE vec_id < 20),
u AS (SELECT q.qid, b.vec_id AS nn_id,
             CAST(unnest(q.qe) AS DOUBLE) AS xa, CAST(unnest(b.embedding) AS DOUBLE) AS xb
      FROM q JOIN embeddings b ON b.label = q.ql AND b.vec_id != q.qid),
d AS (SELECT qid, nn_id, sum((xa - xb) * (xa - xb)) AS dist FROM u GROUP BY qid, nn_id),
r AS (SELECT qid, nn_id, dist,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, nn_id) AS INT) AS rank
      FROM d)
SELECT qid, nn_id, round(dist + 1e-9, 6) AS dist, rank FROM r WHERE rank <= 5
"""


def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing (the GPT-style pretraining
    layout): documents are concatenated in doc_id order and split into
    fixed 2048-token windows; each doc reports its token count, start
    offset, covering sequence range, and offset inside its first
    sequence. One window cumsum — no shuffle beyond the global ordering
    the layout itself requires."""
    from pyspark.sql import Window

    budget = 2048
    d = _docs(spark, sf_dir).select("doc_id", token_count("text").alias("n_tokens"))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    return d.select(
        "doc_id",
        "n_tokens",
        start.alias("start_tok"),
        F.floor(start / budget).cast("bigint").alias("start_seq"),
        F.floor((start + F.col("n_tokens") - 1) / budget).cast("bigint").alias("end_seq"),
        (start % budget).cast("bigint").alias("seq_offset"),
    )


_PACK_SQL = """
WITH t AS (SELECT doc_id,
        CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens
      FROM documents),
s AS (SELECT doc_id, n_tokens,
        CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
      FROM t)
SELECT doc_id, n_tokens, start_tok,
       CAST(floor(start_tok / 2048.0) AS BIGINT) AS start_seq,
       CAST(floor((start_tok + n_tokens - 1) / 2048.0) AS BIGINT) AS end_seq,
       CAST(start_tok % 2048 AS BIGINT) AS seq_offset
FROM s
"""


def pipeline_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile: doc count, token totals, and exact
    interpolated token-count quantiles — the data-profiling report a
    curation run emits per ingest source. percentile() is the exact
    (sort-based) aggregate; at 100 TB you'd swap approx_percentile with
    a documented error bound."""
    d = _docs(spark, sf_dir).select("source", token_count("text").alias("n"))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n").alias("total_tokens"),
        stable_round(F.avg("n"), 6).alias("avg_tokens"),
        stable_round(F.expr("percentile(n, 0.5)"), 6).alias("p50_tokens"),
        stable_round(F.expr("percentile(n, 0.9)"), 6).alias("p90_tokens"),
    )


_PROFILE_SQL = """
WITH t AS (SELECT source,
        CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n
      FROM documents)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n) AS BIGINT) AS total_tokens,
       round(avg(n) + 1e-9, 6) AS avg_tokens,
       round(quantile_cont(n, 0.5) + 1e-9, 6) AS p50_tokens,
       round(quantile_cont(n, 0.9) + 1e-9, 6) AS p90_tokens
FROM t GROUP BY source
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided frame sampling over binary payloads (every 2nd frame of
    the synthetic media table). The fingerprint md5(payload + '#' + idx)
    is computed on raw bytes in the Arrow kernel; the oracle reproduces
    it because the synth payload is the document's UTF-8 text."""
    from mysteryann_spark.operators.multimodal import sample_frames

    media = synth_media_from_documents(_docs(spark, sf_dir))
    return sample_frames(media, stride=2)


_FRAME_SAMPLE_SQL = """
WITH m AS (SELECT doc_id AS media_id, text, 1 + doc_id % 4 AS n_frames FROM documents),
f AS (SELECT media_id, text, unnest(generate_series(0, n_frames - 1, 2)) AS frame_idx FROM m)
SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       md5(concat(text, '#', CAST(frame_idx AS VARCHAR))) AS frame_md5
FROM f
"""


# --- retrieval ranking ------------------------------------------------------

# Fixed literal query set over the synthetic corpus vocabulary — identical
# in the Spark plan and the oracle, so scores hash-match exactly.
_BM25_QUERIES: tuple[tuple[int, str], ...] = (
    (0, "vector"), (0, "hash"), (0, "join"),
    (1, "stream"), (1, "batch"), (1, "window"),
    (2, "customer"), (2, "order"), (2, "filter"),
)
_BM25_K1 = 1.2
_BM25_B = 0.75


def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical ranking: top-10 documents per query (Okapi BM25,
    k1=1.2, b=0.75, idf = ln(1 + (N-df+0.5)/(df+0.5))).

    Plan shape: one token explode filtered DOWN TO THE QUERY TERMS before
    any aggregation (at 100 TB the term list is a broadcast semi-join, so
    the tf groupBy only ever shuffles rows that can score), plus two
    scalar corpus statistics (N, avgdl) from one map-side-combined agg.
    No cross join, no full-vocabulary state. Ranks order by the ROUNDED
    score so cross-engine double jitter cannot flip a boundary rank."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select("doc_id", tokens_col("text").alias("toks"))
    stats = d.select(
        F.count("*").alias("n"), F.avg(F.size("toks")).alias("avgdl")
    ).head()
    n_docs, avgdl = stats["n"], float(stats["avgdl"])

    terms = spark.createDataFrame(list(_BM25_QUERIES), "qid INT, token STRING")
    toks = d.select(
        "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("token")
    ).join(F.broadcast(terms.select("token").distinct()), "token")
    tf = toks.groupBy("doc_id", "token").agg(
        F.count("*").alias("tf"), F.first("dl").alias("dl")
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = tf.join(dfreq, "token").join(F.broadcast(terms), "token").select(
        "qid",
        "doc_id",
        (
            idf
            * (F.col("tf") * (_BM25_K1 + 1.0))
            / (
                F.col("tf")
                + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.lit(avgdl))
            )
        ).alias("c"),
    )
    scored = contrib.groupBy("qid", "doc_id").agg(
        stable_round(F.sum("c"), 6).alias("score")
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("qid", "doc_id", "score", "rk")
    )


_BM25_SQL = """
WITH q(qid, token) AS (VALUES
    (0, 'vector'), (0, 'hash'), (0, 'join'),
    (1, 'stream'), (1, 'batch'), (1, 'window'),
    (2, 'customer'), (2, 'order'), (2, 'filter')),
d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents),
stats AS (SELECT count(*) AS n, avg(len(w)) AS avgdl FROM d),
t AS (SELECT doc_id, len(w) AS dl, unnest(w) AS token FROM d),
tf AS (SELECT doc_id, token, count(*) AS tf, min(dl) AS dl FROM t
       WHERE token IN (SELECT DISTINCT token FROM q) GROUP BY doc_id, token),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
contrib AS (SELECT q.qid, tf.doc_id,
                   ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * (tf.tf * (1.2 + 1.0))
                   / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl)) AS c
            FROM tf JOIN dfreq USING (token) JOIN q USING (token) CROSS JOIN stats),
scored AS (SELECT qid, doc_id, round(sum(c) + 1e-9, 6) AS score
           FROM contrib GROUP BY qid, doc_id),
rk AS (SELECT qid, doc_id, score,
              CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS INT) AS rk
       FROM scored)
SELECT qid, doc_id, score, rk FROM rk WHERE rk <= 10
"""


def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: for query docs
    (id < 5), fuse (a) exact embedding-cosine ranks with (b) token-set
    Jaccard lexical ranks as sum of 1/(60+rank), top-10 per query — the
    standard RRF fusion (Cormack et al., SIGIR'09) every RAG ingest
    pipeline runs.

    Both retriever lists are top-20 per query, so the fusion join carries
    <=40 rows/query regardless of corpus size; the lexical side
    broadcast-joins 5 tiny query token sets against the corpus (one scan,
    no pairwise blowup); the dense side is the staged blocked-GEMM kNN.
    RRF sums are sums of reciprocals of small ints — bit-identical across
    engines, so the entry is fully hash-oracled (rare for a fusion op)."""
    from pyspark.sql import Window

    list_k, fuse_c, out_k = 20, 60, 10

    e = _emb(spark, sf_dir)
    q_e = e.where(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), "embedding")
    dense = cosine_topk(q_e, e, list_k).select(
        "qid", F.col("nn_id").alias("doc_id"), F.col("rank").alias("r_dense")
    )

    d = _docs(spark, sf_dir).select(
        "doc_id", F.array_distinct(tokens_col("text")).alias("toks")
    )
    q_d = d.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("qid"), F.col("toks").alias("qtoks")
    )
    jac = (
        F.broadcast(q_d)
        .crossJoin(d)
        .where(F.col("qid") != F.col("doc_id"))
        .select(
            "qid",
            "doc_id",
            (
                F.size(F.array_intersect("qtoks", "toks")).cast("double")
                / F.size(F.array_union("qtoks", "toks"))
            ).alias("jac"),
        )
    )
    w_jac = Window.partitionBy("qid").orderBy(F.col("jac").desc(), F.col("doc_id").asc())
    lexical = (
        jac.withColumn("r_lex", F.row_number().over(w_jac))
        .where(F.col("r_lex") <= list_k)
        .select("qid", "doc_id", "r_lex")
    )

    fused = (
        dense.join(lexical, ["qid", "doc_id"], "full_outer")
        .select(
            "qid",
            "doc_id",
            (
                F.when(F.col("r_dense").isNotNull(), 1.0 / (fuse_c + F.col("r_dense"))).otherwise(0.0)
                + F.when(F.col("r_lex").isNotNull(), 1.0 / (fuse_c + F.col("r_lex"))).otherwise(0.0)
            ).alias("rrf"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= out_k)
        .select("qid", "doc_id", stable_round("rrf", 6).alias("rrf"), "rk")
    )


_RRF_SQL = """
WITH qe AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
u AS (SELECT qe.qid, b.vec_id AS doc_id,
             CAST(unnest(qe.qe) AS DOUBLE) AS xa, CAST(unnest(b.embedding) AS DOUBLE) AS xb
      FROM qe CROSS JOIN embeddings b WHERE b.vec_id != qe.qid),
cd AS (SELECT qid, doc_id,
              -(sum(xa * xb) / (sqrt(sum(xa * xa)) * sqrt(sum(xb * xb)))) AS dist
       FROM u GROUP BY qid, doc_id),
dense AS (SELECT qid, doc_id, r_dense FROM (
            SELECT qid, doc_id,
                   row_number() OVER (PARTITION BY qid ORDER BY dist, doc_id) AS r_dense
            FROM cd) WHERE r_dense <= 20),
dt AS (SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x != '')) AS toks
       FROM documents),
qd AS (SELECT doc_id AS qid, toks AS qtoks FROM dt WHERE doc_id < 5),
jac AS (SELECT qd.qid, dt.doc_id,
               CAST(len(list_intersect(qd.qtoks, dt.toks)) AS DOUBLE)
               / (len(qd.qtoks) + len(dt.toks) - len(list_intersect(qd.qtoks, dt.toks))) AS jac
        FROM qd CROSS JOIN dt WHERE qd.qid != dt.doc_id),
lexical AS (SELECT qid, doc_id, r_lex FROM (
              SELECT qid, doc_id,
                     row_number() OVER (PARTITION BY qid ORDER BY jac DESC, doc_id ASC) AS r_lex
              FROM jac) WHERE r_lex <= 20),
fused AS (SELECT coalesce(dense.qid, lexical.qid) AS qid,
                 coalesce(dense.doc_id, lexical.doc_id) AS doc_id,
                 coalesce(1.0 / (60 + r_dense), 0.0) + coalesce(1.0 / (60 + r_lex), 0.0) AS rrf
          FROM dense FULL OUTER JOIN lexical
            ON dense.qid = lexical.qid AND dense.doc_id = lexical.doc_id),
rk AS (SELECT qid, doc_id, rrf,
              CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id ASC) AS INT) AS rk
       FROM fused)
SELECT qid, doc_id, round(rrf + 1e-9, 6) AS rrf, rk FROM rk WHERE rk <= 10
"""


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-trainer statistics: global adjacent-token-pair frequencies,
    top-50 — the merge-candidate count that drives one round of BPE
    vocabulary training (Sennrich et al.). One explode of zipped
    (w[i], w[i+1]) slices + one groupBy: the same map-side-combined
    count(*) shape at 100 TB, with the top-50 a tiny final window."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select(tokens_col("text").alias("w"))
    pairs = d.select(
        F.explode(
            F.zip_with(
                F.slice("w", 1, F.size("w") - 1),
                F.slice("w", 2, F.size("w") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count("*").alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("pair").asc())
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 50)
        .select("pair", "cnt", "rk")
    )


_BPE_PAIRS_SQL = """
WITH d AS (SELECT list_filter(string_split(text, ' '), x -> x != '') AS w FROM documents),
p AS (SELECT w[i] || ' ' || w[i + 1] AS pair
      FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM d)),
c AS (SELECT pair, count(*) AS cnt FROM p GROUP BY pair),
rk AS (SELECT pair, cnt,
              CAST(row_number() OVER (ORDER BY cnt DESC, pair ASC) AS INT) AS rk
       FROM c)
SELECT pair, cnt, rk FROM rk WHERE rk <= 50
"""


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized cosine top-k (m=8 subspaces, 16 codes, exact
    refine) — the reference's reserved-but-unimplemented PQ metric
    (distance.h:15) realized as the 32x-memory-cut scale path. Rows-only
    (seeded k-means codebooks aren't SQL-expressible); recall vs the
    exact baseline gated in tests. Like every PQ-family entry it reports
    1 - cos (the operator's -cos plus 1), the convention its pin reads."""
    from mysteryann_spark.operators.similarity import pq_cosine_topk

    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("qid"), "embedding")
    return pq_cosine_topk(q, e, 5).select(
        "qid", "nn_id", F.round(F.col("dist") + 1.0, 6).alias("dist"), "rank"
    )


def pipeline_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-ingest chunking: split each document into overlapping token
    windows (size 40, stride 30 — 10-token overlap), emitting
    (doc_id, chunk_idx, n_tokens, chunk_text). Pure per-row expressions
    (sequence + transform + slice): no shuffle at all — the one operator
    in an ingest DAG that should NEVER cost a shuffle, since chunking is
    embarrassingly row-local at any scale."""
    size, stride = 40, 30
    d = _docs(spark, sf_dir).select("doc_id", tokens_col("text").alias("w"))
    # chunk starts: 0, stride, 2*stride, ... while start < len(w)
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("w") - 1, F.lit(0)),
        F.lit(stride),
    )
    chunks = d.select(
        "doc_id",
        F.posexplode(
            F.transform(starts, lambda s: F.slice("w", s + 1, size))
        ).alias("chunk_idx", "toks"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.concat_ws(" ", "toks").alias("chunk_text"),
    )


_CHUNK_SQL = """
WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
           FROM documents),
s AS (SELECT doc_id, w, unnest(generate_series(0, greatest(len(w) - 1, 0), 30)) AS st
      FROM d),
c AS (SELECT doc_id, CAST(st / 30 AS INTEGER) AS chunk_idx, w[st + 1 : st + 40] AS toks
      FROM s)
SELECT doc_id, chunk_idx, CAST(len(toks) AS BIGINT) AS n_tokens,
       list_aggregate(toks, 'string_agg', ' ') AS chunk_text
FROM c
"""


def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: per-document mean negative log
    probability under the corpus's own unigram distribution — the
    KenLM-style perplexity-proxy quality filter (CCNet et al.) reduced
    to its scalable core. Two aggregations (corpus unigram counts, then
    per-doc score via a token->count join); the unigram table is the
    only broadcast-size model state. Lower = more typical text; the
    registered output is the 100 least-typical docs (what a filter
    would drop first)."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.explode(tokens_col("text")).alias("token"))
    uni = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    total = uni.agg(F.sum("cnt")).head()[0]
    scored = (
        toks.join(uni, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            stable_round(
                -F.avg(F.log(F.col("cnt") / F.lit(float(total)))), 6
            ).alias("nll"),
        )
    )
    w = Window.orderBy(F.col("nll").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 100)
        .select("doc_id", "n_tokens", "nll", "rk")
    )


_UNIGRAM_SQL = """
WITH t AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
           FROM documents),
uni AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
tot AS (SELECT sum(cnt) AS total FROM uni),
scored AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                  round(-avg(ln(uni.cnt / tot.total)) + 1e-9, 6) AS nll
           FROM t JOIN uni USING (token) CROSS JOIN tot
           GROUP BY t.doc_id),
rk AS (SELECT doc_id, n_tokens, nll,
              CAST(row_number() OVER (ORDER BY nll DESC, doc_id ASC) AS INT) AS rk
       FROM scored)
SELECT doc_id, n_tokens, nll, rk FROM rk WHERE rk <= 100
"""


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ cosine top-k (FAISS IndexIVFPQ shape): coarse inverted
    lists route the query to n_probe/n_centroids of the base, PQ codes
    ADC-score the candidates, exact refine finishes — the persisted
    100 TB index layout (bucket by centroid id, store m-byte codes).
    Rows-only; recall vs the exact baseline gated in tests."""
    from mysteryann_spark.operators.similarity import ivfpq_cosine_topk

    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("qid"), "embedding")
    return ivfpq_cosine_topk(q, e, 5, n_centroids=16, n_probe=6).select(
        "qid", "nn_id", F.round(F.col("dist") + 1.0, 6).alias("dist"), "rank"
    )


def ann_ivfpq_hier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with HIERARCHICAL coarse training + routed assignment —
    the large-nlist scale path (similarity._hierarchical_kmeans): level-1
    k-means at the branch factor, per-cell sub-k-means with mass-
    proportional quotas, and two-level nearest-centroid routing for the
    base assignment. At 10^8 x 163,840 lists this is the difference
    between days and minutes of coarse-quantizer work (SCALE.md r11);
    here it runs at sf scale (forced via hierarchical=True, branch=8 —
    no sf table crosses the auto threshold) so the driver hash-locks the
    exact routed assignment + search output. Deterministic end-to-end:
    seeded two-level Lloyd over the id-sorted hash-sample, lexsort
    (dist, id) tie-breaks in the routed scorer. Recall parity vs the
    flat-trained index is gated in tests/test_hierarchical_ivf.py."""
    from mysteryann_spark.operators.similarity import ivfpq_cosine_topk

    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("qid"), "embedding")
    return ivfpq_cosine_topk(
        q, e, 5, n_centroids=64, n_probe=16, hierarchical=True, branch=8
    ).select("qid", "nn_id", F.round(F.col("dist") + 1.0, 6).alias("dist"), "rank")


# --- round-4 multimodal extensions: feature-extract, resize, audio ----------


def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode + feature extraction, hash-oracled: the Spark side
    decodes actual PPM/BMP wire bytes and computes channel means + gradient
    energy from the raster; the DuckDB oracle recomputes the identical
    numbers from the generative pixel formula via generate_series — any
    decode bug (row order, BGR swap, padding) breaks the hash."""
    from mysteryann_spark.operators.multimodal import (
        extract_image_features,
        synth_real_media_from_documents,
    )

    media = synth_real_media_from_documents(_docs(spark, sf_dir))
    return extract_image_features(media)


_IMG_FEAT_SQL = """
WITH p AS (SELECT doc_id AS media_id,
                  8 + (n_chars % 17) AS w,
                  8 + (doc_id % 11) AS h
           FROM documents),
i AS (SELECT media_id, w, h, unnest(generate_series(0, h * w * 3 - 1)) AS idx FROM p),
v AS (SELECT media_id, w, h, idx,
             (idx * 31 + media_id * 131 + 7) % 256 AS pv
      FROM i),
g AS (SELECT media_id, w, h, idx, pv,
             lead(pv, 3) OVER (PARTITION BY media_id ORDER BY idx) AS nxt
      FROM v)
SELECT media_id,
       CAST(max(w) * max(h) AS BIGINT) AS n_pixels,
       CAST(floor(avg(CASE WHEN idx % 3 = 0 THEN pv END) * 1e6) AS BIGINT) AS mean_r_micro,
       CAST(floor(avg(CASE WHEN idx % 3 = 1 THEN pv END) * 1e6) AS BIGINT) AS mean_g_micro,
       CAST(floor(avg(CASE WHEN idx % 3 = 2 THEN pv END) * 1e6) AS BIGINT) AS mean_b_micro,
       CAST(sum(CASE WHEN nxt IS NOT NULL THEN abs(nxt - pv) ELSE 0 END) AS BIGINT)
         AS grad_energy
FROM g
GROUP BY media_id
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode -> bilinear resize to 12x12 -> fingerprint. Rows-only
    (interpolation is not SQL-expressible); invariants gated in
    tests/test_multimodal_audio.py."""
    from mysteryann_spark.operators.multimodal import (
        resize_images,
        synth_real_media_from_documents,
    )

    media = synth_real_media_from_documents(_docs(spark, sf_dir))
    return resize_images(media, out_h=12, out_w=12)


def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV parse + time-domain features, hash-oracled: Spark decodes
    actual RIFF/PCM bytes (header-derived sample_rate included in the
    output); DuckDB recomputes rms / mean_abs / peak / zero crossings from
    the integer waveform formula. Exact integer arithmetic end-to-end."""
    from mysteryann_spark.operators.audio import audio_stats, synth_audio_from_documents

    audio = synth_audio_from_documents(_docs(spark, sf_dir))
    return audio_stats(audio)


_AUDIO_STATS_SQL = """
WITH p AS (SELECT doc_id AS media_id,
                  4000 + (doc_id % 4) * 2000 AS sr,
                  1024 + (n_chars % 7) * 128 AS n
           FROM documents),
s AS (SELECT media_id, sr, n, unnest(generate_series(0, n - 1)) AS k FROM p),
x AS (SELECT media_id, sr, n, k,
             ((k * k * 31 + k * 17 + media_id * 131 + 7) % 2048) - 1024 AS v
      FROM s),
w AS (SELECT media_id, sr, n, v,
             lead(v) OVER (PARTITION BY media_id ORDER BY k) AS nxt
      FROM x)
SELECT media_id,
       CAST(max(sr) AS INT) AS sample_rate,
       CAST(max(n) AS INT) AS n_samples,
       CAST(floor(sqrt(CAST(sum(v * v) AS DOUBLE) / max(n)) * 1e6) AS BIGINT) AS rms_micro,
       CAST(floor(CAST(sum(abs(v)) AS DOUBLE) / max(n) * 1e6) AS BIGINT) AS mean_abs_micro,
       CAST(max(abs(v)) AS BIGINT) AS peak,
       CAST(sum(CASE WHEN nxt IS NOT NULL AND v * nxt < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_cross
FROM w
GROUP BY media_id
"""


def multimodal_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-domain audio features over a real rfft of the parsed
    samples. Rows-only (FFT is not SQL-expressible); the physics is gated
    in tests/test_multimodal_audio.py (pure sine -> dominant bin at its
    frequency)."""
    from mysteryann_spark.operators.audio import (
        audio_spectral,
        synth_audio_from_documents,
    )

    audio = synth_audio_from_documents(_docs(spark, sf_dir))
    return audio_spectral(audio)


def pipeline_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard manifest of the deterministic training-shard sink
    (sources/shards.py): md5-routed 16-way sharding of the documents
    table with doc/token counts and id ranges — the routing arithmetic is
    engine-portable, so the sink's placement logic is fully hash-oracled
    without writing a byte."""
    from mysteryann_spark.sources.shards import shard_manifest

    return shard_manifest(_docs(spark, sf_dir), 16, "doc_id", token_count("text"))


_SHARD_MANIFEST_SQL = """
SELECT CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16
            AS BIGINT) AS shard,
       count(*) AS n_docs,
       CAST(sum(len(list_filter(string_split(text, ' '), t -> t != ''))) AS BIGINT)
         AS n_tokens,
       min(doc_id) AS min_key,
       max(doc_id) AS max_key
FROM documents
GROUP BY 1
"""


def ann_ivfpq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full index lifecycle: build IVF-PQ -> save as cid-partitioned
    parquet (sources/ann_index_io.py) -> load -> search through the
    LOADED index with exact refine. Rows-only; bit-parity with the
    in-memory ann_ivfpq_topk path is gated in tests/test_ann_index_io.py."""
    from mysteryann_spark.operators.similarity import (
        build_ivfpq_index,
        search_ivfpq_index,
    )
    from mysteryann_spark.sources.ann_index_io import load_ivfpq, save_ivfpq
    from mysteryann_spark.sources.staging import scratch_dir

    e = _emb(spark, sf_dir)
    # A fresh dir per call, so two drivers never overwrite each other's
    # lists mid-scan. The search is lazy (the caller collects after we
    # return), so the index lives until the stage root is removed at exit.
    path = os.path.join(scratch_dir("mysteryann-ivfpq-"), "index")
    save_ivfpq(build_ivfpq_index(e, n_centroids=16, m=8, n_codes=64), path)
    loaded = load_ivfpq(spark, path)
    q = e.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("qid"), "embedding")
    return search_ivfpq_index(q, loaded, 5, n_probe=6, refine=20, base_df=e).select(
        "qid", "nn_id", F.round(F.col("dist") + 1.0, 6).alias("dist"), "rank"
    )


def ann_ivfpq_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving-shaped IVF-PQ lifecycle: save the index WITH its
    full-precision vectors (cid-partitioned next to the lists), load,
    search with base_df=None — the exact refine reranks against the
    index's own persisted vectors through a broadcast join that
    dynamic-partition-prunes the scan to the probed lists (r9; the plan
    property is asserted in tests/test_plans.py). At double dtype this
    is value-identical to the base_df rerank (tests/test_ann_index_io.py),
    so the pinned oracle locks both paths."""
    from mysteryann_spark.operators.similarity import (
        build_ivfpq_index,
        search_ivfpq_index,
    )
    from mysteryann_spark.sources.ann_index_io import load_ivfpq, save_ivfpq
    from mysteryann_spark.sources.staging import scratch_dir

    e = _emb(spark, sf_dir)
    path = os.path.join(scratch_dir("mysteryann-ivfpqv-"), "index")
    save_ivfpq(
        build_ivfpq_index(e, n_centroids=16, m=8, n_codes=64), path, base_df=e
    )
    loaded = load_ivfpq(spark, path)
    q = e.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("qid"), "embedding")
    return search_ivfpq_index(
        q, loaded, 5, n_probe=6, refine=20, base_df=None
    ).select("qid", "nn_id", F.round(F.col("dist") + 1.0, 6).alias("dist"), "rank")


def emb_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier scoring — the sanity filter a pipeline
    runs BEFORE building an ANN index (corrupt/degenerate vectors poison
    k-means training and graph neighborhoods): distance of every vector
    to the corpus mean, z-scored against the distance distribution. Pure
    DataFrame algebra (posexplode -> per-dim mean -> rejoin), map-side
    combined aggregates, and a broadcast 1-row stats join — no collect,
    no quadratic term, scales as two shuffles of (pos) and (vec_id)."""
    e = _emb(spark, sf_dir)
    ex = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).withColumn("x", F.col("x").cast("double"))
    mu = ex.groupBy("pos").agg(F.avg("x").alias("mu"))
    d = (
        ex.join(F.broadcast(mu), "pos")
        .groupBy("vec_id")
        .agg(F.sqrt(F.sum((F.col("x") - F.col("mu")) ** 2)).alias("dist"))
    )
    stats = d.agg(
        F.avg("dist").alias("m"), F.stddev_pop("dist").alias("sd")
    )
    # nullif guard mirrors the oracle: a degenerate corpus (all vectors at
    # the same distance, sd = 0) yields z = NULL on both engines instead of
    # a divide-by-zero Inf that hashes differently
    return d.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        F.round("dist", 6).alias("dist"),
        F.round(
            (F.col("dist") - F.col("m")) / F.nullif(F.col("sd"), F.lit(0.0)), 4
        ).alias("z"),
    )


_EMB_OUTLIER_SQL = """
WITH idx AS (SELECT unnest(generate_series(
         1, (SELECT max(len(embedding)) FROM embeddings))) AS i),
ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
       FROM embeddings CROSS JOIN idx),
mu AS (SELECT i, avg(x) AS mu FROM ex GROUP BY i),
d AS (SELECT vec_id, sqrt(sum((x - mu) * (x - mu))) AS dist
      FROM ex JOIN mu USING (i) GROUP BY vec_id),
s AS (SELECT avg(dist) AS m, stddev_pop(dist) AS sd FROM d)
SELECT vec_id, round(dist, 6) AS dist, round((dist - m) / nullif(sd, 0), 4) AS z
FROM d, s
"""


def emb_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-checkable half of distributed PCA: the upper-triangle
    population covariance of the embedding coordinates, computed from the
    exact moment partials fit_pca eigendecomposes
    (operators/pca.covariance_moments) and hash-oracled against DuckDB's
    covar_pop over the unnested embeddings — if these moments match, the
    only un-oracled PCA step left is the driver-side eigh (numpy-parity
    gated in tests/test_pca.py)."""
    from mysteryann_spark.operators.pca import covariance_moments

    emb = load_table(spark, "embeddings", sf_dir)
    return covariance_moments(emb).select(
        F.col("i").cast("bigint").alias("i"),
        F.col("j").cast("bigint").alias("j"),
        # +0.0 canonicalizes IEEE negative zero (DuckDB renders -0.0)
        (F.round("cov", 6) + F.lit(0.0)).alias("cov"),
    )


_PCA_VAR_SQL = """
WITH x AS (
  SELECT vec_id, gs - 1 AS i, CAST(e AS DOUBLE) AS v
  FROM (SELECT vec_id, unnest(embedding) AS e,
               generate_subscripts(embedding, 1) AS gs
        FROM embeddings)
)
SELECT a.i AS i, b.i AS j, round(covar_pop(a.v, b.v), 6) + 0.0 AS cov
FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY a.i, b.i
"""


def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA (operators/pca.py): fit 8 components in one pass
    (per-partition moment partials -> positionwise distributed combine ->
    driver eigh on the d x d covariance, a model-bounded 33 KB collect),
    then project every embedding with a map-only Arrow GEMM. Output is
    SCALAR rows (vec_id, component, value) — one row per coordinate via
    posexplode — because array columns break hash canonicalizers that
    sort pandas frames; the fit is deterministic (seeded moments +
    driver eigh), so this shape is also pinnable. The numpy-parity /
    orthonormality / variance-accounting gates live in tests/test_pca.py."""
    from mysteryann_spark.operators.pca import fit_pca, project_pca

    emb = load_table(spark, "embeddings", sf_dir)
    model = fit_pca(emb, k=8)
    proj = project_pca(emb, model)
    return proj.select("vec_id", F.posexplode("pc").alias("component", "value")).select(
        "vec_id",
        F.col("component").cast("bigint").alias("component"),
        # +0.0 canonicalizes IEEE negative zero (DuckDB renders -0.0)
        (F.round("value", 6) + F.lit(0.0)).alias("value"),
    )


_QUOTA = 40
_QUOTA_PREFILTER = 2_147_483_648  # keep h < 2^31: half the 2^32 hash space
# Only prefilter strata at least this big. At 8x quota, a stratum that
# prefilters keeps Binomial(cnt>=320, 0.5) rows; P(fewer than 40 survive)
# < 2^-100 (Chernoff), so the exactness claim below holds for every
# stratum small enough to matter and is astronomically safe past that.
_QUOTA_PREFILTER_MIN_ROWS = 8 * _QUOTA


def pipeline_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-quota-per-stratum sampling: exactly min(quota, |stratum|)
    docs per language, chosen by deterministic md5 order — the
    fixed-size-eval-slice twin of pipeline_mix_sample's rate sampling.
    Two-phase for scale: a stateless hash prefilter (h < 2^31, a 50%
    rate) cuts the rows entering the per-stratum rank shuffle before
    row_number runs — but ONLY for strata with at least
    _QUOTA_PREFILTER_MIN_ROWS rows (counted by a map-side-combined agg,
    broadcast back), so small strata are never under-filled and the
    exact-count semantics hold; at 100 TB the same counts size the
    threshold to quota/|stratum| * safety so only ~quota*safety rows
    per stratum reach the single skew-bounded shuffle. The oracle
    mirrors BOTH phases, so parity holds by construction; ordering is
    pure integer (md5-derived bigint, doc_id tiebreak), no floats."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    counts = d.groupBy("lang").agg(F.count("*").alias("cnt"))
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )
    thr = (
        F.when(F.col("cnt") >= _QUOTA_PREFILTER_MIN_ROWS, F.lit(_QUOTA_PREFILTER))
        .otherwise(F.lit(1 << 32))
        .cast("bigint")
    )
    filtered = (
        d.join(F.broadcast(counts), "lang")
        .withColumn("h", h)
        .where(F.col("h") < thr)
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        filtered.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= _QUOTA)
        .select("doc_id", "lang", "rk")
    )


_QUOTA_SQL = f"""
WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
d AS (SELECT doc_id, documents.lang,
       CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h,
       cnt
     FROM documents JOIN c ON documents.lang = c.lang),
f AS (SELECT * FROM d WHERE h < CASE WHEN cnt >= {_QUOTA_PREFILTER_MIN_ROWS}
                                     THEN {_QUOTA_PREFILTER} ELSE {1 << 32} END),
r AS (SELECT doc_id, lang,
        row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
      FROM f)
SELECT doc_id, lang, rk FROM r WHERE rk <= {_QUOTA}
"""


QUERIES: dict[str, QuerySpec] = {
    "pipeline_quota_sample": QuerySpec(pipeline_quota_sample, _QUOTA_SQL),
    "emb_pca_project": QuerySpec(emb_pca_project, None),
    "emb_pca_variance": QuerySpec(emb_pca_variance, _PCA_VAR_SQL),
    "doc_tfidf_topterms": QuerySpec(doc_tfidf_topterms, _TFIDF_SQL),
    "doc_token_stats": QuerySpec(doc_token_stats, _TOKEN_STATS_SQL),
    "doc_lang_id": QuerySpec(doc_lang_id, _LANG_SQL),
    "doc_quality": QuerySpec(doc_quality, _QUALITY_SQL),
    "doc_bpe_tokens": QuerySpec(doc_bpe_tokens, _BPE_SQL),
    "doc_rolling_fingerprint": QuerySpec(doc_rolling_fingerprint, _ROLLING_SQL),
    "dedup_exact": QuerySpec(dedup_exact, _DEDUP_EXACT_SQL),
    "dedup_fingerprint": QuerySpec(dedup_fingerprint, _DEDUP_FP_SQL),
    "dedup_jaccard_bigram": QuerySpec(dedup_jaccard_bigram, _JACCARD_SQL),
    "pipeline_curate": QuerySpec(pipeline_curate, _CURATE_SQL),
    "dedup_ann_pairs": QuerySpec(dedup_ann_pairs, None),
    "dedup_components": QuerySpec(dedup_components, _COMPONENTS_SQL),
    "dedup_groups_full": QuerySpec(dedup_groups_full, None),
    "dedup_minhash_lsh": QuerySpec(dedup_minhash_lsh, None),
    "dedup_simhash": QuerySpec(dedup_simhash, _SIMHASH_SQL),
    "dedup_simhash_pairs": QuerySpec(dedup_simhash_pairs, _SIMHASH_PAIRS_SQL),
    "dedup_embedding": QuerySpec(dedup_embedding, _EMB_NEARDUP_SQL),
    "ann_cosine_topk": QuerySpec(ann_cosine_topk, _ANN_COSINE_SQL),
    "ann_lsh_topk": QuerySpec(ann_lsh_topk, None),
    "ann_quantized_topk": QuerySpec(ann_quantized_topk, _ANN_QUANT_SQL),
    "ann_ivf_topk": QuerySpec(ann_ivf_topk, None),
    "multimodal_decode": QuerySpec(multimodal_decode, None),
    "multimodal_decode_real": QuerySpec(multimodal_decode_real, None),
    "multimodal_meanpool": QuerySpec(multimodal_meanpool, _MM_POOL_SQL),
    "doc_pii_scrub": QuerySpec(doc_pii_scrub, _PII_SQL),
    "doc_gopher_quality": QuerySpec(doc_gopher_quality, _GOPHER_SQL),
    "doc_substring_spans": QuerySpec(doc_substring_spans, _SUBSTR_SQL),
    "pipeline_mix_sample": QuerySpec(pipeline_mix_sample, _MIX_SQL),
    "pipeline_decontaminate": QuerySpec(pipeline_decontaminate, _DECONTAM_SQL),
    "pipeline_decontaminate_semantic": QuerySpec(
        pipeline_decontaminate_semantic, _DECONTAM_SEM_SQL
    ),
    "dedup_semantic": QuerySpec(dedup_semantic, None),
    "ann_range_search": QuerySpec(ann_range_search, _RANGE_SQL),
    "ann_filtered_topk": QuerySpec(ann_filtered_topk, _ANN_FILTERED_SQL),
    "pipeline_pack_sequences": QuerySpec(pipeline_pack_sequences, _PACK_SQL),
    "pipeline_profile": QuerySpec(pipeline_profile, _PROFILE_SQL),
    "multimodal_frame_sample": QuerySpec(multimodal_frame_sample, _FRAME_SAMPLE_SQL),
    "doc_bm25_topk": QuerySpec(doc_bm25_topk, _BM25_SQL),
    "hybrid_rrf_topk": QuerySpec(hybrid_rrf_topk, _RRF_SQL),
    "bpe_pair_counts": QuerySpec(bpe_pair_counts, _BPE_PAIRS_SQL),
    "ann_pq_topk": QuerySpec(ann_pq_topk, None),
    "ann_ivfpq_topk": QuerySpec(ann_ivfpq_topk, None),
    "ann_ivfpq_hier_topk": QuerySpec(ann_ivfpq_hier_topk, None),
    "pipeline_chunk_documents": QuerySpec(pipeline_chunk_documents, _CHUNK_SQL),
    "doc_unigram_logprob": QuerySpec(doc_unigram_logprob, _UNIGRAM_SQL),
    "multimodal_image_features": QuerySpec(multimodal_image_features, _IMG_FEAT_SQL),
    "multimodal_resize": QuerySpec(multimodal_resize, None),
    "multimodal_audio_stats": QuerySpec(multimodal_audio_stats, _AUDIO_STATS_SQL),
    "multimodal_audio_spectral": QuerySpec(multimodal_audio_spectral, None),
    "ann_ivfpq_persisted": QuerySpec(ann_ivfpq_persisted, None),
    "ann_ivfpq_vectors": QuerySpec(ann_ivfpq_vectors, None),
    "pipeline_shard_manifest": QuerySpec(pipeline_shard_manifest, _SHARD_MANIFEST_SQL),
    "emb_outlier_zscore": QuerySpec(emb_outlier_zscore, _EMB_OUTLIER_SQL),
}
