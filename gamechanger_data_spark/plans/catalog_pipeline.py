"""Catalog part 2: training-data-pipeline operators (deduplication,
similarity search, text analysis) over the documents/embeddings tables.

Registered into the same CATALOG as catalog.py (imported from there).
Portable-hash discipline: every hash in a compared result is md5-derived
with explicit hex->int conversion so DuckDB reproduces it bit-exactly;
floats are double-precision end-to-end and rounded to 6dp in outputs.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from gamechanger_data_spark.functions.analysis import (
    lang_id_expr,
    quality_score_expr,
    stopword_ratio_expr,
    token_count_expr,
    fingerprint_expr,
    EN_STOPWORDS,
    TOKEN_REGEX,
)
from gamechanger_data_spark.operators.dedup import (
    exact_dedup,
    jaccard_vs_query,
    minhash_lsh_pairs,
    simhash16,
)
from gamechanger_data_spark.operators.similarity import (
    brute_force_topk,
    cosine_neardup_pairs,
    lsh_bucketed_topk,
    random_hyperplanes,
)
from gamechanger_data_spark.plans.catalog import boosted, load, q

# ---------------------------------------------------------------- SQL helpers

_NORM_SQL = """trim(regexp_replace(
  regexp_replace(
    translate(text,
      chr(8216)||chr(8217)||chr(8218)||chr(8219)||chr(8220)||chr(8221)||chr(8222)||chr(8223)||chr(8211)||chr(8212)||chr(8213)||chr(8722)||chr(160),
      repeat(chr(39),4) || repeat(chr(34),4) || repeat(chr(45),4) || ' '),
    '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
  '\\s+', ' ', 'g'))"""

_TOKS_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"

_SHINGLE3_SQL = f"""CASE WHEN len({_TOKS_SQL}) >= 3
  THEN list_transform(range(len({_TOKS_SQL}) - 2),
       i -> array_to_string(({_TOKS_SQL})[i+1:i+3], ' '))
  ELSE [array_to_string({_TOKS_SQL}, ' ')] END"""

_SHINGLE5_SQL = f"""CASE WHEN len({_TOKS_SQL}) >= 5
  THEN list_transform(range(len({_TOKS_SQL}) - 4),
       i -> array_to_string(({_TOKS_SQL})[i+1:i+5], ' '))
  ELSE [array_to_string({_TOKS_SQL}, ' ')] END"""


def _minhash_sql(i: int) -> str:
    return (
        "list_min(list_transform(sh, s -> "
        f"('0x' || substr(md5('{i}#' || s), 1, 15))::UBIGINT::BIGINT))"
    )


# =====================================================================
# Deduplication suite
# =====================================================================


@q("dedup_exact", f"""
SELECT content_key, CAST(min(doc_id) AS BIGINT) AS canonical_id,
       CAST(count(*) AS BIGINT) AS n_dupes
FROM (SELECT doc_id, sha256({_NORM_SQL}) AS content_key FROM documents)
GROUP BY content_key
""", "exact dedup: sha256(normalized text) hash-groupBy, canonical = min id "
     "(reference version_hash discipline, gc_manual_metadata.py:16-28)")
def dedup_exact_q(spark, sf_dir):
    return exact_dedup(load(spark, sf_dir, "documents"))


_JQ_TOKENS = ["table", "scan", "merge", "batch", "value", "row", "fast", "hash"]

@q("dedup_jaccard_query", f"""
SELECT doc_id, jaccard FROM (
  SELECT doc_id,
         round(len(list_intersect(toks, {_JQ_TOKENS!r}))::DOUBLE
               / len(list_distinct(list_concat(toks, {_JQ_TOKENS!r})))::DOUBLE, 6)
           AS jaccard
  FROM (SELECT doc_id, list_distinct({_TOKS_SQL}) AS toks FROM documents)
) WHERE jaccard >= 0.3
""", "n-gram Jaccard screening vs a query token set (O(n) near-dup screen)")
def dedup_jaccard_query_q(spark, sf_dir):
    return jaccard_vs_query(
        load(spark, sf_dir, "documents"), _JQ_TOKENS, threshold=0.3
    )


_N_HASHES, _BANDS, _RPB = 12, 6, 2
_BAND_SELECTS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band, "
    f"(minhash_{b * _RPB}::VARCHAR || '_' || minhash_{b * _RPB + 1}::VARCHAR) AS band_key "
    "FROM sig"
    for b in range(_BANDS)
)
_MINHASH_COLS = ",\n       ".join(
    f"{_minhash_sql(i)} AS minhash_{i}" for i in range(_N_HASHES)
)

@q("dedup_minhash_lsh", f"""
WITH sh_t AS (
  SELECT doc_id, list_distinct({_SHINGLE3_SQL}) AS sh FROM documents
),
sig AS (
  SELECT doc_id,
       {_MINHASH_COLS}
  FROM sh_t
),
banded AS (
{_BAND_SELECTS}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
""", "MinHash(12)+LSH(6 bands x 2) near-dup candidate pairs over 3-gram "
     "shingles; md5-derived portable signatures")
def dedup_minhash_lsh_q(spark, sf_dir):
    # caps pinned to None: this catalog entry is the UNCAPPED textbook
    # banding whose oracle SQL computes full shingle sets; the safe capped
    # defaults are exercised (and oracled) by dedup_minhash_verified
    return minhash_lsh_pairs(
        boosted(load(spark, sf_dir, "documents")),
        n_hashes=_N_HASHES, bands=_BANDS,
        max_shingles=None, max_bucket=None,
    )


# verified variant: capped shingles (lex-smallest 512), bucket-size cap 64,
# exact-Jaccard confirmation at 0.4 — the complete LSH pipeline
_MH_CAP, _MH_BUCKET_CAP, _MH_THRESH = 512, 64, 0.4
_CAPPED_SH_SQL = f"list_sort(list_distinct({_SHINGLE3_SQL}))[1:{_MH_CAP}]"
_V_BAND_SELECTS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band, "
    f"(minhash_{b * _RPB}::VARCHAR || '_' || minhash_{b * _RPB + 1}::VARCHAR) AS band_key "
    "FROM sig"
    for b in range(_BANDS)
)

_VERIFIED_PAIRS_SQL = f"""
WITH sh_t AS (
  SELECT doc_id, {_CAPPED_SH_SQL} AS sh FROM documents
),
sig AS (
  SELECT doc_id,
       {_MINHASH_COLS}
  FROM sh_t
),
banded AS (
{_V_BAND_SELECTS}
),
sized AS (SELECT band, band_key, count(*) AS c FROM banded GROUP BY 1, 2),
kept AS (
  SELECT b.doc_id, b.band, b.band_key FROM banded b
  JOIN sized s ON b.band = s.band AND b.band_key = s.band_key
  WHERE s.c <= {_MH_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, jaccard FROM (
  SELECT c.id_a, c.id_b,
         round(len(list_intersect(x.sh, y.sh))::DOUBLE
               / len(list_distinct(list_concat(x.sh, y.sh)))::DOUBLE, 6) AS jaccard
  FROM cand c
  JOIN sh_t x ON c.id_a = x.doc_id
  JOIN sh_t y ON c.id_b = y.doc_id
) WHERE jaccard >= {_MH_THRESH}
"""


@q("dedup_minhash_verified", _VERIFIED_PAIRS_SQL,
   "MinHash LSH with the full pipeline: capped shingle sets, "
   "bucket-size skew cap, exact-Jaccard candidate VERIFICATION — emits "
   "confirmed near-dup pairs, not raw band collisions")
def dedup_minhash_verified_q(spark, sf_dir):
    from gamechanger_data_spark.operators.dedup import minhash_lsh_verified

    return minhash_lsh_verified(
        boosted(load(spark, sf_dir, "documents")),
        n_hashes=_N_HASHES, bands=_BANDS, threshold=_MH_THRESH,
        max_shingles=_MH_CAP, max_bucket=_MH_BUCKET_CAP,
    )


@q("dedup_clusters", f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_VERIFIED_PAIRS_SQL})
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u)
SELECT d.doc_id,
       coalesce(least(c.mn, d.doc_id), d.doc_id) AS cluster_id,
       coalesce(least(c.mn, d.doc_id), d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
""", "near-dup CLUSTERS from verified minhash pairs via connected "
     "components (iterative min-label propagation + pointer jumping, "
     "operators/graph.py) — every doc gets its component's min id as "
     "cluster_id and `keep` marks the canonical representative; the "
     "oracle recomputes components with a recursive transitive closure")
def dedup_clusters_q(spark, sf_dir):
    from gamechanger_data_spark.operators.dedup import minhash_lsh_verified
    from gamechanger_data_spark.operators.graph import dedup_cluster_assignments

    docs = boosted(load(spark, sf_dir, "documents"))
    pairs = minhash_lsh_verified(
        docs, n_hashes=_N_HASHES, bands=_BANDS, threshold=_MH_THRESH,
        max_shingles=_MH_CAP, max_bucket=_MH_BUCKET_CAP,
    )
    return dedup_cluster_assignments(docs, pairs)


from gamechanger_data_spark.operators.sampling import (  # noqa: E402
    hash_bucket60_sql as _hb_sql,
    split_assign_sql as _split_sql,
    threshold as _hash_threshold,
)


@q("export_shard_checksums", f"""
SELECT shard, CAST(count(*) AS BIGINT) AS rows,
       CAST(bit_xor(h) AS BIGINT) AS checksum
FROM (
  SELECT CAST({_hb_sql('doc_id')} % 16 AS INT) AS shard,
         CAST({_hb_sql('doc_id')} AS BIGINT) AS h
  FROM documents
)
GROUP BY shard
""", "training-shard export audit: deterministic hash-mod shard "
     "assignment + per-shard order-independent XOR checksum — the "
     "manifest half of sinks/export.py export_shards, reproduced "
     "bit-exactly by an external engine")
def export_shard_checksums_q(spark, sf_dir):
    from gamechanger_data_spark.sinks.export import shard_checksums

    return shard_checksums(load(spark, sf_dir, "documents"), "doc_id", 16)


_PACK_BUDGET = 512


@q("pack_sequences", f"""
WITH d AS (
  SELECT doc_id,
         CAST({_hb_sql('doc_id')} % 8 AS INT) AS shard,
         CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS BIGINT) AS n
  FROM documents
),
c AS (
  SELECT doc_id, shard, n,
         sum(n) OVER (PARTITION BY shard ORDER BY doc_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM d
)
SELECT doc_id, shard,
       CAST(cum - n AS BIGINT) AS tok_offset,
       CAST((cum - n) // {_PACK_BUDGET} AS BIGINT) AS chunk_first,
       CAST((CASE WHEN n > 0 THEN cum - 1 ELSE cum - n END) // {_PACK_BUDGET}
            AS BIGINT) AS chunk_last,
       ((cum - n) // {_PACK_BUDGET})
         <> ((CASE WHEN n > 0 THEN cum - 1 ELSE cum - n END) // {_PACK_BUDGET})
         AS spans_chunks
FROM c
""", "GPT-style sequence packing assignment: docs concatenated per shard "
     "in key order and chunked at a fixed token budget (docs may span "
     "chunks) — per-shard prefix sums, no global window bottleneck; the "
     "whole layout is reproducible from the key column")
def pack_sequences_q(spark, sf_dir):
    from gamechanger_data_spark.sinks.export import pack_offsets

    d = load(spark, sf_dir, "documents").select(
        "doc_id", token_count_expr("text").alias("n_tokens")
    )
    return pack_offsets(d, seq_budget=_PACK_BUDGET, n_shards=8)


@q("deterministic_sample", f"""
SELECT doc_id, text FROM documents
WHERE {_hb_sql('doc_id')} < {_hash_threshold(0.2)}
""", "deterministic hash-threshold sampling (operators/sampling.py): "
     "membership is a pure function of the key — stable across runs, "
     "engines, partitionings, and appends, unlike DataFrame.sample; "
     "integer-domain threshold, portable md5-60bit hash")
def deterministic_sample_q(spark, sf_dir):
    from gamechanger_data_spark.operators.sampling import sample_by_hash

    return sample_by_hash(
        load(spark, sf_dir, "documents").select("doc_id", "text"), 0.2, "doc_id"
    )


from gamechanger_data_spark.operators.sampling import (  # noqa: E402
    stratified_sample_sql as _strat_sql,
)

_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.1}


@q("stratified_mixture_sample", f"""
SELECT doc_id, source FROM documents
WHERE {_strat_sql(_MIX_RATES, 'source', 'doc_id', default_rate=0.25)}
""", "mixture balancing: per-group deterministic hash sampling (keep all "
     "of src0, half of src1, 10% of src2, 25% elsewhere) — one codegen "
     "CASE over one md5, zero shuffle, membership monotone in the rate")
def stratified_mixture_sample_q(spark, sf_dir):
    from gamechanger_data_spark.operators.sampling import (
        stratified_sample_by_hash,
    )

    return stratified_sample_by_hash(
        load(spark, sf_dir, "documents").select("doc_id", "source"),
        _MIX_RATES, "source", "doc_id", default_rate=0.25,
    )


@q("train_val_test_split", f"""
SELECT doc_id, {_split_sql('doc_id')} AS split FROM documents
""", "deterministic 80/10/10 train/val/test assignment from cumulative "
     "hash thresholds — a key keeps its split forever (append-stable), "
     "disjointness and coverage structural")
def train_val_test_split_q(spark, sf_dir):
    from gamechanger_data_spark.operators.sampling import split_assign

    return split_assign(
        load(spark, sf_dir, "documents").select("doc_id"), "doc_id"
    )


@q("decontaminate_ngram", f"""
WITH probe AS (
  SELECT DISTINCT unnest({_SHINGLE3_SQL}) AS sh FROM documents WHERE doc_id < 5
),
doc_sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLE3_SQL})) AS sh FROM documents
),
hits AS (
  SELECT doc_id, CAST(count(DISTINCT d.sh) AS BIGINT) AS n_hits
  FROM doc_sh d JOIN probe p ON d.sh = p.sh GROUP BY doc_id
)
SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) >= 2 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
""", "benchmark decontamination: flag corpus docs sharing >=2 distinct "
     "3-gram shingles with any probe (eval-set) doc — probe shingles "
     "BROADCAST, corpus never shuffles (probe set here: doc_id < 5, a "
     "deterministic stand-in for an external eval set)")
def decontaminate_ngram_q(spark, sf_dir):
    from gamechanger_data_spark.operators.dedup import ngram_contamination

    docs = boosted(load(spark, sf_dir, "documents"))
    return ngram_contamination(docs, docs.filter(F.col("doc_id") < 5))


_SHINGLE2_SQL = f"""CASE WHEN len({_TOKS_SQL}) >= 2
  THEN list_transform(range(len({_TOKS_SQL}) - 1),
       i -> array_to_string(({_TOKS_SQL})[i+1:i+2], ' '))
  ELSE [array_to_string({_TOKS_SQL}, ' ')] END"""

_DUP_FRAC_SQL = (
    "round(coalesce(sum(CASE WHEN c >= 2 THEN c * length(g) END)::DOUBLE"
    " / sum(c * length(g))::DOUBLE, 0), 6)"
)


@q("repetition_quality", f"""
WITH tc AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS g FROM documents) GROUP BY 1, 2
),
tf AS (SELECT doc_id, {_DUP_FRAC_SQL} AS dup_token_frac FROM tc GROUP BY 1),
c2 AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id, unnest({_SHINGLE2_SQL}) AS g FROM documents) GROUP BY 1, 2
),
f2 AS (SELECT doc_id, {_DUP_FRAC_SQL} AS dup_2gram_frac FROM c2 GROUP BY 1),
c3 AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id, unnest({_SHINGLE3_SQL}) AS g FROM documents) GROUP BY 1, 2
),
f3 AS (SELECT doc_id, {_DUP_FRAC_SQL} AS dup_3gram_frac FROM c3 GROUP BY 1)
SELECT d.doc_id,
       coalesce(tf.dup_token_frac, 0) AS dup_token_frac,
       coalesce(f2.dup_2gram_frac, 0) AS dup_2gram_frac,
       coalesce(f3.dup_3gram_frac, 0) AS dup_3gram_frac,
       coalesce(tf.dup_token_frac, 0) > 0.30
         OR coalesce(f2.dup_2gram_frac, 0) > 0.20
         OR coalesce(f3.dup_3gram_frac, 0) > 0.18 AS flagged
FROM documents d
LEFT JOIN tf ON d.doc_id = tf.doc_id
LEFT JOIN f2 ON d.doc_id = f2.doc_id
LEFT JOIN f3 ON d.doc_id = f3.doc_id
""", "Gopher-style repetition filters (duplicated-token fraction + "
     "duplicated 2/3-gram character fractions, Rae et al. 2021 A1.1): "
     "three map-side-combined gram counts joined on the doc key, "
     "flagged above the published-style thresholds")
def repetition_quality_q(spark, sf_dir):
    from gamechanger_data_spark.functions.analysis import repetition_metrics

    return repetition_metrics(boosted(load(spark, sf_dir, "documents")))


from gamechanger_data_spark.functions.pii import pii_oracle_sql as _pii_sql  # noqa: E402

_PII_INJECT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com"
    " ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' call (' || CAST(200 + doc_id % 700 AS VARCHAR) || ') 555-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


@q("pii_scrub", f"""
WITH injected AS (SELECT doc_id, {_PII_INJECT_SQL} AS text FROM documents)
{_pii_sql('injected', 'text')}
""", "PII redaction pass (emails/SSNs/US phones -> placeholders, per-class "
     "audit counts; portable regexes shared with the oracle verbatim). The "
     "synthetic docs carry no PII, so BOTH sides first inject a "
     "deterministic email+ssn+phone per doc — the publisher pattern: the "
     "operator under test is the scrub")
def pii_scrub_q(spark, sf_dir):
    from gamechanger_data_spark.functions.pii import scrub_pii

    d = boosted(load(spark, sf_dir, "documents")).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com ssn 123-45-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" call ("),
            (F.lit(200) + F.col("doc_id") % 700).cast("string"),
            F.lit(") 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return scrub_pii(d)


@q("dedup_simhash", f"""
WITH t AS (
  SELECT doc_id, unnest(list_distinct({_TOKS_SQL})) AS tok FROM documents
),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 4))::INT AS h FROM t),
b AS (SELECT doc_id, h, unnest(range(16)) AS bit FROM h),
v AS (SELECT doc_id, bit,
             SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM b GROUP BY doc_id, bit)
SELECT doc_id,
       CAST(SUM(CASE WHEN v > 0 THEN (1::INT << bit) ELSE 0 END) AS INT) AS simhash
FROM v GROUP BY doc_id
""", "16-bit SimHash per doc (md5-bit votes over distinct unigrams)")
def dedup_simhash_q(spark, sf_dir):
    return simhash16(load(spark, sf_dir, "documents"))


@q("embedding_neardup", """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
         AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.vec_id < b.vec_id AND a.vec_id < 300 AND b.vec_id < 300
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.2
""", "embedding-cosine near-dup pairs (exact all-pairs form, id-capped; "
     "scale path = LSH blocking)")
def embedding_neardup_q(spark, sf_dir):
    # exact=True: the id-capped all-pairs exactness baseline; the default
    # (LSH-blocked) scale path is the embedding_neardup_lsh entry below
    return cosine_neardup_pairs(
        boosted(load(spark, sf_dir, "embeddings")), threshold=0.2, max_id=300,
        exact=True,
    )


# =====================================================================
# Similarity search
# =====================================================================

_ANN_SQL = """
WITH qs AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT qs.q_id, v.vec_id,
         list_cosine_similarity(v.embedding::DOUBLE[], qs.q_vec::DOUBLE[]) AS cos
  FROM embeddings v CROSS JOIN qs
),
ranked AS (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT q_id, vec_id, round(cos, 6) AS cos_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""


@q("ann_topk_cosine", _ANN_SQL,
   "brute-force cosine top-10 per query vector (exact ANN baseline; "
   "queries broadcast, corpus never shuffles)")
def ann_topk_cosine_q(spark, sf_dir):
    emb = boosted(load(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = brute_force_topk(emb, queries, k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


_PLANES = random_hyperplanes(dim=64, n_planes=4, seed=42)
_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {plane!r}::DOUBLE[]) > 0 "
    f"THEN {1 << p} ELSE 0 END)"
    for p, plane in enumerate(_PLANES)
)

_ANN_LSH_SQL = f"""
WITH v AS (SELECT vec_id, embedding, ({_BUCKET_SQL}) AS bucket FROM embeddings),
qs AS (
  SELECT vec_id AS q_id, embedding AS q_vec,
         ({_BUCKET_SQL}) AS bucket
  FROM embeddings WHERE vec_id < 5
),
scored AS (
  SELECT qs.q_id, v.vec_id,
         list_cosine_similarity(v.embedding::DOUBLE[], qs.q_vec::DOUBLE[]) AS cos
  FROM v JOIN qs ON v.bucket = qs.bucket
),
ranked AS (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT q_id, vec_id, round(cos, 6) AS cos_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""


@q("ann_lsh_bucketed", _ANN_LSH_SQL,
   "LSH-bucketed ANN: seeded random-hyperplane sign buckets prune the "
   "corpus before scoring (the 10^10-vector scale path)")
def ann_lsh_bucketed_q(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = lsh_bucketed_topk(emb, queries, k=10, n_planes=4, dim=64, seed=42)
    return out.withColumn("rank", F.col("rank").cast("long"))


from gamechanger_data_spark.operators.similarity import probe_masks as _probe_masks

_PLANES8 = random_hyperplanes(dim=64, n_planes=8, seed=42)
_BUCKET8_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {plane!r}::DOUBLE[]) > 0 "
    f"THEN {1 << p} ELSE 0 END)"
    for p, plane in enumerate(_PLANES8)
)
_MASKS_8_2 = _probe_masks(8, 2)  # 37 probes: Hamming<=2 of the home bucket
_PROBE_LIST_SQL = "[" + ", ".join(f"xor(bucket, {m})" for m in _MASKS_8_2) + "]"

_ANN_MP_SQL = f"""
WITH v AS (SELECT vec_id, embedding, ({_BUCKET8_SQL}) AS bucket FROM embeddings),
qs AS (
  SELECT vec_id AS q_id, embedding AS q_vec, ({_BUCKET8_SQL}) AS bucket
  FROM embeddings WHERE vec_id < 5
),
qe AS (SELECT q_id, q_vec, unnest({_PROBE_LIST_SQL}) AS pb FROM qs),
scored AS (
  SELECT DISTINCT qe.q_id, v.vec_id,
         list_cosine_similarity(v.embedding::DOUBLE[], qe.q_vec::DOUBLE[]) AS cos
  FROM v JOIN qe ON v.bucket = qe.pb
),
ranked AS (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT q_id, vec_id, round(cos, 6) AS cos_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""


@q("ann_lsh_multiprobe", _ANN_MP_SQL,
   "multi-probe LSH ANN: 8 hyperplanes, Hamming<=2 probe expansion (37 "
   "buckets of 256) — the recall-recovery path measured in "
   "tests/test_ann_recall.py (planted near-dup recall 1.0)")
def ann_lsh_multiprobe_q(spark, sf_dir):
    from gamechanger_data_spark.operators.similarity import lsh_bucketed_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = lsh_bucketed_topk(
        emb, queries, k=10, n_planes=8, dim=64, seed=42, probe_hamming=2
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


from gamechanger_data_spark.operators.clustering import (  # noqa: E402
    kmeans_chain_sql as _kmeans_chain,
    sqdist_sql as _sqdist_sql,
)

_IVF_CELLS, _IVF_PROBE, _IVF_ITERS = 8, 3, 2
_IVF_CHAIN, _IVF_FINAL = _kmeans_chain("embeddings", k=_IVF_CELLS,
                                       iters=_IVF_ITERS)

_ANN_IVF_SQL = f"""
WITH {_IVF_CHAIN}cells AS (
  SELECT pid, cl FROM (
    SELECT p.pid, c.cl,
           row_number() OVER (PARTITION BY p.pid
                              ORDER BY {_sqdist_sql()}, c.cl) AS rn
    FROM pts p CROSS JOIN {_IVF_FINAL} c
  ) WHERE rn = 1
),
qp AS (
  SELECT vec_id AS q_id, embedding AS q_vec,
         list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings WHERE vec_id < 5
),
probes AS (
  SELECT q_id, q_vec, cl FROM (
    SELECT q.q_id, q.q_vec, c.cl,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_sqdist_sql('q', 'c')}, c.cl) AS rn
    FROM qp q CROSS JOIN {_IVF_FINAL} c
  ) WHERE rn <= {_IVF_PROBE}
),
ivf_scored AS (
  SELECT pr.q_id, e.vec_id,
         list_cosine_similarity(e.embedding::DOUBLE[], pr.q_vec::DOUBLE[]) AS cos
  FROM cells s
  JOIN embeddings e ON s.pid = e.vec_id
  JOIN probes pr ON s.cl = pr.cl
),
ivf_ranked AS (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM ivf_scored
)
SELECT q_id, vec_id, round(cos, 6) AS cos_sim, CAST(rank AS BIGINT) AS rank
FROM ivf_ranked WHERE rank <= 10
"""


@q("ann_ivf_topk", _ANN_IVF_SQL,
   "IVF ANN: coarse k-means quantizer (8 cells, deterministic seeding) "
   "partitions the corpus; each query probes its 3 nearest cells and "
   "scores exact cosine inside them — the learned-partition scale path "
   "next to the sign-plane LSH variants (FAISS IVF layout)")
def ann_ivf_topk_q(spark, sf_dir):
    from gamechanger_data_spark.operators.similarity import ann_ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = ann_ivf_topk(emb, queries, k=10, n_cells=_IVF_CELLS,
                       n_probe=_IVF_PROBE, train_iters=_IVF_ITERS)
    return out.withColumn("rank", F.col("rank").cast("long"))


_ND_MASKS = _probe_masks(4, 1)  # [0, 1, 2, 4, 8]
_ND_PROBES_SQL = "[" + ", ".join(f"xor(bucket, {m})" for m in _ND_MASKS) + "]"

@q("embedding_neardup_lsh", f"""
WITH v AS (SELECT vec_id, embedding, ({_BUCKET_SQL}) AS bucket FROM embeddings),
e AS (SELECT vec_id, unnest({_ND_PROBES_SQL}) AS pb FROM v),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN v b ON a.pb = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos_sim FROM (
  SELECT c.id_a, c.id_b,
         round(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 6)
           AS cos_sim
  FROM cand c
  JOIN embeddings x ON c.id_a = x.vec_id
  JOIN embeddings y ON c.id_b = y.vec_id
) WHERE cos_sim >= 0.2
""", "embedding near-dup pairs, LSH-BLOCKED (the default scale path: "
     "candidate degree = bucket size + Hamming-1 probes, never N; the "
     "capped all-pairs form is the exactness baseline embedding_neardup)")
def embedding_neardup_lsh_q(spark, sf_dir):
    return cosine_neardup_pairs(
        load(spark, sf_dir, "embeddings"), threshold=0.2,
        n_planes=4, probe_hamming=1,
    )


# =====================================================================
# Text analysis
# =====================================================================

_STOPS_SQL = repr(EN_STOPWORDS)


@q("lang_id_heuristic", f"""
SELECT doc_id,
       CASE WHEN (CASE WHEN len({_TOKS_SQL}) > 0
                  THEN len(list_filter({_TOKS_SQL},
                        t -> list_contains({_STOPS_SQL}, lower(t))))::DOUBLE
                       / len({_TOKS_SQL})::DOUBLE
                  ELSE 0.0 END) >= 0.08
            THEN 'en' ELSE 'other' END AS lang_pred
FROM documents
""", "n-gram/stopword-ratio language ID heuristic (model-free)")
def lang_id_q(spark, sf_dir):
    return load(spark, sf_dir, "documents").select(
        "doc_id", lang_id_expr("text").alias("lang_pred")
    )


@q("quality_score", f"""
SELECT doc_id,
  round(
    0.4 * least(1.0, len({_TOKS_SQL})::DOUBLE / 50.0)
    + 0.4 * (CASE WHEN len({_TOKS_SQL}) > 0
             THEN len(list_distinct({_TOKS_SQL}))::DOUBLE / len({_TOKS_SQL})::DOUBLE
             ELSE 0.0 END)
    + 0.2 * (1.0 - (CASE WHEN length(text) > 0
             THEN (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE
                  / length(text)::DOUBLE
             ELSE 0.0 END)),
  6) AS quality
FROM documents
""", "document quality score: length credit + distinct-token ratio + "
     "punctuation-noise penalty")
def quality_score_q(spark, sf_dir):
    return load(spark, sf_dir, "documents").select(
        "doc_id", quality_score_expr("text").alias("quality")
    )


@q("token_count_bpe", f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS INT) AS n_tokens
FROM documents
""", "BPE-ish regex token count (lowercase runs / capitalized runs / digit "
     "runs / single punctuation)")
def token_count_q(spark, sf_dir):
    return load(spark, sf_dir, "documents").select(
        "doc_id", token_count_expr("text").alias("n_tokens")
    )


@q("doc_fingerprint", f"""
SELECT doc_id, list_min(list_transform({_SHINGLE5_SQL}, s -> md5(s))) AS fingerprint
FROM documents
""", "document fingerprint: min-md5 over 5-gram shingles (rolling-hash / "
     "winnowing reduced to doc-window)")
def doc_fingerprint_q(spark, sf_dir):
    return boosted(load(spark, sf_dir, "documents")).select(
        "doc_id", fingerprint_expr("text", 5).alias("fingerprint")
    )


@q("stopword_ratio", f"""
SELECT doc_id,
       round(CASE WHEN len({_TOKS_SQL}) > 0
             THEN len(list_filter({_TOKS_SQL},
                   t -> list_contains({_STOPS_SQL}, lower(t))))::DOUBLE
                  / len({_TOKS_SQL})::DOUBLE
             ELSE 0.0 END, 6) AS stop_ratio
FROM documents
""", "stopword-ratio quality signal (component of lang-ID and quality score)")
def stopword_ratio_q(spark, sf_dir):
    return load(spark, sf_dir, "documents").select(
        "doc_id", F.round(stopword_ratio_expr("text"), 6).alias("stop_ratio")
    )


_TERMS_SQL = "regexp_extract_all(lower(text), '[a-z]+')"


@q("corpus_datasheet", f"""
WITH toks AS (
  SELECT doc_id, unnest({_TERMS_SQL}) AS term FROM documents
),
d AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         round(avg(length(text)), 6) AS avg_chars
  FROM documents
),
t AS (
  SELECT CAST(count(*) AS BIGINT) AS n_terms,
         CAST(count(DISTINCT term) AS BIGINT) AS vocab_size
  FROM toks
)
SELECT n_docs, avg_chars, n_terms, vocab_size,
       round(vocab_size::DOUBLE / n_terms::DOUBLE, 6) AS type_token_ratio
FROM d, t
""", "dataset datasheet: one-row corpus summary (doc count, mean length, "
     "term count, vocabulary size, type-token ratio) — two "
     "partial-combining aggregates cross-joined, the audit header of a "
     "training-data release")
def corpus_datasheet_q(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    from gamechanger_data_spark.functions.analysis import terms_expr

    toks = docs.select(F.explode(terms_expr("text")).alias("term"))
    d = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.length("text")), 6).alias("avg_chars"),
    )
    t = toks.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.count_distinct("term").alias("vocab_size"),
    )
    return d.crossJoin(t).withColumn(
        "type_token_ratio",
        F.round(F.col("vocab_size").cast("double") / F.col("n_terms").cast("double"), 6),
    )


@q("tfidf_topk_terms", f"""
WITH toks AS (
  SELECT doc_id, unnest({_TERMS_SQL}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
idf AS (
  SELECT term,
         ln((SELECT count(DISTINCT doc_id) + 1 FROM documents)::DOUBLE
            / (count(*) + 1)) + 1.0 AS idf
  FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, tf.tf * idf.idf AS score,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf * idf.idf DESC, tf.term ASC) AS rnk
  FROM tf JOIN idf USING (term)
)
SELECT doc_id, CAST(rnk AS INT) AS rank, term,
       CAST(tf AS BIGINT) AS tf, round(score, 6) AS score
FROM scored WHERE rnk <= 5
""", "corpus TF-IDF keyword extraction, top-5 terms per doc (upgrades the "
     "reference's frequency-only keywords, "
     "common/document_parser/lib/keywords.py)")
def tfidf_topk_q(spark, sf_dir):
    from gamechanger_data_spark.functions.analysis import tfidf_topk

    return tfidf_topk(load(spark, sf_dir, "documents"), k=5)


@q("unigram_surprise", f"""
WITH toks AS (
  SELECT doc_id, unnest({_TERMS_SQL}) AS term FROM documents
),
counts AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
tot AS (SELECT sum(c)::DOUBLE AS T, count(*)::DOUBLE AS V FROM counts),
probs AS (SELECT term, -ln((c + 1.0) / (T + V)) AS nlp FROM counts, tot)
SELECT doc_id, round(avg(nlp), 6) AS surprise
FROM toks JOIN probs USING (term) GROUP BY doc_id
""", "model-free perplexity proxy: mean negative log-prob under the "
     "corpus's own add-one unigram LM (CCNet-style cheap quality screen)")
def unigram_surprise_q(spark, sf_dir):
    from gamechanger_data_spark.functions.analysis import unigram_surprise

    return unigram_surprise(load(spark, sf_dir, "documents"))


# =====================================================================
# Multimodal plumbing — HASH-checked against DuckDB over a published
# parquet copy of the synthetic corpus. The decode step is still stubbed
# (no codecs in the container), but its deterministic fallback contract
# (dims from payload bytes, decoded=false) is a pure function the oracle
# recomputes from publisher-provided byte columns; payload_sha256 stays
# covered by local tests only (DuckDB cannot hash BLOBs).
# =====================================================================

_MEDIA_ROOT = "/tmp/gcspark_media_oracle_v1"
_MEDIA_PQ = os.path.join(_MEDIA_ROOT, "media.parquet")


def _ensure_media_corpus() -> str:
    from gamechanger_data_spark.multimodal import publish_media_corpus

    return publish_media_corpus(_MEDIA_ROOT, n=200, seed=42)


try:  # publish at import so the oracle side can run first (same pattern
    # as the replay feed; consumers re-invoke and surface real errors)
    _ensure_media_corpus()
except Exception:  # noqa: BLE001  # pragma: no cover - trivial guard
    pass


@q("multimodal_features", f"""
SELECT media_id, media_type,
       CAST(octet_length(payload) AS BIGINT) AS n_bytes,
       CAST(32 + first_byte % 224 AS INTEGER) AS width,
       CAST(32 + last_byte % 224 AS INTEGER) AS height,
       FALSE AS decoded
FROM read_parquet('{_MEDIA_PQ}')
""", "binary media columns -> Arrow mapInPandas feature extraction; the "
     "no-codec fallback dims + n_bytes are hash-checked (Spark derives "
     "them from the BINARY column via the real mapInPandas path, DuckDB "
     "from publisher byte columns); sha256 covered by local tests")
def multimodal_features_q(spark, sf_dir):
    from gamechanger_data_spark.multimodal import extract_features

    media = spark.read.parquet(_ensure_media_corpus())
    return extract_features(media).select(
        "media_id", "media_type", "n_bytes", "width", "height", "decoded"
    )


@q("multimodal_frame_sample", f"""
SELECT media_id, CAST(g AS INTEGER) AS frame_idx
FROM (
  SELECT media_id,
         unnest(range(0, (octet_length(payload) // 1024) + 1, 10)) AS g
  FROM read_parquet('{_MEDIA_PQ}')
  WHERE media_type = 'video'
)
""", "video frame-sampling plan: explode target frame indices per media "
     "row (sequence step 10 over the fake frame count len/1024+1)")
def multimodal_frame_sample_q(spark, sf_dir):
    from gamechanger_data_spark.multimodal import frame_sample_plan

    media = spark.read.parquet(_ensure_media_corpus())
    return frame_sample_plan(media, every_n=10)


# =====================================================================
# Publish projection, ref extraction, renumbering, time windows
# =====================================================================


@q("es_publish_projection", """
SELECT doc_id,
       sha256('doc_' || CAST(doc_id AS VARCHAR)) AS es_id,
       lang AS lang_s, source AS source_s, n_chars AS n_chars_i
FROM documents
""", "S11/P2/F11: the publish projection — deterministic sink id "
     "sha256(filename minus .json), suffix-typed renames, heavy text column "
     "dropped (gc_elasticsearch_publisher.py:79-100)")
def es_publish_projection_q(spark, sf_dir):
    from gamechanger_data_spark.functions.hashing import es_id_expr

    d = load(spark, sf_dir, "documents")
    filename = F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit(".json"))
    return d.select(
        "doc_id",
        es_id_expr(filename).alias("es_id"),
        F.col("lang").alias("lang_s"),
        F.col("source").alias("source_s"),
        F.col("n_chars").alias("n_chars_i"),
    )


# ---- F4 at reference breadth: the full config-driven citation dictionary
# (functions/refs.py, ~55 patterns with capture contracts + numeric guards,
# re-expressing ref_utils.py:31-1228 + ref_list.py:10-86). The synthetic
# corpus contains no citations, so both sides deterministically prepend a
# doc_id-derived citation sentence — this exercises real matches, multi-hit
# docs, the preprocess chain (en dash, parens), and BOTH guard edges
# (Title 0 and 54-59 are generated and must be rejected).

def _inject_case(cast_fmt: str) -> str:
    n60 = cast_fmt.format("doc_id % 60")
    return (
        "CASE CAST(doc_id % 6 AS INT) "
        "WHEN 0 THEN 'Per DoD Directive 5000.01 and Title ' || " + n60 + " || ', U.S.C.' "
        "WHEN 1 THEN 'IAW DoD Instruction 8500.01, see EO 13526 and 32 CFR' "
        "WHEN 2 THEN 'Ref: CJCSI 3170.01H, JP 3-0, DTM 17-007' "
        "WHEN 3 THEN 'See AFI 36-2903 and AR 25-2 (Change 2)' "
        "WHEN 4 THEN 'Under 10 U.S.C. and OMB Memorandum M-19-21; MCO 5215.1K' "
        "ELSE 'Notes – SECNAVINST 5210.8, ICD 203, Public Law 115-232' END"
    )


def _refs_sql() -> str:
    from gamechanger_data_spark.functions.refs import refs_oracle_sql

    inject = _inject_case("CAST({} AS VARCHAR)")
    src = f"(SELECT {inject} || ' ' || text AS text FROM documents) AS d"
    return refs_oracle_sql(src)


@q("ref_extract_dictionary", _refs_sql(),
   "F4 at breadth: full citation-pattern dictionary (single-capture "
   "contract, Title<=53 / CFR<=50 guards, preprocess chain) -> per-ref "
   "occurrence counts; one codegen projection, no UDFs "
   "(ref_utils.py:31-1228, ref_list.py:10-86)")
def ref_extract_dictionary_q(spark, sf_dir):
    from gamechanger_data_spark.functions.refs import count_refs

    inject = _inject_case("CAST({} AS STRING)")
    # boosted() here cuts DRIVER-side plan optimization, not just the
    # serial scan: without the exchange barrier the 126-pattern projection
    # is analyzed against the scan for pushdown and the optimizer spends
    # ~17 s on the expression forest; with it, first collect drops to
    # ~4 s and execution is unchanged (measured, /tmp/mb_refs decomposition
    # in OPTIMIZATION_r08.md).
    d = boosted(load(spark, sf_dir, "documents")).select(
        F.expr(f"{inject} || ' ' || text").alias("text")
    )
    return count_refs(d)


_REF_PATTERN = "(?:table|scan|merge|join) [a-z]+"

@q("ref_count_map", f"""
SELECT ref, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest(regexp_extract_all(text, '{_REF_PATTERN}')) AS ref FROM documents)
GROUP BY ref
""", "F4/A8: reference-extraction regex dictionary + occurrence counts "
     "(common/document_parser/ref_utils.py:31-1228 single-capture contract, "
     "lib/ref_list.py:58-80 ref_dict counting) — one combined pattern, one pass")
def ref_count_map_q(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.regexp_extract_all("text", F.lit(_REF_PATTERN), 0)).alias("ref"))
        .groupBy("ref")
        .agg(F.count("*").alias("n"))
    )


@q("turn_renumber", """
SELECT event_id, user_id,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS INT)
         AS turn_no
FROM events
""", "A7: running per-key counters (page_count / par_inc_count, "
     "lib/pages.py:16, document.py:102-128) as a ranking window")
def turn_renumber_q(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return load(spark, sf_dir, "events").select(
        "event_id", "user_id", F.row_number().over(w).cast("int").alias("turn_no")
    )


@q("tumbling_window_counts", """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2
""", "streaming-analog tumbling window aggregation (batch form of "
     "window(ts, '1 hour'); the streaming driver uses the same expression "
     "under availableNow triggers)")
def tumbling_window_counts_q(spark, sf_dir):
    return (
        load(spark, sf_dir, "events")
        .groupBy(
            F.window("ts", "1 hour").start.alias("window_start"), "event_type"
        )
        .agg(F.count("*").alias("n"))
    )


_ALIAS_MAP = {"click": "interaction", "view": "interaction",
              "purchase": "conversion", "signup": "conversion",
              "error": "fault"}
_ALIAS_CASE = "CASE " + " ".join(
    f"WHEN event_type = '{k}' THEN '{v}'" for k, v in _ALIAS_MAP.items()
) + " ELSE event_type END"

@q("alias_resolution", f"""
SELECT event_id, {_ALIAS_CASE} AS event_class FROM events
""", "J8: entity alias resolution via broadcast map lookup "
     "(gc_neo4j_publisher/neo4j_publisher.py:370-381 hash-map lookup)")
def alias_resolution_q(spark, sf_dir):
    mapping = F.create_map(*[F.lit(x) for kv in _ALIAS_MAP.items() for x in kv])
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.coalesce(
            F.element_at(mapping, F.col("event_type")), F.col("event_type")
        ).alias("event_class"),
    )


# =====================================================================
# Beyond-reference analytic breadth: rollup, pivot, percentiles,
# sessionization, as-of composition, approximate ops
# =====================================================================


@q("rollup_order_counts", """
SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_totalprice) AS DOUBLE) AS revenue
FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
""", "hierarchical rollup aggregation (subtotals + grand total)")
def rollup_order_counts_q(spark, sf_dir):
    return (
        load(spark, sf_dir, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum("o_totalprice").cast("double").alias("revenue"),
        )
    )


@q("pivot_value_by_status", """
SELECT event_type,
       round(sum(CASE WHEN user_id % 3 = 0 THEN value ELSE 0 END), 4) AS cohort_0,
       round(sum(CASE WHEN user_id % 3 = 1 THEN value ELSE 0 END), 4) AS cohort_1,
       round(sum(CASE WHEN user_id % 3 = 2 THEN value ELSE 0 END), 4) AS cohort_2
FROM events GROUP BY event_type
""", "pivot (wide conditional aggregation) — df.groupBy().pivot() on a "
     "derived cohort key")
def pivot_value_by_status_q(spark, sf_dir):
    ev = load(spark, sf_dir, "events").withColumn(
        "cohort", F.concat(F.lit("cohort_"), (F.col("user_id") % 3).cast("string"))
    )
    out = (
        ev.groupBy("event_type")
        .pivot("cohort", ["cohort_0", "cohort_1", "cohort_2"])
        .agg(F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 4))
    )
    # pivot leaves null for empty cells; normalize to 0 like the oracle
    for c in ("cohort_0", "cohort_1", "cohort_2"):
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0.0)))
    return out


@q("value_percentiles", """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
""", "exact interpolated percentiles per group (Spark percentile == DuckDB "
     "quantile_cont); the approx_percentile path is the 100TB variant")
def value_percentiles_q(spark, sf_dir):
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
            F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
        )
    )


@q("sessionize_events", """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, event_id,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_no
  FROM g
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       CAST(count(*) AS BIGINT) AS n_events, min(ts) AS session_start
FROM s GROUP BY user_id, session_no
""", "sessionization: lag-gap break detection + running sum -> session ids "
     "(the batch form; streaming uses session_window)")
def sessionize_events_q(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ with MICROSECOND precision; the gap comparison
    # must be micros-exact (whole-second flooring diverges from the
    # oracle's INTERVAL 30 MINUTE for gaps within 1s of the boundary —
    # same divergence class sliding_window_rates hit)
    micros = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    gap = micros - F.lag(micros).over(w)
    g = ev.withColumn(
        "brk", F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    )
    s = g.withColumn(
        "session_no",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return s.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"), F.min("ts").alias("session_start")
    )


@q("asof_last_click_before_purchase", """
WITH t AS (
  SELECT event_id, user_id, ts, event_type,
         max(CASE WHEN event_type = 'click' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
  FROM events
)
SELECT event_id, user_id, ts, last_click_ts
FROM t WHERE event_type = 'purchase'
""", "as-of join composed from window functions (Spark lacks a native as-of "
     "join): each purchase paired with the user's latest strictly-prior click")
def asof_last_click_q(spark, sf_dir):
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ev = load(spark, sf_dir, "events")
    t = ev.withColumn(
        "last_click_ts",
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).over(w),
    )
    return t.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "last_click_ts"
    )


from gamechanger_data_spark.operators.sketch import (  # noqa: E402
    kmv_distinct as _kmv,
    kmv_distinct_sql as _kmv_sql,
)
from gamechanger_data_spark.operators.clustering import (  # noqa: E402
    kmeans_assign as _kmeans,
    kmeans_sql as _kmeans_sql,
)


@q("kmeans_embeddings", _kmeans_sql("embeddings", k=5, iters=3),
   "distributed Lloyd's k-means over the embedding column (k=5, 3 rounds, "
   "k-minimum-hash seeding, 6dp centroid rounding, ties to lower cluster) "
   "— the data-curation clustering stage; corpus never collects, only the "
   "k x dim centroid table passes the driver per round")
def kmeans_embeddings_q(spark, sf_dir):
    return _kmeans(load(spark, sf_dir, "embeddings"), k=5, iters=3)


@q("kmv_distinct_users", _kmv_sql("events", "user_id", k=64),
   "PORTABLE approximate-distinct sketch (k-minimum-values over the "
   "md5-60-bit hash): unlike HLL, the estimate is bit-reproducible by an "
   "external engine, so the sketch itself is hash-CHECKED — "
   "TakeOrderedAndProject keeps k minima per partition, never the "
   "distinct set (Beyer et al., SIGMOD 2007)")
def kmv_distinct_users_q(spark, sf_dir):
    return _kmv(load(spark, sf_dir, "events"), "user_id", k=64)


@q("approx_distinct_users", """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
         <= 0.05 * count(DISTINCT user_id) AS hll_ok,
       abs(approx_quantile(value, 0.5) - quantile_cont(value, 0.5))
         <= 0.05 * abs(quantile_cont(value, 0.5)) + 1e-9 AS p50_ok
FROM events GROUP BY event_type
""",
   "approximate ops (HLL approx_count_distinct + approx median), "
   "TOLERANCE-oracled: sketch values are engine-specific by nature, so "
   "EACH engine checks ITS OWN sketch against the exact aggregate it "
   "also computes (|err| <= 5%) and the booleans + exact counts are "
   "hash-compared — upgrades the catalog's last rows-only entry to a "
   "real correctness check; the bit-reproducible sketch alternative is "
   "kmv_distinct_users")
def approx_distinct_users_q(spark, sf_dir):
    # Two aggregation passes joined on the (5-value) group key, NOT one
    # agg mixing COUNT(DISTINCT) with the sketch/percentile aggregates:
    # a mixed distinct/non-distinct agg triggers Catalyst's Expand
    # rewrite, which duplicates every input row per aggregate group and
    # drags the heavy-buffer aggregates (HLL rsd=0.01, exact percentile,
    # approx_percentile) through the expanded aggregate path — measured
    # 5.9 s vs 0.45+0.8+0.44+0.26 s for the same aggregates unmixed
    # (sf0.1/local[32]; restructured form ~1.2 s). Output identical:
    # every aggregate sees the same rows, and the tolerance booleans are
    # >=3-sigma robust to sketch-internal merge order.
    exact_users = F.count_distinct("user_id")
    exact_p50 = F.percentile("value", F.lit(0.5))
    ev = load(spark, sf_dir, "events")
    # rsd=0.01 puts the 5% tolerance at ~5 sigma of the sketch
    # error (the default rsd=0.05 would make 5% a 1-sigma bar —
    # ~30% false-negative odds per group at large cardinality);
    # DuckDB's fixed-precision HLL sits near ~1.6% rsd, so the
    # same bar is ~3 sigma on the oracle side.
    sketches = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("__hll"),
        exact_p50.alias("__p50"),
        F.approx_percentile("value", F.lit(0.5)).alias("__ap50"),
    )
    exact = ev.groupBy("event_type").agg(
        exact_users.cast("long").alias("exact_users")
    )
    # NULL-safe join: a NULL event_type is a group of its own (GROUP BY
    # keeps it), and a plain equi-join would drop it.
    return exact.join(
        sketches, exact["event_type"].eqNullSafe(sketches["event_type"])
    ).select(
        exact["event_type"],
        "exact_users",
        (F.abs(F.col("__hll") - F.col("exact_users"))
         <= 0.05 * F.col("exact_users")).alias("hll_ok"),
        (F.abs(F.col("__ap50") - F.col("__p50"))
         <= 0.05 * F.abs(F.col("__p50")) + F.lit(1e-9)).alias("p50_ok"),
    )


from gamechanger_data_spark.operators.sampling import (  # noqa: E402
    weighted_sample as _wsample,
    weighted_sample_sql as _wsample_sql,
)
from gamechanger_data_spark.operators.sketch import (  # noqa: E402
    cms_token_counts as _cms,
    cms_token_counts_sql as _cms_sql,
)

_CMS_PROBES = (
    "table", "row", "hash", "merge", "scan", "agg",
    "key", "value", "fast", "slow", "part", "batch",
)


@q("weighted_sample", _wsample_sql("documents", "doc_id", "n_chars", k=64),
   "weighted sampling WITHOUT replacement (Efraimidis-Spirakis order "
   "key over the portable md5 uniform): top-64 docs drawn proportional "
   "to n_chars — token-budget-proportional corpus sampling whose "
   "membership is a pure function of the key (reproducible across runs/"
   "engines/appends, unlike df.sample); compiles to one md5+log per row "
   "+ TakeOrderedAndProject, no data shuffle")
def weighted_sample_q(spark, sf_dir):
    return _wsample(load(spark, sf_dir, "documents"), "doc_id", "n_chars", k=64)


@q("cms_heavy_hitters", _cms_sql("documents", "text", _CMS_PROBES),
   "count-min-sketch token frequencies (d=4 x w=1024 counters, portable "
   "salted md5 rows) for a fixed probe vocabulary, next to exact counts "
   "— the sketch itself is rebuilt bit-exactly by the oracle, so the "
   "estimates are hash-compared, not tolerance-checked; at scale the "
   "sketch is a bounded d*w map-side-combining aggregate vs a "
   "full-vocabulary shuffle")
def cms_heavy_hitters_q(spark, sf_dir):
    return _cms(load(spark, sf_dir, "documents"), "text", _CMS_PROBES)


@q("interval_bucket_join", """
WITH inc AS (
  SELECT event_id AS incident_id, ts AS w_start,
         ts + INTERVAL 45 MINUTE AS w_end
  FROM events WHERE event_type = 'error' AND event_id % 23 = 0
)
SELECT i.incident_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e JOIN inc i ON e.ts >= i.w_start AND e.ts < i.w_end
GROUP BY i.incident_id
""",
   "point-in-interval join (events inside 45-min incident windows) made "
   "EQUI-JOINABLE by time-bucketing: each interval explodes into the "
   "15-min buckets it covers (<= 4 rows), events compute one bucket key, "
   "the join runs as a broadcast hash join on bucket, and the exact "
   "containment predicate filters the boundary slop — the scale answer "
   "to Spark's lack of a native range-join (a raw theta join is a "
   "BroadcastNestedLoop over the full corpus); cost = |events| bucket "
   "hashes + |intervals| x 4 broadcast rows")
def interval_bucket_join_q(spark, sf_dir):
    bucket_us = 900 * 1_000_000  # 15-minute buckets

    def _us(c):
        # ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP — the UTC
        # session makes the ltz hop a no-op vs DuckDB's naive epoch_us
        return F.unix_micros(c.cast("timestamp_ltz"))

    ev = load(spark, sf_dir, "events")
    inc = (
        ev.filter((F.col("event_type") == "error") & (F.col("event_id") % 23 == 0))
        .select(
            F.col("event_id").alias("incident_id"),
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 45 MINUTES")).alias("w_end"),
        )
    )
    # buckets covered by [w_start, w_end): last bucket from end-1us
    inc_b = inc.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(_us(F.col("w_start")) / F.lit(bucket_us)).cast("long"),
                F.floor(
                    (_us(F.col("w_end")) - F.lit(1)) / F.lit(bucket_us)
                ).cast("long"),
            )
        ),
    )
    ev_b = ev.withColumn(
        "bucket", F.floor(_us(F.col("ts")) / F.lit(bucket_us)).cast("long")
    )
    joined = ev_b.join(F.broadcast(inc_b), "bucket").filter(
        (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end"))
    )
    return joined.groupBy("incident_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )


@q("length_strata", """
WITH th AS (
  SELECT quantile_cont(n_chars, 0.25) AS q1,
         quantile_cont(n_chars, 0.50) AS q2,
         quantile_cont(n_chars, 0.75) AS q3
  FROM documents
)
SELECT CASE WHEN n_chars <= q1 THEN 0 WHEN n_chars <= q2 THEN 1
            WHEN n_chars <= q3 THEN 2 ELSE 3 END AS stratum,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents, th
GROUP BY 1
""",
   "equi-depth length stratification: exact quartile thresholds from ONE "
   "1-row aggregate broadcast back over the corpus as a codegen CASE — "
   "the scale-honest alternative to ntile() (a global-sort window that "
   "single-partitions the corpus); per-stratum doc and char budgets are "
   "the inputs to length-balanced training mixtures")
def length_strata_q(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    th = docs.agg(
        F.percentile("n_chars", F.lit(0.25)).alias("q1"),
        F.percentile("n_chars", F.lit(0.50)).alias("q2"),
        F.percentile("n_chars", F.lit(0.75)).alias("q3"),
    )
    stratum = (
        F.when(F.col("n_chars") <= F.col("q1"), 0)
        .when(F.col("n_chars") <= F.col("q2"), 1)
        .when(F.col("n_chars") <= F.col("q3"), 2)
        .otherwise(3)
    )
    return (
        docs.crossJoin(F.broadcast(th))
        .groupBy(stratum.alias("stratum"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@q("key_skew_audit", """
WITH pk AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY user_id
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM pk)
SELECT pk.user_id, pk.n,
       CAST(floor((pk.n::DOUBLE / tot.total) * 1000000) AS BIGINT) AS share_ppm,
       CAST(floor(((pk.n::DOUBLE * (SELECT count(*) FROM pk)) / tot.total) * 100)
            AS BIGINT) AS x_mean_pct
FROM pk, tot ORDER BY pk.n DESC, pk.user_id LIMIT 20
""",
   "join-key skew audit: per-key cardinality of the hot side, each hot "
   "key's share of total and multiple-of-mean — the diagnostic that "
   "decides broadcast vs salt vs AQE skew-join BEFORE a shuffle join; "
   "one map-side-combining count + scalar normalizers + global top-20 "
   "(TakeOrderedAndProject), never a sort of the key space")
def key_skew_audit_q(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    pk = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = pk.agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    return (
        pk.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n",
            # integer-domain ratios (floor of an IEEE-identical double
            # expression) — round() differs across engines at half-way
            # points (half-up vs half-even), floor never does
            F.floor(
                F.col("n").cast("double") / F.col("total") * 1_000_000
            ).cast("long").alias("share_ppm"),
            F.floor(
                F.col("n").cast("double") * F.col("n_keys") / F.col("total") * 100
            ).cast("long").alias("x_mean_pct"),
        )
        .orderBy(F.desc("n"), "user_id")
        .limit(20)
    )


# ------------------------------------------------------------- F6/F7 dates

from gamechanger_data_spark.functions.dates import (  # noqa: E402
    DATE_PATTERNS,
    extract_dates,
    lenient_to_timestamp,
)

# The synthetic documents table carries no date-shaped text, so the query
# plants deterministic date sentences derived from doc_id arithmetic —
# IDENTICALLY in Spark and the oracle — then runs the real extraction
# machinery: one combined-regex pass (F6, reference lib/dates.py:9-151)
# -> explode -> lenient try-chain parse (F7, common/utils/parsers.py:6-28)
# -> per-doc count/min/max. Three of the four pattern shapes are
# exercised ('d MMMM yyyy', 'MMMM d, yyyy', 'd MMM yyyy'); per-doc date
# counts vary (1-3) so the aggregate isn't constant.
_DATES_PAT_SQL = "|".join(DATE_PATTERNS).replace("'", "''")


@q("date_extraction", f"""
WITH aug AS (
  SELECT doc_id,
         text || ' Effective '
              || strftime(DATE '2020-01-01' + ((doc_id*37) % 1500)::INT,
                          '%-d %B %Y')
              || CASE WHEN doc_id % 3 <> 0
                      THEN '. Superseded on ' ||
                           strftime(DATE '2020-01-01' + ((doc_id*91) % 1500)::INT,
                                    '%B %-d, %Y')
                      ELSE '' END
              || CASE WHEN doc_id % 2 = 0
                      THEN '. Ref: ' ||
                           strftime(DATE '2020-01-01' + ((doc_id*53) % 1500)::INT,
                                    '%-d %b %Y')
                      ELSE '' END
              || '.' AS aug_text
  FROM documents
),
x AS (
  SELECT doc_id,
         unnest(regexp_extract_all(aug_text, '{_DATES_PAT_SQL}', 0)) AS d
  FROM aug
),
p AS (
  SELECT doc_id,
         coalesce(try_strptime(d, '%d %B %Y'), try_strptime(d, '%B %d, %Y'),
                  try_strptime(d, '%d %b %Y'), try_strptime(d, '%b %d, %Y')) AS ts
  FROM x
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dates,
       min(ts) AS first_date, max(ts) AS last_date
FROM p GROUP BY doc_id
""",
   "free-text date extraction + lenient parse (F6/F7): combined "
   "single-pass regex over all date shapes, exploded matches parsed by "
   "the try_to_timestamp chain (unparseable -> NULL, never raises), "
   "per-doc count/min/max — pure codegen, no UDF; scales as one "
   "map-side pass + one key-hash aggregate")
def date_extraction_q(spark, sf_dir):
    base = F.lit("2020-01-01").cast("date")

    def _fmt(mult, fmt):
        day = (F.col("doc_id") * mult % 1500).cast("int")
        return F.date_format(F.date_add(base, day), fmt)

    aug = load(spark, sf_dir, "documents").withColumn(
        "aug_text",
        F.concat(
            F.col("text"),
            F.lit(" Effective "),
            _fmt(37, "d MMMM yyyy"),
            F.when(
                F.col("doc_id") % 3 != 0,
                F.concat(F.lit(". Superseded on "), _fmt(91, "MMMM d, yyyy")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit(". Ref: "), _fmt(53, "d MMM yyyy")),
            ).otherwise(F.lit("")),
            F.lit("."),
        ),
    )
    parsed = aug.select(
        "doc_id", F.explode(extract_dates(F.col("aug_text"))).alias("d")
    ).withColumn("ts", lenient_to_timestamp(F.col("d")))
    return parsed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dates"),
        F.min("ts").alias("first_date"),
        F.max("ts").alias("last_date"),
    )


@q("content_defined_chunks", f"""
WITH t AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS tok,
         unnest(range(len({_TOKS_SQL}))) AS pos
  FROM documents
),
g AS (
  SELECT doc_id, pos, tok,
         lag(tok, 1) OVER w AS p1, lag(tok, 2) OVER w AS p2
  FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
b AS (
  SELECT doc_id, pos, tok,
         CASE WHEN pos >= 2
               AND {_hb_sql("(p2 || ' ' || p1 || ' ' || tok)")} % 16 = 0
              THEN 1 ELSE 0 END AS brk
  FROM g
),
c AS (
  SELECT doc_id, pos, tok,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cid
  FROM b
)
SELECT doc_id, CAST(cid AS INT) AS chunk_idx,
       string_agg(tok, ' ' ORDER BY pos) AS chunk_text,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM c GROUP BY doc_id, cid
""", "content-defined chunking (rolling-hash cut rule, Rabin/CDC): "
     "boundaries are a pure function of local 3-token windows, so "
     "sub-document dedup over chunk hashes survives prefix edits — the "
     "shift-resistant companion to fixed-size chunk_documents")
def content_defined_chunks_q(spark, sf_dir):
    from gamechanger_data_spark.functions.segment import content_chunks

    return content_chunks(load(spark, sf_dir, "documents"), modulus=16)


@q("chunk_dedup_stats", f"""
WITH t AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS tok,
         unnest(range(len({_TOKS_SQL}))) AS pos
  FROM documents
),
g AS (
  SELECT doc_id, pos, tok,
         lag(tok, 1) OVER w AS p1, lag(tok, 2) OVER w AS p2
  FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
b AS (
  SELECT doc_id, pos, tok,
         CASE WHEN pos >= 2
               AND {_hb_sql("(p2 || ' ' || p1 || ' ' || tok)")} % 16 = 0
              THEN 1 ELSE 0 END AS brk
  FROM g
),
c AS (
  SELECT doc_id, pos, tok,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cid
  FROM b
),
chunks AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS chunk_text
  FROM c GROUP BY doc_id, cid
)
SELECT md5(chunk_text) AS chunk_hash,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM chunks GROUP BY chunk_text
HAVING count(DISTINCT doc_id) >= 2
""", "sub-document duplication audit: content-defined chunks shared by "
     ">=2 docs (the dedup payoff of shift-resistant boundaries — exact "
     "per-doc dedup misses shared passages, chunk hashes catch them); "
     "hash-groupBy with map-side combine, scales like exact dedup")
def chunk_dedup_stats_q(spark, sf_dir):
    from gamechanger_data_spark.functions.segment import content_chunks

    chunks = content_chunks(load(spark, sf_dir, "documents"), modulus=16)
    return (
        chunks.groupBy("chunk_text")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(F.md5("chunk_text").alias("chunk_hash"), "n_docs", "n_occurrences")
    )


@q("chunk_documents", f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
SELECT doc_id, CAST(u.i AS INT) AS chunk_idx,
       array_to_string(toks[u.i*32+1 : u.i*32+32], ' ') AS chunk_text
FROM t, unnest(range(CAST(ceil(len(toks)/32.0) AS BIGINT))) AS u(i)
""", "fixed-size token chunking for training-context windows (the engine "
     "analog of page/paragraph segmentation, lib/pages.py / document.py:79-130"
     " — posexplode over computed chunk offsets, no Python)")
def chunk_documents_q(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    from gamechanger_data_spark.operators.dedup import tokens_expr

    toks = tokens_expr("text")
    n_chunks = F.ceil(F.size(toks) / F.lit(32)).cast("int")
    # Empty/whitespace-only doc: n_chunks = 0 and sequence(0, -1) would
    # auto-DESCEND to [0, -1], emitting bogus chunks the oracle (i*32 <
    # len(toks)) never produces — guard to an empty array instead.
    chunks = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(toks, i * 32 + 1, 32), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return d.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk_text")
    ).select("doc_id", F.col("chunk_idx").cast("int").alias("chunk_idx"), "chunk_text")


@q("paragraph_segment", r"""
WITH src AS (
  SELECT doc_id,
         regexp_replace(text, '((?:\S+ ){5})', '\1' || chr(10) || chr(10), 'g') AS t
  FROM documents
),
parts AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(t, '\n\s*\n'), x -> trim(x) <> '') AS ps
  FROM src
),
ex AS (
  SELECT doc_id, unnest(ps) AS raw, unnest(range(len(ps))) AS i FROM parts
)
SELECT doc_id || '_' || CAST(i AS VARCHAR) AS par_id, doc_id,
       CAST(i AS INT) AS par_inc_count,
       trim(regexp_replace(raw, '\s+', ' ', 'g')) AS par_text,
       CAST(len(regexp_extract_all(trim(regexp_replace(raw, '\s+', ' ', 'g')),
                                   '[^.!?]+(?:[.!?]+|$)')) AS INT) AS n_sentences
FROM ex
""", "F17 paragraph segmentation with the reference's par_dict contract "
     "(document.py:104-130,149-166: blank-line paragraphs, dense doc-global "
     "counter, '<id>_<n>' par id, whitespace-normalized text, sentence "
     "count). The synthetic docs carry no newlines, so BOTH sides first "
     "derive deterministic breaks every 5 words — the publisher pattern: "
     "input prep is shared, the operator under test is the segmentation")
def paragraph_segment_q(spark, sf_dir):
    from gamechanger_data_spark.functions.segment import segment_paragraphs

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.col("text"), r"((?:\S+ ){5})", "$1\n\n").alias("text"),
    )
    return segment_paragraphs(d, text_col="text", id_col="doc_id")


@q("boilerplate_scrub", r"""
WITH src AS (
  SELECT doc_id,
         regexp_replace(text, '((?:\S+ ){5})', '\1' || chr(10) || chr(10), 'g') AS t
  FROM documents
),
parts AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(t, '\n\s*\n'), x -> trim(x) <> '') AS ps
  FROM src
),
ex0 AS (SELECT doc_id, unnest(ps) AS raw, unnest(range(len(ps))) AS i FROM parts),
ex AS (SELECT doc_id, i, trim(regexp_replace(raw, '\s+', ' ', 'g')) AS par FROM ex0),
dfc AS (SELECT par, count(DISTINCT doc_id) AS pdf FROM ex GROUP BY par),
kept AS (SELECT ex.doc_id, ex.i, ex.par FROM ex JOIN dfc USING (par) WHERE pdf < 3),
tot AS (SELECT doc_id, count(*) AS n_total FROM ex GROUP BY doc_id)
SELECT k.doc_id,
       string_agg(k.par, chr(10) || chr(10) ORDER BY k.i) AS text,
       CAST(max(t.n_total) - count(*) AS INT) AS n_dropped
FROM kept k JOIN tot t USING (doc_id)
GROUP BY k.doc_id
""", "corpus-wide boilerplate removal: paragraphs repeated across >= 3 "
     "distinct docs (headers/footers/license blocks) are scrubbed from "
     "every doc, survivors re-joined in order — the corpus-level stage "
     "above the reference's per-doc paragraph loop (document.py:104-130); "
     "same deterministic 5-word break prep as paragraph_segment")
def boilerplate_scrub_q(spark, sf_dir):
    from gamechanger_data_spark.functions.segment import remove_boilerplate

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.col("text"), r"((?:\S+ ){5})", "$1\n\n").alias("text"),
    )
    return remove_boilerplate(d, min_docs=3)


@q("sliding_window_rates", """
SELECT event_id, user_id, ts,
       CAST(count(*) OVER (
         PARTITION BY user_id ORDER BY ts
         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS n_last_hour
FROM events
""", "time-RANGE sliding window: per-user event count over the trailing "
     "hour (the batch form of the streaming rate monitor; RANGE frame on "
     "event time, not ROWS)")
def sliding_window_rates_q(spark, sf_dir):
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ with MICROSECOND precision; the frame must be
    # micros-exact (a whole-second cast admits rows up to 1s outside the
    # oracle's INTERVAL 1 HOUR — measured 1/100k divergent rows at sf0.1)
    micros = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", "ts", F.count("*").over(w).alias("n_last_hour")
    )


@q("cube_order_stats", """
SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
""", "cube / grouping-sets aggregation (all subtotal combinations)")
def cube_order_stats_q(spark, sf_dir):
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


# =====================================================================
# End-to-end training-corpus preparation — the pipeline stages composed
# into ONE flagship dataflow, hash-checked as a whole: boilerplate scrub
# -> normalize -> min-length gate -> language gate -> exact dedup ->
# decontamination -> split assignment + token accounting. Each stage is
# individually oracled elsewhere; this entry proves the COMPOSITION
# (Catalyst keeps it one plan: the scrub/df aggregates, one dedup
# window, the broadcast decontamination join, then pure projections).
# =====================================================================

_LANG_GATE_SQL = f"""(CASE WHEN len({_TOKS_SQL}) > 0
  THEN len(list_filter({_TOKS_SQL},
        t -> list_contains({_STOPS_SQL}, lower(t))))::DOUBLE
       / len({_TOKS_SQL})::DOUBLE
  ELSE 0.0 END) >= 0.08"""

_CORPUS_PREPARE_SQL = f"""
WITH src AS (
  SELECT doc_id,
         regexp_replace(text, '((?:\\S+ ){{5}})', '\\1' || chr(10) || chr(10), 'g') AS t
  FROM documents
),
parts AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(t, '\n\\s*\n'), x -> trim(x) <> '') AS ps
  FROM src
),
ex0 AS (SELECT doc_id, unnest(ps) AS raw, unnest(range(len(ps))) AS i FROM parts),
ex AS (SELECT doc_id, i, trim(regexp_replace(raw, '\\s+', ' ', 'g')) AS par FROM ex0),
dfc AS (SELECT par, count(DISTINCT doc_id) AS pdf FROM ex GROUP BY par),
keptp AS (SELECT ex.doc_id, ex.i, ex.par FROM ex JOIN dfc USING (par) WHERE pdf < 3),
tot AS (SELECT doc_id, count(*) AS n_total FROM ex GROUP BY doc_id),
scrub0 AS (
  SELECT k.doc_id, string_agg(k.par, chr(10) || chr(10) ORDER BY k.i) AS text,
         CAST(max(t.n_total) - count(*) AS INT) AS n_dropped
  FROM keptp k JOIN tot t USING (doc_id) GROUP BY k.doc_id
),
scrub AS (SELECT doc_id, {_NORM_SQL} AS text, n_dropped FROM scrub0),
gated AS (SELECT * FROM scrub WHERE length(text) >= 120),
en AS (SELECT * FROM gated WHERE {_LANG_GATE_SQL}),
dd AS (
  SELECT doc_id, text, n_dropped FROM en
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY sha256(text))
),
probe AS (SELECT DISTINCT unnest({_SHINGLE3_SQL}) AS sh FROM documents WHERE doc_id < 5),
dsh AS (SELECT doc_id, unnest(list_distinct({_SHINGLE3_SQL})) AS sh FROM dd),
hits AS (
  SELECT doc_id, count(DISTINCT d.sh) AS n_hits
  FROM dsh d JOIN probe p USING (sh) GROUP BY doc_id
),
clean AS (
  SELECT d.doc_id, d.text, d.n_dropped
  FROM dd d LEFT JOIN hits h USING (doc_id)
  WHERE coalesce(h.n_hits, 0) < 2
)
SELECT doc_id, {_split_sql('doc_id')} AS split,
       CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS INT) AS n_tokens,
       n_dropped
FROM clean
"""


@q("corpus_prepare", _CORPUS_PREPARE_SQL,
   "flagship training-corpus preparation: boilerplate scrub -> normalize "
   "-> min-length gate -> language gate -> exact dedup (keep min id) -> "
   "n-gram decontamination -> deterministic split + token counts, "
   "hash-checked end to end as one composed plan")
def corpus_prepare_q(spark, sf_dir):
    from pyspark.sql import Window

    from gamechanger_data_spark.functions.segment import remove_boilerplate
    from gamechanger_data_spark.functions.text import normalize_text_expr
    from gamechanger_data_spark.operators.dedup import ngram_contamination
    from gamechanger_data_spark.operators.sampling import split_assign

    raw = load(spark, sf_dir, "documents")
    prep = raw.select(
        "doc_id",
        F.regexp_replace(F.col("text"), r"((?:\S+ ){5})", "$1\n\n").alias("text"),
    )
    scrub = remove_boilerplate(prep, min_docs=3).select(
        "doc_id", normalize_text_expr("text").alias("text"), "n_dropped"
    )
    gated = scrub.filter(F.length("text") >= 120)
    en = gated.filter(lang_id_expr("text") == F.lit("en"))
    w = Window.partitionBy(F.sha2("text", 256))
    dd = (
        en.withColumn("__canon", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__canon"))
        .drop("__canon")
    )
    dec = ngram_contamination(dd, raw.filter(F.col("doc_id") < 5))
    clean = dd.join(
        dec.filter(~F.col("contaminated")).select("doc_id"), "doc_id", "left_semi"
    )
    return split_assign(clean, "doc_id").select(
        "doc_id",
        "split",
        token_count_expr("text").alias("n_tokens"),
        "n_dropped",
    )
