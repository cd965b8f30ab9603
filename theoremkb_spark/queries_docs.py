"""Training-data-pipeline queries over documents/embeddings, with DuckDB
oracles where the formula is SQL-expressible (dedup, text analysis,
brute-force + bucketed ANN). MinHash-LSH and SimHash use engine-native
hashing (xxhash64 / md5-bit-votes) with no DuckDB twin — registered as
rows-only checks, exact-verified in the pytest suite instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from .operators.multimodal import extract_features
from .operators.similarity import bucketed_ann_topk, cosine_topk, embedding_near_dup_pairs
from .operators.textquality import (
    fingerprint,
    lang_id,
    punct_count,
    quality_score,
    stopword_hits,
    token_count,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------- text analysis


def q_text_stats(spark, sf):
    """Token counting + punctuation + stopword hits + fingerprint +
    composite quality score (one pass over documents covers both the
    stats and the quality-scoring operators — same key, same scan).

    Two optimizations, identical output (same formulas, bit-identical
    values — see operators.textquality.text_stats_columns):

    * the whitespace-normalized text (and its padded form) is projected
      ONCE per row in an inner select; the original single projection
      re-evaluated the \\s+ regexp_replace ~19x per row because codegen
      subexpression elimination does not reach across the nested
      when/least branches;
    * the documents table arrives as ONE parquet row group per ~1M rows,
      so the regex-dense projection would run in a single scan task (the
      same small-file artifact q_dedup_ngram_jaccard documents:
      row-group quantization caps scan parallelism no matter the split
      size). A doc_id-hash exchange of the raw rows buys full-width
      codegen without round-robin's sort-before-repartition; at cluster
      scale the writer's row-group sizing makes this a no-op."""
    from .operators.textquality import (
        _text_counts_udf,
        norm_ws,
        text_stats_columns_from_counts,
    )

    # ORDER BEFORE PROJECTING: a global orderBy placed after the heavy
    # projection makes the range partitioner's sampling pass re-execute
    # the entire projection (measured +2.4 s of the 5.2 s wall at 10x
    # scale); sorting the raw (doc_id, text) rows first samples only the
    # scan, the sort's range exchange is ALSO what spreads the
    # single-row-group documents scan across cores, and the projection
    # runs once, post-sort, at full width. Projections preserve
    # intra-partition order and range partitions are in key order, so
    # the collected output ordering is identical.
    #
    # Round 6 second pass: the count expressions (7 stopword `replace`
    # rebuilds + punct regex + token split — ~9 full-string scans per
    # row in the JVM) are fused into ONE Arrow kernel over the
    # pre-normalized column (guide §4.2; operators.textquality.
    # _text_counts_udf, parity notes there). The md5 fingerprint and
    # the exact-decimal quality composite stay in the JVM. Identical
    # output (exceptAll both ways = 0 at sf0.1 and the 10x layout);
    # interleaved A/B: 10x-layout 1.74 -> 0.66 s min (2.6x), sf0.1
    # 0.51 -> 0.45 s.
    d = _t(spark, sf, "documents").select("doc_id", "text").orderBy("doc_id")
    base = d.select(
        "doc_id",
        "text",
        norm_ws(F.col("text")).alias("_norm"),
    ).withColumn("_c", _text_counts_udf()(F.col("_norm")))
    cols = text_stats_columns_from_counts(
        F.col("text"),
        F.col("_norm"),
        F.col("_c.n_tokens"),
        F.col("_c.n_punct"),
        F.col("_c.stop_hits"),
    )
    return base.select(
        "doc_id", *[expr.alias(name) for name, expr in cols.items()]
    )


_OCC = "(length(' ' || {s} || ' ') - length(replace(' ' || {s} || ' ', ' {w} ', ''))) // length(' {w} ')"


def _occ_sql(word: str, s: str = "trim(regexp_replace(text, '\\s+', ' ', 'g'))") -> str:
    return _OCC.format(s=s, w=word)


_STOP_EN = ["the", "a", "and", "of", "to", "in", "is"]

SQL_TEXT_STATS = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0 THEN 0
              ELSE len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) END AS n_tokens,
         length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS n_punct,
         {' + '.join(_occ_sql(w) for w in _STOP_EN)} AS stop_hits,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
         CAST(greatest(length(text), 1) AS DECIMAL(18,6)) AS chars
  FROM documents
)
SELECT doc_id, n_tokens, n_punct, stop_hits, fp,
       round(
         least(round(CAST(n_tokens AS DECIMAL(18,6)) / CAST(200 AS DECIMAL(18,6)), 6), CAST(1 AS DECIMAL(18,6))) * CAST(0.4 AS DECIMAL(18,6))
         + least(round(CAST(stop_hits AS DECIMAL(18,6)) * 10 / greatest(CAST(n_tokens AS DECIMAL(18,6)), CAST(1 AS DECIMAL(18,6))), 6), CAST(1 AS DECIMAL(18,6))) * CAST(0.4 AS DECIMAL(18,6))
         + (CAST(1 AS DECIMAL(18,6)) - round(CAST(n_punct AS DECIMAL(18,6)) / chars, 6)) * CAST(0.2 AS DECIMAL(18,6)),
       6)::DOUBLE AS quality
FROM base ORDER BY doc_id
"""


def q_text_langid(spark, sf):
    """n-gram-marker language ID vs the labeled lang column."""
    d = _t(spark, sf, "documents")
    return (
        d.select("lang", lang_id(F.col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "pred_lang")
    )


def _score_sql(lang_words: list[str]) -> str:
    return " + ".join(_occ_sql(w) for w in lang_words)


_MARKERS = {
    "en": ["the", "and", "a", "of"],
    "es": ["el", "la", "de", "que"],
    "de": ["der", "die", "und", "das"],
    "fr": ["le", "la", "et", "les"],
}

SQL_TEXT_LANGID = f"""
WITH scored AS (
  SELECT lang,
         {_score_sql(_MARKERS["en"])} AS s_en,
         {_score_sql(_MARKERS["es"])} AS s_es,
         {_score_sql(_MARKERS["de"])} AS s_de,
         {_score_sql(_MARKERS["fr"])} AS s_fr
  FROM documents
), pred AS (
  SELECT lang,
         CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
              WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
              WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
              WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
              ELSE 'fr' END AS pred_lang
  FROM scored
)
SELECT lang, pred_lang, count(*) AS n FROM pred
GROUP BY lang, pred_lang ORDER BY lang, pred_lang
"""


# ----------------------------------------------------------------- dedup


def q_dedup_exact(spark, sf):
    d = _t(spark, sf, "documents")
    return exact_duplicates(d, "doc_id", "text").orderBy("fp")


SQL_DEDUP_EXACT = """
SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
       min(doc_id) AS keeper, count(*) AS n_dups
FROM documents GROUP BY 1 ORDER BY fp
"""


def q_dedup_ngram_jaccard(spark, sf):
    # small-file scan artifact: the sf-scale documents table is ONE
    # parquet split, so the CPU-heavy shingle explode would run in a
    # single task (measured 3.5 s of a 6 s cold run at sf0.1 — the whole
    # stage serialized on one core). Spreading the 5k raw doc rows costs
    # a trivial exchange. doc_id-hash, not round-robin (round 6): unique
    # ids spread evenly and skip round-robin's sort-before-repartition
    # pass over the text column (the fix q_dedup_simhash already rides).
    # At cluster scale the scan itself yields enough byte-bounded splits
    # and this repartition becomes a no-op to drop.
    d = _t(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    return ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.12).orderBy(
        "id_a", "id_b"
    )


# Mirrors the operator exactly: blocking over df-capped shingles
# (document frequency <= 50 — the hot-shingle scale discipline),
# verification over the FULL shingle sets.
SQL_DEDUP_NGRAM = """
WITH toks AS (
  SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS words
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(words) - 2, 1))) AS t(i)
  WHERE length(array_to_string(words[i:i+2], ' ')) > 0
), dfreq AS (
  SELECT shingle, count(*) AS c FROM sh GROUP BY shingle
), blk AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN dfreq USING (shingle) WHERE c <= 50
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM blk a JOIN blk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), common AS (
  SELECT id_a, id_b, count(*) AS common
  FROM cand
  JOIN sh a ON a.doc_id = cand.id_a
  JOIN sh b ON b.doc_id = cand.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(common AS DECIMAL(18,6)) / CAST(sa.sz + sb.sz - common AS DECIMAL(18,6)), 6)::DOUBLE AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(CAST(common AS DECIMAL(18,6)) / CAST(sa.sz + sb.sz - common AS DECIMAL(18,6)), 6)::DOUBLE >= 0.12
ORDER BY id_a, id_b
"""


def q_dedup_minhash_lsh(spark, sf):
    """MinHash+LSH near-dup candidates, exact-verified. Oracle: the
    sequential pure-Python twin (corpus/dedup_oracle.py — XXH64
    byte-exact vs Spark's xxhash64, pytest-gated), materialized to
    parquet by __spark_entry__; recall vs exact Jaccard is additionally
    pytest-gated."""
    # same single-split scan artifact as q_dedup_ngram_jaccard: spread
    # the docs before the shingle explode (doc_id-hash — no round-robin
    # pre-sort of the text column)
    d = _t(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    return minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.12
    ).orderBy("id_a", "id_b")


def _adaptive_spread_width(df, spark, bytes_per_task: int = 75_000) -> int:
    """Scale-adaptive spread width for the single-row-group demo scans:
    ~bytes_per_task of (compressed, Catalyst-estimated) input per task,
    capped at the core count, floored at 1. Derived from input size per
    the optimization-guide partitioning rule rather than pinned to the
    local core count: a tiny sf never pays 32 Arrow workers' spin-up
    for kilobytes of text (measured at sf0.1: width 8 -> 0.31 s vs
    width 32 -> 0.47 s vs no spread 0.42 s for SimHash), and a big sf
    saturates the cores (width caps at defaultParallelism). At cluster
    scale the writer's row-group sizing gives the scan real splits and
    the spread is a cheap keyed exchange either way."""
    from .plancheck import STATS_UNKNOWN, estimated_bytes

    est = estimated_bytes(df)
    if est == STATS_UNKNOWN:  # driver-local frame
        return spark.sparkContext.defaultParallelism
    return max(
        1, min(spark.sparkContext.defaultParallelism, est // bytes_per_task)
    )


def q_dedup_simhash(spark, sf):
    """SimHash near-dup pairs (md5-bit-vote Arrow kernel). Oracle: the
    sequential twin in corpus/dedup_oracle.py, materialized to parquet
    by __spark_entry__."""
    # same single-row-group scan artifact as q_text_stats: without the
    # spread, the whole Arrow SimHash stage runs in ONE python worker
    # (row-group quantization, not split size, caps scan parallelism).
    # doc_id-hash, not round-robin: unique ids spread evenly and skip
    # round-robin's sort-before-repartition pass over the text column.
    # Width is input-size-adaptive (round 6), not the core count.
    d = _t(spark, sf, "documents")
    d = d.repartition(_adaptive_spread_width(d, spark), F.col("doc_id"))
    return simhash_near_dups(d, "doc_id", "text", max_hamming=8).orderBy(
        "id_a", "id_b"
    )


# ------------------------------------------------------------ similarity


_QUERY_IDS = list(range(10))


def q_ann_cosine_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    return cosine_topk(e, "vec_id", "embedding", _QUERY_IDS, k=5).orderBy(
        "query_id", "rank"
    )


SQL_ANN_TOPK = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
  WHERE vec_id IN ({",".join(map(str, _QUERY_IDS))})
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
), scored AS (
  SELECT query_id, neighbor_id,
         round(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS score
  FROM q, c WHERE query_id <> neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, score::DOUBLE AS score FROM ranked
WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_ann_bucketed(spark, sf):
    e = _t(spark, sf, "embeddings")
    return bucketed_ann_topk(e, "vec_id", "embedding", _QUERY_IDS, k=3, bits=6).orderBy(
        "query_id", "rank"
    )


def _bucket_sql(bits: int = 6) -> str:
    """DuckDB twin of similarity.sign_bucket: identical seeded random
    hyperplanes (same rounded-double literals), left-to-right
    list_dot_product matches Spark's aggregate(zip_with(...)) exactly."""
    from .operators.similarity import random_projections

    terms = []
    for i, plane in enumerate(random_projections(bits, dim=64)):
        lits = ", ".join(repr(x) for x in plane)
        terms.append(
            f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), [{lits}]) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(terms)


SQL_ANN_BUCKETED = f"""
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {_bucket_sql(6)} AS bucket
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv, bucket FROM b
  WHERE vec_id IN ({",".join(map(str, _QUERY_IDS))})
), scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(qv, c.v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v))), 4) AS score
  FROM q JOIN b c USING (bucket) WHERE query_id <> c.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, score::DOUBLE AS score FROM ranked
WHERE rank <= 3 ORDER BY query_id, rank
"""


def q_emb_near_dups(spark, sf):
    e = _t(spark, sf, "embeddings")
    return embedding_near_dup_pairs(e, "vec_id", "embedding", threshold=0.3, bits=4).orderBy(
        "id_a", "id_b"
    )


SQL_EMB_NEAR_DUPS = f"""
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         {_bucket_sql(4)} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       round(list_dot_product(a.v, c.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))), 6)::DOUBLE AS cos
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE round(list_dot_product(a.v, c.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))), 6)::DOUBLE >= 0.3
ORDER BY id_a, id_b
"""


# ------------------------------------------------------------ multimodal


def q_multimodal_features(spark, sf):
    """Image-column pipeline with a REAL decode stage over a
    MIXED-FORMAT payload column: each document's bytes become a 16x16
    image payload — 24-bit BMP for even doc_ids, 8-bit-RGB PNG (stdlib
    zlib) for odd — and the decoder dispatches on magic bytes
    (operators/multimodal.py::decode_image: BMP header/bottom-up/
    padding/BGR; PNG chunk walk + inflate + all five scanline filters)
    to recover the pixels and emit pixel-derived features (channel
    means, luminance std). Oracle: the sequential twin computes the
    features from the document bytes DIRECTLY (never touching either
    container), so both encode->decode roundtrips and the feature math
    are under the gate. Other formats keep the env-gated PIL branch."""
    from .operators.multimodal import image_pixel_features, text_to_image_udf

    d = _t(spark, sf, "documents").select(
        "doc_id", text_to_image_udf()(F.col("doc_id"), F.col("text")).alias("payload")
    )
    feats = image_pixel_features(d, "doc_id", "payload")
    return feats.select(
        "id", "n_bytes", "width", "height", "mean_r", "mean_g", "mean_b", "luma_std"
    ).orderBy("id")


# ------------------------------------------ linking / similarity / sampling

# Auto-broadcast threshold for q_sim_tfidf_topk's vocabulary-derived
# frames (per-term document frequencies, probe weights): same 64 MB
# convention as pipeline/link.BROADCAST_DICT_MAX_BYTES.
SIM_TFIDF_BROADCAST_MAX_BYTES = 64 << 20


def q_sim_tfidf_topk(spark, sf):
    """TF-IDF cosine best-match per probe doc — the reference's theorem
    matcher re-composed from DataFrame ops (M7/J7,
    tools/thm_similarity/model_tfidf.py:22-65), tokenizing through the
    reference's clean_thm chain (F8, thmtools.py:64-70): explode->tf,
    df->idf, sparse dot product via a term equi-join (blocking: only
    co-occurring terms pair up), window argmax per probe.
    Probes = doc_id % 100 == 0.

    Round-6 (round-5 verdict #5): the df_/probes broadcasts are
    AUTO-SIZED from Catalyst's estimate instead of forced — at demo
    scale both are kilobytes and still broadcast; at web-corpus scale a
    vocabulary-sized frame falls back to the planner's shuffled join
    (with AQE free to re-broadcast from ACTUAL sizes, the safe
    direction). Threshold is module-level so the regime test can force
    the large branch."""
    import theoremkb_spark.queries_docs as _self
    from .plancheck import fits_broadcast

    def _maybe_bc(frame):
        if fits_broadcast(frame, _self.SIM_TFIDF_BROADCAST_MAX_BYTES):
            return F.broadcast(frame)
        return frame

    from .operators.textquality import clean_thm_col

    d = _t(spark, sf, "documents").select("doc_id", "text")
    terms = (
        d.select("doc_id", F.explode(F.split(clean_thm_col(F.col("text")), " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    df_ = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    w = (
        terms.join(_maybe_bc(df_), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    probes = w.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("src"), "term", F.col("w").alias("ws")
    )
    dots = (
        _maybe_bc(probes)
        .join(w.select(F.col("doc_id").alias("dst"), "term", F.col("w").alias("wd")), "term")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum(F.col("ws") * F.col("wd")).alias("dot"))
    )
    cos = (
        dots.join(norms.select(F.col("doc_id").alias("src"), F.col("nrm").alias("ns")), "src")
        .join(norms.select(F.col("doc_id").alias("dst"), F.col("nrm").alias("nd")), "dst")
        .select("src", "dst", (F.col("dot") / (F.col("ns") * F.col("nd"))).alias("cos"))
    )
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("src").orderBy(F.round(F.col("cos"), 6).desc(), F.col("dst"))
    )
    return (
        cos.withColumn("_rk", rk)
        .filter(F.col("_rk") == 1)
        .select("src", "dst", F.round(F.col("cos"), 4).alias("sim"))
        .orderBy("src")
    )


# clean_thm chain (thmtools.py:64-70) mirrored in RE2: the \\1
# backreference syntax is DuckDB's, $1 is Spark's — same semantics.
_CLEAN_THM_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(lower(text), "
    r"'\\[a-z]*(begin|end|cite|label|footnote|ref)[a-z]*\{[\w\s,\*:-]+\}(\[[^\]]+\])?', ' ', 'g'), "
    r"'([\+\*\^<>=_-])', ' \1 ', 'g'), "
    r"'([0-9]+)', ' \1 ', 'g'), "
    r"'[^a-z0-9<>=\+\*\^_-]+', ' ', 'g')"
)

SQL_SIM_TFIDF = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_CLEAN_THM_SQL}, ' ')) AS term FROM documents
), terms AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks WHERE term <> ''
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM terms GROUP BY term
), w AS (
  SELECT t.doc_id, t.term, t.tf * ln((SELECT count(*) FROM documents)::DOUBLE / df) AS w
  FROM terms t JOIN dfreq USING (term)
), norms AS (
  SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id
), dots AS (
  SELECT s.doc_id AS src, d.doc_id AS dst, sum(s.w * d.w) AS dot
  FROM w s JOIN w d USING (term)
  WHERE s.doc_id % 100 = 0 AND s.doc_id <> d.doc_id
  GROUP BY s.doc_id, d.doc_id
), cos AS (
  SELECT src, dst, dot / (ns.nrm * nd.nrm) AS cos
  FROM dots JOIN norms ns ON ns.doc_id = src JOIN norms nd ON nd.doc_id = dst
), ranked AS (
  SELECT src, dst, cos,
         row_number() OVER (PARTITION BY src ORDER BY round(cos, 6) DESC, dst) AS rk
  FROM cos
)
SELECT src, dst, round(cos, 4) AS sim FROM ranked WHERE rk = 1 ORDER BY src
"""


def q_link_title_match(spark, sf):
    """Normalized-title exact-match linking (J6 semantics,
    tools/references/get_links.py:74-85,122-133): title = document head,
    normalization = lowercase + keep [a-z] only, equi-join on the
    normalized key -> coreference pairs."""
    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.regexp_replace(F.lower(F.substring(F.col("text"), 1, 40)), "[^a-z]", "").alias(
            "norm_title"
        ),
    ).filter(F.col("norm_title") != "")
    a = d.select(F.col("doc_id").alias("src"), "norm_title")
    b = d.select(F.col("doc_id").alias("dst"), "norm_title")
    return (
        a.join(b, "norm_title")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst", "norm_title")
        .orderBy("src", "dst")
    )


SQL_LINK_TITLE = """
WITH t AS (
  SELECT doc_id, regexp_replace(lower(substr(text, 1, 40)), '[^a-z]', '', 'g') AS norm_title
  FROM documents
)
SELECT a.doc_id AS src, b.doc_id AS dst, a.norm_title
FROM t a JOIN t b USING (norm_title)
WHERE a.norm_title <> '' AND a.doc_id < b.doc_id
ORDER BY src, dst
"""


def q_link_fuzzy_lsh(spark, sf):
    """Fuzzy entity linking with MinHash-LSH candidate generation (the
    north-star link-stage blocking path; reference exact-title precedent
    get_links.py:74-133): each document's ASCII-title prefix is the
    dictionary entry; its shorter truncated prefix is the 'noisy
    mention'; blocking = char-5-gram (LINK_N) MinHash banding — n>=5
    because natural-language 3-grams are the quadratic-candidate trap
    (see fuzzy_link_lsh's parameter discipline); verification =
    exact Jaccard, link = per-mention argmax over a 0.5 floor. The
    dictionary side is broadcast — the mention table never shuffles."""
    from .corpus.dedup_oracle import (
        LINK_BANDS,
        LINK_DICT_PREFIX,
        LINK_MENTION_PREFIX,
        LINK_N,
        LINK_NUM_HASHES,
        LINK_THRESHOLD,
    )
    from .pipeline.link import fuzzy_link_lsh

    # small-file scan artifact (same as q_dedup_ngram_jaccard): the
    # sf-scale documents table arrives as one parquet row group per ~1M
    # rows, so the key-derivation pass would run in 1-2 scan tasks.
    # doc_id-hash spread (no round-robin pre-sort) buys full width.
    d = _t(spark, sf, "documents").select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )

    # Key derivation was 2/3 of the round-5 wall at 10x scale: the JVM
    # regexp_replace scans and REBUILDS the whole ~3 KB text per doc to
    # keep 64 chars, and the mention/dictionary union evaluated it twice
    # per doc (one per branch). Two fixes, identical keys:
    # * the strip runs as a pyarrow RE2 kernel per batch (guide §4.2) —
    #   measured 5.7x over the JVM regex here, byte-identical output
    #   (the filtered string is pure ASCII, so codeunit-vs-codepoint
    #   slicing and lowercasing coincide; RE2 and Java agree on the
    #   [^A-Za-z ] class for every valid string);
    # * the (doc_id, key) table is cached and BOTH sides read it, so the
    #   strip happens once per doc, not once per union branch. The cache
    #   joins fuzzy_link_lsh's registry and is released on the next call.
    @F.pandas_udf("string")
    def _ascii_prefix_key(texts):
        import pyarrow as pa
        import pyarrow.compute as pc

        arr = pa.Array.from_pandas(texts)
        filtered = pc.replace_substring_regex(arr, pattern="[^A-Za-z ]", replacement="")
        return pc.utf8_lower(
            pc.utf8_slice_codeunits(filtered, 0, LINK_DICT_PREFIX)
        ).to_pandas()

    base = (
        d.select("doc_id", _ascii_prefix_key(F.col("text")).alias("key"))
        .filter(F.col("key") != "")
        .cache()
    )
    dictionary = base
    mentions = base.select(
        "doc_id", F.substring("key", 1, LINK_MENTION_PREFIX).alias("key")
    )
    return fuzzy_link_lsh(
        mentions,
        dictionary,
        id_col="doc_id",
        text_col="key",
        dict_id_col="doc_id",
        dict_text_col="key",
        n=LINK_N,
        num_hashes=LINK_NUM_HASHES,
        bands=LINK_BANDS,
        threshold=LINK_THRESHOLD,
        pre_caches=[base],
    ).orderBy("src")


def q_join_asof(spark, sf):
    """As-of join (attribution): each click event picks the user's most
    recent view at-or-before it — the classic operator Spark lacks,
    expressed as one union + one key-partitioned window (no per-key
    pair enumeration). Oracle: DuckDB's native ASOF LEFT JOIN."""
    from .operators.joins import asof_join

    e = _t(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    # pre-dedup exact-duplicate right keys (user_id, ts) keeping
    # max(view_id): DuckDB ASOF JOIN's pick among tied right rows is
    # unspecified, so the tie-break is pinned identically on both sides
    # instead of relying on the engines' internal choices
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    out = asof_join(clicks, views, on="user_id", ts="ts", right_cols=["view_id", "ts"])
    # TIMESTAMP_NTZ has no direct long cast in Spark 4 — hop through
    # timestamp (session tz pinned to UTC, matching DuckDB's epoch())
    as_epoch = lambda c: F.col(c).cast("timestamp").cast("long")  # noqa: E731
    return out.select(
        "event_id",
        "user_id",
        as_epoch("ts").alias("click_ts"),
        F.col("view_id_r").alias("view_id"),
        as_epoch("ts_r").alias("view_ts"),
    ).orderBy("event_id")


SQL_JOIN_ASOF = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
views AS (
  SELECT max(event_id) AS view_id, user_id, ts FROM events
  WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id,
       floor(epoch(c.ts))::BIGINT AS click_ts,
       v.view_id,
       floor(epoch(v.ts))::BIGINT AS view_ts
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND v.ts <= c.ts
ORDER BY c.event_id
"""


def q_diff_agreement(spark, sf):
    """Agreement diff between two independent labelers (M9 semantics,
    extractors/misc/aggreement.py:25-45): full confusion matrix of the
    n-gram-marker language ID vs a stopword-threshold classifier."""
    d = _t(spark, sf, "documents")
    en_stop = stopword_hits(F.col("text"))
    pred_b = F.when(en_stop > 0, F.lit("en")).otherwise(F.lit("und"))
    return (
        d.select(lang_id(F.col("text")).alias("pred_a"), pred_b.alias("pred_b"))
        .groupBy("pred_a", "pred_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("pred_a", "pred_b")
    )


SQL_DIFF_AGREEMENT = f"""
WITH scored AS (
  SELECT {_score_sql(_MARKERS["en"])} AS s_en,
         {_score_sql(_MARKERS["es"])} AS s_es,
         {_score_sql(_MARKERS["de"])} AS s_de,
         {_score_sql(_MARKERS["fr"])} AS s_fr,
         {' + '.join(_occ_sql(w) for w in _STOP_EN)} AS stop_en
  FROM documents
), pred AS (
  SELECT CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
              WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
              WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
              WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
              ELSE 'fr' END AS pred_a,
         CASE WHEN stop_en > 0 THEN 'en' ELSE 'und' END AS pred_b
  FROM scored
)
SELECT pred_a, pred_b, count(*) AS n FROM pred
GROUP BY pred_a, pred_b ORDER BY pred_a, pred_b
"""


def q_sample_stratified(spark, sf):
    """Deterministic stratified sampling (U4/A7 semantics, cli.py:74-83
    train/test split): md5-bucketed per-stratum fractions (en 50%,
    others 25%) — reproducible across engines and runs, unlike
    rand()-based sampleBy. Returns the sampled ids."""
    d = _t(spark, sf, "documents")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    keep = F.when(F.col("lang") == "en", nib.isin(*"01234567")).otherwise(
        nib.isin(*"0123")
    )
    return d.filter(keep).select("doc_id", "lang").orderBy("doc_id")


SQL_SAMPLE_STRATIFIED = """
SELECT doc_id, lang FROM documents
WHERE CASE WHEN lang = 'en'
           THEN substr(md5(doc_id::VARCHAR), 1, 1) IN ('0','1','2','3','4','5','6','7')
           ELSE substr(md5(doc_id::VARCHAR), 1, 1) IN ('0','1','2','3') END
ORDER BY doc_id
"""


QUERIES_DOCS = {
    "text_stats": (q_text_stats, SQL_TEXT_STATS),
    "text_langid": (q_text_langid, SQL_TEXT_LANGID),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, None),
    "dedup_simhash": (q_dedup_simhash, None),
    "ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN_TOPK),
    "ann_bucketed": (q_ann_bucketed, SQL_ANN_BUCKETED),
    "emb_near_dups": (q_emb_near_dups, SQL_EMB_NEAR_DUPS),
    "multimodal_features": (q_multimodal_features, None),
    "sim_tfidf_topk": (q_sim_tfidf_topk, SQL_SIM_TFIDF),
    "link_title_match": (q_link_title_match, SQL_LINK_TITLE),
    "link_fuzzy_lsh": (q_link_fuzzy_lsh, None),
    "join_asof": (q_join_asof, SQL_JOIN_ASOF),
    "diff_agreement": (q_diff_agreement, SQL_DIFF_AGREEMENT),
    "sample_stratified": (q_sample_stratified, SQL_SAMPLE_STRATIFIED),
}
