"""Text and corpus-curation keys: token statistics, quality filters and
language models (``text_*``), and corpus construction: packing,
mixtures, splits, vocabularies, deduplication funnels and drift
(``corpus_*``).

Token and hash expressions come from ``ext.text`` (``tokens``,
``token_hash``); their DuckDB twins are ``registry_util.SQL_TOKS`` and
``SQL_HASH``, so oracle token sets and hashes match bit for bit.
Exactness follows the house rules of ``registry_util``.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .ext import corpus as C
from .ext import text as TX
from .ext.text import token_hash, tokens
from .ops.scale import spread, truncate_lineage
from .registry_util import (
    BM25_SQL,
    MINHASH_SQL,
    QueryDef,
    SPAN_W,
    SQL_DOC_SHINGLES,
    SQL_TOKS,
    bm25_topk,
    dedup_clusters_sql,
    dedup_survivorship,
    round2,
    shared_minhash_cand_stats,
    t,
)


# BPE-ish pre-tokenizer: letter runs | digit runs | single punctuation —
# the GPT-2-style split shape, minus byte-level merges. Character classes
# only, so Java and RE2 regex dialects agree exactly.
BPEISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def _text_token_count(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPEISH_PATTERN), 0)).alias(
            "n_subwords"
        ),
        F.length("text").alias("n_chars_c"),
    )


_TOKEN_COUNT_SQL = f"""
WITH tok AS (SELECT doc_id, text, {SQL_TOKS} AS toks FROM documents)
SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct_tokens,
       len(regexp_extract_all(text, '{BPEISH_PATTERN}')) AS n_subwords,
       length(text) AS n_chars_c
FROM tok
"""


def _text_tfidf(spark, sf_dir):
    """Corpus TF-IDF: two aggregations (term-freq, doc-freq), vocab
    broadcast back — the classic feature-extraction pass."""
    return TX.tfidf(t(spark, sf_dir, "documents"), "doc_id", "text", min_df=2)


_TFIDF_SQL = f"""
WITH tok AS (SELECT doc_id AS doc, unnest({SQL_TOKS}) AS term FROM documents),
tf AS (SELECT doc, term, count(*) AS tf_raw FROM tok GROUP BY doc, term),
dl AS (SELECT doc, sum(tf_raw) AS len FROM tf GROUP BY doc),
dfreq AS (SELECT term, count(DISTINCT doc) AS df FROM tf GROUP BY term
          HAVING count(DISTINCT doc) >= 2),
nd AS (SELECT count(*) AS n FROM documents)
SELECT tf.doc, tf.term, tf.tf_raw, dfreq.df,
       floor((tf.tf_raw::DOUBLE / dl.len)
             * ln((nd.n::DOUBLE + 1.0) / (dfreq.df::DOUBLE + 1.0)) * 1e8 + 0.5) / 1e8
         AS tfidf8
FROM tf JOIN dfreq USING (term) JOIN dl USING (doc) CROSS JOIN nd
"""


def _sql_lang_scores() -> str:
    return ", ".join(
        f"len(list_filter(toks, x -> list_contains(["
        + ", ".join(f"'{w}'" for w in ws)
        + f"], x))) AS {lang}_hits"
        for lang, ws in TX.STOPWORDS.items()
    )


_LANG_SQL = f"""
WITH tok AS (SELECT doc_id, lang, {SQL_TOKS} AS toks FROM documents),
sc AS (SELECT doc_id, lang, toks, {_sql_lang_scores()} FROM tok)
SELECT doc_id, lang AS labeled_lang,
       CASE WHEN en_hits >= greatest(de_hits, es_hits, fr_hits) THEN 'en'
            WHEN de_hits >= greatest(es_hits, fr_hits) THEN 'de'
            WHEN es_hits >= fr_hits THEN 'es'
            ELSE 'fr' END AS predicted_lang,
       floor((en_hits::DOUBLE / len(toks)) * 10000 + 0.5) / 10000.0 AS en_ratio4
FROM sc
"""


def _text_language_id(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").withColumn("toks", TX.tokens(F.col("text")))
    en_ratio = TX.stopword_hits(F.col("toks"), TX.STOPWORDS["en"]).cast("double") / F.size(
        "toks"
    )
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        TX.predict_language(F.col("toks")).alias("predicted_lang"),
        (F.floor(en_ratio * 10000 + 0.5) / 10000.0).alias("en_ratio4"),
    )


_EN_LIST = "[" + ", ".join(f"'{w}'" for w in TX.STOPWORDS["en"]) + "]"

_QUALITY_SQL = f"""
WITH tok AS (SELECT doc_id, text, {SQL_TOKS} AS toks FROM documents)
SELECT doc_id,
       length(text) AS n_chars_c,
       len(toks) AS n_tokens,
       floor((least(len(toks)::DOUBLE / 100.0, 1.0) * 0.4
              + (len(list_filter(toks, x -> list_contains({_EN_LIST}, x)))::DOUBLE
                 / len(toks)) * 0.3
              + (length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
                 / length(text)) * 0.3) * 10000 + 0.5) / 10000.0 AS quality4
FROM tok
"""


def _text_quality(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").withColumn("toks", TX.tokens(F.col("text")))
    q = TX.quality_score(F.col("text"), F.col("toks"))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_c"),
        F.size("toks").alias("n_tokens"),
        (F.floor(q * 10000 + 0.5) / 10000.0).alias("quality4"),
    )


def _text_repetition(spark, sf_dir):
    """Gopher-style repetition/shape quality stats per document."""
    return TX.repetition_stats(t(spark, sf_dir, "documents"), "doc_id", "text")


_REPETITION_SQL = f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
g AS (SELECT doc_id, toks,
             CASE WHEN len(toks) >= 2
                  THEN list_transform(range(1, len(toks)),
                                      i -> toks[i] || ' ' || toks[i + 1])
                  ELSE []::VARCHAR[] END AS grams
      FROM tok)
SELECT doc_id,
       len(grams) AS n_2grams,
       len(list_distinct(grams)) AS n_distinct_2grams,
       floor(CASE WHEN len(grams) > 0
                  THEN (len(grams) - len(list_distinct(grams)))::DOUBLE / len(grams)
                  ELSE 0.0 END * 10000 + 0.5) / 10000.0 AS dup_2gram_frac4,
       list_max(list_transform(toks, x -> length(x))) AS max_word_len,
       floor(CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                       / len(toks)
                  ELSE 0.0 END * 10000 + 0.5) / 10000.0 AS mean_word_len4
FROM g
"""


def _text_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag corpus docs sharing >=1 shingle
    with the benchmark subset (deterministic stand-in: doc_id % 50 == 0);
    benchmark docs themselves are excluded from the corpus side."""
    docs = t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return TX.benchmark_overlap(corpus, bench, "doc_id", "text")


_DECONTAMINATE_SQL = f"""
WITH {SQL_DOC_SHINGLES},
bench AS (SELECT DISTINCT unnest(shd) AS s FROM sh WHERE doc_id % 50 = 0),
corpus AS (SELECT doc_id, unnest(shd) AS s FROM sh WHERE doc_id % 50 <> 0)
SELECT doc_id, count(*) AS n_shared_shingles
FROM corpus JOIN bench USING (s)
GROUP BY doc_id
"""


def _text_length_histogram(spark, sf_dir):
    """Log2-bucketed token-length histogram — the length-distribution
    audit every corpus build starts with. Integer-exact bucketing via
    the binary-digit count (length(bin(n)) - 1 == floor(log2 n)) so
    both engines agree without floating-point log."""
    docs = t(spark, sf_dir, "documents")
    n_tokens = F.size(TX.tokens(F.col("text")))
    b = docs.select(n_tokens.alias("n_tokens")).filter(F.col("n_tokens") > 0)
    return (
        b.withColumn(
            "bucket", (F.length(F.bin(F.col("n_tokens").cast("long"))) - 1)
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )


_LENGTH_HISTOGRAM_SQL = f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
b AS (SELECT len(toks) AS n_tokens, length(bin(len(toks))) - 1 AS bucket
      FROM tok WHERE len(toks) > 0)
SELECT bucket, count(*) AS n_docs, min(n_tokens) AS min_tokens,
       max(n_tokens) AS max_tokens,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
FROM b GROUP BY bucket
"""


def _text_quality_filter(spark, sf_dir):
    """C4/Gopher-style composite quality GATE (the score variant above
    ranks; this one filters): keep docs with >= 30 tokens, unique-token
    ratio >= 0.25, mean token length in [2, 8], and at least one
    stopword. All predicates are integer-exact or a single IEEE double
    division of exact ints, so both engines make identical keep
    decisions."""
    docs = t(spark, sf_dir, "documents").withColumn("toks", TX.tokens(F.col("text")))
    n_tokens = F.size("toks").cast("long")
    n_distinct = F.size(F.array_distinct("toks")).cast("long")
    n_chars_ns = F.length(F.translate("text", " ", "")).cast("long")
    distinct_ratio = n_distinct.cast("double") / n_tokens
    mean_len = n_chars_ns.cast("double") / n_tokens
    has_stop = F.array_contains("toks", "the") | F.array_contains("toks", "a")
    return (
        docs.filter(n_tokens > 0)
        .filter(
            (n_tokens >= 30)
            & (distinct_ratio >= 0.25)
            & (mean_len >= 2.0)
            & (mean_len <= 8.0)
            & has_stop
        )
        .select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            (F.floor(distinct_ratio * 10000 + 0.5) / 10000.0).alias("distinct_ratio4"),
            (F.floor(mean_len * 10000 + 0.5) / 10000.0).alias("mean_token_len4"),
        )
    )


_QUALITY_FILTER_SQL = f"""
WITH tok AS (SELECT doc_id, text, {SQL_TOKS} AS toks FROM documents),
m AS (SELECT doc_id,
             len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_distinct,
             length(replace(text, ' ', '')) AS n_chars_ns,
             (list_contains(toks, 'the') OR list_contains(toks, 'a')) AS has_stop
      FROM tok WHERE len(toks) > 0)
SELECT doc_id, n_tokens,
       floor((n_distinct::DOUBLE / n_tokens) * 10000 + 0.5) / 10000.0
         AS distinct_ratio4,
       floor((n_chars_ns::DOUBLE / n_tokens) * 10000 + 0.5) / 10000.0
         AS mean_token_len4
FROM m
WHERE n_tokens >= 30
  AND n_distinct::DOUBLE / n_tokens >= 0.25
  AND n_chars_ns::DOUBLE / n_tokens >= 2.0
  AND n_chars_ns::DOUBLE / n_tokens <= 8.0
  AND has_stop
"""


def _text_fingerprint(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").withColumn("toks", TX.tokens(F.col("text")))
    return docs.select("doc_id", TX.fingerprint(F.col("toks")).alias("fp"))


def _corpus_pack_chunks(spark, sf_dir):
    return C.pack_chunks(t(spark, sf_dir, "documents"))


_PACK_SQL = f"""
WITH d AS (SELECT doc_id, source, len({SQL_TOKS}) AS n_tok,
                  CAST(floor(doc_id / {C.PACK_SHARD_DOCS}) AS BIGINT) AS shard
           FROM documents),
s AS (SELECT *, sum(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM d),
c AS (SELECT *, CAST(floor((cum - n_tok) / {C.PACK_BUDGET}) AS BIGINT)
                  AS chunk_id
      FROM s)
SELECT source, shard, chunk_id, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS chunk_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM c GROUP BY 1, 2, 3
"""


def _corpus_vocab_topk(spark, sf_dir):
    return C.vocab_topk(t(spark, sf_dir, "documents"))


_VOCAB_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({SQL_TOKS}) AS term FROM documents),
agg AS (SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
        FROM tok GROUP BY 1),
top AS (SELECT * FROM agg ORDER BY tf DESC, term LIMIT 50)
SELECT term, tf, df, row_number() OVER (ORDER BY tf DESC, term) AS rnk FROM top
"""


def _corpus_mixture_sample(spark, sf_dir):
    return C.mixture_sample(t(spark, sf_dir, "documents"))


_MIXTURE_SQL = f"""
WITH r AS (
  SELECT source, doc_id,
         CASE WHEN substr(source, length(source), 1)
                   IN ('0','2','4','6','8')
              THEN {C.MIX_HI_RATE} ELSE {C.MIX_LO_RATE} END AS rate
  FROM documents),
k AS (
  SELECT source,
         CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT
                   < CAST(floor(rate * 65536) AS BIGINT)
              THEN 1 ELSE 0 END AS kept
  FROM r)
SELECT source, count(*) AS n_docs, CAST(sum(kept) AS BIGINT) AS n_kept,
       floor((sum(kept)::DOUBLE / count(*)) * 10000 + 0.5) / 10000.0
         AS achieved_rate4
FROM k GROUP BY source
"""


def _text_pii_redact(spark, sf_dir):
    """PII scrub over documents; the fixture corpus carries no PII, so a
    deterministic augmentation plants synthetic emails/phones keyed by
    doc_id first — the redaction (count + strip) then runs on real
    regexp built-ins against varying per-row content."""
    docs = t(spark, sf_dir, "documents")
    email = F.when(
        F.col("doc_id") % 3 != 0,
        F.concat(
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    synth = F.concat(F.col("text"), email, phone)
    n_emails, n_phones, redacted = TX.redact_pii(synth)
    return docs.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


_PII_SQL = f"""
WITH s AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 <> 0
                 THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 2 = 0
                 THEN ' call 555-' || lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0')
                 ELSE '' END AS synth
  FROM documents)
SELECT doc_id,
       len(regexp_extract_all(synth, '{TX.EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(synth, '{TX.PHONE_RE}')) AS n_phones,
       md5(regexp_replace(regexp_replace(synth, '{TX.EMAIL_RE}', '<EMAIL>', 'g'),
                          '{TX.PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM s
"""


def _corpus_source_composition(spark, sf_dir):
    """Per-source mixture audit; corpus total via 1-row broadcast
    crossJoin (single job, no eager count)."""
    return C.source_composition(t(spark, sf_dir, "documents"))


_SOURCE_COMP_SQL = """
WITH per AS (SELECT source, count(*) AS n_docs,
                    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                    count(DISTINCT lang) AS n_langs
             FROM documents GROUP BY 1),
tot AS (SELECT count(*) AS total_docs FROM documents)
SELECT source, n_docs, sum_chars, n_langs,
       floor((CAST(n_docs AS DOUBLE) / total_docs) * 1e6 + 0.5) / 1e6
         AS share6,
       floor((CAST(sum_chars AS DOUBLE) / n_docs) * 100 + 0.5) / 100.0
         AS mean_chars2
FROM per, tot
"""


def _text_bigram_topk(spark, sf_dir):
    """Top-40 corpus bigrams via distributed TakeOrderedAndProject."""
    return TX.bigram_topk(t(spark, sf_dir, "documents"))


_BIGRAM_SQL = f"""
WITH t AS (SELECT {SQL_TOKS} AS tk FROM documents),
g AS (SELECT tk[i] || ' ' || tk[i + 1] AS bigram
      FROM t, UNNEST(range(1, len(tk))) AS r(i)
      WHERE len(tk) >= 2),
agg AS (SELECT bigram, count(*) AS tf FROM g GROUP BY 1),
top AS (SELECT * FROM agg ORDER BY tf DESC, bigram LIMIT 40)
SELECT bigram, tf, row_number() OVER (ORDER BY tf DESC, bigram) AS rnk FROM top
"""


def _corpus_curation_funnel(spark, sf_dir):
    """Four-stage curation funnel (quality -> language -> dedup
    canonical -> mixture keep) in one scan + one window shuffle."""
    return C.curation_funnel(t(spark, sf_dir, "documents"))


_EN_LIST_P = "[" + ", ".join(f"'{w}'" for w in TX.STOPWORDS["en"]) + "]"

_CURATION_SQL = f"""
WITH tok AS (SELECT doc_id, source, lang, text, {SQL_TOKS} AS toks
             FROM documents),
s AS (SELECT doc_id, source, md5(text) AS h,
             (least(len(toks)::DOUBLE / 100.0, 1.0) * 0.4
              + (len(list_filter(toks, x -> list_contains({_EN_LIST_P}, x)))::DOUBLE
                 / len(toks)) * 0.3
              + (length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
                 / length(text)) * 0.3) >= 0.45 AS pq,
             lang = 'en' AS is_en
      FROM tok),
f AS (SELECT *, pq AND is_en AS pl FROM s),
c AS (SELECT *, min(CASE WHEN pl THEN doc_id END)
                  OVER (PARTITION BY h) AS msur
      FROM f),
k AS (SELECT source, pq, pl, (pl AND doc_id = msur) AS canon,
             (pl AND doc_id = msur
              AND ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT
                  < CAST(floor(CASE WHEN substr(source, length(source), 1)
                                         IN ('0','2','4','6','8')
                                    THEN {C.MIX_HI_RATE}
                                    ELSE {C.MIX_LO_RATE} END * 65536)
                         AS BIGINT)) AS keep
      FROM c)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN pq THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN pl THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
       CAST(sum(CASE WHEN canon THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM k GROUP BY source
"""


def _text_keywords_topk(spark, sf_dir):
    """Per-document keyword extraction: top-3 terms by TF-IDF — the
    document-tagging pass of a corpus pipeline. Reuses the tfidf
    operator (broadcast 1-row corpus count, |vocab|-sized DF table) and
    ranks within each document (keyed window, bounded by per-doc
    vocabulary). Ranking on the ROUNDED tfidf8 keeps the tie-break
    engine-identical; ties resolve by term asc."""
    scored = TX.tfidf(t(spark, sf_dir, "documents"), "doc_id", "text")
    w = Window.partitionBy("doc").orderBy(
        F.col("tfidf8").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc", "term", "tfidf8", "rnk")
    )


_KEYWORDS_SQL = f"""
WITH tok AS (SELECT doc_id AS doc, unnest({SQL_TOKS}) AS term FROM documents),
tf AS (SELECT doc, term, count(*) AS tf_raw FROM tok GROUP BY doc, term),
dl AS (SELECT doc, sum(tf_raw) AS len FROM tf GROUP BY doc),
dfreq AS (SELECT term, count(DISTINCT doc) AS df FROM tf GROUP BY term
          HAVING count(DISTINCT doc) >= 2),
nd AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc, tf.term,
         floor((tf.tf_raw::DOUBLE / dl.len)
               * ln((nd.n::DOUBLE + 1.0) / (dfreq.df::DOUBLE + 1.0)) * 1e8
               + 0.5) / 1e8 AS tfidf8
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc) CROSS JOIN nd),
r AS (SELECT *, row_number() OVER (PARTITION BY doc
                                   ORDER BY tfidf8 DESC, term) AS rnk
      FROM scored)
SELECT doc, term, tfidf8, rnk FROM r WHERE rnk <= 3
"""


def _corpus_split_assign(spark, sf_dir):
    """Deterministic train/val/test split (90/5/5 by md5 of doc_id —
    reproducible across reruns, engines, and cluster sizes; no RNG)
    with the per-(split, source) composition report a dataset card
    needs. The hash bucket in [0, 65536) maps <58982 -> train,
    <62259 -> val, rest -> test; one scan, one aggregate."""
    docs = t(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "long"
    )
    split = (
        F.when(h < F.lit(58982), "train")
        .when(h < F.lit(62259), "val")
        .otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "source", "n_chars")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


_SPLIT_SQL = """
WITH h AS (SELECT source, n_chars,
                  ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT AS hv
           FROM documents),
s AS (SELECT CASE WHEN hv < 58982 THEN 'train'
                  WHEN hv < 62259 THEN 'val'
                  ELSE 'test' END AS split,
             source, n_chars
      FROM h)
SELECT split, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM s GROUP BY 1, 2
"""


# ---------------------------------------------------- CHUNK OVERLAP


def _corpus_chunk_overlap(spark, sf_dir):
    """Overlapping 64-token windows advancing by 48 per document — the
    RAG/pretraining chunk-prep step, entirely JVM expressions (split ->
    sequence -> explode -> slice -> array_join), zero shuffle."""
    return C.chunk_overlap(t(spark, sf_dir, "documents"))


_CHUNK_SQL = """
WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
c AS (SELECT doc_id, toks,
             unnest(range(0, CASE WHEN len(toks) <= 64 THEN 1
                                  ELSE (len(toks) - 64 + 47) // 48 + 1 END)) AS ci
      FROM d)
SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
       CAST(len(toks[ci*48 + 1 : ci*48 + 64]) AS BIGINT) AS n_tok,
       array_to_string(toks[ci*48 + 1 : ci*48 + 64], ' ') AS chunk_text
FROM c
"""


# ------------------------------------------------------ RARITY SCORE


def _text_rarity_score(spark, sf_dir):
    """Integer IDF-proxy rarity per document: each distinct token adds
    1e6 div df(token); log-free so the value hash is engine-stable."""
    return TX.rarity_score(t(spark, sf_dir, "documents"))


_RARITY_SQL = """
WITH toks AS (SELECT DISTINCT doc_id,
                     unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
              FROM documents),
d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY 1)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct_tok,
       CAST(sum(1000000 // df) AS BIGINT) AS rarity
FROM toks JOIN d USING (term)
GROUP BY doc_id
"""


# ------------------------------------------------------------ DOMAIN CAP


def _corpus_domain_cap(spark, sf_dir):
    """Per-source document cap (anti-domination sampling) via the
    salted two-level grouped top-k; per-source survivor stats."""
    kept = C.domain_cap(t(spark, sf_dir, "documents"))
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.col("n_chars").cast("long")).alias("sum_chars"),
    )


_DOMAIN_CAP_SQL = f"""
WITH s AS (
  SELECT doc_id, source, n_chars,
         md5(CAST(doc_id AS VARCHAR)) AS pick
  FROM documents),
r AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY pick, doc_id)
         AS rn
  FROM s)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM r WHERE rn <= {C.DOMAIN_CAP_K} GROUP BY 1
"""


# ------------------------------------------------------ DEDUP BY SOURCE


def _corpus_dedup_rate_by_source(spark, sf_dir):
    """Cross-source near-duplicate contamination matrix: MinHash+LSH
    near-dup pairs rolled up to (source, source) — which sources
    duplicate each other (mirror detection / mixture-weight hygiene).
    Reuses the banded-LSH pair path end-to-end; sources attach by
    doc-grain equi-join and the pair endpoint sources normalize with
    least/greatest so the matrix is upper-triangular."""
    from .ext import dedup as D

    docs = t(spark, sf_dir, "documents")
    pairs = D.near_dups_from_pair_stats(
        shared_minhash_cand_stats(spark, sf_dir), 0.5
    )
    src = docs.select("doc_id", "source")
    j = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
    )
    return j.select(
        F.least("sa", "sb").alias("source_a"),
        F.greatest("sa", "sb").alias("source_b"),
    ).groupBy("source_a", "source_b").agg(F.count(F.lit(1)).alias("n_pairs"))


def _dedup_rate_sql() -> str:
    return f"""
WITH pairs AS ({MINHASH_SQL}),
src AS (SELECT doc_id, source FROM documents),
j AS (SELECT least(a.source, b.source) AS source_a,
             greatest(a.source, b.source) AS source_b
      FROM pairs JOIN src a ON a.doc_id = pairs.doc_a
                 JOIN src b ON b.doc_id = pairs.doc_b)
SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
FROM j GROUP BY 1, 2
"""


# ----------------------------------------------------------- MIXTURE PLAN


def _corpus_mixture_plan(spark, sf_dir):
    """Temperature-scaled (τ=0.5) source mixture plan under a 50%%
    global token budget."""
    return C.mixture_plan(t(spark, sf_dir, "documents"))


_MIX_PLAN_SQL = """
WITH per AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS avail_chars,
         CAST(floor(sqrt(CAST(sum(n_chars) AS DOUBLE))) AS BIGINT) AS sq_w
  FROM documents GROUP BY 1),
tot AS (
  SELECT CAST(sum(sq_w) AS BIGINT) AS sq_tot,
         CAST(sum(avail_chars) AS BIGINT) AS chars_tot
  FROM per)
SELECT source, avail_chars,
       floor(CAST(sq_w AS DOUBLE) / CAST(sq_tot AS DOUBLE) * 10000 + 0.5)
         / 10000.0 AS share4,
       CAST(floor(CAST(chars_tot * 50 AS DOUBLE) / 100.0
                  * (CAST(sq_w AS DOUBLE) / CAST(sq_tot AS DOUBLE)))
            AS BIGINT) AS target_chars,
       floor(least(1.0,
                   CAST(CAST(floor(CAST(chars_tot * 50 AS DOUBLE) / 100.0
                              * (CAST(sq_w AS DOUBLE) / CAST(sq_tot AS DOUBLE)))
                        AS BIGINT) AS DOUBLE)
                   / CAST(avail_chars AS DOUBLE)) * 10000 + 0.5) / 10000.0
         AS rate4
FROM per, tot
"""


# ------------------------------------------------------------- CDC CHUNKS


def _corpus_cdc_chunks(spark, sf_dir):
    """Content-defined (Rabin-boundary) chunking + corpus-wide
    duplicate-chunk rate per source."""
    return C.cdc_chunk_stats(t(spark, sf_dir, "documents"))


_CDC_SQL = f"""
WITH staged0 AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents),
staged AS (
  SELECT * FROM staged0 WHERE len(toks) > 0),
b AS (
  SELECT doc_id, source, toks,
         list_filter(range(0, len(toks)),
                     j -> j = 0 OR
                          ('0x' || substr(md5(toks[j + 1]), 1, 8))::BIGINT
                          % {C.CDC_MASK} = 0) AS bp
  FROM staged),
e AS (
  SELECT doc_id, source, toks, bp,
         list_concat(bp[2:], [len(toks)]) AS ends
  FROM b),
ch AS (
  SELECT doc_id, source,
         md5(array_to_string(toks[z[1] + 1 : z[2]], ' '))
           AS chunk_hash,
         CAST(z[2] - z[1] AS BIGINT) AS n_tok
  FROM e, LATERAL unnest(list_zip(bp, ends)) AS u(z)),
hc AS (SELECT chunk_hash, count(*) AS cnt FROM ch GROUP BY 1)
SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       CAST(sum(n_tok) AS BIGINT) AS sum_tok,
       CAST(sum(CASE WHEN cnt > 1 THEN n_tok ELSE 0 END) AS BIGINT)
         AS dup_tok,
       floor(CAST(sum(CASE WHEN cnt > 1 THEN n_tok ELSE 0 END) AS DOUBLE)
             / CAST(sum(n_tok) AS DOUBLE) * 10000 + 0.5) / 10000.0
         AS dup_rate4
FROM ch JOIN hc USING (chunk_hash) GROUP BY 1
"""


# ------------------------------------------------------------ VOCAB DRIFT

_DRIFT_VOCAB_K = 50


def _corpus_vocab_drift(spark, sf_dir):
    """Per-source vocabulary drift against the corpus: χ² statistic of
    each source's top-vocab term counts vs the corpus-wide expectation
    — the log-free distribution-shift detector (a KL/perplexity drift
    score needs log(), whose last-ulp differs across libm builds and
    can flip a value hash; χ² is plain arithmetic over exact
    integers)."""
    from .ops.scale import ranked_topk

    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    vocab_counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("ctf"))
    vocab = ranked_topk(
        vocab_counts, [("ctf", "desc"), ("term", "asc")], _DRIFT_VOCAB_K
    ).select("term", "ctf")
    in_vocab = tok.join(F.broadcast(vocab), "term")
    per = in_vocab.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("c_st"),
        F.max("ctf").alias("ctf"),
    )
    tot = vocab.agg(F.sum("ctf").alias("ctot"))
    src_tot = per.groupBy("source").agg(F.sum("c_st").alias("ts"))
    j = per.join(src_tot, "source").crossJoin(F.broadcast(tot))
    e = (
        F.col("ts").cast("double")
        * F.col("ctf").cast("double")
        / F.col("ctot").cast("double")
    )
    chi_term = (F.col("c_st").cast("double") - e) * (
        F.col("c_st").cast("double") - e
    ) / e
    # each term's contribution rounds to integer micro-units BEFORE the
    # sum: a raw double sum is partition-order-dependent (the
    # nondeterminism class this repo bans from oracle columns); the
    # per-term expression is one fixed IEEE tree, and integer sums
    # commute
    chi_micro = F.floor(chi_term * 1_000_000 + F.lit(0.5)).cast("long")
    return j.groupBy("source").agg(
        F.max("ts").alias("n_vocab_tokens"),
        (
            round2(F.sum(chi_micro).cast("double") / 1_000_000)
        ).alias("chi2_2"),
    )


_DRIFT_SQL = f"""
WITH tok AS (
  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> ''))
           AS term
  FROM documents),
vc AS (SELECT term, CAST(count(*) AS BIGINT) AS ctf FROM tok GROUP BY 1),
vocab AS (SELECT term, ctf FROM vc
          ORDER BY ctf DESC, term LIMIT {_DRIFT_VOCAB_K}),
iv AS (SELECT t.source, t.term, v.ctf FROM tok t JOIN vocab v USING (term)),
per AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c_st,
               CAST(max(ctf) AS BIGINT) AS ctf
        FROM iv GROUP BY 1, 2),
tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS ctot FROM vocab),
st AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS ts FROM per GROUP BY 1)
SELECT per.source, CAST(max(st.ts) AS BIGINT) AS n_vocab_tokens,
       floor(CAST(sum(CAST(floor(
                 (CAST(c_st AS DOUBLE)
                  - CAST(st.ts AS DOUBLE) * CAST(per.ctf AS DOUBLE)
                    / CAST(tot.ctot AS DOUBLE))
                 * (CAST(c_st AS DOUBLE)
                    - CAST(st.ts AS DOUBLE) * CAST(per.ctf AS DOUBLE)
                      / CAST(tot.ctot AS DOUBLE))
                 / (CAST(st.ts AS DOUBLE) * CAST(per.ctf AS DOUBLE)
                    / CAST(tot.ctot AS DOUBLE))
                 * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000 * 100 + 0.5) / 100.0 AS chi2_2
FROM per JOIN st ON st.source = per.source, tot
GROUP BY 1
"""


# ----------------------------------------------------- BPE MERGE TRAIN

BPE_MERGES = 3


def _corpus_bpe_merges(spark, sf_dir):
    """The first ``BPE_MERGES`` byte-pair-encoding training merges over
    the corpus — the tokenizer-training primitive itself, not a proxy:
    count adjacent symbol pairs weighted by word frequency, take the
    most frequent pair (ties by pair text — the deterministic variant
    of the classic algorithm), merge it everywhere (left-to-right
    non-overlapping and TOKEN-ALIGNED), recount, repeat.

    The merge is applied with a boundary-anchored ``replace``: the
    sequence is wrapped in sentinel spaces with every internal
    separator doubled (``' ' || replace(seq,' ','  ') || ' '``), so the
    pattern ``' p1  p2 '`` can only match at token boundaries — a plain
    substring replace on the single-space form would merge ACROSS
    boundaries (pair ``'h e'`` matching inside ``'th e'`` after an
    earlier ``'t h'`` merge, corrupting later merge ranks). The
    replacement ``' merged '`` restores the consumed boundary halves,
    so scan-continue-after-replacement replace in both engines is
    exactly the left-to-right non-overlapping token merge; un-doubling
    (trim + ``'  '``→``' '``) returns to the canonical form.

    Scale shape: ONE corpus-wide token explode + groupBy produces the
    word-frequency table, and every merge iteration runs on THAT table
    (vocabulary-grain, tiny by Heaps' law relative to the corpus); the
    top pair is an orderBy().limit(1) — a distributed
    TakeOrderedAndProject — broadcast back as a 1-row scalar. Each
    iteration's sequence table is localCheckpointed: the top-pair and
    the merged-sequence branches both consume it, and without
    truncation the lineage re-derives the corpus explode 2^k times."""
    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.col("text").alias("_t"))
        .transform(spread)
        .select(F.explode(tokens(F.col("_t"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    seq = words.select(
        F.expr(
            "array_join(transform(sequence(1, length(word)),"
            " i -> substr(word, i, 1)), ' ')"
        ).alias("seq"),
        "n",
    ).localCheckpoint()
    picks = []
    for k in range(1, BPE_MERGES + 1):
        toks = F.split(F.col("seq"), " ")
        grams = F.expr(
            "transform(sequence(1, size(split(seq, ' ')) - 1),"
            " i -> concat(split(seq, ' ')[i - 1], ' ', split(seq, ' ')[i]))"
        )
        pairs = (
            seq.filter(F.size(toks) >= 2)
            .select("n", F.explode(grams).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("n").alias("cnt"))
        )
        top1 = pairs.orderBy(F.col("cnt").desc(), F.col("pair").asc()).limit(1)
        picks.append(
            top1.select(
                F.lit(k).alias("merge_rank"), "pair", F.col("cnt").alias("cnt")
            )
        )
        seq = (
            seq.crossJoin(
                F.broadcast(
                    top1.select(
                        F.col("pair").alias("_p"),
                        F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("_m"),
                    )
                )
            )
            .select(
                F.trim(
                    F.replace(
                        F.replace(
                            F.concat(
                                F.lit(" "),
                                F.replace(F.col("seq"), F.lit(" "), F.lit("  ")),
                                F.lit(" "),
                            ),
                            F.concat(
                                F.lit(" "),
                                F.replace(F.col("_p"), F.lit(" "), F.lit("  ")),
                                F.lit(" "),
                            ),
                            F.concat(F.lit(" "), F.col("_m"), F.lit(" ")),
                        ),
                        F.lit("  "),
                        F.lit(" "),
                    )
                ).alias("seq"),
                "n",
            )
            .localCheckpoint()
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


def _bpe_sql() -> str:
    parts = [
        """WITH w0 AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
          AS word FROM documents)
  GROUP BY word),
s0 AS (SELECT array_to_string(list_transform(range(1, len(word) + 1),
                                             i -> word[i]), ' ') AS seq, n
       FROM w0)"""
    ]
    for k in range(1, BPE_MERGES + 1):
        parts.append(
            f""", p{k} AS (
  SELECT pair, CAST(sum(n) AS BIGINT) AS cnt
  FROM (SELECT n, unnest(list_transform(range(1, len(string_split(seq, ' '))),
                 i -> string_split(seq, ' ')[i] || ' '
                      || string_split(seq, ' ')[i + 1])) AS pair
        FROM s{k - 1} WHERE len(string_split(seq, ' ')) >= 2)
  GROUP BY pair),
t{k} AS (SELECT pair, cnt FROM p{k} ORDER BY cnt DESC, pair ASC LIMIT 1),
s{k} AS (SELECT trim(replace(
           replace(' ' || replace(s.seq, ' ', '  ') || ' ',
                   ' ' || replace(t.pair, ' ', '  ') || ' ',
                   ' ' || replace(t.pair, ' ', '') || ' '),
           '  ', ' ')) AS seq, s.n
         FROM s{k - 1} s, t{k} t)"""
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS INTEGER) AS merge_rank, pair, cnt FROM t{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return "\n".join(parts) + "\n" + sel


# ------------------------------------------- FEATURE HASHING TRICK

HASH_TRICK_BUCKETS = 16


def _text_hashing_trick(spark, sf_dir):
    """The hashing-trick featurizer (Vowpal-Wabbit-style bag of words):
    every token maps to one of 16 buckets by its md5-derived hash and
    per-(doc, bucket) counts form the fixed-width sparse feature
    vector — the constant-memory text featurization that needs NO
    vocabulary pass at any corpus size (the whole point of the trick).
    Long (doc, bucket, cnt) output keeps it sparse; one explode + one
    aggregate, the bucket hash reuses the engine-portable md5 token
    hash so the oracle reproduces bucket ids exactly."""
    docs = t(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.col("text").alias("_t"))
        .transform(spread, F.col("doc_id"))
        .select("doc_id", F.explode(tokens(F.col("_t"))).alias("term"))
    )
    bucket = F.pmod(token_hash(F.col("term")), F.lit(HASH_TRICK_BUCKETS))
    return (
        tok.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_HASH_TRICK_SQL = f"""
WITH tok AS (SELECT doc_id,
                    unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                      AS term
             FROM documents)
SELECT doc_id,
       ('0x' || substr(md5(term), 1, 8))::BIGINT % {HASH_TRICK_BUCKETS}
         AS bucket,
       CAST(count(*) AS BIGINT) AS cnt
FROM tok GROUP BY 1, 2
"""


# ------------------------------------------- VOCAB COVERAGE EVAL

COVERAGE_VOCAB_K = 20


def _corpus_ngram_coverage(spark, sf_dir):
    """Tokenizer-vocabulary coverage evaluation: what fraction of all
    corpus token OCCURRENCES does a top-K frequency vocabulary cover —
    the out-of-vocabulary-rate curve point every tokenizer budget
    decision reads. One token explode + one vocab-grain aggregate; the
    top-K cut is a distributed TakeOrderedAndProject and the coverage
    ratio divides two exact int64 sums (the K-vocab total rides back
    as a 1-row broadcast)."""
    docs = t(spark, sf_dir, "documents")
    tok = (
        docs.select(F.col("text").alias("_t"))
        .transform(spread)
        .select(F.explode(tokens(F.col("_t"))).alias("term"))
    )
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("tf")).persist()
    top = counts.orderBy(F.col("tf").desc(), F.col("term").asc()).limit(
        COVERAGE_VOCAB_K
    )
    tot = counts.agg(
        F.sum("tf").alias("total_tok"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    cov = top.agg(F.sum("tf").alias("covered_tok"))
    j = tot.crossJoin(F.broadcast(cov))
    return j.select(
        "n_terms",
        "total_tok",
        "covered_tok",
        (
            F.floor(
                F.col("covered_tok").cast("double")
                / F.col("total_tok").cast("double")
                * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("coverage4"),
    )


_NGRAM_COVERAGE_SQL = f"""
WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS term FROM documents),
c AS (SELECT term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY term),
top AS (SELECT tf FROM c ORDER BY tf DESC, term ASC LIMIT {COVERAGE_VOCAB_K}),
tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total_tok,
               CAST(count(*) AS BIGINT) AS n_terms FROM c),
cov AS (SELECT CAST(sum(tf) AS BIGINT) AS covered_tok FROM top)
SELECT n_terms, total_tok, covered_tok,
       floor(CAST(covered_tok AS DOUBLE) / CAST(total_tok AS DOUBLE)
             * 10000 + 0.5) / 10000.0 AS coverage4
FROM tot, cov
"""


# --------------------------------------------- FULL DEDUP PIPELINE


def _corpus_dedup_pipeline(spark, sf_dir):
    """The complete dedup ladder in one report — raw → exact-normalized
    canonical → near-dup survivor — with per-source counts and the
    character budget that survives. This is the shape of a real
    curation job's accounting: every stage reuses an independently
    oracle-verified operator (text_dedup_exact_normalized's
    fingerprint, dedup_survivorship's cluster election), so the
    composite is auditable piecewise AND end-to-end.

    One doc-grain pass carries boolean stage flags (exact-canonical:
    doc == min(doc) per normalized fingerprint, via groupBy+join, no
    window; near-dup survivor: unclustered OR elected keeper, LEFT
    join against the bucketed LSH+CC survivorship table) and ONE
    source-grain aggregate derives all funnel columns."""
    docs = t(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), " +", " ")))
    staged = docs.select("doc_id", "source", "n_chars", F.md5(norm).alias("fp"))
    canon = staged.groupBy("fp").agg(F.min("doc_id").alias("min_id"))
    surv = dedup_survivorship(spark, sf_dir).select(
        F.col("doc").alias("doc_id"), F.col("keep").alias("nd_keep")
    )
    flagged = (
        staged.join(canon, "fp")
        .join(surv, "doc_id", "left")
        .select(
            "source",
            "n_chars",
            (F.col("doc_id") == F.col("min_id")).alias("ex"),
            F.coalesce(F.col("nd_keep"), F.lit(True)).alias("sv"),
        )
    )
    final = F.col("ex") & F.col("sv")
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.col("ex").cast("long")).alias("n_exact"),
        F.sum(final.cast("long")).alias("n_final"),
        F.sum(F.when(final, F.col("n_chars")).otherwise(0)).alias("chars_final"),
    )


def _dedup_pipeline_sql() -> str:
    return f"""
WITH cl AS ({dedup_clusters_sql().strip()}),
sized AS (SELECT cl.doc, cl.cluster, d.n_chars
          FROM cl JOIN documents d ON d.doc_id = cl.doc),
k AS (SELECT cluster,
             -(max(struct_pack(a := n_chars, b := -doc)).b) AS keeper
      FROM sized GROUP BY cluster),
stg AS (SELECT doc_id, source, n_chars,
               md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fp
        FROM documents),
m AS (SELECT fp, min(doc_id) AS min_id FROM stg GROUP BY fp),
fl AS (SELECT stg.source, stg.n_chars,
              stg.doc_id = m.min_id AS ex,
              CASE WHEN cl.doc IS NULL THEN TRUE
                   ELSE stg.doc_id = k.keeper END AS sv
       FROM stg JOIN m USING (fp)
       LEFT JOIN cl ON cl.doc = stg.doc_id
       LEFT JOIN k ON cl.cluster = k.cluster)
SELECT source, CAST(count(*) AS BIGINT) AS n_raw,
       CAST(sum(CASE WHEN ex THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN ex AND sv THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
       CAST(sum(CASE WHEN ex AND sv THEN n_chars ELSE 0 END) AS BIGINT)
         AS chars_final
FROM fl GROUP BY source
"""


# --------------------------------------- CHAR-TRIGRAM LANGUAGE MODEL


def _text_char_trigram_lm(spark, sf_dir):
    """Character-trigram language-model TRAINING counts: top-10 char
    trigrams per language label — the statistics a real language
    identifier is fit from (the production upgrade of the stopword
    heuristic in text_language_id; at inference, a doc scores by
    summed trigram log-odds against these tables).

    Scale shape (r9): the trigram generation reads the MATERIALIZED
    shared per-doc trigram stage (one explode per process, shared with
    the perplexity bucketing; the spread-before-explode discipline
    lives in the stage build) — corpus counts are the m-weighted sum
    over the distinct (doc, tri) grain, exact by construction — then
    the per-group top-10 via the SALTED two-level grouped_topk: a
    whale language (English owning most of the corpus) never funnels
    through one reducer."""
    from .ops.scale import grouped_topk
    from .registry_util import shared_char_trigrams

    counts = (
        shared_char_trigrams(spark, sf_dir)
        .select("lang", F.col("tri").alias("trigram"), "m")
        .groupBy("lang", "trigram")
        .agg(F.sum("m").alias("cnt"))
    )
    return grouped_topk(counts, "lang", [("cnt", "desc"), ("trigram", "asc")], 10)


_TRIGRAM_LM_SQL = """
WITH tri AS (
  SELECT lang,
         unnest(CASE WHEN len(text) >= 3
                     THEN list_transform(range(1, len(text) - 1),
                                         i -> text[i : i + 2])
                     ELSE []::VARCHAR[] END) AS trigram
  FROM documents),
c AS (SELECT lang, trigram, CAST(count(*) AS BIGINT) AS cnt
      FROM tri GROUP BY lang, trigram)
SELECT lang, trigram, cnt
FROM (SELECT lang, trigram, cnt,
             row_number() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, trigram ASC) AS rn
      FROM c)
WHERE rn <= 10
"""


# ------------------------------------------ NORMALIZED EXACT DEDUP


def _text_dedup_exact_normalized(spark, sf_dir):
    """Near-exact dedup: fingerprint the NORMALIZED text (lowercase,
    trim, whitespace runs collapsed — the standard curation
    normalization before hashing) and report, per fingerprint, the
    canonical doc, copy count, and how many RAW-distinct variants the
    normalization collapsed together. One hash-groupBy shuffle on a
    16-byte key — the same scale shape as dedup_exact_hash, which this
    refines (raw md5 misses trivially-reformatted duplicates).
    Only multi-copy fingerprints are returned (singletons are not
    duplicates)."""
    docs = t(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), " +", " ")))
    return (
        docs.select(
            F.md5(norm).alias("fingerprint"),
            "doc_id",
            F.md5(F.col("text")).alias("raw_fp"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.count_distinct(F.col("raw_fp")).alias("n_raw_variants"),
        )
        .filter(F.col("n_copies") > 1)
    )


_NORM_DEDUP_SQL = """
SELECT md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fingerprint,
       min(doc_id) AS canonical_id,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_raw_variants
FROM documents
GROUP BY 1
HAVING count(*) > 1
"""


# Hashed-feature distribution width for importance resampling. 64
# buckets keeps the weight table broadcast-trivially-small at ANY corpus
# size (the bucket table's row count is the bucket count, not the vocab
# size — the same constant-memory property the hashing trick has).
DSIR_BUCKETS = 64


# Integer scale for the probability-ratio weights (6 decimal digits).
DSIR_SCALE = 1_000_000

DSIR_TOPK = 50


# ------------------------------------------- DSIR IMPORTANCE WEIGHTS


def dsir_weights(docs, target_flag=None, topk: int = DSIR_TOPK):
    """Data selection via importance resampling over hashed n-gram
    features (DSIR): estimate a target-corpus and a raw-corpus
    distribution over ``DSIR_BUCKETS`` hashed unigram+bigram buckets,
    weight every raw document by how target-like its features are, and
    return the top-``topk`` raw docs to promote. ``target_flag`` is a
    boolean Column marking target rows (default: ``lang = 'en'``).

    Exactness divergence from the paper, by design: the per-bucket
    weight is the add-1-smoothed SCALED PROBABILITY RATIO
    ``(p_b+1)*SCALE div (q_b+1)`` (integer division, exact in both
    engines) rather than its logarithm — monotone per bucket, so the
    induced per-bucket preference order is the paper's, and the doc
    score stays a pure int64 dot product the oracle hash-verifies.

    Scale shape (the whole point of hashed DSIR): ONE explode feeds ONE
    shuffle to (doc, bucket) grain with map-side partial aggregation;
    the bucket-grain distribution is a second aggregate over that
    already-reduced table (64 rows out), never a second pass over the
    corpus; the weight table broadcasts (64 rows at ANY corpus size);
    the global top-k is a distributed TakeOrderedAndProject, never a
    single-partition sort. Feature hashing is per-row array-HOF CPU, so
    the input is repartitioned first (the with_minhash discipline — a
    single-file scan would otherwise pin the md5 work to one task)."""
    if target_flag is None:
        target_flag = F.col("lang") == "en"
    toks = F.col("toks")
    # adjacent-pair bigrams, multiplicity kept (ext.text.word_2grams
    # shape): sequence is empty when the doc has a single token
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, (i + 1).cast("int")),
                F.element_at(toks, (i + 2).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bucketed = (
        docs.select(
            "doc_id",
            target_flag.alias("is_tgt"),
            tokens(F.col("text")).alias("toks"),
        )
        .transform(spread, F.col("doc_id"))
        .select(
            "doc_id",
            "is_tgt",
            F.explode(F.concat(toks, bigrams)).alias("feat"),
        )
        .select(
            "doc_id",
            "is_tgt",
            F.pmod(token_hash(F.col("feat")), F.lit(DSIR_BUCKETS)).alias("bucket"),
        )
    )
    # one corpus-wide shuffle, to (doc, side, bucket) grain
    per_doc = bucketed.groupBy("doc_id", "is_tgt", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # bucket-grain distribution from the REDUCED table (64 rows out)
    wt = (
        per_doc.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("is_tgt"), F.col("cnt")).otherwise(0)).alias("p_cnt"),
            F.sum(F.when(~F.col("is_tgt"), F.col("cnt")).otherwise(0)).alias("q_cnt"),
        )
        .select(
            "bucket",
            F.expr(f"(p_cnt + 1) * {DSIR_SCALE} div (q_cnt + 1)").alias("wt"),
        )
    )
    scored = (
        per_doc.filter(~F.col("is_tgt"))
        .join(F.broadcast(wt), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.col("wt")).alias("weight"),
            F.sum("cnt").alias("n_feats"),
        )
    )
    return scored.orderBy(F.desc("weight"), F.asc("doc_id")).limit(topk)


def _text_dsir_weights(spark, sf_dir):
    return dsir_weights(t(spark, sf_dir, "documents"))


_DSIR_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang = 'en' AS is_tgt,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
feats AS (
  SELECT doc_id, is_tgt,
         unnest(list_concat(
           toks,
           [array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))]
         )) AS feat
  FROM tok
),
bucketed AS (
  SELECT doc_id, is_tgt,
         ('0x' || substr(md5(feat), 1, 8))::BIGINT % {DSIR_BUCKETS} AS bucket
  FROM feats
),
per_doc AS (
  SELECT doc_id, is_tgt, bucket, count(*) AS cnt
  FROM bucketed GROUP BY doc_id, is_tgt, bucket
),
w AS (
  SELECT bucket,
         CAST((sum(cnt) FILTER (WHERE is_tgt) + 1) * {DSIR_SCALE}
              // (sum(cnt) FILTER (WHERE NOT is_tgt) + 1) AS BIGINT) AS wt
  FROM (SELECT bucket, is_tgt, sum(cnt) AS cnt FROM per_doc GROUP BY 1, 2)
  GROUP BY bucket
)
SELECT d.doc_id,
       CAST(sum(d.cnt * w.wt) AS BIGINT) AS weight,
       CAST(sum(d.cnt) AS BIGINT) AS n_feats
FROM per_doc d JOIN w USING (bucket)
WHERE NOT d.is_tgt
GROUP BY d.doc_id
ORDER BY weight DESC, d.doc_id ASC
LIMIT {DSIR_TOPK}
"""


# ------------------------------------------- CROSS-SOURCE OVERLAP MATRIX


def source_overlap(docs):
    """Cross-source duplication forensics: for every source pair, how
    many DISTINCT 5-token span fingerprints they share, plus per-source
    distinct-span totals and the span-set Jaccard — the audit that
    tells a corpus build which source pairs to dedup against each other
    (mirror sites, syndication, scraped re-posts) before any document-
    level pass.

    Scale shape: one per-row transform emits span fingerprints (same
    repartition-first discipline as span_dedup_stats), ONE shuffle
    reduces to distinct (source, h), and the pair count is an equi-join
    on the 64-bit fingerprint whose per-key fanout is bounded by
    C(n_sources, 2) — source count is the small dimension (dozens at
    100 TB), so the matrix is tiny even when the span table is not.
    Totals ride in as a broadcast (n_sources rows)."""
    toks = F.col("toks")
    span_hashes = F.transform(
        F.sequence(F.lit(0), F.size(toks) - SPAN_W),
        lambda i: token_hash(
            F.array_join(F.slice(toks, (i + 1).cast("int"), SPAN_W), " ")
        ),
    )
    sh = (
        docs.select("doc_id", "source", tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= SPAN_W)
        .transform(spread, F.col("doc_id"))
        .select("source", F.explode(span_hashes).alias("h"))
    )
    # ONE pass (r11): the old distinct → self-join-on-h → two margin
    # aggregates referenced the span table three times, re-running the
    # tokenize + md5-per-span pass per reference. Instead group each
    # fingerprint's source SET once (collect_set both dedups the
    # (source, h) grain and bounds state by the source count — dozens
    # at any corpus size, the operator's own documented argument), and
    # emit per-source singles AND ordered source pairs from the set in
    # one in-place expansion; a single count aggregate then carries
    # both the per-source distinct-span totals (y IS NULL rows) and
    # the pair overlaps. The combined table is ≤ |sources|² rows —
    # metadata — so truncating it is free and the split below does not
    # re-derive the corpus pass.
    sets = sh.groupBy("h").agg(
        F.sort_array(F.collect_set("source")).alias("ss")
    )
    emit = F.expr(
        "concat("
        " transform(ss, s -> struct(s AS x, CAST(NULL AS STRING) AS y)),"
        " flatten(transform(ss, a -> transform("
        "   filter(ss, b -> b > a), b -> struct(a AS x, b AS y)))))"
    )
    counts = (
        sets.select(F.explode(emit).alias("e"))
        .groupBy(F.col("e.x").alias("x"), F.col("e.y").alias("y"))
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(truncate_lineage)
    )
    tot = counts.filter(F.col("y").isNull()).select(
        F.col("x").alias("source"), "n"
    )
    ov = counts.filter(F.col("y").isNotNull()).select(
        F.col("x").alias("src_a"),
        F.col("y").alias("src_b"),
        F.col("n").alias("n_shared"),
    )
    ta = F.broadcast(tot.select(F.col("source").alias("src_a"), F.col("n").alias("n_a")))
    tb = F.broadcast(tot.select(F.col("source").alias("src_b"), F.col("n").alias("n_b")))
    jac = F.col("n_shared").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_shared")
    )
    return (
        ov.join(ta, "src_a")
        .join(tb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_shared",
            (F.floor(jac * 10000 + 0.5) / 10000.0).alias("jaccard4"),
        )
        .orderBy("src_a", "src_b")
    )


def _corpus_source_overlap(spark, sf_dir):
    return source_overlap(t(spark, sf_dir, "documents"))


_SOURCE_OVERLAP_SQL = f"""
WITH tok AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
spans AS (
  SELECT source,
         ('0x' || substr(md5(array_to_string(
             toks[s+1:s+{SPAN_W}], ' ')), 1, 8))::BIGINT AS h
  FROM (SELECT source, toks,
               unnest(range(0, len(toks) - {SPAN_W} + 1)) AS s
        FROM tok WHERE len(toks) >= {SPAN_W})
),
sh AS (SELECT DISTINCT source, h FROM spans),
tot AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
ov AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT o.src_a, o.src_b,
       CAST(ta.n AS BIGINT) AS n_a, CAST(tb.n AS BIGINT) AS n_b,
       CAST(o.n_shared AS BIGINT) AS n_shared,
       floor(CAST(o.n_shared AS DOUBLE) / (ta.n + tb.n - o.n_shared)
             * 10000 + 0.5) / 10000.0 AS jaccard4
FROM ov o JOIN tot ta ON ta.source = o.src_a
          JOIN tot tb ON tb.source = o.src_b
ORDER BY src_a, src_b
"""


# ------------------------------------------- QUALITY THRESHOLD SWEEP

# Quality thresholds on the quality4 x10000 integer scale.
QS_THRESHOLDS = tuple(range(2000, 8001, 1000))


def quality_sweep(docs):
    """Retention curve across quality-filter thresholds: for each
    candidate cutoff, how many documents and tokens survive — the
    what-if sweep a corpus build runs BEFORE committing to a quality
    bar (the threshold is always chosen from this curve, never a
    priori). Quality is the registered heuristic (length + stopword +
    alphabetic ratios, ``ext.text.quality_score``) quantized to the
    x10000 integer grid, so every comparison is integer-exact.

    Scale shape: the per-doc score is ONE pass of JVM expressions; the
    sweep explodes each doc into |thresholds| rows (a 7x in-place
    generate, the dedup_threshold_sweep pattern) and reduces with a
    single map-side-combinable groupBy on the threshold — never one
    job per threshold, never a re-scan of the corpus."""
    toks = tokens(F.col("text"))
    q4i = F.floor(
        TX.quality_score(F.col("text"), F.col("toks")) * 10000 + F.lit(0.5)
    ).cast("long")
    per = docs.select("text", toks.alias("toks")).select(
        q4i.alias("q4i"), F.size("toks").alias("n_tok")
    )
    thr = F.explode(F.array(*[F.lit(v) for v in QS_THRESHOLDS])).alias("thr")
    return (
        per.select("q4i", "n_tok", thr)
        .groupBy("thr")
        .agg(
            F.sum(F.when(F.col("q4i") >= F.col("thr"), 1).otherwise(0)).alias(
                "n_docs"
            ),
            F.sum(
                F.when(F.col("q4i") >= F.col("thr"), F.col("n_tok")).otherwise(0)
            ).alias("n_tokens"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .select(
            "thr",
            "n_docs",
            "n_tokens",
            (
                F.floor(
                    F.col("n_docs").cast("double") / F.col("n_total") * 10000
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("pct_docs4"),
        )
        .orderBy("thr")
    )


def _corpus_quality_sweep(spark, sf_dir):
    return quality_sweep(t(spark, sf_dir, "documents"))


_QS_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"

_QS_THR_LIST = "[" + ", ".join(str(v) for v in QS_THRESHOLDS) + "]"


def _qs_en_list() -> str:
    return "[" + ", ".join(f"'{w}'" for w in TX.STOPWORDS["en"]) + "]"


_QSWEEP_SQL = f"""
WITH tok AS (SELECT doc_id, text, {_QS_TOKS} AS toks FROM documents),
per AS (
  SELECT CAST(floor((least(len(toks)::DOUBLE / 100.0, 1.0) * 0.4
              + (len(list_filter(toks, x -> list_contains({_qs_en_list()}, x)))::DOUBLE
                 / len(toks)) * 0.3
              + (length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
                 / length(text)) * 0.3) * 10000 + 0.5) AS BIGINT) AS q4i,
         len(toks) AS n_tok
  FROM tok
),
sw AS (SELECT per.*, unnest({_QS_THR_LIST}) AS thr FROM per)
SELECT CAST(thr AS INT) AS thr,
       CAST(count(*) FILTER (WHERE q4i >= thr) AS BIGINT) AS n_docs,
       CAST(COALESCE(sum(n_tok) FILTER (WHERE q4i >= thr), 0) AS BIGINT)
         AS n_tokens,
       floor(CAST(count(*) FILTER (WHERE q4i >= thr) AS DOUBLE) / count(*)
             * 10000 + 0.5) / 10000.0 AS pct_docs4
FROM sw GROUP BY thr ORDER BY thr
"""


# ------------------------------------------- TOKEN-BUDGET SAMPLING

# Budget as a percent of corpus tokens, and the bucket count for the
# hierarchical prefix sum over the hash axis (top 7 bits of the 32-bit
# hash, so bucket order == hash order).
TB_PCT = 50

TB_BUCKETS = 128

TB_BUCKET_DIV = (1 << 32) // TB_BUCKETS


def token_budget_sample(docs, pct: int = TB_PCT):
    """Deterministic budget-capped corpus selection: walk the corpus in
    key-hash order (a reproducible pseudo-random shuffle — no RNG
    state) and take documents until the token budget (``pct``% of the
    corpus) is spent; a doc is taken iff the tokens BEFORE it in hash
    order fit the budget. This is how a fixed-size training mix is cut
    from a larger pool when the unit of cost is tokens, not documents.
    Reports the per-source composition of the selected sample — the
    number that shows whether budget-capping skewed the mix.

    Scale shape: take-while over a global order is a prefix sum — the
    same cliff as cumulative-distinct, solved the same way,
    HIERARCHICALLY, on the hash axis: bucket = top hash bits (so
    bucket order IS hash order), within-bucket running sums under a
    bucket-partitioned window, bucket base offsets from a
    strictly-earlier self-join over the 128-row bucket table (bounded
    build). The budget scalar rides in as a broadcast 1-row aggregate.
    One corpus shuffle (the window's bucket partition), everything
    else metadata-sized."""
    base = docs.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).alias("n_tok"),
        token_hash(F.concat(F.lit("tb:"), F.col("doc_id").cast("string"))).alias("h"),
    ).withColumn("bucket", F.expr(f"h div {TB_BUCKET_DIV}"))
    budget = base.agg(
        F.expr(f"sum(n_tok) * {pct} div 100").alias("budget")
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = base.withColumn("cum_in_bucket", F.sum("n_tok").over(w))
    btot = base.groupBy("bucket").agg(F.sum("n_tok").alias("btok"))
    b_a = btot.select(F.col("bucket").alias("bk"))
    b_b = btot.select(F.col("bucket").alias("bk2"), "btok")
    offsets = (
        b_a.join(b_b, F.col("bk2") < F.col("bk"))
        .groupBy("bk")
        .agg(F.sum("btok").alias("off"))
    )
    sel = (
        within.join(F.broadcast(offsets), within.bucket == offsets.bk, "left")
        .join(F.broadcast(budget))
        .select(
            "source",
            "n_tok",
            (
                F.coalesce(F.col("off"), F.lit(0))
                + F.col("cum_in_bucket")
                - F.col("n_tok")
            ).alias("cum_before"),
            "budget",
        )
        .filter(F.col("cum_before") < F.col("budget"))
    )
    return (
        sel.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_taken"),
            F.sum("n_tok").alias("tokens_taken"),
        )
        .orderBy("source")
    )


def _corpus_token_budget_sample(spark, sf_dir):
    return token_budget_sample(t(spark, sf_dir, "documents"))


_TB_SQL = f"""
WITH base AS (
  SELECT doc_id, source,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok,
         ('0x' || substr(md5('tb:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           AS h
  FROM documents
),
b AS (SELECT CAST(sum(n_tok) * {TB_PCT} // 100 AS BIGINT) AS budget FROM base),
o AS (
  SELECT source, n_tok,
         sum(n_tok) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
           - n_tok AS cum_before
  FROM base
)
SELECT source, CAST(count(*) AS BIGINT) AS n_taken,
       CAST(sum(n_tok) AS BIGINT) AS tokens_taken
FROM o, b WHERE o.cum_before < b.budget
GROUP BY source ORDER BY source
"""


# =====================================================================
# Text-quality additions: Gopher rule filter, first-seen n-gram
# novelty, and CCNet-style perplexity bucketing over the char-trigram
# LM.  All corpus statistics are integer counts; the single
# transcendental (ln, for surprisal) is micro-nat-quantized PER TERM to
# int64 before any aggregation, so no float ever crosses a fold.
# =====================================================================

GOPHER_STOPWORDS = ("a", "the", "and", "of", "to", "in")

GOPHER_WC_LO, GOPHER_WC_HI = 20, 1000

GOPHER_WL_LO, GOPHER_WL_HI = 2, 8  # mean word length bounds


def gopher_rules(docs):
    """Gopher-style quality rule filter (Rae et al. 2021 §A1.1 adapted
    to the fixture corpus), reported as a per-source rejection audit:
    how many docs pass all rules, and how many fail each — the
    dashboard a curation pipeline alarms on per ingest batch.

    Rules (all integer cross-multiplications, no division anywhere):
    word count in [20, 1000]; mean word length in [2, 8] (as
    lo·n ≤ Σlen ≤ hi·n); most-frequent-token share ≤ 1/4 (4·max ≤ n);
    distinct-token ratio ≥ 3/10 (10·distinct ≥ 3·n); ≥ 2 distinct
    stopwords present.

    Scale shape: ONE shuffle to the (doc, token) grain (the explode is
    map-side), per-doc flags from that aggregate, then a
    map-side-combinable rollup to source grain."""
    toks = tokens(F.col("text"))
    base = docs.select(
        "doc_id",
        "source",
        F.explode(toks).alias("tok"),
    )
    per_tok = base.groupBy("doc_id", "source", "tok").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_doc = per_tok.groupBy("doc_id", "source").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.length("tok") * F.col("cnt")).alias("len_sum"),
        F.max("cnt").alias("top_cnt"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(
            F.when(F.col("tok").isin(*GOPHER_STOPWORDS), 1).otherwise(0)
        ).alias("n_stop"),
    )
    f_wc = (F.col("n") < GOPHER_WC_LO) | (F.col("n") > GOPHER_WC_HI)
    f_wl = (F.col("len_sum") < GOPHER_WL_LO * F.col("n")) | (
        F.col("len_sum") > GOPHER_WL_HI * F.col("n")
    )
    f_rep = 4 * F.col("top_cnt") > F.col("n")
    f_dis = 10 * F.col("n_distinct") < 3 * F.col("n")
    f_stop = F.col("n_stop") < 2
    flags = per_doc.select(
        "source",
        f_wc.cast("int").alias("f_wc"),
        f_wl.cast("int").alias("f_wl"),
        f_rep.cast("int").alias("f_rep"),
        f_dis.cast("int").alias("f_dis"),
        f_stop.cast("int").alias("f_stop"),
        (~(f_wc | f_wl | f_rep | f_dis | f_stop)).cast("int").alias("ok"),
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ok").alias("pass_all"),
            F.sum("f_wc").alias("fail_wordcount"),
            F.sum("f_wl").alias("fail_wordlen"),
            F.sum("f_rep").alias("fail_toprep"),
            F.sum("f_dis").alias("fail_distinct"),
            F.sum("f_stop").alias("fail_stopword"),
        )
        .orderBy("source")
    )


def _text_gopher_rules(spark, sf_dir):
    return gopher_rules(t(spark, sf_dir, "documents"))


_GOPHER_SQL = f"""
WITH base AS (
  SELECT doc_id, source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
  FROM documents
),
per_tok AS (
  SELECT doc_id, source, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM base GROUP BY 1, 2, 3
),
per_doc AS (
  SELECT doc_id, source,
         CAST(sum(cnt) AS BIGINT) AS n,
         CAST(sum(length(tok) * cnt) AS BIGINT) AS len_sum,
         CAST(max(cnt) AS BIGINT) AS top_cnt,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(CASE WHEN tok IN {GOPHER_STOPWORDS} THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
  FROM per_tok GROUP BY 1, 2
),
flags AS (
  SELECT source,
         CASE WHEN n < {GOPHER_WC_LO} OR n > {GOPHER_WC_HI} THEN 1 ELSE 0 END AS f_wc,
         CASE WHEN len_sum < {GOPHER_WL_LO} * n OR len_sum > {GOPHER_WL_HI} * n THEN 1 ELSE 0 END AS f_wl,
         CASE WHEN 4 * top_cnt > n THEN 1 ELSE 0 END AS f_rep,
         CASE WHEN 10 * n_distinct < 3 * n THEN 1 ELSE 0 END AS f_dis,
         CASE WHEN n_stop < 2 THEN 1 ELSE 0 END AS f_stop
  FROM per_doc
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN f_wc + f_wl + f_rep + f_dis + f_stop = 0 THEN 1 ELSE 0 END) AS BIGINT) AS pass_all,
       CAST(sum(f_wc) AS BIGINT) AS fail_wordcount,
       CAST(sum(f_wl) AS BIGINT) AS fail_wordlen,
       CAST(sum(f_rep) AS BIGINT) AS fail_toprep,
       CAST(sum(f_dis) AS BIGINT) AS fail_distinct,
       CAST(sum(f_stop) AS BIGINT) AS fail_stopword
FROM flags GROUP BY source ORDER BY source
"""

NOVELTY_SPAN = 5  # tokens per span (matches dedup_span_ngrams)


def ngram_novelty(docs, w: int = NOVELTY_SPAN):
    """First-seen n-gram novelty per source: of each doc's DISTINCT
    w-token spans, how many appear in no earlier doc (global first
    occurrence by doc_id order)?  This is the memorization/freshness
    audit that complements dedup_span_ngrams: span dedup counts
    repeated material, novelty ATTRIBUTES first authorship — sources
    whose novelty collapses are re-crawls or mirrors.

    Scale shape: span generation is a per-row array transform; one
    shuffle to the distinct (span, doc) grain, one map-side-combinable
    aggregate to span grain for the global min doc, one equi-join back
    (span-keyed, no skew: a span's fanout is its true dup count, the
    hot-shingle guard argument of the dedup family), then a rollup to
    source grain."""
    toks = tokens(F.col("text"))
    spans = (
        docs.select("doc_id", "source", toks.alias("toks"))
        .filter(F.size("toks") >= w)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - w),
                    lambda i: F.array_join(
                        F.slice(F.col("toks"), (i + 1).cast("int"), w), " "
                    ),
                )
            ).alias("span"),
        )
        .select("doc_id", "source", token_hash(F.col("span")).alias("fp"))
        .distinct()
    )
    # global first occurrence as a span-partitioned window (r11): the
    # old groupBy + join-back referenced ``spans`` twice, re-running
    # the tokenize + span-explode + hash + distinct — the whole cost of
    # the operator — once per reference, and paid an extra fp shuffle
    # for the join. One fp-keyed window gives the same min(doc_id) per
    # span with the span table derived ONCE (partitions are per-span
    # duplicate lists, never the whole set — the hot-shingle fanout
    # argument as before).
    wfp = Window.partitionBy("fp")
    flagged = spans.select(
        "doc_id",
        "source",
        (F.col("doc_id") == F.min("doc_id").over(wfp)).cast("long").alias("novel"),
    )
    per_src = flagged.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("span_types"),
        F.sum("novel").alias("novel_types"),
    )
    return per_src.select(
        "source",
        "n_docs",
        "span_types",
        "novel_types",
        (
            F.floor(
                F.col("novel_types")
                / F.col("span_types").cast("double")
                * 1000000
                + F.lit(0.5)
            )
            / 1000000.0
        ).alias("novelty6"),
    ).orderBy("source")


def _text_ngram_novelty(spark, sf_dir):
    return ngram_novelty(t(spark, sf_dir, "documents"))


_NOVELTY_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
spans AS (
  SELECT DISTINCT doc_id, source,
         ('0x' || substr(md5(array_to_string(tk[i:i+{NOVELTY_SPAN - 1}], ' ')), 1, 8))::BIGINT AS fp
  FROM toks, LATERAL (
    SELECT unnest(range(1, len(tk) - {NOVELTY_SPAN} + 2)) AS i
  ) u
  WHERE len(tk) >= {NOVELTY_SPAN}
),
first AS (SELECT fp, min(doc_id) AS first_doc FROM spans GROUP BY fp),
flagged AS (
  SELECT s.doc_id, s.source,
         CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END AS novel
  FROM spans s JOIN first f ON s.fp = f.fp
)
SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS span_types,
       CAST(sum(novel) AS BIGINT) AS novel_types,
       floor(CAST(sum(novel) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             * 1000000 + 0.5) / 1000000.0 AS novelty6
FROM flagged GROUP BY source ORDER BY source
"""

PPL_BUCKET = 65536  # coarse-bucket width for the tertile scan


def perplexity_bucket(docs=None, dtm=None):
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every doc by mean char-trigram surprisal under the corpus's own
    add-1-smoothed trigram unigram model, split the corpus into
    head/middle/tail at the EXACT tertiles, and report the
    source × bucket composition — the table a curation pipeline uses
    to decide which tail fraction to drop.

    Exactness: the single transcendental term −ln((cnt+1)/(N+V)) is
    computed from exact int64 inputs and micro-nat-quantized to int64
    PER TERM before any sum (the repo's fold-order rule); a doc's sum
    over occurrences is the m-weighted sum over its DISTINCT trigrams
    (integer-exact), the per-doc mean is pure integer arithmetic
    ((2s+n) div 2n = half-up), and the tertile thresholds are exact
    order statistics via the same hierarchical coarse-bucket prefix
    sum the KS machinery uses.

    Scale shape (r9 rewrite): everything derives from the per-doc
    trigram-count grain ``dtm`` — pass the materialized shared stage
    (registry path: one explode per PROCESS, column-pruned scans), or
    let it derive from ``docs`` (one explode per QUERY; the old plan
    ran the explode twice — corpus counts AND the per-doc join-back).
    Corpus counts sum the distinct grain; the count table is
    charset-bounded so its join back is a broadcast; one doc-grain
    aggregate; the tertile scan runs at the distinct-score grain."""
    if dtm is None:
        if docs is None:
            raise ValueError("perplexity_bucket needs docs or dtm")
        from .ext.text import doc_char_trigram_counts

        dtm = doc_char_trigram_counts(docs, carry=("source",))
    dtm = dtm.select("doc_id", "source", "tri", "m")
    counts = dtm.groupBy("tri").agg(F.sum("m").alias("cnt"))
    nv = counts.agg(
        F.sum("cnt").alias("nn"), F.count(F.lit(1)).alias("vv")
    )
    terms = dtm.join(F.broadcast(counts), "tri").join(F.broadcast(nv))
    term_micro = F.floor(
        -F.log(
            (F.col("cnt") + 1).cast("double")
            / (F.col("nn") + F.col("vv")).cast("double")
        )
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    per_doc = (
        terms.select(
            "doc_id",
            "source",
            "m",
            term_micro.alias("tm"),
        )
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.col("m") * F.col("tm")).alias("s"),
            F.sum("m").alias("n"),
        )
        .select(
            "doc_id",
            "source",
            F.expr("div(2 * s + n, 2 * n)").alias("sc"),
        )
    )
    # the doc-grain score table feeds the tertile machinery, the doc
    # count, and the final bucketing join — truncate lineage so the
    # trigram join + surprisal aggregate run once, not once per
    # consumer (before r11: 3 full derivations, 30 stage scans in one
    # plan). Doc grain is the reduced grain a curation pipeline stages.
    per_doc = truncate_lineage(per_doc)
    grp = per_doc.groupBy("sc").agg(F.count(F.lit(1)).alias("cnt"))
    grp = grp.withColumn("bkt", F.floor(F.col("sc") / PPL_BUCKET))
    w = (
        Window.partitionBy("bkt")
        .orderBy("sc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = grp.select(
        "sc", "bkt", "cnt", F.sum("cnt").over(w).alias("cin")
    )
    btot = grp.groupBy("bkt").agg(F.sum("cnt").alias("bc"))
    offs = (
        btot.select(F.col("bkt").alias("k"))
        .join(btot.select(F.col("bkt").alias("k2"), "bc"), F.col("k2") < F.col("k"))
        .groupBy("k")
        .agg(F.sum("bc").alias("off"))
    )
    cum = within.join(F.broadcast(offs), within.bkt == offs.k, "left").select(
        "sc", "cnt", (F.col("cin") + F.coalesce("off", F.lit(0))).alias("cum")
    )
    nd = per_doc.agg(F.count(F.lit(1)).alias("nd"))
    thr = (
        cum.join(F.broadcast(nd))
        .agg(
            F.min(F.when(3 * F.col("cum") >= F.col("nd"), F.col("sc"))).alias("t1"),
            F.min(F.when(3 * F.col("cum") >= 2 * F.col("nd"), F.col("sc"))).alias(
                "t2"
            ),
        )
    )
    bucketed = per_doc.join(F.broadcast(thr)).select(
        "source",
        F.when(F.col("sc") <= F.col("t1"), F.lit("head"))
        .when(F.col("sc") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    return (
        bucketed.groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "bucket")
    )


def _text_perplexity_bucket(spark, sf_dir):
    from .registry_util import shared_char_trigrams

    return perplexity_bucket(dtm=shared_char_trigrams(spark, sf_dir))


_PPL_SQL = f"""
WITH tris AS (
  SELECT doc_id, source, substr(text, i, 3) AS tri
  FROM documents, LATERAL (
    SELECT unnest(range(1, length(text) - 1)) AS i
  ) u
  WHERE length(text) >= 3
),
counts AS (SELECT tri, CAST(count(*) AS BIGINT) AS cnt FROM tris GROUP BY tri),
nv AS (SELECT CAST(sum(cnt) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS vv FROM counts),
terms AS (
  SELECT t.doc_id, t.source,
         CAST(floor(-ln(CAST(c.cnt + 1 AS DOUBLE) / CAST(nv.nn + nv.vv AS DOUBLE))
                    * 1000000 + 0.5) AS BIGINT) AS tm
  FROM tris t JOIN counts c ON t.tri = c.tri, nv
),
per_doc AS (
  SELECT doc_id, source,
         (2 * CAST(sum(tm) AS BIGINT) + CAST(count(*) AS BIGINT))
           // (2 * CAST(count(*) AS BIGINT)) AS sc
  FROM terms GROUP BY doc_id, source
),
grp AS (SELECT sc, CAST(count(*) AS BIGINT) AS cnt FROM per_doc GROUP BY sc),
cum AS (
  SELECT sc, CAST(sum(cnt) OVER (ORDER BY sc) AS BIGINT) AS cum FROM grp
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM per_doc),
thr AS (
  SELECT min(CASE WHEN 3 * cum >= nd THEN sc END) AS t1,
         min(CASE WHEN 3 * cum >= 2 * nd THEN sc END) AS t2
  FROM cum, nd
)
SELECT source,
       CASE WHEN sc <= t1 THEN 'head'
            WHEN sc <= t2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs
FROM per_doc, thr
GROUP BY 1, 2 ORDER BY 1, 2
"""

EPOCH_MAX = 4  # per-source epoch cap (data-constrained scaling)

EPOCH_BUDGET_X2 = 3  # token budget = total_tokens * 3 / 2


def epoch_schedule(docs, max_epochs: int = EPOCH_MAX):
    """Data-constrained epoch schedule (Muennighoff et al. 2023): given
    a token budget of 1.5× the corpus and a per-source repeat cap,
    up-sample small sources toward an equal per-source share — the
    planning table a mixture trainer materializes before packing.
    epochs_s = clamp(target_share div tokens_s, 1, cap); everything is
    integer division of corpus aggregates.

    Scale shape: one token-count scan with map-side combine to the
    source grain; the budget scalar rides in as the usual broadcast
    1-row aggregate; all arithmetic runs on the metadata-sized source
    table."""
    tok = docs.select(
        "source", F.size(tokens(F.col("text"))).alias("n_tok")
    )
    per_src = tok.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("tokens")
    )
    tot = per_src.agg(
        F.sum("tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    j = per_src.join(F.broadcast(tot))
    budget = F.expr(f"total_tokens * {EPOCH_BUDGET_X2} div 2")
    target = F.expr(
        f"(total_tokens * {EPOCH_BUDGET_X2} div 2) div n_sources"
    )
    epochs = F.least(
        F.lit(max_epochs).cast("long"),
        F.greatest(F.lit(1).cast("long"), F.expr(
            f"((total_tokens * {EPOCH_BUDGET_X2} div 2) div n_sources)"
            " div tokens"
        )),
    )
    return j.select(
        "source",
        "n_docs",
        "tokens",
        budget.alias("budget"),
        target.alias("target_share"),
        epochs.alias("epochs"),
        (epochs * F.col("tokens")).alias("allocated_tokens"),
    ).orderBy("source")


def _corpus_epoch_schedule(spark, sf_dir):
    return epoch_schedule(t(spark, sf_dir, "documents"))


_EPOCH_SQL = f"""
WITH tok AS (
  SELECT source,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents
),
per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS tokens
  FROM tok GROUP BY source
),
tot AS (
  SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens,
         CAST(count(*) AS BIGINT) AS n_sources
  FROM per_src
)
SELECT source, n_docs, tokens,
       total_tokens * {EPOCH_BUDGET_X2} // 2 AS budget,
       (total_tokens * {EPOCH_BUDGET_X2} // 2) // n_sources AS target_share,
       least({EPOCH_MAX}, greatest(1,
         ((total_tokens * {EPOCH_BUDGET_X2} // 2) // n_sources) // tokens))
         AS epochs,
       least({EPOCH_MAX}, greatest(1,
         ((total_tokens * {EPOCH_BUDGET_X2} // 2) // n_sources) // tokens))
         * tokens AS allocated_tokens
FROM per_src, tot ORDER BY source
"""


def zipf_fit(docs):
    """Zipf rank-frequency fit: rank tokens by frequency (ties broken
    lexicographically), regress ln(freq) on ln(rank) by OLS, and report
    the exponent (Zipf predicts slope ~ -1), intercept, and R^2 — the
    drift alarm for tokenizer or source-mix changes.

    Exactness: ln(rank)/ln(freq) are micro-nat-quantized PER TOKEN from
    exact int64 inputs; the five OLS sums are int64 (cross products
    pre-scaled by 1e6 inside the term, the fold-order rule), and the
    final slope/intercept/R^2 are identical double expressions over
    those exact sums, micro-quantized.

    Scale shape: one shuffle to the token grain; ranks come from
    frequency-CLASS offsets (a triangular self-join at the distinct-
    count grain, bounded by the count domain) plus a row_number
    partitioned by frequency class — no global window; the fit is one
    5-sum aggregate."""
    tc = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cls = tc.groupBy("cnt").agg(F.count(F.lit(1)).alias("m"))
    offs = (
        cls.select(F.col("cnt").alias("c"))
        .join(cls.select(F.col("cnt").alias("c2"), "m"), F.col("c2") > F.col("c"))
        .groupBy("c")
        .agg(F.sum("m").alias("off"))
    )
    w = Window.partitionBy("cnt").orderBy("tok")
    ranked = (
        tc.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(offs), tc.cnt == offs.c, "left")
        .select(
            "tok",
            "cnt",
            (F.coalesce("off", F.lit(0)) + F.col("rn")).alias("rank"),
        )
    )
    terms = ranked.select(
        F.floor(F.log(F.col("rank").cast("double")) * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("cnt").cast("double")) * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )
    sums = terms.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("(x * y) div 1000000")).alias("sxy"),
        F.sum(F.expr("(x * x) div 1000000")).alias("sxx"),
        F.sum(F.expr("(y * y) div 1000000")).alias("syy"),
    )
    num = (
        F.col("n").cast("double") * F.col("sxy").cast("double") * 1.0e6
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    )
    den = (
        F.col("n").cast("double") * F.col("sxx").cast("double") * 1.0e6
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    deny = (
        F.col("n").cast("double") * F.col("syy").cast("double") * 1.0e6
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    )
    return sums.select(
        F.col("n").alias("n_vocab"),
        F.floor(num / den * 1000000 + F.lit(0.5)).alias("slope_micro"),
        F.floor(
            (
                F.col("sy").cast("double") / F.col("n").cast("double")
                - num / den * F.col("sx").cast("double") / F.col("n").cast("double")
            )
            + F.lit(0.5)
        ).alias("intercept_micro"),
        F.floor(num * num / (den * deny) * 1000000 + F.lit(0.5)).alias(
            "r2_micro"
        ),
    )


def _text_zipf_fit(spark, sf_dir):
    return zipf_fit(t(spark, sf_dir, "documents"))


_ZIPF_SQL = """
WITH tc AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
            AS tok
        FROM documents)
  GROUP BY tok
),
ranked AS (
  SELECT tok, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC) AS BIGINT)
             AS rank
  FROM tc
),
terms AS (
  SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x,
         CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y
  FROM ranked
),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum((x * y) // 1000000) AS BIGINT) AS sxy,
         CAST(sum((x * x) // 1000000) AS BIGINT) AS sxx,
         CAST(sum((y * y) // 1000000) AS BIGINT) AS syy
  FROM terms
)
SELECT n AS n_vocab,
       CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) * 1.0e6
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) * 1.0e6
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT) AS slope_micro,
       CAST(floor((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                   - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) * 1.0e6
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) * 1.0e6
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                  + 0.5) AS BIGINT) AS intercept_micro,
       CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) * 1.0e6
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) * 1.0e6
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) * 1.0e6
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) * 1.0e6
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                  * 1000000 + 0.5) AS BIGINT) AS r2_micro
FROM sums
"""

HEAPS_CHECKPOINTS = 10


def heaps_law(docs, k: int = HEAPS_CHECKPOINTS):
    """Heaps'-law vocabulary growth curve: stream the corpus in a
    deterministic md5 order and report, at each of k corpus-fraction
    checkpoints, cumulative token count and distinct-vocabulary size —
    the curve that predicts how much new vocabulary the next 10x of
    data buys.

    Scale shape: corpus positions come from a 256-bucket hash-prefix
    hierarchical prefix sum (bucket offsets via a triangular join of a
    256-row table, ranks via windows partitioned by bucket), first
    occurrence per token is a min aggregate, and each checkpoint
    evaluation is a bounded k-way expansion collapsing immediately —
    the same shape as the repo's threshold sweeps."""
    base = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_toks"),
        F.md5(F.concat(F.lit("hp:"), F.col("doc_id").cast("string"))).alias(
            "hkey"
        ),
    ).withColumn(
        "bkt", F.conv(F.substring("hkey", 1, 2), 16, 10).cast("long")
    )
    w = Window.partitionBy("bkt").orderBy("hkey")
    within = base.withColumn("rn", F.row_number().over(w))
    bcnt = base.groupBy("bkt").agg(F.count(F.lit(1)).alias("bn"))
    offs = (
        bcnt.select(F.col("bkt").alias("k"))
        .join(bcnt.select(F.col("bkt").alias("k2"), "bn"), F.col("k2") < F.col("k"))
        .groupBy("k")
        .agg(F.sum("bn").alias("off"))
    )
    pos = within.join(F.broadcast(offs), within.bkt == offs.k, "left").select(
        "doc_id",
        "n_toks",
        (F.coalesce("off", F.lit(0)) + F.col("rn")).alias("pos"),
    )
    nd = pos.agg(F.count(F.lit(1)).alias("n_docs"))
    chk = (
        pos.sparkSession.range(1, k + 1)
        .select(F.col("id").cast("long").alias("chk"))
        .join(F.broadcast(nd))
        .select("chk", F.expr(f"(chk * n_docs) div {k}").alias("thr"))
    )
    tok_first = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .join(pos.select("doc_id", "pos"), "doc_id")
        .groupBy("tok")
        .agg(F.min("pos").alias("first_pos"))
    )
    vocab_k = (
        tok_first.join(F.broadcast(chk))
        .groupBy("chk", "thr")
        .agg(
            F.sum(
                F.when(F.col("first_pos") <= F.col("thr"), 1).otherwise(0)
            ).alias("vocab_size")
        )
    )
    toks_k = (
        pos.join(F.broadcast(chk))
        .groupBy("chk")
        .agg(
            F.sum(
                F.when(F.col("pos") <= F.col("thr"), F.col("n_toks")).otherwise(0)
            ).alias("n_tokens_cum")
        )
    )
    return (
        vocab_k.join(toks_k, "chk")
        .select(
            F.col("chk").alias("checkpoint"),
            F.col("thr").alias("n_docs_le"),
            "n_tokens_cum",
            "vocab_size",
        )
        .orderBy("checkpoint")
    )


def _text_heaps_law(spark, sf_dir):
    return heaps_law(t(spark, sf_dir, "documents"))


_HEAPS_SQL = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS n_toks,
         md5('hp:' || CAST(doc_id AS VARCHAR)) AS hkey
  FROM documents
),
pos AS (
  SELECT doc_id, n_toks,
         CAST(row_number() OVER (ORDER BY hkey) AS BIGINT) AS pos
  FROM base
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM pos),
chk AS (
  SELECT CAST(u.chk AS BIGINT) AS chk,
         (u.chk * n_docs) // {HEAPS_CHECKPOINTS} AS thr
  FROM nd, unnest(range(1, {HEAPS_CHECKPOINTS} + 1)) AS u(chk)
),
tok_first AS (
  SELECT tok, min(pos) AS first_pos
  FROM (SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS tok
        FROM documents) tk
  JOIN pos USING (doc_id)
  GROUP BY tok
),
vocab_k AS (
  SELECT chk, thr,
         CAST(sum(CASE WHEN first_pos <= thr THEN 1 ELSE 0 END) AS BIGINT)
             AS vocab_size
  FROM tok_first, chk GROUP BY 1, 2
),
toks_k AS (
  SELECT chk,
         CAST(sum(CASE WHEN pos <= thr THEN n_toks ELSE 0 END) AS BIGINT)
             AS n_tokens_cum
  FROM pos, chk GROUP BY 1
)
SELECT vocab_k.chk AS checkpoint, thr AS n_docs_le, n_tokens_cum, vocab_size
FROM vocab_k JOIN toks_k ON vocab_k.chk = toks_k.chk
ORDER BY checkpoint
"""

SHARD_BUDGET_BYTES = 4096


def shard_pack(docs, budget: int = SHARD_BUDGET_BYTES):
    """Byte-budget shard packing: stream documents in deterministic md5
    order and assign each to shard floor(cum_bytes_before / budget)
    (next-fit by prefix — a doc belongs to the shard where it starts);
    emit the shard manifest (docs, bytes, position range) a training
    loader consumes.

    Scale shape: the running byte offset is the 256-bucket hash-prefix
    hierarchical prefix sum (bucket sums via one 256-row triangular
    join, within-bucket windows) — no global window, no sequential
    scan; the manifest is one aggregate at the shard grain."""
    base = docs.select(
        "doc_id",
        F.col("n_chars").alias("nb"),
        F.md5(F.concat(F.lit("sh:"), F.col("doc_id").cast("string"))).alias(
            "hkey"
        ),
    ).withColumn(
        "bkt", F.conv(F.substring("hkey", 1, 2), 16, 10).cast("long")
    )
    w = (
        Window.partitionBy("bkt")
        .orderBy("hkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wr = Window.partitionBy("bkt").orderBy("hkey")
    within = base.select(
        "doc_id",
        "nb",
        "bkt",
        F.row_number().over(wr).alias("rn"),
        (F.sum("nb").over(w) - F.col("nb")).alias("cb_in"),
    )
    bagg = base.groupBy("bkt").agg(
        F.sum("nb").alias("bb"), F.count(F.lit(1)).alias("bn")
    )
    offs = (
        bagg.select(F.col("bkt").alias("k"))
        .join(
            bagg.select(F.col("bkt").alias("k2"), "bb", "bn"),
            F.col("k2") < F.col("k"),
        )
        .groupBy("k")
        .agg(F.sum("bb").alias("boff"), F.sum("bn").alias("noff"))
    )
    pos = within.join(F.broadcast(offs), within.bkt == offs.k, "left").select(
        "doc_id",
        "nb",
        (F.coalesce("noff", F.lit(0)) + F.col("rn")).alias("pos"),
        (F.coalesce("boff", F.lit(0)) + F.col("cb_in")).alias("cum_before"),
    )
    return (
        pos.select(
            "doc_id", "nb", "pos",
            F.expr(f"cum_before div {budget}").alias("shard"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nb").alias("n_bytes"),
            F.min("pos").alias("first_pos"),
            F.max("pos").alias("last_pos"),
        )
        .orderBy("shard")
    )


def _corpus_shard_pack(spark, sf_dir):
    return shard_pack(t(spark, sf_dir, "documents"))


_SHARD_SQL = f"""
WITH base AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS nb,
         md5('sh:' || CAST(doc_id AS VARCHAR)) AS hkey
  FROM documents
),
pos AS (
  SELECT doc_id, nb,
         CAST(row_number() OVER (ORDER BY hkey) AS BIGINT) AS pos,
         CAST(sum(nb) OVER (ORDER BY hkey) - nb AS BIGINT) AS cum_before
  FROM base
)
SELECT cum_before // {SHARD_BUDGET_BYTES} AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nb) AS BIGINT) AS n_bytes,
       min(pos) AS first_pos, max(pos) AS last_pos
FROM pos GROUP BY 1 ORDER BY shard
"""


def _text_bm25_topk(spark, sf_dir):
    return bm25_topk(t(spark, sf_dir, "documents"))


def kneser_ney_xent(docs):
    """Interpolated Kneser-Ney bigram cross-entropy per source (Kneser
    & Ney 1995; Chen & Goodman 1999 eq. 4.25) — the standard smoothed
    n-gram LM, one rung above the repo's add-1 char-trigram model:
    p(w|v) = max(c(vw)-d, 0)/c(v) + d*N1+(v.)/c(v) * N1+(.w)/N1+(..).
    Per-source cross-entropy under the corpus-wide model is the
    source-quality / domain-shift score CCNet-style pipelines bucket
    on.

    Exactness: every count is int64; -ln p is ONE double expression
    over those ints, micro-nat-quantized PER DISTINCT BIGRAM before the
    count-weighted integer per-source sum (fold-order rule).

    Scale shape: the model lives at the distinct-bigram grain (vocab^2
    bound, far below the token count); source scoring joins the
    (source, bigram) counts to the model and collapses with one
    aggregate. Three shuffles: bigram counts, source-bigram counts, the
    final source rollup."""
    bi = (
        docs.select(
            "source", tokens(F.col("text")).alias("toks")
        )
        .where(F.size("toks") >= 2)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> struct(element_at(toks, i) AS v, "
                    "element_at(toks, i + 1) AS w))"
                )
            ).alias("b"),
        )
        .select("source", F.col("b.v").alias("v"), F.col("b.w").alias("w"))
    )
    cvw = bi.groupBy("v", "w").agg(F.count(F.lit(1)).alias("c"))
    cv = cvw.groupBy("v").agg(
        F.sum("c").alias("cv"), F.count(F.lit(1)).alias("n1p_v")
    )
    cw = cvw.groupBy("w").agg(F.count(F.lit(1)).alias("n1p_w"))
    n1p_tot = cvw.agg(F.count(F.lit(1)).alias("n1p_tot"))
    model = (
        cvw.join(F.broadcast(cv), "v")
        .join(F.broadcast(cw), "w")
        .join(F.broadcast(n1p_tot))
        .select(
            "v",
            "w",
            F.floor(
                -F.log(
                    (F.col("c").cast("double") - 0.75)
                    / F.col("cv").cast("double")
                    + 0.75
                    * F.col("n1p_v").cast("double")
                    / F.col("cv").cast("double")
                    * F.col("n1p_w").cast("double")
                    / F.col("n1p_tot").cast("double")
                )
                * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("nll_micro"),
        )
    )
    src = bi.groupBy("source", "v", "w").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        src.join(F.broadcast(model), ["v", "w"])
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.expr("sum(cnt * nll_micro) div sum(cnt)").alias("xent_micro"),
        )
        .orderBy("source")
    )


def _text_kneser_ney_xent(spark, sf_dir):
    return kneser_ney_xent(t(spark, sf_dir, "documents"))


_KN_SQL = """
WITH dt AS (
  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
bi AS (
  SELECT source, toks[i] AS v, toks[i + 1] AS w
  FROM (SELECT source, toks, unnest(range(1, len(toks))) AS i
        FROM dt WHERE len(toks) >= 2)
),
cvw AS (SELECT v, w, CAST(count(*) AS BIGINT) AS c FROM bi GROUP BY 1, 2),
cv AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv,
              CAST(count(*) AS BIGINT) AS n1p_v
       FROM cvw GROUP BY 1),
cw AS (SELECT w, CAST(count(*) AS BIGINT) AS n1p_w FROM cvw GROUP BY 1),
n1p AS (SELECT CAST(count(*) AS BIGINT) AS n1p_tot FROM cvw),
model AS (
  SELECT cvw.v, cvw.w,
         CAST(floor(-ln((CAST(c AS DOUBLE) - 0.75) / CAST(cv AS DOUBLE)
                        + 0.75 * CAST(n1p_v AS DOUBLE) / CAST(cv AS DOUBLE)
                          * CAST(n1p_w AS DOUBLE) / CAST(n1p_tot AS DOUBLE))
                    * 1000000 + 0.5) AS BIGINT) AS nll_micro
  FROM cvw JOIN cv ON cvw.v = cv.v JOIN cw ON cvw.w = cw.w, n1p
),
src AS (
  SELECT source, v, w, CAST(count(*) AS BIGINT) AS cnt
  FROM bi GROUP BY 1, 2, 3
)
SELECT source, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       CAST(sum(cnt * nll_micro) AS BIGINT) // CAST(sum(cnt) AS BIGINT)
           AS xent_micro
FROM src JOIN model ON src.v = model.v AND src.w = model.w
GROUP BY source ORDER BY source
"""


def char_entropy(docs):
    """Per-source character-unigram Shannon entropy (bits) — the
    cheapest gibberish/encoding-drift detector a text pipeline runs:
    natural language sits in a narrow entropy band, base64 blobs and
    mojibake fall outside it.

    Exactness: char counts are int64 at the (source x charset-bounded
    char) grain; each char's -p*log2(p) term is one double expression
    over exact counts, micro-quantized per char before the per-source
    sum. Two shuffles: the char-grain count and the source rollup."""
    chars = (
        docs.select(
            "source",
            F.explode(F.split(F.col("text"), "")).alias("ch"),
        )
        .where(F.col("ch") != "")
        .groupBy("source", "ch")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = chars.groupBy("source").agg(F.sum("cnt").alias("n_chars"))
    return (
        chars.join(F.broadcast(tot), "source")
        .select(
            "source",
            "n_chars",
            F.floor(
                -(
                    F.col("cnt").cast("double") / F.col("n_chars").cast("double")
                )
                * F.log2(
                    F.col("cnt").cast("double") / F.col("n_chars").cast("double")
                )
                * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("term_micro"),
        )
        .groupBy("source", "n_chars")
        .agg(F.sum("term_micro").alias("entropy_bits_micro"))
        .orderBy("source")
    )


def _text_char_entropy(spark, sf_dir):
    return char_entropy(t(spark, sf_dir, "documents"))


_ENTROPY_SQL = """
WITH chars AS (
  SELECT source, ch, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT source, unnest(string_split_regex(text, '')) AS ch
        FROM documents)
  WHERE ch <> ''
  GROUP BY 1, 2
),
tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_chars
        FROM chars GROUP BY 1)
SELECT source, n_chars,
       CAST(sum(CAST(floor(
         -(CAST(cnt AS DOUBLE) / CAST(n_chars AS DOUBLE))
         * log2(CAST(cnt AS DOUBLE) / CAST(n_chars AS DOUBLE))
         * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS entropy_bits_micro
FROM chars JOIN tot USING (source)
GROUP BY source, n_chars ORDER BY source
"""

BURST_TOPK_DF = 100  # analyze tokens present in >= this many docs


def burstiness_vmr(docs, min_df: int = BURST_TOPK_DF):
    """Token burstiness (Church & Gale 1995): the variance-to-mean
    ratio (Fano factor) of per-document counts for every common token —
    VMR ~ 1 is Poisson background vocabulary, VMR >> 1 is bursty
    content-bearing vocabulary; the signal keyword extractors and
    spam/template detectors key on.

    Exactness: per-(token, doc) counts and the corpus doc count are
    int64; zero-docs enter the moments in closed form (only presence
    rows materialize), and VMR is one micro-quantized double over the
    exact sums. Shuffles: (doc, token) counts then the token rollup —
    both bounded by the presence list, never docs x vocab."""
    n_docs = docs.agg(F.count(F.lit(1)).alias("nd"))
    dt = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_tok = dt.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    return (
        per_tok.where(F.col("df") >= min_df)
        .join(F.broadcast(n_docs))
        .select(
            "tok",
            "df",
            "s",
            # mean over ALL docs (absent docs contribute 0)
            F.floor(
                (
                    (
                        F.col("ss").cast("double")
                        - F.col("s").cast("double")
                        * F.col("s").cast("double")
                        / F.col("nd").cast("double")
                    )
                    / (F.col("nd") - 1).cast("double")
                )
                / (F.col("s").cast("double") / F.col("nd").cast("double"))
                * 1000000
                + F.lit(0.5)
            ).alias("vmr_micro"),
        )
        .orderBy("tok")
    )


def _text_burstiness_vmr(spark, sf_dir):
    return burstiness_vmr(t(spark, sf_dir, "documents"))


_BURST_SQL = f"""
WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
dt AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS tok
        FROM documents)
  GROUP BY 1, 2
),
per_tok AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df, CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(c * c) AS BIGINT) AS ss
  FROM dt GROUP BY 1
)
SELECT tok, df, s,
       CAST(floor(((CAST(ss AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                      / CAST(nd AS DOUBLE)) / CAST(nd - 1 AS DOUBLE))
                  / (CAST(s AS DOUBLE) / CAST(nd AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT) AS vmr_micro
FROM per_tok, nd
WHERE df >= {BURST_TOPK_DF}
ORDER BY tok
"""


TEXT_QUERIES: dict[str, QueryDef] = {
    q.name: q
    for q in (
        QueryDef("text_token_count", _text_token_count, _TOKEN_COUNT_SQL),
        QueryDef("text_tfidf", _text_tfidf, _TFIDF_SQL),
        QueryDef("text_language_id", _text_language_id, _LANG_SQL),
        QueryDef("text_quality_score", _text_quality, _QUALITY_SQL),
        QueryDef("text_repetition", _text_repetition, _REPETITION_SQL),
        QueryDef("text_decontaminate", _text_decontaminate, _DECONTAMINATE_SQL),
        QueryDef(
            "text_length_histogram",
            _text_length_histogram,
            _LENGTH_HISTOGRAM_SQL,
        ),
        QueryDef("text_quality_filter", _text_quality_filter, _QUALITY_FILTER_SQL),
        QueryDef(
            "text_fingerprint",
            _text_fingerprint,
            f"""WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents)
                SELECT doc_id,
                       md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
                FROM tok""",
        ),
        QueryDef("corpus_pack_chunks", _corpus_pack_chunks, _PACK_SQL),
        QueryDef("corpus_vocab_topk", _corpus_vocab_topk, _VOCAB_SQL),
        QueryDef("corpus_mixture_sample", _corpus_mixture_sample, _MIXTURE_SQL),
        QueryDef("text_pii_redact", _text_pii_redact, _PII_SQL),
        QueryDef(
            "corpus_source_composition",
            _corpus_source_composition,
            _SOURCE_COMP_SQL,
        ),
        QueryDef("text_bigram_topk", _text_bigram_topk, _BIGRAM_SQL),
        QueryDef("corpus_curation_funnel", _corpus_curation_funnel, _CURATION_SQL),
        QueryDef("text_keywords_topk", _text_keywords_topk, _KEYWORDS_SQL),
        QueryDef("corpus_split_assign", _corpus_split_assign, _SPLIT_SQL),
        QueryDef("corpus_chunk_overlap", _corpus_chunk_overlap, _CHUNK_SQL),
        QueryDef("text_rarity_score", _text_rarity_score, _RARITY_SQL),
        QueryDef("corpus_domain_cap", _corpus_domain_cap, _DOMAIN_CAP_SQL),
        QueryDef(
            "corpus_dedup_rate_by_source",
            _corpus_dedup_rate_by_source,
            _dedup_rate_sql(),
        ),
        QueryDef("corpus_mixture_plan", _corpus_mixture_plan, _MIX_PLAN_SQL),
        QueryDef("corpus_cdc_chunks", _corpus_cdc_chunks, _CDC_SQL),
        QueryDef("corpus_vocab_drift", _corpus_vocab_drift, _DRIFT_SQL),
        QueryDef("corpus_bpe_merges", _corpus_bpe_merges, _bpe_sql()),
        QueryDef("text_hashing_trick", _text_hashing_trick, _HASH_TRICK_SQL),
        QueryDef("corpus_ngram_coverage", _corpus_ngram_coverage, _NGRAM_COVERAGE_SQL),
        QueryDef(
            "corpus_dedup_pipeline",
            _corpus_dedup_pipeline,
            _dedup_pipeline_sql(),
        ),
        QueryDef("text_char_trigram_lm", _text_char_trigram_lm, _TRIGRAM_LM_SQL),
        QueryDef(
            "text_dedup_exact_normalized",
            _text_dedup_exact_normalized,
            _NORM_DEDUP_SQL,
        ),
        QueryDef(
            "text_compression_quality",
            lambda spark, sf_dir: TX.compression_quality(t(spark, sf_dir, "documents")),
            # rows-only BY DESIGN: no SQL engine exposes deflate; the
            # kernel is pinned in pytest to direct zlib re-compression
            None,
        ),
        QueryDef("text_dsir_weights", _text_dsir_weights, _DSIR_SQL),
        QueryDef("corpus_source_overlap", _corpus_source_overlap, _SOURCE_OVERLAP_SQL),
        QueryDef("corpus_quality_sweep", _corpus_quality_sweep, _QSWEEP_SQL),
        QueryDef("corpus_token_budget_sample", _corpus_token_budget_sample, _TB_SQL),
        QueryDef("text_gopher_rules", _text_gopher_rules, _GOPHER_SQL),
        QueryDef("text_ngram_novelty", _text_ngram_novelty, _NOVELTY_SQL),
        QueryDef("text_perplexity_bucket", _text_perplexity_bucket, _PPL_SQL),
        QueryDef("corpus_epoch_schedule", _corpus_epoch_schedule, _EPOCH_SQL),
        QueryDef("text_zipf_fit", _text_zipf_fit, _ZIPF_SQL),
        QueryDef("text_heaps_law", _text_heaps_law, _HEAPS_SQL),
        QueryDef("corpus_shard_pack", _corpus_shard_pack, _SHARD_SQL),
        QueryDef("text_bm25_topk", _text_bm25_topk, BM25_SQL),
        QueryDef("text_kneser_ney_xent", _text_kneser_ney_xent, _KN_SQL),
        QueryDef("text_char_entropy", _text_char_entropy, _ENTROPY_SQL),
        QueryDef("text_burstiness_vmr", _text_burstiness_vmr, _BURST_SQL),
    )
}
