"""Feature-engineering operators — the reference's vectorization core
(SURVEY.md §2.9) re-expressed as relational plans.

  bow_vectorize   — T5 `vectorizeBi` (script3.py:73-78) + J1 broadcast
                    dictionary probe (main_reglogit.py:72-77): binary
                    bag-of-words as (doc_id, vocab_id) pairs via a real
                    broadcast join against a distributed vocab table,
                    instead of a driver-built Python dict. Unseen tokens
                    drop via the inner join — exactly `if w in dico`
                    (F2, script3.py:76).
  label_index     — A4 StringIndexer.fit semantics (script1.py:54):
                    frequency-descending dense index, ties alphabetical
                    (matching StringIndexer's frequencyDesc ordering),
                    as row_number over a count agg.
  pos_trigrams    — F4 POS-pattern trigram filter (script4.py:124-137
                    `authorizedTrigrams`/`retrieveTrigrams`): tag each
                    token, zip word-trigrams with tag-trigrams, keep
                    only authorized tag patterns. The reference tags
                    with NLTK (non-reproducible in SQL — SURVEY.md
                    §4.3); here a deterministic rule tagger keeps the
                    operator oracle-checkable. The zip-filter shape is
                    identical.
  embed_l2norm    — A8 `Normalizer` p=2 (main_firstTry_cluster.py:
                    281-285) over embeddings, emitted long-format
                    (vec_id, dim, val) so every value is a scalar the
                    oracle can hash.

All pure Catalyst expressions — no UDFs, no collect, vocab stays a
DataFrame (broadcast by the optimizer, not by hand at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from projetbigdata_spark.functions.text import (
    filter_stopwords,
    sql_stopword_list,
    tokenize,
)
from projetbigdata_spark.session import tune
from projetbigdata_spark.sources.catalog import load_documents_parallel, load_embeddings_parallel

VOCAB_SIZE = 1000

# Rule tagger over the fixture's closed vocabulary: word class -> tag.
# Stands in for NLTK's universal tagset (script4_bis.py:49-56) with
# deterministic, SQL-portable rules.
TAG_DET = ("a", "an", "the")
TAG_VERB = ("scan", "sort", "merge", "join", "filter", "group", "agg")
TAG_ADJ = ("slow", "fast", "big", "small")

# Authorized tag-trigram patterns (the reference authorizes 11 POS
# patterns, script4.py:124-130; same mechanism, rule-tagger alphabet).
AUTHORIZED_PATTERNS = (
    "ADJ NOUN NOUN",
    "DET NOUN NOUN",
    "NOUN VERB NOUN",
    "ADJ ADJ NOUN",
    "VERB DET NOUN",
)


def _vocab(spark: SparkSession, sf_dir: str, k: int = VOCAB_SIZE) -> DataFrame:
    """Top-k token vocabulary with dense ids (A1 made distributed —
    same shape as vocabulary.vocab_topk, sized for vectorization)."""
    toks = load_documents_parallel(spark, sf_dir).select(
        F.explode(filter_stopwords(tokenize("text"))).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("freq"))
    w = Window.orderBy(F.col("freq").desc(), F.col("token"))
    return (
        counts.withColumn("vocab_id", F.row_number().over(w))
        .where(F.col("vocab_id") <= k)
        .select("token", "vocab_id")
    )


def bow_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary BoW as long-format (doc_id, vocab_id): distinct doc
    tokens inner-joined to the vocab table. The join side is bounded
    (|vocab| = 1000) so Catalyst broadcasts it — the honest version of
    the reference's sc.broadcast(dictionary) probe; at a 10^8-term
    vocab the same plan degrades gracefully to a shuffle join.
    Equivalent to CountVectorizer(binary=True) in long form."""
    tune(spark)
    doc_toks = load_documents_parallel(spark, sf_dir).select(
        "doc_id", F.explode(F.array_distinct(tokenize("text"))).alias("token")
    )
    return doc_toks.join(_vocab(spark, sf_dir), "token").select(
        "doc_id", "vocab_id"
    )


BOW_SQL = f"""
WITH toks AS (
    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
    FROM documents
),
counts AS (
    SELECT token, count(*) AS freq FROM toks
    WHERE token <> '' AND token NOT IN ({sql_stopword_list()})
    GROUP BY token
),
vocab AS (
    SELECT token,
           CAST(row_number() OVER (ORDER BY freq DESC, token) AS INT)
               AS vocab_id
    FROM counts
    QUALIFY vocab_id <= {VOCAB_SIZE}
),
doc_toks AS (
    SELECT DISTINCT doc_id, token
    FROM (SELECT doc_id,
                 unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                    t -> t <> '')) AS token
          FROM documents)
)
SELECT doc_id, vocab_id
FROM doc_toks JOIN vocab USING (token)
"""


def label_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 StringIndexer semantics on documents.lang: 0-based dense
    index by descending frequency, alphabetical tiebreak. The index map
    is |distinct labels| rows — broadcast back onto the corpus."""
    tune(spark)
    docs = load_documents_parallel(spark, sf_dir)
    counts = docs.groupBy("lang").agg(F.count("*").alias("freq"))
    # asc_nulls_last: a NULL-lang group tying on freq would rank first
    # in Spark (NULLS FIRST default) but last in DuckDB
    w = Window.orderBy(F.col("freq").desc(), F.asc_nulls_last("lang"))
    idx = counts.withColumn(
        "lang_index", (F.row_number().over(w) - 1).cast("double")
    ).select("lang", "lang_index")
    return docs.join(F.broadcast(idx), "lang").select(
        "doc_id", "lang", "lang_index"
    )


LABEL_INDEX_SQL = """
WITH counts AS (SELECT lang, count(*) AS freq FROM documents GROUP BY lang),
idx AS (
    SELECT lang,
           CAST(row_number() OVER (ORDER BY freq DESC, lang NULLS LAST) - 1
                AS DOUBLE)
               AS lang_index
    FROM counts
)
SELECT doc_id, lang, lang_index
FROM documents JOIN idx USING (lang)
"""


def _tag_sql_case(var: str) -> str:
    det = ", ".join(f"'{w}'" for w in TAG_DET)
    verb = ", ".join(f"'{w}'" for w in TAG_VERB)
    adj = ", ".join(f"'{w}'" for w in TAG_ADJ)
    return (
        f"CASE WHEN {var} IN ({det}) THEN 'DET' "
        f"WHEN {var} IN ({verb}) THEN 'VERB' "
        f"WHEN {var} IN ({adj}) THEN 'ADJ' ELSE 'NOUN' END"
    )


def _tag(col: Column) -> Column:
    return (
        F.when(col.isin(*TAG_DET), F.lit("DET"))
        .when(col.isin(*TAG_VERB), F.lit("VERB"))
        .when(col.isin(*TAG_ADJ), F.lit("ADJ"))
        .otherwise(F.lit("NOUN"))
    )


def pos_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: keep word trigram i iff its tag trigram is authorized.

    Pure Catalyst: tokenize -> explode token trigram positions with a
    single Generate (posexplode over the token array), tag via CASE,
    window-free: trigrams built by self-zipping the array with slice
    inside ONE generator expression (no repeated-subtree blowup — the
    trigram struct is assembled inside the lambda), then filter on the
    authorized pattern set and count occurrences corpus-wide."""
    tune(spark)
    docs = load_documents_parallel(spark, sf_dir)
    toks = docs.select("doc_id", tokenize("text").alias("w"))
    # one generator: index sequence -> struct(word_trigram, tag_trigram)
    tri = F.expr(
        """
        transform(
            CASE WHEN size(w) >= 3
                 THEN sequence(1, size(w) - 2)
                 ELSE CAST(array() AS array<int>) END,
            i -> concat_ws(' ', w[i-1], w[i], w[i+1])
        )
        """
    )
    grams = toks.select(F.explode(tri).alias("trigram"))
    parts = F.split(F.col("trigram"), " ")
    pattern = F.concat_ws(
        " ",
        _tag(parts.getItem(0)),
        _tag(parts.getItem(1)),
        _tag(parts.getItem(2)),
    )
    return (
        grams.withColumn("tag_pattern", pattern)
        .where(F.col("tag_pattern").isin(*AUTHORIZED_PATTERNS))
        .groupBy("trigram", "tag_pattern")
        .agg(F.count("*").alias("freq"))
    )


_patterns_sql = ", ".join(f"'{p}'" for p in AUTHORIZED_PATTERNS)

POS_TRIGRAM_SQL = f"""
WITH toks AS (
    SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> t <> '') AS w
    FROM documents
),
grams AS (
    SELECT w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS trigram,
           {_tag_sql_case('w[i]')} || ' ' ||
           {_tag_sql_case('w[i + 1]')} || ' ' ||
           {_tag_sql_case('w[i + 2]')} AS tag_pattern
    FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)
)
SELECT trigram, tag_pattern, count(*) AS freq
FROM grams
WHERE tag_pattern IN ({_patterns_sql})
GROUP BY trigram, tag_pattern
"""


def embed_l2norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 Normalizer(p=2), long format. The norm is computed once per
    row inside the same generator output (posexplode of the scaled
    array), all within codegen. Zero-vector guard: norm 0 -> 0s."""
    tune(spark)
    emb = load_embeddings_parallel(spark, sf_dir)
    # norm as a named column so the zero-vector guard references it
    # once (an all-zero vector must yield 0s, not 0/0 = NaN — review
    # finding r3); still one generator feeding posexplode.
    with_norm = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda acc, y: acc + y.cast("double") * y.cast("double"),
            )
        ).alias("norm"),
    )
    normalized = F.transform(
        F.col("embedding"),
        lambda x: F.when(
            F.col("norm") > 0, x.cast("double") / F.col("norm")
        ).otherwise(F.lit(0.0)),
    )
    return with_norm.select(
        "vec_id", F.posexplode(normalized).alias("dim", "val")
    ).select("vec_id", "dim", F.round("val", 6).alias("val"))


L2NORM_SQL = """
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
n AS (
    SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS norm FROM v
)
SELECT vec_id, dim - 1 AS dim,
       round(CASE WHEN norm > 0 THEN x / norm ELSE 0.0 END, 6) AS val
FROM n, LATERAL (SELECT unnest(e) AS x, generate_subscripts(e, 1) AS dim)
"""


HASH_BUCKETS = 64  # 2^6 fixture dial so bucket collisions actually
# occur at fixture vocab size (the sign mechanism gets exercised);
# deployments use 2^18..2^20 — the dataflow is dial-independent

# the 60-bit engine-portable md5 key (operators/curation._gram_key's
# idiom), spelled as SQL text so Spark and DuckDB share it verbatim
_HASH60_SPARK = "CAST(conv(substring(md5(token), 1, 15), 16, 10) AS BIGINT)"
_HASH60_DUCK = "CAST('0x' || substr(md5(token), 1, 15) AS BIGINT)"


def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HASHING-TRICK vectorizer (Weinberger et al. 2009 — the
    fasttext/Vowpal-Wabbit feature path): token → bucket = 60-bit md5
    key mod HASH_BUCKETS, with a SIGN drawn from the key's next bit so
    colliding tokens cancel in expectation instead of biasing the
    bucket upward. Long-form sparse output per (doc_id, bucket):
    n = occurrences, signed_sum = Σ±1 — the signed counts a linear
    quality classifier consumes directly.

    This is bow_vectorize's scale path: NO vocabulary table, no
    second corpus pass, no join of any kind — one projection + one
    hash-agg. At 100 TB a 1e8-term vocab must be built, ranked, and
    broadcast before the first vector exists; the hash needs neither
    memory nor coordination, which is why hashed features are what
    corpus-scale classifiers (and DSIR's hashed-ngram buckets)
    actually train on. Shuffle = |docs × distinct buckets| ≤
    |docs|·HASH_BUCKETS rows of three ints."""
    tune(spark)
    return hashed_features_of(load_documents_parallel(spark, sf_dir))


def hashed_features_of(
    docs: DataFrame, n_buckets: int = HASH_BUCKETS
) -> DataFrame:
    """Frame-level core of text_feature_hashing — (doc_id, text) in,
    long-form (doc_id, bucket, n, signed_sum) out — so the registered
    query, the classifier scorer, and the streaming ingest twin all
    hash through the same expressions (the span_profile_of factoring
    convention). n_buckets is the deployment dial (2^18..2^20 at
    corpus scale; the registered surface pins the 64-bucket fixture
    dial so collisions are exercised — tools/qc_dial_study.py
    measures what the dial buys)."""
    tok = docs.select("doc_id", F.explode(tokenize("text")).alias("token"))
    # hash ONCE into an intermediate column (ADVICE r6): bucket and
    # sign both derive from hv without relying on codegen CSE to
    # dedupe two inlined md5 calls
    return (
        tok.select("doc_id", F.expr(_HASH60_SPARK).alias("hv"))
        .select(
            "doc_id",
            F.expr(f"CAST(hv % {n_buckets} AS INT)").alias("bucket"),
            F.expr(
                f"CASE WHEN (hv div {n_buckets}) % 2 = 0"
                " THEN 1 ELSE -1 END"
            ).alias("sign"),
        )
        .groupBy("doc_id", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("sign").cast("bigint").alias("signed_sum"),
        )
    )


FEATURE_HASHING_SQL = f"""
WITH tok AS (
    SELECT doc_id, t AS token
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '') AS w
          FROM documents),
         LATERAL unnest(w) AS u(t)
),
h AS (SELECT doc_id, {_HASH60_DUCK} AS hv FROM tok)
SELECT doc_id,
       CAST(hv % {HASH_BUCKETS} AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN (hv // {HASH_BUCKETS}) % 2 = 0
                     THEN 1 ELSE -1 END) AS BIGINT) AS signed_sum
FROM h
GROUP BY 1, 2
"""


QUERIES = {
    "bow_vectorize": bow_vectorize,
    "label_index": label_index,
    "pos_trigrams": pos_trigrams,
    "embed_l2norm": embed_l2norm,
    "text_feature_hashing": text_feature_hashing,
}

ORACLE_SQL = {
    "bow_vectorize": BOW_SQL,
    "label_index": LABEL_INDEX_SQL,
    "pos_trigrams": POS_TRIGRAM_SQL,
    "embed_l2norm": L2NORM_SQL,
    "text_feature_hashing": FEATURE_HASHING_SQL,
}
