"""Text-analysis operators for a training-data pipeline over ``documents``:
language-ID heuristic, quality scoring, token counting, fingerprinting.
All JVM-native expressions (no Python in the hot path); each has a
closed-form DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pages import spread
from .registry import HASH_SQL, query

#: English function words used by the n-gram/stopword language heuristic.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")

_SQL_STOP = "', '".join(STOPWORDS)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _codec_query(
    spark: SparkSession, sf_dir: str, synth, stats, schema: str,
    residue: int | None = None,
) -> DataFrame:
    """The chain every full-decode codec query runs: spread the doc_ids
    (only ``doc_id % 5 == residue`` when given), ``synth`` one payload per
    doc_id, ``stats`` it to ``schema`` rows. Only doc_ids are shuffled."""
    d = _docs(spark, sf_dir).select("doc_id")
    if residue is not None:
        d = d.filter(F.col("doc_id") % 5 == residue)
    payloads = spread(d).mapInPandas(synth, "doc_id bigint, payload binary")
    return payloads.mapInPandas(stats, schema)


@query(
    "langid_heuristic",
    oracle=f"""
WITH w AS (
  SELECT doc_id,
         len(string_split(trim(text), ' ')) AS n_words,
         len(list_filter(string_split(trim(text), ' '),
                         x -> x IN ('{_SQL_STOP}'))) AS n_stop
  FROM documents
)
SELECT doc_id, CAST(n_stop AS BIGINT) AS n_stop,
       round(n_stop / n_words, 4) AS stop_ratio,
       CASE WHEN n_stop / n_words >= 0.05 THEN 'en' ELSE 'unk' END AS pred
FROM w""",
)
def langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language ID (n-gram heuristic family): JVM-side
    filter over the split word array — no UDF."""
    d = _docs(spark, sf_dir)
    words = F.split(F.trim("text"), " ")
    n_words = F.size(words)
    n_stop = F.size(F.filter(words, lambda x: x.isin(*STOPWORDS)))
    return d.select(
        "doc_id",
        n_stop.cast("bigint").alias("n_stop"),
        F.round(n_stop / n_words, 4).alias("stop_ratio"),
        F.when(n_stop / n_words >= 0.05, "en").otherwise("unk").alias("pred"),
    )


@query(
    "quality_score",
    oracle=f"""
WITH w AS (
  SELECT doc_id, n_chars,
         string_split(trim(text), ' ') AS words,
         length(replace(trim(text), ' ', '')) AS n_alpha
  FROM documents
)
SELECT doc_id,
       CAST(len(words) AS BIGINT) AS n_words,
       round(n_alpha / len(words), 4) AS mean_word_len,
       round(len(list_filter(words, x -> x IN ('{_SQL_STOP}'))) / len(words), 4) AS stop_ratio,
       round(least(len(words) / 50.0, 1.0)
             * (0.5 + 0.5 * least(len(list_filter(words, x -> x IN ('{_SQL_STOP}')))
                                  / len(words) / 0.05, 1.0)), 4) AS quality
FROM w""",
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality score: length + stopword-ratio components (the
    text-density scoring family used for boilerplate, applied corpus-wide)."""
    d = _docs(spark, sf_dir)
    words = F.split(F.trim("text"), " ")
    n_words = F.size(words)
    n_alpha = F.length(F.replace(F.trim("text"), F.lit(" "), F.lit("")))
    n_stop = F.size(F.filter(words, lambda x: x.isin(*STOPWORDS)))
    stop_ratio = n_stop / n_words
    quality = F.least(n_words / F.lit(50.0), F.lit(1.0)) * (
        0.5 + 0.5 * F.least(stop_ratio / 0.05, F.lit(1.0))
    )
    return d.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        F.round(n_alpha / n_words, 4).alias("mean_word_len"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(quality, 4).alias("quality"),
    )


#: the five-char ASCII-whitespace class, spelled differently per engine:
#: a Python string with REAL control chars for the Spark Column API (Spark
#: SQL literals eat the unknown escape \f, so F.expr is unusable here) and
#: backslash escapes for DuckDB (its literals pass them through to RE2).
#: Bare \s is BANNED in cross-engine regexes: Java \s includes \v, RE2 \s
#: does not (r04 code-review finding).
_WS_CLASS_PY = " \t\n\r\f"
_WS_CLASS_SQL = r" \t\n\r\f"


@query(
    "token_count",
    oracle=rf"""
SELECT doc_id,
       CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9{_WS_CLASS_SQL}]')) AS BIGINT) AS bpe_tokens
FROM documents""",
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex tokenizer
    (letters / digits / punctuation as separate tokens)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), " ")).cast("bigint").alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(
                "text", F.lit(f"[a-z]+|[0-9]+|[^a-z0-9{_WS_CLASS_PY}]"), F.lit(0)
            )
        ).cast("bigint").alias("bpe_tokens"),
    )


@query(
    "doc_fingerprint",
    oracle=f"""
SELECT doc_id, md5(regexp_replace(trim(text), '[{_WS_CLASS_SQL}]+', ' ', 'g')) AS fp
FROM documents""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint (document identity for lineage/dedup)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.md5(F.regexp_replace(F.trim("text"), f"[{_WS_CLASS_PY}]+", " ")).alias("fp"),
    )


@query(
    "repetition_filter",
    oracle="""
WITH rep AS (
  SELECT doc_id,
         CASE WHEN doc_id % 9 = 0 THEN trim(text) || ' ' || trim(text)
              ELSE trim(text) END AS text
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_transform(range(greatest(len(string_split(text, ' ')) - 2, 0)),
           i -> string_split(text, ' ')[i + 1] || ' ' ||
                string_split(text, ' ')[i + 2] || ' ' ||
                string_split(text, ' ')[i + 3]) AS grams
  FROM rep
)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
       round(CASE WHEN len(grams) = 0 THEN 0.0
                  ELSE 1.0 - len(list_distinct(grams))::DOUBLE / len(grams) END, 4)
         AS dup_frac,
       CASE WHEN len(grams) = 0 THEN FALSE
            WHEN 1.0 - len(list_distinct(grams))::DOUBLE / len(grams) > 0.3
            THEN FALSE ELSE TRUE END AS keep
FROM sh""",
)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher/C4 duplicate-n-gram
    rule): fraction of repeated 3-grams per document; documents whose
    duplicate fraction exceeds 0.3 (or that have no 3-grams) are dropped.
    The synthetic corpus has no repetitive documents, so doc_id % 9 == 0
    texts are deterministically doubled in-query (the planting convention
    of the dedup family) — those land at dup_frac ~0.5 and are dropped.
    Pure array expressions — the per-doc gram list never leaves the JVM,
    no shuffle at all."""
    d = _docs(spark, sf_dir)
    rep = F.when(
        F.col("doc_id") % 9 == 0,
        F.concat(F.trim("text"), F.lit(" "), F.trim("text")),
    ).otherwise(F.trim("text"))
    # bind the split array once (w is an attribute: no per-element re-split
    # inside the interpreted lambda) and guard size < 3 — sequence(1, 0)
    # DESCENDS in Spark, indexing out of bounds on short documents
    grams = F.expr(
        "CASE WHEN size(w) >= 3 THEN "
        "transform(sequence(0, size(w) - 3), "
        "i -> concat_ws(' ', w[i], w[i + 1], w[i + 2])) "
        "ELSE cast(array() as array<string>) END"
    )
    g = (
        d.select("doc_id", rep.alias("text"))
        .select("doc_id", F.split("text", " ").alias("w"))
        .select("doc_id", grams.alias("grams"))
    )
    n = F.size("grams")
    nd = F.size(F.array_distinct("grams"))
    dup = F.when(n == 0, F.lit(0.0)).otherwise(1.0 - nd.cast("double") / n)
    return g.select(
        "doc_id",
        n.cast("bigint").alias("n_grams"),
        nd.cast("bigint").alias("n_distinct"),
        F.round(dup, 4).alias("dup_frac"),
        F.when(n == 0, F.lit(False)).otherwise(dup <= 0.3).alias("keep"),
    )


@query(
    "quality_gate_rules",
    oracle=f"""
WITH w AS (
  SELECT doc_id,
         string_split(trim(text), ' ') AS words,
         length(replace(trim(text), ' ', '')) AS n_alpha,
         len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_sym,
         length(text) AS n_chars
  FROM documents
)
SELECT doc_id,
       CAST(len(words) AS BIGINT) AS n_words,
       round(n_alpha / len(words), 4) AS mean_wlen,
       round(n_sym / greatest(n_chars, 1), 4) AS symbol_ratio,
       len(list_filter(words, x -> x IN ('{_SQL_STOP}'))) >= 1 AS has_stop,
       (len(words) BETWEEN 5 AND 5000)
         AND (n_alpha / len(words) BETWEEN 2 AND 12)
         AND (n_sym / greatest(n_chars, 1) <= 0.2)
         AND len(list_filter(words, x -> x IN ('{_SQL_STOP}'))) >= 1 AS keep
FROM w""",
)
def quality_gate_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard quality-gate rules (the Gopher rule family): word-count bounds,
    mean-word-length bounds, symbol-character ratio, stopword presence —
    each rule surfaced as its own column plus the conjunction ``keep``.
    Complements ``quality_score`` (soft score) with the hard gates a
    pretraining pipeline applies first. All JVM expressions."""
    return quality_gate_columns(_docs(spark, sf_dir))


def quality_gate_columns(d: DataFrame) -> DataFrame:
    """The gate projection over any (doc_id, text) frame — batch OR
    streaming: pure stateless JVM expressions, so the identical operator
    runs inside a ``readStream`` pipeline unchanged (stream == batch
    asserted in tests/test_streaming.py)."""
    words = F.split(F.trim("text"), " ")
    n_words = F.size(words)
    n_alpha = F.length(F.replace(F.trim("text"), F.lit(" "), F.lit("")))
    n_sym = F.size(F.expr("regexp_extract_all(text, '[^a-z0-9 ]', 0)"))
    n_chars = F.length("text")
    mean_wlen = n_alpha / n_words
    sym_ratio = n_sym / F.greatest(n_chars, F.lit(1))
    has_stop = F.size(F.filter(words, lambda x: x.isin(*STOPWORDS))) >= 1
    keep = (
        n_words.between(5, 5000)
        & mean_wlen.between(2, 12)
        & (sym_ratio <= 0.2)
        & has_stop
    )
    return d.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        F.round(mean_wlen, 4).alias("mean_wlen"),
        F.round(sym_ratio, 4).alias("symbol_ratio"),
        has_stop.alias("has_stop"),
        keep.alias("keep"),
    )


#: PII regexes — identical semantics in Java regex (Spark) and RE2 (DuckDB):
#: character classes, +, bounded repeats only; no lookaround, no backrefs,
#: and NO backslash escapes ([.] not \.) — Spark's SQL string literals eat
#: unrecognized backslash escapes while DuckDB's do not, so an escaped
#: pattern silently diverges between the F.expr and oracle sides.
#: case-insensitive via explicit classes (ADVICE r03: real corpora carry
#: MixedCase@Mail and HTTPS:// — lowercase-only classes let them through).
#: Explicit [A-Za-z] instead of (?i) keeps the pattern a single shared
#: literal with no flag-syntax dependence.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_URL_RE = r"[Hh][Tt][Tt][Pp][Ss]?://[^ ]+"


@query(
    "pii_scrub",
    oracle=f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0
              THEN text || ' Contact BOB' || doc_id ||
                   '@Mail.Example.COM or HTTPS://U.example.com/p/' || doc_id
              WHEN doc_id % 5 = 0
              THEN text || ' contact bob' || doc_id ||
                   '@mail.example.com or https://u.example.com/p/' || doc_id
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_URL_RE}')) AS BIGINT) AS n_urls,
       md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_URL_RE}', '<URL>', 'g')) AS scrubbed_fp
FROM planted""",
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact emails/URLs (deterministically
    planted on doc_id % 5 == 0, since the synthetic corpus contains none;
    every doc_id % 10 == 0 plants the MIXED-CASE variant so the
    case-insensitive classes are actually exercised — ADVICE r03).
    The regexes are restricted to the Java-regex ∩ RE2 common dialect so
    Spark and the DuckDB oracle scrub byte-identically; the scrubbed text
    is fingerprinted rather than returned (at 100 TB the scrub runs
    in-place in the select — no shuffle, no UDF)."""
    d = _docs(spark, sf_dir)
    text = (
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"), F.lit(" Contact BOB"), F.col("doc_id").cast("string"),
                F.lit("@Mail.Example.COM or HTTPS://U.example.com/p/"),
                F.col("doc_id").cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"), F.lit(" contact bob"), F.col("doc_id").cast("string"),
                F.lit("@mail.example.com or https://u.example.com/p/"),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(F.col("text"))
    )
    p = d.select("doc_id", text.alias("text"))
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
    )
    return p.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{_EMAIL_RE}', 0)"))
        .cast("bigint").alias("n_emails"),
        F.size(F.expr(f"regexp_extract_all(text, '{_URL_RE}', 0)"))
        .cast("bigint").alias("n_urls"),
        F.md5(scrubbed).alias("scrubbed_fp"),
    )


@query(
    "tfidf_top_terms",
    oracle="""
WITH w AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM w GROUP BY term),
n AS (SELECT count(*) AS n FROM documents),
s AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(n.n::DOUBLE / df.df), 4) AS score
  FROM tf JOIN df USING (term), n
)
SELECT doc_id, term, score FROM (
  SELECT s.*, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term) AS rn
  FROM s
) WHERE rn <= 5""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF terms — the relevance/keyword-extraction
    pipeline (tf per (doc, term) → corpus df → idf join → per-doc top-k).

    Scale shape: two term-keyed hash aggregations, ONE equi-join on term
    (the df side is tiny relative to the corpus — AQE broadcasts it), and a
    per-doc window for top-k (spans never cross documents, so the window
    partitions by doc_id with no global sort). Ranking uses the ROUNDED
    score with the term as tiebreak so the top-k set is deterministic
    across engines and partition layouts."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    w = d.select("doc_id", F.explode(F.split(F.trim("text"), " ")).alias("term"))
    tf = w.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # df derives from tf (one row per (doc, term)) — no second explode scan
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = d.groupBy().agg(F.count("*").alias("n"))
    s = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 4
            ).alias("score"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    )
    return s.withColumn("rn", rn).filter(F.col("rn") <= 5).drop("rn")


#: deterministic per-language sampling rates (percent kept): downsample the
#: dominant language, keep the tail — the rebalancing move of a
#: multilingual pretraining mix.
_SAMPLE_RATES = {"en": 25}
_SAMPLE_DEFAULT = 75

#: derived, never hand-written: the Spark side reads the same constants, so
#: the two sides of the sampling law cannot drift (CLAUDE.md lockstep rule)
_SQL_RATE = (
    f"CASE WHEN lang = 'en' THEN {_SAMPLE_RATES['en']} ELSE {_SAMPLE_DEFAULT} END"
)


@query(
    "stratified_sample",
    oracle=f"""
SELECT doc_id, lang,
       CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS INT)
         AS bucket
FROM documents
WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100
      < {_SQL_RATE}""",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep a per-language fraction of
    documents by hashing the doc id into 100 buckets with the shared
    md5→int64 law — NOT ``df.sample`` (seeded RNG sampling is
    partition-layout-dependent; hash-bucket sampling is reproducible
    row-by-row on any cluster size, resumable, and oracle-checkable).
    A pure map-side filter in the scan stage — no shuffle (the md5 itself
    cannot push into the parquet reader, but nothing downstream pays for a
    dropped row)."""
    d = _docs(spark, sf_dir)
    bucket = F.expr(HASH_SQL.format(x="cast(doc_id as string)") + " % 100")
    rate = F.when(F.col("lang") == "en", F.lit(_SAMPLE_RATES["en"])).otherwise(
        F.lit(_SAMPLE_DEFAULT)
    )
    return (
        d.select("doc_id", "lang", bucket.cast("int").alias("bucket"), rate.alias("r"))
        .filter(F.col("bucket") < F.col("r"))
        .drop("r")
    )


#: token budget per packed shard (context-window packing granularity).
_PACK_BUDGET = 2000


@query(
    "token_budget_pack",
    oracle=f"""
SELECT doc_id, source,
       CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS tokens,
       CAST(floor(coalesce(sum(len(string_split(trim(text), ' ')))
                    OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  / {_PACK_BUDGET}.0) AS BIGINT) AS shard
FROM documents""",
)
def token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing (context-window packing for training-data
    prep): within each source, documents in doc_id order are assigned by
    prefix-sum bucketing — shard = floor(tokens-before-me / 2000). A shard
    can therefore overrun the budget by up to one document (bucketing, not
    greedy close-on-overflow) — the law both engines and the test encode.

    Scale shape: the window partitions by ``source`` (the ingest unit), so
    packing is embarrassingly parallel across sources and never needs a
    global sort — the exact property a 100 TB packing job requires; a
    single global ordering would serialize on one partition."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    tokens = F.size(F.split(F.trim("text"), " ")).cast("bigint")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(tokens).over(w), F.lit(0))
    return d.select(
        "doc_id",
        "source",
        tokens.alias("tokens"),
        F.floor(before / float(_PACK_BUDGET)).cast("bigint").alias("shard"),
    )


#: documents whose doc_id % 101 == 0 act as the held-out benchmark/eval set
#: for the decontamination operator (the corpus has no separate eval table).
_EVAL_MOD = 101
_DECON_N = 5  # contamination n-gram width
#: planted-leak id offset — must stay above the corpus's max doc_id at
#: every supported scale factor (testdata max doc_id is ~5e3 at sf0.1;
#: the packaged sf dirs never approach 2e5). A colliding real doc would
#: merge two texts under one id in the groupBy.
_LEAK_OFFSET = 200000


@query(
    "decontaminate_ngram_overlap",
    oracle=f"""
WITH cand AS (
  SELECT doc_id, doc_id % {_EVAL_MOD} = 0 AS is_eval, trim(text) AS text
  FROM documents
  UNION ALL
  SELECT doc_id + {_LEAK_OFFSET}, FALSE,
         substr(trim(text), strpos(trim(text), ' ') + 1)
  FROM documents WHERE doc_id % {_EVAL_MOD} = 0
),
g AS (
  SELECT doc_id, is_eval,
         unnest(list_distinct(list_transform(
           range(greatest(len(string_split(text, ' ')) - {_DECON_N - 1}, 0)),
           i -> string_split(text, ' ')[i + 1] || ' ' ||
                string_split(text, ' ')[i + 2] || ' ' ||
                string_split(text, ' ')[i + 3] || ' ' ||
                string_split(text, ' ')[i + 4] || ' ' ||
                string_split(text, ' ')[i + 5]))) AS gram
  FROM cand
)
SELECT t.doc_id,
       CAST(count(DISTINCT t.gram) AS BIGINT) AS overlap_grams,
       CAST(min(e.doc_id) AS BIGINT) AS eval_doc_id
FROM g t JOIN g e ON t.gram = e.gram
WHERE NOT t.is_eval AND e.is_eval
GROUP BY t.doc_id""",
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    5-gram with the held-out eval set (doc_id % 101 == 0 stands in for the
    benchmark table; a first-word-dropped "leak" of each eval doc is
    planted at doc_id + _LEAK_OFFSET since the synthetic corpus has no natural
    contamination) — the n-gram-overlap decontamination pass every serious
    pretraining pipeline runs before training.

    Scale shape: distinct 5-grams per side, then ONE equi-join keyed on
    the gram string (at 100 TB: hash the gram with the md5 law and join on
    the 8-byte key; the eval side is tiny and broadcasts), then a per-doc
    count. No all-pairs comparison anywhere."""
    base = _docs(spark, sf_dir).select(
        "doc_id",
        (F.col("doc_id") % _EVAL_MOD == 0).alias("is_eval"),
        F.trim("text").alias("text"),
    )
    leaks = base.filter("is_eval").select(
        (F.col("doc_id") + _LEAK_OFFSET).alias("doc_id"),
        F.lit(False).alias("is_eval"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    d = base.unionByName(leaks).select(
        "doc_id", "is_eval", F.split("text", " ").alias("w")
    )
    grams = d.select(
        "doc_id",
        "is_eval",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"CASE WHEN size(w) >= {_DECON_N} THEN "
                    f"transform(sequence(0, size(w) - {_DECON_N}), "
                    "i -> concat_ws(' ', w[i], w[i + 1], w[i + 2], w[i + 3], w[i + 4])) "
                    "ELSE cast(array() as array<string>) END"
                )
            )
        ).alias("gram"),
    )
    train = grams.filter(~F.col("is_eval")).select("doc_id", "gram")
    eval_ = grams.filter(F.col("is_eval")).select(
        F.col("doc_id").alias("e_id"), "gram"
    )
    return (
        train.join(F.broadcast(eval_), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").cast("bigint").alias("overlap_grams"),
            F.min("e_id").cast("bigint").alias("eval_doc_id"),
        )
    )


@query(
    "multimodal_stub",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(octet_length(encode(text)) % 640 AS INT) AS fake_width,
       CAST(octet_length(encode(text)) % 7 AS INT) AS n_frames
FROM documents""",
)
def multimodal_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: an opaque binary column 'decoded' by a
    deterministic stub inside ``mapInPandas`` (real decoders aren't in this
    container — the Spark-side schema/batching/partitioning is the tested
    part; see multimodal.py for the full path)."""
    from ..multimodal import decode_stub_map

    d = _docs(spark, sf_dir).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return d.mapInPandas(
        decode_stub_map, "doc_id bigint, n_bytes bigint, fake_width int, n_frames int"
    )


@query(
    "multimodal_decode",
    oracle="""
SELECT doc_id,
       CASE doc_id % 5 WHEN 0 THEN 'wav' WHEN 1 THEN 'png'
            WHEN 2 THEN 'bmp' WHEN 3 THEN 'jpeg' ELSE 'mp4' END AS format,
       CAST(CASE doc_id % 5 WHEN 0 THEN 0 WHEN 1 THEN 1 + doc_id % 48
            WHEN 2 THEN 1 + doc_id % 64 WHEN 3 THEN 1 + doc_id % 40
            ELSE 16 + doc_id % 64 END AS INT) AS width,
       CAST(CASE doc_id % 5 WHEN 0 THEN 0 WHEN 1 THEN 1 + doc_id % 24
            WHEN 2 THEN 1 + doc_id % 32 WHEN 3 THEN 1 + doc_id % 20
            ELSE 16 + doc_id % 48 END AS INT) AS height,
       CAST(CASE doc_id % 5 WHEN 0 THEN 8 + ((doc_id % 7) % 2) * 8
            WHEN 3 THEN CASE WHEN doc_id % 8 = 3 THEN 8 ELSE 24 END
            WHEN 4 THEN 0 ELSE 24 END AS INT) AS bpp,
       CAST(CASE doc_id % 5 WHEN 0 THEN 1 + (doc_id % 7) % 2
            WHEN 3 THEN CASE WHEN doc_id % 8 = 3 THEN 1 ELSE 3 END
            WHEN 4 THEN 1 + doc_id % 3 ELSE 3 END AS INT) AS n_channels,
       CAST(CASE doc_id % 5 WHEN 0 THEN 8000 + (doc_id % 7) * 1000
            WHEN 4 THEN 600 ELSE 0 END AS INT) AS sample_rate,
       CAST(CASE doc_id % 5 WHEN 0 THEN 100 + doc_id % 50
            WHEN 4 THEN 600 + doc_id % 400 ELSE 1 END AS INT) AS n_frames
FROM documents""",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode (no codec deps): deterministic container
    bytes are synthesized per doc_id (WAV for doc_id % 5 == 0, a
    filtered+deflated RGB PNG for % 5 == 1, a 24-bpp BMP for % 5 == 2, a
    JPEG marker stream for % 5 == 3, else an ISO BMFF MP4), shipped
    through Arrow as a binary column, and parsed back by the pure-Python
    BMP/PNG/JPEG/WAV/MP4 parsers in ``decode_map`` (the PNG side
    CRC-checks IHDR; the JPEG side walks the ITU T.81 marker segments to
    the SOF0 frame header; the MP4 side walks the box tree to mvhd/tkhd).
    The DuckDB oracle predicts every header field arithmetically from
    doc_id — including track count and movie timescale — so any parser
    defect (endianness, offsets, row padding, chunk walking, CRC handling,
    marker-length arithmetic, 16.16 fixed-point dims) hash-mismatches.
    Two chained ``mapInPandas`` stages, both narrow — at 100 TB the
    decode runs wherever the payload partition lives."""
    from ..multimodal import DECODE_SCHEMA, decode_map, synth_payload_map

    return _codec_query(
        spark, sf_dir, synth_payload_map, decode_map, DECODE_SCHEMA
    ).select(
        "doc_id", "format", "width", "height", "bpp", "n_channels",
        "sample_rate", "n_frames"
    )


@query(
    "multimodal_pixels",
    oracle="""
WITH dims AS (
  SELECT doc_id, 1 + doc_id % 48 AS w, 1 + doc_id % 24 AS h
  FROM documents WHERE doc_id % 5 = 1
),
xs AS (SELECT unnest(range(48)) AS x),
ys AS (SELECT unnest(range(24)) AS y),
cs AS (SELECT unnest(range(3)) AS c)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum((3 * xs.x + 7 * ys.y + 11 * cs.c) % 256) AS BIGINT) AS pix_sum,
       CAST(sum(((ys.y * d.w + xs.x) * 3 + cs.c)
                * ((3 * xs.x + 7 * ys.y + 11 * cs.c) % 256)) AS BIGINT)
           AS pix_wsum
FROM dims d
JOIN xs ON xs.x < d.w
JOIN ys ON ys.y < d.h
CROSS JOIN cs
GROUP BY d.doc_id, d.w""",
)
def multimodal_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL PNG pixel decode end-to-end in the driver harness: the synth
    kernel builds a real RGB PNG per doc_id % 5 == 1 document (gradient
    pixels ``(3x + 7y + 11c) % 256``, scanlines filtered with all five PNG
    filter types, zlib-deflated; ODD doc_ids stored in the Adam7
    seven-pass interlaced layout), ships it through Arrow as binary, and
    ``pixel_stats_map`` inflates + unfilters (+ de-interlaces) back to
    raw bytes and aggregates (count, sum, index-weighted sum — the
    weighted sum is order-sensitive, so a Adam7 pass-scatter defect
    cannot hide in the total). The DuckDB oracle reproduces all three
    statistics from the gradient's closed form — any defect anywhere in
    the deflate/filter/de-interlace/decode chain (or in Arrow binary
    transport) hash-mismatches. Two chained narrow ``mapInPandas`` stages; at corpus
    scale the decode runs wherever the payload partition lives, no
    shuffle."""
    from ..multimodal import PIXEL_STATS_SCHEMA, pixel_stats_map, synth_payload_map

    return _codec_query(spark, sf_dir, synth_payload_map, pixel_stats_map,
                        PIXEL_STATS_SCHEMA, residue=1)


@query(
    "multimodal_gif",
    oracle="""
WITH dims AS (
  SELECT doc_id, 1 + doc_id % 32 AS w, 1 + doc_id % 16 AS h FROM documents
),
xs AS (SELECT unnest(range(32)) AS x),
ys AS (SELECT unnest(range(16)) AS y)
SELECT d.doc_id,
       CAST(d.w AS INT) AS width,
       CAST(d.h AS INT) AS height,
       CAST(1 AS INT) AS n_frames,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum((3 * xs.x + 7 * ys.y) % 256) AS BIGINT) AS pix_sum,
       CAST(sum((ys.y * d.w + xs.x) * ((3 * xs.x + 7 * ys.y) % 256))
            AS BIGINT) AS pix_wsum
FROM dims d JOIN xs ON xs.x < d.w JOIN ys ON ys.y < d.h
GROUP BY d.doc_id, d.w, d.h""",
)
def multimodal_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL GIF decode end-to-end with the compression codec implemented
    from scratch (no zlib, no codec library — the LZW variant of Welch
    1984 / GIF89a Appendix F in pure Python): the synth kernel builds a
    real GIF89a per document (256-entry global color table, a graphic
    control extension, gradient palette indices ``(3x + 7y) % 256``
    LZW-encoded at 9→12-bit variable code width into 255-byte
    sub-blocks; odd doc_ids stored INTERLACED per GIF89a Appendix E),
    ships it through Arrow as binary, and ``gif_stats_map`` walks the
    block stream back, LZW-decodes and de-interlaces the frame, and
    aggregates (header fields, pixel count, pixel sum, index-weighted
    pixel sum). The DuckDB oracle predicts everything arithmetically
    from doc_id — any defect in the sub-block chain, the LSB-first code
    packing, the clear/EOI handling, the code-width growth law, or the
    four-pass de-interlace row order (caught by the order-sensitive
    weighted sum) hash-mismatches. Two chained narrow
    ``mapInPandas`` stages, no shuffle — at corpus scale the decode runs
    wherever the payload partition lives (mirrors the reference's
    image-bytes ingest surface, ``tesserocr/tesserocr.pyx:1720-1750``)."""
    from ..multimodal import GIF_STATS_SCHEMA, gif_stats_map, synth_gif_map

    return _codec_query(spark, sf_dir, synth_gif_map, gif_stats_map,
                        GIF_STATS_SCHEMA)


@query(
    "multimodal_jpeg",
    oracle="""
WITH dims AS (
  SELECT doc_id, 1 + doc_id % 48 AS w, 1 + doc_id % 24 AS h FROM documents
),
bxs AS (SELECT unnest(range(6)) AS i),
bys AS (SELECT unnest(range(3)) AS j)
SELECT d.doc_id,
       CAST(d.w AS INT) AS width,
       CAST(d.h AS INT) AS height,
       CAST(1 AS INT) AS n_channels,
       CAST(d.w * d.h AS BIGINT) AS n_px,
       CAST(sum(((5 * bxs.i + 9 * bys.j + d.doc_id) % 256)
                * LEAST(8, d.w - 8 * bxs.i)
                * LEAST(8, d.h - 8 * bys.j)) AS BIGINT) AS pix_sum
FROM dims d
JOIN bxs ON bxs.i * 8 < d.w JOIN bys ON bys.j * 8 < d.h
GROUP BY d.doc_id, d.w, d.h""",
)
def multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL baseline JPEG decode end-to-end from the public spec (ITU
    T.81) with no codec library: the synth kernel encodes a real
    grayscale JPEG per document — forward DCT, flat-8 quantization,
    zigzag, Huffman entropy coding with the tables self-described in DHT,
    0xFF byte stuffing — and ``jpeg_stats_map`` decodes it back (marker
    walk, DHT canonical-code reconstruction, DC-diff EXTEND, AC
    run-length/ZRL/EOB, dequantize, de-zigzag, 2D IDCT, edge-block crop)
    and aggregates. The synth pixels are constant per 8x8 block
    (``(5*bx + 9*by + doc_id) % 256``) so the lossy transform is exactly
    lossless (DC-only blocks, quantizer divides the DC scale) and the
    DuckDB oracle predicts the pixel sum in closed form over the block
    grid — any defect in either direction of the entropy coder, the
    quantization, or the IDCT hash-mismatches. General (non-DC-only)
    content is covered by tolerance property tests. Two chained narrow
    ``mapInPandas`` stages, no shuffle."""
    from ..multimodal import (
        JPEG_STATS_SCHEMA,
        jpeg_stats_map,
        synth_jpeg_full_map,
    )

    return _codec_query(spark, sf_dir, synth_jpeg_full_map, jpeg_stats_map,
                        JPEG_STATS_SCHEMA)


@query(
    "multimodal_tiff",
    oracle="""
WITH dims AS (
  SELECT doc_id, 1 + doc_id % 24 AS w, 1 + doc_id % 16 AS h,
         1 + doc_id % 4 AS np FROM documents
),
ps AS (SELECT unnest(range(4)) AS p),
xs AS (SELECT unnest(range(24)) AS x),
ys AS (SELECT unnest(range(16)) AS y)
SELECT d.doc_id,
       CAST(ps.p AS INT) AS page,
       CAST(d.w AS INT) AS width,
       CAST(d.h AS INT) AS height,
       CAST(d.np AS INT) AS n_frames,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum((3 * xs.x + 7 * ys.y + 13 * ps.p) % 256) AS BIGINT)
           AS pix_sum,
       CAST(sum((ys.y * d.w + xs.x)
                * ((3 * xs.x + 7 * ys.y + 13 * ps.p) % 256)) AS BIGINT)
           AS pix_wsum
FROM dims d
JOIN ps ON ps.p < d.np JOIN xs ON xs.x < d.w JOIN ys ON ys.y < d.h
GROUP BY d.doc_id, ps.p, d.w, d.h, d.np""",
)
def multimodal_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL multi-page TIFF decode end-to-end (TIFF 6.0 from the public
    spec, no codec library): the synth kernel builds a real multi-page
    grayscale TIFF per document (one IFD per page, multiple strips per
    page, per-page gradient rasters ``(3x + 7y + 13p) % 256``;
    PACKBITS-compressed strips for odd doc_ids, TIFF 6.0 §9) and
    ``tiff_stats_map`` walks the IFD chain back and emits ONE ROW PER
    PAGE with full raster stats — the page fan-out the reference's
    ``ProcessPages`` performs over multi-page TIFFs (tesserocr's
    image_to_text on TIFF stacks). The DuckDB oracle predicts every row
    arithmetically from doc_id — a defect in the IFD chain walk, the
    entry/value-offset decoding (inline vs out-of-line), the
    strip-geometry validation, or the per-strip PackBits RLE decode
    (caught by the order-sensitive weighted sum) changes row counts or
    sums and hash-mismatches. Two chained narrow ``mapInPandas`` stages, no
    shuffle."""
    from ..multimodal import (
        TIFF_STATS_SCHEMA,
        synth_tiff_map,
        tiff_stats_map,
    )

    return _codec_query(spark, sf_dir, synth_tiff_map, tiff_stats_map,
                        TIFF_STATS_SCHEMA)


@query(
    "multimodal_pnm",
    oracle="""
WITH dims AS (
  SELECT doc_id, 1 + doc_id % 40 AS w, 1 + doc_id % 20 AS h,
         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS ch
  FROM documents
),
xs AS (SELECT unnest(range(40)) AS x),
ys AS (SELECT unnest(range(20)) AS y),
cs AS (SELECT unnest(range(3)) AS c)
SELECT d.doc_id,
       CAST(d.w AS INT) AS width,
       CAST(d.h AS INT) AS height,
       CAST(d.ch AS INT) AS n_channels,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum((3 * xs.x + 7 * ys.y + 11 * cs.c) % 256) AS BIGINT)
           AS pix_sum
FROM dims d
JOIN xs ON xs.x < d.w JOIN ys ON ys.y < d.h JOIN cs ON cs.c < d.ch
GROUP BY d.doc_id, d.w, d.h, d.ch""",
)
def multimodal_pnm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL binary-netpbm decode end-to-end (P5 graymap for
    doc_id % 3 == 0, P6 RGB pixmap otherwise): the synth kernel builds a
    real netpbm file per document — ASCII header with a comment line,
    gradient raster ``(3x + 7y + 11c) % 256`` — and ``pnm_stats_map``
    parses the header grammar back and aggregates the raster (header
    fields, sample count, sample sum). The DuckDB oracle predicts both
    statistics from the gradient's closed form, so any defect in the
    token/comment scan, the raster offset (exactly one whitespace byte
    after the maxval token), or channel handling hash-mismatches. Two
    chained narrow ``mapInPandas`` stages, no shuffle."""
    from ..multimodal import PNM_STATS_SCHEMA, pnm_stats_map, synth_pnm_map

    return _codec_query(spark, sf_dir, synth_pnm_map, pnm_stats_map,
                        PNM_STATS_SCHEMA)


@query(
    "multimodal_audio",
    oracle="""
WITH d AS (
  SELECT doc_id, (doc_id % 7) % 2 AS v, 100 + doc_id % 50 AS frames
  FROM documents WHERE doc_id % 5 = 0
),
e AS (SELECT doc_id, v, (1 + v) * frames AS n_samples FROM d),
j AS (SELECT unnest(range(300)) AS j),
s AS (
  SELECT e.doc_id, e.n_samples,
         CASE WHEN e.v = 0 THEN (5 * j.j + 3) % 256
              ELSE ((10 * j.j + 3) % 256) + 256 * ((10 * j.j + 8) % 256)
                   - 65536 * CASE WHEN ((10 * j.j + 3) % 256)
                                      + 256 * ((10 * j.j + 8) % 256) >= 32768
                             THEN 1 ELSE 0 END
         END AS samp
  FROM e JOIN j ON j.j < e.n_samples
)
SELECT doc_id,
       CAST(max(n_samples) AS BIGINT) AS n_samples,
       CAST(sum(samp) AS BIGINT) AS amp_sum
FROM s
GROUP BY doc_id""",
)
def multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL PCM audio decode end-to-end (the audio twin of
    ``multimodal_pixels``): the synth kernel builds a real RIFF/WAVE
    container per doc_id % 5 == 0 document whose ``data`` chunk is the
    deterministic byte ramp ``(5k + 3) % 256``, ships it through Arrow as
    binary, and ``audio_stats_map`` decodes the samples — 8-bit unsigned
    for the mono variant, 16-bit signed little-endian for the stereo
    variant — and aggregates (count, amplitude sum). The DuckDB oracle
    reproduces both statistics from the ramp's closed form including the
    int16 two's-complement fold, so any defect in the chunk walk, sample
    width, signedness, or byte order hash-mismatches. Two chained narrow
    ``mapInPandas`` stages, no shuffle — at corpus scale the decode runs
    wherever the payload partition lives."""
    from ..multimodal import AUDIO_STATS_SCHEMA, audio_stats_map, synth_payload_map

    return _codec_query(spark, sf_dir, synth_payload_map, audio_stats_map,
                        AUDIO_STATS_SCHEMA, residue=0)
