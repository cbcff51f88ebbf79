"""Deduplication operators for a training-data pipeline over ``documents``.

Since the synthetic corpus has no natural duplicates, each dedup query
*plants* deterministic (near-)duplicates inside the query itself — exact
copies for hash dedup, first-word-dropped copies for near-dup methods — so
the operators produce meaningful, oracle-checkable output.

All hashing uses the verified md5-hex→int64 pair (registry docstring), so
Spark and DuckDB agree bit-for-bit.

Scale design (the 100 TB contract):

* Signatures (shingles, minhash, simhash) are computed with higher-order
  array expressions (``transform``/``aggregate``/``array_min``) — ZERO
  shuffles, embarrassingly parallel, no Python. The earlier
  posexplode + per-doc window formulation paid an avoidable per-doc sort
  shuffle that dominated the bench and anti-scaled 8→32 cores.
* Candidate generation is always an EQUI-join on a content-derived key whose
  cardinality grows with the corpus (minhash band buckets, simhash
  pigeonhole bit-slices, bottom-k shingle-hash blocks) — never an all-pairs
  theta join and never a fixed bucket count.
* Verification (exact Jaccard / Hamming) runs only on blocked candidates.
* Duplicate clusters (``connected_components``) run large-star/small-star
  rounds only while the edge list is above ``_CC_LOCAL_EDGES``; below that
  budget the edges are fetched once as Arrow and finished by union-find on
  the driver. The duplicate graph is small next to the corpus, and each
  distributed round costs several Spark jobs whatever its size.
* Signature/shingle side-table persists go through
  ``registry.track_persist``: they stay cached for the session (the driver
  harness re-invokes each query builder several times per comparison, and
  Spark's cache manager dedupes by canonical plan), but a long-lived job
  driver can release all of them explicitly with
  ``registry.release_cache()`` after its terminal action instead of relying
  on session teardown (ADVICE r03: unbounded storage accrual).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pages import spread
from .registry import HASH_SQL, query, track_persist

#: planted duplicates: every doc_id % 7 == 0 gets a copy at id + 100000.
_PLANT_MOD = 7
_PLANT_OFFSET = 100000

_SQL_CANDIDATES_EXACT = f"""
candidates AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_PLANT_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % {_PLANT_MOD} = 0
)
"""

#: near-dup copies: drop the first word (substr after the first space).
_SQL_CANDIDATES_NEAR = f"""
candidates AS (
  SELECT doc_id, trim(text) AS text FROM documents
  UNION ALL
  SELECT doc_id + {_PLANT_OFFSET} AS doc_id,
         substr(trim(text), strpos(trim(text), ' ') + 1) AS text
  FROM documents WHERE doc_id % {_PLANT_MOD} = 0
)
"""


def _planted(d: DataFrame, copy_text) -> DataFrame:
    """``d`` (doc_id, text) plus a copy of every ``doc_id % 7 == 0`` row at
    ``doc_id + 100000`` whose text is the ``copy_text`` column."""
    row = F.struct("doc_id", "text")
    copy = F.struct(
        (F.col("doc_id") + _PLANT_OFFSET).alias("doc_id"), copy_text.alias("text")
    )
    # one scan: each row explodes into itself and, when planted, its copy
    rows = F.when(F.col("doc_id") % _PLANT_MOD == 0, F.array(row, copy)).otherwise(
        F.array(row)
    )
    return d.select(F.explode(rows).alias("r")).select("r.doc_id", "r.text")


def _candidates_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return _planted(d, F.col("text"))


def _candidates_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.trim("text").alias("text"))
    )
    return _planted(d, F.expr("substring(text, instr(text, ' ') + 1)"))


@query(
    "dedup_exact",
    oracle=f"""
WITH {_SQL_CANDIDATES_EXACT}
SELECT md5(text) AS fp, count(*) AS n,
       CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(max(doc_id) AS BIGINT) AS dup_id
FROM candidates GROUP BY md5(text) HAVING count(*) > 1""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content fingerprint; keep min id.
    At 10^12 scale this is one shuffle keyed by the hash — the minimum
    possible; AQE coalesces the post-agg partitions."""
    return (
        _candidates_exact(spark, sf_dir)
        .groupBy(F.md5("text").alias("fp"))
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").cast("bigint").alias("keep_id"),
            F.max("doc_id").cast("bigint").alias("dup_id"),
        )
        .filter(F.col("n") > 1)
    )


# -- shared shingle machinery --------------------------------------------------

#: md5-hex → int64 hash law (single definition in registry.HASH_SQL).
_HASH = HASH_SQL


def _shingle_array(cand: DataFrame) -> DataFrame:
    """(doc_id, sh: array<string>) — DISTINCT 3-word shingles per document,
    built entirely with array expressions: ``transform(sequence(...))`` over
    the split word array, then ``array_distinct``. ZERO shuffles and no
    per-doc window sort (the posexplode + Window formulation this replaces
    was the single most expensive non-extract stage in BENCH_r01 and
    anti-scaled 8→32 cores)."""
    return cand.select("doc_id", F.split("text", " ").alias("w")).select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "CASE WHEN size(w) >= 3 THEN "
                "transform(sequence(0, size(w) - 3), "
                "i -> concat_ws(' ', w[i], w[i + 1], w[i + 2])) "
                "ELSE cast(array() as array<string>) END"
            )
        ).alias("sh"),
    )


def _jaccard_of(x: str, y: str):
    """The UNROUNDED Jaccard of two distinct-shingle array columns (no
    re-explode, no collect_set: the array IS the set). Each pair operator
    applies its own gate to it."""
    return F.size(F.array_intersect(F.col(x), F.col(y))).cast("double") / F.size(
        F.array_union(F.col(x), F.col(y))
    )


def _jaccard(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """(a_id, b_id, j) — candidate pairs joined to both documents' distinct
    shingle arrays, with ``j`` their ``_jaccard_of``."""
    sa, sb = sh.alias("sa"), sh.alias("sb")
    return (
        pairs.join(sa, F.col("sa.doc_id") == F.col("a_id"))
        .join(sb, F.col("sb.doc_id") == F.col("b_id"))
        .select("a_id", "b_id", _jaccard_of("sa.sh", "sb.sh").alias("j"))
    )


# -- minhash LSH --------------------------------------------------------------

_N_HASHES = 8

_SQL_SHINGLES = f"""
words AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM candidates
),
shingles AS (
  SELECT DISTINCT doc_id,
         word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w AS shingle
  FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(word, 2) OVER w IS NOT NULL
),
hashes AS (
  SELECT doc_id, h.i AS band,
         min(((('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483648)
              * (1000003 + 999983 * h.i) + (12345 + 67890 * h.i))
             % 2147483647) AS minhash
  FROM shingles, (SELECT unnest(range({_N_HASHES})) AS i) h
  GROUP BY doc_id, h.i
)
"""

#: per-document minhash signature: ONE md5-int base hash per shingle
#: (folded to 31 bits), then each band applies a cheap universal-hash
#: permutation ``(h31 * P_b + Q_b) % M`` with M = 2147483647 (Mersenne
#: prime) — the classic k-permutation minhash. The modulus is what makes
#: the bands INDEPENDENT: without it the map is strictly monotone in h31,
#: every band's array_min picks the same shingle, and LSH recall collapses
#: from 1-(1-j)^8 to j (ADVICE r02, high). Products are bounded by
#: 2^31 * 8e6 < 2^54 and all operands are positive, so int64 arithmetic and
#: ``%`` agree bit-for-bit between Spark and DuckDB. (The law before this
#: one salted the md5 per band — 8 full digests per shingle — and that
#: hashing dominated the whole query's CPU profile at every scale factor.)
_PERM = (
    "(h * (1000003 + cast(999983 as bigint) * b) + (12345 + 67890 * b)) "
    "% 2147483647"
)

#: the 8 minhashes as a plain array, index = band: ``minhash_signatures``
#: posexplodes it and the banded LSH key construction indexes it.
_MINHASH_ARRAY_EXPR = (
    f"transform(sequence(0, {_N_HASHES - 1}), "
    f"b -> array_min(transform(h31, h -> {_PERM})))"
)

#: banded LSH: b=4 bands x r=2 rows. The band key packs the band's two
#: minhashes into one int64 — mh < 2^31 so ``mh[2b] * 2^31 + mh[2b+1]`` is
#: injective (collision-free) and fits a signed 64-bit (< 2^62). A pair is
#: a candidate iff BOTH minhashes of some band agree: P = 1-(1-j^2)^4,
#: vs the old r=1 law's 1-(1-j)^8 which admitted a candidate on ANY single
#: minhash collision. At the verify threshold j=0.5 recall is 0.68 (old:
#: 0.996) but at the j>=0.85 the planted near-dups sit at it is >=0.9997 —
#: the standard b x r precision/recall trade (Leskovec/Rajaraman/Ullman,
#: Mining of Massive Datasets ch.3), bought to cut the candidate set the
#: r03 decorrelation fix inflated (BENCH_r03 dedup_minhash_lsh 5.68 s).
_N_BANDS = 4

#: the b packed band keys as one plain array over ``mh``, index = band.
_BAND_KEYS_EXPR = "array(" + ", ".join(
    f"mh[{2 * b}] * cast(2147483648 as bigint) + mh[{2 * b + 1}]"
    for b in range(_N_BANDS)
) + ")"

_H31_EXPR = "transform(sh, s -> " + _HASH.format(x="s") + " % cast(2147483648 as bigint))"


def _shingle_hashes(cand: DataFrame) -> DataFrame:
    """(doc_id, sh, h31) — the shingle arrays plus each shingle's 31-bit
    base hash. Persist it before ``_minhash_array``: each of the 8 per-band
    lambdas of ``_MINHASH_ARRAY_EXPR`` reads ``h31``, and CollapseProject
    inlines an unpersisted ``h31`` projection into every one of them, so
    every shingle would be md5-hashed once per band
    (tests/test_plans.py guards the optimized plan)."""
    return _shingle_array(cand).withColumn("h31", F.expr(_H31_EXPR))


def _minhash_array(shh: DataFrame) -> DataFrame:
    """(doc_id, sh, mh: array<bigint>[8]) signature-array frame from a
    persisted ``_shingle_hashes`` frame; ``sh`` rides along for the band
    join's verification. Callers that read ``mh`` more than once (the
    band-key build, posexplode) persist this frame too: Catalyst's
    CollapseProject inlines a projected alias into every lambda reference,
    so an unpersisted ``mh`` is re-computed per reference — 8 references ×
    8 h31 evaluations ≈ 64× the md5 work (measured 2.6× wall on the whole
    query; same trap as the r02 thin-transport experiments in
    BENCH/PLANS.md). A persisted frame makes ``mh[i]`` plain array indexing
    against the cached column."""
    return shh.filter(F.size("sh") > 0).select(
        "doc_id", "sh", F.expr(_MINHASH_ARRAY_EXPR).alias("mh")
    )


def _band_keys_from(mhf: DataFrame) -> DataFrame:
    """(doc_id, sh, bks, band, bkey) banded-LSH keys from a (persisted)
    minhash-array frame, one row per band, each carrying the document's
    4 band keys ``bks`` and its shingle array: one narrow projection, no
    shuffle until the downstream bucket equi-join. ``posexplode_outer``
    (``bks`` always has 4 keys) infers no ``size(bks) > 0`` filter to
    evaluate below the projection."""
    return mhf.select("doc_id", "sh", F.expr(_BAND_KEYS_EXPR).alias("bks")).select(
        "doc_id", "sh", "bks", F.posexplode_outer("bks").alias("band", "bkey")
    )


@query(
    "minhash_signatures",
    oracle=f"""
WITH {_SQL_CANDIDATES_NEAR}, {_SQL_SHINGLES.rstrip()}
SELECT doc_id, CAST(band AS INT) AS band, minhash FROM hashes""",
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 hash functions over 3-word shingles), one row
    per band: the LSH path's two persisted frames, the signature array
    posexploded. That array frame is persisted too because posexplode
    makes the optimizer add a ``size(mh) > 0`` filter, which would
    otherwise recompute every minhash."""
    sh = track_persist(_shingle_hashes(_candidates_near(spark, sf_dir)))
    return track_persist(_minhash_array(sh)).select(
        "doc_id", F.posexplode("mh").alias("band", "minhash")
    )


#: banded candidate generation in SQL (the oracle twin of _BAND_KEYS_EXPR +
#: the bucket self-join) — shared by the LSH pair query and the LSH-path
#: campaign so the banding law lives in one place.
_SQL_BANDED_PAIRS = """
bands AS (
  SELECT e.doc_id, e.band // 2 AS band,
         e.minhash * 2147483648 + o.minhash AS bkey
  FROM hashes e JOIN hashes o
    ON o.doc_id = e.doc_id AND o.band = e.band + 1
  WHERE e.band % 2 = 0
),
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {_SQL_CANDIDATES_NEAR}, {_SQL_SHINGLES.rstrip()},
{_SQL_BANDED_PAIRS.strip()},
verified AS (
  SELECT p.a_id, p.b_id,
         round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
               / len(list_distinct(sa.sh || sb.sh)), 4) AS jaccard
  FROM pairs p
  JOIN (SELECT doc_id, list(DISTINCT shingle) AS sh FROM shingles GROUP BY doc_id) sa
    ON sa.doc_id = p.a_id
  JOIN (SELECT doc_id, list(DISTINCT shingle) AS sh FROM shingles GROUP BY doc_id) sb
    ON sb.doc_id = p.b_id
)
SELECT a_id, b_id, jaccard FROM verified WHERE jaccard >= 0.5""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup detection: signature → b=4 × r=2
    band-key bucket self-join → Jaccard verification of candidates.
    Signatures, band keys and shingle sets are narrow array expressions;
    the only wide shuffle is the (band, bkey) bucket equi-join, whose
    rows carry both documents' shingle arrays, so each candidate is
    verified where it is found — bucket sizes are bounded by two-minhash
    collisions (P ≈ j² per band), not corpus size. The r=2 banding is
    what keeps verification affordable: with r=1 any single-minhash
    collision produced a candidate (see _BAND_KEYS_EXPR note for the
    threshold curve)."""
    return minhash_lsh_pairs_frame(_candidates_near(spark, sf_dir))


def minhash_lsh_pairs_frame(cand: DataFrame) -> DataFrame:
    """The banded-LSH pair operator over any (doc_id, text) frame — the
    plant-free production path the job CLI runs on real corpora."""
    # materialize the shingle frame (with its base hashes) once: without
    # this the corpus parquet is scanned 8x (band keys twice, shingle sets
    # four times). At 10^12 docs this persist is the write-signatures-to-a-
    # side-table stage of a real dedup campaign; Spark's cache manager
    # dedupes by canonical plan, so repeated invocations share one
    # materialization.
    return _lsh_pairs(track_persist(_shingle_hashes(cand)))


def _lsh_pairs(sh: DataFrame) -> DataFrame:
    """(a_id, b_id, jaccard) banded-LSH pairs of a persisted
    ``_shingle_hashes`` frame, in ONE join: no distinct and no join back
    to the shingle frame, so the pair stage runs as few Spark jobs and
    codegen stages as it can. The price is bytes: each band row carries
    its document's shingle array, so a shuffled (not broadcast) bucket
    join moves every array once per band on both sides."""
    bk = _band_keys_from(track_persist(_minhash_array(sh)))
    a, b = bk.alias("a"), bk.alias("b")
    # a pair joins in every band whose key it shares; only the first such
    # band keeps it, so each candidate comes out once, with no distinct
    first_band = F.lit(True)
    for i in range(_N_BANDS - 1):
        first_band &= ~((F.col("a.band") > i) & (F.col("a.bks")[i] == F.col("b.bks")[i]))
    # both sides carry their shingle arrays, so verification needs no join
    # back to the shingle frame; it gates on the ROUNDED Jaccard (the
    # oracle law)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & first_band,
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.round(_jaccard_of("a.sh", "b.sh"), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


# -- simhash -------------------------------------------------------------------

#: LEGACY 16-bit signature width — kept ONLY for the oracle-frozen
#: ``simhash_signatures`` / ``dedup_simhash`` parity queries. Do NOT use in
#: new compositions: 16-bit slice values have 32-64 possible values, so
#: candidate buckets grow O(N²/64) at corpus scale. ``_simhash`` takes the
#: width from every caller; new compositions pass ``_SIMHASH64_BITS``.
_SIMHASH_BITS_LEGACY16 = 16

#: effective signature width of the frozen md5-hex→int64 law: 15 hex chars
#: = 60 bits (a full 64 would overflow signed int64 in the DuckDB twin).
_SIMHASH64_BITS = 60

#: near-dup radius: pairs within this Hamming distance are reported.
_SIMHASH_RADIUS = 2


def _sql_simhash(bits: int) -> str:
    """DuckDB simhash CTE chain, parameterized by signature width."""
    return f"""
words AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
  FROM candidates
),
wh AS (
  SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS h FROM words
),
bits AS (
  SELECT doc_id, b.i AS bit,
         sum(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM wh, (SELECT unnest(range({bits})) AS i) b
  GROUP BY doc_id, b.i
),
sims AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
"""


_SQL_SIMHASH = _sql_simhash(_SIMHASH_BITS_LEGACY16)

#: all-pairs Hamming scan over ``sims`` — the oracle twin of
#: ``_simhash_pairs`` for both widths.
_SQL_SIMHASH_PAIRS = f"""
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_RADIUS}"""


def _simhash_expr(bits: int) -> str:
    """simhash over per-doc distinct word hashes ``hs`` — for each bit, the
    sign of sum(±1) over word-hash bits; pure nested array aggregation,
    no shuffle."""
    return (
        f"aggregate(transform(sequence(0, {bits - 1}), b -> "
        "CASE WHEN aggregate(hs, 0L, (acc, h) -> "
        "acc + CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1L ELSE -1L END) > 0 "
        "THEN shiftleft(1L, b) ELSE 0L END), 0L, (acc, x) -> acc + x)"
    )


def _simhash(cand: DataFrame, bits: int) -> DataFrame:
    """(doc_id, simhash) ``bits``-wide signatures. The word-hash frame is
    persisted first: every per-bit lambda reads ``hs``, and CollapseProject
    inlines an unpersisted ``hs`` projection into each of them, which would
    md5-hash every word once per bit (tests/test_plans.py guards it)."""
    wh = track_persist(cand.select(
        "doc_id",
        F.expr(
            "transform(array_distinct(split(text, ' ')), x -> " + _HASH.format(x="x") + ")"
        ).alias("hs"),
    ))
    return wh.select(
        "doc_id", F.expr(_simhash_expr(bits)).cast("bigint").alias("simhash")
    )


@query(
    "simhash_signatures",
    oracle=f"WITH {_SQL_CANDIDATES_NEAR}, {_SQL_SIMHASH.rstrip()} SELECT doc_id, simhash FROM sims",
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signature per document (word-level features).
    LEGACY width, oracle-frozen."""
    return _simhash(_candidates_near(spark, sf_dir), _SIMHASH_BITS_LEGACY16)


def _simhash_slices(bits: int) -> str:
    """Pigeonhole bit-slices for Hamming <= ``_SIMHASH_RADIUS``: radius + 1
    slices, so any pair within the radius matches exactly on >= 1 slice.
    Slice 0 takes the remainder bits: 6+5+5 at 16 bits, 3 x 20 at 60."""
    n = _SIMHASH_RADIUS + 1
    w = bits // n
    lo = bits - (n - 1) * w
    vals = [f"simhash & {(1 << lo) - 1}"] + [
        f"shiftright(simhash, {lo + (i - 1) * w}) & {(1 << w) - 1}"
        for i in range(1, n)
    ]
    return "array(" + ", ".join(
        f"named_struct('sid', {i}, 'sval', {v})" for i, v in enumerate(vals)
    ) + ")"


def _simhash_pairs(sig: DataFrame, bits: int) -> DataFrame:
    """Pigeonhole-blocked Hamming pairs over a (doc_id, simhash) frame of
    ``bits``-wide signatures: explode the bit slices → (sid, sval)
    EQUI-join → map-side Hamming filter (free predicate) → distinct (the
    one shuffle that dedupes multi-slice matches). Shared by the 16- and
    60-bit operators so the pairing law lives in exactly one place."""
    s = track_persist(sig)  # both sides of the slice self-join
    sl = s.select(
        "doc_id", "simhash", F.explode(F.expr(_simhash_slices(bits))).alias("p")
    ).select("doc_id", "simhash", "p.sid", "p.sval")
    a, b = sl.alias("a"), sl.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("int")
    return (
        a.join(
            b,
            (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.sval") == F.col("b.sval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= _SIMHASH_RADIUS)
        .distinct()
    )


@query(
    "dedup_simhash",
    oracle=f"WITH {_SQL_CANDIDATES_NEAR}, {_SQL_SIMHASH.rstrip()}{_SQL_SIMHASH_PAIRS}",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming distance ≤ 2 on 16-bit signatures.

    .. deprecated:: LEGACY — oracle-frozen law kept for parity; 16-bit
       slice values have only 32-64 possible values, so candidate buckets
       grow O(N²/64) at corpus scale. New dedup campaigns should use
       ``dedup_simhash64`` (20-bit content-derived slices) — the
       ``dedup_campaign_keep`` composition and COVERAGE.md point there.

    Candidate generation is the pigeonhole bit-slice EQUI-join: the
    signature splits into 3 slices, any pair within distance 2 agrees on at
    least one slice, so an equi-join on (slice_id, slice_value) finds every
    qualifying pair — same output as the oracle's all-pairs scan, but
    shuffle-keyed like the minhash bands instead of O(N²). (At a real
    100 TB corpus you widen the signature to 64 bits so slice values have
    ~2^21 cardinality; 16 bits is frozen here by the oracle law — see
    ``dedup_simhash64`` for the wide variant.)"""
    return _simhash_pairs(
        _simhash(_candidates_near(spark, sf_dir), _SIMHASH_BITS_LEGACY16),
        _SIMHASH_BITS_LEGACY16,
    )


# -- simhash64: the wide-signature variant that scales -------------------------


@query(
    "dedup_simhash64",
    oracle=f"""
WITH {_SQL_CANDIDATES_EXACT}, {_sql_simhash(_SIMHASH64_BITS).rstrip()}{_SQL_SIMHASH_PAIRS}""",
)
def dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs on the WIDE (60-bit) signature, Hamming ≤ 2 —
    the Manku/Jain/Sarma web-crawl design (WWW'07, public) re-expressed as
    DataFrame ops, and the variant of ``dedup_simhash`` whose candidate
    join survives 100 TB: its 3 x 20-bit slice values are content-derived
    hashes (~2^20 cardinality) instead of the 16-bit operator's 32-64
    fixed buckets, so per-bucket membership is bounded by true
    near-duplicates, not N/64.

    Radius 2 on a 60-bit word-level signature is tight (the synthetic
    drop-one-word near-dups land at ~4-8 bits), so this query plants EXACT
    copies: the operator's correctness contract — the pigeonhole blocking
    finds EVERY pair within the radius, identical to the oracle's all-pairs
    scan — is exercised regardless of how near the planted pairs are."""
    return _simhash_pairs(
        _simhash(_candidates_exact(spark, sf_dir), _SIMHASH64_BITS), _SIMHASH64_BITS
    )


# -- n-gram Jaccard ------------------------------------------------------------

#: bottom-2 shingle-hash blocking keys (SQL-expr form over the ``sh`` array).
#: Key cardinality grows with the corpus (content-derived hashes), unlike a
#: fixed ``% k`` bucket whose within-bucket cross product is O(N²/k). Using
#: the TWO smallest hashes guarantees recall for single-shingle edits: if a
#: near-copy loses one shingle, at most one of the original's bottom-2 keys
#: disappears, so the pair still shares a key (pigeonhole on bottom-k).
_BOTTOM2_KEYS = (
    "slice(array_sort(transform(sh, s -> " + _HASH.format(x="s") + ")), 1, 2)"
)

_SQL_BLOCKED_PAIRS = """
sets AS (SELECT doc_id, list(DISTINCT shingle) AS sh FROM shingles GROUP BY doc_id),
keyed AS (
  SELECT doc_id,
         unnest(list_sort(list_transform(sh,
                s -> ('0x' || substr(md5(s), 1, 15))::BIGINT))[1:2]) AS bkey
  FROM sets
),
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM keyed a JOIN keyed b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
)
"""


def _blocked_candidate_pairs(sh: DataFrame) -> DataFrame:
    """(a_id, b_id) candidate pairs via bottom-2 min-shingle-hash blocking."""
    keyed = sh.filter(F.size("sh") > 0).select(
        "doc_id", F.explode(F.expr(_BOTTOM2_KEYS)).alias("bkey")
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )


@query(
    "ngram_jaccard_pairs",
    oracle=f"""
WITH {_SQL_CANDIDATES_NEAR}, {_SQL_SHINGLES.rstrip()},
{_SQL_BLOCKED_PAIRS.strip()}
SELECT p.a_id, p.b_id,
       round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
             / len(list_distinct(sa.sh || sb.sh)), 4) AS jaccard
FROM pairs p
JOIN sets sa ON sa.doc_id = p.a_id
JOIN sets sb ON sb.doc_id = p.b_id
WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
      / len(list_distinct(sa.sh || sb.sh)) >= 0.3""",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs — the non-probabilistic baseline the
    LSH methods approximate. Blocking key = the document's two smallest
    shingle hashes (bottom-k sketch), so bucket cardinality scales with the
    corpus and within-bucket membership is bounded by true near-duplicates,
    not by N/k."""
    return jaccard_pairs_frame(_candidates_near(spark, sf_dir))


def jaccard_pairs_frame(cand: DataFrame) -> DataFrame:
    """The blocked-Jaccard pair operator over any (doc_id, text) frame —
    the plant-free production path the job CLI runs on real corpora."""
    # scanned 3x otherwise (keys + both verify sides)
    return _blocked_jaccard_pairs(track_persist(_shingle_array(cand)))


def _blocked_jaccard_pairs(sh: DataFrame) -> DataFrame:
    """(a_id, b_id, jaccard) blocked pairs of a persisted ``_shingle_array``
    frame; gates on the UNROUNDED Jaccard, reports it rounded (the oracle
    law)."""
    return (
        _jaccard(_blocked_candidate_pairs(sh), sh)
        .filter(F.col("j") >= 0.3)
        .select("a_id", "b_id", F.round("j", 4).alias("jaccard"))
    )


# -- duplicate clusters (connected components) --------------------------------

#: Edge budget under which ``connected_components`` finishes on the driver,
#: sized by the driver memory it costs: 2^20 int64 edges are 16 MB as an
#: Arrow (u, v) table; with the node -> parent dict and the Python ints the
#: finish peaks at ~210 MB for 2^21 distinct nodes and takes ~2.3 s on one
#: core of a 4-vCPU VM — still cheaper than the rounds it replaces.
_CC_LOCAL_EDGES = 1 << 20


def connected_components(
    edges: DataFrame, max_rounds: int = 30, *, local_edges: int = _CC_LOCAL_EDGES
) -> DataFrame:
    """Connected components by the ALTERNATING large-star / small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 — public algorithm, re-expressed as DataFrame ops),
    finished on the driver once the edge list is small.

    ``edges``: (src, dst) undirected pairs, any orientation. Returns
    (node, label) where label = the component's minimum node id, both
    typed like the (widened) input columns. Raises RuntimeError if the
    edges are still above ``local_edges`` and not at a fixpoint after
    ``max_rounds`` distributed rounds.

    Local finish: the raw edges (self-loops dropped, repeats kept) are
    first fetched with one bounded ``limit(local_edges + 1).toArrow()``.
    If no more than ``local_edges`` (``_CC_LOCAL_EDGES`` by default) come
    back, min-root union-find runs on them on the driver and the labels
    come back as a DataFrame built from an Arrow table: a small graph
    costs that one fetch job, with no distinct, count or checkpoint job.
    Otherwise the distinct edges are checkpointed and counted, and the
    rounds run until the count is under the budget, when the checkpointed
    edges are fetched the same way. An iterative fixpoint over a few
    hundred edges pays for jobs, not bytes. ``local_edges=0`` forces pure
    star contraction (an empty edge list is still answered locally).

    Above the budget each round is two hash-aggregate+join passes over the
    edge list — no per-node neighbor materialization (no collect_list; hot
    nodes stay distributed) — and converges in O(log d) rounds vs the O(d)
    of plain min-label propagation, which is the property that matters for
    web-scale duplicate graphs with long chains. ``localCheckpoint``
    truncates lineage each round so the plan stays flat. Invariants used:

    * large-star emits (b, m(a)) for neighbors b > a, where m(a) is the
      minimum of a's closed neighborhood — emitted edges are automatically
      larger-first because m(a) <= a < b;
    * small-star then re-parents every smaller neighbor (and the center)
      of each larger-first center to the minimum, preserving larger-first;
    * a star set is a fixpoint; at convergence every edge is (node, root)
      with root = component minimum.
    """
    E = edges.selectExpr("greatest(src, dst) AS u", "least(src, dst) AS v").filter(
        F.col("u") != F.col("v")
    )
    # one bounded fetch of the raw edges: a graph with no more than the
    # budget of them is finished right here (union-find ignores repeated
    # edges), with no distinct, count or checkpoint job
    t = E.limit(local_edges + 1).toArrow()
    if t.num_rows <= local_edges:
        return _union_find(t, E.sparkSession)
    E = E.distinct().localCheckpoint(eager=False)  # materialized by the
    # count below — one job instead of an eager checkpoint job plus a count
    n_e = E.count()
    rounds = 0
    while n_e > local_edges:
        if rounds == max_rounds:
            # partially-contracted edges would split components: no answer
            # rather than a silently wrong one
            raise RuntimeError(
                f"connected_components: star contraction not converged after "
                f"{max_rounds} rounds"
            )
        small = _star_round(E)
        # fixpoint test: edge set unchanged (counts + one-sided anti-join);
        # the previous round's count is carried over instead of re-running
        # a count job on the checkpointed E every iteration
        n_s = small.count()
        if n_s == n_e and small.join(
            E, ["u", "v"], "left_anti"
        ).limit(1).count() == 0:
            return (
                small.select(F.col("u").alias("node"), F.col("v").alias("label"))
                .unionByName(
                    small.select(F.col("v").alias("node"), F.col("v").alias("label"))
                )
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
        E, n_e, rounds = small, n_s, rounds + 1
    return _local_components(E)


def _star_round(E: DataFrame) -> DataFrame:
    """One large-star + small-star round over larger-first (u, v) edges,
    checkpointed lazily (the caller's count materializes it)."""
    # large-star: for every node a, m = min(neighborhood ∪ {a});
    # re-parent each strictly larger neighbor b to m
    sym = E.selectExpr("u AS a", "v AS b").union(E.selectExpr("v AS a", "u AS b"))
    mins = (
        sym.groupBy("a").agg(F.min("b").alias("mb"))
        .select("a", F.least("mb", F.col("a")).alias("m"))
    )
    large = (
        sym.filter(F.col("b") > F.col("a"))
        .join(mins, "a")
        .select(F.col("b").alias("u"), F.col("m").alias("v"))
        .distinct()
    )
    # small-star: per larger-first center u, m = min(smaller neighbors);
    # re-parent every smaller neighbor != m and the center itself to m
    mins2 = large.groupBy("u").agg(F.min("v").alias("mn"))
    joined = large.join(mins2, "u")
    return (
        joined.filter(F.col("v") != F.col("mn"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .unionByName(joined.select("u", F.col("mn").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )


def _local_components(E: DataFrame) -> DataFrame:
    """(node, label) of a driver-sized checkpointed (u, v) edge list: one
    ``toArrow()`` fetch, then ``_union_find``."""
    return _union_find(E.toArrow(), E.sparkSession)


def _union_find(t: pa.Table, spark: SparkSession) -> DataFrame:
    """(node, label = component minimum) of a fetched (u, v) Arrow table:
    min-root union-find with path halving, and an Arrow-built DataFrame
    typed like ``u`` — no Row object, Python worker or shuffle per edge."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(t.column("u").to_pylist(), t.column("v").to_pylist()):
        ra, rb = find(a), find(b)
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    nodes = list(parent)
    typ = t.schema.field("u").type
    return spark.createDataFrame(
        pa.table({
            "node": pa.array(nodes, typ),
            "label": pa.array([find(n) for n in nodes], typ),
        })
    )


def _sql_edges_reach(near_pred: str) -> str:
    """Clustering-law CTE chain (verified near pairs -> symmetric edge list
    -> recursive reachability), parameterized only by the verification
    predicate so the fixpoint law can never drift between pair sources."""
    return f"""
near AS (
  SELECT p.a_id, p.b_id
  FROM pairs p
  JOIN sets sa ON sa.doc_id = p.a_id
  JOIN sets sb ON sb.doc_id = p.b_id
  WHERE {near_pred}
),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM near
  UNION SELECT b_id, a_id FROM near
),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
)
"""


#: the n-gram-Jaccard clustering chain (clusters + jaccard-path campaign).
_SQL_NEAR_EDGES_REACH = _sql_edges_reach(
    "len(list_intersect(sa.sh, sb.sh))::DOUBLE"
    " / len(list_distinct(sa.sh || sb.sh)) >= 0.3"
)

#: the LSH-path chain: same verification law as dedup_minhash_lsh
#: (ROUNDED jaccard >= 0.5).
_SQL_NEAR_EDGES_REACH_LSH = _sql_edges_reach(
    "round(len(list_intersect(sa.sh, sb.sh))::DOUBLE"
    " / len(list_distinct(sa.sh || sb.sh)), 4) >= 0.5"
)


@query(
    "dedup_cc_clusters",
    oracle=f"""
WITH RECURSIVE {_SQL_CANDIDATES_NEAR.strip()}, {_SQL_SHINGLES.rstrip()},
{_SQL_BLOCKED_PAIRS.strip()},
{_SQL_NEAR_EDGES_REACH.strip()}
SELECT CAST(node AS BIGINT) AS doc_id,
       CAST(min(label) AS BIGINT) AS cluster_id
FROM reach GROUP BY node""",
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS via connected components over near-dup pairs —
    the iterative operator a dedup pipeline needs when similarity is not
    transitive (A~B, B~C, A!~C must still collapse to one cluster).
    Runs the alternating large-star/small-star contraction
    (``connected_components``); the DuckDB oracle states the same fixpoint
    as a recursive CTE."""
    pairs = ngram_jaccard_pairs(spark, sf_dir).select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    )
    labels = connected_components(pairs)
    return labels.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("label").cast("bigint").alias("cluster_id"),
    )


@query(
    "dedup_campaign_keep",
    oracle=f"""
WITH RECURSIVE {_SQL_CANDIDATES_NEAR.strip()}, {_SQL_SHINGLES.rstrip()},
{_SQL_BLOCKED_PAIRS.strip()},
{_SQL_NEAR_EDGES_REACH.strip()},
labels AS (SELECT node, min(label) AS lab FROM reach GROUP BY node)
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM candidates
WHERE doc_id NOT IN (SELECT node FROM labels WHERE node != lab)""",
)
def dedup_campaign_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END dedup campaign a training-data pipeline actually runs,
    as one operator: shingle signatures → blocked near-dup pairs
    (``ngram_jaccard_pairs``) → duplicate clusters (``connected_components``)
    → keep-list anti-join, returning the doc_ids that survive (each
    cluster's minimum id plus every unclustered document).

    Every stage is one of the already-verified operators; the composition
    adds exactly one extra shuffle (the left_anti join on doc_id). At
    100 TB the cluster labels are the small side by construction
    (|duplicates| << |corpus|), so AQE turns the anti-join into a broadcast."""
    return campaign_keep_frame(_candidates_near(spark, sf_dir), "jaccard")


@query(
    "dedup_campaign_keep_lsh",
    oracle=f"""
WITH RECURSIVE {_SQL_CANDIDATES_NEAR.strip()}, {_SQL_SHINGLES.rstrip()},
{_SQL_BANDED_PAIRS.strip()},
sets AS (SELECT doc_id, list(DISTINCT shingle) AS sh FROM shingles GROUP BY doc_id),
{_SQL_NEAR_EDGES_REACH_LSH.strip()},
labels AS (SELECT node, min(label) AS lab FROM reach GROUP BY node)
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM candidates
WHERE doc_id NOT IN (SELECT node FROM labels WHERE node != lab)""",
)
def dedup_campaign_keep_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same campaign over the MINHASH-LSH pair source (VERDICT r03 #8):
    banded b×r candidates → jaccard ≥ 0.5 verify → connected components →
    keep list. At 100 TB this is the path to run — pair generation cost is
    bounded by two-minhash band collisions instead of bottom-k blocking."""
    return campaign_keep_frame(_candidates_near(spark, sf_dir), "minhash_lsh")


def campaign_keep_frame(
    docs: DataFrame, pair_source: str = "jaccard"
) -> DataFrame:
    """The campaign over any (doc_id, text) frame — the shape
    `python -m tesserocr_spark --dedup-campaign` runs on a real corpus and
    the two campaign queries run over planted candidates: pairs →
    connected components → keep-list anti-join returning surviving doc_ids.
    The pair source is pluggable:

    * ``"jaccard"`` — ``jaccard_pairs_frame`` (bottom-2 shingle blocking,
      threshold 0.3): the exact, non-probabilistic baseline.
    * ``"minhash_lsh"`` — ``minhash_lsh_pairs_frame`` (banded b=4 × r=2
      LSH, verified jaccard ≥ 0.5): the probabilistic web-scale path.

    The pair stage is the only difference, so the two keep lists agree
    wherever the pair sets agree (pytest asserts exact agreement on the
    planted duplicates)."""
    sources = {"jaccard": (_shingle_array, _blocked_jaccard_pairs),
               "minhash_lsh": (_shingle_hashes, _lsh_pairs)}
    try:
        shingles, pairs_of = sources[pair_source]
    except KeyError:
        raise ValueError(
            f"pair_source must be one of {sorted(sources)}, got {pair_source!r}"
        ) from None
    # the persisted shingle frame holds one row per input document, so the
    # keep list reads its doc ids instead of scanning ``docs`` again
    sh = track_persist(shingles(docs))
    pairs = pairs_of(sh).select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    labels = connected_components(pairs)
    drop = labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    return (
        sh.select("doc_id").join(drop, "doc_id", "left_anti")
        .select(F.col("doc_id").cast("bigint").alias("doc_id"))
    )


# -- cross-corpus sentence dedup (C4 / CCNet-style boilerplate removal) --------

#: a sentence is dropped when it occurs this many times across the corpus.
_SENT_FREQ_DROP = 3

#: planted boilerplate: every doc_id % 6 == 0 gets the same trailing
#: sentence, which the frequency rule must strip from ALL of them.
_BOILER_SENT = "subscribe to our newsletter for updates"


def _sentence_flags(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, sent, dropped) — every sentence of every document with
    its global-frequency drop verdict. Shared by the oracle query and the
    production text-cleaning operator so the law lives once.

    Skew hardening (r05, VERDICT r04 task #5): the frequency aggregate and
    the sents<->freq equi-join key on ``md5(sent)``, not the raw sentence —
    the sentences being dropped are by definition the corpus's hottest join
    keys (global boilerplate), and a 16-byte fixed-width key keeps the
    shuffle rows small no matter how long the boilerplate sentence is. The
    skew itself (one bucket holding every copy of a boilerplate sentence)
    is handled by AQE skewJoin, enabled in the job CLI; the frequency
    aggregate is immune via map-side partial combine. Grouping by md5
    instead of the text is law-identical modulo md5 collisions (none at any
    realistic corpus size, and tests/test_pipeline_ops.py plants a directed
    30%-hot-key corpus to lock behavior)."""
    sents = docs.select(
        "doc_id", F.posexplode(F.split("text", "[.] ")).alias("pos0", "sent")
    ).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "sent",
        F.md5("sent").alias("sk"),
    )
    freq = (
        sents.filter(F.col("sent") != "")
        .groupBy("sk")
        .agg(F.count("*").alias("n"))
    )
    return sents.join(freq, "sk", "left").select(
        "doc_id", "pos", "sent",
        ((F.col("sent") != "") & (F.col("n") >= _SENT_FREQ_DROP)).alias("dropped"),
    )


def _sentence_regroup(docs: DataFrame) -> DataFrame:
    """(doc_id, n_sents, n_dropped, text) — each document's sentence count,
    dropped-sentence count and surviving text (kept sentences rejoined in
    original order). The one regroup behind the oracle query and the
    production cleaner; ColumnPruning drops the counts the cleaner never
    reads."""
    # collect_list skips the NULLs when() leaves for dropped sentences;
    # sort_array orders by the leading pos field -> original sentence order
    kept_struct = F.when(~F.col("dropped"), F.struct("pos", "sent"))
    return (
        _sentence_flags(docs).groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_sents"),
            F.sum(F.when(F.col("dropped"), 1).otherwise(0)).cast("bigint")
            .alias("n_dropped"),
            F.sort_array(F.collect_list(kept_struct)).alias("kept"),
        )
        .select(
            "doc_id", "n_sents", "n_dropped",
            F.array_join(F.expr("transform(kept, x -> x.sent)"), ". ")
            .alias("text"),
        )
    )


def sentence_dedup_frame(docs: DataFrame) -> DataFrame:
    """PRODUCTION C4-style sentence dedup over any (doc_id, text) frame —
    no planting: returns (doc_id, text) with every globally-frequent
    sentence (>= _SENT_FREQ_DROP corpus-wide occurrences) removed and the
    remainder rejoined in original order. The text-cleaning stage a
    pretraining pipeline runs before tokenization; shipped in the job CLI
    as ``--sentence-dedup``."""
    return _sentence_regroup(
        docs.select("doc_id", F.trim("text").alias("text"))
    ).select("doc_id", "text")


@query(
    "dedup_sentences",
    oracle=f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 6 = 0
              THEN trim(text) || '. {_BOILER_SENT}'
              ELSE trim(text) END AS text
  FROM documents
),
sents AS (
  SELECT doc_id,
         unnest(string_split(text, '. ')) AS sent,
         generate_subscripts(string_split(text, '. '), 1) AS pos
  FROM planted
),
freq AS (SELECT sent, count(*) AS n FROM sents WHERE sent != '' GROUP BY sent),
flagged AS (
  SELECT s.doc_id, s.pos, s.sent,
         (s.sent != '' AND f.n >= {_SENT_FREQ_DROP}) AS dropped
  FROM sents s LEFT JOIN freq f ON f.sent = s.sent
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_sents,
       CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       md5(coalesce(string_agg(CASE WHEN NOT dropped THEN sent END,
                               '. ' ORDER BY pos), '')) AS kept_fp
FROM flagged GROUP BY doc_id""",
)
def dedup_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus SENTENCE-level dedup — the C4/CCNet boilerplate-removal
    step (Raffel et al. 2020 §2.2; public method re-expressed as DataFrame
    ops): split every document into sentences, count each sentence's global
    occurrences, drop any sentence seen >= _SENT_FREQ_DROP times
    corpus-wide, and fingerprint the surviving document. The synthetic
    corpus has no shared sentences, so a fixed boilerplate sentence is
    planted on every doc_id % 6 == 0 document.

    100 TB shape: exactly two shuffles — the sentence-keyed count aggregate
    (map-side partial combine; key cardinality grows with the corpus) and
    the per-doc regroup — plus one equi-join of sentences against their
    counts. No collect, no windows over the whole corpus; per-doc state is
    bounded by document length. Spark ``split`` takes a REGEX so the
    separator is ``[.] `` (the ``[.]``-not-``\\.`` rule — Spark SQL string
    literals eat unknown backslash escapes, CLAUDE.md); DuckDB
    ``string_split`` takes the literal ``'. '``."""
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.trim("text").alias("text"))
    )
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat("text", F.lit(f". {_BOILER_SENT}")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return _sentence_regroup(planted).select(
        "doc_id", "n_sents", "n_dropped", F.md5("text").alias("kept_fp")
    )


# -- exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data") ---

#: scan width in words: a passage is duplicated when the same width-word
#: window occurs more than once corpus-wide.
_SUB_W = 8

#: packed (doc_id, pos) total order for the canonical-copy rule. The 2^32
#: stride bounds word positions — a document with >= 2^32 words would break
#: the packing long before it broke anything else.
_SUB_STRIDE = 4294967296

#: planted passage (10 words -> three duplicate 8-gram windows per doc):
#: the synthetic corpus shares no natural 8-grams, so every doc_id % 5 == 0
#: document gets the same trailing passage, which the scan must strip from
#: all but the packed-order-first copy.
_SUB_PASSAGE = (
    "all rights reserved this content is provided without any warranty"
)


def _sub_word_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, w: array<string>) — each document's ASCII-space word
    array."""
    return docs.select("doc_id", F.split("text", " ").alias("w"))


def _sub_gram_occurrences(words: DataFrame) -> DataFrame:
    """(doc_id, w, pos, gk, packed) — every document with one row per
    _SUB_W-word window start, the window keyed by md5 of its space-joined
    words (16-byte join keys, same skew hardening as sentence dedup). A
    document shorter than _SUB_W words keeps one row with a NULL ``pos``
    (``sequence(1, 0)`` would descend). Plain column expressions, no
    lambda, so the stage compiles into one codegen class; ``gk`` is
    non-NULL by construction (a short document's md5 of '' matches no
    window of 8 words), so no inferred ``isnotnull`` filter hashes each
    window a second time."""
    starts = F.when(
        F.size("w") >= _SUB_W, F.sequence(F.lit(1), F.size("w") - (_SUB_W - 1))
    )
    window = F.array_join(F.slice("w", "pos", F.lit(_SUB_W)), " ")
    return words.select("doc_id", "w", F.explode_outer(starts).alias("pos")).select(
        "doc_id",
        "w",
        "pos",
        F.md5(F.coalesce(window, F.lit(""))).alias("gk"),
        (F.col("doc_id") * F.lit(_SUB_STRIDE) + F.col("pos")).alias("packed"),
    )


def _sub_kept(words: DataFrame) -> DataFrame:
    """(doc_id, w, cov2, kept) — each document's word array (from a
    ``_sub_word_arrays`` frame), the positions covered by a duplicated
    window occurrence that is NOT the corpus-wide canonical (packed-order
    first) copy (``cov2``, empty when none), and its surviving text: the
    words at uncovered positions, rejoined in order. The one rebuild
    behind the scan query and the production cleaner.

    Shape: the persisted word frame is read twice. One gk-keyed aggregate
    (map-side combine) counts each window; one gk equi-join marks every
    occurrence against it; one per-doc aggregate collects the covered
    positions, with each document's words as part of its key — no
    windows, no join back to the words."""
    words = track_persist(words)
    occ = _sub_gram_occurrences(words)
    freq = (
        occ.filter(F.col("pos").isNotNull())
        .groupBy("gk")
        .agg(F.count("*").alias("n"), F.min("packed").alias("first_packed"))
        .filter(F.col("n") > 1)
    )
    covered = F.when(
        F.col("packed") != F.col("first_packed"),
        F.sequence("pos", F.col("pos") + (_SUB_W - 1)),
    )
    return (
        occ.join(freq, "gk", "left")
        .select("doc_id", "w", F.explode_outer(covered).alias("p"))
        .groupBy("doc_id", "w")
        .agg(F.collect_set("p").alias("cov2"))
        .select(
            "doc_id", "w", "cov2",
            F.array_join(
                F.expr("filter(w, (wd, i) -> NOT array_contains(cov2, i + 1))"), " "
            ).alias("kept"),
        )
    )


def substring_dedup_frame(docs: DataFrame) -> DataFrame:
    """PRODUCTION exact-substring dedup over any (doc_id, text) frame —
    the ExactSubstr pass of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better", public method re-expressed as DataFrame
    ops) at word granularity: every ``_SUB_W``-word window that occurs more
    than once corpus-wide is removed from every document except the
    packed-(doc_id, pos)-order first occurrence, and the surviving words
    are rejoined in order. Returns (doc_id, text). Shipped in the job CLI
    as ``--substring-dedup``.

    100 TB shape: the gram aggregate and the per-doc regroup shuffle on
    md5 window keys / doc_id (the regroup moves each document's words
    once, as a join back to the words would at that scale); the
    gram⋈freq equi-join inherits the
    sentence-dedup skew note (global boilerplate = hottest keys; AQE
    skewJoin enabled in the job CLI). No collect, no global window;
    per-doc state is bounded by document length."""
    return _sub_kept(
        _sub_word_arrays(docs.select("doc_id", F.trim("text").alias("text")))
    ).select("doc_id", F.col("kept").alias("text"))


@query(
    "dedup_substrings",
    oracle=f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN trim(text) || ' {_SUB_PASSAGE}'
              ELSE trim(text) END AS text
  FROM documents
),
words AS (SELECT doc_id, string_split(text, ' ') AS w FROM planted),
occ AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(w[i : i + {_SUB_W} - 1], ' ')) AS gk,
         doc_id * {_SUB_STRIDE} + i AS packed
  FROM words, unnest(range(1, len(w) - {_SUB_W} + 2)) AS t(i)
  WHERE len(w) >= {_SUB_W}
),
freq AS (SELECT gk, count(*) AS n, min(packed) AS fp FROM occ GROUP BY gk),
dup AS (
  SELECT o.doc_id, o.pos FROM occ o JOIN freq f USING (gk)
  WHERE f.n > 1 AND o.packed != f.fp
),
cov AS (
  SELECT DISTINCT doc_id, pos + j AS p
  FROM dup, unnest(range(0, {_SUB_W})) AS t(j)
),
wpos AS (
  SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i
  FROM words
)
SELECT wp.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(CASE WHEN c.p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_words,
       round(sum(CASE WHEN c.p IS NOT NULL THEN 1 ELSE 0 END) / count(*), 4)
         AS dup_frac,
       md5(coalesce(string_agg(CASE WHEN c.p IS NULL THEN wp.word END,
                               ' ' ORDER BY wp.i), '')) AS kept_fp
FROM wpos wp
LEFT JOIN cov c ON c.doc_id = wp.doc_id AND c.p = wp.i
GROUP BY wp.doc_id""",
)
def dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup scan (Lee et al. 2022 ExactSubstr, word-window
    variant): per document, how many words sit inside a duplicated
    8-word window whose occurrence is not the corpus-wide canonical
    copy, plus an md5 fingerprint of the surviving text. The synthetic
    corpus shares no natural 8-grams, so a 10-word passage is planted on
    every doc_id % 5 == 0 document (three overlapping duplicate windows
    each); the packed-order-first planted doc keeps its copy.

    Laws shared with the oracle: ASCII-space word split (split('') is ['']
    — a blank doc counts 1 empty word, registry docstring); md5 window
    keys; 2^32 packed (doc_id, pos) order; round(dup/total, 4) with
    float division on both engines."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.trim("text").alias("text")
    )
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat("text", F.lit(f" {_SUB_PASSAGE}")),
        ).otherwise(F.col("text")).alias("text"),
    )
    # the per-window md5 fingerprints pay for the spread (~2x at sf0.1);
    # the cheap minhash/simhash signature builds do not and read unspread.
    # Spreading the word arrays, not the text, leaves the cached frame
    # with no stage of its own between the exchange and the cache.
    return _sub_kept(spread(_sub_word_arrays(planted))).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.size("w").cast("bigint").alias("n_words"),
        F.size("cov2").cast("bigint").alias("n_dup_words"),
        F.round(F.size("cov2") / F.size("w"), 4).alias("dup_frac"),
        F.md5("kept").alias("kept_fp"),
    )
