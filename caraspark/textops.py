"""Training-data pipeline operators: dedup, similarity, text analysis.

The ops a 100 TB web-text curation pipeline runs after extraction —
deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding
cosine), approximate nearest neighbors (brute-force + random-hyperplane
LSH), and text quality/statistics. Everything deterministic; wherever the
computation is SQL-expressible BOTH the Spark plan and the DuckDB oracle
compute it, so the driver hash-verifies the results.

Scale notes per operator are inline. The common theme: candidate
generation via bucketing (bands, hyperplane buckets, group keys) so the
quadratic comparison space becomes per-bucket — the only strategy that
survives 10^12 rows.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from caraspark.relational import Q, registrar
from caraspark.tables import load

REGISTRY: dict[str, Q] = {}
_q = registrar(REGISTRY)

# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@_q(
    "text_tokens",
    """SELECT doc_id,
              CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens,
              CAST(length(text) AS BIGINT)                 AS n_chars,
              CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nonspace
       FROM documents""",
)
def text_tokens(spark, sf):
    # whitespace tokenizer — pure JVM expressions, no UDF, scan-side.
    d = load(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.length(F.regexp_replace("text", " ", "")).cast("long").alias("n_nonspace"),
    )


_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "it"]


@_q(
    "text_quality",
    f"""SELECT doc_id,
              round(CAST(length(replace(text,' ','')) AS DOUBLE)
                    / greatest(length(text), 1), 6)            AS density,
              CAST(len(list_filter(string_split(lower(text), ' '),
                       x -> list_contains({_STOPWORDS!r}, x))) AS INT) AS n_stop,
              round(CAST(len(list_filter(string_split(lower(text), ' '),
                       x -> list_contains({_STOPWORDS!r}, x))) AS DOUBLE)
                    / greatest(len(string_split(text, ' ')), 1), 6) AS stop_ratio,
              round(CAST(length(text) AS DOUBLE)
                    / greatest(len(string_split(text, ' ')), 1), 4) AS avg_token_len
       FROM documents""",
)
def text_quality(spark, sf):
    # quality scoring: char density, stopword ratio, mean token length —
    # the cheap gopher-style heuristics, all JVM-side.
    d = load(spark, sf, "documents")
    words = F.split(F.lower("text"), " ")
    stop = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(words, lambda x: F.array_contains(stop, x)))
    n_words = F.size(F.split(F.col("text"), " "))
    return d.select(
        "doc_id",
        F.round(
            F.length(F.regexp_replace("text", " ", "")).cast("double")
            / F.greatest(F.length("text"), F.lit(1)),
            6,
        ).alias("density"),
        n_stop.alias("n_stop"),
        F.round(
            n_stop.cast("double") / F.greatest(n_words, F.lit(1)), 6
        ).alias("stop_ratio"),
        F.round(
            F.length("text").cast("double") / F.greatest(n_words, F.lit(1)), 4
        ).alias("avg_token_len"),
    )


@_q(
    "text_fingerprint",
    """SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(min(doc_id) AS BIGINT) AS first_doc
       FROM (SELECT doc_id,
                    md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
             FROM documents)
       GROUP BY fp""",
)
def text_fingerprint(spark, sf):
    # normalization fingerprint (case/punct/whitespace-insensitive identity):
    # the groupBy carries only 16-byte digests, never documents.
    d = load(spark, sf, "documents")
    fp = F.md5(
        F.encode(F.regexp_replace(F.lower("text"), "[^a-z0-9]", ""), "utf-8")
    )
    return (
        d.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
    )


def _langid_sql() -> str:
    """INDEPENDENT reimplementation of the langid heuristic in DuckDB SQL —
    a genuine cross-implementation oracle (not a frozen regression table).
    Integer stopword hit-counts share one denominator, so the argmax
    compares ints and the alphabetical CASE order (de<en<es<fr) mirrors
    detect_lang's alphabetical-min tiebreak exactly."""
    from caraspark.langid import PROFILES

    def inlist(lang):
        return ", ".join("'" + w + "'" for w in sorted(PROFILES[lang]))

    g = "greatest(h_de, h_en, h_es, h_fr)"
    return f"""WITH toks AS (
  SELECT doc_id, lang, text,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '') AS ws
  FROM documents
),
hits AS (
  SELECT doc_id, lang,
         CASE WHEN length(text) > 0
              AND length(regexp_replace(text, '[^\\x{{4E00}}-\\x{{9FFF}}]',
                                        '', 'g')) > 0.05 * length(text)
              THEN TRUE ELSE FALSE END AS is_cjk,
         len(ws) AS n_toks,
         len(list_filter(ws, x -> x IN ({inlist('de')}))) AS h_de,
         len(list_filter(ws, x -> x IN ({inlist('en')}))) AS h_en,
         len(list_filter(ws, x -> x IN ({inlist('es')}))) AS h_es,
         len(list_filter(ws, x -> x IN ({inlist('fr')}))) AS h_fr
  FROM toks
)
SELECT doc_id, lang,
       CASE WHEN is_cjk THEN 'zh'
            WHEN n_toks = 0 THEN 'und'
            WHEN {g} = 0 THEN 'und'
            WHEN h_de = {g} THEN 'de'
            WHEN h_en = {g} THEN 'en'
            WHEN h_es = {g} THEN 'es'
            ELSE 'fr' END AS pred_lang
FROM hits"""


@_q("text_langid", _langid_sql())
def text_langid(spark, sf):
    """Language ID via stopword/character n-gram heuristic, fully vectorized
    (pandas .str.count per language profile + NumPy argmax — no per-row
    Python; r2 verdict retired the last .map(lambda) here). Hash-verified
    against an independent SQL reimplementation (``_langid_sql``) and
    differential-tested against the scalar spec ``detect_lang``."""
    def _langid_batch(texts):
        from caraspark.langid import detect_lang_batch

        return detect_lang_batch(texts)

    # NB: `from __future__ import annotations` stringifies hints, which
    # pandas_udf can't introspect — register with explicit return type and
    # let the legacy SCALAR inference handle the hint-less callable.
    langid = F.pandas_udf(_langid_batch, "string")

    d = load(spark, sf, "documents")
    return d.select("doc_id", "lang", langid("text").alias("pred_lang"))


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


@_q(
    "dedup_exact",
    """WITH unioned AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000 AS doc_id, text FROM documents
           WHERE doc_id % 3 = 0
       )
       SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS n,
              CAST(min(doc_id) AS BIGINT) AS keeper
       FROM unioned GROUP BY md5(text) HAVING count(*) > 1""",
)
def dedup_exact(spark, sf):
    # exact dedup = hash-groupBy; only digests shuffle. The injected copies
    # (every 3rd doc) make the result non-trivial on synthetic data.
    d = load(spark, sf, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    u = d.unionByName(dup)
    return (
        u.groupBy(F.md5(F.encode("text", "utf-8")).alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n") > 1)
    )


@_q(
    "dedup_incremental",
    """WITH hist AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 = 0
),
delta0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
delta AS (
  SELECT doc_id, text FROM delta0
  UNION ALL  -- re-crawled copies of already-ingested history
  SELECT doc_id + 2000000 AS doc_id, text FROM documents
    WHERE doc_id % 3 = 0 AND doc_id % 5 = 0
  UNION ALL  -- duplicates WITHIN the incoming batch
  SELECT doc_id + 1000000 AS doc_id, text FROM delta0 WHERE doc_id % 4 = 0
),
dh AS (
  SELECT doc_id, md5(text) AS h,
         min(doc_id) OVER (PARTITION BY md5(text)) AS first_id
  FROM delta
)
SELECT doc_id,
       CASE WHEN h IN (SELECT h FROM hist) THEN 'dup_of_history'
            WHEN doc_id > first_id THEN 'dup_in_batch'
            ELSE 'new' END AS status
FROM dh""",
)
def dedup_incremental(spark, sf):
    """Incremental exact dedup — the ONLY dedup shape that works on a
    growing lake: the incoming crawl batch is checked against the
    HISTORICAL DIGEST TABLE (16 bytes/doc, maintained alongside the
    snapshot), never against the historical corpus itself, then deduped
    within the batch. Every doc gets a verdict: `dup_of_history`
    (re-crawl of ingested content; wins over in-batch duplication so
    both engines break the overlap the same way), `dup_in_batch`
    (keeper = min doc_id survives as `new`), or `new`. History here is
    the doc_id%3 slice; the delta injects both duplicate shapes.

    Scale shape: the history side enters the join as digests only — at
    10^12 docs that's a 16 TB digest table bucket-joined on digest (or
    broadcast per-partition Bloom pre-filter + bucket join for the
    survivors); the batch never re-shuffles the lake. Within-batch
    dedup is one (digest) window over the delta carrying (digest, id).
    After the batch commits, its `new` digests APPEND to the digest
    table — the next batch's history — so total work stays O(delta),
    which is why production dedup is incremental at all."""
    d = load(spark, sf, "documents").select("doc_id", "text")
    hist = (
        d.filter(F.col("doc_id") % 3 == 0)
        .select(F.md5(F.encode("text", "utf-8")).alias("h"))
        .distinct()
        .withColumn("in_hist", F.lit(True))
    )
    delta0 = d.filter(F.col("doc_id") % 3 != 0)
    delta = delta0.unionByName(
        d.filter((F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 5 == 0))
        .select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
    ).unionByName(
        delta0.filter(F.col("doc_id") % 4 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    dh = delta.select(
        "doc_id", F.md5(F.encode("text", "utf-8")).alias("h")
    ).withColumn(
        "first_id", F.min("doc_id").over(W.partitionBy("h"))
    )
    return dh.join(F.broadcast(hist), "h", "left").select(
        "doc_id",
        F.when(F.col("in_hist"), "dup_of_history")
        .when(F.col("doc_id") > F.col("first_id"), "dup_in_batch")
        .otherwise("new")
        .alias("status"),
    )


# LSH selectivity: band collision prob = jaccard^r. r=2 over 5-char
# shingles of same-vocabulary web text put most of the corpus in shared
# buckets (measured sf0.1: 386k candidate pairs from 5k docs, the join
# dominating the whole dedup pack) — a hot bucket is quadratic, so
# selectivity IS the scale knob. r=4 bands over 9-char shingles cut the
# same corpus to the genuinely-similar tail while keeping two
# independent band tables for recall.
_N_MINHASH = 8  # seeds; bands of 4 → 2 bands
_SHINGLE = 9
# ONE sha-256 digest per shingle: its 256 bits are sliced into 8
# independent 32-bit lanes and the per-lane minimum is a proper minhash
# (slices of a cryptographic digest are independent uniform hashes;
# affine remixes of ONE value are NOT — without modular wraparound every
# lane shares the same argmin and the bands collapse to r=1). One hash
# call per shingle instead of two md5s halves the dominant stage's work;
# min-agg state is 8 BIGINTs instead of 8 32-char strings.


def _mh_slices():
    """hex start offset per 32-bit minhash lane of the sha-256 digest."""
    return [8 * j + 1 for j in range(_N_MINHASH)]


def _minhash_ctes(docs_sql: str | None = None) -> str:
    """Shared CTE body: shingle sets → lanes → bands (reused by the
    candidate query, the exact-Jaccard verification stage, and the
    fuzzy-decontamination join — the latter passes its own ``docs_sql``
    to add the benchmark side)."""
    lanes = ", ".join(
        f"min(CAST('0x' || substring(dg, {s}, 8) AS BIGINT)) AS m{j}"
        for j, s in enumerate(_mh_slices())
    )
    docs_sql = docs_sql or (
        "SELECT doc_id, lower(text) AS t FROM documents"
        f" WHERE length(text) >= {_SHINGLE}"
    )
    return f"""
docs AS (
  {docs_sql}
),
shingles AS (
  -- duckdb's range() can't take lateral column args: cross-join a static
  -- index table and filter (documents are short; cap 4096)
  SELECT DISTINCT doc_id, substring(t, CAST(i AS INT), {_SHINGLE}) AS sh
  FROM docs, range(1, 4096) r(i)
  WHERE i <= length(t) - {_SHINGLE} + 1
),
hashed AS (
  SELECT doc_id, sha256(sh) AS dg FROM shingles
),
mh AS (
  SELECT doc_id, {lanes}
  FROM hashed GROUP BY doc_id
),
bands AS (
  SELECT doc_id, md5(m0 || ':' || m1 || ':' || m2 || ':' || m3) AS band,
         0 AS band_id FROM mh
  UNION ALL
  SELECT doc_id, md5(m4 || ':' || m5 || ':' || m6 || ':' || m7) AS band,
         1 AS band_id FROM mh
),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(DISTINCT a.band_id) AS BIGINT) AS n_bands
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_id = b.band_id AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)"""


def _minhash_sql() -> str:
    return f"WITH {_minhash_ctes()} SELECT id_a, id_b, n_bands FROM cand"


@_q("dedup_minhash", _minhash_sql())
def dedup_minhash(spark, sf):
    """MinHash+LSH near-dup candidates: shingle → minhash → band → bucket
    → per-bucket pairs. Everything is built-in JVM expressions
    (explode/substring/md5/conv) — comparisons are per-bucket, never
    all-pairs, and the whole query is a SINGLE pass over the corpus:
    pair generation groups by band and expands each bucket's sorted id
    list, instead of a bands⋈bands self-join that would recompute the
    shingle pipeline once per join side (Catalyst can't reuse a shuffle
    exchange against the broadcast side it plans for the other). Lane
    mins are BIGINT so the 8-way min lands in a fixed-width HashAggregate
    buffer with map-side partial combine — min over STRING lanes demotes
    the agg to SortAggregate (variable-length buffer) and adds two full
    sorts of the shingle stream.

    Scale: bucket membership lists are bounded by LSH selectivity (r=4
    bands over 9-char shingles), and a pathological bucket — thousands of
    byte-identical boilerplate pages — is exactly what `dedup_exact`
    removes upstream; collect_list per band is therefore small by
    construction, and the only wide exchanges carry (doc_id, 8×8B) and
    (band digest, id) rows.

    hash_fn="sha2" (the registered qkey) keeps lane hashes DuckDB-
    reproducible for the oracle; production runs should pass
    hash_fn="xxh" — same plan shape, but 8 seeded xxhash64 lanes replace
    the sha2-256 digest+hex-slice, removing the dominant per-shingle CPU
    cost (BENCH extras time both)."""
    return minhash_candidates(load(spark, sf, "documents"), hash_fn="sha2")


def minhash_candidates(d, hash_fn: str = "sha2"):
    """(documents df) → (id_a, id_b, n_bands) LSH candidate pairs; the
    plan-shape contract of `dedup_minhash`'s docstring holds for both
    hash_fn values (pinned in test_plans.py)."""
    bands = minhash_bands(d, hash_fn)
    buckets = (
        bands.groupBy("band_id", "band")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = buckets.select(
        "band_id",
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("ids"),
                            i + F.lit(2),
                            F.size("ids"),
                        ),
                        lambda y: F.struct(
                            x.alias("id_a"), y.alias("id_b")
                        ),
                    ),
                )
            )
        ).alias("p"),
    ).select("band_id", "p.id_a", "p.id_b")
    return pairs.groupBy("id_a", "id_b").agg(
        F.countDistinct("band_id").alias("n_bands")
    )


def minhash_bands(d, hash_fn: str = "sha2"):
    """(documents df) → (doc_id, band_id, band) LSH band keys — the
    shared front half of `minhash_candidates` (same-set near-dup pairs)
    and `decontaminate_fuzzy` (cross-set contamination join)."""
    spark = d.sparkSession
    docs = d.filter(F.length("text") >= _SHINGLE).select(
        "doc_id", F.lower("text").alias("t")
    )
    # Spread documents across the cluster BEFORE the ~L-per-doc explode:
    # the scan's split count tracks input BYTES, but this stage's cost is
    # bytes × shingle fan-out × digest — a handful of scan splits (one,
    # for a small corpus) serializes the whole hash pipeline. The explicit
    # partition count matters: a bare repartition(key) lets AQE coalesce
    # the small pre-explode exchange (~KB/doc) back to one partition,
    # recreating exactly the serialization it was meant to fix (measured:
    # 7.3 s single-task stage -> ~0.3 s at local[32], sf0.1).
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    # explode the POSITION sequence and slice inside the exploded stage:
    # ~10× faster than transform()-materializing a per-row array of
    # shingle strings (measured 2.7s -> 0.3s at sf0.1), and duplicate
    # shingles need no dedup — min() is duplicate-insensitive. The 4095
    # cap mirrors the oracle's static index table.
    idx = F.sequence(
        F.lit(1), F.least(F.length("t") - _SHINGLE + 1, F.lit(4095))
    )
    shingles = docs.select(
        "doc_id", "t", F.explode(idx).alias("i")
    ).select("doc_id", F.expr(f"substring(t, i, {_SHINGLE})").alias("sh"))
    if hash_fn == "sha2":
        # oracle-reproducible lanes: one sha2-256 hex digest per shingle,
        # eight 8-hex-char slices → BIGINT lanes
        hashed = shingles.select(
            "doc_id", F.sha2(F.encode("sh", "utf-8"), 256).alias("dg")
        )
        lanes = [
            F.min(
                F.conv(F.substring("dg", s, 8), 16, 10).cast("long")
            ).alias(f"m{j}")
            for j, s in enumerate(_mh_slices())
        ]
        mh = hashed.groupBy("doc_id").agg(*lanes)
    elif hash_fn == "xxh":
        # production lanes: 8 seeded xxhash64 values per shingle — pure
        # JVM codegen, no hex round-trip, ~an order of magnitude cheaper
        # per shingle than sha2-256; the lane-index literal is the seed
        mh = shingles.groupBy("doc_id").agg(
            *[
                F.min(F.xxhash64(F.lit(j), "sh")).alias(f"m{j}")
                for j in range(len(_mh_slices()))
            ]
        )
    else:
        raise ValueError(f"hash_fn must be 'sha2' or 'xxh', got {hash_fn!r}")

    def _band(cols):
        parts = []
        for c in cols:
            parts.append(F.col(c).cast("string"))
            parts.append(F.lit(":"))
        return F.md5(F.encode(F.concat(*parts[:-1]), "utf-8"))

    # both bands from ONE projection of mh (explode keeps it single-pass)
    bands = mh.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band_id"),
                    _band(["m0", "m1", "m2", "m3"]).alias("band"),
                ),
                F.struct(
                    F.lit(1).alias("band_id"),
                    _band(["m4", "m5", "m6", "m7"]).alias("band"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band_id", "bb.band")
    return bands


def _minhash_verified_sql() -> str:
    return f"""
WITH {_minhash_ctes()},
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS ninter
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.id_a
  JOIN shingles sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       CAST(i.ninter AS BIGINT) AS n_inter,
       CAST(i.ninter AS DOUBLE) / (za.n + zb.n - i.ninter) AS jaccard,
       CAST(i.ninter AS DOUBLE) / (za.n + zb.n - i.ninter) >= 0.5 AS is_dup
FROM inter i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
"""


@_q("dedup_minhash_verified", _minhash_verified_sql())
def dedup_minhash_verified(spark, sf):
    """Stage 2 of the LSH pipeline: exact Jaccard over shingle SETS,
    computed only for the candidate pairs stage 1 emitted — LSH buckets
    answer "maybe similar", this answers "how similar", and `is_dup`
    (jaccard ≥ 0.5) is what feeds `connected_components`.

    Scale: the verification join is candidate-bounded — shingle sets are
    joined through the candidate pair list, so its cost is
    O(candidates × shingles/doc), never corpus-quadratic; selectivity of
    the bands (see `dedup_minhash`) is what keeps the candidate list
    small. Shingles travel as the 9-char strings here for oracle
    byte-parity; a production run ships 8-byte digests on the same plan.
    Jaccard is ONE double division of exact integer counts (|A∩B| /
    (|A| + |B| - |A∩B|)), identical op order on both engines."""
    cand = dedup_minhash(spark, sf).select("id_a", "id_b")
    d = load(spark, sf, "documents")
    docs = d.filter(F.length("text") >= _SHINGLE).select(
        "doc_id", F.lower("text").alias("t")
    )
    idx = F.sequence(
        F.lit(1), F.least(F.length("t") - _SHINGLE + 1, F.lit(4095))
    )
    shingles = (
        docs.select("doc_id", "t", F.explode(idx).alias("i"))
        .select("doc_id", F.expr(f"substring(t, i, {_SHINGLE})").alias("sh"))
        .distinct()
    )
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = shingles.select(F.col("doc_id").alias("id_a"), "sh")
    sb = shingles.select(F.col("doc_id").alias("id_b"), "sh")
    inter = (
        cand.join(sa, "id_a")
        .join(sb, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("ninter"))
    )
    za = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    jac = F.col("ninter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("ninter")
    )
    return (
        inter.join(za, "id_a")
        .join(zb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("ninter").alias("n_inter"),
            jac.alias("jaccard"),
            (jac >= 0.5).alias("is_dup"),
        )
    )


def _ngram_pair_ctes() -> str:
    """Shared CTE chain producing (id_a, id_b, jac) candidate pairs."""
    return """docs AS (
         SELECT doc_id, lang, source, lower(text) AS t FROM documents
         WHERE length(text) >= 3
       ),
       grams AS (
         SELECT DISTINCT doc_id, lang, source,
                substring(t, CAST(i AS INT), 3) AS g
         FROM docs, range(1, 4096) r(i)
         WHERE i <= length(t) - 2
       ),
       sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                count(*) AS n_common
         FROM grams a JOIN grams b
           ON a.g = b.g AND a.lang = b.lang AND a.source = b.source
          AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id
       ),
       pairs AS (
         SELECT id_a, id_b,
                CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jac
         FROM inter
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
       )"""


def _ngram_pairs(spark, sf, threshold: float):
    """Spark side of the shared pair generation: distinct-gram explode +
    (lang, source)-bucketed self-join + Jaccard filter."""
    d = load(spark, sf, "documents")
    docs = d.filter(F.length("text") >= 3).select(
        "doc_id", "lang", "source", F.lower("text").alias("t")
    )
    idx = F.sequence(F.lit(1), F.length("t") - 2)
    grams = docs.select(
        "doc_id",
        "lang",
        "source",
        F.explode(
            F.array_distinct(
                F.transform(idx, lambda i: F.col("t").substr(i, F.lit(3)))
            )
        ).alias("g"),
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = grams.select(F.col("doc_id").alias("id_a"), "lang", "source", "g")
    b = grams.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("g").alias("g_b"),
    )
    inter = (
        a.join(
            b,
            (a.g == b.g_b)
            & (a.lang == b.lang_b)
            & (a.source == b.source_b)
            & (a.id_a < b.id_b),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )


@_q(
    "dedup_ngram",
    f"""WITH {_ngram_pair_ctes()}
       SELECT id_a, id_b, round(jac, 6) AS jaccard
       FROM pairs WHERE jac >= 0.8""",
)
def dedup_ngram(spark, sf):
    """Character-3-gram Jaccard near-dup within (lang, source) buckets —
    distinct-gram explode + bucket-keyed self-join; the (lang, source)
    equi-key bounds the pair space per bucket."""
    j = _ngram_pairs(spark, sf, 0.8)
    return j.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def connected_components(pairs: DataFrame) -> DataFrame:
    """(id_a, id_b) pair edges → (doc_id, comp) where comp is the minimum
    node id of each connected component, via alternating large-star /
    small-star rounds (see dedup_clusters docstring for the scale
    rationale and the lineage-truncation requirement)."""
    und = (
        pairs.select(
            F.least("id_a", "id_b").alias("a"),
            F.greatest("id_a", "id_b").alias("b"),
        )
        .distinct()
        .localCheckpoint()
    )

    def directed(e):
        return e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )

    def _normalize(emitted):
        return (
            emitted.filter(F.col("x") != F.col("y"))
            .select(
                F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
            )
            .distinct()
        )

    def large_star(e):
        # for each u: m = min over FULL neighborhood ∪ {u};
        # attach every strictly-larger neighbor to m
        d = directed(e)
        mins = (
            d.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        emitted = (
            d.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
        )
        return _normalize(emitted)

    def small_star(e):
        # for each u: m = min over SMALLER-OR-EQUAL neighbors ∪ {u};
        # attach those neighbors AND u itself to m (without the self
        # emission a lone edge (1,2) would vanish: node 2 emits only the
        # dropped self-loop (1,1))
        d = directed(e).filter(F.col("v") <= F.col("u"))
        mins = (
            d.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        emitted = (
            d.join(mins, "u")
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
            .union(mins.select(F.col("u").alias("x"), F.col("m").alias("y")))
        )
        return _normalize(emitted)

    def fingerprint(e):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: exact and overflow-free under ANSI mode
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    fp = fingerprint(und)
    for _ in range(50):  # O(log n) expected; hard cap is a safety net
        nxt = small_star(large_star(und)).localCheckpoint()
        nfp = fingerprint(nxt)
        und = nxt
        if nfp == fp:
            break
        fp = nfp
    else:
        raise RuntimeError("dedup_clusters: star rounds did not converge")

    return (
        directed(und)
        .groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(
            F.col("u").alias("doc_id"), F.least("u", "mv").alias("comp")
        )
    )


# One CC computation per (application, sf_dir): the cluster table is the
# shared upstream of three registry consumers (dedup_clusters itself,
# dedup_best_rep, dedup_cluster_sizes). Each qkey must stay self-contained
# for the driver, so instead of threading a DataFrame parameter through the
# registry signature, the materialized table is memoized here — the first
# consumer in a session pays the O(log n) star rounds, later consumers scan
# the eager localCheckpoint blocks. Keyed by applicationId so a restarted
# session (whose checkpoint blocks are gone) can never hit a stale entry.
# At cluster scale the same pattern holds with a reliable checkpoint dir /
# a persisted table instead of executor-local blocks.
_CC_CACHE: dict = {}
_CC_COMPUTE_COUNT = 0  # tests pin single-lineage reuse on this


def _clusters_materialized(spark, sf) -> DataFrame:
    import os as _os

    global _CC_COMPUTE_COUNT
    key = (spark.sparkContext.applicationId, _os.path.abspath(sf))
    df = _CC_CACHE.get(key)
    if df is None:
        _CC_COMPUTE_COUNT += 1
        pairs = _ngram_pairs(spark, sf, 0.5).select("id_a", "id_b")
        # eager=False: the star rounds already ran (the convergence loop
        # is driver-side), but the FINAL table's blocks materialize on
        # first consumer action instead of at construction time
        df = connected_components(pairs).localCheckpoint(eager=False)
        # Bound block-manager residency to 8 entries by evicting the OLDEST
        # after the insert (dict preserves insertion order).  Never unpersist
        # here: a caller may still hold the evicted handle, and unpersisting
        # localCheckpoint blocks makes it unrecoverable (lineage was
        # truncated).  Dropping our reference is enough — ContextCleaner
        # frees the blocks once the DataFrame is garbage-collected with no
        # other holders.
        _CC_CACHE[key] = df
        while len(_CC_CACHE) > 8:
            _CC_CACHE.pop(next(iter(_CC_CACHE)))
    return df


@_q(
    "dedup_clusters",
    f"""WITH RECURSIVE {_ngram_pair_ctes()},
       cand AS (SELECT id_a, id_b FROM pairs WHERE jac >= 0.5),
       e2 AS (SELECT id_a AS u, id_b AS v FROM cand
              UNION SELECT id_b, id_a FROM cand),
       reach (n, m) AS (
         SELECT u, u FROM e2
         UNION
         SELECT e2.v, reach.m FROM reach JOIN e2 ON e2.u = reach.n
       )
       SELECT n AS doc_id, CAST(min(m) AS BIGINT) AS comp
       FROM reach GROUP BY n""",
)
def dedup_clusters(spark, sf):
    """Duplicate-cluster assignment: connected components over the n-gram
    near-dup pair graph (threshold 0.5 so clusters CHAIN — a~b~c without
    a~c), via the alternating large-star/small-star algorithm.

    Scale shape: this is the O(log n)-round MapReduce connected-components
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — each round is one groupBy(min) + one join, both keyed on
    node id; no component ever materializes on one machine, and round
    count grows logarithmically where naive label propagation needs
    O(diameter) rounds. Each round's edge set is ``localCheckpoint``-ed:
    caching alone is NOT enough for iterative DataFrames — the logical
    plan keeps growing and Catalyst re-analysis time explodes
    exponentially with round count; checkpointing truncates the lineage
    so every round plans against a flat scan. The driver loop only
    compares two scalar aggregates per round (count + order-insensitive
    xxhash sum) for the convergence test.

    Oracle: DuckDB recursive-CTE transitive closure + min-reachable-id —
    an independent algorithm computing the same components.

    The cluster table is materialized once per (application, sf_dir) via
    ``_clusters_materialized`` and shared with `dedup_best_rep` /
    `dedup_cluster_sizes`, so the three consumers pay one CC computation."""
    return _clusters_materialized(spark, sf)


def _simhash16_sql() -> str:
    bits = ",\n         ".join(
        f"CASE WHEN sum(CASE WHEN substring(h, {i + 1}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) > 0 "
        f"THEN 1 ELSE 0 END AS b{i}"
        for i in range(16)
    )
    concat = " || ".join(f"CAST(b{i} AS VARCHAR)" for i in range(16))
    return f"""
WITH toks AS (
  SELECT doc_id, md5(tok) AS h
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents)
  WHERE tok <> ''
),
bits AS (
  SELECT doc_id,
         {bits}
  FROM toks GROUP BY doc_id
)
SELECT doc_id, {concat} AS simhash16 FROM bits
"""


@_q("dedup_simhash", _simhash16_sql())
def dedup_simhash(spark, sf):
    """SimHash (16-bit oracle-checkable variant): per-token md5 nibbles vote
    per bit; the doc's signature is the majority sign. One explode + one
    groupBy — signature bits are plain conditional sums, JVM-side.

    hash_fn="md5" (the registered qkey) keeps the per-bit votes DuckDB-
    reproducible; production runs call ``simhash_signatures(df,
    hash_fn="xxh")`` — identical plan shape (pinned in test_plans.py),
    but ONE xxhash64 call per token replaces the md5 hex digest and the
    16 substring/isin nibble probes with 16 shift-and-mask bit reads."""
    return simhash_signatures(load(spark, sf, "documents"), hash_fn="md5")


def simhash_signatures(d, hash_fn: str = "md5"):
    """(documents df) → (doc_id, simhash16) signatures; the plan-shape
    contract of `dedup_simhash`'s docstring holds for both hash_fn
    values."""
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    if hash_fn == "md5":
        # oracle-reproducible votes: hex nibble i's top bit decides
        hashed = toks.select(
            "doc_id", F.md5(F.encode("tok", "utf-8")).alias("h")
        )
        votes = [
            F.when(
                F.substring("h", i + 1, 1).isin(*list("89abcdef")), 1
            ).otherwise(-1)
            for i in range(16)
        ]
    elif hash_fn == "xxh":
        # production votes: one 64-bit hash per token, bit i read with a
        # shift-and-mask — pure codegen long arithmetic, no hex strings
        hashed = toks.select("doc_id", F.xxhash64("tok").alias("h"))
        votes = [
            (F.shiftright("h", i).bitwiseAND(F.lit(1)) * 2 - 1)
            for i in range(16)
        ]
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxh', got {hash_fn!r}")
    sums = hashed.groupBy("doc_id").agg(
        *[F.sum(votes[i]).alias(f"s{i}") for i in range(16)]
    )
    bit_strs = [
        F.when(F.col(f"s{i}") > 0, "1").otherwise("0") for i in range(16)
    ]
    return sums.select("doc_id", F.concat(*bit_strs).alias("simhash16"))


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

_TOPK = 3
_NQ = 10  # query vectors: vec_id < _NQ


def _dot_sql(a: str, b: str) -> str:
    # NB: duckdb's list_dot_product computes in float32 — cast to DOUBLE
    # element-wise so the oracle matches Spark's double arithmetic exactly.
    return (
        f"list_aggregate(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')"
    )


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_dot_sql(a, b)} / "
        f"(sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"
    )


def _l2_sql(a: str, b: str) -> str:
    return (
        f"list_aggregate(list_transform(list_zip({a}, {b}), "
        f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
        f"(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum')"
    )


def _sum(arr):
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


def _dot(x, y):
    """x · y in double, element by element — ``_dot_sql``'s arithmetic."""
    return _sum(
        F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double"))
    )


def _cos(x, y):
    return _dot(x, y) / (F.sqrt(_dot(x, x)) * F.sqrt(_dot(y, y)))


def _l2(x, y):
    """Squared L2 distance in double — ``_l2_sql``'s arithmetic."""
    return _sum(F.zip_with(
        x, y,
        lambda a, b: (a.cast("double") - b.cast("double"))
        * (a.cast("double") - b.cast("double")),
    ))


def _queries(e, *cols) -> DataFrame:
    """The query set (q_id, qv, *cols): vec_id < _NQ."""
    return e.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"), *cols
    )


def _corpus(e, *cols) -> DataFrame:
    """The searched side (n_id, nv, *cols): every vector."""
    return e.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("nv"), *cols
    )


def _topk(scored: DataFrame, score, first: int = _TOPK) -> DataFrame:
    """The ``first`` rows per q_id by ``score`` (an ordering), ties on the
    lowest n_id — the oracle's row_number window."""
    w = W.partitionBy("q_id").orderBy(score, F.asc("n_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= first)
        .drop("rn")
    )


@_q(
    "ann_brute",
    f"""SELECT q_id, n_id, cos FROM (
         SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                round({_cos_sql("q.embedding", "n.embedding")}, 6) AS cos,
                row_number() OVER (
                  PARTITION BY q.vec_id
                  ORDER BY round({_cos_sql("q.embedding", "n.embedding")}, 6)
                           DESC, n.vec_id) AS rn
         FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
         WHERE q.vec_id < {_NQ}
       ) WHERE rn <= {_TOPK}""",
)
def ann_brute(spark, sf):
    """Brute-force cosine top-k: broadcast the (small) query set against the
    full corpus — a single narrow pass over the big side, then a per-query
    top-k window. At 100 TB the pattern is identical: queries broadcast,
    corpus never shuffles."""
    e = load(spark, sf, "embeddings")
    j = _corpus(e).join(
        F.broadcast(_queries(e)), F.col("n_id") != F.col("q_id")
    )
    cos = F.round(_cos(F.col("qv"), F.col("nv")), 6)
    return _topk(j.select("q_id", "n_id", cos.alias("cos")), F.desc("cos"))


_N_PLANES = 8
_DIM = 64


def _planes(n: int = None) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5 — data-independent, identical
    constants on both the Spark and oracle sides."""
    planes = []
    for j in range(_N_PLANES if n is None else n):
        row = []
        for d in range(_DIM):
            h = hashlib.md5(f"plane:{j}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) >= 8 else -1.0)
        planes.append(row)
    return planes


def _sign_bits(n: int):
    """The n-bit hyperplane signature of ``embedding``: bit j is '1' iff
    embedding · plane j >= 0."""
    return F.concat(*[
        F.when(_dot(F.col("embedding"), F.array(*map(F.lit, p))) >= 0, "1")
        .otherwise("0")
        for p in _planes(n)
    ])


def _sign_bits_sql(n: int) -> str:
    """CTEs ending in ``sig(vec_id, bits)``: ``_sign_bits(n)`` in SQL."""
    rows = ",".join(
        f"({j},{d},{w:.1f})"
        for j, p in enumerate(_planes(n))
        for d, w in enumerate(p)
    )
    return f"""planes(j, d, w) AS (VALUES {rows}),
comps AS (
  SELECT vec_id, u.x AS x, u.d AS d
  FROM embeddings,
       LATERAL (SELECT unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS d) u
),
dots AS (
  SELECT c.vec_id, p.j, sum(CAST(c.x AS DOUBLE) * p.w) AS dp
  FROM comps c JOIN planes p ON p.d = c.d - 1
  GROUP BY c.vec_id, p.j
),
sig AS (
  SELECT vec_id,
         string_agg(CASE WHEN dp >= 0 THEN '1' ELSE '0' END, '' ORDER BY j)
           AS bits
  FROM dots GROUP BY vec_id
)"""


def _lsh_sql() -> str:
    return f"""
WITH {_sign_bits_sql(_N_PLANES)}
SELECT bits AS bucket, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(min(vec_id) AS BIGINT) AS min_vec
FROM sig GROUP BY bits
"""


@_q("ann_lsh", _lsh_sql())
def ann_lsh(spark, sf):
    """Random-hyperplane LSH bucketing: 8 sign bits per vector → buckets.
    The planes are literal constants (no state to ship); per-vector compute
    is 8 zip_with dot products, fully JVM-side; the only shuffle is the
    bucket-count groupBy. The scale path for ANN: candidates come from a
    bucket equi-join instead of the all-pairs cross join."""
    e = load(spark, sf, "embeddings")
    bucketed = e.select("vec_id", _sign_bits(_N_PLANES).alias("bucket"))
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("vec_id").alias("min_vec"),
    )


_NPROBE = 2
_IVF_MOD = 97  # centroid sample: vec_id % 97 == 0 (deterministic coarse quantizer)


def _ivf_lists_sql() -> str:
    """CTEs ending in ``probes(q_id, c_id)`` — each query's _NPROBE
    nearest lists — and ``lists(n_id, c_id)`` — each vector's list."""
    cos_ec = _cos_sql("e.embedding", "c.cv")
    return f"""cents AS (
  SELECT vec_id AS c_id, embedding AS cv FROM embeddings
  WHERE vec_id % {_IVF_MOD} = 0
),
assign AS (
  SELECT e.vec_id, c.c_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round({cos_ec}, 6) DESC, c.c_id) AS rn
  FROM embeddings e CROSS JOIN cents c
),
probes AS (
  SELECT vec_id AS q_id, c_id FROM assign
  WHERE vec_id < {_NQ} AND rn <= {_NPROBE}
),
lists AS (
  SELECT vec_id AS n_id, c_id FROM assign WHERE rn = 1
)"""


def _ivf_sql() -> str:
    cos_qn = _cos_sql("qe.embedding", "ne.embedding")
    return f"""
WITH {_ivf_lists_sql()},
scored AS (
  SELECT p.q_id, l.n_id, round({cos_qn}, 6) AS cos,
         row_number() OVER (
           PARTITION BY p.q_id
           ORDER BY round({cos_qn}, 6) DESC, l.n_id) AS rn
  FROM probes p JOIN lists l ON l.c_id = p.c_id AND l.n_id <> p.q_id
  JOIN embeddings qe ON qe.vec_id = p.q_id
  JOIN embeddings ne ON ne.vec_id = l.n_id
)
SELECT q_id, n_id, cos FROM scored WHERE rn <= {_TOPK}
"""


def ivf_quantizer_udfs(spark, centroids, c_ids, nprobe: int = _NPROBE):
    """Build (assign, probe) pandas UDFs for a coarse quantizer.

    The quantizer ships to executors as ONE broadcast variable — plan size
    and per-row cost are independent of K (the previous design embedded
    every centroid as K·dim literal expressions inside a per-row
    ``sort_array``, which was lethal at a production K of thousands).
    Per Arrow batch the work is one (batch × K) BLAS matmul +
    ``argsort``; ordering matches the oracle: round(cosine, 6) DESC,
    c_id ASC (ties break via stable sort over ascending c_id columns).

    ``assign(embedding) -> c_id`` — nearest inverted list per vector.
    ``probe(embedding) -> array<c_id>`` — the nprobe nearest lists.
    """
    import numpy as np
    import pandas as pd

    C = np.stack([np.asarray(c, dtype=np.float64) for c in centroids])
    cid = np.asarray(c_ids, dtype=np.int64)
    order = np.argsort(cid)
    C, cid = C[order], cid[order]  # ascending c_id → stable-sort tiebreak
    cn = np.sqrt((C * C).sum(axis=1))
    bc = spark.sparkContext.broadcast((C, cid, cn))

    def _ranked(vs, k: int):
        Cv, cidv, cnv = bc.value
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        xn = np.sqrt((X * X).sum(axis=1))
        cos = np.round((X @ Cv.T) / np.outer(xn, cnv), 6)
        top = np.argsort(-cos, axis=1, kind="stable")[:, :k]
        return cidv[top]

    assign = F.pandas_udf(
        lambda vs: pd.Series(_ranked(vs, 1)[:, 0]), "long"
    )
    probe = F.pandas_udf(
        lambda vs: pd.Series(list(_ranked(vs, nprobe))), "array<long>"
    )
    return assign, probe


def _ivf_quantizer(spark, e):
    """(assign, probe) over the sampled coarse quantizer, collected to the
    driver (small by construction)."""
    rows = (
        e.filter(F.col("vec_id") % _IVF_MOD == 0)
        .select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("cv"))
        .collect()
    )
    return ivf_quantizer_udfs(
        spark, [r["cv"] for r in rows], [r["c_id"] for r in rows]
    )


@_q("ann_ivf", _ivf_sql())
def ann_ivf(spark, sf):
    """IVF-style ANN: a deterministic sampled coarse quantizer (vec_id %
    97 == 0) partitions the corpus into inverted lists; queries probe their
    nprobe=2 nearest lists and brute-force only those candidates.

    Scale shape: the coarse quantizer is SMALL by construction, so its
    vectors load to the driver (exactly how production IVF ships a
    trained quantizer) and travel to executors as a broadcast variable;
    list assignment is a vectorized pandas UDF (NumPy matmul per Arrow
    batch) — a NARROW stage: zero shuffle, zero aggregation over the
    corpus, plan size independent of K. The candidate join broadcasts the
    probe set so the big side still never shuffles; the only exchange in
    the whole plan is the final tiny top-k. At 10^12 vectors the
    per-query work is |corpus|/K * nprobe instead of |corpus|."""
    e = load(spark, sf, "embeddings")
    assign_udf, probe_udf = _ivf_quantizer(spark, e)
    lists = _corpus(e, assign_udf(F.col("embedding")).alias("c_id"))
    probes = _queries(
        e, F.explode(probe_udf(F.col("embedding"))).alias("pc_id")
    )
    cands = lists.join(
        F.broadcast(probes),
        (F.col("c_id") == F.col("pc_id")) & (F.col("n_id") != F.col("q_id")),
    )
    cos = F.round(_cos(F.col("qv"), F.col("nv")), 6)
    return _topk(cands.select("q_id", "n_id", cos.alias("cos")), F.desc("cos"))


@_q(
    "dedup_embed",
    f"""SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
              round({_cos_sql("a.embedding", "b.embedding")}, 6) AS cos
       FROM embeddings a JOIN embeddings b
         ON a.label = b.label AND a.vec_id < b.vec_id
       WHERE {_cos_sql("a.embedding", "b.embedding")} >= 0.35""",
)
def dedup_embed(spark, sf):
    """Embedding-cosine near-dup within label buckets: the label equi-key
    bounds the pair space (at real scale the key is an LSH bucket)."""
    e = load(spark, sf, "embeddings")
    a = e.select(
        F.col("label"), F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")
    )
    b = e.select(
        F.col("label").alias("label_b"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
    )
    return (
        a.join(b, (a.label == b.label_b) & (a.id_a < b.id_b))
        .withColumn("cos_raw", _cos(F.col("va"), F.col("vb")))
        .filter(F.col("cos_raw") >= 0.35)
        .select("label", "id_a", "id_b", F.round("cos_raw", 6).alias("cos"))
    )


_EMB_BANDS = 4          # LSH tables
_EMB_BITS_PER_BAND = 4  # signature bits per table


def _embed_lsh_sql() -> str:
    cos = _cos_sql("ea.embedding", "eb.embedding")
    return f"""
WITH {_sign_bits_sql(_EMB_BANDS * _EMB_BITS_PER_BAND)},
bands AS (
  SELECT vec_id, t.b AS band_id,
         substring(bits, t.b * {_EMB_BITS_PER_BAND} + 1,
                   {_EMB_BITS_PER_BAND}) AS bucket
  FROM sig, (SELECT unnest(range(0, {_EMB_BANDS})) AS b) t
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
  FROM bands a JOIN bands c
    ON a.band_id = c.band_id AND a.bucket = c.bucket
   AND a.vec_id < c.vec_id
)
SELECT id_a, id_b, round({cos}, 6) AS cos
FROM cand
JOIN embeddings ea ON ea.vec_id = id_a
JOIN embeddings eb ON eb.vec_id = id_b
WHERE {cos} >= 0.35"""


@_q("dedup_embed_lsh", _embed_lsh_sql())
def dedup_embed_lsh(spark, sf):
    """Embedding near-dup at the REAL scale shape: banded random-hyperplane
    LSH candidate generation (4 tables x 4 sign bits), bucket equi-joins
    per band, exact cosine verification on candidates only. Unlike
    dedup_embed's label-bucket stand-in, nothing here assumes a curated
    grouping key — the only shuffles are the band-bucket join and the
    candidate distinct; the corpus never self-joins all-pairs. Hyperplanes
    are data-independent md5 constants, so the oracle rebuilds the
    identical signatures."""
    e = load(spark, sf, "embeddings")
    sig = e.select(
        "vec_id", _sign_bits(_EMB_BANDS * _EMB_BITS_PER_BAND).alias("bits")
    )
    bands = sig.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{b}:"),
                        F.substring(
                            "bits",
                            b * _EMB_BITS_PER_BAND + 1,
                            _EMB_BITS_PER_BAND,
                        ),
                    )
                    for b in range(_EMB_BANDS)
                ]
            )
        ).alias("bucket"),
    )
    a = bands.select(F.col("vec_id").alias("id_a"), "bucket")
    c = bands.select(
        F.col("vec_id").alias("id_b"), F.col("bucket").alias("bucket_b")
    )
    cand = (
        a.join(c, (a.bucket == c.bucket_b) & (a.id_a < c.id_b))
        .select("id_a", "id_b")
        .distinct()
    )
    ea = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    eb = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("cos_raw", _cos(F.col("va"), F.col("vb")))
        .filter(F.col("cos_raw") >= 0.35)
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cos"))
    )


_BPE_PAT = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


@_q(
    "text_tokens_bpe",
    f"""SELECT doc_id,
              CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS INT)
                AS n_bpe_tokens,
              CAST(len(list_distinct(regexp_extract_all(text, '{_BPE_PAT}')))
                AS INT) AS n_unique_tokens
       FROM documents""",
)
def text_tokens_bpe(spark, sf):
    # BPE-ish pre-tokenizer (letter runs / digit runs / single punct) —
    # regexp_extract_all is JVM-side; no Python in the loop.
    d = load(spark, sf, "documents")
    toks = F.regexp_extract_all("text", F.lit(_BPE_PAT), F.lit(0))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
    )


# ---------------------------------------------------------------------------
# exact duplicated-substring detection (token k-grams across documents)
# ---------------------------------------------------------------------------

_SUB_K = 8  # tokens per rolling window


@_q(
    "dedup_substring",
    f"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
  FROM documents
), starts AS (
  SELECT doc_id, t, unnest(generate_series(0, len(t) - {_SUB_K})) AS s
  FROM toks WHERE len(t) >= {_SUB_K}
), grams AS (
  SELECT doc_id, s AS pos,
         md5(array_to_string(list_slice(t, s + 1, s + {_SUB_K}), ' '))
             AS gram_md5
  FROM starts
), dup AS (
  SELECT gram_md5, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM grams GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
)
SELECT g.doc_id, CAST(g.pos AS INT) AS pos, g.gram_md5, d.n_docs
FROM grams g JOIN dup d USING (gram_md5)""",
)
def dedup_substring(spark, sf):
    """Exact duplicated-substring detection: every 8-token rolling window
    that appears verbatim in ≥2 distinct documents, reported with its
    position — the marking pass of substring-level dedup (the remove step
    is a span-merge over these positions, per-doc local).

    Scale shape: windows are md5'd BEFORE any exchange, so only 16-byte
    digests shuffle (never the token windows themselves); one groupBy on
    the digest finds cross-doc duplicates, and the join back to positions
    reuses the same hash partitioning (digest keys both sides). Window
    explosion is linear in corpus tokens and stays in whole-stage
    codegen (transform + slice + concat_ws, zero Python)."""
    return substring_marks(load(spark, sf, "documents"))


def substring_marks(docs, hash_fn: str = "md5"):
    """Duplicated-window marking over a documents frame. hash_fn="md5" is
    the DuckDB-reproducible qkey path (hex digest column ``gram_md5``);
    hash_fn="xxh" is the production path — ONE xxhash64 BIGINT per
    window replaces the md5 hex string, so every exchange carries 8-byte
    integers instead of 32-char digests (same plan shape, plan-pinned)."""
    win = lambda t, i: F.concat_ws(" ", F.slice(t, i + 1, _SUB_K))  # noqa
    if hash_fn == "xxh":
        h = lambda t, i: F.xxhash64(win(t, i))  # noqa: E731
    else:
        h = lambda t, i: F.md5(win(t, i))  # noqa: E731
    toks = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("t")
    ).filter(F.size("t") >= _SUB_K)
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - _SUB_K),
                lambda i: h(F.col("t"), i),
            )
        ).alias("pos", "gram_md5"),
    )
    dup = (
        grams.groupBy("gram_md5")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    return grams.join(dup, "gram_md5").select(
        "doc_id", F.col("pos").cast("int").alias("pos"), "gram_md5", "n_docs"
    )


@_q(
    "dedup_substring_spans",
    f"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
  FROM documents
), starts AS (
  SELECT doc_id, t, unnest(generate_series(0, len(t) - {_SUB_K})) AS s
  FROM toks WHERE len(t) >= {_SUB_K}
), grams AS (
  SELECT doc_id, s AS pos,
         md5(array_to_string(list_slice(t, s + 1, s + {_SUB_K}), ' '))
             AS gram_md5
  FROM starts
), dup AS (
  SELECT gram_md5 FROM grams
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
), marked AS (
  SELECT g.doc_id, g.pos FROM grams g JOIN dup d USING (gram_md5)
), islands AS (
  SELECT doc_id, pos,
         sum(CASE WHEN prev_pos IS NULL OR pos - prev_pos > {_SUB_K}
                  THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_pos
        FROM marked) x
)
SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) + {_SUB_K} AS INT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_windows
FROM islands GROUP BY doc_id, island""",
)
def dedup_substring_spans(spark, sf):
    """The REMOVE step of substring dedup: duplicated windows merged into
    maximal per-doc token intervals [span_start, span_end) — overlapping
    or K-adjacent windows coalesce (gaps-and-islands: a new island starts
    when the gap to the previous marked position exceeds K).

    Scale shape: everything up to the marking is ``dedup_substring``'s
    digest-only plan; the merge adds one window over (doc_id, pos) —
    partition-local sorts bounded by per-doc window counts, and the
    (doc_id) exchange carries only (int, int) pairs. The output intervals
    are what a writer subtracts from each doc's token stream."""
    docs = load(spark, sf, "documents")
    toks = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("t")
    ).filter(F.size("t") >= _SUB_K)
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - _SUB_K),
                lambda i: F.md5(F.concat_ws(" ", F.slice("t", i + 1, _SUB_K))),
            )
        ).alias("pos", "gram_md5"),
    )
    dup = (
        grams.groupBy("gram_md5")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram_md5")
    )
    marked = grams.join(dup, "gram_md5").select("doc_id", "pos")
    w = W.partitionBy("doc_id").orderBy("pos")
    islands = marked.withColumn("prev_pos", F.lag("pos").over(w)).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev_pos").isNull()
                | (F.col("pos") - F.col("prev_pos") > _SUB_K),
                1,
            ).otherwise(0)
        ).over(w),
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").cast("int").alias("span_start"),
        (F.max("pos") + _SUB_K).cast("int").alias("span_end"),
        F.count(F.lit(1)).alias("n_windows"),
    ).select("doc_id", "span_start", "span_end", "n_windows")


# ---------------------------------------------------------------------------
# Content-defined chunking dedup (LBFS / rsync-family)
# ---------------------------------------------------------------------------

_CDC_W = 8  # hash-window width (chars) that decides cutpoints
# cut after position i when md5(window ending at i) ends in this nibble:
# p = 1/16 → mean chunk ≈ 16 chars at this corpus' scale
_CDC_NIBBLE = "0"


@_q(
    "dedup_cdc",
    f"""WITH docs AS (
  SELECT doc_id, text, len(text) AS n FROM documents
),
-- duckdb's range() can't take lateral column args: cross-join a static
-- bound and filter to the doc's real length (same idiom as dedup_minhash)
cuts AS (
  SELECT doc_id, CAST(r.i AS INT) AS i
  FROM docs, range({_CDC_W}, 4096) r(i)
  WHERE r.i <= n
    AND substring(md5(substring(text, CAST(r.i AS INT) - {_CDC_W - 1},
                                 {_CDC_W})), 32, 1) = '{_CDC_NIBBLE}'
),
bounds AS (
  SELECT DISTINCT doc_id, i FROM (
    SELECT doc_id, i FROM cuts
    UNION ALL
    SELECT doc_id, CAST(n AS INT) AS i FROM docs
  )
),
chunks AS (
  SELECT doc_id,
         COALESCE(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1 AS s,
         i AS e
  FROM bounds
),
hashed AS (
  SELECT c.doc_id,
         md5(substring(d.text, c.s, c.e - c.s + 1)) AS chunk_md5,
         c.e - c.s + 1 AS clen
  FROM chunks c JOIN docs d USING (doc_id)
)
SELECT chunk_md5,
       CAST(min(clen) AS INT) AS chunk_len,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occ
FROM hashed
GROUP BY chunk_md5
HAVING count(DISTINCT doc_id) > 1""",
)
def dedup_cdc(spark, sf):
    """Content-defined chunking dedup (the LBFS/rsync family): cutpoints
    fall where the hash of the 8-char window ENDING at a position
    lands in a 1/16 mask, so chunk boundaries track CONTENT, not offsets —
    an insertion re-chunks only its neighborhood, where fixed n-grams
    (``dedup_substring``) shift every window after the edit. Output:
    variable-length chunks shared by >1 document, the unit a
    storage-dedup / delta-encode pass operates on.

    Determinism: cutpoint rule and chunk digests are md5-based, identical
    on both engines; chunk_len is exact integers; no doubles anywhere.

    Scale shape: the entire chunker lives in ONE Project row scope —
    cutpoints via filter() over a sequence, chunk (start, end) pairs via
    transform() with index over the sorted bounds array, digests via
    md5(substring(...)) inside the same transform — so a document's text
    NEVER leaves its scan task (the oracle's window+re-join formulation is
    the SQL-expressible twin, not the plan). The only exchange is the
    final groupBy carrying (chunk_md5, ints): 16-byte digests, never
    chunk bytes. Production adds a min-chunk floor (cutpoints inside the
    floor skipped in the same row-scope pass) and swaps md5 for a Gear
    rolling hash in the Arrow stage; the mask probability is the single
    knob trading chunk size for dedup granularity."""
    d = load(spark, sf, "documents").select(
        "doc_id", "text", F.length("text").alias("n")
    )
    cutarr = F.filter(
        F.when(
            F.col("n") >= _CDC_W,
            F.sequence(F.lit(_CDC_W), F.col("n")),
        ).otherwise(F.array().cast("array<int>")),
        lambda i: F.substring(
            F.md5(F.encode(F.substring("text", i - (_CDC_W - 1), F.lit(_CDC_W)), "utf-8")),
            32,
            1,
        )
        == _CDC_NIBBLE,
    )
    bounds = F.array_sort(
        F.array_union(cutarr, F.array(F.col("n").cast("int")))
    )
    # fold, not transform-with-index: an element_at(bounds, k) inside the
    # lambda would make Catalyst re-evaluate the whole cutpoint chain PER
    # ELEMENT (O(n²) md5s — measured 221s at sf0.1); aggregate() evaluates
    # the bounds array once per row and threads prev through the
    # accumulator, so the chunker stays O(n) per document.
    chunks = F.aggregate(
        bounds,
        F.struct(
            F.lit(0).alias("prev"),
            F.array()
            .cast("array<struct<chunk_md5:string,clen:int>>")
            .alias("out"),
        ),
        lambda acc, e: F.struct(
            e.alias("prev"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        F.md5(
                            F.encode(
                                F.substring(
                                    "text", acc["prev"] + 1, e - acc["prev"]
                                ),
                                "utf-8",
                            )
                        ).alias("chunk_md5"),
                        (e - acc["prev"]).alias("clen"),
                    )
                ),
            ).alias("out"),
        ),
        lambda acc: acc["out"],
    )
    exploded = d.select(
        "doc_id", F.explode(chunks).alias("c")
    ).select("doc_id", "c.chunk_md5", "c.clen")
    return (
        exploded.groupBy("chunk_md5")
        .agg(
            F.min("clen").cast("int").alias("chunk_len"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# Product-quantization ANN (Jégou et al. 2011, ADC variant)
# ---------------------------------------------------------------------------

_PQ_M = 8   # subspaces (64-dim embedding → 8 × 8-dim subvectors)
_PQ_D = 8   # dims per subspace
_PQ_K = 16  # codewords per subspace
# deterministic "training" sample: the 16 lowest vec_id % 31 == 0 vectors
_PQ_MOD = 31
_PQ_MAX_ID = _PQ_MOD * (_PQ_K - 1)
_PQ_SHORTLIST = 50  # ADC candidates per query before exact re-rank


def _pq_codes_sql() -> str:
    """CTEs ending in ``codes(vec_id, m, j)`` — every vector's codeword id
    per subspace — and ``qtab(q_id, m, j, d)`` — each query's M×K
    distance table."""
    l2_code = _l2_sql("sv.v", "cw.w")
    return f"""ss AS (SELECT unnest(range({_PQ_M})) AS m),
cw AS (
  SELECT ss.m, e.vec_id AS j,
         list_slice(e.embedding, ss.m * {_PQ_D} + 1,
                    ss.m * {_PQ_D} + {_PQ_D}) AS w
  FROM embeddings e, ss
  WHERE e.vec_id % {_PQ_MOD} = 0 AND e.vec_id <= {_PQ_MAX_ID}
),
subv AS (
  SELECT e.vec_id, ss.m,
         list_slice(e.embedding, ss.m * {_PQ_D} + 1,
                    ss.m * {_PQ_D} + {_PQ_D}) AS v
  FROM embeddings e, ss
),
codes AS (
  SELECT vec_id, m, j FROM (
    SELECT sv.vec_id, sv.m, cw.j,
           row_number() OVER (
             PARTITION BY sv.vec_id, sv.m
             ORDER BY round({l2_code}, 6) ASC, cw.j ASC) AS rn
    FROM subv sv JOIN cw ON cw.m = sv.m
  ) WHERE rn = 1
),
qtab AS (
  SELECT sv.vec_id AS q_id, cw.m, cw.j, {l2_code} AS d
  FROM subv sv JOIN cw ON cw.m = sv.m
  WHERE sv.vec_id < {_NQ}
)"""


def _adc_topk_sql(pairs: str) -> str:
    """``_adc_topk`` in SQL: the tail after ``_pq_codes_sql``'s CTEs.
    ``pairs`` is the FROM clause that joins the candidates' ``codes c`` to
    their queries' ``qtab qt`` on (m, j)."""
    return f"""adc AS (
  SELECT qt.q_id, c.vec_id AS n_id, round(sum(qt.d), 6) AS adc
  FROM {pairs}
  WHERE c.vec_id <> qt.q_id
  GROUP BY qt.q_id, c.vec_id
),
shortlist AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
           row_number() OVER (
             PARTITION BY q_id ORDER BY adc ASC, n_id ASC) AS rn
    FROM adc
  ) WHERE rn <= {_PQ_SHORTLIST}
),
rerank AS (
  SELECT s.q_id, s.n_id,
         round({_l2_sql("qe.embedding", "ne.embedding")}, 6) AS l2
  FROM shortlist s
  JOIN embeddings qe ON qe.vec_id = s.q_id
  JOIN embeddings ne ON ne.vec_id = s.n_id
)
SELECT q_id, n_id, l2 FROM (
  SELECT q_id, n_id, l2,
         row_number() OVER (
           PARTITION BY q_id ORDER BY l2 ASC, n_id ASC) AS rn
  FROM rerank
) WHERE rn <= {_TOPK}
"""


def _pq_sql() -> str:
    return f"""
WITH {_pq_codes_sql()},
{_adc_topk_sql("codes c JOIN qtab qt ON qt.m = c.m AND qt.j = c.j")}"""


def pq_udfs(spark, codebook_vecs, codebook_ids):
    """(encode, dtable) pandas UDFs over a broadcast PQ codebook.

    The codebook is (M × K × D) = 8×16×8 doubles — 8 KiB — shipped once
    as a broadcast variable, exactly like the IVF coarse quantizer.
    ``encode(embedding) -> array<int>`` — per-subspace nearest-codeword
    ids (tie: lowest codeword index == lowest source vec_id, matching the
    oracle's round-6 ASC, j ASC ordering).
    ``dtable(embedding) -> array<double>`` — the query's flattened M×K
    distance table (row-major by subspace), the ADC lookup operand."""
    import numpy as np
    import pandas as pd

    CB = np.stack([np.asarray(v, dtype=np.float64) for v in codebook_vecs])
    order = np.argsort(np.asarray(codebook_ids, dtype=np.int64))
    CB = CB[order]
    C = CB.reshape(_PQ_K, _PQ_M, _PQ_D).transpose(1, 0, 2)  # (M, K, D)
    bc = spark.sparkContext.broadcast(C)

    def _dists(vs) -> "np.ndarray":
        Cm = bc.value
        X = np.stack(
            [np.asarray(v, dtype=np.float64) for v in vs]
        ).reshape(len(vs), _PQ_M, _PQ_D)
        return ((X[:, :, None, :] - Cm[None]) ** 2).sum(axis=-1)  # (n,M,K)

    def _encode(vs):
        if not len(vs):
            return pd.Series([], dtype=object)
        codes = np.argmin(np.round(_dists(vs), 6), axis=2)
        return pd.Series([c.tolist() for c in codes.astype("int32")])

    def _dtable(vs):
        if not len(vs):
            return pd.Series([], dtype=object)
        return pd.Series([row.reshape(-1).tolist() for row in _dists(vs)])

    return (
        F.pandas_udf(_encode, "array<int>"),
        F.pandas_udf(_dtable, "array<double>"),
    )


def _pq_codebook(spark, e):
    """(encode, dtable) over the deterministically "trained" codebook,
    collected to the driver (8 KiB)."""
    rows = (
        e.filter(
            (F.col("vec_id") % _PQ_MOD == 0)
            & (F.col("vec_id") <= _PQ_MAX_ID)
        )
        .select("vec_id", "embedding")
        .collect()
    )
    return pq_udfs(
        spark, [r["embedding"] for r in rows], [r["vec_id"] for r in rows]
    )


def _adc_topk(e, pairs: DataFrame) -> DataFrame:
    """ADC → shortlist → exact re-rank → top-k (q_id, n_id, l2) over the
    candidate ``pairs`` (q_id, n_id, dt, codes): stage 1 sums the query's
    distance table at the candidate's codes, stage 2 re-ranks each
    query's _PQ_SHORTLIST best with exact L2 over the raw vectors, which
    it fetches by broadcast joins."""
    adc = F.round(
        F.expr(
            f"aggregate(sequence(0, {_PQ_M - 1}), CAST(0 AS DOUBLE), "
            f"(acc, m) -> acc + dt[m * {_PQ_K} + codes[m]])"
        ),
        6,
    )
    shortlist = _topk(
        pairs.select("q_id", "n_id", adc.alias("adc")),
        F.asc("adc"),
        _PQ_SHORTLIST,
    ).select("q_id", "n_id")
    qe = e.select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("qv"))
    rer = (
        _corpus(e).join(F.broadcast(shortlist), "n_id")
        .join(F.broadcast(qe), "q_id")
        .select("q_id", "n_id", F.round(_l2(F.col("qv"), F.col("nv")), 6)
                .alias("l2"))
    )
    return _topk(rer, F.asc("l2"))


@_q("ann_pq", _pq_sql())
def ann_pq(spark, sf):
    """Product-quantization ANN (Jégou et al.'s ADC + exact re-rank, the
    production two-stage shape): vectors compress to M=8 codeword ids
    (8 bytes vs 256 raw — a 32× scan-weight reduction at 10^12 vectors);
    each query carries its M×K distance table, so stage-1 approximate L2²
    is a pure table-lookup sum over the codes — no raw vector touches the
    scoring scan. Stage 2 re-ranks only the ADC shortlist (50/query) with
    exact L2 over raw vectors (measured on this corpus: the shortlist
    holds ~⅔ of the exact top-k, vs 0.6% chance — re-rank makes that the
    final answer). Codebooks are deterministically "trained" (the 16
    lowest vec_id % 31 == 0 vectors, sliced per subspace) so DuckDB
    reconstructs them closed-form.

    Scale shape: the codebook (8 KiB) broadcasts; encoding is a NARROW
    NumPy pandas-UDF stage (one (batch×K×D) einsum per Arrow batch); the
    tiny query table broadcasts, so the compressed corpus never shuffles
    for stage-1 scoring; stage 2 touches raw vectors for only
    |queries|×50 rows via a broadcast semi-join of the shortlist against
    the corpus. At production scale the same codes nest inside
    `ann_ivf`'s probed lists (IVF-PQ) — composition, not a new
    operator."""
    e = load(spark, sf, "embeddings")
    encode, dtable = _pq_codebook(spark, e)
    codes = e.select(F.col("vec_id").alias("n_id"),
                     encode("embedding").alias("codes"))
    queries = e.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("q_id"), dtable("embedding").alias("dt")
    )
    return _adc_topk(
        e, codes.join(F.broadcast(queries), F.col("n_id") != F.col("q_id"))
    )


# ---------------------------------------------------------------------------
# k-means clustering over embeddings (semantic bucketing / mixture balance)
# ---------------------------------------------------------------------------

_KM_K = 8          # clusters
_KM_SCALE = 1_000_000  # fixed-point quantization: q = floor(x * SCALE)


def _kmeans_sql() -> str:
    """Unrolled 2-assignment / 1-update integer Lloyd's.

    Determinism contract (why this reproduces bit-exactly on two engines):
    embeddings quantize to BIGINT fixed-point (floor of an exact double
    product), distances and centroid sums are pure integer arithmetic
    (order-insensitive), the centroid mean is a FLOORED integer division
    spelled with the dividend-sign-portable pmod formula, and ties break
    on ascending centroid id."""
    fd = "(sum(t.q) - ((sum(t.q) % count(*)) + count(*)) % count(*))"
    return f"""
WITH comps AS (
  SELECT vec_id, u.d - 1 AS d,
         CAST(floor(CAST(u.x AS DOUBLE) * {_KM_SCALE}) AS BIGINT) AS q
  FROM embeddings,
       LATERAL (SELECT unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS d) u
),
c0 AS (SELECT vec_id AS cid, d, q AS cq FROM comps WHERE vec_id < {_KM_K}),
d1 AS (
  SELECT t.vec_id, c.cid,
         CAST(sum((t.q - c.cq) * (t.q - c.cq)) AS BIGINT) AS dist2
  FROM comps t JOIN c0 c ON c.d = t.d
  GROUP BY t.vec_id, c.cid
),
a1 AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
  FROM d1
),
c1 AS (
  SELECT a.cid, t.d, CAST({fd} // count(*) AS BIGINT) AS cq
  FROM comps t JOIN a1 a ON a.vec_id = t.vec_id AND a.rn = 1
  GROUP BY a.cid, t.d
),
d2 AS (
  SELECT t.vec_id, c.cid,
         CAST(sum((t.q - c.cq) * (t.q - c.cq)) AS BIGINT) AS dist2
  FROM comps t JOIN c1 c ON c.d = t.d
  GROUP BY t.vec_id, c.cid
),
a2 AS (
  SELECT vec_id, cid, dist2,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
  FROM d2
)
SELECT vec_id, CAST(cid AS BIGINT) AS cluster, dist2 FROM a2 WHERE rn = 1
"""


def kmeans_assign_udf(spark, cents, cids):
    """Vectorized nearest-centroid assignment over PRE-QUANTIZED (int64
    fixed-point) vectors.

    Centroids ship as ONE broadcast variable (int64 matrix sorted by
    ascending cluster id so ``argmin``'s first-minimum rule IS the
    ascending-id tie-break); per Arrow batch the work is an exact int64
    (batch × K × dim) squared-distance reduce — no floats anywhere, so
    the result is order-independent and engine-portable."""
    import numpy as np
    import pandas as pd

    C = np.stack([np.asarray(c, dtype=np.int64) for c in cents])
    cid = np.asarray(cids, dtype=np.int64)
    order = np.argsort(cid)
    C, cid = C[order], cid[order]
    bc = spark.sparkContext.broadcast((C, cid))

    def _assign(vs):  # pd.Series of int64 arrays -> pd.DataFrame (struct)
        Cv, cidv = bc.value
        X = np.stack([np.asarray(v, dtype=np.int64) for v in vs])
        D = ((X[:, None, :] - Cv[None, :, :]) ** 2).sum(axis=2)
        j = D.argmin(axis=1)
        return pd.DataFrame(
            {"cluster": cidv[j], "dist2": D[np.arange(len(j)), j]}
        )

    return F.pandas_udf(_assign, "cluster long, dist2 long")


@_q("cluster_kmeans", _kmeans_sql())
def cluster_kmeans(spark, sf):
    """k-means over the embedding corpus (K=8, one Lloyd update, final
    assignment): the semantic-bucketing primitive behind cluster-balanced
    data mixing and SemDeDup-style semantic dedup.  Vectors quantize to
    int64 fixed-point so every distance and centroid sum is exact integer
    arithmetic — the oracle reproduces the identical clustering with
    unrolled SQL CTEs (see ``_kmeans_sql``).

    Scale: assignment is a NARROW stage — the K×dim centroid matrix
    broadcasts and a pandas UDF does one exact int64 matmul-shaped reduce
    per Arrow batch (ann_ivf's quantizer pattern; textops.py:1022), zero
    shuffle over the corpus.  The centroid update explodes to fixed-width
    (vec_id, d, q) rows with map-side partial aggregation, so the only
    corpus-wide exchange carries (cluster, dim, partial-sum) — and the
    K×dim result legitimately collects to the driver between iterations,
    exactly how production k-means (MLlib, FAISS training) ships
    centroids.  Iteration count is fixed (production k-means on 10^12
    rows runs a fixed budget, not to convergence)."""
    e = load(spark, sf, "embeddings")
    quant = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * _KM_SCALE).cast("long"),
    )
    qe = e.select("vec_id", quant.alias("qv"))
    comps = qe.select("vec_id", F.posexplode("qv").alias("d", "q"))

    init = qe.filter(F.col("vec_id") < _KM_K).collect()  # K rows, tiny
    a1_udf = kmeans_assign_udf(
        spark, [r["qv"] for r in init], [r["vec_id"] for r in init]
    )
    a1 = qe.select("vec_id", a1_udf("qv").alias("a")).select(
        "vec_id", F.col("a.cluster").alias("cluster")
    )
    upd = (
        comps.join(a1, "vec_id")
        .groupBy("cluster", "d")
        .agg(
            F.expr(
                "(sum(q) - pmod(sum(q), count(1))) div count(1)"
            ).alias("cq")
        )
        .collect()  # K×dim rows: the per-iteration centroid ship
    )
    by_cid: dict[int, dict[int, int]] = {}
    for r in upd:
        by_cid.setdefault(r["cluster"], {})[r["d"]] = r["cq"]
    cids = sorted(by_cid)
    cents = [
        [by_cid[c][d] for d in sorted(by_cid[c])] for c in cids
    ]
    a2_udf = kmeans_assign_udf(spark, cents, cids)
    return qe.select("vec_id", a2_udf("qv").alias("a")).select(
        "vec_id", "a.cluster", "a.dist2"
    )


# ---------------------------------------------------------------------------
# semantic dedup: LSH cosine edges → connected components → keep verdict
# ---------------------------------------------------------------------------


def _semantic_sql() -> str:
    return f"""
WITH RECURSIVE lsh AS ({_embed_lsh_sql()}),
e2 AS (SELECT id_a AS u, id_b AS v FROM lsh
       UNION SELECT id_b, id_a FROM lsh),
reach (n, m) AS (
  SELECT u, u FROM e2
  UNION
  SELECT e2.v, reach.m FROM reach JOIN e2 ON e2.u = reach.n
),
comp AS (SELECT n AS vec_id, min(m) AS comp FROM reach GROUP BY n)
SELECT e.vec_id,
       CAST(coalesce(c.comp, e.vec_id) AS BIGINT) AS comp,
       coalesce(c.comp, e.vec_id) = e.vec_id AS keep
FROM embeddings e LEFT JOIN comp c ON c.vec_id = e.vec_id
"""


@_q("dedup_semantic", _semantic_sql())
def dedup_semantic(spark, sf):
    """SemDeDup-style semantic deduplication: hyperplane-LSH candidate
    pairs above the cosine threshold become edges, connected components
    group mutually-similar vectors into semantic clusters, and exactly
    one representative per cluster (the minimum id) gets ``keep=true`` —
    every vector appears in the output so the verdict is a total
    function over the corpus.

    Scale: candidate generation is the banded-LSH bucket join (no
    all-pairs — see dedup_embed_lsh), components converge in O(log n)
    alternating-star rounds with per-round lineage truncation (see
    dedup_clusters), and the final verdict is one equi-join on vec_id
    carrying (id, comp) pairs only — embeddings never travel past the
    edge stage."""
    edges = dedup_embed_lsh(spark, sf).select("id_a", "id_b")
    comp = connected_components(edges).withColumnRenamed("doc_id", "vec_id")
    e = load(spark, sf, "embeddings").select("vec_id")
    c = F.coalesce("comp", F.col("vec_id"))
    return e.join(comp, "vec_id", "left").select(
        "vec_id",
        c.cast("bigint").alias("comp"),
        (c == F.col("vec_id")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# BPE tokenization with a fixed ordered merge table
# ---------------------------------------------------------------------------

# Ordered merge rules (a, b) -> ab over the space-separated character
# representation of a word; later rules may consume earlier rules' outputs
# (('as','h') stacks on ('a','s')), which is exactly how trained BPE merge
# lists compose.
_BPE_MERGES = [
    ("a", "s"), ("as", "h"), ("a", "t"), ("b", "at"),
    ("e", "r"), ("l", "e"), ("r", "o"), ("w", "o"),
]
_BPE_W = 32  # words tokenized per document


def _bpe_merge_sql(expr: str) -> str:
    # every token wrapped ~tok~ so a rule can only match WHOLE adjacent
    # tokens — bare-space separation lets '~r ~o' match the tail of
    # token 'er', silently merging across a token boundary
    out = f"regexp_replace({expr}, '(.)', '~\\1~', 'g')"
    for a, b in _BPE_MERGES:
        out = f"replace({out}, '~{a}~~{b}~', '~{a}{b}~')"
    return out


def _bpe_merges_sql() -> str:
    merged = _bpe_merge_sql("w")
    return f"""
WITH words AS (
  SELECT doc_id,
         list_slice(regexp_extract_all(lower(text), '[a-z0-9]+'),
                    1, {_BPE_W}) AS ws
  FROM documents
),
tok AS (
  SELECT doc_id,
         list_transform(ws, w -> {merged}) AS ms,
         CAST(list_aggregate(list_transform(ws, w -> length(w)), 'sum')
              AS BIGINT) AS n_chars_tok
  FROM words WHERE len(ws) > 0
)
SELECT doc_id,
       CAST(len(ms) AS BIGINT) AS n_words,
       n_chars_tok,
       CAST(list_aggregate(list_transform(ms,
                m -> len(string_split(m, '~~'))), 'sum') AS BIGINT) AS n_bpe,
       round(CAST(list_aggregate(list_transform(ms,
                m -> len(string_split(m, '~~'))), 'sum') AS DOUBLE)
             / n_chars_tok, 6) AS ratio,
       md5(array_to_string(ms, '|')) AS toks_md5
FROM tok
"""


@_q("tokenize_bpe", _bpe_merges_sql())
def tokenize_bpe(spark, sf):
    """BPE tokenization with a fixed ordered merge table — the real merge
    step `text_tokens_bpe`'s pre-tokenizer feeds in a production
    pipeline.  Each word becomes its ``~``-wrapped character sequence
    (``hash`` → ``~h~~a~~s~~h~``); each (a, b) -> ab rule rewrites
    ``~a~~b~`` → ``~ab~`` exhaustively in table order via left-to-right
    non-overlapping string replacement (identical semantics in Java's
    and DuckDB's ``replace``).  The per-token wrapping is load-bearing:
    bare-space separation would let a rule match ACROSS a token boundary
    (``l er o`` contains ``r o``, wrongly merging the tail of ``er``
    with ``o`` — caught by the rules-stack test).  Rules stack —
    ('as','h') consumes ('a','s')'s output, as trained merge lists do.
    Emits per-doc token counts, the chars→tokens compression ratio
    (exactly ONE double division), and an md5 over the full token
    stream so the oracle pins every merge decision, not just counts.

    Scale: pure scan-stage JVM codegen — the merge loop is a fixed
    chain of ``replace`` calls inside one whole-stage-codegen projection
    over the words array; no explode, no shuffle, no Python.  A 50k-rule
    production table compiles the same shape (replace chains are linear
    in rules, not data), or drops the word's merge loop into a
    dictionary-broadcast pandas UDF while keeping this exact contract."""
    d = load(spark, sf, "documents")
    words = F.slice(
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0)),
        1,
        _BPE_W,
    ).alias("ws")

    def merge(col):
        out = F.regexp_replace(col, "(.)", "~$1~")
        for a, b in _BPE_MERGES:
            out = F.replace(out, F.lit(f"~{a}~~{b}~"), F.lit(f"~{a}{b}~"))
        return out

    tok = d.select("doc_id", words).filter(F.size("ws") > 0).select(
        "doc_id",
        F.transform("ws", merge).alias("ms"),
        F.aggregate(
            F.transform("ws", F.length),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_chars_tok"),
    )
    n_bpe = F.aggregate(
        F.transform("ms", lambda m: F.size(F.split(m, "~~"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return tok.select(
        "doc_id",
        F.size("ms").cast("bigint").alias("n_words"),
        F.col("n_chars_tok").cast("bigint").alias("n_chars_tok"),
        n_bpe.cast("bigint").alias("n_bpe"),
        F.round(
            n_bpe.cast("double") / F.col("n_chars_tok"), 6
        ).alias("ratio"),
        F.md5(F.concat_ws("|", "ms")).alias("toks_md5"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer TRAINING (learn the merge table from corpus statistics)
# ---------------------------------------------------------------------------

_BPE_TRAIN_ROUNDS = 8  # enough rounds that merges demonstrably STACK


def _bpe_train_sql() -> str:
    parts = [
        r"""
words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        FROM documents)
  GROUP BY w
),
w0 AS (SELECT regexp_replace(w, '(.)', '~\1~', 'g') AS s, c FROM words)"""
    ]
    for i in range(1, _BPE_TRAIN_ROUNDS + 1):
        prev = f"w{i - 1}"
        parts.append(f"""
p{i} AS (
  SELECT syms[CAST(r.i AS INT)] AS pa,
         syms[CAST(r.i AS INT) + 1] AS pb,
         SUM(c) AS pc
  FROM (SELECT regexp_extract_all(s, '~([^~]+)~', 1) AS syms, c
        FROM {prev}),
       range(1, 64) r(i)
  WHERE r.i < len(syms)
  GROUP BY 1, 2
),
b{i} AS (SELECT pa, pb, pc FROM p{i} ORDER BY pc DESC, pa, pb LIMIT 1),
w{i} AS (
  SELECT replace(s, '~' || b.pa || '~~' || b.pb || '~',
                 '~' || b.pa || b.pb || '~') AS s, c
  FROM {prev}, b{i} b
)""")
    sel = "\nUNION ALL ".join(
        f"SELECT {i} AS round, pa, pb, CAST(pc AS BIGINT) AS pair_count "
        f"FROM b{i}"
        for i in range(1, _BPE_TRAIN_ROUNDS + 1)
    )
    return "WITH " + ",".join(parts) + "\n" + sel


@_q("bpe_train", _bpe_train_sql())
def bpe_train(spark, sf):
    """BPE tokenizer TRAINING — learn the ordered merge table from corpus
    pair statistics (Sennrich '16), the step that PRODUCES the table
    ``tokenize_bpe`` applies. Each round: count adjacent symbol pairs
    over the vocabulary (weighted by word frequency), pick the most
    frequent pair (ties broken lexicographically so the argmax is
    total-ordered), rewrite the vocabulary with that merge, repeat.
    Output: the merge table itself, (round, pa, pb, pair_count).

    Determinism: integer pair counts, lexicographic tiebreak, and the
    same ``~tok~``-wrapped representation as ``tokenize_bpe`` — a merge
    is ONE left-to-right literal ``replace`` (wrapping makes consecutive
    matches self-delimiting: ``~a~~b~~a~~b~`` merges both), identical in
    Java, DuckDB, and Python's ``str.replace``.

    Scale shape — the classic BPE-trainer contraction: the corpus is
    touched ONCE (word-count groupBy, the only corpus-sized exchange);
    every training round then iterates over the DISTINCT-WORD vocabulary
    (~10^6 rows at web scale, vs 10^12 documents), so round cost is
    independent of corpus size. Per round: one row-scoped pair explode +
    one (pa, pb, BIGINT) partial-agg exchange + a 1-ROW argmax
    (TakeOrderedAndProject) broadcast-crossJoined back — never collected;
    ``localCheckpoint`` per round truncates the growing merge lineage.
    A 50k-merge production run batches rounds (recount every k merges)
    on the same plan."""
    d = load(spark, sf, "documents")
    words = (
        d.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0)
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = words.select(
        F.regexp_replace("w", "(.)", "~$1~").alias("s"), "c"
    ).localCheckpoint()
    merges = None
    for i in range(1, _BPE_TRAIN_ROUNDS + 1):
        syms = F.regexp_extract_all("s", F.lit("~([^~]+)~"), F.lit(1))
        pairs = vocab.select(
            syms.alias("syms"), "c"
        ).select(
            F.explode(
                F.transform(
                    F.when(
                        F.size("syms") >= 2,
                        F.sequence(F.lit(1), F.size("syms") - 1),
                    ).otherwise(F.array().cast("array<int>")),
                    lambda j: F.struct(
                        F.element_at("syms", j).alias("pa"),
                        F.element_at("syms", j + 1).alias("pb"),
                    ),
                )
            ).alias("p"),
            "c",
        ).select("p.pa", "p.pb", "c")
        best = (
            pairs.groupBy("pa", "pb")
            .agg(F.sum("c").alias("pc"))
            .orderBy(F.desc("pc"), "pa", "pb")
            .limit(1)
        )
        row = best.select(
            F.lit(i).alias("round"),
            "pa",
            "pb",
            F.col("pc").cast("bigint").alias("pair_count"),
        )
        merges = row if merges is None else merges.unionAll(row)
        vocab = (
            vocab.crossJoin(F.broadcast(best))
            .select(
                F.replace(
                    "s",
                    F.concat(
                        F.lit("~"), "pa", F.lit("~~"), "pb", F.lit("~")
                    ),
                    F.concat(F.lit("~"), "pa", "pb", F.lit("~")),
                ).alias("s"),
                "c",
            )
            .localCheckpoint()
        )
    return merges


# ---------------------------------------------------------------------------
# Embedding int8 quantization (storage-scale embeddings)
# ---------------------------------------------------------------------------


def _quant_sql() -> str:
    # Identical operation ORDER to the Spark plan (SURVEY §8): one
    # max-abs per vector, then per-element floor(x * 127.0 / scale + 0.5)
    # — every step IEEE double in the same sequence, so hash-exact.
    return """
WITH s AS (
  SELECT vec_id,
         embedding,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) AS scale
  FROM embeddings
)
SELECT vec_id,
       CAST(u.d - 1 AS INT) AS pos,
       CAST(CASE WHEN scale = 0 THEN 0
                 ELSE floor(CAST(u.x AS DOUBLE) * 127.0 / scale + 0.5)
            END AS INT) AS q,
       round(scale, 6) AS scale_r
FROM s,
     LATERAL (SELECT unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS d) u
"""


@_q("embed_quantize", _quant_sql())
def embed_quantize(spark, sf):
    """Symmetric int8 quantization of the embedding column — the storage
    format a 100 TB embedding lake actually ships (4x smaller than fp32,
    and ANN distance kernels run on int8 SIMD).  Per vector: one max-abs
    scale, then q = floor(x * 127 / scale + 0.5) per element; output is
    FLATTENED to one (vec_id, pos, q) row per element — never an array
    column (the round-2 `image_resize` driver-canonicalizer lesson).

    Determinism: float→double widening + the same three IEEE ops in the
    same order in both engines; the only rounding is an explicit floor.

    Scale: posexplode is a zero-shuffle scan-stage generator; the
    quantized rows are written partition-local (in the lake layout this
    is a column swap, not a shuffle).  Downstream ANN (`ann_pq`,
    `ann_ivf`) reads q + scale_r and never touches fp32 again."""
    e = load(spark, sf, "embeddings")
    scale = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    )
    s = e.select("vec_id", "embedding", scale.alias("scale"))
    ex = s.select(
        "vec_id",
        F.posexplode("embedding").alias("pos", "x"),
        "scale",
    )
    q = F.when(F.col("scale") == 0, F.lit(0)).otherwise(
        F.floor(F.col("x").cast("double") * 127.0 / F.col("scale") + 0.5)
    )
    return ex.select(
        "vec_id",
        F.col("pos").cast("int").alias("pos"),
        q.cast("int").alias("q"),
        F.round("scale", 6).alias("scale_r"),
    )


# ---------------------------------------------------------------------------
# ANN evaluation: recall of the IVF scale path vs exact ground truth
# ---------------------------------------------------------------------------


def _recall_sql(truth: str, got: str) -> str:
    """``_recall`` in SQL over two (q_id, n_id) queries."""
    return f"""
WITH t AS ({truth}),
g AS ({got})
SELECT t.q_id,
       CAST(count(*) AS BIGINT) AS k,
       CAST(sum(CASE WHEN g.n_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST(sum(CASE WHEN g.n_id IS NOT NULL THEN 1 ELSE 0 END)
            * 1000 // count(*) AS BIGINT) AS recall_permille
FROM t LEFT JOIN g ON g.q_id = t.q_id AND g.n_id = t.n_id
GROUP BY t.q_id
"""


def _recall(truth: DataFrame, got: DataFrame) -> DataFrame:
    """Per-query recall of ``got`` against ``truth`` (both keyed q_id,
    n_id): k, hits and the exact integer per-mille hits * 1000 DIV k."""
    g = got.select(F.col("q_id").alias("gq"), F.col("n_id").alias("gn"))
    j = truth.join(
        g, (truth.q_id == F.col("gq")) & (truth.n_id == F.col("gn")),
        "left_outer",
    )
    return j.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.when(F.col("gn").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("n_hits"),
        F.expr(
            "CAST(sum(CASE WHEN gn IS NOT NULL THEN 1 ELSE 0 END)"
            " * 1000 DIV count(*) AS BIGINT)"
        ).alias("recall_permille"),
    )


# compose the two frozen query definitions — the oracle evaluates the SAME
# brute/ivf semantics the individual qkeys pin, then joins them
@_q("ann_recall", _recall_sql(REGISTRY["ann_brute"].sql, _ivf_sql()))
def ann_recall(spark, sf):
    """ANN evaluation harness: per-query recall of the IVF scale path
    (`ann_ivf`) against exact brute-force ground truth (`ann_brute`) —
    the number every production vector index ships with (recall@k vs
    nprobe is THE tuning curve; FAISS publishes exactly this).  Recall
    is an exact integer per-mille (hits * 1000 DIV k), so the result is
    hash-stable with zero float drift.

    Scale: ground truth only needs the (small) query set — brute
    broadcasts queries, IVF probes its lists; the final join carries
    O(queries x k) id pairs, negligible at any corpus size.  The same
    composition evaluates any candidate generator against any ground
    truth without touching either plan."""
    return _recall(
        ann_brute(spark, sf).select("q_id", "n_id"), ann_ivf(spark, sf)
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the composed billion-scale ANN shape (coarse lists × ADC codes)
# ---------------------------------------------------------------------------


def _ivfpq_sql() -> str:
    return f"""
WITH {_ivf_lists_sql()},
{_pq_codes_sql()},
{_adc_topk_sql('''codes c
  JOIN lists l ON l.n_id = c.vec_id
  JOIN probes p ON p.c_id = l.c_id
  JOIN qtab qt ON qt.q_id = p.q_id AND qt.m = c.m AND qt.j = c.j''')}"""


@_q("ann_ivfpq", _ivfpq_sql())
def ann_ivfpq(spark, sf):
    """IVF-PQ: the production billion-vector ANN composition — `ann_ivf`'s
    coarse quantizer prunes the corpus to nprobe inverted lists, and
    inside those lists stage-1 scoring reads ONLY `ann_pq`'s 8-byte code
    rows via the query's broadcast ADC distance table; exact L2 re-ranks
    the per-query shortlist. Per-query work drops from |corpus| to
    (|corpus|/K × nprobe) list membership × table lookups, and the
    scoring scan never touches a raw vector.

    Scale shape: both quantizers ship as broadcast variables (driver-
    loaded, small by construction — how FAISS ships trained indexes);
    list-assign + PQ-encode are ONE narrow pandas-UDF stage over the
    corpus; the exploded (query × probed-list) table broadcasts, so the
    coded corpus never shuffles for scoring; raw vectors are touched for
    only |queries| × shortlist rows via broadcast joins."""
    e = load(spark, sf, "embeddings")
    assign_udf, probe_udf = _ivf_quantizer(spark, e)
    encode, dtable = _pq_codebook(spark, e)
    coded = e.select(
        F.col("vec_id").alias("n_id"),
        assign_udf(F.col("embedding")).alias("c_id"),
        encode(F.col("embedding")).alias("codes"),
    )
    qprobe = e.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("q_id"),
        dtable(F.col("embedding")).alias("dt"),
        F.explode(probe_udf(F.col("embedding"))).alias("c_id"),
    )
    return _adc_topk(
        e,
        coded.join(F.broadcast(qprobe), "c_id").filter(
            F.col("n_id") != F.col("q_id")
        ),
    )


def _l2_truth_sql() -> str:
    """Exact squared-L2 top-k (q_id, n_id) over the whole corpus."""
    l2_qn = _l2_sql("q.embedding", "n.embedding")
    return f"""
  SELECT q_id, n_id FROM (
    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round({l2_qn}, 6) ASC, n.vec_id ASC) AS rn
    FROM embeddings q CROSS JOIN embeddings n
    WHERE q.vec_id < {_NQ} AND n.vec_id <> q.vec_id
  ) WHERE rn <= {_TOPK}"""


@_q("ann_recall_pq", _recall_sql(_l2_truth_sql(), _ivfpq_sql()))
def ann_recall_pq(spark, sf):
    """Recall@k of the COMPOSED IVF-PQ path (`ann_ivfpq`) against exact
    L2 brute-force ground truth — the tuning number for the two knobs
    the composition stacks (nprobe coverage × ADC shortlist width).
    Integer per-mille, hash-stable.

    Scale: ground truth broadcasts the query set over the corpus (exact
    L2 + per-query window); the comparison join carries O(queries × k)
    id pairs — evaluation cost is one corpus scan regardless of index
    shape."""
    e = load(spark, sf, "embeddings")
    truth = _topk(
        _corpus(e).join(
            F.broadcast(_queries(e)), F.col("n_id") != F.col("q_id")
        ),
        F.asc(F.round(_l2(F.col("qv"), F.col("nv")), 6)),
    ).select("q_id", "n_id")
    return _recall(truth, ann_ivfpq(spark, sf))


def _dedup_latest_sql() -> str:
    return """
WITH u AS (
  SELECT doc_id, text,
         CAST('2026-08-01' AS TIMESTAMP)
           + to_hours(CAST(doc_id % 48 AS INT)) AS fetched_at
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text,
         CAST('2026-08-01' AS TIMESTAMP)
           + to_hours(CAST(doc_id % 48 + 72 AS INT))
  FROM documents WHERE doc_id % 3 = 0
), r AS (
  SELECT md5(text) AS h, doc_id, fetched_at,
         row_number() OVER (
           PARTITION BY md5(text)
           ORDER BY fetched_at DESC, doc_id DESC
         ) AS rn,
         count(*) OVER (PARTITION BY md5(text)) AS n
  FROM u
)
SELECT h, CAST(n AS BIGINT) AS n, doc_id AS keeper
FROM r WHERE rn = 1 AND n > 1
"""


@_q("dedup_exact_latest", _dedup_latest_sql())
def dedup_exact_latest(spark, sf):
    """Exact dedup with the PRODUCTION keeper policy: when several
    fetches carry byte-identical text, keep the LATEST fetch
    (fetched_at desc, doc_id desc tiebreak) — `dedup_exact` keeps the
    min id, which is right for stable corpora but wrong for re-crawled
    ones where the newest copy carries the freshest metadata. One
    groupBy on the 16-byte digest using max_by over a (fetched_at,
    doc_id) struct — map-side-combinable partial aggregates, no window,
    no sort; only digests and one struct per group shuffle."""
    d = load(spark, sf, "documents").select("doc_id", "text")
    base_ts = F.to_timestamp(F.lit("2026-08-01"))
    orig = d.select(
        "doc_id", "text",
        (base_ts + F.make_interval(hours=(F.col("doc_id") % 48).cast("int")))
        .alias("fetched_at"),
    )
    recrawl = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "text",
        (base_ts
         + F.make_interval(hours=(F.col("doc_id") % 48 + 72).cast("int")))
        .alias("fetched_at"),
    )
    u = orig.unionByName(recrawl)
    return (
        u.groupBy(F.md5(F.encode("text", "utf-8")).alias("h"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max_by(
                F.col("doc_id"), F.struct("fetched_at", "doc_id")
            ).alias("keeper"),
        )
        .filter(F.col("n") > 1)
    )


# ---------------------------------------------------------------------------
# Sentence segmentation (packing / curation pre-pass)
# ---------------------------------------------------------------------------

# Java∩RE2 common subset (no lookaround): a sentence is a maximal run of
# non-terminal characters followed by a terminal-punctuation run, plus one
# trailing unterminated fragment. Leading bare punctuation has no sentence
# to attach to and is skipped identically by both engines.
_SENTENCE_RE = r"([^.!?]+[.!?]+|[^.!?]+$)"


def _text_sentences_sql() -> str:
    return f"""
WITH s AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, '{_SENTENCE_RE}', 1)) AS sent,
         generate_subscripts(
             regexp_extract_all(text, '{_SENTENCE_RE}', 1), 1) AS i
  FROM documents
)
SELECT doc_id,
       CAST(i - 1 AS INT) AS pos,
       trim(sent) AS sentence,
       CAST(length(trim(sent)) AS BIGINT) AS n_chars
FROM s
WHERE length(trim(sent)) > 0
"""


@_q("text_sentences", _text_sentences_sql())
def text_sentences(spark, sf):
    """Sentence segmentation — the packing/curation pre-pass that turns a
    document into ordered sentence rows: (doc_id, pos, sentence, n_chars).
    Sentences are terminal-punctuation-run bounded (``Multi?!`` and
    ``bang..`` stay single sentences), the trailing unterminated fragment
    is kept, matches are space-trimmed, and whitespace-only matches drop;
    ``pos`` is the 0-based match index BEFORE the drop so downstream
    joins can reconstruct adjacency. The twin SQL runs the identical
    Java∩RE2 regex, so the hash pins both engines' split agreement
    (probed: trailing-newline `$` behavior matches).

    Scale shape: one regexp_extract_all + posexplode in the scan stage —
    zero shuffle, zero Python; a document's sentences explode inside its
    input partition exactly like `doc_chunks`."""
    d = load(spark, sf, "documents")
    arr = F.regexp_extract_all("text", F.lit(_SENTENCE_RE), 1)
    t = d.select(
        "doc_id", F.posexplode(arr).alias("pos", "sent")
    )
    sent = F.trim(F.col("sent"))
    return t.select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        sent.alias("sentence"),
        F.length(sent).cast("long").alias("n_chars"),
    ).filter(F.length(sent) > 0)


# ---------------------------------------------------------------------------
# Fuzzy decontamination (MinHash-band overlap vs a benchmark set)
# ---------------------------------------------------------------------------


def _decon_fuzzy_sql() -> str:
    docs_sql = f"""SELECT doc_id, t FROM (
    SELECT doc_id, lower(text) AS t FROM documents
    UNION ALL
    SELECT -1, lower(text) || ' planted contamination tail'
    FROM documents WHERE doc_id = 1
  ) WHERE length(t) >= {_SHINGLE}"""
    return f"""
WITH {_minhash_ctes(docs_sql)},
bench AS (
  SELECT DISTINCT band, band_id FROM bands
  WHERE doc_id % 97 = 0 OR doc_id = -1
)
SELECT c.doc_id, CAST(count(DISTINCT c.band_id) AS BIGINT) AS n_bands
FROM bands c JOIN bench b
  ON c.band = b.band AND c.band_id = b.band_id
WHERE c.doc_id % 97 <> 0 AND c.doc_id <> -1
GROUP BY c.doc_id
"""


@_q("decontaminate_fuzzy", _decon_fuzzy_sql())
def decontaminate_fuzzy(spark, sf):
    """Fuzzy benchmark decontamination: the exact n-gram join
    (`decontaminate`) misses PARAPHRASED leakage — a benchmark item
    lightly edited into a crawled page shares few 13-grams but nearly
    all 9-char shingles. This flags corpus docs whose MinHash signature
    collides with ANY benchmark doc in at least one LSH band (the same
    r=4 bands as `dedup_minhash`, so the similarity threshold matches
    the dedup stack's); docs %97==0 stand in for the eval suite, plus a
    planted near-copy of doc 1 (its text + a short tail, as synthetic
    bench id -1) that pins the paraphrase path — doc 1 must flag with
    both bands despite not being byte-identical to any bench doc.

    Scale shape: ONE corpus pass builds all band keys
    (`minhash_bands` — digest-only exchanges, pre-explode repartition);
    the benchmark side collapses to distinct (band_id, band) 16-byte
    keys and is **broadcast**, so the corpus never re-shuffles for the
    join; only matched (doc_id, band_id) pairs reach the per-doc count
    exchange."""
    d = load(spark, sf, "documents")
    plant = d.filter(F.col("doc_id") == 1).select(
        F.lit(-1).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" planted contamination tail")
        ).alias("text"),
    )
    bands = minhash_bands(
        d.select("doc_id", "text").unionByName(plant)
    )
    is_bench = (F.col("doc_id") % 97 == 0) | (F.col("doc_id") == -1)
    bench = bands.filter(is_bench).select("band_id", "band").distinct()
    return (
        bands.filter(~is_bench)
        .join(F.broadcast(bench), ["band_id", "band"])
        .groupBy("doc_id")
        .agg(F.countDistinct("band_id").alias("n_bands"))
    )


# ---------------------------------------------------------------------------
# Embedding outlier detection: distance to the label centroid
# ---------------------------------------------------------------------------


def _outliers_sql() -> str:
    # All-integer after one global quantization (floor(x*1000 + 0.5)) —
    # centroid and mean distance use explicit floor(sum/n) so both engines
    # take the identical IEEE-division-then-floor path; sums of BIGINTs
    # are order-free, so no float-accumulation drift anywhere.
    return """
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))
           AS qv
  FROM embeddings
),
ex AS (
  SELECT vec_id, label, u.v, u.pos
  FROM q, LATERAL (SELECT unnest(qv) AS v,
                          generate_subscripts(qv, 1) AS pos) u
),
cent AS (
  SELECT label, pos,
         CAST(floor(sum(v) * 1.0 / count(*)) AS BIGINT) AS c
  FROM ex GROUP BY label, pos
),
d2 AS (
  SELECT e.vec_id, e.label,
         CAST(sum((e.v - c.c) * (e.v - c.c)) AS BIGINT) AS dist2
  FROM ex e JOIN cent c ON c.label = e.label AND c.pos = e.pos
  GROUP BY e.vec_id, e.label
),
stats AS (
  SELECT label,
         CAST(floor(sum(dist2) * 1.0 / count(*)) AS BIGINT) AS avg_d2
  FROM d2 GROUP BY label
)
SELECT d.vec_id, d.label, d.dist2, s.avg_d2,
       d.dist2 > 4 * s.avg_d2 AS is_outlier
FROM d2 d JOIN stats s ON s.label = d.label
"""


@_q("embed_outliers", _outliers_sql())
def embed_outliers(spark, sf):
    """Per-label embedding outlier flag: squared distance to the label
    centroid vs 4x the label's mean squared distance (a Markov-style
    "way off the cluster" gate) — the pass a curation pipeline runs to
    catch mislabeled or garbage vectors before they seed dedup/ANN
    structures.

    Determinism: one global int quantization (floor(x*1000 + 0.5)), then
    BIGINT sums only; the two per-label reductions (centroid, mean
    distance) use explicit floor(sum/n) so both engines take the same
    IEEE-division-then-floor path. Order-free integer math end to end —
    no distributed float accumulation.

    Scale: the centroid table is (labels x dims) rows — broadcast back;
    the quantized corpus shuffles once for the (label, pos) partial-sum
    (map-side combined to labels x dims per task), and each vector's
    dist2 is computed row-locally via zip_with over the broadcast
    centroid array, so the big side never exchanges vectors."""
    e = load(spark, sf, "embeddings")
    qv = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1000.0 + 0.5).cast("bigint"),
    )
    q = e.select("vec_id", "label", qv.alias("qv"))
    ex = q.select(
        "vec_id", "label", F.posexplode("qv").alias("pos", "v")
    )
    cent = ex.groupBy("label", "pos").agg(
        F.floor(F.sum("v").cast("double") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("c")
    )
    carr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("carr")
    )
    dist2 = F.aggregate(
        F.zip_with("qv", "carr", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    d2 = q.join(F.broadcast(carr), "label").select(
        "vec_id", "label", dist2.alias("dist2")
    )
    stats = d2.groupBy("label").agg(
        F.floor(F.sum("dist2").cast("double") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("avg_d2")
    )
    return d2.join(F.broadcast(stats), "label").select(
        "vec_id",
        "label",
        "dist2",
        "avg_d2",
        (F.col("dist2") > 4 * F.col("avg_d2")).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility: BPE tokens per word, per language
# ---------------------------------------------------------------------------


def _fertility_sql() -> str:
    # compose the frozen tokenize_bpe definition — the oracle evaluates
    # the SAME merge semantics the per-doc qkey pins, then rolls up by
    # language; exactly two double divisions, both over BIGINT sums.
    return f"""
WITH t AS ({REGISTRY["tokenize_bpe"].sql})
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(t.n_words) AS BIGINT) AS n_words,
       CAST(sum(t.n_bpe) AS BIGINT) AS n_bpe,
       sum(t.n_bpe) * 1.0 / sum(t.n_words) AS fertility,
       sum(t.n_chars_tok) * 1.0 / sum(t.n_bpe) AS chars_per_token
FROM t JOIN documents d ON d.doc_id = t.doc_id
GROUP BY d.lang
"""


@_q("tokenizer_fertility", _fertility_sql())
def tokenizer_fertility(spark, sf):
    """Tokenizer-efficiency audit per language: fertility (BPE tokens per
    word) and chars-per-token under the fixed merge table — THE number a
    tokenizer report card leads with (a language with fertility 2x the
    corpus mean pays double the sequence length for the same text, which
    silently halves its effective mixing weight; SentencePiece/tiktoken
    evaluations publish exactly this).

    Determinism: BIGINT sums of the hash-pinned `tokenize_bpe` per-doc
    counts; two double divisions per output row, same operation order in
    both engines.

    Scale: in the lake layout `lang` is a column of the same table the
    tokenizer scans, so the rollup is one map-side-combined aggregation
    to O(#languages) rows; the doc_id equi-join here exists only because
    the composed qkey re-derives both sides from the parquet scan —
    Catalyst prunes both scans to the 3 needed columns either way."""
    t = tokenize_bpe(spark, sf)
    langs = load(spark, sf, "documents").select("doc_id", "lang")
    j = t.join(langs, "doc_id")
    n_words = F.sum("n_words")
    n_bpe = F.sum("n_bpe")
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        n_words.cast("bigint").alias("n_words"),
        n_bpe.cast("bigint").alias("n_bpe"),
        (n_bpe.cast("double") / n_words).alias("fertility"),
        (F.sum("n_chars_tok").cast("double") / n_bpe).alias(
            "chars_per_token"
        ),
    )


# ---------------------------------------------------------------------------
# MinHash/LSH dedup evaluation: recall & precision vs exact ground truth
# ---------------------------------------------------------------------------

_MHR_MOD = 10
_MHR_KEEP = 8  # 80% deterministic doc sample for the ground-truth panel


def _mh_recall_sql() -> str:
    # ground truth: exact shingle-set Jaccard over ALL pairs inside a
    # fixed md5-sampled doc panel (computed via the inverted shingle
    # index, so zero-intersection pairs never materialize); candidates:
    # the frozen dedup_minhash definition restricted to the panel. The
    # dup threshold jac >= 0.5 is evaluated as 3*ninter >= na + nb —
    # integer-exact, no double compare at the boundary.
    return f"""
WITH panel AS (
  SELECT doc_id, lower(text) AS t FROM documents
  WHERE length(text) >= {_SHINGLE}
    AND CAST('0x' || substring(
          md5(CAST(doc_id AS VARCHAR) || ':mhrecall'), 1, 8) AS BIGINT)
        % {_MHR_MOD} < {_MHR_KEEP}
),
sh AS (
  SELECT DISTINCT doc_id,
         substring(t, CAST(i AS INT), {_SHINGLE}) AS s
  FROM panel, range(1, 4096) r(i)
  WHERE i <= length(t) - {_SHINGLE} + 1
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ninter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes za ON za.doc_id = i.id_a
  JOIN sizes zb ON zb.doc_id = i.id_b
  WHERE 3 * i.ninter >= za.n + zb.n
),
cand AS (
  SELECT c.id_a, c.id_b
  FROM ({{MINHASH}}) c
  JOIN panel pa ON pa.doc_id = c.id_a
  JOIN panel pb ON pb.doc_id = c.id_b
),
hits AS (
  SELECT t.id_a FROM truth t
  JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
)
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
       CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits,
       CAST((SELECT count(*) FROM hits) * 1000
            // greatest((SELECT count(*) FROM truth), 1) AS BIGINT)
         AS recall_permille,
       CAST((SELECT count(*) FROM hits) * 1000
            // greatest((SELECT count(*) FROM cand), 1) AS BIGINT)
         AS precision_permille
"""


@_q(
    "dedup_minhash_recall",
    _mh_recall_sql().replace(
        "{MINHASH}",
        "SELECT id_a, id_b FROM (" + REGISTRY["dedup_minhash"].sql + ")",
    ),
)
def dedup_minhash_recall(spark, sf):
    """Dedup-pipeline evaluation: recall and precision of the banded
    MinHash candidate generator against EXACT shingle-set Jaccard ground
    truth on a deterministic md5-sampled document panel — the
    "recall@threshold vs bands" curve every production near-dup system
    publishes before trusting LSH selectivity at scale (the panel is how
    you measure it without an O(n²) corpus pass).

    Determinism: md5-slice panel sampling; the jac ≥ 0.5 dup threshold
    is evaluated as the integer inequality 3·|A∩B| ≥ |A|+|B| (exactly
    the same set as the double compare, with no boundary-rounding risk);
    per-mille ratios are integer DIV with a greatest(·,1) floor so an
    empty side degrades to 0, not an error.

    Scale: ground truth never materializes zero-overlap pairs — pairs
    arise from the inverted shingle index restricted to the FIXED-SIZE
    panel, so its cost is O(panel² density), independent of corpus size;
    the candidate side is the frozen `dedup_minhash` plan semi-joined to
    the panel. At 100 TB the panel stays a few thousand docs and this
    whole harness is a rounding error next to the dedup run itself."""
    mh = dedup_minhash(spark, sf).select("id_a", "id_b")
    d = load(spark, sf, "documents")
    keep = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"),
                               F.lit(":mhrecall"))), 1, 8
            ), 16, 10
        ).cast("bigint") % _MHR_MOD < _MHR_KEEP
    )
    panel = d.filter(F.length("text") >= _SHINGLE).filter(keep).select(
        "doc_id", F.lower("text").alias("t")
    )
    idx = F.sequence(
        F.lit(1), F.least(F.length("t") - _SHINGLE + 1, F.lit(4095))
    )
    sh = (
        panel.select("doc_id", "t", F.explode(idx).alias("i"))
        .select("doc_id", F.expr(f"substring(t, i, {_SHINGLE})").alias("s"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), F.col("a.s") == F.col("b.s"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("ninter"))
    )
    za = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    truth = (
        inter.join(za, "id_a")
        .join(zb, "id_b")
        .filter(3 * F.col("ninter") >= F.col("na") + F.col("nb"))
        .select("id_a", "id_b")
    )
    ids = panel.select("doc_id")
    cand = (
        mh.join(ids.withColumnRenamed("doc_id", "id_a"), "id_a", "semi")
        .join(ids.withColumnRenamed("doc_id", "id_b"), "id_b", "semi")
        .select("id_a", "id_b")
    )
    hits = truth.join(cand, ["id_a", "id_b"], "semi")
    n_t = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_c = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    n_h = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    out = n_t.crossJoin(n_c).crossJoin(n_h)
    return out.select(
        F.col("n_truth").cast("bigint"),
        F.col("n_cand").cast("bigint"),
        F.col("n_hits").cast("bigint"),
        F.expr("CAST(n_hits * 1000 DIV greatest(n_truth, 1) AS BIGINT)")
        .alias("recall_permille"),
        F.expr("CAST(n_hits * 1000 DIV greatest(n_cand, 1) AS BIGINT)")
        .alias("precision_permille"),
    )


# ---------------------------------------------------------------------------
# Exact set-similarity join with prefix filtering (AllPairs/PPJoin)
# ---------------------------------------------------------------------------

_SIMJOIN_K = 3  # tokens per shingle


def _simjoin_sql() -> str:
    # The oracle verifies EXACT semantics brute-force over every
    # token-sharing pair (complete because Jaccard >= 1/2 implies a
    # shared shingle); the Spark side reaches the identical answer via
    # prefix-filtered candidate generation.
    return f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
  FROM documents WHERE length(text) > 0
),
toks AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(list_slice(t, s + 1, s + {_SIMJOIN_K}), ' '))
           AS g
  FROM (SELECT doc_id, t,
               unnest(generate_series(0, len(t) - {_SIMJOIN_K})) AS s
        FROM w WHERE len(t) >= {_SIMJOIN_K})
),
sz AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
  FROM toks a JOIN toks b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT ia AS id_a, ib AS id_b,
       CAST(i AS BIGINT) AS n_inter,
       CAST(sa.n AS BIGINT) AS size_a,
       CAST(sb.n AS BIGINT) AS size_b,
       round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
FROM pairs
JOIN sz sa ON sa.doc_id = ia
JOIN sz sb ON sb.doc_id = ib
WHERE 3 * i >= sa.n + sb.n
"""


@_q("simjoin_prefix", _simjoin_sql())
def simjoin_prefix(spark, sf):
    """EXACT set-similarity self-join at Jaccard >= 1/2 over word-trigram
    shingle sets, via AllPairs/PPJoin prefix filtering — the
    deterministic alternative to MinHash when the pipeline needs zero
    false negatives AND zero false positives (eval-set contamination
    sweeps, legal takedown scans).  Each document keeps only its
    p = |d| - ceil(t|d|) + 1 RAREST shingles (global-df order) as its
    prefix; the classic theorem guarantees every pair with J >= t shares
    a prefix token, so candidates come from the tiny prefix join and the
    full all-pairs space is never touched.  Verification counts the true
    intersection and applies the integer gate 3*|A∩B| >= |A|+|B| — no
    float ever decides a pair.

    Scale: shingles are md5'd at the scan, so every exchange carries
    16-byte digests; the df table is Zipf-bounded; prefixes shrink each
    doc's join footprint ~2x at t=0.5 and (1-t)x in general, and rare
    tokens first means candidate lists stay short exactly where df is
    large.  The verify stage joins candidates to the two per-doc token
    lists keyed by doc id — never a second all-pairs.  (MinHash
    `dedup_minhash` remains the sub-linear path when approximate recall
    is acceptable; this is the exact one.)
    """
    docs = load(spark, sf, "documents").filter(F.length("text") > 0)
    t = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("t")).filter(
        F.size("t") >= _SIMJOIN_K
    )
    toks = t.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - _SIMJOIN_K),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice("t", i + 1, _SIMJOIN_K))
                    ),
                )
            )
        ).alias("g"),
    )
    sz = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    df_t = toks.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        toks.join(df_t, "g")
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy("df", "g")
            ),
        )
        .join(sz, "doc_id")
        .filter(F.col("rk") <= F.expr("n DIV 2") + 1)
        .select("doc_id", "g")
    )
    cand = (
        ranked.alias("pa")
        .join(
            ranked.alias("pb"),
            (F.col("pa.g") == F.col("pb.g"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(
            F.col("pa.doc_id").alias("id_a"), F.col("pb.doc_id").alias("id_b")
        )
        .distinct()
    )
    ta = toks.select(F.col("doc_id").alias("id_a"), "g")
    tb = toks.select(F.col("doc_id").alias("tb_id"), F.col("g").alias("gb"))
    inter = (
        cand.join(ta, "id_a")
        .join(
            tb,
            (F.col("id_b") == F.col("tb_id")) & (F.col("g") == F.col("gb")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sz.select(F.col("doc_id").alias("id_a"), F.col("n").alias("size_a"))
    sb = sz.select(F.col("doc_id").alias("id_b"), F.col("n").alias("size_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(3 * F.col("n_inter") >= F.col("size_a") + F.col("size_b"))
        .select(
            "id_a",
            "id_b",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            F.col("size_a").cast("bigint").alias("size_a"),
            F.col("size_b").cast("bigint").alias("size_b"),
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Verbatim-quote attribution edges
# ---------------------------------------------------------------------------

_QUOTE_K = 5  # tokens per quoted window


def _quote_sql() -> str:
    return f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
  FROM documents WHERE length(text) > 0
),
grams AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(list_slice(t, s + 1, s + {_QUOTE_K}), ' '))
           AS g
  FROM (SELECT doc_id, t,
               unnest(generate_series(0, len(t) - {_QUOTE_K})) AS s
        FROM w WHERE len(t) >= {_QUOTE_K})
),
firsts AS (SELECT g, min(doc_id) AS src_doc FROM grams GROUP BY g)
SELECT f.src_doc, gr.doc_id AS dst_doc,
       CAST(count(*) AS BIGINT) AS n_shared
FROM grams gr JOIN firsts f ON f.g = gr.g AND gr.doc_id > f.src_doc
GROUP BY f.src_doc, gr.doc_id
"""


@_q("quote_mining", _quote_sql())
def quote_mining(spark, sf):
    """Verbatim-quote attribution graph: every {K}-token window shared
    across documents is attributed to its FIRST writer (minimum doc id —
    at web scale, earliest crawl timestamp), and each later document
    carrying it gets a directed edge src→dst weighted by shared-window
    count.  This is the provenance view substring dedup throws away:
    ``dedup_substring`` marks the duplicated bytes for removal;
    quote_mining keeps the who-copied-whom edge list that powers
    syndication detection, canonical-source election, and
    quote-attribution features.

    Scale: windows are md5'd before any exchange (digest-only
    shuffles); first-writer is ONE min-aggregate per digest — the same
    exchange the dedup marking pass already pays — and the attribution
    join reuses that digest partitioning; the edge rollup exchanges
    (src, dst, count) triples bounded by document pairs that actually
    share text, never all-pairs.
    """
    docs = load(spark, sf, "documents").filter(F.length("text") > 0)
    t = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("t")).filter(
        F.size("t") >= _QUOTE_K
    )
    grams = t.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - _QUOTE_K),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice("t", i + 1, _QUOTE_K))
                    ),
                )
            )
        ).alias("g"),
    )
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("src_doc"))
    return (
        grams.join(firsts, "g")
        .filter(F.col("doc_id") > F.col("src_doc"))
        .groupBy("src_doc", F.col("doc_id").alias("dst_doc"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# Substring-dedup REMOVE step: spans -> cleaned text (byte-verified)
# ---------------------------------------------------------------------------


def _substring_remove_sql() -> str:
    return f"""
WITH sp AS ({REGISTRY["dedup_substring_spans"].sql}),
toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
  FROM documents WHERE length(text) > 0
),
toks2 AS (
  SELECT doc_id, u.x AS w, u.i - 1 AS pos
  FROM toks, LATERAL (SELECT unnest(t) AS x,
                             generate_subscripts(t, 1) AS i) u
),
cov AS (
  SELECT DISTINCT t2.doc_id, t2.pos
  FROM toks2 t2 JOIN sp s
    ON s.doc_id = t2.doc_id
   AND t2.pos >= s.span_start AND t2.pos < s.span_end
),
keptdoc AS (
  SELECT t2.doc_id,
         string_agg(t2.w, ' ' ORDER BY t2.pos) AS kept,
         count(*) AS n_kept
  FROM toks2 t2
  LEFT JOIN cov c ON c.doc_id = t2.doc_id AND c.pos = t2.pos
  WHERE c.pos IS NULL
  GROUP BY t2.doc_id
)
SELECT k.doc_id AS doc_id,
       CAST(len(k.t) AS BIGINT) AS n_tokens,
       CAST(len(k.t) - coalesce(kd.n_kept, 0) AS BIGINT) AS n_removed,
       md5(coalesce(kd.kept, '')) AS kept_md5
FROM toks k LEFT JOIN keptdoc kd ON kd.doc_id = k.doc_id
"""


@_q("substring_remove", _substring_remove_sql())
def substring_remove(spark, sf):
    """The WRITER of substring dedup (Lee et al.'s remove step, end to
    end): subtract each document's merged duplicate spans
    (``dedup_substring_spans``) from its token stream and emit the
    cleaned text's md5 plus the removed-token count — the byte-level
    contract a dedup pass must honor, pinned here the same way the
    extraction pipeline pins text bytes.

    Scale: the spans table joins back to documents keyed doc_id (the
    partitioning every per-doc table already shares); span subtraction is
    a SCAN-STAGE array lambda — filter the token array by positional
    coverage against the doc's own span list (tagger-bounded, tens of
    entries) — so no token ever exchanges and nothing re-sorts: the
    collect_list order-insensitivity is real because spans are only
    PROBED (exists), never concatenated.
    """
    docs = load(spark, sf, "documents").filter(F.length("text") > 0)
    toks = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("t"))
    spans = dedup_substring_spans(spark, sf).select(
        "doc_id", F.struct("span_start", "span_end").alias("sp")
    )
    sps = spans.groupBy("doc_id").agg(F.collect_list("sp").alias("sps"))
    j = toks.join(sps, "doc_id", "left").withColumn(
        "sps", F.coalesce("sps", F.array())
    )
    kept = F.filter(
        "t",
        lambda x, i: ~F.exists(
            F.col("sps"),
            lambda sp: (i >= sp["span_start"]) & (i < sp["span_end"]),
        ),
    )
    return j.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        (F.size("t") - F.size(kept)).cast("bigint").alias("n_removed"),
        F.md5(F.concat_ws(" ", kept)).alias("kept_md5"),
    )



# ---------------------------------------------------------------------------
# Matryoshka truncation evaluation (exact int8 dot products)
# ---------------------------------------------------------------------------

_MRL_DIMS = (8, 16, 32)


def _matryoshka_sql() -> str:
    branches = []
    for k in _MRL_DIMS:
        branches.append(f"""
SELECT {k} AS dims, ia, ib, dfull,
       list_sum(list_transform(range(1, {k} + 1),
                               i -> qa[CAST(i AS INT)] * qb[CAST(i AS INT)]))
         AS dtrunc
FROM pairs""")
    union = "\nUNION ALL\n".join(branches)
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(CASE WHEN s = 0 THEN 0
                       ELSE floor(CAST(x AS DOUBLE) * 127.0 / s + 0.5)
                  END AS BIGINT)) AS qv
  FROM (SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                                       x -> abs(CAST(x AS DOUBLE)))) AS s
        FROM embeddings)
),
n AS (SELECT count(*) AS n FROM embeddings),
pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, a.qv AS qa, b.qv AS qb,
         list_sum(list_transform(range(1, len(a.qv) + 1),
                  i -> a.qv[CAST(i AS INT)] * b.qv[CAST(i AS INT)]))
           AS dfull
  FROM q a JOIN q b ON b.vec_id = (a.vec_id * 7 + 13) % (SELECT n FROM n)
),
t AS ({union})
SELECT dims,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN (dfull >= 0) = (dtrunc >= 0) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_sign_agree,
       CAST(sum(CASE WHEN (dfull >= 0) = (dtrunc >= 0) THEN 1 ELSE 0 END)
            * 1000 // count(*) AS BIGINT) AS agree_permille
FROM t GROUP BY dims
"""


@_q("embed_matryoshka", _matryoshka_sql())
def embed_matryoshka(spark, sf):
    """Matryoshka (MRL) truncation evaluation: for a deterministic pair
    sample, does the dot-product SIGN survive truncating the embedding
    to its first 8/16/32 dims?  This is the go/no-go table for serving
    truncated vectors (MRL-style indexes keep prefixes; the agreement
    rate bounds the retrieval damage).  All dot products run on the
    int8-quantized lanes (`embed_quantize`'s exact formula), so every
    sum is integer-exact and order-insensitive — the float-cosine
    nondeterminism that usually makes such evals unhashable never
    appears.

    Scale: the pair sample is an equi-join on a derived key (never
    all-pairs); dot products are scan-stage array folds in codegen; the
    census is |dims| rows.  The same harness evaluates any prefix
    length against any pairing policy by swapping constants."""
    e = load(spark, sf, "embeddings")
    scale = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    )
    q = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.when(scale == 0, F.lit(0).cast("long")).otherwise(
                F.floor(x.cast("double") * 127.0 / scale + 0.5).cast("long")
            ),
        ).alias("qv"),
    )
    n = e.agg(F.count(F.lit(1)).alias("n"))
    a = q.select(F.col("vec_id").alias("ia"), F.col("qv").alias("qa"))
    b = q.select(F.col("vec_id").alias("ib"), F.col("qv").alias("qb"))
    pairs = (
        a.crossJoin(F.broadcast(n))
        .withColumn("key", (F.col("ia") * 7 + 13) % F.col("n"))
        .join(b, F.col("ib") == F.col("key"))
        .select("ia", "ib", "qa", "qb")
        .withColumn(
            "dfull",
            F.aggregate(
                F.zip_with("qa", "qb", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
    )
    parts = []
    for k in _MRL_DIMS:
        parts.append(
            pairs.select(
                F.lit(k).alias("dims"),
                "dfull",
                F.aggregate(
                    F.zip_with(
                        F.slice("qa", 1, k),
                        F.slice("qb", 1, k),
                        lambda x, y: x * y,
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("dtrunc"),
            )
        )
    t = parts[0]
    for p in parts[1:]:
        t = t.unionAll(p)
    agree = F.sum(
        F.when(
            (F.col("dfull") >= 0) == (F.col("dtrunc") >= 0), 1
        ).otherwise(0)
    )
    return t.groupBy("dims").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        agree.cast("bigint").alias("n_sign_agree"),
        F.expr(
            "CAST(sum(CASE WHEN (dfull >= 0) = (dtrunc >= 0)"
            " THEN 1 ELSE 0 END) * 1000 DIV count(*) AS BIGINT)"
        ).alias("agree_permille"),
    )


# ---------------------------------------------------------------------------
# Quality-aware cluster representative election
# ---------------------------------------------------------------------------


def _best_rep_sql() -> str:
    from caraspark.curation import REGISTRY as CURATION_REGISTRY

    return f"""
WITH comp AS ({REGISTRY["dedup_clusters"].sql}),
q AS ({CURATION_REGISTRY["quality_logit"].sql}),
ranked AS (
  SELECT comp.comp, comp.doc_id, q.score,
         row_number() OVER (PARTITION BY comp.comp
                            ORDER BY q.score DESC, comp.doc_id) AS rk
  FROM comp JOIN q ON q.doc_id = comp.doc_id
)
SELECT comp,
       CAST(min(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS rep_doc,
       CAST(max(CASE WHEN rk = 1 THEN score END) AS BIGINT) AS best_score,
       CAST(count(*) AS BIGINT) AS n_members
FROM ranked GROUP BY comp
"""


@_q("dedup_best_rep", _best_rep_sql())
def dedup_best_rep(spark, sf):
    """Quality-aware representative election per near-duplicate cluster:
    within each connected component of the MinHash pair graph
    (`dedup_clusters`), keep the member with the HIGHEST quality score
    (`quality_logit`'s exact integer score; ties by doc id) — the
    FineWeb-style policy of keeping the best-formatted copy instead of
    an arbitrary one (min-id or first-seen keeps boilerplate-mangled
    variants exactly as often as clean ones).  Both inputs are frozen
    registry operators; this is pure composition, so the election can
    never disagree with the dedup or the scorer it builds on.

    Scale: scores join onto cluster rows doc_id-keyed; the election is
    one window per component, whose size is bounded by cluster size (a
    skew guard caps pathological mega-clusters upstream, the same
    giants discipline as everywhere); output is component-cardinality.
    The cluster table comes from the per-session materialization
    (`_clusters_materialized`) — one CC computation feeds all three
    registry consumers instead of each re-running the star rounds.
    """
    from caraspark.curation import quality_logit

    comp = _clusters_materialized(spark, sf)
    q = quality_logit(spark, sf).select("doc_id", "score")
    ranked = comp.join(q, "doc_id").withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("comp").orderBy(F.col("score").desc(), F.col("doc_id"))
        ),
    )
    return ranked.groupBy("comp").agg(
        F.min(F.when(F.col("rk") == 1, F.col("doc_id")))
        .cast("bigint")
        .alias("rep_doc"),
        F.max(F.when(F.col("rk") == 1, F.col("score")))
        .cast("bigint")
        .alias("best_score"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
    )


# ---------------------------------------------------------------------------
# Declared-vs-detected language confusion census
# ---------------------------------------------------------------------------


def _langid_mismatch_sql() -> str:
    return f"""
WITH p AS ({REGISTRY["text_langid"].sql})
SELECT lang AS declared, pred_lang AS detected,
       CAST(count(*) AS BIGINT) AS n_docs,
       lang = pred_lang AS agree
FROM p GROUP BY lang, pred_lang
"""


@_q("langid_mismatch", _langid_mismatch_sql())
def langid_mismatch(spark, sf):
    """Declared-vs-detected language confusion matrix: the crawl's
    claimed language column against the detector's verdict
    (`text_langid`, same frozen operator), rolled to a
    (declared, detected) census — the data-quality table that decides
    whether to TRUST upstream lang metadata (mislabeled pages poison
    per-language sampling rates, mixture weights, and eval sets; CC's
    own metadata disagrees with CLD2 on a few percent of pages).  The
    agree flag makes the diagonal readable without client-side joins.

    Scale: the detector pass is the cost, already paid by
    `text_langid` (scan-stage vectorized profile scoring); this adds a
    |langs|² map-side-combined census — nothing corpus-sized moves."""
    p = text_langid(spark, sf)
    return p.groupBy(
        F.col("lang").alias("declared"), F.col("pred_lang").alias("detected")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    ).withColumn("agree", F.col("declared") == F.col("detected")).select(
        "declared", "detected", "n_docs", "agree"
    )


# ---------------------------------------------------------------------------
# Edit-distance verification of LSH candidates
# ---------------------------------------------------------------------------


def _edit_verify_sql() -> str:
    return f"""
WITH pairs AS ({REGISTRY["dedup_minhash"].sql}),
t AS (SELECT doc_id, text, length(text) AS len FROM documents)
SELECT p.id_a, p.id_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
       CAST(a.len AS BIGINT) AS len_a,
       CAST(b.len AS BIGINT) AS len_b,
       5 * levenshtein(a.text, b.text) <= greatest(a.len, b.len)
         AS is_dup
FROM pairs p
JOIN t a ON a.doc_id = p.id_a
JOIN t b ON b.doc_id = p.id_b
"""


@_q("dedup_edit_verify", _edit_verify_sql())
def dedup_edit_verify(spark, sf):
    """Edit-distance verification of MinHash candidates: every LSH pair
    (`dedup_minhash`, same frozen semantics) gets its EXACT Levenshtein
    distance and the 20%-of-max-length dup verdict by integer
    cross-multiplication (5·lev ≤ max len) — the strictest of the
    standard near-dup confirmations (shingle Jaccard tolerates
    reorderings that edit distance bills in full), and the one takedown
    / plagiarism review wants.  Both engines ship the identical DP
    levenshtein builtin, so the distances hash bit-for-bit.

    Scale: the O(len²)-per-pair DP runs ONLY on LSH candidates — the
    entire point of candidate generation; texts join back by doc id
    (two co-partitioned lookups), and at web scale the verify stage
    caps text length (first N KiB) exactly as production near-dup
    pipelines do."""
    pairs = dedup_minhash(spark, sf).select("id_a", "id_b")
    t = load(spark, sf, "documents").select(
        "doc_id", "text", F.length("text").alias("len")
    )
    a = t.select(
        F.col("doc_id").alias("id_a"),
        F.col("text").alias("text_a"),
        F.col("len").alias("len_a"),
    )
    b = t.select(
        F.col("doc_id").alias("id_b"),
        F.col("text").alias("text_b"),
        F.col("len").alias("len_b"),
    )
    lev = F.levenshtein("text_a", "text_b")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            lev.cast("bigint").alias("lev"),
            F.col("len_a").cast("bigint").alias("len_a"),
            F.col("len_b").cast("bigint").alias("len_b"),
            (5 * lev <= F.greatest("len_a", "len_b")).alias("is_dup"),
        )
    )


def _cluster_sizes_sql() -> str:
    return f"""
WITH comp AS ({REGISTRY["dedup_clusters"].sql}),
sizes AS (
  SELECT comp, CAST(count(*) AS BIGINT) AS size FROM comp GROUP BY comp
)
SELECT size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(count(*) * size AS BIGINT) AS n_docs,
       CAST(count(*) * (size - 1) AS BIGINT) AS n_removable
FROM sizes GROUP BY size
"""


@_q("dedup_cluster_sizes", _cluster_sizes_sql())
def dedup_cluster_sizes(spark, sf):
    """Near-dup cluster-size histogram: for each component size, how
    many clusters, how many documents they hold, and how many are
    REMOVABLE (size−1 per cluster — keep one representative) — the
    distribution every dedup writeup publishes, and the number that
    converts 'candidate pairs found' into 'tokens saved'.  Composed
    from the frozen `dedup_clusters` components.

    Scale: two map-side-combined rollups above the component pass the
    dedup already pays; the histogram is tiny (sizes are Zipf-ish).
    A fat head at size=2 with a thin giant-cluster tail is healthy;
    mass in huge clusters means boilerplate leaked past the shingle
    normalizer — the triage signal this table exists to give.  Consumes
    the per-session materialized cluster table (one CC computation
    shared with `dedup_clusters` / `dedup_best_rep`)."""
    comp = _clusters_materialized(spark, sf)
    sizes = comp.groupBy("comp").agg(
        F.count(F.lit(1)).cast("bigint").alias("size")
    )
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("size")).cast("bigint").alias("n_docs"),
        (F.count(F.lit(1)) * (F.col("size") - 1))
        .cast("bigint")
        .alias("n_removable"),
    )
