"""Corpus-curation operators: the post-extraction passes a web-scale
training-data pipeline runs between "text extracted" and "tokens shipped"
— PII redaction, URL canonicalization + dedup, quality-filter verdicts
(Gopher-style rule stack), repetition signals, domain-blocklist filtering,
deterministic stratified sampling, per-language n-gram statistics,
benchmark decontamination, domain-mixture weights, and domain-graph
PageRank for crawl-frontier prioritization.

Like ``textops``, every operator is expressed twice: as a JVM-side Spark
plan and as an independent DuckDB SQL oracle, so the driver hash-verifies
results end-to-end.  Determinism rules (see memory / SURVEY §8): integer
arithmetic wherever possible, md5-slice uniforms for sampling (identical
hex→int path on both engines), at most ONE double division per output
column in identical operation order, and regex kept to the Java∩RE2
common subset (no lookaround, no backrefs).

Scale notes are per-operator docstrings; the common theme: every shuffle
carries digests, counts, or canonical keys — never document payloads.
"""

from __future__ import annotations

import math

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from caraspark.relational import Q, registrar
from caraspark.tables import load

REGISTRY: dict[str, Q] = {}
_q = registrar(REGISTRY)

# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Java∩RE2 subset: char classes, bounded repeats, \d, \b all behave
# identically in both engines.
_RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_RE_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_RE_PHONE = r"\+\d{1,2}-\d{3}-\d{4}"


def _pii_sql() -> str:
    return f"""
WITH synth AS (
  SELECT doc_id,
         substring(text, 1, 40)
         || ' contact u' || CAST(doc_id AS VARCHAR)
         || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.com ip '
         || '10.' || CAST(doc_id % 256 AS VARCHAR)
         || '.' || CAST(doc_id % 16 AS VARCHAR)
         || '.' || CAST(doc_id % 100 AS VARCHAR)
         || CASE WHEN doc_id % 3 = 0 THEN ''
                 ELSE ' call +1-555-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            END AS t
  FROM documents
),
red AS (
  SELECT doc_id, t,
         regexp_replace(
           regexp_replace(
             regexp_replace(t, '{_RE_EMAIL}', '<EMAIL>', 'g'),
             '{_RE_IPV4}', '<IP>', 'g'),
           '{_RE_PHONE}', '<PHONE>', 'g') AS r
  FROM synth
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_RE_EMAIL}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(t, '{_RE_IPV4}')) AS INT)  AS n_ip,
       CAST(len(regexp_extract_all(t, '{_RE_PHONE}')) AS INT) AS n_phone,
       md5(r) AS redacted_md5
FROM red
"""


@_q("text_pii", _pii_sql())
def text_pii(spark, sf):
    """PII detection + redaction (emails, IPv4, phone numbers).

    The corpus is synthetic word-salad with no real PII, so the query
    plants deterministic PII spans derived from ``doc_id`` (identically in
    Spark and the oracle) and then runs the real detector/redactor over
    them — the md5 of the redacted text pins replacement byte positions,
    not just hit counts.

    Scale: pure JVM ``regexp_replace``/``regexp_extract_all`` projections
    inside the scan stage — zero shuffles, whole-stage codegen; at 100 TB
    this is scan-bandwidth-bound, exactly what a redaction pass should be.
    """
    d = load(spark, sf, "documents")
    s = lambda c: c.cast("string")  # noqa: E731
    did = F.col("doc_id")
    t = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact u"), s(did), F.lit("@ex"), s(did % 7), F.lit(".com ip "),
        F.lit("10."), s(did % 256), F.lit("."), s(did % 16), F.lit("."),
        s(did % 100),
        F.when(did % 3 == 0, F.lit("")).otherwise(
            F.concat(F.lit(" call +1-555-"), F.lpad(s(did % 10000), 4, "0"))
        ),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _RE_EMAIL, "<EMAIL>"), _RE_IPV4, "<IP>"
        ),
        _RE_PHONE,
        "<PHONE>",
    )
    n = lambda pat: F.size(F.regexp_extract_all(t, F.lit(pat), 0))  # noqa: E731
    return d.select(
        "doc_id",
        n(_RE_EMAIL).alias("n_email"),
        n(_RE_IPV4).alias("n_ip"),
        n(_RE_PHONE).alias("n_phone"),
        F.md5(F.encode(red, "utf-8")).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization + dedup
# ---------------------------------------------------------------------------


def _url_sql() -> str:
    return r"""
WITH urls AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 3 = 0 THEN 'http://' ELSE 'https://' END)
         || (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
         || source || '.com/page/' || CAST(doc_id % 50 AS VARCHAR)
         || (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END)
         || (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed' ELSE '' END)
         AS url
  FROM documents
),
canon AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(url, '^https?://', ''),
               '^www\.', ''),
             '\?.*$', ''),
           '/$', '') AS c
  FROM urls
)
SELECT c AS canon_url,
       CAST(min(doc_id) AS BIGINT) AS keeper,
       CAST(count(*) AS BIGINT)    AS n_urls
FROM canon GROUP BY c
"""


@_q("dedup_url", _url_sql())
def dedup_url(spark, sf):
    """Canonical-URL deduplication: scheme strip, ``www.`` strip, query
    strip, trailing-slash strip → keep the lowest doc_id per canonical URL.

    The corpus has no URL column, so deterministic crawl-style URLs are
    derived from (source, doc_id) identically on both engines — scheme,
    ``www.``, trailing slash and tracking-query variants all collide onto
    the same canonical form, which is what the operator must prove.

    Scale: the groupBy shuffles only canonical-URL strings (≈60 B/row at
    crawl scale), never the documents; min/count are map-side-combined.
    The same shape dedups a 10^12-row crawl frontier.
    """
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 3 == 0, F.lit("http://")).otherwise(F.lit("https://")),
        F.when(did % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"), F.lit(".com/page/"), (did % 50).cast("string"),
        F.when(did % 7 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit("?utm_source=feed")).otherwise(F.lit("")),
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(url, "^https?://", ""), r"^www\.", ""
            ),
            r"\?.*$",
            "",
        ),
        "/$",
        "",
    )
    return (
        d.select("doc_id", canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count(F.lit(1)).alias("n_urls"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher-style quality-filter verdict
# ---------------------------------------------------------------------------

_GOPHER_STOP = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "it"]


def _gopher_sql() -> str:
    return f"""
WITH w AS (
  SELECT doc_id,
         string_split(text, ' ') AS ws,
         string_split(lower(text), ' ') AS lw,
         length(replace(text, ' ', '')) AS nsp
  FROM documents
),
m AS (
  SELECT doc_id,
         len(ws) AS n_words,
         CAST(nsp AS DOUBLE) / len(ws) AS mean_wl,
         CAST(len(list_filter(lw, x -> list_contains({_GOPHER_STOP!r}, x)))
              AS DOUBLE) / len(ws) AS stop_ratio,
         CAST(len(list_distinct(lw)) AS DOUBLE) / len(ws) AS uniq_ratio
  FROM w
)
SELECT doc_id,
       CAST(n_words AS INT) AS n_words,
       (n_words >= 20 AND n_words <= 80)   AS ok_len,
       (mean_wl >= 3.5 AND mean_wl <= 6.0) AS ok_wordlen,
       (stop_ratio >= 0.05)                AS ok_stop,
       (uniq_ratio >= 0.4)                 AS ok_diverse,
       (n_words >= 20 AND n_words <= 80
        AND mean_wl >= 3.5 AND mean_wl <= 6.0
        AND stop_ratio >= 0.05 AND uniq_ratio >= 0.4) AS keep
FROM m
"""


@_q("text_gopher", _gopher_sql())
def text_gopher(spark, sf):
    """Gopher-style rule-stack quality verdict (Rae et al. 2021 §A1.1
    shape): word-count bounds, mean-word-length bounds, stop-word floor,
    lexical-diversity floor — emitted as per-rule booleans plus the
    conjunction, so downstream filters can ablate individual rules.

    Determinism: every ratio is exactly one double division of integer
    numerator/denominator in identical order on both engines; thresholds
    compare the unrounded value, so there is no rounding-tie surface.

    Scale: pure JVM array expressions in the scan stage, zero shuffles —
    the verdict is a projection, and at 100 TB the filter feeds partition
    pruning of every later pass (only ``keep`` rows are re-materialized).
    """
    d = load(spark, sf, "documents")
    ws = F.split(F.col("text"), " ")
    lw = F.split(F.lower("text"), " ")
    stop = F.array(*[F.lit(s) for s in _GOPHER_STOP])
    n_words = F.size(ws)
    nsp = F.length(F.regexp_replace("text", " ", ""))
    mean_wl = nsp.cast("double") / n_words
    stop_ratio = (
        F.size(F.filter(lw, lambda x: F.array_contains(stop, x))).cast("double")
        / n_words
    )
    uniq_ratio = F.size(F.array_distinct(lw)).cast("double") / n_words
    ok_len = (n_words >= 20) & (n_words <= 80)
    ok_wordlen = (mean_wl >= 3.5) & (mean_wl <= 6.0)
    ok_stop = stop_ratio >= 0.05
    ok_diverse = uniq_ratio >= 0.4
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        ok_len.alias("ok_len"),
        ok_wordlen.alias("ok_wordlen"),
        ok_stop.alias("ok_stop"),
        ok_diverse.alias("ok_diverse"),
        (ok_len & ok_wordlen & ok_stop & ok_diverse).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------

# per-language keep rates (unlisted languages fall back to 0.2)
_STRAT_RATES = {"en": 0.5, "de": 0.8, "fr": 0.8, "es": 0.8, "zh": 0.3}


def _strat_sql() -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in _STRAT_RATES.items()
    )
    return f"""
SELECT doc_id, lang
FROM (
  SELECT doc_id, lang,
         CAST(CAST('0x' || substring(
                md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 8)
              AS BIGINT) AS DOUBLE) / 4294967296.0 AS u,
         CASE lang {cases} ELSE 0.2 END AS rate
  FROM documents
)
WHERE u < rate
"""


@_q("sample_stratified", _strat_sql())
def sample_stratified(spark, sf):
    """Deterministic per-language stratified sampling: a uniform in [0,1)
    is derived from an md5 slice of the doc id (the same hex→int path both
    engines use for minhash lanes), compared to a per-language keep rate.

    Unlike ``df.sample``, the decision is a pure function of the row — so
    it is reproducible across runs, partitionings, and engines, and a
    resumed job re-derives the identical sample (the property a curation
    pipeline needs for auditable data lineage).

    Scale: a scan-stage filter, zero shuffles; at 100 TB the rate table is
    a literal CASE (or a broadcast join if per-domain rates number in the
    millions).
    """
    d = load(spark, sf, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.encode(
                        F.concat(F.col("doc_id").cast("string"), F.lit(":strat")),
                        "utf-8",
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long").cast("double")
        / 4294967296.0
    )
    rate = F.lit(0.2)
    for k, v in _STRAT_RATES.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    return d.select("doc_id", "lang", u.alias("u"), rate.alias("rate")).filter(
        F.col("u") < F.col("rate")
    ).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Per-language top-k n-grams
# ---------------------------------------------------------------------------

_TOPK = 5


def _ngram_topk_sql() -> str:
    return f"""
WITH d AS (
  SELECT lang, string_split(lower(text), ' ') AS w FROM documents
),
grams AS (
  SELECT lang, w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)] AS g
  FROM d, range(1, 4096) r(i)
  WHERE i <= len(w) - 1
),
counts AS (
  SELECT lang, g, count(*) AS n FROM grams GROUP BY lang, g
),
ranked AS (
  SELECT lang, g, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, g) AS rk
  FROM counts
)
SELECT lang, g AS gram, CAST(n AS BIGINT) AS n, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {_TOPK}
"""


@_q("ngram_topk", _ngram_topk_sql())
def ngram_topk(spark, sf):
    """Corpus bigram statistics: top-{k} bigrams per language with a
    deterministic (count DESC, gram ASC) tiebreak.

    Scale: the heavy stage is the (lang, gram) count — map-side partial
    combine collapses each task's grams before the exchange, so the
    shuffle carries distinct grams per task, not one row per token. The
    final per-language window sees only distinct grams; with a bounded
    language set a TopK-per-group rewrite (``win_topk`` shape) keeps state
    at k rows per partition. The 4095-position cap mirrors the oracle's
    static index table (documents here are far shorter).
    """
    d = load(spark, sf, "documents")
    w = F.split(F.lower("text"), " ")
    grams = d.select(
        "lang",
        F.explode(
            F.zip_with(
                F.slice(w, 1, F.least(F.size(w) - 1, F.lit(4095))),
                F.slice(w, 2, F.least(F.size(w) - 1, F.lit(4095))),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("gram"),
    )
    counts = grams.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("n"))
    rk = F.row_number().over(
        W.partitionBy("lang").orderBy(F.desc("n"), F.asc("gram"))
    )
    return (
        counts.withColumn("rk", rk)
        .filter(F.col("rk") <= _TOPK)
        .select("lang", "gram", "n", "rk")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

# 3-word grams here because the synthetic vocabulary is tiny (~40 words) —
# production decontamination uses 8–13-gram collisions (GPT-3 App. C,
# PaLM §6.1); the plan shape is identical, only the gram width changes.
_DECON_N = 3


def _decon_sql() -> str:
    gram = " || ' ' || ".join(
        f"w[CAST(i + {j} AS INT)]" for j in range(_DECON_N)
    )
    return f"""
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id, md5({gram}) AS gh
  FROM d, range(1, 4096) r(i)
  WHERE i <= len(w) - {_DECON_N} + 1
),
bench AS (
  SELECT DISTINCT gh FROM grams WHERE doc_id % 97 = 0
),
hits AS (
  SELECT g.doc_id, g.gh
  FROM grams g JOIN bench b USING (gh)
  WHERE g.doc_id % 97 <> 0
)
SELECT doc_id, CAST(count(DISTINCT gh) AS BIGINT) AS n_hits
FROM hits GROUP BY doc_id
"""


@_q("decontaminate", _decon_sql())
def decontaminate(spark, sf):
    """Benchmark decontamination: flag training documents sharing any
    word-{n}-gram with a held-out benchmark set (docs with
    ``doc_id % 97 = 0`` stand in for the eval suite).

    Scale: the benchmark side is tiny by construction (eval suites are
    ~10^5 grams at 100 TB corpus scale), so its distinct gram digests are
    **broadcast** — the corpus side streams through a broadcast hash join
    with zero shuffle; only matched (doc_id, gram-digest) pairs reach the
    per-doc count exchange. Grams travel as 16-byte md5 digests, never as
    text.
    """
    d = load(spark, sf, "documents")
    w = F.split(F.lower("text"), " ")
    base = d.filter(F.size(w) >= _DECON_N).select("doc_id", w.alias("w"))
    positions = F.sequence(
        F.lit(1), F.least(F.size("w") - _DECON_N + 1, F.lit(4095))
    )
    gram_h = F.md5(
        F.encode(
            F.concat_ws(
                " ", *[F.expr(f"w[i + {j} - 1]") for j in range(_DECON_N)]
            ),
            "utf-8",
        )
    )
    grams = base.select("doc_id", "w", F.explode(positions).alias("i")).select(
        "doc_id", gram_h.alias("gh")
    )
    bench = (
        grams.filter(F.col("doc_id") % 97 == 0).select("gh").distinct()
    )
    hits = grams.filter(F.col("doc_id") % 97 != 0).join(
        F.broadcast(bench), "gh"
    )
    return hits.groupBy("doc_id").agg(
        F.countDistinct("gh").alias("n_hits")
    )


# ---------------------------------------------------------------------------
# Domain-mixture weights
# ---------------------------------------------------------------------------

_MIX_BUDGET = 0.5  # fraction of total tokens the mixture may keep


def _mix_sql() -> str:
    return f"""
WITH d AS (
  SELECT lang, source,
         sum(len(string_split(text, ' '))) AS t
  FROM documents GROUP BY lang, source
),
tot AS (
  SELECT sum(CAST(floor(sqrt(t)) AS BIGINT)) AS s, sum(t) AS tt FROM d
)
SELECT lang, source, CAST(t AS BIGINT) AS n_tokens,
       least(CAST(1.0 AS DOUBLE),
             (CAST({_MIX_BUDGET} AS DOUBLE) * CAST(tt AS DOUBLE)
              * floor(sqrt(t)))
             / CAST(s * t AS DOUBLE)) AS weight
FROM d, tot
"""


@_q("mix_weights", _mix_sql())
def mix_weights(spark, sf):
    """Domain-mixture sampling weights under a global token budget:
    each (lang, source) domain gets a share proportional to sqrt(tokens)
    (temperature-style upweighting of small domains), capped at 1.0 —
    the DoReMi/data-mixing shape reduced to its closed deterministic form.

    Determinism: shares use ``floor(sqrt(t))`` so the cross-domain sum is
    an exact integer (a sum of doubles would be partial-agg-order
    dependent); the weight is one double division of exactly-representable
    integer products, identical op order on both engines.

    Scale: per-domain token counts partial-aggregate map-side; the global
    total is a single-row aggregate broadcast back — the whole query moves
    O(domains) rows after the first combine.
    """
    d = load(spark, sf, "documents")
    dom = (
        d.select("lang", "source", F.size(F.split("text", " ")).alias("nt"))
        .groupBy("lang", "source")
        .agg(F.sum("nt").alias("t"))
    )
    tot = dom.agg(
        F.sum(F.floor(F.sqrt("t")).cast("long")).alias("s"),
        F.sum("t").alias("tt"),
    )
    j = dom.crossJoin(F.broadcast(tot))
    weight = F.least(
        F.lit(1.0),
        (
            F.lit(_MIX_BUDGET)
            * F.col("tt").cast("double")
            * F.floor(F.sqrt("t")).cast("double")
        )
        / (F.col("s") * F.col("t")).cast("double"),
    )
    return j.select(
        "lang", "source", F.col("t").alias("n_tokens"), weight.alias("weight")
    )


# ---------------------------------------------------------------------------
# Temperature-scaled language sampling (mT5 / XLM-R mixing)
# ---------------------------------------------------------------------------


@_q(
    "mix_temperature",
    """WITH d AS (
  SELECT lang, sum(len(string_split(text, ' '))) AS t
  FROM documents GROUP BY lang
),
s AS (
  SELECT lang, CAST(t AS BIGINT) AS t,
         CAST(floor(sqrt(t)) AS BIGINT) AS s2,
         CAST(floor(sqrt(CAST(floor(sqrt(t)) AS BIGINT))) AS BIGINT) AS s4
  FROM d
),
tot AS (SELECT SUM(t) AS z1, SUM(s2) AS z2, SUM(s4) AS z4 FROM s)
SELECT lang, t AS n_tokens,
       CAST(1000000 * t  // z1 AS BIGINT) AS w_t1_micro,
       CAST(1000000 * s2 // z2 AS BIGINT) AS w_t2_micro,
       CAST(1000000 * s4 // z4 AS BIGINT) AS w_t4_micro
FROM s, tot""",
)
def mix_temperature(spark, sf):
    """Temperature-scaled language sampling weights (the mT5/XLM-R
    mixing rule): p_l ∝ n_l^(1/T) — T=1 is proportional (big languages
    dominate), T=2 the usual compromise, T=4 near-uniform. Where
    ``mix_weights`` caps per-DOMAIN shares under a token budget, this is
    the cross-LANGUAGE knob a multilingual run tunes.

    Determinism: n^(1/2) and n^(1/4) are nested floor(sqrt()) on exact
    integer token counts — IEEE sqrt is correctly rounded, so its floor
    equals isqrt for counts ≪ 2^52 on both engines (the established
    ``mix_weights`` device); each weight is one integer micro-unit
    floor-division. No free-exponent pow() anywhere — that's the whole
    trick, pow(x, 0.25)'s last ulp is libm-specific and would break
    cross-engine hashing.

    Scale shape: one (lang, BIGINT) groupBy — token counting rides the
    scan; the language table is dozens of rows, totals a 1-row broadcast
    crossJoin. Cost is the corpus scan, full stop."""
    d = load(spark, sf, "documents")
    lt = (
        d.select("lang", F.size(F.split("text", " ")).alias("nt"))
        .groupBy("lang")
        .agg(F.sum("nt").alias("t"))
    )
    s = lt.select(
        "lang",
        F.col("t").cast("long").alias("t"),
        F.floor(F.sqrt("t")).cast("long").alias("s2"),
        F.floor(F.sqrt(F.floor(F.sqrt("t")).cast("long")))
        .cast("long")
        .alias("s4"),
    )
    tot = s.agg(
        F.sum("t").alias("z1"),
        F.sum("s2").alias("z2"),
        F.sum("s4").alias("z4"),
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.col("t").alias("n_tokens"),
        F.expr("1000000 * t div z1").cast("bigint").alias("w_t1_micro"),
        F.expr("1000000 * s2 div z2").cast("bigint").alias("w_t2_micro"),
        F.expr("1000000 * s4 div z4").cast("bigint").alias("w_t4_micro"),
    )


# ---------------------------------------------------------------------------
# Skew probe (operational scale tooling as a first-class operator)
# ---------------------------------------------------------------------------

_SKEW_FACTOR = 4  # "hot" = more than 4x the mean per-key row count


@_q(
    "skew_probe",
    f"""WITH keyed AS (
  -- the natural synthetic distribution is uniform; collapsing even
  -- users' rows onto key -1 plants a hot key at every scale factor
  SELECT CASE WHEN user_id % 2 = 0 THEN -1 ELSE user_id END AS k
  FROM events
),
c AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n FROM keyed GROUP BY k
),
m AS (
  SELECT CAST(SUM(n) // COUNT(*) AS BIGINT) AS mean_n,
         CAST({_SKEW_FACTOR} * SUM(n) // COUNT(*) AS BIGINT) AS hot_at
  FROM c
)
SELECT c.k, c.n, m.mean_n,
       CAST((c.n + m.hot_at - 1) // m.hot_at AS INT) AS salt_factor
FROM c, m
WHERE c.n > m.hot_at""",
)
def skew_probe(spark, sf):
    """Skew probe — the pre-flight a 100 TB job runs BEFORE keying a
    shuffle: per-key row counts vs the corpus mean, flagging hot keys
    (> 4× mean) with the salt factor that would level them (ceil(n /
    hot-threshold) — the fan-out ``join_salted``/``agg_salted_distinct``
    then apply). Skew handling in this repo is measured, not guessed;
    this makes the measurement itself a first-class, hash-verified
    operator instead of a notebook one-off.

    Determinism: mean, threshold, and salt factor are integer floor/ceil
    arithmetic on exact counts.

    Scale shape: one map-side-combining (key, BIGINT) groupBy — the
    probe costs one pass over the keys column (often served by parquet
    row-group stats alone); the mean is a 1-row broadcast. Output is the
    hot tail only, by construction a tiny table."""
    e = load(spark, sf, "events")
    k = F.when(F.col("user_id") % 2 == 0, F.lit(-1).cast("long")).otherwise(
        F.col("user_id")
    )
    c = e.select(k.alias("k")).groupBy("k").agg(
        F.count(F.lit(1)).alias("n")
    )
    m = c.agg(
        F.expr("sum(n) div count(*)").alias("mean_n"),
        F.expr(f"{_SKEW_FACTOR} * sum(n) div count(*)").alias("hot_at"),
    )
    return (
        c.crossJoin(F.broadcast(m))
        .filter(F.col("n") > F.col("hot_at"))
        .select(
            "k",
            "n",
            F.col("mean_n").cast("bigint").alias("mean_n"),
            F.expr("(n + hot_at - 1) div hot_at").cast("int").alias(
                "salt_factor"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher §A1.1 repetition rules)
# ---------------------------------------------------------------------------


def _repetition_sql() -> str:
    return """
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws
  FROM documents WHERE len(string_split(text, ' ')) >= 2
),
uni AS (
  SELECT doc_id, g, count(*) AS n
  FROM (SELECT doc_id, unnest(ws) AS g FROM w) GROUP BY doc_id, g
),
unistats AS (
  SELECT doc_id, max(n) AS topn, sum(n) AS totn FROM uni GROUP BY doc_id
),
bi AS (
  SELECT doc_id, ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)] AS g
  FROM w, range(1, 4096) r(i)
  WHERE i <= len(ws) - 1
),
bistats AS (
  SELECT doc_id, count(DISTINCT g) AS nd, count(*) AS nb
  FROM bi GROUP BY doc_id
)
SELECT u.doc_id,
       CAST(u.topn AS DOUBLE) / u.totn        AS top_word_frac,
       1.0 - CAST(b.nd AS DOUBLE) / b.nb      AS dup_bigram_frac
FROM unistats u JOIN bistats b ON u.doc_id = b.doc_id
"""


@_q("text_repetition", _repetition_sql())
def text_repetition(spark, sf):
    """Repetition quality signals (the Gopher rules ``text_gopher``'s
    length/diversity stack doesn't cover): fraction of tokens taken by
    the single most frequent word, and fraction of duplicated bigrams.
    Boilerplate and keyword-stuffed spam pages spike both.

    The Spark side stays a zero-shuffle scan-stage projection by
    computing the per-doc mode with nested higher-order functions
    (``transform(array_distinct(w), x -> size(filter(w, y -> y = x)))``)
    — O(distinct x total) per document, bounded by document length, and
    entirely JVM-side; the oracle computes the same numbers relationally.
    Both emit one double division per column in identical op order.

    Scale: at 100 TB a narrow per-row projection beats the relational
    form's two extra exchanges (doc_id-keyed unigram + bigram counts);
    the quadratic term is bounded by the page-length cap the extraction
    stage already enforces."""
    d = load(spark, sf, "documents")
    w = F.split(F.lower("text"), " ")
    base = d.filter(F.size(F.split(F.col("text"), " ")) >= 2).select(
        "doc_id", w.alias("w")
    )
    wc = F.col("w")
    topn = F.array_max(
        F.transform(
            F.array_distinct(wc),
            lambda x: F.size(F.filter(wc, lambda y: y == x)),
        )
    )
    bi = F.zip_with(
        F.slice(wc, 1, F.size(wc) - 1),
        F.slice(wc, 2, F.size(wc) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return base.select(
        "doc_id",
        (topn.cast("double") / F.size(wc)).alias("top_word_frac"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(bi)).cast("double") / F.size(bi)
        ).alias("dup_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# Domain blocklist filter
# ---------------------------------------------------------------------------


def _blocklist_sql() -> str:
    return """
SELECT doc_id, source
FROM documents
WHERE CAST(substring(source, 4) AS INT) % 3 <> 0
"""


@_q("filter_blocklist", _blocklist_sql())
def filter_blocklist(spark, sf):
    """Domain-blocklist filtering: drop every document whose source
    domain is on a blocklist (every third synthetic source stands in for
    the spam/adult/malware lists a crawl pipeline maintains).

    The Spark side does it the way 100 TB requires — the blocklist is a
    TABLE (updated independently of the corpus), applied as a broadcast
    LEFT ANTI join so the corpus never shuffles; the oracle states the
    equivalent closed-form predicate. A NOT IN subquery would build the
    same broadcast, but anti-join semantics are null-safe and the idiom
    extends to multi-column (host, path-prefix) lists."""
    d = load(spark, sf, "documents")
    blocked = (
        d.select("source")
        .distinct()
        .filter(F.substring("source", 4, 10).cast("int") % 3 == 0)
    )
    return d.join(F.broadcast(blocked), "source", "left_anti").select(
        "doc_id", "source"
    )


# ---------------------------------------------------------------------------
# Domain-graph PageRank (crawl-frontier prioritization)
# ---------------------------------------------------------------------------

_PR_ITERS = 5
_PR_SCALE = 1_000_000  # ranks as integer micro-units → order-insensitive sums


def _pr_graph_sql() -> str:
    return """
nodes AS (SELECT DISTINCT source AS node FROM documents),
links AS (
  -- n_chars decorrelates the target from the source assignment (which
  -- is itself doc_id % 20), giving an irregular directed graph
  SELECT DISTINCT source AS u,
         'src' || CAST((doc_id + n_chars) % 20 AS VARCHAR) AS v
  FROM documents
),
edges AS (
  SELECT u, v FROM links
  WHERE u <> v AND v IN (SELECT node FROM nodes)
),
deg AS (SELECT u AS node, count(*) AS deg FROM edges GROUP BY u)
"""


def _pr_graph(spark, sf):
    """The (nodes, edges) frames of ``_pr_graph_sql``: distinct sources,
    and their links to other existing sources."""
    d = load(spark, sf, "documents")
    nodes = d.select(F.col("source").alias("node")).distinct()
    links = d.select(
        F.col("source").alias("u"),
        F.concat(
            F.lit("src"),
            ((F.col("doc_id") + F.col("n_chars")) % 20).cast("string"),
        ).alias("v"),
    ).distinct()
    edges = links.filter(F.col("u") != F.col("v")).join(
        nodes.withColumnRenamed("node", "v"), "v", "left_semi"
    )
    return nodes, edges


def _pagerank_sql() -> str:
    its = [f"r0 AS (SELECT node, {_PR_SCALE} AS r FROM nodes)"]
    for i in range(1, _PR_ITERS + 1):
        its.append(f"""
it{i} AS (
  SELECT n.node,
         {int(0.15 * _PR_SCALE)} + (85 * COALESCE(s.S, 0)) // 100 AS r
  FROM nodes n LEFT JOIN (
    SELECT e.v AS node, SUM(p.r // d.deg) AS S
    FROM edges e
    JOIN {'r0' if i == 1 else f'it{i - 1}'} p ON p.node = e.u
    JOIN deg d ON d.node = e.u
    GROUP BY e.v
  ) s ON s.node = n.node
)""")
    return f"""
WITH {_pr_graph_sql()},
{", ".join(its)}
SELECT node,
       CAST(r AS BIGINT) AS rank_scaled,
       CAST(r AS DOUBLE) / {_PR_SCALE}.0 AS rank
FROM it{_PR_ITERS}
"""


@_q("graph_pagerank", _pagerank_sql())
def graph_pagerank(spark, sf):
    """PageRank over the domain link graph — the signal a crawl pipeline
    uses to prioritize its frontier and weight domains. The graph is
    derived deterministically from the corpus (distinct source →
    ``src((doc_id + n_chars) % 20)`` links, self-loops dropped); 5 damped
    power iterations, d = 0.85.

    Determinism: ranks are integer micro-units (10^6 = 1.0); each
    iteration does only floor divisions and integer sums — a float
    PageRank's per-node sum would be partial-agg-order dependent, the
    integer one is exact on both engines. Dangling-node mass is dropped
    (not redistributed), matching the oracle's closed form; the damping
    term keeps ranks bounded either way.

    Scale shape: one iteration = one join keyed on the SOURCE node
    (rank × out-degree share) + one groupBy on the TARGET node — both
    exchanges carry (node, BIGINT) pairs, never adjacency lists; a
    web-scale run pre-partitions edges by u so the join side of every
    iteration reuses one exchange. ``localCheckpoint`` per iteration
    truncates lineage, exactly as ``dedup_clusters`` documents —
    without it Catalyst re-analysis grows with iteration count.
    Fixed iteration count (not convergence-tested) keeps the plan
    statically analyzable; production runs add the two-scalar
    convergence probe the connected-components loop uses."""
    nodes, edges = _pr_graph(spark, sf)
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    r = nodes.withColumn("r", F.lit(_PR_SCALE).cast("long")).localCheckpoint()
    base = int(0.15 * _PR_SCALE)
    for _ in range(_PR_ITERS):
        shares = (
            edges.join(r.withColumnRenamed("node", "u"), "u")
            .join(deg.withColumnRenamed("node", "u"), "u")
            .select("v", F.expr("r div deg").alias("share"))
        )
        contrib = shares.groupBy(F.col("v").alias("node")).agg(
            F.sum("share").alias("S")
        )
        r = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr("85 * coalesce(S, 0L) div 100")
                ).cast("long").alias("r"),
            )
            .localCheckpoint()
        )
    return r.select(
        "node",
        F.col("r").alias("rank_scaled"),
        (F.col("r").cast("double") / _PR_SCALE).alias("rank"),
    )


# ---------------------------------------------------------------------------
# Domain-graph HITS (hubs & authorities)
# ---------------------------------------------------------------------------

_HITS_ITERS = 3
_HITS_SCALE = 1_000_000  # scores as integer micro-units, L-inf normalized


def _hits_sql() -> str:
    s = _HITS_SCALE
    its = [f"h0 AS (SELECT node, CAST({s} AS BIGINT) AS h FROM nodes)"]
    for i in range(1, _HITS_ITERS + 1):
        prev = "h0" if i == 1 else f"h{i - 1}"
        its.append(f"""
a{i}r AS (
  SELECT n.node, COALESCE(s.S, 0) AS ar
  FROM nodes n LEFT JOIN (
    SELECT e.v AS node, SUM(p.h) AS S
    FROM edges e JOIN {prev} p ON p.node = e.u GROUP BY e.v
  ) s ON s.node = n.node
),
a{i} AS (
  SELECT node,
         ar * {s} // (SELECT GREATEST(MAX(ar), 1) FROM a{i}r) AS a
  FROM a{i}r
),
h{i}r AS (
  SELECT n.node, COALESCE(s.S, 0) AS hr
  FROM nodes n LEFT JOIN (
    SELECT e.u AS node, SUM(p.a) AS S
    FROM edges e JOIN a{i} p ON p.node = e.v GROUP BY e.u
  ) s ON s.node = n.node
),
h{i} AS (
  SELECT node,
         hr * {s} // (SELECT GREATEST(MAX(hr), 1) FROM h{i}r) AS h
  FROM h{i}r
)""")
    last = _HITS_ITERS
    return f"""
WITH {_pr_graph_sql()},
{", ".join(its)}
SELECT n.node,
       CAST(h.h AS BIGINT) AS hub_scaled,
       CAST(a.a AS BIGINT) AS auth_scaled,
       CAST(h.h AS DOUBLE) / {s}.0 AS hub,
       CAST(a.a AS DOUBLE) / {s}.0 AS auth
FROM nodes n
JOIN h{last} h ON h.node = n.node
JOIN a{last} a ON a.node = n.node
"""


@_q("graph_hits", _hits_sql())
def graph_hits(spark, sf):
    """HITS hubs-and-authorities over the same deterministic domain graph
    as ``graph_pagerank`` — the second classic frontier-prioritization
    signal (Kleinberg '99): a good HUB links to many good authorities, a
    good AUTHORITY is linked from many good hubs. Crawl schedulers use
    authority for fetch priority and hub for outlink-harvest priority.

    Determinism: the textbook L2 normalization is irrational, so each
    half-step normalizes by the MAXIMUM instead (L-inf): score * SCALE //
    max(score). Max and integer sums are partial-aggregation-order
    insensitive, so Spark and DuckDB compute bit-equal BIGINTs; the two
    DOUBLE convenience columns are each one division at the very end.

    Scale shape: one HITS iteration = two (join on one endpoint + groupBy
    on the other) passes over the edge table, exchanging only (node,
    BIGINT) pairs, plus an L-inf normalization — a single-row max
    broadcast-crossJoined back (never collected to the driver). Edges
    pre-partitioned by join key amortize the exchange across iterations;
    ``localCheckpoint`` per iteration truncates lineage exactly as the
    PageRank loop documents."""
    nodes, edges = _pr_graph(spark, sf)
    edges = edges.localCheckpoint()

    def _half(score, src_col, dst_col, out):
        # one propagation half-step: sum scores over edges, L-inf normalize
        raw = (
            edges.join(score.withColumnRenamed("node", src_col), src_col)
            .groupBy(F.col(dst_col).alias("node"))
            .agg(F.sum("s").alias("S"))
        )
        raw = nodes.join(raw, "node", "left").select(
            "node", F.coalesce("S", F.lit(0).cast("long")).alias("raw")
        )
        m = raw.agg(
            F.greatest(F.max("raw"), F.lit(1).cast("long")).alias("m")
        )
        return raw.crossJoin(F.broadcast(m)).select(
            "node", F.expr(f"raw * {_HITS_SCALE} div m").alias(out)
        )

    h = nodes.withColumn(
        "s", F.lit(_HITS_SCALE).cast("long")
    ).localCheckpoint()
    a = None
    for _ in range(_HITS_ITERS):
        a = _half(h, "u", "v", "a").localCheckpoint()
        h = (
            _half(a.withColumnRenamed("a", "s"), "v", "u", "h")
            .withColumnRenamed("h", "s")
            .localCheckpoint()
        )
    return (
        nodes.join(h, "node")
        .join(a, "node")
        .select(
            "node",
            F.col("s").alias("hub_scaled"),
            F.col("a").alias("auth_scaled"),
            (F.col("s").cast("double") / _HITS_SCALE).alias("hub"),
            (F.col("a").cast("double") / _HITS_SCALE).alias("auth"),
        )
    )


# ---------------------------------------------------------------------------
# Domain-graph triangle counting (clustering / link-farm signal)
# ---------------------------------------------------------------------------


def _triangles_sql() -> str:
    return f"""
WITH {_pr_graph_sql()},
und AS (  -- canonical undirected edges, a < b
  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM edges
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT n.node,
       CAST(count(t.node) AS BIGINT) AS n_triangles
FROM nodes n
LEFT JOIN (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
) t ON t.node = n.node
GROUP BY n.node
"""


@_q("graph_triangles", _triangles_sql())
def graph_triangles(spark, sf):
    """Per-node triangle counts over the undirected domain graph — the
    local-clustering signal link-farm detectors key on (organic
    neighborhoods triangle-close; spam rings are near-bipartite and
    don't). Same deterministic graph as ``graph_pagerank``/``graph_hits``.

    Algorithm: canonicalize to a < b undirected edges, then the classic
    ordered wedge join — e1(a,b) ⋈ e2(b,c) builds each wedge exactly
    once (a < b < c), e3(a,c) closes it; every triangle is materialized
    exactly once and credited to its three corners.

    Scale shape: the ordering IS the optimization (node-iterator with
    degeneracy ordering) — wedges are generated only ascending, so a
    hub's quadratic wedge fan-out happens once, not three times; both
    joins are equi-joins on single node keys exchanging (node, node)
    pairs, and the per-corner census is a map-side-combining groupBy.
    Web-scale runs order by DEGREE instead of name (same plan, one extra
    degree join) so high-degree hubs sit last and generate no wedges."""
    nodes, edges = _pr_graph(spark, sf)
    und = edges.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    e1 = und
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = und.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .select("a", "b", "c")
    )
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return (
        nodes.join(
            corners.groupBy("node").agg(F.count(F.lit(1)).alias("nt")),
            "node",
            "left",
        )
        .select(
            "node",
            F.coalesce("nt", F.lit(0).cast("long")).alias("n_triangles"),
        )
    )


# ---------------------------------------------------------------------------
# Character-entropy quality signal
# ---------------------------------------------------------------------------


def _entropy_sql() -> str:
    return """
WITH t AS (
  SELECT doc_id, string_split(lower(text), '') AS cs
  FROM documents WHERE length(text) >= 1
)
SELECT doc_id,
       CAST(len(list_distinct(cs)) AS INT) AS n_distinct,
       list_reduce(
         list_transform(
           list_sort(list_distinct(cs)),
           c -> (CAST(len(list_filter(cs, y -> y = c)) AS DOUBLE) / len(cs))
                * log2(CAST(len(cs) AS DOUBLE)
                       / len(list_filter(cs, y -> y = c)))),
         (a, b) -> a + b) AS entropy
FROM t
"""


@_q("text_entropy", _entropy_sql())
def text_entropy(spark, sf):
    """Character-level Shannon entropy per document — the quality signal
    that separates natural text (~4 bits/char) from base64 blobs, markup
    residue, and single-character spam that length/stopword rules miss.

    Float determinism for a SUM of doubles: both engines fold the
    per-character terms in SORTED character order (Spark ``aggregate``
    over ``array_sort(array_distinct(...))``, DuckDB ``list_reduce`` of
    the same sorted list) — left-to-right in identical order is
    bit-reproducible where a relational SUM over an exchange is not.

    Scale: zero-shuffle scan projection; O(distinct-chars x length) per
    document via higher-order functions, bounded by the alphabet."""
    d = load(spark, sf, "documents")
    base = d.filter(F.length("text") >= 1).select(
        "doc_id", F.split(F.lower("text"), "").alias("cs")
    )
    cs = F.col("cs")
    n = F.size(cs)

    def term(c):
        cnt = F.size(F.filter(cs, lambda y: y == c))
        return (cnt.cast("double") / n) * F.log2(n.cast("double") / cnt)

    ent = F.aggregate(
        F.array_sort(F.array_distinct(cs)),
        F.lit(0.0),
        lambda acc, c: acc + term(c),
    )
    return base.select(
        "doc_id",
        F.size(F.array_distinct(cs)).alias("n_distinct"),
        ent.alias("entropy"),
    )


# ---------------------------------------------------------------------------
# training-sequence shaping: token-window chunking + greedy packing
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 64  # tokens per chunk
_CHUNK_STRIDE = 48  # = size - overlap(16)


@_q(
    "doc_chunks",
    f"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tokens
  FROM documents
)
, starts AS (
  SELECT doc_id, tokens,
         unnest(generate_series(0, len(tokens) - 1, {_CHUNK_STRIDE})) AS s
  FROM toks
)
SELECT doc_id,
       CAST(s AS INT) AS chunk_start,
       CAST(least(len(tokens) - s, {_CHUNK_SIZE}) AS INT) AS chunk_tokens,
       array_to_string(list_slice(tokens, s + 1, s + {_CHUNK_SIZE}), ' ')
           AS chunk_text
FROM starts""",
)
def doc_chunks(spark, sf):
    """Fixed-token-window chunking with overlap (the standard pre-training
    shaping step: 64-token windows, stride 48 → 16-token overlap). All
    JVM-side: split → sequence of starts → posexplode → slice — a single
    narrow stage per doc, no shuffle, no Python. At 10^12 docs the explode
    multiplies rows ~len/stride but each task stays independent; the
    closed-form DuckDB oracle recomputes every window."""
    docs = load(spark, sf, "documents")
    toks = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("tokens")
    )
    starts = F.sequence(
        F.lit(0), F.size("tokens") - 1, F.lit(_CHUNK_STRIDE)
    )
    ex = toks.select(
        "doc_id", "tokens", F.explode(starts).alias("s")
    )
    chunk = F.slice("tokens", F.col("s") + 1, F.lit(_CHUNK_SIZE))
    return ex.select(
        "doc_id",
        F.col("s").cast("int").alias("chunk_start"),
        F.least(
            F.size("tokens") - F.col("s"), F.lit(_CHUNK_SIZE)
        ).cast("int").alias("chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


_PACK_TARGET = 256  # tokens per packed training sequence
_PACK_SHARDS = 8


@_q(
    "pack_sequences",
    f"""WITH sized AS (
  SELECT doc_id, lang,
         CAST(doc_id % {_PACK_SHARDS} AS INT) AS shard,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
             AS n_tokens
  FROM documents
)
SELECT doc_id, lang, shard, n_tokens,
       CAST(floor(
         (sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tokens)
         / {_PACK_TARGET}.0) AS BIGINT) AS seq_id
FROM sized""",
)
def pack_sequences(spark, sf):
    """Greedy sequential packing of documents into ~256-token training
    sequences: within each (lang, shard) stream, a doc's sequence id is
    floor(preceding-token-cumsum / target) — deterministic, order-pinned
    by doc_id. The shard key (pmod(doc_id, 8)) is the scale story: packing
    needs only LOCAL order, so sharding the window partition bounds every
    sort run and kills the hot-language skew a bare PARTITION BY lang
    window would have at 10^12 docs; one exchange on (lang, shard), one
    bounded sort per partition, zero Python."""
    from pyspark.sql import Window as W

    docs = load(spark, sf, "documents")
    sized = docs.select(
        "doc_id",
        "lang",
        F.pmod("doc_id", F.lit(_PACK_SHARDS)).cast("int").alias("shard"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    w = (
        W.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return sized.select(
        "doc_id",
        "lang",
        "shard",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / _PACK_TARGET)
        .cast("long")
        .alias("seq_id"),
    )


# ---------------------------------------------------------------------------
# URL feature extraction (crawl-frontier / domain-policy inputs)
# ---------------------------------------------------------------------------


def _urlfeat_sql() -> str:
    return r"""
WITH urls AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 3 = 0 THEN 'http://' ELSE 'https://' END)
         || (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
         || source || (CASE WHEN doc_id % 4 = 0 THEN '.org' ELSE '.com' END)
         || '/a/b' || repeat('/c', CAST(doc_id % 3 AS INT))
         || '/page' || CAST(doc_id % 50 AS VARCHAR)
         || (CASE WHEN doc_id % 5 = 0
                  THEN '?utm_source=feed&ref=' || CAST(doc_id % 9 AS VARCHAR)
                  ELSE '' END)
         AS url
  FROM documents
)
SELECT doc_id,
       regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
       regexp_replace(
         regexp_extract(url, '^[a-z]+://([^/?]+)', 1), '^www\.', '')
         AS host,
       regexp_extract(url, '\.([a-z]+)(?:/|$)', 1) AS tld,
       CAST(len(regexp_extract_all(
           regexp_replace(url, '\?.*$', ''), '/[^/]')) - 1 AS INT)
         AS path_depth,
       CAST(len(regexp_extract_all(url, '[?&][^&=]+=')) AS INT) AS n_params
FROM urls
"""


@_q("url_features", _urlfeat_sql())
def url_features(spark, sf):
    """URL decomposition features (scheme, www-stripped host, TLD, path
    depth, query-param count) — the inputs a crawl-frontier scheduler and
    per-domain quality policies key on. Same deterministic (source,
    doc_id)-derived URLs as `dedup_url`, extended with TLD and path-depth
    variation so every feature column exercises >1 value.

    Scale: a pure projection — five regexp_extract/replace expressions in
    the scan stage, zero shuffles, whole-stage codegen; the regexes stay
    in the Java∩RE2 subset so DuckDB computes the identical strings."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 3 == 0, F.lit("http://")).otherwise(F.lit("https://")),
        F.when(did % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        F.when(did % 4 == 0, F.lit(".org")).otherwise(F.lit(".com")),
        F.lit("/a/b"),
        F.repeat(F.lit("/c"), (did % 3).cast("int")),
        F.lit("/page"), (did % 50).cast("string"),
        F.when(
            did % 5 == 0,
            F.concat(F.lit("?utm_source=feed&ref="), (did % 9).cast("string")),
        ).otherwise(F.lit("")),
    )
    no_query = F.regexp_replace(url, r"\?.*$", "")
    return d.select(
        "doc_id",
        F.regexp_extract(url, r"^([a-z]+)://", 1).alias("scheme"),
        F.regexp_replace(
            F.regexp_extract(url, r"^[a-z]+://([^/?]+)", 1), r"^www\.", ""
        ).alias("host"),
        F.regexp_extract(url, r"\.([a-z]+)(?:/|$)", 1).alias("tld"),
        (
            F.size(F.regexp_extract_all(no_query, F.lit(r"/[^/]"), F.lit(0)))
            - 1
        ).cast("int").alias("path_depth"),
        F.size(
            F.regexp_extract_all(url, F.lit(r"[?&][^&=]+="), F.lit(0))
        ).cast("int").alias("n_params"),
    )


# ---------------------------------------------------------------------------
# C4-style quality rules (Raffel et al. 2020 §2.2)
# ---------------------------------------------------------------------------


def _c4_sql() -> str:
    return r"""
WITH synth AS (
  SELECT doc_id,
         text
         || (CASE WHEN doc_id % 11 = 0 THEN ' lorem ipsum dolor' ELSE '' END)
         || (CASE WHEN doc_id % 13 = 0 THEN ' function() { return 1; }'
                  ELSE '' END)
         || (CASE WHEN doc_id % 7 = 0 THEN ' enable javascript to view'
                  ELSE '' END)
         || repeat('. Sentence here', CAST(doc_id % 5 AS INT))
         || (CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END)
         AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[.!?]')) AS INT) AS n_sentences,
       t NOT LIKE '%{%'                                 AS ok_braces,
       t NOT LIKE '%lorem ipsum%'                       AS ok_lorem,
       NOT regexp_matches(t, '\bjavascript\b')          AS ok_js,
       len(regexp_extract_all(t, '[.!?]')) >= 3         AS ok_sentences,
       (t LIKE '%.' OR t LIKE '%!' OR t LIKE '%?')      AS ok_terminal,
       (t NOT LIKE '%{%' AND t NOT LIKE '%lorem ipsum%'
        AND NOT regexp_matches(t, '\bjavascript\b')
        AND len(regexp_extract_all(t, '[.!?]')) >= 3
        AND (t LIKE '%.' OR t LIKE '%!' OR t LIKE '%?')) AS keep
FROM synth
"""


@_q("text_c4_filter", _c4_sql())
def text_c4_filter(spark, sf):
    """C4-style document filters (Raffel et al. 2020 §2.2): curly-brace
    (code) rejection, "lorem ipsum" placeholder rejection, the
    ``javascript`` boilerplate word, a ≥3-sentence floor, and
    terminal-punctuation ending — per-rule booleans plus the conjunction,
    like `text_gopher`, so ablations can flip one rule at a time.

    The word-salad corpus has no punctuation or code, so deterministic
    rule triggers are planted from ``doc_id`` (identically in both
    engines), same pattern as `text_pii`'s planted PII.

    Scale: pure scan-stage string predicates, zero shuffles, all
    whole-stage codegen; at 100 TB this is the cheapest pass in the
    curation stack and runs fused with the scan."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(did % 11 == 0, F.lit(" lorem ipsum dolor")).otherwise(
            F.lit("")
        ),
        F.when(did % 13 == 0, F.lit(" function() { return 1; }")).otherwise(
            F.lit("")
        ),
        F.when(did % 7 == 0, F.lit(" enable javascript to view")).otherwise(
            F.lit("")
        ),
        F.repeat(F.lit(". Sentence here"), (did % 5).cast("int")),
        F.when(did % 2 == 0, F.lit(".")).otherwise(F.lit("")),
    )
    n_sent = F.size(F.regexp_extract_all(t, F.lit(r"[.!?]"), F.lit(0)))
    ok_braces = ~t.contains("{")
    ok_lorem = ~t.contains("lorem ipsum")
    ok_js = F.regexp_extract(t, r"\bjavascript\b", 0) == ""
    ok_sentences = n_sent >= 3
    ok_terminal = t.rlike(r"[.!?]$")
    return d.select(
        "doc_id",
        n_sent.cast("int").alias("n_sentences"),
        ok_braces.alias("ok_braces"),
        ok_lorem.alias("ok_lorem"),
        ok_js.alias("ok_js"),
        ok_sentences.alias("ok_sentences"),
        ok_terminal.alias("ok_terminal"),
        (ok_braces & ok_lorem & ok_js & ok_sentences & ok_terminal).alias(
            "keep"
        ),
    )


# ---------------------------------------------------------------------------
# Rare-token fraction (corpus-unigram quality signal)
# ---------------------------------------------------------------------------

# a token is "rare" when count(token) * RARITY_DEN < total_tokens — an
# integer-exact relative threshold (1/RARITY_DEN of the corpus mass)
_RARITY_DEN = 100


def _rarity_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE length(text) > 0
),
vocab AS (
  SELECT w, count(*) AS c FROM toks GROUP BY w
),
total AS (SELECT sum(c) AS n FROM vocab)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.c * {_RARITY_DEN} < (SELECT n FROM total)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       CAST(sum(CASE WHEN v.c * {_RARITY_DEN} < (SELECT n FROM total)
                     THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS rare_frac
FROM toks t JOIN vocab v ON v.w = t.w
GROUP BY t.doc_id
"""


@_q("text_rarity", _rarity_sql())
def text_rarity(spark, sf):
    """Corpus-unigram rarity signal: the fraction of a document's tokens
    whose global corpus frequency is below 1/_RARITY_DEN of total token mass —
    a deterministic stand-in for LM-perplexity quality scoring (documents
    dominated by rare tokens are boilerplate-ish/noisy; transcendental
    log-prob sums would not reproduce bit-exactly across engines, the
    integer threshold does; exactly ONE double division per row).

    Scale: two-pass unigram shape — (1) explode + groupBy(token) builds
    the vocab (the only wide exchange; carries (token, count)), (2) the
    corpus re-joins the vocab on token. The vocab is Zipf-bounded (~10^7
    rows at 100 TB ≪ corpus), so Spark broadcasts it and pass 2 stays
    shuffle-free on the corpus side; the global total rides a broadcast
    scalar (crossJoin of a 1-row agg, not a driver collect).
    """
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("n"))
    rare = (
        vocab.crossJoin(F.broadcast(total))
        .select("w", ((F.col("c") * _RARITY_DEN) < F.col("n")).alias("is_rare"))
    )
    joined = toks.join(F.broadcast(rare), "w")
    n_rare = F.sum(F.when(F.col("is_rare"), 1).otherwise(0))
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        n_rare.cast("bigint").alias("n_rare"),
        (n_rare.cast("double") / F.count(F.lit(1))).alias("rare_frac"),
    )


# ---------------------------------------------------------------------------
# robots.txt politeness verdict (crawl-frontier gate)
# ---------------------------------------------------------------------------


def _robots_sql() -> str:
    return r"""
WITH urls AS (
  SELECT doc_id, source,
         '/a/b' || repeat('/c', CAST(doc_id % 3 AS INT))
         || '/page' || CAST(doc_id % 50 AS VARCHAR) AS path
  FROM documents
),
rules AS (
  SELECT source, prefix, disallow FROM (
    SELECT DISTINCT source,
           CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) AS n
    FROM documents
  ), (VALUES (1), (2), (3)) v(rid),
  LATERAL (
    SELECT CASE v.rid WHEN 1 THEN '/' WHEN 2 THEN '/a'
                      ELSE '/a/b/c' END AS prefix,
           CASE v.rid WHEN 1 THEN n % 5 = 0 WHEN 2 THEN n % 3 = 0
                      ELSE n % 2 = 0 END AS disallow
  )
),
matched AS (
  SELECT u.doc_id, u.path, r.prefix, r.disallow,
         row_number() OVER (
           PARTITION BY u.doc_id
           ORDER BY length(r.prefix) DESC, r.disallow ASC
         ) AS rn
  FROM urls u JOIN rules r
    ON r.source = u.source AND starts_with(u.path, r.prefix)
)
SELECT doc_id, path, prefix AS matched_prefix, NOT disallow AS allowed
FROM matched WHERE rn = 1
"""


@_q("crawl_robots", _robots_sql())
def crawl_robots(spark, sf):
    """robots.txt politeness verdict per URL: longest-matching rule wins,
    allow beats disallow on equal length (the Google REP tie-break) —
    the gate every crawl frontier applies before fetch. Per-domain rule
    stacks are synthesized deterministically from the source id (root /
    "/a" / "/a/b/c" prefixes whose polarity varies by domain) so deeper
    rules genuinely override shallower ones in both engines.

    Scale: the rules table is tiny by construction (robots rules per
    domain ≪ URLs per domain), so it BROADCASTS and the URL side never
    shuffles for the match; the winner is picked by a map-side-combinable
    max(struct(prefix_len, allow)) — no window, so the only exchange
    carries (doc_id, 13-byte winner struct) for the final combine."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    path = F.concat(
        F.lit("/a/b"),
        F.repeat(F.lit("/c"), (did % 3).cast("int")),
        F.lit("/page"), (did % 50).cast("string"),
    )
    n = F.regexp_extract("source", r"src(\d+)", 1).cast("int")
    rules = (
        d.select("source").distinct()
        .select(
            "source",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("/").alias("prefix"),
                        (n % 5 == 0).alias("disallow"),
                    ),
                    F.struct(
                        F.lit("/a").alias("prefix"),
                        (n % 3 == 0).alias("disallow"),
                    ),
                    F.struct(
                        F.lit("/a/b/c").alias("prefix"),
                        (n % 2 == 0).alias("disallow"),
                    ),
                )
            ).alias("r"),
        )
        .select("source", "r.prefix", "r.disallow")
    )
    urls = d.select("doc_id", "source", path.alias("path"))
    return robots_match(urls, rules)


def robots_match(urls, rules):
    """Longest-matching-rule robots verdict over (doc_id, source, path)
    urls and (source, prefix, disallow) rule stacks — the Google REP
    semantics: the longest matching prefix wins, allow wins exact-length
    ties. One broadcast join + one map-side-combinable max(struct) per
    URL; no window, no per-host sort."""
    m = urls.join(
        F.broadcast(rules),
        (urls.source == rules.source) & urls.path.startswith(rules.prefix),
    )
    # lexicographic max over (prefix length, allow, prefix) == longest
    # rule, allow-wins tie-break; carrying the prefix in the struct lets
    # one agg return the winner's identity too
    win = F.max(
        F.struct(
            F.length("prefix").alias("l"),
            (~F.col("disallow")).alias("allow"),
            F.col("prefix").alias("p"),
        )
    ).alias("w")
    return (
        m.groupBy("doc_id", "path")
        .agg(win)
        .select(
            "doc_id",
            "path",
            F.col("w.p").alias("matched_prefix"),
            F.col("w.allow").alias("allowed"),
        )
    )


# ---------------------------------------------------------------------------
# sitemap.xml build + re-parse (crawl-frontier ingestion)
# ---------------------------------------------------------------------------


def _sitemap_sql() -> str:
    return r"""
WITH entries AS (
  SELECT source, doc_id,
         '<url><loc>https://' || source || '.example/p'
           || CAST(doc_id AS VARCHAR) || '</loc><lastmod>2026-01-'
           || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
           || '</lastmod><priority>0.' || CAST(doc_id % 10 AS VARCHAR)
           || '</priority></url>' AS entry
  FROM documents
),
sitemaps AS (
  SELECT source,
         '<urlset>' || string_agg(entry, '' ORDER BY doc_id) || '</urlset>'
           AS xml
  FROM entries GROUP BY source
),
parsed AS (
  SELECT source, unnest(regexp_extract_all(xml, '<url>(.*?)</url>', 1)) AS u
  FROM sitemaps
)
SELECT source,
       regexp_extract(u, '<loc>(.*?)</loc>', 1) AS loc,
       CAST(regexp_extract(u, '<lastmod>2026-01-(\d\d)</lastmod>', 1)
            AS INT) AS lastmod_day,
       CAST(regexp_extract(u, '<priority>0\.(\d)</priority>', 1) AS INT)
         AS priority_decile
FROM parsed
"""


@_q("crawl_sitemap", _sitemap_sql())
def crawl_sitemap(spark, sf):
    """sitemap.xml roundtrip: build one sitemap blob per host from its
    document inventory, then re-parse the blob back into frontier rows
    (loc / lastmod / priority) with the same regex pipeline a crawl
    ingestor runs on fetched sitemaps.  Building-then-parsing (rather
    than parsing a stored fixture) makes the qkey self-verifying: any
    drift in the parse regexes breaks the hash against the oracle's
    independently-built blobs.

    Scale: one groupBy(source) builds the blobs — the sitemap protocol
    caps a file at 50k URLs, so the per-host collect_list is bounded by
    spec, exactly the bound a production sitemap writer relies on; the
    parse stage is JVM ``regexp_extract_all`` + explode (no Python), and
    the explode returns to per-URL rows so downstream stages never carry
    the blob.  Regexes stay in the Java∩RE2 subset (non-greedy dot, no
    lookaround)."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    entry = F.concat(
        F.lit("<url><loc>https://"), F.col("source"), F.lit(".example/p"),
        did.cast("string"), F.lit("</loc><lastmod>2026-01-"),
        F.lpad((did % 28 + 1).cast("string"), 2, "0"),
        F.lit("</lastmod><priority>0."), (did % 10).cast("string"),
        F.lit("</priority></url>"),
    )
    sitemaps = (
        d.select("source", F.struct(did.alias("doc_id"), entry.alias("e")).alias("s"))
        .groupBy("source")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.concat_ws(
                    "", F.transform(F.array_sort(F.collect_list("s")), lambda s: s.e)
                ),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    parsed = sitemaps.select(
        "source",
        F.explode(F.regexp_extract_all("xml", F.lit(r"<url>(.*?)</url>"), 1)).alias("u"),
    )
    return parsed.select(
        "source",
        F.regexp_extract("u", r"<loc>(.*?)</loc>", 1).alias("loc"),
        F.regexp_extract("u", r"<lastmod>2026-01-(\d\d)</lastmod>", 1)
        .cast("int")
        .alias("lastmod_day"),
        F.regexp_extract("u", r"<priority>0\.(\d)</priority>", 1)
        .cast("int")
        .alias("priority_decile"),
    )


# ---------------------------------------------------------------------------
# Paragraph-level exact dedup (RefinedWeb / CCNet style)
# ---------------------------------------------------------------------------

# Number of synthetic paragraphs planted per document, and the modulus that
# makes paragraph 0 collide across every doc in the same residue class.
_PARA_PER_DOC = 4
_PARA_SHARED_MOD = 5


def _para_dedup_sql() -> str:
    return f"""
WITH paras AS (
  SELECT doc_id, g.i AS para_idx,
         CASE WHEN g.i = 0
              THEN 'shared header ' || CAST(doc_id % {_PARA_SHARED_MOD} AS VARCHAR)
              ELSE substring(text, 1 + 30 * g.i, 30)
                   || ' p' || CAST(doc_id AS VARCHAR)
         END AS para
  FROM documents,
       (SELECT unnest(range({_PARA_PER_DOC})) AS i) g
  WHERE length(text) >= 30 * {_PARA_PER_DOC}
),
counted AS (
  SELECT md5(para) AS para_md5, count(DISTINCT doc_id) AS n_docs
  FROM paras GROUP BY md5(para)
)
SELECT p.doc_id, CAST(p.para_idx AS INT) AS para_idx, c.para_md5,
       CAST(c.n_docs AS BIGINT) AS n_docs,
       c.n_docs > 1 AS dup
FROM paras p JOIN counted c ON md5(p.para) = c.para_md5
"""


@_q("dedup_paragraph", _para_dedup_sql())
def dedup_paragraph(spark, sf):
    """Paragraph-level exact deduplication (the RefinedWeb/CCNet pass that
    removes paragraphs repeated verbatim across documents — nav footers,
    cookie banners, license blurbs).  The synthetic corpus has no newline
    structure, so the query plants deterministic paragraphs (identically
    in both engines): paragraph 0 is a shared header colliding across the
    ``doc_id % 5`` residue class — always a duplicate — and paragraphs
    1–3 are doc-unique text slices suffixed with the doc id — never
    duplicates, so both polarities of the verdict are exercised on every
    document.  Production use splits ``text`` on ``\\n{{2,}}`` instead of
    planting; the counting plan below is unchanged.

    Scale: the only wide exchanges carry 16-byte md5 digests — the
    paragraph groupBy aggregates (digest, partial distinct-doc count)
    with map-side combine, and the verdict re-join is digest-keyed.
    Paragraph text itself never shuffles: md5 is computed in the scan
    stage and the join back to (doc_id, para_idx) keys on the digest.
    countDistinct(doc_id) is Spark's two-level expand aggregate —
    fixed-width rows, no per-key state explosion."""
    d = load(spark, sf, "documents").filter(
        F.length("text") >= 30 * _PARA_PER_DOC
    )
    idx = F.explode(F.sequence(F.lit(0), F.lit(_PARA_PER_DOC - 1))).alias(
        "para_idx"
    )
    paras = d.select("doc_id", "text", idx).select(
        "doc_id",
        F.col("para_idx").cast("int").alias("para_idx"),
        F.md5(
            F.when(
                F.col("para_idx") == 0,
                F.concat(
                    F.lit("shared header "),
                    (F.col("doc_id") % _PARA_SHARED_MOD).cast("string"),
                ),
            ).otherwise(
                F.concat(
                    F.substring(
                        "text", F.lit(1) + 30 * F.col("para_idx"), F.lit(30)
                    ),
                    F.lit(" p"),
                    F.col("doc_id").cast("string"),
                )
            )
        ).alias("para_md5"),
    )
    counted = paras.groupBy("para_md5").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return paras.join(counted, "para_md5").select(
        "doc_id",
        "para_idx",
        "para_md5",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        (F.col("n_docs") > 1).alias("dup"),
    )


# ---------------------------------------------------------------------------
# Per-host cap sampling (crawl-curation domain cap)
# ---------------------------------------------------------------------------

_HOST_CAP = 40


def _sample_host_sql() -> str:
    return f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {_HOST_CAP}
"""


@_q("sample_per_host", _sample_host_sql())
def sample_per_host(spark, sf):
    """Per-host document cap: keep at most {_HOST_CAP} documents per host,
    chosen by md5(doc_id) order — the standard crawl-curation guard
    against a handful of giant hosts dominating the training mix.  The
    hash order makes the kept set a deterministic uniform sample of each
    host (not a crawl-order prefix), identical across engines and stable
    under re-partitioning.

    Scale: one exchange on the host key; rows carry (doc_id, source,
    16-byte order key) — never text.  Catalyst's WindowGroupLimit rule
    inserts a PARTIAL top-cap-per-host pass before the exchange (plan-
    pinned in tests/test_plans.py), so each mapper ships at most
    cap×hosts rows and a 10^9-page host contributes cap rows per task
    rather than 10^9 — the giant-host skew story is capped by
    construction, no salting needed."""
    d = load(spark, sf, "documents")
    rk = F.row_number().over(
        W.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    return (
        d.select("doc_id", "source", rk.alias("rk"))
        .filter(F.col("rk") <= _HOST_CAP)
        .select("doc_id", "source", F.col("rk").cast("bigint").alias("rk"))
    )


# ---------------------------------------------------------------------------
# BM25 term scoring (integer-exact rational form)
# ---------------------------------------------------------------------------

# Query terms drawn from the synthetic word-salad vocabulary.
_BM25_TERMS = ("hash", "merge", "batch")


def _bm25_sql() -> str:
    terms = ", ".join(f"('{t}')" for t in _BM25_TERMS)
    return f"""
WITH stats AS (
  SELECT count(*) AS n,
         sum(len(string_split(text, ' '))) AS a
  FROM documents WHERE length(text) > 0
),
tf AS (
  SELECT d.doc_id, q.term,
         len(list_filter(string_split(d.text, ' '), x -> x = q.term)) AS tf,
         len(string_split(d.text, ' ')) AS dl
  FROM documents d, (VALUES {terms}) q(term)
  WHERE length(d.text) > 0
),
df AS (
  SELECT term, count(*) AS df FROM tf WHERE tf > 0 GROUP BY term
)
SELECT t.doc_id, t.term,
       CAST(t.tf AS BIGINT) AS tf,
       CAST(t.dl AS BIGINT) AS dl,
       CAST(f.df AS BIGINT) AS df,
       round(CAST(44 * s.a * t.tf * (2 * s.n - 2 * f.df + 1) AS DOUBLE)
             / ((20 * s.a * t.tf + 6 * s.a + 18 * t.dl * s.n)
                * (2 * f.df + 1)), 6) AS score
FROM tf t JOIN df f ON f.term = t.term, stats s
WHERE t.tf > 0
"""


@_q("search_bm25", _bm25_sql())
def search_bm25(spark, sf):
    """BM25 relevance scoring (k1=1.2, b=0.75) for a fixed query-term set,
    in integer-exact rational form: with A = total corpus tokens and N =
    doc count, the Robertson idf surrogate (N-df+0.5)/(df+0.5) and the
    tf saturation term tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)) clear to the
    single rational
    44·A·tf·(2N-2df+1) / ((20·A·tf + 6A + 18·dl·N)·(2df+1)),
    so both engines do exact BIGINT arithmetic and exactly ONE double
    division per output row (the house determinism rule — no
    transcendental log, which would not reproduce bit-exactly).  Emitted
    per (doc, term) so no cross-term double summation order exists.

    Scale: tf and dl are computed per document in the scan stage with
    ``F.size(F.filter(...))`` over the split array — the corpus NEVER
    shuffles.  The only exchanges are two tiny aggregates: per-term df
    (|terms| rows) and the corpus (N, A) scalar — both broadcast back.
    This is the telescoped shape of a production sparse scorer: postings
    stay where the documents are, statistics travel."""
    d = (
        load(spark, sf, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", "toks", F.size("toks").alias("dl"))
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("a")
    )
    per_term = [
        d.select(
            "doc_id",
            F.lit(t).alias("term"),
            F.size(
                F.filter("toks", lambda x: x == F.lit(t))
            ).cast("long").alias("tf"),
            F.col("dl").cast("long").alias("dl"),
        )
        for t in _BM25_TERMS
    ]
    tf = per_term[0]
    for extra in per_term[1:]:
        tf = tf.unionByName(extra)
    tf = tf.filter(F.col("tf") > 0)
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    j = tf.join(F.broadcast(df_tbl), "term").crossJoin(F.broadcast(stats))
    num = 44 * F.col("a") * F.col("tf") * (
        2 * F.col("n") - 2 * F.col("df") + 1
    )
    den = (
        20 * F.col("a") * F.col("tf")
        + 6 * F.col("a")
        + 18 * F.col("dl") * F.col("n")
    ) * (2 * F.col("df") + 1)
    return j.select(
        "doc_id",
        "term",
        F.col("tf").cast("bigint").alias("tf"),
        F.col("dl").cast("bigint").alias("dl"),
        F.col("df").cast("bigint").alias("df"),
        F.round(num.cast("double") / den, 6).alias("score"),
    )


# ---------------------------------------------------------------------------
# Unicode script detection (language-ID's orthographic sibling)
# ---------------------------------------------------------------------------

def _script_sql() -> str:
    # RE2 script classes; the Spark side uses Java's \p{IsXxx} spelling of
    # the SAME Unicode script property, so the semantics match exactly.
    return r"""
WITH synth AS (
  SELECT doc_id,
         substring(text, 1, 60)
         || repeat('ж', CAST(doc_id % 5 AS INT))
         || repeat('中', CAST(doc_id % 3 AS INT))
         || repeat('λ', CAST(doc_id % 2 AS INT)) AS t
  FROM documents
),
counted AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '\p{Latin}')) AS BIGINT)    AS n_latin,
         CAST(len(regexp_extract_all(t, '\p{Cyrillic}')) AS BIGINT) AS n_cyrillic,
         CAST(len(regexp_extract_all(t, '\p{Han}')) AS BIGINT)      AS n_han,
         CAST(len(regexp_extract_all(t, '\p{Greek}')) AS BIGINT)    AS n_greek
  FROM synth
)
SELECT doc_id, n_latin, n_cyrillic, n_han, n_greek,
       CASE WHEN n_cyrillic = greatest(n_latin, n_cyrillic, n_han, n_greek)
                 THEN 'cyrillic'
            WHEN n_greek = greatest(n_latin, n_cyrillic, n_han, n_greek)
                 THEN 'greek'
            WHEN n_han = greatest(n_latin, n_cyrillic, n_han, n_greek)
                 THEN 'han'
            ELSE 'latin' END AS main_script,
       round(CAST(n_cyrillic + n_han + n_greek AS DOUBLE)
             / greatest(n_latin + n_cyrillic + n_han + n_greek, 1), 6)
           AS nonlatin_frac
FROM counted
"""


@_q("text_script", _script_sql())
def text_script(spark, sf):
    """Unicode-script detection — the orthographic signal a language-ID
    stage consults before any stopword model runs (Cyrillic text can't
    be English no matter what the n-grams say).  The ASCII synthetic
    corpus has no non-Latin characters, so the query plants
    deterministic Cyrillic/Han/Greek runs derived from ``doc_id``
    (identically in both engines) and counts per-script characters with
    the engines' spellings of the SAME Unicode script property
    (Java ``\\p{IsCyrillic}`` ≡ RE2 ``\\p{Cyrillic}``).  ``main_script``
    breaks count ties alphabetically; ``nonlatin_frac`` is exactly ONE
    double division.

    Scale: pure scan-stage regexp counting — no exchange, no Python;
    the per-script counters are the same shape fastText-style langid
    uses for its script gate, and at 100 TB this column costs one
    codegen pass over bytes already in cache for extraction."""
    d = load(spark, sf, "documents")
    t = F.concat(
        F.substring("text", 1, 60),
        F.expr("repeat('ж', cast(doc_id % 5 as int))"),
        F.expr("repeat('中', cast(doc_id % 3 as int))"),
        F.expr("repeat('λ', cast(doc_id % 2 as int))"),
    )
    counts = {
        "n_latin": r"\p{IsLatin}",
        "n_cyrillic": r"\p{IsCyrillic}",
        "n_han": r"\p{IsHan}",
        "n_greek": r"\p{IsGreek}",
    }
    c = d.select(
        "doc_id",
        *[
            F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))
            .cast("bigint")
            .alias(name)
            for name, pat in counts.items()
        ],
    )
    mx = F.greatest("n_latin", "n_cyrillic", "n_han", "n_greek")
    total = F.greatest(
        F.col("n_latin") + F.col("n_cyrillic") + F.col("n_han")
        + F.col("n_greek"),
        F.lit(1),
    )
    return c.select(
        "doc_id", "n_latin", "n_cyrillic", "n_han", "n_greek",
        F.when(F.col("n_cyrillic") == mx, "cyrillic")
        .when(F.col("n_greek") == mx, "greek")
        .when(F.col("n_han") == mx, "han")
        .otherwise("latin")
        .alias("main_script"),
        F.round(
            (F.col("n_cyrillic") + F.col("n_han") + F.col("n_greek"))
            .cast("double") / total,
            6,
        ).alias("nonlatin_frac"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — MOSS)
# ---------------------------------------------------------------------------

_WINNOW_K = 5  # character k-gram length over normalized text
_WINNOW_W = 4  # winnowing window (guarantee: any match >= k+w-1 chars shares a print)


def _winnow_sql() -> str:
    k, w = _WINNOW_K, _WINNOW_W
    return f"""
WITH d AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
  FROM documents
),
base AS (
  SELECT doc_id, s, least(length(s) - {k - 1}, 4095) AS p
  FROM d WHERE length(s) >= {k + w - 1}
),
grams AS (
  SELECT doc_id, p, CAST(i AS INT) AS pos,
         CAST('0x' || substring(md5(substring(s, CAST(i AS INT), {k})), 1, 12)
              AS BIGINT) AS h
  FROM base, range(1, 4096) r(i)
  WHERE i <= p
),
win AS (
  SELECT doc_id, p, pos, h,
    min(h) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN 1 PRECEDING AND 1 PRECEDING) AS l1,
    min(h) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS l2,
    min(h) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS l3,
    min(h) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN 1 FOLLOWING AND 1 FOLLOWING) AS r1,
    min(h) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS r2,
    min(h) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS r3
  FROM grams
),
sel AS (
  SELECT doc_id, pos, h,
         (   (pos + 3 <= p AND r3 > h)
          OR (pos >= 2 AND pos + 2 <= p AND l1 >= h AND r2 > h)
          OR (pos >= 3 AND pos + 1 <= p AND l2 >= h AND r1 > h)
          OR (pos >= 4 AND l3 >= h)
         ) AS selected
  FROM win
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN selected THEN 1 ELSE 0 END) AS BIGINT)
         AS n_selected,
       round(CAST(sum(CASE WHEN selected THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS sel_density,
       md5(string_agg(
             CASE WHEN selected
                  THEN CAST(pos AS VARCHAR) || ':' || CAST(h AS VARCHAR)
             END, ',' ORDER BY pos)) AS fp_sig
FROM sel GROUP BY doc_id
"""


@_q("fingerprint_winnow", _winnow_sql())
def fingerprint_winnow(spark, sf):
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03
    — the MOSS algorithm): hash every character k-gram of the
    normalized text, slide a window of w consecutive hashes, and select
    the minimum of each window (rightmost position on ties).  The
    selected (pos, hash) set is a ~2/(w+1)-density fingerprint with the
    paper's guarantee: any shared substring of length >= k+w-1 between
    two documents yields at least one shared fingerprint.

    The rightmost-min rule is expressed declaratively: position i is
    selected iff SOME full window [i-a, i+(w-1-a)] has all left
    neighbours >= h[i] and all right neighbours strictly > h[i] — one OR
    term per split a, each a pair of bounded ROWS-frame window minimums,
    so the whole operator stays in JVM whole-stage codegen.

    hash_fn="md5" (the registered qkey) keeps the per-gram hash DuckDB-
    reproducible (md5 hex slice, base-16 parse). The production lane is
    ``winnow_fingerprints(d, hash_fn="xxh")`` — identical plan shape
    (pinned in test_plans.py), but one xxhash64 call per gram replaces
    the md5 digest + 12-nibble hex slice + string base conversion.

    Scale: all computation is within-document — the only exchange keys
    on doc_id and carries (pos, 8-byte hash) pairs, never text; output is
    a constant-density sample of positions (~2/(w+1)), so downstream
    digest joins see a 3x-reduced stream. Candidate pairing over the
    fingerprints reuses the banded-bucket pattern of dedup_minhash
    (never an all-pairs join).
    """
    return winnow_fingerprints(load(spark, sf, "documents"), hash_fn="md5")


def winnow_fingerprints(d, hash_fn: str = "md5"):
    """Winnowing over a documents DataFrame; see fingerprint_winnow for
    the algorithm and the hash_fn lane contract (pinned in
    test_plans.py)."""
    k, w = _WINNOW_K, _WINNOW_W
    s = F.regexp_replace(F.lower("text"), "[^a-z0-9]", "")
    base = d.select("doc_id", s.alias("s")).filter(
        F.length("s") >= k + w - 1
    )
    p = F.least(F.length("s") - (k - 1), F.lit(4095))
    gram = F.col("s").substr(F.col("pos"), F.lit(k))
    if hash_fn == "md5":
        h = (
            F.conv(
                F.substring(F.md5(F.encode(gram, "utf-8")), 1, 12), 16, 10
            )
            .cast("long")
            .alias("h")
        )
    elif hash_fn == "xxh":
        # production lane: one 8-byte xxhash64 per gram — no hex digest,
        # no base-16 string parse; same downstream plan.
        h = F.xxhash64(gram).alias("h")
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxh', got {hash_fn!r}")
    grams = base.select(
        "doc_id",
        p.alias("p"),
        F.explode(F.sequence(F.lit(1), p)).alias("pos"),
        "s",
    ).select(
        "doc_id",
        "p",
        F.col("pos").cast("int").alias("pos"),
        h,
    )
    ws = W.partitionBy("doc_id").orderBy("pos")
    win = grams.select(
        "doc_id",
        "p",
        "pos",
        "h",
        F.min("h").over(ws.rowsBetween(-1, -1)).alias("l1"),
        F.min("h").over(ws.rowsBetween(-2, -1)).alias("l2"),
        F.min("h").over(ws.rowsBetween(-3, -1)).alias("l3"),
        F.min("h").over(ws.rowsBetween(1, 1)).alias("r1"),
        F.min("h").over(ws.rowsBetween(1, 2)).alias("r2"),
        F.min("h").over(ws.rowsBetween(1, 3)).alias("r3"),
    )
    pos, h, pp = F.col("pos"), F.col("h"), F.col("p")
    selected = (
        ((pos + 3 <= pp) & (F.col("r3") > h))
        | ((pos >= 2) & (pos + 2 <= pp) & (F.col("l1") >= h) & (F.col("r2") > h))
        | ((pos >= 3) & (pos + 1 <= pp) & (F.col("l2") >= h) & (F.col("r1") > h))
        | ((pos >= 4) & (F.col("l3") >= h))
    )
    sel = win.select("doc_id", "pos", "h", selected.alias("selected"))
    n_sel = F.sum(F.when(F.col("selected"), 1).otherwise(0))
    pair = F.when(F.col("selected"), F.struct(F.col("pos"), F.col("h")))
    return sel.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        n_sel.cast("bigint").alias("n_selected"),
        F.round(n_sel.cast("double") / F.count(F.lit(1)), 6).alias(
            "sel_density"
        ),
        F.md5(
            F.encode(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(pair)),
                        lambda x: F.concat_ws(
                            ":",
                            x["pos"].cast("string"),
                            x["h"].cast("string"),
                        ),
                    ),
                ),
                "utf-8",
            )
        ).alias("fp_sig"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (scale path for the exact digest join)
# ---------------------------------------------------------------------------

# Deliberately small bit-space so the sf0.01 corpus exercises real false
# positives (load ~0.3 -> per-probe FP ~3%); production sizes m to the
# benchmark-gram count (m ~= 1.44 * k * n_grams bits for target FP) — the
# arithmetic below is unchanged, only the constant grows.
_BLOOM_M = 4096
_BLOOM_K = 3


def _bloom_sql() -> str:
    gram = " || ' ' || ".join(
        f"w[CAST(i + {j} AS INT)]" for j in range(_DECON_N)
    )
    probes = ", ".join(
        f"CAST('0x' || substring(md5(gh || ':{j}'), 1, 12) AS BIGINT)"
        f" % {_BLOOM_M} AS p{j}"
        for j in range(_BLOOM_K)
    )
    allin = " AND ".join(
        f"p{j} IN (SELECT bit FROM bits)" for j in range(_BLOOM_K)
    )
    return f"""
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, md5({gram}) AS gh
  FROM d, range(1, 4096) r(i)
  WHERE i <= len(w) - {_DECON_N} + 1
),
bench AS (
  SELECT DISTINCT gh FROM grams WHERE doc_id % 97 = 0
),
bits AS (
  SELECT DISTINCT
         CAST('0x' || substring(md5(gh || ':' || CAST(j AS VARCHAR)), 1, 12)
              AS BIGINT) % {_BLOOM_M} AS bit
  FROM bench, range(0, {_BLOOM_K}) s(j)
),
corpus AS (
  SELECT doc_id, gh, {probes}
  FROM grams WHERE doc_id % 97 <> 0
),
flags AS (
  SELECT doc_id, gh,
         ({allin}) AS bloom_hit,
         gh IN (SELECT gh FROM bench) AS exact_hit
  FROM corpus
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits_bloom,
       CAST(sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits_exact,
       CAST(sum(CASE WHEN bloom_hit AND NOT exact_hit THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos,
       max(bloom_hit) AS bloom_flag,
       max(exact_hit) AS contaminated
FROM flags GROUP BY doc_id
"""


def _bloom_probe(gh_col, j):
    """j-th Bloom probe position: md5(gram-digest || ':j') sliced to a
    48-bit int, modulo the bit-space — identical hex->int path in DuckDB."""
    return (
        F.conv(
            F.substring(
                F.md5(F.encode(F.concat(gh_col, F.lit(f":{j}")), "utf-8")),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        % _BLOOM_M
    )


@_q("decontaminate_bloom", _bloom_sql())
def decontaminate_bloom(spark, sf):
    """Bloom-filter benchmark decontamination — the constant-memory scale
    path beside the exact digest join of ``decontaminate``.  The held-out
    set's word-3-gram digests are hashed through k=3 probe positions
    into an m=4096-bit space; a corpus gram is flagged when ALL k of its
    positions are set.  No false negatives by construction (every exact
    hit is also a bloom hit — asserted per row), and the measured
    false-positive count is emitted so the operator's precision is
    observable, not assumed.

    Scale: at 10^12 docs the eval-suite bloom bitmap is a few hundred MB
    — it rides to every executor as a broadcast (here: the set-bit table
    broadcast-joined k times, the same plan shape), so the corpus side
    never shuffles before the per-doc count; the exchange carries only
    (doc_id, 1-byte flags). The exact variant must broadcast every
    benchmark DIGEST (16 bytes x n_grams); the bloom variant is ~40x
    smaller at equal n — that ratio is why production dedup gates run
    bloom-first, exact-join only on the flagged survivors.
    """
    d = load(spark, sf, "documents")
    w = F.split(F.lower("text"), " ")
    base = d.filter(F.size(w) >= _DECON_N).select("doc_id", w.alias("w"))
    positions = F.sequence(
        F.lit(1), F.least(F.size("w") - _DECON_N + 1, F.lit(4095))
    )
    gram_h = F.md5(
        F.encode(
            F.concat_ws(
                " ", *[F.expr(f"w[i + {j} - 1]") for j in range(_DECON_N)]
            ),
            "utf-8",
        )
    )
    grams = (
        base.select("doc_id", "w", F.explode(positions).alias("i"))
        .select("doc_id", gram_h.alias("gh"))
        .distinct()
    )
    bench = grams.filter(F.col("doc_id") % 97 == 0).select("gh").distinct()
    bits = (
        bench.select(
            F.explode(
                F.array(*[_bloom_probe(F.col("gh"), j) for j in range(_BLOOM_K)])
            ).alias("bit")
        )
        .distinct()
        .withColumn("bset", F.lit(1))
    )
    bench_mark = bench.withColumn("bexact", F.lit(1))
    corpus = grams.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id",
        "gh",
        *[_bloom_probe(F.col("gh"), j).alias(f"p{j}") for j in range(_BLOOM_K)],
    )
    for j in range(_BLOOM_K):
        corpus = corpus.join(
            F.broadcast(bits.select(F.col("bit").alias(f"p{j}"),
                                    F.col("bset").alias(f"m{j}"))),
            f"p{j}",
            "left",
        )
    flagged = corpus.join(F.broadcast(bench_mark), "gh", "left").select(
        "doc_id",
        (
            sum(
                [F.coalesce(F.col(f"m{j}"), F.lit(0)) for j in range(_BLOOM_K)],
                F.lit(0),
            )
            == _BLOOM_K
        ).alias("bloom_hit"),
        (F.coalesce(F.col("bexact"), F.lit(0)) == 1).alias("exact_hit"),
    )
    bh, eh = F.col("bloom_hit"), F.col("exact_hit")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(bh, 1).otherwise(0)).cast("bigint").alias("n_hits_bloom"),
        F.sum(F.when(eh, 1).otherwise(0)).cast("bigint").alias("n_hits_exact"),
        F.sum(F.when(bh & ~eh, 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_pos"),
        F.max(bh).alias("bloom_flag"),
        F.max(eh).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# Crawl-frontier prioritization (what gets fetched next, per host)
# ---------------------------------------------------------------------------

_FRONTIER_BUDGET = 3  # fetches scheduled per host per cycle


def _frontier_sql() -> str:
    return f"""
WITH urls AS (
  SELECT doc_id, source,
         3 + CAST(doc_id % 3 AS INT) AS depth,
         doc_id % 7 <> 0 AS allowed
  FROM documents
),
hosts AS (
  SELECT source, count(*) AS host_docs FROM urls GROUP BY source
),
scored AS (
  SELECT u.doc_id, u.source, u.depth, h.host_docs,
         CAST(h.host_docs * 10 - u.depth * 25 + u.doc_id % 50 AS BIGINT)
           AS priority
  FROM urls u JOIN hosts h USING (source)
  WHERE u.allowed
),
ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY source ORDER BY priority DESC, doc_id
         ) AS rk
  FROM scored
)
SELECT doc_id, source, depth, CAST(host_docs AS BIGINT) AS host_docs,
       priority, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {_FRONTIER_BUDGET}
"""


@_q("crawl_frontier", _frontier_sql())
def crawl_frontier(spark, sf):
    """Crawl-frontier scheduling: compose the politeness gate, a host
    authority proxy, and URL depth into an integer priority, then emit
    the next fetch batch — the top _FRONTIER_BUDGET allowed URLs per
    host.  The
    synthetic corpus stands in deterministically: depth mirrors
    ``crawl_robots``'s path construction (3 + doc_id % 3 segments), the
    politeness verdict is the ``doc_id % 7`` residue, and host authority
    is the host's document count (a degree proxy; production swaps in
    ``graph_pagerank``'s rank column — same join shape).

    Integer scoring end-to-end (priority = host_docs*10 - depth*25 +
    doc_id%50), so both engines rank identical values with the
    deterministic (priority DESC, doc_id) tiebreak.

    Scale: one count aggregate keyed on host (bounded by the ~10^8-host
    web, digests+counts only), broadcast back over the URL stream, and a
    per-host top-k window.  The window's per-host state is k rows —
    Spark's WindowExec with a rank filter stops accumulating beyond the
    frame, and hot mega-hosts are exactly the rows the budget truncates,
    so the skew a naive global sort would suffer never materializes
    (same bounded-window trick as ``sample_per_host``).
    """
    d = load(spark, sf, "documents")
    urls = d.select(
        "doc_id",
        "source",
        (F.lit(3) + (F.col("doc_id") % 3).cast("int")).alias("depth"),
        (F.col("doc_id") % 7 != 0).alias("allowed"),
    )
    hosts = urls.groupBy("source").agg(F.count(F.lit(1)).alias("host_docs"))
    scored = (
        urls.filter("allowed")
        .join(F.broadcast(hosts), "source")
        .select(
            "doc_id",
            "source",
            "depth",
            F.col("host_docs").cast("bigint").alias("host_docs"),
            (
                F.col("host_docs") * 10
                - F.col("depth") * 25
                + F.col("doc_id") % 50
            )
            .cast("bigint")
            .alias("priority"),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("source").orderBy(F.desc("priority"), F.asc("doc_id"))
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= _FRONTIER_BUDGET)
        .select("doc_id", "source", "depth", "host_docs", "priority", "rk")
    )


# ---------------------------------------------------------------------------
# Integer-exact unigram surprisal (CCNet-style LM quality proxy)
# ---------------------------------------------------------------------------


def _surprisal_sql() -> str:
    return """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
  FROM documents WHERE length(text) > 0
),
vocab AS (
  SELECT w, count(*) AS c FROM toks GROUP BY w
),
total AS (SELECT sum(c) AS n FROM vocab),
bits AS (
  SELECT w, CAST(length(printf('%b',
                   CAST((SELECT n FROM total) // c AS BIGINT))) - 1
                 AS BIGINT) AS b
  FROM vocab
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(b.b) AS BIGINT) AS total_bits,
       round(CAST(sum(b.b) AS DOUBLE) / count(*), 6) AS bits_per_token
FROM toks t JOIN bits b ON b.w = t.w
GROUP BY t.doc_id
"""


@_q("text_surprisal", _surprisal_sql())
def text_surprisal(spark, sf):
    """Unigram-LM surprisal in INTEGER bits: each token scores
    floor(log2(N / c(w))) — the whole-bit information content of the
    token under the corpus unigram model — and a document's quality
    signal is the per-token mean (the CCNet idea: wiki-like prose scores
    low, boilerplate/noise scores high).  Transcendental-free: the floor
    log2 is the length of the integer's binary-string rendering minus
    one (``bin``/``printf('%b')`` — exact in both engines), the quotient
    is integer division, and the only double is the final ONE division
    per row.

    Scale: identical two-pass unigram shape as ``text_rarity`` — the
    vocab groupBy is the single wide exchange (Zipf-bounded (token,
    count) pairs), the per-token bit table is broadcast back over the
    corpus re-join, and the total rides a broadcast 1-row aggregate —
    the corpus side never shuffles; at 100 TB the vocab fits executor
    memory (~10^7 rows) exactly as production CCNet's LM tables do.
    """
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    toks = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w"))
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("n"))
    bits = (
        vocab.crossJoin(F.broadcast(total))
        .select(
            "w",
            (F.length(F.expr("bin(n DIV c)")) - 1)
            .cast("bigint")
            .alias("b"),
        )
    )
    joined = toks.join(F.broadcast(bits), "w")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("b").cast("bigint").alias("total_bits"),
        F.round(
            F.sum("b").cast("double") / F.count(F.lit(1)), 6
        ).alias("bits_per_token"),
    )


# ---------------------------------------------------------------------------
# Fixed-weight quality classifier (fastText/DCLM-style filter, integerized)
# ---------------------------------------------------------------------------

_QL_THRESH = 420  # splits the synthetic corpus ~50/50 (median score 420)


def _quality_logit_sql() -> str:
    return f"""
WITH f AS (
  SELECT doc_id,
         len(string_split(text,' ')) AS n_tok,
         len(list_filter(string_split(lower(text),' '),
             x -> list_contains({_GOPHER_STOP!r}, x))) AS stop_cnt,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
         length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
         len(list_filter(string_split(text,' '), x -> length(x) > 12))
           AS n_long,
         length(text) AS l
  FROM documents WHERE length(text) > 0
)
SELECT doc_id,
       CAST(n_tok AS INT) AS n_tok,
       CAST(stop_cnt*1000 // n_tok AS BIGINT) AS stop_m,
       CAST(n_digit*1000 // l AS BIGINT) AS digit_m,
       CAST(n_upper*1000 // l AS BIGINT) AS upper_m,
       CAST(n_long AS INT) AS n_long,
       CAST(6*(stop_cnt*1000 // n_tok) - 4*(n_digit*1000 // l)
            - 3*(n_upper*1000 // l) - 40*n_long + n_tok AS BIGINT) AS score,
       (6*(stop_cnt*1000 // n_tok) - 4*(n_digit*1000 // l)
        - 3*(n_upper*1000 // l) - 40*n_long + n_tok) >= {_QL_THRESH} AS keep
FROM f
"""


@_q("quality_logit", _quality_logit_sql())
def quality_logit(spark, sf):
    """Fixed-weight linear quality classifier — the shape of the
    fastText/DCLM "model-based quality filter" stage, with the learned
    hashed-ngram weights replaced by a fixed interpretable weight vector
    over integer features (per-mille stopword rate, digit rate, uppercase
    rate, long-token count, token count).  Production swaps the weight
    table for trained coefficients; the plan — featurize in the scan,
    dot-product, threshold — is byte-identical.

    Integer-exact: every ratio is a per-mille integer division (DuckDB
    ``//`` == Spark ``DIV``), the score is a BIGINT dot product, and the
    verdict compares integers — no float surface at all.

    Scale: pure projection in the scan stage, zero shuffles, zero joins —
    at 100 TB this runs at I/O speed and its ``keep`` column drives
    partition-pruned re-materialization exactly like ``text_gopher``.
    """
    return quality_features(
        load(spark, sf, "documents").filter(F.length("text") > 0)
    )


def quality_features(d, extra=()):
    """The quality_logit projection over an arbitrary documents-shaped
    DataFrame (needs ``doc_id`` and ``text``) — stateless, so the same
    column expressions run unchanged over a STREAMING DataFrame
    (``stream_quality``).  ``extra`` names passthrough columns (e.g.
    ``lang``) kept alongside the features."""
    stop = F.array(*[F.lit(s) for s in _GOPHER_STOP])
    feats = d.select(
        "doc_id",
        *extra,
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
        F.size(
            F.filter(
                F.split(F.lower("text"), " "),
                lambda x: F.array_contains(stop, x),
            )
        ).alias("stop_cnt"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).alias("n_digit"),
        F.length(F.regexp_replace("text", "[^A-Z]", "")).alias("n_upper"),
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda x: F.length(x) > 12)
        ).alias("n_long"),
        F.length("text").alias("l"),
    )
    scored = feats.select(
        "doc_id",
        *extra,
        F.col("n_tok").cast("int").alias("n_tok"),
        F.expr("CAST(stop_cnt*1000 DIV n_tok AS BIGINT)").alias("stop_m"),
        F.expr("CAST(n_digit*1000 DIV l AS BIGINT)").alias("digit_m"),
        F.expr("CAST(n_upper*1000 DIV l AS BIGINT)").alias("upper_m"),
        F.col("n_long").cast("int").alias("n_long"),
        F.expr(
            "CAST(6*(stop_cnt*1000 DIV n_tok) - 4*(n_digit*1000 DIV l)"
            " - 3*(n_upper*1000 DIV l) - 40*n_long + n_tok AS BIGINT)"
        ).alias("score"),
    )
    return scored.withColumn("keep", F.col("score") >= F.lit(_QL_THRESH))


# ---------------------------------------------------------------------------
# DSIR-style importance weights (integer-exact bit-surprisal log-ratio)
# ---------------------------------------------------------------------------

_DSIR_SHARDS = 8
_DSIR_CAP = 25  # keep budget per shard


def _dsir_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(lower(text),' ')) AS w
  FROM documents WHERE length(text) > 0
),
raw AS (SELECT w, count(*) AS cr FROM toks GROUP BY w),
tgt AS (SELECT w, count(*) AS ct FROM toks WHERE lang = 'en' GROUP BY w),
tot AS (SELECT sum(cr) AS n, count(*) AS v FROM raw),
ntg AS (SELECT COALESCE(sum(ct), 0) AS n FROM tgt),
bits AS (
  SELECT r.w,
         CAST(length(printf('%b',
                CAST((SELECT n FROM tot) // r.cr AS BIGINT))) - 1
              AS BIGINT) AS br,
         CAST(length(printf('%b',
                CAST(((SELECT n FROM ntg) + (SELECT v FROM tot))
                     // (COALESCE(t.ct, 0) + 1) AS BIGINT))) - 1
              AS BIGINT) AS bt
  FROM raw r LEFT JOIN tgt t USING (w)
),
perdoc AS (
  SELECT t.doc_id,
         CAST(t.doc_id % {_DSIR_SHARDS} AS INT) AS shard,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(b.br) AS BIGINT) AS raw_bits,
         CAST(sum(b.bt) AS BIGINT) AS tgt_bits,
         CAST(sum(b.br - b.bt) AS BIGINT) AS weight_bits
  FROM toks t JOIN bits b USING (w)
  GROUP BY t.doc_id
),
ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY shard ORDER BY weight_bits DESC, doc_id
         ) AS rk
  FROM perdoc
)
SELECT doc_id, shard, n_tokens, raw_bits, tgt_bits, weight_bits,
       CAST(rk AS INT) AS rk, rk <= {_DSIR_CAP} AS keep
FROM ranked
"""


@_q("sample_dsir", _dsir_sql())
def sample_dsir(spark, sf):
    """DSIR-style importance weighting (Xie et al. 2023, *Data Selection
    for Language Models via Importance Resampling*): score each document
    by the log-likelihood ratio of a target-domain unigram model (here:
    the ``lang='en'`` slice) over the raw-corpus unigram model, then keep
    the most target-like documents.  Integer-exact: both likelihoods are
    whole-bit surprisals — floor(log2(N/c(w))) via the binary-rendering
    trick shared with ``text_surprisal`` — with add-one smoothing
    (c_tgt+1 over N_tgt+V) so target-unseen tokens stay defined, and the
    per-doc weight is the BIGINT bit difference, so both engines rank
    identical values with the (weight DESC, doc_id) tiebreak.

    The keep verdict is a per-shard top-{_DSIR_CAP} (shard = doc_id %
    {_DSIR_SHARDS}) rather than a global sort: DSIR's sampled-resampling
    at production scale is per-partition by construction, and the
    bounded window keeps per-shard state at k rows.

    Scale: two Zipf-bounded vocab aggregates (one filtered), a broadcast
    bits table re-joined over the token stream — the corpus side never
    shuffles (same shape as ``text_surprisal``/``text_rarity``) — then a
    per-shard bounded top-k window over (doc_id, 4×BIGINT) rows only.
    """
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    toks = d.select(
        "doc_id", "lang",
        F.explode(F.split(F.lower("text"), " ")).alias("w"),
    )
    raw = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        toks.filter(F.col("lang") == "en")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tot = raw.agg(
        F.sum("cr").alias("n"), F.count(F.lit(1)).alias("v")
    )
    ntg = tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("nt"))
    bits = (
        raw.join(tgt, "w", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ntg))
        .select(
            "w",
            (F.length(F.expr("bin(n DIV cr)")) - 1).cast("bigint").alias("br"),
            (
                F.length(F.expr("bin((nt + v) DIV (coalesce(ct, 0) + 1))")) - 1
            ).cast("bigint").alias("bt"),
        )
    )
    perdoc = (
        toks.join(F.broadcast(bits), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("br").cast("bigint").alias("raw_bits"),
            F.sum("bt").cast("bigint").alias("tgt_bits"),
            (F.sum("br") - F.sum("bt")).cast("bigint").alias("weight_bits"),
        )
        .withColumn("shard", (F.col("doc_id") % _DSIR_SHARDS).cast("int"))
    )
    rk = F.row_number().over(
        W.partitionBy("shard").orderBy(F.desc("weight_bits"), F.asc("doc_id"))
    )
    return (
        perdoc.withColumn("rk", rk.cast("int"))
        .withColumn("keep", F.col("rk") <= _DSIR_CAP)
        .select(
            "doc_id", "shard", "n_tokens", "raw_bits", "tgt_bits",
            "weight_bits", "rk", "keep",
        )
    )


# ---------------------------------------------------------------------------
# Bigram conditional surprisal (order-2 LM quality proxy)
# ---------------------------------------------------------------------------


def _lm_bigram_sql() -> str:
    return """
WITH ws AS (
  SELECT doc_id, string_split(lower(text),' ') AS a
  FROM documents WHERE length(text) > 0
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(len(a)-1),
                               i -> a[i+1] || ' ' || a[i+2])) AS b
  FROM ws WHERE len(a) >= 2
),
c12 AS (SELECT b, count(*) AS c FROM bg GROUP BY b),
c1 AS (
  SELECT string_split(b, ' ')[1] AS w1, sum(c) AS c1
  FROM c12 GROUP BY 1
),
bits AS (
  SELECT c12.b,
         CAST(length(printf('%b', CAST(c1.c1 // c12.c AS BIGINT))) - 1
              AS BIGINT) AS bb
  FROM c12 JOIN c1 ON string_split(c12.b, ' ')[1] = c1.w1
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(b.bb) AS BIGINT) AS total_bits,
       round(CAST(sum(b.bb) AS DOUBLE) / count(*), 6) AS bits_per_bigram
FROM bg g JOIN bits b USING (b)
GROUP BY g.doc_id
"""


@_q("lm_bigram", _lm_bigram_sql())
def lm_bigram(spark, sf):
    """Order-2 LM surprisal: each bigram scores floor(log2(c(w1) /
    c(w1,w2))) — the whole-bit conditional information of w2 given w1
    under the corpus bigram model (c(w1) counts w1's occurrences as a
    bigram left-hand side, so the model is self-normalized) — and the
    per-doc mean extends ``text_surprisal``'s CCNet-style quality proxy
    to word order: scrambled or templated text that a unigram model
    can't tell apart scores visibly differently here.

    Bigram formation is a zero-shuffle array transform in the scan stage
    (``transform(sequence(...))`` over the split array — no self-join,
    no per-doc window), identical index arithmetic in DuckDB's 1-based
    ``list_transform(range(...))``.  The floor-log2 is the shared
    binary-rendering trick; one double division per row at the end.

    Scale: the bigram-vocab groupBy is the wide exchange — Zipf-bounded
    (bigram, count) pairs, never documents; c(w1) folds from c12 (one
    more vocab-sized aggregate, not a corpus pass); the bits table joins
    back over the bigram stream (broadcast at bench scale; production
    md5s the bigram to a fixed-width digest before the exchange when the
    order-2 vocab outgrows executor memory, the ``dedup_substring``
    trick — the plan shape is unchanged).
    """
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    ws = d.select(
        "doc_id", F.split(F.lower("text"), " ").alias("a")
    ).filter(F.size("a") >= 2)
    bg = ws.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(a)-2),"
                " i -> concat(a[i], ' ', a[i+1]))"
            )
        ).alias("b"),
    )
    c12 = bg.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    c1 = (
        c12.select(F.split("b", " ").getItem(0).alias("w1"), "c")
        .groupBy("w1")
        .agg(F.sum("c").alias("c1"))
    )
    bits = (
        c12.withColumn("w1", F.split("b", " ").getItem(0))
        .join(F.broadcast(c1), "w1")
        .select(
            "b",
            (F.length(F.expr("bin(c1 DIV c)")) - 1).cast("bigint").alias("bb"),
        )
    )
    return (
        bg.join(F.broadcast(bits), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("bb").cast("bigint").alias("total_bits"),
            F.round(
                F.sum("bb").cast("double") / F.count(F.lit(1)), 6
            ).alias("bits_per_bigram"),
        )
    )


# ---------------------------------------------------------------------------
# Kneser-Ney smoothed bigram LM (integer micro-unit probabilities)
# ---------------------------------------------------------------------------

# discount D = 0.75 expressed as the exact rational 3/4 so every term is
# integer arithmetic: (c12 - 3/4)/c1 ≡ (4·c12 - 3) // (4·c1) in micro-units
_KN_MICRO = 1_000_000


def _kn_sql() -> str:
    m = _KN_MICRO
    return f"""
WITH toks AS (
  SELECT string_split(lower(text), ' ') AS a FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 2
),
bg AS (
  SELECT a[CAST(r.i AS INT)] AS w1, a[CAST(r.i AS INT) + 1] AS w2
  FROM toks, range(1, 4096) r(i) WHERE r.i < len(a)
),
cc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2),
lhs AS (SELECT w1, SUM(c12) AS c1, CAST(count(*) AS BIGINT) AS n1_fwd
        FROM cc GROUP BY 1),
rhs AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1_back FROM cc GROUP BY 1),
tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM cc)
SELECT cc.w1, cc.w2, cc.c12, CAST(lhs.c1 AS BIGINT) AS c1,
       lhs.n1_fwd, rhs.n1_back,
       CAST(({m} * (4 * cc.c12 - 3)) // (4 * lhs.c1)
            + ((750000 * lhs.n1_fwd // lhs.c1)
               * ({m} * rhs.n1_back // tt.t)) // {m} AS BIGINT) AS p_micro
FROM cc JOIN lhs USING (w1) JOIN rhs USING (w2), tt
"""


@_q("lm_kneser_ney", _kn_sql())
def lm_kneser_ney(spark, sf):
    """Kneser-Ney smoothed bigram probabilities — the LM behind KenLM,
    which CCNet-family pipelines train ON the corpus for quality
    scoring, so the trainer itself is a pipeline op. P(w2|w1) =
    max(c12−D,0)/c1 + λ(w1)·Pcont(w2) with D = 0.75, λ = D·N1+(w1·)/c1,
    Pcont = N1+(·w2)/|bigram types| — the continuation count (HOW MANY
    contexts a word follows, not how often) is the KN insight.

    Determinism: D = 3/4 exactly, so every term is INTEGER floor
    arithmetic in micro-units — (4·c12−3)//(4·c1), 750000·N1fwd//c1,
    micro·N1back//T, one final //micro product fold. No doubles
    anywhere; both engines emit bit-equal BIGINTs. (c12 ≥ 1 makes the
    max() moot on observed bigrams.)

    Scale shape: same contraction ladder as ``lm_bigram`` — ONE corpus
    pass (row-scoped bigram explode → Zipf-bounded (bigram, count)
    groupBy); c1/N1fwd and N1back fold from the TYPE table, not the
    corpus; T is a 1-row broadcast crossJoin. The final three-way join
    runs at vocabulary² cardinality with two of the sides
    vocab-sized — broadcast at any realistic vocab."""
    d = load(spark, sf, "documents")
    ws = d.select(F.split(F.lower("text"), " ").alias("a")).filter(
        F.size("a") >= 2
    )
    bg = ws.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("a") - 1),
                lambda i: F.struct(
                    F.element_at("a", i).alias("w1"),
                    F.element_at("a", i + 1).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    cc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    lhs = cc.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1_fwd")
    )
    rhs = cc.groupBy("w2").agg(F.count(F.lit(1)).alias("n1_back"))
    tt = cc.agg(F.count(F.lit(1)).alias("t"))
    m = _KN_MICRO
    return (
        cc.join(F.broadcast(lhs), "w1")
        .join(F.broadcast(rhs), "w2")
        .crossJoin(F.broadcast(tt))
        .select(
            "w1",
            "w2",
            "c12",
            F.col("c1").cast("bigint").alias("c1"),
            "n1_fwd",
            "n1_back",
            F.expr(
                f"({m} * (4 * c12 - 3)) div (4 * c1)"
                f" + ((750000 * n1_fwd div c1)"
                f" * ({m} * n1_back div t)) div {m}"
            ).cast("bigint").alias("p_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Inverted-index build (posting lists for corpus search)
# ---------------------------------------------------------------------------

_POSTINGS_HEAD = 5


def _postings_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text),' ')) AS w
  FROM documents WHERE length(text) > 0
),
tf AS (
  SELECT w, doc_id, count(*) AS c FROM toks
  WHERE length(w) >= 3 AND regexp_matches(w, '^[a-z]+$')
  GROUP BY w, doc_id
),
agg AS (
  SELECT w, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(c) AS BIGINT) AS tf_total
  FROM tf GROUP BY w
),
rk AS (
  SELECT w, doc_id,
         row_number() OVER (PARTITION BY w ORDER BY doc_id) AS r
  FROM tf
),
hd AS (
  SELECT w, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS head
  FROM rk WHERE r <= {_POSTINGS_HEAD} GROUP BY w
)
SELECT a.w AS term, a.df, a.tf_total, h.head
FROM agg a JOIN hd h ON a.w = h.w
"""


@_q("search_postings", _postings_sql())
def search_postings(spark, sf):
    """Inverted-index build: per alphabetic term (length ≥ 3), document
    frequency, total term frequency, and the head of the ascending
    doc-id posting list ({_POSTINGS_HEAD} entries, comma-joined — the
    impact-ordered prefix a WAND/top-k query evaluator reads first).
    This is the batch index-construction half of the search surface
    whose query half is ``search_bm25``.

    Determinism: counts are exact integers; the posting head is sorted
    ascending by doc_id in both engines (``sort_array`` vs ordered
    ``string_agg``), so the joined string is byte-identical.

    Scale: the (term, doc_id) partial-count aggregate is the single
    corpus-wide exchange and map-side combines first (tf rows, never
    text); df/tf roll up from tf (vocab-sized input); the head window
    holds at most {_POSTINGS_HEAD} rows of state per term after the rank
    filter.  At 100 TB the posting lists themselves would stream to a
    bucketed sink keyed on term — this qkey materializes only the
    fixed-width head, which is what makes the output hashable.
    """
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter((F.length("w") >= 3) & F.col("w").rlike("^[a-z]+$"))
    tf = toks.groupBy("w", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    agg = tf.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("c").cast("bigint").alias("tf_total"),
    )
    r = F.row_number().over(W.partitionBy("w").orderBy(F.asc("doc_id")))
    hd = (
        tf.withColumn("r", r)
        .filter(F.col("r") <= _POSTINGS_HEAD)
        .groupBy("w")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("head")
        )
    )
    return agg.join(hd, "w").select(
        F.col("w").alias("term"), "df", "tf_total", "head"
    )


# ---------------------------------------------------------------------------
# Host-graph contraction (page-level links -> host-level web graph)
# ---------------------------------------------------------------------------

_HOST_RE = r"^https://([a-z0-9]+)\.example/"


def _hostgraph_sql() -> str:
    return f"""
WITH links AS (
  SELECT source AS src_host,
         'https://src' || CAST((doc_id + k*3) % 20 AS VARCHAR)
         || '.example/p' || CAST(doc_id AS VARCHAR) AS href
  FROM documents
  CROSS JOIN (SELECT 0 AS k UNION ALL SELECT 1 UNION ALL SELECT 2) ks
),
e AS (
  SELECT src_host,
         regexp_extract(href, '{_HOST_RE}', 1) AS dst_host
  FROM links
)
SELECT src_host, dst_host,
       CAST(count(*) AS BIGINT) AS n_links,
       src_host = dst_host AS self_loop
FROM e GROUP BY src_host, dst_host
"""


@_q("graph_hostgraph", _hostgraph_sql())
def graph_hostgraph(spark, sf):
    """Host-graph contraction: collapse page-level outlinks into the
    host→host edge list — the standard pre-pass before host-level
    PageRank / harmonic centrality (``graph_pagerank`` consumes exactly
    this shape) and the spam-mass / link-farm features a crawl scheduler
    scores hosts with.  Target hosts are parsed GENUINELY from absolute
    URLs with the same regex in both engines; the synthetic corpus
    stands in with three deterministic absolute outlinks per document
    ((doc_id + 3k) % 20 — the k=0 link is intra-host, because real
    web graphs are dominated by same-host links; the flag surfaces the
    self-loop edges host-level PageRank must drop or damp).

    Scale: the rollup exchanges (host, host) short strings with map-side
    partial counts — at 10^12 pages the page-level link stream contracts
    ~10^3× before the shuffle (hosts are ~10^8, host-pairs Zipf-bounded),
    which is WHY production link analysis contracts first; per-key state
    is one counter.
    """
    d = load(spark, sf, "documents")
    links = d.select(
        F.col("source").alias("src_host"),
        "doc_id",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("k"),
    ).select(
        "src_host",
        F.concat(
            F.lit("https://src"),
            ((F.col("doc_id") + F.col("k") * 3) % 20).cast("string"),
            F.lit(".example/p"),
            F.col("doc_id").cast("string"),
        ).alias("href"),
    )
    e = links.select(
        "src_host", F.regexp_extract("href", _HOST_RE, 1).alias("dst_host")
    )
    return e.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_links"),
        (F.col("src_host") == F.col("dst_host")).alias("self_loop"),
    )


def _ppl_buckets_sql() -> str:
    return """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
  FROM documents WHERE length(text) > 0
),
vocab AS (
  SELECT w, count(*) AS c FROM toks GROUP BY w
),
total AS (SELECT sum(c) AS n FROM vocab),
bits AS (
  SELECT w, CAST(length(printf('%b',
                   CAST((SELECT n FROM total) // c AS BIGINT))) - 1
                 AS BIGINT) AS b
  FROM vocab
),
perdoc AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(b.b) AS BIGINT) AS total_bits
  FROM toks t JOIN bits b ON b.w = t.w
  GROUP BY t.doc_id
),
scored AS (
  SELECT p.doc_id, d.lang,
         CAST(p.total_bits * 1000000 // p.n_tokens AS BIGINT) AS bpt_micro
  FROM perdoc p JOIN documents d USING (doc_id)
),
hist AS (
  SELECT lang, bpt_micro, count(*) AS c FROM scored GROUP BY lang, bpt_micro
),
cum AS (
  SELECT lang, bpt_micro,
         sum(c) OVER (PARTITION BY lang ORDER BY bpt_micro) AS cw,
         sum(c) OVER (PARTITION BY lang) AS n
  FROM hist
),
cuts AS (
  SELECT lang,
         min(CASE WHEN cw * 3 >= n THEN bpt_micro END) AS cut1,
         min(CASE WHEN cw * 3 >= 2 * n THEN bpt_micro END) AS cut2
  FROM cum GROUP BY lang
)
SELECT s.doc_id, s.lang, s.bpt_micro,
       CASE WHEN s.bpt_micro <= c.cut1 THEN 'head'
            WHEN s.bpt_micro <= c.cut2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s JOIN cuts c USING (lang)
"""


@_q("ppl_buckets", _ppl_buckets_sql())
def ppl_buckets(spark, sf):
    """CCNet-style head/middle/tail quality buckets per language: each
    document's unigram-LM surprisal (``text_surprisal``'s exact integer
    bits, as micro-bits-per-token so no float ever orders anything) is
    bucketed against its language's EXACT tercile cutoffs — head = the
    lowest-perplexity (wiki-like) third, tail = the noisiest.  Cutoff
    semantics are value thresholds (ties share a bucket), the production
    CCNet stance — cut_k = the smallest score whose cumulative count
    reaches ceil(k*n/3), via integer ``cum*3 >= k*n``.

    Scale (the part that matters): a naive per-lang NTILE window sorts
    every document of a language in ONE task — the classic skew killer
    when one lang is half the corpus.  Instead the cutoffs come from the
    score HISTOGRAM: groupBy (lang, score) first (map-side combine,
    Zipf-bounded distinct scores), run the cumulative window over those
    aggregated rows only, reduce to a 2-value cutoff row per lang, and
    broadcast-join the cutoffs back — the corpus-sized side is never
    sorted and never shuffled beyond the surprisal join it already pays.
    """
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("n"))
    bits = vocab.crossJoin(F.broadcast(total)).select(
        "w",
        (F.length(F.expr("bin(n DIV c)")) - 1).cast("bigint").alias("b"),
    )
    perdoc = (
        toks.join(F.broadcast(bits), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("b").cast("bigint").alias("total_bits"),
        )
    )
    scored = perdoc.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        # integer DIV, not double `/`: a double quotient that lands an
        # epsilon below an exact integer would truncate differently than
        # the oracle's exact `//`
        F.expr("total_bits * 1000000L DIV n_tokens")
        .cast("bigint")
        .alias("bpt_micro"),
    )
    hist = scored.groupBy("lang", "bpt_micro").agg(
        F.count(F.lit(1)).alias("c")
    )
    wc = W.partitionBy("lang").orderBy("bpt_micro")
    cum = hist.select(
        "lang",
        "bpt_micro",
        F.sum("c").over(wc).alias("cw"),
        F.sum("c").over(W.partitionBy("lang")).alias("n"),
    )
    cuts = cum.groupBy("lang").agg(
        F.min(
            F.when(F.col("cw") * 3 >= F.col("n"), F.col("bpt_micro"))
        ).alias("cut1"),
        F.min(
            F.when(F.col("cw") * 3 >= 2 * F.col("n"), F.col("bpt_micro"))
        ).alias("cut2"),
    )
    return scored.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "bpt_micro",
        F.when(F.col("bpt_micro") <= F.col("cut1"), "head")
        .when(F.col("bpt_micro") <= F.col("cut2"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


@_q(
    "text_mojibake",
    """WITH t AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 5 = 0
                 THEN ' Ã©Ã¨ â€œquotedâ€ Â nbsp' ELSE '' END AS s
  FROM documents WHERE length(text) > 0
)
SELECT doc_id,
       CAST(length(s) - length(replace(s, 'Ã', '')) AS BIGINT) AS n_ctilde,
       CAST((length(s) - length(replace(s, 'â€', ''))) // 2 AS BIGINT)
         AS n_smart,
       CAST(length(s) - length(replace(s, 'Â', '')) AS BIGINT) AS n_nbsp,
       (length(s) - length(replace(s, 'Ã', ''))
        + (length(s) - length(replace(s, 'â€', ''))) // 2
        + length(s) - length(replace(s, 'Â', ''))) > 0 AS mojibake
FROM t""",
)
def text_mojibake(spark, sf):
    """Mojibake (double-encoded UTF-8) detection: count the classic
    UTF-8-bytes-read-as-Latin-1 marker sequences — 'Ã'+continuation
    (é→Ã©), 'â€' (smart quotes →â€œ/â€), 'Â' (nbsp →Â ) — via the exact
    replace-and-measure idiom (length minus length-after-replace), one
    deterministic mojibake suffix injected per doc_id%5==0 row so the
    detector's arithmetic is pinned on real hits.  A cleaning pipeline
    routes flagged docs to a re-decode pass (ftfy-style) instead of
    paying it for every document.

    Scale: pure scan-stage char arithmetic — three replaces per doc, no
    regex, no UDF, no shuffle (the output is the per-doc flag stream)."""
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    s = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0, F.lit(" Ã©Ã¨ â€œquotedâ€ Â nbsp")
        ).otherwise(F.lit("")),
    )
    t = d.select("doc_id", s.alias("s"))
    n_ctilde = (
        F.length("s") - F.length(F.replace(F.col("s"), F.lit("Ã")))
    ).cast("bigint")
    n_smart = (
        (F.length("s") - F.length(F.replace(F.col("s"), F.lit("â€"))))
        / 2
    ).cast("bigint")
    n_nbsp = (
        F.length("s") - F.length(F.replace(F.col("s"), F.lit("Â")))
    ).cast("bigint")
    return t.select(
        "doc_id",
        n_ctilde.alias("n_ctilde"),
        n_smart.alias("n_smart"),
        n_nbsp.alias("n_nbsp"),
        ((n_ctilde + n_smart + n_nbsp) > 0).alias("mojibake"),
    )


def _host_reputation_sql() -> str:
    return f"""
WITH f AS (
  SELECT doc_id, source, lang,
         len(string_split(text,' ')) AS n_tok,
         len(list_filter(string_split(lower(text),' '),
             x -> list_contains({_GOPHER_STOP!r}, x))) AS stop_cnt,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
         length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
         len(list_filter(string_split(text,' '), x -> length(x) > 12))
           AS n_long,
         length(text) AS l
  FROM documents WHERE length(text) > 0
),
scored AS (
  SELECT source, lang,
         6*(stop_cnt*1000 // n_tok) - 4*(n_digit*1000 // l)
         - 3*(n_upper*1000 // l) - 40*n_long + n_tok AS score
  FROM f
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN score >= {_QL_THRESH} THEN 1 ELSE 0 END) * 1000
            // count(*) AS BIGINT) AS keep_permille,
       CAST(sum(score) AS BIGINT) AS score_sum,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM scored GROUP BY source
"""


@_q("host_reputation", _host_reputation_sql())
def host_reputation(spark, sf):
    """Host-level curation table: per source host, document count,
    quality-classifier keep rate (exact per-mille), total quality score
    and language spread — the table a crawl planner uses to gate
    recrawl frequency and to drop chronically low-quality hosts before
    per-document filtering ever runs.

    Scale: the per-doc featurization is the quality_logit scan stage;
    the rollup is one groupBy(source) with map-side combine and four
    fixed-width accumulators — host cardinality (~10^7 at web scale)
    fits a standard shuffle, and a hot host skews nothing because its
    partial aggregates combine map-side."""
    scored = quality_features(
        load(spark, sf, "documents").filter(F.length("text") > 0),
        extra=("source", "lang"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr(
            f"CAST(sum(CASE WHEN score >= {_QL_THRESH} THEN 1 ELSE 0 END)"
            " * 1000 DIV count(*) AS BIGINT)"
        ).alias("keep_permille"),
        F.sum("score").cast("bigint").alias("score_sum"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )


# ---------------------------------------------------------------------------
# Readability scoring (Flesch reading ease, integer-exact)
# ---------------------------------------------------------------------------

# Java∩RE2-safe classes (SURVEY §8 determinism rules).
_RE_READ_WORD = "[A-Za-z0-9]+"
_RE_READ_SYL = "[AEIOUYaeiouy]+"
_RE_READ_SENT = "[.!?]"


def _readability_sql() -> str:
    return f"""
WITH synth AS (
  SELECT doc_id, lang,
         text || repeat('. Short sentence here',
                        CAST(doc_id % 5 AS INT)) || '.' AS t
  FROM documents
),
c AS (
  SELECT doc_id, lang,
         CAST(len(regexp_extract_all(t, '{_RE_READ_WORD}')) AS BIGINT)
           AS n_words,
         CAST(len(regexp_extract_all(t, '{_RE_READ_SYL}')) AS BIGINT)
           AS n_syllables,
         CAST(len(regexp_extract_all(t, '{_RE_READ_SENT}')) AS BIGINT)
           AS n_sentences
  FROM synth
)
SELECT doc_id, lang, n_words, n_syllables, n_sentences,
       CAST(206835 - (1015 * n_words) // n_sentences
                   - (84600 * n_syllables) // n_words AS BIGINT)
         AS flesch_milli,
       (206835 - (1015 * n_words) // n_sentences
               - (84600 * n_syllables) // n_words) >= 60000 AS readable
FROM c
"""


@_q("text_readability", _readability_sql())
def text_readability(spark, sf):
    """Flesch reading-ease readability signal (Flesch 1948; the CCNet /
    Gopher quality stacks both keep a sentence-length + word-length
    proxy): words, vowel-group syllable proxy, sentence count, and the
    206.835 - 1.015*(W/S) - 84.6*(Syl/W) score in INTEGER MILLI-UNITS —
    every division is integer floor division in identical order in both
    engines, so the score is hash-exact with zero float drift
    (SURVEY §8).  The word-salad corpus carries no punctuation, so a
    deterministic sentence tail is planted from doc_id (same pattern as
    `text_c4_filter`); `readable` is the ≥60.0 ("plain English") cut.

    Scale: three scan-stage regexp counts + integer arithmetic, zero
    shuffles, whole-stage codegen; at 100 TB this fuses with the
    extraction scan like every other per-doc quality signal."""
    d = load(spark, sf, "documents")
    t = F.concat(
        F.col("text"),
        F.repeat(
            F.lit(". Short sentence here"), (F.col("doc_id") % 5).cast("int")
        ),
        F.lit("."),
    )
    c = d.select(
        "doc_id",
        "lang",
        F.size(F.regexp_extract_all(t, F.lit(_RE_READ_WORD), F.lit(0)))
        .cast("bigint")
        .alias("n_words"),
        F.size(F.regexp_extract_all(t, F.lit(_RE_READ_SYL), F.lit(0)))
        .cast("bigint")
        .alias("n_syllables"),
        F.size(F.regexp_extract_all(t, F.lit(_RE_READ_SENT), F.lit(0)))
        .cast("bigint")
        .alias("n_sentences"),
    )
    flesch = (
        F.lit(206835).cast("bigint")
        - F.expr("(1015 * n_words) div n_sentences")
        - F.expr("(84600 * n_syllables) div n_words")
    )
    return c.select(
        "doc_id",
        "lang",
        "n_words",
        "n_syllables",
        "n_sentences",
        flesch.alias("flesch_milli"),
        (flesch >= 60000).alias("readable"),
    )


# ---------------------------------------------------------------------------
# Typographic normalization (pre-tokenization canonical text)
# ---------------------------------------------------------------------------

# the replace chain every tokenizer-prep pass ships: smart quotes → ASCII,
# en/em dashes → hyphen, ellipsis → dots, NBSP → space. Applied in a fixed
# order in BOTH engines; the marker set below is also what n_special counts.
_NORM_PAIRS = [
    ("“", '"'), ("”", '"'),
    ("‘", "'"), ("’", "'"),
    ("—", "-"), ("–", "-"),
    ("…", "..."), (" ", " "),
]
_NORM_CHARS = "".join(p[0] for p in _NORM_PAIRS)


def _normalize_sql() -> str:
    planted = (
        "CASE doc_id % 4 "
        "WHEN 0 THEN ' “quoted” text' "
        "WHEN 1 THEN ' — em–dash ‘x’' "
        "WHEN 2 THEN ' wait… more' "
        "ELSE ' nbsp run' END"
    )
    norm = "t"
    for a, b in _NORM_PAIRS:
        norm = f"replace({norm}, '{a}', '{b.replace(chr(39), chr(39) * 2)}')"
    return f"""
WITH synth AS (
  SELECT doc_id, substring(text, 1, 80) || {planted} AS t FROM documents
)
SELECT doc_id,
       CAST(length(t) - length(translate(t, '{_NORM_CHARS}', '')) AS INT)
         AS n_special,
       md5({norm}) AS norm_md5
FROM synth
"""


@_q("text_normalize", _normalize_sql())
def text_normalize(spark, sf):
    """Typographic normalization — the canonical-text pass that runs
    before tokenization in every production corpus build (curly quotes,
    en/em dashes, ellipsis, NBSP all collapse to ASCII so BPE merge
    tables see one surface form).  Emits the count of typographic marks
    and the md5 of the normalized text; the replace chain applies in a
    FIXED order in both engines, so the digest is hash-exact.  The
    word-salad corpus is pure ASCII, so deterministic unicode markers
    are planted from doc_id (same pattern as `text_pii`).

    Scale: scan-stage string kernels (translate + 8 replaces), all
    whole-stage codegen, zero shuffles, no UDF — fuses with the
    extraction scan like the rest of the quality stack."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    t = F.concat(
        F.substring("text", 1, 80),
        F.when(did % 4 == 0, F.lit(" “quoted” text"))
        .when(did % 4 == 1, F.lit(" — em–dash ‘x’"))
        .when(did % 4 == 2, F.lit(" wait… more"))
        .otherwise(F.lit(" nbsp run")),
    )
    norm = t
    for a, b in _NORM_PAIRS:
        norm = F.replace(norm, F.lit(a), F.lit(b))
    return d.select(
        "doc_id",
        (
            F.length(t) - F.length(F.translate(t, _NORM_CHARS, ""))
        ).cast("int").alias("n_special"),
        F.md5(norm).alias("norm_md5"),
    )


# ---------------------------------------------------------------------------
# Sequence-length distribution (tokenization planning)
# ---------------------------------------------------------------------------


def _seqlen_sql() -> str:
    return """
WITH t AS (
  SELECT lang, len(string_split(text, ' ')) AS n_tok
  FROM documents WHERE length(text) > 0
)
SELECT lang, CAST(floor(log2(n_tok)) AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(min(n_tok) AS BIGINT) AS tok_min,
       CAST(max(n_tok) AS BIGINT) AS tok_max
FROM t GROUP BY lang, CAST(floor(log2(n_tok)) AS INT)
"""


@_q("seq_length_hist", _seqlen_sql())
def seq_length_hist(spark, sf):
    """Per-language log2-bucketed sequence-length histogram — the
    distribution every tokenization/packing plan starts from (bucket
    boundaries pick the packing target length; the tail buckets are the
    documents `doc_chunks` must split).  log2 of an integer is the same
    IEEE double in both engines, so the floor bucket is hash-exact.

    Scale: one scan-stage split+size per doc, then a groupBy on
    (lang, bucket) — ~10^2 groups at any corpus size, map-side combine
    makes the exchange negligible."""
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    n_tok = F.size(F.split("text", " "))
    t = d.select("lang", n_tok.alias("n_tok"))
    bucket = F.floor(F.log2("n_tok")).cast("int")
    return t.groupBy("lang", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.min("n_tok").cast("bigint").alias("tok_min"),
        F.max("n_tok").cast("bigint").alias("tok_max"),
    )


# ---------------------------------------------------------------------------
# absolute-URL resolution (RFC 3986 §5 reference resolution, bounded form)
# ---------------------------------------------------------------------------

# Dot-segment removal (RFC 3986 §5.2.4) as an ORDERED replace chain, shared
# verbatim by both witnesses (Spark regexp_replace / DuckDB + 'g' flag):
# /./ collapse first (so ./-prefixed segments expose their /../ to the next
# step), then alternating interior/trailing /seg/../ folds — each global
# pass folds one nesting level (non-overlapping scan), 4 passes bound the
# resolvable ../ depth at 4 (deeper chains stay unresolved IDENTICALLY in
# both engines) — then root-overflow ^/../ drops (RFC: excess ..s at the
# root are removed). The SEG pattern [^/]*[^./][^/]* is any segment with at
# least one non-dot char, so ".." can never be consumed as a segment.
_DOT_SEG_STEPS: tuple[tuple[str, str], ...] = (
    # a global pass removes every OTHER member of a consecutive /./ run
    # (non-overlapping scan), so K consecutive ./ segments need
    # ceil(log2(K))+1 passes — 4 passes cover runs up to 8
    (r"/\./", "/"),
    (r"/\./", "/"),
    (r"/\./", "/"),
    (r"/\./", "/"),
    (r"/\.$", "/"),
) + 4 * (
    (r"/[^/]*[^./][^/]*/\.\./", "/"),
    (r"/[^/]*[^./][^/]*/\.\.$", "/"),
) + (
    # root overflow removes ONE leading /../ per anchored pass
    (r"^/\.\./", "/"),
    (r"^/\.\./", "/"),
    (r"^/\.\./", "/"),
    (r"^/\.\./", "/"),
    (r"^/\.\.$", "/"),
)

_RE_SCHEME = r"^([A-Za-z][A-Za-z0-9+.\-]*):"


def resolve_url(base, href):
    """Column: absolute URL of ``href`` against absolute http(s) ``base``
    (RFC 3986 §5.2 reference resolution, fragment-stripped). Pure
    scan-stage regex/concat in the Java∩RE2 subset — no UDF, no shuffle;
    absolute and scheme-relative references pass through verbatim
    (path normalization applies to merged relative paths only, as
    browsers do). Precondition: ``base`` is absolute with an authority."""
    href_nf = F.regexp_replace(href, "#.*$", "")
    base_nf = F.regexp_replace(base, "#.*$", "")
    scheme = F.regexp_extract(base_nf, _RE_SCHEME, 1)
    root = F.regexp_extract(
        base_nf, r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*)", 1
    )
    bpath0 = F.regexp_extract(
        base_nf, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1
    )
    bpath = F.when(bpath0 == "", F.lit("/")).otherwise(bpath0)
    bdir = F.regexp_replace(bpath, r"[^/]*$", "")
    merged = (
        F.when(href_nf.startswith("/"), href_nf)
        .when(href_nf.startswith("?"), F.concat(bpath, href_nf))
        .otherwise(F.concat(bdir, href_nf))
    )
    mpath = F.regexp_extract(merged, r"^([^?]*)", 1)
    mquery = F.regexp_replace(merged, r"^[^?]*", "")
    for pat, repl in _DOT_SEG_STEPS:
        mpath = F.regexp_replace(mpath, pat, repl)
    return (
        F.when(href_nf.rlike(_RE_SCHEME), href_nf)
        .when(href_nf.startswith("//"), F.concat(scheme, F.lit(":"), href_nf))
        .when(href_nf == "", base_nf)
        .otherwise(F.concat(root, mpath, mquery))
    )


def _resolve_sql_expr(base: str, href: str) -> str:
    """The DuckDB spelling of resolve_url, built from the SAME step list."""
    href_nf = f"regexp_replace({href}, '#.*$', '')"
    base_nf = f"regexp_replace({base}, '#.*$', '')"
    scheme = f"regexp_extract({base_nf}, '{_RE_SCHEME}', 1)"
    root = (
        f"regexp_extract({base_nf},"
        f" '^([A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*)', 1)"
    )
    bpath0 = (
        f"regexp_extract({base_nf},"
        f" '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1)"
    )
    bpath = f"(CASE WHEN {bpath0} = '' THEN '/' ELSE {bpath0} END)"
    bdir = f"regexp_replace({bpath}, '[^/]*$', '')"
    merged = (
        f"(CASE WHEN {href_nf} LIKE '/%' THEN {href_nf}"
        f" WHEN {href_nf} LIKE '?%' THEN {bpath} || {href_nf}"
        f" ELSE {bdir} || {href_nf} END)"
    )
    mpath = f"regexp_extract({merged}, '^([^?]*)', 1)"
    mquery = f"regexp_replace({merged}, '^[^?]*', '')"
    for pat, repl in _DOT_SEG_STEPS:
        esc = pat.replace("\\", "\\")
        mpath = f"regexp_replace({mpath}, '{esc}', '{repl}', 'g')"
    return (
        f"(CASE WHEN regexp_matches({href_nf}, '{_RE_SCHEME}') THEN {href_nf}"
        f" WHEN {href_nf} LIKE '//%' THEN {scheme} || ':' || {href_nf}"
        f" WHEN {href_nf} = '' THEN {base_nf}"
        f" ELSE {root} || {mpath} || {mquery} END)"
    )


_RESOLVE_CASES_SQL = """CASE CAST(doc_id % 14 AS INT)
      WHEN 0 THEN 'https://other.example/abs'
      WHEN 1 THEN 'http://lower.example/Case?k=v'
      WHEN 2 THEN '//cdn.example/lib.js'
      WHEN 3 THEN '/rooted/x'
      WHEN 4 THEN 'rel.html'
      WHEN 5 THEN './same/dir'
      WHEN 6 THEN '../up.html'
      WHEN 7 THEN '../../up2.html'
      WHEN 8 THEN '../../../over.html'
      WHEN 9 THEN '?q=2'
      WHEN 10 THEN 'p#frag'
      WHEN 11 THEN 'a/./b/../c.html'
      WHEN 12 THEN '././././p.html'
      ELSE '../../../../deep.html' END"""


def _url_resolve_sql() -> str:
    return f"""
WITH synth AS (
  SELECT doc_id,
         'https://h' || CAST(doc_id % 5 AS VARCHAR)
         || '.example/d' || CAST(doc_id % 3 AS VARCHAR)
         || '/s/page' || CAST(doc_id AS VARCHAR) || '.html'
         || (CASE WHEN doc_id % 4 = 0 THEN '?bq=1' ELSE '' END) AS base,
         {_RESOLVE_CASES_SQL} AS href
  FROM documents
)
SELECT doc_id, base, href,
       {_resolve_sql_expr('base', 'href')} AS abs_url
FROM synth"""


@_q("url_resolve", _url_resolve_sql())
def url_resolve(spark, sf):
    """RFC 3986 reference resolution over the v4 OUTLINKS shape — the step
    that turns per-page relative hrefs into the absolute URLs a crawl
    frontier enqueues. Deterministic (base, href) case matrix from doc_id
    covers every resolution class: absolute (verbatim), scheme-relative,
    root-relative, plain/./-prefixed relative, 1-4 level ../ climbs
    (including root overflow past the base depth), query-only,
    fragment-bearing, interior dot segments, and consecutive ./ runs.

    Scale: pure scan-stage projection — a fixed chain of ~20 regex
    kernels in whole-stage codegen, zero shuffles/joins/Python; both
    witnesses are generated from the SAME _DOT_SEG_STEPS list so the
    bounded normalization depth can never drift between engines."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    base = F.concat(
        F.lit("https://h"), (did % 5).cast("string"),
        F.lit(".example/d"), (did % 3).cast("string"),
        F.lit("/s/page"), did.cast("string"), F.lit(".html"),
        F.when(did % 4 == 0, F.lit("?bq=1")).otherwise(F.lit("")),
    )
    href = (
        F.when(did % 14 == 0, F.lit("https://other.example/abs"))
        .when(did % 14 == 1, F.lit("http://lower.example/Case?k=v"))
        .when(did % 14 == 2, F.lit("//cdn.example/lib.js"))
        .when(did % 14 == 3, F.lit("/rooted/x"))
        .when(did % 14 == 4, F.lit("rel.html"))
        .when(did % 14 == 5, F.lit("./same/dir"))
        .when(did % 14 == 6, F.lit("../up.html"))
        .when(did % 14 == 7, F.lit("../../up2.html"))
        .when(did % 14 == 8, F.lit("../../../over.html"))
        .when(did % 14 == 9, F.lit("?q=2"))
        .when(did % 14 == 10, F.lit("p#frag"))
        .when(did % 14 == 11, F.lit("a/./b/../c.html"))
        .when(did % 14 == 12, F.lit("././././p.html"))
        .otherwise(F.lit("../../../../deep.html"))
    )
    return d.select(
        "doc_id",
        base.alias("base"),
        href.alias("href"),
        resolve_url(base, href).alias("abs_url"),
    )


# ---------------------------------------------------------------------------
# duplicate-line fractions (the remaining Gopher repetition signals)
# ---------------------------------------------------------------------------


def _dup_lines_sql() -> str:
    return """
WITH lined AS (
  SELECT doc_id,
         list_concat(
           list_concat(
             ['u' || CAST(doc_id AS VARCHAR) || ' alpha line',
              'u' || CAST(doc_id AS VARCHAR) || ' beta line',
              'subscribe to our newsletter today'],
             CASE WHEN doc_id % 3 = 0
                  THEN ['subscribe to our newsletter today']
                  ELSE [] END),
           CASE WHEN doc_id % 5 = 0
                THEN ['u' || CAST(doc_id AS VARCHAR) || ' alpha line']
                ELSE [] END) AS lines
  FROM documents
),
stats AS (
  SELECT doc_id,
         len(lines) AS n,
         len(list_distinct(lines)) AS nd,
         list_sum(list_transform(lines, x -> len(x))) AS tc,
         list_sum(list_transform(list_distinct(lines), x -> len(x))) AS dc
  FROM lined
)
SELECT doc_id,
       CAST(n AS INT)  AS n_lines,
       CAST(n - nd AS INT) AS n_dup_lines,
       CAST((n - nd) * 1000 // n AS BIGINT)   AS dup_line_permille,
       CAST((tc - dc) * 1000 // tc AS BIGINT) AS dup_char_permille
FROM stats
"""


@_q("text_dup_lines", _dup_lines_sql())
def text_dup_lines(spark, sf):
    """The two Gopher repetition signals `text_repetition` doesn't cover
    (Rae et al. 2021 §A1.1): fraction of duplicated LINES and fraction of
    characters inside duplicated lines — navigation chrome and templated
    boilerplate repeat whole lines, which word/bigram fractions miss.
    Deterministic planted lines (a shared promo line duplicated for
    doc_id%3==0, a self-duplicate for doc_id%5==0) exercise both
    polarities; fractions are exact integer per-mille (zero float drift).

    Scale: pure scan-stage array HOFs (array_distinct + transform +
    aggregate) — per-row work bounded by line count, zero shuffles, no
    Python; the relational spelling would add two doc_id-keyed
    exchanges."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    u = F.concat(F.lit("u"), did.cast("string"))
    alpha = F.concat(u, F.lit(" alpha line"))
    promo = F.lit("subscribe to our newsletter today")
    lines = F.concat(
        F.array(alpha, F.concat(u, F.lit(" beta line")), promo),
        F.when(did % 3 == 0, F.array(promo)).otherwise(
            F.array().cast("array<string>")
        ),
        F.when(did % 5 == 0, F.array(alpha)).otherwise(
            F.array().cast("array<string>")
        ),
    )
    chars = lambda a: F.aggregate(  # noqa: E731
        F.transform(a, lambda x: F.length(x).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    t = d.select(
        "doc_id",
        F.size(lines).cast("bigint").alias("n"),
        F.size(F.array_distinct(lines)).cast("bigint").alias("nd"),
        chars(lines).alias("tc"),
        chars(F.array_distinct(lines)).alias("dc"),
    )
    return t.select(
        "doc_id",
        F.col("n").cast("int").alias("n_lines"),
        (F.col("n") - F.col("nd")).cast("int").alias("n_dup_lines"),
        F.expr("CAST((n - nd) * 1000 DIV n AS BIGINT)")
        .alias("dup_line_permille"),
        F.expr("CAST((tc - dc) * 1000 DIV tc AS BIGINT)")
        .alias("dup_char_permille"),
    )


# ---------------------------------------------------------------------------
# Pagination-series assembly (SPEC v19 downstream): multi-page documents
# ---------------------------------------------------------------------------


def assemble_series(
    pages: DataFrame,
    url_col: str = "url",
    next_col: str = "next_url",
    max_rounds: int = 40,
) -> DataFrame:
    """(url, next_url) pagination edges → (url, series_id, pos): every
    page labeled with its series head and 0-based position along the
    rel=next chain — the reassembly step that turns page 2..N of a
    multi-page article back into ONE training document (and stops exact/
    near dedup from scoring series members as decoy duplicates).

    Semantics: an edge u→v ("u's next is v") makes u the parent of v;
    only targets that are themselves pages attach (a next pointing
    outside the corpus is a frontier edge, not a series edge). When
    several pages claim the same next target, the lexicographically
    smallest parent wins — deterministic under any partitioning. A page
    with no attached parent is a series head (series_id = itself,
    pos = 0). Pages trapped in a rel=next CYCLE (hostile/broken markup:
    no walk reaches a head) resolve to series_id NULL / pos NULL rather
    than looping forever.

    Scale shape: pointer doubling — each round replaces every page's
    known ancestor with that ancestor's ancestor, doubling the walked
    distance, so a chain of length L resolves in ceil(log2 L) rounds.
    An acyclic chain can never be longer than the page count, so the
    round count is bounded up front at ceil(log2 n) + 1 (capped by
    ``max_rounds``; 40 covers 2^40-page chains), and the loop EXITS
    EARLY when sum(d) stops moving — real pagination chains are a few
    pages, so typical runs use ceil(log2 max_chain) + 1 rounds, not the
    worst-case bound. The probe is one 1-row aggregate over the rows
    the per-round ``localCheckpoint`` has ALREADY materialized (the
    2-scalar driver-traffic pattern `connected_components` documents);
    only a rel=next cycle (sum keeps doubling, never stable) runs to
    the bound, and those rows resolve to NULL afterwards. Each round is
    ONE self-join keyed on the ancestor id; exchanges carry
    (url, anc, BIGINT) rows only."""
    u, n = F.col(url_col), F.col(next_col)
    nodes = pages.select(u.alias("u")).distinct()
    parents = (
        pages.filter(n.isNotNull())
        .select(n.alias("u"), F.col(url_col).alias("p"))
        .join(nodes, "u", "left_semi")
        .groupBy("u")
        .agg(F.min("p").alias("p"))
    )
    # state: anc = furthest known ancestor, d = walked distance,
    # done = anc is a head (no parent of its own)
    state = (
        nodes.join(parents, "u", "left")
        .select(
            "u",
            F.coalesce("p", "u").alias("anc"),
            F.when(F.col("p").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("d"),
        )
        .localCheckpoint()
    )
    heads = state.filter(F.col("d") == 0).select(F.col("u").alias("anc"))
    n_total = nodes.count()
    rounds = min(max_rounds, max(1, math.ceil(math.log2(max(2, n_total))) + 1))
    prev_total = None
    for _ in range(rounds):
        jumped = (
            state.alias("s")
            .join(
                state.select(
                    F.col("u").alias("anc"),
                    F.col("anc").alias("anc2"),
                    F.col("d").alias("d2"),
                ).alias("j"),
                "anc",
            )
            .select(
                F.col("s.u").alias("u"),
                F.when(F.col("d2") > 0, F.col("anc2"))
                .otherwise(F.col("anc"))
                .alias("anc"),
                (F.col("s.d") + F.col("d2")).alias("d"),
            )
            .localCheckpoint()
        )
        state = jumped
        total = state.agg(F.sum("d")).collect()[0][0]
        if total == prev_total:
            break
        prev_total = total
    resolved = state.join(heads, "anc", "left_semi")
    cyclic = state.join(heads, "anc", "left_anti").select(
        "u",
        F.lit(None).cast("string").alias("series_id"),
        F.lit(None).cast("long").alias("pos"),
    )
    return resolved.select(
        "u",
        F.col("anc").alias("series_id"),
        F.col("d").alias("pos"),
    ).unionByName(cyclic).withColumnRenamed("u", url_col)


# ---------------------------------------------------------------------------
# Sitemap parsing (crawl-planning source, sitemaps.org protocol)
# ---------------------------------------------------------------------------


def parse_sitemap(df: DataFrame, xml_col: str = "xml",
                  url_col: str = "url") -> DataFrame:
    """Sitemap XML → one row per entry: (url, pos, kind, loc, lastmod).

    Handles both document shapes of the sitemaps.org protocol: a
    ``<urlset>`` of ``<url>`` entries (kind='url') and a
    ``<sitemapindex>`` of ``<sitemap>`` entries (kind='sitemap' — the
    recursive fan-out a crawl planner enqueues). ``loc`` is
    whitespace-trimmed ("" when the entry lacks one); ``lastmod`` is
    trimmed or NULL when absent. ``pos`` is the 0-based entry order.

    Scale shape: regexp_extract_all + posexplode, all JVM scan-stage —
    no XML library, no Python, no shuffle; one sitemap (≤50k entries
    per the protocol) explodes inside its input partition."""
    x = F.col(xml_col)
    kind = F.when(
        F.instr(x, "<sitemapindex") > 0, F.lit("sitemap")
    ).otherwise(F.lit("url"))
    blocks = F.when(
        kind == "sitemap",
        F.regexp_extract_all(x, F.lit(r"(?s)<sitemap>(.*?)</sitemap>"), 1),
    ).otherwise(
        F.regexp_extract_all(x, F.lit(r"(?s)<url>(.*?)</url>"), 1)
    )
    t = df.select(
        F.col(url_col).alias("url"),
        kind.alias("kind"),
        F.posexplode_outer(blocks).alias("pos", "block"),
    )
    return t.select(
        "url",
        F.col("pos").cast("int").alias("pos"),
        "kind",
        F.regexp_extract(F.col("block"), r"(?s)<loc>\s*(.*?)\s*</loc>", 1)
        .alias("loc"),
        F.nullif(
            F.regexp_extract(
                F.col("block"), r"(?s)<lastmod>\s*(.*?)\s*</lastmod>", 1
            ),
            F.lit(""),
        ).alias("lastmod"),
    )


def _sitemap_entries_sql() -> str:
    return """
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN 'sitemap' ELSE 'url' END AS kind,
         doc_id % 3 + 2 AS n
  FROM documents
)
SELECT CAST(doc_id AS VARCHAR) AS url,
       CAST(j AS INT) AS pos,
       kind,
       CASE WHEN kind = 'url'
            THEN 'https://site' || CAST(doc_id % 5 AS VARCHAR)
                 || '.example/u' || CAST(doc_id AS VARCHAR) || '/'
                 || CAST(j AS VARCHAR)
            ELSE 'https://site' || CAST(doc_id % 5 AS VARCHAR)
                 || '.example/sm' || CAST(doc_id AS VARCHAR) || '_'
                 || CAST(j AS VARCHAR) || '.xml' END AS loc,
       CASE WHEN j % 2 = 0
            THEN '2026-0' || CAST(j % 9 + 1 AS VARCHAR) || '-01' END
         AS lastmod
FROM m, LATERAL (SELECT unnest(range(n)) AS j) t
"""


@_q("sitemap_entries", _sitemap_entries_sql())
def sitemap_entries(spark, sf):
    """Sitemap protocol parse, hash-verified closed-form: every fourth
    document is a <sitemapindex> (recursive child sitemaps), the rest
    are <urlset> docs; entries carry padded <loc> values (trimmed) and
    a <lastmod> on every even entry (NULL otherwise). The XML is BUILT
    with sequence+transform and PARSED back with parse_sitemap — the
    oracle generates the expected rows closed-form, so the whole
    regex-parse chain is pinned end-to-end."""
    docs = load(spark, sf, "documents")
    did = F.col("doc_id")
    kind = F.when(did % 4 == 0, F.lit("sitemap")).otherwise(F.lit("url"))
    n = (did % 3 + 2).cast("int")
    site = F.concat(F.lit("https://site"), (did % 5).cast("string"),
                    F.lit(".example/"))

    def entry(j):
        loc = F.when(
            kind == "url",
            F.concat(site, F.lit("u"), did.cast("string"), F.lit("/"),
                     j.cast("string")),
        ).otherwise(
            F.concat(site, F.lit("sm"), did.cast("string"), F.lit("_"),
                     j.cast("string"), F.lit(".xml"))
        )
        tag = F.when(kind == "url", F.lit("url")).otherwise(F.lit("sitemap"))
        lastmod = F.when(
            j % 2 == 0,
            F.concat(F.lit("<lastmod> 2026-0"),
                     (j % 9 + 1).cast("string"),
                     F.lit("-01 </lastmod>")),
        ).otherwise(F.lit(""))
        return F.concat(
            F.lit("<"), tag, F.lit("><loc> "), loc, F.lit(" </loc>"),
            lastmod, F.lit("</"), tag, F.lit(">"),
        )

    root = F.when(kind == "sitemap", F.lit("sitemapindex")).otherwise(
        F.lit("urlset")
    )
    xml = F.concat(
        F.lit('<?xml version="1.0" encoding="UTF-8"?>\n<'), root,
        F.lit(' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
        F.concat_ws("", F.transform(F.sequence(F.lit(0), n - 1), entry)),
        F.lit("</"), root, F.lit(">"),
    )
    raw = docs.select(did.cast("string").alias("url"), xml.alias("xml"))
    return parse_sitemap(raw)


def _robots_sitemaps_sql() -> str:
    return """
WITH srcs AS (
  SELECT DISTINCT source,
         CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) AS n
  FROM documents
)
SELECT source, CAST(0 AS INT) AS pos,
       'https://' || source || '.example/sitemap'
       || CAST(n % 7 AS VARCHAR) || '.xml' AS sitemap_url
FROM srcs
UNION ALL
SELECT source, CAST(1 AS INT) AS pos,
       'https://cdn' || CAST(n % 5 AS VARCHAR) || '.example/sm.xml'
FROM srcs WHERE n % 2 = 0
"""


@_q("robots_sitemaps", _robots_sitemaps_sql())
def robots_sitemaps(spark, sf):
    """Sitemap discovery from robots.txt — the REP `Sitemap:` directive
    (RFC 9309 §2.3: a GLOBAL line outside user-agent groups, key
    case-insensitive, whitespace-tolerant) is how a crawler finds the
    sitemap fan-in for a host it has never visited. Each source's
    robots.txt is synthesized with the edge matrix: a normal directive,
    a case-mangled ' SITEMAP : ' decoy-looking winner on every even
    host, plus user-agent/disallow lines that must not match.
    Extraction is one multiline regexp_extract_all + posexplode per
    robots blob — scan-stage JVM, zero shuffle beyond the source
    distinct."""
    d = load(spark, sf, "documents")
    n = F.regexp_extract("source", r"src(\d+)", 1).cast("int")
    srcs = d.select("source", n.alias("n")).distinct()
    txt = F.concat(
        F.lit("User-agent: *\nDisallow: /tmp\n# Sitemap: /commented-out\n"
              "Sitemap: https://"),
        F.col("source"),
        F.lit(".example/sitemap"), (F.col("n") % 7).cast("string"),
        F.lit(".xml\nAllow: /a\n"),
        F.when(
            F.col("n") % 2 == 0,
            F.concat(
                F.lit("  SITEMAP : https://cdn"),
                (F.col("n") % 5).cast("string"),
                F.lit(".example/sm.xml\n"),
            ),
        ).otherwise(F.lit("")),
        F.lit("User-agent: badbot\nDisallow: /\n"),
    )
    t = srcs.select(
        "source",
        F.posexplode(
            F.regexp_extract_all(
                txt, F.lit(r"(?im)^\s*sitemap\s*:\s*(\S+)"), 1
            )
        ).alias("pos", "sitemap_url"),
    )
    return t.select("source", F.col("pos").cast("int").alias("pos"),
                    "sitemap_url")


# ---------------------------------------------------------------------------
# Feed parsing (RSS 2.0 / Atom — the payload behind v15 feed discovery)
# ---------------------------------------------------------------------------


def parse_feed(df: DataFrame, xml_col: str = "xml",
               url_col: str = "url") -> DataFrame:
    """Feed XML → one row per entry: (url, pos, kind, title, link, ts).

    RSS 2.0 ``<item>`` blocks (link/pubDate are element TEXT) and Atom
    ``<entry>`` blocks (link is the href ATTRIBUTE of the first <link>;
    timestamp is <updated>) — the two shapes v15 ALTERNATES discovers
    via type=application/rss+xml|atom+xml. Titles unwrap one optional
    CDATA shell and trim; missing fields are "" (title/link) or NULL
    (ts). ``pos`` is the 0-based entry order.

    Scale shape: regexp_extract_all + posexplode, all JVM scan-stage,
    zero shuffle — same posture as `parse_sitemap`."""
    x = F.col(xml_col)
    kind = F.when(F.instr(x, "<feed") > 0, F.lit("atom")).otherwise(
        F.lit("rss")
    )
    blocks = F.when(
        kind == "atom",
        F.regexp_extract_all(x, F.lit(r"(?s)<entry\b[^>]*>(.*?)</entry>"), 1),
    ).otherwise(
        F.regexp_extract_all(x, F.lit(r"(?s)<item\b[^>]*>(.*?)</item>"), 1)
    )
    t = df.select(
        F.col(url_col).alias("url"),
        kind.alias("kind"),
        F.posexplode_outer(blocks).alias("pos", "block"),
    )
    b = F.col("block")
    raw_title = F.regexp_extract(b, r"(?s)<title[^>]*>(.*?)</title>", 1)
    title = F.trim(
        F.regexp_replace(
            F.trim(raw_title), r"(?s)^<!\[CDATA\[(.*)\]\]>$", "$1"
        )
    )
    link = F.when(
        F.col("kind") == "atom",
        F.regexp_extract(b, "<link\\b[^>]*?href\\s*=\\s*[\"']([^\"']*)", 1),
    ).otherwise(
        F.trim(F.regexp_extract(b, r"(?s)<link[^>]*>(.*?)</link>", 1))
    )
    ts = F.when(
        F.col("kind") == "atom",
        F.regexp_extract(b, r"(?s)<updated[^>]*>\s*(.*?)\s*</updated>", 1),
    ).otherwise(
        F.regexp_extract(b, r"(?s)<pubDate[^>]*>\s*(.*?)\s*</pubDate>", 1)
    )
    return t.select(
        "url",
        F.col("pos").cast("int").alias("pos"),
        "kind",
        title.alias("title"),
        link.alias("link"),
        F.nullif(ts, F.lit("")).alias("ts"),
    )


def _feed_entries_sql() -> str:
    return """
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'atom' ELSE 'rss' END AS kind,
         doc_id % 4 + 1 AS n
  FROM documents
)
SELECT CAST(doc_id AS VARCHAR) AS url,
       CAST(j AS INT) AS pos,
       kind,
       'Post ' || CAST(doc_id AS VARCHAR) || '/' || CAST(j AS VARCHAR)
         AS title,
       'https://blog' || CAST(doc_id % 7 AS VARCHAR) || '.example/'
         || CAST(doc_id AS VARCHAR) || '/' || CAST(j AS VARCHAR) AS link,
       CASE WHEN kind = 'atom'
            THEN '2026-08-' || lpad(CAST(j % 28 + 1 AS VARCHAR), 2, '0')
                 || 'T12:00:00Z'
            WHEN j % 2 = 0
            THEN 'Mon, ' || lpad(CAST(j % 28 + 1 AS VARCHAR), 2, '0')
                 || ' Aug 2026 12:00:00 GMT'
            END AS ts
FROM m, LATERAL (SELECT unnest(range(n)) AS j) t
"""


@_q("feed_entries", _feed_entries_sql())
def feed_entries(spark, sf):
    """Feed parse, hash-verified closed-form: every third document is an
    Atom feed (href-attribute links, <updated> stamps), the rest RSS
    (text links, <pubDate> on even entries only — odd entries pin the
    NULL path); even RSS titles arrive CDATA-wrapped and must unwrap.
    The XML is BUILT with sequence+transform and PARSED back with
    parse_feed, so the whole chain is pinned against the generator."""
    docs = load(spark, sf, "documents")
    did = F.col("doc_id")
    is_atom = did % 3 == 0
    n = (did % 4 + 1).cast("int")

    def entry(j):
        title = F.concat(F.lit("Post "), did.cast("string"), F.lit("/"),
                         j.cast("string"))
        wrapped = F.when(
            ~is_atom & (j % 2 == 0),
            F.concat(F.lit("<![CDATA["), title, F.lit("]]>")),
        ).otherwise(title)
        link = F.concat(
            F.lit("https://blog"), (did % 7).cast("string"),
            F.lit(".example/"), did.cast("string"), F.lit("/"),
            j.cast("string"),
        )
        day = F.lpad((j % 28 + 1).cast("string"), 2, "0")
        return F.when(
            is_atom,
            F.concat(
                F.lit("<entry><title>"), wrapped,
                F.lit("</title><link rel='alternate' href='"), link,
                F.lit("'/><updated> 2026-08-"), day,
                F.lit("T12:00:00Z </updated></entry>"),
            ),
        ).otherwise(
            F.concat(
                F.lit("<item><title> "), wrapped,
                F.lit(" </title><link> "), link, F.lit(" </link>"),
                F.when(
                    j % 2 == 0,
                    F.concat(F.lit("<pubDate>Mon, "), day,
                             F.lit(" Aug 2026 12:00:00 GMT</pubDate>")),
                ).otherwise(F.lit("")),
                F.lit("</item>"),
            )
        )

    body = F.concat_ws("", F.transform(F.sequence(F.lit(0), n - 1), entry))
    xml = F.when(
        is_atom,
        F.concat(
            F.lit('<?xml version="1.0"?><feed '
                  'xmlns="http://www.w3.org/2005/Atom">'
                  "<title>site</title>"),
            body, F.lit("</feed>"),
        ),
    ).otherwise(
        F.concat(
            F.lit('<?xml version="1.0"?><rss version="2.0"><channel>'
                  "<title>site</title><link>https://x</link>"),
            body, F.lit("</channel></rss>"),
        )
    )
    raw = docs.select(did.cast("string").alias("url"), xml.alias("xml"))
    return parse_feed(raw)


def _schedule_sql() -> str:
    return """
WITH f AS (
  SELECT doc_id, source,
         CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) % 5 + 1
           AS delay_s,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1
           AS slot
  FROM documents
)
SELECT CAST(doc_id AS VARCHAR) AS url, source AS host,
       CAST(delay_s AS INT) AS delay_s,
       CAST(slot AS INT) AS slot,
       CAST(slot * delay_s AS BIGINT) AS fetch_at_s
FROM f
"""


@_q("crawl_schedule", _schedule_sql())
def crawl_schedule(spark, sf):
    """Politeness scheduling: the frontier's URLs are assigned per-host
    fetch SLOTS under that host's crawl-delay — slot k fetches at
    k x delay seconds, which is exactly the sequential budget a
    compliant crawler must spend per host (and the number that tells a
    wave planner which hosts BOUND the wave: max(fetch_at) per host).
    Deterministic slot order = url order within host.

    Scale shape: ONE exchange keyed on host + one window (row_number
    over the host partition) — the per-host sequence is the semantics,
    so the shuffle is inherent; everything else is scan-stage
    arithmetic. A pathological million-page host makes a long TASK, not
    a broken plan — and that host is genuinely a million delays long:
    the skew IS the politeness constraint. Wave planners cap it
    upstream (sample_per_host), not here."""
    d = load(spark, sf, "documents")
    delay = (
        F.regexp_extract("source", r"src(\d+)", 1).cast("int") % 5 + 1
    )
    w = W.partitionBy("source").orderBy("doc_id")
    slot = (F.row_number().over(w) - 1).cast("int")
    return d.select(
        F.col("doc_id").cast("string").alias("url"),
        F.col("source").alias("host"),
        delay.alias("delay_s"),
        slot.alias("slot"),
        (slot.cast("bigint") * delay.cast("bigint")).alias("fetch_at_s"),
    )


def _freshness_sql() -> str:
    return """
WITH m AS (
  SELECT doc_id, doc_id % 3 + 2 AS n,
         CASE WHEN doc_id % 4 = 0 THEN 'sitemap' ELSE 'url' END AS kind
  FROM documents
), e AS (
  SELECT kind, j,
         CASE WHEN j % 2 = 0
              THEN DATE '2026-01-01'
                   + to_days(CAST((doc_id * 7 + j * 11) % 240 AS INT))
              END AS lastmod
  FROM m, LATERAL (SELECT unnest(range(n)) AS j) t
)
SELECT kind,
       CASE WHEN lastmod IS NULL THEN 'unknown'
            WHEN date_diff('day', lastmod, DATE '2026-09-01') <= 30
              THEN 'fresh30'
            WHEN date_diff('day', lastmod, DATE '2026-09-01') <= 90
              THEN 'fresh90'
            ELSE 'stale' END AS freshness,
       CAST(count(*) AS BIGINT) AS n_entries
FROM e GROUP BY 1, 2
"""


@_q("sitemap_freshness", _freshness_sql())
def sitemap_freshness(spark, sf):
    """Crawl prioritization from sitemap <lastmod>: entries bucketed
    fresh30 / fresh90 / stale / unknown against a FIXED reference date
    (recency decides refetch order; the reference date is an argument,
    never wall-clock — a scheduled job passes its run date, keeping
    replays deterministic). The lastmod matrix spreads deterministic
    W3C dates over 8 months with odd entries lastmod-less (the unknown
    path). Scan-stage date arithmetic + one small groupBy — the
    per-entry parse is `to_date`, all JVM."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    kind = F.when(did % 4 == 0, F.lit("sitemap")).otherwise(F.lit("url"))
    n = (did % 3 + 2).cast("int")
    rows = d.select(
        kind.alias("kind"),
        F.posexplode(F.sequence(F.lit(0), n - 1)).alias("pos", "j"),
        did.alias("doc_id"),
    )
    j = F.col("j")
    lastmod = F.when(
        j % 2 == 0,
        F.date_add(
            F.to_date(F.lit("2026-01-01")),
            ((F.col("doc_id") * 7 + j * 11) % 240).cast("int"),
        ),
    )
    ref = F.to_date(F.lit("2026-09-01"))
    age = F.datediff(ref, lastmod)
    freshness = (
        F.when(lastmod.isNull(), F.lit("unknown"))
        .when(age <= 30, F.lit("fresh30"))
        .when(age <= 90, F.lit("fresh90"))
        .otherwise(F.lit("stale"))
    )
    return rows.select("kind", freshness.alias("freshness")).groupBy(
        "kind", "freshness"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_entries"))


# ---------------------------------------------------------------------------
# Change-rate estimation from fetch history (refetch scheduling)
# ---------------------------------------------------------------------------


def change_rate(
    history: DataFrame,
    url_col: str = "url",
    crawl_col: str = "crawl",
    digest_col: str = "digest",
) -> DataFrame:
    """Fetch history (url, crawl, payload digest) → per-url change-rate
    estimate: (url, n_fetches, n_changes, change_permille, bucket).

    A change is a fetch whose digest differs from the PREVIOUS fetch of
    the same url (lag over the per-url crawl order) — exactly the signal
    the revisit-record stream provides for free (a revisit ⇒ unchanged).
    ``change_permille`` = n_changes·1000 div (n_fetches−1), integer
    arithmetic; the bucket maps the observed rate to a refetch tier
    (volatile ≥ 800‰, fast ≥ 400‰, slow ≥ 1 change, static otherwise) —
    the Cho/Garcia-Molina-style frequency estimate a recrawl planner
    keys wave assignment on.

    Scale shape: ONE exchange keyed on url feeds both the lag window and
    the follow-up groupBy (same partitioning, Catalyst reuses it);
    exchanged rows carry (url, crawl, 16-byte digest) — never payloads.
    A url fetched in every monthly crawl for a decade is ~120 rows:
    windows stay tiny, skew is impossible by construction."""
    u, c, d = F.col(url_col), F.col(crawl_col), F.col(digest_col)
    w = W.partitionBy(url_col).orderBy(crawl_col)
    per = history.select(
        u.alias("url"),
        c.alias("crawl"),
        (d != F.lag(d).over(w)).cast("int").alias("chg"),
    )
    agg = per.groupBy("url").agg(
        F.count("*").cast("long").alias("n_fetches"),
        F.coalesce(F.sum("chg"), F.lit(0)).cast("long").alias("n_changes"),
    )
    permille = F.when(
        F.col("n_fetches") > 1,
        (F.col("n_changes") * 1000).cast("long")
        / (F.col("n_fetches") - 1),
    ).otherwise(F.lit(0.0))
    permille = F.floor(permille).cast("long")
    bucket = (
        F.when(F.col("change_permille") >= 800, F.lit("volatile"))
        .when(F.col("change_permille") >= 400, F.lit("fast"))
        .when(F.col("n_changes") >= 1, F.lit("slow"))
        .otherwise(F.lit("static"))
    )
    return agg.withColumn("change_permille", permille).withColumn(
        "bucket", bucket
    )


def _crawl_changerate_sql() -> str:
    return """
WITH p AS (
  SELECT doc_id, doc_id % 5 + 1 AS period FROM documents
),
m AS (
  SELECT doc_id,
         CASE WHEN period = 5 THEN 0
              ELSE CAST(floor(5 / period) AS BIGINT) END AS n_changes
  FROM p
)
SELECT 'https://synth.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
       CAST(6 AS BIGINT) AS n_fetches,
       n_changes,
       n_changes * 1000 // 5 AS change_permille,
       CASE WHEN n_changes * 1000 // 5 >= 800 THEN 'volatile'
            WHEN n_changes * 1000 // 5 >= 400 THEN 'fast'
            WHEN n_changes >= 1 THEN 'slow'
            ELSE 'static' END AS bucket
FROM m
"""


@_q("crawl_changerate", _crawl_changerate_sql())
def crawl_changerate(spark, sf):
    """Change-rate estimation, hash-verified closed-form: each document
    simulates SIX crawls whose payload version bumps every `period`-th
    crawl (period = doc_id%5+1; period 5 never changes — the static
    tier), digests are md5(text ‖ version), and `change_rate` must
    recover exactly floor(5/period) changes per url from the lag window
    — while the oracle derives the same counts arithmetically, never
    touching digests. Pins the lag/groupBy chain end to end, including
    the 0-change and every-crawl-changes extremes."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    period = (did % 5 + 1).cast("long")
    crawls = F.sequence(F.lit(0), F.lit(5))
    t = d.select(
        F.concat(
            F.lit("https://synth.example/doc/"), did.cast("string")
        ).alias("url"),
        "text",
        period.alias("period"),
        F.explode(crawls).alias("crawl"),
    )
    version = F.when(
        F.col("period") == 5, F.lit(0).cast("long")
    ).otherwise(F.floor(F.col("crawl") / F.col("period")).cast("long"))
    hist = t.select(
        "url",
        "crawl",
        F.md5(F.concat(F.col("text"), version.cast("string"))).alias(
            "digest"
        ),
    )
    return change_rate(hist)


# ---------------------------------------------------------------------------
# Content drift between refetches (how MUCH changed, not just whether)
# ---------------------------------------------------------------------------

_DRIFT_SHINGLE = 9  # char-shingle width, matches the minhash stack


def _content_drift_sql() -> str:
    w = _DRIFT_SHINGLE
    return f"""
WITH fetches AS (
  SELECT 'https://synth.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
         text AS v1,
         CASE WHEN doc_id % 5 = 4 THEN text
              ELSE replace(text, 'table', 'desk9') END AS v2
  FROM documents WHERE len(text) >= {w}
),
sh AS (
  SELECT url,
         list_distinct(list_transform(
           generate_series(1, len(v1) - {w - 1}),
           i -> substring(v1, CAST(i AS INT), {w}))) AS s1,
         list_distinct(list_transform(
           generate_series(1, len(v2) - {w - 1}),
           i -> substring(v2, CAST(i AS INT), {w}))) AS s2
  FROM fetches
)
SELECT url,
       CAST(len(list_intersect(s1, s2)) AS INT) AS n_inter,
       CAST(len(s1) + len(s2) - len(list_intersect(s1, s2)) AS INT)
         AS n_union,
       round(CAST(len(list_intersect(s1, s2)) AS DOUBLE)
             / (len(s1) + len(s2) - len(list_intersect(s1, s2))), 6)
         AS jaccard,
       CASE WHEN len(list_intersect(s1, s2))
                 = len(s1) + len(s2) - len(list_intersect(s1, s2))
            THEN 'unchanged'
            WHEN 2 * len(list_intersect(s1, s2))
                 >= len(s1) + len(s2) - len(list_intersect(s1, s2))
            THEN 'minor' ELSE 'major' END AS drift_class
FROM sh
"""


@_q("content_drift", _content_drift_sql())
def content_drift(spark, sf):
    """Refetch content drift — how MUCH a url's payload changed between
    crawls, where ``crawl_changerate`` only records WHETHER (digest
    flip). Char 9-shingle Jaccard between consecutive versions, classed
    unchanged / minor / major: a scheduler refetches templated minor
    churn (timestamps, counters) less eagerly than substantive rewrites,
    and a training pipeline keeps one copy of minor-drift pairs. The
    second fetch is simulated deterministically (a literal token edit;
    every fifth url byte-identical), so drift magnitude varies naturally
    with token frequency and the unchanged extreme is exercised.

    Determinism: shingle sets, intersection, and union are exact
    integer counts; the class thresholds compare INTEGERS (j = 1 ⟺
    inter = union; j ≥ 0.5 ⟺ 2·inter ≥ union) so no double ever gates a
    branch; ``jaccard`` itself is one rounded division at the end.

    Scale shape: a pure row-scope projection — both versions' shingle
    sets, the intersection, and the class are array ops inside one
    Project; ZERO exchanges at any scale. In production the two
    versions come from ``crawl_changerate``'s (url)-lag window instead
    of a simulation, and the Jaccard branch runs only for rows whose
    digests differ — the unchanged majority never builds a shingle
    set."""
    w = _DRIFT_SHINGLE
    d = load(spark, sf, "documents").filter(F.length("text") >= w)
    v1 = F.col("text")
    v2 = F.when(F.col("doc_id") % 5 == 4, v1).otherwise(
        F.replace(v1, F.lit("table"), F.lit("desk9"))
    )

    def shingles(v):
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(v) - (w - 1)),
                lambda i: F.substring(v, i, F.lit(w)),
            )
        )

    sh = d.select(
        F.concat(
            F.lit("https://synth.example/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        shingles(v1).alias("s1"),
        shingles(v2).alias("s2"),
    )
    inter = F.size(F.array_intersect("s1", "s2"))
    union = F.size("s1") + F.size("s2") - inter
    return sh.select(
        "url",
        inter.alias("n_inter"),
        union.alias("n_union"),
        F.round(inter.cast("double") / union, 6).alias("jaccard"),
        F.when(inter == union, "unchanged")
        .when(2 * inter >= union, "minor")
        .otherwise("major")
        .alias("drift_class"),
    )


def content_drift_prefiltered(spark, sf):
    """Production drift path (the docstring stance of ``content_drift``,
    benched): shingle Jaccard runs ONLY for consecutive fetch pairs whose
    digests differ, off the same (url)-lag window ``crawl_changerate``
    uses — the unchanged majority never builds a shingle set.

    Six simulated crawls per url (period = doc_id%5+1, period 5 static,
    same schedule as ``crawl_changerate``); the versioned payload edits
    'table' → 'desk<version>' so payloads differ only when the text
    actually contains the token — urls without it digest-dedupe to zero
    drift pairs even across version bumps, exactly the real-crawl shape.

    Scale shape: ONE exchange total (the url-hash window partitioning —
    16-byte digests + payload refs, no shingle arrays cross the wire);
    the digest-inequality Filter sits BELOW the shingle Project, so
    array construction — the expensive part — is paid only for changed
    pairs. At real change rates (a few % of fetches) that is a ~30×
    working-set cut vs shingling every pair. No Python anywhere."""
    w = _DRIFT_SHINGLE
    d = load(spark, sf, "documents").filter(F.length("text") >= w)
    did = F.col("doc_id")
    period = (did % 5 + 1).cast("long")
    t = d.select(
        F.concat(
            F.lit("https://synth.example/doc/"), did.cast("string")
        ).alias("url"),
        "text",
        period.alias("period"),
        F.explode(F.sequence(F.lit(0), F.lit(5))).alias("crawl"),
    )
    version = F.when(
        F.col("period") == 5, F.lit(0).cast("long")
    ).otherwise(F.floor(F.col("crawl") / F.col("period")).cast("long"))
    payload = F.when(version == 0, F.col("text")).otherwise(
        F.replace(
            F.col("text"),
            F.lit("table"),
            F.concat(F.lit("desk"), version.cast("string")),
        )
    )
    hist = t.select(
        "url", "crawl", payload.alias("payload"),
        F.md5(payload).alias("digest"),
    )
    win = W.partitionBy("url").orderBy("crawl")
    lagged = hist.select(
        "url", "crawl", "payload", "digest",
        F.lag("payload").over(win).alias("prev_payload"),
        F.lag("digest").over(win).alias("prev_digest"),
    )
    changed = lagged.filter(
        (F.col("crawl") > 0) & (F.col("digest") != F.col("prev_digest"))
    )

    def shingles(v):
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(v) - (w - 1)),
                lambda i: F.substring(v, i, F.lit(w)),
            )
        )

    sh = changed.select(
        "url", "crawl",
        shingles(F.col("prev_payload")).alias("s1"),
        shingles(F.col("payload")).alias("s2"),
    )
    inter = F.size(F.array_intersect("s1", "s2"))
    union = F.size("s1") + F.size("s2") - inter
    return sh.select(
        "url", "crawl",
        inter.alias("n_inter"),
        union.alias("n_union"),
        F.round(inter.cast("double") / union, 6).alias("jaccard"),
        F.when(2 * inter >= union, "minor").otherwise("major")
        .alias("drift_class"),
    )


# ---------------------------------------------------------------------------
# Badword-list content filter (C4 rule 1; list is a synthetic placeholder)
# ---------------------------------------------------------------------------


def badword_filter(
    docs: DataFrame,
    terms: list[str],
    text_col: str = "text",
) -> DataFrame:
    """Wordlist content filter — C4's first rule (Raffel et al. 2020
    §2.2 drops any page containing a listed word). Adds (n_tokens,
    n_hits, hit_permille, flagged) per row; a token is a maximal
    [a-z0-9]+ run of the lowercased text (no empty-edge artifacts),
    hits are whole-word (\\b-bounded) matches of any listed term.

    Scale shape: the list is compiled into ONE alternation regex
    evaluated in the scan stage — zero shuffle, zero Python, and the
    \"broadcast\" is the compiled pattern riding the task closure, the
    right call for the few-hundred-word lists production uses. A list
    too big to alternate (≫10⁴ terms) switches to the token-explode +
    broadcast-hash-join shape instead (`filter_blocklist` shows it);
    the verdict column is identical."""
    low = F.lower(F.col(text_col))
    pat = r"\b(" + "|".join(terms) + r")\b"
    n_tokens = F.size(
        F.regexp_extract_all(low, F.lit(r"[a-z0-9]+"), F.lit(0))
    ).cast("long")
    n_hits = F.size(
        F.regexp_extract_all(low, F.lit(pat), F.lit(1))
    ).cast("long")
    permille = F.when(
        n_tokens > 0, F.floor(n_hits * 1000 / n_tokens)
    ).otherwise(F.lit(0)).cast("long")
    return docs.select(
        "*",
        n_tokens.alias("n_tokens"),
        n_hits.alias("n_hits"),
        permille.alias("hit_permille"),
        (n_hits > 0).alias("flagged"),
    )


_BADWORDS_SYNTH = ["xxxblocka", "xxxblockb", "xxxblockc"]


def _text_badwords_sql() -> str:
    return """
WITH m AS (
  SELECT doc_id,
         CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
           AS base_tokens,
         CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END
           + CASE WHEN doc_id % 6 = 0 THEN 2 ELSE 0 END AS planted
  FROM documents
)
SELECT doc_id,
       base_tokens + planted AS n_tokens,
       CAST(planted AS BIGINT) AS n_hits,
       CASE WHEN base_tokens + planted > 0
            THEN planted * 1000 // (base_tokens + planted)
            ELSE 0 END AS hit_permille,
       planted > 0 AS flagged
FROM m
"""


@_q("text_badwords", _text_badwords_sql())
def text_badwords(spark, sf):
    """Badword filter, hash-verified closed-form: terms are planted per
    doc_id residue (%4 → one hit, %6 → two more, %12 → all three) onto
    the clean word-salad corpus, so the oracle predicts every count
    arithmetically — only the base token count mirrors the [a-z0-9]+
    tokenizer. Pins the alternation regex, word boundaries, and the
    integer permille math; docs with zero hits stay visible
    (flagged=false), which is what makes the column an ablatable
    verdict rather than a destructive filter."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(did % 4 == 0, F.lit(" xxxblocka")).otherwise(F.lit("")),
        F.when(did % 6 == 0, F.lit(" xxxblockb xxxblockc")).otherwise(
            F.lit("")
        ),
    )
    planted = d.select("doc_id", t.alias("text"))
    return badword_filter(planted, _BADWORDS_SYNTH).select(
        "doc_id", "n_tokens", "n_hits", "hit_permille", "flagged"
    )


# ---------------------------------------------------------------------------
# License detection (open-license corpus filtering)
# ---------------------------------------------------------------------------

_CC_HREF_RE = r"creativecommons\.org/licenses/([a-z-]+)/([0-9]\.[0-9])"
_CC_TEXT_RE = r"\bCC BY(?:-[A-Z]{2})* [0-9]\.[0-9]"


def detect_license(df: DataFrame, html_col: str = "html_s") -> DataFrame:
    """License detection over page markup — the filter an open-license
    corpus build runs before including a page (and a reuse-compliance
    signal for everything else). Three detectors, strongest first:
    a creativecommons.org/licenses/<type>/<ver> href (normalized to
    ``cc-<type>-<ver>``), a plain-text "CC BY[-XX]* d.d" mention
    (lowercased, space→dash), and a bare rel="license" link (→
    ``custom`` — some license, unknown terms). ``license`` is NULL when
    nothing matches; ``has_rel_license`` stays independently visible so
    ablations can split custom-vs-CC.

    Scale shape: three regexp_extracts + string predicates in the scan
    stage — zero shuffle, zero Python; patterns sit in the Java∩RE2
    subset so the twin SQL computes identical strings."""
    x = F.col(html_col)
    cc_type = F.regexp_extract(x, _CC_HREF_RE, 1)
    cc_ver = F.regexp_extract(x, _CC_HREF_RE, 2)
    cc_href = F.when(
        cc_type != "", F.concat(F.lit("cc-"), cc_type, F.lit("-"), cc_ver)
    )
    mention = F.regexp_extract(x, _CC_TEXT_RE, 0)
    cc_text = F.when(
        mention != "", F.lower(F.regexp_replace(mention, " ", "-"))
    )
    has_rel = F.instr(x, 'rel="license"') > 0
    lic = F.coalesce(
        cc_href, cc_text, F.when(has_rel, F.lit("custom"))
    )
    return df.select(
        "*", has_rel.alias("has_rel_license"), lic.alias("license")
    )


def _doc_license_sql() -> str:
    return """
WITH m AS (
  SELECT doc_id,
         CASE doc_id % 4 WHEN 0 THEN 'by' WHEN 1 THEN 'by-sa'
              WHEN 2 THEN 'by-nc' ELSE 'by-nd' END AS t,
         CASE WHEN doc_id % 2 = 0 THEN '4.0' ELSE '3.0' END AS v
  FROM documents
)
SELECT doc_id,
       doc_id % 3 = 0 OR (doc_id % 3 = 2 AND doc_id % 7 = 0)
         AS has_rel_license,
       CASE WHEN doc_id % 3 = 0 THEN 'cc-' || t || '-' || v
            WHEN doc_id % 3 = 1 AND doc_id % 5 = 0 THEN 'cc-by-sa-4.0'
            WHEN doc_id % 3 = 2 AND doc_id % 7 = 0 THEN 'custom'
            END AS license
FROM m
"""


@_q("doc_license", _doc_license_sql())
def doc_license(spark, sf):
    """License detection, hash-verified closed-form: pages plant one of
    the three signal shapes by residue — a CC href (type/version matrix
    over %4 × %2), a bare text mention "CC BY-SA 4.0" with NO href, a
    rel="license" link to non-CC terms — or nothing (the NULL path).
    The oracle derives every verdict arithmetically from the residues,
    so the regex chain, precedence order, and normalization are all
    pinned against intent rather than a twin regex."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    t = (
        F.when(did % 4 == 0, F.lit("by"))
        .when(did % 4 == 1, F.lit("by-sa"))
        .when(did % 4 == 2, F.lit("by-nc"))
        .otherwise(F.lit("by-nd"))
    )
    v = F.when(did % 2 == 0, F.lit("4.0")).otherwise(F.lit("3.0"))
    html = F.concat(
        F.lit("<html><body><p>"),
        F.col("text"),
        F.lit("</p>"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit('<a rel="license" href="https://creativecommons.org'
                      '/licenses/'),
                t, F.lit("/"), v, F.lit('/">Some rights reserved</a>'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            (did % 3 == 1) & (did % 5 == 0),
            F.lit("<p>Licensed under CC BY-SA 4.0.</p>"),
        ).otherwise(F.lit("")),
        F.when(
            (did % 3 == 2) & (did % 7 == 0),
            F.lit('<a rel="license" href="https://example.com/terms">'
                  "Terms</a>"),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    pages = d.select("doc_id", html.alias("html_s"))
    return detect_license(pages).select(
        "doc_id", "has_rel_license", "license"
    )


# ---------------------------------------------------------------------------
# Soft-404 detection (200-status error pages)
# ---------------------------------------------------------------------------

_SOFT404_TITLE_RE = r"(?i)\b(404|page not found|not found|error)\b"
_SOFT404_BODY_RE = (
    r"(?i)\b(page (?:was )?not found|no longer (?:exists|available)"
    r"|does not exist)\b"
)


def detect_soft404(
    df: DataFrame,
    title_col: str = "title",
    text_col: str = "text",
    status_col: str = "status",
    short_chars: int = 400,
) -> DataFrame:
    """Soft-404 detection — pages that answer HTTP 200 with error-page
    content poison both the training corpus (boilerplate decoys) and the
    link graph (phantom endpoints), and every production crawler filters
    them heuristically. Rule stack, each independently visible for
    ablations: an error-phrase title, an error-phrase body, a
    short-body floor; the verdict fires only on status 200 (a real 404
    is already handled by status filtering) when the title matches OR
    the body matches on a short page.

    Scale shape: two regexes + a length predicate in the scan stage —
    zero shuffle, zero Python; Java∩RE2 patterns."""
    title_err = F.coalesce(
        F.regexp_extract(F.col(title_col), _SOFT404_TITLE_RE, 0) != "",
        F.lit(False),
    )
    body_err = F.coalesce(
        F.regexp_extract(F.col(text_col), _SOFT404_BODY_RE, 0) != "",
        F.lit(False),
    )
    short = F.coalesce(
        F.length(text_col) < short_chars, F.lit(True)
    )
    verdict = (F.col(status_col) == 200) & (
        title_err | (body_err & short)
    )
    return df.select(
        "*",
        title_err.alias("title_err"),
        body_err.alias("body_err"),
        short.alias("short_body"),
        verdict.alias("is_soft404"),
    )


def _doc_soft404_sql() -> str:
    return """
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0 THEN 404 ELSE 200 END AS status,
         doc_id % 11 = 0 AS title_err,
         doc_id % 13 = 0 AS body_err,
         CASE WHEN doc_id % 13 = 0 AND doc_id % 2 = 0
              THEN 120 ELSE 450 END AS body_len
  FROM documents
)
SELECT doc_id, CAST(status AS INT) AS status, title_err, body_err,
       body_len < 400 AS short_body,
       status = 200 AND (title_err OR (body_err AND body_len < 400))
         AS is_soft404
FROM m
"""


@_q("doc_soft404", _doc_soft404_sql())
def doc_soft404(spark, sf):
    """Soft-404 detection, hash-verified closed-form: titles/bodies are
    synthesized by residue — %11 plants a '404 Not Found' title, %13 an
    error-phrase body that is SHORT only on even ids (pinning that body
    phrases alone don't fire on long pages), %17 a real 404 status that
    must suppress the verdict. The oracle derives every boolean
    arithmetically; body text is padded with 'x' runs so the length
    floor is exact on both engines."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    status = F.when(did % 17 == 0, F.lit(404)).otherwise(F.lit(200))
    # filler titles fuse the id into one word ("Doc404") so \b404\b can
    # never fire on the id itself — only planted %11 titles may match
    title = F.when(
        did % 11 == 0, F.lit("404 Not Found - example.com")
    ).otherwise(F.concat(F.lit("Doc"), did.cast("string")))
    body_len = F.when(
        (did % 13 == 0) & (did % 2 == 0), F.lit(120)
    ).otherwise(F.lit(450))
    phrase = F.when(
        did % 13 == 0, F.lit("Sorry, this page was not found. ")
    ).otherwise(F.lit(""))
    body = F.rpad(phrase, body_len, "x")
    pages = d.select(
        "doc_id",
        title.alias("title"),
        body.alias("text"),
        status.cast("int").alias("status"),
    )
    return detect_soft404(pages).select(
        "doc_id", "status", "title_err", "body_err", "short_body",
        "is_soft404",
    )


# ---------------------------------------------------------------------------
# De-hyphenation (PDF line-wrap repair)
# ---------------------------------------------------------------------------


def dehyphenate(
    df: DataFrame, text_col: str = "text", out_col: str = "text_clean"
) -> DataFrame:
    """PDF line-wrap repair — extracted PDF text carries the layout's
    end-of-line hyphenation ("exam-\\nple") and soft line breaks that a
    training corpus must not learn as token boundaries. Three passes, in
    order: (1) re-join letter-hyphen-newline-letter word splits, (2)
    protect paragraph breaks (2+ newlines) behind a \\x01 sentinel so
    pass (3) can collapse the remaining single newlines to spaces
    without a variable-length lookaround (Java regex replaceAll resumes
    AFTER the matched region, so "a\\nb\\nc" under ([^\\n])\\n([^\\n])
    would miss every other break — the sentinel sidesteps that). Real
    compound hyphens ("well-known") are untouched: the join fires only
    across a newline.

    Scale shape: four regexp_replace calls in the scan stage — zero
    shuffle, zero Python, whole-stage codegen."""
    joined = F.regexp_replace(
        F.col(text_col), r"(\p{L})-\n(\p{L})", r"$1$2"
    )
    para = F.regexp_replace(joined, "\n{2,}", "\x01")
    soft = F.regexp_replace(para, "\n", " ")
    out = F.regexp_replace(soft, "\x01", "\n\n")
    return df.select("*", out.alias(out_col))


def _dehyph_sql() -> str:
    return """
SELECT doc_id,
       CASE doc_id % 3
         WHEN 0 THEN 'German example of a rejoined word'
         WHEN 1 THEN 'a well-known phrase kept intact'
         ELSE 'para one' || chr(10) || chr(10) || 'para two'
       END AS text_clean
FROM documents
"""


@_q("text_dehyphenate", _dehyph_sql())
def text_dehyphenate(spark, sf):
    """De-hyphenation, hash-verified closed-form: each residue class
    plants one repair shape — %3==0 two hyphen-newline word splits
    (one capitalized, pinning \\p{L} over [a-z]) plus a soft break,
    %3==1 a compound hyphen WITHOUT a newline that must survive plus a
    soft break, %3==2 a paragraph break that must be preserved verbatim.
    The oracle states the repaired strings directly, so the regex chain,
    the pass order, and the sentinel trick are all pinned against
    intent rather than a twin regex."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    text = (
        F.when(did % 3 == 0,
               F.lit("Ger-\nman exam-\nple of a\nrejoined word"))
        .when(did % 3 == 1, F.lit("a well-known\nphrase kept intact"))
        .otherwise(F.lit("para one\n\npara two"))
    )
    pages = d.select("doc_id", text.alias("text"))
    return dehyphenate(pages).select("doc_id", "text_clean")


# ---------------------------------------------------------------------------
# HTTP redirect-chain resolution
# ---------------------------------------------------------------------------

_REDIRECT_STATUSES = (301, 302, 303, 307, 308)


def resolve_redirects(
    pages: DataFrame,
    url_col: str = "url",
    status_col: str = "status",
    location_col: str = "location",
    max_hops: int = 4,
    broadcast_edges: bool = False,
) -> DataFrame:
    """Bounded HTTP redirect-chain resolution — the crawl's 3xx responses
    (``warc_headers`` harvests status + Location) form a url→url edge
    map, and every fetched url is walked to its landing page: the url of
    record for dedup (``dedup_canonical`` sees the DOM's canonical hint;
    this sees the SERVER's), for the link graph, and for refetch
    scheduling. Output per url: ``final_url``, ``hops``, a ``kind``
    verdict (``ok`` = not a redirect, ``resolved`` = chain terminated,
    ``unresolved`` = still redirecting after ``max_hops`` — a loop or an
    over-long chain), and ``final_in_crawl`` (the landing page was
    itself fetched — false means the chain exits the crawl).

    Scale shape: ``max_hops`` url-keyed equi-joins, each shuffling only
    (url, current) string pairs — payloads never move. Redirects are
    typically ≤10% of fetch volume, so ``broadcast_edges=True`` turns
    every hop into a broadcast hash join with ZERO exchange on the big
    side; the default leaves the choice to AQE. Chains longer than ~5
    are dead in practice (browsers cap near 20, crawlers near 5), so
    sequential hops beat pointer-doubling (log-round path-halving à la
    ``connected_components``) on constant factors; the doubling form is
    the documented fallback if a corpus ever carries deep chains. The
    edge map collapses duplicate fetches of the same url with ``max``
    (deterministic under re-crawl dups, unlike dropDuplicates)."""
    edges = (
        pages.filter(
            F.col(status_col).isin(list(_REDIRECT_STATUSES))
            & F.col(location_col).isNotNull()
        )
        .groupBy(F.col(url_col).alias("_src"))
        .agg(F.max(location_col).alias("_dst"))
    )
    if broadcast_edges:
        edges = F.broadcast(edges)
    cur = pages.select(
        F.col(url_col).alias("url"),
        F.col(url_col).alias("final_url"),
        F.lit(0).alias("hops"),
    )
    for i in range(max_hops):
        e = edges.select(
            F.col("_src").alias(f"_src{i}"), F.col("_dst").alias(f"_dst{i}")
        )
        cur = cur.join(
            e, cur["final_url"] == e[f"_src{i}"], "left"
        ).select(
            "url",
            F.coalesce(f"_dst{i}", "final_url").alias("final_url"),
            (
                F.col("hops")
                + F.when(F.col(f"_dst{i}").isNotNull(), 1).otherwise(0)
            ).alias("hops"),
        )
    still = edges.select(F.col("_src").alias("_still"))
    fetched = pages.select(F.col(url_col).alias("_page")).distinct()
    return (
        cur.join(still, cur["final_url"] == still["_still"], "left")
        .join(fetched, F.col("final_url") == fetched["_page"], "left")
        .select(
            "url",
            "final_url",
            F.col("hops").cast("int").alias("hops"),
            F.when(F.col("_still").isNotNull(), F.lit("unresolved"))
            .when(F.col("hops") == 0, F.lit("ok"))
            .otherwise(F.lit("resolved"))
            .alias("kind"),
            F.col("_page").isNotNull().alias("final_in_crawl"),
        )
    )


def _crawl_redirects_sql() -> str:
    return """
WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
base AS (
  SELECT doc_id, mx,
         doc_id % 5 = 1 AND doc_id % 97 = 0 AS is_loop,
         LEAST((5 - doc_id % 5) % 5, mx - doc_id + 1) AS steps
  FROM documents, mx
)
SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN is_loop THEN 'u' || CAST(doc_id AS VARCHAR)
            ELSE 'u' || CAST(doc_id + steps AS VARCHAR) END AS final_url,
       CAST(CASE WHEN is_loop THEN 4 ELSE steps END AS INT) AS hops,
       CASE WHEN is_loop THEN 'unresolved'
            WHEN steps = 0 THEN 'ok'
            ELSE 'resolved' END AS kind,
       CASE WHEN is_loop THEN TRUE
            ELSE doc_id + steps <= mx END AS final_in_crawl
FROM base
"""


@_q("crawl_redirects", _crawl_redirects_sql())
def crawl_redirects(spark, sf):
    """Redirect resolution, hash-verified closed-form: urls u0..uN chain
    by consecutive id — every id not divisible by 5 is a 301 to the next
    id, so chains of 1–4 hops end on the next multiple of 5 (the 200
    rows); id%5==1 ∧ id%97==0 plants a SELF-loop that must exhaust
    max_hops and verdict ``unresolved`` (planted at chain position 1, so
    no other chain crosses it); the table's tail ids redirect past
    max(doc_id), pinning the chain-exits-the-crawl path
    (``final_in_crawl=false``). The oracle derives final url, hop count,
    verdict and in-crawl flag arithmetically from the residues — the
    join-walk, loop exhaustion, and termination rules are pinned against
    intent, not a twin walk."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    is_loop = (did % 5 == 1) & (did % 97 == 0)
    u = F.concat(F.lit("u"), did.cast("string"))
    status = F.when(did % 5 == 0, F.lit(200)).otherwise(F.lit(301))
    loc = (
        F.when(did % 5 == 0, F.lit(None).cast("string"))
        .when(is_loop, u)
        .otherwise(F.concat(F.lit("u"), (did + 1).cast("string")))
    )
    pages = d.select(
        u.alias("url"),
        status.cast("int").alias("status"),
        loc.alias("location"),
    )
    return resolve_redirects(pages, max_hops=4).select(
        "url", "final_url", "hops", "kind", "final_in_crawl"
    )


# ---------------------------------------------------------------------------
# Publication-date extraction
# ---------------------------------------------------------------------------

_META_PUBDATE_RE = (
    r'property="article:published_time" content="(\d{4}-\d{2}-\d{2})'
)
_TIME_TAG_RE = r'<time datetime="(\d{4}-\d{2}-\d{2})"'
_URL_DATE_RE = r"/((?:19|20)\d{2})/(\d{2})/"


def extract_pubdate(
    df: DataFrame, url_col: str = "url", html_col: str = "html_s"
) -> DataFrame:
    """Publication-date extraction — freshness-weighted sampling, change
    -rate priors, and time-sliced corpus ablations all need a per-page
    date, and pages declare it three ways with well-known reliability
    ordering: (1) the Open Graph ``article:published_time`` meta (most
    explicit), (2) a ``<time datetime=...>`` element, (3) a
    ``/YYYY/MM/`` path segment in the url itself (weakest — day unknown,
    pinned to the 1st). First present source wins; ``pub_source`` says
    which fired so downstream can weight by provenance; both columns are
    NULL when the page is silent.

    Scale shape: three regexp_extract calls in the scan stage — zero
    shuffle, zero Python; Java∩RE2 patterns."""
    html, url = F.col(html_col), F.col(url_col)
    meta = F.regexp_extract(html, _META_PUBDATE_RE, 1)
    ttag = F.regexp_extract(html, _TIME_TAG_RE, 1)
    uy = F.regexp_extract(url, _URL_DATE_RE, 1)
    um = F.regexp_extract(url, _URL_DATE_RE, 2)
    src = (
        F.when(meta != "", F.lit("meta"))
        .when(ttag != "", F.lit("time"))
        .when(uy != "", F.lit("url"))
    )
    iso = (
        F.when(meta != "", meta)
        .when(ttag != "", ttag)
        .when(uy != "", F.concat(uy, F.lit("-"), um, F.lit("-01")))
    )
    return df.select(
        "*", src.alias("pub_source"), F.to_date(iso).alias("pub_date")
    )


def _doc_pubdate_sql() -> str:
    return """
WITH m AS (
  SELECT doc_id,
         2019 + doc_id % 7 AS y,  1 + doc_id % 12 AS mo, 1 + doc_id % 28 AS d,
         2001 + doc_id % 9 AS y2, 1 + doc_id % 6  AS mo2, 1 + doc_id % 27 AS d2,
         2010 + doc_id % 8 AS y3, 1 + doc_id % 12 AS mo3
  FROM documents
)
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'meta'
            WHEN doc_id % 4 = 0 THEN 'time'
            WHEN doc_id % 5 = 0 THEN 'url' END AS pub_source,
       CASE WHEN doc_id % 3 = 0 THEN make_date(y, mo, d)
            WHEN doc_id % 4 = 0 THEN make_date(y2, mo2, d2)
            WHEN doc_id % 5 = 0 THEN make_date(y3, mo3, 1) END AS pub_date
FROM m
"""


@_q("doc_pubdate", _doc_pubdate_sql())
def doc_pubdate(spark, sf):
    """Publication dates, hash-verified closed-form: %3 plants the OG
    meta (with a full timestamp — the regex must take the date prefix),
    %4 a <time> element carrying a DIFFERENT date, %5 a /YYYY/MM/ url
    path carrying a third — so ids divisible by 12, 15, or 20 hold two+
    sources with disagreeing dates and pin the precedence order; ids
    coprime to 3·4·5 pin the double-NULL silent path. The oracle states
    each winning date arithmetically (make_date over the residues), so
    the regexes, the precedence chain, and the day-pinned url form are
    verified against intent."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    p2 = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    iso1 = F.concat(
        (did % 7 + 2019).cast("string"), F.lit("-"),
        p2(did % 12 + 1), F.lit("-"), p2(did % 28 + 1),
    )
    iso2 = F.concat(
        (did % 9 + 2001).cast("string"), F.lit("-"),
        p2(did % 6 + 1), F.lit("-"), p2(did % 27 + 1),
    )
    html = F.concat(
        F.lit("<html><head>"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit('<meta property="article:published_time" content="'),
                iso1, F.lit('T10:00:00Z">'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</head><body>"),
        F.when(
            did % 4 == 0,
            F.concat(F.lit('<time datetime="'), iso2, F.lit('">then</time>')),
        ).otherwise(F.lit("")),
        F.lit("<p>body</p></body></html>"),
    )
    url = F.when(
        did % 5 == 0,
        F.concat(
            F.lit("https://ex.com/"), (did % 8 + 2010).cast("string"),
            F.lit("/"), p2(did % 12 + 1), F.lit("/post-"),
            did.cast("string"),
        ),
    ).otherwise(
        F.concat(F.lit("https://ex.com/post-"), did.cast("string"))
    )
    pages = d.select(
        "doc_id", url.alias("url"), html.alias("html_s")
    )
    return extract_pubdate(pages).select(
        "doc_id", "pub_source", "pub_date"
    )


# ---------------------------------------------------------------------------
# Link-density block classification (densitometric boilerplate)
# ---------------------------------------------------------------------------

_ANCHOR_TEXT_RE = r"<a[^>]*>([^<]*)</a>"
_TAG_RE = r"<[^>]*>"


def block_density(
    df: DataFrame,
    block_col: str = "block_html",
    min_chars: int = 80,
    max_link_permille: int = 333,
) -> DataFrame:
    """Densitometric block classification (Boilerpipe / jusText family)
    — the class/id boilerplate pass catches ANNOTATED chrome; this is
    the structural complement that needs no annotations: a block whose
    visible text is mostly anchor text is navigation, and a block too
    short to be prose is chrome regardless. Per block: stripped text
    length, total anchor-text length, integer link density in permille,
    and the content verdict (long enough AND link-sparse). Thresholds
    are the published jusText defaults' shape (length floor + density
    ceiling), exposed as parameters for corpus-specific tuning and
    ablation.

    Scale shape: two regexes + an array fold in the scan stage — the
    anchor lengths sum via ``aggregate`` over ``regexp_extract_all``
    (no explode, so block rows never fan out) — zero shuffle, zero
    Python; Java∩RE2 patterns."""
    block = F.col(block_col)
    text_chars = F.length(F.regexp_replace(block, _TAG_RE, ""))
    anchor_chars = F.aggregate(
        F.transform(
            F.regexp_extract_all(block, F.lit(_ANCHOR_TEXT_RE), F.lit(1)),
            F.length,
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    permille = F.floor(
        anchor_chars * 1000 / F.greatest(text_chars, F.lit(1))
    ).cast("int")
    is_content = (text_chars >= min_chars) & (
        permille <= max_link_permille
    )
    return df.select(
        "*",
        text_chars.cast("int").alias("text_chars"),
        anchor_chars.cast("int").alias("anchor_chars"),
        permille.alias("link_permille"),
        is_content.alias("is_content"),
    )


def _block_density_sql() -> str:
    return """
SELECT doc_id,
       CAST(CASE doc_id % 4 WHEN 0 THEN 10 WHEN 1 THEN 180
            WHEN 2 THEN 180 ELSE 11 END AS INT) AS text_chars,
       CAST(CASE doc_id % 4 WHEN 0 THEN 9 WHEN 2 THEN 20
            ELSE 0 END AS INT) AS anchor_chars,
       CAST(CASE doc_id % 4 WHEN 0 THEN 900 WHEN 2 THEN 111
            ELSE 0 END AS INT) AS link_permille,
       doc_id % 4 IN (1, 2) AS is_content
FROM documents
"""


@_q("block_density", _block_density_sql())
def block_density_q(spark, sf):
    """Block density, hash-verified closed-form: %4 plants the four
    canonical shapes — a nav block that is 90% anchor text (900‰ →
    boilerplate), a 180-char prose paragraph (0‰ → content), prose with
    ONE 20-char inline link (111‰ — links alone must not kill a long
    block), and an 11-char footer (too short regardless of density).
    Every length is an exact rpad/constant, so the oracle states
    text/anchor counts, the permille integer, and the verdict directly
    — strip-tags regex, anchor fold, and both thresholds pinned
    against intent."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    block = (
        F.when(
            did % 4 == 0,
            F.lit('<div><a href="/a">Home</a> <a href="/b">About</a>'
                  "</div>"),
        )
        .when(
            did % 4 == 1,
            F.concat(F.lit("<p>"), F.rpad(F.lit("Real prose "), 180, "y"),
                     F.lit("</p>")),
        )
        .when(
            did % 4 == 2,
            F.concat(
                F.lit("<p>"), F.rpad(F.lit("Prose with "), 160, "y"),
                F.lit('<a href="/x">'), F.rpad(F.lit("a link "), 20, "z"),
                F.lit("</a></p>"),
            ),
        )
        .otherwise(F.lit("<p>(c) example</p>"))
    )
    blocks = d.select("doc_id", block.alias("block_html"))
    return block_density(blocks).select(
        "doc_id", "text_chars", "anchor_chars", "link_permille",
        "is_content",
    )


# ---------------------------------------------------------------------------
# Cache-validator classification (conditional-refetch signals)
# ---------------------------------------------------------------------------


def classify_validators(
    df: DataFrame,
    etag_col: str = "etag",
    lastmod_col: str = "last_modified",
    cache_control_col: str = "cache_control",
) -> DataFrame:
    """Conditional-refetch classification — a recrawl that sends
    If-None-Match / If-Modified-Since pays one RTT and zero bytes for
    unchanged pages, so the scheduler wants to know per url WHICH
    validator the origin offers: a strong ETag (byte-exact), a weak
    ETag (``W/`` prefixed — semantic equivalence only), Last-Modified
    (1-second granularity), or nothing (every refetch is a full GET).
    ``max_age`` (Cache-Control) comes along as the origin's own
    freshness hint — a refetch before it expires is wasted even as a
    conditional. Feeds ``crawl_changerate``'s observed change rate: the
    two signals disagree exactly where origins misconfigure caching.

    Scale shape: string predicates + one regexp_extract in the scan
    stage — zero shuffle, zero Python."""
    etag = F.col(etag_col)
    validator = (
        F.when(etag.isNull() | (etag == ""),
               F.when(F.col(lastmod_col).isNotNull(),
                      F.lit("last_modified")).otherwise(F.lit("none")))
        .when(etag.startswith("W/"), F.lit("weak_etag"))
        .otherwise(F.lit("etag"))
    )
    max_age_s = F.regexp_extract(
        F.coalesce(F.col(cache_control_col), F.lit("")),
        r"max-age=(\d+)", 1,
    )
    max_age = F.when(max_age_s != "", max_age_s.cast("int"))
    return df.select(
        "*",
        validator.alias("validator"),
        max_age.alias("max_age"),
        (validator != "none").alias("conditional_ok"),
    )


def _crawl_validators_sql() -> str:
    return """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'etag'
            WHEN doc_id % 3 = 1 THEN 'weak_etag'
            WHEN doc_id % 4 = 0 THEN 'last_modified'
            ELSE 'none' END AS validator,
       CASE WHEN doc_id % 5 = 0 THEN CAST(3600 * (doc_id % 24) AS INT)
            END AS max_age,
       doc_id % 3 <> 2 OR doc_id % 4 = 0 AS conditional_ok
FROM documents
"""


@_q("crawl_validators", _crawl_validators_sql())
def crawl_validators(spark, sf):
    """Cache validators, hash-verified closed-form: %3 rotates strong
    ETag / weak ``W/`` ETag / no ETag; %4 plants Last-Modified, which
    must win only when both ETags are absent (ids ≡ 2 mod 3 ∧ ≡ 0 mod
    4 pin that precedence); %5 plants Cache-Control with planted
    max-age values including 0 (max_age extracts but the hint is
    'revalidate now'). The oracle derives validator class, max_age,
    and the conditional-refetch flag arithmetically."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    etag = (
        F.when(did % 3 == 0,
               F.concat(F.lit('"v'), did.cast("string"), F.lit('"')))
        .when(did % 3 == 1,
              F.concat(F.lit('W/"v'), did.cast("string"), F.lit('"')))
        .otherwise(F.lit(None).cast("string"))
    )
    lastmod = F.when(
        did % 4 == 0, F.lit("Tue, 01 Jan 2024 00:00:00 GMT")
    ).otherwise(F.lit(None).cast("string"))
    cc = F.when(
        did % 5 == 0,
        F.concat(F.lit("public, max-age="),
                 (3600 * (did % 24)).cast("string")),
    ).otherwise(F.lit(None).cast("string"))
    pages = d.select(
        "doc_id", etag.alias("etag"), lastmod.alias("last_modified"),
        cc.alias("cache_control"),
    )
    return classify_validators(pages).select(
        "doc_id", "validator", "max_age", "conditional_ok"
    )


# ---------------------------------------------------------------------------
# Sitemap coverage (crawl completeness per host)
# ---------------------------------------------------------------------------


def sitemap_coverage(
    crawled: DataFrame,
    declared: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
) -> DataFrame:
    """Per-host crawl-completeness audit: the two url sets every crawl
    operator reconciles — what the host DECLARED in its sitemaps vs
    what the crawler actually FETCHED. Declared-but-not-crawled urls
    are the frontier gap (coverage_permille < 1000 → feed
    ``crawl_frontier``); crawled-but-not-declared urls are orphans
    reached only through links (orphan_permille — high values mean the
    sitemap is stale or partial, a ``host_reputation`` signal).

    Scale shape: one url-keyed full-outer join carrying (url, host)
    pairs only, then one host-keyed groupBy of boolean sums. Host skew
    is bounded by the sitemap protocol itself (50k urls per file);
    the groupBy's partial aggregation collapses each host to one row
    per task before the exchange."""
    c = crawled.select(
        F.col(url_col).alias("_u"), F.col(host_col).alias("_ch")
    )
    d = declared.select(
        F.col(url_col).alias("_du"), F.col(host_col).alias("_dh")
    )
    joined = c.join(d, c["_u"] == d["_du"], "full_outer").select(
        F.coalesce("_ch", "_dh").alias("host"),
        F.col("_u").isNotNull().alias("in_crawl"),
        F.col("_du").isNotNull().alias("in_sitemap"),
    )
    n_crawled = F.sum(F.col("in_crawl").cast("long"))
    n_declared = F.sum(F.col("in_sitemap").cast("long"))
    n_both = F.sum(
        (F.col("in_crawl") & F.col("in_sitemap")).cast("long")
    )
    return joined.groupBy("host").agg(
        n_crawled.alias("n_crawled"),
        n_declared.alias("n_declared"),
        n_both.alias("n_both"),
        F.floor(n_both * 1000 / F.greatest(n_declared, F.lit(1)))
        .cast("int")
        .alias("coverage_permille"),
        F.floor(
            (n_crawled - n_both) * 1000 / F.greatest(n_crawled, F.lit(1))
        )
        .cast("int")
        .alias("orphan_permille"),
    )


def _sitemap_coverage_sql() -> str:
    return """
WITH crawl AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
agg AS (
  SELECT h,
         count(*) AS n_crawled,
         sum(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END)
           + sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS n_declared,
         sum(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END) AS n_both
  FROM crawl GROUP BY h
)
SELECT 'h' || CAST(h AS VARCHAR) AS host,
       CAST(n_crawled AS BIGINT) AS n_crawled,
       CAST(n_declared AS BIGINT) AS n_declared,
       CAST(n_both AS BIGINT) AS n_both,
       CAST(n_both * 1000 // GREATEST(n_declared, 1) AS INT)
         AS coverage_permille,
       CAST((n_crawled - n_both) * 1000 // GREATEST(n_crawled, 1) AS INT)
         AS orphan_permille
FROM agg
"""


@_q("sitemap_coverage", _sitemap_coverage_sql())
def sitemap_coverage_q(spark, sf):
    """Sitemap coverage, hash-verified closed-form: every doc is a
    crawled url on host h(doc_id%7); the host's sitemap declares the
    %3≠0 two-thirds of them (the overlap) plus an extra NEVER-crawled
    url per %4==0 id (the frontier gap), so every host has all three
    set regions populated. The oracle aggregates the residue counts per
    host arithmetically — join direction, coalesce of the host column
    across the outer join, and both integer permilles pinned against
    intent."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    host = F.concat(F.lit("h"), (did % 7).cast("string"))
    page = F.concat(
        F.lit("https://"), host, F.lit(".ex/p"), did.cast("string")
    )
    crawled = d.select(page.alias("url"), host.alias("host"))
    declared = (
        d.filter(did % 3 != 0)
        .select(page.alias("url"), host.alias("host"))
        .unionByName(
            d.filter(did % 4 == 0).select(
                F.concat(
                    F.lit("https://"), host, F.lit(".ex/extra"),
                    did.cast("string"),
                ).alias("url"),
                host.alias("host"),
            )
        )
    )
    return sitemap_coverage(crawled, declared)


# ---------------------------------------------------------------------------
# Seed distance (BFS hops from a trusted seed set)
# ---------------------------------------------------------------------------


def seed_distance(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
) -> DataFrame:
    """Hop distance from a trusted seed set over the host graph — the
    crawl-quality prior behind Wikipedia-seeded corpus filters (OpenWebText
    descendants): pages on hosts few link-hops from vetted seeds are
    likelier high-quality, and hosts unreachable within the horizon get
    NULL (frontier should not expand there on quality grounds alone).
    Bounded-hop BFS: each round relaxes the frontier through the edge
    list and keeps the per-node minimum.

    Scale shape: one round = one join keyed on the edge SOURCE + one
    min-groupBy on the node — both exchanges carry (host, tiny-int)
    pairs, never adjacency lists; a production run pre-partitions edges
    by source so every round reuses one exchange, exactly as
    ``graph_pagerank`` documents. ``max_hops`` is a horizon, not a
    convergence test — the plan stays statically analyzable (the
    distance-to-seed signal saturates by ~4 hops on web graphs anyway);
    per-round ``localCheckpoint`` truncates lineage."""
    dist = seeds.select(F.col("host"), F.lit(0).alias("dist"))
    e = edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
    for _ in range(max_hops):
        relax = (
            dist.join(e, dist["host"] == e["_s"], "inner")
            .select(F.col("_d").alias("host"),
                    (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("host")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return nodes.join(dist, "host", "left").select(
        "host", F.col("dist").cast("int").alias("dist")
    )


def _seed_distance_sql() -> str:
    return """
SELECT DISTINCT 'h' || CAST(doc_id % 11 AS VARCHAR) AS host,
       CAST(CASE doc_id % 11
              WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 3
              WHEN 4 THEN 1 WHEN 5 THEN 2 WHEN 6 THEN 3 WHEN 7 THEN 4
            END AS INT) AS dist
FROM documents
"""


@_q("seed_distance", _seed_distance_sql())
def seed_distance_q(spark, sf):
    """Seed distance, hash-verified closed-form: 11 hosts in a chain
    h0→h1→…→h9 plus a SHORTCUT edge h0→h4 — so h4's chain distance (4)
    must lose to the shortcut (1) and pull h5–h7 along (2, 3, 4),
    pinning the min-merge across competing paths; h8–h10 sit beyond the
    4-hop horizon and must stay NULL (h8 IS reachable in 5 — the
    horizon, not reachability, decides). Seed = h0. The oracle states
    every distance as a constant per host index."""
    d = load(spark, sf, "documents")
    k = F.col("doc_id") % 11
    host = F.concat(F.lit("h"), k.cast("string"))
    nodes = d.select(host.alias("host")).distinct()
    chain = (
        d.filter(k < 10)
        .select(
            host.alias("src"),
            F.concat(F.lit("h"), (k + 1).cast("string")).alias("dst"),
        )
        .distinct()
    )
    shortcut = (
        d.filter(F.col("doc_id") % 97 == 0)
        .select(F.lit("h0").alias("src"), F.lit("h4").alias("dst"))
        .distinct()
    )
    seeds = d.filter(k == 0).select(host.alias("host")).distinct()
    return seed_distance(
        nodes, chain.unionByName(shortcut), seeds, max_hops=4
    )


# ---------------------------------------------------------------------------
# Type-token ratio (lexical diversity)
# ---------------------------------------------------------------------------


def text_ttr(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Type-token ratio — the lexical-diversity quality signal: spam,
    keyword-stuffed, and template-generated pages repeat a tiny
    vocabulary (low TTR), while prose sits high; complements
    ``text_repetition`` (verbatim n-gram runs) and ``text_dup_lines``
    (whole-line duplication) by catching diffuse repetition neither
    sees. Tokens are lowercased whitespace splits; the ratio is an
    integer permille (one floor division, deterministic on both
    engines).

    Scale shape: split + array_distinct + two size() calls in the scan
    stage — the token array lives only inside one Project's row scope
    (never exploded, never shuffled); zero Python."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    n_tokens = F.size(toks)
    n_types = F.size(F.array_distinct(toks))
    return df.select(
        "*",
        n_tokens.alias("n_tokens"),
        n_types.alias("n_types"),
        F.floor(n_types * 1000 / F.greatest(n_tokens, F.lit(1)))
        .cast("int")
        .alias("ttr_permille"),
    )


def _text_ttr_sql() -> str:
    return """
SELECT doc_id,
       CAST(CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 50
            ELSE 5 END AS INT) AS n_tokens,
       CAST(CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 1
            ELSE 3 END AS INT) AS n_types,
       CAST(CASE doc_id % 3 WHEN 0 THEN 1000 WHEN 1 THEN 20
            ELSE 600 END AS INT) AS ttr_permille
FROM documents
"""


@_q("text_ttr", _text_ttr_sql())
def text_ttr_q(spark, sf):
    """TTR, hash-verified closed-form: %3 plants the three diversity
    shapes — four all-distinct id-salted tokens (1000‰), one token
    repeated 50× with a trailing space the empty-filter must drop
    (20‰), and a mixed-CASE five-token string ('A a b B c') whose
    folding to 3 types pins the lowercasing (600‰). The oracle states
    every count and permille as residue constants."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    i = did.cast("string")
    text = (
        F.when(
            did % 3 == 0,
            F.concat(F.lit("w"), i, F.lit(" x"), i, F.lit(" y"), i,
                     F.lit(" z"), i),
        )
        .when(did % 3 == 1, F.repeat(F.lit("tok "), 50))
        .otherwise(F.lit("A a b B c"))
    )
    pages = d.select("doc_id", text.alias("text"))
    return text_ttr(pages).select(
        "doc_id", "n_tokens", "n_types", "ttr_permille"
    )


# ---------------------------------------------------------------------------
# Host-frequency boilerplate lines (cross-document chrome)
# ---------------------------------------------------------------------------


def host_boilerplate(
    df: DataFrame,
    host_col: str = "host",
    doc_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    thresh_permille: int = 500,
) -> DataFrame:
    """Cross-document boilerplate detection (the CCNet-family move that
    per-page heuristics cannot make): a line appearing on ≥ half of a
    HOST's pages is site chrome — cookie banners, footers, nav crumbs —
    no matter how prose-like it reads. Per doc: distinct non-empty line
    count and how many of them are host-frequent (flagged when line
    doc-frequency × 1000 ≥ thresh_permille × host-doc-count, hosts with
    fewer than ``min_docs`` pages never flag — one page is no evidence).

    Scale shape: lines dedup WITHIN the doc via array_distinct before
    the explode (no shuffle spent on within-doc repeats); every exchange
    after that carries (host, 16-byte line-md5) or (doc, ints) — line
    TEXT never shuffles; the per-host doc count is a tiny aggregate
    joined broadcast; the doc-frequency groupBy and the flag join share
    the same (host, line-hash) key, so Catalyst reuses one exchange."""
    base = df.select(
        F.col(host_col).alias("host"),
        F.col(doc_col).alias("doc"),
        F.explode(
            F.filter(
                F.array_distinct(F.split(F.col(text_col), "\n")),
                lambda s: s != "",
            )
        ).alias("line"),
    ).select("host", "doc", F.md5(F.encode("line", "utf-8")).alias("lh"))
    host_docs = df.groupBy(F.col(host_col).alias("host")).agg(
        F.countDistinct(F.col(doc_col)).alias("n_docs")
    )
    freq = base.groupBy("host", "lh").agg(F.count("*").alias("df_cnt"))
    boiler = (
        freq.join(F.broadcast(host_docs), "host")
        .filter(
            (F.col("n_docs") >= min_docs)
            & (F.col("df_cnt") * 1000 >= thresh_permille * F.col("n_docs"))
        )
        .select("host", "lh", F.lit(True).alias("is_boiler"))
    )
    flagged = base.join(boiler, ["host", "lh"], "left")
    n_lines = F.count("*")
    n_boiler = F.sum(
        F.coalesce(F.col("is_boiler"), F.lit(False)).cast("long")
    )
    return flagged.groupBy("doc").agg(
        n_lines.alias("n_lines"),
        n_boiler.alias("n_boiler"),
        F.floor(n_boiler * 1000 / F.greatest(n_lines, F.lit(1)))
        .cast("int")
        .alias("boiler_permille"),
    )


def _host_boilerplate_sql() -> str:
    return """
SELECT doc_id AS doc,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 2 END AS BIGINT)
         AS n_lines,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT)
         AS n_boiler,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 666 ELSE 500 END AS INT)
         AS boiler_permille
FROM documents
"""


@_q("host_boilerplate", _host_boilerplate_sql())
def host_boilerplate_q(spark, sf):
    """Host boilerplate, hash-verified closed-form: every doc on host
    h(doc_id%5) carries three planted line shapes — a header ALL host
    docs share (1000‰ frequent), a promo line on exactly the even HALF
    (500‰ — sits precisely ON the threshold, pinning the ≥), and a
    doc-unique line that must never flag. Host residue classes split
    parity evenly, so the oracle states line counts, boiler counts and
    permilles as pure parity constants."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    k = (did % 5).cast("string")
    text = F.concat(
        F.lit("welcome to h"), k,
        F.when(
            did % 2 == 0,
            F.concat(F.lit("\npromo h"), k),
        ).otherwise(F.lit("")),
        F.lit("\nunique "), did.cast("string"),
    )
    pages = d.select(
        "doc_id",
        F.concat(F.lit("h"), k).alias("host"),
        text.alias("text"),
    )
    return host_boilerplate(pages)


# ---------------------------------------------------------------------------
# Sitemap delta (crawl-to-crawl change feed)
# ---------------------------------------------------------------------------


def sitemap_delta(
    prev: DataFrame, cur: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Crawl-to-crawl sitemap diff: the change feed a scheduler derives
    from two consecutive sitemap fetches of the same host — ``added``
    urls go straight to the frontier (new content, no link-discovery
    latency), ``removed`` urls get retirement checks (realized 404s and
    redirects confirm; still-200s flag a stale sitemap). Unchanged urls
    don't appear: the delta is what drives work, and at 10^9 sitemap
    entries per crawl the unchanged ~95% must never leave the join.

    Scale shape: one url-keyed full-outer join of bare url strings with
    a null-side filter — the anti-join pair expressed as ONE exchange
    instead of two EXCEPTs (which would each shuffle both sides)."""
    p = prev.select(F.col(url_col).alias("_pu")).distinct()
    c = cur.select(F.col(url_col).alias("_cu")).distinct()
    return (
        p.join(c, p["_pu"] == c["_cu"], "full_outer")
        .filter(F.col("_pu").isNull() | F.col("_cu").isNull())
        .select(
            F.coalesce("_cu", "_pu").alias("url"),
            F.when(F.col("_pu").isNull(), F.lit("added"))
            .otherwise(F.lit("removed"))
            .alias("change"),
        )
    )


def _sitemap_delta_sql() -> str:
    return """
SELECT 'https://s.ex/p' || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 7 = 0 THEN 'removed' ELSE 'added' END AS change
FROM documents
WHERE (doc_id % 7 = 0 AND doc_id % 5 <> 2)
   OR (doc_id % 5 = 2 AND doc_id % 7 <> 0)
"""


@_q("sitemap_delta", _sitemap_delta_sql())
def sitemap_delta_q(spark, sf):
    """Sitemap delta, hash-verified closed-form: crawl 1 declares every
    url EXCEPT the %5==2 fifth (those arrive in crawl 2 → added);
    crawl 2 drops the %7==0 seventh (→ removed); ids in BOTH residue
    classes (≡7 mod 35) are in NEITHER crawl and must not appear at all
    — the case that catches a sloppy one-sided diff; everything else is
    in both crawls and is silent. The oracle states the delta by
    residue arithmetic."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    url = F.concat(F.lit("https://s.ex/p"), did.cast("string"))
    prev = d.filter(did % 5 != 2).select(url.alias("url"))
    cur = d.filter(did % 7 != 0).select(url.alias("url"))
    return sitemap_delta(prev, cur)


# ---------------------------------------------------------------------------
# Content sniffing (magic bytes vs declared Content-Type)
# ---------------------------------------------------------------------------


def content_sniff(
    df: DataFrame,
    body_col: str = "body",
    declared_col: str = "content_type",
) -> DataFrame:
    """Magic-byte content detection vs the declared Content-Type — the
    router that decides which parser a payload actually needs (servers
    mislabel constantly: PDFs served as text/html break HTML-only
    pipelines, and a mismatch is also the classic smuggling signal
    security scanners key on). Sniffed kinds: %PDF → pdf, gzip/PNG/JPEG
    magic → their types, leading ``<`` (after optional whitespace/BOM is
    NOT handled — pipelines strip BOMs upstream in decode_html) → html,
    else text. ``mismatch`` fires when both sides are known and the
    sniffed family disagrees with the declared one.

    Scale shape: fixed-offset binary slices compared as hex literals in
    the scan stage — zero shuffle, zero Python, zero regex over the
    body (only the 8-byte prefix is ever touched, so columnar readers
    never materialize full payloads for this check)."""
    head = F.hex(F.substring(F.col(body_col), 1, 4))
    sniffed = (
        F.when(head.startswith("25504446"), F.lit("pdf"))  # %PDF
        .when(head.startswith("1F8B"), F.lit("gzip"))
        .when(head == "89504E47", F.lit("png"))
        .when(head.startswith("FFD8FF"), F.lit("jpeg"))
        .when(head.startswith("3C"), F.lit("html"))
        .otherwise(F.lit("text"))
    )
    decl = F.lower(
        F.split(F.coalesce(F.col(declared_col), F.lit("")), ";")[0]
    )
    decl_kind = (
        F.when(decl == "application/pdf", F.lit("pdf"))
        .when(decl == "application/gzip", F.lit("gzip"))
        .when(decl == "image/png", F.lit("png"))
        .when(decl == "image/jpeg", F.lit("jpeg"))
        .when(decl == "text/html", F.lit("html"))
        .when(decl.startswith("text/"), F.lit("text"))
        .otherwise(F.lit(None).cast("string"))
    )
    return df.select(
        "*",
        sniffed.alias("sniffed"),
        decl_kind.alias("declared_kind"),
        (
            decl_kind.isNotNull() & (sniffed != decl_kind)
        ).alias("mismatch"),
    )


def _content_sniff_sql() -> str:
    return """
SELECT doc_id,
       CASE doc_id % 5 WHEN 0 THEN 'pdf' WHEN 1 THEN 'html'
            WHEN 2 THEN 'png' WHEN 3 THEN 'text' ELSE 'gzip' END
         AS sniffed,
       CASE WHEN doc_id % 7 = 0 THEN 'html'
            WHEN doc_id % 7 = 1 THEN 'pdf'
            WHEN doc_id % 7 = 2 THEN NULL
            ELSE CASE doc_id % 5 WHEN 0 THEN 'pdf' WHEN 1 THEN 'html'
                 WHEN 2 THEN 'png' WHEN 3 THEN 'text' ELSE 'gzip' END
       END AS declared_kind,
       CASE WHEN doc_id % 7 = 0 THEN doc_id % 5 <> 1
            WHEN doc_id % 7 = 1 THEN doc_id % 5 <> 0
            WHEN doc_id % 7 = 2 THEN FALSE
            ELSE FALSE END AS mismatch
FROM documents
"""


@_q("content_sniff", _content_sniff_sql())
def content_sniff_q(spark, sf):
    """Content sniffing, hash-verified closed-form: %5 rotates the five
    magic-byte payload shapes (real %PDF / '<' / PNG / plain / gzip
    prefixes as binary literals); %7 declares text/html (mismatch
    unless the payload IS html), application/pdf (mismatch unless pdf),
    an unknown type (application/x-custom → NULL kind, mismatch must
    stay false), or the TRUE type with a ';charset=' suffix the parser
    must strip. The oracle derives sniffed kind, declared kind and the
    mismatch verdict arithmetically from the residues."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    body = (
        F.when(did % 5 == 0, F.lit(b"%PDF-1.7 fake"))
        .when(did % 5 == 1, F.lit(b"<html><p>x</p>"))
        .when(did % 5 == 2, F.lit(bytes.fromhex("89504E47") + b"rest"))
        .when(did % 5 == 3, F.lit(b"plain words"))
        .otherwise(F.lit(bytes.fromhex("1F8B08") + b"rest"))
    )
    true_ct = (
        F.when(did % 5 == 0, F.lit("application/pdf"))
        .when(did % 5 == 1, F.lit("text/html"))
        .when(did % 5 == 2, F.lit("image/png"))
        .when(did % 5 == 3, F.lit("text/plain"))
        .otherwise(F.lit("application/gzip"))
    )
    declared = (
        F.when(did % 7 == 0, F.lit("text/html"))
        .when(did % 7 == 1, F.lit("application/pdf"))
        .when(did % 7 == 2, F.lit("application/x-custom"))
        .otherwise(F.concat(true_ct, F.lit(";charset=utf-8")))
    )
    pages = d.select(
        "doc_id", body.alias("body"), declared.alias("content_type")
    )
    return content_sniff(pages).select(
        "doc_id", "sniffed", "declared_kind", "mismatch"
    )


def _langseg_sql() -> str:
    """INDEPENDENT SQL reimplementation of the whole langseg pipeline
    (plant → per-paragraph langid → gaps-and-islands merge), reusing the
    real stopword profiles so the heuristic itself is cross-verified at
    paragraph granularity, CJK branch included."""
    from caraspark.langid import PROFILES

    def inlist(lang):
        return ", ".join("'" + w + "'" for w in sorted(PROFILES[lang]))

    g = "greatest(h_de, h_en, h_es, h_fr)"
    return f"""WITH paras AS (
  SELECT d.doc_id, p.pidx,
         CASE ((d.doc_id + (p.pidx * 3) // 4) % 6)
           WHEN 0 THEN 'the and of to in is it for ' || (d.doc_id % 97)
           WHEN 1 THEN 'y en los se por las del con como al ' || (d.doc_id % 97)
           WHEN 2 THEN 'der die das ist nicht von mit den im dem ' || (d.doc_id % 97)
           WHEN 3 THEN 'le les et des dans pour qui sur avec pas ' || (d.doc_id % 97)
           WHEN 4 THEN '漢字漢字漢字 ' || (d.doc_id % 97)
           ELSE '0 1 2 3 4 5 ' || (d.doc_id % 97) END AS para
  FROM documents d,
       (SELECT unnest(generate_series(0, 7)) AS pidx) p
),
toks AS (
  SELECT doc_id, pidx, para,
         list_filter(string_split_regex(lower(para), '\\s+'),
                     x -> x <> '') AS ws
  FROM paras
),
hits AS (
  SELECT doc_id, pidx,
         CASE WHEN length(para) > 0
              AND length(regexp_replace(para, '[^\\x{{4E00}}-\\x{{9FFF}}]',
                                        '', 'g')) > 0.05 * length(para)
              THEN TRUE ELSE FALSE END AS is_cjk,
         len(ws) AS n_toks,
         len(list_filter(ws, x -> x IN ({inlist('de')}))) AS h_de,
         len(list_filter(ws, x -> x IN ({inlist('en')}))) AS h_en,
         len(list_filter(ws, x -> x IN ({inlist('es')}))) AS h_es,
         len(list_filter(ws, x -> x IN ({inlist('fr')}))) AS h_fr
  FROM toks
),
pl AS (
  SELECT doc_id, pidx,
         CASE WHEN is_cjk THEN 'zh'
              WHEN n_toks = 0 THEN 'und'
              WHEN {g} = 0 THEN 'und'
              WHEN h_de = {g} THEN 'de'
              WHEN h_en = {g} THEN 'en'
              WHEN h_es = {g} THEN 'es'
              ELSE 'fr' END AS plang
  FROM hits
),
brk AS (
  SELECT doc_id, pidx, plang,
         CASE WHEN lag(plang) OVER w IS NULL
                OR lag(plang) OVER w <> plang THEN 1 ELSE 0 END AS b
  FROM pl
  WINDOW w AS (PARTITION BY doc_id ORDER BY pidx)
),
segs AS (
  SELECT doc_id, pidx, plang,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pidx
                      ROWS UNBOUNDED PRECEDING) - 1 AS seg
  FROM brk
)
SELECT doc_id, CAST(seg AS INTEGER) AS seg, min(plang) AS lang,
       CAST(count(*) AS INTEGER) AS n_paras,
       CAST(min(pidx) AS INTEGER) AS start_para,
       CAST(max(pidx) AS INTEGER) AS end_para
FROM segs
GROUP BY doc_id, seg"""


@_q("text_langseg", _langseg_sql())
def text_langseg(spark, sf):
    """Paragraph-level language segmentation (the CCNet move: langid per
    PARAGRAPH, then merge consecutive same-language runs into segments)
    — multilingual pages are the norm at crawl scale, and shipping one
    doc-level lang tag over a mixed page poisons both sides' training
    mix.  The synthetic corpus has no newline structure, so the query
    plants 8 deterministic paragraphs per document (identically in both
    engines, the dedup_paragraph precedent) cycling all six heuristic
    outcomes — en/es/de/fr stopword runs, a CJK paragraph (zh branch),
    and a digits-only paragraph (und) — with run boundaries from
    ``(doc_id + pidx*3//4) % 6`` so every document exercises both
    merge-and-break polarities; langid itself is the production
    vectorized pandas UDF (``detect_lang_batch``), cross-verified by the
    independent SQL heuristic at paragraph granularity.

    Scale: paragraph explode is a scan-stage Generate (production splits
    ``text`` on newlines instead of planting; same plan); the ONLY
    exchange hashes on doc_id for the lag/running-sum window, and the
    final (doc_id, seg) HashAggregate reuses that partitioning (doc_id
    is a subset of the grouping keys — clustered distribution already
    satisfied, no second shuffle).  Window state is one row lookback +
    a running int; exchanged rows carry (doc_id, tiny-int, lang code),
    never paragraph text."""
    from caraspark.langid import detect_lang_batch

    langid = F.pandas_udf(
        lambda s: detect_lang_batch(s), "string"
    )
    d = load(spark, sf, "documents").select("doc_id")
    tok = (F.col("doc_id") % 97).cast("string")
    code = (F.col("doc_id") + F.floor(F.col("pidx") * 3 / 4)) % 6
    para = (
        F.when(code == 0, F.concat(F.lit("the and of to in is it for "), tok))
        .when(code == 1,
              F.concat(F.lit("y en los se por las del con como al "), tok))
        .when(code == 2,
              F.concat(F.lit("der die das ist nicht von mit den im dem "),
                       tok))
        .when(code == 3,
              F.concat(F.lit("le les et des dans pour qui sur avec pas "),
                       tok))
        .when(code == 4, F.concat(F.lit("漢字漢字漢字 "), tok))
        .otherwise(F.concat(F.lit("0 1 2 3 4 5 "), tok))
    )
    paras = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("pidx"),
    ).select("doc_id", "pidx", langid(para).alias("plang"))
    w = W.partitionBy("doc_id").orderBy("pidx")
    brk = F.when(
        F.lag("plang").over(w).isNull()
        | (F.lag("plang").over(w) != F.col("plang")),
        1,
    ).otherwise(0)
    segs = paras.withColumn("b", brk).withColumn(
        "seg",
        (F.sum("b").over(w.rowsBetween(W.unboundedPreceding, 0)) - 1).cast(
            "int"
        ),
    )
    return segs.groupBy("doc_id", "seg").agg(
        F.min("plang").alias("lang"),
        F.count(F.lit(1)).cast("int").alias("n_paras"),
        F.min("pidx").cast("int").alias("start_para"),
        F.max("pidx").cast("int").alias("end_para"),
    )


@_q(
    "charset_census",
    """SELECT CASE doc_id % 5
         WHEN 0 THEN 'utf-8-bom'
         WHEN 1 THEN 'utf-16-le-bom'
         WHEN 2 THEN 'meta:cp1252'
         WHEN 3 THEN 'utf-8'
         ELSE 'cp1252-fallback' END AS codec,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY 1""",
)
def charset_census(spark, sf):
    """Charset-router census: classify every page's BYTES by the same
    decision ladder the extraction decoder walks (UTF-8 BOM → UTF-16
    LE/BE BOM → first-1KiB meta charset label → strict-UTF-8 validity →
    cp1252 browser fallback) — the encoding-distribution dashboard a
    crawl operator watches for mojibake regressions, computed WITHOUT
    decoding documents.  Five deterministic byte shapes are planted per
    ``doc_id % 5`` (BOM'd UTF-8, BOM'd UTF-16-LE, meta-declared cp1252
    with a non-UTF-8 byte, plain ASCII, and a bare invalid-UTF-8 lead
    byte) so DuckDB predicts the census in closed form while the Spark
    side genuinely sniffs bytes.

    Scale: classification is fixed-offset hex compares + one bounded
    1KiB regexp (over a latin-1 view — total on any bytes) + the native
    ``is_valid_utf8`` probe, all JVM scan-stage; the only exchange
    carries (codec, count) with map-side combine — full payloads never
    shuffle."""
    d = load(spark, sf, "documents")
    m = F.col("doc_id") % 5
    html = (
        F.when(m == 0, F.concat(F.unhex(F.lit("EFBBBF")),
                                F.encode(F.lit("<p>bom doc</p>"), "utf-8")))
        .when(m == 1, F.concat(F.unhex(F.lit("FFFE")),
                               F.encode(F.lit("ab"), "utf-8")))
        .when(m == 2, F.concat(
            F.encode(F.lit("<meta charset='windows-1252'><p>caf"), "utf-8"),
            F.unhex(F.lit("E9")),
        ))
        .when(m == 3, F.encode(F.lit("<p>plain</p>"), "utf-8"))
        .otherwise(F.concat(F.unhex(F.lit("E9")),
                            F.encode(F.lit("<p>x</p>"), "utf-8")))
    )
    b = d.select(html.alias("html"))
    head3 = F.hex(F.substring("html", 1, 3))
    head2 = F.hex(F.substring("html", 1, 2))
    # latin-1 maps every byte, so the 1KiB sniff window never throws on
    # non-UTF-8 bytes and the ASCII meta tag reads through unchanged
    meta_lbl = F.regexp_extract(
        F.lower(F.decode(F.substring("html", 1, 1024), "ISO-8859-1")),
        r"charset\s*=\s*[\"']?([a-z0-9_\-]+)", 1,
    )
    norm_lbl = F.when(
        meta_lbl.isin("windows-1252", "cp1252", "latin-1", "iso-8859-1"),
        F.lit("cp1252"),
    ).otherwise(meta_lbl)
    utf8_ok = F.expr("is_valid_utf8(html)")
    codec = (
        F.when(head3 == "EFBBBF", F.lit("utf-8-bom"))
        .when(head2 == "FFFE", F.lit("utf-16-le-bom"))
        .when(head2 == "FEFF", F.lit("utf-16-be-bom"))
        .when(meta_lbl != "", F.concat(F.lit("meta:"), norm_lbl))
        .when(utf8_ok, F.lit("utf-8"))
        .otherwise(F.lit("cp1252-fallback"))
    )
    return b.select(codec.alias("codec")).groupBy("codec").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


_PHRASES = [
    ("key", "agg"), ("fast", "merge"), ("table", "value"),
    ("warm", "start"),  # absent from the vocab: pins the no-row polarity
]


def _phrase_sql() -> str:
    pairs = ", ".join(f"('{a}','{b}')" for a, b in _PHRASES)
    return f"""WITH s AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws
  FROM documents WHERE length(text) > 0
),
toks AS (
  SELECT doc_id, g.i - 1 AS pos, ws[g.i] AS w
  FROM s, unnest(generate_series(1, len(ws))) AS g(i)
)
SELECT t1.w || ' ' || t2.w AS phrase,
       CAST(count(*) AS BIGINT) AS n_hits,
       CAST(count(DISTINCT t1.doc_id) AS BIGINT) AS n_docs,
       CAST(min(t1.doc_id) AS BIGINT) AS first_doc,
       CAST(max(t1.doc_id) AS BIGINT) AS last_doc
FROM toks t1 JOIN toks t2
  ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
WHERE (t1.w, t2.w) IN ({pairs})
GROUP BY 1"""


@_q("search_phrase", _phrase_sql())
def search_phrase(spark, sf):
    """Positional phrase search: exact two-word phrase matching via a
    positional-postings self-join (t2.pos = t1.pos + 1) — the query-time
    counterpart of ``search_postings``' index build, and the operator a
    quote-query ("fast merge") needs where bag-of-words BM25 can't
    distinguish adjacency from co-occurrence.  Four query phrases run at
    once, one deliberately absent from the corpus vocabulary so the
    empty-result polarity is pinned.

    Scale: the token stream is FILTERED to the phrases' terms at scan
    stage (a tiny literal IN — at production vocabulary sizes a
    broadcast semi-join) BEFORE any exchange, so the self-join shuffles
    only matching postings rows, keyed (doc_id, pos): co-partitioned
    equi-keys, no cartesian anywhere; the final per-phrase aggregate is
    vocabulary-sized with map-side combine."""
    firsts = sorted({a for a, _ in _PHRASES})
    seconds = sorted({b for _, b in _PHRASES})
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "w"),
    )
    t1 = toks.filter(F.col("w").isin(firsts)).select(
        "doc_id", F.col("pos").alias("p1"), F.col("w").alias("w1"),
        (F.col("pos") + 1).alias("p_next"),
    )
    t2 = toks.filter(F.col("w").isin(seconds)).select(
        "doc_id", F.col("pos").alias("p2"), F.col("w").alias("w2")
    )
    pair_ok = F.concat_ws(" ", "w1", "w2").isin(
        [f"{a} {b}" for a, b in _PHRASES]
    )
    hits = t1.join(
        t2,
        (t1.doc_id == t2.doc_id) & (t1.p_next == t2.p2),
    ).filter(pair_ok).select(
        t1.doc_id.alias("doc_id"),
        F.concat_ws(" ", "w1", "w2").alias("phrase"),
    )
    return hits.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


def _ensemble_sql() -> str:
    return """WITH planted AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN repeat(' 1234567890', 20) ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN repeat(' zz', 40) ELSE '' END AS t
  FROM documents WHERE length(text) > 0
),
sig AS (
  SELECT doc_id,
         list_filter(string_split(lower(t), ' '), x -> x <> '') AS ws,
         length(t) AS n_chars,
         length(regexp_replace(lower(t), '[^a-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(t, '[^0-9]', '', 'g')) AS n_digit
  FROM planted
),
bits AS (
  SELECT doc_id,
         CASE WHEN len(ws) < 40 THEN 1 ELSE 0 END
       + CASE WHEN n_alpha * 1000 < 800 * n_chars THEN 2 ELSE 0 END
       + CASE WHEN len(list_distinct(ws)) * 1000 < 700 * len(ws)
              THEN 4 ELSE 0 END
       + CASE WHEN len(list_intersect(ws,
                ['the','and','of','to','a','in'])) = 0 THEN 8 ELSE 0 END
       + CASE WHEN n_digit * 1000 > 150 * n_chars THEN 16 ELSE 0 END
         AS bitmask
  FROM sig
)
SELECT CAST(bitmask AS INTEGER) AS bitmask,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM bits GROUP BY bitmask"""


@_q("filter_ensemble", _ensemble_sql())
def filter_ensemble(spark, sf):
    """Fused quality-filter ensemble with per-rule ablation bits — the
    production keep/drop decision as ONE scan: five integer-arithmetic
    rules (too-short b0, low-alpha b1, low-distinct-token repetition b2,
    zero-stopword b3, digit-heavy b4) OR-ed into a bitmask per document,
    censused so an operator sees exactly which rule combinations remove
    how much corpus (the doc_soft404 ablation stance, corpus-wide).
    Bitmask 0 is the keep set.  Two deterministic plants (digit runs on
    doc_id%7, repeated-token runs on doc_id%5) force both polarities of
    the repetition and digit rules on the synthetic corpus.

    Scale: every signal is JVM scan-stage string/array arithmetic over
    the doc's own row (no explode, no join, token arrays never leave
    their Project); the single exchange carries (bitmask, count) partial
    aggregates — at 100 TB this is the cheapest possible full-corpus
    pass, and the bitmask column is what a downstream curriculum join
    would key on."""
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    t = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0,
               F.expr("repeat(' 1234567890', 20)")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.expr("repeat(' zz', 40)")).otherwise(F.lit("")),
    )
    sig = d.select(
        "doc_id",
        F.filter(F.split(F.lower(t), " "), lambda x: x != "").alias("ws"),
        F.length(t).alias("n_chars"),
        F.length(F.regexp_replace(F.lower(t), "[^a-z]", "")).alias(
            "n_alpha"
        ),
        F.length(F.regexp_replace(t, "[^0-9]", "")).alias("n_digit"),
    )
    stop = F.array(*[F.lit(w) for w in ("the", "and", "of", "to", "a", "in")])
    bitmask = (
        F.when(F.size("ws") < 40, 1).otherwise(0)
        + F.when(F.col("n_alpha") * 1000 < 800 * F.col("n_chars"), 2)
        .otherwise(0)
        + F.when(
            F.size(F.array_distinct("ws")) * 1000 < 700 * F.size("ws"), 4
        ).otherwise(0)
        + F.when(F.size(F.array_intersect("ws", stop)) == 0, 8).otherwise(0)
        + F.when(F.col("n_digit") * 1000 > 150 * F.col("n_chars"), 16)
        .otherwise(0)
    )
    return (
        sig.select("doc_id", bitmask.cast("int").alias("bitmask"))
        .groupBy("bitmask")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Distributed perceptron training (the quality-classifier TRAINER)
# ---------------------------------------------------------------------------

_PERC_EPOCHS = 4


def _perc_sql() -> str:
    def epoch(i: int) -> str:
        p = f"e{i - 1}"
        dot = f"({p}.w0*x0 + {p}.w1*x1 + {p}.w2*x2 + {p}.w3*x3)"
        return f"""e{i} AS (
  SELECT {i} AS epoch,
         CAST(count(*) FILTER (WHERE y*{dot} <= 0) AS BIGINT) AS n_mis,
         {p}.w0 + COALESCE(SUM(y*x0) FILTER (WHERE y*{dot} <= 0), 0) AS w0,
         {p}.w1 + COALESCE(SUM(y*x1) FILTER (WHERE y*{dot} <= 0), 0) AS w1,
         {p}.w2 + COALESCE(SUM(y*x2) FILTER (WHERE y*{dot} <= 0), 0) AS w2,
         {p}.w3 + COALESCE(SUM(y*x3) FILTER (WHERE y*{dot} <= 0), 0) AS w3
  FROM f, {p} GROUP BY {p}.w0, {p}.w1, {p}.w2, {p}.w3
)"""

    parts = [
        """base AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 5 = 0
                      THEN repeat(' 9z', 30) ELSE '' END AS t
  FROM documents WHERE length(text) > 0
)""",
        """f AS (
  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN -1 ELSE 1 END AS y,
         1 AS x0,
         least(len(string_split(t, ' ')), 200) AS x1,
         len(regexp_replace(t, '[^0-9]', '', 'g')) * 1000 // len(t) AS x2,
         least(len(t) // 10, 500) AS x3
  FROM base
)""",
        """e1 AS (
  SELECT 1 AS epoch, CAST(count(*) AS BIGINT) AS n_mis,
         SUM(y*x0) AS w0, SUM(y*x1) AS w1,
         SUM(y*x2) AS w2, SUM(y*x3) AS w3
  FROM f
)""",
    ]
    parts += [epoch(i) for i in range(2, _PERC_EPOCHS + 1)]
    sel = " UNION ALL ".join(
        f"SELECT epoch, n_mis, CAST(w0 AS BIGINT) AS w0,"
        f" CAST(w1 AS BIGINT) AS w1, CAST(w2 AS BIGINT) AS w2,"
        f" CAST(w3 AS BIGINT) AS w3 FROM e{i}"
        for i in range(1, _PERC_EPOCHS + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + sel


@_q("quality_perceptron", _perc_sql())
def quality_perceptron(spark, sf):
    """TRAIN the quality classifier on the cluster — batch perceptron
    (Rosenblatt update summed over the epoch's misclassified set), the
    distributed analog of how fastText-style quality filters are fit on
    wiki-vs-crawl labels before ops like ``quality_logit`` apply them.
    Labels come from a deterministic plant (every fifth doc gets
    digit-garbage appended → y = −1), features are integer permilles,
    and the output is the weight trajectory: (epoch, n_mistakes,
    w0..w3). On this corpus the trajectory converges to 0 mistakes by
    epoch 4 — asserted in pytest, so the op demonstrably LEARNS.

    Determinism — the reason this trains as a dataflow at all: a batch
    epoch's update is one SUM of integer y·x vectors over the
    misclassified set — partial-aggregation-order insensitive, unlike
    sequential (per-sample) perceptron updates which impose a row order
    no distributed engine should promise. Both engines compute
    bit-equal weight trajectories.

    Scale shape: one epoch = one corpus scan + a 4-int global aggregate,
    with the previous weights broadcast-crossJoined (1 row, never
    collected). Epochs are data-INdependent plans chained by tiny
    broadcasts — at 10^12 docs each epoch is exactly one map-side-
    combining pass; feature extraction stays in the scan stage."""
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    t = F.concat(
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.repeat(F.lit(" 9z"), 30))
        .otherwise(F.lit("")),
    )
    f = d.select(
        t.alias("t"),
        F.when(F.col("doc_id") % 5 == 0, -1).otherwise(1).alias("y"),
    ).select(
        "y",
        F.lit(1).alias("x0"),
        F.least(F.size(F.split("t", " ")), F.lit(200)).alias("x1"),
        F.expr(
            "length(regexp_replace(t, '[^0-9]', '')) * 1000 div length(t)"
        ).alias("x2"),
        F.least(F.expr("length(t) div 10"), F.lit(500)).alias("x3"),
    )
    rows = None
    prev = None  # 1-row weights DF
    for i in range(1, _PERC_EPOCHS + 1):
        if prev is None:
            ep = f.agg(
                F.lit(1).alias("epoch"),
                F.count(F.lit(1)).alias("n_mis"),
                F.sum(F.col("y") * F.col("x0")).alias("w0"),
                F.sum(F.col("y") * F.col("x1")).alias("w1"),
                F.sum(F.col("y") * F.col("x2")).alias("w2"),
                F.sum(F.col("y") * F.col("x3")).alias("w3"),
            )
        else:
            j = f.crossJoin(F.broadcast(prev))
            mis = (
                F.col("y")
                * (
                    F.col("pw0") * F.col("x0")
                    + F.col("pw1") * F.col("x1")
                    + F.col("pw2") * F.col("x2")
                    + F.col("pw3") * F.col("x3")
                )
                <= 0
            )
            ep = j.agg(
                F.lit(i).alias("epoch"),
                F.count(F.when(mis, 1)).alias("n_mis"),
                (
                    F.first("pw0")
                    + F.coalesce(
                        F.sum(F.when(mis, F.col("y") * F.col("x0"))),
                        F.lit(0),
                    )
                ).alias("w0"),
                (
                    F.first("pw1")
                    + F.coalesce(
                        F.sum(F.when(mis, F.col("y") * F.col("x1"))),
                        F.lit(0),
                    )
                ).alias("w1"),
                (
                    F.first("pw2")
                    + F.coalesce(
                        F.sum(F.when(mis, F.col("y") * F.col("x2"))),
                        F.lit(0),
                    )
                ).alias("w2"),
                (
                    F.first("pw3")
                    + F.coalesce(
                        F.sum(F.when(mis, F.col("y") * F.col("x3"))),
                        F.lit(0),
                    )
                ).alias("w3"),
            )
        ep = ep.select(
            "epoch",
            "n_mis",
            *[F.col(c).cast("bigint").alias(c) for c in ("w0", "w1", "w2", "w3")],
        ).localCheckpoint()
        rows = ep if rows is None else rows.unionAll(ep)
        prev = ep.select(
            F.col("w0").alias("pw0"),
            F.col("w1").alias("pw1"),
            F.col("w2").alias("pw2"),
            F.col("w3").alias("pw3"),
        )
    return rows


# ---------------------------------------------------------------------------
# Integer Naive Bayes training + evaluation (the trainer pair's 2nd half)
# ---------------------------------------------------------------------------


def _nb_sql() -> str:
    return """WITH base AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 5 = 0
                      THEN repeat(' 9z', 30) ELSE '' END AS t,
         CASE WHEN doc_id % 5 = 0 THEN 'spam' ELSE 'ham' END AS label
  FROM documents WHERE length(text) > 0
),
toks AS (
  SELECT doc_id, label, unnest(string_split(t, ' ')) AS w FROM base
),
cw AS (
  SELECT label AS c, w, CAST(count(*) AS BIGINT) AS n
  FROM toks GROUP BY label, w
),
cls AS (SELECT c, SUM(n) AS nc FROM cw GROUP BY c),
voc AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM cw),
docs AS (SELECT label, CAST(count(*) AS BIGINT) AS nd FROM base GROUP BY label),
tot AS (SELECT SUM(nd) AS ndocs FROM docs),
pb AS (
  SELECT d.label AS c,
         CAST(length(bin(t.ndocs // d.nd)) - 1 AS BIGINT) AS prior_bits
  FROM docs d, tot t
),
bits AS (
  SELECT vw.w,
         CAST(length(bin((cs.nc + voc.v) // (COALESCE(cw.n, 0) + 1))) - 1
              AS BIGINT) AS b,
         cs.c
  FROM (SELECT DISTINCT w FROM cw) vw
  CROSS JOIN cls cs
  CROSS JOIN voc
  LEFT JOIN cw ON cw.w = vw.w AND cw.c = cs.c
),
cost AS (
  SELECT tk.doc_id, tk.label, b.c,
         SUM(b.b) + ANY_VALUE(pb.prior_bits) AS bits
  FROM toks tk
  JOIN bits b ON b.w = tk.w
  JOIN pb ON pb.c = b.c
  GROUP BY tk.doc_id, tk.label, b.c
),
pred AS (
  SELECT doc_id, label,
         CASE WHEN MIN(CASE WHEN c = 'spam' THEN bits END)
                   < MIN(CASE WHEN c = 'ham' THEN bits END)
              THEN 'spam' ELSE 'ham' END AS pred
  FROM cost GROUP BY doc_id, label
)
SELECT label, pred, CAST(count(*) AS BIGINT) AS n_docs
FROM pred GROUP BY label, pred"""


@_q("quality_nb", _nb_sql())
def quality_nb(spark, sf):
    """Integer Naive Bayes — train AND evaluate the token-level spam
    model on the corpus, the multinomial-NB counterpart of
    ``quality_perceptron``'s feature-level trainer (the two classic
    fastText-era quality filters, both as dataflow). Per class: Laplace-
    smoothed token costs in WHOLE BITS (the floor-log2 bin() device —
    length(bin((Nc+V) // (n+1))) − 1), plus prior bits; a document's
    class cost is the sum over its tokens; ties break to 'ham'. Output
    is the confusion matrix against the planted labels.

    Determinism: counts, smoothing, and bit costs are all integer floor
    arithmetic; sums are order-insensitive; both engines emit identical
    confusion cells.

    Scale shape: training is ONE token-explode groupBy producing the
    Zipf-bounded (class, token) table; everything downstream (bit table,
    priors, vocab) is vocab-sized and BROADCAST; scoring re-joins the
    token stream against the broadcast bit table and folds per (doc,
    class) with map-side combine — two corpus passes total, no
    corpus-sized shuffle carrying anything but (doc_id, ints)."""
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    t = F.concat(
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.repeat(F.lit(" 9z"), 30))
        .otherwise(F.lit("")),
    )
    label = F.when(F.col("doc_id") % 5 == 0, "spam").otherwise("ham")
    base = d.select("doc_id", t.alias("t"), label.alias("label"))
    toks = base.select(
        "doc_id", "label", F.explode(F.split("t", " ")).alias("w")
    )
    cw = toks.groupBy(F.col("label").alias("c"), "w").agg(
        F.count(F.lit(1)).alias("n")
    )
    cls = cw.groupBy("c").agg(F.sum("n").alias("nc"))
    voc = cw.agg(F.countDistinct("w").alias("v"))
    docs = base.groupBy("label").agg(F.count(F.lit(1)).alias("nd"))
    tot = docs.agg(F.sum("nd").alias("ndocs"))
    pb = docs.crossJoin(F.broadcast(tot)).select(
        F.col("label").alias("c"),
        (F.length(F.expr("bin(ndocs div nd)")) - 1)
        .cast("bigint")
        .alias("prior_bits"),
    )
    vw = cw.select("w").distinct()
    bits = (
        vw.crossJoin(F.broadcast(cls))
        .crossJoin(F.broadcast(voc))
        .join(cw, ["w", "c"], "left")
        .select(
            "w",
            "c",
            (
                F.length(
                    F.expr("bin((nc + v) div (coalesce(n, 0) + 1))")
                )
                - 1
            ).cast("bigint").alias("b"),
        )
    )
    cost = (
        toks.join(F.broadcast(bits), "w")
        .join(F.broadcast(pb), "c")
        .groupBy("doc_id", "label", "c")
        .agg((F.sum("b") + F.first("prior_bits")).alias("bits"))
    )
    pred = cost.groupBy("doc_id", "label").agg(
        F.when(
            F.min(F.when(F.col("c") == "spam", F.col("bits")))
            < F.min(F.when(F.col("c") == "ham", F.col("bits"))),
            "spam",
        )
        .otherwise("ham")
        .alias("pred")
    )
    return pred.groupBy("label", "pred").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# ---------------------------------------------------------------------------
# Per-document keyword extraction (document-frequency-normalized TF)
# ---------------------------------------------------------------------------

_KW_TOPK = 3


def _keywords_sql() -> str:
    # df via a window over the (doc, term) tf table: one row per distinct
    # (doc, term), so COUNT(*) OVER (PARTITION BY term) IS the document
    # frequency. Ordering key tf/df is a single IEEE double division —
    # identical bits in both engines — with a term-ASC tiebreak.
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
  FROM documents WHERE length(text) > 0
),
tf AS (
  SELECT doc_id, w, count(*) AS tf
  FROM toks WHERE w <> '' GROUP BY doc_id, w
),
scored AS (
  SELECT doc_id, w, tf,
         count(*) OVER (PARTITION BY w) AS df
  FROM tf
),
ranked AS (
  SELECT doc_id, w, tf, df,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY CAST(tf AS DOUBLE) / df DESC, w
         ) AS rk
  FROM scored
)
SELECT doc_id, w AS term, CAST(tf AS BIGINT) AS tf,
       CAST(df AS BIGINT) AS df, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {_KW_TOPK}
"""


@_q("text_keywords", _keywords_sql())
def text_keywords(spark, sf):
    """Top-{k} keywords per document, ranked by document-frequency-
    normalized term frequency (tf/df — the rank-equivalent core of TF-IDF
    without the transcendental log, so the ordering key is ONE exact IEEE
    division and results hash bit-exactly across engines), term-ASC
    tiebreak.

    Scale: pass 1 builds the per-doc term table with a map-side-combined
    (doc_id, term) count — the exchange carries distinct terms per task.
    Pass 2 needs each term's document frequency: the distinct-term table
    is Zipf-bounded (~10^7 rows at 100 TB, *independent of corpus size*),
    so it aggregates small and broadcasts back; the corpus side never
    re-shuffles. The final top-k window partitions by doc_id — same
    distribution the tf count already produced, so AQE reuses the
    exchange (`win_topk` shape).
    """
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df), "w")
    rk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(
            (F.col("tf").cast("double") / F.col("df")).desc(), F.col("w")
        )
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= _KW_TOPK)
        .select(
            "doc_id",
            F.col("w").alias("term"),
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# N-gram novelty: how much of a document is first-seen text?
# ---------------------------------------------------------------------------


def _novelty_sql() -> str:
    # list_distinct BEFORE unnest keeps the per-doc dedup row-local in
    # both engines; first-occurrence attribution is min(doc_id) per gram
    # digest. Exactly one double division per row.
    return """
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w
  FROM documents WHERE length(text) > 0
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(w), 1)),
           i -> md5(w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)])
         ))) AS g
  FROM d WHERE len(w) >= 2
),
first_seen AS (
  SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
)
SELECT gr.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN fs.first_doc = gr.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       sum(CASE WHEN fs.first_doc = gr.doc_id THEN 1 ELSE 0 END)
         * 1.0 / count(*) AS novel_frac
FROM grams gr JOIN first_seen fs ON fs.g = gr.g
GROUP BY gr.doc_id
"""


@_q("ngram_novelty", _novelty_sql())
def ngram_novelty(spark, sf):
    """Per-document novelty: the fraction of a document's distinct word
    bigrams whose FIRST corpus occurrence (min doc_id = arrival order) is
    this document — the signal dataset builders use to measure how much
    genuinely new text each crawl slice adds vs recombinated boilerplate
    (high-novelty docs carry the information; near-zero-novelty docs are
    template remixes even when no single document duplicates them).

    Determinism: integer counts + one double division; grams are md5'd
    identically in both engines.

    Scale: per-doc dedup is array_distinct on the row — zero shuffle;
    grams are digested to 32-hex md5 BEFORE any exchange so shuffles
    carry fixed-width digests, never text (the `dedup_substring`
    discipline). first_seen is a map-side-combined min per digest; the
    attribution join is digest⋈digest. The final per-doc rollup
    re-partitions by doc_id — at 100 TB this is 3 digest-width exchanges
    total, independent of document size.
    """
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    wcol = F.col("w")
    grams_arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(wcol) - 2),
            lambda i: F.md5(
                F.encode(
                    F.concat(
                        F.element_at(wcol, i + 1),
                        F.lit(" "),
                        F.element_at(wcol, i + 2),
                    ),
                    "utf-8",
                )
            ),
        )
    )
    grams = (
        d.select("doc_id", F.split(F.lower("text"), " ").alias("w"))
        .filter(F.size("w") >= 2)
        .select("doc_id", F.explode(grams_arr).alias("g"))
    )
    first = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    joined = grams.join(first, "g")
    n_novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        n_novel.cast("bigint").alias("n_novel"),
        (n_novel.cast("double") / F.count(F.lit(1))).alias("novel_frac"),
    )


# ---------------------------------------------------------------------------
# Host diversity per language (mix auditing)
# ---------------------------------------------------------------------------


def _host_diversity_sql() -> str:
    # Gini–Simpson instead of Shannon: 1 - sum(n_h^2)/N^2 needs only
    # integer sums and ONE division — no transcendental ln, so the
    # diversity column is bit-exact across engines.
    return """
WITH per_host AS (
  SELECT lang, source, count(*) AS n_h
  FROM documents GROUP BY lang, source
)
SELECT lang,
       CAST(sum(n_h) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_hosts,
       CAST(sum(n_h * n_h) AS BIGINT) AS sum_sq,
       1.0 - sum(n_h * n_h) * 1.0 / (sum(n_h) * sum(n_h)) AS simpson
FROM per_host GROUP BY lang
"""


@_q("host_diversity", _host_diversity_sql())
def host_diversity(spark, sf):
    """Host-concentration audit per language: Gini–Simpson diversity
    1 − Σ n_h² / N² over the host distribution — the number a mixture
    designer watches to catch a language bucket that is secretly one
    giant site (diversity → 0) before it poisons the training mix.
    Shannon entropy needs ln (not bit-reproducible across engines);
    Gini–Simpson ranks host concentration identically with integer sums
    and a single division.

    Scale: two map-side-combined aggregations — (lang, host) then
    (lang) — each exchange carries one count per distinct key; the
    language rollup is O(#languages) rows. No joins, no windows.
    """
    d = load(spark, sf, "documents")
    per_host = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_h")
    )
    n_docs = F.sum("n_h")
    sum_sq = F.sum(F.col("n_h") * F.col("n_h"))
    return per_host.groupBy("lang").agg(
        n_docs.cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_hosts"),
        sum_sq.cast("bigint").alias("sum_sq"),
        (F.lit(1.0) - sum_sq.cast("double") / (n_docs * n_docs)).alias(
            "simpson"
        ),
    )


# ---------------------------------------------------------------------------
# Quality-filter agreement audit (logit vs Gopher rule stack)
# ---------------------------------------------------------------------------


def _quality_agreement_sql() -> str:
    # compose the two frozen filter definitions — the audit must see
    # EXACTLY the verdicts the individual qkeys pin, not a reimpl.
    return f"""
WITH l AS ({REGISTRY["quality_logit"].sql}),
g AS ({REGISTRY["text_gopher"].sql})
SELECT d.lang,
       l.keep AS keep_logit,
       g.keep AS keep_gopher,
       CAST(count(*) AS BIGINT) AS n_docs
FROM l JOIN g ON g.doc_id = l.doc_id
       JOIN documents d ON d.doc_id = l.doc_id
GROUP BY d.lang, l.keep, g.keep
"""


@_q("quality_agreement", _quality_agreement_sql())
def quality_agreement(spark, sf):
    """Filter-agreement confusion matrix: per language, how often the
    model-based quality filter (`quality_logit`) and the rule-stack
    filter (`text_gopher`) agree — the audit a pipeline runs before
    swapping filters, because the disagreement cells ARE the documents
    whose fate changes (DCLM and FineWeb both publish this cross-filter
    analysis before committing to one).

    Determinism: both inputs are already integer-exact hash-pinned
    verdicts; this adds only integer counts.

    Scale: both filters are zero-shuffle scan-stage projections of the
    same table — production fuses them into ONE pass emitting both
    verdict columns, and the rollup is a map-side-combined aggregate to
    O(languages x 4) rows. The doc_id equi-joins exist only because the
    composed qkey re-derives each side from the scan."""
    lg = quality_logit(spark, sf).select(
        "doc_id", F.col("keep").alias("keep_logit")
    )
    gp = text_gopher(spark, sf).select(
        "doc_id", F.col("keep").alias("keep_gopher")
    )
    langs = load(spark, sf, "documents").select("doc_id", "lang")
    return (
        lg.join(gp, "doc_id")
        .join(langs, "doc_id")
        .groupBy("lang", "keep_logit", "keep_gopher")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# PMI collocations: statistically-bound word pairs per language
# ---------------------------------------------------------------------------

_PMI_TOPK = 5
_PMI_MIN_PAIR = 3  # ignore pairs seen fewer than this many times


def _collocations_sql() -> str:
    # PMI = ln(N * c_ab / (c_a * c_b)) is monotone in the exact rational
    # N * c_ab / (c_a * c_b), so the ranking key is ONE IEEE double
    # division over BIGINT products — no transcendental ln anywhere.
    return f"""
WITH d AS (
  SELECT lang, string_split(lower(text), ' ') AS w
  FROM documents WHERE length(text) > 0
),
toks AS (
  SELECT lang, w[CAST(i AS INT)] AS a, w[CAST(i + 1 AS INT)] AS b
  FROM d, range(1, 4096) r(i)
  WHERE i <= len(w) - 1
),
uni AS (
  SELECT lang, a AS t, count(*) AS c FROM (
    SELECT lang, unnest(w) AS a FROM d
  ) GROUP BY lang, a
),
tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM uni GROUP BY lang),
pairs AS (
  SELECT lang, a, b, count(*) AS c_ab
  FROM toks GROUP BY lang, a, b
  HAVING count(*) >= {_PMI_MIN_PAIR}
),
scored AS (
  SELECT p.lang, p.a, p.b, p.c_ab, ua.c AS c_a, ub.c AS c_b,
         row_number() OVER (
           PARTITION BY p.lang
           ORDER BY CAST(p.c_ab * t.n AS DOUBLE) / (ua.c * ub.c) DESC,
                    p.a, p.b
         ) AS rk
  FROM pairs p
  JOIN uni ua ON ua.lang = p.lang AND ua.t = p.a
  JOIN uni ub ON ub.lang = p.lang AND ub.t = p.b
  JOIN tot t ON t.lang = p.lang
)
SELECT lang, a, b, CAST(c_ab AS BIGINT) AS c_ab,
       CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
       CAST(rk AS INT) AS rk
FROM scored WHERE rk <= {_PMI_TOPK}
"""


@_q("collocations_pmi", _collocations_sql())
def collocations_pmi(spark, sf):
    """Top-{k} PMI collocations per language: adjacent word pairs that
    co-occur far more than their unigram frequencies predict — the
    classic corpus-linguistics signal (Church & Hanks 1990) a pipeline
    uses to mine multi-word entities and to spot template text (a
    boilerplate corpus's top collocations are navigation chrome).

    Determinism: PMI's ln is monotone in the exact rational
    N·c(a,b) / (c(a)·c(b)), so ranking uses that ratio directly — BIGINT
    products and ONE IEEE division, (a, b)-ASC tiebreak; no
    transcendentals.

    Scale: two map-side-combined counts (unigrams, adjacent pairs) whose
    exchanges carry distinct grams per task; both count tables are
    Zipf-bounded so the unigram side broadcasts onto the pair table, and
    the per-language totals ride a broadcast scalar. The final top-k
    window sees only distinct pairs above the support floor."""
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    w = F.split(F.lower("text"), " ")
    toks = d.select("lang", w.alias("w"))
    uni = toks.select("lang", F.explode("w").alias("t")).groupBy(
        "lang", "t"
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = uni.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n"))
    pairs = (
        toks.filter(F.size("w") >= 2)
        .select(
            "lang",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - 2),
                    lambda i: F.struct(
                        F.element_at("w", i + 1).alias("a"),
                        F.element_at("w", i + 2).alias("b"),
                    ),
                )
            ).alias("p"),
        )
        .groupBy("lang", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= _PMI_MIN_PAIR)
    )
    ua = uni.select("lang", F.col("t").alias("a"), F.col("c").alias("c_a"))
    ub = uni.select("lang", F.col("t").alias("b"), F.col("c").alias("c_b"))
    scored = (
        pairs.join(F.broadcast(ua), ["lang", "a"])
        .join(F.broadcast(ub), ["lang", "b"])
        .join(F.broadcast(tot), "lang")
    )
    rk = F.row_number().over(
        W.partitionBy("lang").orderBy(
            (
                (F.col("c_ab") * F.col("n")).cast("double")
                / (F.col("c_a") * F.col("c_b"))
            ).desc(),
            F.col("a"),
            F.col("b"),
        )
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= _PMI_TOPK)
        .select(
            "lang",
            "a",
            "b",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            F.col("c_a").cast("bigint").alias("c_a"),
            F.col("c_b").cast("bigint").alias("c_b"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# URL template mining (crawl-trap and infinite-URL-space detection)
# ---------------------------------------------------------------------------


def _url_templates_sql() -> str:
    # same deterministic URL recipe as url_features/dedup_url; templates
    # generalize digit runs to {n} and query values to {v} — the ratio of
    # distinct URLs to fetches per template is the trap signal, exactly
    # one double division.
    return r"""
WITH urls AS (
  SELECT doc_id,
         regexp_replace(
           regexp_extract(
             (CASE WHEN doc_id % 3 = 0 THEN 'http://' ELSE 'https://' END)
             || (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
             || source
             || (CASE WHEN doc_id % 4 = 0 THEN '.org' ELSE '.com' END)
             || '/a/b' || repeat('/c', CAST(doc_id % 3 AS INT))
             || '/page' || CAST(doc_id % 50 AS VARCHAR)
             || (CASE WHEN doc_id % 5 = 0
                      THEN '?utm_source=feed&ref='
                           || CAST(doc_id % 9 AS VARCHAR)
                      ELSE '' END),
             '^[a-z]+://([^?]+)', 1),
           '^www\.', '') AS path,
         source
  FROM documents
),
tpl AS (
  SELECT doc_id, source, path,
         regexp_replace(path, '[0-9]+', '{n}', 'g') AS template
  FROM urls
)
SELECT source AS host, template,
       CAST(count(*) AS BIGINT) AS n_fetches,
       CAST(count(DISTINCT path) AS BIGINT) AS n_urls,
       count(DISTINCT path) * 1.0 / count(*) AS url_ratio
FROM tpl GROUP BY source, template
"""


@_q("url_templates", _url_templates_sql())
def url_templates(spark, sf):
    """URL template census per host: generalize every digit run in the
    (scheme-stripped) URL to ``{n}`` and count fetches vs distinct URLs
    per template — the crawl-side tool for spotting infinite URL spaces
    (calendar traps, session-id paths: ONE template, unbounded distinct
    URLs) and for prioritizing templates whose pages are mostly
    duplicates (url_ratio → low means refetching the same page under
    many ids).

    Determinism: the same (source, doc_id)-derived URL recipe as
    `url_features`/`dedup_url`; Java∩RE2 regexes; integer counts plus
    ONE division.

    Scale: template generalization is a scan-stage regexp_replace; the
    census is one map-side-combined aggregate keyed (host, template) —
    count(DISTINCT path) rewrites to a two-phase partial-distinct under
    AQE, and templates are bounded per host (that is the point of
    templating), so the exchange stays tiny."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 3 == 0, F.lit("http://")).otherwise(F.lit("https://")),
        F.when(did % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        F.when(did % 4 == 0, F.lit(".org")).otherwise(F.lit(".com")),
        F.lit("/a/b"),
        F.repeat(F.lit("/c"), (did % 3).cast("int")),
        F.lit("/page"), (did % 50).cast("string"),
        F.when(
            did % 5 == 0,
            F.concat(F.lit("?utm_source=feed&ref="), (did % 9).cast("string")),
        ).otherwise(F.lit("")),
    )
    path = F.regexp_replace(
        F.regexp_extract(url, "^[a-z]+://([^?]+)", 1), r"^www\.", ""
    )
    tpl = d.select(
        F.col("source").alias("host"),
        path.alias("path"),
        F.regexp_replace(path, "[0-9]+", "{n}").alias("template"),
    )
    n_fetches = F.count(F.lit(1))
    n_urls = F.countDistinct("path")
    return tpl.groupBy("host", "template").agg(
        n_fetches.cast("bigint").alias("n_fetches"),
        n_urls.cast("bigint").alias("n_urls"),
        (n_urls.cast("double") / n_fetches).alias("url_ratio"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe corpus splits
# ---------------------------------------------------------------------------

# floor(0.8 * 2^32), floor(0.9 * 2^32): pure-integer split thresholds so no
# double ever participates in the assignment
_SPLIT_TRAIN = 3435973836
_SPLIT_VAL = 3865470566


def _split_by_host_sql() -> str:
    return f"""
WITH a AS (
  SELECT doc_id, lang, source, n_chars,
         CAST('0x' || substring(md5(source || ':split'), 1, 8) AS BIGINT) AS u
  FROM documents
),
s AS (
  SELECT lang, source, n_chars,
         CASE WHEN u < {_SPLIT_TRAIN} THEN 'train'
              WHEN u < {_SPLIT_VAL} THEN 'val'
              ELSE 'test' END AS split
  FROM a
)
SELECT split, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_hosts,
       CAST(sum(n_chars) AS BIGINT) AS n_chars_total
FROM s GROUP BY split, lang
"""


@_q("split_by_host", _split_by_host_sql())
def split_by_host(spark, sf):
    """Leakage-safe train/val/test assignment: the split is a pure
    function of the HOST (md5-slice integer vs integer thresholds =
    floor(r * 2^32), no doubles anywhere), so every page of a host lands
    in exactly one split by construction — the property an eval set
    needs, because near-duplicate pages of one site in both train and
    test is the classic contamination vector that document-level dedup
    does not close.  Emits the per-(split, lang) census a data card
    reports: docs, distinct hosts, total chars.

    Scale: assignment is a scan-stage hash of an already-present column
    (zero extra shuffles, resumable — a re-run or a late-arriving page
    re-derives the identical split); the census aggregate map-side
    combines and countDistinct(host) rewrites to a two-phase partial
    distinct, so the exchange carries (split, lang, host) triples at
    host — not page — cardinality.
    """
    d = load(spark, sf, "documents")
    u = F.conv(
        F.substring(
            F.md5(F.encode(F.concat(F.col("source"), F.lit(":split")), "utf-8")),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    split = (
        F.when(u < _SPLIT_TRAIN, "train")
        .when(u < _SPLIT_VAL, "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang", "source", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_hosts"),
            F.sum("n_chars").cast("bigint").alias("n_chars_total"),
        )
    )


# ---------------------------------------------------------------------------
# Bitext candidate mining
# ---------------------------------------------------------------------------


def _bitext_sql() -> str:
    return """
WITH pages AS (
  SELECT doc_id, lang, source, n_chars, doc_id % 50 AS slot
  FROM documents
)
SELECT a.source AS host, a.slot,
       a.lang AS lang_a, b.lang AS lang_b,
       a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(a.n_chars AS BIGINT) AS len_a,
       CAST(b.n_chars AS BIGINT) AS len_b
FROM pages a JOIN pages b
  ON a.source = b.source AND a.slot = b.slot AND a.lang < b.lang
WHERE 2 * least(a.n_chars, b.n_chars) >= greatest(a.n_chars, b.n_chars)
"""


@_q("bitext_mine", _bitext_sql())
def bitext_mine(spark, sf):
    """Parallel-corpus candidate mining (the CCAligned / ParaCrawl
    front-end): pages of the SAME host occupying the same URL slot in
    different languages are translation candidates — here the slot is
    the deterministic page number both engines derive as doc_id % 50,
    standing in for the language-stripped URL path (``url_templates``
    shows the real generalization; hreflang alternates feed the same
    join in ``hreflang_census``).  Candidates must pass the classic
    length-ratio gate, min/max >= 0.5, done by integer
    cross-multiplication (2*min >= max) so no float ratio ever decides
    a pair; lang_a < lang_b canonicalizes pair order.

    Scale: this is an equi-join keyed (host, slot) — NEVER a cross
    join; per-key fanout is bounded by the language count squared, and
    the join input carries (host, slot, lang, len) — four scalars, no
    text.  At 10^12 pages the hot keys are giant hosts: the same
    size-class salting the extract pipeline uses applies, and the
    length gate runs join-side so rejected pairs never leave the
    executor.  Sentence-level alignment (the expensive step) runs only
    on surviving pairs.
    """
    d = load(spark, sf, "documents").select(
        "doc_id", "lang", "source", "n_chars", (F.col("doc_id") % 50).alias("slot")
    )
    a = d.alias("a")
    b = d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.slot") == F.col("b.slot"))
            & (F.col("a.lang") < F.col("b.lang")),
        )
        .filter(
            2 * F.least("a.n_chars", "b.n_chars")
            >= F.greatest("a.n_chars", "b.n_chars")
        )
        .select(
            F.col("a.source").alias("host"),
            F.col("a.slot").alias("slot"),
            F.col("a.lang").alias("lang_a"),
            F.col("b.lang").alias("lang_b"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_chars").cast("bigint").alias("len_a"),
            F.col("b.n_chars").cast("bigint").alias("len_b"),
        )
    )


# ---------------------------------------------------------------------------
# Vocabulary growth (Heaps-law census)
# ---------------------------------------------------------------------------


def _vocab_growth_sql() -> str:
    return """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
  FROM documents WHERE length(text) > 0
),
n AS (SELECT max(doc_id) + 1 AS n FROM documents),
tb AS (
  SELECT lang, w, least(9, doc_id * 10 // (SELECT n FROM n)) AS bucket
  FROM toks
),
firsts AS (SELECT lang, w, min(bucket) AS b0 FROM tb GROUP BY lang, w),
newt AS (
  SELECT lang, b0 AS bucket, count(*) AS new_types
  FROM firsts GROUP BY lang, b0
),
tok AS (
  SELECT lang, bucket, count(*) AS bucket_tokens FROM tb GROUP BY lang, bucket
),
j AS (
  SELECT t.lang, t.bucket, t.bucket_tokens,
         coalesce(nw.new_types, 0) AS new_types
  FROM tok t LEFT JOIN newt nw ON nw.lang = t.lang AND nw.bucket = t.bucket
)
SELECT lang, CAST(bucket AS BIGINT) AS bucket,
       CAST(new_types AS BIGINT) AS new_types,
       CAST(sum(new_types) OVER
              (PARTITION BY lang ORDER BY bucket) AS BIGINT) AS cum_types,
       CAST(bucket_tokens AS BIGINT) AS bucket_tokens,
       CAST(sum(bucket_tokens) OVER
              (PARTITION BY lang ORDER BY bucket) AS BIGINT) AS cum_tokens
FROM j
"""


@_q("vocab_growth", _vocab_growth_sql())
def vocab_growth(spark, sf):
    """Heaps-law vocabulary-growth census per language: the corpus is cut
    into ten doc-id deciles (an ingest-order prefix structure), and each
    word type is charged to the decile where it FIRST appears — so
    cum_types vs cum_tokens is exactly the V(n) ~ K·n^beta curve a
    tokenizer team reads before fixing vocabulary size, and a flattening
    new_types tail is the standard "corpus is saturating / dedup is
    working" signal.  All counts are exact integers; the decile is
    integer arithmetic (doc_id*10 DIV N) on both engines.

    Scale: first-occurrence is min(bucket) per (lang, word) — one
    map-side-combined aggregate over (lang, word, tiny int), the same
    exchange shape as the vocabulary count every LM pipeline already
    pays; the decile histograms are 10 rows per language, and the
    cumulative window runs over those aggregated rows only (never the
    corpus).  No sort of the token stream anywhere.
    """
    d = load(spark, sf, "documents")
    n = d.agg((F.max("doc_id") + 1).alias("n"))
    toks = d.filter(F.length("text") > 0).select(
        "doc_id", "lang", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    tb = toks.crossJoin(F.broadcast(n)).select(
        "lang",
        "w",
        F.least(F.lit(9), F.expr("doc_id * 10 DIV n")).alias("bucket"),
    )
    firsts = tb.groupBy("lang", "w").agg(F.min("bucket").alias("b0"))
    newt = firsts.groupBy("lang", F.col("b0").alias("bucket")).agg(
        F.count(F.lit(1)).alias("new_types")
    )
    tok = tb.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("bucket_tokens")
    )
    j = tok.join(newt, ["lang", "bucket"], "left").na.fill(
        {"new_types": 0}
    )
    wc = W.partitionBy("lang").orderBy("bucket")
    return j.select(
        "lang",
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("new_types").cast("bigint").alias("new_types"),
        F.sum("new_types").over(wc).cast("bigint").alias("cum_types"),
        F.col("bucket_tokens").cast("bigint").alias("bucket_tokens"),
        F.sum("bucket_tokens").over(wc).cast("bigint").alias("cum_tokens"),
    )


# ---------------------------------------------------------------------------
# Attribute-span merge (Dolma-style interval algebra)
# ---------------------------------------------------------------------------


def _span_merge_sql() -> str:
    return """
WITH fam AS (
  SELECT f, k FROM (SELECT unnest([0,1,2]) AS f) a,
               (SELECT unnest([0,1,2]) AS k) b
),
raw AS (
  SELECT d.doc_id, d.n_chars,
         (d.doc_id * (7 + fam.f) + 13 * fam.k) % d.n_chars AS s,
         least((d.doc_id * (7 + fam.f) + 13 * fam.k) % d.n_chars
               + 5 + (d.doc_id + fam.f + fam.k) % 20, d.n_chars) AS e
  FROM documents d CROSS JOIN fam
),
marked AS (
  SELECT doc_id, n_chars, s, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS prev_max
  FROM raw
),
islands AS (
  SELECT doc_id, n_chars, s, e,
         sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s, e) AS island
  FROM marked
),
merged AS (
  SELECT doc_id, any_value(n_chars) AS n_chars, island,
         min(s) AS ms, max(e) AS me
  FROM islands GROUP BY doc_id, island
)
SELECT doc_id,
       CAST(9 AS BIGINT) AS n_raw,
       CAST(count(*) AS BIGINT) AS n_merged,
       CAST(sum(me - ms) AS BIGINT) AS covered_chars,
       CAST(any_value(n_chars) - sum(me - ms) AS BIGINT) AS kept_chars
FROM merged GROUP BY doc_id
"""


@_q("span_merge", _span_merge_sql())
def span_merge(spark, sf):
    """Dolma-style attribute-span algebra: a curation pipeline tags each
    document with byte spans from MANY independent taggers (PII, verbatim
    duplication, blocklisted terms — here three deterministic synthetic
    span families, three spans each, standing in for those attribute
    streams), and the removal step needs their UNION as disjoint
    intervals plus the kept-character budget.  Classic gaps-and-islands:
    sort a doc's spans by start, a new island begins where start exceeds
    the running max of prior ends, islands collapse to (min start,
    max end).  Exactly the shape of ``dedup_substring_spans``'s removal
    step, generalized to multi-tagger input.

    Scale: spans are (doc_id, int, int) triples — the window partitions
    by doc_id and a document's span count is tagger-bounded (tens), so
    per-partition state is tiny and NOTHING corpus-sized is sorted; the
    merge is one exchange keyed doc_id, co-partitioned with every other
    per-doc attribute table it later joins.
    """
    d = load(spark, sf, "documents")
    fam = spark.range(3).select(F.col("id").alias("f")).crossJoin(
        spark.range(3).select(F.col("id").alias("k"))
    )
    base = (F.col("doc_id") * (7 + F.col("f")) + 13 * F.col("k")) % F.col(
        "n_chars"
    )
    raw = d.crossJoin(F.broadcast(fam)).select(
        "doc_id",
        "n_chars",
        base.alias("s"),
        F.least(
            base + 5 + (F.col("doc_id") + F.col("f") + F.col("k")) % 20,
            F.col("n_chars"),
        ).alias("e"),
    )
    wo = W.partitionBy("doc_id").orderBy("s", "e")
    marked = raw.withColumn(
        "prev_max", F.max("e").over(wo.rowsBetween(W.unboundedPreceding, -1))
    )
    islands = marked.withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")), 1
            ).otherwise(0)
        ).over(wo),
    )
    merged = islands.groupBy("doc_id", "island").agg(
        F.any_value("n_chars").alias("n_chars"),
        F.min("s").alias("ms"),
        F.max("e").alias("me"),
    )
    return merged.groupBy("doc_id").agg(
        F.lit(9).cast("bigint").alias("n_raw"),
        F.count(F.lit(1)).cast("bigint").alias("n_merged"),
        F.sum(F.col("me") - F.col("ms")).cast("bigint").alias("covered_chars"),
        (F.any_value("n_chars") - F.sum(F.col("me") - F.col("ms")))
        .cast("bigint")
        .alias("kept_chars"),
    )


# ---------------------------------------------------------------------------
# Community detection (synchronous min-label propagation)
# ---------------------------------------------------------------------------


def _communities_sql() -> str:
    return """
WITH links AS (
  SELECT source AS s,
         'src' || CAST((CAST(substring(source, 4) AS INT)
                        + 2 * ((doc_id + k) % 9) + 2) % 20 AS VARCHAR) AS t
  FROM documents
  CROSS JOIN (SELECT unnest([0,1,2]) AS k) ks
),
e0 AS (
  SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
  FROM links WHERE s <> t
),
e AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
l0 AS (SELECT DISTINCT a AS host, a AS lbl FROM e),
m1 AS (SELECT e.a AS host, min(l.lbl) AS nb
       FROM e JOIN l0 l ON l.host = e.b GROUP BY e.a),
l1 AS (SELECT l.host, least(l.lbl, m1.nb) AS lbl
       FROM l0 l JOIN m1 ON m1.host = l.host),
m2 AS (SELECT e.a AS host, min(l.lbl) AS nb
       FROM e JOIN l1 l ON l.host = e.b GROUP BY e.a),
l2 AS (SELECT l.host, least(l.lbl, m2.nb) AS lbl
       FROM l1 l JOIN m2 ON m2.host = l.host),
m3 AS (SELECT e.a AS host, min(l.lbl) AS nb
       FROM e JOIN l2 l ON l.host = e.b GROUP BY e.a)
SELECT l.host, least(l.lbl, m3.nb) AS community
FROM l2 l JOIN m3 ON m3.host = l.host
"""


@_q("graph_communities", _communities_sql())
def graph_communities(spark, sf):
    """Community detection on the host graph by SYNCHRONOUS min-label
    propagation: every vertex starts labeled with itself, and each round
    takes the min of its own label and its neighbors' — after r rounds a
    vertex carries the smallest label within r hops, so labels converge
    to per-component minima (here 3 unrolled rounds; the synthetic link
    recipe preserves host-number parity, so the 20 hosts form exactly
    two communities).  Deterministic by construction: min over strings
    is order-insensitive, no tie-break randomness like classic async
    LPA.

    Scale: per round one join keyed on vertex id + one min-aggregate —
    the same alternating shape as ``dedup_clusters``'s large-star rounds
    (textops.py), exchanging only (host, label) string pairs; host
    cardinality is ~10^8 at web scale, 4 orders below pages.  A fixed
    unroll keeps the oracle closed-form; the production loop iterates
    to fixpoint with the same per-round plan and a 2-scalar convergence
    fingerprint, as graph_pagerank does.
    """
    d = load(spark, sf, "documents")
    ks = spark.range(3).select(F.col("id").alias("k"))
    links = d.crossJoin(F.broadcast(ks)).select(
        F.col("source").alias("s"),
        F.concat(
            F.lit("src"),
            (
                (
                    F.substring("source", 4, 10).cast("int")
                    + 2 * ((F.col("doc_id") + F.col("k")) % 9)
                    + 2
                )
                % 20
            ).cast("string"),
        ).alias("t"),
    )
    e0 = (
        links.filter(F.col("s") != F.col("t"))
        .select(F.least("s", "t").alias("a"), F.greatest("s", "t").alias("b"))
        .distinct()
    )
    e = e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
    lbl = e.select(F.col("a").alias("host")).distinct().select(
        "host", F.col("host").alias("lbl")
    )
    for _ in range(3):
        nb = (
            e.join(lbl.withColumnRenamed("host", "b_host"),
                   F.col("b") == F.col("b_host"))
            .groupBy(F.col("a").alias("host"))
            .agg(F.min("lbl").alias("nb"))
        )
        lbl = lbl.join(nb, "host").select(
            "host", F.least("lbl", "nb").alias("lbl")
        )
    return lbl.select("host", F.col("lbl").alias("community"))


# ---------------------------------------------------------------------------
# Gazetteer-based PII (dictionary names, not regex shapes)
# ---------------------------------------------------------------------------

# the dictionary is the OPERATOR INPUT here; the synthetic splice below
# plants deterministic occurrences so the match path is exercised
_GAZETTEER = [
    "alice", "bartholomew", "carlos", "dmitri",
    "esperanza", "fatima", "giovanni", "hannah",
]


def _gazetteer_sql() -> str:
    names = ", ".join(f"('{n}')" for n in _GAZETTEER)
    arr = "[" + ", ".join(f"'{n}'" for n in _GAZETTEER) + "]"
    alt = "|".join(_GAZETTEER)
    return f"""
WITH synth AS (
  SELECT doc_id, lang,
         text || ' reported by ' || {arr}[1 + doc_id % 8]
              || ' and ' || {arr}[1 + (doc_id * 3 + 1) % 8] AS t
  FROM documents WHERE length(text) > 0
),
gaz(name) AS (VALUES {names}),
toks AS (
  SELECT doc_id, unnest(string_split(lower(t), ' ')) AS w FROM synth
),
hits AS (
  SELECT t.doc_id, count(*) AS n_names,
         count(DISTINCT t.w) AS n_distinct_names
  FROM toks t JOIN gaz g ON g.name = t.w
  GROUP BY t.doc_id
)
SELECT s.doc_id, s.lang,
       CAST(coalesce(h.n_names, 0) AS BIGINT) AS n_names,
       CAST(coalesce(h.n_distinct_names, 0) AS BIGINT) AS n_distinct_names,
       md5(regexp_replace(s.t, '\\b({alt})\\b', '<NAME>', 'g'))
         AS redacted_md5
FROM synth s LEFT JOIN hits h ON h.doc_id = s.doc_id
"""


@_q("pii_gazetteer", _gazetteer_sql())
def pii_gazetteer(spark, sf):
    """Dictionary (gazetteer) PII pass — the complement of ``text_pii``'s
    shape regexes: person names have no syntactic shape, so production
    redaction joins the token stream against a curated name list (Dolma's
    approach for non-pattern PII).  Counts per-doc name hits via an
    exact token match against the dictionary and emits the md5 of the
    word-boundary-redacted text; the deterministic splice plants two
    dictionary names per document so both engines exercise the match
    path on identical bytes.

    Scale: the gazetteer (10^4–10^6 names in production) BROADCASTS —
    the token stream never shuffles for the join; counting aggregates
    map-side per doc.  The redaction regex is one scan-stage alternation
    (production compiles the dictionary to an Aho-Corasick automaton
    inside a pandas UDF when it outgrows a regex literal; same
    plan shape).  Nothing corpus-sized exchanges at any point.
    """
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    arr = F.array(*[F.lit(n) for n in _GAZETTEER])
    t = F.concat(
        F.col("text"),
        F.lit(" reported by "),
        F.element_at(arr, (F.col("doc_id") % 8 + 1).cast("int")),
        F.lit(" and "),
        F.element_at(arr, ((F.col("doc_id") * 3 + 1) % 8 + 1).cast("int")),
    )
    synth = d.select("doc_id", "lang", t.alias("t"))
    gaz = spark.range(len(_GAZETTEER)).select(
        F.element_at(arr, (F.col("id") + 1).cast("int")).alias("name")
    )
    toks = synth.select(
        "doc_id", F.explode(F.split(F.lower("t"), " ")).alias("w")
    )
    hits = (
        toks.join(F.broadcast(gaz), toks.w == gaz.name)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_names"),
            F.countDistinct("w").alias("n_distinct_names"),
        )
    )
    alt = "|".join(_GAZETTEER)
    return (
        synth.join(hits, "doc_id", "left")
        .na.fill({"n_names": 0, "n_distinct_names": 0})
        .select(
            "doc_id",
            "lang",
            F.col("n_names").cast("bigint").alias("n_names"),
            F.col("n_distinct_names")
            .cast("bigint")
            .alias("n_distinct_names"),
            F.md5(
                F.regexp_replace(
                    "t", f"\\b({alt})\\b", "<NAME>"
                )
            ).alias("redacted_md5"),
        )
    )


# ---------------------------------------------------------------------------
# Scoring documents with the trained Kneser-Ney LM
# ---------------------------------------------------------------------------


def _kn_score_sql() -> str:
    m = _KN_MICRO
    return f"""
WITH lm AS ({REGISTRY["lm_kneser_ney"].sql}),
toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS a FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 2
),
bg AS (
  SELECT doc_id, a[CAST(r.i AS INT)] AS w1, a[CAST(r.i AS INT) + 1] AS w2
  FROM toks, range(1, 4096) r(i) WHERE r.i < len(a)
),
scored AS (
  SELECT bg.doc_id,
         CAST(length(printf('%b',
                {m} // greatest(lm.p_micro, 1))) - 1 AS BIGINT) AS bits
  FROM bg JOIN lm ON lm.w1 = bg.w1 AND lm.w2 = bg.w2
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(bits) AS BIGINT) AS total_bits,
       CAST(sum(bits) * {m} // count(*) AS BIGINT) AS bits_per_bigram_micro
FROM scored GROUP BY doc_id
"""


@_q("lm_kn_score", _kn_score_sql())
def lm_kn_score(spark, sf):
    """Score every document with the CORPUS-TRAINED Kneser-Ney bigram LM
    (``lm_kneser_ney``) — the missing middle of the CCNet loop: train
    the LM (done), SCORE each page's bigram stream with it (this), then
    bucket by score (``ppl_buckets`` does it for the unigram LM).  Each
    bigram contributes floor(log2(1/p)) bits via the exact
    integer-bit-length trick ``text_surprisal`` pins (length(bin(M DIV
    p_micro)) − 1 — no float log anywhere); the per-doc score is exact
    integer micro-bits-per-bigram.  Self-scoring means no OOV path: every
    observed bigram is in the table by construction (production holds
    out the eval shard; the join shape is identical).

    Scale: the LM table is Zipf-bounded (bigram TYPES, not tokens) and
    BROADCASTS; the document bigram stream is a scan-stage explode that
    meets it map-side and aggregates per doc_id — one corpus-sized
    exchange total, carrying (doc_id, small ints).
    """
    lm = lm_kneser_ney(spark, sf).select("w1", "w2", "p_micro")
    d = load(spark, sf, "documents")
    ws = d.select(
        "doc_id", F.split(F.lower("text"), " ").alias("a")
    ).filter(F.size("a") >= 2)
    bg = ws.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("a") - 1),
                lambda i: F.struct(
                    F.element_at("a", i).alias("w1"),
                    F.element_at("a", i + 1).alias("w2"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    bits = (
        F.length(
            F.expr(f"bin({_KN_MICRO} DIV greatest(p_micro, 1L))")
        )
        - 1
    ).cast("bigint")
    scored = bg.join(F.broadcast(lm), ["w1", "w2"]).select(
        "doc_id", bits.alias("bits")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("bits").cast("bigint").alias("total_bits"),
        F.expr(f"CAST(sum(bits) * {_KN_MICRO} DIV count(*) AS BIGINT)").alias(
            "bits_per_bigram_micro"
        ),
    )


# ---------------------------------------------------------------------------
# Z-order clustering stats (lake OPTIMIZE / data-skipping layout)
# ---------------------------------------------------------------------------


def _z_expr(intdiv: str) -> str:
    """Bit-interleave of two 6-bit dims as pure integer arithmetic —
    identical formula text in both engines modulo the integer-division
    operator (Spark ``DIV``, DuckDB ``//``)."""
    terms = []
    for b in range(6):
        terms.append(f"((zx {intdiv} {1 << b}) % 2) * {1 << (2 * b + 1)}")
        terms.append(f"((zy {intdiv} {1 << b}) % 2) * {1 << (2 * b)}")
    return " + ".join(terms)


def _zorder_sql() -> str:
    return f"""
WITH dims AS (
  SELECT doc_id,
         least(n_chars // 8, 63) AS zx,
         doc_id % 64 AS zy
  FROM documents
),
z AS (SELECT doc_id, zx, zy, {_z_expr('//')} AS zval FROM dims)
SELECT CAST(zval // 256 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(zx) AS BIGINT) AS min_x, CAST(max(zx) AS BIGINT) AS max_x,
       CAST(min(zy) AS BIGINT) AS min_y, CAST(max(zy) AS BIGINT) AS max_y,
       CAST(max(zx) - min(zx) AS BIGINT) AS x_spread,
       CAST(max(zy) - min(zy) AS BIGINT) AS y_spread
FROM z GROUP BY zval // 256
"""


@_q("cluster_zorder", _zorder_sql())
def cluster_zorder(spark, sf):
    """Z-order (Morton) clustering census — the layout step behind
    Delta/Iceberg ``OPTIMIZE ZORDER BY (a, b)``: interleave the bits of
    two filter dimensions (here a 6-bit length class and a 6-bit id
    class) so that CONTIGUOUS z-ranges are small rectangles in (x, y)
    space, then report per-file-bucket min/max of BOTH dims — exactly
    the footer stats a reader prunes with.  A bucket of 256 consecutive
    z-values is guaranteed a ≤16×16 rectangle, so predicates on EITHER
    dimension skip ~15/16 of files (linear layout gives that for one
    dimension and nothing for the other); x_spread/y_spread make the
    guarantee visible in the output.

    Determinism: the interleave is pure integer arithmetic (shift =
    divide by power of two, identical formula text both engines), never
    a platform bit-intrinsic.

    Scale: the z-value is a scan-stage expression; production follows
    with repartitionByRange(zval) + sortWithinPartitions — one range
    exchange, the same cost as any sort-based OPTIMIZE — and this
    census is the map-side-combined aggregate that validates the layout
    before the rewrite commits.
    """
    d = load(spark, sf, "documents").select(
        "doc_id",
        F.least(F.expr("n_chars DIV 8"), F.lit(63)).alias("zx"),
        (F.col("doc_id") % 64).alias("zy"),
    )
    z = d.select("doc_id", "zx", "zy", F.expr(_z_expr("DIV")).alias("zval"))
    return z.groupBy(F.expr("zval DIV 256").cast("bigint").alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("zx").cast("bigint").alias("min_x"),
        F.max("zx").cast("bigint").alias("max_x"),
        F.min("zy").cast("bigint").alias("min_y"),
        F.max("zy").cast("bigint").alias("max_y"),
        (F.max("zx") - F.min("zx")).cast("bigint").alias("x_spread"),
        (F.max("zy") - F.min("zy")).cast("bigint").alias("y_spread"),
    )


# ---------------------------------------------------------------------------
# Mirror-site detection (host-level content overlap)
# ---------------------------------------------------------------------------


def _mirror_sql() -> str:
    return """
WITH pages AS (
  SELECT DISTINCT source AS host,
         md5('page' || CAST((doc_id * 7 // 13) % 30 AS VARCHAR)) AS h
  FROM documents
),
sz AS (SELECT host, CAST(count(*) AS BIGINT) AS n FROM pages GROUP BY host),
inter AS (
  SELECT a.host AS host_a, b.host AS host_b, CAST(count(*) AS BIGINT) AS i
  FROM pages a JOIN pages b ON a.h = b.h AND a.host < b.host
  GROUP BY 1, 2
)
SELECT host_a, host_b, i AS n_shared,
       sa.n AS size_a, sb.n AS size_b,
       CAST(i * 1000 // (sa.n + sb.n - i) AS BIGINT) AS jac_permille,
       3 * i >= 2 * (sa.n + sb.n - i) AS is_mirror
FROM inter
JOIN sz sa ON sa.host = host_a
JOIN sz sb ON sb.host = host_b
"""


@_q("mirror_detect", _mirror_sql())
def mirror_detect(spark, sf):
    """Mirror-site detection: host pairs ranked by content-digest
    overlap — the crawl-budget op that collapses example.org /
    example-mirror.net duplicates BEFORE page-level dedup wastes fetches
    on them (and the provenance input canonical-host election needs).
    Each host's page set is its distinct content digests (here a
    deterministic doc_id%40 content key stands in for md5(body), so
    hosts share pages by construction); overlap is exact Jaccard in
    integer permille, with the mirror verdict 2|∩| >= |A∪B| gated in
    integers.

    Scale: the pair stream comes from a DIGEST-keyed equi-join — a
    digest shared by k hosts contributes k(k-1)/2 pairs, and k is
    naturally tiny except for boilerplate/spam pages, which production
    caps with a per-digest host limit (the same giants guard the
    extract pipeline uses); NEVER an all-pairs of hosts.  Everything
    exchanged is (16-byte digest, host) or (host, host, count) — page
    bodies stay in the scan stage.  Host-set sizes fold from the same
    pages table with map-side combine.
    """
    d = load(spark, sf, "documents")
    pages = d.select(
        F.col("source").alias("host"),
        F.md5(
            F.concat(
                F.lit("page"),
                F.expr("(doc_id * 7 DIV 13) % 30").cast("string"),
            )
        ).alias("h"),
    ).distinct()
    sz = pages.groupBy("host").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = pages.alias("a")
    b = pages.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h")) & (F.col("a.host") < F.col("b.host")),
        )
        .groupBy(
            F.col("a.host").alias("host_a"), F.col("b.host").alias("host_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )
    sa = sz.select(F.col("host").alias("host_a"), F.col("n").alias("size_a"))
    sb = sz.select(F.col("host").alias("host_b"), F.col("n").alias("size_b"))
    return (
        inter.join(F.broadcast(sa), "host_a")
        .join(F.broadcast(sb), "host_b")
        .select(
            "host_a",
            "host_b",
            F.col("i").alias("n_shared"),
            "size_a",
            "size_b",
            F.expr("CAST(i * 1000 DIV (size_a + size_b - i) AS BIGINT)").alias(
                "jac_permille"
            ),
            (
                3 * F.col("i")
                >= 2 * (F.col("size_a") + F.col("size_b") - F.col("i"))
            ).alias("is_mirror"),
        )
    )


# ---------------------------------------------------------------------------
# Per-language data card
# ---------------------------------------------------------------------------


def _datacard_sql() -> str:
    return f"""
WITH g AS ({REGISTRY["text_gopher"].sql}),
base AS (
  SELECT d.doc_id, d.lang, d.source, d.n_chars,
         len(string_split(lower(d.text), ' ')) AS n_tokens,
         g.keep
  FROM documents d JOIN g ON g.doc_id = d.doc_id
  WHERE length(d.text) > 0
),
vocab AS (
  SELECT lang, count(DISTINCT w) AS vocab_types
  FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS w
        FROM documents WHERE length(text) > 0)
  GROUP BY lang
)
SELECT b.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT b.source) AS BIGINT) AS n_hosts,
       CAST(sum(b.n_chars) AS BIGINT) AS n_chars,
       CAST(sum(b.n_tokens) AS BIGINT) AS n_tokens,
       CAST(any_value(v.vocab_types) AS BIGINT) AS vocab_types,
       CAST(sum(CASE WHEN b.keep THEN 1 ELSE 0 END) AS BIGINT)
         AS gopher_keep,
       CAST(sum(CASE WHEN b.keep THEN b.n_tokens ELSE 0 END) AS BIGINT)
         AS kept_tokens
FROM base b JOIN vocab v ON v.lang = b.lang
GROUP BY b.lang
"""


@_q("corpus_datacard", _datacard_sql())
def corpus_datacard(spark, sf):
    """The per-language DATA CARD in one plan — the summary table a
    dataset release publishes (docs, hosts, chars, tokens, vocabulary,
    quality-filter survival, post-filter token budget), composed from
    the SAME frozen operators users run individually: the Gopher verdict
    is ``text_gopher``'s shared code (not a re-implementation), so the
    card can never disagree with the filter it reports on.

    Scale: the gopher verdict is a scan-stage projection joined back on
    doc_id (co-partitioned with the scan); vocabulary is the one
    (lang, word)-keyed aggregate every LM pipeline already pays (see
    ``vocab_growth``); everything else folds map-side into per-lang
    rows.  The card over 10^12 docs is |langs| rows out — the exchanges
    carry counters, never text.
    """
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    g = text_gopher(spark, sf).select("doc_id", "keep")
    base = d.join(g, "doc_id").select(
        "lang",
        "source",
        "n_chars",
        F.size(F.split(F.lower("text"), " ")).alias("n_tokens"),
        "keep",
    )
    vocab = (
        d.select("lang", F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("lang")
        .agg(F.countDistinct("w").alias("vocab_types"))
    )
    agg = base.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_hosts"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("gopher_keep"),
        F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("kept_tokens"),
    )
    return agg.join(F.broadcast(vocab), "lang").select(
        "lang",
        "n_docs",
        "n_hosts",
        "n_chars",
        "n_tokens",
        F.col("vocab_types").cast("bigint").alias("vocab_types"),
        "gopher_keep",
        "kept_tokens",
    )


# ---------------------------------------------------------------------------
# Cross-split leakage audit (composes split_by_host x dedup_minhash)
# ---------------------------------------------------------------------------


def _leakage_sql() -> str:
    from caraspark.textops import REGISTRY as TEXT_REGISTRY

    return f"""
WITH pairs AS ({TEXT_REGISTRY["dedup_minhash"].sql}),
assign AS (
  SELECT doc_id,
         CASE WHEN CAST('0x' || substring(md5(source || ':split'), 1, 8)
                   AS BIGINT) < {_SPLIT_TRAIN} THEN 'train'
              WHEN CAST('0x' || substring(md5(source || ':split'), 1, 8)
                   AS BIGINT) < {_SPLIT_VAL} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT least(sa.split, sb.split) AS split_a,
       greatest(sa.split, sb.split) AS split_b,
       sa.split <> sb.split AS crosses,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs p
JOIN assign sa ON sa.doc_id = p.id_a
JOIN assign sb ON sb.doc_id = p.id_b
GROUP BY 1, 2, 3
"""


@_q("split_leakage_audit", _leakage_sql())
def split_leakage_audit(spark, sf):
    """The audit that justifies host-level splitting: every MinHash
    near-duplicate candidate pair (``dedup_minhash``, same frozen
    semantics) is tagged with the split of each side
    (``split_by_host``'s pure-integer host assignment), and the census
    counts pairs by (split_a, split_b) — rows with ``crosses = TRUE``
    are documents whose near-twin sits across the train/eval boundary,
    i.e. exactly the contamination document-level random splits leak
    and host-level splits are supposed to prevent (near-dups concentrate
    within hosts; the residual cross-host count is the honest leakage
    number a data card should publish).

    Scale: the pair table is the dedup pass's own output (digest-keyed,
    no new corpus scan); the split column is a scan-stage hash of an
    existing column, so the two tagging joins are doc_id-keyed lookups
    against a two-column table; the final rollup is <= 6 rows."""
    from caraspark.textops import dedup_minhash

    pairs = dedup_minhash(spark, sf).select("id_a", "id_b")
    d = load(spark, sf, "documents")
    u = F.conv(
        F.substring(
            F.md5(F.encode(F.concat(F.col("source"), F.lit(":split")), "utf-8")),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    assign = d.select(
        "doc_id",
        F.when(u < _SPLIT_TRAIN, "train")
        .when(u < _SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )
    sa = assign.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
    sb = assign.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    return (
        pairs.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .groupBy(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
            (F.col("sa") != F.col("sb")).alias("crosses"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# Crawl-budget apportionment (largest-remainder method)
# ---------------------------------------------------------------------------

_CRAWL_BUDGET = 1000


def _apportion_sql() -> str:
    b = _CRAWL_BUDGET
    return f"""
WITH w AS (
  SELECT source AS host, CAST(count(*) AS BIGINT) AS weight
  FROM documents GROUP BY source
),
t AS (SELECT CAST(sum(weight) AS BIGINT) AS total FROM w),
q AS (
  SELECT host, weight,
         CAST(weight * {b} // t.total AS BIGINT) AS base_quota,
         CAST(weight * {b} % t.total AS BIGINT) AS remainder
  FROM w, t
),
leftover AS (
  SELECT CAST({b} - sum(base_quota) AS BIGINT) AS k FROM q
),
r AS (
  SELECT q.*,
         row_number() OVER (ORDER BY remainder DESC, host) AS rk
  FROM q
)
SELECT host, weight, base_quota,
       CAST(CASE WHEN rk <= (SELECT k FROM leftover)
                 THEN 1 ELSE 0 END AS BIGINT) AS extra,
       CAST(base_quota + CASE WHEN rk <= (SELECT k FROM leftover)
                              THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM r
"""


@_q("budget_apportion", _apportion_sql())
def budget_apportion(spark, sf):
    """Crawl-budget apportionment by the largest-remainder (Hamilton)
    method: each host's integer base quota is floor(weight·B / total),
    and the leftover B − Σfloor slots go to the largest remainders
    (ties by host name) — the EXACT integer apportionment a politeness
    scheduler runs each cycle, with the invariant Σalloc = B holding by
    construction (no float rounding can ever over- or under-allocate
    the fetch fleet).

    Scale: weights fold from the corpus with one map-side-combined
    aggregate; everything after runs at HOST cardinality — the total is
    a 1-row broadcast, and the remainder rank is a window over host
    rows (at 10^8 hosts production ranks within (tld, shard) panes and
    apportions the leftover hierarchically — same algebra, two
    levels).  The corpus itself is touched exactly once."""
    d = load(spark, sf, "documents")
    b = _CRAWL_BUDGET
    w = d.groupBy(F.col("source").alias("host")).agg(
        F.count(F.lit(1)).cast("bigint").alias("weight")
    )
    t = w.agg(F.sum("weight").cast("bigint").alias("total"))
    q = w.crossJoin(F.broadcast(t)).select(
        "host",
        "weight",
        F.expr(f"CAST(weight * {b} DIV total AS BIGINT)").alias("base_quota"),
        F.expr(f"CAST(weight * {b} % total AS BIGINT)").alias("remainder"),
    )
    leftover = q.agg(
        (F.lit(b) - F.sum("base_quota")).cast("bigint").alias("k")
    )
    r = q.withColumn(
        "rk",
        F.row_number().over(W.orderBy(F.col("remainder").desc(), F.col("host"))),
    ).crossJoin(F.broadcast(leftover))
    extra = F.when(F.col("rk") <= F.col("k"), 1).otherwise(0)
    return r.select(
        "host",
        "weight",
        "base_quota",
        extra.cast("bigint").alias("extra"),
        (F.col("base_quota") + extra).cast("bigint").alias("alloc"),
    )


# ---------------------------------------------------------------------------
# PPS (probability-proportional-to-size) sampling
# ---------------------------------------------------------------------------


def _pps_sql() -> str:
    return """
WITH m AS (SELECT max(n_chars) AS mx FROM documents)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM documents, m
WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':pps'), 1, 8)
           AS BIGINT) * m.mx < n_chars * 4294967296
"""


@_q("sample_pps", _pps_sql())
def sample_pps(spark, sf):
    """Probability-proportional-to-size sampling: a document's keep
    probability is n_chars / max(n_chars) — the length-weighted draw a
    token-budget pipeline uses so the SAMPLE's token mass mirrors the
    corpus's (uniform doc sampling under-represents long documents'
    tokens).  The gate is exact integers: u32·max < chars·2^32 — the
    same md5-slice uniform as ``sample_stratified``, never a float
    probability, so the sample is a pure function of the row and
    reproducible across runs, engines, and resumes.

    Scale: max(n_chars) is a 1-row broadcast; the gate is a scan-stage
    filter — zero data-sized shuffles (production uses a per-stratum
    max from the stats table instead of a global max; same plan)."""
    d = load(spark, sf, "documents")
    m = d.agg(F.max("n_chars").alias("mx"))
    u = F.conv(
        F.substring(
            F.md5(
                F.encode(
                    F.concat(F.col("doc_id").cast("string"), F.lit(":pps")),
                    "utf-8",
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (
        d.crossJoin(F.broadcast(m))
        .filter(u * F.col("mx") < F.col("n_chars") * F.lit(4294967296))
        .select("doc_id", F.col("n_chars").cast("bigint").alias("n_chars"))
    )


# ---------------------------------------------------------------------------
# Link prediction on the host graph (common neighbors + resource allocation)
# ---------------------------------------------------------------------------


def _link_predict_sql() -> str:
    return """
WITH links AS (
  SELECT source AS s,
         'src' || CAST((CAST(substring(source, 4) AS INT)
                        + 2 * (doc_id % 9) + 2) % 20 AS VARCHAR) AS t
  FROM documents WHERE doc_id % 11 = 0
),
e0 AS (
  SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
  FROM links WHERE s <> t
),
e AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY a),
cand AS (
  SELECT x.a AS host_a, y.b AS host_b, x.b AS via
  FROM e x JOIN e y ON y.a = x.b AND x.a < y.b
),
scored AS (
  SELECT c.host_a, c.host_b,
         CAST(count(*) AS BIGINT) AS n_common,
         CAST(sum(1000000 // deg.d) AS BIGINT) AS ra_micro
  FROM cand c JOIN deg ON deg.v = c.via
  GROUP BY c.host_a, c.host_b
)
SELECT s.host_a, s.host_b, s.n_common, s.ra_micro
FROM scored s
LEFT JOIN e0 ON e0.a = s.host_a AND e0.b = s.host_b
WHERE e0.a IS NULL
"""


@_q("link_predict", _link_predict_sql())
def link_predict(spark, sf):
    """Link prediction on the host graph: for every NON-adjacent host
    pair, the common-neighbor count and the resource-allocation index
    (Zhou et al. 2009 — Σ 1/deg(via), the strongest of the classic
    local indices) — the crawl-side "which hosts will link next /
    which links are missing" signal, also the standard edge-recovery
    features for graph-completion evals.  RA accumulates integer
    micro-units (1e6 DIV deg per witness, floor) so sums are
    order-insensitive and hash-exact; existing edges are removed with a
    LEFT ANTI against the canonical edge set.

    Scale: the two-hop candidate join is edge ⋈ edge keyed on the
    shared endpoint — cost Σ deg(v)^2, the irreducible wedge count that
    triangle counting (`graph_triangles`) already pays; production caps
    hub degrees first (the same giants guard).  Degrees broadcast; the
    anti-join is host-pair-keyed; nothing document-sized appears
    anywhere after the first contraction.  (The synthetic edge set is
    SPARSIFIED — one link per 11th document — because link prediction
    over a near-complete graph is vacuous.)"""
    d = load(spark, sf, "documents").filter(F.col("doc_id") % 11 == 0)
    links = d.select(
        F.col("source").alias("s"),
        F.concat(
            F.lit("src"),
            (
                (
                    F.substring("source", 4, 10).cast("int")
                    + 2 * (F.col("doc_id") % 9)
                    + 2
                )
                % 20
            ).cast("string"),
        ).alias("t"),
    )
    e0 = (
        links.filter(F.col("s") != F.col("t"))
        .select(F.least("s", "t").alias("a"), F.greatest("s", "t").alias("b"))
        .distinct()
    )
    e = e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = e.groupBy(F.col("a").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    x = e.select(F.col("a").alias("host_a"), F.col("b").alias("via"))
    y = e.select(F.col("a").alias("via_y"), F.col("b").alias("host_b"))
    cand = x.join(y, (F.col("via") == F.col("via_y"))).filter(
        F.col("host_a") < F.col("host_b")
    )
    scored = (
        cand.join(F.broadcast(deg), F.col("v") == F.col("via"))
        .groupBy("host_a", "host_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum(F.expr("1000000 DIV d")).cast("bigint").alias("ra_micro"),
        )
    )
    return scored.join(
        e0,
        (e0.a == scored.host_a) & (e0.b == scored.host_b),
        "left_anti",
    ).select("host_a", "host_b", "n_common", "ra_micro")


# ---------------------------------------------------------------------------
# Host-level perplexity rollup (domain filtering a la CCNet)
# ---------------------------------------------------------------------------


def _host_ppl_sql() -> str:
    m = _KN_MICRO
    return f"""
WITH s AS ({REGISTRY["lm_kn_score"].sql})
SELECT d.source AS host,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(s.n_bigrams) AS BIGINT) AS n_bigrams,
       CAST(sum(s.total_bits) AS BIGINT) AS total_bits,
       CAST(sum(s.total_bits) * {m} // sum(s.n_bigrams) AS BIGINT)
         AS bits_per_bigram_micro
FROM s JOIN documents d ON d.doc_id = s.doc_id
GROUP BY d.source
"""


@_q("host_ppl", _host_ppl_sql())
def host_ppl(spark, sf):
    """Host-level LM-quality rollup: the corpus-trained Kneser-Ney
    document scores (`lm_kn_score`, exact integer bits) aggregated per
    host — the domain-granularity perplexity ranking CCNet-family
    pipelines use to keep or drop whole sites (domain decisions are
    cheaper and less noisy than per-page ones, and spam concentrates by
    host).  Micro-bits-per-bigram is corpus-exact: integer bit sums
    with ONE floor division per host, never an average of averages.

    Scale: the expensive part is the per-doc scoring pass, already paid
    by `lm_kn_score` (broadcast LM, one doc-keyed exchange); this adds
    a doc_id-keyed join to a two-column table and a host-grain
    map-side-combined rollup — at 10^8 hosts the output IS the domain
    blocklist candidate table `host_reputation` consumes."""
    s = lm_kn_score(spark, sf)
    d = load(spark, sf, "documents").select("doc_id", "source")
    m = _KN_MICRO
    return (
        s.join(d, "doc_id")
        .groupBy(F.col("source").alias("host"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.sum("total_bits").cast("bigint").alias("total_bits"),
            F.expr(
                f"CAST(sum(total_bits) * {m} DIV sum(n_bigrams) AS BIGINT)"
            ).alias("bits_per_bigram_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Posting-list gap-encoding budget (index compression planning)
# ---------------------------------------------------------------------------


def _gapbits_sql() -> str:
    return """
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents WHERE length(text) > 0
),
g AS (
  SELECT term, doc_id,
         coalesce(doc_id - lag(doc_id) OVER (PARTITION BY term
                                             ORDER BY doc_id),
                  doc_id + 1) AS gap
  FROM toks
)
SELECT term,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(length(printf('%b', gap))) AS BIGINT) AS gap_bits,
       CAST(count(*) * 64 AS BIGINT) AS raw_bits,
       CAST(sum(length(printf('%b', gap))) * 1000 // (count(*) * 64)
            AS BIGINT) AS ratio_permille
FROM g
WHERE term SIMILAR TO '[a-z]+'
GROUP BY term
"""


@_q("postings_gapbits", _gapbits_sql())
def postings_gapbits(spark, sf):
    """Gap-encoding budget per posting list: sorted doc-id gaps cost
    bit_length(gap) bits each (the exact payload bits of any
    Elias/varint-family code, before per-code overhead), summed against
    the 64-bit raw baseline — the index-size planning table that decides
    compression codecs and posting-block layouts BEFORE the index is
    built.  Dense terms (tiny gaps) compress ~50-60x; rare terms barely
    2x — exactly the df-dependent curve block-max layouts exploit.
    Bit lengths come from the integer bin() device, so every sum is
    exact.

    Scale: one exchange keyed term (the same the index build pays); the
    lag window scans each posting list once with one BIGINT of state;
    the census output is vocabulary-sized.  Doc ids never leave their
    term partition."""
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    toks = (
        d.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
        )
        .filter(F.col("term").rlike("^[a-z]+$"))
        .distinct()
    )
    wt = W.partitionBy("term").orderBy("doc_id")
    g = toks.withColumn(
        "gap",
        F.coalesce(
            F.col("doc_id") - F.lag("doc_id").over(wt), F.col("doc_id") + 1
        ),
    )
    bits = F.length(F.expr("bin(gap)"))
    return g.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum(bits).cast("bigint").alias("gap_bits"),
        (F.count(F.lit(1)) * 64).cast("bigint").alias("raw_bits"),
        F.expr(
            "CAST(sum(length(bin(gap))) * 1000 DIV (count(*) * 64)"
            " AS BIGINT)"
        ).alias("ratio_permille"),
    )


# ---------------------------------------------------------------------------
# Sequence-packing efficiency report
# ---------------------------------------------------------------------------


def _pack_eff_sql() -> str:
    return f"""
WITH p AS ({REGISTRY["pack_sequences"].sql}),
seqs AS (
  SELECT lang, shard, seq_id,
         CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM p GROUP BY lang, shard, seq_id
)
SELECT lang, shard,
       CAST(count(*) AS BIGINT) AS n_seqs,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(seq_tokens) AS BIGINT) AS total_tokens,
       CAST(count(*) * {_PACK_TARGET} AS BIGINT) AS capacity,
       CAST(sum(seq_tokens) * 1000 // (count(*) * {_PACK_TARGET})
            AS BIGINT) AS fill_permille
FROM seqs GROUP BY lang, shard
"""


@_q("pack_efficiency", _pack_eff_sql())
def pack_efficiency(spark, sf):
    """Packing-efficiency report over the sequence packer
    (`pack_sequences`, same frozen operator): per (lang, shard), how
    full the packed training sequences actually are against the token
    target — fill_permille IS the padding-waste number a pretraining
    team watches (waste = 1 − fill; every lost permille is paid GPU
    time), and the per-shard split shows whether hot-language sharding
    keeps the tail balanced.

    Scale: consumes the packer's own output keyed exactly as the packer
    shuffles it; two map-side-combined rollups, output at
    (lang × shard) cardinality."""
    p = pack_sequences(spark, sf)
    seqs = p.groupBy("lang", "shard", "seq_id").agg(
        F.sum("n_tokens").cast("bigint").alias("seq_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    return seqs.groupBy("lang", "shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seqs"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("seq_tokens").cast("bigint").alias("total_tokens"),
        (F.count(F.lit(1)) * _PACK_TARGET).cast("bigint").alias("capacity"),
        F.expr(
            f"CAST(sum(seq_tokens) * 1000 DIV (count(*) * {_PACK_TARGET})"
            " AS BIGINT)"
        ).alias("fill_permille"),
    )


# ---------------------------------------------------------------------------
# Curation keep-rate funnel
# ---------------------------------------------------------------------------


def _curation_funnel_sql() -> str:
    return f"""
WITH g AS ({REGISTRY["text_gopher"].sql}),
bl AS ({REGISTRY["filter_blocklist"].sql}),
base AS (
  SELECT d.doc_id, md5(d.text) AS h,
         len(string_split(lower(d.text), ' ')) AS n_tokens,
         g.keep AS g_keep,
         bl.doc_id IS NOT NULL AS b_keep
  FROM documents d
  JOIN g ON g.doc_id = d.doc_id
  LEFT JOIN bl ON bl.doc_id = d.doc_id
  WHERE length(d.text) > 0
),
surv AS (SELECT * FROM base WHERE g_keep AND b_keep),
keepers AS (
  SELECT h, min(doc_id) AS keeper FROM surv GROUP BY h
),
staged AS (
  SELECT '0_all' AS stage, doc_id, n_tokens FROM base
  UNION ALL
  SELECT '1_gopher', doc_id, n_tokens FROM base WHERE g_keep
  UNION ALL
  SELECT '2_blocklist', doc_id, n_tokens FROM surv
  UNION ALL
  SELECT '3_dedup', s.doc_id, s.n_tokens
  FROM surv s JOIN keepers k ON k.h = s.h AND k.keeper = s.doc_id
)
SELECT stage,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM staged GROUP BY stage
"""


@_q("curation_funnel", _curation_funnel_sql())
def curation_funnel(spark, sf):
    """The curation WATERFALL: document and token survival through the
    pipeline's gates in order — all → Gopher rules → domain blocklist →
    exact dedup (keeper = min doc per content digest, computed over the
    filtered survivors exactly as `jobs/curate_job.py` sequences it) —
    the four-row report every dataset paper prints, composed from the
    SAME frozen operators (`text_gopher`, `filter_blocklist`), so the
    funnel can never disagree with the filters it summarizes.

    Scale: one corpus scan feeds all stage flags (the gopher verdict is
    a projection, the blocklist an broadcast anti/semi join); the dedup
    stage adds the one digest-keyed exchange exact dedup always costs;
    stage rollups are map-side-combined to 4 rows.  The UNION replays
    flags, not payloads."""
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    g = text_gopher(spark, sf).select("doc_id", F.col("keep").alias("g_keep"))
    bl = filter_blocklist(spark, sf).select("doc_id").withColumn(
        "b_keep", F.lit(True)
    )
    base = (
        d.select(
            "doc_id",
            F.md5("text").alias("h"),
            F.size(F.split(F.lower("text"), " ")).alias("n_tokens"),
        )
        .join(g, "doc_id")
        .join(bl, "doc_id", "left")
        .na.fill({"b_keep": False})
    )
    surv = base.filter(F.col("g_keep") & F.col("b_keep"))
    keepers = surv.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    staged = (
        base.select(F.lit("0_all").alias("stage"), "doc_id", "n_tokens")
        .unionAll(
            base.filter("g_keep").select(
                F.lit("1_gopher").alias("stage"), "doc_id", "n_tokens"
            )
        )
        .unionAll(
            surv.select(
                F.lit("2_blocklist").alias("stage"), "doc_id", "n_tokens"
            )
        )
        .unionAll(
            surv.join(
                keepers,
                (surv.h == keepers.h) & (surv.doc_id == keepers.keeper),
            ).select(F.lit("3_dedup").alias("stage"), "doc_id", "n_tokens")
        )
    )
    return staged.groupBy("stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Host-concentration Gini coefficient
# ---------------------------------------------------------------------------


def _host_gini_sql() -> str:
    return """
WITH c AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS x
  FROM documents GROUP BY lang, source
),
r AS (
  SELECT lang, x,
         row_number() OVER (PARTITION BY lang ORDER BY x, source) AS i,
         count(*) OVER (PARTITION BY lang) AS n,
         sum(x) OVER (PARTITION BY lang) AS t
  FROM c
)
SELECT lang,
       CAST(any_value(n) AS BIGINT) AS n_hosts,
       CAST(any_value(t) AS BIGINT) AS n_docs,
       CAST(sum((2 * i - n - 1) * x) * 1000
            // (any_value(n) * any_value(t)) AS BIGINT) AS gini_permille
FROM r GROUP BY lang
"""


@_q("host_gini", _host_gini_sql())
def host_gini(spark, sf):
    """Host-concentration Gini per language: Σ(2i−n−1)·xᵢ / (n·Σx) over
    host doc-counts sorted ascending (ties by host name for a total
    order) — the single inequality number that says whether a
    language's corpus is a few mega-hosts (→1) or broadly sourced (→0);
    the complement of `host_diversity`'s Simpson index, and the skew
    early-warning for per-host politeness budgets and dedup hot keys.
    Integer permille with ONE floor division; the rank weights make the
    whole sum exact.

    Scale: the host-count table is the contraction (host cardinality);
    the rank window partitions by language over HOST rows — at 10^8
    hosts per language the histogram-of-counts trick (rank ranges from
    count multiplicities, as in `ppl_buckets`) replaces the row_number
    sort with the same algebra."""
    d = load(spark, sf, "documents")
    c = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    wl = W.partitionBy("lang")
    r = c.select(
        "lang",
        "x",
        F.row_number().over(wl.orderBy("x", "source")).alias("i"),
        F.count(F.lit(1)).over(wl).alias("n"),
        F.sum("x").over(wl).alias("t"),
    )
    return r.groupBy("lang").agg(
        F.any_value("n").cast("bigint").alias("n_hosts"),
        F.any_value("t").cast("bigint").alias("n_docs"),
        F.expr(
            "CAST(sum((2 * i - n - 1) * x) * 1000"
            " DIV (any_value(n) * any_value(t)) AS BIGINT)"
        ).alias("gini_permille"),
    )


@_q(
    "quality_auc",
    """WITH rows_ AS (
  SELECT source, CAST(n_chars AS BIGINT) AS x,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
),
vals AS (
  SELECT source, x,
         CAST(count(*) AS BIGINT) AS t,
         CAST(sum(pos) AS BIGINT) AS t_pos
  FROM rows_ GROUP BY source, x
),
ranked AS (
  SELECT source, x, t, t_pos,
         CAST(coalesce(sum(t) OVER (PARTITION BY source ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cnt_lt
  FROM vals
),
agg AS (
  SELECT source,
         CAST(sum(t_pos) AS BIGINT) AS n_pos,
         CAST(sum(t - t_pos) AS BIGINT) AS n_neg,
         CAST(sum(t_pos * (2 * cnt_lt + t + 1)) AS BIGINT) AS r2
  FROM ranked GROUP BY source
)
SELECT source, n_pos, n_neg,
       CAST((r2 - n_pos * (n_pos + 1)) * 1000000
            // (2 * n_pos * n_neg) AS BIGINT) AS auc_ppm
FROM agg WHERE n_pos > 0 AND n_neg > 0""",
)
def quality_auc(spark, sf):
    """Exact Mann-Whitney AUC per host: how well a score column
    (n_chars here, standing in for any quality-classifier output)
    ranks the positive class (lang='en') — the model-evaluation
    number every quality-filter ablation reports, computed EXACTLY:
    tie-corrected doubled rank sums (2·avg_rank = 2·cnt_lt + t + 1
    stays integral under ties), AUC = (2R − n_pos(n_pos+1)) /
    (2·n_pos·n_neg) in integer ppm.  No float ranks, so both engines
    agree bit-for-bit even with heavy ties; degenerate hosts (single
    class) are excluded identically.

    Scale shape: rows contract to DISTINCT score values per host
    BEFORE ranking (the tie groups), the cumulative-count window runs
    over |distinct values| per host, and the final rollup is
    host-cardinality.  At 10^12 docs the value-contraction is the
    whole trick — ranks never materialize per row."""
    rows = load(spark, sf, "documents").select(
        "source",
        F.col("n_chars").cast("bigint").alias("x"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    vals = rows.groupBy("source", "x").agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum("pos").cast("bigint").alias("t_pos"),
    )
    wv = (
        W.partitionBy("source")
        .orderBy("x")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ranked = vals.withColumn(
        "cnt_lt", F.coalesce(F.sum("t").over(wv), F.lit(0)).cast("bigint")
    )
    agg = ranked.groupBy("source").agg(
        F.sum("t_pos").cast("bigint").alias("n_pos"),
        F.sum(F.col("t") - F.col("t_pos")).cast("bigint").alias("n_neg"),
        F.sum(
            F.col("t_pos") * (2 * F.col("cnt_lt") + F.col("t") + 1)
        )
        .cast("bigint")
        .alias("r2"),
    )
    return agg.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0)).select(
        "source",
        "n_pos",
        "n_neg",
        F.expr(
            "CAST((r2 - n_pos * (n_pos + 1)) * 1000000"
            " DIV (2 * n_pos * n_neg) AS BIGINT)"
        ).alias("auc_ppm"),
    )


# ---------------------------------------------------------------------------
# SURT canonical keys (Sort-friendly URI Reordering Transform)
# ---------------------------------------------------------------------------


def _surt_sql() -> str:
    return r"""
WITH urls AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 3 = 0 THEN 'http://' ELSE 'https://' END)
         || (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
         || source || '.com/page/' || CAST(doc_id % 50 AS VARCHAR)
         || (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END)
         || (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed' ELSE '' END)
         AS url
  FROM documents
),
parts AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_extract(url, '^https?://([^/?]+)', 1), '^www\.', ''),
           ':.*$', '') AS host,
         regexp_replace(
           regexp_replace(regexp_replace(url, '^https?://[^/?]+', ''),
                          '\?.*$', ''),
           '/$', '') AS path
  FROM urls
),
surt AS (
  SELECT doc_id,
         array_to_string(list_reverse(string_split(lower(host), '.')), ',')
         || ')' || lower(path) AS surt_key
  FROM parts
)
SELECT surt_key,
       CAST(min(doc_id) AS BIGINT) AS keeper,
       CAST(count(*) AS BIGINT)    AS n_urls
FROM surt GROUP BY surt_key
"""


@_q("url_surt", _surt_sql())
def url_surt(spark, sf):
    """SURT canonical keys (Sort-friendly URI Reordering Transform — the
    public Internet Archive / CDX convention, e.g.
    ``com,example)/path``): lowercase, scheme + ``www.`` + port + query
    stripped, HOST LABELS REVERSED and comma-joined.  The reversal is
    the point — SURT keys collate host-hierarchically, so one sorted
    index serves exact-URL lookup AND domain-prefix range scans
    (`com,example,` covers every subdomain), which is how CDX servers
    slice petabyte crawls by registrable domain without a secondary
    index.  Same derived deterministic URL set as `dedup_url` (the
    corpus has no URL column); grouped to (surt_key, keeper, n_urls) so
    scheme/www/slash/query variants provably collide.

    Scale: pure scan-stage string expressions (split / reverse /
    array_join in codegen), then a groupBy shuffling only ~60 B SURT
    keys — the documents never move.  A 10^12-row CDX build is exactly
    this plan plus a sort-within-partitions write, and the range-scan
    property is what the `cluster_zorder` layout job exploits
    downstream."""
    d = load(spark, sf, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("http://")).otherwise(
            F.lit("https://")
        ),
        F.when(F.col("doc_id") % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".com/page/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("?utm_source=feed")).otherwise(
            F.lit("")
        ),
    )
    u = d.select("doc_id", url.alias("url"))
    host = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract("url", r"^https?://([^/?]+)", 1), r"^www\.", ""
        ),
        r":.*$",
        "",
    )
    path = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("url", r"^https?://[^/?]+", ""), r"\?.*$", ""
        ),
        r"/$",
        "",
    )
    surt = F.concat(
        F.array_join(F.reverse(F.split(F.lower(host), r"\.")), ","),
        F.lit(")"),
        F.lower(path),
    )
    return (
        u.select("doc_id", surt.alias("surt_key"))
        .groupBy("surt_key")
        .agg(
            F.min("doc_id").cast("bigint").alias("keeper"),
            F.count(F.lit(1)).cast("bigint").alias("n_urls"),
        )
    )


# ---------------------------------------------------------------------------
# Classifier calibration (reliability diagram, exact integers)
# ---------------------------------------------------------------------------


def _quality_calibration_sql() -> str:
    return f"""
WITH q AS ({_quality_logit_sql()}),
lab AS (
  SELECT q.doc_id, q.score, CAST(q.doc_id % 5 != 0 AS INT) AS ham
  FROM q
),
ext AS (SELECT min(score) AS lo, max(score) AS hi FROM lab),
b AS (
  SELECT least(CAST((lab.score - ext.lo) * 10 // (ext.hi - ext.lo + 1)
               AS BIGINT), 9) AS bucket,
         lab.score, lab.ham
  FROM lab, ext
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(score) * 1000 // count(*) AS BIGINT) AS mean_score_milli,
       CAST(sum(ham) * 1000 // count(*) AS BIGINT) AS ham_permille
FROM b GROUP BY bucket
"""


@_q("quality_calibration", _quality_calibration_sql())
def quality_calibration(spark, sf):
    """Reliability diagram for the quality classifier: `quality_logit`
    scores bucketed into 10 equal-width value bins (range from a
    broadcast min/max — NOT ntile, which needs a global total-order
    window), each bin reporting how many docs, the exact mean score
    (milli-units) and the empirical clean-rate against the corpus's
    planted label (``doc_id % 5 != 0``, the same plant
    `quality_perceptron`/`quality_nb` train on).  A well-calibrated
    filter's clean-rate should rise monotonically with the score bin —
    the table every threshold choice (`_QL_THRESH`) should be read
    from, and the drift monitor when the corpus mix shifts under a
    frozen model.

    Scale: the score pass is `quality_logit`'s scan stage; min/max is a
    2-value global aggregate broadcast back (1-row crossJoin, the house
    pattern — no window, no second corpus shuffle); the final rollup is
    a 10-group map-side-combined census.  Nothing corpus-sized moves at
    10^12 docs."""
    q = quality_logit(spark, sf).select("doc_id", "score")
    lab = q.withColumn(
        "ham", (F.col("doc_id") % 5 != 0).cast("int")
    )
    ext = lab.agg(
        F.min("score").alias("lo"), F.max("score").alias("hi")
    )
    b = lab.crossJoin(F.broadcast(ext)).select(
        F.least(
            F.expr("CAST((score - lo) * 10 DIV (hi - lo + 1) AS BIGINT)"),
            F.lit(9),
        ).alias("bucket"),
        "score",
        "ham",
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("CAST(sum(score) * 1000 DIV count(*) AS BIGINT)").alias(
            "mean_score_milli"
        ),
        F.expr("CAST(sum(ham) * 1000 DIV count(*) AS BIGINT)").alias(
            "ham_permille"
        ),
    )


# ---------------------------------------------------------------------------
# WARC revisit-record planning (storage dedup across crawls)
# ---------------------------------------------------------------------------

_REVISIT_REC_BYTES = 30  # fixed pointer-record cost (WARC-Refers-To et al.)


def _revisit_plan_sql() -> str:
    return f"""
WITH hist AS (
  SELECT 'https://synth.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
         crawl,
         md5(text || CAST(crawl // (1 + doc_id % 3) AS VARCHAR)) AS digest,
         CAST(length(text) AS BIGINT) AS payload
  FROM documents, (SELECT unnest(generate_series(0, 3)) AS crawl)
  WHERE length(text) > 0
),
dec AS (
  SELECT crawl, payload,
         CASE WHEN lag(digest) OVER (PARTITION BY url ORDER BY crawl)
                   = digest
              THEN 'revisit' ELSE 'response' END AS rec
  FROM hist
)
SELECT crawl,
       CAST(sum(CASE WHEN rec = 'response' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_response,
       CAST(sum(CASE WHEN rec = 'revisit' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_revisit,
       CAST(sum(CASE WHEN rec = 'response' THEN payload
                     ELSE {_REVISIT_REC_BYTES} END) AS BIGINT)
         AS stored_bytes,
       CAST(sum(CASE WHEN rec = 'revisit'
                     THEN payload - {_REVISIT_REC_BYTES} ELSE 0 END)
            AS BIGINT) AS saved_bytes
FROM dec GROUP BY crawl
"""


@_q("warc_revisit_plan", _revisit_plan_sql())
def warc_revisit_plan(spark, sf):
    """Revisit-record planning across re-crawls — the WARC/ISO-28500
    storage-dedup mechanism (`warc_revisit` READS such records; this op
    DECIDES them): a refetch whose payload digest equals the previous
    fetch of the same url is stored as a ~30-byte revisit pointer
    (WARC-Refers-To) instead of a full response record.  Four simulated
    crawls per url with deterministic change periods (1 + doc_id % 3 —
    every url class from churns-every-crawl to stable) roll up to the
    per-crawl census archives budget from: record mix, bytes actually
    stored, bytes saved.  Crawl 0 is all responses by construction
    (lag = NULL ≠ digest); saved bytes then grow with the stable tail.

    Scale shape: digests are computed IN THE SCAN (payload never leaves
    the stage); the dedup decision is one lag window shuffling only
    (url, crawl, digest, payload-length) — ~60 B/row at 10^12 rows,
    never the payloads; the census is a 4-group map-side-combined
    rollup.  This is exactly Common Crawl's production dedup shape:
    URL-keyed digest history, pointer records for the unchanged
    majority."""
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    hist = d.select(
        F.concat(
            F.lit("https://synth.example/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("crawl"),
        "text",
        "doc_id",
    ).select(
        "url",
        "crawl",
        F.md5(
            F.concat(
                "text",
                (F.col("crawl") / (1 + F.col("doc_id") % 3))
                .cast("long")
                .cast("string"),
            )
        ).alias("digest"),
        F.length("text").cast("bigint").alias("payload"),
    )
    rec = F.when(
        F.lag("digest").over(W.partitionBy("url").orderBy("crawl"))
        == F.col("digest"),
        F.lit("revisit"),
    ).otherwise(F.lit("response"))
    dec = hist.select("crawl", "payload", rec.alias("rec"))
    resp = F.col("rec") == "response"
    return dec.groupBy("crawl").agg(
        F.sum(resp.cast("int")).cast("bigint").alias("n_response"),
        F.sum((~resp).cast("int")).cast("bigint").alias("n_revisit"),
        F.sum(
            F.when(resp, F.col("payload")).otherwise(
                F.lit(_REVISIT_REC_BYTES)
            )
        )
        .cast("bigint")
        .alias("stored_bytes"),
        F.sum(
            F.when(~resp, F.col("payload") - _REVISIT_REC_BYTES).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("saved_bytes"),
    )


# ---------------------------------------------------------------------------
# Decontamination REMOVAL writer (GPT-3-style collision-window excision)
# ---------------------------------------------------------------------------

_DECON_MARGIN = 2  # tokens excised on each side of a contaminated gram


def _decon_remove_sql() -> str:
    n, m = _DECON_N, _DECON_MARGIN
    gram = " || ' ' || ".join(f"w[CAST(i + {j} AS INT)]" for j in range(n))
    return f"""
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
  WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, CAST(i AS BIGINT) AS i, md5({gram}) AS gh
  FROM d, range(1, 4096) r(i)
  WHERE i <= len(w) - {n} + 1
),
bench AS (SELECT DISTINCT gh FROM grams WHERE doc_id % 97 = 0),
iv AS (
  SELECT g.doc_id,
         greatest(1, g.i - {m}) AS s,
         g.i + {n - 1} + {m} AS e
  FROM grams g JOIN bench b USING (gh)
  WHERE g.doc_id % 97 <> 0
),
marked AS (
  SELECT doc_id, s, e,
         CASE WHEN s > coalesce(max(e) OVER (
                  PARTITION BY doc_id ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              THEN 1 ELSE 0 END AS brk
  FROM iv
),
islands AS (
  SELECT doc_id, s, e,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS UNBOUNDED PRECEDING) AS isl
  FROM marked
),
spans AS (
  SELECT doc_id, CAST(min(s) AS BIGINT) AS s, CAST(max(e) AS BIGINT) AS e
  FROM islands GROUP BY doc_id, isl
),
agg AS (
  SELECT doc_id, list(struct_pack(s := s, e := e) ORDER BY s) AS sp FROM spans
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.w) AS BIGINT) AS n_tokens,
       CAST(coalesce(len(list_filter(
            list_transform(generate_series(1, len(d.w)), p ->
              CASE WHEN len(list_filter(a.sp,
                     q -> p >= q.s AND p <= least(q.e,
                                                    CAST(len(d.w) AS BIGINT))
                   )) > 0 THEN 1 END),
            x -> x IS NOT NULL)), 0) AS BIGINT) AS n_removed,
       md5(coalesce(array_to_string(
         list_filter(
           list_transform(generate_series(1, len(d.w)), p ->
             CASE WHEN a.sp IS NULL OR len(list_filter(a.sp,
                    q -> p >= q.s AND p <= q.e)) = 0
                  THEN d.w[CAST(p AS INT)] END),
           x -> x IS NOT NULL), ' '), '')) AS clean_md5
FROM d LEFT JOIN agg a USING (doc_id)
WHERE d.doc_id % 97 <> 0
"""


@_q("decontaminate_remove", _decon_remove_sql())
def decontaminate_remove(spark, sf):
    """The decontamination WRITER (`decontaminate` only detects): every
    benchmark-gram collision excises a ±{margin}-token window around the
    contaminated gram (the GPT-3 Appendix-C policy, token-scaled),
    overlapping windows merge into islands, and the output pins the
    cleaned text's md5 plus exact token counts — the byte-level contract
    a removal pass must honor, mirroring `substring_remove`'s discipline
    for the dedup side.  Uncontaminated training docs — including docs too
    short to even contain a {n}-gram — pass through with n_removed = 0
    and the md5 of their untouched token stream, so the writer's output
    is the FULL cleaned corpus, not just the casualties.

    Scale shape: gram digests stream through the broadcast bench join
    (zero corpus shuffle, same as `decontaminate`); island merging is a
    doc-keyed gaps-and-islands window over the HIT intervals only
    (collision-bounded, tiny); span subtraction is a scan-stage array
    lambda per doc — tokens never exchange.  The heavy corpus moves
    exactly once, doc_id-keyed, to meet its merged span list."""
    n, m = _DECON_N, _DECON_MARGIN
    d = load(spark, sf, "documents")
    w = F.split(F.lower("text"), " ")
    base = d.filter(F.col("text").isNotNull()).select("doc_id", w.alias("w"))
    positions = F.sequence(
        F.lit(1), F.least(F.size("w") - n + 1, F.lit(4095))
    )
    gram_h = F.md5(
        F.encode(
            F.concat_ws(
                " ", *[F.expr(f"w[i + {j} - 1]") for j in range(n)]
            ),
            "utf-8",
        )
    )
    grams = base.filter(F.size("w") >= n).select(
        "doc_id", "w", F.explode(positions).alias("i")
    ).select("doc_id", F.col("i").cast("long").alias("i"), gram_h.alias("gh"))
    bench = grams.filter(F.col("doc_id") % 97 == 0).select("gh").distinct()
    iv = (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "gh")
        .select(
            "doc_id",
            F.greatest(F.lit(1), F.col("i") - m).alias("s"),
            (F.col("i") + (n - 1) + m).alias("e"),
        )
    )
    wd = W.partitionBy("doc_id").orderBy("s", "e")
    marked = iv.withColumn(
        "brk",
        (
            F.col("s")
            > F.coalesce(
                F.max("e").over(wd.rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0),
            )
        ).cast("int"),
    )
    islands = marked.withColumn(
        "isl", F.sum("brk").over(wd.rowsBetween(W.unboundedPreceding, 0))
    )
    spans = islands.groupBy("doc_id", "isl").agg(
        F.min("s").cast("long").alias("s"), F.max("e").cast("long").alias("e")
    )
    agg = spans.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("sp")
    )
    joined = base.filter(F.col("doc_id") % 97 != 0).join(agg, "doc_id", "left")
    covered = (
        "exists(sp, x -> p >= x.s AND p <= x.e)"
    )
    kept = F.expr(
        f"filter(transform(sequence(1, size(w)), p -> "
        f"CASE WHEN sp IS NULL OR NOT ({covered}) "
        f"THEN w[CAST(p AS INT) - 1] END), x -> x IS NOT NULL)"
    )
    removed = F.expr(
        f"size(filter(sequence(1, size(w)), p -> "
        f"sp IS NOT NULL AND exists(sp, x -> p >= x.s AND "
        f"p <= least(x.e, CAST(size(w) AS BIGINT)))))"
    )
    return joined.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        removed.cast("long").alias("n_removed"),
        F.md5(F.encode(F.array_join(kept, " "), "utf-8")).alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# Threshold sweep for the quality classifier (the _QL_THRESH decision table)
# ---------------------------------------------------------------------------


def _quality_sweep_sql() -> str:
    return f"""
WITH q AS ({_quality_logit_sql()}),
lab AS (
  SELECT q.doc_id, q.score, q.n_tok,
         CAST(q.doc_id % 5 != 0 AS INT) AS ham
  FROM q
),
byscore AS (
  SELECT score,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ham) AS BIGINT) AS n_ham,
         CAST(sum(n_tok) AS BIGINT) AS toks
  FROM lab GROUP BY score
),
ext AS (SELECT min(score) AS lo, max(score) AS hi,
               CAST(sum(n_ham) AS BIGINT) AS total_ham
        FROM byscore, (SELECT 1)),
ladder AS (
  SELECT ext.lo + k * (ext.hi - ext.lo + 1) // 10 AS thresh, ext.total_ham
  FROM ext, (SELECT unnest(generate_series(0, 10)) AS k)
)
SELECT l.thresh,
       CAST(coalesce(sum(b.n), 0) AS BIGINT) AS n_kept,
       CAST(coalesce(sum(b.toks), 0) AS BIGINT) AS kept_tokens,
       CAST(CASE WHEN coalesce(sum(b.n), 0) = 0 THEN 0
            ELSE sum(b.n_ham) * 1000000 // sum(b.n) END AS BIGINT)
         AS precision_ppm,
       CAST(coalesce(sum(b.n_ham), 0) * 1000000 // max(l.total_ham)
            AS BIGINT) AS ham_recall_ppm
FROM ladder l LEFT JOIN byscore b ON b.score >= l.thresh
GROUP BY l.thresh
"""


@_q("quality_threshold_sweep", _quality_sweep_sql())
def quality_threshold_sweep(spark, sf):
    """Threshold sweep for the quality filter — the decision table
    `_QL_THRESH` is actually read from: 11 candidate cut points spanning
    the score range, each reporting docs kept, TOKENS kept (the budget
    number pretraining cares about), exact precision against the planted
    clean label, and clean-recall — all integer ppm.  `quality_calibration`
    says whether scores are trustworthy; this says where to cut them.

    Scale shape: the corpus contracts to a per-distinct-score rollup in
    ONE map-side-combined pass (Zipf-bounded — integer scores, a few
    hundred rows); the sweep is then an 11×|scores| theta join between
    two TINY tables plus an 11-group rollup.  The theta join never sees
    corpus rows — at 10^12 docs the plan is one aggregation over the
    scan plus driver-trivial table math."""
    q = quality_logit(spark, sf).select("doc_id", "score", "n_tok")
    lab = q.withColumn("ham", (F.col("doc_id") % 5 != 0).cast("int"))
    byscore = lab.groupBy("score").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ham").cast("long").alias("n_ham"),
        F.sum("n_tok").cast("long").alias("toks"),
    )
    ext = byscore.agg(
        F.min("score").alias("lo"),
        F.max("score").alias("hi"),
        F.sum("n_ham").cast("long").alias("total_ham"),
    )
    ladder = (
        spark.range(0, 11)
        .withColumnRenamed("id", "k")
        .crossJoin(F.broadcast(ext))
        .select(
            F.expr("lo + k * (hi - lo + 1) DIV 10").alias("thresh"),
            "total_ham",
        )
    )
    swept = ladder.join(
        F.broadcast(byscore), F.col("score") >= F.col("thresh"), "left"
    )
    return swept.groupBy("thresh").agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.sum("toks"), F.lit(0)).cast("long").alias("kept_tokens"),
        F.expr(
            "CAST(CASE WHEN coalesce(sum(n), 0) = 0 THEN 0 "
            "ELSE sum(n_ham) * 1000000 DIV sum(n) END AS BIGINT)"
        ).alias("precision_ppm"),
        F.expr(
            "CAST(coalesce(sum(n_ham), 0) * 1000000 DIV max(total_ham) "
            "AS BIGINT)"
        ).alias("ham_recall_ppm"),
    )
