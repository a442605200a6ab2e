"""Streaming qkeys (SURVEY.md B8): each runs a real Structured Streaming
query to completion (memory sink, processAllAvailable) and returns the
result. Every key has DuckDB oracle SQL: its batch-equivalent result,
written relationally where the streaming operator has no SQL twin (a
session window as gaps-and-islands, a stateful fold as its final state).
The per-surface rollups over in-stream extraction are one ``_Rollup`` row
each, built by ``_rollup``."""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, functions as F

from caraspark import curation, multimodal, relational as R, streaming as S
from caraspark.corpus import html_docs
from caraspark.relational import Q, map_rows, registrar

REGISTRY: dict[str, Q] = {}
_q = registrar(REGISTRY)

@_q(
    "stream_tumbling",
    """SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS w_start, event_type,
              CAST(count(*) AS BIGINT) AS n,
              round(sum(value), 4) AS sum_v
       FROM events GROUP BY 1, 2""",
)
def stream_tumbling(spark, sf):
    # T2: the streamed tumbling aggregation equals the batch GROUP BY on
    # time buckets — verified against DuckDB's time_bucket.
    return S.run_to_memory(
        S.tumbling_counts(S.replay_events_stream(spark, sf)),
        mode="complete",
    )


@_q(
    "stream_sliding",
    """SELECT time_bucket(INTERVAL 5 MINUTE, ts) - k * INTERVAL 5 MINUTE AS w_start,
              CAST(count(*) AS BIGINT) AS n
       FROM events CROSS JOIN (SELECT 0 AS k UNION ALL SELECT 1 AS k) ks
       GROUP BY 1""",
)
def stream_sliding(spark, sf):
    # T2 sliding variant: width 10 min, slide 5 min — every event lands in
    # exactly two windows, which is what the oracle's k∈{0,1} cross join
    # reconstructs relationally.
    return S.run_to_memory(
        S.sliding_counts(S.replay_events_stream(spark, sf)),
        mode="complete",
    )


@_q(
    "stream_dedup",
    "SELECT DISTINCT event_id FROM events",
)
def stream_dedup(spark, sf):
    # T5: streaming dropDuplicates within the watermark horizon.
    out = S.run_to_memory(S.dedup_stream(S.replay_events_stream(spark, sf)))
    return out.select("event_id")


@_q(
    "stream_join",
    """SELECT a.event_id AS click_id, b.event_id AS view_id
       FROM events a JOIN events b
         ON a.user_id = b.user_id
        AND a.event_type = 'click' AND b.event_type = 'view'
        AND b.ts BETWEEN a.ts - INTERVAL 240 MINUTE AND a.ts""",
)
def stream_join(spark, sf):
    # T-surface widening: stream-stream inner join with time-range state
    # bounds (see streaming.clickview_join); batch-equivalent → SQL oracle.
    return S.run_to_memory(
        S.clickview_join(
            S.replay_events_stream(spark, sf),
            S.replay_events_stream(spark, sf),
        )
    )


@_q(
    "stream_join_outer",
    """SELECT a.event_id AS click_id, b.event_id AS view_id
       FROM (SELECT * FROM events WHERE event_type = 'click') a
       LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') b
         ON a.user_id = b.user_id
        AND b.ts BETWEEN a.ts - INTERVAL 240 MINUTE AND a.ts""",
)
def stream_join_outer(spark, sf):
    # Stream-stream LEFT OUTER join: null-extended rows only emit once the
    # watermark passes each click's match window, so the replay appends
    # far-future sentinel batches (negative event_ids, filtered here) that
    # push the watermark past all real data — see
    # streaming.replay_events_stream_flushed for the 3-batch schedule.
    out = S.run_to_memory(
        S.clickview_join_outer(
            S.replay_events_stream_flushed(spark, sf),
            S.replay_events_stream_flushed(spark, sf),
        )
    )
    return out.filter(F.col("click_id") >= 0)


@_q(
    "stream_session",
    """WITH o AS (
         SELECT user_id, ts,
                CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          >= INTERVAL 15 MINUTE
                     THEN 1 ELSE 0 END AS brk
         FROM events
       ),
       g AS (
         SELECT user_id, ts,
                sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
         FROM o
       )
       SELECT min(ts) AS s_start, user_id,
              CAST(count(*) AS BIGINT) AS n_events
       FROM g GROUP BY user_id, sid""",
)
def stream_session(spark, sf):
    # T3: session windows (gap 15 min) per user. Oracle: gaps-and-islands —
    # Spark merges a new event into a session iff it starts strictly before
    # session end (last_ts + gap), so an island breaks where the gap to the
    # previous event is >= 15 min; session start == min(ts) of the island.
    return S.run_to_memory(
        S.session_counts(S.replay_events_stream(spark, sf)),
        mode="complete",
    )


@_q(
    "stream_stateful",
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
              round(sum(value), 4) AS total
       FROM events GROUP BY user_id""",
)
def stream_stateful(spark, sf):
    # T6: applyInPandasWithState running totals; final per-user state.
    from pyspark.sql import Window as W

    out = S.run_to_memory(
        S.stateful_running_totals(S.replay_events_stream(spark, sf)),
        mode="update",
    )
    return (
        out.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("user_id").orderBy(F.desc("n"))),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "n", "total")
    )


@_q(
    "stream_extract",
    """SELECT CAST(doc_id AS VARCHAR) AS url,
              CAST(octet_length(encode(text)) AS BIGINT) AS n_octets,
              md5(text) AS text_md5
       FROM documents""",
)
def stream_extract(spark, sf):
    """Continuous-ingest form of the flagship: the full extraction
    pipeline (Arrow batch UDF, same ``extract()`` the batch job runs)
    mapped over a STREAMING DataFrame — documents arrive as file-source
    micro-batches, each is wrapped in HTML and extracted in-stream, and
    per-url results append to the sink with no stateful operator at all
    (the production crawl→extract→append shape). Hash-verified: the
    wrapped text survives extraction byte-identically, so DuckDB predicts
    every (url, octets, md5) row closed-form."""
    from caraspark.extract import extract

    docs = S.replay_documents_stream(spark, sf)
    raw = html_docs(
        docs,
        "<html><body><main><p>",
        F.col("text"),
        "</p></main></body></html>",
    )
    out = extract(raw).select(
        "url",
        F.length("text").cast("long").alias("n_octets"),
        F.md5("text").alias("text_md5"),
    )
    return S.run_to_memory(out)


class _Rollup(NamedTuple):
    """A streaming per-surface rollup. Documents arrive as file-source
    micro-batches; each is wrapped in the HTML of ``parts(doc_id)`` and
    extracted IN-STREAM (``want``) by the same Arrow UDF the batch job
    runs; ``rows`` turns the extracted frame into key columns plus, when
    the row has ``minmax``, one value column ``v``; a complete-mode
    aggregation keyed by every column but ``v`` keeps the ``count``
    column and min(v)/max(v) under the ``minmax`` names. A ``str`` part
    (of ``parts`` or of ``url``, the page url's parts) is a literal, a
    Column part is cast to string. DuckDB predicts every row closed-form
    from ``sql``.

    Scale: state is one fixed-width row per key (a count and two short
    strings); the shuffle carries (key, partial aggregate) pairs only,
    and document payloads never leave the extraction batch."""

    sql: str
    parts: Callable[[Column], tuple]
    want: tuple[str, ...]
    rows: Callable[[DataFrame], DataFrame]
    count: str
    minmax: tuple[str, str] | None = None
    url: Callable[[Column], tuple] | None = None


def _each(surface: str, **cols):
    """Row function: one row per element ``t`` of ``surface``; each
    output column is a field name of ``t`` or a function of ``t``."""

    def rows(ex):
        t = F.col("t")
        return ex.select(F.explode(surface).alias("t")).select(
            *(
                (t[c] if isinstance(c, str) else c(t)).alias(name)
                for name, c in cols.items()
            )
        )

    return rows


def _anchor_pairs(ex):
    t = F.col("t")
    zipped = F.arrays_zip("outlinks", "anchors")
    pairs = ex.select(F.explode(zipped).alias("t"))
    return pairs.select(t["outlinks"].alias("href"), t["anchors"].alias("v"))


def _link_hosts(ex):
    # the same resolve_url column chain as the batch frontier_feed
    links = ex.select("url", F.explode("outlinks").alias("href"))
    abs_url = curation.resolve_url(F.col("url"), F.col("href"))
    return links.select(
        F.regexp_extract(abs_url, r"^[a-z]+://([^/?#]*)", 1).alias("host")
    )


def _series_role(ex):
    nxt, prv = F.col("next_href").isNotNull(), F.col("prev_href").isNotNull()
    role = (
        F.when(nxt & prv, "middle")
        .when(nxt, "head")
        .when(prv, "tail")
        .otherwise("standalone")
    )
    return ex.select(role.alias("role"))


_ROLLUPS = {
    # v9 ANCHORS web-graph view keyed by target href: a colliding
    # /hub/{id%7} link whose text varies by id%5 plus a unique next-page
    # link. No countDistinct (streaming forbids it): extraction keeps a
    # doc's first occurrence of each href, so n_refs is the referrer count.
    "stream_anchor_agg": _Rollup(
        sql="""WITH hub AS (
  SELECT '/hub/' || CAST(doc_id % 7 AS VARCHAR) AS href,
         'w' || CAST(doc_id % 5 AS VARCHAR) || ' topic' AS anchor
  FROM documents
  UNION ALL
  SELECT '/p/' || CAST(doc_id + 1 AS VARCHAR), 'next'
  FROM documents
)
SELECT href, CAST(count(*) AS BIGINT) AS n_refs,
       min(anchor) AS anchor_min, max(anchor) AS anchor_max
FROM hub GROUP BY href""",
        parts=lambda d: (
            "<html><body><main><p>", F.col("text"),
            '</p></main><p><a href="/hub/', d % 7, '">w', d % 5,
            ' topic</a> <a href="/p/', d + 1, '">next</a></p></body></html>',
        ),
        want=("outlinks", "anchors"),
        rows=_anchor_pairs,
        count="n_refs",
        minmax=("anchor_min", "anchor_max"),
    ),
    # v10 TABLES: a 2-row table, header cell by id%5, data cell by id%11
    "stream_tables": _Rollup(
        sql="""WITH cells AS (
  SELECT CAST(0 AS INTEGER) AS trow, TRUE AS header,
         'grp' || CAST(doc_id % 5 AS VARCHAR) AS cell
  FROM documents
  UNION ALL
  SELECT CAST(1 AS INTEGER), FALSE, CAST(doc_id % 11 AS VARCHAR)
  FROM documents
)
SELECT trow, header, CAST(count(*) AS BIGINT) AS n_cells,
       min(cell) AS cell_min, max(cell) AS cell_max
FROM cells GROUP BY trow, header""",
        parts=lambda d: (
            "<html><body><p>", F.col("text"), "</p><table><tr><th>grp",
            d % 5, "</th></tr><tr><td>", d % 11,
            "</td></tr></table></body></html>",
        ),
        want=("tables",),
        rows=_each("tables", trow="row", header="header", v="cell"),
        count="n_cells",
        minmax=("cell_min", "cell_max"),
    ),
    # v11 LISTS: an unordered item by id%4 holding an ordered one by id%9
    "stream_lists": _Rollup(
        sql="""WITH items AS (
  SELECT CAST(0 AS INTEGER) AS depth, FALSE AS ordered,
         'step' || CAST(doc_id % 4 AS VARCHAR) AS itext
  FROM documents
  UNION ALL
  SELECT CAST(1 AS INTEGER), TRUE, CAST(doc_id % 9 AS VARCHAR)
  FROM documents
)
SELECT depth, ordered, CAST(count(*) AS BIGINT) AS n_items,
       min(itext) AS item_min, max(itext) AS item_max
FROM items GROUP BY depth, ordered""",
        parts=lambda d: (
            "<html><body><p>", F.col("text"), "</p><ul><li>step", d % 4,
            "<ol><li>", d % 9, "</li></ol></li></ul></body></html>",
        ),
        want=("lists",),
        rows=_each("lists", depth="depth", ordered="ordered", v="item_text"),
        count="n_items",
        minmax=("item_min", "item_max"),
    ),
    # v12 IMAGES: an alt-carrying path image and an alt-less data: URI
    "stream_images": _Rollup(
        sql="""WITH imgs AS (
  SELECT TRUE AS has_alt,
         '/s/' || CAST(doc_id % 6 AS VARCHAR) || '.png' AS src
  FROM documents
  UNION ALL
  SELECT FALSE, 'data:g' || CAST(doc_id % 3 AS VARCHAR) FROM documents
)
SELECT has_alt, CAST(count(*) AS BIGINT) AS n_imgs,
       min(src) AS src_min, max(src) AS src_max
FROM imgs GROUP BY has_alt""",
        parts=lambda d: (
            "<html><body><p>", F.col("text"), "</p><img src='/s/", d % 6,
            ".png' alt='y'><img src='data:g", d % 3, "'></body></html>",
        ),
        want=("images",),
        rows=_each("images", has_alt=lambda t: t["alt"] != "", v="src"),
        count="n_imgs",
        minmax=("src_min", "src_max"),
    ),
    # v13 JSONLD: one ld+json payload and one empty match
    "stream_jsonld": _Rollup(
        sql="""WITH p AS (
  SELECT '{"k":' || CAST(doc_id % 8 AS VARCHAR) || '}' AS payload
  FROM documents
  UNION ALL
  SELECT '' FROM documents
)
SELECT payload <> '' AS nonempty, CAST(count(*) AS BIGINT) AS n_payloads,
       min(payload) AS p_min, max(payload) AS p_max
FROM p GROUP BY payload <> ''""",
        parts=lambda d: (
            "<html><body><p>", F.col("text"),
            '</p><script type="application/ld+json">{"k":', d % 8,
            "}</script>", '<script type="application/ld+json"></script>',
            "</body></html>",
        ),
        want=("jsonld",),
        rows=_each("jsonld", nonempty=lambda t: t != "", v=lambda t: t),
        count="n_payloads",
        minmax=("p_min", "p_max"),
    ),
    # v14 ROBOTSMETA: the live noindex-rate dashboard of a crawl operator
    "stream_robots": _Rollup(
        sql="""SELECT CASE doc_id % 3 WHEN 1 THEN 'noindex,nofollow'
           WHEN 2 THEN 'index, follow' ELSE 'all' END AS robots_meta,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY CASE doc_id % 3 WHEN 1 THEN 'noindex,nofollow'
           WHEN 2 THEN 'index, follow' ELSE 'all' END""",
        parts=lambda d: (
            "<html><head><meta name='robots' content='",
            F.when(d % 3 == 1, "NOINDEX,NOFOLLOW")
            .when(d % 3 == 2, "index,  Follow")
            .otherwise("ALL"),
            "'></head><body><p>", F.col("text"), "</p></body></html>",
        ),
        want=("robots",),
        rows=lambda ex: ex.select("robots_meta"),
        count="n_docs",
    ),
    # v15 ALTERNATES: one hreflang alternate and one feed alternate (empty
    # hreflang) — the live multilingual-coverage count per language tag
    "stream_alternates": _Rollup(
        sql="""WITH alts AS (
  SELECT 'fr-' || CAST(doc_id % 4 AS VARCHAR) AS hreflang FROM documents
  UNION ALL
  SELECT '' FROM documents
)
SELECT hreflang, CAST(count(*) AS BIGINT) AS n_links
FROM alts GROUP BY hreflang""",
        parts=lambda d: (
            "<html><head><link rel='alternate' hreflang='fr-", d % 4,
            "' href='/fr'><link rel='alternate' type='application/rss+xml' "
            "href='/feed.xml'></head><body><p>", F.col("text"),
            "</p></body></html>",
        ),
        want=("alternates",),
        rows=_each("alternates", hreflang="hreflang"),
        count="n_links",
    ),
    # the batch frontier_feed over micro-batches: one root-relative and one
    # absolute hub link per page, resolved, counted per host — the view a
    # frontier scheduler shards politeness budgets from
    "stream_frontier": _Rollup(
        sql="""WITH links AS (
  SELECT 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host
  FROM documents
  UNION ALL
  SELECT 'hub.example' FROM documents
)
SELECT host, CAST(count(*) AS BIGINT) AS n_links
FROM links GROUP BY host""",
        parts=lambda d: (
            "<html><body><main><p>t</p></main><p><a href='/p/", d + 1,
            "'>next</a> <a href='https://hub.example/t?q=", d % 7,
            "'>hub</a></p></body></html>",
        ),
        url=lambda d: (
            "https://site", d % 7, ".example/sec", d % 3, "/page", d, ".html",
        ),
        want=("outlinks",),
        rows=_link_hosts,
        count="n_links",
    ),
    # v16 REFRESH: instant redirect / delayed reload / none — the live
    # redirect-rate dashboard
    "stream_refresh": _Rollup(
        sql="""SELECT CASE doc_id % 4
         WHEN 0 THEN '0; url=/moved'
         WHEN 1 THEN '30' END AS refresh_meta,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY 1""",
        parts=lambda d: (
            "<html><head>",
            F.when(d % 4 == 0, "<meta http-equiv='refresh' "
                   "content='0;   URL=/Moved'>")
            .when(d % 4 == 1, "<meta http-equiv='refresh' content='30'>")
            .otherwise(""),
            "</head><body><p>", F.col("text"), "</p></body></html>",
        ),
        want=("refresh",),
        rows=lambda ex: ex.select("refresh_meta"),
        count="n_docs",
    ),
    # v19 PAGINATION: rel=next/prev links (the doc_pagination class matrix)
    # give each page a series role — how much multi-page reassembly the
    # current crawl wave will need
    "stream_pagination": _Rollup(
        sql="""SELECT CASE WHEN doc_id % 3 <> 2 AND doc_id % 2 = 0 THEN 'middle'
            WHEN doc_id % 3 <> 2 THEN 'head'
            WHEN doc_id % 2 = 0 THEN 'tail'
            ELSE 'standalone' END AS role,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY 1""",
        parts=lambda d: (
            "<html><head>",
            F.when(d % 3 != 2, F.format_string("<link rel='next' href='/p%d'>",
                                               d + 1)).otherwise(""),
            F.when(d % 2 == 0, F.format_string("<link rel='prev' href='/p%d'>",
                                               d - 1)).otherwise(""),
            "</head><body><p>t</p></body></html>",
        ),
        want=("pagination",),
        rows=_series_role,
        count="n_docs",
    ),
    # v20 MICRODATA: one typed item (two props, one attribute-valued) plus
    # one orphan prop
    "stream_microdata": _Rollup(
        sql="""WITH t AS (
  SELECT 'name' AS prop, 'N ' || CAST(doc_id % 7 AS VARCHAR) AS value
  FROM documents
  UNION ALL
  SELECT 'sku', 'S' || CAST(doc_id % 5 AS VARCHAR) FROM documents
  UNION ALL
  SELECT 'stray', 'x' FROM documents
)
SELECT prop, CAST(count(*) AS BIGINT) AS n_props,
       min(value) AS v_min, max(value) AS v_max
FROM t GROUP BY prop""",
        parts=lambda d: (
            "<html><body><div itemscope itemtype='T", d % 4,
            "'><span itemprop='name'>N ", d % 7,
            "</span><meta itemprop='sku' content='S", d % 5,
            "'></div><span itemprop='stray'>x</span>", "</body></html>",
        ),
        want=("microdata",),
        rows=_each("microdata", prop="prop", v="value"),
        count="n_props",
        minmax=("v_min", "v_max"),
    ),
    # v21 RDFA: a vocab-scoped typed subject with one text-capture prop and
    # one resource-valued prop
    "stream_rdfa": _Rollup(
        sql="""WITH t AS (
  SELECT 'V' || CAST(doc_id % 3 AS VARCHAR) AS vocab,
         'name' AS prop, 'N ' || CAST(doc_id % 7 AS VARCHAR) AS value
  FROM documents
  UNION ALL
  SELECT 'V' || CAST(doc_id % 3 AS VARCHAR), 'sameAs',
         '/c/' || CAST(doc_id % 5 AS VARCHAR) FROM documents
)
SELECT vocab, prop, CAST(count(*) AS BIGINT) AS n_props,
       min(value) AS v_min, max(value) AS v_max
FROM t GROUP BY vocab, prop""",
        parts=lambda d: (
            "<html><body><div vocab='V", d % 3,
            "' typeof='T'><span property='name'>N ", d % 7,
            "</span><span property='sameAs' resource='/c/", d % 5,
            "'>x</span></div></body></html>",
        ),
        want=("rdfa",),
        rows=_each("rdfa", vocab="vocab", prop="prop", v="value"),
        count="n_props",
        minmax=("v_min", "v_max"),
    ),
}


def _str(part) -> Column:
    return F.lit(part) if isinstance(part, str) else part.cast("string")


def _rollup(r: _Rollup):
    def fn(spark, sf):
        from caraspark.extract import extract

        d = F.col("doc_id")
        raw = html_docs(
            S.replay_documents_stream(spark, sf),
            *map(_str, r.parts(d)),
            url=r.url and F.concat(*map(_str, r.url(d))),
        )
        rows = r.rows(extract(raw, want=r.want))
        aggs = [F.count(F.lit(1)).cast("bigint").alias(r.count)]
        if r.minmax:
            lo, hi = r.minmax
            aggs += [F.min("v").alias(lo), F.max("v").alias(hi)]
        keys = [c for c in rows.columns if c != "v"]
        return S.run_to_memory(rows.groupBy(*keys).agg(*aggs), mode="complete")

    return fn


for _name, _r in _ROLLUPS.items():
    _q(_name, _r.sql)(_rollup(_r))


@_q(
    "stream_quality",
    f"""WITH f AS (
  SELECT doc_id, lang,
         len(string_split(text,' ')) AS n_tok,
         len(list_filter(string_split(lower(text),' '),
             x -> list_contains(['the','a','of','and','to','in','is','on','for','it'], x))) AS stop_cnt,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
         length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
         len(list_filter(string_split(text,' '), x -> length(x) > 12)) AS n_long,
         length(text) AS l
  FROM documents WHERE length(text) > 0
),
s AS (
  SELECT lang,
         6*(stop_cnt*1000 // n_tok) - 4*(n_digit*1000 // l)
         - 3*(n_upper*1000 // l) - 40*n_long + n_tok AS score
  FROM f
)
SELECT lang, score >= {curation._QL_THRESH} AS keep,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(score) AS BIGINT) AS score_sum,
       CAST(min(score) AS BIGINT) AS score_min,
       CAST(max(score) AS BIGINT) AS score_max
FROM s GROUP BY lang, keep""",
)
def stream_quality(spark, sf):
    """Streaming quality-filter monitor: documents arrive as file-source
    micro-batches, the ``quality_logit`` projection scores each batch
    statelessly (the same column expressions — ``quality_features`` is
    shared code, not a re-implementation), and a stateful aggregation
    keyed by (lang, keep) maintains the running accept/reject mix a
    production ingest pipeline alarms on (complete mode).  DuckDB
    predicts every row closed-form from the batch-equivalent SQL —
    streaming a stateless projection then folding commutative aggregates
    is order-insensitive by construction.

    Scale: state is |langs|×2 fixed-width rows; the shuffle carries
    (lang, bool, BIGINT) partial aggregates only — documents never leave
    the featurize stage.
    """
    docs = S.replay_documents_stream(spark, sf).filter(F.length("text") > 0)
    scored = curation.quality_features(docs, extra=("lang",))
    out = scored.groupBy("lang", "keep").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("score").cast("bigint").alias("score_sum"),
        F.min("score").cast("bigint").alias("score_min"),
        F.max("score").cast("bigint").alias("score_max"),
    )
    return S.run_to_memory(out, mode="complete")


@_q(
    "stream_sitemap",
    """WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN 'sitemap' ELSE 'url' END AS kind,
         doc_id % 3 + 2 AS n
  FROM documents
)
SELECT kind, CAST(sum(n) AS BIGINT) AS n_entries,
       CAST(count(*) AS BIGINT) AS n_sitemaps
FROM m GROUP BY kind""",
)
def stream_sitemap(spark, sf):
    """Streaming sitemap-ingest monitor: sitemap documents arrive as
    micro-batches (the sitemap_entries class matrix — every fourth doc a
    recursive <sitemapindex>), parsed IN-STREAM by the same scan-stage
    regex chain the batch path uses, rolled up to live per-kind entry
    and document counts — the queue-depth view a crawl planner watches
    while sitemap discovery is running. Complete mode, two fixed-width
    state rows."""
    from caraspark.curation import parse_sitemap

    docs = S.replay_documents_stream(spark, sf)
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
        return F.concat(F.lit("<"), tag, F.lit("><loc>"), loc,
                        F.lit("</loc></"), tag, F.lit(">"))

    root = F.when(kind == "sitemap", F.lit("sitemapindex")).otherwise(
        F.lit("urlset")
    )
    xml = F.concat(
        F.lit("<"), root, F.lit(">"),
        F.concat_ws("", F.transform(F.sequence(F.lit(0), n - 1), entry)),
        F.lit("</"), root, F.lit(">"),
    )
    raw = docs.select(did.cast("string").alias("url"), xml.alias("xml"))
    entries = parse_sitemap(raw)
    # streaming forbids COUNT(DISTINCT): count each sitemap once via its
    # pos=0 entry instead (every doc in the matrix has >= 2 entries)
    out = entries.groupBy("kind").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entries"),
        F.sum(F.when(F.col("pos") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_sitemaps"),
    )
    return S.run_to_memory(out, mode="complete")


@_q(
    "stream_feed",
    """WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'atom' ELSE 'rss' END AS kind,
         doc_id % 4 + 1 AS n
  FROM documents
)
SELECT kind, CAST(sum(n) AS BIGINT) AS n_entries,
       CAST(count(*) AS BIGINT) AS n_feeds
FROM m GROUP BY kind""",
)
def stream_feed(spark, sf):
    """Streaming feed-ingest monitor: RSS/Atom documents arrive as
    micro-batches (the feed_entries class matrix), parsed IN-STREAM by
    the batch parse_feed chain, rolled up to live per-kind entry and
    feed counts (pos=0 counting, the stream_sitemap stance). Complete
    mode, two fixed-width state rows."""
    from caraspark.curation import parse_feed

    docs = S.replay_documents_stream(spark, sf)
    did = F.col("doc_id")
    is_atom = did % 3 == 0
    n = (did % 4 + 1).cast("int")

    def entry(j):
        return F.when(
            is_atom,
            F.concat(F.lit("<entry><title>p"), j.cast("string"),
                     F.lit("</title><link href='/"), j.cast("string"),
                     F.lit("'/></entry>")),
        ).otherwise(
            F.concat(F.lit("<item><title>p"), j.cast("string"),
                     F.lit("</title><link>/"), j.cast("string"),
                     F.lit("</link></item>")),
        )

    body = F.concat_ws("", F.transform(F.sequence(F.lit(0), n - 1), entry))
    xml = F.when(
        is_atom, F.concat(F.lit("<feed>"), body, F.lit("</feed>"))
    ).otherwise(
        F.concat(F.lit("<rss><channel>"), body, F.lit("</channel></rss>"))
    )
    raw = docs.select(did.cast("string").alias("url"), xml.alias("xml"))
    out = parse_feed(raw).groupBy("kind").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entries"),
        F.sum(F.when(F.col("pos") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_feeds"),
    )
    return S.run_to_memory(out, mode="complete")


@_q(
    "stream_revisit",
    """SELECT 'https://synth.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 3 = 0 THEN 'response' ELSE 'revisit' END AS kind,
       CASE WHEN doc_id % 3 = 0 THEN sha256(text || 'v2')
            ELSE sha256(text) END AS payload_sha256
FROM documents""",
)
def stream_revisit(spark, sf):
    """Stream-STATIC join: continuous crawl ingest resolved against the
    crawl's digest store. Each arriving fetch carries its payload md5
    (changed pages — doc_id%3==0, a 'v2' payload bump — miss the store;
    unchanged pages hit it); a broadcast LEFT join against the static
    distinct (digest → sha256) lookup classifies every fetch as
    response-vs-revisit and resolves revisits to the stored payload
    hash without ever re-reading bytes — the streaming twin of
    `warc_revisit`'s batch resolution.

    The static side is re-readable per micro-batch by contract (Spark
    re-plans stream-static joins each batch), which is exactly how a
    production dedup store picks up compactions mid-stream; the join is
    stateless, so append mode emits each fetch once. Only (url, digest)
    rows flow through the stream; the broadcast carries 48-byte
    digest pairs."""
    from caraspark.tables import load

    store = (
        load(spark, sf, "documents")
        .select(
            F.md5("text").alias("digest"),
            F.sha2(F.col("text"), 256).alias("stored_sha256"),
        )
        .distinct()
    )
    docs = S.replay_documents_stream(spark, sf)
    did = F.col("doc_id")
    changed = did % 3 == 0
    fetches = docs.select(
        F.concat(
            F.lit("https://synth.example/doc/"), did.cast("string")
        ).alias("url"),
        F.when(
            changed, F.md5(F.concat(F.col("text"), F.lit("v2")))
        ).otherwise(F.md5("text")).alias("digest"),
        F.when(
            changed, F.sha2(F.concat(F.col("text"), F.lit("v2")), 256)
        ).otherwise(F.lit(None).cast("string")).alias("new_sha256"),
    )
    out = fetches.join(F.broadcast(store), "digest", "left").select(
        "url",
        F.when(F.col("stored_sha256").isNull(), F.lit("response"))
        .otherwise(F.lit("revisit"))
        .alias("kind"),
        F.coalesce("stored_sha256", "new_sha256").alias("payload_sha256"),
    )
    return S.run_to_memory(out, mode="append")


@_q(
    "stream_validators",
    """SELECT CASE WHEN doc_id % 3 = 0 THEN 'etag'
            WHEN doc_id % 3 = 1 THEN 'weak_etag'
            WHEN doc_id % 4 = 0 THEN 'last_modified'
            ELSE 'none' END AS validator,
       CAST(count(*) AS BIGINT) AS n
FROM documents
GROUP BY 1""",
)
def stream_validators(spark, sf):
    """Live cache-validator census over the crawl ingest stream: every
    arriving fetch classifies by the strongest revalidation signal its
    origin offers (same residue synthesis as the batch
    ``crawl_validators``), aggregated to per-class counts — the
    dashboard number that says what fraction of the refetch budget can
    go conditional. Complete mode, ≤4 fixed state rows; classification
    is scan-stage JVM so the only state is the tiny census itself."""
    from caraspark.curation import classify_validators

    docs = S.replay_documents_stream(spark, sf)
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
    fetches = docs.select(
        etag.alias("etag"),
        lastmod.alias("last_modified"),
        F.lit(None).cast("string").alias("cache_control"),
    )
    out = (
        classify_validators(fetches)
        .groupBy("validator")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return S.run_to_memory(out, mode="complete")


@_q(
    "stream_heavy_hitters",
    f"""WITH c AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY user_id
),
t AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM c)
SELECT CAST({S._HH_K} AS INT) AS k,
       CAST(least({S._HH_K}, nd) AS INT) AS n_tracked,
       TRUE AS all_heavy_tracked,
       TRUE AS bounds_ok
FROM t""",
)
def stream_heavy_hitters(spark, sf):
    """Bounded-state streaming heavy hitters (Space-Saving, k counters)
    with a PROPERTY oracle: the tracked set depends on arrival order,
    but the algorithm's two GUARANTEES don't — (1) every key with true
    count > N/k IS tracked, (2) every tracked key's estimate brackets
    its true count (est ≥ true ≥ est − err). Spark replays the stream
    through the stateful sketch, then checks both contracts against the
    exact batch counts and emits the booleans; the oracle asserts TRUE.
    A violated contract — a broken eviction rule, a lost increment —
    flips a boolean and fails the hash."""
    from caraspark.tables import load

    hh = S.run_to_memory(
        S.space_saving_hitters(S.replay_events_stream(spark, sf)),
        mode="update",
    )
    exact = (
        load(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = exact.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("nd")
    )
    j = exact.join(hh, "user_id", "left").crossJoin(F.broadcast(tot))
    return j.agg(
        F.lit(S._HH_K).cast("int").alias("k"),
        F.count("est").cast("int").alias("n_tracked"),
        # guarantee 1: true count > N/k ⇒ tracked (strict, integer form)
        F.min(
            F.when(
                F.col("n") * S._HH_K > F.col("total"),
                F.col("est").isNotNull(),
            ).otherwise(F.lit(True))
        ).alias("all_heavy_tracked"),
        # guarantee 2: est ≥ true ≥ est − err for every tracked key
        F.min(
            F.when(
                F.col("est").isNotNull(),
                (F.col("est") >= F.col("n"))
                & (F.col("est") - F.col("err") <= F.col("n")),
            ).otherwise(F.lit(True))
        ).alias("bounds_ok"),
    )


def _stream_annots_sql() -> str:
    from caraspark.oracle_freeze import corpus_cte, frozen_cte

    return f"""WITH {corpus_cte()},
{frozen_cte("an", "ANNOTS")}
SELECT a.subtype,
       CAST(count(*) AS BIGINT) AS n_annots,
       CAST(sum(CASE WHEN a.has_action THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_action
FROM docs d JOIN an a ON a.rid = d.rid
GROUP BY a.subtype"""


@_q("stream_annots", _stream_annots_sql())
def stream_annots(spark, sf):
    """Streaming Part-A census: the RAW corpus (real PDF blobs) arrives
    as file-source micro-batches, each batch runs the SAME narrow Arrow
    annotation walker the batch side table uses (`pdf_annots`), and a
    stateful aggregation keyed by /Subtype maintains the live
    interactive-feature inventory — the shape of a crawl-side "hostile
    feature monitor" that flags an annotation-subtype surge without
    re-scanning history.  Complete mode; DuckDB predicts every row from
    the frozen per-recipe annotation table.

    Scale: state is one row per annotation subtype ((28 defined by PDF17
    SS12.5.6); the stream materializes (subtype, url) pairs only —
    blobs die inside the Arrow stage of their own micro-batch."""
    from caraspark.sidetables import ANNOTS

    an = ANNOTS.over(S.replay_corpus_stream(spark, sf))
    out = an.groupBy("subtype").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_annots"),
        F.sum(F.when(F.col("has_action"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_action"),
    )
    return S.run_to_memory(out, mode="complete")


def _stream_content_ops_sql() -> str:
    from caraspark.oracle_freeze import corpus_cte, frozen_cte

    return f"""WITH {corpus_cte()},
{frozen_cte("co", "CONTENT_OPS")}
SELECT c.op,
       CAST(sum(c.n) AS BIGINT) AS n_ops,
       CAST(count(*) AS BIGINT) AS n_docs
FROM docs d JOIN co c ON c.rid = d.rid
GROUP BY c.op"""


@_q("stream_content_ops", _stream_content_ops_sql())
def stream_content_ops(spark, sf):
    """Streaming content-stream operator monitor: raw PDF blobs arrive
    as micro-batches, each runs the SAME Arrow content-op walker the
    batch census uses (`pdf_content_ops`), and a stateful per-operator
    aggregation maintains the live op mix — the renderer-attack-surface
    alarm (a surge of Do/BI or of never-seen operators flags a
    campaign) beside `stream_annots`' annotation monitor.  Complete
    mode; DuckDB predicts every row from the frozen per-recipe op
    table.

    Scale: state is one row per distinct operator (~70 defined);
    (op, count) pairs are all that cross the stream."""
    from caraspark.sidetables import CONTENT_OPS

    ops = CONTENT_OPS.over(S.replay_corpus_stream(spark, sf))
    out = ops.groupBy("op").agg(
        F.sum("n").cast("bigint").alias("n_ops"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    return S.run_to_memory(out, mode="complete")


@_q(
    "stream_datacard",
    """SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens
FROM documents WHERE length(text) > 0
GROUP BY lang""",
)
def stream_datacard(spark, sf):
    """Streaming data-card monitor: the per-language release census
    (docs / chars / tokens) maintained live over document micro-batches
    — the ingest dashboard a curation pipeline alarms on (a language's
    share drifting mid-crawl is the classic upstream-change symptom),
    converging to exactly the batch card's totals (`corpus_datacard`'s
    census columns).  Complete mode; DuckDB predicts every row from the
    same table the stream replays.

    Scale: |langs| fixed-width state rows; each micro-batch contributes
    (lang, three BIGINTs) partials — token counting is a stateless
    scan-stage split, never stored."""
    docs = S.replay_documents_stream(spark, sf).filter(F.length("text") > 0)
    out = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.sum(F.size(F.split(F.lower("text"), " ")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    return S.run_to_memory(out, mode="complete")


@_q(
    "stream_shots",
    f"""SELECT media_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN is_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
       CAST(max(diff) AS BIGINT) AS max_diff
FROM ({multimodal.REGISTRY["video_shots"].sql}) GROUP BY media_id""",
)
def stream_shots(spark, sf):
    """Streaming multimodal monitor: media ids arrive as micro-batches,
    each batch re-derives payloads through the SAME deterministic codec
    and runs the SAME vectorized frame-diff walker the batch census uses
    (``multimodal.shot_rows``), and a per-clip stateful aggregation
    maintains the live motion profile (pair count, cut count, peak
    diff) — the ingest-side screen for static/broken clips (n_cuts = 0,
    tiny max_diff) before they reach frame sampling.  Complete mode;
    DuckDB predicts every row from the closed-form pixels.

    Scale: state is 3 BIGINTs per clip; payloads die inside the Arrow
    stage of their own micro-batch — only (media_id, pair stats) cross
    the stream."""
    ids = S.replay_embeddings_stream(spark, sf).select(
        F.col("vec_id").alias("media_id")
    )
    media = map_rows(ids, multimodal.media_rows, multimodal.MEDIA)
    shots = map_rows(media, multimodal.shot_rows, multimodal.SHOTS)
    out = shots.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("is_cut"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_cuts"),
        F.max("diff").cast("bigint").alias("max_diff"),
    )
    return S.run_to_memory(out, mode="complete")


@_q(
    "stream_mutual_links",
    """WITH links AS (
  SELECT source AS src,
         'src' || CAST((doc_id + k.k) % 20 AS VARCHAR) AS dst
  FROM documents, (SELECT unnest([3, 6, 14]) AS k) k
),
dirs AS (
  SELECT least(src, dst) AS lo, greatest(src, dst) AS hi,
         CASE WHEN src < dst THEN 1 ELSE 0 END AS fwd
  FROM links WHERE src <> dst
),
pairs AS (
  SELECT lo, hi,
         CAST(sum(fwd) AS BIGINT) AS n_fwd,
         CAST(sum(1 - fwd) AS BIGINT) AS n_rev
  FROM dirs GROUP BY lo, hi
)
SELECT lo, hi, n_fwd, n_rev
FROM pairs WHERE n_fwd > 0 AND n_rev > 0""",
)
def stream_mutual_links(spark, sf):
    """Continuous graph-pattern query over the edge stream (the
    retrieved EDBT'20 continuous-multi-query setting, PAPERS.md):
    crawl micro-batches contract to host→host edges (offsets +3/+6/−6
    mod 20, so distance-6 pairs close the cycle and distance-3 pairs
    stay one-way — the filter separates real populations), and ONE
    stateful
    per-undirected-pair aggregation — two direction counters keyed
    (lo, hi) — simultaneously answers two standing queries: the
    reciprocal-link detector (mutual pairs = link-exchange / mirror
    candidates the spam pipeline scores) and the directed edge-weight
    census.  Complete mode; the post-aggregation filter emits only the
    pairs where BOTH directions have been witnessed so far.

    Scale: state is two BIGINTs per distinct undirected host pair
    (Zipf-bounded, ~host²·density); page-level links contract to host
    pairs INSIDE each micro-batch before touching state — the same
    contraction-first rule as the batch host graph."""
    d = S.replay_documents_stream(spark, sf)
    links = d.select(
        F.col("source").alias("src"),
        "doc_id",
        F.explode(F.array(F.lit(3), F.lit(6), F.lit(14))).alias("k"),
    ).select(
        "src",
        F.concat(
            F.lit("src"), ((F.col("doc_id") + F.col("k")) % 20)
        ).alias("dst"),
    )
    dirs = links.filter(F.col("src") != F.col("dst")).select(
        F.least("src", "dst").alias("lo"),
        F.greatest("src", "dst").alias("hi"),
        F.when(F.col("src") < F.col("dst"), 1).otherwise(0).alias("fwd"),
    )
    pairs = dirs.groupBy("lo", "hi").agg(
        F.sum("fwd").cast("bigint").alias("n_fwd"),
        F.sum(1 - F.col("fwd")).cast("bigint").alias("n_rev"),
    )
    out = pairs.filter((F.col("n_fwd") > 0) & (F.col("n_rev") > 0))
    return S.run_to_memory(out, mode="complete")


@_q(
    "stream_abtest",
    f"""SELECT cohort, a, b, c, d, significant
FROM ({R.REGISTRY["events_abtest"].sql})""",
)
def stream_abtest(spark, sf):
    """Live experiment monitor: the exact cross-multiplied χ²
    significance gate of ``events_abtest`` maintained over streaming
    event micro-batches — per-user conversion state first (the ≥14-
    purchase census must see a user's full history, so the per-user
    aggregate is the streaming state), then the per-cohort 2×2 fold
    and the integer launch gate on the final table.  Complete mode;
    converges to the batch readout.  The obligatory caveat a real
    experimentation platform documents: peeking at a fixed-α gate
    every batch inflates false positives — production pairs this
    monitor with a sequential-testing correction; the GATE ARITHMETIC
    is unchanged.

    Scale: state is one counter per user (the contraction), then
    |cohorts| fixed-width cells; events die in their micro-batch."""
    users = R.converted_users(S.replay_events_stream(spark, sf))
    live = S.run_to_memory(users, mode="complete")
    return R.abtest_cells(live).select(
        "cohort", "a", "b", "c", "d", "significant"
    )


@_q(
    "stream_benford",
    """WITH digits AS (
  SELECT CAST(substring(CAST(CAST(round(value * 1000) AS BIGINT)
                             AS VARCHAR), 1, 1) AS INT) AS d
  FROM events WHERE round(value * 1000) >= 1
)
SELECT d, CAST(count(*) AS BIGINT) AS n
FROM digits GROUP BY d""",
)
def stream_benford(spark, sf):
    """Standing data-quality monitor: the Benford first-digit census of
    the event value column maintained over streaming micro-batches —
    nine counter rows of state, converging to the batch census; the
    ingest-side alarm for an upstream unit change or synthetic-data
    injection (the digit mix jumps long before aggregates drift).
    Complete mode; the deviation scoring against the frozen
    expectations is ``audit_benford``'s job downstream of this state.

    Scale: |digits| = 9 fixed-width state rows; digit extraction is a
    stateless scan expression inside each micro-batch."""
    ev = S.replay_events_stream(spark, sf).filter(
        F.round(F.col("value") * 1000) >= 1
    )
    d = ev.select(
        F.substring(
            F.round(F.col("value") * 1000).cast("bigint").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("d")
    )
    out = d.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return S.run_to_memory(out, mode="complete")


def _stream_revisit_plan_sql() -> str:
    from caraspark.curation import REGISTRY as CURATION_REGISTRY

    return CURATION_REGISTRY["warc_revisit_plan"].sql


@_q("stream_revisit_plan", _stream_revisit_plan_sql())
def stream_revisit_plan(spark, sf):
    """STATEFUL streaming revisit planning: crawl waves arrive as
    separate micro-batches (`replay_crawl_waves_stream` — one wave per
    trigger, mtime-pinned order) and a per-url `applyInPandasWithState`
    group holds the LAST PAYLOAD DIGEST as its state, so batch k's
    response-vs-revisit decision genuinely depends on state written by
    batch k−1 — the streaming form of `warc_revisit_plan`'s lag window,
    where `stream_revisit`'s stream-static join only checks a frozen
    digest store.  Decisions roll up post-sink to the identical
    per-crawl storage census, and the oracle IS the batch planner's SQL:
    the hash equality proves the incremental state machine and the
    batch window compute the same plan.

    Scale shape: only (url, digest, length) rows flow — payloads never
    enter the stream; state is 16 bytes per url (the production
    footprint of a crawl dedup store); the census is a 4-group rollup.
    The staged waves are the harness's stand-in for a crawler's fetch
    feed."""
    from caraspark.curation import _REVISIT_REC_BYTES as rec_bytes

    waves = S.replay_crawl_waves_stream(spark, sf)
    dec = S.stateful_revisit_planner(waves)
    out = S.run_to_memory(dec, mode="append")
    resp = F.col("rec") == "response"
    return out.groupBy("crawl").agg(
        F.sum(resp.cast("int")).cast("bigint").alias("n_response"),
        F.sum((~resp).cast("int")).cast("bigint").alias("n_revisit"),
        F.sum(
            F.when(resp, F.col("payload")).otherwise(F.lit(rec_bytes))
        )
        .cast("bigint")
        .alias("stored_bytes"),
        F.sum(
            F.when(~resp, F.col("payload") - rec_bytes).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("saved_bytes"),
    )
