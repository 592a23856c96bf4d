"""Graded queries: web-corpus cleaning (C4 line rules, CCNet boilerplate
strip, URL/domain governance) over the documents table.

The corpus is single-line word soup, so the first two queries derive a
deterministic lined corpus first: tokens chunked into pseudo-lines of
5 + doc_id % 3 words, a terminal '.' on lines where (i + n_tokens) % 3
!= 0, a planted 3-word header on every document and a planted 5-word
footer on even doc_ids. Both engines replay the construction
expression-for-expression, so the graded signal is the cleaning
operators themselves (operators/webclean.py), not the scaffolding.

Stand-in terms (documented, corpus-calibrated): the policy-line term is
the token 'slow' (plays C4's "javascript" rule, ~19% of lines), the
banned-document term is the rare token 'dup' (plays "lorem ipsum", 5%
of docs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from llm_data_pipeline_spark.functions.hashing import DUCKDB_HASH60
from llm_data_pipeline_spark.functions.intmath import rounded_div_sql
from llm_data_pipeline_spark.functions.repetition import words_of
from llm_data_pipeline_spark.queries import query, table
from llm_data_pipeline_spark.functions.checkpoint import cut_lineage

_HEADER = "home navigation menu."
_FOOTER = "contact us at corp example."

# DuckDB replay of the lined-corpus construction -> CTE `lined(doc_id, text)`.
_LINED_CTE = f"""
t AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(coalesce(text, '')),
                     '\\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
  FROM documents
),
lined AS (
  SELECT doc_id,
    array_to_string(
      list_concat(
        list_concat(
          ['{_HEADER}'],
          CASE WHEN len(toks) > 0 THEN
            list_transform(
              range(0, (len(toks) + 5 + doc_id % 3 - 1) // (5 + doc_id % 3)),
              i -> array_to_string(
                     toks[i * (5 + doc_id % 3) + 1 : (i + 1) * (5 + doc_id % 3)],
                     ' ')
                   || CASE WHEN (i + len(toks)) % 3 <> 0 THEN '.' ELSE '' END)
          ELSE []::VARCHAR[] END),
        CASE WHEN doc_id % 2 = 0 THEN ['{_FOOTER}'] ELSE []::VARCHAR[] END),
      chr(10)) AS text
  FROM t
)
"""


def lined_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, text) with deterministic pseudo-lines."""
    docs = table(spark, sf_dir, "documents", scatter=True).select("doc_id", "text")
    docs = docs.select(
        "doc_id", words_of(F.col("text")).alias("_toks")
    ).select(
        "doc_id",
        "_toks",
        F.size("_toks").alias("_sz"),
        (F.lit(5) + F.col("doc_id") % 3).cast("int").alias("_w"),
    )
    n_lines = F.floor(
        (F.col("_sz") + F.col("_w") - 1) / F.col("_w")
    ).cast("int")
    body = F.when(
        F.col("_sz") > 0,
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.concat(
                F.array_join(
                    F.slice(F.col("_toks"), i * F.col("_w") + 1, F.col("_w")),
                    " ",
                ),
                F.when((i + F.col("_sz")) % 3 != 0, F.lit(".")).otherwise(
                    F.lit("")
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    lines = F.concat(
        F.array(F.lit(_HEADER)),
        body,
        F.when(
            F.col("doc_id") % 2 == 0, F.array(F.lit(_FOOTER))
        ).otherwise(F.array().cast("array<string>")),
    )
    return docs.select("doc_id", F.array_join(lines, "\n").alias("text"))


# ---------------------------------------------------------------------------
# C4 line-level filtering (Raffel et al. 2020 §2.2)
# ---------------------------------------------------------------------------

_C4_MIN_WORDS = 5
_C4_MIN_LINES = 3
_C4_POLICY_RE = r"\bslow\b"
_C4_BANNED_RE = r"\bdup\b"


@query(
    "c4_line_filter_rewrite",
    oracle=f"""
    WITH {_LINED_CTE},
    filt AS (
      SELECT doc_id,
        string_split(text, chr(10)) AS ls,
        list_filter(string_split(text, chr(10)), l ->
          regexp_matches(l, '[.!?"]$')
          AND len(string_split(l, ' ')) >= {_C4_MIN_WORDS}
          AND NOT regexp_matches(l, '{_C4_POLICY_RE}')) AS kept,
        regexp_matches(text, '{_C4_BANNED_RE}') AS banned
      FROM lined
    )
    SELECT doc_id,
      CAST(len(ls) AS INT) AS n_lines,
      CAST(len(kept) AS INT) AS kept_lines,
      CAST(CASE WHEN len(kept) >= {_C4_MIN_LINES} AND NOT banned
           THEN 1 ELSE 0 END AS INT) AS keep,
      CAST(length(coalesce(array_to_string(kept, chr(10)), '')) AS INT)
        AS clean_chars,
      md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5
    FROM filt ORDER BY doc_id
    """,
    tags=("webclean", "c4", "heuristics"),
)
def c4_line_filter_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning cascade: terminal-punctuation lines with >= 5 words and
    no policy term survive; documents keep iff >= 3 lines survive and no
    banned term appears. Zero-shuffle narrow map (operators/webclean.py:
    c4_line_stats) — the whole cascade runs inside the scan stage; the
    planted 3-word header exercises the min-words rule, unpunctuated
    lines the terminal rule, 'slow' lines the policy rule, 'dup' docs
    the page-level ban."""
    from llm_data_pipeline_spark.operators.webclean import c4_line_stats

    out = c4_line_stats(
        lined_documents(spark, sf_dir),
        text_col="text",
        min_words_per_line=_C4_MIN_WORDS,
        min_lines=_C4_MIN_LINES,
        policy_line_re=_C4_POLICY_RE,
        banned_doc_re=_C4_BANNED_RE,
    )
    return out.select(
        "doc_id",
        F.col("c4_n_lines").alias("n_lines"),
        F.col("c4_kept_lines").alias("kept_lines"),
        F.col("c4_keep").alias("keep"),
        F.length("c4_clean_text").alias("clean_chars"),
        F.md5("c4_clean_text").alias("clean_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# CCNet-style cross-corpus boilerplate line removal
# ---------------------------------------------------------------------------

_BP_MIN_DOCS = 20


@query(
    "boilerplate_line_strip",
    oracle=f"""
    WITH {_LINED_CTE},
    freq AS (
      SELECT line FROM (
        SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM lined)
      GROUP BY line HAVING count(DISTINCT doc_id) >= {_BP_MIN_DOCS}
    ),
    bp AS (SELECT coalesce(list(line), []::VARCHAR[]) AS bad FROM freq)
    SELECT doc_id,
      CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
      CAST(len(list_filter(string_split(text, chr(10)),
               l -> list_contains(bad, l))) AS BIGINT) AS removed_lines,
      CAST(length(coalesce(array_to_string(
        list_filter(string_split(text, chr(10)), l -> NOT list_contains(bad, l)),
        chr(10)), '')) AS INT) AS clean_chars,
      md5(coalesce(array_to_string(
        list_filter(string_split(text, chr(10)), l -> NOT list_contains(bad, l)),
        chr(10)), '')) AS clean_md5
    FROM lined, bp ORDER BY doc_id
    """,
    tags=("webclean", "ccnet", "dedup"),
)
def boilerplate_line_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate strip: any line occurring in >= 20
    distinct documents (the planted header/footer; plus body lines of
    replicated near-duplicate docs if they clear the bar) is removed from
    every document. Distributed shape (operators/webclean.py:
    remove_boilerplate_lines): posexplode -> distinct-doc count shuffled
    on the line value -> tiny frequent set broadcast back -> one
    positional-rebuild shuffle on doc_id. The oracle recomputes the
    frequent set naively and rewrites with list_filter."""
    from llm_data_pipeline_spark.operators.webclean import remove_boilerplate_lines

    out = remove_boilerplate_lines(
        lined_documents(spark, sf_dir),
        key_col="doc_id",
        text_col="text",
        min_docs=_BP_MIN_DOCS,
    )
    return out.select(
        "doc_id",
        "n_lines",
        "removed_lines",
        F.length("clean_text").alias("clean_chars"),
        F.md5("clean_text").alias("clean_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# URL/domain governance: registered-domain extraction, blocklist, quota
# ---------------------------------------------------------------------------

_BLOCKLIST = ("src00.com", "src11.org", "src32.com")
_DOMAIN_CAP = 3

_URL_SQL = (
    "'https://' || CASE WHEN doc_id % 4 = 0 THEN 'cdn.' ELSE '' END"
    " || source || (doc_id % 3)::VARCHAR"
    " || CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END"
    " || '/d/' || doc_id::VARCHAR || '?utm_source=feed'"
)


def domain_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, source, url, domain): deterministic URLs from
    (source, doc_id) with cdn subdomains, mixed TLDs and query strings, so
    the authority parse does real work; then registered-domain extraction."""
    from llm_data_pipeline_spark.operators.webclean import add_registered_domain

    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    docs = docs.withColumn(
        "url",
        F.concat(
            F.lit("https://"),
            F.when(F.col("doc_id") % 4 == 0, F.lit("cdn.")).otherwise(F.lit("")),
            F.col("source"),
            (F.col("doc_id") % 3).cast("string"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(".com")).otherwise(
                F.lit(".org")
            ),
            F.lit("/d/"),
            F.col("doc_id").cast("string"),
            F.lit("?utm_source=feed"),
        ),
    )
    return add_registered_domain(docs, url_col="url", out_col="domain")


# DuckDB replay of URL construction + registered-domain extraction ->
# CTE `dom(doc_id, domain)`; shared by the governance and PageRank queries.
_DOMAIN_CTE = f"""
u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
h AS (
  SELECT doc_id,
    string_split(lower(regexp_extract(url,
      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)', 1)), '.') AS labels
  FROM u
),
dom AS (
  SELECT doc_id,
    CASE WHEN len(labels) >= 2
         THEN labels[-2] || '.' || labels[-1]
         ELSE array_to_string(labels, '.') END AS domain
  FROM h
)
"""


@query(
    "domain_quota_curation",
    oracle=f"""
    WITH {_DOMAIN_CTE},
    q AS (
      SELECT doc_id, domain,
        CASE WHEN domain IN {_BLOCKLIST!r} THEN 1 ELSE 0 END AS blocked,
        row_number() OVER (
          PARTITION BY domain
          ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT,
                   doc_id) AS rn
      FROM dom
    )
    SELECT domain,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(blocked) AS BIGINT) AS n_blocked,
      CAST(sum(CASE WHEN rn <= {_DOMAIN_CAP} AND blocked = 0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(sum(CASE WHEN rn <= {_DOMAIN_CAP} AND blocked = 0
               THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
    FROM q GROUP BY domain ORDER BY domain
    """,
    tags=("webclean", "curation", "governance"),
)
def domain_quota_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL -> registered domain -> blocklist + per-domain quota (cap 3
    docs per domain, ranked by a deterministic md5-hash order — a seeded
    uniform sample both engines replay). URLs are derived
    deterministically from (source, doc_id) with cdn subdomains, mixed
    TLDs and query strings so the authority parse does real work. One
    shuffle on the domain key (operators/webclean.py:domain_quota_filter);
    output is the per-domain governance report."""
    from llm_data_pipeline_spark.operators.webclean import domain_quota_filter

    governed = domain_quota_filter(
        domain_documents(spark, sf_dir),
        domain_col="domain",
        key_col="doc_id",
        blocklist=_BLOCKLIST,
        cap=_DOMAIN_CAP,
    )
    return (
        governed.groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("blocked").cast("long").alias("n_blocked"),
            F.sum("quota_keep").cast("long").alias("n_kept"),
            F.sum(F.col("doc_id") * F.col("quota_keep"))
            .cast("long")
            .alias("kept_id_sum"),
        )
        .orderBy("domain")
    )


# ---------------------------------------------------------------------------
# domain-graph PageRank (integer-exact power method, trajectory SQL-replayed)
# ---------------------------------------------------------------------------

_PR_ITERS = 10


def _pr_oracle(iters: int = _PR_ITERS) -> str:
    ctes = [
        _DOMAIN_CTE.strip(),
        "nn AS (SELECT count(*) AS n FROM documents)",
        """pairs AS (
      SELECT a.domain AS src, b.domain AS dst
      FROM dom a, nn, dom b
      WHERE b.doc_id = (a.doc_id * 17 + 3) % nn.n
    )""",
        """edges AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS w
      FROM pairs GROUP BY src, dst
    )""",
        "outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src)",
        """nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
    )""",
        "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes)",
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"""r{t} AS (
      SELECT n2.node,
             CAST(150000 + (85 * coalesce(i.inc, 0)) // 100 AS BIGINT) AS pr
      FROM nodes n2 LEFT JOIN (
        SELECT e.dst AS node, sum((r.pr * e.w) // o.ow) AS inc
        FROM edges e
        JOIN r{t-1} r ON r.node = e.src
        JOIN outw o ON o.src = e.src
        GROUP BY e.dst) i USING (node)
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node AS domain, pr AS rank_micro FROM r{iters} ORDER BY domain
    """
    )


@query(
    "domain_pagerank_prior",
    oracle=_pr_oracle(),
    tags=("webclean", "graph", "pagerank", "iterative"),
)
def domain_pagerank_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-authority prior: 10 integer power-method PageRank iterations
    over a deterministic domain link graph (doc d links to doc
    (17d+3) mod N; edges aggregated to weighted domain pairs). Ranks are
    BIGINT micro-units with damping 85/100 applied as integer division, so
    the DuckDB oracle re-derives EVERY iteration from raw parquet via
    unrolled CTEs. Per iteration: one edges-vs-ranks join + one groupBy(dst)
    (operators/pagerank.py; lazy localCheckpoint keeps the plan flat).
    This is the CommonCrawl-style domain ranking curation pipelines use
    as a quality signal."""
    from llm_data_pipeline_spark.operators.pagerank import pagerank_integer

    dom = domain_documents(spark, sf_dir).select("doc_id", "domain")
    n_docs = dom.count()  # 1-row driver aggregate (bounded)
    a = dom.select(
        F.col("domain").alias("src"),
        ((F.col("doc_id") * 17 + 3) % n_docs).alias("_tid"),
    )
    b = dom.select(F.col("doc_id").alias("_tid"), F.col("domain").alias("dst"))
    edges = a.join(b, "_tid").groupBy("src", "dst").agg(F.count("*").alias("w"))
    ranks = pagerank_integer(edges, iters=_PR_ITERS)
    return ranks.select(
        F.col("node").alias("domain"), F.col("rank").alias("rank_micro")
    ).orderBy("domain")


# ---------------------------------------------------------------------------
# end-to-end web-curation pipeline (C4 -> boilerplate -> exact dedup)
# ---------------------------------------------------------------------------

_WEB_P = 1_000_000_007


@query(
    "pipeline_web_curation",
    oracle=f"""
    WITH {_LINED_CTE},
    c4 AS (
      SELECT doc_id,
        list_filter(string_split(text, chr(10)), l ->
          regexp_matches(l, '[.!?"]$')
          AND len(string_split(l, ' ')) >= {_C4_MIN_WORDS}
          AND NOT regexp_matches(l, '{_C4_POLICY_RE}')) AS kept,
        regexp_matches(text, '{_C4_BANNED_RE}') AS banned
      FROM lined
    ),
    surv AS (
      SELECT doc_id, coalesce(array_to_string(kept, chr(10)), '') AS ctext
      FROM c4 WHERE len(kept) >= {_C4_MIN_LINES} AND NOT banned
    ),
    freq AS (
      SELECT line FROM (
        SELECT doc_id, unnest(string_split(ctext, chr(10))) AS line FROM surv)
      GROUP BY line HAVING count(DISTINCT doc_id) >= {_BP_MIN_DOCS}
    ),
    bp AS (SELECT coalesce(list(line), []::VARCHAR[]) AS bad FROM freq),
    stripped AS (
      SELECT doc_id,
        coalesce(array_to_string(list_filter(string_split(ctext, chr(10)),
                 l -> NOT list_contains(bad, l)), chr(10)), '') AS ftext
      FROM surv, bp
    ),
    ranked AS (
      SELECT doc_id, ftext,
        row_number() OVER (PARTITION BY md5(ftext) ORDER BY doc_id) AS rn
      FROM stripped
    ),
    flags AS (
      SELECT d.doc_id, d.source,
        CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END AS c4_keep,
        CASE WHEN r.rn = 1 THEN 1 ELSE 0 END AS canonical,
        CASE WHEN r.rn = 1
             THEN {{hash60}} % {_WEB_P} ELSE NULL END AS h
      FROM documents d LEFT JOIN ranked r USING (doc_id)
    )
    SELECT source,
      CAST(count(*) AS BIGINT) AS n_in,
      CAST(sum(c4_keep) AS BIGINT) AS n_c4_kept,
      CAST(sum(canonical) AS BIGINT) AS n_unique,
      CAST(coalesce(sum(h), -1) AS BIGINT) AS content_hash_sum
    FROM flags GROUP BY source ORDER BY source
    """.format(hash60="(('0x' || substr(md5(r.ftext), 1, 15))::BIGINT)"),
    tags=("webclean", "e2e", "pipeline", "dedup"),
)
def pipeline_web_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full published web-curation recipe in ONE DataFrame chain:
    C4 line cascade (kills the 3-word planted header + unpunctuated/policy
    lines, bans 'dup' pages) -> CCNet boilerplate strip over the C4
    SURVIVORS (kills the planted footer — each stage only sees the prior
    stage's output, pinning integration order) -> exact content dedup
    (md5 digest window, smallest doc_id canonical). Graded per source on
    stage-survival counts + canonical content hash sums. Shapes compose:
    narrow C4 map inside the scan, two bounded boilerplate shuffles, one
    digest-keyed dedup window."""
    from llm_data_pipeline_spark.operators.webclean import (
        c4_line_stats,
        remove_boilerplate_lines,
    )
    from llm_data_pipeline_spark.functions.hashing import portable_hash60

    c4 = c4_line_stats(
        lined_documents(spark, sf_dir),
        text_col="text",
        min_words_per_line=_C4_MIN_WORDS,
        min_lines=_C4_MIN_LINES,
        policy_line_re=_C4_POLICY_RE,
        banned_doc_re=_C4_BANNED_RE,
    )
    surv = c4.filter(F.col("c4_keep") == 1).select(
        "doc_id", F.col("c4_clean_text").alias("text")
    )
    # Three consumers re-execute this regex-heavy narrow pipeline otherwise
    # (boilerplate's freq + rebuild branches, then the dedup window) —
    # measured 6.9 s steady unpinned at sf0.1, 2.9 s pinned.
    surv = surv.transform(cut_lineage, eager=False)
    stripped = remove_boilerplate_lines(
        surv, key_col="doc_id", text_col="text", min_docs=_BP_MIN_DOCS
    ).select("doc_id", F.col("clean_text").alias("ftext"))
    w = Window.partitionBy(F.md5("ftext")).orderBy("doc_id")
    ranked = stripped.withColumn("rn", F.row_number().over(w))
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    flags = docs.join(ranked, "doc_id", "left").select(
        "source",
        F.when(F.col("rn").isNotNull(), 1).otherwise(0).alias("c4_keep"),
        F.when(F.col("rn") == 1, 1).otherwise(0).alias("canonical"),
        F.when(
            F.col("rn") == 1,
            F.pmod(portable_hash60(F.col("ftext")), F.lit(_WEB_P)),
        ).alias("h"),
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count("*").alias("n_in"),
            F.sum("c4_keep").cast("long").alias("n_c4_kept"),
            F.sum("canonical").cast("long").alias("n_unique"),
            F.coalesce(F.sum("h"), F.lit(-1))
            .cast("long")
            .alias("content_hash_sum"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# URL canonicalization dedup
# ---------------------------------------------------------------------------

_URL_CANON_SQL = r"""
raws AS (
  SELECT doc_id,
    CASE (doc_id // 100) % 5
      WHEN 0 THEN 'https://' || source || '.example.com/a/' || (doc_id % 100)::VARCHAR
      WHEN 1 THEN 'HTTPS://WWW.' || source || '.example.com/a/' || (doc_id % 100)::VARCHAR || '/'
      WHEN 2 THEN 'https://' || source || '.example.com:443/a/' || (doc_id % 100)::VARCHAR || '?b=2&a=1&utm_source=feed'
      WHEN 3 THEN 'https://' || source || '.example.com/a/' || (doc_id % 100)::VARCHAR || '/?a=1&utm_campaign=x&b=2#frag'
      ELSE 'http://' || source || '.example.com:80/a/' || (doc_id % 100)::VARCHAR || '?gclid=g&fbclid=f'
    END AS raw
  FROM documents
),
parts AS (
  SELECT doc_id, raw,
         lower(regexp_extract(raw, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_replace(raw, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM raws
),
p2 AS (
  SELECT *, regexp_extract(rest, '^([^/?#]*)', 1) AS hostport,
         substr(rest, length(regexp_extract(rest, '^([^/?#]*)', 1)) + 1) AS tail
  FROM parts
),
p3 AS (
  SELECT *,
         regexp_replace(lower(regexp_extract(hostport, '^([^:]*)', 1)), '^www\.', '') AS host,
         regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
         regexp_extract(tail, '^([^?#]*)', 1) AS path_raw,
         regexp_extract(tail, '\?([^#]*)', 1) AS qstr
  FROM p2
),
p4 AS (
  SELECT *,
         CASE WHEN regexp_replace(path_raw, '/+$', '') = '' THEN '/'
              ELSE regexp_replace(path_raw, '/+$', '') END AS path,
         coalesce(array_to_string(list_sort(list_filter(string_split(qstr, '&'),
             x -> x <> '' AND NOT starts_with(x, 'utm_')
                  AND NOT starts_with(x, 'fbclid=')
                  AND NOT starts_with(x, 'gclid='))), '&'), '') AS qs
  FROM p3
),
canon AS (
  SELECT doc_id, raw,
         scheme || '://' || host ||
         CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                                   OR (scheme = 'https' AND port = '443'))
              THEN ':' || port ELSE '' END ||
         path ||
         CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS canonical_url
  FROM p4
)
"""


@query(
    "url_canonical_dedup",
    oracle=f"""
    WITH {_URL_CANON_SQL.strip()}
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT raw) AS BIGINT) AS n_raw,
           min(doc_id) AS keep_doc_id
    FROM canon
    GROUP BY canonical_url
    ORDER BY canonical_url
    """,
    tags=("webclean", "dedup", "url"),
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup over a planted messy-URL corpus (case/www/default
    ports/trailing slash/fragments/tracking params/param order — every
    rule of operators/webclean.py:canonical_url exercised by a variant
    class): canonicalize natively, then one groupBy(canonical) keeping
    the smallest doc_id. The first, cheapest dedup stage of a web
    pipeline — at 100 TB the shuffle carries only the canonical key."""
    from llm_data_pipeline_spark.operators.webclean import canonical_url

    docs = table(spark, sf_dir, "documents", scatter=True).select(
        "doc_id", "source"
    )
    raw = _planted_raw_url()
    return (
        docs.select("doc_id", raw.alias("raw"))
        .select("doc_id", "raw", canonical_url(F.col("raw")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("raw").alias("n_raw"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .orderBy("canonical_url")
    )


def _planted_raw_url() -> "F.Column":
    """The messy planted URL used by url_canonical_dedup AND the v2
    pipeline funnel — one definition, two graded consumers."""
    gid = (F.col("doc_id") % 100).cast("string")
    k = F.floor(F.col("doc_id") / 100).cast("long") % 5
    host = F.concat(F.col("source"), F.lit(".example.com"))
    return (
        F.when(k == 0, F.concat(F.lit("https://"), host, F.lit("/a/"), gid))
        .when(
            k == 1,
            F.concat(F.lit("HTTPS://WWW."), host, F.lit("/a/"), gid, F.lit("/")),
        )
        .when(
            k == 2,
            F.concat(
                F.lit("https://"), host, F.lit(":443/a/"), gid,
                F.lit("?b=2&a=1&utm_source=feed"),
            ),
        )
        .when(
            k == 3,
            F.concat(
                F.lit("https://"), host, F.lit("/a/"), gid,
                F.lit("/?a=1&utm_campaign=x&b=2#frag"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://"), host, F.lit(":80/a/"), gid,
                F.lit("?gclid=g&fbclid=f"),
            )
        )
    )


# ---------------------------------------------------------------------------
# pipeline v2: the modern funnel (URL dedup -> Gopher -> exact dedup)
# ---------------------------------------------------------------------------

_V2_NORM = "trim(regexp_replace(lower(coalesce(text,'')), '\\s+', ' ', 'g'))"


def _v2_oracle() -> str:
    from llm_data_pipeline_spark.queries_heuristics import _gopher_oracle

    rd = rounded_div_sql("(docs * 1000000)", "coalesce(prev, docs)")
    return f"""
    WITH {_URL_CANON_SQL.strip()},
    uk AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY canonical_url ORDER BY doc_id)
               AS urn
      FROM canon
    ),
    gk AS (SELECT doc_id, keep FROM ({_gopher_oracle()})),
    s1 AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN uk ON uk.doc_id = d.doc_id AND uk.urn = 1
    ),
    s2 AS (
      SELECT s1.doc_id, s1.text FROM s1
      JOIN gk ON gk.doc_id = s1.doc_id AND gk.keep = 1
    ),
    s3 AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY md5({_V2_NORM})
                                ORDER BY doc_id) AS drn
      FROM s2
    ),
    counts AS (
      SELECT 'stage0_input' AS stage, CAST(count(*) AS BIGINT) AS docs
      FROM documents
      UNION ALL
      SELECT 'stage1_url_dedup', CAST(count(*) AS BIGINT) FROM s1
      UNION ALL
      SELECT 'stage2_gopher', CAST(count(*) AS BIGINT) FROM s2
      UNION ALL
      SELECT 'stage3_exact_dedup', CAST(count(*) AS BIGINT)
      FROM s3 WHERE drn = 1
    ),
    w AS (
      SELECT stage, docs, lag(docs) OVER (ORDER BY stage) AS prev FROM counts
    )
    SELECT stage, docs, CAST({rd} AS BIGINT) AS retained_ppm
    FROM w ORDER BY stage
    """


@query(
    "pipeline_web_curation_v2",
    oracle=_v2_oracle(),
    tags=("e2e", "webclean", "pipeline"),
)
def pipeline_web_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern curation funnel composed end to end, graded on per-stage
    retention: URL canonical dedup (cheapest key first — no text touched)
    -> Gopher document rules (narrow map) -> exact content dedup (digest
    window). Stage ORDER is the content of this query: each stage only
    sees the previous stage's survivors, and the funnel row for a stage
    changes if any upstream stage changes. Reuses the graded single-stage
    operators verbatim (url_canonical_dedup's planted URLs + canonical
    rule, gopher_doc_quality_filter's keep flag)."""
    from llm_data_pipeline_spark.operators.webclean import canonical_url
    from llm_data_pipeline_spark.functions.intmath import rounded_div_col
    from llm_data_pipeline_spark.queries_heuristics import (
        gopher_doc_quality_filter,
    )

    docs = table(spark, sf_dir, "documents", scatter=True).select(
        "doc_id", "source", "text"
    )
    canon = docs.select(
        "doc_id", canonical_url(_planted_raw_url()).alias("canonical_url")
    )
    wu = Window.partitionBy("canonical_url").orderBy("doc_id")
    url_kept = (
        canon.withColumn("urn", F.row_number().over(wu))
        .where(F.col("urn") == 1)
        .select("doc_id")
    )
    s1 = docs.join(url_kept, "doc_id", "left_semi").select("doc_id", "text")
    gk = gopher_doc_quality_filter(spark, sf_dir).select("doc_id", "keep")
    s2 = s1.join(gk.where(F.col("keep") == 1), "doc_id", "left_semi")
    norm = F.trim(
        F.regexp_replace(
            F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " "
        )
    )
    wd = Window.partitionBy(F.md5(norm)).orderBy("doc_id")
    s3 = s2.withColumn("drn", F.row_number().over(wd)).where(F.col("drn") == 1)
    counts = (
        docs.agg(F.count(F.lit(1)).cast("long").alias("docs"))
        .select(F.lit("stage0_input").alias("stage"), "docs")
        .unionByName(
            s1.agg(F.count(F.lit(1)).cast("long").alias("docs")).select(
                F.lit("stage1_url_dedup").alias("stage"), "docs"
            )
        )
        .unionByName(
            s2.agg(F.count(F.lit(1)).cast("long").alias("docs")).select(
                F.lit("stage2_gopher").alias("stage"), "docs"
            )
        )
        .unionByName(
            s3.agg(F.count(F.lit(1)).cast("long").alias("docs")).select(
                F.lit("stage3_exact_dedup").alias("stage"), "docs"
            )
        )
    )
    wlag = Window.orderBy("stage")
    return counts.select(
        "stage",
        "docs",
        rounded_div_col(
            F.col("docs") * F.lit(1_000_000).cast("long"),
            F.coalesce(F.lag("docs").over(wlag), F.col("docs")),
        ).alias("retained_ppm"),
    ).orderBy("stage")


_HX_NORM = "trim(regexp_replace(lower(coalesce(text,'')), '\\s+', ' ', 'g'))"


def _hx_entity_sql(expr: str) -> str:
    from llm_data_pipeline_spark.operators.webclean import HTML_ENTITIES

    out = expr
    for ent, rep in HTML_ENTITIES:
        out = f"replace({out}, '{ent}', '{rep.replace(chr(39), chr(39)*2)}')"
    return out


def _hx_extract_sql(src: str) -> str:
    """DuckDB twin of operators/webclean.py:html_text_extract."""
    t = f"regexp_replace({src}, '(?is)<script[^>]*>.*?</script>', ' ', 'g')"
    t = f"regexp_replace({t}, '(?is)<style[^>]*>.*?</style>', ' ', 'g')"
    t = f"regexp_replace({t}, '(?s)<!--.*?-->', ' ', 'g')"
    t = (
        f"regexp_replace({t}, "
        "'(?i)</(p|div|li|tr|h[1-6]|ul|ol|table|blockquote)>|<br[^>]*>', "
        "chr(10), 'g')"
    )
    t = f"regexp_replace({t}, '(?s)<[^>]*>', ' ', 'g')"
    t = _hx_entity_sql(t)
    return f"trim(regexp_replace({t}, '\\s+', ' ', 'g'))"


@query(
    "html_text_extraction",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_HX_NORM} AS n FROM documents
      WHERE length({_HX_NORM}) >= 40
    ),
    pages AS (
      SELECT doc_id,
             '<html><head><title>Doc ' || doc_id::VARCHAR ||
             '</title><style>p {{color: red}}</style></head><body><p>' ||
             substr(n, 1, 60) ||
             '</p><!-- hidden comment --><script>var x = 1 &lt; 2;</script>'
             || '<div>' || substr(n, 61, 60) ||
             ' costs &lt;b&gt;5 &amp;amp; 6&lt;/b&gt;&nbsp;euro</div>' ||
             '<br></body></html>' AS html
      FROM base
    )
    SELECT doc_id,
           regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1)
             AS title,
           {_hx_extract_sql('html')} AS text
    FROM pages
    ORDER BY doc_id
    """,
    tags=("webclean", "html", "ingest"),
)
def html_text_extraction(spark: SparkSession, sf_dir: str):
    """Raw-HTML text extraction (operators/webclean.py:html_text_extract)
    — the WARC-side ingest step the reference never needed (it consumes
    WET, Common Crawl's pre-extracted text; this closes the raw-HTML
    half). The fixture renders each document into a deterministic HTML
    page exercising every extractor rule — script/style/comment blocks
    that must vanish, block closers that must become whitespace, tags
    that must strip, and entity text ('&lt;b&gt;', '&amp;amp;', '&nbsp;')
    that must decode AFTER stripping so literal '<b>' survives as text.
    Both engines construct the identical page strings and run the
    identical RE2-safe regex chain, so the full extracted TEXT is graded
    character-for-character, not just counts. Zero-shuffle narrow map."""
    from llm_data_pipeline_spark.functions.text import norm_ws
    from llm_data_pipeline_spark.operators.webclean import (
        html_text_extract,
        html_title,
    )

    docs = table(spark, sf_dir, "documents", scatter=True)
    base = docs.select(
        "doc_id", norm_ws(F.col("text")).alias("n")
    ).where(F.length("n") >= 40)
    pages = base.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>Doc "),
            F.col("doc_id").cast("string"),
            F.lit(
                "</title><style>p {color: red}</style></head><body><p>"
            ),
            F.substring("n", 1, 60),
            F.lit(
                "</p><!-- hidden comment --><script>var x = 1 &lt; 2;"
                "</script><div>"
            ),
            F.substring("n", 61, 60),
            F.lit(" costs &lt;b&gt;5 &amp;amp; 6&lt;/b&gt;&nbsp;euro</div>"),
            F.lit("<br></body></html>"),
        ).alias("html"),
    )
    return pages.select(
        "doc_id",
        html_title(F.col("html")).alias("title"),
        html_text_extract(F.col("html")).alias("text"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Robots-meta compliance (noindex/nofollow opt-out at crawl ingest)
# ---------------------------------------------------------------------------

# SQL twins of operators/webclean.py's anchored quad-pattern ('' is the
# embedded single quote): the name value is anchored — quoted forms match
# their closing quote, unquoted requires a delimiter — so robots-PREFIXED
# non-robots meta names (robotstxt, robots-custom) no longer extract.
_RB_NAME_FIRST_SQL = (
    "(?i)<meta[^>]*name\\s*=\\s*(?:\"robots\"|''robots''|robots[\\s/])"
    "[^>]*content\\s*=\\s*[\"'']([^\"'']*)[\"'']"
)
_RB_NAME_FIRST_UNQ_SQL = (
    "(?i)<meta[^>]*name\\s*=\\s*(?:\"robots\"|''robots''|robots[\\s/])"
    "[^>]*content\\s*=\\s*([^\\s\"''>]+)"
)
_RB_CONTENT_FIRST_SQL = (
    "(?i)<meta[^>]*content\\s*=\\s*[\"'']([^\"'']*)[\"'']"
    "[^>]*name\\s*=\\s*(?:\"robots\"|''robots''|robots[\\s/>])"
)
_RB_CONTENT_FIRST_UNQ_SQL = (
    "(?i)<meta[^>]*content\\s*=\\s*([^\\s\"''>]+)"
    "[^>]*name\\s*=\\s*(?:\"robots\"|''robots''|robots[\\s/>])"
)

# doc_id % 7 -> planted meta tag (attribute order, case, absence, the
# valid-HTML unquoted form, AND the robots-PREFIXED non-robots name all
# exercised; 3 of 7 classes are noindex and must be dropped — class 5 is
# only caught by the unquoted-value pattern, class 6 is a noindex tag
# whose name is robotstxt and must be KEPT: extracting it is the round-8
# prefix-match regression the anchored patterns fix)
_RB_META_SQL = """CASE doc_id % 7
        WHEN 0 THEN '<meta name="robots" content="noindex, nofollow">'
        WHEN 1 THEN '<meta name="robots" content="nofollow">'
        WHEN 2 THEN '<meta content="NOINDEX" name="robots">'
        WHEN 3 THEN ''
        WHEN 5 THEN '<meta name=robots content=noindex>'
        WHEN 6 THEN '<meta name="robotstxt" content="noindex">'
        ELSE '<meta name="robots" content="index, follow">' END"""


@query(
    "html_meta_robots_filter",
    oracle=f"""
    WITH pages AS (
      SELECT doc_id,
             '<html><head>' || {_RB_META_SQL} ||
             '<title>d</title></head><body><p>' ||
             substr(coalesce(text, ''), 1, 40) || '</p></body></html>'
               AS html
      FROM documents
    ),
    ext AS (
      SELECT doc_id,
             lower(coalesce(
               nullif(regexp_extract(html, '{_RB_NAME_FIRST_SQL}', 1), ''),
               nullif(regexp_extract(html, '{_RB_NAME_FIRST_UNQ_SQL}', 1), ''),
               nullif(regexp_extract(html, '{_RB_CONTENT_FIRST_SQL}', 1), ''),
               nullif(regexp_extract(html, '{_RB_CONTENT_FIRST_UNQ_SQL}', 1), ''),
               '')) AS robots_directive
      FROM pages
    )
    SELECT doc_id, robots_directive,
           CAST(CASE WHEN robots_directive LIKE '%noindex%'
                THEN 1 ELSE 0 END AS INT) AS noindex,
           CAST(CASE WHEN robots_directive LIKE '%nofollow%'
                THEN 1 ELSE 0 END AS INT) AS nofollow,
           CAST(CASE WHEN robots_directive LIKE '%noindex%'
                THEN 0 ELSE 1 END AS INT) AS kept
    FROM ext
    ORDER BY doc_id
    """,
    tags=("webclean", "html", "governance", "ingest"),
)
def html_meta_robots_filter(spark: SparkSession, sf_dir: str):
    """Robots-meta opt-out compliance at crawl ingest — the page-level
    half of publisher consent (source_optout_propagation carries the
    domain level): extract ``<meta name=robots>`` from raw HTML
    (operators/webclean.py:html_meta_robots — RE2-safe quad-pattern
    extraction, so attribute order, case, AND quoted-vs-unquoted
    attribute values all resolve without lookaround) and drop noindex
    pages BEFORE they enter the corpus, which is when compliance is
    cheap (after training it's a takedown). The fixture plants all seven
    classes — name-first, content-first, uppercase, absent, index-allow,
    the valid-HTML unquoted form <meta name=robots content=noindex>, and
    a robots-PREFIXED non-robots name (<meta name="robotstxt"
    content="noindex">, which must be KEPT — the anchored patterns'
    regression case) — so every pattern, the value anchoring, the
    lowercasing, and the absent default are each load-bearing.
    Zero-shuffle narrow map over the scan."""
    from llm_data_pipeline_spark.operators.webclean import html_meta_robots

    docs = table(spark, sf_dir, "documents", scatter=True)
    meta = (
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit('<meta name="robots" content="noindex, nofollow">'),
        )
        .when(
            F.col("doc_id") % 7 == 1,
            F.lit('<meta name="robots" content="nofollow">'),
        )
        .when(
            F.col("doc_id") % 7 == 2,
            F.lit('<meta content="NOINDEX" name="robots">'),
        )
        .when(F.col("doc_id") % 7 == 3, F.lit(""))
        .when(
            F.col("doc_id") % 7 == 5,
            F.lit("<meta name=robots content=noindex>"),
        )
        .when(
            F.col("doc_id") % 7 == 6,
            F.lit('<meta name="robotstxt" content="noindex">'),
        )
        .otherwise(F.lit('<meta name="robots" content="index, follow">'))
    )
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head>"),
            meta,
            F.lit("<title>d</title></head><body><p>"),
            F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 40),
            F.lit("</p></body></html>"),
        ).alias("html"),
    )
    ext = pages.select(
        "doc_id", html_meta_robots(F.col("html")).alias("robots_directive")
    )
    return ext.select(
        "doc_id",
        "robots_directive",
        F.col("robots_directive").contains("noindex").cast("int").alias(
            "noindex"
        ),
        F.col("robots_directive").contains("nofollow").cast("int").alias(
            "nofollow"
        ),
        (~F.col("robots_directive").contains("noindex")).cast("int").alias(
            "kept"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# robots.txt Disallow compliance (path-prefix rules per domain)
# ---------------------------------------------------------------------------

_RT_HASH_SQL = DUCKDB_HASH60.format(s="('rt-v1:' || domain)")


@query(
    "robots_txt_disallow_filter",
    oracle=f"""
    WITH {_DOMAIN_CTE},
    urls AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
    paths AS (
      SELECT d.doc_id, d.domain,
             regexp_extract(u.url, '^[a-z]+://[^/]+(/[^?#]*)', 1) AS path
      FROM dom d JOIN urls u USING (doc_id)
    ),
    rules AS (
      SELECT domain,
             '/d/' || ({_RT_HASH_SQL} % 10)::VARCHAR AS rule1,
             '/d/' || (({_RT_HASH_SQL} // 10) % 10)::VARCHAR || '0'
               AS rule2
      FROM (SELECT DISTINCT domain FROM paths)
    )
    SELECT p.doc_id, p.domain, p.path,
           CASE WHEN starts_with(p.path, r.rule2) THEN r.rule2
                WHEN starts_with(p.path, r.rule1) THEN r.rule1
                ELSE '' END AS matched_rule,
           CAST(CASE WHEN starts_with(p.path, r.rule1)
                       OR starts_with(p.path, r.rule2)
                THEN 1 ELSE 0 END AS INT) AS blocked
    FROM paths p JOIN rules r USING (domain)
    ORDER BY p.doc_id
    """,
    tags=("webclean", "governance", "ingest", "robots"),
)
def robots_txt_disallow_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt Disallow compliance at crawl ingest — the crawl-side
    half of publisher consent (html_meta_robots_filter is the page-side,
    source_optout_propagation the corpus-side): per registered domain a
    deterministic two-rule Disallow set (path prefixes derived from the
    domain hash, so every domain exercises matching), each URL's path
    checked longest-rule-first (rule2 is strictly longer, so the
    longest-match tie-break of the robots spec is load-bearing in the
    output, not decorative). The rule table is domain-cardinality — at
    100 TB it broadcasts (a few MB for millions of domains) and the check
    is a narrow map over the scan; here the broadcast join is explicit.
    URL/domain synthesis shared with the quota/PageRank family
    (_DOMAIN_CTE / domain_documents)."""
    from llm_data_pipeline_spark.functions.hashing import portable_hash60

    docs = domain_documents(spark, sf_dir)
    paths = docs.select(
        "doc_id",
        "domain",
        F.regexp_extract(F.col("url"), r"^[a-z]+://[^/]+(/[^?#]*)", 1).alias(
            "path"
        ),
    )
    h = portable_hash60(F.concat(F.lit("rt-v1:"), F.col("domain")))
    rules = (
        paths.select("domain")
        .distinct()
        .select("domain", h.alias("_h"))
        .select(
            "domain",
            F.concat(F.lit("/d/"), (F.col("_h") % 10).cast("string")).alias(
                "rule1"
            ),
            F.concat(
                F.lit("/d/"),
                # integer div — h is up to 2^60, double division would
                # lose the low digits this rule reads
                (F.expr("_h div 10") % 10).cast("string"),
                F.lit("0"),
            ).alias("rule2"),
        )
    )
    joined = paths.join(F.broadcast(rules), "domain")
    m1 = F.col("path").startswith(F.col("rule1"))
    m2 = F.col("path").startswith(F.col("rule2"))
    return joined.select(
        "doc_id",
        "domain",
        "path",
        F.when(m2, F.col("rule2"))
        .when(m1, F.col("rule1"))
        .otherwise(F.lit(""))
        .alias("matched_rule"),
        (m1 | m2).cast("int").alias("blocked"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# license-header detection / classification (code-corpus governance)
# ---------------------------------------------------------------------------

# planted header fixture by doc_id % 11 (word-soup corpus carries no
# natural license text, so the fixture provides all seven detector
# classes; classes 7-10 stay headerless and must classify as 'none')
_LIC_HEADERS = [
    "SPDX-License-Identifier: MIT",
    "SPDX-License-Identifier: GPL-3.0-only",
    'Licensed under the Apache License, Version 2.0 (the "License");',
    "This program is free software: you can redistribute it under the"
    " terms of the GNU General Public License",
    "Permission is hereby granted, free of charge, to any person"
    " obtaining a copy of this software",
    "This is free and unencumbered software released into the public"
    " domain",
    "Copyright (c) 2024 Example Corp. All rights reserved.",
]

_SPDX_RE = r"spdx-license-identifier:\s*([a-z0-9.+-]+)"


def _lic_header_sql() -> str:
    whens = "\n".join(
        f"WHEN doc_id % 11 = {i} THEN '{h}' || chr(10)"
        for i, h in enumerate(
            h.replace("'", "''") for h in _LIC_HEADERS
        )
    )
    return f"(CASE {whens} ELSE '' END || coalesce(text, ''))"


# License-cascade pieces of license_header_filter's Spark side (the
# oracle spells the same cascade out in DuckDB SQL).

def license_ft_col():
    """Spark: the prologue-bounded lowered text (needs doc_id, text)."""
    header = F.when(F.lit(False), F.lit(""))
    for i, h in enumerate(_LIC_HEADERS):
        header = header.when(F.col("doc_id") % 11 == i, F.lit(h + "\n"))
    return F.lower(
        F.substring(
            F.concat(
                header.otherwise(F.lit("")), F.coalesce("text", F.lit(""))
            ),
            1,
            400,
        )
    )


def license_id_col(ft):
    """Spark: license_id cascade over the prologue column."""
    spdx = F.regexp_extract(ft, _SPDX_RE, 1)
    return (
        F.when(spdx != "", F.concat(F.lit("spdx:"), spdx))
        .when(ft.rlike("licensed under the apache license"), "apache-2.0")
        .when(ft.rlike("gnu general public license"), "gpl")
        .when(
            ft.rlike("permission is hereby granted, free of charge"), "mit"
        )
        .when(ft.rlike("released into the public domain"), "unlicense")
        .when(ft.rlike("all rights reserved"), "proprietary")
        .otherwise("none")
    )


def license_class_col(lid):
    """Spark: class over a license_id Column."""
    return (
        F.when(lid.startswith("spdx:gpl") | (lid == "gpl"), "copyleft")
        .when(lid == "proprietary", "nonfree")
        .when(lid == "none", "unknown")
        .otherwise("permissive")
    )


@query(
    "license_header_filter",
    oracle=f"""
    WITH full_t AS (
      SELECT doc_id, lower(substr({_lic_header_sql()}, 1, 400)) AS ft
      FROM documents
    ),
    cls AS (
      SELECT doc_id,
        CASE
          WHEN regexp_matches(ft, '{_SPDX_RE}')
            THEN 'spdx:' || regexp_extract(ft, '{_SPDX_RE}', 1)
          WHEN regexp_matches(ft, 'licensed under the apache license')
            THEN 'apache-2.0'
          WHEN regexp_matches(ft, 'gnu general public license')
            THEN 'gpl'
          WHEN regexp_matches(ft,
                 'permission is hereby granted, free of charge')
            THEN 'mit'
          WHEN regexp_matches(ft, 'released into the public domain')
            THEN 'unlicense'
          WHEN regexp_matches(ft, 'all rights reserved')
            THEN 'proprietary'
          ELSE 'none'
        END AS license_id
      FROM full_t
    ),
    labeled AS (
      SELECT license_id,
        CASE
          WHEN license_id LIKE 'spdx:gpl%' OR license_id = 'gpl'
            THEN 'copyleft'
          WHEN license_id = 'proprietary' THEN 'nonfree'
          WHEN license_id = 'none' THEN 'unknown'
          ELSE 'permissive'
        END AS license_class
      FROM cls
    ),
    agg AS (
      SELECT license_id, license_class,
             license_class IN ('permissive', 'unknown') AS kept,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM labeled GROUP BY 1, 2, 3
    )
    SELECT license_id, license_class, kept, n_docs,
           CAST({rounded_div_sql('(n_docs * 1000000)',
                                 'sum(n_docs) OVER ()')} AS BIGINT)
             AS share_ppm
    FROM agg ORDER BY license_id
    """,
    tags=("webclean", "governance", "license", "code"),
)
def license_header_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License-header detection and keep/drop classification — the
    governance gate every code-corpus pipeline runs before training (The
    Stack's permissive-only policy, public): detect the license a file
    declares, classify it permissive / copyleft / nonfree / unknown, and
    keep only what the policy admits (permissive + unlicensed here;
    copyleft and all-rights-reserved drop). Detection precedence mirrors
    the real cascade: a machine-readable SPDX tag wins outright (its
    identifier is extracted, not pattern-guessed), then the canonical
    license phrases (Apache grant, GNU GPL, MIT permission grant,
    public-domain dedication), then the bare copyright-reservation
    notice; no match -> 'none' (most real files).

    The word-soup corpus has no natural license text, so a deterministic
    7-class header fixture is planted by doc_id % 11 (both engines build
    it expression-for-expression — the graded signal is the detector
    cascade, fixture style of c4_line_filter_rewrite); classes 7-10 stay
    headerless and must fall through every regex to 'none'.

    Scale shape: ONE scan of documents(doc_id, text), with every regex
    bounded to the 400-char file prologue (license headers lead the
    file; the detector's cost is O(1) per file, not O(file bytes)); the
    cascade is a single JVM CASE over RE2-safe regexes (no lookaround,
    no Python stages); output is the 8-row (license_id, class, kept)
    census with
    integer-ppm shares — the per-file keep decision itself is the same
    CASE usable as a filter predicate upstream of any other query."""
    from llm_data_pipeline_spark.functions.intmath import rounded_div_col

    docs = table(spark, sf_dir, "documents", scatter=True).select(
        "doc_id", "text"
    )
    # license headers live in the file prologue: bound every regex to
    # the first 400 chars so the cascade's cost is O(1) per file, not
    # O(file bytes) — at 100 TB the detector reads prologues, not blobs
    labeled = docs.select(
        license_id_col(license_ft_col()).alias("license_id")
    ).select(
        "license_id",
        license_class_col(F.col("license_id")).alias("license_class"),
    )
    agg = labeled.groupBy("license_id", "license_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        agg.select(
            "license_id",
            "license_class",
            F.col("license_class")
            .isin("permissive", "unknown")
            .alias("kept"),
            "n_docs",
            rounded_div_col(
                F.col("n_docs") * 1_000_000,
                F.sum("n_docs").over(Window.partitionBy()),
            )
            .cast("long")
            .alias("share_ppm"),
        )
        .coalesce(1)
        .sortWithinPartitions("license_id")
    )
