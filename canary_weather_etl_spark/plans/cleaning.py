"""Corpus-cleaning operators: PII redaction and URL canonicalization —
the two scrubbing passes every web-scale training-data pipeline runs
between raw crawl and dedup (reference scope: the reference's pipeline
cleans and normalizes records before aggregation, README.md "Transform";
these are the text-corpus equivalents, built Spark-first).

The fixture corpus is synthetic word salad with no real PII/URLs, so
each query first CONSTRUCTS its dirty column deterministically from
doc_id/event_id arithmetic — both engines build the identical string,
then the operator under test (regex redaction, parse_url
canonicalization) does real work on real variety (emails on every doc,
a second one on even ids, phones/IPs with per-doc digits; mixed-case
hosts, default ports, tracking params, fragments). The oracle therefore
verifies the CLEANING logic, not the synthesis.

Determinism: all aggregates are integer counts/length sums (order-free);
regex semantics used are the RE2/Java common subset (character classes,
bounded quantifiers, \\b word boundary — no lookaround, no backrefs).

Scale: both queries are row-wise JVM expression pipelines (regexp_*,
parse_url) feeding one grouped aggregate — a single shuffle on a
low-cardinality key at any corpus size; nothing leaves whole-stage
codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import materialize
from .registry import load, register

# --- PII redaction -----------------------------------------------------------

_EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_PAT = r"\+\d{1,2}-\d{3}-\d{4}"
# NOTE on \b portability (the r13 lang-marker finding): Java's \b
# treats non-ASCII letters as word chars while DuckDB/RE2's \b is
# ASCII, so an IP ABUTTING a non-ASCII letter ('é1.2.3.4') redacts in
# the oracle but not the engine. The synthetic PII fixture is ASCII by
# construction, and an IP glued to a letter is malformed input either
# way — documented rather than papered over.
_IP_PAT = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

# Deterministic dirty-text synthesis, shared by both engines: one email
# per doc (domain varies mod 3), a second on even ids, one phone with
# doc-id digits, one private-range IP with doc-id octets.
_PII_SYNTH_SQL = """
    text || ' contact u' || CAST(doc_id AS VARCHAR)
         || '@ex' || CAST(doc_id % 3 AS VARCHAR) || '.com'
         || CASE WHEN doc_id % 2 = 0
                 THEN ' or admin' || CAST(doc_id AS VARCHAR) || '@corp.net'
                 ELSE '' END
         || ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
         || CAST((doc_id // 256) % 256 AS VARCHAR) || '.7'
"""

_PII_ORACLE = f"""
    WITH raw AS (
        SELECT source,
               {_PII_SYNTH_SQL} AS dirty
        FROM documents
    ),
    red AS (
        SELECT source, dirty,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(dirty, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                       '{_PHONE_PAT}', '<PHONE>', 'g'),
                   '{_IP_PAT}', '<IP>', 'g') AS clean,
               length(regexp_extract_all(dirty, '{_EMAIL_PAT}')) AS n_email,
               length(regexp_extract_all(dirty, '{_PHONE_PAT}')) AS n_phone,
               length(regexp_extract_all(dirty, '{_IP_PAT}')) AS n_ip
        FROM raw
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_email) AS BIGINT) AS emails,
           CAST(SUM(n_phone) AS BIGINT) AS phones,
           CAST(SUM(n_ip) AS BIGINT) AS ips,
           CAST(SUM(length(dirty) - length(clean)) AS BIGINT)
               AS chars_removed
    FROM red
    GROUP BY source
"""


@register(
    "q_pii_redact",
    oracle=_PII_ORACLE,
    doc="PII redaction audit: regex-scrub emails, phone numbers, and "
        "IPv4 addresses to typed placeholders and report per-source "
        "redaction counts + characters removed — the scrubbing pass "
        "between raw crawl and dedup, with the audit table a compliance "
        "review needs. The fixture corpus has no real PII, so the dirty "
        "column is synthesized deterministically from doc_id on BOTH "
        "engines (emails on every doc + a second on even ids, phones/IPs "
        "with per-doc digits); the oracle verifies the redaction regexes "
        "and the audit arithmetic, not the synthesis. Row-wise JVM "
        "regexp_replace/regexp_count feeding one grouped integer "
        "aggregate — one shuffle at any scale, patterns in the RE2/Java "
        "common subset.",
    tags=("llm", "cleaning"),
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    dirty = (
        F.concat(
            F.col("text"),
            F.lit(" contact u"), F.col("doc_id").cast("string"),
            F.lit("@ex"), (F.col("doc_id") % 3).cast("string"),
            F.lit(".com"),
            F.when(F.col("doc_id") % 2 == 0,
                   F.concat(F.lit(" or admin"),
                            F.col("doc_id").cast("string"),
                            F.lit("@corp.net"))).otherwise(F.lit("")),
            F.lit(" call +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10."), (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") / 256).cast("bigint") % 256).cast("string"),
            F.lit(".7")))
    red = d.select(
        "source", dirty.alias("dirty"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(dirty, _EMAIL_PAT, "<EMAIL>"),
                _PHONE_PAT, "<PHONE>"),
            _IP_PAT, "<IP>").alias("clean"),
        F.regexp_count(dirty, F.lit(_EMAIL_PAT)).alias("n_email"),
        F.regexp_count(dirty, F.lit(_PHONE_PAT)).alias("n_phone"),
        F.regexp_count(dirty, F.lit(_IP_PAT)).alias("n_ip"))
    return (red.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_email").alias("emails"),
                 F.sum("n_phone").alias("phones"),
                 F.sum("n_ip").alias("ips"),
                 F.sum(F.length("dirty") - F.length("clean"))
                  .alias("chars_removed")))


# --- URL canonicalization ----------------------------------------------------

# Deterministic dirty-URL synthesis from event arithmetic: mixed-case
# scheme/host, www. prefix, default :443 port, tracking params
# (utm_source, ref) around the load-bearing id param, and a fragment.
_URL_SYNTH_SQL = """
    'HTTPS://WWW.host' || CAST(user_id % 40 AS VARCHAR)
        || '.Example.COM:443/path/' || CAST(event_id % 97 AS VARCHAR)
        || '/page?utm_source=feed&id=' || CAST(event_id % 13 AS VARCHAR)
        || '&ref=' || CAST(user_id % 5 AS VARCHAR)
        || '#sec' || CAST(event_id % 3 AS VARCHAR)
"""

_URL_ORACLE = f"""
    WITH raw AS (
        SELECT event_id, user_id, {_URL_SYNTH_SQL} AS url FROM events
    ),
    canon AS (
        SELECT regexp_replace(
                   lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1)),
                   '^www\\.', '') AS host,
               regexp_extract(url, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1)
                   AS path,
               regexp_extract(url, '[?&]id=([0-9]+)', 1) AS id_param
        FROM raw
    )
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT path || '?id=' || id_param) AS BIGINT)
               AS n_canonical,
           CAST(SUM(CAST(id_param AS BIGINT)) AS BIGINT) AS id_sum
    FROM canon
    GROUP BY host
"""


@register(
    "q_url_canonicalize",
    oracle=_URL_ORACLE,
    doc="URL canonicalization + host-level rollup: lowercase the host, "
        "strip the www. prefix and default port, drop the fragment and "
        "tracking params (utm_*, ref) while keeping the load-bearing id "
        "param, then aggregate per canonical host (url count, distinct "
        "canonical pages, id checksum) — the normalization that makes "
        "crawl dedup and per-domain quotas possible (without it every "
        "tracking-param variant counts as a distinct page). Spark side "
        "uses the native parse_url expression (HOST/PATH/QUERY:key "
        "extraction, port-free host); the oracle reproduces it with RE2 "
        "regexes. Dirty URLs are synthesized deterministically from "
        "event arithmetic on BOTH engines; row-wise JVM expressions, one "
        "grouped shuffle at any scale.",
    tags=("llm", "cleaning"),
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    url = F.concat(
        F.lit("HTTPS://WWW.host"), (F.col("user_id") % 40).cast("string"),
        F.lit(".Example.COM:443/path/"),
        (F.col("event_id") % 97).cast("string"),
        F.lit("/page?utm_source=feed&id="),
        (F.col("event_id") % 13).cast("string"),
        F.lit("&ref="), (F.col("user_id") % 5).cast("string"),
        F.lit("#sec"), (F.col("event_id") % 3).cast("string"))
    canon = e.select(
        F.regexp_replace(F.lower(F.parse_url(url, F.lit("HOST"))),
                         r"^www\.", "").alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("id")).alias("id_param"))
    return (canon.groupBy("host")
            .agg(F.count(F.lit(1)).alias("n_urls"),
                 F.countDistinct(
                     F.concat(F.col("path"), F.lit("?id="),
                              F.col("id_param"))).alias("n_canonical"),
                 F.sum(F.col("id_param").cast("bigint")).alias("id_sum")))


# --- boilerplate line removal ------------------------------------------------

# Deterministic dirty-document synthesis: every doc gains a newsletter
# footer and a copyright line (always boilerplate), doc_id%2 gates a
# social line and doc_id%4 a promo line (ids correlate with source, so
# per source these land above, at, or below the 50% threshold), and
# every doc keeps one unique line.
_BOILER_SYNTH_SQL = """
    text || chr(10) || 'subscribe to ' || source || ' newsletter'
         || chr(10) || 'doc ' || CAST(doc_id AS VARCHAR) || ' unique line'
         || CASE WHEN doc_id % 2 = 0
                 THEN chr(10) || 'follow ' || source || ' on social'
                 ELSE '' END
         || CASE WHEN doc_id % 4 = 0
                 THEN chr(10) || 'promo from ' || source
                 ELSE '' END
         || chr(10) || '(c) ' || source || ' all rights reserved'
"""

_BOILER_ORACLE = f"""
    WITH raw AS (
        SELECT doc_id, source, {_BOILER_SYNTH_SQL} AS dirty
        FROM documents
    ),
    lines AS (
        SELECT doc_id, source,
               unnest(string_split(dirty, chr(10))) AS line
        FROM raw
    ),
    srcn AS (
        SELECT source, COUNT(DISTINCT doc_id) AS n_docs
        FROM lines GROUP BY source
    ),
    freq AS (
        SELECT source, line, COUNT(DISTINCT doc_id) AS cnt
        FROM lines GROUP BY source, line
    ),
    boiler AS (
        SELECT f.source, f.line
        FROM freq f JOIN srcn s ON f.source = s.source
        WHERE 2 * f.cnt >= s.n_docs
    ),
    removed AS (
        SELECT l.source, l.line
        FROM lines l JOIN boiler b
          ON l.source = b.source AND l.line = b.line
    )
    SELECT r.source,
           CAST(MAX(s.n_docs) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT r.line) AS BIGINT) AS n_boiler_lines,
           CAST(COUNT(*) AS BIGINT) AS n_boiler_occurrences,
           CAST(SUM(LENGTH(r.line) + 1) AS BIGINT) AS chars_removed
    FROM removed r JOIN srcn s ON r.source = s.source
    GROUP BY r.source
"""


@register(
    "q_boilerplate_strip",
    oracle=_BOILER_ORACLE,
    doc="Boilerplate line removal (CCNet-style line-frequency dedup): a "
        "line appearing in >=50% of a source's documents is boilerplate "
        "(footers, copyright, social banners) and is stripped; the audit "
        "reports per-source distinct boilerplate lines, occurrences, and "
        "characters removed. The synthesized corpus plants two always-"
        "boilerplate lines, two parity-gated lines (doc_id%2 / doc_id%4 "
        "— doc ids correlate with source, so per source these land "
        "above, at, or below the 50% threshold: sources catch 2, 3, or "
        "4 lines), and a unique line per doc — the threshold semantics "
        "are actually exercised in both directions. Scale shape: explode to "
        "(source, line, doc) — two grouped aggregates on (source, line) "
        "— a broadcast-sized boilerplate set joined back; per-source "
        "line frequency is THE standard web-corpus cleaning pass and "
        "everything here is one shuffle key family (source, line).",
    tags=("llm", "cleaning"),
)
def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    nl = F.lit("\n")
    dirty = F.concat(
        F.col("text"),
        nl, F.lit("subscribe to "), F.col("source"), F.lit(" newsletter"),
        nl, F.lit("doc "), F.col("doc_id").cast("string"),
        F.lit(" unique line"),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(nl, F.lit("follow "), F.col("source"),
                        F.lit(" on social"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(nl, F.lit("promo from "), F.col("source")))
         .otherwise(F.lit("")),
        nl, F.lit("(c) "), F.col("source"), F.lit(" all rights reserved"))
    lines = (d.select("doc_id", "source",
                      F.explode(F.split(dirty, "\n")).alias("line"))
             .transform(materialize))
    srcn = lines.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"))
    freq = lines.groupBy("source", "line").agg(
        F.countDistinct("doc_id").alias("cnt"))
    boiler = (freq.join(srcn, "source")
              .filter(2 * F.col("cnt") >= F.col("n_docs"))
              .select("source", "line"))
    removed = lines.join(F.broadcast(boiler), ["source", "line"])
    return (removed.join(srcn, "source")
            .groupBy("source")
            .agg(F.max("n_docs").alias("n_docs"),
                 F.countDistinct("line").alias("n_boiler_lines"),
                 F.count(F.lit(1)).alias("n_boiler_occurrences"),
                 F.sum(F.length("line") + 1).alias("chars_removed")))
