package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Corpus-maintenance operators: CDC-style upsert of a document batch
  * into a corpus, and PII redaction — the mutation/compliance side of a
  * training-data pipeline (the read side lives in DedupOps/TextOps).
  *
  * Library surface: `DataFrame => DataFrame`; registry entries adapt the
  * fixture `documents` table (synthesizing a deterministic update batch /
  * PII spans, since the fixtures are read-only and PII-free).
  */
object CorpusOps {
  type QFn = (SparkSession, String) => DataFrame

  /** Merge an `updates` batch into `corpus` by `key`: updated rows
    * replace, new keys append — the dataframe form of MERGE INTO (upsert).
    *
    * Scale shape: one shuffle of both sides on the key for the anti-join;
    * when the batch is small (the CDC norm) AQE broadcasts the key set and
    * the corpus side never moves. Columns are taken from `updates`'
    * schema via `unionByName`, so both frames must share it. At 100 TB the
    * anti-join rewrite is exactly what table formats execute for
    * MERGE INTO — with the refinement of pruning untouched files by the
    * batch's key range; partition the corpus by the upsert key's prefix to
    * get the same pruning here. */
  def upsert(corpus: DataFrame, updates: DataFrame, key: String): DataFrame =
    updates.unionByName(
      corpus.join(updates.select(key).distinct(), Seq(key), "left_anti"))

  /** q32 — upsert audit over a deterministic synthetic batch: every 50th
    * doc re-ingested with new text, every 100th arriving as a brand-new
    * doc (key offset +1000000). Output: per-source row counts by row fate
    * (kept / updated / new) + total chars, proving replaced rows are gone,
    * new rows landed, and nothing else moved. */
  def upsertAudit(docs: DataFrame): DataFrame = {
    val corpus = docs.select(col("doc_id"), col("text"), col("source"))
    val updates = corpus.filter(col("doc_id") % 50 === 0)
      .withColumn("text", concat(lit("updated: "), col("text")))
      .unionByName(
        corpus.filter(col("doc_id") % 100 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("new doc "), col("doc_id").cast("string")).as("text"),
            col("source")))
    upsert(corpus, updates, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("text").startsWith("updated: "), 1)).as("n_updated"),
        count(when(col("doc_id") >= 1000000L, 1)).as("n_new"),
        sum(length(col("text"))).as("sum_chars"))
      .orderBy("source")
  }
  val q32UpsertSql: String =
    """WITH corpus AS (SELECT doc_id, text, source FROM documents),
      |upd AS (
      |  SELECT doc_id, 'updated: ' || text AS text, source FROM corpus
      |  WHERE doc_id % 50 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, 'new doc ' || CAST(doc_id AS VARCHAR), source
      |  FROM corpus WHERE doc_id % 100 = 0),
      |mrg AS (
      |  SELECT * FROM upd
      |  UNION ALL
      |  SELECT c.* FROM corpus c ANTI JOIN upd u ON c.doc_id = u.doc_id)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN text LIKE 'updated: %' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_updated,
      |  CAST(sum(CASE WHEN doc_id >= 1000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_new,
      |  CAST(sum(length(text)) AS BIGINT) AS sum_chars
      |FROM mrg GROUP BY source ORDER BY source""".stripMargin

  /** PII patterns: (marker, regex). The regexes stay inside RE2/Java's
    * common subset (no backrefs/lookaround) so the same pattern runs in
    * both engines — and, at scale, inside codegen'd `regexp_replace`, not
    * a UDF. Order matters: emails first (their local part may contain
    * digit runs), then IPs (dotted digits), then bare phone runs. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[EMAIL]" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "[IP]" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "[PHONE]" -> "\\b\\d{3}-\\d{4}\\b")

  /** Replace every PII span in `c` with its class marker. */
  def redactPii(c: Column): Column =
    piiPatterns.foldLeft(c) { case (acc, (marker, re)) =>
      regexp_replace(acc, re, marker)
    }

  /** Count non-overlapping occurrences of literal `marker` in `c` —
    * split on the (regex-escaped) literal and count the gaps. */
  private def markerCount(c: Column, marker: String): Column =
    size(split(c, java.util.regex.Pattern.quote(marker), -1)) - 1

  /** q33 — PII redaction audit. The fixtures are PII-free, so each doc
    * first gets a deterministic synthetic contact line (email + phone +
    * IP derived from doc_id); redaction then strips it. Output: per-source
    * marker counts, redacted char totals, and a residual-PII count the
    * oracle pins at zero — the compliance check a real pipeline would
    * alert on. */
  def piiRedactAudit(docs: DataFrame): DataFrame = {
    val withPii = Tables.fanout(docs.select(col("doc_id"), col("source"),
      concat(col("text"),
        lit(" contact u"), col("doc_id"), lit("@example.com or 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 254) + 1, lit(".0.1"))
        .as("text")))
    val redacted = withPii.withColumn("text", redactPii(col("text")))
    redacted
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(markerCount(col("text"), "[EMAIL]")).as("n_emails"),
        sum(markerCount(col("text"), "[PHONE]")).as("n_phones"),
        sum(markerCount(col("text"), "[IP]")).as("n_ips"),
        sum(length(col("text"))).as("sum_chars"),
        count(when(piiPatterns.map(p => col("text").rlike(p._2))
          .reduce(_ || _), 1)).as("n_residual"))
      .orderBy("source")
  }
  val q33PiiSql: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phone = "\\b\\d{3}-\\d{4}\\b"
    s"""WITH raw AS (
       |  SELECT doc_id, source,
       |    text || ' contact u' || CAST(doc_id AS VARCHAR) ||
       |    '@example.com or 555-' ||
       |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
       |    ' from 10.' || CAST(doc_id % 254 + 1 AS VARCHAR) || '.0.1' AS text
       |  FROM documents),
       |red AS (
       |  SELECT doc_id, source,
       |    regexp_replace(regexp_replace(regexp_replace(text,
       |      '$email', '[EMAIL]', 'g'),
       |      '$ip', '[IP]', 'g'),
       |      '$phone', '[PHONE]', 'g') AS text
       |  FROM raw)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(len(string_split(text, '[EMAIL]')) - 1) AS BIGINT) AS n_emails,
       |  CAST(sum(len(string_split(text, '[PHONE]')) - 1) AS BIGINT) AS n_phones,
       |  CAST(sum(len(string_split(text, '[IP]')) - 1) AS BIGINT) AS n_ips,
       |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       |  CAST(sum(CASE WHEN regexp_matches(text, '$email')
       |    OR regexp_matches(text, '$ip')
       |    OR regexp_matches(text, '$phone') THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_residual
       |FROM red GROUP BY source ORDER BY source""".stripMargin
  }

  private def onDocs(f: DataFrame => DataFrame): QFn =
    (s, d) => f(Tables.documents(s, d))

  // ------------------------------------------------------------------
  // q169 — per-source data report card
  // ------------------------------------------------------------------

  /** q169 — the per-source report card a curation run files before
    * mixing: document and token counts, mean quality, near-dup share
    * (docs that lose to a keeper), and language spread — the one table
    * a data owner reviews to decide a source's mixture weight and to
    * spot the source whose volume is mostly duplicates. Composes
    * frames the q25/q23 operators already audit; nothing new is
    * invented, which is the point — a "data card" is a VIEW over
    * measurements the pipeline already trusts.
    *
    * Scale shape: one scan for the per-source base stats (token sizes
    * ride the projection), one model-scale join of the quality frame,
    * and the shared q23 pair stage + CC for the dup arm; all three
    * collapse to |sources| rows before the final joins. */
  def sourceReportCard(docs: DataFrame): DataFrame =
    sourceReportCardWith(docs, DedupOps.dedupKeeper(docs))

  /** The q169 report-card ARM under a precomputed (possibly STORED)
    * keeper table — the q164 pattern: the CC fixture persists once,
    * the card itself is one stats scan plus |sources|-row joins
    * (measured alone in BASELINE §x). */
  def sourceReportCardWith(docs: DataFrame, keepers: DataFrame)
      : DataFrame = {
    val base = Tables.fanout(docs)
      .select(col("source"), col("lang"),
        size(graft.llm.Text.tokens(col("text"))).cast("long").as("_nt"),
        graft.llm.TextOps.qualityExpr.as("_q"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("sum_tokens"),
        round(avg(col("_q")), 4).as("avg_quality"),
        countDistinct(col("lang")).as("n_langs"))
    val dup = keepers
      .filter(col("keeper") =!= col("doc_id"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source")).agg(count(lit(1)).as("dup_docs"))
    base.join(dup, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("sum_tokens"),
        col("avg_quality"),
        coalesce(col("dup_docs"), lit(0L)).as("dup_docs"),
        round(coalesce(col("dup_docs"), lit(0L)) / col("n_docs")
          + lit(1e-9), 4).as("dup_share"),
        col("n_langs"))
      .orderBy(col("source"))
  }

  val sourceReportCardSql: String =
    s"""WITH RECURSIVE ${DedupOps.keeperPairsCte},
       |np AS (
       |  SELECT d1, d2 FROM pairs
       |  WHERE inter / (n1 + n2 - inter) >= ${DedupOps.JaccardThresholdSql}),
       |edges AS (SELECT d1 AS src, d2 AS dst FROM np
       |  UNION ALL SELECT d2, d1 FROM np),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |cc AS (SELECT src AS doc_id, least(src, min(dst)) AS keeper
       |  FROM reach GROUP BY src),
       |dup AS (SELECT d.source, count(*) AS dup_docs
       |  FROM cc JOIN documents d ON d.doc_id = cc.doc_id
       |  WHERE cc.keeper <> cc.doc_id GROUP BY 1),
       |qual AS (SELECT * FROM (${graft.llm.TextOps.qualityScoreSql})),
       |base AS (SELECT d.source,
       |    count(*) AS n_docs,
       |    CAST(sum(len(${graft.llm.Text.tokensSql("d.text")})) AS BIGINT)
       |      AS sum_tokens,
       |    round(avg(q.quality), 4) AS avg_quality,
       |    CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs
       |  FROM documents d JOIN qual q ON q.doc_id = d.doc_id GROUP BY 1)
       |SELECT b.source, b.n_docs, b.sum_tokens, b.avg_quality,
       |  CAST(coalesce(dup.dup_docs, 0) AS BIGINT) AS dup_docs,
       |  round(coalesce(dup.dup_docs, 0) / b.n_docs + 1e-9, 4)
       |    AS dup_share,
       |  b.n_langs
       |FROM base b LEFT JOIN dup ON dup.source = b.source
       |ORDER BY b.source""".stripMargin

  private def eager(reason: String)(f: QFn): QFn =
    graft.core.EagerByDesign(reason)(f)

  // ------------------------------------------------------------------
  // q175 — HTML main-text extraction (the first stage of a web corpus)
  // ------------------------------------------------------------------

  /** Strip an HTML payload down to its text: script/style blocks drop
    * WHOLE (content included), remaining tags become block-separating
    * spaces, entities decode (`&amp;` LAST, so a double-escaped
    * `&amp;lt;` correctly yields the literal text "&lt;" rather than
    * "<" — the classic decode-order bug, pinned in Round18cOpsSpec),
    * whitespace collapses. Pure per-row regexp projection — codegen'd,
    * no shuffle, composes in front of [[graft.app.PipelineApp]]'s
    * normalize stage; real-world HTML would add (?i) and a fuller
    * entity table, the structure is what ships here. */
  def htmlExtract(c: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(c, "(?s)<script[^>]*>.*?</script>", " "),
      "(?s)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]+>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (col0, (ent, ch)) =>
        regexp_replace(col0, ent, ch) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** The deterministic HTML wrapper the registry fixture synthesizes
    * around each document (the q33 synthetic-PII precedent — the
    * fixtures are plain text, so the markup is built in-query and both
    * engines wrap identically): head with title/style/script noise, a
    * nav bar, a heading, the body text, and an entity gauntlet
    * including the double-escape case. */
  def htmlWrap(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      length(col("text")).as("body_chars"),
      concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title><style>body { margin: 0; }</style>" +
          "<script>var trackingId = "), col("doc_id"),
        lit(";</script></head><body><nav><a href=\"/\">Home</a> | " +
          "<a href=\"/about\">About</a></nav><h1>Doc "), col("doc_id"),
        lit("</h1><p>"), col("text"),
        lit("</p><p>A &amp; B, 1 &lt; 2, say &quot;hi&quot; " +
          "&#39;s&nbsp;end, literal &amp;lt; stays.</p>" +
          "</body></html>")).as("html"))

  /** q175 — extraction audit over the wrapped corpus: per source, doc
    * count, raw vs extracted char volume, the markup share removed,
    * how many extractions still contain a live tag (must be 0), and
    * how many preserved their body text verbatim (must be all — the
    * wrapper puts the document in one <p>). */
  def htmlExtractAudit(docs: DataFrame): DataFrame = {
    val ex = Tables.fanout(htmlWrap(docs))
      .withColumn("etext", htmlExtract(col("html")))
    ex.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("html"))).as("sum_html_chars"),
        sum(length(col("etext"))).as("sum_text_chars"),
        round(lit(1.0) - sum(length(col("etext"))).cast("double")
          / sum(length(col("html"))) + lit(1e-9), 4).as("markup_share"),
        sum(when(col("etext").rlike("<[a-zA-Z][^>]*>"), 1L)
          .otherwise(0L)).as("n_residual_tags"),
        sum(when(instr(col("etext"), "Home | About") > 0 &&
          instr(col("etext"), "literal &lt; stays") > 0, 1L)
          .otherwise(0L)).as("n_decode_ok"))
      .orderBy("source")
  }

  val htmlExtractSql: String =
    s"""WITH wrapped AS (SELECT doc_id, source,
       |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
       |    '</title><style>body { margin: 0; }</style>' ||
       |    '<script>var trackingId = ' || CAST(doc_id AS VARCHAR) ||
       |    ';</script></head><body><nav><a href="/">Home</a> | ' ||
       |    '<a href="/about">About</a></nav><h1>Doc ' ||
       |    CAST(doc_id AS VARCHAR) || '</h1><p>' || text ||
       |    '</p><p>A &amp; B, 1 &lt; 2, say &quot;hi&quot; ' ||
       |    '&#39;s&nbsp;end, literal &amp;lt; stays.</p>' ||
       |    '</body></html>' AS html
       |  FROM documents),
       |ex AS (SELECT doc_id, source, html,
       |    trim(regexp_replace(
       |      regexp_replace(regexp_replace(regexp_replace(
       |      regexp_replace(regexp_replace(regexp_replace(
       |      regexp_replace(regexp_replace(
       |        regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' ',
       |          'g'),
       |        '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
       |      '<[^>]+>', ' ', 'g'),
       |      '&lt;', '<', 'g'), '&gt;', '>', 'g'),
       |      '&quot;', '"', 'g'), '&#39;', chr(39), 'g'),
       |      '&nbsp;', ' ', 'g'), '&amp;', '&', 'g'),
       |      '\\s+', ' ', 'g')) AS etext
       |  FROM wrapped)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(length(html)) AS BIGINT) AS sum_html_chars,
       |  CAST(sum(length(etext)) AS BIGINT) AS sum_text_chars,
       |  round(1.0 - sum(length(etext)) / CAST(sum(length(html)) AS DOUBLE)
       |    + 1e-9, 4) AS markup_share,
       |  CAST(sum(CASE WHEN regexp_matches(etext, '<[a-zA-Z][^>]*>')
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_residual_tags,
       |  CAST(sum(CASE WHEN position('Home | About' IN etext) > 0
       |    AND position('literal &lt; stays' IN etext) > 0
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_decode_ok
       |FROM ex GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------------
  // q178 — URL canonicalization + domain rollup
  // ------------------------------------------------------------------

  /** Canonicalize a URL for dedup/provenance keys: lowercase the
    * scheme+authority (path stays case-sensitive per RFC 3986), drop
    * the fragment, drop tracking params (utm_*, gclid, fbclid) with
    * separator tidy-up, drop default ports (:80 http / :443 https) —
    * the normalizations every crawl dedup applies before URL-keyed
    * grouping, as a pure regexp projection. */
  def canonicalizeUrl(c: Column): Column = {
    val lowered = concat(
      lower(regexp_extract(c, "^([a-zA-Z]+://[^/?#]+)", 1)),
      regexp_replace(c, "^[a-zA-Z]+://[^/?#]+", ""))
    val noFrag = regexp_replace(lowered, "#.*$", "")
    val noTrack0 = regexp_replace(noFrag,
      "(utm_[a-z]+|gclid|fbclid)=[^&#]*&?", "")
    // tidy separators the param removal leaves behind: "?&" → "?",
    // then a trailing "?" or "&" drops
    val tidied = regexp_replace(
      regexp_replace(noTrack0, "\\?&", "?"), "[?&]$", "")
    regexp_replace(tidied, "^(https?://[^/:]+):(?:80|443)(/|$)", "$1$2")
  }

  /** The deterministic URL the registry fixture synthesizes per doc
    * (the q175/q33 precedent): mixed-case authority, default port,
    * tracking params interleaved with a real one, and a fragment —
    * every normalization fires on every row. */
  def urlWrap(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      concat(lit("HTTPS://WWW.Site"), col("doc_id") % 50,
        lit(".Example.com:443/Path/"), col("doc_id"),
        lit("?utm_source=feed&id="), col("doc_id"),
        lit("&utm_campaign=x#section-2")).as("url"))

  /** q178 — canonicalization audit over the wrapped corpus: per
    * source, URL count, how many changed under canonicalization (must
    * be all — the fixture makes every rule fire), distinct canonical
    * domains, and how many canonical URLs still carry a tracking
    * param or fragment (must be 0). */
  def urlCanonicalAudit(docs: DataFrame): DataFrame = {
    val u = Tables.fanout(urlWrap(docs))
      .withColumn("curl", canonicalizeUrl(col("url")))
      .withColumn("domain",
        regexp_extract(col("curl"), "^https?://([^/:]+)", 1))
    u.groupBy(col("source"))
      .agg(count(lit(1)).as("n_urls"),
        sum(when(col("curl") =!= col("url"), 1L).otherwise(0L))
          .as("n_changed"),
        countDistinct(col("domain")).as("n_domains"),
        sum(when(col("curl").rlike("utm_|gclid|fbclid|#"), 1L)
          .otherwise(0L)).as("n_residual"))
      .orderBy("source")
  }

  val urlCanonicalSql: String =
    s"""WITH wrapped AS (SELECT doc_id, source,
       |    'HTTPS://WWW.Site' || CAST(doc_id % 50 AS VARCHAR) ||
       |    '.Example.com:443/Path/' || CAST(doc_id AS VARCHAR) ||
       |    '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) ||
       |    '&utm_campaign=x#section-2' AS url
       |  FROM documents),
       |canon AS (SELECT doc_id, source, url,
       |    regexp_replace(
       |      regexp_replace(regexp_replace(
       |        regexp_replace(regexp_replace(
       |          lower(regexp_extract(url, '^([a-zA-Z]+://[^/?#]+)', 1))
       |            || regexp_replace(url, '^[a-zA-Z]+://[^/?#]+', ''),
       |          '#.*$$', ''),
       |        '(utm_[a-z]+|gclid|fbclid)=[^&#]*&?', '', 'g'),
       |      '\\?&', '?'), '[?&]$$', ''),
       |    '^(https?://[^/:]+):(80|443)(/|$$)', '\\1\\3') AS curl
       |  FROM wrapped),
       |d AS (SELECT source, url, curl,
       |    regexp_extract(curl, '^https?://([^/:]+)', 1) AS domain
       |  FROM canon)
       |SELECT source, count(*) AS n_urls,
       |  CAST(sum(CASE WHEN curl <> url THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_changed,
       |  CAST(count(DISTINCT domain) AS BIGINT) AS n_domains,
       |  CAST(sum(CASE WHEN regexp_matches(curl, 'utm_|gclid|fbclid|#')
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_residual
       |FROM d GROUP BY source ORDER BY source""".stripMargin

  val all: Seq[(String, QFn, Option[String])] = Seq(
    ("q175_html_extract", onDocs(htmlExtractAudit),
      Some(htmlExtractSql)),
    ("q178_url_canonical", onDocs(urlCanonicalAudit),
      Some(urlCanonicalSql)),
    ("q32_upsert_merge", onDocs(upsertAudit), Some(q32UpsertSql)),
    ("q33_pii_redact", onDocs(piiRedactAudit), Some(q33PiiSql)),
    ("q169_source_report_card",
      eager("the dup arm composes the eager-localCheckpoint CC fixpoint")(
        onDocs(sourceReportCard)),
      Some(sourceReportCardSql)))
}
