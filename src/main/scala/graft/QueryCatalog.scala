package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.GraftFunctions
import graft.functions.GraftFunctions._
import graft.operators._
import graft.sources.LedgerFixtures

/** The operator inventory of SURVEY.md §2, expressed as oracle-checkable
  * queries over the driver's synthetic tables (`TESTDATA.md`).
  *
  * Every entry couples the Spark implementation (delegating to the real
  * operators in `graft.operators`) with equivalent DuckDB SQL. Both sides
  * ORDER BY a deterministic key and emit only exactly-reproducible types
  * (BIGINT / DOUBLE via single correctly-rounded ops / VARCHAR / BOOLEAN /
  * arrays thereof) so value hashes match bit-for-bit.
  *
  * Floating-point policy: sums over bounded-decimal doubles (prices,
  * event values) run on EXACT integers (round-to-BIGINT per row, one
  * final division) — a double→DECIMAL cast boundary is engine-dependent
  * and drifts at large row counts. Per-row double arithmetic (one
  * correctly-rounded op chain) is emitted directly; everything else is
  * integer/string.
  */
object QueryCatalog {

  final case class Q(
      name: String,
      oracle: Option[String],
      fn: (SparkSession, String) => DataFrame)

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    LedgerFixtures.table(s, dir, name)

  /** Redistribute a LEAF scan to session parallelism IFF it yields fewer
    * partitions than cores (r21, guide §2.5 input skew): a
    * single-row-group parquet scan is ONE task, serializing every
    * map-only kernel upstream of the first exchange onto one core of the
    * session. A no-op branch at production scale, where scans carry
    * ≥ cores partitions — partition counts come from the frame's plan,
    * not tuned constants — and cheap to probe ONLY because the frame is
    * a leaf scan with no upstream stages (`.rdd` on a post-shuffle frame
    * executes its AQE stages; see the measured rejection note in
    * Classifier). Applied per measured site, not blanket: the exchange
    * plus 32-task scheduling of every downstream stage costs ~0.2 s, so
    * it only pays where the single-task kernel work exceeds that
    * (the v8 front REGRESSED under it — note kept at its site). */
  private def parLeaf(s: SparkSession, df: DataFrame): DataFrame = {
    val t = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < t) df.repartition(t) else df
  }

  private def ev(s: SparkSession, dir: String): DataFrame =
    LedgerFixtures.events(s, dir)

  private val txBase = LedgerFixtures.txBaseSql

  /** REAL-XDR datastore batch-file tree (zstd LedgerCloseMetaBatch, the
    * reference's backfill substrate) with post-protocol-20 soroban txs —
    * affine laws in [[graft.sources.RealXdrFixture]]. */
  private lazy val xdrBatchDir: String = {
    val d = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-xdrbatch-${ProcessHandle.current().pid()}")
    graft.sources.RealXdrFixture.writeBatchTree(d.getAbsolutePath, 3000, 3127)
    d.getAbsolutePath
  }

  /** Classic-era REAL-XDR tree: liquidity-pool deposit/withdraw with full
    * constant-product STATE/UPDATED pairs and claimable-balance
    * create/claim with the ext-v1 clawback flag — the wire arms the
    * published golden corpus never reaches. */
  private lazy val classicXdrDir: String = {
    val d = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-xdrclassic-${ProcessHandle.current().pid()}")
    graft.sources.RealXdrFixture.writeClassicBatchTree(
      d.getAbsolutePath, 3300, 3331)
    d.getAbsolutePath
  }

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** DuckDB SQL re-derivation of strkey (`base32(version ‖ payload ‖
    * crc16-le)`, no padding) as ONE scalar expression over a hex-string
    * column — so the oracle checks the engine's G/M/C/L/B address
    * rendering law-by-law instead of via golden VALUES or dropped
    * columns. Intermediate values are bound with single-element
    * `list_transform` lambdas (a let-binding); the CRC16-XModem fold is a
    * nested `list_reduce` (poly 0x1021, init 0, LE append) and the
    * unpadded base32 reads 5-bit windows straight off the byte list.
    * `idExpr` appends the big-endian uint64 muxed id (the M-address
    * payload, `transaction.go:61-77`). */
  private def strkeySql(hexExpr: String, version: Int,
      idExpr: Option[String] = None): String = {
    val hexBytes =
      """list_transform(range(0, CAST(len(h)/2 AS INT)), i ->
        |  CAST((strpos('0123456789abcdef', h[CAST(2*i+1 AS INT)]) - 1) * 16 +
        |       (strpos('0123456789abcdef', h[CAST(2*i+2 AS INT)]) - 1)
        |    AS BIGINT))""".stripMargin
    val payload = idExpr match {
      case None => hexBytes
      case Some(id) =>
        s"""list_concat($hexBytes,
           |  list_transform(range(0, 8), k ->
           |    CAST((($id) >> CAST(56 - 8*k AS INT)) & 255 AS BIGINT)))"""
          .stripMargin
    }
    val crc =
      """list_reduce(list_prepend(CAST(0 AS BIGINT), body), (c, x) ->
        |  list_reduce(list_prepend(xor(c, x * 256), range(0, 8)::BIGINT[]),
        |    (c2, k2) -> CASE WHEN (c2 & 32768) != 0
        |                     THEN xor(c2 * 2, 4129) & 65535
        |                     ELSE (c2 * 2) & 65535 END))""".stripMargin
    val b32 =
      """array_to_string(
        |  list_transform(range(0, CAST(ceil(len(fl)*8/5.0) AS INT)), j ->
        |    'ABCDEFGHIJKLMNOPQRSTUVWXYZ234567'[CAST(1 + (((
        |      fl[CAST(floor(j*5/8.0) AS INT) + 1] * 256 +
        |      coalesce(fl[CAST(floor(j*5/8.0) AS INT) + 2], 0))
        |      >> CAST(11 - ((j*5) % 8) AS INT)) & 31) AS INT)]), '')"""
        .stripMargin
    val nullGuard = idExpr match {
      case None => s"($hexExpr) IS NULL"
      case Some(id) => s"($hexExpr) IS NULL OR ($id) IS NULL"
    }
    s"""CASE WHEN $nullGuard THEN NULL ELSE
       |list_transform([($hexExpr)], h ->
       | list_transform([list_prepend(CAST($version AS BIGINT), $payload)],
       |  body ->
       |   list_transform([$crc], crc ->
       |    list_transform([list_concat(body, [crc & 255, crc >> 8])], fl ->
       |     $b32)[1])[1])[1])[1] END""".stripMargin
  }
  /** G-address (ed25519 account id, version 6<<3). */
  private def strkeyG(hexExpr: String): String = strkeySql(hexExpr, 48)
  /** M-address (med25519, version 12<<3): key ‖ BE uint64 id. */
  private def strkeyM(hexExpr: String, idExpr: String): String =
    strkeySql(hexExpr, 96, Some(idExpr))
  /** C-address (contract, version 2<<3). */
  private def strkeyC(hexExpr: String): String = strkeySql(hexExpr, 16)
  /** B-address (claimable balance, version 1<<3): the payload is the
    * 33-byte v0 balance id (type byte 0x00 ‖ hash). */
  private def strkeyB(hashHexExpr: String): String =
    strkeySql(s"'00' || ($hashHexExpr)", 8)

  /** Exact `%.7f` stroop rendering as integer string math (whole ‖ '.' ‖
    * 7-digit frac) — replays the engine's fmt7 without float formatting. */
  private def amt7(e: String): String =
    s"(CAST(($e)//10000000 AS VARCHAR) || '.' || " +
    s"lpad(CAST(($e)%10000000 AS VARCHAR), 7, '0'))"

  /** Session-scoped persisted-frame memo for the stellar op-grain
    * transforms: several `stellar_*` golden queries rebuild
    * `historyOperations`/`historyEffects`/`historyTrades`/
    * `TokenTransfers.fromLedgers` over the same fixture range, and each
    * rebuild re-analyzes a large expression tree (the token-transfer event
    * projection is a ~12-branch nested-struct `when` chain that the
    * `stellar_token_transfers` gate references three times).
    * One persisted frame per (transform, fixture frame) makes every later
    * consumer an InMemoryTableScan — same architecture as the decoded-ledger
    * memo in `StellarFixture.ledgers`. Bounded: one entry per transform ×
    * distinct fixture range. */
  private val frameMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, AnyRef), DataFrame]()
  private def memo(key: String, src: AnyRef)(build: => DataFrame): DataFrame =
    frameMemo.computeIfAbsent((key, src), _ =>
      // eager localCheckpoint, not persist: cache lookup happens AFTER
      // analysis, so a persisted frame still re-analyzes the full
      // expression tree (huge for the effects fan-out) on EVERY action;
      // checkpointing truncates the lineage to the materialized blocks
      build.transform(Checkpoints.checkpointed))

  /** Collect a ONE-row bounded aggregate (a scalar gate: corpus mean/count,
    * a div threshold) and return its columns as typed LITERALS — the
    * broadcast-free form of `frame.join(broadcast(aggRow)).where(...)`
    * (r21): the values are computed by the SAME Spark plan the broadcast
    * would have built (one collect job instead of one broadcast-build job),
    * and the gate becomes a plain filter — no join, one fewer exchange/
    * stage per consumer. Bounded-driver-fetch license: an agg without
    * groupBy is exactly one row. NULL aggregates (empty input) surface as
    * typed null literals, so `x <= null` filters everything — the join
    * form's verdict exactly. */
  private def litRow(agg: DataFrame): Array[Column] = {
    val row = agg.collect()(0)
    agg.schema.fields.zipWithIndex.map { case (f, i) =>
      if (row.isNullAt(i)) lit(null).cast(f.dataType)
      else org.apache.spark.sql.graftbridge.ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.Literal
          .create(row.get(i), f.dataType))
    }
  }

  // ---- planted web fixtures (HTML / URL), shared Spark + oracle laws -------

  /** Deterministic HTML wrapper around each document — both engines build
    * the IDENTICAL markup, so the extraction law is fully hash-checkable.
    * Arms: script/style/comment blocks (stripped), a nav list and a
    * link-footer (dropped by the density law), a short line (dropped by
    * min-length), an entity line (unescape law), a kept line WITH a link
    * (density below threshold), and three malformed tails (id%17: unclosed
    * script, id%23: unclosed comment, id%29: closer inside a JS string —
    * the non-greedy strip desynchronizes and the real closer survives)
    * for the error channel. */
  private def plantedHtmlWith(extra: Column): Column = {
    val t = col("text")
    concat(
      lit("<html><head><title>Doc "), col("doc_id"), lit("</title>"),
      lit("<style type=\"text/css\">p { margin: 0; }</style>"),
      lit("<script type=\"text/javascript\">var n = 1 < 2;</script>"),
      lit("</head><body><!-- boilerplate comment -->"),
      lit("<ul><li><a href=\"/\">Home</a></li>" +
        "<li><a href=\"/about\">About the site</a></li></ul>"),
      lit("<h1>Story "), col("doc_id"), lit(" begins here</h1>"),
      lit("<p>"), substring(t, 1, 80), lit("</p>"),
      lit("<p>Fish &amp; chips &lt;tag&gt; &quot;q&quot; &#39;s&nbsp;" +
        "end of entity line</p>"),
      lit("<div>Read <a href=\"/ref\">the full reference notes</a> " +
        "while reviewing "), substring(t, 81, 40), lit("</div>"),
      lit("<p>tiny</p>"),
      lit("<p><a href=\"/a\">one link</a> <a href=\"/b\">two link</a></p>"),
      extra,
      when(col("doc_id") % 17 === 0,
        lit("<script src=\"x.js\">trailing unterminated"))
        .when(col("doc_id") % 23 === 0, lit("<!-- unterminated trail"))
        .when(col("doc_id") % 29 === 0,
          lit("<script>var s = \"</script>\";</script>"))
        .otherwise(lit("")),
      lit("</body></html>"))
  }

  private def plantedHtml: Column = plantedHtmlWith(lit(""))

  /** DuckDB twin of [[plantedHtmlWith]] (same concatenation, `||`
    * syntax; `extraSql` must be a complete VARCHAR expression). */
  private def plantedHtmlSqlWith(extraSql: String): String =
    ("""'<html><head><title>Doc ' || doc_id || '</title>'
      ||| '<style type="text/css">p { margin: 0; }</style>'
      ||| '<script type="text/javascript">var n = 1 < 2;</script>'
      ||| '</head><body><!-- boilerplate comment -->'
      ||| '<ul><li><a href="/">Home</a></li><li><a href="/about">About the site</a></li></ul>'
      ||| '<h1>Story ' || doc_id || ' begins here</h1>'
      ||| '<p>' || substr(text, 1, 80) || '</p>'
      ||| '<p>Fish &amp; chips &lt;tag&gt; &quot;q&quot; &#39;s&nbsp;end of entity line</p>'
      ||| '<div>Read <a href="/ref">the full reference notes</a> while reviewing ' || substr(text, 81, 40) || '</div>'
      ||| '<p>tiny</p>'
      ||| '<p><a href="/a">one link</a> <a href="/b">two link</a></p>'
      ||| """ + extraSql + """
      ||| CASE WHEN doc_id % 17 = 0 THEN '<script src="x.js">trailing unterminated'
      |        WHEN doc_id % 23 = 0 THEN '<!-- unterminated trail'
      |        WHEN doc_id % 29 = 0 THEN '<script>var s = "</script>";</script>' ELSE '' END
      ||| '</body></html>'""").stripMargin.replaceAll("\\s*\\n\\s*", " ")

  private lazy val plantedHtmlSql: String = plantedHtmlSqlWith("''")

  /** DuckDB replay of [[graft.operators.Web.unescapeEntities]] — the same
    * fixed order with `&amp;` last. */
  private def duckUnescape(e: String): String =
    s"""replace(replace(replace(replace(replace(replace($e, """ +
      """'&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), """ +
      """'&nbsp;', ' '), '&amp;', '&')"""

  /** DuckDB: strip tags → unescape → collapse whitespace (the per-line
    * text law of [[graft.operators.Web.htmlExtract]]). */
  private def duckLineText(e: String): String =
    s"""trim(regexp_replace(${duckUnescape(
      s"regexp_replace($e, '<[^>]*>', ' ', 'g')")}, '\\s+', ' ', 'g'))"""

  /** CTE prefix replaying [[graft.operators.Web.htmlExtract]] over a
    * caller-supplied `h0(doc_id, html)` body: yields `k(doc_id, bad, ls,
    * kept)` where `ls` is the per-line (t, nl) struct list and `kept` the
    * density-filtered subset. */
  private def htmlExtractCtesFrom(h0Sql: String): String = {
    val lineTxt = duckLineText("l")
    // coalesce: DuckDB's array_to_string of an EMPTY list is NULL, and a
    // NULL link length would null the density predicate and drop the line
    val linkTxt = duckLineText(
      """coalesce(array_to_string(regexp_extract_all(l, '(?is)<a(\s[^>]*)?>(.*?)</a>', 2), ' '), '')""")
    s"""h0 AS ($h0Sql),
       |s3 AS (SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(html,
       |    '(?is)<script(\\s[^>]*)?>.*?</script>', ' ', 'g'),
       |    '(?is)<style(\\s[^>]*)?>.*?</style>', ' ', 'g'),
       |    '(?s)<!--.*?-->', ' ', 'g') AS x FROM h0),
       |m AS (SELECT doc_id, x,
       |  regexp_matches(lower(x),
       |    '<script[\\s>]|<style[\\s>]|<!--|</script|</style') AS bad
       |  FROM s3),
       |li AS (SELECT doc_id, bad,
       |  list_transform(string_split(regexp_replace(x,
       |    '(?i)<(br|/(p|div|li|h[1-6]|tr|td|th|title|blockquote|ul|ol|table|article|section|header|footer|nav))(\\s[^>]*)?/?>',
       |    chr(10), 'g'), chr(10)),
       |    l -> struct_pack(t := $lineTxt, nl := length($linkTxt))) AS ls
       |  FROM m),
       |k AS (SELECT doc_id, bad, ls,
       |  list_filter(ls, s -> length(struct_extract(s, 't')) >= 10
       |    AND struct_extract(s, 'nl') * 5
       |        < length(struct_extract(s, 't')) * 2) AS kept
       |  FROM li)""".stripMargin.replaceAll("\\s*\\n\\s*", " ")
  }

  /** The documents-table instance of [[htmlExtractCtesFrom]] (the planted
    * markup shared by the x_text_html/dedup/curation queries). */
  private lazy val htmlExtractCtes: String =
    htmlExtractCtesFrom(s"SELECT doc_id, $plantedHtmlSql AS html FROM documents")

  /** CTE chain replaying [[graft.operators.Web.urlCanonicalize]] + the
    * registrable-domain law over a caller-supplied `u0(doc_id, url)`:
    * yields `u9(doc_id, canonical_url, registrable_domain)` with invalid
    * (scheme-less) URLs dropped — the error-channel twin of
    * `WHERE url_valid`. */
  private lazy val urlCanonCtes: String =
    s"""u1 AS (SELECT doc_id, regexp_replace(url, '#.*$$', '') AS nf
       |  FROM u0),
       |u2 AS (SELECT doc_id, nf,
       |    regexp_matches(nf, '^[A-Za-z][A-Za-z0-9+.-]*://') AS valid,
       |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
       |      AS scheme,
       |    regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS afterp
       |  FROM u1),
       |u3 AS (SELECT *, regexp_extract(afterp, '^([^/?]*)', 1) AS auth,
       |    substr(afterp,
       |      length(regexp_extract(afterp, '^([^/?]*)', 1)) + 1) AS tail
       |  FROM u2),
       |u4 AS (SELECT *,
       |    lower(regexp_replace(auth, '^[^@]*@', '')) AS hostport
       |  FROM u3),
       |u5 AS (SELECT *,
       |    regexp_replace(hostport, ':[0-9]*$$', '') AS host,
       |    regexp_extract(hostport, ':([0-9]+)$$', 1) AS port FROM u4),
       |u6 AS (SELECT *,
       |    CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
       |              OR (scheme = 'https' AND port = '443') THEN ''
       |         ELSE ':' || port END AS psfx,
       |    CASE WHEN regexp_extract(tail, '^([^?]*)', 1) = '' THEN '/'
       |         ELSE regexp_extract(tail, '^([^?]*)', 1) END AS path,
       |    CASE WHEN contains(tail, '?')
       |         THEN regexp_extract(tail, '\\?(.*)$$', 1)
       |         ELSE '' END AS query FROM u5),
       |u7 AS (SELECT doc_id, valid, scheme, host, psfx, path,
       |    list_filter(string_split(query, '&'), p -> p <> ''
       |      AND NOT list_contains(
       |        ${sqlList(graft.operators.Web.TrackingParams)},
       |        lower(regexp_extract(p, '^([^=]*)', 1)))) AS keptp
       |  FROM u6),
       |u8 AS (SELECT doc_id, host,
       |    scheme || '://' || host || psfx || path ||
       |      CASE WHEN len(keptp) > 0
       |           THEN '?' || array_to_string(keptp, '&')
       |           ELSE '' END AS canonical_url
       |  FROM u7 WHERE valid),
       |u9 AS (SELECT doc_id, canonical_url,
       |    ${duckRegistrable("host")} AS registrable_domain FROM u8)"""
      .stripMargin.replaceAll("\\s*\\n\\s*", " ")

  /** Deterministic URL per document — pair structure: docs 2k and 2k+1
    * differ ONLY in case, userinfo, tracking params and fragment, so their
    * canonical URLs COLLIDE (the dedup arm); every other arm (suffix,
    * port, subdomain, scheme) derives from k = doc_id div 2 so the pair
    * stays intact. id%19 plants a scheme-less invalid URL. */
  private def plantedUrl: Column = {
    val doc = col("doc_id")
    val k = expr("doc_id div 2")
    val proto = when(pmod(k, lit(2)) === 0,
      when(doc % 2 === 0, lit("HTTPS")).otherwise(lit("https")))
      .otherwise(when(doc % 2 === 0, lit("HTTP")).otherwise(lit("http")))
    val sub = when(pmod(k, lit(3)) === 0, lit("WWW.")).otherwise(lit(""))
    val suff = when(pmod(k, lit(4)) === 0, lit(".com"))
      .when(pmod(k, lit(4)) === 1, lit(".co.uk"))
      .when(pmod(k, lit(4)) === 2, lit(".org"))
      .otherwise(lit(".io"))
    val host = concat(sub, lit("Site"), pmod(k, lit(7)), suff)
    val port = when(pmod(k, lit(5)) === 0,
      when(pmod(k, lit(2)) === 0, lit(":443")).otherwise(lit(":80")))
      .otherwise(when(pmod(k, lit(11)) === 0, lit(":8080")).otherwise(lit("")))
    val userinfo = when(doc % 13 === 0, concat(lit("u"), doc, lit("@")))
      .otherwise(lit(""))
    val path = concat(lit("/p/"), k)
    val query = concat(lit("?id="), pmod(k, lit(50)),
      lit("&utm_campaign=c"), doc,
      when(doc % 6 === 0, lit("&ref=rss")).otherwise(lit("")))
    val frag = when(doc % 4 === 0, concat(lit("#s"), doc)).otherwise(lit(""))
    when(doc % 19 === 0, concat(lit("site"), doc, lit(".com/nope")))
      .otherwise(concat(proto, lit("://"), userinfo, host, port, path,
        query, frag))
  }

  /** PSL rule table for `x_psl_domain`: the engine's bounded suffix list
    * plus the canonical wildcard/exception pair from the public PSL
    * algorithm description (publicsuffix.org). */
  private val pslRules: Seq[String] =
    Web.PublicSuffixes ++ Seq("*.ck", "!www.ck")

  /** DuckDB VALUES rows for [[pslRules]] (+ the implicit default rule),
    * matching [[Web.registrableDomainPsl]]'s internal rule-table law. */
  private val ruleValues: String = (pslRules.map { r =>
    val exc = r.startsWith("!")
    val key = if (exc) r.substring(1) else r
    s"('$key', ${key.count(_ == '.') + 1}, $exc)"
  } :+ "('*', 1, false)").mkString(", ")

  private val maxJ: Int =
    pslRules.map(_.stripPrefix("!").count(_ == '.') + 1).max

  /** Planted robots.txt pair for `x_robots_filter` — variant A exercises
    * a named-agent group (prefix, allow-override, wildcard-`$`, empty
    * allow, and the OCTET-length precedence law on '/café/' vs '/caf*x')
    * over a deny-all `*` group; variant B exercises multi-agent heads,
    * the RFC 9309 §2.2.4 law that unknown fields (Crawl-delay, Sitemap)
    * do NOT interfere with group parsing (graftbot and helper share ONE
    * head across the Crawl-delay line), and `*`-group wildcard vs longer
    * allow. */
  private val robotsA: String = Seq(
    "# crawl policy",
    "User-agent: graftbot",
    "Disallow: /private",
    "Allow: /private/ok",
    "Disallow: /*.pdf$",
    "Disallow: /café/",
    "Allow: /caf*x",
    "Allow:",
    "",
    "User-agent: *",
    "Disallow: /").mkString("\n")

  private val robotsB: String = Seq(
    "User-agent: otherbot",
    "User-agent: another",
    "Disallow: /",
    "",
    "User-agent: graftbot",
    "Crawl-delay: 10",
    "User-agent: helper",
    "Disallow: /tmp/*",
    "Allow: /tmp/pub",
    "",
    "Sitemap: https://example.com/map.xml",
    "",
    "User-agent: *",
    "Disallow: /").mkString("\n")

  /** Crawl policy for the v8 pipeline's robots gate: plain prefix rules
    * (no wildcards), so path matching is starts_with and precedence is
    * the octet-length law — blocks /p/1* for graftbot with /p/13*
    * re-allowed; other agents get deny-all. */
  private[graft] val robotsV8: String = Seq(
    "User-agent: graftbot",
    "Disallow: /p/1",
    "Allow: /p/13",
    "",
    "User-agent: *",
    "Disallow: /").mkString("\n")

  /** v8 body injections: %11 plants a '#'-marker line (fails the Gopher
    * symbol + alpha rules), %13 plants a duplicated line (fails the
    * repetition dup-line/para/5-gram caps) — so both quality gates bite
    * on deterministic subsets of REAL extracted documents. */
  private def v8HtmlExtra: Column = concat(
    when(col("doc_id") % 11 === 0,
      lit("<p># # ## ### # ## # # ### ##</p>")).otherwise(lit("")),
    when(col("doc_id") % 13 === 0,
      lit("<p>repeated boilerplate line echoes again</p>" +
        "<p>repeated boilerplate line echoes again</p>"))
      .otherwise(lit("")))

  private val v8HtmlExtraSql: String =
    "((CASE WHEN doc_id % 11 = 0 THEN " +
      "'<p># # ## ### # ## # # ### ##</p>' ELSE '' END) || " +
      "(CASE WHEN doc_id % 13 = 0 THEN " +
      "'<p>repeated boilerplate line echoes again</p>" +
      "<p>repeated boilerplate line echoes again</p>' ELSE '' END))"

  /** CTE fragment replaying the stopword-heuristic language ID
    * ([[graft.operators.TextAnalysis.langId]]) over `srcSql`(doc_id,
    * text) → `${p}boot(doc_id, label)` (argmax score desc, lang asc). */
  private def langIdBootstrapCtes(srcSql: String, p: String): String = {
    val langScores = graft.operators.Stopwords.all.toSeq.sortBy(_._1)
      .map { case (lang, words) =>
        s"""SELECT doc_id, '$lang' AS lang,
           |  len(list_filter(w, x -> list_contains(${sqlList(words)}, x)))
           |    / greatest(len(w), 1) AS score
           |FROM ${p}btoks""".stripMargin
      }.mkString("\nUNION ALL\n")
    s"""${p}btoks AS (SELECT doc_id,
       |    list_transform(list_filter(string_split_regex(text, '\\s+'),
       |      x -> x <> ''), x -> lower(x)) AS w
       |  FROM ($srcSql)),
       |${p}bsc AS (
       |$langScores),
       |${p}boot AS (SELECT doc_id, lang AS label FROM (
       |  SELECT doc_id, lang,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, lang) AS rn
       |  FROM ${p}bsc) WHERE rn = 1)""".stripMargin
  }

  /** CTE fragment replaying [[graft.operators.Classifier.trainLangId]]
    * (2 rounds) + [[graft.operators.Classifier.langIdTrained]] over
    * `srcSql`(doc_id, text) with labels from `bootName`(doc_id, label) →
    * `${p}pred(doc_id, predicted_lang, margin)` covering the src
    * universe (featureless docs take the smallest class at margin 0). */
  private def langIdTrainedCtes(srcSql: String, bootName: String,
      classes: Seq[String], dims: Int, p: String): String = {
    val perClass = classes.map { c =>
      s"""${p}w1_$c AS (SELECT bucket, CAST(sum(
         |    (CASE WHEN label = '$c' THEN 1 ELSE -1 END) * tf) AS BIGINT)
         |    AS w FROM ${p}fl GROUP BY 1),
         |${p}m1_$c AS (SELECT fl.doc_id,
         |    CAST(any_value(CASE WHEN fl.label = '$c' THEN 1 ELSE -1 END)
         |      AS BIGINT) AS y,
         |    CAST(sum(fl.tf * w.w) AS BIGINT) AS margin
         |  FROM ${p}fl fl JOIN ${p}w1_$c w USING (bucket) GROUP BY 1),
         |${p}u2_$c AS (SELECT fl.bucket, CAST(sum(
         |    (CASE WHEN fl.label = '$c' THEN 1 ELSE -1 END) * fl.tf)
         |    AS BIGINT) AS delta
         |  FROM ${p}fl fl JOIN ${p}m1_$c m ON m.doc_id = fl.doc_id
         |  WHERE m.y * m.margin <= 0 GROUP BY 1),
         |${p}w2_$c AS (SELECT w.bucket, w.w + coalesce(u.delta, 0) AS w
         |  FROM ${p}w1_$c w LEFT JOIN ${p}u2_$c u USING (bucket))"""
        .stripMargin
    }.mkString(",\n")
    val weightUnion = classes.map { c =>
      s"SELECT '$c' AS lang, bucket, w FROM ${p}w2_$c"
    }.mkString("\nUNION ALL\n")
    s"""${p}lt AS (SELECT doc_id, lower(text) AS lt FROM ($srcSql)),
       |${p}g0 AS (SELECT doc_id, substr(lt, CAST(i AS INT), 3) AS g
       |  FROM ${p}lt, unnest(range(1, length(lt) - 1)) t(i)
       |  WHERE length(lt) >= 3),
       |${p}f0 AS (SELECT doc_id,
       |    ('0x' || substr(sha256(g), 1, 8))::BIGINT % $dims AS bucket
       |  FROM ${p}g0),
       |${p}f AS MATERIALIZED (SELECT doc_id, bucket,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM ${p}f0 GROUP BY 1, 2),
       |${p}fl AS MATERIALIZED (SELECT f.doc_id, f.bucket, f.tf, b.label
       |  FROM ${p}f f JOIN $bootName b USING (doc_id)),
       |$perClass,
       |${p}wl AS (
       |$weightUnion),
       |${p}ml AS (SELECT f.doc_id, wl.lang,
       |    CAST(sum(f.tf * wl.w) AS BIGINT) AS margin
       |  FROM ${p}f f JOIN ${p}wl wl USING (bucket) GROUP BY 1, 2),
       |${p}pred AS (SELECT s.doc_id,
       |    coalesce(b.lang, '${classes.min}') AS predicted_lang,
       |    CAST(coalesce(b.margin, 0) AS BIGINT) AS margin
       |  FROM (SELECT doc_id FROM ${p}lt) s
       |  LEFT JOIN (SELECT doc_id, lang, margin FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY margin DESC, lang) AS rn FROM ${p}ml) WHERE rn = 1) b
       |  ON b.doc_id = s.doc_id)""".stripMargin
  }

  /** Render a Scala string as a DuckDB expression (chr(10) for newlines,
    * doubled quotes). */
  private def sqlLit(s: String): String =
    "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"

  /** CTE fragment replaying [[graft.codec.Repetition]] relationally over
    * a caller-supplied `dd(doc_id, doc2, ws)` source (doc2 = the text,
    * ws = its whitespace tokens): generated per-k gram CTEs (k = 2..10),
    * the line/paragraph segment aggregates, and a terminal
    * `vals(doc_id, <13 fracs>)`. [[repKeepExpr]] is the matching
    * composite keep predicate over `vals` columns. */
  private def repetitionCtesFrom(ddSql: String): String = {
    def gramCtes(k: Int): String =
      s"""gk$k AS (SELECT doc_id, i AS p,
         |    array_to_string(ws[i : i + ${k - 1}], ' ') AS g
         |  FROM dd, unnest(range(1, len(ws) - $k + 2)) t(i)),
         |gc$k AS (SELECT doc_id, g, count(*) AS c FROM gk$k GROUP BY 1, 2)"""
        .stripMargin
    def topCte(k: Int): String =
      s"""top$k AS (SELECT doc_id,
         |    CAST(c * (length(g) - ${k - 1}) AS BIGINT) AS mass FROM
         |  (SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id
         |     ORDER BY c DESC, g) AS rn FROM gc$k) WHERE rn = 1)"""
        .stripMargin
    def covCtes(k: Int): String =
      s"""du$k AS (SELECT doc_id, g FROM gc$k WHERE c >= 2),
         |cv$k AS (SELECT DISTINCT gk$k.doc_id, gk$k.p + o.o AS wp
         |  FROM gk$k JOIN du$k USING (doc_id, g),
         |    unnest(range(0, $k)) o(o)),
         |cc$k AS (SELECT cv.doc_id,
         |    CAST(sum(length(dd.ws[cv.wp])) AS BIGINT) AS covch
         |  FROM cv$k cv JOIN dd ON dd.doc_id = cv.doc_id GROUP BY 1)"""
        .stripMargin
    def segAgg(tag: String, splitBy: String): String =
      s"""${tag}0 AS (SELECT doc_id,
         |    trim(x, ' ' || chr(9) || chr(10) || chr(13)) AS seg
         |  FROM dd, unnest(string_split(doc2, $splitBy)) t(x)),
         |${tag}1 AS (SELECT doc_id, seg, length(seg) AS ch FROM ${tag}0
         |  WHERE seg <> ''),
         |${tag}c AS (SELECT doc_id, seg, count(*) AS c, any_value(ch) AS ch
         |  FROM ${tag}1 GROUP BY 1, 2),
         |${tag}agg AS (SELECT doc_id,
         |    CAST(sum(c) AS BIGINT) AS tot, CAST(sum(c*ch) AS BIGINT) AS totch,
         |    CAST(coalesce(sum(CASE WHEN c >= 2 THEN c END), 0) AS BIGINT)
         |      AS dup,
         |    CAST(coalesce(sum(CASE WHEN c >= 2 THEN c*ch END), 0) AS BIGINT)
         |      AS dupch
         |  FROM ${tag}c GROUP BY 1)""".stripMargin
    val valueCols = Seq(
      "coalesce(la.dup, 0) * 1000 // GREATEST(coalesce(la.tot, 0), 1) AS dup_line_frac",
      "coalesce(la.dupch, 0) * 1000 // GREATEST(coalesce(la.totch, 0), 1) AS dup_line_char_frac",
      "coalesce(pa.dup, 0) * 1000 // GREATEST(coalesce(pa.tot, 0), 1) AS dup_para_frac",
      "coalesce(pa.dupch, 0) * 1000 // GREATEST(coalesce(pa.totch, 0), 1) AS dup_para_char_frac") ++
      Seq(2, 3, 4).map(k =>
        s"coalesce(top$k.mass, 0) * 1000 // GREATEST(tw.twc, 1) AS top${k}_char_frac") ++
      Seq(5, 6, 7, 8, 9, 10).map(k =>
        s"coalesce(cc$k.covch, 0) * 1000 // GREATEST(tw.twc, 1) AS dup${k}_char_frac")
    s"""dd AS ($ddSql),
       |${segAgg("l", "chr(10)")},
       |${segAgg("p", "chr(10) || chr(10)")},
       |tw AS (SELECT doc_id,
       |    CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT)
       |      AS twc
       |  FROM dd),
       |${(2 to 10).map(gramCtes).mkString(",\n")},
       |${Seq(2, 3, 4).map(topCte).mkString(",\n")},
       |${Seq(5, 6, 7, 8, 9, 10).map(covCtes).mkString(",\n")},
       |vals AS (SELECT dd.doc_id, ${valueCols.mkString(", ")}
       |  FROM dd JOIN tw ON tw.doc_id = dd.doc_id
       |  LEFT JOIN lagg la ON la.doc_id = dd.doc_id
       |  LEFT JOIN pagg pa ON pa.doc_id = dd.doc_id
       |  ${Seq(2, 3, 4).map(k =>
            s"LEFT JOIN top$k ON top$k.doc_id = dd.doc_id").mkString(" ")}
       |  ${Seq(5, 6, 7, 8, 9, 10).map(k =>
            s"LEFT JOIN cc$k ON cc$k.doc_id = dd.doc_id").mkString(" ")})""".stripMargin
  }

  /** The composite Gopher-repetition keep predicate over `vals` columns
    * (engine twin: [[graft.operators.TextAnalysis.gopherRepetition]]'s
    * `rep_keep`). */
  private val repKeepExpr: String = graft.operators.TextAnalysis
    .GopherRepThresholds.map { case (n, t) => s"$n <= $t" }
    .mkString(" AND ")

  /** The x_text_gopher_repetition oracle: the planted 8-word-line /
    * 3-line-paragraph reshaping (+ %3 dup line, %7 dup paragraph) feeding
    * [[repetitionCtesFrom]]. */
  private val repOracleSql: String = {
    val ruleCols = graft.operators.TextAnalysis.GopherRepThresholds.map {
      case (n, t) => s"$n <= $t AS r_$n"
    }
    s"""WITH wl AS (SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
       |  FROM documents),
       |ld AS (SELECT doc_id, ws,
       |    list_transform(range(0, GREATEST((len(ws) - 1) // 8, 0) + 1),
       |      i -> array_to_string(ws[i*8+1 : i*8+8], ' ')) AS lines
       |  FROM wl),
       |dd0 AS (SELECT doc_id, ws, lines,
       |    array_to_string(
       |      list_transform(range(0, GREATEST((len(lines) - 1) // 3, 0) + 1),
       |        j -> array_to_string(lines[j*3+1 : j*3+3], chr(10))),
       |      chr(10) || chr(10)) AS doc2
       |  FROM ld),
       |dd1 AS (SELECT doc_id, doc2
       |    || (CASE WHEN doc_id % 3 = 0 THEN chr(10) || lines[1]
       |        ELSE '' END)
       |    || (CASE WHEN doc_id % 7 = 0 THEN chr(10) || chr(10)
       |          || array_to_string(lines[1:3], chr(10))
       |        ELSE '' END) AS doc2
       |  FROM dd0),
       |${repetitionCtesFrom(
          "SELECT doc_id, doc2, list_filter(string_split_regex(doc2, " +
            "'\\s+'), x -> x <> '') AS ws FROM dd1")}
       |SELECT doc_id, ${graft.operators.TextAnalysis.GopherRepThresholds
            .map(_._1).mkString(", ")},
       |  ${ruleCols.mkString(", ")},
       |  ($repKeepExpr) AS rep_keep
       |FROM vals ORDER BY doc_id""".stripMargin
  }

  /** DuckDB twin of [[plantedUrl]]. */
  private val plantedUrlSql: String =
    """CASE WHEN doc_id % 19 = 0 THEN 'site' || doc_id || '.com/nope'
      |ELSE
      |  (CASE WHEN (doc_id // 2) % 2 = 0
      |        THEN (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END)
      |        ELSE (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END) END)
      |  || '://'
      |  || (CASE WHEN doc_id % 13 = 0 THEN 'u' || doc_id || '@' ELSE '' END)
      |  || (CASE WHEN (doc_id // 2) % 3 = 0 THEN 'WWW.' ELSE '' END)
      |  || 'Site' || ((doc_id // 2) % 7)
      |  || (CASE (doc_id // 2) % 4 WHEN 0 THEN '.com' WHEN 1 THEN '.co.uk'
      |           WHEN 2 THEN '.org' ELSE '.io' END)
      |  || (CASE WHEN (doc_id // 2) % 5 = 0
      |           THEN (CASE WHEN (doc_id // 2) % 2 = 0 THEN ':443' ELSE ':80' END)
      |           ELSE (CASE WHEN (doc_id // 2) % 11 = 0 THEN ':8080' ELSE '' END) END)
      |  || '/p/' || (doc_id // 2)
      |  || '?id=' || ((doc_id // 2) % 50) || '&utm_campaign=c' || doc_id
      |  || (CASE WHEN doc_id % 6 = 0 THEN '&ref=rss' ELSE '' END)
      |  || (CASE WHEN doc_id % 4 = 0 THEN '#s' || doc_id ELSE '' END)
      |END""".stripMargin.replaceAll("\\s*\\n\\s*", " ")

  /** Planted WARC crawl file per document — a warcinfo record, a response
    * record carrying [[plantedUrl]] as WARC-Target-URI and an HTTP/200
    * envelope around [[plantedHtml]] as payload (Content-Length computed
    * from the html, so the offset walk is exercised by variable-length
    * records), and two malformed trailers for the error channel (%31: a
    * 100-char claim over a 5-char payload → truncated; %37: a record with
    * no Content-Length header). */
  private def plantedWarcFrom(html: Column): Column = {
    val crlf = "\r\n"
    val httpHdr = "HTTP/1.1 200 OK" + crlf + "Content-Type: text/html" +
      crlf + crlf // 44 chars
    concat(
      lit("WARC/1.0" + crlf + "WARC-Type: warcinfo" + crlf +
        "Content-Length: 23" + crlf + crlf +
        "software: graft-crawler" + crlf + crlf +
        "WARC/1.0" + crlf + "WARC-Type: response" + crlf +
        "WARC-Target-URI: "),
      plantedUrl,
      lit(crlf + "Content-Length: "),
      (length(html) + 44).cast("string"),
      lit(crlf + crlf + httpHdr),
      html,
      lit(crlf + crlf),
      when(col("doc_id") % 31 === 0,
        lit("WARC/1.0" + crlf + "Content-Length: 100" + crlf + crlf + "short"))
        .when(col("doc_id") % 37 === 0,
          lit("WARC/1.0" + crlf + "WARC-Type: metadata" + crlf + crlf +
            "oops" + crlf + crlf))
        .otherwise(lit("")))
  }

  private def plantedWarc: Column = plantedWarcFrom(plantedHtml)

  private val crlfSql = "chr(13) || chr(10)"
  private val sepSql = "chr(13) || chr(10) || chr(13) || chr(10)"

  /** DuckDB twin of [[plantedWarc]]: `wsrc` builds the html/url columns,
    * `w(doc_id, content)` the crawl file. */
  private def warcSourceCtesFrom(htmlSql: String): String =
    s"""wsrc AS (SELECT doc_id, $htmlSql AS html,
       |    $plantedUrlSql AS url FROM documents),
       |w AS (SELECT doc_id,
       |  'WARC/1.0' || $crlfSql || 'WARC-Type: warcinfo' || $crlfSql
       |  || 'Content-Length: 23' || $sepSql
       |  || 'software: graft-crawler' || $sepSql
       |  || 'WARC/1.0' || $crlfSql || 'WARC-Type: response' || $crlfSql
       |  || 'WARC-Target-URI: ' || url || $crlfSql
       |  || 'Content-Length: ' || (44 + length(html)) || $sepSql
       |  || 'HTTP/1.1 200 OK' || $crlfSql || 'Content-Type: text/html'
       |  || $sepSql || html || $sepSql
       |  || CASE WHEN doc_id % 31 = 0
       |       THEN 'WARC/1.0' || $crlfSql || 'Content-Length: 100'
       |         || $sepSql || 'short'
       |     WHEN doc_id % 37 = 0
       |       THEN 'WARC/1.0' || $crlfSql || 'WARC-Type: metadata'
       |         || $sepSql || 'oops' || $sepSql
       |     ELSE '' END AS content FROM wsrc)"""
      .stripMargin.replaceAll("\\s*\\n\\s*", " ")

  private lazy val warcSourceCtes: String = warcSourceCtesFrom(plantedHtmlSql)

  /** DuckDB replay of [[graft.codec.WarcCodec.parse]] as a RECURSIVE CTE
    * over `w(doc_id, content)` (the caller's WITH must say RECURSIVE):
    * each iteration checks the magic, finds the header terminator, pulls
    * the first-match header fields, validates Content-Length, slices the
    * payload and verifies the record terminator — the same five error
    * arms in the same priority order, stopping the walk at the first bad
    * record. Yields `wr(doc_id, rec_idx, warc_type, target_uri,
    * content_length, payload, rec_ok, error)`. */
  private def warcCtes(maxRecords: Int): String = {
    def hdrField(key: String): String =
      s"nullif(trim(regexp_extract(hdrs, '(?mi)^$key:[ \\t]*([^' || " +
        s"chr(13) || chr(10) || ']*)', 1), ' ' || chr(9)), '')"
    s"""r AS (
       |  SELECT doc_id, content, CAST(1 AS BIGINT) AS off, 0 AS idx,
       |    CAST(NULL AS VARCHAR) AS warc_type,
       |    CAST(NULL AS VARCHAR) AS target_uri,
       |    CAST(NULL AS BIGINT) AS content_length,
       |    CAST(NULL AS VARCHAR) AS payload,
       |    true AS rec_ok, CAST(NULL AS VARCHAR) AS error, false AS done
       |  FROM w
       |  UNION ALL
       |  SELECT doc_id, content,
       |    CASE WHEN err IS NULL THEN habs + 4 + cl + 4 ELSE off END,
       |    idx + 1,
       |    CASE WHEN err IS NULL THEN wt END,
       |    CASE WHEN err IS NULL THEN uri END,
       |    CASE WHEN err IS NULL THEN cl END,
       |    CASE WHEN err IS NULL THEN substr(content,
       |      CAST(habs + 4 AS INTEGER), CAST(cl AS INTEGER)) END,
       |    err IS NULL, err,
       |    err IS NOT NULL OR habs + 4 + cl + 4 > length(content)
       |  FROM (
       |    SELECT doc_id, content, off, idx, habs, cl, wt, uri,
       |      CASE WHEN idx >= $maxRecords THEN 'record cap exceeded'
       |           WHEN substr(content, CAST(off AS INTEGER), 10)
       |             <> 'WARC/1.0' || $crlfSql THEN 'missing WARC/1.0 header'
       |           WHEN hrel = 0 THEN 'missing header terminator'
       |           WHEN NOT regexp_matches(clv, '^[0-9]{1,18}$$')
       |             THEN 'missing content-length'
       |           WHEN length(content) < habs + 3 + cl + 4
       |             THEN 'truncated record'
       |           WHEN substr(content, CAST(habs + 4 + cl AS INTEGER), 4)
       |             <> $sepSql THEN 'truncated record'
       |      END AS err
       |    FROM (
       |      SELECT doc_id, content, off, idx, habs, hrel, clv,
       |        CASE WHEN regexp_matches(clv, '^[0-9]{1,18}$$')
       |          THEN CAST(clv AS BIGINT) ELSE 0 END AS cl,
       |        ${hdrField("warc-type")} AS wt,
       |        ${hdrField("warc-target-uri")} AS uri
       |      FROM (
       |        SELECT doc_id, content, off, idx, habs, hrel, hdrs,
       |          coalesce(trim(regexp_extract(hdrs,
       |            '(?mi)^content-length:[ \\t]*([^' || chr(13) || chr(10)
       |            || ']*)', 1), ' ' || chr(9)), '') AS clv
       |        FROM (
       |          SELECT doc_id, content, off, idx,
       |            off + hrel - 1 AS habs, hrel,
       |            substr(content, CAST(off AS INTEGER),
       |              CAST(greatest(hrel - 1, 0) AS INTEGER)) AS hdrs
       |          FROM (
       |            SELECT doc_id, content, off, idx,
       |              instr(substr(content, CAST(off AS INTEGER)), $sepSql)
       |                AS hrel
       |            FROM r WHERE NOT done AND off <= length(content))))))),
       |wr AS (SELECT doc_id, idx - 1 AS rec_idx, warc_type, target_uri,
       |  content_length, payload, rec_ok, error FROM r WHERE idx > 0)"""
      .stripMargin.replaceAll("\\s*\\n\\s*", " ")
  }

  /** DuckDB twin of [[graft.operators.Web.warcExtract]]'s http_status /
    * body column laws over `wr` payloads. */
  private val warcHttpSql: (String, String) = {
    val isHttp = s"payload IS NOT NULL AND starts_with(payload, 'HTTP/') " +
      s"AND instr(payload, $sepSql) > 0"
    (s"CASE WHEN $isHttp THEN CAST(nullif(regexp_extract(payload, " +
      s"'^HTTP/[0-9.]+ ([0-9]{3})', 1), '') AS BIGINT) END",
      s"CASE WHEN $isHttp THEN substr(payload, " +
        s"CAST(instr(payload, $sepSql) + 4 AS INTEGER)) ELSE payload END")
  }

  /** DuckDB replay of [[graft.operators.Web.registrableDomain]] — the CASE
    * chain is GENERATED from the same ordered suffix list, so the two
    * engines cannot drift. */
  private def duckRegistrable(hostExpr: String): String =
    graft.operators.Web.suffixesOrdered.foldRight(hostExpr) { (s, els) =>
      val esc = s.replace(".", "\\.")
      s"CASE WHEN ends_with($hostExpr, '.$s') " +
        s"THEN regexp_extract($hostExpr, '([^.]+\\.$esc)$$', 1) ELSE $els END"
    }

  /** DuckDB escape/unescape twins of [[graft.operators.Bpe.escSym]] —
    * `~`→`~0`, `<`→`~1`, `>`→`~2`, inverse restores `~1`/`~2` BEFORE
    * `~0` (the same order law as the Scala side). */
  private def duckEsc(e: String): String =
    s"replace(replace(replace($e, '~', '~0'), '<', '~1'), '>', '~2')"
  private def duckUnesc(e: String): String =
    s"replace(replace(replace($e, '~2', '>'), '~1', '<'), '~0', '~')"

  /** DuckDB replay of [[graft.operators.Bpe.train]], K rounds UNROLLED
    * (generated, so the law cannot drift between engines): `w0` derives
    * the word-frequency table with per-CHARACTER symbols over the FULL
    * alphabet (no gate — punctuation/unicode/CJK all train; DuckDB's
    * `word[i]` indexes codepoints, the twin of the engine's
    * regexp-per-codepoint law) from a caller-supplied token source
    * `toksrc(word)`; each round derives pair counts, the deterministic
    * arg-max, and the greedy ESCAPED render/replace/split-back/unescape
    * merge (escaping distributes over the space-joined pair, so the
    * pattern is one replace of ' ' in the escaped pair). */
  private def bpeCtes(k: Int, toksrc: String =
      """SELECT unnest(list_filter(string_split_regex(lower(text),
        | '\s+'), x -> x <> '')) AS word FROM documents""".stripMargin
        .replaceAll("\\s*\\n\\s*", " ")): String = {
    val base =
      s"""w0 AS (SELECT word, freq,
         |    list_transform(range(1, length(word)+1), i -> word[i]) AS syms
         |  FROM (SELECT word, count(*) AS freq FROM
         |    ($toksrc)
         |    GROUP BY word))""".stripMargin
    val rounds = (0 until k).map { i =>
      s"""p$i AS (SELECT syms[j] || ' ' || syms[j+1] AS pair,
         |    sum(freq) AS c
         |  FROM w$i, unnest(range(1, len(syms))) t(j) GROUP BY 1),
         |b$i AS (SELECT pair, c FROM p$i ORDER BY c DESC, pair LIMIT 1),
         |w${i + 1} AS (SELECT word, freq, list_transform(
         |    string_split(trim(replace(
         |    '<' || array_to_string(list_transform(syms,
         |      s -> ${duckEsc("s")}), '><') || '>',
         |    '<' || replace(${duckEsc(s"b$i.pair")}, ' ', '><') || '>',
         |    '<' || replace(${duckEsc(s"b$i.pair")}, ' ', '') || '>'),
         |    '<>'), '><'), s -> ${duckUnesc("s")}) AS syms
         |  FROM w$i, b$i)""".stripMargin
    }
    (base +: rounds).mkString(",\n").replaceAll("\\s*\\n\\s*", " ")
  }

  /** Session-scoped memo for the trained BPE artifact: three catalog
    * queries (rules, vocab, corpus tokenization) share one training run —
    * the real pipeline architecture (a tokenizer is trained once and
    * reused everywhere). Keyed by (dir, session): the vocab frame is
    * bound to its session's checkpointed RDDs, so a second session must
    * retrain, never inherit a dead frame. */
  private val BpeBytesMerges = 10 // x_bpe_train_bytes rounds (oracle unroll
                                  // count stays in lockstep)
  private val BpeMerges = 8 // ONE constant: training rounds AND the
                            // oracle's unroll count must stay in lockstep
  private val bpeMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, SparkSession), graft.operators.Bpe.Trained]()
  private def bpeTrained(s: SparkSession, dir: String): graft.operators.Bpe.Trained = {
    // evict artifacts of STOPPED sessions: their checkpointed vocab RDDs
    // are unreachable and the entry would otherwise pin the dead session
    // graph for the JVM's lifetime under session churn
    bpeMemo.keySet.removeIf(k => k._2.sparkContext.isStopped)
    // case folding is the CALLER's composition under the alphabet-complete
    // law — these queries train the folded vocabulary (lower BEFORE
    // tokenizing, the oracle's lower(text) twin)
    bpeMemo.computeIfAbsent((dir, s), _ =>
      Bpe.train(T(s, dir, "documents")
          .select(col("doc_id"), lower(col("text")).as("text")),
        "text", merges = BpeMerges))
  }

  /** Persisted MinHash fingerprint index for the probe query: one
    * bucketed-table write per (session catalog, sf dir). The existence
    * probe is the SESSION's catalog — a JVM-global memo would hand a
    * second SparkSession (own in-memory catalog, own warehouse) a table
    * name it cannot resolve. */
  private val incIndexLock = new Object
  private def incIndexTable(s: SparkSession, dir: String): String = {
    val tag = graft.codec.Hashes.hex(java.security.MessageDigest
      .getInstance("MD5").digest(dir.getBytes("UTF-8")).take(4))
    val tbl = s"graft_inc_minhash_$tag"
    incIndexLock.synchronized {
      if (!s.catalog.tableExists(tbl)) {
        // a PREVIOUS JVM may have left the managed location behind without
        // catalog metadata — saveAsTable(Overwrite) refuses to claim such
        // a directory, so clear the location first
        val loc = new org.apache.hadoop.fs.Path(
          s.sessionState.conf.warehousePath, tbl)
        loc.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(loc, true)
        graft.operators.Dedup.writeMinHashIndex(
          T(s, dir, "documents")
            .where(col("doc_id") < 500 && col("doc_id") % 10 =!= 0),
          "text", "doc_id", tbl, buckets = 8)
      }
    }
    tbl
  }

  // ---------------------------------------------------------------------------

  val all: Seq[Q] = Seq(

    // ===== 2.1 sources / scans ==============================================

    Q("s1_range_scan",
      Some("""SELECT o_orderkey AS ledger_sequence, o_orderstatus AS status,
             |       o_totalprice AS total
             |FROM orders WHERE o_orderkey BETWEEN 100 AND 1200
             |ORDER BY ledger_sequence""".stripMargin),
      (s, dir) =>
        HistoryOps.scanRange(
            T(s, dir, "orders").select(
              col("o_orderkey").as("ledger_sequence"),
              col("o_orderstatus").as("status"),
              col("o_totalprice").as("total")),
            100, 1200)
          .orderBy("ledger_sequence")),

    Q("s2_explode_transactions",
      Some(s"""$txBase
             |SELECT (ledger_sequence << 32) | (tx_order << 12) AS transaction_id,
             |       ledger_sequence, tx_order AS application_order,
             |       fee_charged, successful, op_type, amount, source_account_key
             |FROM tx ORDER BY transaction_id""".stripMargin),
      (s, dir) =>
        HistoryOps.historyTransactions(LedgerFixtures.ledgers(s, dir))
          .select("transaction_id", "ledger_sequence", "application_order",
            "fee_charged", "successful", "op_type", "amount", "source_account_key")
          .orderBy("transaction_id")),

    Q("s3_posexplode_operations",
      Some(s"""$txBase
             |SELECT ((ledger_sequence << 32) | (tx_order << 12)) | 1 AS operation_id,
             |       (ledger_sequence << 32) | (tx_order << 12) AS transaction_id,
             |       ledger_sequence, tx_order AS application_order, op_type, amount,
             |       part_key, source_account_key AS source_account,
             |       successful AS transaction_successful
             |FROM tx ORDER BY operation_id""".stripMargin),
      (s, dir) =>
        HistoryOps.historyOperations(
            HistoryOps.historyTransactions(LedgerFixtures.ledgers(s, dir)))
          .orderBy("operation_id")),

    Q("s4_trade_ops_filter",
      Some(s"""$txBase
             |SELECT ((ledger_sequence << 32) | (tx_order << 12)) | 1 AS operation_id,
             |       op_type, amount
             |FROM tx WHERE op_type IN (3,4,5) AND successful
             |ORDER BY operation_id""".stripMargin),
      (s, dir) =>
        HistoryOps.tradeOps(
            HistoryOps.historyOperations(
              HistoryOps.historyTransactions(LedgerFixtures.ledgers(s, dir))))
          .select("operation_id", "op_type", "amount")
          .orderBy("operation_id")),

    Q("s5_payment_ops_filter",
      Some(s"""$txBase
             |SELECT ((ledger_sequence << 32) | (tx_order << 12)) | 1 AS operation_id,
             |       op_type, amount
             |FROM tx WHERE op_type IN (1,3)
             |ORDER BY operation_id""".stripMargin),
      (s, dir) =>
        HistoryOps.paymentOps(
            HistoryOps.historyOperations(
              HistoryOps.historyTransactions(LedgerFixtures.ledgers(s, dir))))
          .select("operation_id", "op_type", "amount")
          .orderBy("operation_id")),

    Q("s6_change_compaction",
      Some("""SELECT user_id, event_id, ts_us, event_type, value FROM (
             |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value,
             |         row_number() OVER (PARTITION BY user_id
             |           ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
             |  FROM events) WHERE rn = 1
             |ORDER BY user_id""".stripMargin),
      (s, dir) => {
        val changes = ev(s, dir).select(
          col("user_id"), col("event_id"),
          expr("ts div 1000").as("ts_us"),
          col("event_type"), col("value"))
        ChangeCompaction.latestByKey(changes,
            keyCols = Seq("user_id"), orderCols = Seq("ts_us", "event_id"))
          .select("user_id", "event_id", "ts_us", "event_type", "value")
          .orderBy("user_id")
      }),

    Q("s8_orderbook_snapshot",
      Some("""SELECT offer_id, ledger_sequence, change_order, amount FROM (
             |  SELECT user_id AS offer_id, event_id // 10 AS ledger_sequence,
             |         event_id % 10 AS change_order,
             |         event_type = 'error' AS deleted, value AS amount,
             |         row_number() OVER (PARTITION BY user_id
             |           ORDER BY (event_id // 10) DESC, (event_id % 10) DESC) AS rn
             |  FROM events WHERE event_id // 10 <= 80)
             |WHERE rn = 1 AND NOT deleted
             |ORDER BY offer_id""".stripMargin),
      (s, dir) => {
        val offerChanges = ev(s, dir).select(
          col("user_id").as("offer_id"),
          expr("event_id div 10").as("ledger_sequence"),
          expr("event_id % 10").as("change_order"),
          (col("event_type") === "error").as("deleted"),
          col("value").as("amount"))
        OrderbookStar.snapshotAsOf(offerChanges, 80)
          .select("offer_id", "ledger_sequence", "change_order", "amount")
          .orderBy("offer_id")
      }),

    Q("s9_all_history_fanout",
      Some(s"""$txBase
             |SELECT 'tx' AS grain, count(*) AS n FROM tx
             |UNION ALL SELECT 'op', count(*) FROM tx
             |UNION ALL SELECT 'trade', count(*) FROM tx
             |  WHERE op_type IN (3,4,5) AND successful
             |ORDER BY grain""".stripMargin),
      (s, dir) => {
        // one scan, one aggregation: the three outputs are conditional
        // counts exploded back to rows (the reference's single-pass
        // all_history.go fan-out, without its three in-RAM vectors)
        val txs = HistoryOps.historyTransactions(LedgerFixtures.ledgers(s, dir))
        txs
          .agg(count(lit(1)).as("n_tx"),
            count_if(col("op_type").isin(HistoryOps.TradeOpTypes: _*) &&
              col("successful")).as("n_trade"))
          .select(explode(array(
            struct(lit("tx").as("grain"), col("n_tx").as("n")),
            struct(lit("op").as("grain"), col("n_tx").as("n")), // 1 op per tx
            struct(lit("trade").as("grain"), col("n_trade").as("n"))))
            .as("g"))
          .select(col("g.grain").as("grain"), col("g.n").as("n"))
          .orderBy("grain")
      }),

    // ===== 2.2 sinks =========================================================

    Q("k1_extra_fields",
      Some("""SELECT o_orderkey, o_orderstatus, 'testnet' AS extra_network,
             |       CAST(2 AS BIGINT) AS extra_version
             |FROM orders ORDER BY o_orderkey""".stripMargin),
      (s, dir) =>
        T(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
          .withColumn("extra_network", lit("testnet"))
          .withColumn("extra_version", lit(2L))
          .orderBy("o_orderkey")),

    Q("k4_batch_partitioning",
      Some("""SELECT event_id // 64 AS batch_id, count(*) AS n_records,
             |       min(event_id) AS start_id, max(event_id) AS end_id
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) =>
        ev(s, dir)
          .groupBy(GraftFunctions.batchId(col("event_id")).as("batch_id"))
          .agg(count(lit(1)).as("n_records"),
            min("event_id").as("start_id"), max("event_id").as("end_id"))
          .orderBy("batch_id")),

    Q("k5_transform_stats",
      Some("""SELECT count(*) AS attempted,
             |       count(*) FILTER (WHERE l_returnflag <> 'R') AS successful,
             |       count(*) FILTER (WHERE l_returnflag = 'R') AS failed
             |FROM lineitem""".stripMargin),
      (s, dir) =>
        T(s, dir, "lineitem").agg(
          count(lit(1)).as("attempted"),
          count_if(col("l_returnflag") =!= "R").as("successful"),
          count_if(col("l_returnflag") === "R").as("failed"))),

    // ===== 2.3 projections ===================================================

    Q("p1_history_ledgers",
      Some("""SELECT l_orderkey AS ledger_sequence,
             |       (l_orderkey << 32) AS ledger_id,
             |       count(*) FILTER (WHERE l_returnflag <> 'R') AS transaction_count,
             |       count(*) FILTER (WHERE l_returnflag <> 'R') AS successful_transaction_count,
             |       count(*) FILTER (WHERE l_returnflag = 'R') AS failed_transaction_count,
             |       count(*) FILTER (WHERE l_returnflag <> 'R') AS operation_count,
             |       CAST(count(*) AS VARCHAR) AS tx_set_operation_count,
             |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS total_fee_charged
             |FROM lineitem GROUP BY l_orderkey
             |ORDER BY ledger_sequence""".stripMargin),
      (s, dir) =>
        HistoryOps.historyLedgers(LedgerFixtures.ledgers(s, dir))
          .drop("closed_at")
          .orderBy("ledger_sequence")),

    Q("p2_history_transactions",
      Some(s"""$txBase
             |SELECT (ledger_sequence << 32) | (tx_order << 12) AS transaction_id,
             |       ledger_sequence, tx_order AS application_order, fee_charged,
             |       fee_charged / 10000000.0 AS fee_xlm, successful,
             |       '[' || CAST(tx_order AS VARCHAR) || ',' ||
             |         CAST(fee_charged AS VARCHAR) || ')' AS time_bounds
             |FROM tx ORDER BY transaction_id""".stripMargin),
      (s, dir) =>
        HistoryOps.historyTransactions(LedgerFixtures.ledgers(s, dir))
          .select(
            col("transaction_id"), col("ledger_sequence"), col("application_order"),
            col("fee_charged"),
            GraftFunctions.stroopsToXlm(col("fee_charged")).as("fee_xlm"),
            col("successful"),
            GraftFunctions.intervalString(col("application_order"), col("fee_charged"))
              .as("time_bounds"))
          .orderBy("transaction_id")),

    Q("p6_assets_dedup",
      Some("""SELECT p_brand || ':' || p_type AS asset_key,
             |       min(p_partkey) AS p_partkey,
             |       arg_min(p_retailprice, p_partkey) AS p_retailprice
             |FROM part GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) =>
        HistoryOps.dedupFirstSeen(
            T(s, dir, "part").select(
              concat(col("p_brand"), lit(":"), col("p_type")).as("asset_key"),
              col("p_partkey"), col("p_retailprice")),
            idCol = "asset_key", orderCol = "p_partkey")
          .orderBy("asset_key")),

    Q("p7_account_flags",
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no, l_partkey,
             |       l_partkey % 16 AS flags,
             |       ((l_partkey % 16) & 1) <> 0 AS auth_required,
             |       ((l_partkey % 16) & 2) <> 0 AS auth_revocable,
             |       ((l_partkey % 16) & 4) <> 0 AS auth_immutable,
             |       ((l_partkey % 16) & 8) <> 0 AS auth_clawback_enabled
             |FROM lineitem ORDER BY l_orderkey, line_no, l_partkey""".stripMargin),
      (s, dir) => {
        val flags = expr("l_partkey % 16")
        T(s, dir, "lineitem").select(
            col("l_orderkey"), col("l_linenumber").cast("long").as("line_no"),
            col("l_partkey"), flags.as("flags"),
            GraftFunctions.flagSet(flags, 1).as("auth_required"),
            GraftFunctions.flagSet(flags, 2).as("auth_revocable"),
            GraftFunctions.flagSet(flags, 4).as("auth_immutable"),
            GraftFunctions.flagSet(flags, 8).as("auth_clawback_enabled"))
          .orderBy("l_orderkey", "line_no", "l_partkey")
      }),

    Q("p9_offers_pricing",
      Some(s"""$txBase
             |SELECT (ledger_sequence << 32) | (tx_order << 12) AS offer_id,
             |       part_key % 1000 + 1 AS price_n, source_account_key + 1 AS price_d,
             |       (part_key % 1000 + 1) / (source_account_key + 1) AS price,
             |       amount
             |FROM tx WHERE amount > 0 AND part_key % 1000 + 1 > 0
             |ORDER BY offer_id""".stripMargin),
      (s, dir) => {
        val txs = HistoryOps.historyTransactions(LedgerFixtures.ledgers(s, dir))
        txs.select(
            col("transaction_id").as("offer_id"),
            (expr("part_key % 1000") + 1).as("price_n"),
            (col("source_account_key") + 1).as("price_d"),
            GraftFunctions.priceRatio(expr("part_key % 1000") + 1,
              col("source_account_key") + 1).as("price"),
            col("amount"))
          .where(col("amount") > 0 && col("price_n") > 0)
          .orderBy("offer_id")
      }),

    Q("p19_token_transfers",
      Some("""SELECT event_id AS transfer_id, 'transfer' AS kind,
             |       'credit_alphanum4:' || event_type || ':' || CAST(user_id AS VARCHAR) AS asset,
             |       value AS amount
             |FROM events WHERE event_type = 'purchase'
             |UNION ALL
             |SELECT event_id, 'mint',
             |       'credit_alphanum4:' || event_type || ':' || CAST(user_id AS VARCHAR), value
             |FROM events WHERE event_type = 'signup'
             |UNION ALL
             |SELECT event_id, 'burn',
             |       'credit_alphanum4:' || event_type || ':' || CAST(user_id AS VARCHAR), value
             |FROM events WHERE event_type = 'error'
             |ORDER BY transfer_id""".stripMargin),
      (s, dir) => {
        val e = ev(s, dir)
        def typed(t: String, kind: String): DataFrame =
          e.where(col("event_type") === t).select(
            col("event_id").as("transfer_id"), lit(kind).as("kind"),
            GraftFunctions.assetCanonical(lit("credit_alphanum4"),
              col("event_type"), col("user_id").cast("string")).as("asset"),
            col("value").as("amount"))
        typed("purchase", "transfer")
          .unionAll(typed("signup", "mint"))
          .unionAll(typed("error", "burn"))
          .orderBy("transfer_id")
      }),

    Q("p20_orderbook_star",
      // dim_markets law (`offer_normalized.go:102-137`): assets render as
      // `code:issuer`, the pair sorts lexicographically, base = first
      Some("""WITH o AS (SELECT
             |  'AST' || CAST(l_partkey % 5 AS VARCHAR) || ':' ||
             |    'ISS' || CAST(l_partkey % 3 AS VARCHAR) AS sell,
             |  'AST' || CAST(l_suppkey % 7 AS VARCHAR) || ':' ||
             |    'ISS' || CAST(l_suppkey % 2 AS VARCHAR) AS buy
             |FROM lineitem WHERE l_returnflag <> 'R')
             |SELECT DISTINCT
             |  split_part(least(sell, buy), ':', 1) AS base_code,
             |  split_part(least(sell, buy), ':', 2) AS base_issuer,
             |  split_part(greatest(sell, buy), ':', 1) AS counter_code,
             |  split_part(greatest(sell, buy), ':', 2) AS counter_issuer
             |FROM o ORDER BY 1, 2, 3, 4""".stripMargin),
      (s, dir) => {
        // DISTINCT the narrow integer generators BEFORE rendering asset
        // strings (r21, guide §2.3 aggregate-before-shuffle / narrower
        // types): dimMarket is a distinct over pure functions of
        // (l_partkey%5, %3, l_suppkey%7, %2, deleted), and the render is
        // injective per tuple, so distinct-then-render ≡ render-then-
        // distinct (oracle hash unchanged) — the per-row fnv64a +
        // concat + least/greatest + split work collapses from row scale
        // to the ≤ 5·3·7·2·2 distinct tuples. At 100 TB the partial
        // aggregate combines 4 small ints map-side instead of 6 strings.
        val gens = T(s, dir, "lineitem").select(
          expr("l_partkey % 5").as("__pk5"),
          expr("l_partkey % 3").as("__pk3"),
          expr("l_suppkey % 7").as("__sk7"),
          expr("l_suppkey % 2").as("__sk2"),
          (col("l_returnflag") === "R").as("deleted")).distinct()
        val offers = gens.select(
          lit("credit_alphanum4").as("selling_asset_type"),
          concat(lit("AST"), col("__pk5").cast("string"))
            .as("selling_asset_code"),
          concat(lit("ISS"), col("__pk3").cast("string"))
            .as("selling_asset_issuer"),
          lit("credit_alphanum4").as("buying_asset_type"),
          concat(lit("AST"), col("__sk7").cast("string"))
            .as("buying_asset_code"),
          concat(lit("ISS"), col("__sk2").cast("string"))
            .as("buying_asset_issuer"),
          col("deleted"))
        OrderbookStar.dimMarket(offers)
          .select("base_code", "base_issuer", "counter_code", "counter_issuer")
          .orderBy("base_code", "base_issuer", "counter_code", "counter_issuer")
      }),

    // ===== 2.5 limits / sort =================================================

    Q("l1_limit_topk",
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),
      (s, dir) =>
        T(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(100)),

    Q("l2_sorted_arrays",
      // array rendered to CSV: the driver's pandas compare can't sort/hash
      // raw array cells, and stringified output is engine-portable anyway
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS nation_key,
             |       array_to_string(
             |         list(c_custkey ORDER BY c_acctbal DESC, c_custkey DESC),
             |         ',') AS custkeys_by_balance
             |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) =>
        T(s, dir, "customer")
          .groupBy(col("c_nationkey").cast("long").as("nation_key"))
          .agg(array_join(transform(
            reverse(sort_array(collect_list(struct(col("c_acctbal"), col("c_custkey"))))),
            x => x("c_custkey").cast("string")), ",").as("custkeys_by_balance"))
          .orderBy("nation_key")),

    // ===== 2.6 aggregations ==================================================

    Q("a1_tpch_q1",
      // money sums run on EXACT integer cents (prices carry 2 decimal
      // digits, discounts 2): a double→DECIMAL cast boundary is engine-
      // dependent (DuckDB scales in double before rounding, Spark rounds
      // the exact binary expansion), which drifts ~1e-3 over the sf0.1
      // row count; round-to-integer first is bit-identical everywhere
      Some("""SELECT l_returnflag, l_linestatus,
             |       sum(l_quantity) AS sum_qty,
             |       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
             |         AS sum_base_price,
             |       sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             |           * (100 - CAST(round(l_discount * 100) AS BIGINT)))
             |         / 10000.0 AS sum_disc_price,
             |       count(*) AS count_order
             |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, dir) => {
        val cents = round(col("l_extendedprice") * 100).cast("long")
        val discPct = round(col("l_discount") * 100).cast("long")
        T(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity")).as("sum_qty"),
            (sum(cents) / 100.0).as("sum_base_price"),
            (sum(cents * (lit(100L) - discPct)) / 10000.0)
              .as("sum_disc_price"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      }),

    Q("a6_state_delta",
      Some("""SELECT user_id, max(value) - min(value) AS value_delta,
             |       sum(CAST(round(value * 100) AS BIGINT)) / 100.0
             |         AS total_value,
             |       count(*) AS n_events
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) =>
        ev(s, dir).groupBy("user_id")
          .agg(
            (max("value") - min("value")).as("value_delta"),
            (sum(round(col("value") * 100).cast("long")) / 100.0)
              .as("total_value"),
            count(lit(1)).as("n_events"))
          .orderBy("user_id")),

    // ===== 2.7 joins / lookups ===============================================

    Q("j1_prestate_lookup",
      Some(s"""$txBase
             |SELECT ledger_sequence, tx_order, amount,
             |       lag(amount) OVER (PARTITION BY ledger_sequence
             |         ORDER BY tx_order) AS prev_amount
             |FROM tx ORDER BY ledger_sequence, tx_order""".stripMargin),
      (s, dir) =>
        // intra-row pre-state lookup: previous element of the sorted tx array
        LedgerFixtures.ledgers(s, dir)
          .select(col("ledger_sequence"),
            col("transactions"),
            posexplode(col("transactions")).as(Seq("pos", "tx")))
          .select(
            col("ledger_sequence"),
            (col("pos") + 1).cast("long").as("tx_order"),
            col("tx.amount").as("amount"),
            when(col("pos") > 0, expr("transactions[pos - 1].amount")).as("prev_amount"))
          .orderBy("ledger_sequence", "tx_order")),

    Q("j2_initiating_op",
      Some(s"""$txBase
             |SELECT ledger_sequence, tx_order,
             |       first_value(part_key) OVER (PARTITION BY ledger_sequence
             |         ORDER BY tx_order) AS initiator_part
             |FROM tx ORDER BY ledger_sequence, tx_order""".stripMargin),
      (s, dir) =>
        // intra-tx scan for the initiating (first) op: element_at(arr, 1)
        LedgerFixtures.ledgers(s, dir)
          .select(col("ledger_sequence"),
            element_at(col("transactions"), 1)("part_key").as("initiator_part"),
            posexplode(col("transactions")).as(Seq("pos", "tx")))
          .select(col("ledger_sequence"), (col("pos") + 1).cast("long").as("tx_order"),
            col("initiator_part"))
          .orderBy("ledger_sequence", "tx_order")),

    Q("j5_equi_join_revenue",
      Some("""SELECT n_name,
             |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
             |         AS total_price,
             |       count(*) AS n_orders
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) =>
        T(s, dir, "orders")
          .join(broadcast(T(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
          .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(
            (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0)
              .as("total_price"),
            count(lit(1)).as("n_orders"))
          .orderBy("n_name")),

    Q("j6_star_join",
      Some("""SELECT p_brand, s_name, sum(l_quantity) AS sum_qty, count(*) AS n
             |FROM lineitem
             |JOIN part ON l_partkey = p_partkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, dir) =>
        T(s, dir, "lineitem")
          .join(broadcast(T(s, dir, "part")), col("l_partkey") === col("p_partkey"))
          .join(broadcast(T(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .groupBy("p_brand", "s_name")
          .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
          .orderBy("p_brand", "s_name")),

    // ===== 2.8 set ops =======================================================

    Q("set_union_batches",
      Some("""SELECT o_orderstatus, count(*) AS n FROM (
             |  SELECT * FROM orders WHERE o_orderkey < 300
             |  UNION ALL SELECT * FROM orders WHERE o_orderkey >= 1200)
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val o = T(s, dir, "orders")
        o.where(col("o_orderkey") < 300)
          .unionAll(o.where(col("o_orderkey") >= 1200))
          .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
          .orderBy("o_orderstatus")
      }),

    // ===== 2.9 scalar functions ==============================================

    Q("fn_toid_roundtrip",
      Some("""SELECT (user_id << 32) | (event_id << 12) | (event_id % 4096) AS toid,
             |       ((user_id << 32) | (event_id << 12) | (event_id % 4096)) |
             |         (CAST(1 AS BIGINT) << 62) AS synthetic_offer_id,
             |       ((user_id << 32) | (event_id << 12) | (event_id % 4096)) >> 32 AS ledger_part,
             |       (((user_id << 32) | (event_id << 12) | (event_id % 4096)) >> 12)
             |         & 1048575 AS tx_part,
             |       ((user_id << 32) | (event_id << 12) | (event_id % 4096))
             |         & 4095 AS op_part
             |FROM events ORDER BY toid, op_part""".stripMargin),
      (s, dir) => {
        val t = GraftFunctions.toid(col("user_id"), col("event_id"), expr("event_id % 4096"))
        ev(s, dir).select(
            t.as("toid"),
            t.bitwiseOR(lit(1L << 62)).as("synthetic_offer_id"),
            GraftFunctions.toidLedger(t).as("ledger_part"),
            GraftFunctions.toidTxOrder(t).as("tx_part"),
            GraftFunctions.toidOpIndex(t).as("op_part"))
          .orderBy("toid", "op_part")
      }),

    Q("fn_checkpoint_math",
      Some("""SELECT event_id, (event_id + 1) % 64 = 0 AS is_checkpoint,
             |       (event_id + 1) - ((event_id + 1) % 64) - 1 AS latest_checkpoint,
             |       event_id // 64 AS batch_id
             |FROM events ORDER BY event_id""".stripMargin),
      (s, dir) =>
        ev(s, dir).select(
            col("event_id"),
            GraftFunctions.isCheckpoint(col("event_id")).as("is_checkpoint"),
            GraftFunctions.latestCheckpoint(col("event_id")).as("latest_checkpoint"),
            GraftFunctions.batchId(col("event_id")).as("batch_id"))
          .orderBy("event_id")),

    Q("fn_time_to_ledger",
      // SURVEY §3.3 get_ledger_range_from_times: the archive binary search
      // becomes a filtered min/max over the ledgers table; bucketing by
      // month generalizes it to a time→ledger-range map in one shuffle
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS bucket,
             |       min(o_orderkey) AS start_ledger,
             |       max(o_orderkey) AS end_ledger,
             |       count(*) AS ledger_count
             |FROM orders
             |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
             |                      AND TIMESTAMP '1998-12-31 23:59:59'
             |GROUP BY 1 ORDER BY bucket""".stripMargin),
      (s, dir) =>
        HistoryOps.ledgerRangeForTimes(
            T(s, dir, "orders").select(
              col("o_orderkey").as("ledger_sequence"),
              col("o_orderdate").as("closed_at")),
            to_timestamp(lit("1996-01-01 00:00:00")),
            to_timestamp(lit("1998-12-31 23:59:59")),
            date_format(col("closed_at"), "yyyy-MM"))
          .orderBy("bucket")),

    Q("fn_interval_asset_strings",
      Some("""SELECT p_partkey,
             |       CASE WHEN p_size < 5 THEN 'native'
             |            ELSE 'credit_alphanum4:' || p_brand || ':' || CAST(p_partkey AS VARCHAR)
             |       END AS asset_canonical,
             |       '[' || CAST(p_size AS VARCHAR) || ',' ||
             |         CAST(p_size + 10 AS VARCHAR) || ')' AS validity
             |FROM part ORDER BY p_partkey""".stripMargin),
      (s, dir) =>
        T(s, dir, "part").select(
            col("p_partkey"),
            GraftFunctions.assetCanonical(
              when(col("p_size") < 5, "native").otherwise("credit_alphanum4"),
              col("p_brand"), col("p_partkey").cast("string")).as("asset_canonical"),
            GraftFunctions.intervalString(col("p_size"), col("p_size") + 10).as("validity"))
          .orderBy("p_partkey")),

    Q("fn_sha256_hex",
      Some("""SELECT doc_id, sha256(text) AS text_sha256 FROM documents
             |ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        T(s, dir, "documents")
          .select(col("doc_id"), sha2(col("text"), 256).as("text_sha256"))
          .orderBy("doc_id")),

    Q("fn_stroops_conversion",
      Some(s"""$txBase
             |SELECT (ledger_sequence << 32) | (tx_order << 12) AS transaction_id,
             |       fee_charged, fee_charged / 10000000.0 AS fee_xlm,
             |       part_key / (source_account_key + 1) AS ratio
             |FROM tx ORDER BY transaction_id""".stripMargin),
      (s, dir) =>
        HistoryOps.historyTransactions(LedgerFixtures.ledgers(s, dir))
          .select(
            col("transaction_id"), col("fee_charged"),
            GraftFunctions.stroopsToXlm(col("fee_charged")).as("fee_xlm"),
            GraftFunctions.priceRatio(col("part_key"),
              col("source_account_key") + 1).as("ratio"))
          .orderBy("transaction_id")),

    // ===== 2.10 streaming (batch-equivalent windowed agg) ====================

    Q("st_window_hourly",
      Some("""SELECT epoch_us(ts) // 3600000000 AS hour_bucket, event_type,
             |       count(*) AS n,
             |       sum(CAST(round(value * 100) AS BIGINT)) / 100.0
             |         AS total_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, dir) =>
        ev(s, dir)
          .groupBy(expr("ts div 3600000000000").as("hour_bucket"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            (sum(round(col("value") * 100).cast("long")) / 100.0)
              .as("total_value"))
          .orderBy("hour_bucket", "event_type")),

    Q("x_sessionize",
      // gap-based sessions: DuckDB replays with gaps-and-islands (lag +
      // running sum); break on diff >= gap — session_window's half-open
      // [start, last+gap) means a touching event starts a NEW session
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us,
             |                  CAST(round(value * 100) AS BIGINT) AS cents
             |           FROM events),
             |m AS (SELECT user_id, us, cents,
             |        CASE WHEN lag(us) OVER w IS NULL
             |             OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
             |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
             |s AS (SELECT user_id, us, cents,
             |        sum(brk) OVER (PARTITION BY user_id ORDER BY us
             |          ROWS UNBOUNDED PRECEDING) AS sid
             |      FROM m)
             |SELECT user_id, count(*) AS n_events,
             |       min(us) AS session_start_us, max(us) AS session_end_us,
             |       CAST(sum(cents) AS BIGINT) AS value_cents
             |FROM s GROUP BY user_id, sid
             |ORDER BY user_id, session_start_us""".stripMargin),
      (s, dir) =>
        Sessionize.sessions(
            ev(s, dir).select(col("user_id"),
              timestamp_micros(expr("ts div 1000")).as("event_time"),
              round(col("value") * 100).cast("long").as("cents")),
            "user_id", col("event_time"), "30 minutes",
            aggs = Seq(sum(col("cents")).as("value_cents")))
          .select("user_id", "n_events", "session_start_us",
            "session_end_us", "value_cents")
          .orderBy("user_id", "session_start_us")),

    Q("x_asof_join",
      // as-of join: each view matched to the user's latest purchase at or
      // before it — DuckDB's native ASOF LEFT JOIN is the oracle, so the
      // union+window formulation must reproduce its semantics exactly
      // (inclusive boundary, null payloads for views with no prior
      // purchase)
      Some("""WITH v AS (SELECT user_id, event_id AS view_event_id,
             |                  epoch_us(ts) AS view_us
             |           FROM events WHERE event_type = 'view'),
             |p0 AS (SELECT user_id, epoch_us(ts) AS purchase_us,
             |              CAST(round(value * 100) AS BIGINT) AS cents, event_id
             |       FROM events WHERE event_type = 'purchase'),
             |p AS (SELECT user_id, purchase_us,
             |             arg_max(cents, event_id) AS purchase_cents
             |      FROM p0 GROUP BY user_id, purchase_us)
             |SELECT v.user_id, v.view_event_id, v.view_us,
             |       p.purchase_us, p.purchase_cents
             |FROM v ASOF LEFT JOIN p
             |  ON v.user_id = p.user_id AND v.view_us >= p.purchase_us
             |ORDER BY view_event_id""".stripMargin),
      (s, dir) => {
        val e = ev(s, dir)
        val views = e.where(col("event_type") === "view").select(
          col("user_id"), col("event_id").as("view_event_id"),
          expr("ts div 1000").as("view_us"))
        val purchases = e.where(col("event_type") === "purchase").select(
            col("user_id"), expr("ts div 1000").as("purchase_us"),
            round(col("value") * 100).cast("long").as("cents"),
            col("event_id"))
          .groupBy("user_id", "purchase_us")
          .agg(max_by(col("cents"), col("event_id")).as("purchase_cents"))
        Temporal.asofJoin(views, purchases, Seq("user_id"),
            "view_us", "purchase_us")
          .select("user_id", "view_event_id", "view_us",
            "purchase_us", "purchase_cents")
          .orderBy("view_event_id")
      }),

    Q("x_range_join",
      // range join via interval bucketization: views inside the hour after
      // each purchase, counted per purchase — the oracle is the plain
      // BETWEEN join, the Spark plan an equi-join on (user, bucket) with
      // no BroadcastNestedLoopJoin anywhere
      Some("""WITH v AS (SELECT user_id, epoch_us(ts) AS vt
             |           FROM events WHERE event_type = 'view'),
             |p AS (SELECT user_id, event_id AS purchase_event_id,
             |             epoch_us(ts) AS pt
             |      FROM events WHERE event_type = 'purchase')
             |SELECT p.purchase_event_id, count(*) AS n_views
             |FROM v JOIN p ON v.user_id = p.user_id
             |  AND v.vt BETWEEN p.pt AND p.pt + 3600000000
             |GROUP BY p.purchase_event_id ORDER BY purchase_event_id""".stripMargin),
      (s, dir) => {
        val e = ev(s, dir)
        val views = e.where(col("event_type") === "view")
          .select(col("user_id"), expr("ts div 1000").as("vt"))
        val purchases = e.where(col("event_type") === "purchase").select(
          col("user_id"), col("event_id").as("purchase_event_id"),
          expr("ts div 1000").as("pt"),
          (expr("ts div 1000") + 3600000000L).as("pt_end"))
        Temporal.rangeJoinBucketed(views, purchases, Seq("user_id"),
            "vt", "pt", "pt_end", bucketWidth = 3600000000L)
          .groupBy("purchase_event_id")
          .agg(count(lit(1)).as("n_views"))
          .orderBy("purchase_event_id")
      }),

    // ===== extensions: dedup =================================================

    Q("x_dedup_exact",
      Some("""SELECT sha256(text) AS content_hash, min(doc_id) AS doc_id,
             |       count(*) AS duplicate_count
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) =>
        Dedup.exact(T(s, dir, "documents").select("doc_id", "text"), "text", "doc_id")
          .select("content_hash", "doc_id", "duplicate_count")
          .orderBy("content_hash")),

    Q("x_jaccard_pairs",
      Some(s"""WITH w AS (
             |  SELECT doc_id,
             |         list_distinct(string_split_regex(
             |           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS toks
             |  FROM documents WHERE doc_id < 300),
             |g AS (SELECT doc_id, unnest(toks) AS gram FROM w),
             |sz AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1),
             |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
             |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
             |      GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |       inter / (sa.n_grams + sb.n_grams - inter) AS jaccard
             |FROM p JOIN sz sa ON p.id_a = sa.doc_id
             |       JOIN sz sb ON p.id_b = sb.doc_id
             |WHERE inter / (sa.n_grams + sb.n_grams - inter) >= 0.5
             |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) =>
        Dedup.ngramJaccardPairs(
            T(s, dir, "documents").where(col("doc_id") < 300),
            "text", "doc_id", n = 1, threshold = 0.5)
          .orderBy("id_a", "id_b")),

    Q("x_dedup_clusters",
      // connected components over the >=0.5-Jaccard pair graph, re-derived
      // in DuckDB with a recursive min-label-closure CTE: cc accumulates
      // every (vertex, smaller-connected-label) pair to fixpoint, so
      // min(label) per vertex is the component minimum — exactly what the
      // Spark label-propagation loop converges to
      Some(s"""WITH RECURSIVE w AS (
             |  SELECT doc_id,
             |         list_distinct(string_split_regex(
             |           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS toks
             |  FROM documents WHERE doc_id < 300),
             |g AS (SELECT doc_id, unnest(toks) AS gram FROM w),
             |sz AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1),
             |p0 AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
             |       FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
             |       GROUP BY 1, 2),
             |p AS (SELECT a, b
             |      FROM p0 JOIN sz sa ON p0.a = sa.doc_id
             |              JOIN sz sb ON p0.b = sb.doc_id
             |      WHERE inter / (sa.n_grams + sb.n_grams - inter) >= 0.5),
             |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
             |cc AS (
             |  SELECT doc_id AS v, doc_id AS label FROM w
             |  UNION
             |  SELECT e.b, cc.label FROM cc JOIN e ON e.a = cc.v
             |  WHERE cc.label < e.b)
             |SELECT CAST(v AS BIGINT) AS doc_id,
             |       CAST(min(label) AS BIGINT) AS cluster_id
             |FROM cc GROUP BY v ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = T(s, dir, "documents").where(col("doc_id") < 300)
        Dedup.dupClusters(docs, "doc_id",
            Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 1,
              threshold = 0.5),
            // pair grain is the generator's groupBy(id_a, id_b) key with
            // id_a < id_b — distinct by construction, distinct elided
            "id_a", "id_b", pairsDistinct = true)
          .select(col("doc_id"), col("cluster_id"))
          .orderBy("doc_id")
      }),

    Q("x_dedup_clusters_logn",
      // the SAME component problem solved by the large-star/small-star
      // alternation (O(log n) rounds — the adversarial-diameter variant);
      // the oracle is the identical recursive min-label closure, so both
      // algorithms must land on the identical component minima
      Some(s"""WITH RECURSIVE w AS (
             |  SELECT doc_id,
             |         list_distinct(string_split_regex(
             |           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS toks
             |  FROM documents WHERE doc_id < 300),
             |g AS (SELECT doc_id, unnest(toks) AS gram FROM w),
             |sz AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1),
             |p0 AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
             |       FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
             |       GROUP BY 1, 2),
             |p AS (SELECT a, b
             |      FROM p0 JOIN sz sa ON p0.a = sa.doc_id
             |              JOIN sz sb ON p0.b = sb.doc_id
             |      WHERE inter / (sa.n_grams + sb.n_grams - inter) >= 0.5),
             |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
             |cc AS (
             |  SELECT doc_id AS v, doc_id AS label FROM w
             |  UNION
             |  SELECT e.b, cc.label FROM cc JOIN e ON e.a = cc.v
             |  WHERE cc.label < e.b)
             |SELECT CAST(v AS BIGINT) AS doc_id,
             |       CAST(min(label) AS BIGINT) AS cluster_id
             |FROM cc GROUP BY v ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = T(s, dir, "documents").where(col("doc_id") < 300)
        Dedup.dupClustersAlternating(docs, "doc_id",
            Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 1,
              threshold = 0.5),
            // same generator contract as x_dedup_clusters: distinct elided
            "id_a", "id_b", pairsDistinct = true)
          .select(col("doc_id"), col("cluster_id"))
          .orderBy("doc_id")
      }),

    Q("x_dedup_embedding",
      // embedding-cosine near-dup clusters: the integer-quantized cosine
      // test (dot²·25 ≥ 4·|a|²·|b|² ⇔ cos ≥ 0.4) re-run verbatim in
      // DuckDB (HUGEINT), then the same recursive label closure as
      // x_dedup_clusters
      Some("""WITH RECURSIVE e AS (
             |  SELECT vec_id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS v
             |  FROM embeddings WHERE vec_id < 200),
             |n AS (SELECT vec_id, v,
             |        CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
             |      FROM e),
             |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
             |        CAST(list_sum(list_transform(range(1, len(a.v)+1),
             |          i -> a.v[i]*b.v[i])) AS BIGINT) AS dot,
             |        a.n2 AS na, b.n2 AS nb
             |      FROM n a JOIN n b ON a.vec_id < b.vec_id),
             |pr AS (SELECT ia, ib FROM p
             |       WHERE dot > 0 AND CAST(dot AS HUGEINT)*dot*25 >=
             |             CAST(na AS HUGEINT)*nb*4),
             |ed AS (SELECT ia AS a, ib AS b FROM pr
             |       UNION SELECT ib, ia FROM pr),
             |cc AS (
             |  SELECT vec_id AS vtx, vec_id AS label FROM e
             |  UNION
             |  SELECT ed.b, cc.label FROM cc JOIN ed ON ed.a = cc.vtx
             |  WHERE cc.label < ed.b)
             |SELECT CAST(vtx AS BIGINT) AS vec_id,
             |       CAST(min(label) AS BIGINT) AS cluster_id
             |FROM cc GROUP BY vtx ORDER BY vec_id""".stripMargin),
      (s, dir) => {
        val emb = T(s, dir, "embeddings").where(col("vec_id") < 200)
        Dedup.dupClusters(emb.select("vec_id"), "vec_id",
            Dedup.cosineDupPairs(emb, "vec_id", "embedding",
              cosNum = 4, cosDen = 25),
            // generator joins on id_a < id_b over unique ids: distinct
            // by construction, distinct elided
            "id_a", "id_b", pairsDistinct = true)
          .select(col("vec_id"), col("cluster_id"))
          .orderBy("vec_id")
      }),

    Q("x_dedup_semantic",
      // SemDeDup (Abbas et al. 2023): cells bound the quadratic pair work
      // — DuckDB re-derives the lowest-id centroids, the strict-< integer
      // cell argmin (the IVF routing laws), the hot-cell id-modulus shard
      // law (cap 64), the WITHIN-(cell, shard) pair set, the exact integer
      // cosine threshold (HUGEINT), and the greedy keep-lowest verdict, so
      // a wrong cell, shard, missed pair or wrong representative
      // hash-mismatches
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding,
             |            x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS v
             |           FROM embeddings WHERE vec_id < 300),
             |n AS (SELECT vec_id, v,
             |        CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
             |      FROM e),
             |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
             |         FROM e ORDER BY vec_id LIMIT 8),
             |a AS (SELECT e.vec_id, arg_min(c.cid,
             |        CAST(list_sum(list_transform(range(1, len(e.v)+1),
             |           i -> (e.v[i]-c.v[i])*(e.v[i]-c.v[i]))) AS BIGINT) * 8
             |          + c.cid) AS cell
             |      FROM e, cent c GROUP BY e.vec_id),
             |cs AS (SELECT cell, count(*) AS csz FROM a GROUP BY cell),
             |sa AS (SELECT a.vec_id, a.cell,
             |         a.vec_id % GREATEST(1, CAST(ceil(csz / 64.0) AS BIGINT))
             |           AS shard
             |       FROM a JOIN cs USING (cell)),
             |p AS (SELECT y.vec_id AS ib, x.vec_id AS ia,
             |        CAST(list_sum(list_transform(range(1, len(nx.v)+1),
             |          i -> nx.v[i]*ny.v[i])) AS BIGINT) AS dot,
             |        nx.n2 AS na, ny.n2 AS nb
             |      FROM sa x JOIN sa y ON x.cell = y.cell
             |        AND x.shard = y.shard AND x.vec_id < y.vec_id
             |      JOIN n nx ON nx.vec_id = x.vec_id
             |      JOIN n ny ON ny.vec_id = y.vec_id),
             |d AS (SELECT ib, MIN(ia) AS dup_of FROM p
             |      WHERE dot > 0 AND CAST(dot AS HUGEINT)*dot*25 >=
             |            CAST(na AS HUGEINT)*nb*4
             |      GROUP BY ib)
             |SELECT a.vec_id, a.cell, d.dup_of IS NOT NULL AS is_dup, d.dup_of
             |FROM a LEFT JOIN d ON d.ib = a.vec_id
             |ORDER BY a.vec_id""".stripMargin),
      (s, dir) => {
        val emb = T(s, dir, "embeddings").where(col("vec_id") < 300)
        Dedup.semanticDedup(emb, "vec_id", "embedding",
            nCells = 8, cosNum = 4, cosDen = 25)
          .select(col("id").as("vec_id"), col("cell"),
            col("is_dup"), col("dup_of"))
          .orderBy("vec_id")
      }),

    Q("x_dedup_embedding_lsh",
      // the SCALE path: the same integer cosine test restricted to
      // hyperplane-LSH bucket collisions. DuckDB re-derives the ±1
      // Rademacher planes from sha256 parity (bit-identical to the JVM
      // MessageDigest the Spark literals come from), rebuilds every
      // (table, bucket) key, applies the SAME hot-bucket sub-salt
      // (cap 64: shard = (vec_id // (t+1)) % ceil(size/64)), joins on
      // (t, bucket, shard), and runs the identical HUGEINT threshold +
      // label closure on colliding pairs only — so bucket drift of a
      // single plane sign or a shard-law mismatch hash-fails
      Some("""WITH RECURSIVE e AS (
             |  SELECT vec_id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS v
             |  FROM embeddings),
             |n AS (SELECT vec_id, v,
             |        CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
             |      FROM e),
             |w AS (SELECT t.t, p.p, d.d,
             |        CASE WHEN substr(sha256(concat(t.t,':',p.p,':',d.d)),1,1)
             |             IN ('0','2','4','6','8','a','c','e') THEN 1 ELSE -1 END AS w
             |      FROM range(0,4) t(t), range(0,6) p(p), range(0,64) d(d)),
             |proj AS (SELECT e.vec_id, w.t, w.p, sum(e.v[w.d+1]*w.w) AS proj
             |         FROM e, w GROUP BY 1,2,3),
             |bk AS (SELECT vec_id, t,
             |         CAST(sum(CASE WHEN proj > 0 THEN 1<<p ELSE 0 END) AS BIGINT) AS bucket
             |       FROM proj GROUP BY 1,2),
             |bsz AS (SELECT t, bucket, count(*) AS c FROM bk GROUP BY 1,2),
             |bks AS (SELECT bk.vec_id, bk.t, bk.bucket,
             |          (bk.vec_id // (bk.t+1)) %
             |            greatest(1, CAST(ceil(c/64.0) AS BIGINT)) AS shard
             |        FROM bk JOIN bsz ON bk.t = bsz.t AND bk.bucket = bsz.bucket),
             |cand AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
             |         FROM bks a JOIN bks b ON a.t = b.t AND a.bucket = b.bucket
             |           AND a.shard = b.shard AND a.vec_id < b.vec_id),
             |p AS (SELECT cand.ia, cand.ib,
             |        CAST(list_sum(list_transform(range(1, len(a.v)+1),
             |          i -> a.v[i]*b.v[i])) AS BIGINT) AS dot,
             |        a.n2 AS na, b.n2 AS nb
             |      FROM cand JOIN n a ON cand.ia = a.vec_id
             |                JOIN n b ON cand.ib = b.vec_id),
             |pr AS (SELECT ia, ib FROM p
             |       WHERE dot > 0 AND CAST(dot AS HUGEINT)*dot*25 >=
             |             CAST(na AS HUGEINT)*nb*4),
             |ed AS (SELECT ia AS a, ib AS b FROM pr
             |       UNION SELECT ib, ia FROM pr),
             |cc AS (
             |  SELECT vec_id AS vtx, vec_id AS label FROM e
             |  UNION
             |  SELECT ed.b, cc.label FROM cc JOIN ed ON ed.a = cc.vtx
             |  WHERE cc.label < ed.b)
             |SELECT CAST(vtx AS BIGINT) AS vec_id,
             |       CAST(min(label) AS BIGINT) AS cluster_id
             |FROM cc GROUP BY vtx ORDER BY vec_id""".stripMargin),
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        Dedup.dupClusters(emb.select("vec_id"), "vec_id",
            Dedup.cosineDupPairsLsh(emb, "vec_id", "embedding",
              cosNum = 4, cosDen = 25, dim = 64, bits = 6, tables = 4),
            // generator dedups candidates before scoring: distinct by
            // construction, distinct elided
            "id_a", "id_b", pairsDistinct = true)
          .select(col("vec_id"), col("cluster_id"))
          .orderBy("vec_id")
      }),

    Q("x_sample_capped",
      // per-source document cap: the k lowest sha-prefix sampling keys
      // win per source — DuckDB replays the identical window law, so the
      // kept row SET matches bit-for-bit
      Some("""SELECT doc_id, source FROM (
             |  SELECT doc_id, source,
             |         row_number() OVER (PARTITION BY source
             |           ORDER BY substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8),
             |                    doc_id) AS rn
             |  FROM documents) WHERE rn <= 15
             |ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        Sampling.capPerKey(T(s, dir, "documents"), "doc_id", "source", k = 15)
          .select("doc_id", "source")
          .orderBy("doc_id")),

    Q("x_sample_stratified",
      // hash-threshold mixing: DuckDB replays the identical sha256-prefix
      // predicate, so the kept row set matches bit-for-bit
      Some(s"""SELECT doc_id, lang FROM documents
             |WHERE substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8) <
             |  CASE lang WHEN 'en' THEN '${Sampling.thresholdHex(0.5)}'
             |            WHEN 'de' THEN '${Sampling.thresholdHex(0.25)}'
             |            WHEN 'zh' THEN '${Sampling.thresholdHex(1.0)}'
             |            ELSE '${Sampling.thresholdHex(0.1)}' END
             |ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        Sampling.stratified(T(s, dir, "documents"), "doc_id", "lang",
            Map("en" -> 0.5, "de" -> 0.25, "zh" -> 1.0), defaultRate = 0.1)
          .select("doc_id", "lang")
          .orderBy("doc_id")),

    Q("x_jaccard_dfcut", // scale variant: hot grams (>10% of corpus) blacklisted
      Some(s"""WITH w AS (
             |  SELECT doc_id,
             |         list_distinct(string_split_regex(
             |           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS toks
             |  FROM documents),
             |g0 AS (SELECT doc_id, unnest(toks) AS gram FROM w),
             |hot AS (SELECT gram FROM g0 GROUP BY 1
             |        HAVING count(*) > greatest(1, CAST(floor(
             |          (SELECT count(*) FROM documents) * 0.1) AS BIGINT))),
             |g AS (SELECT g0.doc_id, g0.gram FROM g0 ANTI JOIN hot USING (gram)),
             |sz AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1),
             |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
             |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
             |      GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |       inter / (sa.n_grams + sb.n_grams - inter) AS jaccard
             |FROM p JOIN sz sa ON p.id_a = sa.doc_id
             |       JOIN sz sb ON p.id_b = sb.doc_id
             |WHERE inter / (sa.n_grams + sb.n_grams - inter) >= 0.5
             |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) =>
        // stopword-grade is relative: prune grams in >10% of the corpus
        // (absolute cuts go degenerate as the corpus grows); the threshold is
        // computed in-plan — no driver-side count at plan-build time
        // NOTE (r21, measured): parLeaf here REGRESSED (1.38 → 1.48-1.68 s
        // isolated, interleaved A/B) — the repartition ships full TEXT and
        // the gram explode feeds an exchange anyway, so the single-task
        // shingle kernel is cheaper than the extra exchange + 32-task
        // scheduling of every downstream stage
        Dedup.ngramJaccardPairsWithDfCut(T(s, dir, "documents"),
            "text", "doc_id", n = 1, threshold = 0.5,
            maxDfFraction = Some(0.1))
          .orderBy("id_a", "id_b")),

    Q("x_dedup_substring",
      // exact substring-duplication spans (Lee et al. ExactSubstr at word
      // 5-gram grain): a position is duplicated when its 5-word window also
      // occurs in another doc; overlapping windows merge into maximal
      // [start,end) token spans. The oracle replays positional windows,
      // the min≠max cross-doc window test, and the gaps-and-islands merge.
      Some("""WITH w AS (SELECT doc_id,
             |         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
             |           ' ') AS ws
             |       FROM documents),
             |p0 AS (SELECT doc_id, len(ws) AS n_tokens,
             |         CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
             |              ELSE list_transform(range(1, CAST(len(ws)-3 AS INTEGER)),
             |                i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4])
             |         END AS grams
             |       FROM w),
             |p AS (SELECT doc_id, n_tokens,
             |        unnest(range(0, CAST(len(grams) AS INTEGER))) AS pos,
             |        unnest(grams) AS gram
             |      FROM p0),
             |d AS (SELECT doc_id, n_tokens, pos,
             |        min(doc_id) OVER (PARTITION BY gram)
             |          <> max(doc_id) OVER (PARTITION BY gram) AS dup
             |      FROM p),
             |h AS (SELECT doc_id, n_tokens, pos FROM d WHERE dup),
             |i AS (SELECT *, CASE WHEN pos - lag(pos) OVER
             |          (PARTITION BY doc_id ORDER BY pos) > 5
             |        THEN 1 ELSE 0 END AS brk FROM h),
             |j AS (SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
             |        ROWS UNBOUNDED PRECEDING) AS island FROM i),
             |sp AS (SELECT doc_id, island, max(n_tokens) AS n_tokens,
             |         min(pos) AS s, least(max(pos) + 5, max(n_tokens)) AS e
             |       FROM j GROUP BY 1, 2)
             |SELECT doc_id,
             |  CAST(count(*) AS BIGINT) AS n_spans,
             |  CAST(sum(e - s) AS BIGINT) AS dup_tokens,
             |  CAST(max(n_tokens) AS BIGINT) AS total_tokens,
             |  string_agg(CAST(s AS BIGINT) || '-' || CAST(e AS BIGINT), ','
             |    ORDER BY s) AS spans,
             |  CAST(sum(e - s) AS DOUBLE) / greatest(max(n_tokens), 1) AS dup_ratio
             |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        // NOTE (r21, measured): parLeaf here REGRESSED (0.72 → 0.74-0.84 s
        // isolated, interleaved A/B) — same text-shipping trade as
        // x_jaccard_dfcut; after the native sha63 memo the single-task
        // window build no longer pays for the exchange
        Dedup.substringSpans(T(s, dir, "documents"), "text", "doc_id", k = 5)
          .orderBy("doc_id")),

    Q("x_minhash_lsh",
      // full hash oracle: DuckDB re-derives shingles, the 16 salted-sha
      // minhash signature slots, band collisions (joining on the band VALUE
      // slice — Spark's band xxhash is just a narrower key for the same
      // equality), and exact Jaccard on the candidates
      Some("""WITH d AS (SELECT doc_id,
             |            trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
             |           FROM documents WHERE doc_id < 500),
             |w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM d),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(words) < 3
             |          THEN [array_to_string(words, ' ')]
             |          ELSE list_transform(range(1, CAST(len(words)-1 AS INTEGER)),
             |                 i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
             |          END) AS sh FROM w),
             |sig AS (SELECT doc_id,
             |         list_transform(range(0, 16), s ->
             |           list_min(list_transform(sh, x ->
             |             (CAST(concat('0x', substr(sha256(x || ':' || s), 1, 8))
             |                AS BIGINT) & 2147483647) * 4294967296
             |             + CAST(concat('0x', substr(sha256(x || ':' || s), 9, 8))
             |                AS BIGINT)))) AS sig
             |        FROM sh),
             |band AS (SELECT doc_id, r.b AS b,
             |           sig[CAST(r.b*2+1 AS INTEGER)] AS h1,
             |           sig[CAST(r.b*2+2 AS INTEGER)] AS h2
             |         FROM sig CROSS JOIN range(0, 8) r(b)),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
             |         FROM band a JOIN band c USING (b, h1, h2)
             |         WHERE a.doc_id < c.doc_id),
             |v AS (SELECT id_a, id_b,
             |        len(list_intersect(sa.sh, sb.sh)) AS inter,
             |        len(sa.sh) AS la, len(sb.sh) AS lb
             |      FROM cand
             |      JOIN sh sa ON sa.doc_id = id_a
             |      JOIN sh sb ON sb.doc_id = id_b)
             |SELECT id_a, id_b,
             |  CAST(CASE WHEN la + lb - inter = 0 THEN 1.0
             |       ELSE inter / (la + lb - inter) END AS DOUBLE) AS jaccard
             |FROM v
             |WHERE CASE WHEN la + lb - inter = 0 THEN 1.0
             |      ELSE inter / (la + lb - inter) END >= 0.5
             |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) =>
        Dedup.minHashLsh(T(s, dir, "documents").where(col("doc_id") < 500),
            "text", "doc_id", shingleSize = 3, bands = 8, rowsPerBand = 2,
            threshold = 0.5)
          .orderBy("id_a", "id_b")),

    Q("x_simhash",
      // full hash oracle: DuckDB re-derives the sha-256-based token hashes,
      // per-bit vote sums, and the signed 64-bit fingerprint from scratch —
      // nibble i//4 of the 16-hex prefix holds bit i, the sign bit comes
      // back via the HUGEINT two's-complement fold
      Some("""WITH d AS (SELECT doc_id,
             |            trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
             |           FROM documents),
             |toks AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS t FROM d),
             |h AS (SELECT doc_id, substr(sha256(t), 1, 16) AS hx FROM toks),
             |bits AS (
             |  SELECT doc_id, r.i AS i,
             |    sum(CASE WHEN (CAST(concat('0x',
             |          substr(h.hx, CAST(16 - r.i // 4 AS INTEGER), 1))
             |          AS INTEGER) >> CAST(r.i % 4 AS INTEGER)) & 1 = 1
             |        THEN 1 ELSE -1 END) AS s
             |  FROM h CROSS JOIN range(64) r(i)
             |  GROUP BY doc_id, r.i),
             |fp AS (
             |  SELECT doc_id,
             |    sum(CASE WHEN s > 0
             |        THEN 1::HUGEINT << CAST(i AS INTEGER)
             |        ELSE 0::HUGEINT END) AS u,
             |    CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pop
             |  FROM bits GROUP BY doc_id)
             |SELECT doc_id,
             |  CAST(CASE WHEN u >= 1::HUGEINT << 63
             |       THEN u - (1::HUGEINT << 64) ELSE u END AS BIGINT) AS simhash,
             |  pop AS hamming_to_zero
             |FROM fp ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        T(s, dir, "documents")
          .select(col("doc_id"), Dedup.simHash64(col("text")).as("simhash"))
          .withColumn("hamming_to_zero", Dedup.hamming64(col("simhash"), lit(0L)))
          .orderBy("doc_id")),

    Q("x_simhash_pairs",
      // SimHash near-dup pair join (Manku et al. 2007): fingerprints within
      // hamming ≤ 3 must share one of 4 disjoint 16-bit bands (pigeonhole
      // — deterministic recall, unlike the probabilistic LSH bands), so
      // candidates are a (band, key) equi-join + exact popcount verify.
      // DuckDB re-derives the fingerprints from scratch (the x_simhash
      // law), the band keys off the unsigned HUGEINT image, the SAME
      // hot-band sub-salt (cap 64, per-band id-modulus shards), and the
      // xor/bit_count verify — band drift, a shard-law mismatch or a
      // popcount bug all hash-fail
      Some("""WITH d AS (SELECT doc_id,
             |            trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
             |           FROM documents),
             |toks AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS t FROM d),
             |h AS (SELECT doc_id, substr(sha256(t), 1, 16) AS hx FROM toks),
             |bits AS (
             |  SELECT doc_id, r.i AS i,
             |    sum(CASE WHEN (CAST(concat('0x',
             |          substr(h.hx, CAST(16 - r.i // 4 AS INTEGER), 1))
             |          AS INTEGER) >> CAST(r.i % 4 AS INTEGER)) & 1 = 1
             |        THEN 1 ELSE -1 END) AS s
             |  FROM h CROSS JOIN range(64) r(i)
             |  GROUP BY doc_id, r.i),
             |fp0 AS (
             |  SELECT doc_id,
             |    sum(CASE WHEN s > 0
             |        THEN 1::HUGEINT << CAST(i AS INTEGER)
             |        ELSE 0::HUGEINT END) AS u
             |  FROM bits GROUP BY doc_id),
             |f AS (SELECT doc_id, u,
             |        CAST(CASE WHEN u >= 1::HUGEINT << 63
             |             THEN u - (1::HUGEINT << 64) ELSE u END AS BIGINT) AS fp
             |      FROM fp0),
             |bk AS (SELECT doc_id, fp, b.b AS band,
             |         CAST((u >> CAST(b.b * 16 AS INTEGER)) & 65535 AS BIGINT) AS key
             |       FROM f CROSS JOIN range(4) b(b)),
             |sz AS (SELECT band, key, count(*) AS bsz FROM bk GROUP BY 1, 2),
             |sh AS (SELECT bk.doc_id, bk.fp, bk.band, bk.key,
             |         (bk.doc_id // (bk.band + 1)) %
             |           greatest(1, CAST(ceil(bsz / 64.0) AS BIGINT)) AS shard
             |       FROM bk JOIN sz USING (band, key)),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             |           bit_count(xor(a.fp, b.fp)) AS hamming
             |         FROM sh a JOIN sh b ON a.band = b.band AND a.key = b.key
             |           AND a.shard = b.shard AND a.doc_id < b.doc_id)
             |SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3
             |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) =>
        Dedup.simHashDupPairs(T(s, dir, "documents"), "text", "doc_id",
            maxHam = 3, bucketCap = 64)
          .orderBy("id_a", "id_b")),

    // ===== extensions: similarity search =====================================

    Q("x_sim_dot_topk",
      Some("""WITH q AS (SELECT vec_id,
             |            list_transform(embedding,
             |              x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS v
             |           FROM embeddings WHERE vec_id < 5),
             |c AS (SELECT vec_id,
             |        list_transform(embedding,
             |          x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS v
             |      FROM embeddings),
             |d AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |        CAST(list_sum(list_transform(range(1, len(q.v)+1),
             |          i -> q.v[i]*c.v[i])) AS BIGINT) AS dot
             |      FROM q, c WHERE q.vec_id <> c.vec_id)
             |SELECT query_id, neighbor_id, dot,
             |       CAST(row_number() OVER (PARTITION BY query_id
             |         ORDER BY dot DESC, neighbor_id) AS BIGINT) AS rank
             |FROM d QUALIFY rank <= 3 ORDER BY query_id, rank""".stripMargin),
      (s, dir) => {
        val quant = (c: Column) =>
          transform(c, x => round(x.cast("double") * 10000).cast("long"))
        val emb = T(s, dir, "embeddings").select(col("vec_id"), quant(col("embedding")).as("v"))
        val q = emb.where(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        val scored = emb.crossJoin(broadcast(q))
          .where(col("query_id") =!= col("vec_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            aggregate(zip_with(col("qv"), col("v"), (a, b) => a * b),
              lit(0L), (acc, x) => acc + x).as("dot"))
        val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("neighbor_id"))
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 3)
          .orderBy("query_id", "rank")
      }),

    Q("x_sim_cosine_bruteforce",
      // promoted from rows-only: the exact-integer rank variant — DuckDB
      // re-derives the quantized dot/n2 and replays the identical IEEE
      // sign(dot)·dot²/n2 rank key, so ordering (incl. the neighbor-id
      // tie-break) and the exact integer outputs hash-match
      Some("""WITH q AS (SELECT vec_id AS query_id,
             |            list_transform(embedding,
             |              x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
             |           FROM embeddings WHERE vec_id < 5),
             |c AS (SELECT vec_id AS neighbor_id,
             |        list_transform(embedding,
             |          x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS cv
             |      FROM embeddings),
             |n AS (SELECT neighbor_id, cv,
             |        CAST(list_sum(list_transform(cv, x -> x*x)) AS BIGINT) AS n2
             |      FROM c),
             |s AS (SELECT q.query_id, n.neighbor_id, n.n2,
             |        CAST(list_sum(list_transform(range(1, len(qv)+1),
             |          i -> qv[i]*cv[i])) AS BIGINT) AS dot
             |      FROM n, q WHERE query_id != neighbor_id),
             |r AS (SELECT query_id, neighbor_id, dot, n2,
             |        row_number() OVER (PARTITION BY query_id ORDER BY
             |          CASE WHEN n2 = 0 THEN -1.7976931348623157e308
             |               WHEN dot < 0 THEN -(CAST(dot AS DOUBLE)*CAST(dot AS DOUBLE)
             |                                   /CAST(n2 AS DOUBLE))
             |               ELSE CAST(dot AS DOUBLE)*CAST(dot AS DOUBLE)
             |                    /CAST(n2 AS DOUBLE) END DESC,
             |          neighbor_id ASC) AS rank
             |      FROM s)
             |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, dot, n2
             |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        Similarity.bruteForceTopKExact(
            emb, "vec_id", "embedding",
            emb.where(col("vec_id") < 5).select(col("vec_id").as("qid"),
              col("embedding").as("qvec")),
            "qid", "qvec", k = 5)
          .orderBy("query_id", "rank")
      }),

    Q("x_sim_ivf_topk",
      // promoted from rows-only: the exact-integer IVF variant — DuckDB
      // re-derives the lowest-id quantized centroids, the integer-L2
      // argmin assignment (arg_min on the [dist, cid] composite = the
      // strict-< earliest-wins fold), the nprobe probe pruning, and the
      // sign(dot)·dot²/n2 ranking, so a wrong cell or probe set
      // hash-mismatches, not just a wrong neighbor
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding,
             |            x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS v
             |           FROM embeddings),
             |n AS (SELECT vec_id, v,
             |        CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
             |      FROM e),
             |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
             |         FROM e ORDER BY vec_id LIMIT 16),
             |a AS (SELECT e.vec_id, arg_min(c.cid,
             |        CAST(list_sum(list_transform(range(1, len(e.v)+1),
             |           i -> (e.v[i]-c.v[i])*(e.v[i]-c.v[i]))) AS BIGINT) * 16
             |          + c.cid) AS cell
             |      FROM e, cent c GROUP BY e.vec_id),
             |qp AS (SELECT q.vec_id AS query_id, c.cid AS cell,
             |         row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |           CAST(list_sum(list_transform(range(1, len(q.v)+1),
             |             i -> (q.v[i]-c.v[i])*(q.v[i]-c.v[i]))) AS BIGINT),
             |           c.cid) AS pr
             |       FROM e q, cent c WHERE q.vec_id < 5),
             |s AS (SELECT qp.query_id, a.vec_id AS neighbor_id, nn.n2,
             |        CAST(list_sum(list_transform(range(1, len(qn.v)+1),
             |          i -> qn.v[i]*nn.v[i])) AS BIGINT) AS dot
             |      FROM qp JOIN a ON qp.cell = a.cell AND qp.pr <= 4
             |      JOIN n qn ON qn.vec_id = qp.query_id
             |      JOIN n nn ON nn.vec_id = a.vec_id
             |      WHERE qp.query_id != a.vec_id),
             |r AS (SELECT query_id, neighbor_id, dot, n2,
             |        row_number() OVER (PARTITION BY query_id ORDER BY
             |          CASE WHEN n2 = 0 THEN -1.7976931348623157e308
             |               WHEN dot < 0 THEN -(CAST(dot AS DOUBLE)*CAST(dot AS DOUBLE)
             |                                   /CAST(n2 AS DOUBLE))
             |               ELSE CAST(dot AS DOUBLE)*CAST(dot AS DOUBLE)
             |                    /CAST(n2 AS DOUBLE) END DESC,
             |          neighbor_id ASC) AS rank
             |      FROM s)
             |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, dot, n2
             |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        Similarity.ivfTopKExact(
            emb, "vec_id", "embedding",
            emb.where(col("vec_id") < 5).select(col("vec_id").as("qid"),
              col("embedding").as("qvec")),
            "qid", "qvec", k = 5, nCells = 16, nprobe = 4)
          .orderBy("query_id", "rank")
      }),

    Q("x_sim_pq_topk",
      // product-quantization ADC search: DuckDB re-derives the per-subspace
      // codebooks (subvectors of the 16 lowest-id quantized vectors), the
      // strict-< earliest-wins encode argmin (row_number over (d, j)), and
      // the ADC sum as a join of the code table against the query's
      // sub-distance table — a wrong code, LUT cell or rank hash-mismatches
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding,
             |            x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS v
             |           FROM embeddings),
             |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v
             |       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
             |sd AS (SELECT ev.vec_id, cw.j, t.s,
             |         CAST(list_sum(list_transform(range(1, 9),
             |           i -> (ev.v[CAST(t.s*8+i AS INTEGER)] - cw.v[CAST(t.s*8+i AS INTEGER)])
             |              * (ev.v[CAST(t.s*8+i AS INTEGER)] - cw.v[CAST(t.s*8+i AS INTEGER)])))
             |           AS BIGINT) AS d
             |       FROM e ev, cb cw, range(0, 8) t(s)),
             |codes AS (SELECT vec_id, s, j AS code FROM (
             |            SELECT vec_id, s, j, row_number() OVER
             |              (PARTITION BY vec_id, s ORDER BY d, j) AS rn FROM sd)
             |          WHERE rn = 1),
             |adc AS (SELECT qd.vec_id AS query_id, c.vec_id AS neighbor_id,
             |          CAST(sum(qd.d) AS BIGINT) AS adc_dist
             |        FROM codes c JOIN sd qd ON qd.s = c.s AND qd.j = c.code
             |        WHERE qd.vec_id < 8 AND qd.vec_id <> c.vec_id
             |        GROUP BY 1, 2),
             |r AS (SELECT query_id, neighbor_id, adc_dist,
             |        row_number() OVER (PARTITION BY query_id
             |          ORDER BY adc_dist, neighbor_id) AS rank FROM adc)
             |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_dist
             |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        Similarity.pqTopKExact(
            emb, "vec_id", "embedding",
            emb.where(col("vec_id") < 8).select(col("vec_id").as("qid"),
              col("embedding").as("qvec")),
            "qid", "qvec", k = 5, m = 8, codewords = 16)
          .orderBy("query_id", "rank")
      }),

    Q("x_sim_ivf_pq_topk",
      // IVF×PQ composition: DuckDB re-derives the centroids + strict-<
      // cell argmin and the nprobe probe set (the x_sim_ivf_topk laws),
      // the per-subspace codebooks + code argmin and the ADC LUT sum (the
      // x_sim_pq_topk laws), and prunes the ADC sweep to probed cells via
      // the cell equi-join — a wrong cell, probe set, code, LUT entry or
      // rank all hash-mismatch
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding,
             |            x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS v
             |           FROM embeddings),
             |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
             |         FROM e ORDER BY vec_id LIMIT 16),
             |a AS (SELECT e.vec_id, arg_min(c.cid,
             |        CAST(list_sum(list_transform(range(1, len(e.v)+1),
             |           i -> (e.v[i]-c.v[i])*(e.v[i]-c.v[i]))) AS BIGINT) * 16
             |          + c.cid) AS cell
             |      FROM e, cent c GROUP BY e.vec_id),
             |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v
             |       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
             |sd AS (SELECT ev.vec_id, cw.j, t.s,
             |         CAST(list_sum(list_transform(range(1, 9),
             |           i -> (ev.v[CAST(t.s*8+i AS INTEGER)] - cw.v[CAST(t.s*8+i AS INTEGER)])
             |              * (ev.v[CAST(t.s*8+i AS INTEGER)] - cw.v[CAST(t.s*8+i AS INTEGER)])))
             |           AS BIGINT) AS d
             |       FROM e ev, cb cw, range(0, 8) t(s)),
             |codes AS (SELECT vec_id, s, j AS code FROM (
             |            SELECT vec_id, s, j, row_number() OVER
             |              (PARTITION BY vec_id, s ORDER BY d, j) AS rn FROM sd)
             |          WHERE rn = 1),
             |qp AS (SELECT q.vec_id AS query_id, c.cid AS cell,
             |         row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |           CAST(list_sum(list_transform(range(1, len(q.v)+1),
             |             i -> (q.v[i]-c.v[i])*(q.v[i]-c.v[i]))) AS BIGINT),
             |           c.cid) AS pr
             |       FROM e q, cent c WHERE q.vec_id < 5),
             |adc AS (SELECT qp.query_id, av.vec_id AS neighbor_id,
             |          CAST(sum(qd.d) AS BIGINT) AS adc_dist
             |        FROM qp JOIN a av ON qp.cell = av.cell AND qp.pr <= 4
             |        JOIN codes c ON c.vec_id = av.vec_id
             |        JOIN sd qd ON qd.vec_id = qp.query_id
             |          AND qd.s = c.s AND qd.j = c.code
             |        WHERE qp.query_id <> av.vec_id
             |        GROUP BY 1, 2),
             |r AS (SELECT query_id, neighbor_id, adc_dist,
             |        row_number() OVER (PARTITION BY query_id
             |          ORDER BY adc_dist, neighbor_id) AS rank FROM adc)
             |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_dist
             |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        Similarity.ivfPqTopKExact(
            emb, "vec_id", "embedding",
            emb.where(col("vec_id") < 5).select(col("vec_id").as("qid"),
              col("embedding").as("qvec")),
            "qid", "qvec", k = 5, nCells = 16, nprobe = 4,
            m = 8, codewords = 16)
          .orderBy("query_id", "rank")
      }),

    Q("x_sim_lsh_topk",
      // promoted from rows-only: buckets re-derived from the sha-parity ±1
      // planes (single table t=0), candidates joined on the bucket value,
      // ranking replayed with the exact sign(dot)·dot²/n2 IEEE key — a
      // single flipped plane sign or rank swap hash-mismatches
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding,
             |            x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS v
             |           FROM embeddings),
             |n AS (SELECT vec_id, v,
             |        CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
             |      FROM e),
             |w AS (SELECT p.p, d.d,
             |        CASE WHEN substr(sha256(concat(0,':',p.p,':',d.d)),1,1)
             |             IN ('0','2','4','6','8','a','c','e') THEN 1 ELSE -1
             |             END AS w
             |      FROM range(0,6) p(p), range(0,64) d(d)),
             |proj AS (SELECT e.vec_id, w.p, sum(e.v[w.d+1]*w.w) AS proj
             |         FROM e, w GROUP BY 1,2),
             |bk AS (SELECT vec_id,
             |         CAST(sum(CASE WHEN proj > 0 THEN 1<<p ELSE 0 END) AS BIGINT)
             |           AS bucket
             |       FROM proj GROUP BY 1),
             |s AS (SELECT cq.vec_id AS query_id, cc.vec_id AS neighbor_id,
             |        nn.n2,
             |        CAST(list_sum(list_transform(range(1, len(qn.v)+1),
             |          i -> qn.v[i]*nn.v[i])) AS BIGINT) AS dot
             |      FROM bk cq JOIN bk cc USING (bucket)
             |      JOIN n qn ON qn.vec_id = cq.vec_id
             |      JOIN n nn ON nn.vec_id = cc.vec_id
             |      WHERE cq.vec_id < 5 AND cq.vec_id != cc.vec_id),
             |r AS (SELECT query_id, neighbor_id, dot, n2,
             |        row_number() OVER (PARTITION BY query_id ORDER BY
             |          CASE WHEN n2 = 0 THEN -1.7976931348623157e308
             |               WHEN dot < 0 THEN -(CAST(dot AS DOUBLE)*CAST(dot AS DOUBLE)
             |                                   /CAST(n2 AS DOUBLE))
             |               ELSE CAST(dot AS DOUBLE)*CAST(dot AS DOUBLE)
             |                    /CAST(n2 AS DOUBLE) END DESC,
             |          neighbor_id ASC) AS rank
             |      FROM s)
             |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, dot, n2
             |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        Similarity.lshTopKExact(
            emb, "vec_id", "embedding",
            emb.where(col("vec_id") < 5).select(col("vec_id").as("qid"),
              col("embedding").as("qvec")),
            "qid", "qvec", k = 5, bits = 6)
          .orderBy("query_id", "rank")
      }),

    // ===== extensions: text analysis =========================================

    Q("x_text_quality",
      Some(s"""SELECT doc_id, length(text) AS n_chars,
             |       len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens,
             |       length(text) / greatest(len(list_filter(string_split_regex(text, '\\s+'),
             |         x -> x <> '')), 1) AS mean_token_len,
             |       (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
             |         / length(text) AS punct_ratio,
             |       (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
             |         / length(text) AS digit_ratio,
             |       len(list_filter(string_split_regex(text, '\\s+'),
             |         x -> list_contains(${sqlList(Stopwords.en)}, lower(x))))
             |         / greatest(len(list_filter(string_split_regex(text, '\\s+'),
             |             x -> x <> '')), 1) AS stopword_ratio
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val t = col("text")
        val toks = TextAnalysis.tokens(t)
        val nChars = length(t).cast("double")
        T(s, dir, "documents").select(
            col("doc_id"),
            length(t).cast("long").as("n_chars"),
            size(toks).cast("long").as("n_tokens"),
            (nChars / greatest(size(toks), lit(1))).as("mean_token_len"),
            ((nChars - length(regexp_replace(t, "[\\p{Punct}]", ""))) / nChars)
              .as("punct_ratio"),
            ((nChars - length(regexp_replace(t, "[0-9]", ""))) / nChars)
              .as("digit_ratio"),
            (size(filter(toks, w => lower(w).isin(Stopwords.en.map(lit(_)): _*)))
              .cast("double") / greatest(size(toks), lit(1))).as("stopword_ratio"))
          .orderBy("doc_id")
      }),

    Q("x_text_langid", {
      val langScores = Stopwords.all.toSeq.sortBy(_._1).map { case (lang, words) =>
        s"""SELECT doc_id, '$lang' AS lang,
           |  len(list_filter(w, x -> list_contains(${sqlList(words)}, x)))
           |    / greatest(len(w), 1) AS score
           |FROM toks""".stripMargin
      }.mkString("\nUNION ALL\n")
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |         list_transform(list_filter(string_split_regex(text, '\\s+'),
             |           x -> x <> ''), x -> lower(x)) AS w
             |  FROM documents),
             |sc AS (
             |$langScores)
             |SELECT doc_id, lang AS predicted_lang FROM (
             |  SELECT doc_id, lang,
             |         row_number() OVER (PARTITION BY doc_id
             |           ORDER BY score DESC, lang) AS rn
             |  FROM sc) WHERE rn = 1
             |ORDER BY doc_id""".stripMargin)
    },
      (s, dir) =>
        TextAnalysis.langId(T(s, dir, "documents").select("doc_id", "text"), "text")
          .select("doc_id", "predicted_lang")
          .orderBy("doc_id")),

    Q("x_text_redact",
      // PII scrub: plant deterministic email/ip/phone spans (both engines
      // build the identical dirty text), redact with the same ordered
      // regexes, count matches — map-only at any corpus size
      Some("""WITH dirty AS (
             |  SELECT doc_id,
             |         substr(text, 1, 40)
             |           || coalesce(CASE WHEN doc_id % 3 = 0
             |                THEN ' mail u' || doc_id || '@ex' || doc_id || '.org' END, '')
             |           || coalesce(CASE WHEN doc_id % 4 = 0
             |                THEN ' host 10.0.' || doc_id % 256 || '.7' END, '')
             |           || coalesce(CASE WHEN doc_id % 5 = 0
             |                THEN ' call +1-555-' || 1000 + doc_id % 9000 END, '')
             |           AS text
             |  FROM documents)
             |SELECT doc_id,
             |       regexp_replace(regexp_replace(regexp_replace(text,
             |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |         '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
             |         '\+\d{1,3}[- ]\d{3}[- ]\d{4}', '<PHONE>', 'g') AS redacted,
             |       CAST(len(regexp_extract_all(text,
             |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
             |       CAST(len(regexp_extract_all(text,
             |         '\b\d{1,3}(\.\d{1,3}){3}\b')) AS INT) AS n_ip,
             |       CAST(len(regexp_extract_all(text,
             |         '\+\d{1,3}[- ]\d{3}[- ]\d{4}')) AS INT) AS n_phone
             |FROM dirty ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val planted = concat(
          substring(col("text"), 1, 40),
          coalesce(when(col("doc_id") % 3 === 0,
            concat(lit(" mail u"), col("doc_id"), lit("@ex"),
              col("doc_id"), lit(".org"))), lit("")),
          coalesce(when(col("doc_id") % 4 === 0,
            concat(lit(" host 10.0."), col("doc_id") % 256, lit(".7"))), lit("")),
          coalesce(when(col("doc_id") % 5 === 0,
            concat(lit(" call +1-555-"), lit(1000) + col("doc_id") % 9000)),
            lit("")))
        val dirty = T(s, dir, "documents")
          .select(col("doc_id"), planted.as("text"))
        TextAnalysis.piiCounts(dirty, "text")
          .select(col("doc_id"),
            TextAnalysis.redactPii(col("text")).as("redacted"),
            col("n_email"), col("n_ip"), col("n_phone"))
          .orderBy("doc_id")
      }),

    Q("x_text_repetition",
      // boilerplate filter: 1 − distinct/total word-trigram windows,
      // intra-row via the fused shingle expression
      Some("""WITH w AS (
             |  SELECT doc_id,
             |         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
             |           ' ') AS ws
             |  FROM documents)
             |SELECT doc_id,
             |       CASE WHEN len(ws) < 3 THEN CAST(0.0 AS DOUBLE)
             |            ELSE 1.0 - CAST(len(list_distinct(list_transform(
             |                   generate_series(1, len(ws) - 2),
             |                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
             |                 AS DOUBLE) / (len(ws) - 2)
             |       END AS repetition_ratio
             |FROM w ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        T(s, dir, "documents").select(
            col("doc_id"),
            TextAnalysis.repetitionRatio(col("text"), 3).as("repetition_ratio"))
          .orderBy("doc_id")),

    Q("x_decontaminate",
      // benchmark-overlap contamination check: eval docs (doc_id < 10)
      // define the gram universe, every other doc reports its trigram
      // overlap — Spark broadcasts the benchmark grams (map-only corpus
      // pass); the oracle re-derives via explode + join
      Some("""WITH w AS (
             |  SELECT doc_id,
             |         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
             |           ' ') AS ws
             |  FROM documents),
             |sh AS (SELECT doc_id,
             |         CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
             |              ELSE list_distinct(list_transform(
             |                generate_series(1, len(ws) - 2),
             |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) END AS grams
             |       FROM w),
             |g AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
             |b AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10),
             |o AS (SELECT g.doc_id, count(*) AS overlap FROM g JOIN b USING (gram)
             |      WHERE g.doc_id >= 10 GROUP BY 1)
             |SELECT sh.doc_id, CAST(len(sh.grams) AS BIGINT) AS n_grams,
             |       CAST(coalesce(o.overlap, 0) AS BIGINT) AS overlap_grams,
             |       CAST(coalesce(o.overlap, 0) AS DOUBLE) /
             |         greatest(len(sh.grams), 1) AS contamination_ratio
             |FROM sh LEFT JOIN o ON sh.doc_id = o.doc_id
             |WHERE sh.doc_id >= 10 ORDER BY sh.doc_id""".stripMargin),
      (s, dir) => {
        val docs = T(s, dir, "documents")
        Dedup.decontaminate(
            docs.where(col("doc_id") >= 10), "text", "doc_id",
            docs.where(col("doc_id") < 10), "text", n = 3)
          .orderBy("doc_id")
      }),

    Q("x_decontaminate_bloom",
      // 100 TB decontamination: the benchmark gram universe folds into one
      // compact bloom filter (treeAggregate), the corpus pass stays map-only
      // behind the codegen'd bloom_might_contain gate, and a semi-join on
      // the tiny candidate set prunes bloom false positives — so the result
      // is EXACT and the oracle is the plain exact-overlap SQL
      Some("""WITH w AS (
             |  SELECT doc_id,
             |         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
             |           ' ') AS ws
             |  FROM documents),
             |sh AS (SELECT doc_id,
             |         CASE WHEN len(ws) < 4 THEN [array_to_string(ws, ' ')]
             |              ELSE list_distinct(list_transform(
             |                generate_series(1, len(ws) - 3),
             |                i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3])) END AS grams
             |       FROM w),
             |g AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
             |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 0),
             |o AS (SELECT g.doc_id, count(*) AS overlap FROM g JOIN b USING (gram)
             |      WHERE g.doc_id % 17 <> 0 GROUP BY 1)
             |SELECT sh.doc_id, CAST(len(sh.grams) AS BIGINT) AS n_grams,
             |       CAST(coalesce(o.overlap, 0) AS BIGINT) AS overlap_grams,
             |       CAST(coalesce(o.overlap, 0) AS DOUBLE) /
             |         greatest(len(sh.grams), 1) AS contamination_ratio
             |FROM sh LEFT JOIN o ON sh.doc_id = o.doc_id
             |WHERE sh.doc_id % 17 <> 0 ORDER BY sh.doc_id""".stripMargin),
      (s, dir) => {
        val docs = T(s, dir, "documents")
        Dedup.decontaminateBloom(
            docs.where(col("doc_id") % 17 =!= 0), "text", "doc_id",
            docs.where(col("doc_id") % 17 === 0), "text", n = 4)
          .orderBy("doc_id")
      }),

    Q("x_skew_salted_join",
      // skewed equi-join, salted: half the events hash to one hot key; the
      // salted form spreads them over 8 shards and must produce exactly
      // the plain join's rows (the oracle IS the plain join)
      Some("""SELECT n.n_name, count(*) AS n_events,
             |       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
             |         AS value_cents
             |FROM (SELECT CASE WHEN user_id % 4 < 2 THEN 0
             |                  ELSE user_id % 25 END AS k, value, event_id
             |      FROM events) e
             |JOIN nation n ON e.k = n.n_nationkey
             |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin),
      (s, dir) => {
        val e = ev(s, dir).select(
          when(col("user_id") % 4 < 2, lit(0L))
            .otherwise(col("user_id") % 25).as("k"),
          col("value"), col("event_id"))
        val n = T(s, dir, "nation")
          .select(col("n_nationkey").as("k"), col("n_name"))
        Skew.saltedJoin(e, n, keys = Seq("k"), rowKey = "event_id", salts = 8)
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_events"),
            sum(round(col("value") * 100).cast("long")).as("value_cents"))
          .orderBy("n_name")
      }),

    Q("x_skew_distinct_tokens",
      // skewed distinct-count (distinct state can't partial-combine): per
      // language distinct term count via value-hash shards whose partial
      // counts sum exactly — DuckDB re-derives with a plain
      // count(DISTINCT), proving the sharded sum is exact
      Some("""WITH g AS (
             |  SELECT lang, unnest(list_distinct(string_split_regex(
             |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS term
             |  FROM documents)
             |SELECT lang, count(DISTINCT term) AS distinct_count
             |FROM g GROUP BY lang ORDER BY lang""".stripMargin),
      (s, dir) => {
        val g = T(s, dir, "documents")
          .select(col("lang"),
            explode(Dedup.shingles(col("text"), 1)).as("term"))
        Skew.saltedDistinctCount(g, Seq("lang"), "term", salts = 8)
          .orderBy("lang")
      }),

    Q("x_sample_mixture",
      // inverse-frequency dataset mixing: every language contributes the
      // same expected row count; thresholds are exact integers
      // (min_count << 32) / count, so DuckDB re-derives the identical
      // kept-row set with integer division — no floats at the boundary
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
             |m AS (SELECT min(n) AS mn FROM c),
             |r AS (SELECT c.lang,
             |        CASE WHEN c.n = m.mn THEN 'g'
             |             ELSE printf('%08x', (m.mn * 4294967296) // c.n) END AS thr
             |      FROM c, m)
             |SELECT d.doc_id, d.lang FROM documents d
             |JOIN r ON d.lang = r.lang
             |WHERE substr(sha256(CAST(d.doc_id AS VARCHAR)), 1, 8) < r.thr
             |ORDER BY d.doc_id""".stripMargin),
      (s, dir) =>
        Sampling.inverseMixture(
            T(s, dir, "documents").select("doc_id", "lang"),
            "doc_id", "lang")
          .orderBy("doc_id")),

    Q("x_sample_temperature",
      // temperature-flattened mixing at α = 1/2 (Gopher / mT5): kept
      // stratum mass ∝ √(natural mass) — between natural sampling and the
      // uniform inverse mixture. Thresholds are exact integers off ⌊√c⌋
      // (floor(sqrt) is exact below 2³¹ in any IEEE engine), so DuckDB
      // re-derives the identical kept-row set
      Some("""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
             |  FROM documents GROUP BY lang),
             |km AS (SELECT CAST(floor(sqrt(CAST(min(n) AS DOUBLE)))
             |  AS BIGINT) AS kmin FROM c),
             |r AS (SELECT c.lang,
             |    CASE WHEN CAST(floor(sqrt(CAST(c.n AS DOUBLE))) AS BIGINT)
             |           <= km.kmin THEN 'g'
             |         ELSE printf('%08x', (km.kmin * 4294967296) //
             |           CAST(floor(sqrt(CAST(c.n AS DOUBLE))) AS BIGINT))
             |    END AS thr
             |  FROM c, km)
             |SELECT d.doc_id, d.lang FROM documents d
             |JOIN r ON d.lang = r.lang
             |WHERE substr(sha256(CAST(d.doc_id AS VARCHAR)), 1, 8) < r.thr
             |ORDER BY d.doc_id""".stripMargin),
      (s, dir) =>
        Sampling.temperatureMixture(
            T(s, dir, "documents").select("doc_id", "lang"),
            "doc_id", "lang")
          .orderBy("doc_id")),

    Q("x_sample_mixture_sharded",
      // the inverse-mixture scale path: the law applies per shard (a
      // sha-256 slice of the id, mod 4 — independent of both raw-id
      // structure and the keep key's chars 1-8), so every count it touches
      // is bounded by the shard size — DuckDB re-derives the shard hash,
      // per-(shard, lang) counts, per-shard min and exact integer
      // thresholds identically
      Some("""WITH t AS (SELECT doc_id, lang,
             |  ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT % 4
             |    AS shard FROM documents),
             |c AS (SELECT shard, lang, count(*) AS n FROM t GROUP BY shard, lang),
             |m AS (SELECT shard, min(n) AS mn FROM c GROUP BY shard),
             |r AS (SELECT c.shard, c.lang,
             |        CASE WHEN c.n = m.mn THEN 'g'
             |             ELSE printf('%08x', (m.mn * 4294967296) // c.n) END AS thr
             |      FROM c JOIN m ON c.shard = m.shard)
             |SELECT t.doc_id, t.lang FROM t
             |JOIN r ON t.shard = r.shard AND t.lang = r.lang
             |WHERE substr(sha256(CAST(t.doc_id AS VARCHAR)), 1, 8) < r.thr
             |ORDER BY t.doc_id""".stripMargin),
      (s, dir) =>
        Sampling.inverseMixtureSharded(
            T(s, dir, "documents").select("doc_id", "lang"),
            "doc_id", "lang", shards = 4)
          .orderBy("doc_id")),

    Q("x_pack_sequences",
      // training-batch packing: per-shard deterministic order (sha key),
      // running token sum, bin by start offset — DuckDB replays the
      // identical window law
      Some("""WITH t AS (
             |  SELECT doc_id, doc_id % 8 AS shard,
             |         len(list_filter(string_split_regex(text, '\s+'),
             |           x -> x <> '')) AS n_tokens,
             |         substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8) AS hk
             |  FROM documents),
             |c AS (SELECT doc_id, shard, n_tokens,
             |        sum(n_tokens) OVER (PARTITION BY shard ORDER BY hk, doc_id
             |          ROWS UNBOUNDED PRECEDING) AS cum
             |      FROM t)
             |SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
             |       CAST(shard * 1000000 + (cum - n_tokens) // 512 AS BIGINT) AS pack_id
             |FROM c ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        TextAnalysis.packSequences(
            T(s, dir, "documents").select(col("doc_id"),
              TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok")),
            "doc_id", "n_tok", budget = 512L, shards = 8)
          .select(col("doc_id"), col("shard"),
            col("n_tokens").cast("long").as("n_tokens"), col("pack_id"))
          .orderBy("doc_id")),

    Q("x_curation_pipeline",
      // the training-corpus curation path COMPOSED end-to-end: token-count
      // gate -> exact dedup (min-id survivor per content hash) -> MinHash
      // LSH near-dup removal (drop any doc with a smaller near-duplicate,
      // jaccard >= 0.5 on verified band candidates) -> PII redaction (the
      // packing consumes REDACTED token counts) -> 50% deterministic hash
      // sample -> sequence packing. Every stage's law is exact (integer
      // compares, sha-256 thresholds and signatures, RE2-compatible regex,
      // integer pack division), so DuckDB replays the entire pipeline as
      // one CTE chain
      Some("""WITH t AS (
             |  SELECT doc_id, text,
             |         len(list_filter(string_split_regex(text, '\s+'),
             |           x -> x <> '')) AS n_raw
             |  FROM documents),
             |f AS (SELECT doc_id, text FROM t WHERE n_raw >= 5),
             |d AS (SELECT sha256(text) AS h, min(doc_id) AS doc_id
             |      FROM f GROUP BY 1),
             |e AS (SELECT f.doc_id, f.text FROM f JOIN d ON f.doc_id = d.doc_id),
             |dn AS (SELECT doc_id,
             |         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
             |       FROM e),
             |w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM dn),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(words) < 3
             |          THEN [array_to_string(words, ' ')]
             |          ELSE list_transform(range(1, CAST(len(words)-1 AS INTEGER)),
             |                 i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
             |          END) AS sh FROM w),
             |sig AS (SELECT doc_id,
             |         list_transform(range(0, 16), s ->
             |           list_min(list_transform(sh, x ->
             |             (CAST(concat('0x', substr(sha256(x || ':' || s), 1, 8))
             |                AS BIGINT) & 2147483647) * 4294967296
             |             + CAST(concat('0x', substr(sha256(x || ':' || s), 9, 8))
             |                AS BIGINT)))) AS sig
             |        FROM sh),
             |band AS (SELECT doc_id, r.b AS b,
             |           sig[CAST(r.b*2+1 AS INTEGER)] AS h1,
             |           sig[CAST(r.b*2+2 AS INTEGER)] AS h2
             |         FROM sig CROSS JOIN range(0, 8) r(b)),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
             |         FROM band a JOIN band c USING (b, h1, h2)
             |         WHERE a.doc_id < c.doc_id),
             |v AS (SELECT id_a, id_b,
             |        len(list_intersect(sa.sh, sb.sh)) AS inter,
             |        len(sa.sh) AS la, len(sb.sh) AS lb
             |      FROM cand
             |      JOIN sh sa ON sa.doc_id = id_a
             |      JOIN sh sb ON sb.doc_id = id_b),
             |dropped AS (SELECT DISTINCT id_b AS doc_id FROM v
             |            WHERE CASE WHEN la + lb - inter = 0 THEN 1.0
             |                  ELSE inter / (la + lb - inter) END >= 0.5),
             |n AS (SELECT e.doc_id, e.text FROM e
             |      WHERE e.doc_id NOT IN (SELECT doc_id FROM dropped)),
             |r2 AS (SELECT doc_id,
             |        regexp_replace(regexp_replace(regexp_replace(text,
             |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             |          '<EMAIL>', 'g'),
             |          '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
             |          '\+\d{1,3}[- ]\d{3}[- ]\d{4}', '<PHONE>', 'g') AS rtext
             |       FROM n),
             |tok AS (SELECT doc_id,
             |         len(list_filter(string_split_regex(rtext, '\s+'),
             |           x -> x <> '')) AS n_tokens
             |        FROM r2),
             |s AS (SELECT doc_id, n_tokens FROM tok
             |      WHERE substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)
             |            < '80000000'),
             |c AS (SELECT doc_id, doc_id % 4 AS shard, n_tokens,
             |        sum(n_tokens) OVER (PARTITION BY doc_id % 4
             |          ORDER BY substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8),
             |                   doc_id
             |          ROWS UNBOUNDED PRECEDING) AS cum
             |      FROM s)
             |SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
             |       CAST(shard * 1000000 + (cum - n_tokens) // 256 AS BIGINT)
             |         AS pack_id
             |FROM c ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = T(s, dir, "documents").select(col("doc_id"), col("text"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_raw"))
        val gated = docs.where(col("n_raw") >= 5).select("doc_id", "text")
        val exactSurv = gated.join(
          Dedup.exact(gated, "text", "doc_id").select("doc_id"), "doc_id")
        // drop any doc with a SMALLER verified near-duplicate; the drop set
        // is bounded by the near-dup count, so it rides in as a broadcast
        val dropIds = Dedup.minHashLsh(exactSurv, "text", "doc_id",
            shingleSize = 3, bands = 8, rowsPerBand = 2, threshold = 0.5)
          .select(col("id_b").as("doc_id")).distinct()
        val nearSurv = exactSurv.join(broadcast(dropIds), Seq("doc_id"),
          "left_anti")
        // PII scrub before packing: budgets are computed over the text that
        // actually ships, not the raw bytes
        val scrubbed = nearSurv.select(col("doc_id"),
          TextAnalysis.tokenCount(TextAnalysis.redactPii(col("text")))
            .cast("long").as("n_tok"))
        val sampled = Sampling.uniform(scrubbed, "doc_id", 0.5)
        TextAnalysis.packSequences(
            sampled.select(col("doc_id"), col("n_tok")),
            "doc_id", "n_tok", budget = 256L, shards = 4)
          .select(col("doc_id"), col("shard"),
            col("n_tokens").cast("long").as("n_tokens"), col("pack_id"))
          .orderBy("doc_id")
      }),

    Q("x_curation_pipeline_v2",
      // the r16 curation path COMPOSED end-to-end: corpus-trained bigram-LM
      // surprisal gate (keep docs at or below the corpus's integer-MEAN
      // surprisal — self-calibrating, so the law survives any corpus scale
      // where a fixed cut empties or passes everything; one exact scalar
      // aggregate, broadcast — never a global sort)
      // -> SemDeDup semantic dedup over the survivors' embeddings (exact
      // IVF cells + hot-cell shard law + HUGEINT cosine threshold, keep
      // non-dups) -> sequence packing of the kept docs. Every stage's law
      // is exact, so DuckDB replays the whole pipeline as one CTE chain —
      // model training, gate, routing, dedup verdicts AND pack ids all
      // hash-gated together
      Some("""WITH d0 AS (SELECT doc_id, text FROM documents),
             |dt AS (SELECT doc_id,
             |         list_transform(list_filter(
             |           string_split_regex(text, '\s+'), x -> x <> ''),
             |           w -> lower(w)) AS toks
             |       FROM d0),
             |bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram
             |       FROM dt, unnest(range(1, len(toks))) t(i)),
             |bc AS (SELECT bigram, count(*) AS c_bg,
             |              string_split(bigram, ' ')[1] AS prefix
             |       FROM bg GROUP BY bigram),
             |pc AS (SELECT prefix, CAST(sum(c_bg) AS BIGINT) AS c_pref
             |       FROM bc GROUP BY prefix),
             |sm AS (SELECT bg.doc_id, count(*) AS n_bigrams,
             |        CAST(sum((length(bin(pc.c_pref)) - 1)
             |                 - (length(bin(bc.c_bg)) - 1)) AS BIGINT) AS sb
             |      FROM bg JOIN bc USING (bigram) JOIN pc USING (prefix)
             |      GROUP BY bg.doc_id),
             |g0 AS (SELECT doc_id, sb * 1000 // n_bigrams AS mean_millibits
             |       FROM sm WHERE n_bigrams > 0),
             |thr AS (SELECT sum(mean_millibits) // count(*) AS t FROM g0),
             |g AS (SELECT doc_id, mean_millibits FROM g0, thr
             |      WHERE mean_millibits <= t),
             |e AS (SELECT g.doc_id AS vec_id, g.mean_millibits,
             |        list_transform(em.embedding,
             |          x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS v
             |      FROM g JOIN embeddings em ON em.vec_id = g.doc_id),
             |n AS (SELECT vec_id, v,
             |        CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
             |      FROM e),
             |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
             |         FROM e ORDER BY vec_id LIMIT 8),
             |a AS (SELECT e.vec_id, arg_min(c.cid,
             |        CAST(list_sum(list_transform(range(1, len(e.v)+1),
             |           i -> (e.v[i]-c.v[i])*(e.v[i]-c.v[i]))) AS BIGINT) * 8
             |          + c.cid) AS cell
             |      FROM e, cent c GROUP BY e.vec_id),
             |cs AS (SELECT cell, count(*) AS csz FROM a GROUP BY cell),
             |sa AS (SELECT a.vec_id, a.cell,
             |         a.vec_id % GREATEST(1, CAST(ceil(csz / 64.0) AS BIGINT))
             |           AS shard
             |       FROM a JOIN cs USING (cell)),
             |p AS (SELECT y.vec_id AS ib,
             |        CAST(list_sum(list_transform(range(1, len(nx.v)+1),
             |          i -> nx.v[i]*ny.v[i])) AS BIGINT) AS dot,
             |        nx.n2 AS na, ny.n2 AS nb
             |      FROM sa x JOIN sa y ON x.cell = y.cell
             |        AND x.shard = y.shard AND x.vec_id < y.vec_id
             |      JOIN n nx ON nx.vec_id = x.vec_id
             |      JOIN n ny ON ny.vec_id = y.vec_id),
             |dd AS (SELECT DISTINCT ib FROM p
             |       WHERE dot > 0 AND CAST(dot AS HUGEINT)*dot*25 >=
             |             CAST(na AS HUGEINT)*nb*4),
             |k AS (SELECT a.vec_id AS doc_id, a.cell FROM a
             |      WHERE a.vec_id NOT IN (SELECT ib FROM dd)),
             |tok AS (SELECT k.doc_id, k.cell, g.mean_millibits,
             |          len(list_filter(string_split_regex(d0.text, '\s+'),
             |            x -> x <> '')) AS n_tokens
             |        FROM k JOIN d0 USING (doc_id) JOIN g USING (doc_id)),
             |c AS (SELECT doc_id, cell, mean_millibits,
             |        doc_id % 4 AS shard, n_tokens,
             |        sum(n_tokens) OVER (PARTITION BY doc_id % 4
             |          ORDER BY substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8),
             |                   doc_id
             |          ROWS UNBOUNDED PRECEDING) AS cum
             |      FROM tok)
             |SELECT doc_id, mean_millibits, cell, shard,
             |       CAST(n_tokens AS BIGINT) AS n_tokens,
             |       CAST(shard * 1000000 + (cum - n_tokens) // 512 AS BIGINT)
             |         AS pack_id
             |FROM c ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = T(s, dir, "documents")
        val scored = TextAnalysis.bigramSurprisal(docs, "doc_id", "text")
          .where(col("n_bigrams") > 0)
        // the 1-row corpus-mean threshold rides as a LITERAL (litRow), not
        // a broadcast join — the collect job retrains the bigram model
        // once, exactly what the broadcast build paid (r21)
        val thr = litRow(scored.agg(
          expr("sum(mean_millibits) div count(*)").as("thr")))(0)
        // CHECKPOINT (not cache) the narrow gate frame: it feeds BOTH the
        // dedup input and the final provenance join, and each uncached
        // consumer would re-train the whole bigram model (r16: 4.9s ->
        // ~2s from caching). r18: localCheckpoint beats cache by another
        // 36% isolated (4.09 -> 2.61 s at sf0.1) — the cached plan still
        // re-ANALYZES the full model tree per consumer, the checkpoint
        // truncates it; eagerly checkpointing `scored` as well was SLOWER
        // (3.16 s: the extra materialization costs more than the one
        // duplicated threshold aggregate it saves)
        val gate = scored
          .where(col("mean_millibits") <= thr)
          .select("doc_id", "mean_millibits")
          .transform(Checkpoints.checkpointed)
        val joined = gate.join(T(s, dir, "embeddings"),
            gate("doc_id") === col("vec_id"))
          .select(col("doc_id"), col("mean_millibits"), col("embedding"))
        val sem = Dedup.semanticDedup(joined, "doc_id", "embedding",
          nCells = 8, cosNum = 4, cosDen = 25)
        val kept = sem.where(!col("is_dup"))
          .select(col("id").as("doc_id"), col("cell"))
          .transform(Checkpoints.checkpointed) // reused by the pack input and the cell provenance join
        val withTok = kept
          .join(docs.select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok")),
            "doc_id")
        TextAnalysis.packSequences(
            withTok.select(col("doc_id"), col("n_tok")),
            "doc_id", "n_tok", budget = 512L, shards = 4)
          .join(kept, "doc_id")
          .join(gate, "doc_id")
          .select(col("doc_id"), col("mean_millibits"), col("cell"),
            col("shard"), col("n_tokens").cast("long").as("n_tokens"),
            col("pack_id"))
          .orderBy("doc_id")
      }),

    Q("x_curation_retrieval",
      // the round-11 curation ops COMPOSED: per-source document cap
      // (WindowGroupLimit) -> exact dedup survivors -> integer-exact BM25
      // ranking -> top-50 with provenance joined back. Every stage's law
      // is exact, so DuckDB replays the whole chain as one CTE pipeline
      Some("""WITH cap AS (
             |  SELECT doc_id, text, source FROM (
             |    SELECT doc_id, text, source,
             |           row_number() OVER (PARTITION BY source
             |             ORDER BY substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8),
             |                      doc_id) AS rn
             |    FROM documents) WHERE rn <= 15),
             |dd AS (SELECT sha256(text) AS h, min(doc_id) AS doc_id
             |       FROM cap GROUP BY 1),
             |e AS (SELECT cap.doc_id, cap.text, cap.source
             |      FROM cap JOIN dd ON cap.doc_id = dd.doc_id),
             |d AS (SELECT doc_id, source,
             |        len(list_filter(string_split_regex(lower(text), '\s+'),
             |            x -> x <> '')) AS dl,
             |        list_filter(string_split_regex(lower(text), '\s+'),
             |            x -> x <> '') AS toks
             |      FROM e),
             |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM d),
             |tf AS (SELECT doc_id, dl, term, count(*) AS tf
             |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
             |       WHERE term IN ('join', 'hash', 'scan', 'vector')
             |       GROUP BY 1, 2, 3),
             |dfq AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY 1),
             |parts AS (
             |  SELECT tf.doc_id,
             |    (CAST((n_docs * 100) // df_docs AS HUGEINT)
             |       * tf * 22 * sum_dl) //
             |    (10 * CAST(sum_dl AS HUGEINT) * tf + 3 * sum_dl
             |       + 9 * dl * n_docs) AS part
             |  FROM tf JOIN dfq USING (term), stats),
             |ranked AS (SELECT doc_id, CAST(sum(part) AS BIGINT)
             |             AS score_scaled
             |           FROM parts GROUP BY doc_id
             |           ORDER BY score_scaled DESC, doc_id LIMIT 50)
             |SELECT r.doc_id, d.source, r.score_scaled
             |FROM ranked r JOIN d ON r.doc_id = d.doc_id
             |ORDER BY r.score_scaled DESC, r.doc_id""".stripMargin),
      (s, dir) => {
        val docs = T(s, dir, "documents")
          .select("doc_id", "text", "source")
        val capped = Sampling.capPerKey(docs, "doc_id", "source", k = 15)
        val surv = capped.join(
          Dedup.exact(capped.select("doc_id", "text"), "text", "doc_id")
            .select("doc_id"), "doc_id")
        val ranked = TextAnalysis.bm25TopK(surv, "doc_id", "text",
          Seq("join", "hash", "scan", "vector"), k = 50)
        // 50-row ranked side broadcast back onto the survivor frame for
        // provenance — AQE picks the broadcast; no big-side shuffle
        surv.select(col("doc_id"), col("source"))
          .join(broadcast(ranked), "doc_id")
          .select("doc_id", "source", "score_scaled")
          .orderBy(col("score_scaled").desc, col("doc_id"))
      }),

    Q("x_vocab_topk",
      // vocabulary build: per-document distinct terms -> document
      // frequency -> deterministic top-k (df desc, term asc)
      Some("""WITH g AS (
             |  SELECT doc_id, unnest(list_distinct(string_split_regex(
             |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS term
             |  FROM documents)
             |SELECT term, count(*) AS doc_freq FROM g
             |GROUP BY term ORDER BY doc_freq DESC, term LIMIT 40""".stripMargin),
      (s, dir) =>
        TextAnalysis.topTerms(T(s, dir, "documents"), "text", k = 40)),

    Q("x_bm25_topk",
      // BM25-shaped retrieval with integer-exact laws (linear scaled idf,
      // rational length normalization cleared to one integer denominator,
      // decimal-widened numerator, exact long score sum) — DuckDB replays
      // the identical arithmetic in HUGEINT, so a single off-by-one in
      // any scaled law hash-fails
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    len(list_filter(string_split_regex(lower(text), '\s+'),
             |        x -> x <> '')) AS dl,
             |    list_filter(string_split_regex(lower(text), '\s+'),
             |        x -> x <> '') AS toks
             |  FROM documents),
             |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM d),
             |tf AS (SELECT doc_id, dl, term, count(*) AS tf
             |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
             |       WHERE term IN ('join', 'hash', 'scan', 'vector')
             |       GROUP BY 1, 2, 3),
             |dfq AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY 1),
             |parts AS (
             |  SELECT tf.doc_id,
             |    (CAST((n_docs * 100) // df_docs AS HUGEINT)
             |       * tf * 22 * sum_dl) //
             |    (10 * CAST(sum_dl AS HUGEINT) * tf + 3 * sum_dl
             |       + 9 * dl * n_docs) AS part
             |  FROM tf JOIN dfq USING (term), stats)
             |SELECT doc_id, CAST(sum(part) AS BIGINT) AS score_scaled
             |FROM parts GROUP BY doc_id
             |ORDER BY score_scaled DESC, doc_id LIMIT 25""".stripMargin),
      (s, dir) =>
        TextAnalysis.bm25TopK(T(s, dir, "documents"), "doc_id", "text",
          Seq("join", "hash", "scan", "vector"), k = 25)),

    Q("x_winnow_pairs",
      // Winnowing (Schleimer et al. 2003, the MOSS law): positional
      // 3-gram sha63 hashes, 4-hash sliding windows, keep each window's
      // minimum — any shared 6-token run GUARANTEES a shared fingerprint.
      // Pairs are an equi-join on fp with the df-cut hot-fp blacklist.
      // DuckDB re-derives the normalization, the positional grams, the
      // window minima, the distinct fingerprint sets, the df cut and the
      // shared counts — a window-off-by-one, dedup drift or hash mismatch
      // all hash-fail
      Some("""WITH d AS (SELECT doc_id,
             |         string_split(trim(regexp_replace(lower(text),
             |           '\s+', ' ', 'g')), ' ') AS t
             |       FROM documents),
             |g AS (SELECT doc_id,
             |        CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
             |             ELSE list_transform(range(1, len(t) - 1),
             |               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             |        END AS grams FROM d),
             |h AS (SELECT doc_id, list_transform(grams, x ->
             |        (CAST(concat('0x', substr(sha256(x || ':0'), 1, 8))
             |           AS BIGINT) & 2147483647) * 4294967296
             |        + CAST(concat('0x', substr(sha256(x || ':0'), 9, 8))
             |           AS BIGINT)) AS hs FROM g),
             |wn AS (SELECT doc_id,
             |         CASE WHEN len(hs) >= 4
             |           THEN list_distinct(list_transform(range(0, len(hs) - 3),
             |                  j -> list_min(hs[j+1:j+4])))
             |           ELSE [list_min(hs)] END AS fps FROM h),
             |f AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM wn),
             |c AS (SELECT fp, count(*) AS dfc FROM f GROUP BY fp),
             |cold AS (SELECT f.doc_id, f.fp FROM f JOIN c USING (fp)
             |         WHERE c.dfc <= 100),
             |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |        count(*) AS shared_fps
             |      FROM cold a JOIN cold b
             |        ON a.fp = b.fp AND a.doc_id < b.doc_id
             |      GROUP BY 1, 2)
             |SELECT id_a, id_b, shared_fps FROM p WHERE shared_fps >= 2
             |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) =>
        TextAnalysis.winnowPairs(T(s, dir, "documents"), "text", "doc_id",
            n = 3, w = 4, minShared = 2, maxDf = 100)
          .orderBy("id_a", "id_b")),

    Q("x_curation_pipeline_v3",
      // the r17 ops COMPOSED: Winnowing near-dup gate (drop the higher id
      // of every >= minShared shared-fingerprint pair — greedy
      // keep-lowest, the SemDeDup verdict law over MOSS fingerprints)
      // -> KMV distinct-bigram-equalized mixture over the SURVIVORS (the
      // x_sketch_kmv_mixture law, estimates re-trained on the kept set).
      // One CTE chain replays fingerprint selection, the df cut, the dup
      // verdicts, the sketch minima, the clamped estimator AND the
      // sampling thresholds together — any single law drifting hash-fails
      // the whole pipeline
      Some("""WITH d0 AS (SELECT doc_id, lang, text FROM documents),
             |d AS (SELECT doc_id,
             |         string_split(trim(regexp_replace(lower(text),
             |           '\s+', ' ', 'g')), ' ') AS t
             |       FROM d0),
             |g AS (SELECT doc_id,
             |        CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
             |             ELSE list_transform(range(1, len(t) - 1),
             |               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             |        END AS grams FROM d),
             |hh AS (SELECT doc_id, list_transform(grams, x ->
             |        (CAST(concat('0x', substr(sha256(x || ':0'), 1, 8))
             |           AS BIGINT) & 2147483647) * 4294967296
             |        + CAST(concat('0x', substr(sha256(x || ':0'), 9, 8))
             |           AS BIGINT)) AS hs FROM g),
             |wn AS (SELECT doc_id,
             |         CASE WHEN len(hs) >= 4
             |           THEN list_distinct(list_transform(range(0, len(hs) - 3),
             |                  j -> list_min(hs[j+1:j+4])))
             |           ELSE [list_min(hs)] END AS fps FROM hh),
             |f AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM wn),
             |c AS (SELECT fp, count(*) AS dfc FROM f GROUP BY fp),
             |cold AS (SELECT f.doc_id, f.fp FROM f JOIN c USING (fp)
             |         WHERE c.dfc <= 100),
             |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |       FROM cold a JOIN cold b
             |         ON a.fp = b.fp AND a.doc_id < b.doc_id
             |       GROUP BY 1, 2 HAVING count(*) >= 2),
             |kept AS (SELECT doc_id, lang, text FROM d0
             |         WHERE doc_id NOT IN (SELECT id_b FROM pr)),
             |kt AS (SELECT lang,
             |         list_transform(list_filter(
             |           string_split_regex(text, '\s+'), x -> x <> ''),
             |           w -> lower(w)) AS toks
             |       FROM kept),
             |bt AS (SELECT lang, toks[i] || ' ' || toks[i+1] AS tok
             |       FROM kt, unnest(range(1, len(toks))) r(i)),
             |bh AS (SELECT DISTINCT lang,
             |        (CAST(concat('0x', substr(sha256(tok || ':0'), 1, 8))
             |           AS BIGINT) & 2147483647) * 4294967296
             |        + CAST(concat('0x', substr(sha256(tok || ':0'), 9, 8))
             |           AS BIGINT) AS hv
             |      FROM bt),
             |br AS (SELECT lang, hv,
             |        row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn
             |      FROM bh),
             |bm AS (SELECT lang, count(*) AS n,
             |        max(CASE WHEN rn = 64 THEN hv END) AS h64
             |      FROM br WHERE rn <= 64 GROUP BY lang),
             |e AS (SELECT lang,
             |        CASE WHEN n < 64 THEN n
             |             ELSE CAST(63::HUGEINT * 9223372036854775808::HUGEINT
             |                       // greatest(h64, 1) AS BIGINT)
             |        END AS est FROM bm),
             |mn AS (SELECT min(est) AS me FROM e),
             |thr AS (SELECT e.lang, e.est,
             |          CASE WHEN e.est = mn.me THEN 'g'
             |               ELSE printf('%08x', CAST(mn.me::HUGEINT * 4294967296
             |                 // greatest(e.est, 1) AS BIGINT)) END AS thr
             |        FROM e, mn)
             |SELECT k.doc_id, k.lang, thr.est AS distinct_est
             |FROM kept k JOIN thr ON k.lang = thr.lang
             |WHERE substr(sha256(CAST(k.doc_id AS VARCHAR)), 1, 8) < thr.thr
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val k = 64
        val docs = T(s, dir, "documents")
        // stage 1: winnow near-dup gate, greedy keep-lowest (a doc drops
        // iff some LOWER id shares >= minShared fingerprints with it)
        val dupIds = TextAnalysis.winnowPairs(docs, "text", "doc_id",
            n = 3, w = 4, minShared = 2, maxDf = 100)
          .select(col("id_b").as("doc_id")).distinct()
        val kept = docs.join(dupIds, Seq("doc_id"), "left_anti")
          .select("doc_id", "lang", "text")
          // cache, NOT localCheckpoint: measured 0.83 s cached vs 1.39 s
          // checkpointed at sf0.1 — this frame carries full TEXT, so the
          // eager materialization write outweighs the plan-latency saving
          // that wins on v2's narrow gate frame (2-long-column rows)
          .cache()
        // stage 2: the KMV bigram-diversity mixture, re-trained on the
        // kept set (the x_sketch_kmv_mixture law verbatim — fused
        // word_grams pass, r21, gram parity pinned by ExpressionSpec)
        val est = kept
          .select(col("lang"),
            explode(graft.functions.GraftFunctions.wordGrams(
              col("text"), 2)).as("tok"))
          .select(col("lang"), Dedup.sha63(col("tok"), lit(0)).as("h"))
          .groupBy("lang")
          .agg(graft.functions.GraftFunctions.kmvMinHashes(col("h"), k)
            .as("mins"))
          .select(col("lang"),
            graft.operators.Stats.kmvEstimate(col("mins"), k).as("est"))
        val me = est.agg(min("est").as("me"))
        val thr = est.crossJoin(broadcast(me))
          .select(col("lang"), col("est"),
            when(col("est") === col("me"), lit("g"))
              .otherwise(lpad(lower(hex(call_function("div",
                col("me").cast("decimal(38,0)") * lit(4294967296L),
                greatest(col("est"), lit(1L)).cast("decimal(38,0)"))
                .cast("long"))), 8, "0")).as("thr"))
        // ≤ #langs threshold rows (bounded by the class set) ride as
        // LITERAL maps instead of a broadcast join (r21): the collect job
        // runs the same sketch plan the broadcast build did, and the gate
        // becomes a map-only filter; a lang absent from the sketch (none
        // here) yields null → dropped, the inner join's verdict
        val thrRows = thr.collect()
        val thrMap = if (thrRows.isEmpty) lit(null).cast("map<string,string>")
          else map(thrRows.toSeq.flatMap(r =>
            Seq(lit(r.getString(0)), lit(r.getString(2)))): _*)
        val estMap = if (thrRows.isEmpty) lit(null).cast("map<string,bigint>")
          else map(thrRows.toSeq.flatMap(r =>
            Seq(lit(r.getString(0)), lit(r.getLong(1)))): _*)
        kept.select("doc_id", "lang")
          .where(substring(sha2(col("doc_id").cast("string"), 256), 1, 8)
            < try_element_at(thrMap, col("lang")))
          .select(col("doc_id"), col("lang"),
            try_element_at(estMap, col("lang")).as("distinct_est"))
          .orderBy("doc_id")
      }),

    Q("x_text_quality_lm", {
      val w = graft.operators.TextAnalysis.DefaultQualityWeights
      val score = s"${w("w_bias")} + ${w("w_stop")}*stop_mill + " +
        s"${w("w_punct")}*punct_mill + ${w("w_digit")}*digit_mill + " +
        s"${w("w_len")}*len_bits"
      // trained-classifier-shaped quality gate: exact-integer linear model
      // over millifraction features; DuckDB re-derives every feature, the
      // integer dot product AND the keep verdict from the same weight
      // constants the engine broadcasts
      Some(s"""WITH f AS (SELECT doc_id,
             |    length(text) AS n_chars,
             |    len(list_filter(string_split_regex(text, '\\s+'),
             |        x -> x <> '')) AS n_tokens,
             |    len(list_filter(string_split_regex(text, '\\s+'),
             |        x -> list_contains(${sqlList(Stopwords.en)}, lower(x))))
             |      AS n_stop,
             |    length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
             |      AS n_punct,
             |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
             |      AS n_digit
             |  FROM documents),
             |g AS (SELECT doc_id, n_chars, n_tokens,
             |    n_stop * 1000 // greatest(n_tokens, 1) AS stop_mill,
             |    n_punct * 1000 // greatest(n_chars, 1) AS punct_mill,
             |    n_digit * 1000 // greatest(n_chars, 1) AS digit_mill,
             |    length(bin(greatest(n_chars, 1))) - 1 AS len_bits
             |  FROM f)
             |SELECT doc_id, n_chars, n_tokens, stop_mill, punct_mill,
             |  digit_mill, CAST(len_bits AS BIGINT) AS len_bits,
             |  CAST($score AS BIGINT) AS score_scaled,
             |  ($score) >= ${w("threshold")} AS keep
             |FROM g ORDER BY doc_id""".stripMargin)
    },
      (s, dir) =>
        TextAnalysis.qualityScoreLinear(
            T(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id")),

    Q("x_text_gopher_rules", {
      val stops = sqlList(graft.operators.TextAnalysis.GopherStopwords)
      // the Gopher line/word-grain rule family over planted per-rule
      // violators (id%11 bullet-only, %13 ellipsis line ends, %17 symbol
      // ratio, %19 no alphabetic words, %23 mean word length 1) — every
      // boundary an exact-integer millifraction, so DuckDB re-derives each
      // rule column AND the composite verdict
      Some(s"""WITH p AS (SELECT doc_id,
             |  CASE WHEN doc_id % 11 = 0
             |    THEN '• buy' || chr(10) || '• sell' || chr(10) || '• hold'
             |  WHEN doc_id % 13 = 0
             |    THEN 'to be continued...' || chr(10) || 'more soon…'
             |      || chr(10) || 'the end'
             |  WHEN doc_id % 17 = 0 THEN '# # # tag ## of ### markers # be'
             |  WHEN doc_id % 19 = 0 THEN '12 34 56 78 90 11 22 33'
             |  WHEN doc_id % 23 = 0 THEN 'a b c d e f g h i j'
             |  ELSE text END AS t FROM documents),
             |f AS (SELECT doc_id, t,
             |  list_filter(string_split_regex(t, '\\s+'), x -> x <> '') AS toks,
             |  list_filter(string_split(t, chr(10)), l -> l <> '') AS ls
             |  FROM p),
             |g AS (SELECT doc_id,
             |  CAST(len(toks) AS BIGINT) AS n_words,
             |  CAST(len(ls) AS BIGINT) AS n_lines,
             |  CAST(coalesce(list_sum(list_transform(toks,
             |    w -> length(w))), 0) AS BIGINT) AS wc,
             |  CAST((length(t) - length(replace(t, '#', '')))
             |    + (length(t) - length(replace(t, '…', '')))
             |    + ((length(t) - length(replace(t, '...', ''))) // 3)
             |    AS BIGINT) AS sym,
             |  CAST(len(list_filter(ls, l -> l[1] IN ('•', '-', '*')))
             |    AS BIGINT) AS bl,
             |  CAST(len(list_filter(ls, l -> ends_with(l, '…')
             |    OR ends_with(l, '...'))) AS BIGINT) AS el,
             |  CAST(len(list_filter(toks, w -> regexp_matches(w, '\\p{L}')))
             |    AS BIGINT) AS aw,
             |  CAST(len(list_filter($stops, sw -> list_contains(
             |    list_transform(toks, w -> lower(w)), sw))) AS BIGINT)
             |    AS n_stop_hits
             |  FROM f),
             |h AS (SELECT doc_id, n_words, n_lines, n_stop_hits,
             |  wc * 1000 // greatest(n_words, 1) AS mean_len_mill,
             |  sym * 1000 // greatest(n_words, 1) AS symbol_mill,
             |  bl * 1000 // greatest(n_lines, 1) AS bullet_mill,
             |  el * 1000 // greatest(n_lines, 1) AS ellipsis_mill,
             |  aw * 1000 // greatest(n_words, 1) AS alpha_mill
             |  FROM g)
             |SELECT doc_id, n_words, n_lines, n_stop_hits, mean_len_mill,
             |  symbol_mill, bullet_mill, ellipsis_mill, alpha_mill,
             |  n_words BETWEEN 50 AND 100000 AS r_words,
             |  mean_len_mill BETWEEN 3000 AND 10000 AS r_mean_len,
             |  symbol_mill <= 100 AS r_symbol,
             |  bullet_mill <= 900 AS r_bullet,
             |  ellipsis_mill <= 300 AS r_ellipsis,
             |  alpha_mill >= 800 AS r_alpha,
             |  n_stop_hits >= 2 AS r_stop,
             |  (n_words BETWEEN 50 AND 100000)
             |    AND (mean_len_mill BETWEEN 3000 AND 10000)
             |    AND symbol_mill <= 100 AND bullet_mill <= 900
             |    AND ellipsis_mill <= 300 AND alpha_mill >= 800
             |    AND n_stop_hits >= 2 AS gopher_keep
             |FROM h ORDER BY doc_id""".stripMargin)
    },
      (s, dir) => {
        val planted = when(col("doc_id") % 11 === 0,
            lit("• buy\n• sell\n• hold"))
          .when(col("doc_id") % 13 === 0,
            lit("to be continued...\nmore soon…\nthe end"))
          .when(col("doc_id") % 17 === 0,
            lit("# # # tag ## of ### markers # be"))
          .when(col("doc_id") % 19 === 0, lit("12 34 56 78 90 11 22 33"))
          .when(col("doc_id") % 23 === 0, lit("a b c d e f g h i j"))
          .otherwise(col("text"))
        TextAnalysis.gopherRules(
            T(s, dir, "documents").select(col("doc_id"), planted.as("t")),
            "doc_id", "t")
          .orderBy("doc_id")
      }),

    Q("x_text_html_extract",
      // HTML -> text with the line-grain boilerplate law: both engines
      // build IDENTICAL planted markup (script/style/comment blocks, nav
      // and footer link lines, a short line, entities, two malformed
      // tails), then replay strip -> error check -> line split -> per-line
      // text/link densities -> keep set. A drifted regex, entity order,
      // density boundary or error-channel arm all hash-fail
      Some(s"""WITH $htmlExtractCtes
             |SELECT doc_id,
             |  NOT bad AS extract_ok,
             |  CASE WHEN bad THEN 'unterminated or desynchronized script/style/comment block'
             |       END AS error,
             |  CASE WHEN bad THEN NULL ELSE coalesce(array_to_string(
             |    list_transform(kept, s -> struct_extract(s, 't')), chr(10)),
             |    '') END AS text,
             |  CASE WHEN bad THEN NULL ELSE len(list_filter(ls,
             |    s -> length(struct_extract(s, 't')) > 0)) END AS n_lines,
             |  CASE WHEN bad THEN NULL ELSE len(kept) END AS n_lines_kept,
             |  CASE WHEN bad THEN NULL ELSE length(coalesce(array_to_string(
             |    list_transform(kept, s -> struct_extract(s, 't')), chr(10)),
             |    '')) END AS n_chars
             |FROM k ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        graft.operators.Web.htmlExtract(
            T(s, dir, "documents").select(col("doc_id"),
              plantedHtml.as("html")),
            "doc_id", "html")
          .orderBy("doc_id")),

    Q("x_curation_pipeline_v4", {
      val w = graft.operators.TextAnalysis.DefaultQualityWeights
      val score = s"${w("w_bias")} + ${w("w_stop")}*stop_mill + " +
        s"${w("w_punct")}*punct_mill + ${w("w_digit")}*digit_mill + " +
        s"${w("w_len")}*len_bits"
      // the WEB FRONT DOOR composed end-to-end: raw planted HTML ->
      // deterministic extraction + boilerplate removal (error rows drop) ->
      // linear-classifier quality gate over the EXTRACTED text ->
      // per-source document cap. One CTE chain replays markup stripping,
      // the density law, every integer feature, the gate verdict and the
      // cap's rank law together
      Some(s"""WITH $htmlExtractCtes,
             |ex AS (SELECT doc_id, coalesce(array_to_string(
             |    list_transform(kept, s -> struct_extract(s, 't')), chr(10)),
             |    '') AS text FROM k WHERE NOT bad),
             |f AS (SELECT doc_id,
             |    length(text) AS n_chars,
             |    len(list_filter(string_split_regex(text, '\\s+'),
             |        x -> x <> '')) AS n_tokens,
             |    len(list_filter(string_split_regex(text, '\\s+'),
             |        x -> list_contains(${sqlList(Stopwords.en)}, lower(x))))
             |      AS n_stop,
             |    length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
             |      AS n_punct,
             |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
             |      AS n_digit
             |  FROM ex),
             |g AS (SELECT doc_id, n_chars,
             |    n_stop * 1000 // greatest(n_tokens, 1) AS stop_mill,
             |    n_punct * 1000 // greatest(n_chars, 1) AS punct_mill,
             |    n_digit * 1000 // greatest(n_chars, 1) AS digit_mill,
             |    length(bin(greatest(n_chars, 1))) - 1 AS len_bits
             |  FROM f),
             |q AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             |    CAST($score AS BIGINT) AS score_scaled
             |  FROM g WHERE ($score) >= ${w("threshold")}),
             |j AS (SELECT q.doc_id, d.source, q.score_scaled, q.n_chars
             |  FROM q JOIN documents d USING (doc_id)),
             |c AS (SELECT *, row_number() OVER (PARTITION BY source
             |    ORDER BY substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8),
             |    doc_id) AS rn FROM j)
             |SELECT doc_id, source, score_scaled, n_chars
             |FROM c WHERE rn <= 15 ORDER BY doc_id""".stripMargin)
    },
      (s, dir) => {
        val docs = T(s, dir, "documents")
        // cache the extracted-text frame: the five feature expressions each
        // reference `text`, and uncached each reference INLINES the whole
        // extraction tree (44 copies of the script-strip regex in the
        // plan, measured 2.85 s -> ~0.9 s at sf0.1) — the same
        // composition-point trap as v2's gate frame
        val ex = graft.operators.Web.htmlExtract(
            docs.select(col("doc_id"), plantedHtml.as("html")),
            "doc_id", "html")
          .where(col("extract_ok"))
          .select("doc_id", "text")
          .cache()
        val scored = TextAnalysis.qualityScoreLinear(ex, "doc_id", "text")
          .where(col("keep"))
          .select("doc_id", "score_scaled", "n_chars")
        val withSrc = scored.join(docs.select("doc_id", "source"), "doc_id")
        Sampling.capPerKey(withSrc, "doc_id", "source", 15)
          .select("doc_id", "source", "score_scaled", "n_chars")
          .orderBy("doc_id")
      }),

    Q("x_url_curation",
      // URL canonicalization + domain curation, one CTE chain: planted
      // URLs (case/userinfo/tracking/fragment noise collapses onto pair
      // structure; id%19 plants invalid scheme-less URLs) -> canonical law
      // -> exact dedup on canonical (lowest id) -> registrable-domain
      // blocklist anti-join -> per-domain cap. The registrable CASE chain
      // is GENERATED from the engine's own suffix table
      Some(s"""WITH u0 AS (SELECT doc_id, $plantedUrlSql AS url FROM documents),
             |$urlCanonCtes,
             |dd AS (SELECT *, row_number() OVER (PARTITION BY canonical_url
             |    ORDER BY doc_id) AS rn FROM u9),
             |db AS (SELECT doc_id, canonical_url, registrable_domain
             |  FROM dd WHERE rn = 1 AND registrable_domain NOT IN
             |    ('site0.com', 'site3.co.uk', 'site5.org')),
             |c AS (SELECT *, row_number() OVER (
             |    PARTITION BY registrable_domain
             |    ORDER BY substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8),
             |    doc_id) AS rn2 FROM db)
             |SELECT doc_id, canonical_url, registrable_domain
             |FROM c WHERE rn2 <= 10 ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        // the canonicalization kernel (~12 regex laws/row + PSL probe) ran
        // on the single scan task (measured 1.55 s of a 1.9 s query);
        // redistribute the narrow (doc_id, url) leaf frame first (r21)
        graft.operators.Web.urlCuration(
            parLeaf(s, T(s, dir, "documents").select(col("doc_id"),
              plantedUrl.as("url"))),
            "doc_id", "url",
            blockedDomains = Seq("site0.com", "site3.co.uk", "site5.org"),
            perDomainCap = 10)
          .select("doc_id", "canonical_url", "registrable_domain")
          .orderBy("doc_id")),

    Q("x_warc_extract", {
      val (statusSql, bodySql) = warcHttpSql
      // the crawl front door: both engines BUILD identical planted WARC
      // files (warcinfo + variable-length HTTP response + %31 truncated /
      // %37 missing-CL trailers), then replay the Content-Length offset
      // walk, the first-match header field law, the HTTP strip and every
      // error arm — DuckDB's replay is a recursive CTE, the engine's a
      // fused native expression; a drifted offset, field or arm hash-fails
      Some(s"""WITH RECURSIVE $warcSourceCtes,
             |${warcCtes(64)}
             |SELECT doc_id, rec_idx, warc_type, target_uri, content_length,
             |  rec_ok, error,
             |  $statusSql AS http_status,
             |  $bodySql AS body
             |FROM wr ORDER BY doc_id, rec_idx""".stripMargin)
    },
      (s, dir) =>
        graft.operators.Web.warcExtract(
            T(s, dir, "documents")
              .select(col("doc_id"), plantedWarc.as("warc")),
            "doc_id", "warc")
          .select("doc_id", "rec_idx", "warc_type", "target_uri",
            "content_length", "rec_ok", "error", "http_status", "body")
          .orderBy("doc_id", "rec_idx")),

    Q("x_curation_pipeline_v6", {
      val w = graft.operators.TextAnalysis.DefaultQualityWeights
      val score = s"${w("w_bias")} + ${w("w_stop")}*stop_mill + " +
        s"${w("w_punct")}*punct_mill + ${w("w_digit")}*digit_mill + " +
        s"${w("w_len")}*len_bits"
      val (_, bodySql) = warcHttpSql
      // curation v6 = v5 with the CRAWL CONTAINER in front: WARC record
      // walk -> response records -> URL canonicalization (invalid URLs
      // drop, canonical duplicates collapse to the lowest doc) -> HTML
      // extraction -> C4 line dedup -> linear quality gate -> BPE
      // tokenization -> packing. EIGHT laws, one CTE chain — any stage
      // drifting hash-fails the pipeline
      Some(s"""WITH RECURSIVE $warcSourceCtes,
             |${warcCtes(64)},
             |resp AS (SELECT doc_id, target_uri AS url, $bodySql AS body
             |  FROM wr WHERE rec_ok AND warc_type = 'response'),
             |u0 AS (SELECT doc_id, url FROM resp),
             |$urlCanonCtes,
             |du AS (SELECT u9.doc_id, resp.body AS html,
             |    row_number() OVER (PARTITION BY u9.canonical_url
             |      ORDER BY u9.doc_id) AS rn
             |  FROM u9 JOIN resp ON u9.doc_id = resp.doc_id),
             |${htmlExtractCtesFrom("SELECT doc_id, html FROM du WHERE rn = 1")},
             |ex AS (SELECT doc_id,
             |    list_transform(kept, s -> struct_extract(s, 't')) AS ls
             |  FROM k WHERE NOT bad),
             |ln AS (SELECT doc_id, ls[j] AS line, j AS pos
             |  FROM ex, unnest(range(1, len(ls)+1)) t(j)
             |  WHERE ls[j] <> ''),
             |own AS (SELECT line, min(doc_id) AS o_doc FROM ln GROUP BY line),
             |own2 AS (SELECT ln.line, ln.doc_id AS o_doc, min(ln.pos) AS o_pos
             |  FROM ln JOIN own ON ln.line = own.line
             |    AND ln.doc_id = own.o_doc
             |  GROUP BY 1, 2),
             |kp AS (SELECT ln.doc_id, ln.pos, ln.line
             |  FROM ln JOIN own2 ON ln.line = own2.line
             |    AND ln.doc_id = own2.o_doc AND ln.pos = own2.o_pos),
             |dd AS (SELECT doc_id,
             |    array_to_string(list(line ORDER BY pos), chr(10)) AS text
             |  FROM kp GROUP BY doc_id),
             |f AS (SELECT doc_id,
             |    length(text) AS n_chars,
             |    len(list_filter(string_split_regex(text, '\\s+'),
             |        x -> x <> '')) AS n_tokens,
             |    len(list_filter(string_split_regex(text, '\\s+'),
             |        x -> list_contains(${sqlList(Stopwords.en)}, lower(x))))
             |      AS n_stop,
             |    length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
             |      AS n_punct,
             |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
             |      AS n_digit,
             |    text
             |  FROM dd),
             |g AS (SELECT doc_id, text FROM (
             |  SELECT doc_id, text,
             |    n_stop * 1000 // greatest(n_tokens, 1) AS stop_mill,
             |    n_punct * 1000 // greatest(n_chars, 1) AS punct_mill,
             |    n_digit * 1000 // greatest(n_chars, 1) AS digit_mill,
             |    length(bin(greatest(n_chars, 1))) - 1 AS len_bits
             |  FROM f) WHERE ($score) >= ${w("threshold")}),
             |${bpeCtes(BpeMerges)},
             |dw AS (SELECT doc_id, unnest(list_filter(string_split_regex(
             |      lower(text), '\\s+'), x -> x <> '')) AS word FROM g),
             |tc AS (SELECT dw.doc_id,
             |    CAST(sum(len(w$BpeMerges.syms)) AS BIGINT) AS n_subwords
             |  FROM dw JOIN w$BpeMerges ON dw.word = w$BpeMerges.word
             |  GROUP BY dw.doc_id),
             |pk AS (SELECT doc_id, doc_id % 4 AS shard, n_subwords,
             |    sum(n_subwords) OVER (PARTITION BY doc_id % 4
             |      ORDER BY substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8),
             |               doc_id
             |      ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM tc)
             |SELECT doc_id, n_subwords,
             |  CAST(shard * 1000000 + (cum - n_subwords) // 256 AS BIGINT)
             |    AS pack_id
             |FROM pk ORDER BY doc_id""".stripMargin)
    },
      (s, dir) => {
        val docs = T(s, dir, "documents")
        val recs = graft.operators.Web.warcExtract(
            docs.select(col("doc_id"), plantedWarc.as("warc")),
            "doc_id", "warc")
          .where(col("rec_ok") && col("warc_type") === "response")
          .select(col("doc_id"), col("target_uri").as("url"), col("body"))
        val dedupUrl = graft.operators.Web
          .urlCanonicalize(recs, "url")
          .where(col("url_valid"))
          .groupBy("canonical_url")
          .agg(min_by(struct(col("doc_id"), col("body")), col("doc_id"))
            .as("k"))
          .select(col("k.doc_id").as("doc_id"), col("k.body").as("html"))
        // composition-point caches (the v4/v5 lesson): extraction feeds
        // the line explode + baseline count; deduped text feeds five
        // feature expressions and the tokenizer
        val ex = graft.operators.Web.htmlExtract(dedupUrl, "doc_id", "html")
          .where(col("extract_ok")).select("doc_id", "text")
          .cache()
        val dd = Dedup.dedupLines(ex, "doc_id", "text")
          .where(col("n_lines") > 0).select("doc_id", "text")
          .cache()
        val gated = TextAnalysis.qualityScoreLinear(dd, "doc_id", "text")
          .where(col("keep")).select("doc_id")
        val seg = bpeTrained(s, dir).vocab
          .select(col("word"), size(col("syms")).cast("long").as("n_sub"))
        val toks = dd.join(gated, "doc_id")
          .select(col("doc_id"),
            explode(TextAnalysis.tokens(lower(col("text")))).as("word"))
          .join(broadcast(seg), "word")
          .groupBy("doc_id").agg(sum("n_sub").as("n_sub"))
        TextAnalysis.packSequences(toks, "doc_id", "n_sub",
            budget = 256L, shards = 4)
          .select(col("doc_id"), col("n_tokens").as("n_subwords"),
            col("pack_id"))
          .orderBy("doc_id")
      }),

    Q("x_dedup_incremental", {
      val sha63 = (e: String) =>
        s"""(CAST(concat('0x', substr(sha256($e || ':0'), 1, 8))
           |   AS BIGINT) & 2147483647) * 4294967296
           |+ CAST(concat('0x', substr(sha256($e || ':0'), 9, 8))
           |   AS BIGINT)""".stripMargin
      // incremental batch dedup against the persisted MinHash index:
      // corpus = doc_id%10!=0 (indexed once, bucketed by band key), batch
      // = doc_id%10==0 (fingerprinted fresh, probes the index). DuckDB
      // re-derives the signatures, the sha63 band keys, the candidate law
      // (corpus always wins; batch-internal lower id wins), the exact
      // Jaccard verify and the verdicts — so index staleness, key drift
      // or a broken probe join all hash-fail
      Some(s"""WITH d AS (SELECT doc_id,
             |      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
             |    FROM documents WHERE doc_id < 500),
             |w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM d),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(words) < 3
             |    THEN [array_to_string(words, ' ')]
             |    ELSE list_transform(range(1, CAST(len(words)-1 AS INTEGER)),
             |        i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
             |    END) AS sh FROM w),
             |sig AS (SELECT doc_id,
             |    list_transform(range(0, 16), s ->
             |      list_min(list_transform(sh, x ->
             |        (CAST(concat('0x', substr(sha256(x || ':' || s), 1, 8))
             |           AS BIGINT) & 2147483647) * 4294967296
             |        + CAST(concat('0x', substr(sha256(x || ':' || s), 9, 8))
             |           AS BIGINT)))) AS sig
             |  FROM sh),
             |bandk AS (SELECT doc_id,
             |    ${sha63("CAST(r.b AS VARCHAR) || ':' || sig[CAST(r.b*2+1 AS INTEGER)] || ',' || sig[CAST(r.b*2+2 AS INTEGER)]")}
             |      AS bk
             |  FROM sig CROSS JOIN range(0, 8) r(b)),
             |cand AS (SELECT b2.doc_id AS id_b, b1.doc_id AS id_ref
             |  FROM bandk b1 JOIN bandk b2 USING (bk)
             |  WHERE b2.doc_id % 10 = 0
             |    AND (b1.doc_id % 10 <> 0 OR b1.doc_id < b2.doc_id)
             |  GROUP BY 1, 2),
             |nc AS (SELECT id_b, count(*) AS n_cands FROM cand GROUP BY id_b),
             |v AS (SELECT id_b, id_ref,
             |    len(list_intersect(sa.sh, sb.sh)) AS inter,
             |    len(sa.sh) AS la, len(sb.sh) AS lb
             |  FROM cand
             |  JOIN sh sa ON sa.doc_id = id_ref
             |  JOIN sh sb ON sb.doc_id = id_b),
             |dup AS (SELECT id_b, min(id_ref) AS dup_of FROM v
             |  WHERE CASE WHEN la + lb - inter = 0 THEN 1.0
             |        ELSE inter / (la + lb - inter) END >= 0.5
             |  GROUP BY id_b)
             |SELECT d.doc_id, coalesce(nc.n_cands, 0) AS n_cands,
             |  dup.dup_of IS NOT NULL AS is_dup, dup.dup_of
             |FROM d
             |LEFT JOIN nc ON nc.id_b = d.doc_id
             |LEFT JOIN dup ON dup.id_b = d.doc_id
             |WHERE d.doc_id % 10 = 0 ORDER BY doc_id""".stripMargin)
    },
      (s, dir) => {
        val docs = T(s, dir, "documents").where(col("doc_id") < 500)
        Dedup.incrementalDedupMinHash(
            incIndexTable(s, dir),
            docs.where(col("doc_id") % 10 =!= 0),
            docs.where(col("doc_id") % 10 === 0),
            "text", "doc_id", threshold = 0.5)
          .orderBy("doc_id")
      }),

    Q("x_bpe_train", {
      // K unrolled rounds of the exact BPE law: pair counts off the word
      // vocabulary, arg-max (count desc, pair asc), the render/replace/
      // split-back greedy merge — a drifted tie-break, wrong overlap rule
      // or miscounted pair all hash-fail
      val k = BpeMerges
      val rules = (0 until k).map(i =>
        s"SELECT CAST($i AS INTEGER) AS merge_idx, pair, " +
          s"CAST(c AS BIGINT) AS pair_count FROM b$i")
        .mkString("\nUNION ALL\n")
      Some(s"""WITH ${bpeCtes(k)}
             |$rules
             |ORDER BY merge_idx""".stripMargin)
    },
      (s, dir) => {
        import s.implicits._
        bpeTrained(s, dir).rules.toDF().orderBy("merge_idx")
      }),

    Q("x_bpe_vocab", {
      // the segmented vocabulary AFTER the K learned merges: the w_K state
      // is itself the applied tokenization of every vocab word, so the
      // top-frequency slice hash-checks segmentation boundaries, subword
      // counts AND the cumulative effect of all K rules at once
      val k = BpeMerges
      Some(s"""WITH ${bpeCtes(k)}
             |SELECT word, freq, array_to_string(syms, ' ') AS segmented,
             |  CAST(len(syms) AS BIGINT) AS n_subwords
             |FROM w$k ORDER BY freq DESC, word LIMIT 30""".stripMargin)
    },
      (s, dir) =>
        bpeTrained(s, dir).vocab
          .select(col("word"), col("freq"),
            array_join(col("syms"), " ").as("segmented"),
            size(col("syms")).cast("long").as("n_subwords"))
          .orderBy(col("freq").desc, col("word")).limit(30)),

    Q("x_bpe_token_count", {
      // train -> apply at CORPUS grain: per-document subword counts under
      // the learned vocabulary. The scalable apply is a broadcast LOOKUP
      // against the trained segmentation (the vocab already carries every
      // seen word's subword split — no per-occurrence re-merging), so
      // tokenizing the corpus is explode + broadcast join + one count agg
      val k = BpeMerges
      Some(s"""WITH ${bpeCtes(k)},
             |dw AS (SELECT doc_id, unnest(list_filter(string_split_regex(
             |      lower(text), '\\s+'), x -> x <> '')) AS word
             |    FROM documents)
             |SELECT dw.doc_id,
             |  count(*) AS n_words,
             |  CAST(sum(len(w$k.syms)) AS BIGINT) AS n_subwords
             |FROM dw JOIN w$k ON dw.word = w$k.word
             |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin)
    },
      (s, dir) => {
        val seg = bpeTrained(s, dir).vocab
          .select(col("word"), size(col("syms")).cast("long").as("n_sub"))
        // alphabet-complete closed-vocab law: the vocabulary is trained on
        // THIS corpus, so every token joins — no gate drops words anymore
        T(s, dir, "documents")
          .select(col("doc_id"),
            explode(TextAnalysis.tokens(lower(col("text")))).as("word"))
          .join(broadcast(seg), "word")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"), sum("n_sub").as("n_subwords"))
          .orderBy("doc_id")
      }),

    Q("x_bpe_train_bytes", {
      // the ALPHABET-COMPLETE face of the trainer on a planted corpus that
      // the old [a-z0-9] gate would have dropped almost entirely: mixed
      // case, ASCII + curly punctuation, precomposed AND decomposed
      // accents (composed downstream of NFC normalization, so both train
      // as ONE precomposed symbol), CJK + fullwidth punctuation. Both
      // engines build identical bytes from hex, NFC-normalize, then replay
      // K unrolled rounds of the escaped render/replace/split-back law
      val k = BpeBytesMerges
      val toksrc = "SELECT unnest(list_filter(string_split_regex(t, " +
        "'\\s+'), x -> x <> '')) AS word FROM pb"
      val rules = (0 until k).map(i =>
        s"SELECT CAST($i AS INTEGER) AS merge_idx, pair, " +
          s"CAST(c AS BIGINT) AS pair_count FROM b$i")
        .mkString("\nUNION ALL\n")
      Some(s"""WITH pb AS (SELECT doc_id, nfc_normalize(
             |  (CASE doc_id % 4
             |    WHEN 0 THEN 'Cafe' || decode(unhex('CC81')) || '!'
             |    WHEN 1 THEN decode(unhex('C3A9')) || 'tude,'
             |    WHEN 2 THEN decode(unhex('E4BDA0E5A5BDE4B896E7958CEFBC81'))
             |    ELSE 'Don' || decode(unhex('E28099')) || 't' END)
             |  || ' don' || chr(39) || 't don' || chr(39) || 't stop.') AS t
             |  FROM documents),
             |${bpeCtes(k, toksrc)}
             |$rules
             |ORDER BY merge_idx""".stripMargin)
    },
      (s, dir) => {
        import s.implicits._
        def u(hex: String) = decode(unhex(lit(hex)), "UTF-8")
        val arm = pmod(col("doc_id"), lit(4))
        val raw = concat(
          when(arm === 0, concat(lit("Cafe"), u("CC81"), lit("!")))
            .when(arm === 1, concat(u("C3A9"), lit("tude,")))
            .when(arm === 2, u("E4BDA0E5A5BDE4B896E7958CEFBC81"))
            .otherwise(concat(lit("Don"), u("E28099"), lit("t"))),
          lit(" don't don't stop."))
        val corpus = T(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.nfcNormalize(raw).as("text"))
        Bpe.train(corpus, "text", merges = BpeBytesMerges).rules.toDF()
          .orderBy("merge_idx")
      }),

    Q("x_dedup_lines",
      // the C4 line-dedup law COMPOSED with HTML extraction: lines the
      // whole corpus repeats (the planted entity/footer boilerplate that
      // survives the within-page density law because it is long enough)
      // are kept once — in the lowest-id document — and every document
      // rebuilds from its surviving lines in order. One CTE chain replays
      // extraction, the owner law (lowest doc, then lowest position) and
      // the rebuild
      Some(s"""WITH $htmlExtractCtes,
             |ex AS (SELECT doc_id,
             |    list_transform(kept, s -> struct_extract(s, 't')) AS ls
             |  FROM k WHERE NOT bad),
             |ln AS (SELECT doc_id, ls[j] AS line, j AS pos
             |  FROM ex, unnest(range(1, len(ls)+1)) t(j)
             |  WHERE ls[j] <> ''),
             |own AS (SELECT line, min(doc_id) AS o_doc FROM ln GROUP BY line),
             |own2 AS (SELECT ln.line, ln.doc_id AS o_doc, min(ln.pos) AS o_pos
             |  FROM ln JOIN own ON ln.line = own.line
             |    AND ln.doc_id = own.o_doc
             |  GROUP BY 1, 2),
             |keep AS (SELECT ln.doc_id, ln.pos, ln.line
             |  FROM ln JOIN own2 ON ln.line = own2.line
             |    AND ln.doc_id = own2.o_doc AND ln.pos = own2.o_pos),
             |rb AS (SELECT doc_id,
             |    array_to_string(list(line ORDER BY pos), chr(10)) AS text,
             |    count(*) AS n_lines
             |  FROM keep GROUP BY doc_id),
             |eb AS (SELECT doc_id, len(ls) AS n0 FROM ex)
             |SELECT eb.doc_id, coalesce(rb.text, '') AS text,
             |  coalesce(rb.n_lines, 0) AS n_lines,
             |  CAST(eb.n0 - coalesce(rb.n_lines, 0) AS BIGINT)
             |    AS n_lines_dropped
             |FROM eb LEFT JOIN rb USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        // composition-point cache (the v4 lesson): dedupLines reads the
        // extracted text twice (line explode + the baseline count)
        val ex = graft.operators.Web.htmlExtract(
            T(s, dir, "documents")
              .select(col("doc_id"), plantedHtml.as("html")),
            "doc_id", "html")
          .where(col("extract_ok"))
          .select("doc_id", "text")
          .cache()
        Dedup.dedupLines(ex, "doc_id", "text").orderBy("doc_id")
      }),

    Q("x_curation_pipeline_v5", {
      val w = graft.operators.TextAnalysis.DefaultQualityWeights
      val score = s"${w("w_bias")} + ${w("w_stop")}*stop_mill + " +
        s"${w("w_punct")}*punct_mill + ${w("w_digit")}*digit_mill + " +
        s"${w("w_len")}*len_bits"
      // the FULL web-to-training-batch chain, every stage a law this
      // catalog already hash-verifies standalone: raw planted HTML ->
      // extraction + boilerplate density (error rows drop) -> C4 corpus
      // line dedup (cross-site boilerplate) -> linear-classifier quality
      // gate on the DEDUPED text -> BPE tokenization of survivors under
      // the corpus-trained vocabulary (closed-vocab law: OOV words drop
      // identically in both engines) -> sequence packing by subword
      // budget. One CTE chain replays all six stages; any single law
      // drifting hash-fails the pipeline
      Some(s"""WITH $htmlExtractCtes,
             |ex AS (SELECT doc_id,
             |    list_transform(kept, s -> struct_extract(s, 't')) AS ls
             |  FROM k WHERE NOT bad),
             |ln AS (SELECT doc_id, ls[j] AS line, j AS pos
             |  FROM ex, unnest(range(1, len(ls)+1)) t(j)
             |  WHERE ls[j] <> ''),
             |own AS (SELECT line, min(doc_id) AS o_doc FROM ln GROUP BY line),
             |own2 AS (SELECT ln.line, ln.doc_id AS o_doc, min(ln.pos) AS o_pos
             |  FROM ln JOIN own ON ln.line = own.line
             |    AND ln.doc_id = own.o_doc
             |  GROUP BY 1, 2),
             |kp AS (SELECT ln.doc_id, ln.pos, ln.line
             |  FROM ln JOIN own2 ON ln.line = own2.line
             |    AND ln.doc_id = own2.o_doc AND ln.pos = own2.o_pos),
             |dd AS (SELECT doc_id,
             |    array_to_string(list(line ORDER BY pos), chr(10)) AS text
             |  FROM kp GROUP BY doc_id),
             |f AS (SELECT doc_id,
             |    length(text) AS n_chars,
             |    len(list_filter(string_split_regex(text, '\\s+'),
             |        x -> x <> '')) AS n_tokens,
             |    len(list_filter(string_split_regex(text, '\\s+'),
             |        x -> list_contains(${sqlList(Stopwords.en)}, lower(x))))
             |      AS n_stop,
             |    length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
             |      AS n_punct,
             |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
             |      AS n_digit,
             |    text
             |  FROM dd),
             |g AS (SELECT doc_id, text FROM (
             |  SELECT doc_id, text,
             |    n_stop * 1000 // greatest(n_tokens, 1) AS stop_mill,
             |    n_punct * 1000 // greatest(n_chars, 1) AS punct_mill,
             |    n_digit * 1000 // greatest(n_chars, 1) AS digit_mill,
             |    length(bin(greatest(n_chars, 1))) - 1 AS len_bits
             |  FROM f) WHERE ($score) >= ${w("threshold")}),
             |${bpeCtes(BpeMerges)},
             |dw AS (SELECT doc_id, unnest(list_filter(string_split_regex(
             |      lower(text), '\\s+'), x -> x <> '')) AS word FROM g),
             |tc AS (SELECT dw.doc_id,
             |    CAST(sum(len(w$BpeMerges.syms)) AS BIGINT) AS n_subwords
             |  FROM dw JOIN w$BpeMerges ON dw.word = w$BpeMerges.word
             |  GROUP BY dw.doc_id),
             |pk AS (SELECT doc_id, doc_id % 4 AS shard, n_subwords,
             |    sum(n_subwords) OVER (PARTITION BY doc_id % 4
             |      ORDER BY substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8),
             |               doc_id
             |      ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM tc)
             |SELECT doc_id, n_subwords,
             |  CAST(shard * 1000000 + (cum - n_subwords) // 256 AS BIGINT)
             |    AS pack_id
             |FROM pk ORDER BY doc_id""".stripMargin)
    },
      (s, dir) => {
        val docs = T(s, dir, "documents")
        // composition-point caches (the v4 lesson): the extraction feeds
        // the line explode + baseline count; the deduped text feeds five
        // feature expressions
        val ex = graft.operators.Web.htmlExtract(
            docs.select(col("doc_id"), plantedHtml.as("html")),
            "doc_id", "html")
          .where(col("extract_ok")).select("doc_id", "text")
          .cache()
        val dd = Dedup.dedupLines(ex, "doc_id", "text")
          .where(col("n_lines") > 0).select("doc_id", "text")
          .cache()
        val gated = TextAnalysis.qualityScoreLinear(dd, "doc_id", "text")
          .where(col("keep")).select("doc_id")
        val seg = bpeTrained(s, dir).vocab
          .select(col("word"), size(col("syms")).cast("long").as("n_sub"))
        val toks = dd.join(gated, "doc_id")
          .select(col("doc_id"),
            explode(TextAnalysis.tokens(lower(col("text")))).as("word"))
          .join(broadcast(seg), "word")
          .groupBy("doc_id").agg(sum("n_sub").as("n_sub"))
        TextAnalysis.packSequences(toks, "doc_id", "n_sub",
            budget = 256L, shards = 4)
          .select(col("doc_id"), col("n_tokens").as("n_subwords"),
            col("pack_id"))
          .orderBy("doc_id")
      }),

    Q("x_text_nfc",
      // Unicode NFC normalization: both engines BUILD identical non-ASCII
      // inputs from hex (decomposed é, precomposed é, Hangul jamo, the
      // NFC-stable ﬁ ligature, A+combining ring), then the engine's native
      // codegen'd normalizer must agree byte-for-byte with DuckDB's
      // utf8proc NFC — the standard-defined law is what makes this
      // cross-engine checkable
      Some("""WITH p AS (SELECT doc_id,
             |  (CASE doc_id % 5
             |    WHEN 0 THEN 'e' || decode(unhex('CC81'))
             |    WHEN 1 THEN decode(unhex('C3A9'))
             |    WHEN 2 THEN decode(unhex('E18480E185A1'))
             |    WHEN 3 THEN decode(unhex('EFAC81'))
             |    ELSE 'A' || decode(unhex('CC8A')) END)
             |    || ' ' || substr(text, 1, 20) AS raw
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(octet_length(encode(raw)) AS BIGINT) AS n_bytes_in,
             |  nfc_normalize(raw) AS normalized,
             |  nfc_normalize(raw) <> raw AS changed,
             |  CAST(octet_length(encode(nfc_normalize(raw))) AS BIGINT)
             |    AS n_bytes_out
             |FROM p ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        def u(hex: String) = decode(unhex(lit(hex)), "UTF-8")
        val arm = pmod(col("doc_id"), lit(5))
        val raw = concat(
          when(arm === 0, concat(lit("e"), u("CC81")))
            .when(arm === 1, u("C3A9"))
            .when(arm === 2, u("E18480E185A1"))
            .when(arm === 3, u("EFAC81"))
            .otherwise(concat(lit("A"), u("CC8A"))),
          lit(" "), substring(col("text"), 1, 20))
        val norm = TextAnalysis.nfcNormalize(col("raw"))
        T(s, dir, "documents")
          .select(col("doc_id"), raw.as("raw"))
          .select(col("doc_id"),
            octet_length(col("raw")).cast("long").as("n_bytes_in"),
            norm.as("normalized"),
            (norm =!= col("raw")).as("changed"),
            octet_length(norm).cast("long").as("n_bytes_out"))
          .orderBy("doc_id")
      }),

    Q("x_text_fingerprint",
      Some("""SELECT doc_id,
             |       substring(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))),
             |         1, 16) AS fingerprint
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        T(s, dir, "documents")
          .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
          .orderBy("doc_id")),

    Q("x_sketch_kmv_vocab",
      // KMV distinct sketch (native TypedImperativeAggregate, bounded k-min
      // buffer, map-side combinable): per-lang distinct-TOKEN estimate.
      // Unlike HLL the minima are a pure function of the input SET, so
      // DuckDB re-derives the exact k smallest sha63 hashes per lang AND
      // the (k−1)·2⁶³ // h_k integral-division estimator — a dropped hash,
      // broken merge or wrong estimator law all hash-mismatch. The minima
      // are rendered as one comma-joined string (the harness comparator
      // cannot sort array cells); h_k is clamped ≥ 1 on both sides
      Some("""WITH t AS (SELECT lang,
             |         unnest(list_filter(string_split_regex(lower(text), '\s+'),
             |                x -> x <> '')) AS tok
             |       FROM documents),
             |h AS (SELECT DISTINCT lang,
             |        (CAST(concat('0x', substr(sha256(tok || ':0'), 1, 8))
             |           AS BIGINT) & 2147483647) * 4294967296
             |        + CAST(concat('0x', substr(sha256(tok || ':0'), 9, 8))
             |           AS BIGINT) AS hv
             |      FROM t),
             |r AS (SELECT lang, hv,
             |        row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn
             |      FROM h),
             |m AS (SELECT lang, list(hv ORDER BY hv) AS kmv_minima,
             |        count(*) AS n
             |      FROM r WHERE rn <= 64 GROUP BY lang)
             |SELECT lang,
             |  array_to_string(kmv_minima, ',') AS kmv_minima,
             |  CASE WHEN n < 64 THEN n
             |       ELSE CAST(63::HUGEINT * 9223372036854775808::HUGEINT
             |                 // greatest(kmv_minima[64], 1) AS BIGINT)
             |       END AS distinct_est
             |FROM m ORDER BY lang""".stripMargin),
      (s, dir) => {
        val k = 64
        val hashes = T(s, dir, "documents")
          .select(col("lang"),
            explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
          .select(col("lang"), Dedup.sha63(col("tok"), lit(0)).as("h"))
        hashes.groupBy("lang")
          .agg(graft.functions.GraftFunctions.kmvMinHashes(col("h"), k)
            .as("mins"))
          .select(col("lang"),
            concat_ws(",", col("mins").cast("array<string>")).as("kmv_minima"),
            graft.operators.Stats.kmvEstimate(col("mins"), k)
              .as("distinct_est"))
          .orderBy("lang")
      }),

    Q("x_sketch_kmv_mixture",
      // the KMV sketch COMPOSED into the sampling machinery: a
      // distinct-BIGRAM-equalized mixture — per-lang KMV estimates (same
      // TypedImperativeAggregate + estimator law as x_sketch_kmv_vocab,
      // over the surprisal query's bigram vocabulary so every stratum
      // holds well over k distinct units and the estimates genuinely
      // differentiate) set exact-integer keep thresholds
      // (min_est << 32) div est — the INVERSE-diversity analog of
      // x_sample_mixture's inverse-frequency law with the sketch estimate
      // as the mass: the lowest-vocabulary stratum survives whole and
      // vocabulary-dominant strata downsample toward it. Fully
      // relational: the per-lang estimate frame is a tiny broadcast, the
      // sample a map-only filter — no driver collect. DuckDB re-derives
      // the k smallest sha63 hashes, the (k−1)·2⁶³ // h_k estimator (h_k
      // clamped ≥ 1), and the threshold law, so a dropped hash, broken
      // merge, or threshold drift all hash-mismatch
      Some("""WITH d AS (SELECT lang,
             |         list_transform(list_filter(
             |           string_split_regex(text, '\s+'), x -> x <> ''),
             |           w -> lower(w)) AS toks
             |       FROM documents),
             |t AS (SELECT lang, toks[i] || ' ' || toks[i+1] AS tok
             |      FROM d, unnest(range(1, len(toks))) r(i)),
             |h AS (SELECT DISTINCT lang,
             |        (CAST(concat('0x', substr(sha256(tok || ':0'), 1, 8))
             |           AS BIGINT) & 2147483647) * 4294967296
             |        + CAST(concat('0x', substr(sha256(tok || ':0'), 9, 8))
             |           AS BIGINT) AS hv
             |      FROM t),
             |r AS (SELECT lang, hv,
             |        row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn
             |      FROM h),
             |m AS (SELECT lang, count(*) AS n,
             |        max(CASE WHEN rn = 64 THEN hv END) AS h64
             |      FROM r WHERE rn <= 64 GROUP BY lang),
             |e AS (SELECT lang,
             |        CASE WHEN n < 64 THEN n
             |             ELSE CAST(63::HUGEINT * 9223372036854775808::HUGEINT
             |                       // greatest(h64, 1) AS BIGINT)
             |        END AS est FROM m),
             |mn AS (SELECT min(est) AS me FROM e),
             |thr AS (SELECT e.lang, e.est,
             |          CASE WHEN e.est = mn.me THEN 'g'
             |               ELSE printf('%08x', CAST(mn.me::HUGEINT * 4294967296
             |                 // greatest(e.est, 1) AS BIGINT)) END AS thr
             |        FROM e, mn)
             |SELECT d.doc_id, d.lang, thr.est AS distinct_est
             |FROM documents d JOIN thr ON d.lang = thr.lang
             |WHERE substr(sha256(CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.thr
             |ORDER BY d.doc_id""".stripMargin),
      (s, dir) => {
        val k = 64
        val docs = T(s, dir, "documents")
        // bigram building is the fused word_grams pass (r21 — replaces
        // the interpreted zip_with/concat chain; ExpressionSpec pins
        // gram-for-gram equality at n=2), hashed by the memoized native
        // sha63 — the scan stage's kernel cost, not its shape, changes
        val est = docs
          .select(col("lang"),
            explode(graft.functions.GraftFunctions.wordGrams(
              col("text"), 2)).as("tok"))
          .select(col("lang"), Dedup.sha63(col("tok"), lit(0)).as("h"))
          .groupBy("lang")
          .agg(graft.functions.GraftFunctions.kmvMinHashes(col("h"), k)
            .as("mins"))
          .select(col("lang"),
            graft.operators.Stats.kmvEstimate(col("mins"), k).as("est"))
        // the min estimate is ONE row riding a broadcast (the curation-v2
        // scalar-gate shape); thresholds replay x_sample_mixture's
        // exact-integer law with the sketch estimate as the mass
        val me = est.agg(min("est").as("me"))
        val thr = est.crossJoin(broadcast(me))
          .select(col("lang"), col("est"),
            when(col("est") === col("me"), lit("g"))
              .otherwise(lpad(lower(hex(call_function("div",
                col("me").cast("decimal(38,0)") * lit(4294967296L),
                greatest(col("est"), lit(1L)).cast("decimal(38,0)"))
                .cast("long"))), 8, "0")).as("thr"))
        // ≤ #langs threshold rows as LITERAL maps, not a broadcast join
        // (r21; same collect-vs-broadcast-build cost, one fewer join)
        val thrRows = thr.collect()
        val thrMap = if (thrRows.isEmpty) lit(null).cast("map<string,string>")
          else map(thrRows.toSeq.flatMap(r =>
            Seq(lit(r.getString(0)), lit(r.getString(2)))): _*)
        val estMap = if (thrRows.isEmpty) lit(null).cast("map<string,bigint>")
          else map(thrRows.toSeq.flatMap(r =>
            Seq(lit(r.getString(0)), lit(r.getLong(1)))): _*)
        docs.select("doc_id", "lang")
          .where(substring(sha2(col("doc_id").cast("string"), 256), 1, 8)
            < try_element_at(thrMap, col("lang")))
          .select(col("doc_id"), col("lang"),
            try_element_at(estMap, col("lang")).as("distinct_est"))
          .orderBy("doc_id")
      }),

    Q("x_text_lm_surprisal",
      // corpus-bigram LM surprisal (the perplexity-filter family,
      // integerized): DuckDB re-trains the same bigram/prefix count model
      // and replays flog2 = length(bin(c))-1 — a wrong count, join or log
      // law hash-mismatches; docs with <2 tokens score 0 over 0 bigrams
      Some("""WITH d AS (SELECT doc_id,
             |         list_transform(list_filter(
             |           string_split_regex(text, '\s+'), x -> x <> ''),
             |           w -> lower(w)) AS toks
             |       FROM documents),
             |bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram
             |       FROM d, unnest(range(1, len(toks))) t(i)),
             |bc AS (SELECT bigram, count(*) AS c_bg,
             |              string_split(bigram, ' ')[1] AS prefix
             |       FROM bg GROUP BY bigram),
             |pc AS (SELECT prefix, CAST(sum(c_bg) AS BIGINT) AS c_pref
             |       FROM bc GROUP BY prefix),
             |s AS (SELECT bg.doc_id, count(*) AS n_bigrams,
             |        CAST(sum((length(bin(pc.c_pref)) - 1)
             |                 - (length(bin(bc.c_bg)) - 1)) AS BIGINT)
             |          AS surprisal_bits
             |      FROM bg JOIN bc USING (bigram) JOIN pc USING (prefix)
             |      GROUP BY bg.doc_id)
             |SELECT d.doc_id,
             |       CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             |       coalesce(s.surprisal_bits, 0) AS surprisal_bits,
             |       CASE WHEN coalesce(s.n_bigrams, 0) > 0
             |            THEN s.surprisal_bits * 1000 // s.n_bigrams
             |            ELSE 0 END AS mean_millibits
             |FROM d LEFT JOIN s ON s.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin),
      (s, dir) =>
        TextAnalysis.bigramSurprisal(T(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id")),

    Q("x_text_lm_surprisal3",
      // trigram LM with integerized Katz-style back-off: a trigram seen
      // >= 2x scores flog2(c_prefix2) - flog2(c_tg); a singleton backs
      // off to the bigram law on (w2 w3) plus a 1-bit discount. DuckDB
      // re-trains all four count tables and replays both arms — a wrong
      // back-off boundary, prefix law or discount all hash-fail
      Some("""WITH d AS (SELECT doc_id,
             |         list_transform(list_filter(
             |           string_split_regex(text, '\s+'), x -> x <> ''),
             |           w -> lower(w)) AS toks
             |       FROM documents),
             |tg AS (SELECT doc_id,
             |         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS trigram
             |       FROM d, unnest(range(1, len(toks) - 1)) t(i)),
             |tc AS (SELECT trigram, count(*) AS c_tg,
             |         array_to_string(string_split(trigram, ' ')[1:2], ' ')
             |           AS prefix2,
             |         array_to_string(string_split(trigram, ' ')[2:3], ' ')
             |           AS bigram23
             |       FROM tg GROUP BY trigram),
             |p2 AS (SELECT prefix2, CAST(sum(c_tg) AS BIGINT) AS c_p2
             |       FROM tc GROUP BY prefix2),
             |bg AS (SELECT toks[i] || ' ' || toks[i+1] AS bigram23
             |       FROM d, unnest(range(1, len(toks))) t(i)),
             |bc AS (SELECT bigram23, count(*) AS c_bg,
             |         string_split(bigram23, ' ')[1] AS prefix1
             |       FROM bg GROUP BY bigram23),
             |p1 AS (SELECT prefix1, CAST(sum(c_bg) AS BIGINT) AS c_p1
             |       FROM bc GROUP BY prefix1),
             |s AS (SELECT tg.doc_id, count(*) AS n_trigrams,
             |        CAST(sum(CASE WHEN tc.c_tg < 2 THEN 1 ELSE 0 END)
             |          AS BIGINT) AS n_backoff,
             |        CAST(sum(CASE WHEN tc.c_tg >= 2
             |          THEN (length(bin(p2.c_p2)) - 1)
             |             - (length(bin(tc.c_tg)) - 1)
             |          ELSE (length(bin(p1.c_p1)) - 1)
             |             - (length(bin(bc.c_bg)) - 1) + 1 END) AS BIGINT)
             |          AS surprisal3_bits
             |      FROM tg JOIN tc USING (trigram) JOIN p2 USING (prefix2)
             |        JOIN bc USING (bigram23) JOIN p1 USING (prefix1)
             |      GROUP BY tg.doc_id)
             |SELECT d.doc_id,
             |       CAST(coalesce(s.n_trigrams, 0) AS BIGINT) AS n_trigrams,
             |       coalesce(s.n_backoff, 0) AS n_backoff,
             |       coalesce(s.surprisal3_bits, 0) AS surprisal3_bits,
             |       CASE WHEN coalesce(s.n_trigrams, 0) > 0
             |            THEN s.surprisal3_bits * 1000 // s.n_trigrams
             |            ELSE 0 END AS mean_millibits
             |FROM d LEFT JOIN s ON s.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin),
      (s, dir) =>
        TextAnalysis.trigramSurprisal(T(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id")),

    Q("x_text_ppl_buckets",
      // CCNet head/middle/tail perplexity terciles WITHOUT CCNet's global
      // sort: exact threshold cuts from a histogram over the bounded
      // integer millibit domain (t_head = min{s: 3·cum ≥ n}, t_mid =
      // min{s: 3·cum ≥ 2n}); boundary ties share a bucket by law. DuckDB
      // re-trains the trigram LM and re-derives both cuts
      Some("""WITH d AS (SELECT doc_id,
             |         list_transform(list_filter(
             |           string_split_regex(text, '\s+'), x -> x <> ''),
             |           w -> lower(w)) AS toks
             |       FROM documents),
             |tg AS (SELECT doc_id,
             |         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS trigram
             |       FROM d, unnest(range(1, len(toks) - 1)) t(i)),
             |tc AS (SELECT trigram, count(*) AS c_tg,
             |         array_to_string(string_split(trigram, ' ')[1:2], ' ')
             |           AS prefix2,
             |         array_to_string(string_split(trigram, ' ')[2:3], ' ')
             |           AS bigram23
             |       FROM tg GROUP BY trigram),
             |p2 AS (SELECT prefix2, CAST(sum(c_tg) AS BIGINT) AS c_p2
             |       FROM tc GROUP BY prefix2),
             |bg AS (SELECT toks[i] || ' ' || toks[i+1] AS bigram23
             |       FROM d, unnest(range(1, len(toks))) t(i)),
             |bc AS (SELECT bigram23, count(*) AS c_bg,
             |         string_split(bigram23, ' ')[1] AS prefix1
             |       FROM bg GROUP BY bigram23),
             |p1 AS (SELECT prefix1, CAST(sum(c_bg) AS BIGINT) AS c_p1
             |       FROM bc GROUP BY prefix1),
             |s AS (SELECT tg.doc_id, count(*) AS n_trigrams,
             |        CAST(sum(CASE WHEN tc.c_tg >= 2
             |          THEN (length(bin(p2.c_p2)) - 1)
             |             - (length(bin(tc.c_tg)) - 1)
             |          ELSE (length(bin(p1.c_p1)) - 1)
             |             - (length(bin(bc.c_bg)) - 1) + 1 END) AS BIGINT)
             |          AS surprisal3_bits
             |      FROM tg JOIN tc USING (trigram) JOIN p2 USING (prefix2)
             |        JOIN bc USING (bigram23) JOIN p1 USING (prefix1)
             |      GROUP BY tg.doc_id),
             |sc AS (SELECT d.doc_id,
             |         CAST(CASE WHEN coalesce(s.n_trigrams, 0) > 0
             |              THEN s.surprisal3_bits * 1000 // s.n_trigrams
             |              ELSE 0 END AS BIGINT) AS mean_millibits
             |       FROM d LEFT JOIN s ON s.doc_id = d.doc_id),
             |hist AS (SELECT mean_millibits AS hs, count(*) AS c
             |         FROM sc GROUP BY 1),
             |cumt AS (SELECT hs, sum(c) OVER (ORDER BY hs
             |           ROWS UNBOUNDED PRECEDING) AS cum FROM hist),
             |tot AS (SELECT max(cum) AS n FROM cumt),
             |thr AS (SELECT min(CASE WHEN cum * 3 >= n THEN hs END)
             |          AS t_head,
             |          min(CASE WHEN cum * 3 >= 2 * n THEN hs END) AS t_mid
             |        FROM cumt, tot)
             |SELECT doc_id, mean_millibits,
             |       CASE WHEN mean_millibits <= t_head THEN 'head'
             |            WHEN mean_millibits <= t_mid THEN 'middle'
             |            ELSE 'tail' END AS ppl_bucket
             |FROM sc, thr ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        // CHECKPOINT the scored frame: surprisalBuckets consumes it twice
        // (the histogram pass AND the threshold join), and each uncached
        // consumer would re-train the whole trigram LM — the v2 lesson
        TextAnalysis.surprisalBuckets(
            TextAnalysis.trigramSurprisal(T(s, dir, "documents"),
              "doc_id", "text")
              .select("doc_id", "mean_millibits")
              .transform(Checkpoints.checkpointed),
            "doc_id", "mean_millibits")
          .orderBy("doc_id")),

    Q("x_curation_pipeline_v7",
      // the CCNet recipe END-TO-END (Wenzek et al. 2020), every stage a
      // hash-verified law: in-engine perceptron training on the trusted
      // stratum (lang='en' vs rest) -> classifier gate at the corpus-MEAN
      // margin (self-calibrating, the quantile-style cut practical
      // fastText curation uses — an absolute margin>0 cut empties under
      // class imbalance; the comparison is multiplication-only,
      // margin·n >= Σmargin, so no floor-vs-truncate division skew on
      // negative sums) -> trigram back-off LM RE-TRAINED over the
      // survivors -> exact histogram-cut perplexity terciles ->
      // bucket-stratified mixture (head 100% / middle 50% / tail 10%).
      // DuckDB replays training, gating, LM fitting, both tercile cuts
      // and the sha mixture in ONE CTE chain — classifier drift, LM
      // drift or a moved cut all hash-fail the pipeline
      Some(s"""WITH d AS (SELECT doc_id,
             |         CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END
             |           AS BIGINT) AS y,
             |         list_transform(list_filter(
             |           string_split_regex(text, '\\s+'), x -> x <> ''),
             |           w -> lower(w)) AS toks
             |       FROM documents),
             |f0 AS (SELECT doc_id, y,
             |         ('0x' || substr(sha256(t.w), 1, 8))::BIGINT % 64
             |           AS bucket
             |       FROM d, unnest(toks) t(w)),
             |f AS (SELECT doc_id, y, bucket, CAST(count(*) AS BIGINT) AS tf
             |      FROM f0 GROUP BY 1, 2, 3),
             |w1 AS (SELECT bucket, CAST(sum(y * tf) AS BIGINT) AS w
             |       FROM f GROUP BY 1),
             |m1 AS (SELECT f.doc_id, f.y,
             |         CAST(sum(f.tf * w1.w) AS BIGINT) AS margin
             |       FROM f JOIN w1 USING (bucket) GROUP BY 1, 2),
             |u2 AS (SELECT f.bucket, CAST(sum(f.y * f.tf) AS BIGINT) AS delta
             |       FROM f JOIN m1 ON m1.doc_id = f.doc_id
             |       WHERE m1.y * m1.margin <= 0 GROUP BY 1),
             |w2 AS (SELECT w1.bucket, w1.w + coalesce(u2.delta, 0) AS w
             |       FROM w1 LEFT JOIN u2 USING (bucket)),
             |m2 AS (SELECT f.doc_id, f.y,
             |         CAST(sum(f.tf * w2.w) AS BIGINT) AS margin
             |       FROM f JOIN w2 USING (bucket) GROUP BY 1, 2),
             |u3 AS (SELECT f.bucket, CAST(sum(f.y * f.tf) AS BIGINT) AS delta
             |       FROM f JOIN m2 ON m2.doc_id = f.doc_id
             |       WHERE m2.y * m2.margin <= 0 GROUP BY 1),
             |w3 AS (SELECT w2.bucket, w2.w + coalesce(u3.delta, 0) AS w
             |       FROM w2 LEFT JOIN u3 USING (bucket)),
             |mg AS (SELECT f.doc_id,
             |         CAST(sum(f.tf * w3.w) AS BIGINT) AS margin
             |       FROM f JOIN w3 USING (bucket) GROUP BY 1),
             |mt AS (SELECT CAST(sum(margin) AS BIGINT) AS sm,
             |              CAST(count(*) AS BIGINT) AS cnt FROM mg),
             |keep AS (SELECT doc_id, margin FROM mg, mt
             |         WHERE margin * cnt >= sm),
             |d2 AS (SELECT d.doc_id, d.toks FROM d JOIN keep USING (doc_id)),
             |tg AS (SELECT doc_id,
             |         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS trigram
             |       FROM d2, unnest(range(1, len(toks) - 1)) t(i)),
             |tc AS (SELECT trigram, count(*) AS c_tg,
             |         array_to_string(string_split(trigram, ' ')[1:2], ' ')
             |           AS prefix2,
             |         array_to_string(string_split(trigram, ' ')[2:3], ' ')
             |           AS bigram23
             |       FROM tg GROUP BY trigram),
             |p2 AS (SELECT prefix2, CAST(sum(c_tg) AS BIGINT) AS c_p2
             |       FROM tc GROUP BY prefix2),
             |bg AS (SELECT toks[i] || ' ' || toks[i+1] AS bigram23
             |       FROM d2, unnest(range(1, len(toks))) t(i)),
             |bc AS (SELECT bigram23, count(*) AS c_bg,
             |         string_split(bigram23, ' ')[1] AS prefix1
             |       FROM bg GROUP BY bigram23),
             |p1 AS (SELECT prefix1, CAST(sum(c_bg) AS BIGINT) AS c_p1
             |       FROM bc GROUP BY prefix1),
             |s AS (SELECT tg.doc_id, count(*) AS n_trigrams,
             |        CAST(sum(CASE WHEN tc.c_tg >= 2
             |          THEN (length(bin(p2.c_p2)) - 1)
             |             - (length(bin(tc.c_tg)) - 1)
             |          ELSE (length(bin(p1.c_p1)) - 1)
             |             - (length(bin(bc.c_bg)) - 1) + 1 END) AS BIGINT)
             |          AS surprisal3_bits
             |      FROM tg JOIN tc USING (trigram) JOIN p2 USING (prefix2)
             |        JOIN bc USING (bigram23) JOIN p1 USING (prefix1)
             |      GROUP BY tg.doc_id),
             |sc2 AS (SELECT d2.doc_id,
             |         CAST(CASE WHEN coalesce(s.n_trigrams, 0) > 0
             |              THEN s.surprisal3_bits * 1000 // s.n_trigrams
             |              ELSE 0 END AS BIGINT) AS mean_millibits
             |       FROM d2 LEFT JOIN s ON s.doc_id = d2.doc_id),
             |hist AS (SELECT mean_millibits AS hs, count(*) AS c
             |         FROM sc2 GROUP BY 1),
             |cumt AS (SELECT hs, sum(c) OVER (ORDER BY hs
             |           ROWS UNBOUNDED PRECEDING) AS cum FROM hist),
             |tot AS (SELECT max(cum) AS n FROM cumt),
             |thr AS (SELECT min(CASE WHEN cum * 3 >= n THEN hs END)
             |          AS t_head,
             |          min(CASE WHEN cum * 3 >= 2 * n THEN hs END) AS t_mid
             |        FROM cumt, tot),
             |mix AS (SELECT sc2.doc_id, sc2.mean_millibits,
             |          CASE WHEN mean_millibits <= t_head THEN 'head'
             |               WHEN mean_millibits <= t_mid THEN 'middle'
             |               ELSE 'tail' END AS ppl_bucket
             |        FROM sc2, thr),
             |kept AS (SELECT * FROM mix
             |         WHERE substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8) <
             |           CASE ppl_bucket
             |             WHEN 'head' THEN '${Sampling.thresholdHex(1.0)}'
             |             WHEN 'middle' THEN '${Sampling.thresholdHex(0.5)}'
             |             ELSE '${Sampling.thresholdHex(0.1)}' END)
             |SELECT k.doc_id, keep.margin, k.mean_millibits, k.ppl_bucket
             |FROM kept k JOIN keep USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = T(s, dir, "documents")
        val labeled = docs.withColumn("__y",
          when(col("lang") === "en", 1L).otherwise(-1L))
        val (w, feats) = Classifier.trainPerceptron(labeled,
          "doc_id", "text", "__y", dims = 64, rounds = 3)
        // checkpoint the gate verdicts: they feed BOTH the LM input and
        // the final provenance join (the v2 lesson — an uncached gate
        // re-scores the corpus per consumer). Gate = corpus-mean margin,
        // compared multiplication-only (margin·n ≥ Σmargin): exact for
        // negative sums where floor-div (DuckDB) and truncate-div (Spark)
        // disagree. Overflow license: |margin|·n ≤ BIGINT until ~10^9
        // docs × 10^9 margins — beyond that, widen to decimal.
        val mg = Classifier.scoreFeatures(feats, w)
          .select("doc_id", "margin")
        // the 1-row mean gate rides as LITERALS (litRow), not a broadcast
        // join — one collect job replaces the broadcast build and the gate
        // is a plain filter (r21; identical multiplication-only law)
        val mthr = litRow(mg.agg(sum("margin").as("sm"),
          count(lit(1)).as("cnt")))
        val keep = mg
          .where(col("margin") * mthr(1) >= mthr(0))
          .select("doc_id", "margin")
          .transform(Checkpoints.checkpointed)
        val scored = TextAnalysis.trigramSurprisal(
            docs.join(keep.select("doc_id"), "doc_id"), "doc_id", "text")
          .select("doc_id", "mean_millibits")
          // checkpoint before bucketing: the tercile law reads this frame
          // twice (histogram + threshold join) and each uncached consumer
          // would re-train the trigram LM over the survivors
          .transform(Checkpoints.checkpointed)
        val buck = TextAnalysis.surprisalBuckets(scored,
          "doc_id", "mean_millibits")
        Sampling.stratifiedThresholds(buck, "doc_id", "ppl_bucket",
            Map("head" -> Sampling.thresholdHex(1.0),
              "middle" -> Sampling.thresholdHex(0.5),
              "tail" -> Sampling.thresholdHex(0.1)),
            Sampling.thresholdHex(1.0))
          .join(keep, "doc_id")
          .select(col("doc_id"), col("margin"), col("mean_millibits"),
            col("ppl_bucket"))
          .orderBy("doc_id")
      }),

    Q("x_curation_pipeline_v8", {
      // the FULL modern recipe in one chain (r19 judge directive #5):
      // WARC walk -> URL canonicalize -> robots.txt gate (octet-precedence
      // prefix rules on the parsed path) -> canonical dedup -> FULL-PSL
      // registrable domain + per-domain cap -> HTML extraction ->
      // paragraph-form rebuild -> Gopher rule gate (%11 plants symbol/alpha
      // violators) + Gopher repetition gate (%13 plants dup-line violators)
      // -> in-engine perceptron gate at the corpus-mean margin -> trigram
      // back-off LM perplexity terciles -> corpus-wide paragraph dedup ->
      // overlapping-window chunking -> sequence packing. DuckDB replays
      // every stage in ONE CTE chain; any drifted law hash-fails the
      // pipeline at chunk grain
      val stops = sqlList(graft.operators.TextAnalysis.GopherStopwords)
      val (_, bodySql) = warcHttpSql
      Some(s"""WITH RECURSIVE ${warcSourceCtesFrom(
                 plantedHtmlSqlWith(v8HtmlExtraSql))},
             |${warcCtes(64)},
             |resp AS MATERIALIZED (SELECT doc_id, target_uri AS url, $bodySql AS body
             |  FROM wr WHERE rec_ok AND warc_type = 'response'),
             |u0 AS (SELECT doc_id, url FROM resp),
             |$urlCanonCtes,
             |pth AS (SELECT u8.doc_id, u8.canonical_url, u8.host,
             |    regexp_extract(u8.canonical_url, '://[^/]*(/[^?]*)', 1)
             |      AS path
             |  FROM u8),
             |rrules(is_allow, v) AS (VALUES (false, '/p/1'), (true, '/p/13')),
             |rmt AS (SELECT pth.doc_id, rr.is_allow, rr.v
             |  FROM pth JOIN rrules rr ON starts_with(pth.path, rr.v)),
             |rwin AS (SELECT doc_id, is_allow FROM (
             |  SELECT *, row_number() OVER (PARTITION BY doc_id
             |    ORDER BY octet_length(encode(v)) DESC, is_allow DESC) AS rn
             |  FROM rmt) WHERE rn = 1),
             |rok AS (SELECT pth.doc_id, pth.canonical_url, pth.host
             |  FROM pth LEFT JOIN rwin USING (doc_id)
             |  WHERE coalesce(rwin.is_allow, true)),
             |ud AS (SELECT rok.doc_id, resp.body AS html, rok.host,
             |    row_number() OVER (PARTITION BY rok.canonical_url
             |      ORDER BY rok.doc_id) AS rn
             |  FROM rok JOIN resp ON rok.doc_id = resp.doc_id),
             |d1 AS MATERIALIZED (SELECT doc_id, html, host FROM ud WHERE rn = 1),
             |prules(key, rl, exc) AS (VALUES $ruleValues),
             |plab AS (SELECT doc_id, host, string_split(lower(host), '.') AS l
             |  FROM d1),
             |pprob AS (
             |  SELECT doc_id, host,
             |    array_to_string(l[len(l)-j+1:len(l)], '.') AS key, j AS jl
             |  FROM plab, unnest(range(1, $maxJ + 1)) t(j) WHERE len(l) >= j
             |  UNION ALL
             |  SELECT doc_id, host,
             |    '*.' || array_to_string(l[len(l)-j+2:len(l)], '.'), j
             |  FROM plab, unnest(range(2, $maxJ + 1)) t(j) WHERE len(l) >= j
             |  UNION ALL
             |  SELECT doc_id, host, '*', 1 FROM plab),
             |prr AS (SELECT p.doc_id, p.host, ru.exc, ru.rl, p.jl,
             |    row_number() OVER (PARTITION BY p.doc_id
             |      ORDER BY ru.exc DESC, ru.rl DESC, p.jl DESC) AS rn
             |  FROM pprob p JOIN prules ru USING (key)),
             |pm AS (SELECT doc_id, host,
             |    CASE WHEN exc THEN jl - 1 ELSE jl END AS sl
             |  FROM prr WHERE rn = 1),
             |dom AS (SELECT pm.doc_id,
             |    CASE WHEN regexp_matches(pm.host, '^[0-9.]+$$')
             |           OR len(plab.l) <= pm.sl THEN lower(pm.host)
             |         ELSE array_to_string(
             |           plab.l[len(plab.l)-pm.sl:len(plab.l)], '.') END
             |      AS registrable_domain
             |  FROM pm JOIN plab ON plab.doc_id = pm.doc_id),
             |capd AS MATERIALIZED (SELECT d1.doc_id, d1.html FROM (
             |    SELECT dom.doc_id, row_number() OVER (
             |      PARTITION BY registrable_domain
             |      ORDER BY substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8),
             |      doc_id) AS rn2 FROM dom) c
             |  JOIN d1 ON d1.doc_id = c.doc_id WHERE c.rn2 <= 4),
             |${htmlExtractCtesFrom("SELECT doc_id, html FROM capd")},
             |para AS MATERIALIZED (SELECT doc_id,
             |    array_to_string(list_filter(
             |      list_transform(kept, s -> struct_extract(s, 't')),
             |      x -> x <> ''), chr(10) || chr(10)) AS doc
             |  FROM k WHERE NOT bad),
             |gf AS (SELECT doc_id, doc AS t,
             |  list_filter(string_split_regex(doc, '\\s+'), x -> x <> '') AS toks,
             |  list_filter(string_split(doc, chr(10)), l -> l <> '') AS ls
             |  FROM para),
             |gg AS (SELECT doc_id,
             |  CAST(len(toks) AS BIGINT) AS n_words,
             |  CAST(len(ls) AS BIGINT) AS n_lines,
             |  CAST(coalesce(list_sum(list_transform(toks,
             |    w -> length(w))), 0) AS BIGINT) AS wc,
             |  CAST((length(t) - length(replace(t, '#', '')))
             |    + (length(t) - length(replace(t, '…', '')))
             |    + ((length(t) - length(replace(t, '...', ''))) // 3)
             |    AS BIGINT) AS sym,
             |  CAST(len(list_filter(ls, l -> l[1] IN ('•', '-', '*')))
             |    AS BIGINT) AS bl,
             |  CAST(len(list_filter(ls, l -> ends_with(l, '…')
             |    OR ends_with(l, '...'))) AS BIGINT) AS el,
             |  CAST(len(list_filter(toks, w -> regexp_matches(w, '\\p{L}')))
             |    AS BIGINT) AS aw,
             |  CAST(len(list_filter($stops, sw -> list_contains(
             |    list_transform(toks, w -> lower(w)), sw))) AS BIGINT)
             |    AS n_stop_hits
             |  FROM gf),
             |gkeep AS (SELECT doc_id FROM gg
             |  WHERE n_words BETWEEN 10 AND 100000
             |    AND wc * 1000 // greatest(n_words, 1) BETWEEN 3000 AND 10000
             |    AND sym * 1000 // greatest(n_words, 1) <= 100
             |    AND bl * 1000 // greatest(n_lines, 1) <= 900
             |    AND el * 1000 // greatest(n_lines, 1) <= 300
             |    AND aw * 1000 // greatest(n_words, 1) >= 800
             |    AND n_stop_hits >= 2),
             |${repetitionCtesFrom("SELECT doc_id, doc AS doc2, " +
                "list_filter(string_split_regex(doc, '\\s+'), x -> x <> '') " +
                "AS ws FROM para")},
             |repk AS (SELECT doc_id FROM vals WHERE $repKeepExpr),
             |pg AS MATERIALIZED (SELECT para.doc_id, para.doc FROM para
             |  JOIN gkeep USING (doc_id) JOIN repk USING (doc_id)),
             |${langIdBootstrapCtes("SELECT doc_id, text FROM documents",
                "li")},
             |${langIdTrainedCtes("SELECT doc_id, doc AS text FROM pg",
                "liboot", Seq("de", "en"), 256, "li")},
             |cd AS MATERIALIZED (SELECT pg.doc_id,
             |    CAST(CASE WHEN lp.predicted_lang = 'en' THEN 1 ELSE -1 END
             |      AS BIGINT) AS y,
             |    list_transform(list_filter(
             |      string_split_regex(pg.doc, '\\s+'), x -> x <> ''),
             |      w -> lower(w)) AS toks
             |  FROM pg JOIN lipred lp USING (doc_id)),
             |cf0 AS (SELECT doc_id, y,
             |    ('0x' || substr(sha256(t.w), 1, 8))::BIGINT % 64 AS bucket
             |  FROM cd, unnest(toks) t(w)),
             |cf AS MATERIALIZED (SELECT doc_id, y, bucket, CAST(count(*) AS BIGINT) AS tf
             |  FROM cf0 GROUP BY 1, 2, 3),
             |cw1 AS (SELECT bucket, CAST(sum(y * tf) AS BIGINT) AS w
             |  FROM cf GROUP BY 1),
             |cm1 AS (SELECT cf.doc_id, cf.y,
             |    CAST(sum(cf.tf * cw1.w) AS BIGINT) AS margin
             |  FROM cf JOIN cw1 USING (bucket) GROUP BY 1, 2),
             |cu2 AS (SELECT cf.bucket, CAST(sum(cf.y * cf.tf) AS BIGINT)
             |    AS delta
             |  FROM cf JOIN cm1 ON cm1.doc_id = cf.doc_id
             |  WHERE cm1.y * cm1.margin <= 0 GROUP BY 1),
             |cw2 AS (SELECT cw1.bucket, cw1.w + coalesce(cu2.delta, 0) AS w
             |  FROM cw1 LEFT JOIN cu2 USING (bucket)),
             |cm2 AS (SELECT cf.doc_id, cf.y,
             |    CAST(sum(cf.tf * cw2.w) AS BIGINT) AS margin
             |  FROM cf JOIN cw2 USING (bucket) GROUP BY 1, 2),
             |cu3 AS (SELECT cf.bucket, CAST(sum(cf.y * cf.tf) AS BIGINT)
             |    AS delta
             |  FROM cf JOIN cm2 ON cm2.doc_id = cf.doc_id
             |  WHERE cm2.y * cm2.margin <= 0 GROUP BY 1),
             |cw3 AS (SELECT cw2.bucket, cw2.w + coalesce(cu3.delta, 0) AS w
             |  FROM cw2 LEFT JOIN cu3 USING (bucket)),
             |cmg AS (SELECT cf.doc_id,
             |    CAST(sum(cf.tf * cw3.w) AS BIGINT) AS margin
             |  FROM cf JOIN cw3 USING (bucket) GROUP BY 1),
             |cmt AS (SELECT CAST(sum(margin) AS BIGINT) AS sm,
             |    CAST(count(*) AS BIGINT) AS cnt FROM cmg),
             |ckeep AS (SELECT doc_id FROM cmg, cmt WHERE margin * cnt >= sm),
             |d2 AS MATERIALIZED (SELECT cd.doc_id, cd.toks FROM cd JOIN ckeep USING (doc_id)),
             |lmtg AS (SELECT doc_id,
             |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS trigram
             |  FROM d2, unnest(range(1, len(toks) - 1)) t(i)),
             |lmtc AS (SELECT trigram, count(*) AS c_tg,
             |    array_to_string(string_split(trigram, ' ')[1:2], ' ')
             |      AS prefix2,
             |    array_to_string(string_split(trigram, ' ')[2:3], ' ')
             |      AS bigram23
             |  FROM lmtg GROUP BY trigram),
             |lmp2 AS (SELECT prefix2, CAST(sum(c_tg) AS BIGINT) AS c_p2
             |  FROM lmtc GROUP BY prefix2),
             |lmbg AS (SELECT toks[i] || ' ' || toks[i+1] AS bigram23
             |  FROM d2, unnest(range(1, len(toks))) t(i)),
             |lmbc AS (SELECT bigram23, count(*) AS c_bg,
             |    string_split(bigram23, ' ')[1] AS prefix1
             |  FROM lmbg GROUP BY bigram23),
             |lmp1 AS (SELECT prefix1, CAST(sum(c_bg) AS BIGINT) AS c_p1
             |  FROM lmbc GROUP BY prefix1),
             |lms AS (SELECT lmtg.doc_id, count(*) AS n_trigrams,
             |    CAST(sum(CASE WHEN lmtc.c_tg >= 2
             |      THEN (length(bin(lmp2.c_p2)) - 1)
             |         - (length(bin(lmtc.c_tg)) - 1)
             |      ELSE (length(bin(lmp1.c_p1)) - 1)
             |         - (length(bin(lmbc.c_bg)) - 1) + 1 END) AS BIGINT)
             |      AS surprisal3_bits
             |  FROM lmtg JOIN lmtc USING (trigram) JOIN lmp2 USING (prefix2)
             |    JOIN lmbc USING (bigram23) JOIN lmp1 USING (prefix1)
             |  GROUP BY lmtg.doc_id),
             |lmsc AS (SELECT d2.doc_id,
             |    CAST(CASE WHEN coalesce(lms.n_trigrams, 0) > 0
             |      THEN lms.surprisal3_bits * 1000 // lms.n_trigrams
             |      ELSE 0 END AS BIGINT) AS mean_millibits
             |  FROM d2 LEFT JOIN lms ON lms.doc_id = d2.doc_id),
             |thist AS (SELECT mean_millibits AS hs, count(*) AS c
             |  FROM lmsc GROUP BY 1),
             |tcum AS (SELECT hs, sum(c) OVER (ORDER BY hs
             |    ROWS UNBOUNDED PRECEDING) AS cum FROM thist),
             |ttot AS (SELECT max(cum) AS n FROM tcum),
             |tthr AS (SELECT min(CASE WHEN cum * 3 >= n THEN hs END) AS t_head,
             |    min(CASE WHEN cum * 3 >= 2 * n THEN hs END) AS t_mid
             |  FROM tcum, ttot),
             |tmix AS (SELECT lmsc.doc_id,
             |    CASE WHEN mean_millibits <= t_head THEN 'head'
             |         WHEN mean_millibits <= t_mid THEN 'middle'
             |         ELSE 'tail' END AS ppl_bucket
             |  FROM lmsc, tthr),
             |sp8 AS (SELECT pg.doc_id,
             |    string_split(pg.doc, chr(10) || chr(10)) AS segs
             |  FROM pg JOIN ckeep USING (doc_id)),
             |sl8 AS (SELECT doc_id, segs[i] AS seg, i AS pos
             |  FROM sp8, unnest(range(1, len(segs) + 1)) t(i)
             |  WHERE segs[i] <> ''),
             |pown AS (SELECT seg, min(doc_id) AS o_doc FROM sl8 GROUP BY seg),
             |pown2 AS (SELECT sl8.seg, sl8.doc_id AS o_doc, min(sl8.pos) AS o_pos
             |  FROM sl8 JOIN pown ON sl8.seg = pown.seg
             |    AND sl8.doc_id = pown.o_doc
             |  GROUP BY 1, 2),
             |pkp AS (SELECT sl8.doc_id, sl8.pos, sl8.seg
             |  FROM sl8 JOIN pown2 ON sl8.seg = pown2.seg
             |    AND sl8.doc_id = pown2.o_doc AND sl8.pos = pown2.o_pos),
             |prb AS MATERIALIZED (SELECT doc_id,
             |    array_to_string(list(seg ORDER BY pos), chr(10) || chr(10))
             |      AS text
             |  FROM pkp GROUP BY doc_id),
             |chd AS (SELECT doc_id,
             |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
             |      AS toks
             |  FROM prb),
             |chn AS (SELECT doc_id, toks,
             |    CASE WHEN len(toks) <= 8 THEN 1
             |         ELSE 1 + (len(toks) - 8 + 4 - 1) // 4 END AS nc
             |  FROM chd),
             |chc AS (SELECT doc_id, toks, CAST(i AS INT) AS chunk_idx
             |  FROM chn, unnest(range(0, nc)) t(i)),
             |chx AS (SELECT doc_id, doc_id * 1000000 + chunk_idx AS chunk_id,
             |    chunk_idx,
             |    CAST(len(toks[chunk_idx*4+1 : chunk_idx*4+8]) AS BIGINT)
             |      AS n_chunk_tokens
             |  FROM chc),
             |pk8 AS (SELECT doc_id, chunk_id, chunk_idx, n_chunk_tokens,
             |    chunk_id % 4 AS shard,
             |    sum(n_chunk_tokens) OVER (PARTITION BY chunk_id % 4
             |      ORDER BY substr(sha256(CAST(chunk_id AS VARCHAR)), 1, 8),
             |        chunk_id
             |      ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM chx)
             |SELECT p.doc_id, p.chunk_id, p.chunk_idx, p.n_chunk_tokens,
             |  CAST(p.shard * 1000000 + (p.cum - p.n_chunk_tokens) // 64
             |    AS BIGINT) AS pack_id,
             |  tmix.ppl_bucket
             |FROM pk8 p JOIN tmix ON tmix.doc_id = p.doc_id
             |ORDER BY p.doc_id, p.chunk_idx""".stripMargin)
    },
      (s, dir) => {
        // jobs labeled per composition segment (guide §1.5) so the probe
        // and the Spark UI attribute eager materializations to stages
        def seg[A](tag: String)(f: => A): A = {
          s.sparkContext.setJobDescription(s"v8: $tag")
          try f finally s.sparkContext.setJobDescription(null)
        }
        val docs = T(s, dir, "documents")
        // NOTE (r21, measured): repartitioning the single-task docs scan
        // to session parallelism before the WARC front REGRESSED v8
        // (5.20 -> 6.36 s isolated): the per-doc parse kernels are too
        // cheap at this corpus shape to amortize the exchange plus the
        // 32-task scheduling of every downstream stage. Leave the scan be.
        // NOTE (r21, measured): targeted kernel-boundary widening also
        // regressed — capped.repartition(32) before htmlExtract plus a
        // repartition(32, doc_id) of both langid-join sides moved v8
        // 5.73 -> 6.25 s isolated on this machine: the wide checkpoint
        // partitioning taxes EVERY downstream job (dozens of 32-task
        // scheduling rounds) more than the widened kernels save. The
        // kernel cost was attacked at the per-task level instead (the
        // fused stopword-langid expression below).
        val warc8 = plantedWarcFrom(plantedHtmlWith(v8HtmlExtra))
        val recs = graft.operators.Web.warcExtract(
            docs.select(col("doc_id"), warc8.as("warc")), "doc_id", "warc")
          .where(col("rec_ok") && col("warc_type") === "response")
          .select(col("doc_id"), col("target_uri").as("url"), col("body"))
        val canon = graft.operators.Web.urlCanonicalize(recs, "url")
          .where(col("url_valid"))
          .withColumn("__path",
            regexp_extract(col("canonical_url"), "://[^/]*(/[^?]*)", 1))
          .withColumn("__robots", lit(robotsV8))
        val allowed = graft.operators.Web.robotsFilter(canon,
            "__robots", "__path", agent = "graftbot")
          .where(col("robots_allowed"))
        val dedupUrl = allowed.groupBy("canonical_url")
          .agg(min_by(struct(col("doc_id"), col("body"), col("host")),
            col("doc_id")).as("k"))
          .select(col("k.doc_id").as("doc_id"), col("k.body").as("html"),
            col("k.host").as("host"))
        val dom = graft.operators.Web.registrableDomainPsl(
            dedupUrl.select("doc_id", "host"), "doc_id", "host", pslRules)
          .select("doc_id", "registrable_domain")
        val capped = Sampling.capPerKey(dedupUrl.join(dom, "doc_id"),
          "doc_id", "registrable_domain", 4)
        // paragraph-form rebuild: one extracted line per paragraph — the
        // grain the repetition/paragraph-dedup laws operate on
        val para = graft.operators.Web.htmlExtract(
            capped.select("doc_id", "html"), "doc_id", "html")
          .where(col("extract_ok"))
          .select(col("doc_id"),
            array_join(filter(split(col("text"), "\n"), l => l =!= ""),
              "\n\n").as("__doc"))
        // both quality gates as ONE map-only pass: the Column verdict
        // faces (gopherKeepCol/repKeepCol — bit-parity with the batch
        // operators pinned by StreamingSpec) replace two operator joins
        // and the cache the joins would have needed. Checkpoint the
        // survivors: they feed langid training, perceptron training, the
        // survivor join, the LM and the paragraph dedup (the v2/v7
        // composition-point lesson)
        val gated = seg("web front + quality gates -> ckpt")(para
          .where(TextAnalysis.gopherKeepCol(col("__doc"), minWords = 10) &&
            TextAnalysis.repKeepCol(col("__doc")))
          .transform(Checkpoints.checkpointed))
        // the TRAINED language ID (r19 directive #1) supplies the trusted
        // stratum: bootstrap labels from the stopword heuristic over the
        // RAW page text (the extracted boilerplate lines would vote 'en'
        // for everything), char-trigram one-vs-rest perceptrons trained
        // on the survivors' text, argmax predictions gate the classifier
        val liClasses = Seq("de", "en")
        val bootRaw = TextAnalysis.langId(docs.select("doc_id", "text"),
            "text")
          .select(col("doc_id"), col("predicted_lang").as("__label"))
        val (lw, lfeats) = seg("langid feats + rounds")(
          Classifier.trainLangIdWithFeats(
            gated.join(bootRaw, "doc_id"),
            "doc_id", "__doc", "__label", liClasses, n = 3, dims = 256,
            rounds = 2))
        // langIdMargins = the argmax WITHOUT the universe stitch (r21):
        // the old form joined pred = (gated ids ⟕ argmax) back onto gated
        // — the same id set joined twice. One LEFT join now; a doc with
        // no trigram rows gets null predicted_lang, which the ±1 label
        // law sends to −1 — exactly where the old default class ("de",
        // sorted head ≠ "en") sent it, so __y is bit-identical
        val pred = Classifier.langIdMargins(lfeats, lw, liClasses)
        val labeled = gated.join(pred.select(col("doc_id"),
            col("predicted_lang")), Seq("doc_id"), "left")
          .withColumn("__y",
            when(col("predicted_lang") === "en", 1L).otherwise(-1L))
        val (w, feats) = seg("perceptron feats + rounds")(
          Classifier.trainPerceptron(labeled,
            "doc_id", "__doc", "__y", dims = 64, rounds = 3))
        val mg = Classifier.scoreFeatures(feats, w).select("doc_id", "margin")
        // 1-row mean gate as LITERALS (litRow) — no broadcast join (r21)
        val mthr = seg("margin-gate collect")(litRow(mg.agg(
          sum("margin").as("sm"), count(lit(1)).as("cnt"))))
        val keep = mg
          .where(col("margin") * mthr(1) >= mthr(0))
          .select("doc_id")
        val survivors = seg("survivors ckpt")(gated.join(keep, "doc_id")
          .transform(Checkpoints.checkpointed))
        val scored = seg("trigram LM ckpt")(
          TextAnalysis.trigramSurprisal(survivors,
              "doc_id", "__doc")
            .select("doc_id", "mean_millibits")
            .transform(Checkpoints.checkpointed))
        val buck = seg("tercile hist")(
          TextAnalysis.surprisalBuckets(scored,
              "doc_id", "mean_millibits"))
          .select("doc_id", "ppl_bucket")
        val dd = Dedup.dedupSegments(survivors, "doc_id", "__doc", "\n\n")
          .where(col("n_segments") > 0).select("doc_id", "text")
        val chunks = TextAnalysis.chunkDocuments(dd, "doc_id", "text",
          window = 8, stride = 4)
        val packed = TextAnalysis.packSequences(
          chunks.select("chunk_id", "n_chunk_tokens"),
          "chunk_id", "n_chunk_tokens", budget = 64L, shards = 4)
        chunks.join(packed.select("chunk_id", "pack_id"), "chunk_id")
          .join(buck, "doc_id")
          .select("doc_id", "chunk_id", "chunk_idx", "n_chunk_tokens",
            "pack_id", "ppl_bucket")
          .orderBy("doc_id", "chunk_idx")
      }),

    Q("x_chunk_ann",
      // the RAG composition (r19 judge directive #6): chunkDocuments ->
      // hashed-token embedding features (16 sha buckets, tf counts) ->
      // IVF x PQ ANN over the CHUNK corpus (8 cells, nprobe 2, m=4
      // codebooks of 8, queries = each doc<5's first chunk). DuckDB
      // replays the chunk law, the feature law, the 10000x quantization,
      // the strict-< cell argmin, the per-subspace code argmin, the
      // probe set and the ADC rank — chunk drift, a flipped code or a
      // wrong probe all hash-fail
      Some("""WITH d AS (SELECT doc_id,
             |    list_filter(string_split_regex(text, '\s+'), x -> x <> '')
             |      AS toks
             |  FROM documents),
             |n AS (SELECT doc_id, toks,
             |    CASE WHEN len(toks) <= 8 THEN 1
             |         ELSE 1 + (len(toks) - 8 + 4 - 1) // 4 END AS nc
             |  FROM d),
             |c0 AS (SELECT doc_id, toks, CAST(i AS INT) AS chunk_idx
             |  FROM n, unnest(range(0, nc)) t(i)),
             |ch AS (SELECT doc_id * 1000000 + chunk_idx AS vec_id,
             |    list_transform(toks[chunk_idx*4+1 : chunk_idx*4+8],
             |      w -> lower(w)) AS ctoks
             |  FROM c0),
             |e AS MATERIALIZED (SELECT vec_id,
             |    list_transform(range(0, 16), j ->
             |      CAST(len(list_filter(ctoks, w ->
             |        ('0x' || substr(sha256(w), 1, 8))::BIGINT % 16 = j))
             |        * 10000 AS BIGINT)) AS v
             |  FROM ch),
             |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
             |  FROM e ORDER BY vec_id LIMIT 8),
             |a AS (SELECT e.vec_id, arg_min(c.cid,
             |    CAST(list_sum(list_transform(range(1, len(e.v)+1),
             |      i -> (e.v[i]-c.v[i])*(e.v[i]-c.v[i]))) AS BIGINT) * 8
             |      + c.cid) AS cell
             |  FROM e, cent c GROUP BY e.vec_id),
             |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v
             |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
             |sd AS MATERIALIZED (SELECT ev.vec_id, cw.j, t.s,
             |    CAST(list_sum(list_transform(range(1, 5),
             |      i -> (ev.v[CAST(t.s*4+i AS INTEGER)]
             |              - cw.v[CAST(t.s*4+i AS INTEGER)])
             |         * (ev.v[CAST(t.s*4+i AS INTEGER)]
             |              - cw.v[CAST(t.s*4+i AS INTEGER)])))
             |      AS BIGINT) AS d
             |  FROM e ev, cb cw, range(0, 4) t(s)),
             |codes AS (SELECT vec_id, s, j AS code FROM (
             |    SELECT vec_id, s, j, row_number() OVER
             |      (PARTITION BY vec_id, s ORDER BY d, j) AS rn FROM sd)
             |  WHERE rn = 1),
             |qp AS (SELECT q.vec_id AS query_id, c.cid AS cell,
             |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |      CAST(list_sum(list_transform(range(1, len(q.v)+1),
             |        i -> (q.v[i]-c.v[i])*(q.v[i]-c.v[i]))) AS BIGINT),
             |      c.cid) AS pr
             |  FROM e q, cent c
             |  WHERE q.vec_id % 1000000 = 0 AND q.vec_id < 5000000),
             |adc AS (SELECT qp.query_id, av.vec_id AS neighbor_id,
             |    CAST(sum(qd.d) AS BIGINT) AS adc_dist
             |  FROM qp JOIN a av ON qp.cell = av.cell AND qp.pr <= 2
             |  JOIN codes c ON c.vec_id = av.vec_id
             |  JOIN sd qd ON qd.vec_id = qp.query_id
             |    AND qd.s = c.s AND qd.j = c.code
             |  WHERE qp.query_id <> av.vec_id
             |  GROUP BY 1, 2),
             |r AS (SELECT query_id, neighbor_id, adc_dist,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY adc_dist, neighbor_id) AS rank FROM adc)
             |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_dist
             |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),
      (s, dir) => {
        val chunks = TextAnalysis.chunkDocuments(T(s, dir, "documents"),
          "doc_id", "text", window = 8, stride = 4)
        val toks = transform(TextAnalysis.tokens(col("chunk_text")),
          w => lower(w))
        val vec = transform(sequence(lit(0), lit(15)), j =>
          size(filter(toks, w =>
            Classifier.hashBucket(w, 16) === j.cast("long"))).cast("float"))
        val emb = chunks.select(col("chunk_id"), col("chunk_idx"),
            col("doc_id"), vec.as("embedding"))
          .cache() // feeds the index build (seed collect + coding) and queries
        Similarity.ivfPqTopKExact(
            emb, "chunk_id", "embedding",
            emb.where(col("chunk_idx") === 0 && col("doc_id") < 5)
              .select(col("chunk_id").as("qid"), col("embedding").as("qvec")),
            "qid", "qvec", k = 3, nCells = 8, nprobe = 2,
            m = 4, codewords = 8)
          .orderBy("query_id", "rank")
      }),

    Q("x_dedup_paragraphs",
      // RefinedWeb paragraph-grain corpus dedup — the C4 line law at
      // '\n\n' grain: the corpus rebuilt as 3-line paragraphs with a
      // GLOBAL boilerplate footer paragraph appended to every doc; the
      // footer survives only in the lowest doc, every doc rebuilds from
      // its surviving paragraphs in order
      Some("""WITH wl AS (SELECT doc_id,
             |    list_filter(string_split_regex(text, '\s+'), x -> x <> '')
             |      AS ws
             |  FROM documents),
             |ld AS (SELECT doc_id,
             |    list_transform(range(0, GREATEST((len(ws) - 1) // 8, 0) + 1),
             |      i -> array_to_string(ws[i*8+1 : i*8+8], ' ')) AS lines
             |  FROM wl),
             |dd AS (SELECT doc_id,
             |    array_to_string(
             |      list_transform(range(0, GREATEST((len(lines) - 1) // 3, 0) + 1),
             |        j -> array_to_string(lines[j*3+1 : j*3+3], chr(10))),
             |      chr(10) || chr(10))
             |    || chr(10) || chr(10)
             |    || 'corpus footer all rights reserved' AS doc
             |  FROM ld),
             |sp AS (SELECT doc_id, string_split(doc, chr(10) || chr(10))
             |    AS ps FROM dd),
             |pn AS (SELECT doc_id, ps[j] AS seg, j AS pos
             |  FROM sp, unnest(range(1, len(ps) + 1)) t(j)
             |  WHERE ps[j] <> ''),
             |own AS (SELECT seg, min(doc_id) AS o_doc FROM pn GROUP BY seg),
             |own2 AS (SELECT pn.seg, pn.doc_id AS o_doc, min(pn.pos) AS o_pos
             |  FROM pn JOIN own ON pn.seg = own.seg
             |    AND pn.doc_id = own.o_doc
             |  GROUP BY 1, 2),
             |keep AS (SELECT pn.doc_id, pn.pos, pn.seg
             |  FROM pn JOIN own2 ON pn.seg = own2.seg
             |    AND pn.doc_id = own2.o_doc AND pn.pos = own2.o_pos),
             |rb AS (SELECT doc_id,
             |    array_to_string(list(seg ORDER BY pos), chr(10) || chr(10))
             |      AS text,
             |    count(*) AS n_segments
             |  FROM keep GROUP BY doc_id),
             |eb AS (SELECT doc_id, len(list_filter(ps, x -> x <> '')) AS n0
             |  FROM sp)
             |SELECT eb.doc_id, coalesce(rb.text, '') AS text,
             |  CAST(coalesce(rb.n_segments, 0) AS BIGINT) AS n_segments,
             |  CAST(eb.n0 - coalesce(rb.n_segments, 0) AS BIGINT)
             |    AS n_segments_dropped
             |FROM eb LEFT JOIN rb USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val base = T(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.tokens(col("text")).as("__ws"))
          .withColumn("__lines", expr(
            "transform(sequence(0, greatest((size(__ws) - 1) div 8, 0)), " +
              "i -> array_join(slice(__ws, i*8 + 1, 8), ' '))"))
          .withColumn("__doc", concat(
            expr("array_join(transform(" +
              "sequence(0, greatest((size(__lines) - 1) div 3, 0)), " +
              "j -> array_join(slice(__lines, j*3 + 1, 3), '\\n')), " +
              "'\\n\\n')"),
            lit("\n\ncorpus footer all rights reserved")))
        Dedup.dedupSegments(base.select(col("doc_id"), col("__doc")),
            "doc_id", "__doc", "\n\n")
          .orderBy("doc_id")
      }),

    Q("x_text_chunk",
      // overlapping-window chunking (window 8, stride 4 — the RAG shape):
      // DuckDB replays the integer chunk-count law, every boundary slice
      // and the stable chunk-id base
      Some("""WITH d AS (SELECT doc_id,
             |    list_filter(string_split_regex(text, '\s+'), x -> x <> '')
             |      AS toks
             |  FROM documents),
             |n AS (SELECT doc_id, toks,
             |    CASE WHEN len(toks) <= 8 THEN 1
             |         ELSE 1 + (len(toks) - 8 + 4 - 1) // 4 END AS nc
             |  FROM d),
             |c AS (SELECT doc_id, toks, CAST(i AS INT) AS chunk_idx
             |  FROM n, unnest(range(0, nc)) t(i))
             |SELECT doc_id, doc_id * 1000000 + chunk_idx AS chunk_id,
             |  chunk_idx,
             |  array_to_string(toks[chunk_idx*4+1 : chunk_idx*4+8], ' ')
             |    AS chunk_text,
             |  CAST(len(toks[chunk_idx*4+1 : chunk_idx*4+8]) AS BIGINT)
             |    AS n_chunk_tokens
             |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),
      (s, dir) =>
        TextAnalysis.chunkDocuments(T(s, dir, "documents"),
            "doc_id", "text", window = 8, stride = 4)
          .orderBy("doc_id", "chunk_idx")),

    Q("x_robots_filter",
      // robots.txt gate (RFC 9309): DuckDB re-parses the planted policy
      // texts relationally — comment strip, field law, contiguous-head
      // grouping via a window break sum, '*' fallback behind an
      // anti-join, rule->regex rewrite ('*'->'.*', trailing-$ anchor,
      // everything else escaped), longest-rule precedence with allow on
      // ties — and must land on the byte-identical verdict strings
      Some(s"""WITH src AS (SELECT doc_id,
             |  CASE WHEN (doc_id // 8) % 2 = 0 THEN ${sqlLit(robotsA)}
             |       ELSE ${sqlLit(robotsB)} END AS robots,
             |  CASE doc_id % 8
             |    WHEN 0 THEN (CASE WHEN doc_id % 16 = 0 THEN '/café/x'
             |                 ELSE '/index.html' END)
             |    WHEN 1 THEN '/private'
             |    WHEN 2 THEN '/private/ok/x' WHEN 3 THEN '/report.pdf'
             |    WHEN 4 THEN '/tmp/cache/x'  WHEN 5 THEN '/tmp/pub/y'
             |    WHEN 6 THEN '/private.html' ELSE '/a/b*c' END AS path
             |  FROM documents),
             |ls AS (SELECT doc_id, robots, path,
             |    string_split(robots, chr(10)) AS lines FROM src),
             |l0 AS (SELECT doc_id, path, i,
             |    trim(CASE WHEN strpos(lines[i], '#') > 0
             |         THEN substr(lines[i], 1, strpos(lines[i], '#') - 1)
             |         ELSE lines[i] END,
             |      ' ' || chr(9) || chr(13)) AS line
             |  FROM ls, unnest(range(1, len(lines) + 1)) t(i)),
             |rel AS (SELECT doc_id, path, i,
             |    lower(trim(substr(line, 1, strpos(line, ':') - 1),
             |      ' ' || chr(9) || chr(13))) AS field,
             |    trim(substr(line, strpos(line, ':') + 1),
             |      ' ' || chr(9) || chr(13)) AS value
             |  FROM l0 WHERE strpos(line, ':') > 1),
             |brk AS (SELECT *, field = 'user-agent' AS is_ua,
             |    field IN ('allow', 'disallow') AS is_rule,
             |    CASE WHEN field = 'user-agent' AND
             |      coalesce(lag(field = 'user-agent') OVER
             |        (PARTITION BY doc_id ORDER BY i), false) = false
             |      THEN 1 ELSE 0 END AS b
             |  FROM rel
             |  WHERE field IN ('user-agent', 'allow', 'disallow')),
             |grp AS (SELECT *, sum(b) OVER (PARTITION BY doc_id ORDER BY i
             |    ROWS UNBOUNDED PRECEDING) AS g FROM brk),
             |agents AS (SELECT DISTINCT doc_id, g, lower(value) AS ag
             |  FROM grp WHERE is_ua),
             |rules AS (SELECT doc_id, path, g, field = 'allow' AS is_allow,
             |    value, i FROM grp WHERE is_rule AND g >= 1),
             |hasx AS (SELECT DISTINCT doc_id FROM agents
             |  WHERE ag = 'graftbot'),
             |sel AS (SELECT r.* FROM rules r
             |    JOIN (SELECT DISTINCT doc_id, g FROM agents
             |          WHERE ag = 'graftbot') x USING (doc_id, g)
             |  UNION ALL
             |  SELECT r.* FROM rules r
             |    JOIN (SELECT DISTINCT doc_id, g FROM agents
             |          WHERE ag = '*') x USING (doc_id, g)
             |    ANTI JOIN hasx USING (doc_id)),
             |mt AS (SELECT doc_id, is_allow, value, i FROM (
             |    SELECT *,
             |      value LIKE '%$$' AS anc,
             |      CASE WHEN value LIKE '%$$'
             |           THEN substr(value, 1, length(value) - 1)
             |           ELSE value END AS core
             |    FROM sel) s
             |  WHERE value <> '' AND regexp_matches(path,
             |    '^' || replace(regexp_replace(core,
             |      '([.^$$+?(){}|\\[\\]\\\\])', '\\\\\\1', 'g'),
             |      '*', '.*') || CASE WHEN anc THEN '$$' ELSE '' END)),
             |win AS (SELECT doc_id, is_allow, value FROM (
             |    SELECT *, row_number() OVER (PARTITION BY doc_id
             |      ORDER BY octet_length(encode(value)) DESC, is_allow DESC, i) AS wrn
             |    FROM mt) WHERE wrn = 1)
             |SELECT s.doc_id, s.path,
             |  CASE WHEN w.doc_id IS NULL THEN 'A|'
             |       WHEN w.is_allow THEN 'A|' || w.value
             |       ELSE 'D|' || w.value END AS robots_verdict,
             |  (w.doc_id IS NULL OR w.is_allow) AS robots_allowed,
             |  CASE WHEN w.doc_id IS NULL THEN NULL ELSE w.value END
             |    AS matched_rule
             |FROM src s LEFT JOIN win w ON w.doc_id = s.doc_id
             |ORDER BY s.doc_id""".stripMargin),
      (s, dir) => {
        val robots = when(expr("(doc_id div 8) % 2") === 0, lit(robotsA))
          .otherwise(lit(robotsB))
        val path = (col("doc_id") % 8).cast("int")
        val planted = T(s, dir, "documents").select(col("doc_id"),
          robots.as("__robots"),
          when(path === 0,
            when(col("doc_id") % 16 === 0, "/café/x").otherwise("/index.html"))
            .when(path === 1, "/private")
            .when(path === 2, "/private/ok/x")
            .when(path === 3, "/report.pdf")
            .when(path === 4, "/tmp/cache/x").when(path === 5, "/tmp/pub/y")
            .when(path === 6, "/private.html").otherwise("/a/b*c")
            .as("path"))
        Web.robotsFilter(planted, "__robots", "path", agent = "graftbot")
          .select("doc_id", "path", "robots_verdict", "robots_allowed",
            "matched_rule")
          .orderBy("doc_id")
      }),

    Q("x_text_gopher_repetition",
      // the Gopher REPETITION rule family (Rae et al. 2021 Table A1):
      // 13 millifractions from ONE fused native pass per doc — dup
      // line/paragraph occurrence+char mass, top-{2,3,4}-gram char mass,
      // dup-{5..10}-gram POSITION-UNION char coverage — over a doc
      // rebuilt as 8-word lines / 3-line paragraphs (single-line corpus
      // would leave the line arms constant). DuckDB replays every law
      // relationally: the generated per-k CTE chain re-derives counts,
      // the row_number top pick (count desc, utf8-min gram) and the
      // DISTINCT position union
      Some(repOracleSql),
      (s, dir) => {
        val base = T(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.tokens(col("text")).as("__ws"))
          .withColumn("__lines", expr(
            "transform(sequence(0, greatest((size(__ws) - 1) div 8, 0)), " +
              "i -> array_join(slice(__ws, i*8 + 1, 8), ' '))"))
          .withColumn("__doc2", expr(
            "array_join(transform(" +
              "sequence(0, greatest((size(__lines) - 1) div 3, 0)), " +
              "j -> array_join(slice(__lines, j*3 + 1, 3), '\\n')), " +
              "'\\n\\n')"))
          // plant duplication so every rule arm varies on the corpus:
          // doc_id%3 re-appends the first LINE (dup lines + dup 5..8-gram
          // coverage), doc_id%7 the first PARAGRAPH (dup paragraphs +
          // 9/10-gram coverage)
          .withColumn("__doc3", concat(col("__doc2"),
            when(col("doc_id") % 3 === 0,
              concat(lit("\n"), element_at(col("__lines"), 1)))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 0,
              concat(lit("\n\n"),
                expr("array_join(slice(__lines, 1, 3), '\\n')")))
              .otherwise(lit(""))))
        TextAnalysis.gopherRepetition(
            base.select(col("doc_id"), col("__doc3")),
            "doc_id", "__doc3")
          .orderBy("doc_id")
      }),

    Q("x_psl_domain",
      // full PSL semantics (wildcard *.ck, exception !www.ck, implicit
      // default *, bare-suffix and IPv4 guards) as the broadcast probe
      // join — DuckDB replays the identical probe fabrication, rule
      // precedence (exception > most labels) and label-slice laws over
      // planted hosts hitting every arm
      Some(s"""WITH hosts AS (SELECT doc_id,
             |  CASE doc_id % 8
             |    WHEN 0 THEN 'a' || (doc_id % 5) || '.example.com'
             |    WHEN 1 THEN 'blog.site' || (doc_id % 5) || '.co.uk'
             |    WHEN 2 THEN 'x' || (doc_id % 5) || '.w.ck'
             |    WHEN 3 THEN 'www.ck'
             |    WHEN 4 THEN (CASE WHEN doc_id % 16 = 4
             |                 THEN 'd.h' || (doc_id % 5) || '.unlisted'
             |                 ELSE 'h' || (doc_id % 5) || '.unlisted' END)
             |    WHEN 5 THEN '10.0.' || (doc_id % 9) || '.1'
             |    WHEN 6 THEN (CASE WHEN doc_id % 16 = 6
             |                 THEN 'Co.UK' ELSE 'co.uk' END)
             |    ELSE 'deep.sub.c' || (doc_id % 5) || '.com'
             |  END AS host FROM documents),
             |rules(key, rl, exc) AS (VALUES $ruleValues),
             |lab AS (SELECT doc_id, host, string_split(lower(host), '.') AS l
             |        FROM hosts),
             |probes AS (
             |  SELECT doc_id, host,
             |    array_to_string(l[len(l)-j+1:len(l)], '.') AS key, j AS jl
             |  FROM lab, unnest(range(1, $maxJ + 1)) t(j) WHERE len(l) >= j
             |  UNION ALL
             |  SELECT doc_id, host,
             |    '*.' || array_to_string(l[len(l)-j+2:len(l)], '.'), j
             |  FROM lab, unnest(range(2, $maxJ + 1)) t(j) WHERE len(l) >= j
             |  UNION ALL
             |  SELECT doc_id, host, '*', 1 FROM lab),
             |r AS (SELECT p.doc_id, p.host, ru.exc, ru.rl, p.jl,
             |        row_number() OVER (PARTITION BY p.doc_id, p.host
             |          ORDER BY ru.exc DESC, ru.rl DESC, p.jl DESC) AS rn
             |      FROM probes p JOIN rules ru USING (key)),
             |m AS (SELECT doc_id, host,
             |        CASE WHEN exc THEN jl - 1 ELSE jl END AS sl
             |      FROM r WHERE rn = 1)
             |SELECT m.doc_id, m.host,
             |  CASE WHEN regexp_matches(m.host, '^[0-9.]+$$') THEN NULL
             |       ELSE array_to_string(
             |         l[len(l)-LEAST(sl, len(l))+1:len(l)], '.') END
             |    AS psl_suffix,
             |  CASE WHEN regexp_matches(m.host, '^[0-9.]+$$')
             |         OR len(l) <= sl THEN lower(m.host)
             |       ELSE array_to_string(l[len(l)-sl:len(l)], '.') END
             |    AS registrable_domain
             |FROM m JOIN lab ON lab.doc_id = m.doc_id
             |ORDER BY m.doc_id""".stripMargin),
      (s, dir) => {
        val d5 = col("doc_id") % 5
        val hosts = T(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 8 === 0,
            concat(lit("a"), d5, lit(".example.com")))
            .when(col("doc_id") % 8 === 1,
              concat(lit("blog.site"), d5, lit(".co.uk")))
            .when(col("doc_id") % 8 === 2,
              concat(lit("x"), d5, lit(".w.ck")))
            .when(col("doc_id") % 8 === 3, lit("www.ck"))
            .when(col("doc_id") % 8 === 4,
              when(col("doc_id") % 16 === 4,
                concat(lit("d.h"), d5, lit(".unlisted")))
                .otherwise(concat(lit("h"), d5, lit(".unlisted"))))
            .when(col("doc_id") % 8 === 5,
              concat(lit("10.0."), col("doc_id") % 9, lit(".1")))
            .when(col("doc_id") % 8 === 6,
              when(col("doc_id") % 16 === 6, lit("Co.UK"))
                .otherwise(lit("co.uk")))
            .otherwise(concat(lit("deep.sub.c"), d5, lit(".com")))
            .as("host"))
        Web.registrableDomainPsl(hosts, "doc_id", "host", pslRules)
          .orderBy("doc_id")
      }),

    Q("x_dsir_importance",
      // DSIR data selection (Xie et al. 2023): hashed unigram+bigram
      // importance ratio between the trusted stratum (lang='en') and the
      // raw pool, integerized with the flog2 family; selection = the
      // self-calibrating mean cut (multiplication-only compare). DuckDB
      // refits both count tables and replays the signed truncating
      // division (both engines' integer div truncates toward zero — a
      // flooring engine would hash-fail every negative odd quotient)
      Some("""WITH d AS (SELECT doc_id, lang = 'en' AS t,
             |         list_transform(list_filter(
             |           string_split_regex(text, '\s+'), x -> x <> ''),
             |           w -> lower(w)) AS toks
             |       FROM documents),
             |g0 AS (SELECT doc_id, t, unnest(list_concat(toks,
             |         list_transform(range(1, len(toks)),
             |           i -> toks[i] || ' ' || toks[i+1]))) AS g
             |       FROM d),
             |f0 AS (SELECT doc_id, t,
             |         ('0x' || substr(sha256(g), 1, 8))::BIGINT % 256
             |           AS bucket
             |       FROM g0),
             |f AS (SELECT doc_id, t, bucket, CAST(count(*) AS BIGINT) AS tf
             |      FROM f0 GROUP BY 1, 2, 3),
             |w AS (SELECT bucket,
             |        CAST((length(bin(CAST(sum(CASE WHEN t THEN tf ELSE 0
             |            END) + 1 AS BIGINT))) - 1)
             |          - (length(bin(CAST(sum(CASE WHEN t THEN 0 ELSE tf
             |            END) + 1 AS BIGINT))) - 1) AS BIGINT) AS wbits
             |      FROM f GROUP BY 1),
             |sc AS (SELECT f.doc_id, CAST(sum(f.tf) AS BIGINT) AS n_feats,
             |         CAST(sum(f.tf * w.wbits) AS BIGINT)
             |           AS importance_bits
             |       FROM f JOIN w USING (bucket) GROUP BY 1),
             |s2 AS (SELECT doc_id, n_feats, importance_bits,
             |         importance_bits * 1000 // n_feats AS mean_millibits
             |       FROM sc),
             |mt AS (SELECT CAST(sum(mean_millibits) AS BIGINT) AS sm,
             |              CAST(count(*) AS BIGINT) AS cnt FROM s2)
             |SELECT doc_id, n_feats, importance_bits, mean_millibits,
             |       mean_millibits * cnt >= sm AS keep
             |FROM s2, mt ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        Classifier.dsirImportance(T(s, dir, "documents"), "doc_id", "text",
            isTarget = col("lang") === "en", dims = 256)
          .orderBy("doc_id")),

    Q("x_classifier_train",
      // in-engine BATCH-perceptron training over hashed tf features
      // (Classifier.scala law): labels = the trusted-stratum recipe
      // (lang='en' → +1 else −1), dims=64 sha buckets, R=3 rounds.
      // DuckDB re-trains all three rounds as unrolled CTEs — a wrong
      // margin test, update mass or hash family hash-fails the weights
      Some("""WITH d AS (SELECT doc_id,
             |         CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END
             |           AS BIGINT) AS y,
             |         list_transform(list_filter(
             |           string_split_regex(text, '\s+'), x -> x <> ''),
             |           w -> lower(w)) AS toks
             |       FROM documents),
             |f0 AS (SELECT doc_id, y,
             |         ('0x' || substr(sha256(t.w), 1, 8))::BIGINT % 64
             |           AS bucket
             |       FROM d, unnest(toks) t(w)),
             |f AS (SELECT doc_id, y, bucket, CAST(count(*) AS BIGINT) AS tf
             |      FROM f0 GROUP BY 1, 2, 3),
             |w1 AS (SELECT bucket, CAST(sum(y * tf) AS BIGINT) AS w
             |       FROM f GROUP BY 1),
             |m1 AS (SELECT f.doc_id, f.y,
             |         CAST(sum(f.tf * w1.w) AS BIGINT) AS margin
             |       FROM f JOIN w1 USING (bucket) GROUP BY 1, 2),
             |u2 AS (SELECT f.bucket, CAST(sum(f.y * f.tf) AS BIGINT) AS delta
             |       FROM f JOIN m1 ON m1.doc_id = f.doc_id
             |       WHERE m1.y * m1.margin <= 0 GROUP BY 1),
             |w2 AS (SELECT w1.bucket, w1.w + coalesce(u2.delta, 0) AS w
             |       FROM w1 LEFT JOIN u2 USING (bucket)),
             |m2 AS (SELECT f.doc_id, f.y,
             |         CAST(sum(f.tf * w2.w) AS BIGINT) AS margin
             |       FROM f JOIN w2 USING (bucket) GROUP BY 1, 2),
             |u3 AS (SELECT f.bucket, CAST(sum(f.y * f.tf) AS BIGINT) AS delta
             |       FROM f JOIN m2 ON m2.doc_id = f.doc_id
             |       WHERE m2.y * m2.margin <= 0 GROUP BY 1),
             |w3 AS (SELECT w2.bucket, w2.w + coalesce(u3.delta, 0) AS w
             |       FROM w2 LEFT JOIN u3 USING (bucket))
             |SELECT bucket, w FROM w3 ORDER BY bucket""".stripMargin),
      (s, dir) =>
        Classifier.trainPerceptron(
            T(s, dir, "documents").withColumn("__y",
              when(col("lang") === "en", 1L).otherwise(-1L)),
            "doc_id", "text",
            labelCol = "__y", dims = 64, rounds = 3)._1
          .orderBy("bucket")),

    Q("x_classifier_scores",
      // the trained weights APPLIED back to the corpus: per-doc margin,
      // ±1 prediction (ties → −1, the margin-test convention) and
      // label agreement — training AND inference hash-gated together
      Some("""WITH d AS (SELECT doc_id,
             |         CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END
             |           AS BIGINT) AS y,
             |         list_transform(list_filter(
             |           string_split_regex(text, '\s+'), x -> x <> ''),
             |           w -> lower(w)) AS toks
             |       FROM documents),
             |f0 AS (SELECT doc_id, y,
             |         ('0x' || substr(sha256(t.w), 1, 8))::BIGINT % 64
             |           AS bucket
             |       FROM d, unnest(toks) t(w)),
             |f AS (SELECT doc_id, y, bucket, CAST(count(*) AS BIGINT) AS tf
             |      FROM f0 GROUP BY 1, 2, 3),
             |w1 AS (SELECT bucket, CAST(sum(y * tf) AS BIGINT) AS w
             |       FROM f GROUP BY 1),
             |m1 AS (SELECT f.doc_id, f.y,
             |         CAST(sum(f.tf * w1.w) AS BIGINT) AS margin
             |       FROM f JOIN w1 USING (bucket) GROUP BY 1, 2),
             |u2 AS (SELECT f.bucket, CAST(sum(f.y * f.tf) AS BIGINT) AS delta
             |       FROM f JOIN m1 ON m1.doc_id = f.doc_id
             |       WHERE m1.y * m1.margin <= 0 GROUP BY 1),
             |w2 AS (SELECT w1.bucket, w1.w + coalesce(u2.delta, 0) AS w
             |       FROM w1 LEFT JOIN u2 USING (bucket)),
             |m2 AS (SELECT f.doc_id, f.y,
             |         CAST(sum(f.tf * w2.w) AS BIGINT) AS margin
             |       FROM f JOIN w2 USING (bucket) GROUP BY 1, 2),
             |u3 AS (SELECT f.bucket, CAST(sum(f.y * f.tf) AS BIGINT) AS delta
             |       FROM f JOIN m2 ON m2.doc_id = f.doc_id
             |       WHERE m2.y * m2.margin <= 0 GROUP BY 1),
             |w3 AS (SELECT w2.bucket, w2.w + coalesce(u3.delta, 0) AS w
             |       FROM w2 LEFT JOIN u3 USING (bucket)),
             |sc AS (SELECT f.doc_id, f.y,
             |         CAST(sum(f.tf * w3.w) AS BIGINT) AS margin
             |       FROM f JOIN w3 USING (bucket) GROUP BY 1, 2)
             |SELECT doc_id, y, margin,
             |       CAST(CASE WHEN margin > 0 THEN 1 ELSE -1 END AS BIGINT)
             |         AS predicted,
             |       (CASE WHEN margin > 0 THEN 1 ELSE -1 END) = y AS correct
             |FROM sc ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val labeled = T(s, dir, "documents").withColumn("__y",
          when(col("lang") === "en", 1L).otherwise(-1L))
        val (w, feats) = Classifier.trainPerceptron(labeled,
          "doc_id", "text", labelCol = "__y", dims = 64, rounds = 3)
        Classifier.scoreFeatures(feats, w).orderBy("doc_id")
      }),

    Q("x_text_langid_trained", {
      // TRAINED language ID (r19 directive #1): bootstrap labels from the
      // stopword heuristic (the CCNet self-training recipe — no external
      // labels), then one-vs-rest batch perceptrons over hashed char
      // TRIGRAM features (fastText/CLD3 shape), argmax margins. DuckDB
      // replays the whole chain: heuristic bootstrap, the K·R unrolled
      // training rounds per class, the margin argmax with the
      // (margin desc, lang asc) tie law
      val classes = graft.operators.Stopwords.all.keys.toSeq.sorted
      val src = "SELECT doc_id, text FROM documents"
      Some(s"""WITH ${langIdBootstrapCtes(src, "")},
             |${langIdTrainedCtes(src, "boot", classes, 256, "")}
             |SELECT doc_id, predicted_lang, margin FROM pred
             |ORDER BY doc_id""".stripMargin)
    },
      (s, dir) => {
        val classes = Stopwords.all.keys.toSeq.sorted
        val docs = T(s, dir, "documents").select("doc_id", "text")
        // single-row-group parquet scans as ONE task, serializing the
        // trigram-sha feature kernel and the stopword-HOF label onto one
        // core; redistribute IFF the scan yields fewer partitions than
        // cores (r21, guide §2.5 — a no-op branch at production scale
        // where the scan already carries ≥ cores partitions; cheap to
        // probe here because the frame is a leaf scan, no upstream stages)
        val docsPar = parLeaf(s, docs)
        // the stopword bootstrap is pure column algebra over the SAME
        // frame, so the label is a map-only column — the docs ⋈ boot
        // self-join it used to ride was a redundant exchange (r21)
        val labeled = TextAnalysis.langId(docsPar, "text")
          .select(col("doc_id"), col("text"),
            col("predicted_lang").as("__label"))
        val (w, feats) = Classifier.trainLangIdWithFeats(
          labeled, "doc_id", "text", "__label",
          classes, n = 3, dims = 256, rounds = 2)
        Classifier.langIdTrainedOnFeats(docs.select("doc_id"), feats, w,
            classes)
          .orderBy("doc_id")
      }),

    Q("x_token_count",
      Some("""SELECT doc_id,
             |       len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
             |         AS n_tokens,
             |       length(text) AS n_chars
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        T(s, dir, "documents").select(
            col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
            length(col("text")).cast("long").as("n_chars"))
          .orderBy("doc_id")),

    // ===== extensions: multimodal ============================================

    Q("x_multimodal_meta",
      Some("""SELECT doc_id, octet_length(encode(text)) AS byte_len,
             |       sha256(text) AS content_sha256,
             |       'application/octet-stream' AS sniffed_mime
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        Multimodal.binaryMetadata(
            T(s, dir, "documents")
              .select(col("doc_id"), col("text").cast("binary").as("payload")),
            "payload")
          .select(col("doc_id"), col("byte_len").cast("long").as("byte_len"),
            col("content_sha256"), col("sniffed_mime"))
          .orderBy("doc_id")),

    Q("x_multimodal_decode",
      // 60 planted REAL containers (PNG / JPEG / animated GIF / RIFF-WAVE /
      // corrupt — the MultimodalFixtures law): the JDK codecs must report
      // exactly the planted dimensions, frame counts, sample rates and
      // error-channel strings, every one of which DuckDB re-derives as a
      // pure formula of media_id
      Some("""SELECT i AS media_id,
             |       CASE i % 6 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
             |            WHEN 2 THEN 'image/gif' WHEN 3 THEN 'audio/wav'
             |            WHEN 4 THEN 'application/octet-stream'
             |            ELSE 'image/png' END AS mime,
             |       CAST(CASE WHEN i % 6 <= 2 THEN 16 + (i % 7) * 8 ELSE 0 END
             |         AS INT) AS width,
             |       CAST(CASE WHEN i % 6 <= 2 THEN 16 + (i % 5) * 8 ELSE 0 END
             |         AS INT) AS height,
             |       CAST(CASE WHEN i % 6 <= 1 THEN 1 WHEN i % 6 = 2 THEN 2 + i % 4
             |            WHEN i % 6 = 3 THEN 1000 + i * 10 ELSE 0 END AS INT)
             |         AS n_frames,
             |       CAST(CASE WHEN i % 6 = 3 THEN 8000 ELSE 0 END AS INT)
             |         AS sample_rate,
             |       CAST(CASE WHEN i % 6 = 3 THEN 1 + i % 2 ELSE 0 END AS INT)
             |         AS channels,
             |       i % 6 <= 3 AS decode_ok,
             |       CASE WHEN i % 6 = 4 THEN 'unrecognized container (magic bytes)'
             |            WHEN i % 6 = 5 THEN 'corrupt png: IIOException' END AS error
             |FROM generate_series(0, 59) t(i) ORDER BY media_id""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val media = s.createDataset((0L until 60L).map(MultimodalFixtures.decodeRow))
        Multimodal.decode(media).toDF()
          .select(col("media_id"), col("mime"), col("width"), col("height"),
            col("n_frames"), col("sample_rate"), col("channels"),
            col("decode_ok"), col("error"))
          .orderBy("media_id")
      }),

    Q("x_multimodal_video_meta",
      // MP4/ISO-BMFF video metadata by pure box-tree walk (no JDK codec
      // needed — the container layout is public): planted mvhd
      // timescale/duration and tkhd 16.16 dims must round-trip exactly;
      // truncated trees ride the error channel; WAVs in the same frame
      // prove cross-modality dispatch — every field a media_id formula
      Some("""SELECT i AS media_id,
             |       CASE i % 3 WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END
             |         AS mime,
             |       CAST(CASE WHEN i % 3 = 0 THEN 320 + 16 * (i % 4) ELSE 0 END
             |         AS INT) AS width,
             |       CAST(CASE WHEN i % 3 = 0 THEN 240 + 8 * (i % 5) ELSE 0 END
             |         AS INT) AS height,
             |       CAST(CASE WHEN i % 3 = 0 THEN 9000 + 10 * i
             |            WHEN i % 3 = 2 THEN 1000 + i * 10 ELSE 0 END AS INT)
             |         AS n_frames,
             |       CAST(CASE WHEN i % 3 = 0 THEN 600 + i
             |            WHEN i % 3 = 2 THEN 8000 ELSE 0 END AS INT)
             |         AS sample_rate,
             |       CAST(CASE WHEN i % 3 = 2 THEN 1 + i % 2 ELSE 0 END AS INT)
             |         AS channels,
             |       i % 3 <> 1 AS decode_ok,
             |       CASE WHEN i % 3 = 1
             |            THEN 'corrupt mp4: IllegalArgumentException' END AS error
             |FROM generate_series(0, 29) t(i) ORDER BY media_id""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val media = s.createDataset((0L until 30L).map(MultimodalFixtures.videoMetaRow))
        Multimodal.decode(media).toDF()
          .select(col("media_id"), col("mime"), col("width"), col("height"),
            col("n_frames"), col("sample_rate"), col("channels"),
            col("decode_ok"), col("error"))
          .orderBy("media_id")
      }),

    Q("x_multimodal_frames",
      // the frame/sample-index sampling plan over the REAL decoded metadata:
      // stills explode to one frame, animated GIFs to their planted frame
      // count, WAVs to every 400th audio frame — DuckDB replays the planted
      // frame-count formulas with generate_series
      Some("""WITH d AS (
             |  SELECT i, CASE WHEN i % 6 <= 1 THEN 1 WHEN i % 6 = 2 THEN 2 + i % 4
             |                 WHEN i % 6 = 3 THEN 1000 + i * 10 ELSE 0 END AS n_frames
             |  FROM generate_series(0, 59) t(i))
             |SELECT i AS media_id, CAST(n_frames AS INT) AS n_frames,
             |       CAST(unnest(generate_series(0, CAST(n_frames AS BIGINT) - 1, 400))
             |         AS INT) AS frame_idx
             |FROM d WHERE n_frames > 0 ORDER BY media_id, frame_idx""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val media = s.createDataset((0L until 60L).map(MultimodalFixtures.decodeRow))
        Multimodal.sampleFrames(Multimodal.decode(media).toDF(), stride = 400)
          .select(col("media_id"), col("n_frames"), col("frame_idx"))
          .orderBy("media_id", "frame_idx")
      }),

    Q("x_multimodal_pipeline",
      // the full media path — REAL javax.imageio / javax.sound decode
      // gates, exact nearest-neighbor resize with lossless PNG re-encode
      // for images, grid-luminance features off real pixels, time-windowed
      // PCM energy features off real WAV samples, exact-integer ANN over
      // the union — over planted formula media (MultimodalFixtures
      // .pipelineRow: images ride decode→resize→features, WAVs ride
      // decode→features, unrecognized bytes drop at the decode gate). The
      // oracle is the golden output of an independent numpy replay of the
      // planted-pixel / planted-sample / resample / feature / ANN laws
      // (tools/golden_multimodal.py); every column is an exact integer, so
      // the row set is hash-stable and a match proves the JDK codec paths
      // reproduced the planted media end to end.
      Some(MultimodalGolden.pipelineOracleSql),
      (s, dir) => {
        import s.implicits._
        val media = s.createDataset((0L until 40L).map(MultimodalFixtures.pipelineRow))
        // decode gate: only rows a real codec accepts continue
        val okIds = Multimodal.decode(media).toDF()
          .where(col("decode_ok")).select("media_id")
        val gated = Multimodal.binaryMetadata(
          media.toDF().join(broadcast(okIds), "media_id"), "bytes")
        def rows(df: org.apache.spark.sql.DataFrame) = df
          .select(col("media_id"), col("mime"), col("bytes"))
          .as[Multimodal.MediaRow]
        // images: real pixel resample + PNG re-encode, then embed the
        // RESIZED payload's real pixels
        val resized = Multimodal.resize(
            rows(gated.where(col("sniffed_mime") =!= "audio/wav")),
            64, 64).toDF()
          .where(col("resize_ok"))
          .select(col("media_id"), col("mime"),
            col("resized_bytes").as("bytes"))
          .as[Multimodal.MediaRow]
        val imgFeats = Multimodal.extractFeatures(resized, dim = 16).toDF()
          .where(col("feature_ok"))
        // audio: time-windowed PCM energy off the real decoded samples
        val wavFeats = Multimodal.extractFeatures(
            rows(gated.where(col("sniffed_mime") === "audio/wav")),
            dim = 16).toDF()
          .where(col("feature_ok"))
        val feats = imgFeats.unionByName(wavFeats)
        val queries = feats.where(col("media_id") < 7)
          .select(col("media_id").as("qid"), col("embedding").as("qvec"))
        Similarity.bruteForceTopKExact(
            feats, "media_id", "embedding", queries, "qid", "qvec", k = 3)
          .orderBy("query_id", "rank")
      }),

    Q("x_multimodal_pipeline_v2",
      // the THREE-modality media path: images ride decode→resize→grid
      // features, GIF-as-video rides decode→frame-sampled (stride 2)
      // grid features summed across sampled frames (the REAL multi-frame
      // ImageReader path over planted INDEXED-color frames, which GIF
      // round-trips losslessly), WAVs ride decode→windowed PCM energy —
      // then one exact-integer ANN over the union, so video rows flow
      // decode→features→ANN exactly like the other two modalities.
      // Unrecognized bytes and truncated PNGs drop at the decode gate.
      // The oracle is the golden output of an independent numpy replay
      // (tools/golden_multimodal_v2.py) of the palette/index/pixel/
      // sample laws, the resample + grid laws, and the ANN law
      Some(MultimodalGolden.pipelineV2OracleSql),
      (s, dir) => {
        import s.implicits._
        val media = s.createDataset(
          (0L until 42L).map(MultimodalFixtures.pipelineV2Row))
        val okIds = Multimodal.decode(media).toDF()
          .where(col("decode_ok")).select("media_id")
        val gated = Multimodal.binaryMetadata(
          media.toDF().join(broadcast(okIds), "media_id"), "bytes")
        def rows(df: org.apache.spark.sql.DataFrame) = df
          .select(col("media_id"), col("mime"), col("bytes"))
          .as[Multimodal.MediaRow]
        val resized = Multimodal.resize(
            rows(gated.where(col("sniffed_mime") === "image/png")),
            64, 64).toDF()
          .where(col("resize_ok"))
          .select(col("media_id"), col("mime"),
            col("resized_bytes").as("bytes"))
          .as[Multimodal.MediaRow]
        val imgFeats = Multimodal.extractFeatures(resized, dim = 16).toDF()
          .where(col("feature_ok"))
        // video leg: frame-grain decode at stride 2, media-grain embedding
        val vidFeats = Multimodal.videoFeatures(
            rows(gated.where(col("sniffed_mime") === "image/gif")),
            dim = 16, stride = 2).toDF()
          .where(col("feature_ok"))
        val wavFeats = Multimodal.extractFeatures(
            rows(gated.where(col("sniffed_mime") === "audio/wav")),
            dim = 16).toDF()
          .where(col("feature_ok"))
        val feats = imgFeats.unionByName(vidFeats).unionByName(wavFeats)
        val queries = feats.where(col("media_id") < 8)
          .select(col("media_id").as("qid"), col("embedding").as("qvec"))
        Similarity.bruteForceTopKExact(
            feats, "media_id", "embedding", queries, "qid", "qvec", k = 3)
          .orderBy("query_id", "rank")
      }),

    // ===== opaque codecs (rows-only: no SQL twin by design) ==================

    Q("fn_sac_contract_id",
      // golden oracle: expected rows derived by an INDEPENDENT implementation
      // of the public preimage layout (sha256 over XDR HashIDPreimage,
      // `contract_data.go:191-297`); DuckDB 1.0 sha256 is VARCHAR-only so the
      // binary preimage cannot be re-derived in SQL. nation is 25 fixed rows
      // at every SF, so the literals are scale-invariant. The native-asset id
      // is the publicly documented XLM SAC address.
      Some("""SELECT CAST(k AS BIGINT) AS asset_key, t AS asset_type,
             |       c AS asset_code, h AS contract_id_hex, a AS contract_address
             |FROM (VALUES
             |  (0, 'native', '', '25b4fcd859aec2fa6348438c489b3c3c10c98b6d21be4fd3cb30cb68953ef977', 'CAS3J7GYLGXMF6TDJBBYYSE3HQ6BBSMLNUQ34T6TZMYMW2EVH34XOWMA'),
             |  (1, 'credit_alphanum4', 'TK01', '244b28087b7806e573e3b8685cfec3eb8df159f57759efe5382678ade17f56a4', 'CASEWKAIPN4ANZLT4O4GQXH6YPVY34KZ6V3VT37FHATHRLPBP5LKJGTO'),
             |  (2, 'credit_alphanum12', 'TOKEN0000002', '0a84e1141cfa61bb92e3c0b9dda6b3b90d5870d128f8e88b8b83f191766a730c', 'CAFIJYIUDT5GDO4S4PALTXNGWO4Q2WDQ2EUPR2ELROB7DELWNJZQYLCH'),
             |  (3, 'native', '', '25b4fcd859aec2fa6348438c489b3c3c10c98b6d21be4fd3cb30cb68953ef977', 'CAS3J7GYLGXMF6TDJBBYYSE3HQ6BBSMLNUQ34T6TZMYMW2EVH34XOWMA'),
             |  (4, 'credit_alphanum4', 'TK04', 'a414523cb2671e748714136853b170be2cfd62462f3b62027cbd059475fdcb28', 'CCSBIUR4WJTR45EHCQJWQU5ROC7CZ7LCIYXTWYQCPS6QLFDV7XFSQU65'),
             |  (5, 'credit_alphanum12', 'TOKEN0000005', '662e4a0b3862ab1289b792380afde8464a6fdb05e556d345865efcb46d887bf7', 'CBTC4SQLHBRKWEUJW6JDQCX55BDEU363AXSVNU2FQZPPZNDNRB57OAC3'),
             |  (6, 'native', '', '25b4fcd859aec2fa6348438c489b3c3c10c98b6d21be4fd3cb30cb68953ef977', 'CAS3J7GYLGXMF6TDJBBYYSE3HQ6BBSMLNUQ34T6TZMYMW2EVH34XOWMA'),
             |  (7, 'credit_alphanum4', 'TK07', '102b6eec367cb9b738387223a244826cb364a5a07c3487b96b64f80ef7c01a9c', 'CAICW3XMGZ6LTNZYHBZCHISEQJWLGZFFUB6DJB5ZNNSPQDXXYANJZRTL'),
             |  (8, 'credit_alphanum12', 'TOKEN0000008', '552edc0ccc2c6543767e7136a82796979c5e6b3ee1dda4945658e33e48071b23', 'CBKS5XAMZQWGKQ3WPZYTNKBHS2LZYXTLH3Q53JEUKZMOGPSIA4NSGP25'),
             |  (9, 'native', '', '25b4fcd859aec2fa6348438c489b3c3c10c98b6d21be4fd3cb30cb68953ef977', 'CAS3J7GYLGXMF6TDJBBYYSE3HQ6BBSMLNUQ34T6TZMYMW2EVH34XOWMA'),
             |  (10, 'credit_alphanum4', 'TK10', 'b96436476016565f492a104481b36b04c04d241ff725a90aae18e1405f4fa185', 'CC4WINSHMALFMX2JFIIEJANTNMCMATJED73SLKIKVYMOCQC7J6QYKL3L'),
             |  (11, 'credit_alphanum12', 'TOKEN0000011', 'c125e5148956c4cc74ffe1d748d7e4a9cd1e651a615f06a84543615f502f1c4f', 'CDASLZIURFLMJTDU77Q5OSGX4SU42HTFDJQV6BVIIVBWCX2QF4OE6A5G'),
             |  (12, 'native', '', '25b4fcd859aec2fa6348438c489b3c3c10c98b6d21be4fd3cb30cb68953ef977', 'CAS3J7GYLGXMF6TDJBBYYSE3HQ6BBSMLNUQ34T6TZMYMW2EVH34XOWMA'),
             |  (13, 'credit_alphanum4', 'TK13', 'f933214115c4523092b6423303107976dea7068f41ee27cc5e065be7d2a1a757', 'CD4TGIKBCXCFEMESWZBDGAYQPF3N5JYGR5A64J6MLYDFXZ6SUGTVOJD3'),
             |  (14, 'credit_alphanum12', 'TOKEN0000014', '9f7d10cf21dbb46e03b674e880790a7949b8715ee511ce4938184eadce9c858e', 'CCPX2EGPEHN3I3QDWZ2ORADZBJ4UTODRL3SRDTSJHAME5LOOTSCY5KNY'),
             |  (15, 'native', '', '25b4fcd859aec2fa6348438c489b3c3c10c98b6d21be4fd3cb30cb68953ef977', 'CAS3J7GYLGXMF6TDJBBYYSE3HQ6BBSMLNUQ34T6TZMYMW2EVH34XOWMA'),
             |  (16, 'credit_alphanum4', 'TK16', '22388fb83216d20960b39d800e5f3e075326898a5003a740579b454221880752', 'CARDRD5YGILNECLAWOOYADS7HYDVGJUJRJIAHJ2AK6NUKQRBRADVFGHZ'),
             |  (17, 'credit_alphanum12', 'TOKEN0000017', '4146ac392be2555ccb9ac9ec1e0c69e5a43150bd3b3925eed3bc118970487d62', 'CBAUNLBZFPRFKXGLTLE6YHQMNHS2IMKQXU5TSJPO2O6BDCLQJB6WFNCQ'),
             |  (18, 'native', '', '25b4fcd859aec2fa6348438c489b3c3c10c98b6d21be4fd3cb30cb68953ef977', 'CAS3J7GYLGXMF6TDJBBYYSE3HQ6BBSMLNUQ34T6TZMYMW2EVH34XOWMA'),
             |  (19, 'credit_alphanum4', 'TK19', 'dcbc9e061b4c75b6df4296a217d2d7f7132572ee9b69922499516f4357dfb97c', 'CDOLZHQGDNGHLNW7IKLKEF6S273RGJLS52NWTERETFIW6Q2X364XYT75'),
             |  (20, 'credit_alphanum12', 'TOKEN0000020', '17048a2fa62ed8673486da637f6df4fe09f02111d6dccd7de0df27ce0dd7feaf', 'CALQJCRPUYXNQZZUQ3NGG73N6T7AT4BBCHLNZTL54DPSPTQN277K6GVO'),
             |  (21, 'native', '', '25b4fcd859aec2fa6348438c489b3c3c10c98b6d21be4fd3cb30cb68953ef977', 'CAS3J7GYLGXMF6TDJBBYYSE3HQ6BBSMLNUQ34T6TZMYMW2EVH34XOWMA'),
             |  (22, 'credit_alphanum4', 'TK22', 'f6612c68219ee79bb54a76cc771b86476ee24a6ff80cacfaa20df21db587a6c0', 'CD3GCLDIEGPOPG5VJJ3MY5Y3QZDW5YSKN74AZLH2UIG7EHNVQ6TMBQ4U'),
             |  (23, 'credit_alphanum12', 'TOKEN0000023', '6c26a957face57bef8349303e10a4a6c475dbcacc969685da6bbdae661747630', 'CBWCNKKX7LHFPPXYGSJQHYIKJJWEOXN4VTEWS2C5U255VZTBOR3DA5N4'),
             |  (24, 'native', '', '25b4fcd859aec2fa6348438c489b3c3c10c98b6d21be4fd3cb30cb68953ef977', 'CAS3J7GYLGXMF6TDJBBYYSE3HQ6BBSMLNUQ34T6TZMYMW2EVH34XOWMA')
             |) AS v(k, t, c, h, a)
             |ORDER BY asset_key""".stripMargin),
      (s, dir) => {
        val key = col("n_nationkey")
        val assetType = when(pmod(key, lit(3)) === 0, lit("native"))
          .when(pmod(key, lit(3)) === 1, lit("credit_alphanum4"))
          .otherwise(lit("credit_alphanum12"))
        val code = when(pmod(key, lit(3)) === 0, lit(""))
          .when(pmod(key, lit(3)) === 1,
            concat(lit("TK"), lpad(key.cast("string"), 2, "0")))
          .otherwise(concat(lit("TOKEN"), lpad(key.cast("string"), 7, "0")))
        val issuerKey = when(pmod(key, lit(3)) === 0, lit(null).cast("binary"))
          .otherwise(unhex(sha2(concat(lit("issuer-"), col("n_name")), 256)))
        T(s, dir, "nation").select(
            key.cast("long").as("asset_key"),
            assetType.as("asset_type"),
            code.as("asset_code"),
            GraftFunctions.sacContractIdHex(assetType, code, issuerKey)
              .as("contract_id_hex"),
            GraftFunctions.sacContractAddress(assetType, code, issuerKey)
              .as("contract_address"))
          .orderBy("asset_key")
      }),

    Q("fn_opaque_codecs",
      // DuckDB has no farmhash64/fnv64a builtin, so the oracle is a golden
      // VALUES table derived independently of the engine by
      // `tools/golden_codecs.py` (pure-python replay of the public
      // FarmHash/FNV/strkey specs) over a range-derived fixture: ids 0..7
      // sweep every short-input farmhash branch via "zQ7#xY9w" prefixes,
      // 8..119 sweep lengths 16..96 (the 17-32 / 33-64 / >64 branches)
      Some(CodecGolden.oracleSql),
      (s, dir) => {
        val name = when(col("id") < 8,
            expr("substring('zQ7#xY9w', 1, CAST(id AS INT))"))
          .otherwise(concat(lit("Graft Codec "), col("id"), lit(" "),
            expr("repeat('zQ7#', CAST(id % 21 AS INT))")))
        s.range(0, 120).toDF("id")
          .withColumn("name", name)
          .select(
            col("id"),
            GraftFunctions.farmHash64(col("name")).as("farmhash64"),
            GraftFunctions.fnv64a(col("name")).as("fnv64a"),
            GraftFunctions.farmHashAssetId(
              concat(lit("Brand#"), pmod(col("id"), lit(45))), col("name"),
              lit("credit_alphanum4")).as("asset_id"),
            GraftFunctions.strkeyAccount(unhex(sha2(col("name"), 256)))
              .as("strkey_like"),
            GraftFunctions.int128String(col("id") - 60,
              col("id") * 2654435761L).as("i128"),
            TextAnalysis.rollingHash(col("name")).as("rolling_hash"),
            TextAnalysis.subwordCountEstimate(col("name")).cast("long")
              .as("n_subwords"))
          .orderBy("id")
      })
  )

  /** P4/P5/P8/P10–P13/P18/J3 — the per-entry-type projections and flat-map
    * generators (reference transform package case law re-expressed as column algebra). */
  val entryOps: Seq[Q] = Seq(

    Q("p4_effects_flatmap",
      Some(s"""$txBase,
             |ops AS (SELECT ((ledger_sequence << 32) | (tx_order << 12)) | 1 AS operation_id,
             |               op_type, amount, source_account_key AS account, successful
             |        FROM tx)
             |SELECT CAST(operation_id AS VARCHAR) || '-' || CAST(idx AS VARCHAR) AS effect_id,
             |       operation_id, CAST(idx AS BIGINT) AS effect_index, effect_type,
             |       amount, account
             |FROM (
             |  SELECT operation_id, 1 AS idx, 'account_credited' AS effect_type,
             |         amount, account FROM ops WHERE successful AND op_type IN (1,3)
             |  UNION ALL SELECT operation_id, 2, 'account_debited', amount, account
             |    FROM ops WHERE successful AND op_type IN (1,3)
             |  UNION ALL SELECT operation_id, 1, 'account_created', amount, account
             |    FROM ops WHERE successful AND op_type = 0
             |  UNION ALL SELECT operation_id, 1, 'signer_updated', NULL, account
             |    FROM ops WHERE successful AND op_type = 2
             |  UNION ALL SELECT operation_id, 1, 'op_applied', NULL, account
             |    FROM ops WHERE successful AND op_type NOT IN (0,1,2,3))
             |ORDER BY operation_id, effect_index""".stripMargin),
      (s, dir) =>
        Effects.fromOperations(
            HistoryOps.historyOperations(
              HistoryOps.historyTransactions(LedgerFixtures.ledgers(s, dir)))
              .withColumnRenamed("source_account", "source_account"))
          .select("effect_id", "operation_id", "effect_index", "effect_type",
            "amount", "account")
          .orderBy("operation_id", "effect_index")),

    Q("p5_trades_claim_atoms",
      Some(s"""$txBase,
             |trade_ops AS (
             |  SELECT ((ledger_sequence << 32) | (tx_order << 12)) | 1 AS operation_id,
             |         ledger_sequence, tx_order, amount, part_key
             |  FROM tx WHERE op_type IN (3,4,5) AND successful)
             |SELECT operation_id, CAST(t.i AS BIGINT) AS atom_index,
             |       amount / (part_key % 2 + 1) AS selling_amount,
             |       CASE WHEN t.i % 2 = 1
             |            THEN (((ledger_sequence << 32) | (tx_order << 12)) | 1)
             |                   | (CAST(1 AS BIGINT) << 62)
             |            ELSE operation_id END AS buying_offer_id,
             |       t.i % 2 = 0 AS seller_is_exact
             |FROM trade_ops, LATERAL (SELECT unnest(range(part_key % 2 + 1)) AS i) t
             |WHERE amount / (part_key % 2 + 1) > 0
             |ORDER BY operation_id, atom_index""".stripMargin),
      (s, dir) =>
        Trades.fromTradeOps(
            HistoryOps.tradeOps(
              HistoryOps.historyOperations(
                HistoryOps.historyTransactions(LedgerFixtures.ledgers(s, dir)))))
          .orderBy("operation_id", "atom_index")),

    Q("p8_signers_sorted",
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS account, c_custkey AS signer,
             |       c_acctbal AS weight,
             |       row_number() OVER (PARTITION BY c_nationkey
             |         ORDER BY c_acctbal DESC, c_custkey) AS signer_rank
             |FROM customer ORDER BY account, signer_rank""".stripMargin),
      (s, dir) =>
        EntryProjections.signersRanked(
            T(s, dir, "customer").select(
              col("c_nationkey").cast("long").as("account"),
              col("c_custkey").as("signer"), col("c_acctbal").as("weight")),
            "account", "signer", "weight")
          .orderBy("account", "signer_rank")),

    Q("p10_trustlines",
      Some(s"""$txBase
             |SELECT source_account_key AS account_id,
             |       'AST' || CAST(part_key % 5 AS VARCHAR) AS asset,
             |       amount AS balance, amount / 2 AS buying_liabilities,
             |       amount / 4 AS selling_liabilities,
             |       to_base64(encode('TL|' || CAST(source_account_key AS VARCHAR) ||
             |         '|AST' || CAST(part_key % 5 AS VARCHAR))) AS ledger_key_b64,
             |       successful AS authorized
             |FROM tx
             |ORDER BY account_id, asset, balance, buying_liabilities""".stripMargin),
      (s, dir) =>
        EntryProjections.trustlines(
            HistoryOps.historyTransactions(LedgerFixtures.ledgers(s, dir)))
          .orderBy("account_id", "asset", "balance", "buying_liabilities")),

    Q("p11_liquidity_pools",
      // farmhash asset ids and the strkey L-address have no SQL analog —
      // dropped from the compare (CodecSpec pins those codecs); everything
      // else at PoolOutput width is re-derived
      Some("""WITH p AS (SELECT *, CAST(p_partkey AS BIGINT) AS k FROM part)
             |SELECT sha256(p_name) AS liquidity_pool_id,
             |       'constant_product' AS type, CAST(30 AS BIGINT) AS fee,
             |       k % 50 + 1 AS trustline_count,
             |       CAST(k * 10000001 AS DOUBLE) / 10000000 AS pool_share_count,
             |       'native' AS asset_a_type,
             |       CAST(NULL AS VARCHAR) AS asset_a_code,
             |       CAST(NULL AS VARCHAR) AS asset_a_issuer,
             |       CAST(5000000000 + k AS DOUBLE) / 10000000 AS asset_a_amount,
             |       'credit_alphanum4' AS asset_b_type,
             |       'TK' || (k % 50) AS asset_b_code,
             |       'ISS' || (k % 3) AS asset_b_issuer,
             |       CAST(2500000000 + k AS DOUBLE) / 10000000 AS asset_b_amount,
             |       k AS last_modified_ledger, k % 3 AS ledger_entry_change,
             |       k % 7 = 6 AS deleted,
             |       make_timestamp((1700000000000 + (k + 100) * 5000) * 1000)
             |         AS closed_at,
             |       k + 100 AS ledger_sequence
             |FROM p ORDER BY liquidity_pool_id""".stripMargin),
      (s, dir) =>
        EntryProjections.liquidityPools(T(s, dir, "part"))
          .drop("asset_a_id", "asset_b_id", "liquidity_pool_id_strkey")
          .orderBy("liquidity_pool_id")),

    Q("p12_claimable_balances",
      // ClaimableBalanceOutput at balance grain, exploded to claimant rows
      // for the compare: the oracle re-derives the hex-marshalled v0
      // balance id, the B-strkey (33-byte type‖hash payload), the claimant
      // destinations (strkeyG over the claimant hash law, destination-sorted
      // — L3) and the recursive predicate JSON per shape. farmhash asset_id
      // has no SQL analog — dropped (fn_opaque_codecs + ReferenceGoldenSpec
      // pin it against real golden rows).
      Some(s"""WITH c AS (SELECT *, CAST(c_custkey AS BIGINT) AS k FROM customer),
             |cl AS (SELECT *, unnest(generate_series(0, k % 3)) AS i FROM c),
             |rows0 AS (SELECT k, i, k + i AS pk,
             |  ${strkeyG("sha256('claimant|' || k || '|' || i)")} AS dest
             |  FROM cl)
             |SELECT '00000000' || sha256(CAST(r.k AS VARCHAR)) AS balance_id,
             |       ${strkeyB("sha256(CAST(r.k AS VARCHAR))")} AS balance_id_strkey,
             |       row_number() OVER (PARTITION BY r.k ORDER BY r.dest) - 1
             |         AS claimant_order,
             |       r.dest AS claimant_destination,
             |       CASE r.pk % 4
             |       WHEN 0 THEN '{"unconditional":true}'
             |       WHEN 1 THEN '{"abs_before":"' ||
             |         strftime(make_timestamp((1700000000 + r.pk) * 1000000),
             |                  '%Y-%m-%dT%H:%M:%SZ') ||
             |         '","abs_before_epoch":"' || (1700000000 + r.pk) || '"}'
             |       WHEN 2 THEN '{"or":[{"abs_before":"' ||
             |         strftime(make_timestamp((1700000000 + r.pk) * 1000000),
             |                  '%Y-%m-%dT%H:%M:%SZ') ||
             |         '","abs_before_epoch":"' || (1700000000 + r.pk) ||
             |         '"},{"rel_before":"' || r.pk || '"}]}'
             |       ELSE '{"and":[{"not":{"rel_before":"' || (86400 + r.pk) ||
             |         '"}},{"unconditional":true}]}'
             |       END AS claimant_predicate,
             |       CASE WHEN r.k % 9 != 0 THEN 'CB' || (r.k % 40) ELSE '' END
             |         AS asset_code,
             |       CASE WHEN r.k % 9 != 0
             |            THEN ${strkeyG("sha256('cb-issuer|' || (r.k % 5))")}
             |            ELSE '' END AS asset_issuer,
             |       CASE WHEN r.k % 9 != 0 THEN 'credit_alphanum4'
             |            ELSE 'native' END AS asset_type,
             |       CAST(CAST(c_acctbal * 100 AS BIGINT) AS DOUBLE) / 10000000
             |         AS asset_amount,
             |       CASE WHEN r.k % 4 = 0
             |            THEN ${strkeyG("sha256('cb-sponsor|' || (r.k % 11))")}
             |            END AS sponsor,
             |       r.k % 2 AS flags,
             |       r.k AS last_modified_ledger, r.k % 3 AS ledger_entry_change,
             |       r.k % 7 = 6 AS deleted,
             |       make_timestamp((1700000000000 + (r.k + 100) * 5000) * 1000)
             |         AS closed_at,
             |       r.k + 100 AS ledger_sequence
             |FROM rows0 r JOIN c ON r.k = c.k
             |ORDER BY balance_id, claimant_order""".stripMargin),
      (s, dir) =>
        EntryProjections.claimableBalances(T(s, dir, "customer"))
          .select(col("balance_id"), col("balance_id_strkey"),
            posexplode(col("claimants")).as(Seq("claimant_order", "cl")),
            col("asset_code"), col("asset_issuer"), col("asset_type"),
            col("asset_amount"), col("sponsor"), col("flags"),
            col("last_modified_ledger"), col("ledger_entry_change"),
            col("deleted"), col("closed_at"), col("ledger_sequence"))
          .withColumn("claimant_destination", col("cl.destination"))
          .withColumn("claimant_predicate", to_json(col("cl.predicate")))
          .drop("cl")
          .orderBy("balance_id", "claimant_order")),

    Q("p13_sac_storage",
      // SAC storage walk over real ScVal XDR: arm 0 plants an instance entry
      // with AssetInfo storage (k%9==0 gets a WRONG contract id — the walk's
      // self-check must reject it), arm 1 a Balance entry, arm 2 junk. The
      // oracle re-derives the expected recoveries per arm
      Some("""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part)
             |SELECT k, k % 3 AS arm,
             |  CASE WHEN k % 3 = 0 AND k % 9 != 0
             |       THEN 'credit_alphanum4' END AS asset_type,
             |  CASE WHEN k % 3 = 0 AND k % 9 != 0
             |       THEN 'TK' || (k % 100) END AS asset_code,
             |  CASE WHEN k % 3 = 0 AND k % 9 != 0
             |       THEN sha256('issuer-' || (k % 5)) END AS issuer_hex,
             |  CASE WHEN k % 3 = 1 THEN sha256('holder-' || k) END AS holder_hex,
             |  CASE WHEN k % 3 = 1 THEN CAST(k * 1000 + 7 AS VARCHAR) END AS amount,
             |  CASE WHEN k % 3 = 1 THEN k % 2 = 0 END AS authorized,
             |  CASE WHEN k % 3 = 1 THEN k % 5 = 0 END AS clawback
             |FROM p ORDER BY k""".stripMargin),
      (s, dir) => {
        import graft.functions.{GraftFunctions => G}
        val k = col("p_partkey").cast("long")
        val arm = k % 3
        val code = concat(lit("TK"), (k % 100).cast("string"))
        val issuer = unhex(sha2(concat(lit("issuer-"), (k % 5).cast("string")), 256))
        val holder = unhex(sha2(concat(lit("holder-"), k.cast("string")), 256))
        val junk = lit(graft.codec.ScVal.encode(graft.codec.ScVal.Sym("junk")))
        val keyCol = when(arm === 0, lit(G.sacInstanceKeyBytes))
          .when(arm === 1, G.sacBalanceKeyBytes(holder))
          .otherwise(junk)
        val valCol = when(arm === 0, G.sacInstanceValBytes(code, issuer))
          .when(arm === 1, G.sacBalanceValBytes(k * 1000 + 7, k % 2 === 0, k % 5 === 0))
          .otherwise(junk)
        val cid = when(k % 9 === 0, unhex(sha2(lit("wrong"), 256)))
          .otherwise(G.sacContractIdBytes(lit("credit_alphanum4"), code, issuer))
        T(s, dir, "part")
          .select(k.as("k"), arm.as("arm"),
            G.sacAssetFromContractData(keyCol, valCol, cid).as("a"),
            G.sacBalanceFromContractData(keyCol, valCol).as("b"))
          .select(col("k"), col("arm"),
            col("a.asset_type").as("asset_type"),
            col("a.asset_code").as("asset_code"),
            col("a.issuer_hex").as("issuer_hex"),
            col("b.holder_hex").as("holder_hex"),
            col("b.amount").as("amount"),
            col("b.authorized").as("authorized"),
            col("b.clawback").as("clawback"))
          .orderBy("k")
      }),

    Q("p18_raw_base64",
      Some("""SELECT doc_id, to_base64(encode(text)) AS envelope_b64,
             |       length(text) AS envelope_len
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        EntryProjections.rawBase64(T(s, dir, "documents")).orderBy("doc_id")),

    Q("stellar_history_pipeline",
      // the composed P1+P2+P3 id stream re-derived in SQL: every ledger, tx
      // (failed included) and op TOID of the fixture lattice at its grain
      Some("""WITH ls AS (SELECT unnest(generate_series(1000, 1099)) AS l),
             |txs AS (SELECT l, unnest(generate_series(0, l % 5)) AS t FROM ls),
             |ops AS (SELECT l, t, unnest(generate_series(0, t % 4)) AS o FROM txs)
             |SELECT id, grain FROM (
             |  SELECT CAST(l AS BIGINT) << 32 AS id, 'ledger' AS grain FROM ls
             |  UNION ALL
             |  SELECT (CAST(l AS BIGINT) << 32) | (CAST(t + 1 AS BIGINT) << 12),
             |         'tx' FROM txs
             |  UNION ALL
             |  SELECT (CAST(l AS BIGINT) << 32) | (CAST(t + 1 AS BIGINT) << 12)
             |           | CAST(o + 1 AS BIGINT), 'op' FROM ops)
             |ORDER BY id, grain""".stripMargin),
      (s, dir) => {
        // the REAL P1+P2+P3 transforms over the decoded ledger model
        val ledgers = graft.sources.StellarFixture.ledgers(s, 1000, 1099)
        val l = StellarTransforms.historyLedgers(ledgers)
          .select(col("id"), lit("ledger").as("grain"))
        val t = StellarTransforms.historyTransactions(ledgers)
          .select(col("id"), lit("tx").as("grain"))
        val o = memo("historyOperationsNarrow", ledgers)(
            StellarTransforms.historyOperations(ledgers)
              .select("id", "type", "type_string", "transaction_id"))
          .select(col("id"), lit("op").as("grain"))
        l.unionAll(t).unionAll(o).orderBy("id", "grain")
      }),

    Q("stellar_golden_rows",
      // the real-model P1+P2+P3 columns DuckDB can re-derive independently:
      // the oracle reconstructs the fixture's (l, t, o) lattice with
      // generate_series and recomputes TOIDs (bit algebra), sha-256 hashes,
      // tx/op counts, the P20 fee-bump recompute, the Soroban inclusion-fee
      // decomposition from fee-meta diffs, and op type names — everything
      // except strkey rendering (no base32/crc16 in SQL), which CodecSpec
      // golden vectors pin instead
      Some("""WITH ls AS (SELECT unnest(generate_series(1000, 1099)) AS l),
             |txs AS (SELECT l, unnest(generate_series(0, l % 5)) AS t FROM ls),
             |ops AS (SELECT l, t, unnest(generate_series(0, t % 4)) AS o FROM txs),
             |tnames(ty, name) AS (VALUES
             |  (0,'create_account'),(1,'payment'),(2,'path_payment_strict_receive'),
             |  (3,'manage_sell_offer'),(4,'create_passive_sell_offer'),
             |  (5,'set_options'),(6,'change_trust'),(7,'allow_trust'),
             |  (8,'account_merge'),(9,'inflation'),(10,'manage_data'),
             |  (11,'bump_sequence'),(12,'manage_buy_offer'),
             |  (13,'path_payment_strict_send'),(14,'create_claimable_balance'),
             |  (15,'claim_claimable_balance'),(16,'begin_sponsoring_future_reserves'),
             |  (17,'end_sponsoring_future_reserves'),(18,'revoke_sponsorship'),
             |  (19,'clawback'),(20,'clawback_claimable_balance'),
             |  (21,'set_trust_line_flags'),(22,'liquidity_pool_deposit'),
             |  (23,'liquidity_pool_withdraw'),(24,'invoke_host_function'),
             |  (25,'extend_footprint_ttl'),(26,'restore_footprint'))
             |SELECT 'ledger' AS grain, CAST(l AS BIGINT) << 32 AS id,
             |       sha256('ledger-' || l) AS s1,
             |       -- transaction_count excludes failed (ledger.go:149)
             |       (SELECT CAST(count(*) AS BIGINT) FROM txs x
             |        WHERE x.l = ls.l AND x.t % 3 != 0) AS n1,
             |       (SELECT CAST(coalesce(sum(t % 4 + 1), 0) AS BIGINT)
             |        FROM txs x WHERE x.l = ls.l AND x.t % 3 != 0) AS n2
             |FROM ls
             |UNION ALL
             |SELECT 'tx', (CAST(l AS BIGINT) << 32) | (CAST(t + 1 AS BIGINT) << 12),
             |       sha256('tx-' || l || '-' || t),
             |       -- P20 recompute: pre-21 protocol (l%3=0) fee-bump soroban
             |       -- txs charge resource_fee - refund instead of the envelope
             |       CASE WHEN l % 3 = 0 AND t % 5 = 4
             |            THEN (40000 + t) - 6000 ELSE 100 * (t + 1) END,
             |       -- inclusion fee charged = fee-meta balance diff - resource
             |       CASE WHEN t % 5 = 2 THEN 5000
             |            WHEN t % 5 = 4 THEN 12000 ELSE 0 END
             |FROM txs
             |UNION ALL
             |SELECT 'op', (CAST(l AS BIGINT) << 32) | (CAST(t + 1 AS BIGINT) << 12)
             |         | CAST(o + 1 AS BIGINT),
             |       (SELECT name FROM tnames WHERE ty = (l + t + o) % 27),
             |       CAST((l + t + o) % 27 AS BIGINT),
             |       (CAST(l AS BIGINT) << 32) | (CAST(t + 1 AS BIGINT) << 12)
             |FROM ops
             |ORDER BY grain, id""".stripMargin),
      (s, dir) => {
        val ledgers = graft.sources.StellarFixture.ledgers(s, 1000, 1099)
        // shares the persisted op-grain with stellar_history_pipeline
        val l = StellarTransforms.historyLedgers(ledgers).select(
          lit("ledger").as("grain"), col("id"),
          col("ledger_hash").as("s1"),
          col("transaction_count").cast("long").as("n1"),
          col("operation_count").cast("long").as("n2"))
        val t = StellarTransforms.historyTransactions(ledgers).select(
          lit("tx").as("grain"), col("id"),
          col("transaction_hash").as("s1"),
          col("fee_charged").as("n1"),
          col("inclusion_fee_charged").as("n2"))
        val o = memo("historyOperationsNarrow", ledgers)(
            StellarTransforms.historyOperations(ledgers)
              .select("id", "type", "type_string", "transaction_id")).select(
          lit("op").as("grain"), col("id"),
          col("type_string").as("s1"),
          col("type").cast("long").as("n1"),
          col("transaction_id").as("n2"))
        l.unionAll(t).unionAll(o).orderBy("grain", "id")
      }),

    Q("stellar_trades_golden",
      // the non-strkey trade columns re-derived in SQL: TOID algebra, the
      // authoritative pre-state price (7/2, proving the reverse change scan
      // beat the planted stale 1/99), LP fallback prices from amount ratios,
      // synthetic bit-62 buying offer ids, and exact stroop→XLM doubles
      Some("""WITH ls AS (SELECT unnest(generate_series(2000, 2099)) AS l),
             |txs AS (SELECT l, unnest(generate_series(0, l % 5)) AS t FROM ls
             |        WHERE true),
             |ops AS (SELECT l, t, unnest(generate_series(0, t % 4)) AS o
             |        FROM txs WHERE t % 3 != 0),
             |tr AS (SELECT *, (l + t + o) % 27 AS ty FROM ops
             |       WHERE (l + t + o) % 27 IN (2, 3, 4, 12, 13)),
             |atoms AS (SELECT *, unnest(generate_series(0, o % 2)) AS a FROM tr),
             |x AS (SELECT *,
             |        (ty = 2 AND a = 0) AS lp,
             |        (CAST(l AS BIGINT) << 32) | (CAST(t + 1 AS BIGINT) << 12)
             |          | CAST(o + 1 AS BIGINT) AS op_id
             |      FROM atoms)
             |SELECT op_id AS history_operation_id,
             |       a AS "order",
             |       CASE WHEN lp THEN 1500000 * (a + 1) ELSE 7 END AS price_n,
             |       CASE WHEN lp THEN 2000000 * (a + 1) ELSE 2 END AS price_d,
             |       CASE WHEN lp THEN 2 ELSE 1 END AS trade_type,
             |       CASE WHEN NOT lp THEN 5000 + a END AS selling_offer_id,
             |       CASE WHEN ty IN (3, 4, 12) AND o % 2 = 0 THEN 7000 + o
             |            ELSE op_id | (CAST(1 AS BIGINT) << 62)
             |       END AS buying_offer_id,
             |       CAST(2000000 * (a + 1) AS DOUBLE) / 10000000 AS selling_amount,
             |       CAST(1500000 * (a + 1) AS DOUBLE) / 10000000 AS buying_amount
             |FROM x ORDER BY history_operation_id, "order"""".stripMargin),
      (s, dir) =>
        memo("historyTradesNarrow", graft.sources.StellarFixture.ledgers(s, 2000, 2099))(
            StellarTradesEffects.historyTrades(
                graft.sources.StellarFixture.ledgers(s, 2000, 2099))
              .select("history_operation_id", "order", "price_n", "price_d",
                "trade_type", "selling_offer_id", "buying_offer_id",
                "selling_amount", "buying_amount"))
          .select(col("history_operation_id"), col("order").cast("long"),
            col("price_n"), col("price_d"),
            col("trade_type").cast("long").as("trade_type"),
            col("selling_offer_id"), col("buying_offer_id"),
            col("selling_amount"), col("buying_amount"))
          .orderBy("history_operation_id", "order")),

    Q("stellar_effects_golden",
      // the effect fan-out re-derived in SQL for every non-trade op type:
      // the oracle rebuilds the per-type effect sequence (order = index)
      // from the fixture lattice — create-account triple, set-options
      // conditional family, CB lifecycle, merge triple, SAC invoke
      // credit/debit — proving the generator's arrays element-for-element
      Some("""WITH ls AS (SELECT unnest(generate_series(2000, 2099)) AS l),
             |txs AS (SELECT l, unnest(generate_series(0, l % 5)) AS t FROM ls
             |        WHERE true),
             |ops AS (SELECT l, t, unnest(generate_series(0, t % 4)) AS o
             |        FROM txs WHERE t % 3 != 0),
             |el AS (SELECT l, t, o,
             |        (CAST(l AS BIGINT) << 32) | (CAST(t + 1 AS BIGINT) << 12)
             |          | CAST(o + 1 AS BIGINT) AS op_id,
             |        (l + t + o) % 27 AS ty,
             |        CASE (l + t + o) % 27
             |        WHEN 0 THEN [0, 3, 10]
             |        WHEN 1 THEN [2, 3]
             |        WHEN 5 THEN (CASE
             |          WHEN o % 2 = 0 AND o % 3 != 2 THEN [4, 5, 6, 7, 10]
             |          WHEN o % 2 = 0 THEN [4, 6, 7, 10]
             |          WHEN o % 3 != 2 THEN [4, 5, 6]
             |          ELSE [4, 6] END)
             |        WHEN 6 THEN (CASE
             |          WHEN (l + t) % 4 = 1 AND o % 3 = 2 THEN [21, 94]
             |          WHEN (l + t) % 4 = 1 THEN [21]
             |          WHEN o % 3 = 2 AND (l + t + o) % 2 = 0 THEN [20, 93]
             |          WHEN o % 3 = 2 THEN [20]
             |          WHEN (l + t + o) % 2 = 1 THEN [22]
             |          ELSE [20] END)
             |        WHEN 7 THEN [26, 26]
             |        WHEN 21 THEN (CASE WHEN o % 2 = 1 AND l % 2 = 0
             |          THEN [26, 50, 51, 50, 51, 95] ELSE [26] END)
             |        WHEN 8 THEN [3, 2, 1]
             |        WHEN 9 THEN [2, 2]
             |        WHEN 10 THEN (CASE WHEN o % 2 = 1 THEN [41]
             |          WHEN (l + t) % 2 = 0 AND (l + o) % 2 = 1 THEN [42]
             |          ELSE [40] END)
             |        WHEN 11 THEN [43]
             |        WHEN 14 THEN [50, 51, 51, 3]
             |        WHEN 15 THEN [52, 2]
             |        WHEN 16 THEN
             |          (CASE WHEN (l + t) % 4 = 3 THEN CAST([] AS INTEGER[])
             |            ELSE [(CASE (l + o) % 4 WHEN 0 THEN 60 WHEN 1 THEN 63
             |                   WHEN 2 THEN 66 ELSE 69 END)
             |              + (CASE (l + t) % 4 WHEN 1 THEN 1 WHEN 2 THEN 2
             |                 ELSE 0 END)] END)
             |          || (CASE WHEN (l + o) % 4 = 0 THEN
             |                (CASE (t + o) % 4 WHEN 0 THEN [72] WHEN 1 THEN [74]
             |                 WHEN 2 THEN [73] ELSE CAST([] AS INTEGER[]) END)
             |              ELSE CAST([] AS INTEGER[]) END)
             |        WHEN 17 THEN
             |          (CASE WHEN (l + t) % 4 = 3 THEN CAST([] AS INTEGER[])
             |            ELSE [(CASE (l + o) % 4 WHEN 0 THEN 60 WHEN 1 THEN 63
             |                   WHEN 2 THEN 66 ELSE 69 END)
             |              + (CASE (l + t) % 4 WHEN 1 THEN 1 WHEN 2 THEN 2
             |                 ELSE 0 END)] END)
             |          || (CASE WHEN (l + o) % 4 = 0 THEN
             |                (CASE (t + o) % 4 WHEN 0 THEN [72] WHEN 1 THEN [74]
             |                 WHEN 2 THEN [73] ELSE CAST([] AS INTEGER[]) END)
             |              ELSE CAST([] AS INTEGER[]) END)
             |        WHEN 18 THEN
             |          (CASE WHEN (l + t) % 4 = 3 THEN CAST([] AS INTEGER[])
             |            ELSE [(CASE (l + o) % 4 WHEN 0 THEN 60 WHEN 1 THEN 63
             |                   WHEN 2 THEN 66 ELSE 69 END)
             |              + (CASE (l + t) % 4 WHEN 1 THEN 1 WHEN 2 THEN 2
             |                 ELSE 0 END)] END)
             |          || (CASE WHEN (l + o) % 4 = 0 THEN
             |                (CASE (t + o) % 4 WHEN 0 THEN [72] WHEN 1 THEN [74]
             |                 WHEN 2 THEN [73] ELSE CAST([] AS INTEGER[]) END)
             |              ELSE CAST([] AS INTEGER[]) END)
             |        WHEN 19 THEN [2, 3]
             |        WHEN 20 THEN [80, 2]
             |        WHEN 22 THEN [90]
             |        WHEN 23 THEN [91]
             |        WHEN 24 THEN (CASE WHEN o % 4 = 0 THEN [3, 96, 3]
             |                      ELSE CAST([] AS INTEGER[]) END)
             |        WHEN 25 THEN [98]
             |        WHEN 26 THEN [99]
             |        ELSE CAST([] AS INTEGER[]) END AS effs
             |      FROM ops
             |      WHERE (l + t + o) % 27 NOT IN (2, 3, 4, 12, 13))
             |SELECT op_id AS operation_id,
             |       generate_subscripts(effs, 1) - 1 AS "index",
             |       unnest(effs) AS type
             |FROM el WHERE len(effs) > 0
             |ORDER BY operation_id, "index"""".stripMargin),
      (s, dir) => {
        val ledgers = graft.sources.StellarFixture.ledgers(s, 2000, 2099)
        memo("historyEffectsNarrow", ledgers)(
            StellarTradesEffects.historyEffects(ledgers)
              .select("operation_id", "index", "type"))
          .join(memo("historyOperationsNarrow", ledgers)(
              StellarTransforms.historyOperations(ledgers)
                .select("id", "type", "type_string", "transaction_id"))
            .where(!col("type").isin(2, 3, 4, 12, 13))
            .select(col("id").as("operation_id")), "operation_id")
          .select(col("operation_id"), col("index"), col("type"))
          .orderBy("operation_id", "index")
      }),

    Q("stellar_trades_effects",
      // promoted from rows-only: the trade grain (pre-state/fallback price_n
      // per claim atom) and the effect grain (0-based index per op, i.e. the
      // full per-type effect COUNT case law incl. trade fan-outs and the
      // sponsorship lattice) re-derived in SQL
      Some("""WITH ls AS (SELECT unnest(generate_series(2000, 2099)) AS l),
             |txs AS (SELECT l, unnest(generate_series(0, l % 5)) AS t FROM ls),
             |ops AS (SELECT l, t, unnest(generate_series(0, t % 4)) AS o
             |        FROM txs WHERE t % 3 != 0),
             |el AS (SELECT l, t, o,
             |        (CAST(l AS BIGINT) << 32) | (CAST(t + 1 AS BIGINT) << 12)
             |          | CAST(o + 1 AS BIGINT) AS op_id,
             |        (l + t + o) % 27 AS ty,
             |        CASE (l + t + o) % 27
             |        WHEN 0 THEN 3 WHEN 1 THEN 2
             |        -- strict-receive emits offer_created too (8 per offer
             |        -- atom): isPathPayment only gates strict-send
             |        WHEN 2 THEN 3 + (CASE WHEN o % 2 = 1 THEN 8 ELSE 0 END)
             |        WHEN 13 THEN 2 + 6 * (o % 2 + 1)
             |        WHEN 3 THEN 8 * (o % 2 + 1) WHEN 4 THEN 8 * (o % 2 + 1)
             |        WHEN 12 THEN 8 * (o % 2 + 1)
             |        WHEN 5 THEN (CASE
             |          WHEN o % 2 = 0 AND o % 3 != 2 THEN 5
             |          WHEN o % 2 = 0 THEN 4
             |          WHEN o % 3 != 2 THEN 3 ELSE 2 END)
             |        WHEN 6 THEN 1 + (CASE WHEN o % 3 = 2 AND
             |          ((l + t) % 4 = 1 OR (l + t + o) % 2 = 0)
             |          THEN 1 ELSE 0 END)
             |        WHEN 7 THEN 2
             |        WHEN 21 THEN (CASE WHEN o % 2 = 1 AND l % 2 = 0
             |          THEN 6 ELSE 1 END)
             |        WHEN 8 THEN 3 WHEN 9 THEN 2 WHEN 10 THEN 1 WHEN 11 THEN 1
             |        WHEN 14 THEN 4 WHEN 15 THEN 2 WHEN 19 THEN 2 WHEN 20 THEN 2
             |        WHEN 16 THEN (CASE WHEN (l + t) % 4 = 3 THEN 0 ELSE 1 END)
             |          + (CASE WHEN (l + o) % 4 = 0 AND (t + o) % 4 < 3
             |             THEN 1 ELSE 0 END)
             |        WHEN 17 THEN (CASE WHEN (l + t) % 4 = 3 THEN 0 ELSE 1 END)
             |          + (CASE WHEN (l + o) % 4 = 0 AND (t + o) % 4 < 3
             |             THEN 1 ELSE 0 END)
             |        WHEN 18 THEN (CASE WHEN (l + t) % 4 = 3 THEN 0 ELSE 1 END)
             |          + (CASE WHEN (l + o) % 4 = 0 AND (t + o) % 4 < 3
             |             THEN 1 ELSE 0 END)
             |        WHEN 22 THEN 1 WHEN 23 THEN 1
             |        WHEN 24 THEN (CASE WHEN o % 4 = 0 THEN 3 ELSE 0 END)
             |        WHEN 25 THEN 1 WHEN 26 THEN 1
             |        ELSE 0 END AS cnt
             |      FROM ops),
             |atoms AS (SELECT op_id, ty = 2 AND a = 0 AS lp, a
             |          FROM (SELECT *, unnest(generate_series(0, o % 2)) AS a
             |                FROM el WHERE ty IN (2, 3, 4, 12, 13)))
             |SELECT id, grain, n FROM (
             |  SELECT op_id AS id, 'effect' AS grain,
             |         unnest(generate_series(0, cnt - 1)) AS n
             |  FROM el WHERE cnt > 0
             |  UNION ALL
             |  SELECT op_id, 'trade',
             |         CAST(CASE WHEN lp THEN 1500000 * (a + 1) ELSE 7 END
             |              AS BIGINT)
             |  FROM atoms)
             |ORDER BY id, grain, n""".stripMargin),
      (s, dir) => {
        // REAL P4+P5 over the decoded model: pre-state price reverse scan,
        // synthetic ids, LP pool fees, effect fan-out
        val ledgers = graft.sources.StellarFixture.ledgers(s, 2000, 2099)
        val t = memo("historyTradesNarrow", ledgers)(
            StellarTradesEffects.historyTrades(ledgers)
              .select("history_operation_id", "order", "price_n", "price_d",
                "trade_type", "selling_offer_id", "buying_offer_id",
                "selling_amount", "buying_amount"))
          .select(col("history_operation_id").as("id"),
            lit("trade").as("grain"), col("price_n").as("n"))
        val e = memo("historyEffectsNarrow", ledgers)(
            StellarTradesEffects.historyEffects(ledgers)
              .select("operation_id", "index", "type"))
          .select(col("operation_id").as("id"), lit("effect").as("grain"),
            col("index").as("n"))
        t.unionAll(e).orderBy("id", "grain", "n")
      }),

    Q("stellar_transfers_golden",
      // the token-transfer event stream re-derived in SQL: fee events for
      // every tx (raw charged fee — the P20 fee-bump recompute is a
      // history_transactions output rule, not a processor one), per-atom
      // swap legs,
      // path-payment delivery legs, issuer-aware burn classification for
      // odd-o payments on even ledgers, CB/LP/merge/clawback amounts, and
      // the SAC invoke transfer+burn pair
      Some("""WITH ls AS (SELECT unnest(generate_series(2000, 2099)) AS l),
             |txs AS (SELECT l, unnest(generate_series(0, l % 5)) AS t FROM ls),
             |ops AS (SELECT l, t, unnest(generate_series(0, t % 4)) AS o,
             |               (CAST(l AS BIGINT) << 32)
             |                 | (CAST(t + 1 AS BIGINT) << 12) AS tx_id
             |        FROM txs WHERE t % 3 != 0),
             |op2 AS (SELECT *, tx_id | CAST(o + 1 AS BIGINT) AS op_id,
             |               (l + t + o) % 27 AS ty,
             |               1000000 * (o + 1) + t AS amt FROM ops),
             |atoms AS (SELECT *, unnest(generate_series(0, o % 2)) AS a
             |          FROM op2 WHERE ty IN (2, 3, 4, 12, 13)),
             |legs AS (
             |  SELECT op_id AS id, 'transfer' AS event_topic,
             |         2000000 * (a + 1) AS amount FROM atoms
             |  UNION ALL
             |  SELECT op_id, 'transfer', 1500000 * (a + 1) FROM atoms
             |  UNION ALL
             |  SELECT op_id, 'transfer', amt FROM op2 WHERE ty IN (2, 13)
             |  UNION ALL
             |  SELECT op_id, 'transfer', 25000000 + o * 10000000
             |  FROM op2 WHERE ty = 0
             |  UNION ALL
             |  SELECT op_id,
             |         CASE WHEN o % 2 = 1 AND l % 2 = 0 THEN 'burn'
             |              ELSE 'transfer' END, amt FROM op2 WHERE ty = 1
             |  UNION ALL
             |  SELECT op_id, 'transfer', amt FROM op2 WHERE ty = 8
             |  UNION ALL
             |  SELECT op_id, 'mint', 8000000 + o FROM op2 WHERE ty = 9
             |  UNION ALL
             |  SELECT op_id, 'mint', 16000000 + o FROM op2 WHERE ty = 9
             |  UNION ALL
             |  SELECT op_id, 'transfer', 30000000 * (o + 1) FROM op2 WHERE ty = 14
             |  UNION ALL
             |  SELECT op_id, 'transfer', 20000000 * (o + 1) FROM op2 WHERE ty = 15
             |  UNION ALL
             |  SELECT op_id, 'clawback', amt FROM op2 WHERE ty = 19
             |  UNION ALL
             |  SELECT op_id, 'clawback', 20000000 * (o + 1) FROM op2 WHERE ty = 20
             |  UNION ALL
             |  SELECT op_id, 'transfer', 30000000 + o FROM op2 WHERE ty IN (22, 23)
             |  UNION ALL
             |  SELECT op_id, 'transfer', 15000000 + o FROM op2 WHERE ty IN (22, 23)
             |  UNION ALL
             |  SELECT op_id, 'transfer', 5000001 + o
             |  FROM op2 WHERE ty = 24 AND o % 4 = 0
             |  UNION ALL
             |  SELECT op_id, 'burn', 700003 + o
             |  FROM op2 WHERE ty = 24 AND o % 4 = 0
             |  UNION ALL
             |  SELECT (CAST(l AS BIGINT) << 32) | (CAST(t + 1 AS BIGINT) << 12),
             |         'fee', 100 * (t + 1)
             |  FROM txs)
             |SELECT id, event_topic, CAST(amount AS VARCHAR) AS amount
             |FROM legs ORDER BY id, event_topic, amount""".stripMargin),
      (s, dir) => {
        val ledgers = graft.sources.StellarFixture.ledgers(s, 2000, 2099)
        val events =
          memo("tokenTransfers", ledgers)(TokenTransfers.fromLedgers(ledgers))
        events.select(
            coalesce(col("operation_id"), col("transaction_id")).as("id"),
            col("event_topic"), col("amount_raw").as("amount"))
          .orderBy("id", "event_topic", "amount")
      }),

    Q("stellar_token_transfers",
      // promoted from rows-only: the tx-grain event stream re-derived in SQL
      // (the same leg lattice stellar_transfers_golden verifies at op grain,
      // here keyed by transaction_id + ledger_sequence). The VerifyEvents
      // consistency union stays in the Spark plan and must contribute ZERO
      // rows — any INCONSISTENT row breaks the hash match
      Some("""WITH ls AS (SELECT unnest(generate_series(3000, 3099)) AS l),
             |txs AS (SELECT l, unnest(generate_series(0, l % 5)) AS t FROM ls),
             |ops AS (SELECT l, t, unnest(generate_series(0, t % 4)) AS o,
             |               (CAST(l AS BIGINT) << 32)
             |                 | (CAST(t + 1 AS BIGINT) << 12) AS tx_id
             |        FROM txs WHERE t % 3 != 0),
             |op2 AS (SELECT *, (l + t + o) % 27 AS ty,
             |               1000000 * (o + 1) + t AS amt FROM ops),
             |atoms AS (SELECT *, unnest(generate_series(0, o % 2)) AS a
             |          FROM op2 WHERE ty IN (2, 3, 4, 12, 13)),
             |legs AS (
             |  SELECT tx_id, l, 'transfer' AS event_topic,
             |         2000000 * (a + 1) AS amount FROM atoms
             |  UNION ALL
             |  SELECT tx_id, l, 'transfer', 1500000 * (a + 1) FROM atoms
             |  UNION ALL
             |  SELECT tx_id, l, 'transfer', amt FROM op2 WHERE ty IN (2, 13)
             |  UNION ALL
             |  SELECT tx_id, l, 'transfer', 25000000 + o * 10000000
             |  FROM op2 WHERE ty = 0
             |  UNION ALL
             |  SELECT tx_id, l,
             |         CASE WHEN o % 2 = 1 AND l % 2 = 0 THEN 'burn'
             |              ELSE 'transfer' END, amt FROM op2 WHERE ty = 1
             |  UNION ALL
             |  SELECT tx_id, l, 'transfer', amt FROM op2 WHERE ty = 8
             |  UNION ALL
             |  SELECT tx_id, l, 'mint', 8000000 + o FROM op2 WHERE ty = 9
             |  UNION ALL
             |  SELECT tx_id, l, 'mint', 16000000 + o FROM op2 WHERE ty = 9
             |  UNION ALL
             |  SELECT tx_id, l, 'transfer', 30000000 * (o + 1) FROM op2 WHERE ty = 14
             |  UNION ALL
             |  SELECT tx_id, l, 'transfer', 20000000 * (o + 1) FROM op2 WHERE ty = 15
             |  UNION ALL
             |  SELECT tx_id, l, 'clawback', amt FROM op2 WHERE ty = 19
             |  UNION ALL
             |  SELECT tx_id, l, 'clawback', 20000000 * (o + 1) FROM op2 WHERE ty = 20
             |  UNION ALL
             |  SELECT tx_id, l, 'transfer', 30000000 + o FROM op2 WHERE ty IN (22, 23)
             |  UNION ALL
             |  SELECT tx_id, l, 'transfer', 15000000 + o FROM op2 WHERE ty IN (22, 23)
             |  UNION ALL
             |  SELECT tx_id, l, 'transfer', 5000001 + o
             |  FROM op2 WHERE ty = 24 AND o % 4 = 0
             |  UNION ALL
             |  SELECT tx_id, l, 'burn', 700003 + o
             |  FROM op2 WHERE ty = 24 AND o % 4 = 0
             |  UNION ALL
             |  SELECT (CAST(l AS BIGINT) << 32) | (CAST(t + 1 AS BIGINT) << 12),
             |         l, 'fee', 100 * (t + 1)
             |  FROM txs)
             |SELECT tx_id AS transaction_id, event_topic,
             |       CAST(amount AS VARCHAR) AS amount,
             |       CAST(l AS BIGINT) AS ledger_sequence
             |FROM legs
             |ORDER BY transaction_id, event_topic, amount""".stripMargin),
      (s, dir) => {
        val ledgers = graft.sources.StellarFixture.ledgers(s, 3000, 3099)
        // persisted: the union + verify reference this frame three times
        val events =
          memo("tokenTransfers", ledgers)(TokenTransfers.fromLedgers(ledgers))
        // the VerifyEvents consistency check runs inside the gate: the union
        // is empty unless fee events stop reconciling
        events.select(col("transaction_id"), col("event_topic"),
            col("amount_raw").as("amount"), col("ledger_sequence"))
          .unionAll(TokenTransfers.verify(events, ledgers)
            .select(col("transaction_id"), lit("INCONSISTENT").as("event_topic"),
              col("actual").cast("string").as("amount"),
              lit(-1L).as("ledger_sequence")))
          .orderBy("transaction_id", "event_topic", "amount")
      }),

    Q("j3_sponsor_lookup",
      Some(s"""$txBase,
             |sp AS (SELECT ledger_sequence,
             |              arg_min(source_account_key, tx_order) AS sponsor
             |       FROM tx WHERE op_type = 6 GROUP BY 1)
             |SELECT t.ledger_sequence, t.tx_order, t.source_account_key, sp.sponsor
             |FROM tx t LEFT JOIN sp USING (ledger_sequence)
             |ORDER BY 1, 2""".stripMargin),
      (s, dir) =>
        EntryProjections.withSponsor(LedgerFixtures.ledgers(s, dir))
          .orderBy("ledger_sequence", "tx_order")),

    Q("stellar_soroban_real_xdr",
      // the soroban FEE DECOMPOSITION law over genuine wire bytes read
      // from the datastore batch-file layout: envelopes with
      // SorobanTransactionData + v3 meta with the SorobanMeta fee ext,
      // decoded in executors (LcmBatchFiles → StellarXdr), every output
      // re-derived by DuckDB from the RealXdrFixture affine laws
      Some(s"""WITH ls AS (SELECT unnest(generate_series(3000, 3127)) AS seq),
             |tx AS (SELECT seq, unnest(generate_series(0, seq % 3)) AS t FROM ls)
             |SELECT (CAST(seq AS BIGINT) << 32) | (CAST(t + 1 AS BIGINT) << 12)
             |    AS id,
             |  ${strkeyG("sha256('sacct-' || seq || '-' || t)")} AS account,
             |  CAST(100 * seq + t AS BIGINT) AS account_sequence,
             |  CAST(100000 + seq + 10 * t AS BIGINT) AS max_fee,
             |  CAST(90000 + seq % 977 + t AS BIGINT) AS fee_charged,
             |  CASE WHEN t % 2 = 0 THEN 'm-' || seq || '-' || t
             |       ELSE '' END AS memo,
             |  CAST(40000 + seq % 1000 + t AS BIGINT) AS resource_fee,
             |  CAST(1000000 + 3 * seq + t AS BIGINT)
             |    AS soroban_resources_instructions,
             |  CAST(5000 + t AS BIGINT) AS soroban_resources_read_bytes,
             |  CAST(2000 + t AS BIGINT) AS soroban_resources_write_bytes,
             |  CAST(100000 + seq + 10 * t - (40000 + seq % 1000 + t) AS BIGINT)
             |    AS inclusion_fee_bid,
             |  CAST(95000 + seq % 500 + t - (40000 + seq % 1000 + t) AS BIGINT)
             |    AS inclusion_fee_charged,
             |  CAST(1200 + (seq + t) % 100 AS BIGINT) AS resource_fee_refund,
             |  CAST(30000 + t AS BIGINT) AS non_refundable_resource_fee_charged,
             |  CAST(7000 + seq % 100 AS BIGINT) AS refundable_resource_fee_charged,
             |  CAST(900 + t AS BIGINT) AS rent_fee_charged
             |FROM tx ORDER BY id""".stripMargin),
      (s, dir) =>
        StellarTransforms.historyTransactions(
            graft.sources.LcmBatchFiles.ledgerRowsForRange(
              s, xdrBatchDir, 3000, 3127))
          .select("id", "account", "account_sequence", "max_fee",
            "fee_charged", "memo", "resource_fee",
            "soroban_resources_instructions", "soroban_resources_read_bytes",
            "soroban_resources_write_bytes", "inclusion_fee_bid",
            "inclusion_fee_charged", "resource_fee_refund",
            "non_refundable_resource_fee_charged",
            "refundable_resource_fee_charged", "rent_fee_charged")
          .orderBy("id")),

    Q("stellar_soroban_real_ops",
      // invoke details off the same genuine bytes: the footprint-derived
      // contract_code_hash, the invoked contract strkey, and the
      // serializeParameters base64 vector (address ‖ symbol ‖ args,
      // operation.go:1068-1075) rebuilt hex-by-hex in DuckDB
      Some(s"""WITH ls AS (SELECT unnest(generate_series(3000, 3127)) AS seq),
             |tx AS (SELECT seq, unnest(generate_series(0, seq % 3)) AS t FROM ls),
             |o AS (SELECT seq, t, 'fn' || (t % 3) AS fn,
             |             sha256('ct-' || seq || '-' || t) AS cthex FROM tx)
             |SELECT (CAST(seq AS BIGINT) << 32) | (CAST(t + 1 AS BIGINT) << 12)
             |    | 1 AS id,
             |  seq AS ledger_sequence,
             |  'invoke_host_function' AS type_string,
             |  'invoke_contract' AS fn_type,
             |  ${strkeyC("cthex")} AS contract_id,
             |  sha256('code-' || seq || '-' || t) AS contract_code_hash,
             |  to_json([
             |    to_base64(from_hex('0000001200000001' || cthex)),
             |    to_base64(from_hex('0000000f00000003' || hex(encode(fn))
             |      || '00')),
             |    to_base64(from_hex('00000005'
             |      || format('{:016x}', 2 * seq + t)))]) AS parameters
             |FROM o ORDER BY id""".stripMargin),
      (s, dir) =>
        // reads only the typed struct: ColumnPruning drops `details_json`
        StellarTransforms.historyOperations(
            graft.sources.LcmBatchFiles.ledgerRowsForRange(
              s, xdrBatchDir, 3000, 3127))
          .select(col("id"), col("ledger_sequence"), col("type_string"),
            col("details.type").as("fn_type"),
            col("details.contract_id").as("contract_id"),
            col("details.contract_code_hash").as("contract_code_hash"),
            to_json(col("details.parameters")).as("parameters"))
          .orderBy("id")),

    Q("stellar_contract_events_real_xdr",
      // the contract_events table off the same genuine bytes: strkey
      // contract ids, topics/data as base64(ScVal XDR) + decoded JSON,
      // and the DiagnosticEvent passthrough — every byte rebuilt by
      // DuckDB from the planted SAC-transfer law
      Some(s"""WITH ls AS (SELECT unnest(generate_series(3000, 3127)) AS seq),
             |tx AS (SELECT seq, unnest(generate_series(0, seq % 3)) AS t FROM ls),
             |o AS (SELECT seq, t,
             |             sha256('ct-' || seq || '-' || t) AS cthex,
             |             sha256('sacct-' || seq || '-' || t) AS srchex,
             |             5000000 + seq + t AS amt FROM tx),
             |e AS (SELECT *,
             |  '0000000f00000008' || hex(encode('transfer')) AS t0,
             |  '000000120000000000000000' || srchex AS t1,
             |  '0000001200000001' || cthex AS t2,
             |  '0000000e00000006' || hex(encode('native')) || '0000' AS t3,
             |  '0000000a0000000000000000' || format('{:016x}', amt) AS dhex
             |  FROM o)
             |SELECT (CAST(seq AS BIGINT) << 32) | (CAST(t + 1 AS BIGINT) << 12)
             |    AS transaction_id,
             |  seq AS ledger_sequence,
             |  true AS successful,
             |  true AS in_successful_contract_call,
             |  ${strkeyC("cthex")} AS contract_id,
             |  CAST(1 AS INT) AS type,
             |  'ContractEventTypeContract' AS type_string,
             |  to_json([to_base64(from_hex(t0)), to_base64(from_hex(t1)),
             |           to_base64(from_hex(t2)), to_base64(from_hex(t3))])
             |    AS topics,
             |  to_base64(from_hex(dhex)) AS data,
             |  '{"i128":{"hi":0,"lo":' || amt || '}}' AS data_decoded,
             |  to_base64(from_hex('0000000100000000' || '00000001' || cthex
             |    || '00000001' || '00000000' || '00000004'
             |    || t0 || t1 || t2 || t3 || dhex)) AS contract_event_xdr
             |FROM e ORDER BY transaction_id""".stripMargin),
      (s, dir) =>
        graft.operators.SorobanStateTables.contractEventsFromLedgers(
            graft.sources.LcmBatchFiles.ledgerRowsForRange(
              s, xdrBatchDir, 3000, 3127))
          .select(col("transaction_id"), col("ledger_sequence"),
            col("successful"), col("in_successful_contract_call"),
            col("contract_id"), col("type"), col("type_string"),
            to_json(col("topics")).as("topics"),
            col("data"), col("data_decoded"), col("contract_event_xdr"))
          .orderBy("transaction_id")),

    Q("stellar_ttl_real_xdr",
      // the P16 state table off the same genuine datastore bytes: each tx
      // meta plants one TTL change — created on even (seq+t), a
      // state+removed pair on odd (deleted=true rides the PRE entry, the
      // ExtractEntryFromChange law) — every column affine-derivable
      Some("""WITH ls AS (SELECT unnest(generate_series(3000, 3127)) AS seq),
             |tx AS (SELECT seq, unnest(generate_series(0, seq % 3)) AS t FROM ls)
             |SELECT sha256('ttlk-' || seq || '-' || t) AS key_hash,
             |  CAST(200000 + seq + t AS BIGINT) AS live_until_ledger_seq,
             |  seq AS last_modified_ledger,
             |  CAST(CASE WHEN (seq + t) % 2 = 0 THEN 0 ELSE 2 END AS INT)
             |    AS ledger_entry_change,
             |  (seq + t) % 2 = 1 AS deleted,
             |  seq AS ledger_sequence
             |FROM tx ORDER BY key_hash""".stripMargin),
      (s, dir) =>
        graft.operators.SorobanStateTables.ttlFromLedgers(
            graft.sources.LcmBatchFiles.ledgerRowsForRange(
              s, xdrBatchDir, 3000, 3127))
          .drop("closed_at") // timestamp format lives outside the gate
          .orderBy("key_hash")),

    Q("stellar_contract_data_real_xdr",
      // the P13 state table off the same genuine datastore bytes: every
      // ScVal/LedgerKey passthrough rebuilt hex-by-hex in DuckDB
      // (key Sym("k") = 0f‖len‖"k", val U64 = 05‖u64be, body = ext ‖
      // SCAddress ‖ key ‖ durability ‖ val); ledger_key_hash (sha256 of
      // binary) lives outside the gate — DuckDB sha256 is VARCHAR-only —
      // but the exact key bytes ARE gated via ledger_key_hash_base_64
      Some(s"""WITH ls AS (SELECT unnest(generate_series(3000, 3127)) AS seq),
             |tx AS (SELECT seq, unnest(generate_series(0, seq % 3)) AS t FROM ls),
             |o AS (SELECT seq, t, sha256('ct-' || seq || '-' || t) AS cthex,
             |  '0000000f000000016b000000' AS keyhex,
             |  CASE WHEN (seq + t) % 2 = 0 THEN '00000000' ELSE '00000001'
             |    END AS durhex,
             |  '00000005' || format('{:016x}', 7 * seq + t) AS valhex FROM tx)
             |SELECT ${strkeyC("cthex")} AS contract_id,
             |  'ScValTypeScvSymbol' AS contract_key_type,
             |  CASE WHEN (seq + t) % 2 = 0 THEN 'ContractDataDurabilityTemporary'
             |       ELSE 'ContractDataDurabilityPersistent'
             |    END AS contract_durability,
             |  '' AS asset_code, '' AS asset_issuer, '' AS asset_type,
             |  '' AS balance_holder, '' AS balance,
             |  seq AS last_modified_ledger,
             |  CAST(t AS INT) AS ledger_entry_change,
             |  t = 2 AS deleted,
             |  seq AS ledger_sequence,
             |  to_base64(from_hex(keyhex)) AS key,
             |  '{"symbol":"k"}' AS key_decoded,
             |  to_base64(from_hex(valhex)) AS val,
             |  '{"u64":' || (7 * seq + t) || '}' AS val_decoded,
             |  to_base64(from_hex('00000000' || '00000001' || cthex
             |    || keyhex || durhex || valhex)) AS contract_data_xdr,
             |  to_base64(from_hex('00000006' || '00000001' || cthex
             |    || keyhex || durhex)) AS ledger_key_hash_base_64
             |FROM o ORDER BY ledger_sequence, contract_id""".stripMargin),
      (s, dir) =>
        graft.operators.SorobanStateTables.contractDataFromLedgers(
            graft.sources.LcmBatchFiles.ledgerRowsForRange(
              s, xdrBatchDir, 3000, 3127))
          .drop("closed_at", "ledger_key_hash")
          .orderBy("ledger_sequence", "contract_id")),

    Q("stellar_contract_code_real_xdr",
      // the P14 state table off the same genuine bytes: ext v0/v1 arms
      // both exercised, the ten wasm cost inputs affine, the key bytes
      // gated via base64
      Some("""WITH ls AS (SELECT unnest(generate_series(3000, 3127)) AS seq),
             |tx AS (SELECT seq, unnest(generate_series(0, seq % 3)) AS t FROM ls),
             |o AS (SELECT seq, t, (seq + t) % 2 AS v,
             |  sha256('code-' || seq || '-' || t) AS codehex,
             |  seq % 89 + 3 * t AS base FROM tx)
             |SELECT codehex AS contract_code_hash,
             |  CAST(v AS INT) AS contract_code_ext_v,
             |  seq AS last_modified_ledger,
             |  CAST(t AS INT) AS ledger_entry_change,
             |  t = 2 AS deleted,
             |  seq AS ledger_sequence,
             |  CASE WHEN v = 1 THEN 1000 + base ELSE 0 END AS n_instructions,
             |  CASE WHEN v = 1 THEN 2000 + base ELSE 0 END AS n_functions,
             |  CASE WHEN v = 1 THEN 3000 + base ELSE 0 END AS n_globals,
             |  CASE WHEN v = 1 THEN 4000 + base ELSE 0 END AS n_table_entries,
             |  CASE WHEN v = 1 THEN 5000 + base ELSE 0 END AS n_types,
             |  CASE WHEN v = 1 THEN 6000 + base ELSE 0 END AS n_data_segments,
             |  CASE WHEN v = 1 THEN 7000 + base ELSE 0 END AS n_elem_segments,
             |  CASE WHEN v = 1 THEN 8000 + base ELSE 0 END AS n_imports,
             |  CASE WHEN v = 1 THEN 9000 + base ELSE 0 END AS n_exports,
             |  CASE WHEN v = 1 THEN 10000 + base ELSE 0 END
             |    AS n_data_segment_bytes,
             |  to_base64(from_hex('00000007' || codehex))
             |    AS ledger_key_hash_base_64
             |FROM o ORDER BY ledger_sequence, contract_code_hash""".stripMargin),
      (s, dir) =>
        graft.operators.SorobanStateTables.contractCodeFromLedgers(
            graft.sources.LcmBatchFiles.ledgerRowsForRange(
              s, xdrBatchDir, 3000, 3127))
          .drop("closed_at", "ledger_key_hash")
          .orderBy("ledger_sequence", "contract_code_hash")),

    Q("stellar_config_setting_real_xdr",
      // the P15 state table off the same genuine bytes: three union arms
      // (0 / 3 / 11) flattened wide, absent arms at Go zero values —
      // the sparse-wide-row law on the real decode path
      Some("""WITH ls AS (SELECT unnest(generate_series(3000, 3127)) AS seq),
             |tx AS (SELECT seq, unnest(generate_series(0, seq % 3)) AS t FROM ls)
             |SELECT CAST(CASE t WHEN 0 THEN 0 WHEN 1 THEN 3 ELSE 11 END
             |    AS INT) AS config_setting_id,
             |  CASE WHEN t = 0 THEN 16384 + seq % 1000 ELSE 0 END
             |    AS contract_max_size_bytes,
             |  CASE WHEN t = 1 THEN 4000 + seq % 500 ELSE 0 END
             |    AS fee_historical_1kb,
             |  CASE WHEN t = 2 THEN 100 + seq % 50 ELSE 0 END
             |    AS ledger_max_tx_count,
             |  seq AS last_modified_ledger,
             |  CAST(seq % 2 AS INT) AS ledger_entry_change,
             |  false AS deleted,
             |  seq AS ledger_sequence
             |FROM tx ORDER BY ledger_sequence, config_setting_id""".stripMargin),
      (s, dir) =>
        graft.operators.SorobanStateTables.configSettingsFromLedgers(
            graft.sources.LcmBatchFiles.ledgerRowsForRange(
              s, xdrBatchDir, 3000, 3127))
          .select(col("config_setting_id"), col("contract_max_size_bytes"),
            col("fee_historical_1kb"), col("ledger_max_tx_count"),
            col("last_modified_ledger"), col("ledger_entry_change"),
            col("deleted"), col("ledger_sequence"))
          .orderBy("ledger_sequence", "config_setting_id")),

    Q("stellar_transfers_real_xdr",
      // P19 SAC legs off the same genuine bytes: each invoke op's
      // successful-call contract events become first-class transfer rows
      // (G-source → C-contract, native asset, i128 amount, the ×1e-7
      // double view). contract_id (sha256 of the SAC preimage — binary,
      // outside DuckDB's VARCHAR-only sha256) is gated by
      // fn_sac_contract_id / stellar_token_transfers instead
      Some(s"""WITH ls AS (SELECT unnest(generate_series(3000, 3127)) AS seq),
             |tx AS (SELECT seq, unnest(generate_series(0, seq % 3)) AS t FROM ls)
             |SELECT (CAST(seq AS BIGINT) << 32) | (CAST(t + 1 AS BIGINT) << 12)
             |    AS transaction_id,
             |  ((CAST(seq AS BIGINT) << 32) | (CAST(t + 1 AS BIGINT) << 12)) | 1
             |    AS operation_id,
             |  'transfer' AS event_topic,
             |  ${strkeyG("sha256('sacct-' || seq || '-' || t)")} AS "from",
             |  ${strkeyC("sha256('ct-' || seq || '-' || t)")} AS "to",
             |  'native' AS asset,
             |  'native' AS asset_type,
             |  CAST(NULL AS VARCHAR) AS asset_code,
             |  CAST(NULL AS VARCHAR) AS asset_issuer,
             |  CAST(5000000 + seq + t AS DOUBLE) * 1e-7 AS amount,
             |  CAST(5000000 + seq + t AS VARCHAR) AS amount_raw,
             |  seq AS ledger_sequence
             |FROM tx ORDER BY operation_id""".stripMargin),
      (s, dir) =>
        graft.operators.TokenTransfers.fromLedgers(
            graft.sources.LcmBatchFiles.ledgerRowsForRange(
              s, xdrBatchDir, 3000, 3127))
          .where(col("event_topic") === "transfer")
          .select(col("transaction_id"), col("operation_id"),
            col("event_topic"), col("from"), col("to"), col("asset"),
            col("asset_type"), col("asset_code"), col("asset_issuer"),
            col("amount"), col("amount_raw"), col("ledger_sequence"))
          .orderBy("operation_id")),

    Q("src_datastore_range_scan",
      // the DSv2 datastore connector at the OBJECT grain: pushed sequence
      // bounds prune partition prefixes + objects by the NAMING LAW (no
      // tree listing, no bytes read — keys only)
      Some("""WITH ls AS (SELECT unnest(generate_series(3040, 3080)) AS seq)
             |SELECT seq AS start_sequence, seq AS end_sequence
             |FROM ls ORDER BY start_sequence""".stripMargin),
      (s, dir) =>
        s.read.format("graft-lcm-datastore").load(xdrBatchDir)
          .where(col("start_sequence") >= 3040 &&
            col("end_sequence") <= 3080)
          .select("start_sequence", "end_sequence")
          .orderBy("start_sequence")),

    Q("stellar_effects_real_xdr",
      // P4 effects off the same genuine bytes: each invoke op's SAC
      // transfer event fans out to account_debited (addressed to the
      // G-party) + contract_credited (addressed to the OP SOURCE with the
      // C-address in a `contract` detail key) — addInvokeHostFunctionEffects,
      // effects.go:1319-1430. The details payload is gated as the exact
      // JSON string (amount is the i128 String128 scaling: stroops at
      // fixed 7 decimals; VARIANT to_json renders keys SORTED, so the
      // oracle emits amount < asset_type < contract < contract_event_type)
      Some(s"""WITH ls AS (SELECT unnest(generate_series(3000, 3127)) AS seq),
             |tx AS (SELECT seq, unnest(generate_series(0, seq % 3)) AS t FROM ls),
             |e AS (SELECT seq, t, unnest([0, 1]) AS i FROM tx),
             |o AS (SELECT seq, t, i,
             |  (CAST(seq AS BIGINT) << 32) | (CAST(t + 1 AS BIGINT) << 12) | 1
             |    AS opid,
             |  '0.' || CAST(5000000 + seq + t AS VARCHAR) AS amt,
             |  ${strkeyG("sha256('sacct-' || seq || '-' || t)")} AS acct,
             |  ${strkeyC("sha256('ct-' || seq || '-' || t)")} AS caddr
             |  FROM e)
             |SELECT acct AS address,
             |  CAST(NULL AS VARCHAR) AS address_muxed,
             |  opid AS operation_id,
             |  '{"amount":"' || amt || '","asset_type":"native",'
             |    || CASE WHEN i = 1 THEN '"contract":"' || caddr || '",'
             |       ELSE '' END
             |    || '"contract_event_type":"transfer"}' AS details,
             |  CAST(CASE WHEN i = 0 THEN 3 ELSE 96 END AS INT) AS type,
             |  CASE WHEN i = 0 THEN 'account_debited'
             |       ELSE 'contract_credited' END AS type_string,
             |  seq AS ledger_sequence,
             |  CAST(i AS BIGINT) AS index,
             |  opid || '-' || i AS id
             |FROM o ORDER BY operation_id, index""".stripMargin),
      (s, dir) =>
        graft.operators.StellarTradesEffects.historyEffects(
            graft.sources.LcmBatchFiles.ledgerRowsForRange(
              s, xdrBatchDir, 3000, 3127))
          .drop("closed_at")
          .withColumn("details", to_json(col("details")))
          .orderBy("operation_id", "index")),

    Q("stellar_lp_cb_real_xdr",
      // the classic wire arms the published golden corpus never reaches,
      // replayed off GENUINE bytes through the datastore connector: LP
      // deposit/withdraw effects with the FULL nested pool details
      // (reserves, shares, fee and the share-trustline count from the
      // LiquidityPoolEntry STATE/UPDATED pair), and CB create/claim whose
      // amount/asset/clawback-flag ride the ClaimableBalanceEntry ext-v1
      // pre-image. Details are gated as exact JSON strings (VARIANT
      // to_json renders keys sorted at every level).
      Some(s"""WITH ls AS (SELECT unnest(generate_series(3300, 3331)) AS seq),
             |c AS (SELECT seq,
             |  (CAST(seq AS BIGINT) << 32) | (CAST(1 AS BIGINT) << 12) | 1
             |    AS lp_opid,
             |  (CAST(seq AS BIGINT) << 32) | (CAST(2 AS BIGINT) << 12) | 1
             |    AS cb_opid,
             |  seq % 2 = 0 AS even,
             |  10000000 + 100*seq AS pre_a, 20000000 + 200*seq AS pre_b,
             |  5000000 + 50*seq AS pre_s,
             |  CAST(3 + seq % 5 AS VARCHAR) AS tl,
             |  sha256('pool-' || (seq % 4)) AS pool,
             |  '00000000' || sha256('cb-' || (seq - seq % 2)) AS bid,
             |  3000000 + (seq - seq % 2) AS cb_amt,
             |  (seq - seq % 2) % 4 = 0 AS cb_flag,
             |  ${strkeyG("sha256('lpacct-' || seq)")} AS lp_src,
             |  ${strkeyG("sha256('cbacct-' || seq)")} AS cb_src,
             |  ${strkeyG("sha256('claimant-' || (seq - seq % 2))")} AS clm,
             |  'USD:' || ${strkeyG("sha256('issuer-1')")} AS usd
             |FROM ls),
             |d AS (SELECT *,
             |  CASE WHEN even THEN pre_a + 100000 + seq
             |       ELSE pre_a - 50000 - seq END AS post_a,
             |  CASE WHEN even THEN pre_b + 200000 + seq
             |       ELSE pre_b - 70000 - seq END AS post_b,
             |  CASE WHEN even THEN pre_s + 10000 + seq
             |       ELSE pre_s - 5000 - seq END AS post_s,
             |  CASE WHEN even THEN 100000 + seq ELSE 50000 + seq END AS da,
             |  CASE WHEN even THEN 200000 + seq ELSE 70000 + seq END AS db,
             |  CASE WHEN even THEN 10000 + seq ELSE 5000 + seq END AS ds
             |FROM c),
             |e AS (
             |  SELECT seq, lp_opid AS opid, 0 AS idx,
             |    CASE WHEN even THEN 90 ELSE 91 END AS typ,
             |    CASE WHEN even THEN 'liquidity_pool_deposited'
             |         ELSE 'liquidity_pool_withdrew' END AS ts,
             |    lp_src AS addr,
             |    '{"liquidity_pool":{"fee_bp":30,"id":"' || pool ||
             |      '","reserves":[{"amount":"' || ${amt7("post_a")} ||
             |      '","asset":"native"},{"amount":"' || ${amt7("post_b")} ||
             |      '","asset":"' || usd || '"}],"total_shares":"' ||
             |      ${amt7("post_s")} || '","total_trustlines":"' || tl ||
             |      '","type":"constant_product"},' ||
             |    CASE WHEN even THEN '"reserves_deposited":'
             |         ELSE '"reserves_received":' END ||
             |      '[{"amount":"' || ${amt7("da")} ||
             |      '","asset":"native"},{"amount":"' || ${amt7("db")} ||
             |      '","asset":"' || usd || '"}],' ||
             |    CASE WHEN even THEN '"shares_received":"'
             |         ELSE '"shares_redeemed":"' END || ${amt7("ds")} || '"}'
             |      AS det
             |  FROM d
             |  UNION ALL
             |  SELECT seq, cb_opid, 0, 50, 'claimable_balance_created',
             |    cb_src,
             |    '{"amount":"' || ${amt7("cb_amt")} ||
             |    '","asset":"native","balance_id":"' || bid || '"' ||
             |    CASE WHEN cb_flag
             |         THEN ',"claimable_balance_clawback_enabled_flag":true'
             |         ELSE '' END || '}'
             |  FROM d WHERE even
             |  UNION ALL
             |  SELECT seq, cb_opid, 1, 51,
             |    'claimable_balance_claimant_created', clm,
             |    '{"amount":"' || ${amt7("cb_amt")} ||
             |    '","asset":"native","balance_id":"' || bid ||
             |    '","predicate":{"unconditional":true}}'
             |  FROM d WHERE even
             |  UNION ALL
             |  SELECT seq, cb_opid, 2, 3, 'account_debited', cb_src,
             |    '{"amount":"' || ${amt7("cb_amt")} ||
             |    '","asset_type":"native"}'
             |  FROM d WHERE even
             |  UNION ALL
             |  SELECT seq, cb_opid, 0, 52, 'claimable_balance_claimed',
             |    cb_src,
             |    '{"amount":"' || ${amt7("cb_amt")} ||
             |    '","asset":"native","balance_id":"' || bid || '"' ||
             |    CASE WHEN cb_flag
             |         THEN ',"claimable_balance_clawback_enabled_flag":true'
             |         ELSE '' END || '}'
             |  FROM d WHERE NOT even
             |  UNION ALL
             |  SELECT seq, cb_opid, 1, 2, 'account_credited', cb_src,
             |    '{"amount":"' || ${amt7("cb_amt")} ||
             |    '","asset_type":"native"}'
             |  FROM d WHERE NOT even)
             |SELECT addr AS address, CAST(NULL AS VARCHAR) AS address_muxed,
             |  opid AS operation_id, det AS details, CAST(typ AS INT) AS type,
             |  ts AS type_string, seq AS ledger_sequence,
             |  CAST(idx AS BIGINT) AS index, opid || '-' || idx AS id
             |FROM e ORDER BY operation_id, index""".stripMargin),
      (s, dir) =>
        graft.operators.StellarTradesEffects.historyEffects(
            graft.sources.LcmBatchFiles.ledgerRowsForRange(
              s, classicXdrDir, 3300, 3331))
          .drop("closed_at")
          .withColumn("details", to_json(col("details")))
          .orderBy("operation_id", "index"))
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    (all ++ entryOps).map(q => q.name -> q.fn).toMap

  val oracleSql: Map[String, String] =
    (all ++ entryOps).flatMap(q => q.oracle.map(q.name -> _)).toMap
}
