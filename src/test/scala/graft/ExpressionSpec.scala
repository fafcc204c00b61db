package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.functions.GraftFunctions
import graft.plans.GraftExtensions

/** Native codec expressions: value parity with the scalar codecs, codegen
  * path exercised, SQL registration via extensions. */
class ExpressionSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-expr-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("native expressions match scalar codecs over many rows (codegen path)") {
    import spark.implicits._
    val df = (1 to 1000).map(i => s"payload-$i").toDF("s")
      .select(col("s"),
        GraftFunctions.farmHash64(col("s")).as("fh"),
        GraftFunctions.fnv64a(col("s")).as("fnv"),
        GraftFunctions.strkeyAccount(unhex(sha2(col("s"), 256))).as("sk"))
    df.collect().foreach { r =>
      val s = r.getString(0)
      assert(r.getLong(1) == graft.codec.Hashes.farmHash64(s))
      assert(r.getLong(2) == graft.codec.Hashes.fnv64a(s))
      assert(r.getString(3) ==
        graft.codec.Strkey.encodeAccountId(
          graft.codec.Hashes.sha256(s.getBytes("UTF-8"))))
    }
  }

  test("expressions stay inside whole-stage codegen (no UDF fence)") {
    import spark.implicits._
    val df = Seq("x").toDF("s").select(GraftFunctions.farmHash64(col("s")))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"))
    assert(!plan.contains("BatchEvalPython"))
  }

  test("nulls propagate (null-intolerant)") {
    import spark.implicits._
    val df = Seq(Some("a"), None).toDF("s")
      .select(GraftFunctions.fnv64a(col("s")).as("h"))
    val rows = df.collect()
    assert(!rows(0).isNullAt(0))
    assert(rows(1).isNullAt(0))
  }

  test("SQL users can call the functions after extension registration") {
    GraftExtensions.register(spark)
    val out = spark.sql(
      "SELECT farm_hash64('abc') AS a, fnv64a('abc') AS b").head()
    assert(out.getLong(0) == graft.codec.Hashes.farmHash64("abc"))
    assert(out.getLong(1) == graft.codec.Hashes.fnv64a("abc"))
  }

  test("SQL: stellar_tx_hash / stellar_ledger_hash on real mainnet blobs") {
    val txPath = "/root/reference/testdata/transactions/10_ledgers_txs.golden"
    val ledPath = "/root/reference/testdata/ledgers/single_ledger.golden"
    Seq(txPath, ledPath).foreach(p =>
      assume(new java.io.File(p).isFile, s"golden missing: $p"))
    GraftExtensions.register(spark)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val tx = om.readTree(scala.io.Source.fromFile(txPath).getLines().next())
    val led = om.readTree(scala.io.Source.fromFile(ledPath).getLines().next())
    val out = spark.sql(
      s"""SELECT stellar_tx_hash('${tx.get("tx_envelope").asText}') AS th,
         |       stellar_ledger_hash('${led.get("ledger_header").asText}') AS lh,
         |       strkey_account_key('${tx.get("account").asText}') AS k
         |""".stripMargin).head()
    assert(out.getString(0) == tx.get("transaction_hash").asText)
    assert(out.getString(1) == led.get("ledger_hash").asText)
    assert(out.getAs[Array[Byte]](2).length == 32)
  }

  test("SQL users can call the shingle and LSH-bucket expressions") {
    GraftExtensions.register(spark)
    val sh = spark.sql(
      "SELECT ngram_shingles('The  quick brown FOX', 2) AS g").head().getSeq[String](0)
    assert(sh == Seq("the quick", "quick brown", "brown fox"))
    val bk = spark.sql(
      "SELECT hyperplane_buckets(array(10000L, -10000L, 0L), 6, 4) AS b")
      .head().getSeq[Long](0)
    assert(bk.size == 4 && bk.forall(b => b >= 0 && b < 64))
    // the r16 family: ADC sweep, positional windows, rolling hash
    val adc = spark.sql(
      "SELECT pq_adc_dist(array(1, 0), array(array(5L, 7L), array(9L, 11L)))")
      .head().getLong(0)
    assert(adc == 7L + 9L) // lut[0][1] + lut[1][0]
    val win = spark.sql("SELECT ngram_windows('a b a b', 2)")
      .head().getSeq[String](0)
    assert(win == Seq("a b", "b a", "a b")) // positional: dups kept
    assert(spark.sql("SELECT rolling_hash64('abc')").head().getLong(0) ==
      graft.codec.Hashes.rollingHash64("abc"))
    // shape params must be literals
    intercept[Exception] {
      spark.sql("SELECT ngram_shingles('x', cast(rand()*3 AS INT))").collect()
    }
  }

  test("PQ/IVF native family matches an independent scalar replay " +
      "(pq_encode / pq_lut / pq_adc_dist / l2_argmin / l2_probe_cells)") {
    import spark.implicits._
    val m = 4; val codewords = 8; val dsub = 4; val dim = m * dsub
    val nCells = 8; val nprobe = 3
    // deterministic pseudo-random long vectors (hash-derived, sign-mixed)
    def vec(i: Int): Seq[Long] =
      (0 until dim).map(d => ((i * 31 + d * 17) % 97) - 48L)
    val cb: Seq[Seq[Long]] = (0 until codewords).map(vec) // codebook seeds
    val cent: Seq[Seq[Long]] = (100 until 100 + nCells).map(vec)
    val cbFlat = (0 until m).flatMap(s =>
      cb.map(_.slice(s * dsub, (s + 1) * dsub))).flatten.toArray
    val centFlat = cent.flatten.toArray

    // independent scalar laws (no ArrayData, no HOFs)
    def subDist(v: Seq[Long], s: Int, j: Int): Long =
      (0 until dsub).map { i =>
        val d = v(s * dsub + i) - cb(j)(s * dsub + i); d * d
      }.sum
    def encode(v: Seq[Long]): Seq[Int] =
      (0 until m).map(s => (0 until codewords).minBy(j => (subDist(v, s, j), j)))
    def lutOf(v: Seq[Long]): Seq[Seq[Long]] =
      (0 until m).map(s => (0 until codewords).map(j => subDist(v, s, j)))
    def l2(v: Seq[Long], c: Seq[Long]): Long =
      v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    def argmin(v: Seq[Long]): Long =
      (0 until nCells).minBy(c => (l2(v, cent(c)), c)).toLong
    def probes(v: Seq[Long]): Seq[Long] =
      (0 until nCells).sortBy(c => (l2(v, cent(c)), c)).take(nprobe).map(_.toLong)

    val rows = (0 until 500).map(i => (i.toLong, vec(i + 7)))
    val df = rows.toDF("id", "v").select(col("id"),
      col("v"),
      GraftFunctions.pqEncode(col("v"), cbFlat, m, codewords).as("codes"),
      GraftFunctions.pqLut(col("v"), cbFlat, m, codewords).as("lut"),
      GraftFunctions.longL2Argmin(col("v"), centFlat, nCells).as("cell"),
      GraftFunctions.l2ProbeCells(col("v"), centFlat, nCells, nprobe).as("pc"))
      .withColumn("adc",
        GraftFunctions.pqAdcDist(col("codes"), col("lut")))
    df.collect().foreach { r =>
      val v = r.getSeq[Long](1)
      val codes = r.getSeq[Int](2)
      val lut = r.getSeq[Seq[Long]](3)
      assert(codes == encode(v), s"codes for $v")
      assert(lut == lutOf(v), s"lut for $v")
      assert(r.getLong(4) == argmin(v), s"cell for $v")
      assert(r.getSeq[Long](5) == probes(v), s"probes for $v")
      // adc of a row against its OWN lut = sum of its min sub-distances
      val expAdc = (0 until m).map(s => subDist(v, s, codes(s))).sum
      assert(r.getLong(6) == expAdc, s"adc for $v")
    }
    // the whole family stays inside whole-stage codegen
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"))
  }

  test("char_gram_buckets equals the hashBucket-over-charNgrams HOF law " +
      "(codepoints, case law, short/empty arms)") {
    import spark.implicits._
    import graft.operators.Classifier
    // astral chars (surrogate pairs — codepoint vs UTF-16 counting),
    // uppercase (the lower() law), multi-byte, exactly-n, short, empty
    val docs = Seq("The Quick Fox", "CAFÉ déjà vu", "a😀b😀c d",
      "ab", "abc", "", "   ", "ΣΙΓΜΑ τέλος").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    for (n <- Seq(2, 3); dims <- Seq(16, 256)) {
      val fused = docs.select(col("id"),
        GraftFunctions.charGramBuckets(col("t"), n, dims).as("b"))
      val hof = docs.select(col("id"),
        transform(Classifier.charNgrams(col("t"), n),
          g => Classifier.hashBucket(g, dims)).as("b"))
      val diff = fused.except(hof).count() + hof.except(fused).count()
      assert(diff == 0, s"fused vs HOF drift at n=$n dims=$dims")
    }
  }

  test("fused bucket-COUNT expressions equal their explode+groupBy " +
      "aggregate laws (char grams / word tokens / DSIR grams)") {
    import spark.implicits._
    import graft.operators.{Classifier, TextAnalysis}
    val docs = Seq("The Quick Fox the fox", "CAFÉ déjà vu café",
      "a😀b😀c d a😀b", "ab", "abc abc abc", "", "   ",
      "ΣΙΓΜΑ τέλος ΣΙΓΜΑ", "x \t y\n x  y").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val dims = 16 // small dims force tf > 1 collisions
    // char grams
    val cFused = docs.select(col("id"),
      inline(GraftFunctions.charGramBucketCounts(col("t"), 3, dims)))
    val cAgg = docs.select(col("id"),
        explode(GraftFunctions.charGramBuckets(col("t"), 3, dims))
          .as("bucket"))
      .groupBy("id", "bucket").agg(count(lit(1)).as("tf"))
    assert(cFused.except(cAgg).count() + cAgg.except(cFused).count() == 0)
    // word tokens (the docFeatures law)
    val tFused = docs.select(col("id"),
      inline(GraftFunctions.tokenBucketCounts(col("t"), dims)))
    val tAgg = docs.select(col("id"),
        explode(transform(TextAnalysis.tokens(col("t")),
          w => lower(w))).as("w"))
      .select(col("id"), Classifier.hashBucket(col("w"), dims).as("bucket"))
      .groupBy("id", "bucket").agg(count(lit(1)).as("tf"))
    assert(tFused.except(tAgg).count() + tAgg.except(tFused).count() == 0)
    // DSIR grams (unigrams ∪ adjacent bigrams)
    val dFused = docs.select(col("id"),
      inline(GraftFunctions.dsirGramBucketCounts(col("t"), dims)))
    val dAgg = docs.select(col("id"),
        explode(Classifier.dsirGramsCol(col("t"))).as("g"))
      .select(col("id"), Classifier.hashBucket(col("g"), dims).as("bucket"))
      .groupBy("id", "bucket").agg(count(lit(1)).as("tf"))
    assert(dFused.except(dAgg).count() + dAgg.except(dFused).count() == 0)
    // ascending bucket order within each doc (the deterministic emit law)
    val ordered = docs.select(col("id"),
        GraftFunctions.tokenBucketCounts(col("t"), dims).as("c"))
      .select(forall(zip_with(col("c"), slice(col("c"), 2, 1000000),
        (a, b) => a("bucket") < b("bucket")), x => x).as("ok"))
      .collect().forall(r => r.isNullAt(0) || r.getBoolean(0))
    assert(ordered, "bucket order not strictly ascending")
  }

  test("fused gopher_counts equals the HOF column formulation slot for " +
      "slot (words/lines/chars/symbols/bullets/ellipses/alpha/stopwords)") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq(
      "the quick fox is to be AND that have WITH",
      "• bullet line\n- dash\n* star\nplain tail…\nend...",
      "sym # … ... #### …… ......., mixed",
      "καλημέρα κόσμε 123 456 --- •",
      "", "   \n \n\n", "a😀b cKit THE",
      "word\nword\nword…\n…").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val t = col("t")
    val toks = TextAnalysis.tokens(t)
    val lines = filter(split(t, "\n"), l => l =!= "")
    val hof = docs.select(col("id"),
      size(toks).cast("long").as("c0"),
      size(lines).cast("long").as("c1"),
      aggregate(toks, lit(0L), (acc, w) => acc + length(w)).as("c2"),
      ((length(t) - length(replace(t, lit("#"), lit("")))).cast("long") +
        (length(t) - length(replace(t, lit("…"), lit("")))).cast("long") +
        ((length(t) - length(replace(t, lit("..."), lit("")))) / 3)
          .cast("long")).as("c3"),
      size(filter(lines, l => substring(l, 1, 1).isin("•", "-", "*")))
        .cast("long").as("c4"),
      size(filter(lines, l => l.endsWith("…") || l.endsWith("...")))
        .cast("long").as("c5"),
      size(filter(toks, w => w.rlike("\\p{L}"))).cast("long").as("c6"),
      size(filter(array(TextAnalysis.GopherStopwords.map(lit(_)): _*),
        sw => array_contains(transform(toks, w => lower(w)), sw)))
        .cast("long").as("c7"))
    val fused = docs.select(col("id") +: (0 to 7).map(i =>
      GraftFunctions.gopherCounts(col("t"), TextAnalysis.GopherStopwords)
        .getItem(i).as(s"c$i")): _*)
    assert(fused.except(hof).count() + hof.except(fused).count() == 0)
  }

  test("fused word_grams equals the zip_with column formulation " +
      "gram for gram (case/unicode/short-doc/whitespace arms)") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq(
      "The quick Brown fox JUMPS over",
      "a b", "a b c", "ab", "", "   \n\t ",
      "Für ÊTRE ΚΑΛΗΜΕΡΑΣ tok 😀 mix",
      "x  y\tz\n w", "dup dup dup dup")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    for (n <- Seq(1, 2, 3)) {
      // the pre-r21 column formulation, verbatim
      val toks = transform(TextAnalysis.tokens(col("t")), w => lower(w))
      val sz = greatest(size(toks) - (n - 1), lit(0))
      val hofGrams = (2 to n).foldLeft(slice(toks, lit(1), sz)) { (acc, i) =>
        zip_with(acc, slice(toks, lit(i), sz),
          (p, w) => concat(p, lit(" "), w))
      }
      val hof = docs.select(col("id"), posexplode(hofGrams))
      val fused = docs.select(col("id"), posexplode(
        GraftFunctions.wordGrams(col("t"), n)))
      assert(fused.except(hof).count() + hof.except(fused).count() == 0,
        s"gram mismatch at n=$n")
    }
  }

  test("fused url_canon equals the regexp column formulation " +
      "field for field (case/userinfo/port/tracking/fragment/invalid arms)") {
    import spark.implicits._
    import graft.operators.Web
    val urls = Seq(
      "site7.com/nope",                                  // invalid: no scheme
      "HTTPS://WWW.Site3.co.uk:443/p/9?id=9&utm_campaign=c18#s18",
      "http://u77@Site0.com:80/p/38?id=38&ref=rss",
      "https://Site5.org:8080/p/55?id=5&utm_term=x&gclid=z",
      "http://site1.io",                                 // empty path
      "https://site2.com/?",                             // empty query
      "https://site2.com/a?x=1&&y=2&",                   // empty params kept law
      "https://site2.com/a?noequals&UTM_SOURCE=s",       // no '=', upper key
      "ftp://Weird.Host/A/B?REF=1",                      // other scheme
      "https://h.com/p#frag?x=1",                        // fragment before ?
      "https://ü.example/päth?q=ä",                      // unicode
      "https://h.com:8080",                              // port, empty path
      "http://@h.com/x", "http://a@b@h.com/x",           // userinfo arms
      "https://h.com:/x", "https://h.com:0443/x")        // empty/odd port
    val docs = urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("id", "url")
    // the pre-r21 column formulation, verbatim
    val noFrag = regexp_replace(col("url"), "#.*$", "")
    val valid = noFrag.rlike("^[A-Za-z][A-Za-z0-9+.-]*://")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val after = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val auth = regexp_extract(after, "^([^/?]*)", 1)
    val tail = substring(after, length(auth) + 1, lit(1 << 24))
    val hostPort = lower(regexp_replace(auth, "^[^@]*@", ""))
    val host = regexp_replace(hostPort, ":[0-9]*$", "")
    val port = regexp_extract(hostPort, ":([0-9]+)$", 1)
    val portSfx = when(
      port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val rawPath = regexp_extract(tail, "^([^?]*)", 1)
    val path = when(rawPath === "", lit("/")).otherwise(rawPath)
    val query = when(tail.contains("?"),
      regexp_extract(tail, "\\?(.*)$", 1)).otherwise(lit(""))
    val keptParams = filter(split(query, "&"), p =>
      p =!= "" &&
        !lower(regexp_extract(p, "^([^=]*)", 1))
          .isin(Web.TrackingParams.map(lit(_)): _*))
    val canon = concat(scheme, lit("://"), host, portSfx, path,
      when(size(keptParams) > 0,
        concat(lit("?"), array_join(keptParams, "&"))).otherwise(lit("")))
    val hof = docs.select(col("id"),
      valid.as("url_valid"),
      when(valid, canon).otherwise(lit(null).cast("string")).as("canonical_url"),
      when(valid, host).otherwise(lit(null).cast("string")).as("host"))
    val u = GraftFunctions.urlCanon(col("url"), Web.TrackingParams)
    val fused = docs.select(col("id"),
      u.getField("url_valid").as("url_valid"),
      u.getField("canonical_url").as("canonical_url"),
      u.getField("host").as("host"))
    assert(fused.except(hof).count() + hof.except(fused).count() == 0)
  }

  test("native sha63 equals the sha2/conv column formulation " +
      "value for value (unicode/empty/colon/seed arms)") {
    import spark.implicits._
    val vals = Seq("", "a", "the", "quick brown", "a:b", ":", "0",
      "Für ÊTRE ΚΑΛΗΜΕΡΑΣ", "😀", "x" * 300, "tok:7", "7:tok",
      "line one\nline two", "dup", "dup")
    val docs = vals.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    for (seed <- Seq(0, 1, 7, 15)) {
      // the pre-r21 column formulation, verbatim
      val hx = sha2(concat(col("t"), lit(":"), lit(seed).cast("string")), 256)
      val hi = conv(substring(hx, 1, 8), 16, 10).cast("long")
        .bitwiseAND(lit(0x7fffffffL))
      val lo = conv(substring(hx, 9, 8), 16, 10).cast("long")
      val colForm = call_function("shiftleft", hi, lit(32)).bitwiseOR(lo)
      val rows = docs.select(col("id"), colForm.as("h0"),
        GraftFunctions.sha63(col("t"), lit(seed)).as("h1"),
        // the MinHash shape: seed as a RUNTIME int element, not a literal
        GraftFunctions.sha63(col("t"),
          element_at(sequence(lit(0), lit(15)), seed + 1)).as("h2"))
        .collect()
      rows.foreach { r =>
        assert(r.getLong(1) == r.getLong(2) && r.getLong(2) == r.getLong(3),
          s"sha63 mismatch at seed=$seed id=${r.getLong(0)}")
        assert(r.getLong(1) >= 0L)
      }
    }
  }

  test("fused stopword_langid equals the HOF column formulation " +
      "prediction for prediction (case/tie/zero-token/multi-lexicon arms)") {
    import spark.implicits._
    import graft.operators.{Stopwords, TextAnalysis}
    val docs = Seq(
      "the quick fox is to be and that have with",          // en
      "el que la de y a en un ser se",                      // es
      "le la de et les des est un une du",                  // fr
      "der die und das ist von mit den im für",             // de (für non-ASCII)
      "THE OF AND TO A IN IS IT",                           // uppercase en
      "de de de de",                                        // es∩fr tie -> es
      "la de",                                              // es/fr tie words
      "zzz qqq xxx",                                        // no hits -> de
      "", "   \n\t ",                                       // zero tokens -> de
      "Für FÜR für miXed Des というのは 😀 ΚΑΛΗΜΕΡΑΣ",      // unicode lowering
      "the el le der the el le der",                        // 4-way tie -> de
      "a a a en en la la und und und")                      // mixed weights
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val hof = docs.select(col("id"),
      TextAnalysis.langIdColumnLaw(col("t")).as("p"))
    val fused = docs.select(col("id"),
      GraftFunctions.stopwordLangId(col("t"),
        Stopwords.all.toSeq.sortBy(_._1)).as("p"))
    assert(fused.except(hof).count() + hof.except(fused).count() == 0)
    // the operator face routes through the kernel and keeps its schema
    val viaOp = TextAnalysis.langId(docs, "t")
      .select(col("id"), col("predicted_lang").as("p"))
    assert(viaOp.except(hof).count() + hof.except(viaOp).count() == 0)
  }

  test("fused html_text_extract equals the HOF column formulation field " +
      "for field (strip/unescape/density/malformed arms)") {
    import spark.implicits._
    import graft.operators.Web
    val docs = Seq(
      "<html><p>Hello &amp;lt; world this line is long enough</p>" +
        "<div>short</div><ul><li>&lt;tag&gt; &quot;q&quot; &#39;a&#39;" +
        " &nbsp; filler filler filler</li></ul></html>",
      "<p>nav nav</p><p><a href=x>all link text here padded padding</a></p>",
      "<p>text with <a>inline link</a> and plenty of surrounding words" +
        " to dilute the density</p>",
      "<script>var s = 1;</script><p>after script line long enough</p>",
      "<script>unterminated block <p>leaks</p>",
      "<style>.a{}</style><!-- c --><p>ok line with enough characters</p>",
      "<p>js string closer</p><script>var s = \"</script>\";</script>",
      "<P>ΚΕΦΑΛΑΙΑ ελληνικά αρκετά μεγάλη γραμμή εδώ</P><BR>tail line" +
        " also long enough",
      "", "plain text with no markup at all but quite long indeed")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "h")
    // the pre-r21 column formulation, verbatim
    val html = col("h")
    val noScript =
      regexp_replace(html, "(?is)<script(\\s[^>]*)?>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?is)<style(\\s[^>]*)?>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val malformed = lower(noComment)
      .rlike("<script[\\s>]|<style[\\s>]|<!--|</script|</style")
    val norm0 = (c: org.apache.spark.sql.Column) =>
      trim(regexp_replace(c, "\\s+", " "))
    val lines = split(regexp_replace(noComment, Web.BlockBreakRe, "\n"), "\n")
    val lineInfo = transform(lines, l => {
      val txt = norm0(Web.unescapeEntities(regexp_replace(l, "<[^>]*>", " ")))
      val linkRaw = array_join(regexp_extract_all(l,
        lit("(?is)<a(\\s[^>]*)?>(.*?)</a>"), lit(2)), " ")
      val linkTxt = norm0(Web.unescapeEntities(
        regexp_replace(linkRaw, "<[^>]*>", " ")))
      struct(txt.as("t"), length(txt).as("nt"), length(linkTxt).as("nl"))
    })
    val kept = filter(lineInfo, s => s("nt") >= 10 && s("nl") * 5 < s("nt") * 2)
    val text = array_join(transform(kept, s => s("t")), "\n")
    val nLines = size(filter(lineInfo, s => s("nt") > 0))
    val hof = docs.select(col("id"),
      (!malformed).as("extract_ok"),
      when(malformed,
        lit("unterminated or desynchronized script/style/comment block"))
        .otherwise(lit(null).cast("string")).as("error"),
      when(malformed, lit(null).cast("string")).otherwise(text).as("text"),
      when(malformed, lit(null).cast("long"))
        .otherwise(nLines.cast("long")).as("n_lines"),
      when(malformed, lit(null).cast("long"))
        .otherwise(size(kept).cast("long")).as("n_lines_kept"),
      when(malformed, lit(null).cast("long"))
        .otherwise(length(text).cast("long")).as("n_chars"))
    val fused = Web.htmlExtract(docs, "id", "h")
    assert(fused.except(hof).count() + hof.except(fused).count() == 0)
  }

  test("type mismatch is rejected at analysis time") {
    import spark.implicits._
    val df = Seq(1L).toDF("n")
    intercept[Exception] {
      df.select(GraftFunctions.farmHash64(col("n"))).collect()
    }
  }
}
