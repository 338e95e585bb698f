package graft
// (extensions test at the bottom builds a second session over the shared
// SparkContext via the documented clear/restore dance)
// (F6 person/canonicalization tests appended at the bottom of the suite)

import org.apache.spark.sql.functions._
import graft.functions._

/** Unit + property tests for the custom expressions and text kernels
  * (SURVEY.md §5: per-operator unit tests with seeded property-style
  * symmetry/bounds checks). */
class FunctionsSpec extends SparkSuite {
  import spark.implicits._

  private val rng = new scala.util.Random(42)
  private val alphabet = ('a' to 'e') ++ Seq(' ', '#', '0', '1')
  private def randStr(): String =
    Seq.fill(rng.nextInt(13))(alphabet(rng.nextInt(alphabet.size))).mkString
  private def forAllPairs(n: Int)(f: (String, String) => Unit): Unit =
    (0 until n).foreach(_ => f(randStr(), randStr()))

  test("jaro-winkler: known values (cross-checked against DuckDB)") {
    assert(Sim.jaroWinkler("martha", "marhta") === 0.9611111111111111)
    assert(Sim.jaroWinkler("dwayne", "duane") === 0.8400000000000001)
    assert(Sim.jaroWinkler("dixon", "dicksonx") === 0.8133333333333332)
    assert(Sim.jaroWinkler("cust-7", "customer#000000007") === 0.6296296296296297)
    assert(Sim.jaroWinkler("000000012", "000000120") === 0.9777777777777777)
    assert(Sim.jaroWinkler("", "") === 1.0)
    assert(Sim.jaroWinkler("", "abc") === 0.0)
    assert(Sim.jaroWinkler("abc", "abc") === 1.0)
  }

  test("jaro-winkler: symmetry, bounds, identity (property)") {
    forAllPairs(500) { (a, b) =>
      val s = Sim.jaroWinkler(a, b)
      assert(s >= 0.0 && s <= 1.0)
      assert(s === Sim.jaroWinkler(b, a))
      assert(Sim.jaroWinkler(a, a) === 1.0)
    }
  }

  test("token jaccard: bounds, symmetry, known values") {
    assert(Sim.tokenJaccard(Array("a", "b"), Array("b", "a")) === 1.0)
    assert(Sim.tokenJaccard(Array("a", "b"), Array("b", "c")) === 1.0 / 3)
    assert(Sim.tokenJaccard(Array[String](), Array[String]()) === 1.0)
    assert(Sim.tokenJaccard(Array("a"), Array[String]()) === 0.0)
    forAllPairs(500) { (a, b) =>
      val (ta, tb) = (a.split(" "), b.split(" "))
      val s = Sim.tokenJaccard(ta, tb)
      assert(s >= 0.0 && s <= 1.0)
      assert(s === Sim.tokenJaccard(tb, ta))
    }
  }

  test("expressions agree with scala kernels through the SQL surface") {
    val df = Seq(("acme data systems", "acme dta systems"),
      ("cust-7", "customer#000000007"), ("", "x")).toDF("a", "b")
    val rows = df.select(
      jaro_winkler($"a", $"b").as("jw"),
      token_jaccard(split($"a", " "), split($"b", " ")).as("jac"),
      $"a", $"b").collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("jw") === Sim.jaroWinkler(r.getAs[String]("a"), r.getAs[String]("b")))
      assert(r.getAs[Double]("jac") ===
        Sim.tokenJaccard(r.getAs[String]("a").split(" "), r.getAs[String]("b").split(" ")))
    }
    // and via SQL text (registered function)
    val viaSql = spark.sql("SELECT jaro_winkler('martha', 'marhta') AS jw").collect()(0)
    assert(viaSql.getAs[Double]("jw") === 0.9611111111111111)
  }

  test("headKey: digit-run canonicalization") {
    val df = Seq("Customer#000000007", "000000007", "Cust-7", "they", "000", "A0B1")
      .toDF("s").select($"s", headKey($"s").as("k"))
    val m = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("Customer#000000007") === "7")
    assert(m("000000007") === "7")
    assert(m("Cust-7") === "7")
    assert(m("they") === "they")
    assert(m("000") === "0")
    assert(m("A0B1") === "0") // first digit run
  }

  test("wordShape / wordClass") {
    val df = Seq("Customer#000000007", "ADS", "acme", "A0-b")
      .toDF("s").select($"s", wordShapePortable($"s").as("sh"), wordClass($"s").as("cl"))
    val m = df.collect().map(r => (r.getString(0), (r.getString(1), r.getString(2)))).toMap
    assert(m("ADS") === (("XXe", "CAPS"))) // run of 3 X collapses to XXe
    assert(m("acme")._2 === "LC")
    assert(m("Customer#000000007")._1 === "Xxxe#dde")
    assert(m("Customer#000000007")._2 === "INITC")
  }

  test("minhash signature: deterministic, length, LSH banding shape") {
    val df = Seq("acme data systems", "acme data systems", "bolt labs").toDF("s")
      .select(minhashSignature(charShingles($"s", 3), 12).as("sig"))
    val sigs = df.collect().map(_.getSeq[Long](0))
    assert(sigs(0) === sigs(1))
    assert(sigs(0) !== sigs(2))
    assert(sigs.forall(_.length == 12))
    val bands = Seq("acme data systems").toDF("s")
      .select(lshBandKeys(minhashSignature(charShingles($"s", 3), 12), 6, 2).as("b"))
      .collect()(0).getSeq[String](0)
    assert(bands.length === 6 && bands.forall(_.startsWith("b")))
  }

  test("r06 compact kernels are bit-identical to the expression chains they replace") {
    // the originals, spelled out exactly as the pre-r06 code (and the DuckDB
    // oracle SQL) build them — the compact codegen'd kernels must agree
    // value-for-value on every row, including planted dups and edge shapes
    import org.apache.spark.sql.Column
    val dim = graft.ops.Similarity.Dim

    // dot64 / signBucket over the embeddings corpus
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = graft.ops.Similarity.corpus(emb)
    def dotChain(a: Column, b: Column): Column =
      (1 to dim).map(i => element_at(a, i) * element_at(b, i)).reduce(_ + _)
    val planes = graft.ops.Similarity.hyperplanes(8, 43L)
    def signChain(e: Column): Column = concat(planes.map { p =>
      val dot = (1 to dim).map(i => element_at(e, i) * lit(p(i - 1))).reduce(_ + _)
      when(dot >= 0, "1").otherwise("0")
    }: _*)
    val cmp = corpus.select(
      dotChain(col("emb"), col("emb")).as("d_old"),
      graft.ops.Similarity.dot64(col("emb"), col("emb")).as("d_new"),
      signChain(col("emb")).as("s_old"),
      graft.ops.Similarity.signBucket(col("emb"), planes).as("s_new"))
    assert(cmp.filter(col("d_old") =!= col("d_new") ||
      col("s_old") =!= col("s_new")).count() === 0)

    // simhash64 / lsh band keys over the documents corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dcorp = graft.ops.Dedup.corpus(docs)
    def simhashChain(hashed: Column): Column =
      (0 until 64).map { b =>
        val bitSum = aggregate(hashed, lit(0L),
          (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
        when(bitSum > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    def bandChain(sh: Column, bands: Int, rows: Int): Column =
      array((0 until bands).map { b =>
        val parts = (0 until rows).map(r => minhashOne(sh, b * rows + r, "xxhash64"))
        concat_ws(":", lit(s"b$b") +: parts.map(_.cast("string")): _*)
      }: _*)
    val dcmp = dcorp
      .select(col("doc_id"), graft.ops.Dedup.wordShingles(col("text")).as("sh"))
      .select(col("doc_id"), col("sh"), transform(col("sh"), t => xxhash64(t)).as("hv"))
      .select(
        simhashChain(col("hv")).as("h_old"),
        simhash64FromHashes(col("hv")).as("h_new"),
        bandChain(col("sh"), 6, 2).as("k_old"),
        lshBandKeysDirect(col("sh"), 6, 2, "xxhash64").as("k_new"))
    assert(dcmp.filter(col("h_old") =!= col("h_new") ||
      col("k_old") =!= col("k_new")).count() === 0)
    // null hash elements: the fold counts one as -1 on every bit (a 0 hash);
    // [3, null] ties bits 0-1, so skipping the null would set them
    val nullHv = Seq(Seq(Some(3L), None), Seq(None), Seq(Some(5L), None, Some(-1L)))
      .map(Tuple1(_)).toDF("hv")
      .select(simhashChain(col("hv")).as("h_old"),
        simhash64FromHashes(col("hv")).as("h_new"))
    assert(nullHv.filter(col("h_old") =!= col("h_new")).count() === 0)

    // edge shapes: empty-ish arrays, nulls
    val edge = Seq(
      (Seq.empty[String], Seq.empty[Double]),
      (Seq("x"), Seq.fill(dim)(0.0)),
      (Seq("a", "b"), Seq.tabulate(dim)(_.toDouble))).toDF("sh", "emb")
    val ecmp = edge.select(
      bandChain(col("sh"), 6, 2).as("k_old"),
      lshBandKeysDirect(col("sh"), 6, 2, "xxhash64").as("k_new"))
    assert(ecmp.filter(col("k_old") =!= col("k_new")).count() === 0)
    // short/empty emb arrays: the old chain errors under ANSI element_at, so
    // compare the sign key on well-formed (full-dim) rows only
    val wf = edge.filter(size(col("emb")) === dim).select(
      signChain(col("emb")).as("s_old"),
      graft.ops.Similarity.signBucket(col("emb"), planes).as("s_new"))
    assert(wf.filter(col("s_old") =!= col("s_new")).count() === 0)
  }

  test("simhash: identical inputs collide, hamming bounded") {
    val df = Seq(
      ("a", "acme data systems ltd"), ("b", "acme data systems ltd"),
      ("c", "completely different words here")).toDF("id", "s")
      .select($"id", simhash64(split($"s", " ")).as("h"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("a") === m("b"))
    val d = java.lang.Long.bitCount(m("a") ^ m("c"))
    assert(d > 0 && d <= 64)
  }

  test("F7/F8/F10/F11: definiteness, iWi, fancy head, sem class") {
    val d = Seq("the vendor", "a company", "acme systems", "that firm")
      .toDF("norm").select(col("norm"), definiteness(col("norm")).as("d"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d("the vendor") === "definite")
    assert(d("a company") === "indefinite")
    assert(d("acme systems") === "bare")
    assert(d("that firm") === "definite")

    val iwi = Seq((1, 2, 5, 1, 3, 4), (1, 2, 5, 1, 2, 5), (1, 2, 5, 2, 3, 4),
      (1, 3, 4, 1, 2, 5))
      .toDF("ta", "sa", "ea", "tb", "sb", "eb")
      .select(iWiContainment(col("ta"), col("sa"), col("ea"),
        col("tb"), col("sb"), col("eb")).as("x"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(iwi === Seq(true, false, false, true))

    val fh = Seq(("systems", Seq("acme", "data", "systems")), ("acme", Seq("bolt", "labs")))
      .toDF("h", "toks")
      .select(fancyHeadContainment(col("h"), col("toks")).as("x"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(fh === Seq(true, false))

    val sc = Seq("000000007", "Cust-7", "they", "vendor", "Systems", "hello")
      .toDF("t").select(col("t"), semClass(col("t")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sc("000000007") === "IDENT" && sc("Cust-7") === "IDENT")
    assert(sc("they") === "PRON" && sc("vendor") === "ORG")
    assert(sc("Systems") === "ORG" && sc("hello") === "OTHER")
  }

  test("F6: pronoun canonicalization + person sets") {
    val rows = Seq("them", "him", "hers", "its", "me", "us", "your", "acme")
      .toDF("p")
      .select(col("p"), pronounCanonical(col("p")).as("c"), pronounPerson(col("p")).as("per"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows("them") === ("they", "third"))
    assert(rows("him") === ("he", "third"))
    assert(rows("hers") === ("she", "third"))
    assert(rows("its") === ("it", "third"))
    assert(rows("me") === ("i", "first"))
    assert(rows("us") === ("we", "first"))
    assert(rows("your") === ("you", "second"))
    assert(rows("acme") === ("acme", "unknown"), "non-pronouns pass through / unknown")
  }

  test("F6: mention rows carry the person attribute") {
    val t = Seq(("c0", 0, "user", "They asked about Customer#000000007 today",
      null: String, new java.sql.Timestamp(0L)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val m = graft.pipeline.Mentions.extractIdentifier(t)
      .select(col("norm"), col("person"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("they") === "third")
    assert(m("customer#000000007") === "unknown")
  }

  test("GraftExtensions: spark.sql.extensions config registers the SQL surface") {
    import org.apache.spark.sql.SparkSession
    val prev = spark // force the shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // a FRESH session over the same SparkContext with the extensions
      // applied — no graft.functions.register call anywhere. (The
      // spark.sql.extensions STATIC conf can't be injected over an existing
      // context in-test; `withExtensions` drives the exact same
      // applyExtensions path that conf resolves to on spark-submit.)
      val s2 = SparkSession.builder()
        .withExtensions(new graft.GraftExtensions())
        .getOrCreate()
      assert(s2 ne prev, "must build a new session, not reuse the suite's")
      val q = """SELECT jaro_winkler('martha', 'marhta') AS jw,
                |       token_jaccard(array('a','b'), array('b','c')) AS tj""".stripMargin
      val r = s2.sql(q).collect()(0)
      // same answers as the imperative-registration route on the shared session
      val exp = prev.sql(q).collect()(0)
      assert(r.getDouble(0) === exp.getDouble(0) && r.getDouble(0) > 0.9)
      assert(r.getDouble(1) === exp.getDouble(1) &&
        math.abs(r.getDouble(1) - 1.0 / 3) < 1e-9)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }
}
