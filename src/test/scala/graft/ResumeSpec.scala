package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.fixtures.ErFixture
import graft.io.TableIO
import graft.pipeline._

/** North-rule resumability: every stage commits a snapshot (parquet + JSON
  * manifest with lineage + per-partition counters); a re-run resumes from the
  * last committed stage; a truncated run (later stages deleted) recomputes
  * only what is missing and reproduces byte-identical clusters. */
class ResumeSpec extends SparkSuite {
  import ErFixture._

  private def freshDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft-ckpt-$tag").toString
    d
  }

  private def deleteLargestPart(snap: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.delete(Files.list(snap).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).maxBy(Files.size))
  }

  lazy val g = generate(entities = 10, convs = 20, seed = 7L)
  lazy val transcripts = transcriptsDF(spark, g).cache()

  test("checkpointed run commits manifests with lineage and counters") {
    val dir = freshDir("a")
    val cfg = Pipeline.Config(mentionGenerator = "all", checkpointDir = Some(dir))
    val r = Pipeline.run(spark, transcripts, cfg)
    val n = r.clusters.count()
    assert(n > 0)
    val io = new TableIO(dir)
    for (stage <- Seq("mentions", "surface_pairs", "surface_scores", "scores", "backptrs", "clusters")) {
      val snap = io.latestSnapshot(stage)
      assert(snap.isDefined, s"stage $stage not committed")
      val m = io.manifest(stage, snap.get).get
      assert(m.contains("\"lineage\"") && m.contains("partitionCounters"), m)
    }
  }

  test("TableIO speaks filesystem URIs (Hadoop FS API, not java.nio): commit, " +
      "manifest, and resume-read through an explicit file: root") {
    // spark-submit deployments hand TableIO hdfs:///s3a:// roots; java.nio
    // Paths.get mangles URIs ("file:/x" -> crash or driver-local writes), so
    // the seam must route every probe/read/write through the Hadoop FS
    val dir = "file://" + freshDir("uri")
    val io = new TableIO(dir)
    import spark.implicits._
    val df = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val snap = io.commit("t", df, "lin-1")
    assert(snap === 0)
    assert(io.latestSnapshot("t") === Some(0))
    assert(io.manifest("t", 0).exists(_.contains("\"lineage\":\"lin-1\"")))
    val back = io.readIfCurrent(spark, "t", "lin-1")
    assert(back.map(_.count()) === Some(2L))
    assert(io.readIfCurrent(spark, "t", "other").isEmpty, "lineage mismatch must miss")
  }

  test("readOrCommit resumes a current snapshot and fails loudly, naming the " +
      "stage, when a fresh commit cannot be read back") {
    import spark.implicits._
    val io = new TableIO(freshDir("readorcommit"))
    var computed = 0
    def rows = { computed += 1; Seq(("a", 1L), ("b", 2L)).toDF("k", "v") }
    assert(io.readOrCommit(spark, "t", "lin-1")(rows).count() === 2L)
    assert(io.readOrCommit(spark, "t", "lin-1")(rows).count() === 2L)
    assert(computed === 1, "a current snapshot must resume, not recompute")
    // any token resumes: quotes, backslashes, newlines and non-ASCII text
    // round-trip through the manifest
    for (tok <- Seq("lin\"2", "C:\\data\\x", "line1\nline2", "käse-Ω-日本", "\"\\\n\t")) {
      val before = computed
      assert(io.readOrCommit(spark, "u", tok)(rows).count() === 2L)
      assert(io.lineage("u", io.latestSnapshot("u").get) === Some(tok))
      assert(io.readOrCommit(spark, "u", tok)(rows).count() === 2L)
      assert(computed === before + 1, s"token ${tok.map(_.toInt)} must resume")
    }
    // a commit that loses a part file under its manifest never reads back
    val tornDir = freshDir("readorcommit-torn")
    val torn = new TableIO(tornDir) {
      override def commit(stage: String, df: org.apache.spark.sql.DataFrame,
          lineage: String): Int = {
        val snap = super.commit(stage, df, lineage)
        deleteLargestPart(Paths.get(tornDir, stage, s"snap-$snap"))
        snap
      }
    }
    val e = intercept[IllegalStateException] {
      torn.readOrCommit(spark, "u", "lin-2")(rows)
    }
    assert(e.getMessage.contains("'u'"), e.getMessage)
  }

  test("re-run resumes from snapshots (no recompute) and is identical") {
    val dir = freshDir("b")
    val cfg = Pipeline.Config(mentionGenerator = "all", checkpointDir = Some(dir))
    val r1 = Pipeline.run(spark, transcripts, cfg)
    val c1 = r1.clusters.orderBy("mention_id").collect().toSeq
    val io = new TableIO(dir)
    val snapsBefore = Seq("mentions", "surface_pairs", "surface_scores", "scores", "backptrs", "clusters")
      .map(s => s -> io.latestSnapshot(s).get).toMap
    // second run must read the committed snapshots, not write new ones
    val r2 = Pipeline.run(spark, transcripts, cfg)
    val c2 = r2.clusters.orderBy("mention_id").collect().toSeq
    assert(c1 === c2)
    snapsBefore.foreach { case (s, k) =>
      assert(io.latestSnapshot(s).get === k, s"stage $s recomputed on resume")
    }
  }

  test("truncated run (clusters deleted) recomputes only the missing stage") {
    val dir = freshDir("c")
    val cfg = Pipeline.Config(mentionGenerator = "all", checkpointDir = Some(dir))
    val c1 = Pipeline.run(spark, transcripts, cfg).clusters.orderBy("mention_id").collect().toSeq
    // kill the final stage commit (simulates dying mid-pipeline)
    val clustersDir = Paths.get(dir, "clusters")
    Files.walk(clustersDir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    val io = new TableIO(dir)
    val scoresSnap = io.latestSnapshot("scores").get
    val c2 = Pipeline.run(spark, transcripts, cfg).clusters.orderBy("mention_id").collect().toSeq
    assert(c1 === c2, "resumed output differs from original")
    assert(io.latestSnapshot("scores").get === scoresSnap, "scores stage recomputed")
    assert(io.latestSnapshot("clusters").isDefined)
  }

  test("kill-after-stage-k resume at sf0.01 (data scale) is byte-identical") {
    // the round-3 gate ran only on the fixture; this drives the same
    // kill/resume protocol through TableIO at sf0.01 (driver testdata)
    val t = graft.sources.Transcripts.load(spark, "/root/testdata/sf0.01")
    val dir = freshDir("sf001")
    val cfg = Pipeline.Config(mentionGenerator = "identifier", checkpointDir = Some(dir))
    val c1 = Pipeline.run(spark, t, cfg).clusters
      .orderBy("mention_id").collect().toSeq
    assert(c1.nonEmpty)
    // die between `scores` and the decode: later stages never committed
    for (s <- Seq("backptrs", "clusters")) {
      val p = Paths.get(dir, s)
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(q => Files.delete(q))
    }
    val io = new TableIO(dir)
    val scoresSnap = io.latestSnapshot("scores").get
    val c2 = Pipeline.run(spark, t, cfg).clusters
      .orderBy("mention_id").collect().toSeq
    assert(c1 === c2, "resumed sf0.01 output differs from the original run")
    assert(io.latestSnapshot("scores").get === scoresSnap,
      "scores stage recomputed despite a current snapshot")
  }

  test("tampered snapshot (lost part file) fails into recompute, not silent reuse") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = freshDir("e")
    val io = new TableIO(dir)
    val df = (0 until 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(4)
    val snap = io.commit("t", df, "lin-1")
    assert(io.readIfCurrent(spark, "t", "lin-1", Some(snap)).isDefined)
    // exact-field lineage compare: a prefix of the committed token must miss
    assert(io.readIfCurrent(spark, "t", "lin-", Some(snap)).isEmpty,
      "lineage prefix must not match")
    // lose one part file under the surviving manifest (torn snapshot)
    val dataDir = Paths.get(dir, "t", s"snap-$snap")
    val part = Files.list(dataDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.head
    Files.delete(part)
    assert(io.readIfCurrent(spark, "t", "lin-1", Some(snap)).isEmpty,
      "row-count mismatch against the manifest must fail into recompute")
  }

  test("config change invalidates lineage and recomputes") {
    val dir = freshDir("d")
    val cfg = Pipeline.Config(mentionGenerator = "all", checkpointDir = Some(dir))
    Pipeline.run(spark, transcripts, cfg).clusters.count()
    val io = new TableIO(dir)
    val before = io.latestSnapshot("backptrs").get
    val cfg2 = cfg.copy(linkThreshold = 0.5)
    Pipeline.run(spark, transcripts, cfg2).clusters.count()
    assert(io.latestSnapshot("backptrs").get > before,
      "changed config must produce a new snapshot")
  }

  test("input identity change invalidates lineage and recomputes") {
    // two runs over DIFFERENT inputs against one checkpoint dir must not
    // share snapshots — without inputTag the config-only token would hand
    // the second run the first input's clusters with no error
    val dir = freshDir("e")
    val cfg = Pipeline.Config(mentionGenerator = "all",
      checkpointDir = Some(dir), inputTag = "corpus-a")
    Pipeline.run(spark, transcripts, cfg).clusters.count()
    val io = new TableIO(dir)
    val before = io.latestSnapshot("mentions").get
    Pipeline.run(spark, transcripts, cfg.copy(inputTag = "corpus-b"))
      .clusters.count()
    assert(io.latestSnapshot("mentions").get > before,
      "a different input identity must produce new snapshots, not resume")
    // and the SAME input identity resumes (no new snapshot)
    val afterB = io.latestSnapshot("mentions").get
    Pipeline.run(spark, transcripts, cfg.copy(inputTag = "corpus-b"))
      .clusters.count()
    assert(io.latestSnapshot("mentions").get === afterB,
      "an identical input identity must resume from the committed snapshot")
  }

  test("Config.token is pinned: existing checkpoint directories keep resuming") {
    // literal tokens: a change to the token's layout (field order, the
    // dense/sparse model marker) would orphan every committed snapshot
    assert(Pipeline.Config().token === "476a3f4c")
    val model = SparseModel(spark.emptyDataFrame, "guard-spec")
    assert(Pipeline.Config(sparse = Some(model)).token === "ca244956")

    // the manifest's byte layout is pinned too: a commit writes exactly this
    // literal, and a manifest in it (as older commits left it) resumes
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = freshDir("layout")
    val io = new TableIO(dir)
    val snap = io.commit("t", Seq(("a", 1L), ("b", 2L)).toDF("k", "v").coalesce(1), "lin-1")
    val part = Files.list(Paths.get(dir, "t", s"snap-$snap")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("part-")).toSeq.sorted.head
    val literal = s"""{"stage":"t","snapshot":$snap,"lineage":"lin-1","rowCount":2,""" +
      s""""partitionCounters":[{"file":"$part","rows":2}]}"""
    assert(io.manifest("t", snap) === Some(literal))
    val m = Paths.get(dir, "t", s"snap-$snap.json")
    Files.writeString(m, literal.replace("lin-1", "lin-old"))
    // the local Hadoop FS checksums the files it writes; this one has none
    Files.delete(Paths.get(dir, "t", s".snap-$snap.json.crc"))
    assert(io.lineage("t", snap) === Some("lin-old"))
    assert(io.readIfCurrent(spark, "t", "lin-old").map(_.count()) === Some(2L))
    assert(io.readIfCurrent(spark, "t", "lin-1").isEmpty)
  }
}
