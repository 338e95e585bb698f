package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Transcripts

/** Seeded inputs. Every table is a pure function of `(seed, size)`: the same
  * seed writes the same rows.
  *
  * Transcripts follow the harness shape: synthetic `events` and `customer`
  * tables with the harness distributions (45–99 events per user spread over
  * 30 days, five event types, `Customer#%09d` names) are turned into
  * transcripts by the harness view itself ([[Transcripts.withCte]]), then
  * written as plain transcript parquet. The program under test only reads
  * that parquet. The gold entity of a mention is its conversation's user
  * (the `c<user>-` prefix of `conv_id`), as in the harness. */
object Gen {

  private val EventTypes = Array("click", "view", "purchase", "error", "signup")
  private val Epoch = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val SpanMs = 30L * 24 * 3600 * 1000

  /** Harness `events` + `customer` for `users` users, as temp views. */
  private def registerHarness(spark: SparkSession, seed: Long, users: Int): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val ev = (0 until users).flatMap { u =>
      Seq.fill(45 + rnd.nextInt(55))(
        (Epoch + (rnd.nextDouble() * SpanMs).toLong, u.toLong,
          EventTypes(rnd.nextInt(EventTypes.length))))
    }.sortBy(e => (e._1, e._2)).zipWithIndex.map { case ((t, u, ty), i) =>
      (i.toLong, new Timestamp(t), u, ty)
    }
    ev.toDF("event_id", "ts", "user_id", "event_type").createOrReplaceTempView("events")
    (0 until users).map(u => (u.toLong, f"Customer#$u%09d"))
      .toDF("c_custkey", "c_name").createOrReplaceTempView("customer")
  }

  /** Harness transcripts for `users` seeded users, sorted by event time. */
  def transcripts(spark: SparkSession, seed: Long, users: Int): DataFrame = {
    registerHarness(spark, seed, users)
    spark.sql(Transcripts.withCte("SELECT * FROM transcripts"))
  }

  /** Write `df` as `parts` parquet files; returns the row count. */
  def write(df: DataFrame, dir: String, parts: Int): Long = {
    df.repartition(parts).write.mode("overwrite").parquet(dir)
    df.sparkSession.read.parquet(dir).count()
  }

  /** Split transcripts into `files` parquet files of consecutive event-time
    * ranges (slice k holds the k-th share of `ts` order), one file under
    * `dir/slice=<k>` each. Returns the slice directories and their row
    * counts. Event-time order matters: the streaming face drops rows behind
    * its 10-minute watermark, so a hash split would lose late rows. */
  def writeByTime(df: DataFrame, dir: String, files: Int): Seq[(String, Long)] = {
    df.withColumn("slice", ntile(files).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("conv_id"), col("turn_idx"))))
      .repartition(files, col("slice"))
      .write.mode("overwrite").partitionBy("slice").parquet(dir)
    val counts = df.sparkSession.read.parquet(dir).groupBy(col("slice")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    (1 to files).map(k => (s"$dir/slice=$k", counts(k)))
  }

  /** Seeded `documents` (harness schema): word-salad texts over the harness
    * vocabulary. The dedup operators plant their own duplicates
    * ([[graft.ops.Dedup.corpus]]). */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    val vocab = ("the a fast slow key order sort table scan merge part window " +
      "small big hash join batch stream spark dup group query row data filter " +
      "customer line value agg column vector").split(" ")
    val langs = Array("en", "de", "es", "fr", "zh")
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val t = Seq.fill(20 + rnd.nextInt(60))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      (i.toLong, t, langs(rnd.nextInt(langs.length)), s"src${rnd.nextInt(7)}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Seeded `embeddings` (harness schema): 64-d float vectors around 10
    * label centroids. The similarity operators plant their own near copies
    * ([[graft.ops.Similarity.corpus]]). */
  def embeddings(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centroids = Array.fill(10, 64)(rnd.nextGaussian().toFloat * 0.15f)
    (0 until n).map { i =>
      val label = rnd.nextInt(10)
      (i.toLong, centroids(label).map(x => x + rnd.nextGaussian().toFloat * 0.1f), label)
    }.toDF("vec_id", "embedding", "label")
  }
}
