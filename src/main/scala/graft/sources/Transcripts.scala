package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's source table: multi-turn transcripts
  * `(conv_id string, turn_idx int, role string, text string, tool string, ts timestamp)`
  * (input hint, /root/repo/BASELINE.json).
  *
  * For the driver harness the table is *derived deterministically* from the
  * driver's parquet tables (`events` x `customer`) by a pure-SQL view written
  * in the common Spark-SQL/DuckDB dialect, so the DuckDB oracle reproduces the
  * exact same rows (FIXTURES.md §2 "harness path"). Each conversation is a
  * contiguous run of 20 events of one user; turn texts mention the user's
  * customer entity through several surface forms (exact name, digits-only
  * account alias, `Cust-<n>` alias, pronoun), mirroring the mention typology
  * of the reference (`/root/reference/.../coref/MentionType.java:4-17`).
  */
object Transcripts {

  /** Common-dialect SQL (valid in both Spark SQL and DuckDB) defining the
    * `transcripts` CTE over `events` and `customer`. Turn 0 of every
    * conversation is always a named-entity template so that pronoun chains
    * always reach a named antecedent (mirrors the reference's pruning
    * assumption that pronouns have close antecedents,
    * `coref/DocumentGraph.scala:91-102`).
    */
  val cte: String =
    """seqd AS (
      |  SELECT e.*, ROW_NUMBER() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) - 1 AS seq
      |  FROM events e
      |), transcripts AS (
      |  SELECT
      |    'c' || CAST(s.user_id AS STRING) || '-' || CAST(CAST(FLOOR(s.seq / 20) AS INT) AS STRING) AS conv_id,
      |    CAST(s.seq % 20 AS INT) AS turn_idx,
      |    CASE WHEN s.event_type IN ('click','view') THEN 'user'
      |         WHEN s.event_type = 'error' THEN 'tool' ELSE 'assistant' END AS role,
      |    CASE (CASE WHEN s.seq % 20 = 0 THEN CAST((s.event_id % 2) * 3 AS BIGINT) ELSE s.event_id % 7 END)
      |      WHEN 0 THEN 'Hello this is ' || c.c_name || ' about an order'
      |      WHEN 1 THEN 'Ticket update for account ' || substr(c.c_name, 10, 9) || ' pending review'
      |      WHEN 2 THEN 'They asked about the refund again'
      |      WHEN 3 THEN 'Case note ' || c.c_name || ' escalated the issue'
      |      WHEN 4 THEN 'Agent assigned to Cust-' || CAST(s.user_id AS STRING) || ' for follow-up'
      |      WHEN 5 THEN 'Priority case Acct ' || substr(c.c_name, 10, 9) || ' flagged for audit'
      |      ELSE 'Note from the client regarding ' || c.c_name || ' today'
      |    END AS text,
      |    CASE WHEN s.event_type = 'error' THEN 'diagnostics'
      |         WHEN s.event_type = 'purchase' THEN 'checkout' ELSE NULL END AS tool,
      |    s.ts AS ts
      |  FROM seqd s JOIN customer c ON c.c_custkey = s.user_id
      |)""".stripMargin

  /** Wrap a query body with the transcripts CTE (for both engines). */
  def withCte(body: String): String = s"WITH $cte\n$body"

  /** Register `events`/`customer` temp views from `sfDir` and return the
    * derived transcripts DataFrame. Text columns are small; at 100 TB scale
    * the real source would be an Iceberg table scan with partition pruning on
    * `bucket(conv_id)` — here the view stands in for that scan.
    */
  def load(spark: SparkSession, sfDir: String): DataFrame = {
    registerBase(spark, sfDir)
    spark.sql(withCte("SELECT * FROM transcripts"))
  }

  /** Register every driver parquet table that the harness queries use.
    * Existence probes go through the Hadoop FileSystem API, not
    * `java.io.File`: `Run --input` points here from spark-submit, where
    * `sfDir` can be an hdfs:///s3a:// URI that a local-FS probe silently
    * answers false for — every view would be skipped and the CTE query
    * would fail with a missing-table error. */
  def registerBase(spark: SparkSession, sfDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    Seq("events", "customer", "nation", "documents", "embeddings", "lineitem", "orders").foreach { t =>
      val p = new org.apache.hadoop.fs.Path(s"$sfDir/$t.parquet")
      if (p.getFileSystem(conf).exists(p))
        spark.read.parquet(p.toString).createOrReplaceTempView(t)
    }
  }
}
