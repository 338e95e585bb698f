package graft.io

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Snapshot-committing table seam (SURVEY.md §7.0).
  *
  * The north rule names Iceberg; no Iceberg runtime exists in this sandbox
  * (`/opt/spark/jars`, offline coursier), so this seam provides the Iceberg
  * properties the pipeline actually relies on — atomic snapshot commit,
  * resume-by-snapshot, per-partition counters + lineage in a manifest — over
  * Parquet + a JSON commit log, written and parsed by [[Json]]. A real
  * Iceberg catalog binding drops in behind the same four methods when the
  * runtime jar is on the spark-submit classpath.
  *
  * All path operations go through the Hadoop FileSystem API (not java.nio):
  * the entry point documents spark-submit against a cluster, where `rootDir`
  * is an `hdfs://` / `s3a://` URI and java.nio would silently write the
  * manifests to the driver's local disk while Spark wrote the data to the
  * cluster FS — a commit whose marker and data live on different filesystems
  * is not a commit. The manifest marker uses create-then-rename, atomic on
  * HDFS and local FS (object stores without atomic rename degrade to
  * overwrite-visibility, same as every file-based commit protocol on them).
  *
  * Layout: `<root>/<stage>/snap-<k>/` (parquet) + `<root>/<stage>/snap-<k>.json`
  * (manifest; the commit marker — data without a manifest is an uncommitted
  * torn write and is ignored). Manifest records the input lineage token, row
  * count, and per-partition row counters (north rule: "resume from any
  * per-partition checkpoint with lineage + counters persisted per partition").
  */
class TableIO(rootDir: String) {
  /** The footer key under which Spark's parquet writer stores the row
    * schema it wrote. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def stageDir(stage: String): Path = new Path(rootDir, stage)

  private def fs(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  /** Latest committed snapshot id of a stage, if any. */
  def latestSnapshot(stage: String): Option[Int] = {
    val d = stageDir(stage)
    val f = fs(d)
    if (!f.exists(d) || !f.getFileStatus(d).isDirectory) None
    else {
      val snaps = f.listStatus(d).iterator
        .map(_.getPath.getName)
        .collect { case s if s.startsWith("snap-") && s.endsWith(".json") =>
          s.stripPrefix("snap-").stripSuffix(".json").toInt }
        .toSeq
      if (snaps.isEmpty) None else Some(snaps.max)
    }
  }

  def manifest(stage: String, snap: Int): Option[String] = {
    val p = new Path(stageDir(stage), s"snap-$snap.json")
    val f = fs(p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(
        in, java.nio.charset.StandardCharsets.UTF_8.name()).mkString)
      finally in.close()
    }
  }

  /** Atomic-commit write: parquet data first, manifest (the commit marker)
    * last. `lineage` is a deterministic token of the inputs (e.g. upstream
    * stage+snapshot ids + config hash) enabling resume-safety checks. */
  def commit(stage: String, df: DataFrame, lineage: String): Int = {
    val snap = latestSnapshot(stage).map(_ + 1).getOrElse(0)
    val dataPath = new Path(stageDir(stage), s"snap-$snap").toString
    df.write.mode("overwrite").parquet(dataPath)
    // per-partition counters tied to the COMMITTED FILES (not read-time scan
    // splits, which shift with split sizing), from the footers just written;
    // an empty part file carries no counter
    val stats = footers(new Path(dataPath)).map { case (st, meta) =>
      (st.getPath.getName, rowsOf(meta)) }.filter(_._2 > 0)
    val m = Json.obj().put("stage", stage).put("snapshot", snap)
      .put("lineage", lineage).put("rowCount", stats.map(_._2).sum)
    val counters = m.putArray("partitionCounters")
    stats.foreach { case (file, n) => counters.addObject().put("file", file).put("rows", n) }
    val dir = stageDir(stage)
    val f = fs(dir)
    f.mkdirs(dir)
    val tmp = new Path(dir, s".snap-$snap.json.tmp")
    val out = f.create(tmp, true)
    try out.write(Json.write(m).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new Path(dir, s"snap-$snap.json")
    if (!f.rename(tmp, dst))
      throw new java.io.IOException(s"manifest commit rename failed: $tmp -> $dst")
    snap
  }

  /** The data files of a snapshot directory (what `spark.read.parquet`
    * lists: no `_`- or `.`-prefixed names), name-sorted, each with its
    * parquet footer — read on the driver, no Spark job. */
  private def footers(dir: Path): Seq[(FileStatus, ParquetMetadata)] =
    fs(dir).listStatus(dir).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, hadoopConf))
        try (st, r.getFooter) finally r.close()
      }

  private def rowsOf(meta: ParquetMetadata): Long =
    meta.getBlocks.asScala.map(_.getRowCount).sum

  private def manifestJson(stage: String, snap: Int) =
    manifest(stage, snap).flatMap(Json.parse)

  private def lineageOf(m: com.fasterxml.jackson.databind.JsonNode): Option[String] =
    Option(m.get("lineage")).filter(_.isTextual).map(_.asText)

  /** The lineage token a committed snapshot's manifest records. */
  def lineage(stage: String, snap: Int): Option[String] =
    manifestJson(stage, snap).flatMap(lineageOf)

  /** Read a committed snapshot (latest when `snap` is None); None when the
    * stage has no committed snapshot, the lineage token does not match, or
    * the snapshot's data no longer agrees with its manifest row count — the
    * caller then recomputes (resume semantics).
    *
    * Lineage is compared as the PARSED manifest field (exact equality), not
    * a substring scan — a token that is a prefix of another can never
    * false-match. The row-count check makes a torn / tampered snapshot
    * (e.g. a lost part file under a surviving manifest) fail loudly into a
    * recompute instead of a silent short read: the manifest's `rowCount`
    * against the sum of the data files' footers, read on the driver. The
    * read takes its schema from the same footers (the Spark schema Spark
    * writes into each), so neither check nor read starts a Spark job. */
  def readIfCurrent(spark: SparkSession, stage: String, lineage: String,
      snap: Option[Int] = None): Option[DataFrame] = {
    val s = snap.orElse(latestSnapshot(stage))
    s.flatMap { k =>
      manifestJson(stage, k) match {
        case Some(m) if lineageOf(m).contains(lineage) =>
          val expected = Option(m.get("rowCount")).map(_.asLong)
          try {
            val dir = new Path(stageDir(stage), s"snap-$k")
            val files = footers(dir)
            if (!expected.forall(_ == files.map(f => rowsOf(f._2)).sum)) None
            else {
              val schema = files.headOption.flatMap(f => Option(f._2.getFileMetaData
                .getKeyValueMetaData.get(SparkSchemaKey)))
              val reader = schema.fold(spark.read)(s =>
                spark.read.schema(DataType.fromJson(s).asInstanceOf[StructType]))
              Some(reader.parquet(dir.toString))
            }
          } catch { case _: Exception => None } // unreadable data = torn write
        case _ => None
      }
    }
  }

  /** Resume-or-compute for one stage: the committed snapshot when its
    * lineage is current, else `compute`, committed and read back. A
    * just-committed snapshot that cannot be read back fails loudly, naming
    * the stage, instead of recomputing silently on every run. */
  def readOrCommit(spark: SparkSession, stage: String, lineage: String)(
      compute: => DataFrame): DataFrame =
    readIfCurrent(spark, stage, lineage).getOrElse {
      val snap = commit(stage, compute, lineage)
      readIfCurrent(spark, stage, lineage, Some(snap)).getOrElse(
        throw new IllegalStateException(s"TableIO stage '$stage': snapshot " +
          s"$snap was just committed under lineage '$lineage' but cannot be read back"))
    }
}
