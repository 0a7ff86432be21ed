package graft.operators

import graft.sources.{CpcDimSources, ZipTextSource}
import java.util.concurrent.{Callable, ExecutionException, Executors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** End-to-end orchestration of the reference pipeline (SURVEY §3 E1/E2):
  * parse the title list, validate every symbol against the three auxiliary
  * datasets, and publish a version-stamped snapshot only when validation is
  * fully clean (the all-or-nothing gate, reference: main.py:89-121).
  *
  * Acquisition (HTTP download, S1-S3) is driver-side I/O behind
  * [[graft.sources.Acquisition]]; this object starts from landed zip files.
  *
  * SCALE: on the clean path the only action before publish is ONE aggregate
  * count over the validated frame (the gate); the ordered first-invalid
  * query runs only when that count finds invalid rows. The parsed `titles`
  * are cached, so the gate fills the cache and the publish writes read it
  * instead of re-parsing. The three publish targets are independent writes
  * of that cache and run as concurrent jobs. Publish writes partitioned by
  * `cpc_schema_date`, so repeated monthly runs append new partitions
  * instead of rewriting.
  */
object CpcPipeline {

  case class Report(total: Long, invalid: Long, firstInvalid: Seq[(String, Seq[String])])

  /** Parse a CPCTitleList zip into the 6-column titles frame
    * (members `cpc-section-*`, parser.py:78-93). */
  def parseTitles(spark: SparkSession, titleZip: String): DataFrame = {
    val lines = ZipTextSource.lines(spark, titleZip, _.startsWith("cpc-section-"))
    CpcTitleParser.parseLines(lines.toDF())
  }

  def validateTitles(spark: SparkSession, titles: DataFrame, dataDir: String,
      version: String): DataFrame = {
    val dir = dataDir.stripSuffix("/")
    CpcValidator.validate(
      titles,
      CpcDimSources.symbolList(spark, s"$dir/CPCSymbolList$version.zip"),
      CpcDimSources.validityFile(spark, s"$dir/CPCValidityFile$version.zip"),
      CpcDimSources.schemeEdges(spark, s"$dir/CPCSchemeXML$version.zip"))
  }

  /** Validation report: total rows, invalid rows, first 10 invalid symbols
    * with warnings — ordered by symbol for determinism where the reference
    * relied on iteration order (SURVEY §7.4 risk 2). The first-invalid query
    * runs only when the count finds invalid rows: on a clean frame that list
    * is empty by definition. */
  def report(validated: DataFrame): Report = {
    val counts = validated.agg(
      count(lit(1)).as("total"),
      sum(when(CpcValidator.invalidCond, 1L).otherwise(0L)).as("invalid"))
      .collect()(0)
    val invalid = Option(counts.get(1)).fold(0L)(_.asInstanceOf[Long])
    val first = if (invalid == 0) Seq.empty else validated.where(CpcValidator.invalidCond)
      .select("symbol", "validation_warnings").orderBy("symbol").limit(10)
      .collect().map(r => (r.getString(0), r.getSeq[String](1))).toSeq
    Report(counts.getLong(0), invalid, first)
  }

  /** The publish gate (main.py:89-121): write the version-stamped snapshot
    * only when every symbol validates clean. Returns the report. The
    * `titles` cache is released whether the run publishes, refuses or
    * throws. */
  def run(spark: SparkSession, titleZip: String, dataDir: String, version: String,
      outDir: String, csvToo: Boolean = true): Report = {
    val titles = parseTitles(spark, titleZip).cache()
    try {
      val rep = report(validateTitles(spark, titles, dataDir, version))
      if (rep.invalid == 0) publish(titles.withColumn("cpc_schema_date", lit(version)),
        outDir, version, csvToo)
      rep
    } finally titles.unpersist()
  }

  /** The publish targets are independent writes of one cached frame, so
    * they run as concurrent jobs (each alone is a single-task job over the
    * cached partition). Waits for every write to settle, then rethrows the
    * first failure in target order. */
  private def publish(stamped: DataFrame, outDir: String, version: String,
      csvToo: Boolean): Unit = {
    val writes = Seq[Callable[Unit]](
      () => stamped.write.mode("overwrite")
        .parquet(s"$outDir/cpc_schema_$version.parquet"),
      // scale path: one partitioned snapshot table instead of per-version
      // files — monthly runs add a partition, never rewrite history, and
      // readers get partition pruning on cpc_schema_date
      () => stamped.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cpc_schema_date")
        .parquet(s"$outDir/cpc_schema_snapshots")) ++
      Option.when[Callable[Unit]](csvToo)(() => stamped.write.mode("overwrite")
        .option("header", true).csv(s"$outDir/cpc_schema_$version.csv"))
    val pool = Executors.newFixedThreadPool(writes.size)
    try {
      pool.invokeAll(writes.asJava).asScala.foreach { f =>
        try f.get() catch { case e: ExecutionException => throw e.getCause }
      }
    } finally pool.shutdown()
  }
}
