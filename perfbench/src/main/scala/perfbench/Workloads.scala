package perfbench

import java.io.File

import graft.operators.{Bpe, CpcPipeline, CpcValidator}
import graft.sources.{CpcDimSources, ZipTextSource}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

object Disk {
  def rmTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rmTree)
    f.delete(): Unit
  }

  /** (bytes, files) of the regular files under `f`. */
  def usage(f: File): (Long, Long) =
    if (f.isFile) (f.length, 1L)
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(usage)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
}

/** One `CpcPipeline.run` over the landed zips in `dir`. With spans, the
  * operation times the whole run, then each layer through its public
  * function (one call plus one action per span). */
final class CpcWorkload(spark: SparkSession, dir: String, work: String,
    spans: Option[Spans]) extends Workload {
  private val version = "202505"
  private val titleZip = s"$dir/CPCTitleList$version.zip"
  private def outDir(k: Int) = new File(s"$work/out/op-$k")

  final case class Result(report: CpcPipeline.Report, layers: Seq[(String, Double)])

  def op(k: Int): Result = {
    def run() = CpcPipeline.run(spark, titleZip, dir, version, outDir(k).getPath)
    spans match {
      case None => Result(run(), Nil)
      case Some(span) =>
        // the whole job first, cold as in an untraced run, so its span
        // compares with run_s; then each layer once more on its own
        val report = span("pipeline")(run())
        val dims = Seq(
          "dim.symbol_list" -> (() => CpcDimSources.symbolList(spark, s"$dir/CPCSymbolList$version.zip")),
          "dim.validity" -> (() => CpcDimSources.validityFile(spark, s"$dir/CPCValidityFile$version.zip")),
          "dim.scheme" -> (() => CpcDimSources.schemeEdges(spark, s"$dir/CPCSchemeXML$version.zip")))
        val lines = span("ingest") {
          ZipTextSource.lines(spark, titleZip, _.startsWith("cpc-section-")).count()
        }
        val rows = span("parse")(CpcPipeline.parseTitles(spark, titleZip).count())
        val dimRows = dims.map { case (name, load) => span(name)(load().count()) }
        // validate gets titles and dims that are already materialized, so the
        // span holds the joins and the gate's two actions only
        val titles = CpcPipeline.parseTitles(spark, titleZip).cache()
        val cached = dims.map(_._2().cache())
        (titles +: cached).foreach(_.count())
        val validated = span("validate") {
          CpcPipeline.report(CpcValidator.validate(titles, cached(0), cached(1), cached(2)))
        }
        (titles +: cached).foreach(_.unpersist(true))
        require(validated == report, s"validate span reported $validated, pipeline $report")
        val (bytes, files) = Disk.usage(outDir(k))
        Result(report, Seq(
          "ingest.lines" -> lines.toDouble,
          "parse.rows" -> rows.toDouble,
          "parse.dropped" -> (lines - rows).toDouble,
          "dim.symbol_list.rows" -> dimRows(0).toDouble,
          "dim.validity.rows" -> dimRows(1).toDouble,
          "dim.scheme.edges" -> dimRows(2).toDouble,
          "validate.invalid" -> validated.invalid.toDouble,
          "publish.bytes" -> bytes.toDouble,
          "publish.files" -> files.toDouble))
    }
  }

  def check(k: Int, r: Result): String = {
    val first = r.report.firstInvalid.map { case (s, ws) =>
      ws.map(Json.str).mkString(s"[${Json.str(s)},[", ",", "]]")
    }.mkString("[", ",", "]")
    val out = outDir(k)
    val published =
      if (!out.exists()) "null"
      else {
        // all three publish targets are read back and hashed the way
        // perfbench/cpcgen.py hashes its model rows; they must agree
        val hashes = Seq(
          spark.read.parquet(s"$out/cpc_schema_$version.parquet"),
          spark.read.option("header", true).csv(s"$out/cpc_schema_$version.csv"),
          spark.read.parquet(s"$out/cpc_schema_snapshots").where(col("cpc_schema_date") === version)
        ).map(CpcWorkload.rowHash)
        require(hashes.distinct.size == 1, s"publish targets disagree: $hashes")
        val (n, hi, lo) = hashes.head
        s"""{"rows":$n,"hi":$hi,"lo":$lo}"""
      }
    val layers = r.layers.map { case (n, v) => s"${Json.str(n)}:$v" }.mkString("{", ",", "}")
    s"""{"total":${r.report.total},"invalid":${r.report.invalid},"first_invalid":$first,""" +
      s""""published":$published,"layers":$layers}"""
  }

  def cleanup(k: Int): Unit = Disk.rmTree(outDir(k))
}

object CpcWorkload {
  /** (rows, sum of md5 bits 0-31, sum of md5 bits 32-63) over the
    * tab-joined row text, nulls as \\N. */
  def rowHash(df: DataFrame): (Long, Long, Long) = {
    val line = concat_ws("\t", Seq("symbol", "level", "title", "section", "class", "subclass",
      "cpc_schema_date").map(c => coalesce(col(c).cast("string"), lit("\\N"))): _*)
    val h = df.select(md5(line).as("m"))
      .agg(count(lit(1)), sum(conv(substring(col("m"), 1, 8), 16, 10).cast("long")),
        sum(conv(substring(col("m"), 9, 8), 16, 10).cast("long")))
      .head()
    (h.getLong(0), h.getLong(1), h.getLong(2))
  }
}

/** One pass over nine register entries in a seed-permuted order, over the
  * tables in `data`. Each register row is forced with a noop write; an
  * observation on the same execution hashes its rows (order-insensitive).
  * `x_bpe_train30` is `Bpe.train(documents, 30)` and hashes its ordered
  * merge list. */
final class RegisterWorkload(spark: SparkSession, data: String, seed: Long,
    spans: Option[Spans]) extends Workload {
  val order: Seq[String] = new scala.util.Random(seed).shuffle(RegisterWorkload.Entries)

  type Result = Seq[(String, String)]

  def op(k: Int): Result =
    order.map(name => name -> spans.fold(entry(name))(span => span(name)(entry(name))))

  private def entry(name: String): String =
    if (name == "x_bpe_train30") {
      val merges = Bpe.train(spark.read.parquet(s"$data/documents.parquet"), numMerges = 30)
      s"""{"rows":${merges.size},"hash":"${merges.mkString("\n").hashCode}"}"""
    } else {
      val df = graft.SparkEntry.queries(name)(spark, data)
      val obs = Observation(name)
      val hash = RegisterWorkload.rowHash(df)
      df.observe(obs, hash.head, hash.tail: _*).write.mode("overwrite").format("noop").save()
      val m = obs.get
      s"""{"rows":${m("rows")},"hash":"${m("x")}:${m("s")}"}"""
    }

  def check(k: Int, r: Result): String =
    r.map { case (n, h) => s"${Json.str(n)}:$h" }.mkString("{", ",", "}")

  /** Drops the entries' temp state (q465's `graft-*` incremental tables). */
  def cleanup(k: Int): Unit =
    Option(new File(sys.props("java.io.tmpdir")).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("graft-")).foreach(Disk.rmTree)
}

object RegisterWorkload {
  val Entries: Seq[String] = Seq("q71_dup_clusters", "q465_incremental_components",
    "q456_kcore", "q276_betweenness", "q470_pagerank_convergence", "q264_textrank",
    "q22_dedup_shingle", "q474_suffix_array_dupes", "x_bpe_train30")

  /** Row count, XOR and low-32-bit sum of xxhash64 over all columns. */
  def rowHash(df: DataFrame): Seq[Column] = {
    val h = xxhash64(df.columns.map(col): _*)
    Seq(count(lit(1)).as("rows"), bit_xor(h).as("x"), sum(h.bitwiseAND(lit(0xFFFFFFFFL))).as("s"))
  }
}
