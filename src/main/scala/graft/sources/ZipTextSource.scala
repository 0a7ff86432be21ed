package graft.sources

import java.io.{BufferedReader, ByteArrayInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.ZipInputStream

import org.apache.spark.sql.{Dataset, SparkSession}

/** One text line of one zip member, with position so downstream operators can
  * reproduce the reference's order-sensitive semantics (header skipping,
  * last-writer-wins overwrites). */
case class ZipLine(file: String, member: String, memberIdx: Int, lineNo: Long, line: String)

/** One whole member payload (for DOM/XML parsing). */
case class ZipMember(file: String, member: String, memberIdx: Int, content: Array[Byte])

/** Distributed zip ingestion (SURVEY §2.1 S4-S5).
  *
  * Spark has no native zip codec, so we scan with the `binaryFile` source and
  * explode members/lines in executor-side flatMaps. The reference does the
  * same single-threaded (reference: src/cpc_etl/parser.py:78-93,
  * validator.py:77-150).
  *
  * SCALE: decoding is one task per zip archive (zips are not splittable), so
  * decode parallelism = archive count; for pathological single multi-GB zips,
  * land-and-explode to text first, then `spark.read.text` gives split-level
  * parallelism. Member bytes are streamed through ZipInputStream — only one
  * member is buffered at a time, and only when `members` (XML) is used. Work
  * per member after the decode need not stay on that one task: callers may
  * repartition the members (the CPC scheme parse does, see
  * [[CpcDimSources.schemeEdges]]).
  */
object ZipTextSource {

  /** The reference tolerates a missing auxiliary zip — logs a warning and
    * proceeds with an empty dim (validator.py:73-76, :108-111, :140-143).
    * Mirror that: a nonexistent local path scans as zero files. */
  private def binaryFiles(spark: SparkSession, path: String) = {
    import spark.implicits._
    val p = new java.io.File(path.stripPrefix("file:"))
    if (!path.contains("://") && !p.exists()) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(s"zip not found: $path")
      spark.emptyDataset[(String, Array[Byte])].toDF("path", "content")
    } else spark.read.format("binaryFile").load(path).select("path", "content")
  }

  private def foreachEntry[T](file: String, content: Array[Byte],
      memberFilter: String => Boolean)(f: (String, Int, ZipInputStream) => Iterator[T]): Iterator[T] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(content))
    val out = Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
      .zipWithIndex
      .filterNot { case (e, _) => e.isDirectory }
      .filter { case (e, _) => memberFilter(e.getName) }
      .flatMap { case (e, i) => f(e.getName, i, zin) }
    out // caller fully consumes within the task; ZipInputStream closes with the buffer GC
  }

  /** All lines of all members passing `memberFilter`, UTF-8 decoded, in
    * member order with per-member line numbers (0-based, header = 0). */
  def lines(spark: SparkSession, path: String, memberFilter: String => Boolean): Dataset[ZipLine] = {
    import spark.implicits._
    binaryFiles(spark, path).as[(String, Array[Byte])]
      .flatMap { case (file, content) =>
        foreachEntry(file, content, memberFilter) { (name, idx, zin) =>
          val r = new BufferedReader(new InputStreamReader(zin, StandardCharsets.UTF_8))
          Iterator.continually(r.readLine()).takeWhile(_ != null)
            .zipWithIndex
            .map { case (l, n) => ZipLine(file, name, idx, n.toLong, l) }
            .toList.iterator // drain before the next entry advances the stream
        }
      }
  }

  /** Whole member payloads (XML scheme files are DOM-parsed per member). */
  def members(spark: SparkSession, path: String, memberFilter: String => Boolean): Dataset[ZipMember] = {
    import spark.implicits._
    binaryFiles(spark, path).as[(String, Array[Byte])]
      .flatMap { case (file, content) =>
        foreachEntry(file, content, memberFilter) { (name, idx, zin) =>
          val buf = new java.io.ByteArrayOutputStream()
          val chunk = new Array[Byte](8192)
          Iterator.continually(zin.read(chunk)).takeWhile(_ > 0)
            .foreach(n => buf.write(chunk, 0, n))
          Iterator.single(ZipMember(file, name, idx, buf.toByteArray))
        }
      }
  }
}
