package graft

import graft.operators.{CpcPipeline, CpcValidator}
import graft.sources.{Acquisition, CpcDimSources, LocalFixtureFetcher}
import java.nio.file.Files
import org.apache.spark.sql.catalyst.plans.logical.Command
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.concurrent.ThreadSignaler
import org.scalatest.concurrent.TimeLimits._
import org.scalatest.time.SpanSugar._
import scala.jdk.CollectionConverters._

class CpcSourcesSpec extends GraftSpec {

  lazy val dir = CpcFixtures.dataDir()
  val v = CpcFixtures.Version

  test("title list zip: parses only cpc-section members, drops blanks/invalid") {
    val titles = CpcPipeline.parseTitles(spark, dir.resolve(s"CPCTitleList$v.zip").toString)
    val rows = titles.orderBy("symbol").collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("A", "A01", "A01B", "A01B1/00", "A01B1/02", "Y02E"))
    val byLvl = rows.map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(byLvl("A").isEmpty && byLvl("A01").isEmpty)
    assert(byLvl("A01B1/00").contains(0.0) && byLvl("A01B1/02").contains(1.0))
    assert(titles.schema("level").dataType.typeName == "double")
  }

  test("symbol list: header skipped, whitespace-normalized, status recode") {
    val sl = CpcDimSources.symbolList(spark, dir.resolve(s"CPCSymbolList$v.zip").toString)
    val m = sl.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("A") == "ACTIVE") // published -> ACTIVE
    assert(m("A01B1/00") == "ACTIVE") // "A01B 1/00" normalized
    assert(m("A01B1/02") == "UNKNOWN") // short row
    assert(m("B99X") == "retired") // non-published kept verbatim
    assert(!m.contains("symbol")) // header gone
  }

  test("validity file: from/to decode") {
    val vf = CpcDimSources.validityFile(spark, dir.resolve(s"CPCValidityFile$v.zip").toString)
    val m = vf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("A01B1/00") == "ACTIVE" && m("A01B1/02") == "ACTIVE")
    assert(m("B99X") == "INACTIVE")
  }

  test("scheme xml: child->parent edges with whitespace normalization") {
    val ed = CpcDimSources.schemeEdges(spark, dir.resolve(s"CPCSchemeXML$v.zip").toString)
    val m = ed.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("A01" -> "A", "A01B" -> "A01",
      "A01B1/00" -> "A01B", "A01B1/02" -> "A01B1/00"))
  }

  test("scheme xml: keep-last across members survives the member repartition") {
    val multi = Files.createTempDirectory("cpc-scheme-multi")
    val ed = CpcDimSources.schemeEdges(spark,
      CpcFixtures.multiMemberSchemeZip(multi).toString)
    val rows = ed.collect().map(r => r.getString(0) -> r.getString(1))
    assert(rows.length == rows.map(_._1).distinct.length) // one edge per child
    assert(rows.toMap == Map("A01B1/00" -> "A01B", "A01B1/02" -> "A01B",
      "A01C1/00" -> "A01C", "A01D1/00" -> "A01D"))
  }

  test("clean run: the gate is the only query before the first write") {
    // each SQL execution in order; writes are commands, the gate is a query
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        events.add(if (qe.logical.isInstanceOf[Command]) "write" else "query")
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        events.add("failure")
    }
    val out = Files.createTempDirectory("cpc-out-gate")
    spark.listenerManager.register(listener)
    try {
      val rep = CpcPipeline.run(spark, dir.resolve(s"CPCTitleList$v.zip").toString,
        dir.toString, v, out.toString)
      assert(rep == CpcPipeline.Report(6, 0, Nil))
      // the listener bus is asynchronous but ordered: once all three writes
      // arrived, everything before them has too
      eventually(timeout(30.seconds)) {
        assert(events.asScala.count(_ == "write") == 3)
      }
      assert(events.asScala.toSeq == Seq("query", "write", "write", "write"))
    } finally spark.listenerManager.unregister(listener)

    // a dirty frame still gets the ordered first-invalid list with warnings
    import spark.implicits._
    val dirty = Seq(
      ("Z99", Option.empty[Double], "bogus", "Z", "Z99", null: String),
      ("A01", Option.empty[Double], "AGRICULTURE", "A", "A01", null: String),
      ("B99X", Option.empty[Double], "retired", "B", "B99", "B99X"))
      .toDF("symbol", "level", "title", "section", "class", "subclass")
    val rep = CpcPipeline.report(CpcPipeline.validateTitles(spark, dirty, dir.toString, v))
    assert(rep == CpcPipeline.Report(3, 2, Seq(
      "B99X" -> Seq("Symbol status: INACTIVE", "Symbol not found in schema hierarchy"),
      "Z99" -> Seq("Invalid symbol format", "Symbol not found in symbol list",
        "Symbol status: UNKNOWN", "Symbol not found in schema hierarchy"))))
  }

  test("refusal: run over one invalid title returns the gate's report, publishes nothing") {
    // the fixture's titles plus one retired (INACTIVE) subclass
    val titleZip = CpcFixtures.zip(Files.createTempDirectory("cpc-titles"),
      s"CPCTitleList$v.zip", Seq("cpc-section-A.txt" ->
        s"${CpcFixtures.titleLines}\nB99X RETIRED SUBCLASS")).toString
    val out = Files.createTempDirectory("cpc-out-refused")
    val rep = CpcPipeline.run(spark, titleZip, dir.toString, v, out.toString)
    assert(rep.invalid == 1 && rep.firstInvalid.map(_._1) == Seq("B99X"))
    assert(rep == CpcPipeline.report(CpcPipeline.validateTitles(spark,
      CpcPipeline.parseTitles(spark, titleZip), dir.toString, v)))
    assert(Seq(s"cpc_schema_$v.parquet", s"cpc_schema_$v.csv", "cpc_schema_snapshots")
      .forall(t => Files.notExists(out.resolve(t))))
  }

  test("a failing publish write: run throws and releases the titles cache") {
    spark.catalog.clearCache()
    val out = Files.createTempDirectory("cpc-out-blocked")
    // a regular file where the snapshot table's directory must go
    Files.writeString(out.resolve("cpc_schema_snapshots"), "not a directory")
    failAfter(2.minutes) {
      intercept[Exception](CpcPipeline.run(spark,
        dir.resolve(s"CPCTitleList$v.zip").toString, dir.toString, v, out.toString))
    }(ThreadSignaler)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("end-to-end pipeline: clean validation publishes versioned parquet+csv") {
    val out = Files.createTempDirectory("cpc-out")
    val rep = CpcPipeline.run(spark, dir.resolve(s"CPCTitleList$v.zip").toString,
      dir.toString, v, out.toString)
    assert(rep.total == 6 && rep.invalid == 0)
    val published = spark.read.parquet(s"$out/cpc_schema_$v.parquet")
    assert(published.count() == 6)
    assert(published.columns.toSeq ==
      Seq("symbol", "level", "title", "section", "class", "subclass", "cpc_schema_date"))
    assert(published.select("cpc_schema_date").distinct().collect()(0).getString(0) == v)
    assert(Files.exists(out.resolve(s"cpc_schema_$v.csv")))
  }

  test("validation details: warnings order and content (validator.py:186-207)") {
    val titles = CpcPipeline.parseTitles(spark, dir.resolve(s"CPCTitleList$v.zip").toString)
    val validated = CpcPipeline.validateTitles(spark, titles, dir.toString, v)
    val byIdx = validated.collect().map(r => r.getString(0) -> r).toMap
    val y = byIdx("Y02E")
    assert(y.getAs[Boolean]("symbol_valid"))
    assert(y.getAs[Boolean]("in_symbol_list"))
    assert(y.getAs[String]("validity_status") == "ACTIVE")
    assert(!y.getAs[Boolean]("schema_valid")) // root in XML but no parent... Y02E IS a root
    assert(y.getAs[scala.collection.Seq[String]]("validation_warnings") ==
      Seq("Symbol not found in schema hierarchy"))
    val a12 = byIdx("A01B1/02")
    // J4: validity file ACTIVE overwrote symbol-list UNKNOWN
    assert(a12.getAs[String]("validity_status") == "ACTIVE")
    assert(a12.getAs[Boolean]("schema_valid") &&
      a12.getAs[String]("parent_symbol") == "A01B1/00")
    assert(a12.getAs[scala.collection.Seq[String]]("validation_warnings").isEmpty)
  }

  test("gate blocks publish when symbols are invalid") {
    import spark.implicits._
    val titles = Seq(("Z99", Option.empty[Double], "bogus", "Z", "Z99", null: String))
      .toDF("symbol", "level", "title", "section", "class", "subclass")
    val validated = CpcPipeline.validateTitles(spark, titles, dir.toString, v)
    val rep = CpcPipeline.report(validated)
    assert(rep.invalid == 1)
    assert(rep.firstInvalid.head._1 == "Z99")
    assert(rep.firstInvalid.head._2 == Seq("Invalid symbol format",
      "Symbol not found in symbol list", "Symbol status: UNKNOWN",
      "Symbol not found in schema hierarchy"))
  }

  test("acquisition error paths: empty page raises, fetch failure -> available=false") {
    val raw = Files.createTempDirectory("cpc-raw-err")
    val emptyAcq = new Acquisition(new LocalFixtureFetcher("<html><body>no links</body></html>",
      Map.empty), rawDir = raw)
    intercept[RuntimeException](emptyAcq.availableVersions)
    assert(!emptyAcq.checkFileAvailability()) // error propagated as false (downloader.py:169-176)
    val throwingAcq = new Acquisition(new graft.sources.PageFetcher {
      override def fetchPage(url: String) = throw new RuntimeException("boom")
      override def fetchFile(url: String, dest: java.nio.file.Path) = ()
    }, rawDir = raw)
    assert(!throwingAcq.checkFileAvailability())
  }

  test("property: parse(format(symbol, level, title)) round-trips") {
    import org.scalacheck.Gen
    import graft.operators.CpcTitleParser
    import spark.implicits._
    val gen = for {
      sec <- Gen.oneOf("ABCDEFGHY".toSeq)
      cls <- Gen.choose(0, 99).map(n => f"$n%02d")
      sub <- Gen.oneOf("B", "K", "L")
      grp <- Gen.choose(1, 99)
      lvl <- Gen.option(Gen.choose(0, 15))
      title <- Gen.nonEmptyListOf(Gen.oneOf("Hand", "tools;", "(lawn)", "Spades")).map(_.mkString(" "))
    } yield (s"$sec$cls$sub$grp/00", lvl, title)
    val cases = Gen.listOfN(50, gen).sample.get.distinctBy(_._1)
    val lines = cases.map { case (sym, lvl, t) =>
      lvl.fold(s"$sym $t")(l => s"$sym $l $t")
    }
    val parsed = CpcTitleParser.parseLines(lines.toDF("line"))
      .collect().map(r => r.getString(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getDouble(1).toInt)), r.getString(2))).toMap
    cases.foreach { case (sym, lvl, t) =>
      assert(parsed(sym) == ((lvl, t)), s"case $sym")
    }
  }

  test("acquisition: version resolution + force download from fixture page") {
    val html =
      """<html><body>
        |<a href="/files/CPCSchemeXML202401.zip">old</a>
        |<a href="/files/CPCSchemeXML202505.zip">xml</a>
        |<a href="/files/CPCTitleList202505.zip">titles</a>
        |<a href="/other/page.html">not a zip</a>
        |</body></html>""".stripMargin
    val raw = Files.createTempDirectory("cpc-raw")
    val acq = new Acquisition(new LocalFixtureFetcher(html, Map(
      s"CPCSchemeXML$v.zip" -> dir.resolve(s"CPCSchemeXML$v.zip"),
      s"CPCTitleList$v.zip" -> dir.resolve(s"CPCTitleList$v.zip"))), rawDir = raw)
    assert(acq.availableVersions == Seq("202401", "202505"))
    assert(acq.version == "202505")
    assert(acq.checkFileAvailability())
    val landed = acq.downloadBulkFiles()
    assert(landed.forall(Files.exists(_)))
    assert(landed.map(_.getFileName.toString).toSet ==
      Set(s"CPCSchemeXML$v.zip", s"CPCTitleList$v.zip"))
  }
}
