package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Builds the A1-A4 reference-format fixture zips (FIXTURES.md §A) into a
  * temp dir at test time. Content derives from the reference's format spec
  * and test vectors (reference: tests/test_parser.py:25-203, FIXTURES.md),
  * not from its stripped binary fixture. */
object CpcFixtures {

  val Version = "202505"

  def zip(dir: Path, name: String, members: Seq[(String, String)]): Path = {
    val p = dir.resolve(name)
    val zos = new ZipOutputStream(Files.newOutputStream(p))
    members.foreach { case (member, content) =>
      zos.putNextEntry(new ZipEntry(member))
      zos.write(content.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    }
    zos.close()
    p
  }

  val titleLines: String = Seq(
    "A AGRICULTURE",
    "A01 AGRICULTURE; FORESTRY; ANIMAL HUSBANDRY",
    "A01B SOIL WORKING IN AGRICULTURE OR FORESTRY",
    "A01B1/00 0 Hand tools (edge trimmers for lawns A01G3/06)",
    "A01B1/02 1 Spades; Shovels; Hoes",
    "",
    "Invalid Line",
    "Y02E REDUCTION OF GREENHOUSE GAS EMISSIONS"
  ).mkString("\n")

  /** members: one real section file, one ignored non-section member. */
  def titleListZip(dir: Path): Path =
    zip(dir, s"CPCTitleList$Version.zip", Seq(
      "cpc-section-A.txt" -> titleLines,
      "readme.txt" -> "NOT A SECTION FILE — must be ignored"))

  /** >6-column rows get status from the last column ('published' → ACTIVE);
    * short rows → UNKNOWN; symbol with internal spaces exercises
    * normalization. */
  val symbolListCsv: String = Seq(
    "symbol,a,b,c,d,e,status",
    "A,x,x,x,x,x,published",
    "A01,x,x,x,x,x,published",
    "A01B,x,x,x,x,x,published",
    "A01B 1/00,x,x,x,x,x,published",
    "A01B1/02,shortrow",
    "Y02E,x,x,x,x,x,published",
    "B99X,x,x,x,x,x,retired"
  ).mkString("\n")

  def symbolListZip(dir: Path): Path =
    zip(dir, s"CPCSymbolList$Version.zip", Seq(
      s"CPCSymbolList$Version.csv" -> symbolListCsv))

  /** active row (no valid_to), retired row (both dates), and an overwrite of
    * a symbol-list status (J4 last-writer-wins). */
  val validityTxt: String = Seq(
    "symbol\tvalid_from\tvalid_to",
    "A01B 1/00\t2013-01-01\t",
    "A01B1/02\t2013-01-01\t",
    "B99X\t2000-01-01\t2010-01-01"
  ).mkString("\n")

  def validityZip(dir: Path): Path =
    zip(dir, s"CPCValidityFile$Version.zip", Seq(
      s"cpc_validity_$Version.txt" -> validityTxt))

  val schemeXml: String =
    """<class-scheme>
      |  <classification-item><classification-symbol>A</classification-symbol>
      |    <classification-item><classification-symbol>A01</classification-symbol>
      |      <classification-item><classification-symbol>A01B</classification-symbol>
      |        <classification-item><classification-symbol>A01B 1/00</classification-symbol>
      |          <classification-item><classification-symbol>A01B 1/02</classification-symbol></classification-item>
      |        </classification-item>
      |      </classification-item>
      |    </classification-item>
      |  </classification-item>
      |  <classification-item><classification-symbol>Y02E</classification-symbol></classification-item>
      |</class-scheme>""".stripMargin

  def schemeZip(dir: Path): Path =
    zip(dir, s"CPCSchemeXML$Version.zip", Seq(
      s"cpc-scheme-$Version.xml" -> schemeXml))

  /** Three scheme members in zip order. `A01B 1/02` hangs under `A01B 1/00`
    * in the first member and under `A01B` in the third, so keep-last must
    * report the third member's parent; `A01B 1/00` appears under `A01B` in
    * both the first and the second member. */
  val multiMemberScheme: Seq[(String, String)] = Seq(
    "cpc-scheme-A01B.xml" ->
      """<class-scheme>
        |  <classification-item><classification-symbol>A01B</classification-symbol>
        |    <classification-item><classification-symbol>A01B 1/00</classification-symbol>
        |      <classification-item><classification-symbol>A01B 1/02</classification-symbol></classification-item>
        |    </classification-item>
        |  </classification-item>
        |</class-scheme>""".stripMargin,
    "cpc-scheme-A01C.xml" ->
      """<class-scheme>
        |  <classification-item><classification-symbol>A01B</classification-symbol>
        |    <classification-item><classification-symbol>A01B 1/00</classification-symbol></classification-item>
        |  </classification-item>
        |  <classification-item><classification-symbol>A01C</classification-symbol>
        |    <classification-item><classification-symbol>A01C 1/00</classification-symbol></classification-item>
        |  </classification-item>
        |</class-scheme>""".stripMargin,
    "cpc-scheme-A01D.xml" ->
      """<class-scheme>
        |  <classification-item><classification-symbol>A01B</classification-symbol>
        |    <classification-item><classification-symbol>A01B 1/02</classification-symbol></classification-item>
        |  </classification-item>
        |  <classification-item><classification-symbol>A01D</classification-symbol>
        |    <classification-item><classification-symbol>A01D 1/00</classification-symbol></classification-item>
        |  </classification-item>
        |</class-scheme>""".stripMargin)

  def multiMemberSchemeZip(dir: Path): Path =
    zip(dir, s"CPCSchemeXML$Version.zip", multiMemberScheme)

  /** All four zips into one data dir; returns it. */
  def dataDir(): Path = {
    val dir = Files.createTempDirectory("cpc-fixtures")
    titleListZip(dir); symbolListZip(dir); validityZip(dir); schemeZip(dir)
    dir
  }
}
