package graft.ops

import graft.SparkSuite
import graft.expr.TextExprs
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The case-mapping kernel ([[graft.expr.CaseMap]], behind
  * `TextExprs.lower`/`upper`) against Spark's own `lower`/`upper`,
  * generated (`CODEGEN_ONLY`) and interpreted (`NO_CODEGEN`); and the
  * lint that keeps every Column-API case mapping in `ops/` on it. */
class CaseMapSpec extends SparkSuite {

  private def session(mode: String, wholeStage: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", mode)
    s.conf.set("spark.sql.codegen.wholeStage", wholeStage)
    s
  }

  // ASCII, dotted capital I, sharp s, Greek final sigma (context-
  // sensitive in ICU), mixed scripts, astral code points, empty, null;
  // the byte rows add invalid UTF-8 (a lone continuation byte, a
  // truncated sequence, an overlong encoding)
  private val texts: Seq[Array[Byte]] = Seq(
    "Hello WORLD 123", "İstanbul", "STRASSE straße ß", "ΟΔΥΣΣΕΥΣ Σίσυφος",
    "ΣΑΣ σας", "Ǆǅǆ ǈ", "Ça va TRÈS bien", "日本語 テキスト", "𐐀𐐨 😀", "ﬃ ŉ",
    "").map(_.getBytes("UTF-8")) ++
    Seq(Array(0x80.toByte), Array('a'.toByte, 0xE2.toByte, 0x82.toByte),
      Array(0xC0.toByte, 0xAF.toByte, 'B'.toByte)) :+ null

  test("TextExprs.lower/upper equal Spark's lower/upper, codegen and interpreted") {
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")) {
      val s = session(mode, wholeStage)
      val df = s.createDataFrame(
        s.sparkContext.parallelize(texts.zipWithIndex.map { case (b, i) => Row(i.toLong, b) }, 2),
        StructType(Seq(StructField("id", LongType), StructField("b", BinaryType))))
        .select(col("id"), col("b").cast("string").as("t"))
      val got = df.select(col("id"),
        TextExprs.lower(col("t")).cast("binary"), lower(col("t")).cast("binary"),
        TextExprs.upper(col("t")).cast("binary"), upper(col("t")).cast("binary")).collect()
      assert(got.length == texts.length)
      got.foreach { r =>
        val what = s"$mode input #${r.getLong(0)}"
        def bytes(i: Int) = Option(r.getAs[Array[Byte]](i)).map(_.toSeq)
        assert(bytes(1) == bytes(2), s"lower: $what")
        assert(bytes(3) == bytes(4), s"upper: $what")
      }
      assert(got.exists(r => r.isNullAt(1)) && got.count(r => r.isNullAt(3)) == 1)
    }
  }

  test("ops/ case-maps through the kernel: no Column-API lower(/upper( outside SQL text") {
    val call = """(?<![.\w])(lower|upper)\(""".r
    // blank out comments and string literals (SQL text, oracle SQL)
    // before searching, keeping line structure
    def code(src: String): String = {
      val out = new StringBuilder
      var i = 0
      def blank(j: Int): Unit = {
        out ++= src.substring(i, j).map(c => if (c == '\n') '\n' else ' ')
        i = j
      }
      while (i < src.length) {
        if (src.startsWith("\"\"\"", i)) {
          var j = src.indexOf("\"\"\"", i + 3)
          j = if (j < 0) src.length else j + 3
          while (j < src.length && src.charAt(j) == '"') j += 1
          blank(j)
        } else if (src.charAt(i) == '"') {
          var j = i + 1
          while (j < src.length && src.charAt(j) != '"' && src.charAt(j) != '\n')
            j += (if (src.charAt(j) == '\\') 2 else 1)
          blank(math.min(j + 1, src.length))
        } else if (src.startsWith("//", i)) {
          val j = src.indexOf('\n', i)
          blank(if (j < 0) src.length else j)
        } else if (src.startsWith("/*", i)) {
          val j = src.indexOf("*/", i + 2)
          blank(if (j < 0) src.length else j + 2)
        } else if (src.charAt(i) == '\'' && i + 2 < src.length && src.charAt(i + 2) == '\'') {
          blank(i + 3)
        } else { out += src.charAt(i); i += 1 }
      }
      out.toString
    }
    // the scanner's own controls: code is seen, SQL text and comments not
    assert(call.findFirstIn(code("split(lower(c), \" \")")).isDefined)
    assert(call.findFirstIn(code("expr(\"lower(text)\") // upper(x)")).isEmpty)
    assert(call.findFirstIn(code("s\"\"\"SELECT lower(text)\"\"\"")).isEmpty)
    val files = new java.io.File("src/main/scala/graft/ops").listFiles().toSeq
      .filter(_.getName.endsWith(".scala")).sortBy(_.getName)
    assert(files.nonEmpty)
    val sites = files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      code(text).split("\n", -1).zipWithIndex.collect {
        case (l, i) if call.findFirstIn(l).isDefined => s"${f.getName}:${i + 1}"
      }
    }
    assert(sites.isEmpty, sites.mkString("\n"))
  }
}
