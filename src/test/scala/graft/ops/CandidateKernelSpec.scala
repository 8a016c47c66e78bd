package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The native near-dup kernels (`WordSpans` behind `DedupOps.spansN`,
  * `PairUp` behind `DedupOps.pairUp`) against the higher-order-function
  * forms they replaced, kept here as the reference. Every case runs
  * generated (`CODEGEN_ONLY`, whole-stage codegen on) and interpreted
  * (`NO_CODEGEN`, whole-stage codegen off), each on a child session.
  * Inputs come from an RDD, not a local relation, so the optimizer
  * cannot fold the projection on the driver. */
class CandidateKernelSpec extends SparkSuite {

  /** The former `spansN`: `transform(sequence(…))` over the tokens. */
  private def spansHof(text: Column, n: Int): Column = {
    val t = split(lower(text), " ")
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(j => element_at(t, i + j)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** The former `pairUp`: nested `transform(sequence(…))`, size ≥ 2. */
  private def pairUpHof(members: Column): Column =
    flatten(transform(sequence(lit(1), size(members) - 1), i =>
      transform(sequence(i + 1, size(members)), j =>
        struct(element_at(members, i.cast("int")).as("a"),
          element_at(members, j.cast("int")).as("b")))))

  private val modes = Seq(
    "CODEGEN_ONLY" -> "true",
    "NO_CODEGEN" -> "false")

  private def session(mode: String, wholeStage: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", mode)
    s.conf.set("spark.sql.codegen.wholeStage", wholeStage)
    s
  }

  private def frame(s: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)

  private val texts = Seq(
    "a b c d e",
    "One Two Three",               // exactly 3 tokens
    "x y",                         // under most n
    null,
    "",
    " leading space",
    "trailing space ",
    "doubled  space  inside",
    "   ",
    "Ça va très BIEN, mon ami",
    "日本語 の テキスト 例 です",
    "é é É x y z")

  test("WordSpans equals the HOF spans: every n, codegen and interpreted") {
    for ((mode, wholeStage) <- modes) {
      val s = session(mode, wholeStage)
      val df = frame(s, texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) },
        StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
      for (n <- Seq(1, 2, 3, 5, 8)) {
        val got = df.select(col("id"), DedupOps.spansN(col("text"), n).as("native"),
          spansHof(col("text"), n).as("hof"), DedupOps.shinglesN(col("text"), n).as("sh"))
          .collect()
        assert(got.length == texts.length)
        got.foreach { r =>
          val native = r.getSeq[String](1)
          assert(native == r.getSeq[String](2), s"$mode n=$n text=${texts(r.getLong(0).toInt)}")
          assert(r.getSeq[String](3) == native.distinct)
        }
      }
      // spot values: exactly n tokens gives one span; more than the token
      // count gives none; null text gives an empty array, never null;
      // empty tokens from repeated spaces stay in the span
      val one = df.where(col("id") === 1L)
        .select(DedupOps.spansN(col("text"), 3), DedupOps.spansN(col("text"), 4)).head()
      assert(one.getSeq[String](0) == Seq("one two three") && one.getSeq[String](1).isEmpty)
      val nul = df.where(col("id") === 3L).select(DedupOps.spansN(col("text"), 1)).head()
      assert(!nul.isNullAt(0) && nul.getSeq[String](0).isEmpty)
      val dbl = df.where(col("id") === 7L).select(DedupOps.spansN(col("text"), 2)).head()
      assert(dbl.getSeq[String](0) == Seq("doubled ", " space", "space ", " inside"))
    }
  }

  test("PairUp equals the HOF pairs over 2, 3 and maxGroupSize members") {
    val member = StructType(Seq(StructField("doc_id", LongType),
      StructField("sig", ArrayType(LongType))))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("members", ArrayType(member))))
    val rows = Seq(2, 3, DedupOps.maxGroupSize).map { m =>
      Row(m.toLong, (1 to m).map(i => Row(i * 10L, Seq(i.toLong, -i.toLong))))
    }
    for ((mode, wholeStage) <- modes) {
      val s = session(mode, wholeStage)
      val got = frame(s, rows, schema)
        .select(col("id"), DedupOps.pairUp(col("members")).as("native"),
          pairUpHof(col("members")).as("hof"))
      assert(got.schema("native").dataType == got.schema("hof").dataType,
        got.schema.treeString)
      got.collect().foreach { r =>
        val m = r.getLong(0).toInt
        val native = r.getSeq[Row](1)
        assert(native == r.getSeq[Row](2), s"$mode m=$m")
        assert(native.length == m * (m - 1) / 2)
        // i<j in member order, each side the original member struct
        val ids = native.map(p => (p.getStruct(0).getLong(0), p.getStruct(1).getLong(0)))
        assert(ids == (for (i <- 1 to m; j <- i + 1 to m) yield (i * 10L, j * 10L)))
        assert(native.head.getStruct(1) == Row(20L, Seq(2L, -2L)))
      }
    }
  }
}
