package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

class DedupOpsSpec extends SparkSuite {

  test("q64 exact dedup: planted exact duplicates collapse to one keeper") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("dedup").toString
    Seq(
      (1L, "alpha beta gamma", "en", "t", 16L),
      (2L, "ALPHA  beta GAMMA", "en", "t", 17L), // same after canon
      (3L, "totally different text", "en", "t", 22L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = DedupOps.q64ExactDedup(spark, tmp).collect()
    assert(r.length == 2)
    val dupGroup = r.find(_.getLong(2) == 2L).get
    assert(dupGroup.getLong(1) == 1L) // keeper = min doc_id
  }

  test("q65 minhash-lsh finds the exact-jaccard pairs and estimates well") {
    val exact = DedupOps.q66NgramJaccard(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val est = DedupOps.q65MinhashLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty) // fixture has planted near-duplicates
    // recall: every high-jaccard exact pair must surface as a candidate
    val high = exact.filter(_._2 >= 0.8)
    val found = high.keySet.intersect(est.keySet)
    assert(found.size.toDouble / high.size >= 0.9,
      s"recall ${found.size}/${high.size}")
    // estimate quality: |est - exact| <= 0.25 on shared pairs (k=32)
    found.foreach { p =>
      assert(math.abs(est(p) - exact(p)) <= 0.25, s"$p est=${est(p)} exact=${exact(p)}")
    }
  }

  test("q67 simhash: near-identical docs have small hamming; disjoint docs do not") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog every single day"),
      (2L, "the quick brown fox jumps over the lazy dog every single night"), // 1 tok diff
      (3L, "zqx wvu tsr qpo nml kji hgf edc baz yxw"),                        // disjoint
    ).toDF("doc_id", "text")
    val sigs = df.select($"doc_id", DedupOps.simhashCol($"text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def hamming(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(sigs(1L).length == 64 && sigs(1L).forall(c => c == '0' || c == '1'))
    assert(hamming(sigs(1L), sigs(2L)) < hamming(sigs(1L), sigs(3L)))
    assert(hamming(sigs(1L), sigs(2L)) <= 12)
  }

  test("q69 simhash near-dup surfaces the planted near-duplicate pairs") {
    val planted = DedupOps.q66NgramJaccard(spark, sf0001).collect()
      .filter(_.getDouble(2) >= 0.9).map(r => (r.getLong(0), r.getLong(1))).toSet
    val simPairs = DedupOps.q69SimhashNearDup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = planted.intersect(simPairs)
    assert(found.size.toDouble / planted.size >= 0.8,
      s"recall ${found.size}/${planted.size}")
  }

  test("q68 embedding near-dup: symmetric pairs, cosine in (0.4, 1]") {
    val rows = DedupOps.q68EmbeddingNearDup(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) > 0.4 && r.getDouble(2) <= 1.0)
    }
  }

  test("maxGroupSize cap: a hot shingle/bucket above the cap emits no pairs") {
    import spark.implicits._
    // 120 identical boilerplate docs (every shingle df = 120 > maxGroupSize
    // = 100) — without the cap q66 would emit 120*119/2 = 7140 jaccard-1.0
    // pairs and q65 would pair the whole identical-signature bucket. One
    // genuine near-dup pair (df = 2) must still surface.
    assert(DedupOps.maxGroupSize < 120)
    val tmp = java.nio.file.Files.createTempDirectory("dedup_cap").toString
    val boiler = (0L until 120L).map(i =>
      (i, "common boilerplate footer text appears on every page"))
    val words = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = Seq((200L, words + " alpha"), (201L, words + " omega"))
    (boiler ++ near).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val exact = DedupOps.q66NgramJaccard(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(exact.toSeq == Seq((200L, 201L)), exact.mkString(","))
    val est = DedupOps.q65MinhashLsh(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(est.toSeq == Seq((200L, 201L)), est.mkString(","))
  }

  test("q79 clusters transitively: a~b, b~c => one cluster even when a!~c") {
    import spark.implicits._
    // sliding 20-token windows over w1..w30: jaccard(a,b) = jaccard(b,c)
    // = 13/23 ≈ 0.57 >= 0.5 but jaccard(a,c) = 8/28 ≈ 0.29 < 0.5 —
    // only min-label propagation (not the pair set) unites {1,2,3}.
    def windowText(from: Int): String = (from until from + 20).map(i => s"w$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("dedup_cc").toString
    Seq(
      (1L, windowText(1)), (2L, windowText(6)), (3L, windowText(11)),
      (4L, "completely unrelated standalone document body"),
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = DedupOps.q66NgramJaccard(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L)), pairs)
    val r = DedupOps.q79NeardupClusters(spark, tmp).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getBoolean(2))).toMap
    assert(r == Map(
      1L -> (1L, true), 2L -> (1L, false), 3L -> (1L, false),
      4L -> (4L, true)))
  }

  test("q79 converges on a 6-doc chain (diameter 5, multi-round propagation)") {
    import spark.implicits._
    def windowText(from: Int): String = (from until from + 20).map(i => s"w$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("dedup_chain").toString
    // consecutive 20-token windows at stride 5: adjacent jaccard ≈ 0.57
    // (linked), two-apart ≈ 0.29 (not linked) — a pure chain
    (0 until 6).map(k => ((k + 1).toLong, windowText(1 + 5 * k))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = DedupOps.q79NeardupClusters(spark, tmp).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getBoolean(2)))).toMap
    assert(r == (1L to 6L).map(d => d -> ((1L, d == 1L))).toMap, r)
  }

  test("q79 converges on a 64-doc chain (diameter 63 >> maxCcIterations): pointer jumping") {
    import spark.implicits._
    // plain min-label propagation needs diameter-many rounds (63 > the
    // 20-round fail-fast); the pointer-jumping loop must converge in
    // ~log2(63) ≈ 6 rounds — this spec is the regression pin for that
    def windowText(from: Int): String = (from until from + 20).map(i => s"w$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("dedup_longchain").toString
    (0 until 64).map(k => ((k + 1).toLong, windowText(1 + 5 * k))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = DedupOps.q79NeardupClusters(spark, tmp).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getBoolean(2)))).toMap
    assert(r == (1L to 64L).map(d => d -> ((1L, d == 1L))).toMap)
  }

  test("q55 span dedup: planted boilerplate spans counted; short/unique docs zero") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("span_dedup").toString
    // docs 1,2: a shared 10-token boilerplate prefix (3 fully-contained
    // 8-gram spans) followed by 8 unique tokens each; doc 3 unique;
    // doc 4 under 8 tokens (zero spans)
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    def uniq(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    Seq(
      (1L, boiler + " " + uniq("x", 8)),
      (2L, boiler + " " + uniq("y", 8)),
      (3L, uniq("z", 20)),
      (4L, "too short for any span"),
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = DedupOps.q55SpanDedup(spark, tmp).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    // 18 tokens → 11 spans; spans at starts 1..3 stay inside the
    // boilerplate and repeat across docs 1/2, the rest touch unique toks
    assert(r(1L) == ((11L, 3L, 3.0 / 11)))
    assert(r(2L) == ((11L, 3L, 3.0 / 11)))
    assert(r(3L) == ((13L, 0L, 0.0)))
    assert(r(4L) == ((0L, 0L, 0.0)))
  }

  test("q58 span mask: boilerplate tokens masked, unique remainder kept verbatim") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("span_mask").toString
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    def uniq(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    Seq(
      (1L, boiler + " " + uniq("x", 8)),
      (2L, boiler + " " + uniq("y", 8)),
      (3L, uniq("z", 20)),
      (4L, "too short for any span"),
      // same 8-gram repeated TWICE in one doc but nowhere else: within-
      // doc multiplicity must NOT count as cross-doc duplication
      (5L, uniq("w", 8) + " " + uniq("w", 8)),
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = DedupOps.q58SpanMask(spark, tmp).collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getLong(2)))).toMap
    // duplicated spans start at 1..3, covering exactly tokens 1..10
    val maskedBoiler = Seq.fill(10)("<DUP>").mkString(" ")
    assert(r(1L) == ((maskedBoiler + " " + uniq("x", 8), 10L)))
    assert(r(2L) == ((maskedBoiler + " " + uniq("y", 8), 10L)))
    assert(r(3L) == ((uniq("z", 20), 0L)))
    assert(r(4L) == (("too short for any span", 0L)))
    assert(r(5L) == ((uniq("w", 8) + " " + uniq("w", 8), 0L)))
  }

  test("q56 span decontamination: exact ratios for full/half/clean/short docs") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("span_decontam").toString
    val bench = (1 to 16).map(i => s"b$i").mkString(" ")
    def uniq(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    assert(DedupOps.contamBenchmarkIds == 10L) // doc 0 plays the eval set
    Seq(
      (0L, bench),                     // benchmark doc (excluded from output)
      (20L, bench),                    // verbatim copy: fully contaminated
      (21L, bench + " " + uniq("u", 16)), // contaminated prefix only
      (22L, uniq("c", 20)),            // clean
      (23L, "a b c"),                  // under 8 tokens: zero positions
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = DedupOps.q56SpanDecontam(spark, tmp).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r.keySet == Set(20L, 21L, 22L, 23L))
    // 16 benchmark tokens → 9 span positions, all matched
    assert(r(20L) == ((9L, 9L, 1.0)))
    // 32 tokens → 25 positions; only starts 1..9 stay inside the prefix
    assert(r(21L) == ((25L, 9L, 9.0 / 25)))
    assert(r(22L) == ((13L, 0L, 0.0)))
    assert(r(23L) == ((0L, 0L, 0.0)))
  }

  test("q113 overlap matrix: accounts for every q66 pair, sources normalized") {
    import spark.implicits._
    val pairs = DedupOps.q66NgramJaccard(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val src = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = pairs.groupBy { case (a, b, _) =>
      val (sa, sb) = (src(a), src(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.view.mapValues(_.map(_._3)).toMap
    val got = DedupOps.q113SourceOverlap(spark, sf0001).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4))))
    assert(got.length == expect.size && got.map(_._2._1).sum == pairs.length)
    got.foreach { case (k, (n, avgJ, maxJ)) =>
      val js = expect(k)
      assert(n == js.length && math.abs(maxJ - js.max) < 1e-12)
      assert(math.abs(avgJ - js.sum / js.length) < 1e-3)
      assert(k._1 <= k._2)
    }
  }

  test("q114 incremental dedup: all three verdicts, replayed from first principles") {
    import spark.implicits._
    val texts = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def batchText(id: Long): String =
      if (id % 14 == 0) texts.getOrElse(id + 1, texts(id))
      else if (id % 21 == 0) "batch boilerplate duplicate"
      else texts(id)
    val batchIds = texts.keys.filter(_ % 7 == 0).toSeq.sorted
    val corpus = texts.collect { case (id, t) if id % 7 != 0 => t }.toSet
    val seen = scala.collection.mutable.Set[String]()
    val expect = batchIds.map { id =>
      val t = batchText(id)
      val v = if (corpus(t)) "dup_of_corpus"
        else if (seen(t)) "dup_in_batch" else "fresh"
      seen += t
      id -> v
    }.toMap
    val got = DedupOps.q114IncrementalDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(2)))
    assert(got.length == batchIds.length)
    got.foreach { case (id, v) => assert(v == expect(id), s"doc $id") }
    val byV = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byV.keySet == Set("fresh", "dup_of_corpus", "dup_in_batch"))
  }

  test("q118 threshold curve accounts for exactly q68's pair set") {
    import spark.implicits._
    val cosines = DedupOps.q68EmbeddingNearDup(spark, sf0001).collect()
      .map(_.getDouble(2))
    val expect = cosines.groupBy(c => math.floor(c * 100).toLong)
      .view.mapValues(_.length.toLong).toMap
    val got = DedupOps.q118ThresholdCurve(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSet == expect.keySet)
    got.foreach { case (c, n, _) => assert(n == expect(c), s"centile $c") }
    // cumulative-from-above: decreasing in centile, tops out at the total
    assert(got.map(_._3).sliding(2).forall(p => p.head >= p.last))
    assert(got.map(_._2).sum == cosines.length && got.head._3 == cosines.length)
  }

  test("q120 split: near-dup pairs never straddle splits; singletons match q91") {
    import spark.implicits._
    val split = DedupOps.q120LeakageSafeSplit(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    val byDoc = split.map(r => r._1 -> r._3).toMap
    // every exact near-dup pair lands in ONE split — the leakage guarantee
    val pairs = DedupOps.q66NgramJaccard(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(byDoc(a) == byDoc(b), s"pair ($a,$b) straddles splits")
    }
    // singleton docs (cluster_id == doc_id) reduce to q91's assignment
    val q91 = TextOps.q91TrainValTest(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val singles = split.filter { case (d, c, _) => d == c }
    assert(singles.nonEmpty)
    singles.foreach { case (d, _, sp) => assert(sp == q91(d), s"doc $d") }
    // all three splits are populated
    assert(split.map(_._3).toSet == Set("train", "val", "test"))
  }

  test("q122 centrality: 5 fixed-point rounds replay exactly; overlap beats isolation") {
    import spark.implicits._
    val srcOf = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = DedupOps.q66NgramJaccard(spark, sf0001).collect()
      .map(r => (srcOf(r.getLong(0)), srcOf(r.getLong(1))))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nodes = srcOf.values.toSet.toSeq.sorted
    val n = nodes.length
    val outW = edges.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val S = DedupOps.prScale
    var rank = nodes.map(_ -> S / n).toMap
    (1 to DedupOps.prRounds).foreach { _ =>
      val inflow = edges.toSeq.groupBy(_._1._2).view.mapValues(_.map {
        case ((src, _), w) => rank(src) * w / outW(src)
      }.sum).toMap
      rank = nodes.map(s =>
        s -> ((15 * S / 100) / n + 85 * inflow.getOrElse(s, 0L) / 100)).toMap
    }
    val got = DedupOps.q122SourceCentrality(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.length == n)
    got.foreach { case (s, r) => assert(r == rank(s), s"source $s") }
    // sources in the overlap graph outrank isolated (teleport-only) ones
    val teleportOnly = (15 * S / 100) / n
    val connected = got.filter(g => outW.contains(g._1))
    val isolated = got.filterNot(g => outW.contains(g._1))
    assert(connected.nonEmpty)
    if (isolated.nonEmpty) {
      assert(isolated.forall(_._2 == teleportOnly))
      assert(connected.map(_._2).min > teleportOnly)
    }
  }

  test("q122 centrality on zero documents: an empty rank frame, no division by zero") {
    // a schema-only copy of documents, built at test time under target/
    val dir = new java.io.File("target/empty_documents").getAbsolutePath
    spark.read.parquet(s"$sf0001/documents.parquet").limit(0)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = DedupOps.q122SourceCentrality(spark, dir)
    assert(got.columns.toSeq == Seq("source", "rank"))
    assert(got.schema("rank").dataType == org.apache.spark.sql.types.LongType)
    assert(got.collect().isEmpty)
  }

  test("q126 hard negatives: per-vector argmax inside the band, replayed") {
    import spark.implicits._
    val pairs = DedupOps.q68EmbeddingNearDup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(_._3 <= DedupOps.hardNegCap)
    val sym = pairs.flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
    val expect = sym.groupBy(_._1).view.mapValues(
      _.minBy { case (_, n, c) => (-c, n) }).toMap
    val got = DedupOps.q126HardNegatives(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == expect.size && got.nonEmpty)
    got.foreach { case (v, n, c) =>
      val (_, en, ec) = expect(v)
      assert(n == en && c == ec, s"vec $v")
      assert(c > 0.4 && c <= DedupOps.hardNegCap)
    }
  }

  test("q127 incremental == full recompute, and the delta genuinely merges") {
    import spark.implicits._
    val full = DedupOps.q79NeardupClusters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val incr = DedupOps.q127IncrementalClusters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr == full, "incremental labels must equal the full recompute")
    // the fixture's delta is non-trivial: pairs cross the boundary, and at
    // least one component spans old and new docs (so contraction + the
    // second fixpoint actually did work, not just a no-op passthrough)
    val pairs = DedupOps.q66NgramJaccard(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val b = DedupOps.incrBoundary
    assert(pairs.exists { case (x, y) => x < b && y < b }, "need old-only pairs")
    assert(pairs.exists { case (x, y) => x >= b || y >= b }, "need delta pairs")
    val spanning = full.groupBy(_._2).values
      .exists(m => m.exists(_._1 < b) && m.exists(_._1 >= b) && m.size > 1)
    assert(spanning, "need a component spanning the boundary")
  }

  test("q131 ledger: stage accounting recomposes from the member operators") {
    import spark.implicits._
    val toks = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ntok = toks.map { case (id, t) => id -> t.split(" ", -1).length.toLong }.toMap
    val exKeep = toks.groupBy(_._2).values.map(_.map(_._1).min).toSet
    val ccKeep = DedupOps.q79NeardupClusters(spark, sf0001).collect()
      .filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    val qKeep = TextOps.q62QualityScore(spark, sf0001).collect()
      .filter(_.getBoolean(5)).map(_.getLong(0)).toSet
    val ids = ntok.keySet
    val stages = Seq(
      ("raw", ids),
      ("exact_dedup", ids.filter(exKeep)),
      ("neardup_keeper", ids.filter(d => exKeep(d) && ccKeep(d))),
      ("quality", ids.filter(d => exKeep(d) && ccKeep(d) && qKeep(d))))
    val got = DedupOps.q131RetentionLedger(spark, sf0001).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 4)
    got.zip(stages).foreach { case ((s, nd, nt), (es, set)) =>
      assert(s == es)
      assert(nd == set.size, s"stage $s docs")
      assert(nt == set.toSeq.map(ntok).sum, s"stage $s tokens")
    }
    // attrition is monotone and the final gate genuinely removes docs
    assert(got.map(_._2).sliding(2).forall(p => p.head >= p.last))
    assert(got.last._2 < got.head._2)
  }

  test("shingles3: correct 3-grams, deduped, empty under 3 tokens") {
    import spark.implicits._
    val got = Seq("a b c d", "a b", "x y z x y z x y z").toDF("text")
      .select(DedupOps.shingles3($"text").as("s")).collect().map(_.getSeq[String](0))
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1).isEmpty)
    assert(got(2).sorted == Seq("x y z", "y z x", "z x y").sorted)
  }

  test("q155 catalog: planted shared span surfaces with both counts; " +
      "single-doc repeats stay out") {
    import spark.implicits._
    val span = (1 to 8).map(i => s"w$i").mkString(" ") // one exact 8-gram
    val docs = Seq(
      (10L, s"$span trailing junk one"),        // span once
      (20L, s"leading junk $span"),             // span once, other doc
      (30L, s"$span middle filler text $span"), // span twice, same doc
      (40L, "a b c d e f g h a b c d e f g h a b c d e f g h"), // self-repeat only
    ).toDF("doc_id", "text")
    val got = DedupOps.catalogOf(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // the planted span: 4 occurrences over docs 10/20/30, sample = min id
    assert(got(span) == ((4L, 3L, 10L)))
    // doc 40's "a b c d e f g h" repeats 3x but only inside ONE doc:
    // n_docs >= 2 keeps it out of the catalog
    assert(!got.contains("a b c d e f g h"))
    // every surfaced span is genuinely cross-document
    assert(got.values.forall { case (occ, nd, _) => nd >= 2 && occ >= nd })
  }

  test("q160 containment catches a quote-inclusion pair Jaccard misses") {
    import spark.implicits._
    // doc 1 is quoted whole at the head of doc 2 (a license block /
    // syndicated-article shape); doc 3 shares nothing
    val small = "alpha beta gamma delta epsilon"
    val big = small + " " + (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, small), (2L, big),
      (3L, "totally different words here entirely"),
    ).toDF("doc_id", "text")
    val got = DedupOps.containmentPairsOf(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set((1L, 2L)))
    val (contAb, contBa) = got((1L, 2L))
    // every shingle of the small doc appears in the big one...
    assert(contAb == 1.0)
    // ...while the symmetric Jaccard on the same pair (|∩|=3, |A|=3,
    // |B|=33 → 3/33) is far below q66's 0.5 bar — the asymmetric
    // measure is what surfaces this dup mode
    assert(contBa == 3.0 / 33.0 && contBa < 0.5)
  }

  test("q164 novelty: fresh doc 1.0, re-serve 0.0, half-copy in between") {
    import spark.implicits._
    val orig = "one two three four five six"        // 4 shingles, doc 1
    val docs = Seq(
      (1L, orig),                                    // first occurrence of all
      (2L, orig),                                    // exact re-serve: 0 novel
      (3L, orig + " seven eight nine"),              // 7 shingles, 3 novel
      (4L, "wholly fresh content never seen before"),// all novel
    ).toDF("doc_id", "text")
    val got = DedupOps.noveltyOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == ((4L, 4L, 1000000L)))
    assert(got(2L) == ((4L, 0L, 0L)))
    assert(got(3L) == ((7L, 3L, 428571L)))
    assert(got(4L) == ((4L, 4L, 1000000L)))
  }

  test("q213 source accounting: dup docs equal the q66 pair endpoints") {
    val pairs = DedupOps.q66NgramJaccard(spark, sf0001).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val rows = DedupOps.q213DupRateBySource(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._3).sum == pairs.size.toLong)
    assert(rows.map(_._2).sum ==
      graft.Tables.documents(spark, sf0001).count())
    rows.foreach { case (_, n, d, ppm) =>
      assert(d <= n && ppm == 1000000L * d / n)
    }
  }

  test("q243 golden record: survivorship rules replay against q79 clusters") {
    import spark.implicits._
    val golden = DedupOps.q243GoldenRecord(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5), r.getLong(6)))
    val labels = DedupOps.q79NeardupClusters(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val docs = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"lang", $"source", $"n_chars").collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getLong(3)))).toMap
    val clusters = labels.groupBy(_._2).filter(_._2.length > 1)
    assert(golden.map(_._1).toSet == clusters.keySet,
      "exactly the multi-member q79 clusters emit a golden record")
    golden.foreach { case (cid, n, rep, cdoc, cchars, lang, nsrc) =>
      val ms = clusters(cid).map(_._1)
      assert(n == ms.length.toLong && rep == ms.min)
      assert(rep == cid, "min-label cluster id IS the min member id")
      val pick = ms.map(id => (id, docs(id)._3)).minBy(p => (-p._2, p._1))
      assert(cdoc == pick._1 && cchars == pick._2)
      val votes = ms.map(id => docs(id)._1).groupBy(identity)
        .view.mapValues(_.length).toMap
      assert(lang == votes.toSeq.minBy { case (l, v) => (-v, l) }._1)
      assert(nsrc == ms.map(id => docs(id)._2).distinct.length.toLong)
    }
  }

  test("q256 ROI: sizes/bytes replay exactly from q79 clusters; savings match the keeper rule") {
    import spark.implicits._
    val got = DedupOps.q256DedupRoi(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val labels = DedupOps.q79NeardupClusters(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val chars = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clusters = labels.groupBy(_._2).filter(_._2.length > 1)
    val want = clusters.toSeq.map { case (cid, ms) =>
      val ids = ms.map(_._1)
      (ids.length.toLong, ids.map(chars).sum - chars(cid)) // keeper = min id = cid
    }.groupBy(_._1).toSeq.map { case (sz, cs) =>
      (sz, cs.length.toLong, cs.length * (sz - 1), cs.map(_._2).sum)
    }.sortBy(_._1)
    assert(got.toSeq == want)
    assert(got.map(_._2).sum == clusters.size.toLong, "every cluster counted once")
    // the forecast equals what q79's keep-one policy would actually delete
    assert(got.map(_._3).sum ==
      labels.count { case (id, cid) => id != cid && clusters.contains(cid) }.toLong)
  }

  test("q265 advisor: exact fixed-point replay; recall degrades as rows-per-band grow") {
    val got = DedupOps.q265LshAdvisor(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sims = DedupOps.q66NgramJaccard(spark, sf0001).collect()
      .map(r => math.floor(r.getDouble(2) * 1000).toLong)
    def pow(v: Long, k: Int) = (1 to k).foldLeft(1000L)((a, _) => a * v / 1000)
    got.foreach { case (b, r, ppm) =>
      val want = 1000L * sims.map(s =>
        1000L - pow(1000L - pow(s, r.toInt), b.toInt)).sum / sims.length
      assert(ppm == want, s"config ($b,$r)")
      assert(ppm >= 0 && ppm <= 1000000L)
    }
    // on a ≥0.5-similarity pair set, finer bands (smaller r) catch more
    val byR = got.sortBy(_._2).map(_._3)
    assert(byR.toSeq == byR.sortBy(-_).toSeq,
      s"recall must be non-increasing in rows-per-band: ${got.toSeq}")
    assert(byR.head > byR.last, "the tradeoff must be visible on this corpus")
  }

  test("q268 agreement: cross-tab replays from the three home queries") {
    import spark.implicits._
    val got = DedupOps.q268MethodAgreement(spark, sf0001).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val jac = DedupOps.q66NgramJaccard(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cont = DedupOps.q160ContainmentDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val exact = docs.groupBy(d => md5hex(d._2.toLowerCase.replaceAll(" +", " ")))
      .values.filter(g => g.length >= 2 && g.length <= DedupOps.maxGroupSize)
      .flatMap { g =>
        val ids = g.map(_._1).sorted
        for (i <- ids.indices; j <- i + 1 until ids.length)
          yield (ids(i), ids(j))
      }.toSet
    def xt(a: Set[(Long, Long)], b: Set[(Long, Long)]) = {
      val both = (a & b).size.toLong
      val oa = (a -- b).size.toLong
      val ob = (b -- a).size.toLong
      (both, oa, ob, 1000000L * both / (both + oa + ob))
    }
    assert(got(("exact", "jaccard"))    == xt(exact, jac))
    assert(got(("exact", "containment")) == xt(exact, cont))
    assert(got(("jaccard", "containment")) == xt(jac, cont))
    // healthy nesting on this corpus: symmetric Jaccard never finds a
    // pair the asymmetric containment misses
    assert(got(("jaccard", "containment"))._2 == 0L,
      "jaccard-only pairs would mean containment under-detects")
  }

  test("q280 budget: histogram replay from the shared band/shingle frames") {
    import spark.implicits._
    val got = DedupOps.q280PairBudget(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    val cap = DedupOps.maxGroupSize
    def fold(ms: Seq[Long]) = {
      val live = ms.filter(_ >= 2)
      (live.length.toLong, live.count(_ > cap).toLong,
        live.filter(_ <= cap).map(m => m * (m - 1) / 2).sum,
        live.filter(_ > cap).map(m => m * (m - 1) / 2).sum)
    }
    val bandMs = DedupOps.minhashBanded(spark, sf0001)
      .groupBy($"band", $"bucket")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("m"))
      .collect().map(_.getLong(2)).toSeq
    assert(got("minhash_band") == fold(bandMs))
    // shingle histogram independently from the corpus text
    val shMs = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").collect()
      .flatMap { r =>
        val toks = r.getString(1).toLowerCase.split(" ", -1)
        toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
          .distinct.map(sh => (sh, r.getLong(0)))
      }
      .groupBy(_._1).map { case (_, g) => g.length.toLong }.toSeq
    assert(got("shingle") == fold(shMs))
    // the q66 pair count is bounded by the advisor's within-cap budget
    val q66n = DedupOps.q66NgramJaccard(spark, sf0001).count()
    assert(q66n <= got("shingle")._3,
      "emitted pairs can never exceed the priced fan-out")
  }

  test("q281 recapture: Chapman replay from the two detectors' catches") {
    import spark.implicits._
    val Array(r) = DedupOps.q281DedupRecapture(spark, sf0001).collect()
    val s1 = DedupOps.q65MinhashLsh(spark, sf0001).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val s2 = DedupOps.q69SimhashNearDup(spark, sf0001).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val (n1, n2, m) = (s1.size.toLong, s2.size.toLong, (s1 & s2).size.toLong)
    val est = (n1 + 1) * (n2 + 1) / (m + 1) - 1
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((n1, n2, m, n1 + n2 - m)))
    assert(r.getLong(4) == est)
    assert(r.getLong(5) == math.max(0L, est - (n1 + n2 - m)))
    // the fixture detectors overlap heavily — the estimate must at
    // least cover everything actually observed
    assert(m > 0L, "detectors must agree on something for Chapman to mean anything")
    assert(r.getLong(4) >= m)
  }

  test("q290 density: edges-within-cluster replay; cliques read 1e6 ppm") {
    import spark.implicits._
    val got = DedupOps.q290ClusterDensity(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val labels = DedupOps.q79NeardupClusters(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairs = DedupOps.q66NgramJaccard(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byCluster = labels.groupBy(_._2).filter(_._2.length >= 2)
    assert(got.map(_._1).toSet == byCluster.keySet)
    val lbl = labels.toMap
    got.foreach { case (cid, size, edges, ppm) =>
      assert(size == byCluster(cid).length.toLong)
      val want = pairs.count(p => lbl(p._1) == cid).toLong
      assert(edges == want, s"cluster $cid")
      assert(ppm == 1000000L * edges / (size * (size - 1) / 2))
      // both endpoints of every counted edge really live in the cluster
      pairs.filter(p => lbl(p._1) == cid).foreach(p => assert(lbl(p._2) == cid))
    }
    // every pair is intra-cluster by construction, so a size-2
    // cluster is necessarily a clique
    got.filter(_._2 == 2L).foreach(g => assert(g._4 == 1000000L))
  }

  test("q292 prefix filter: lossless vs q66; candidates strictly shrink") {
    import spark.implicits._
    val viaPrefix = DedupOps.q292PrefixFilterJoin(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val viaBlocks = DedupOps.q66NgramJaccard(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(viaPrefix.toSeq == viaBlocks.toSeq,
      "prefix filtering must be lossless at the threshold")
    val cands = DedupOps.prefixCandidates(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall: every emitted pair was a candidate
    assert(viaBlocks.forall(p => cands((p._1, p._2))))
    // the filter buys a real reduction over all-shingle blocking
    val docs = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase.split(" ", -1)
        .sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet))
    val allShared = (for {
      i <- docs.indices; j <- i + 1 until docs.length
      if (docs(i)._2 & docs(j)._2).nonEmpty
    } yield 1).length
    assert(cands.size < allShared,
      s"prefix candidates ${cands.size} must undercut all-shingle $allShared")
  }

  test("q292 is a FENCED baseline: its candidate stage carries the " +
      "hot-block cap, and the production path stays the blocked pipeline") {
    import spark.implicits._
    // plant a corpus where 120 identical docs share every shingle
    // (df = 120 > maxGroupSize): an uncapped AllPairs candidate stage
    // would emit (120 choose 2) pairs from that block alone; the cap
    // drops the hot block outright, so only the two cold near-dup
    // docs pair up — even the disclosed baseline cannot go quadratic
    // on a hot token
    assert(DedupOps.maxGroupSize < 120)
    val tmp = java.nio.file.Files.createTempDirectory("q292_cap").toString
    val hot = (0L until 120L).map(i =>
      (i, "common boilerplate footer text appears on every page"))
    val words = (1 to 30).map(i => s"w$i").mkString(" ")
    val cold = Seq((900L, words + " alpha"), (901L, words + " omega"))
    (hot ++ cold).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val cands = DedupOps.prefixCandidates(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!cands.exists { case (a, b) => a < 900L && b < 900L },
      "the over-cap hot block leaked candidate pairs into the baseline")
    assert(cands((900L, 901L)), "cold blocks must still pair")
    // the baseline's full verify agrees with the PRODUCTION default
    // (q66's capped blocked pipeline) on the planted corpus — the
    // default path emits the same fenced result
    val base = DedupOps.q292PrefixFilterJoin(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val prod = DedupOps.q66NgramJaccard(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(base == Seq((900L, 901L)) && prod == base)
  }

  test("q297 threshold sweep: 0.5 row matches q66; counts monotone; docs bounded") {
    import spark.implicits._
    val got = DedupOps.q297DedupThresholdSweep(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSeq == Seq(500L, 600L, 700L, 800L, 900L))
    // the 0.5 row must agree exactly with q66's emitted pair set
    val q66p = DedupOps.q66NgramJaccard(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.head._2 == q66p.length.toLong)
    assert(got.head._3 ==
      q66p.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong)
    // tightening the threshold can only shrink both counts
    assert(got.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    assert(got.map(_._3).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    // a pair touches two docs; a doc can appear in many pairs
    got.foreach { case (_, np, nd) => assert(nd <= 2 * np) }
  }

  test("q299 cross-source matrix: cell replay; totals conserve q66's pair count") {
    import spark.implicits._
    val got = DedupOps.q299CrossSourceDups(spark, sf0001).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val src = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val pairs = DedupOps.q66NgramJaccard(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = pairs.groupBy { case (a, b) =>
      val (sa, sb) = (src(a), src(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.map { case (k, g) => k -> g.length.toLong }
    assert(got == want)
    assert(got.values.sum == pairs.length.toLong,
      "every pair lands in exactly one cell")
    got.keys.foreach { case (a, b) => assert(a <= b, "triangle grain") }
  }

  test("q301 keeper divergence: agrees with q74/q79's own keeper choices") {
    import spark.implicits._
    val got = DedupOps.q301KeeperDivergence(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getDouble(5)))
    val q79k = DedupOps.q79NeardupClusters(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val q74k = DedupOps.q74ClusterKeepers(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    val realClusters = q79k.groupBy(_._2).filter(_._2.length >= 2)
    assert(got.map(_._1).toSet == realClusters.keySet)
    val quality = q74k.map(k => k._1 -> k._3).toMap
    got.foreach { case (cid, size, minid, qk, differs, delta) =>
      assert(size == realClusters(cid).length.toLong)
      // q79's keeper convention: the cluster label IS the min id
      assert(minid == realClusters(cid).map(_._1).min && minid == cid)
      // q74's kept doc in this cluster is exactly the quality keeper
      val kept74 = q74k.filter(k => k._2 == cid && k._4).map(_._1)
      assert(kept74.toSeq == Seq(qk), s"cluster $cid")
      assert(differs == (minid != qk))
      assert(math.abs(delta - (quality(qk) - quality(minid))) < 1e-12)
      assert(delta >= 0.0, "the quality keeper can never be worse")
    }
    // the diagnostic is live on this corpus: at least one cluster
    // where the two policies disagree, and at least one where they
    // agree (min-id doc happens to be the best)
    assert(got.exists(_._5) && got.exists(!_._5))
  }

  test("q359 exact-substring dedup: first copy survives, later copies drop") {
    import spark.implicits._
    def words(pfx: String, n: Int) = (1 to n).map(i => s"$pfx$i").mkString(" ")
    val shared = words("s", 8)
    val docs = Seq(
      (1L, shared),                                   // first occurrence
      (2L, shared),                                   // exact duplicate: all dropped
      (3L, s"${words("a", 4)} $shared ${words("b", 4)}") // loses only the span
    ).toDF("doc_id", "text")
    val got = DedupOps.exactSubstrOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(got(0) == ((1L, 8L, 0L, shared)), "first occurrence must be intact")
    assert(got(1) == ((2L, 8L, 8L, "")), "exact duplicate must empty out")
    assert(got(2) == ((3L, 16L, 8L, s"${words("a", 4)} ${words("b", 4)}")))
  }

  test("q359 exact-substring dedup: same-doc repetition keeps the first run") {
    import spark.implicits._
    val run = (1 to 8).map(i => s"r$i").mkString(" ")
    // the run appears twice inside ONE doc, separated by unique filler
    val docs = Seq((1L, s"$run u1 u2 u3 u4 u5 u6 u7 u8 $run"))
      .toDF("doc_id", "text")
    val got = DedupOps.exactSubstrOf(docs).collect()(0)
    assert(got.getLong(1) == 24L && got.getLong(2) == 8L)
    assert(got.getString(3) == s"$run u1 u2 u3 u4 u5 u6 u7 u8")
  }

  test("q356 winnowing: a shared run of w+k-1 tokens shares a fingerprint") {
    import spark.implicits._
    val run = (1 to 8).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma delta $run tail1 tail2 tail3"),
      (2L, s"uno dos tres cuatro cinco $run seis siete")).toDF("doc_id", "text")
    val fps = DedupOps.winnowOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val h1 = fps.filter(_._1 == 1L).map(_._2).toSet
    val h2 = fps.filter(_._1 == 2L).map(_._2).toSet
    // the guarantee: both fingerprint sets caught a gram of the run
    assert((h1 & h2).nonEmpty, "shared 8-token run produced no shared fingerprint")
    // and the docs are otherwise disjoint, so the overlap IS the run
    assert((h1 -- h2).nonEmpty && (h2 -- h1).nonEmpty)
  }

  test("q356 winnowing: all-tied hashes select the rightmost per window") {
    import spark.implicits._
    // 12 identical tokens -> 8 identical gram hashes; each of the 5
    // windows selects its rightmost position: 3,4,5,6,7
    val docs = Seq((1L, Seq.fill(12)("the").mkString(" "))).toDF("doc_id", "text")
    val got = DedupOps.winnowOf(docs).collect()
      .map(r => r.getLong(1)).sorted.toSeq
    assert(got == Seq(3L, 4L, 5L, 6L, 7L))
  }

  test("q356 winnowing: fingerprint density near the 2/(w+1) expectation") {
    val docs = graft.Tables.documents(spark, sf0001)
    val nGrams = docs.selectExpr(
      s"size(split(lower(text), ' ')) - ${DedupOps.winnowK - 1} AS m")
      .where(s"m >= ${DedupOps.winnowW}")
      .agg(org.apache.spark.sql.functions.sum("m")).collect()(0).getLong(0)
    val nFps = DedupOps.q356WinnowFingerprints(spark, sf0001).count()
    val density = nFps.toDouble / nGrams
    assert(density > 0.25 && density < 0.55, s"density $density")
  }

  test("q469 dedup quality eval: planted TP/FP/FN arithmetic — a short " +
    "doc's mutant falls below threshold (FN), a natural dup counts FP") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("q469").toString
    val long = (1 to 12).map(i => s"w$i").mkString(" ")
    Seq((1L, "alpha beta gamma"), // 1 shingle: its mutant dives to J=1/3
        (2L, long), (3L, long))   // natural exact dup: an FP vs truth
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = DedupOps.q469DedupQualityEval(spark, tmp).collect().head
    val (nT, tp, fp, fn) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nT == 3L && tp == 2L && fn == 1L, s"($nT, $tp, $fn)")
    // FP set: (2,3) the natural dup, cross mutant pairs (2,1000003),
    // (3,1000002), and the mutant-mutant dup (1000002,1000003)
    assert(fp == 4L, s"fp $fp")
    assert(r.getLong(4) == 2000000L / 6L)  // precision_ppm
    assert(r.getLong(5) == 2000000L / 3L)  // recall_ppm
  }

  test("q501 url canonicalization: alias forms (case, default port, " +
      "utm block, fragment, trailing slash) collapse; q params survive") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("urlcanon").toString
    // docs 6 and 46 synthesize DIFFERENT raw urls (HTTPS://T... vs
    // https://t...) with the same canonical image; doc 7 keeps its ?q=
    Seq(
      (6L, "x", "en", "t", 1L),
      (46L, "x", "en", "t", 1L),
      (7L, "x", "en", "t", 1L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = DedupOps.q501UrlCanonicalDedup(spark, tmp).collect()
    assert(r.length == 1)
    assert((r.head.getLong(1), r.head.getLong(2), r.head.getLong(3))
      == ((3L, 2L, 1L)), r.head.toString)
  }

  test("q503 soft-dedup weights: cluster members keep 1/size of their " +
      "tokens; the hard policy keeps only the min-id representative") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("softdedup").toString
    Seq(
      (1L, "a b c d e", "en", "t", 9L),     // fp cluster {1,2}, rep
      (2L, "a b c d z z", "en", "t", 11L),  // same 4-token prefix
      (3L, "x y z w", "en", "t", 7L),       // singleton
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = DedupOps.q503SoftDedupWeights(spark, tmp).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(1) == 3L && row.getLong(2) == 2L, row.toString)
    assert(row.getLong(3) == 15L, s"raw ${row.getLong(3)}")
    assert(row.getLong(4) == 9L, s"hard ${row.getLong(4)}")
    // 5/2 + 6/2 + 4 tokens in micro-units
    assert(row.getLong(5) == 9500000L, s"soft ${row.getLong(5)}")
  }
}
