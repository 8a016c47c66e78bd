package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.types.{LongType, StructField, StructType}

class SimilarityOpsSpec extends SparkSuite {

  test("q70 brute force: k results per query, descending cosine, no self-match") {
    val rows = SimilarityOps.q70KnnBruteForce(spark, sf0001).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.keySet == (0L until SimilarityOps.nQueries).toSet)
    byQuery.values.foreach { rs =>
      assert(rs.length == SimilarityOps.topK)
      val sorted = rs.sortBy(_.getInt(2))
      assert(sorted.map(_.getDouble(3)).sliding(2).forall(p => p(0) >= p(1)))
      sorted.foreach(r => assert(r.getLong(1) != r.getLong(0))) // no self
      assert(sorted.map(_.getInt(2)).toSeq == (1 to SimilarityOps.topK))
    }
  }

  test("q71 ivf: recall@10 vs brute force is usable, exact ranks within candidates") {
    val exact = SimilarityOps.q70KnnBruteForce(spark, sf0001).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = SimilarityOps.q71KnnIvf(spark, sf0001).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // every query answered
    assert(approx.keySet == exact.keySet)
    val recalls = exact.map { case (q, e) =>
      approx(q).intersect(e).size.toDouble / e.size
    }
    val mean = recalls.sum / recalls.size
    // nprobe=4 of 8 fixed cells → ~half the corpus probed on the
    // near-uniform synthetic vectors → solid but not perfect recall
    assert(mean >= 0.5, s"mean recall@10 = $mean")
  }

  test("q322 pq: recall@10 vs brute force clears the measured floor") {
    val exact = SimilarityOps.q70KnnBruteForce(spark, sf0001).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = SimilarityOps.q322PqAdc(spark, sf0001).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(approx.keySet == exact.keySet)
    val recalls = exact.map { case (q, e) =>
      approx(q).intersect(e).size.toDouble / e.size
    }
    val mean = recalls.sum / recalls.size
    // uniform synthetic data is PQ-hostile (cosine gaps ~ quantization
    // noise); the geometry sweep in the Scaladoc measured 0.5 here —
    // the bar holds the floor without overfitting the fixture
    assert(mean >= 0.3, s"mean recall@10 = $mean")
  }

  test("q322 pq: an exact duplicate of a seed query scores ADC 0 at rank 1") {
    import spark.implicits._
    // 40 deterministic pseudo-vectors; vec 100 clones vec 0.  At 41
    // rows the seed stride is 1, so vec 0 IS a codebook seed and its
    // grid subvectors ARE codewords: the clone encodes to those codes
    // with per-cell distance 0 and the query-0 ADC table hits 0 in
    // every subspace.
    def v(seed: Long): Seq[Float] =
      (0 until 64).map(d => (((seed * 131 + d * 37) % 97).toFloat / 97f) - 0.5f)
    val emb = ((0L until 40L).map(i => (i, v(i))) :+ ((100L, v(0))))
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.pqAdcOf(emb).collect()
      .filter(_.getLong(0) == 0L).sortBy(_.getInt(2))
    assert(got.head.getLong(1) == 100L, s"rank-1 was ${got.head.getLong(1)}")
    assert(got.head.getLong(3) == 0L, s"dup ADC was ${got.head.getLong(3)}")
    // and nothing else can sit below 0: distances are sums of squares
    assert(got.forall(_.getLong(3) >= 0L))
  }

  test("q328 ivf-pq: compounded recall floors hold vs exact and vs flat PQ") {
    def top(df: org.apache.spark.sql.DataFrame) = df.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = top(SimilarityOps.q70KnnBruteForce(spark, sf0001))
    val flat = top(SimilarityOps.q322PqAdc(spark, sf0001))
    val both = top(SimilarityOps.q328IvfPq(spark, sf0001))
    assert(both.keySet == exact.keySet)
    def mean(a: Map[Long, Set[Long]], b: Map[Long, Set[Long]]) = {
      val rs = a.map { case (q, e) => b(q).intersect(e).size.toDouble / e.size }
      rs.sum / rs.size
    }
    // probe miss x code noise compound: measured 0.48 vs exact and
    // 0.78 vs flat PQ at this sf (sweep in the q322 Scaladoc)
    assert(mean(exact, both) >= 0.3, s"vs exact ${mean(exact, both)}")
    assert(mean(flat, both) >= 0.5, s"vs flat pq ${mean(flat, both)}")
    // ranking invariant: ADC distances non-decreasing within a query
    SimilarityOps.q328IvfPq(spark, sf0001).collect()
      .groupBy(_.getLong(0)).values.foreach { rs =>
        val sorted = rs.sortBy(_.getInt(2))
        assert(sorted.map(_.getLong(3)).sliding(2)
          .forall(p => p.length < 2 || p(0) <= p(1)))
      }
  }

  test("q326 PCA: rank-1 corpus explains ~everything, isotropic pair splits") {
    import spark.implicits._
    // rank-1: every vector is a multiple of one rising direction ->
    // the top component carries all variance (floors shave ppm)
    val u = (0 until 64).map(d => (d + 1) / 130f)
    val rank1 = (0L until 10L).map(i =>
      (i, u.map(x => x * (i.toInt % 5 + 1) / 5f))).toDF("vec_id", "embedding")
    val r1 = SimilarityOps.pcaAnisotropyOf(rank1).collect()(0)
    assert(r1.getLong(3) >= 990000L, s"rank-1 explained ${r1.getLong(3)}")
    assert(r1.getLong(4) == 63L, "largest loading must sit on the top dim")
    // two equal-variance axes: the top component can only claim half
    val zeros = Seq.fill(62)(0f)
    val iso = Seq(
      (0L, 0.5f +: 0f +: zeros), (1L, -0.5f +: 0f +: zeros),
      (2L, 0f +: 0.5f +: zeros), (3L, 0f +: -0.5f +: zeros),
    ).toDF("vec_id", "embedding")
    val r2 = SimilarityOps.pcaAnisotropyOf(iso).collect()(0)
    assert(r2.getLong(3) >= 450000L && r2.getLong(3) <= 550000L,
      s"isotropic pair explained ${r2.getLong(3)}")
  }

  test("q326 on the sf fixture: bounded share, stable across reruns") {
    val a = SimilarityOps.q326PcaAnisotropy(spark, sf0001).collect()(0)
    val b = SimilarityOps.q326PcaAnisotropy(spark, sf0001).collect()(0)
    assert(a.toSeq == b.toSeq, "integer pipeline must be bit-stable")
    assert(a.getLong(1) > 0L)
    assert(a.getLong(3) > 0L && a.getLong(3) <= 1000000L)
    assert(a.getLong(4) >= 0L && a.getLong(4) < 64L)
  }

  test("q52 lsh: usable recall@10 vs brute force, exact ranks within candidates") {
    val exact = SimilarityOps.q70KnnBruteForce(spark, sf0001).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = SimilarityOps.q52KnnLsh(spark, sf0001).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(approx.keySet == exact.keySet)
    val recalls = exact.map { case (q, e) =>
      approx.getOrElse(q, Set.empty).intersect(e).size.toDouble / e.size
    }
    val mean = recalls.sum / recalls.size
    // 3 bits x 4 tables probes ~half the near-uniform corpus
    assert(mean >= 0.4, s"mean recall@10 = $mean")
  }

  test("q95 filtered kNN: every neighbor carries the filter label; ranking is exact within the slice") {
    import spark.implicits._
    val allowed = graft.Tables.embeddings(spark, sf0001)
      .where($"label" === SimilarityOps.filterLabel &&
        $"vec_id" >= SimilarityOps.nQueries)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val rows = SimilarityOps.q95FilteredKnn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // the filter is a hard constraint, not a soft preference
    assert(rows.forall(r => allowed(r._2)))
    // per query: ranks are 1..k and cosine is non-increasing with rank
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1 to sorted.length).toSeq, s"q=$q")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 >= b._4, s"q=$q")
        case _ =>
      }
    }
  }

  test("q97 quantization: codes fit int8, round-trip error within one step") {
    import spark.implicits._
    val rows = SimilarityOps.quantizeInt8Of(spark, sf0001)
      .join(graft.Tables.embeddings(spark, sf0001), "vec_id")
      .select($"scale", $"codes", $"embedding").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getDouble(0)
      val codes = r.getSeq[Int](1)
      val orig = r.getSeq[Float](2)
      assert(codes.forall(c => c >= -128 && c <= 127))
      // floor-based scheme: x*127/s ∈ [-127, 127] → codes in [-127, 127]
      codes.zip(orig).foreach { case (c, x) =>
        val deq = c * scale / 127.0
        assert(math.abs(x.toDouble - deq) <= scale / 127.0 + 1e-12,
          s"x=$x c=$c scale=$scale")
      }
    }
  }

  test("q104 quantized kNN: high recall@10 vs the exact float ranking") {
    val exact = SimilarityOps.q70KnnBruteForce(spark, sf0001).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val quant = SimilarityOps.q104QuantizedKnn(spark, sf0001).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(quant.keySet == exact.keySet)
    val recalls = exact.map { case (q, e) =>
      quant.getOrElse(q, Set.empty).intersect(e).size.toDouble / e.size
    }
    val mean = recalls.sum / recalls.size
    // int8 keeps ~7 bits/dim: far tighter than LSH's bucket guess —
    // expect most of the exact top-10 to survive quantization
    assert(mean >= 0.6, s"mean recall@10 = $mean")
  }

  test("q71 ivf scans fewer candidates than brute force would") {
    // structural check: candidate set per query is bounded by the
    // probed cells, i.e. strictly fewer scored pairs than n*q
    val n = graft.Tables.embeddings(spark, sf0001).count()
    val perQueryCandidates = SimilarityOps.q71KnnIvf(spark, sf0001)
      .groupBy("query_id").count().collect().map(_.getLong(1))
    assert(perQueryCandidates.forall(_ <= SimilarityOps.topK))
    assert(n > SimilarityOps.topK) // sanity
  }

  test("q147 drift: identical halves give cos 1.0, orthogonal give 0.0") {
    import spark.implicits._
    // label 0: old and new halves identical → centroid_cos exactly 1.0
    // label 1: old on axis 0, new on axis 1 → exactly 0.0
    val emb = Seq(
      (0L, Seq(0.5f, 0.25f, 0.0f), 0), (1L, Seq(0.5f, 0.25f, 0.0f), 0),
      (2L, Seq(0.25f, 0.5f, 0.0f), 0), (3L, Seq(0.25f, 0.5f, 0.0f), 0),
      (10L, Seq(1.0f, 0.0f, 0.0f), 1), (11L, Seq(0.0f, 1.0f, 0.0f), 1),
    ).toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.embeddingDriftOf(emb).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // sqrt(k)*sqrt(k) reconstructs k only to 1 ulp — deterministic,
    // but not the literal 1.0; zero dot product IS exact
    assert(got(0)._1 == 2L && got(0)._2 == 2L &&
      math.abs(got(0)._3 - 1.0) < 1e-12)
    assert(got(1) == ((1L, 1L, 0.0)))
  }

  test("q148 metrics replay from the two rankers' own outputs") {
    val ex = SimilarityOps.q70KnnBruteForce(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val ap = SimilarityOps.q52KnnLsh(spark, sf0001).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val want = ex.groupBy(_._1).map { case (q, rows) =>
      val matched = rows.count(e => ap.contains((e._1, e._2)))
      val rr = rows.find(_._3 == 1).flatMap(e => ap.get((e._1, e._2)))
        .map(1000000L / _).getOrElse(0L)
      q -> ((matched.toLong, 1000000L * matched / rows.length, rr))
    }
    val got = SimilarityOps.q148RetrievalMetrics(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == want)
    // the eval must measure something non-trivial: not all queries
    // may have perfect recall, and every recall is in (0, 1e6]
    assert(got.values.forall(v => v._2 > 0 && v._2 <= 1000000L))
  }

  test("q137 RRF: fixed-point contributions, ordering, and real fusion") {
    val rows = SimilarityOps.q137HybridRrf(spark, sf0001).collect().map { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getLong(3))
    }
    def c(rank: Option[Long]) =
      rank.fold(0L)(k => SimilarityOps.rrfScale / (SimilarityOps.rrfC + k))
    // each row's score is exactly the sum of its two rank contributions
    rows.foreach { case (id, lex, sem, score) =>
      assert(score == c(lex) + c(sem), s"doc $id")
      assert(lex.isDefined || sem.isDefined)
    }
    // descending (score, doc_id) total order
    val keys = rows.map { case (id, _, _, sc) => (-sc, id) }
    assert(keys.sameElements(keys.sorted))
    // the fusion is real: the top-20 must mix docs seen by both
    // rankers with docs only one ranker surfaced
    assert(rows.exists { case (_, l, s0, _) => l.isDefined && s0.isDefined })
    assert(rows.exists { case (_, l, s0, _) => l.isEmpty || s0.isEmpty })
  }

  test("q157 k-center: duplicates picked last, spread picked first, " +
      "coverage radius nonincreasing") {
    import spark.implicits._
    // 4 well-separated unit axes, one exact duplicate of axis 0, and
    // a near-duplicate: greedy farthest-point must pick all distinct
    // axes before ever touching the duplicates
    def axis(i: Int): Seq[Float] =
      Seq.tabulate(64)(j => if (j == i) 1.0f else 0.0f)
    val emb = Seq(
      (0L, axis(0)), (1L, axis(1)), (2L, axis(2)), (3L, axis(3)),
      (10L, axis(0)),               // exact duplicate of vec 0
      (11L, axis(1)),               // exact duplicate of vec 1
      (12L, axis(2)), (13L, axis(3)),
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.kcenterOf(spark, emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == SimilarityOps.kCenters)
    // seed is min id with sentinel -1
    assert(got(0) == ((1L, 0L, -1L)))
    // the first four picks are the four DISTINCT axes (0..3 in ids)
    assert(got.take(4).map(_._2).toSet == Set(0L, 1L, 2L, 3L))
    // duplicates only appear once the distinct geometry is exhausted,
    // at distance 0
    got.drop(4).foreach { case (_, id, d2) =>
      assert(id >= 10L && d2 == 0L)
    }
    // coverage radius never increases down the ranks
    val radii = got.drop(1).map(_._3)
    assert(radii.sameElements(radii.sorted.reverse))
  }

  test("q157 on the sf corpus: deterministic and radius-monotone") {
    val a = SimilarityOps.q157KcenterDiverse(spark, sf0001).collect()
    val b = SimilarityOps.q157KcenterDiverse(spark, sf0001).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    val radii = a.drop(1).map(_.getLong(2))
    assert(radii.sameElements(radii.sorted.reverse))
    assert(a.map(_.getLong(1)).distinct.length == a.length, "unique centers")
  }

  test("q165 audit replays exactly from a driver-side fold of the raw vectors") {
    import spark.implicits._
    val raw = graft.Tables.embeddings(spark, sf0001)
      .select($"label", $"embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    val g = SimilarityOps.auditGrid
    val sq = raw.map { case (l, v) =>
      (l, v.map { x =>
        val c = math.floor(x.toDouble * g); (c * c).toLong
      }.sum, v.length)
    }
    val want = sq.groupBy(_._1).map { case (l, vs) =>
      l -> ((vs.length.toLong, vs.map(_._3).distinct.length.toLong,
        vs.count(_._2 == 0L).toLong,
        vs.map(_._2).min, vs.map(_._2).max,
        vs.map(_._2).sum / vs.length))
    }
    val got = SimilarityOps.q165EmbeddingAudit(spark, sf0001).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got == want)
    // hygiene holds on the fixture: uniform dims, no dead vectors
    got.values.foreach { case (_, nDims, nZero, _, _, _) =>
      assert(nDims == 1L && nZero == 0L)
    }
  }

  test("q172 label noise: clustered labels clean, the planted mislabel flagged") {
    import spark.implicits._
    // two tight clusters around (1,0,...) and (0,1,...); vector 99 sits
    // in cluster B's blob but carries label 0 — the one planted error
    def v(base: Array[Float], jitter: Float, dim: Int) =
      base.zipWithIndex.map { case (x, i) => if (i == dim) x + jitter else x }
    val a = Array(1f) ++ Array.fill(7)(0f)
    val b = Array(0f, 1f) ++ Array.fill(6)(0f)
    val rows =
      (0 until 10).map(i => (i.toLong, v(a, 0.01f * i, 3).toSeq, 0)) ++
      (10 until 20).map(i => (i.toLong, v(b, 0.01f * i, 4).toSeq, 1)) :+
      ((99L, v(b, 0.05f, 5).toSeq, 0))
    val got = SimilarityOps.labelNoiseOf(
      rows.toDF("vec_id", "embedding", "label")).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(0) == ((11L, 1L)), "label 0: only the planted mislabel")
    assert(got(1) == ((10L, 0L)), "label 1 clean")
  }

  test("q173 cumulative HLL: returners never double-count, estimates track exact") {
    import spark.implicits._
    import java.sql.Date
    val w1 = Date.valueOf("2024-01-01"); val w2 = Date.valueOf("2024-01-08")
    // week1: keys 1..50; week2: keys 26..75 → cumulative 50 then 75;
    // a naive per-week sum would claim 100
    val rows = ((1 to 50).map(i => ("t", w1, s"k$i")) ++
      (26 to 75).map(i => ("t", w2, s"k$i"))).toDF("grp", "week", "key")
    val got = SketchOps.hllCumulativeOf(rows).collect()
      .map(r => r.getDate(1).toString -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got("2024-01-01")._1 == 50L && got("2024-01-08")._1 == 75L)
    // linear-counting regime: estimates within 15% of exact, and the
    // merged week-2 estimate is >= week-1's (registers only grow)
    got.values.foreach { case (exact, est) =>
      assert(math.abs(est - exact).toDouble / exact < 0.15, s"est $est vs $exact")
    }
    assert(got("2024-01-08")._2 >= got("2024-01-01")._2)
  }

  test("q188 power iteration converges on a planted dominant direction") {
    import spark.implicits._
    // 100 vectors along (3,4,0,...)/5 with small orthogonal jitter,
    // plus isotropic noise: the top eigenvector is ~(0.6, 0.8, 0...)
    val base = Array(0.6f, 0.8f) ++ Array.fill(6)(0f)
    val rows = (0 until 100).map { i =>
      val scale = 0.5f + (i % 10) * 0.1f
      val v = base.map(_ * scale).zipWithIndex.map { case (x, d) =>
        if (d == 2) x + 0.01f * (i % 7 - 3) else x
      }
      (i.toLong, v.toSeq)
    }
    val got = SimilarityOps.powerIterationOf(
      rows.toDF("vec_id", "embedding")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val v = (1 to 8).map(d => got(d.toLong).toDouble)
    val norm = math.sqrt(v.map(x => x * x).sum)
    val cos = math.abs(v(0) * 0.6 + v(1) * 0.8) / norm
    assert(cos > 0.99, s"cos=$cos v=$v")
    // determinism: a second run is bit-identical
    val again = SimilarityOps.powerIterationOf(
      rows.toDF("vec_id", "embedding")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("q188 power iteration on zero vectors: the empty component frame") {
    // a schema-only copy of embeddings, built at test time under target/
    val dir = new java.io.File("target/empty_embeddings").getAbsolutePath
    spark.read.parquet(s"$sf0001/embeddings.parquet").limit(0)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SimilarityOps.q188PowerIteration(spark, dir)
    assert(got.schema == StructType(Seq(
      StructField("dim", LongType, nullable = false), StructField("component", LongType))))
    assert(got.collect().isEmpty)
  }

  test("q188 power iteration: overflow and an all-zero Gram fail as ANSI arithmetic") {
    import spark.implicits._
    // every coordinate rounds to 0 on the grid: max|G·v| = 0 divides
    val zeros = Seq((1L, Seq(0f, 0f)), (2L, Seq(0f, 0f))).toDF("vec_id", "embedding")
    intercept[ArithmeticException](SimilarityOps.powerIterationOf(zeros).collect())
    // G ≈ 10¹⁸ per cell: the first product G·1024 overflows a long
    val huge = Seq((1L, Seq(1e5f, 1e5f))).toDF("vec_id", "embedding")
    intercept[ArithmeticException](SimilarityOps.powerIterationOf(huge).collect())
  }

  test("q191 balance report: full spine, shares sum to ~1e6, flags re-derive") {
    val rows = SimilarityOps.q191IvfBalance(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.length == SimilarityOps.numCells, "one row per model cell")
    val total = rows.map(_._2).sum
    assert(total == graft.Tables.embeddings(spark, sf0001).count())
    val shareSum = rows.map(_._3).sum
    assert(shareSum > 1000000L - SimilarityOps.numCells && shareSum <= 1000000L)
    rows.foreach { case (_, n, _, flag) =>
      val want =
        if (n == 0) "empty"
        else if (2 * n * SimilarityOps.numCells < total) "under"
        else if (n * SimilarityOps.numCells > 2 * total) "over"
        else "ok"
      assert(flag == want)
    }
  }

  test("q251 LOO eval: clustered labels score perfect minus the one planted mislabel") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr => fexpr}
    // two tight clusters on orthogonal axes, 60 vectors each; probe ids
    // 0..99 < nEvalProbes cover both. vec_id 0 gets the WRONG label —
    // its 10 nearest are all true-cluster members, so it must be the
    // only miss; every other probe's neighborhood is pure.
    val rows = (0 until 120).map { i =>
      val axis = i % 2
      val v = Array.fill(8)(0f)
      v(axis) = 1f
      v(4 + axis) = 0.001f * (i / 2 % 30)  // jitter inside the cluster
      val label = if (i == 0) 1 else axis   // i=0 is truly axis-0 data
      (i.toLong, v.toSeq, label)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", fexpr("transform(embedding, x -> CAST(x AS FLOAT))"))
      .withColumn("nrm", graft.functions.VectorOps.norm(fexpr("embedding")))
    val got = SimilarityOps.knnLooEvalOf(df).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byLabel = got.map(g => g._1 -> g).toMap
    // label 1: 50 probes of axis-1 data (odd ids 1..99) + the planted
    // mislabel (id 0) = 51 probes, exactly one wrong
    assert(byLabel(1)._2 == 51L && byLabel(1)._3 == 50L)
    // label 0: the other 49 even probes, all correct
    assert(byLabel(0)._2 == 49L && byLabel(0)._3 == 49L)
    got.foreach { case (_, n, c, ppm) => assert(ppm == 1000000L * c / n) }
  }

  test("q251 vote tie-break: smaller label wins a split neighborhood") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr => fexpr}
    // vec 0 sits on the exact diagonal between two MIRROR-SYMMETRIC
    // 10-vector clusters (labels 2 and 7): its 10-NN vote is 5–5 by
    // construction, so predicted must be 2 (< 7) — the one miss.
    // Cluster members' own neighborhoods are 9 clustermates + vec 0,
    // so every other probe classifies correctly.
    val mk = (id: Long, x: Float, y: Float, lab: Int) =>
      (id, Seq(x, y, 0f, 0f), lab)
    val rows = mk(0L, 1f, 1f, 7) +:
      ((1 to 10).map(i => mk(i.toLong, 1f, 0.01f * i, 2)) ++
       (11 to 20).map(i => mk(i.toLong, 0.01f * (i - 10), 1f, 7)))
    val df = rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", fexpr("transform(embedding, x -> CAST(x AS FLOAT))"))
      .withColumn("nrm", graft.functions.VectorOps.norm(fexpr("embedding")))
    val got = SimilarityOps.knnLooEvalOf(df).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // label 7: vec 0 + the 10 B-cluster probes; only vec 0 misses
    val l7 = got.find(_._1 == 7).get
    assert(l7._2 == 11L && l7._3 == 10L, s"tie must break to label 2: ${got.toSeq}")
    val l2 = got.find(_._1 == 2).get
    assert(l2._2 == 10L && l2._3 == 10L, s"pure cluster must be perfect: ${got.toSeq}")
  }

  test("q305 ndcg@10: discount table, planted ranking, twinless sentinel") {
    import spark.implicits._
    // the frozen table IS floor(1e6 / log2(i+1))
    SimilarityOps.ndcgDiscMicro.zipWithIndex.foreach { case (d, i) =>
      val exact = 1e6 / (math.log(i + 2) / math.log(2))
      assert(d == math.floor(exact).toLong, s"rank ${i + 1}")
    }
    // planted: query 1 (label A, 3 corpus twins) gets (B, A, A);
    // DCG = disc2 + disc3, IDCG = disc1 + disc2 + disc3
    val nn = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 10L, 1)).toDF("query_id", "neighbor_id", "rank")
    val lab = Seq((1L, 0), (10L, 1), (11L, 0), (12L, 0), (13L, 0),
      (2L, 9)).toDF("vec_id", "label")
    val got = SimilarityOps.ndcgAt10Of(nn, lab).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val disc = SimilarityOps.ndcgDiscMicro
    val dcg = disc(1) + disc(2)
    val idcg = disc(0) + disc(1) + disc(2)
    // query 1: label 0 has corpus count 4 -> R=3 twins; rel=(0,1,1)
    assert(got.find(_._1 == 1L).get ==
      ((1L, 2L, dcg, idcg, 1000000L * dcg / idcg)))
    // query 2: label 9 is twinless -> no ideal, sentinel
    assert(got.find(_._1 == 2L).get._5 == -1L)
    // sf replay from first principles over the q70 ranking
    val rank = SimilarityOps.q70KnnBruteForce(spark, sf0001)
      .select($"query_id", $"neighbor_id", $"rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val labels = graft.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"label").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val counts = labels.values.groupBy(identity).view.mapValues(_.size).toMap
    val want = rank.groupBy(_._1).toSeq.map { case (q, ns) =>
      val ql = labels(q)
      val rel = ns.sortBy(_._3).map(n => labels(n._2) == ql)
      val dcgQ = rel.zip(disc).filter(_._1).map(_._2).sum
      val m = math.min(10, counts(ql) - 1)
      val idcgQ = disc.take(m).sum
      (q, rel.count(identity).toLong, dcgQ, idcgQ,
        if (idcgQ == 0) -1L else 1000000L * dcgQ / idcgQ)
    }.sortBy(_._1)
    val sf = SimilarityOps.q305NdcgAt10(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(sf.toSeq == want)
  }

  test("q312 MRR: planted first hits, a no-hit query, a twinless query") {
    import spark.implicits._
    // qA(label 1): first twin at rank 3 → rr 333333, hit@5 only;
    // qB(label 2): twins exist (vec 20) but none retrieved → rr 0;
    // qC(label 3): no other vec carries label 3 → undefined, −1
    val lab = Seq((1L, 1), (2L, 2), (3L, 3),
      (10L, 9), (11L, 9), (12L, 1), (20L, 2))
      .toDF("vec_id", "label")
    val nn = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 10L, 1), (2L, 11L, 2),
      (3L, 10L, 1), (3L, 20L, 2))
      .toDF("query_id", "neighbor_id", "rank")
    val got = SimilarityOps.mrrAt10Of(nn, lab).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // the −1 undefined sentinel is column-consistent: a twinless
    // query reports −1 for rr AND every hit@k, never a 0 that would
    // silently count as a miss in the hit-rate mean
    assert(got == Map(
      1L -> ((1L, 3L, 333333L, 0L, 1L, 1L)),
      2L -> ((1L, 0L, 0L, 0L, 0L, 0L)),
      3L -> ((0L, 0L, -1L, -1L, -1L, -1L)),
    ))
  }

  test("q312 on the sf fixture: first-hit replay against q70's ranking") {
    import spark.implicits._
    val rank = SimilarityOps.q70KnnBruteForce(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val labels = graft.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"label").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val counts = labels.values.groupBy(identity).view.mapValues(_.size).toMap
    val want = rank.groupBy(_._1).toSeq.map { case (q, ns) =>
      val ql = labels(q)
      val hits = ns.filter(n => labels(n._2) == ql).map(_._3)
      val fr = if (hits.isEmpty) 0L else hits.min.toLong
      val twins = counts(ql) - 1L
      val rr = if (twins == 0) -1L else if (fr == 0) 0L else 1000000L / fr
      def hit(k: Int) =
        if (twins == 0) -1L else if (hits.exists(_ <= k)) 1L else 0L
      (q, twins, fr, rr, hit(1), hit(5), hit(10))
    }.sortBy(_._1)
    val sf = SimilarityOps.q312MrrAt10(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(sf.toSeq == want)
  }

  test("q342 planted cells: in-cell twin dropped, cross-cell twin missed") {
    import spark.implicits._
    // cell 0: v1 and its exact twin v2 (cosine 1 > tau) plus an
    // orthogonal v3; cell 1: v4 identical to v1 — the CROSS-cell
    // duplicate the bucketed path deliberately misses (SemDeDup's
    // own approximation, disclosed in the Scaladoc)
    val e1 = (Seq.fill(4)(1.0f) ++ Seq.fill(4)(0.0f))
    val e3 = (Seq.fill(4)(0.0f) ++ Seq.fill(4)(1.0f))
    val cells = Seq((1L, e1, 0L), (2L, e1, 0L), (3L, e3, 0L), (4L, e1, 1L))
      .toDF("vec_id", "embedding", "cell")
      .withColumn("nrm", graft.functions.VectorOps.norm($"embedding"))
    val got = SimilarityOps.semanticDedupOf(cells).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> true, 4L -> true))
  }

  test("q342 on the sf fixture: bucketed drops are a subset of all-pairs drops") {
    val sem = SimilarityOps.q342SemanticDedup(spark, sf0001).collect()
    assert(sem.length ==
      graft.Tables.embeddings(spark, sf0001).count().toInt,
      "every vector must appear exactly once with a kept flag")
    val dropped = sem.filter(!_.getBoolean(2)).map(_.getLong(0)).toSet
    // q68 is the exact all-pairs baseline at the same tau: under the
    // same keep-min rule its drop set (any vector with a smaller-id
    // global tau-neighbor) must contain every bucketed drop
    val globalDrops = graft.ops.DedupOps.q68EmbeddingNearDup(spark, sf0001)
      .collect().map(_.getLong(1)).toSet
    assert(dropped.subsetOf(globalDrops),
      s"bucketed path dropped a vector the exact baseline would keep: " +
        s"${dropped -- globalDrops}")
  }

  test("q357 semantic decontamination: planted clone flags, orthogonal stays clean") {
    import spark.implicits._
    def axis(d: Int): Seq[Float] = (0 until 8).map(i => if (i == d) 1f else 0f)
    val emb = Seq(
      (0L, axis(0)), (1L, axis(1)),       // benchmark items
      (50L, axis(0)),                      // exact semantic clone of bench 0
      (51L, axis(2)),                      // orthogonal to the whole benchmark
      (52L, axis(1).zip(axis(2)).map { case (a, b) => a + b }) // 45 deg to bench 1
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.semanticDecontamOf(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(50L, 51L, 52L))
    val clone = got(0)
    assert(clone._2 == 0L && math.abs(clone._3 - 1.0) < 1e-12 && clone._4 == 1L)
    val ortho = got(1)
    assert(math.abs(ortho._3) < 1e-12 && ortho._4 == 0L)
    // 45-degree vector: cosine 1/sqrt(2) vs bench 1, above tau
    val diag = got(2)
    assert(diag._2 == 1L && math.abs(diag._3 - 1.0 / math.sqrt(2)) < 1e-12
      && diag._4 == 1L)
  }

  test("q374 binary quantization: hamming replays from driver-side sign bits") {
    import spark.implicits._
    val rows = SimilarityOps.q374BinaryQuantKnn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2), r.getLong(3),
        r.getLong(5)))
    // shape: 10 ranked rows per query, ranks 1..10, in_exact ∈ {0,1}
    val byQ = rows.groupBy(_._1)
    assert(byQ.size == SimilarityOps.nQueries)
    byQ.values.foreach { qr =>
      assert(qr.map(_._2).sorted.toSeq == (1L to 10L))
      assert(qr.forall(t => t._5 == 0L || t._5 == 1L))
    }
    // hamming of a returned pair matches a driver-side popcount replay
    val emb = graft.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def code(v: Seq[Float]): (Long, Long) = {
      var lo = 0L; var hi = 0L
      for (i <- 0 until 32) if (v(i) > 0f) lo |= (1L << i)
      for (i <- 32 until 64) if (v(i) > 0f) hi |= (1L << (i - 32))
      (lo, hi)
    }
    rows.take(20).foreach { case (q, _, n, ham, _) =>
      val (ql, qh) = code(emb(q)); val (nl, nh) = code(emb(n))
      val expect = java.lang.Long.bitCount(ql ^ nl) +
        java.lang.Long.bitCount(qh ^ nh)
      assert(ham == expect, s"query $q neighbor $n: $ham != $expect")
    }
  }

  test("q375 matryoshka: full-width truncation is the exact ranker (recall = 1)") {
    val full = SimilarityOps.matryoshkaOf(spark, sf0001, 64).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(full.length == SimilarityOps.nQueries)
    assert(full.forall(t => t._2 == 1000000L && t._3 == 1000000L),
      s"full-width must be exact: ${full.toSeq}")
    // 16-dim truncation: well-formed, recall in [0, 1]
    val t16 = SimilarityOps.q375MatryoshkaEval(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(t16.length == SimilarityOps.nQueries)
    assert(t16.forall(t => t._2 >= 0 && t._2 <= 10 &&
      t._3 == t._2 * 100000L))
  }

  test("q386 grid density: planted blobs cluster, bridge merges, strays are noise") {
    import spark.implicits._
    def vec(x: Float, y: Float) = Array(x, y, 0f, 0f)
    // blob A: 10 pts in cell (0,0); blob A2: 10 pts in cell (0,1)
    // (adjacent -> one cluster); blob B: 10 pts in cell (4,4)
    // (separate); 3 stray singletons -> noise
    val rows =
      (0 until 10).map(i => (100L + i, vec(0.05f, 0.05f))) ++
      (0 until 10).map(i => (200L + i, vec(0.05f, 0.30f))) ++
      (0 until 10).map(i => (300L + i, vec(1.05f, 1.05f))) ++
      Seq((900L, vec(-0.8f, -0.8f)), (901L, vec(2.5f, -2.5f)),
        (902L, vec(-2.6f, 2.9f)))
    val emb = rows.toDF("vec_id", "embedding")
    val got = SimilarityOps.gridDensityOf(emb).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    def clusterOf(id: Long) = got.find(_._1 == id).get._3
    val keyA = (0L + SimilarityOps.gridOff) * SimilarityOps.gridStride +
      (0L + SimilarityOps.gridOff)
    val keyB = (4L + SimilarityOps.gridOff) * SimilarityOps.gridStride +
      (4L + SimilarityOps.gridOff)
    // A and A2 merged under A's (smaller) cell key; B its own cluster
    (100L until 110L).foreach(i => assert(clusterOf(i) == keyA))
    (200L until 210L).foreach(i => assert(clusterOf(i) == keyA))
    (300L until 310L).foreach(i => assert(clusterOf(i) == keyB))
    // strays: sparse cells -> noise, not core
    Seq(900L, 901L, 902L).foreach { i =>
      val r = got.find(_._1 == i).get
      assert(r._2 == 0L && r._3 == -1L, s"stray $i: $r")
    }
    assert(got.filter(_._1 < 400L).forall(_._2 == 1L))
  }

  test("q392 hbos: scores replay a driver-side histogram exactly; far " +
      "point ranks first; constant dimension contributes zero") {
    import spark.implicits._
    val bins = 4
    // 9 clustered points + 1 far outlier, 2 dims
    val pts: Seq[(Long, Seq[Float])] =
      (0 until 9).map(i => (i.toLong, Seq(0.01f * i, 0.02f * i))) :+
        (99L, Seq(0.4f, 0.4f))
    val df = pts.toDF("vec_id", "embedding")
    val got = SimilarityOps.hbosOf(df, bins, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // driver-side replay of the integer pipeline
    val q = pts.map { case (id, v) =>
      id -> v.map(x => math.round(x.toDouble * 1000.0)) }
    val dims = q.head._2.indices
    val scores = {
      val hist = dims.map { d =>
        val col0 = q.map(_._2(d))
        val (lo, hi) = (col0.min, col0.max)
        val bin = col0.map(x => (x - lo) * bins / (hi - lo + 1))
        d -> bin.groupBy(identity).map { case (b, xs) => b -> xs.size }
      }.toMap
      val binOf = dims.map { d =>
        val col0 = q.map(_._2(d)); val (lo, hi) = (col0.min, col0.max)
        d -> q.map { case (id, v) => id -> (v(d) - lo) * bins / (hi - lo + 1) }.toMap
      }.toMap
      val n = q.size
      def lnm(x: Long) = math.floor(math.log(x.toDouble) * 1e6).toLong
      q.map { case (id, _) =>
        id -> dims.map(d => lnm(n.toLong) - lnm(hist(d)(binOf(d)(id)).toLong)).sum
      }.toMap
    }
    val want = scores.toSeq.sortBy { case (id, sc) => (-sc, id) }
    assert(got.toSeq == want)
    assert(got.head._1 == 99L, "far point must rank first")
    // appending a constant dim changes no score (bin 0, density 1, ln 1 = 0)
    val withConst = pts.map { case (id, v) => (id, v :+ 0.123f) }
      .toDF("vec_id", "embedding")
    val gotC = SimilarityOps.hbosOf(withConst, bins, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(gotC.toSeq == got.toSeq)
  }

  test("q406 triplets: planted geometry picks the hardest pair, flags " +
      "the violation, and breaks cosine ties to the smaller vec_id") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // anchor 0 (label 0, (1,0)); positives: 1=(0.8,0.6) cos .8,
    // 6 = identical twin of 1 (tie → id 1 wins), 2=(0,1) cos 0;
    // negatives: 3=(0.95,0.31) cos ≈ .9507 (closer than any positive
    // → violated), 4=(-1,0) cos -1
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(0.8f, 0.6f), 0),
      (6L, Seq(0.8f, 0.6f), 0),
      (2L, Seq(0.0f, 1.0f), 0),
      (3L, Seq(0.95f, 0.31f), 1),
      (4L, Seq(-1.0f, 0.0f), 1)).toDF("vec_id", "embedding", "label")
      .withColumn("nrm", graft.functions.VectorOps.norm(col("embedding")))
    val got = SimilarityOps.tripletsOf(vecs, 1L).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 1L && r.getLong(3) == 3L)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      def n(v: Seq[Float]) = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      d / (n(a) * n(b))
    }
    assert(math.abs(r.getDouble(2) - cos(Seq(1.0f, 0.0f), Seq(0.8f, 0.6f))) < 1e-9)
    assert(math.abs(r.getDouble(4) - cos(Seq(1.0f, 0.0f), Seq(0.95f, 0.31f))) < 1e-9)
    assert(r.getBoolean(6), "negative closer than positive must flag")
    assert(r.getDouble(5) < 0.0)
  }

  test("q487 MMR rerank: planted near-duplicate candidates de-select " +
      "after the first pick; pure relevance would keep all three") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("mmr_spec").toString
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    Seq(
      (0L, v(1.0, 0, 0, 0), 0),        // the query under test
      (1L, v(0, 1.0, 0, 0), 0),        // other query slots (ids < nQueries)
      (2L, v(0, 0, 1.0, 0), 0),
      (3L, v(0, 0, 0, 1.0), 0),
      (4L, v(0.1, 0.1, 0.1, 0.1), 0),
      (5L, v(0.90, 0.4359, 0, 0), 0),  // near-duplicate trio: cos≈0.9 to q,
      (6L, v(0.90, 0.4358, 0.001, 0), 0), // ≈1.0 to each other
      (7L, v(0.90, 0.4357, 0.002, 0), 0),
      (8L, v(0.75, 0, 0.6614, 0), 0),  // diverse: cos 0.75 to q,
      (9L, v(0.75, 0, 0, 0.6614), 0),  // ≈0.56 to each other
    ).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$tmp/embeddings.parquet")
    val got = SimilarityOps.q487MmrRerank(spark, tmp).collect()
      .filter(_.getLong(0) == 0L)
      .map(r => (r.getInt(2), r.getLong(1)))
      .sortBy(_._1)
    val first3 = got.take(3).map(_._2).toSet
    // rank 1 is the most relevant near-dup; ranks 2-3 jump to the
    // DIVERSE candidates even though the other two dups have higher
    // raw cosine — the redundancy penalty at work
    assert(got.head._2 == 5L || got.head._2 == 6L || got.head._2 == 7L, got.mkString(","))
    assert((first3 & Set(5L, 6L, 7L)).size == 1,
      s"near-dup trio not de-selected: $first3")
    assert(Set(8L, 9L).subsetOf(first3), s"diverse picks missing: $first3")
    // contrast: relevance-only top-3 would be exactly the trio
    val rel = SimilarityOps.q70KnnBruteForce(spark, tmp).collect()
      .filter(_.getLong(0) == 0L).sortBy(_.getInt(2)).take(3)
      .map(_.getLong(1)).toSet
    assert(rel == Set(5L, 6L, 7L), rel.toString)
  }

  test("q505 nprobe sweep: recall is monotone in nprobe and exactly " +
      "1.0 when every cell is probed") {
    val r = SimilarityOps.q505NprobeSweep(spark, sf0001).collect()
      .map(x => (x.getLong(0), x.getLong(2))).sortBy(_._1)
    assert(r.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L), r.mkString(","))
    r.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2, s"recall not monotone: $a -> $b")
    }
    // nprobe = numCells probes every cell -> IVF == brute force
    assert(r.last._2 == 1000000L, s"full probe must hit recall 1.0: ${r.last}")
  }
}
