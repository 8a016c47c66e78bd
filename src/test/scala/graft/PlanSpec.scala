package graft

import graft.ops._

/** Physical-plan assertions — the properties that matter at 100 TB,
  * pinned as tests so a refactor can't silently regress them:
  * filters reach the parquet scan, projections prune the read
  * schema, dimension joins broadcast (the fact table never
  * shuffles), and aggregates run partial (map-side) before the
  * exchange.
  */
class PlanSpec extends SparkSuite {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02 filter/project: predicate pushed to scan, columns pruned") {
    val p = plan(Relational.q02FilterProject(spark, sf0001))
    assert(p.contains("PushedFilters: ["), p.take(500))
    assert(!p.contains("PushedFilters: []"))
    // the lineitem scan must not read all 11 columns
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length < 11, readSchema)
  }

  test("q03 star join: every dimension broadcasts, fact never shuffles for the join") {
    val p = plan(Relational.q03RevenueByNation(spark, sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).length == 4) // orders+cust+nation+region
    assert(!p.contains("SortMergeJoin"))
  }

  test("q01 aggregate runs partial (map-side combine) before the exchange") {
    val p = plan(Relational.q01PricingSummary(spark, sf0001))
    assert("HashAggregate".r.findAllIn(p).length >= 2) // partial + final
  }

  test("q70 kNN: query side broadcasts; corpus side is never exchanged for the join") {
    val p = plan(SimilarityOps.q70KnnBruteForce(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("q64 exact dedup: single hash-agg pair over a 128-bit key, no join") {
    val p = plan(DedupOps.q64ExactDedup(spark, sf0001))
    assert(!p.contains("Join"))
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("q65/q69 candidate generation: no self-join anywhere in the plan") {
    assert(!plan(DedupOps.q65MinhashLsh(spark, sf0001)).contains("Join"))
    assert(!plan(DedupOps.q69SimhashNearDup(spark, sf0001)).contains("Join"))
  }

  test("q71 IVF cell assignment: pure projection over the scan, no Exchange") {
    val p = plan(SimilarityOps.ivfAssignmentPlan(spark, sf0001))
    assert(!p.contains("Exchange"), p.take(800))
    assert(!p.contains("Join"), p.take(800))
  }

  test("q49 sampling: the keep filter evaluates at the scan, before any exchange") {
    val df = TextOps.q49StratifiedSample(spark, sf0001)
    df.collect()
    val p = plan(df)
    // md5-bucket predicate must sit in the scan's DataFilters (scan-
    // time evaluation, zero pre-filter shuffle); only the final
    // oracle ORDER BY may exchange
    assert("DataFilters: \\[[^\\]]*md5".r.findFirstIn(p).isDefined, p.take(800))
    assert("Exchange".r.findAllIn(p).length <= 2, p.take(800)) // AQE prints initial+final
  }

  test("span family: count/semi/window shapes — no pair fan-out join anywhere") {
    // executed AQE plans print "== Final Plan ==" then "== Initial
    // Plan ==" — count nodes in the final section only
    def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      plan(df).split("== Initial Plan ==")(0)
    }
    // q55: cross-doc df via window + count; the ONLY join is the final
    // left attach of per-doc stats to documents — never a pair join
    val p55 = finalPlan(DedupOps.q55SpanDedup(spark, sf0001))
    assert("Join".r.findAllIn(p55).length == 1, p55.take(800))
    assert(p55.contains("Window"), p55.take(800))
    // q56: the benchmark shingle set probes as a BROADCAST left-semi —
    // corpus spans never shuffle for the membership test
    val p56 = finalPlan(DedupOps.q56SpanDecontam(spark, sf0001))
    assert(p56.contains("BroadcastHashJoin") && p56.contains("LeftSemi"), p56.take(800))
    // q58: cross-doc duplication detected by one window (min!=max per
    // shingle), then a single attach join brings start lists back
    val p58 = finalPlan(DedupOps.q58SpanMask(spark, sf0001))
    assert("Join".r.findAllIn(p58).length == 1, p58.take(800))
    assert(p58.contains("Window"), p58.take(800))
  }

  test("q46 salted join: shuffled join keyed on (orderkey, salt), dim never broadcast") {
    val df = Relational.q46SaltedJoin(spark, sf0001)
    df.collect() // AQE finalizes stages only on execution
    val p = plan(df)
    assert(!p.contains("BroadcastHashJoin"), p.take(600))
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"))
    assert(p.contains("salt"))
  }

  test("q95 filtered kNN: label predicate pushed to the corpus scan, queries broadcast") {
    val df = SimilarityOps.q95FilteredKnn(spark, sf0001)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // the metadata filter must reach the parquet scan — filtered ANN
    // pays for candidates AFTER selectivity, not before
    assert("PushedFilters: \\[[^\\]]*label".r.findFirstIn(p).isDefined, p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(800))
  }

  test("q86 bucketed layout: join AND key-grouped agg run with zero Exchange") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val joined = ExtOps.q86Join(spark, sf0001)
    joined.collect()
    val p = plan(joined).split("== Initial Plan ==")(0)
    // the whole point of the bucketed layout: the join reads both
    // sides pre-hashed (and pre-sorted) — no shuffle, no broadcast
    assert(p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("Exchange"), p.take(800))
    assert(!p.contains("BroadcastHashJoin"), p.take(800))
    // the SAME layout also serves aggregation on the bucket key:
    // partial and final hash-agg collapse into one exchange-free pass
    // — one write amortizes over every query shape keyed on it
    val agg = spark.table("graft_bk_lineitem")
      .groupBy($"l_orderkey").agg(count(lit(1)))
    agg.collect()
    val pa = plan(agg).split("== Initial Plan ==")(0)
    assert(!pa.contains("Exchange"), pa.take(800))
    spark.sql("DROP TABLE IF EXISTS graft_bk_orders")
    spark.sql("DROP TABLE IF EXISTS graft_bk_lineitem")
  }

  test("q88 quality trim: cutoff dim broadcasts, the corpus is never sort-merge joined") {
    val df = TextOps.q88QualityTrim(spark, sf0001)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("q89 profile: one scan feeds all per-column aggregates (Expand, no re-scan)") {
    val df = ExtOps.q89ColumnProfile(spark, sf0001)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // multi-distinct goes through a single Expand over one scan — the
    // profile must never scan the table once per column
    assert(p.contains("Expand"), p.take(800))
    assert("Scan parquet".r.findAllIn(p).length == 1, p.take(800))
  }

  test("q105/q109/q111: vocab-sized sides broadcast; top-k cuts avoid global sorts") {
    val p105 = plan(TextOps.q105VocabEncode(spark, sf0001))
    // vocab candidates cut by partial top-k, vocab mapping broadcast
    assert(p105.contains("TakeOrderedAndProject"), p105.take(800))
    assert(p105.contains("BroadcastHashJoin") && !p105.contains("SortMergeJoin"))
    val p109 = plan(TextOps.q109PmiCollocations(spark, sf0001))
    // both unigram probability joins + both scalar totals broadcast;
    // the final top-100 is a partial top-k, not a global sort
    assert("BroadcastHashJoin".r.findAllIn(p109).length >= 2, p109.take(800))
    assert(!p109.contains("SortMergeJoin"))
    assert(p109.contains("TakeOrderedAndProject"))
    val p111 = plan(TextOps.q111QuantileNorm(spark, sf0001))
    // the 101-row reference quantile grid broadcasts onto the ranked corpus
    assert(p111.contains("BroadcastHashJoin") && !p111.contains("SortMergeJoin"))
  }

  test("q110 weighted sample: partial top-k, no global sort before the cut") {
    val p = plan(TextOps.q110WeightedSample(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("Exchange rangepartitioning"), p.take(800))
  }

  test("q115/q117: bounds broadcast; attribution shuffles once on the user key") {
    val p115 = plan(Relational.q115DriftReport(spark, sf0001))
    // both snapshots bin against ONE broadcast bounds row — no
    // sort-merge join anywhere in the report
    assert(p115.contains("BroadcastExchange") && !p115.contains("SortMergeJoin"))
    val p117 = plan(EventOps.q117Attribution(spark, sf0001))
    // the union + running-last-value as-of device: exactly one hash
    // exchange (the per-user window), never a join
    assert("Exchange hashpartitioning".r.findAllIn(p117).length == 1, p117.take(900))
    assert(!p117.contains("Join"), p117.take(900))
  }

  test("whole-stage codegen covers the scan-side of the text pipeline") {
    val df = TextOps.q63Fingerprint(spark, sf0001)
    df.collect() // AQE finalizes stages only on execution
    // '*(n)' prefixes mark whole-stage-codegen'd operators
    assert(plan(df).contains("*("))
  }

  test("q132/q136: vocab pair join and both degree joins broadcast — no sort-merge") {
    val p132 = plan(LinkOps.q132EntityMatch(spark, sf0001))
    assert(p132.contains("BroadcastHashJoin"), p132.take(800))
    assert(!p132.contains("SortMergeJoin"))
    val p136 = plan(LinkOps.q136TriangleCounts(spark, sf0001))
    // the node-sized degree table broadcasts onto the edge set twice;
    // only the wedge self-join and closure probe may shuffle
    assert("BroadcastHashJoin".r.findAllIn(p136).length >= 2, p136.take(800))
  }

  test("q139 gridded overlap join is an equi-join on the bucket, not a BNLJ") {
    val p = plan(EventOps.q139SessionOverlap(spark, sf0001))
    // the θ-join formulation would appear as BroadcastNestedLoopJoin /
    // CartesianProduct; the grid decomposition must hash on the bucket
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"))
  }

  test("q172 audit pass: literal-centroid argmin projection, no join in the plan") {
    val p = plan(SimilarityOps.q172LabelNoise(spark, sf0001))
    // the corpus x |labels| formulation appears as a Join + re-group;
    // the literal-projection audit must have NO join anywhere
    assert(!p.contains("Join"), p.take(800))
  }

  test("q175 volume median: scan prunes to the three metadata columns") {
    val p = plan(TextOps.q175VolMedian(spark, sf0001))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("lang") &&
      read.contains("n_chars") && !read.contains("text"), read)
  }

  test("q195/q146 enrichments broadcast: no sort-merge join on item supports") {
    val p = plan(LinkOps.q195ItemRecs(spark, sf0001))
    assert(!p.contains("SortMergeJoin"), p.take(600))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q204/q178: as-of windows, no join; exchanges bounded by grain") {
    // q178 emits at the window grain: exactly ONE user-key exchange
    val p178 = plan(EventOps.q178LinearAttribution(spark, sf0001))
    assert(!p178.contains("Join"), p178.take(600))
    assert("Exchange hashpartitioning".r.findAllIn(p178).length == 1, p178.take(800))
    // q204 re-aggregates to the day grain: the user window exchange plus
    // ONE day exchange whose aggregate combines map-side first
    val p204 = plan(EventOps.q204ConversionWindow(spark, sf0001))
    assert(!p204.contains("Join"), p204.take(600))
    assert("Exchange hashpartitioning".r.findAllIn(p204).length == 2, p204.take(800))
    assert(p204.contains("partial_count"), "day agg must combine map-side")
  }

  test("q210: fact joins broadcast the dims; ratio windows run on the aggregate") {
    val p = plan(Relational.q210ShareOfParent(spark, sf0001))
    // every dimension enrichment broadcasts (fact never sort-merge joins)
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3)
  }

  test("q217/q220: sequential folds join-free; raw stream reduces map-side first") {
    // EWMA: events → (type, day) partial agg, then the per-type fold — no join
    val p217 = plan(EventOps.q217EwmaBand(spark, sf0001))
    assert(!p217.contains("Join"), p217.take(600))
    assert(p217.contains("partial_count"), "daily agg must combine map-side")
    // semi-additive: delta trick is windows over the reduced grain — no join,
    // and no more than three hash exchanges (cust-month agg, cust lag window
    // re-key, month agg)
    val p220 = plan(Relational.q220SemiAdditive(spark, sf0001))
    assert(!p220.contains("Join"), p220.take(600))
    assert("Exchange hashpartitioning".r.findAllIn(p220).length <= 3, p220.take(900))
  }

  test("q218 lift: deciles come from the score spine, never a per-row rank") {
    val p = plan(Relational.q218DecileLift(spark, sf0001))
    assert(!p.contains("Join"), p.take(600))
    // one exchange to score grain (+ one to decile grain); the raw orders
    // must reduce map-side before any window sees them
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2, p.take(900))
    assert(p.contains("partial_count"), "score spine must combine map-side")
  }

  test("q219/q224: dimension-sized stats broadcast back; no sort-merge joins") {
    val p219 = plan(Relational.q219RfmSegments(spark, sf0001))
    assert(!p219.contains("SortMergeJoin"), p219.take(800))
    val p224 = plan(TextOps.q224WinsorizedStats(spark, sf0001))
    assert(!p224.contains("SortMergeJoin"), p224.take(800))
    assert(p224.contains("BroadcastHashJoin"), "fence table must broadcast")
  }

  test("q222/q225: projection pipelines — bounded exchanges, no join, pruned scan") {
    val p222 = plan(TextOps.q222DocEntropy(spark, sf0001))
    assert(!p222.contains("Join"), p222.take(600))
    val p225 = plan(TextOps.q225FeatureHashing(spark, sf0001))
    assert(!p225.contains("Join"), p225.take(600))
    assert("Exchange hashpartitioning".r.findAllIn(p225).length == 1, p225.take(900))
    assert(p225.contains("partial_count"), "(doc,bucket) agg must combine map-side")
    // q225 reads metadata columns only — text stays out of the scan
    val rs = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p225)
      .map(_.group(1)).getOrElse("")
    assert(!rs.contains("text"), rs)
  }

  test("q226 DSv2: range pushed into the source, chunks pruned, columns pruned") {
    val p = plan(ExtOps.q226Dsv2Source(spark, sf0001))
    // the id predicate is consumed ENTIRELY by the source (no Filter node
    // re-applies it) and narrows generation to [25000, 75000)
    assert(p.contains("SeqScan(lo=25000, hi=75000"), p.take(900))
    // 4 of 8 generation chunks statically pruned by the pushed range
    assert(p.contains("chunks=4/8"), p.take(900))
    // id is filter-only: column pruning means it is never even generated
    assert(p.contains("cols=grp,val"), p.take(900))
    assert(!p.contains("Filter "), "pushed range must not be re-filtered")
    assert(p.contains("partial_count"), "agg combines map-side")
  }

  test("q227 extension SQL: graft_dot plans inside whole-stage codegen") {
    val p = plan(ExtOps.q227ExtensionSql(spark, sf0001))
    // the native expression appears in the plan (not a ScalaUDF shim)
    assert(p.contains("floatvecdot") || p.contains("FloatVecDot"), p.take(900))
    assert(!p.contains("ScalaUDF"), "must be the native expression")
  }

  test("q228/q234/q236/q237: spine-grain pipelines — join-free, bounded exchanges") {
    for ((name, df, maxEx) <- Seq(
      // q228: spine agg + period re-key for the cumulative window +
      // decile agg = 3 grain-bounded exchanges
      ("q228", Relational.q228QqDrift(spark, sf0001), 3),
      ("q234", EventOps.q234ChecklistCompletion(spark, sf0001), 2),
      ("q236", EventOps.q236AttributionCompare(spark, sf0001), 2),
      ("q237", EventOps.q237DailyPercentiles(spark, sf0001), 2))) {
      val p = plan(df)
      assert(!p.contains("Join"), s"$name: " + p.take(400))
      assert("Exchange hashpartitioning".r.findAllIn(p).length <= maxEx,
        s"$name: " + p.take(800))
      assert(p.contains("partial_"), s"$name must combine map-side")
    }
  }

  test("q231/q244: scalar anchors broadcast; the fact stream never sort-merges") {
    for ((name, df) <- Seq(
      ("q231", EventOps.q231DecayedPopularity(spark, sf0001)),
      ("q244", EventOps.q244Twap(spark, sf0001)))) {
      val p = plan(df)
      assert(!p.contains("SortMergeJoin"), s"$name: " + p.take(600))
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastExchange"), s"$name anchor must broadcast")
    }
  }

  test("q229/q233: identity columns prune out of the scan where unused") {
    // q229 reads only (user_id, event_type); q233 only 4 columns
    for ((name, df, banned) <- Seq(
      ("q229", PrivacyOps.q229PseudonymizedJoin(spark, sf0001), "props"),
      ("q233", EventOps.q233BurstCollapse(spark, sf0001), "value"))) {
      val p = plan(df)
      val rs = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p)
        .map(_.group(1)).mkString(";")
      assert(!rs.contains(banned), s"$name reads $banned: $rs")
    }
  }

  test("q249/q250: domain-bounded frames broadcast; incident semi-join never SMJ") {
    val p249 = plan(EventOps.q249EntropyRate(spark, sf0001))
    assert(!p249.contains("SortMergeJoin"), p249.take(500))
    val p250 = plan(EventOps.q250IncidentExposure(spark, sf0001))
    assert(p250.contains("LeftSemi"), "incident filter is a semi join")
    assert(!"LeftSemi[^\\n]*SortMergeJoin|SortMergeJoin[^\\n]*LeftSemi".r
      .findFirstIn(p250).isDefined || p250.contains("BroadcastHashJoin"),
      "domain-bounded incident spine should broadcast")
  }

  test("q251 LOO eval: probes broadcast; the corpus is never sort-merge joined") {
    val p = plan(SimilarityOps.q251KnnLooEval(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q252/q253: partial aggs, bounded top-k / spine joins — no global sorts") {
    val p252 = plan(TextOps.q252LogOddsTokens(spark, sf0001))
    assert("TakeOrderedAndProject".r.findAllIn(p252).length == 2,
      "both sides of the ranking must be partial top-k, not full sorts")
    assert("HashAggregate".r.findAllIn(p252).length >= 2, "map-side combine")
    val p253 = plan(Relational.q253BenfordScreen(spark, sf0001))
    val rs = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p253)
      .map(_.group(1)).getOrElse("")
    assert(rs == "o_totalprice:double", s"digit screen must read one column: $rs")
    assert(!p253.contains("SortMergeJoin"), "9-row spine must broadcast")
  }

  test("q254 cascade: one pruned scan, single-row agg, broadcast spine") {
    val p = plan(TextOps.q254FilterCascade(spark, sf0001))
    val rs = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse("")
    assert(!rs.contains("doc_id") && !rs.contains("source"),
      s"cascade needs only (n_chars, lang, text): $rs")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), "4-row stage spine broadcasts")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q255/q256: model-sized frames broadcast; no sort-merge anywhere") {
    for ((name, df) <- Seq(
      ("q255", EventOps.q255StationaryDist(spark, sf0001)),
      ("q256", DedupOps.q256DedupRoi(spark, sf0001)))) {
      val p = plan(df)
      assert(!p.contains("SortMergeJoin"), s"$name: " + p.take(500))
      assert(p.contains("BroadcastExchange") ||
        p.contains("BroadcastNestedLoopJoin"), s"$name model side broadcasts")
    }
  }

  test("q257/q258/q260: stream reduces map-side to the time spine before windows") {
    for ((name, df) <- Seq(
      ("q257", EventOps.q257BurnRate(spark, sf0001)),
      ("q258", EventOps.q258SprtMonitor(spark, sf0001)),
      ("q260", EventOps.q260TheilSen(spark, sf0001)))) {
      val p = plan(df)
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$name: partial agg before the exchange")
      assert(!p.contains("SortMergeJoin"), s"$name: " + p.take(500))
    }
  }

  test("q269/q271: monitors read ONLY ts; seasonal profile broadcasts back") {
    for ((name, df) <- Seq(
      ("q269", EventOps.q269SeasonalAnomalies(spark, sf0001)),
      ("q271", EventOps.q271AcfLjungBox(spark, sf0001)))) {
      val p = plan(df)
      val rs = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p)
        .map(_.group(1)).getOrElse("")
      assert(rs == "ts:timestamp", s"$name must scan one column: $rs")
    }
    val p269 = plan(EventOps.q269SeasonalAnomalies(spark, sf0001))
    assert(p269.contains("BroadcastHashJoin"),
      "168-cell profile joins back broadcast")
  }

  test("q270/q274: rank stats scan pruned; corpus never cartesians") {
    for ((name, df) <- Seq(
      ("q270", EventOps.q270MannWhitney(spark, sf0001)),
      ("q274", EventOps.q274Spearman(spark, sf0001)))) {
      val p = plan(df)
      val rs = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p)
        .map(_.group(1)).getOrElse("")
      assert(!rs.contains("ts") && !rs.contains("props"),
        s"$name rank stats need no timestamps: $rs")
      assert(!p.contains("CartesianProduct"), s"$name: " + p.take(500))
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$name: user-grain reduce is map-side partial")
    }
  }

  test("q272/q273: prior/bin frames broadcast; q272 never reads text") {
    val p272 = plan(TextOps.q272EbShrinkage(spark, sf0001))
    val rs = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p272)
      .map(_.group(1)).getOrElse("")
    assert(!rs.contains("text"), s"shrinkage is metadata-only: $rs")
    assert(p272.contains("BroadcastNestedLoopJoin") ||
      p272.contains("BroadcastExchange"), "prior broadcasts back")
    assert(!p272.contains("SortMergeJoin"))
    val p273 = plan(TextOps.q273IsotonicCalibration(spark, sf0001))
    assert(!p273.contains("CartesianProduct"),
      "bin-grain segment join must broadcast, not cartesian")
  }

  test("q275/q276: monitor scans prune; sketch cells reduce map-side") {
    val p275 = plan(EventOps.q275QueueBacklog(spark, sf0001))
    val rs275 = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p275)
      .map(_.group(1)).getOrElse("")
    assert(rs275 == "ts:timestamp", s"backlog needs only ts: $rs275")
    val p276 = plan(EventOps.q276LogHistPctl(spark, sf0001))
    val rs276 = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p276)
      .map(_.group(1)).getOrElse("")
    assert(!rs276.contains("ts") && !rs276.contains("user_id"),
      s"log-hist needs only (event_type, value): $rs276")
    assert("HashAggregate".r.findAllIn(p276).length >= 2,
      "cell reduce is map-side partial")
    assert(!p276.contains("SortMergeJoin"))
  }

  test("q277/q278/q279: cell/sketch/vocab grains — pruned scans, no sort-merge") {
    val p277 = plan(TextOps.q277IpfWeights(spark, sf0001))
    val rs277 = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p277)
      .map(_.group(1)).getOrElse("")
    assert(!rs277.contains("text"), s"raking is metadata-only: $rs277")
    assert(!p277.contains("SortMergeJoin"), "cell-grid joins broadcast")
    val p278 = plan(SketchOps.q278KmvJaccard(spark, sf0001))
    assert(!p278.contains("SortMergeJoin"), "sketch pair work broadcasts")
    assert(!p278.contains("CartesianProduct"))
    val p279 = plan(TextOps.q279VocabCoverage(spark, sf0001))
    val rs279 = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p279)
      .map(_.group(1)).getOrElse("")
    assert(rs279 == "text:string", s"coverage reads text alone: $rs279")
  }

  test("q280 budget: no pair fan-out anywhere — histograms only") {
    val p = plan(DedupOps.q280PairBudget(spark, sf0001))
    assert(!p.contains("pairUp") && !p.toLowerCase.contains("cartesian"),
      "the advisor must price pairs without materializing them")
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "both histograms reduce map-side")
  }

  test("q282/q283/q284/q287: experiment readouts never read value/props") {
    for ((name, df) <- Seq(
      ("q282", EventOps.q282MantelHaenszel(spark, sf0001)),
      ("q283", EventOps.q283McNemar(spark, sf0001)),
      ("q284", EventOps.q284TrendTest(spark, sf0001)),
      ("q287", EventOps.q287GrowthAccounting(spark, sf0001)))) {
      val p = plan(df)
      val schemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p)
        .map(_.group(1)).toSeq
      assert(schemas.nonEmpty &&
        schemas.forall(rs => !rs.contains("value") && !rs.contains("props")),
        s"$name: $schemas")
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$name reduces map-side")
    }
  }

  test("q286/q293: value-grain crossings; scans prune to what the stat needs") {
    val p286 = plan(EventOps.q286QuantileEffect(spark, sf0001))
    val rs286 = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p286)
      .map(_.group(1)).getOrElse("")
    assert(!rs286.contains("ts") && !rs286.contains("props"), rs286)
    val p293 = plan(EventOps.q293PctlRollupGap(spark, sf0001))
    val rs293 = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p293)
      .map(_.group(1)).getOrElse("")
    assert(!rs293.contains("user_id") && !rs293.contains("props"), rs293)
  }

  test("q288/q289: money paths — pruned scans, no cartesian anywhere") {
    for ((name, df) <- Seq(
      ("q288", Relational.q288Reconciliation(spark, sf0001)),
      ("q289", Relational.q289LargestRemainder(spark, sf0001)))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$name: " + p.take(400))
      val schemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p)
        .map(_.group(1)).toSeq
      assert(schemas.forall(rs => !rs.contains("l_comment")
        && !rs.contains("l_shipdate")), s"$name reads only money columns")
    }
  }

  test("q281/q290/q292: dedup meta-ops — no cartesian, working sets broadcast") {
    for ((name, df) <- Seq(
      ("q281", DedupOps.q281DedupRecapture(spark, sf0001)),
      ("q290", DedupOps.q290ClusterDensity(spark, sf0001)),
      ("q292", DedupOps.q292PrefixFilterJoin(spark, sf0001)))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$name: " + p.take(400))
    }
    assert(plan(DedupOps.q290ClusterDensity(spark, sf0001))
      .contains("BroadcastHashJoin"), "q290 labels broadcast")
  }

  test("q66 jaccard pairs: native shingle and pair kernels, no window, no lambda") {
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    import org.apache.spark.sql.catalyst.plans.logical.Window
    // the shingle count comes from the array size, not a per-doc
    // window, and shingles/pairs come from WordSpans/PairUp, not
    // interpreted transform(sequence(…)) lambdas
    val opt = DedupOps.q66NgramJaccard(spark, sf0001).queryExecution.optimizedPlan
    assert(opt.find(_.isInstanceOf[Window]).isEmpty, opt.treeString.take(900))
    assert(!opt.exists(_.expressions.exists(_.exists(_.isInstanceOf[HigherOrderFunction]))),
      opt.treeString.take(900))
    val p = opt.treeString
    assert(p.contains("wordspans") || p.contains("WordSpans"), p.take(900))
    assert(p.contains("pairup") || p.contains("PairUp"), p.take(900))
  }

  test("q187 prune joins: broadcast is threshold-GATED, shuffle fallback when off") {
    val semi = "(\\w+Join) \\[[^\\]]*\\], \\[[^\\]]*\\], LeftSemi".r
    def semiJoins(s: org.apache.spark.sql.SparkSession) =
      semi.findAllMatchIn(plan(LinkOps.q187FrequentTriples(s, sf0001)))
        .map(_.group(1)).toSeq
    // under the threshold the frequent-item and the three frequent-pair
    // prune joins broadcast
    val on = semiJoins(spark)
    assert(on.count(_ == "BroadcastHashJoin") == 4, on)
    val off = semiJoins(GraftSession.scoped(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1"))
    assert(off.length == 4 && !off.contains("BroadcastHashJoin"), off)
    assert(off.forall(j => j == "ShuffledHashJoin" || j == "SortMergeJoin"), off)
  }

  /** (jobs started, input bytes read) by `body` under its own job
    * group; a flush job started afterwards proves every earlier event
    * has reached the listener. Under AQE every query stage is a job. */
  private def jobsOf(body: => Unit): (Int, Long) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val group = s"plan-jobs-${System.nanoTime}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == group =>
            started.incrementAndGet(); e.stageIds.foreach(stages.add)
          case Some(g) if g == group + "-flush" => flushed.countDown()
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(group + "-flush", "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (started.get, bytesRead.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("q74 Spark jobs: the CC fixpoint finishes on the driver under the broadcast gate") {
    val (driver, _) = jobsOf(DedupOps.q74ClusterKeepers(spark, sf0001).collect())
    assert(driver <= 16, s"q74 started $driver jobs under the gate")
    val (loop, _) = jobsOf(DedupOps.q74ClusterKeepers(
      GraftSession.scoped(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1"), sf0001).collect())
    assert(loop >= 25, s"q74 started $loop jobs with the gate off")
    info(s"q74 at sf0.001: $driver jobs under the gate, $loop with it off")
  }

  test("a TableLog write is one staging job: no job reads the staged files back") {
    import spark.implicits._
    val df = (0L until 500L).map(i => (i, s"v${i % 7}", i * 0.5)).toDF("k", "v", "d")
    def create(numFiles: Int, bloomCol: Option[String] = None): (Int, Long) = {
      val t = java.nio.file.Files.createTempDirectory("plan_stage_").toString + "/t"
      val r = jobsOf(tablelog.TableLog.create(df, t, "k", numFiles, bloomCol))
      assert(tablelog.TableLog.state(t).active.length == numFiles)
      r
    }
    // numFiles 1: the shuffle map stage, then the writing stage; more
    // files add the range partitioner's sample job; bloom bits are set
    // by the writing task. The source is a local relation, so any
    // input byte would be a staged-file read.
    assert(create(1) == (2, 0L))
    assert(create(2) == (3, 0L))
    assert(create(2, Some("v")) == (3, 0L))
  }

  test("q506 at sf0.001 starts at most 17 Spark jobs") {
    val (jobs, _) = jobsOf(TableOps.q506SnapshotTags(spark, sf0001).collect())
    assert(jobs <= 17, s"q506 started $jobs jobs")
    info(s"q506 at sf0.001: $jobs jobs")
  }

  test("q294/q296: monitors scan only what the series needs") {
    val p294 = plan(EventOps.q294ForecastBaselines(spark, sf0001))
    val rs294 = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p294)
      .map(_.group(1)).getOrElse("")
    assert(rs294 == "ts:timestamp", s"q294 reads only ts: $rs294")
    val p296 = plan(EventOps.q296SessionSweep(spark, sf0001))
    val rs296 = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p296)
      .map(_.group(1)).getOrElse("")
    assert(!rs296.contains("value") && !rs296.contains("props"),
      s"q296 needs only (ts, user_id): $rs296")
  }

  test("q295/q297/q299/q300/q301: sweeps and facts — no cartesian, pruned money scans") {
    for ((name, df) <- Seq(
      ("q295", EventOps.q295QiniCurve(spark, sf0001)),
      ("q297", DedupOps.q297DedupThresholdSweep(spark, sf0001)),
      ("q299", DedupOps.q299CrossSourceDups(spark, sf0001)),
      ("q300", Relational.q300AccumulatingSnapshot(spark, sf0001)),
      ("q301", DedupOps.q301KeeperDivergence(spark, sf0001)))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$name: " + p.take(400))
    }
    val p300 = plan(Relational.q300AccumulatingSnapshot(spark, sf0001))
    val schemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p300)
      .map(_.group(1)).toSeq
    assert(schemas.forall(rs => !rs.contains("comment")),
      "accumulating snapshot never reads comments")
  }

  test("q267/q268: survival cells spine-join broadcast; agreement has no cartesian") {
    val p267 = plan(EventOps.q267LogRank(spark, sf0001))
    val rs = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p267)
      .map(_.group(1)).getOrElse("")
    assert(!rs.contains("value") && !rs.contains("props"),
      s"log-rank needs no event values: $rs")
    val p268 = plan(DedupOps.q268MethodAgreement(spark, sf0001))
    assert(!p268.contains("CartesianProduct"), p268.take(500))
  }

  test("q311-q316: corpus reduces to its grain map-side; nothing sort-merges") {
    // day-grain monitors: the events scan prunes to what the stat
    // reads, the corpus reduces to day grain BEFORE any join, and
    // the bounded day/rank frames never earn a sort-merge
    for ((name, df, allowed) <- Seq(
      ("q311", EventOps.q311KendallTau(spark, sf0001),
        Set("ts", "event_type", "value")),
      ("q314", EventOps.q314PettittChangepoint(spark, sf0001),
        Set("ts")))) {
      val p = plan(df)
      val rs = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p)
        .map(_.group(1)).getOrElse("")
      val cols = rs.split(",").map(_.takeWhile(_ != ':')).toSet
      assert(cols.subsetOf(allowed), s"$name scans $rs")
      assert(!p.contains("SortMergeJoin"), s"$name: " + p.take(400))
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$name day agg must combine map-side")
    }
    // retrieval eval: inherits q70's broadcast shape, label counts
    // broadcast back — the embedding corpus is never sort-merged
    val p312 = plan(SimilarityOps.q312MrrAt10(spark, sf0001))
    assert(!p312.contains("SortMergeJoin"), p312.take(400))
    assert(p312.contains("BroadcastNestedLoopJoin")
      || p312.contains("BroadcastHashJoin"), p312.take(400))
    // release gates: the customer dim broadcasts into the orders
    // fact; media conformance is a pure projection + one agg whose
    // scan prunes to the three metadata-bearing columns
    val p313 = plan(PrivacyOps.q313LDiversity(spark, sf0001))
    assert(p313.contains("BroadcastHashJoin") && !p313.contains("SortMergeJoin"),
      p313.take(400))
    val p316 = plan(MultimodalOps.q316MediaConformance(spark, sf0001))
    val rs316 = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p316)
      .map(_.group(1)).getOrElse("")
    assert(rs316.split(",").length <= 3, s"q316 scans $rs316")
    // audio chunking is join-free: explode over the scan, nothing else
    val p315 = plan(MultimodalOps.q315AudioChunks(spark, sf0001))
    assert(!p315.contains("Join"), p315.take(400))
  }

  test("q317-q321: pruned scans, broadcast dims/labels, no sort-merge") {
    // t-closeness: customer dim broadcasts into the orders fact; the
    // fact scan prunes to custkey + the sensitive column; the
    // cell-grain arithmetic never earns a sort-merge
    val p317 = plan(PrivacyOps.q317TCloseness(spark, sf0001))
    assert(p317.contains("BroadcastHashJoin") && !p317.contains("SortMergeJoin"),
      p317.take(400))
    // rank/day-grain stats: the events scan reads only what the
    // statistic needs, and the corpus reduces map-side first
    for ((name, df, allowed) <- Seq(
      ("q318", EventOps.q318WilcoxonSignedRank(spark, sf0001),
        Set("user_id", "ts")),
      ("q319", EventOps.ccfDailyProbe(spark, sf0001),
        Set("ts", "event_type", "value")))) {
      val p = plan(df)
      val rs = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p)
        .map(_.group(1)).getOrElse("")
      val cols = rs.split(",").map(_.takeWhile(_ != ':')).toSet
      assert(cols.subsetOf(allowed), s"$name scans $rs")
      assert(!p.contains("SortMergeJoin"), s"$name: " + p.take(400))
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$name grain agg must combine map-side")
    }
    // graph readouts: below autoBroadcastJoinThreshold the node-sized
    // label/degree frames broadcast into the edge frame (the
    // small-graph plan; the 100-TB shuffle fallback is pinned in the
    // dedicated LPA-posture test below)
    val p320 = plan(LinkOps.q320Modularity(spark, sf0001))
    assert(p320.contains("BroadcastHashJoin"), p320.take(400))
    // q321's deg⟕tri join is node-grain × node-grain — a shuffle
    // join IS the honest 100-TB shape there (neither side fits an
    // executor), so the pin is no-cartesian, not no-exchange
    val p321 = plan(LinkOps.q321ClusteringCoeff(spark, sf0001))
    assert(!p321.contains("CartesianProduct")
      && !p321.contains("BroadcastNestedLoopJoin"), p321.take(400))
  }

  test("q143/q320 LPA labels: broadcast is threshold-GATED, never a hard hint") {
    // with the auto-broadcast threshold disabled (the stand-in for
    // 100-TB node cardinality, where the label map cannot fit an
    // executor), the label joins must fall back to a co-partitioned
    // shuffle join — a hard broadcast() hint would keep broadcasting
    // and blow the driver at scale
    val off = GraftSession.scoped(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    import off.implicits._
    // one LPA round, inspected directly (lpaOf materializes each
    // round via localCheckpoint, so the returned frame's plan is a
    // checkpoint scan — the join lives in the round plan)
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val labels = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("node", "label")
    val scores = Seq((1L, 1024L), (2L, 512L)).toDF("pk", "av")
    for ((name, df) <- Seq(
      ("lpaRound", LinkOps.lpaRound(edges, labels)),
      ("q320", LinkOps.q320Modularity(off, sf0001)),
      // the round-5 verdict's surviving forced-broadcast class:
      // wedge-closure degree joins and HITS score joins are
      // node-cardinality and must also fall back to a shuffle join
      ("triangleCountsOnEdges", LinkOps.triangleCountsOnEdges(edges)),
      ("trussSupportsOnEdges", LinkOps.trussSupportsOnEdges(edges)),
      ("hitsHalfStep", LinkOps.hitsHalfStep(
        edges.toDF("ok", "pk"), scores, "pk", "ok", "av", "hv")))) {
      val p = plan(df)
      // (q320's 1-row scalar m keeps its explicit broadcast cross
      // join — a hinted BNLJ is fine at any scale for one row; the
      // label joins are equi-joins and would surface as
      // BroadcastHashJoin if still hinted)
      assert(!p.contains("BroadcastHashJoin"),
        s"$name still broadcasts with the threshold off: " + p.take(400))
      assert(!p.contains("CartesianProduct"), s"$name: " + p.take(400))
      assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
        s"$name label join must shuffle co-partitioned: " + p.take(400))
    }
  }

  test("q322 PQ encode: pure literal-codebook projection, zero Exchange") {
    val p = plan(SimilarityOps.pqEncodePlan(spark, sf0001))
    assert(!p.contains("Exchange"), p.take(800))
    assert(!p.contains("Join"), p.take(800))
  }

  test("q328 IVF-PQ index build: cell + codes in one pass, zero Exchange") {
    val p = plan(SimilarityOps.ivfPqIndexPlan(spark, sf0001))
    assert(!p.contains("Exchange"), p.take(800))
    assert(!p.contains("Join"), p.take(800))
  }

  test("q199/q284/q295/q304/q219: population-grain ranks plan NO single-partition window") {
    // the hierarchical-rank device (Ranks.withGlobalRank) must leave
    // zero WindowExec nodes with an empty partitionSpec — an empty
    // spec means AllTuples distribution, i.e. the whole population
    // sorts in ONE task (Spark's "No Partition Defined" warning)
    def unpartitionedWindows(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }.size
    for ((name, df) <- Seq(
      ("q199", TextOps.q199CalibrationBins(spark, sf0001)),
      ("q284", EventOps.q284TrendTest(spark, sf0001)),
      ("q295", EventOps.q295QiniCurve(spark, sf0001)),
      ("q304", TextOps.q304AveragePrecision(spark, sf0001)),
      ("q219", Relational.q219RfmSegments(spark, sf0001))))
      assert(unpartitionedWindows(df) == 0,
        s"$name plans a single-partition WindowExec")
  }

  test("q323-q325: grain-reducing stats scan only their columns, no joins") {
    for ((name, df, allowed) <- Seq(
      ("q323", TextOps.q323TemperatureMix(spark, sf0001),
        Set("source")),
      ("q324", EventOps.q324JonckheereTrend(spark, sf0001),
        Set("o_orderpriority", "o_totalprice")),
      ("q325", EventOps.q325CliffsDelta(spark, sf0001),
        Set("user_id", "event_type", "value")))) {
      val p = plan(df)
      val rs = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p)
        .map(_.group(1)).getOrElse("")
      val cols = rs.split(",").map(_.takeWhile(_ != ':')).toSet
      assert(cols.subsetOf(allowed), s"$name scans $rs")
      assert(!p.contains("SortMergeJoin"), s"$name: " + p.take(400))
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$name grain agg must combine map-side")
    }
  }

  test("q342 semantic dedup: in-cell equi-join, never the all-pairs plan") {
    // q68 (the exact baseline) legitimately plans a nested-loop
    // all-pairs join; the WHOLE POINT of the bucketed path is that it
    // must not — candidates come from an equi-join on the cell key
    val p = plan(SimilarityOps.q342SemanticDedup(spark, sf0001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "bucketed semantic dedup planned an all-pairs join")
  }

  test("q334 pruned table read: residual key predicate pushes into parquet") {
    val p = plan(graft.ops.TableOps.queries("q334_table_pruned_read")(spark, sf0001))
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      "the key-range residual must reach the parquet scan on the surviving files")
    assert(p.contains("GreaterThanOrEqual(o_orderkey") ||
      p.contains("IsNotNull(o_orderkey"), p.take(800))
  }

  test("q343 DSIR: ratio table broadcasts; both aggs combine map-side") {
    val p = plan(TextOps.q343DsirWeights(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      "the B-row ratio join must broadcast, never shuffle the feature stream")
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "bucket and doc aggs must both run partial before their exchange")
  }

  test("q345 interleaved pack: secondary-sort streaming fold, no lane buffering") {
    val p = plan(MultimodalOps.q345InterleavedPack(spark, sf0001))
    assert(p.contains("MapPartitions"),
      "the per-lane fold must be a streaming mapPartitions pass")
    assert(p.contains("Sort ["),
      "lanes must arrive contiguously via sortWithinPartitions")
    // the O(1)-state claim: no grouped-map operator that would
    // materialize a whole lane in one task
    assert(!p.contains("FlatMapGroups") && !p.contains("CartesianProduct"))
  }

  test("q395 struct surgery: one update_fields projection at scan grain; " +
      "post-surgery schema drops tax, adds net_cents, re-types qty") {
    import org.apache.spark.sql.types._
    val conformed = graft.ops.Scalars.nestedConform(
      graft.Tables.lineitem(spark, sf0001))
    val charges = conformed.schema("payload").dataType
      .asInstanceOf[StructType]("charges").dataType.asInstanceOf[StructType]
    assert(charges.fieldNames.toSeq == Seq("disc", "net_cents"),
      s"charges fields: ${charges.fieldNames.toSeq}")
    assert(charges("net_cents").dataType == LongType)
    assert(conformed.schema("payload").dataType.asInstanceOf[StructType]("qty")
      .dataType == LongType, "qty must be re-typed in place")
    // the API plans update_fields; the optimizer then folds all three
    // edits into ONE named_struct projection — no intermediate structs
    assert(conformed.queryExecution.analyzed.toString.contains("update_fields"))
    val p = conformed.queryExecution.executedPlan.toString
    assert(p.contains("named_struct"), p.take(600))
    assert(!p.contains("Exchange"), "struct surgery must stay scan-grain")
    assert("Project".r.findAllIn(p).length == 1,
      "three edits must fold into a single projection")
  }

  test("q399 runtime filter: bloom probe injected on the fact side " +
      "below its exchange; the join stays a shuffle join") {
    val df = Relational.runtimeFilterJoin(
      Relational.runtimeFilterSession(spark), sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the probe (might_contain over the creation side's
    // bloom_filter_agg subquery) must guard the fact scan
    val bloomBeforeExchange = p.contains("might_contain") &&
      p.contains("bloom_filter_agg")
    assert(bloomBeforeExchange, p.take(1200))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "broadcast would bypass the demonstration")
    assert(!p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("q400 analyze stats: the analyzed row count propagates into the " +
      "optimizer's stats under CBO, and column stats exist in the catalog") {
    val s = spark
    graft.ops.ExtOps.withAnalyzedTable(s, sf0001, "orders", "o_orderkey") {
      tbl =>
        val exact = s.table(tbl).count()
        val saved = s.conf.getOption("spark.sql.cbo.enabled")
        try {
          s.conf.set("spark.sql.cbo.enabled", "true")
          val rc = s.table(tbl).queryExecution.optimizedPlan.stats.rowCount
          assert(rc.contains(BigInt(exact)),
            s"rowCount=$rc, exact=$exact — CBO can't see the ANALYZE")
        } finally saved match {
          case Some(v) => s.conf.set("spark.sql.cbo.enabled", v)
          case None    => s.conf.unset("spark.sql.cbo.enabled")
        }
        // the HLL++ ndv exists in the catalog (excluded from the exact
        // contract — estimator, not a count)
        val ndv = s.sql(s"DESCRIBE EXTENDED $tbl o_orderkey").collect()
          .find(_.getString(0) == "distinct_count").map(_.getString(1))
        assert(ndv.exists(_.toLong > 0L), s"ndv=$ndv")
    }
  }

  test("AQE: post-shuffle partitions coalesce on small exchanges, and " +
      "a planted skew splits the hot partition under lowered thresholds") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // (a) coalesce: a 4-partition shuffle over tiny data folds down
    val agg = graft.Tables.lineitem(spark, sf0001)
      .groupBy($"l_returnflag").agg(count(lit(1)))
    agg.collect()
    val pa = plan(agg).split("== Initial Plan ==")(0)
    assert(pa.contains("AQEShuffleRead coalesced"), pa.take(600))
    // (b) skew split: one hot orderkey inflated 30000×, thresholds
    // lowered to fixture scale on a scoped session — AQE must mark the
    // join's hot side skew=true instead of letting one task drag
    val skew = GraftSession.scoped(spark,
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    // spread across 8 map tasks first: AQE splits a skewed reduce
    // partition along MAPPER boundaries, so a single-mapper input
    // can never be split no matter how skewed it is
    val hot = graft.Tables.lineitem(skew, sf0001)
      .withColumn("k", when($"l_orderkey" === 1L, 1L).otherwise($"l_orderkey"))
      .select($"k", explode(when($"k" === 1L,
        sequence(lit(1), lit(30000))).otherwise(array(lit(1)))).as("rep"))
      .repartition(8, $"rep")
    val dim = graft.Tables.orders(skew, sf0001)
      .select($"o_orderkey".as("k"), $"o_totalprice")
    val j = hot.join(dim, Seq("k"))
      .agg(count(lit(1)).as("n"))
    j.collect()
    val pj = plan(j).split("== Initial Plan ==")(0)
    assert(pj.contains("skew=true"), pj.take(1200))
  }

  test("q401 SQL UDF: both functions inline at analysis — the plan " +
      "carries the CASE expression, never an opaque UDF node") {
    val df = Relational.q401SqlUdf(spark, sf0001)
    df.collect() // AQE finalizes stages (and codegen spans) on execution
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p.take(600))
    assert(p.contains("CASE WHEN"),
      "the SQL UDF body must be inlined into the projection")
    // inlining preserves whole-stage codegen over the scan + aggregate
    // (executed-plan toString marks codegen spans with "*(n)")
    assert(p.contains("*(1) HashAggregate") || p.contains("*(1) Project") ||
      "\\*\\(\\d+\\) HashAggregate".r.findFirstIn(p).isDefined, p.take(600))
  }

  test("q417 catalog read: the key predicate pushes THROUGH the " +
      "catalog into the parquet scan; q427 aggregates never open a file") {
    val p = plan(TableOps.q417CatalogSql(spark, sf0001))
    // the scan is the catalog's wrapped parquet scan …
    assert(p.contains("GraftLogScan"), p.take(800))
    // … and the BETWEEN bounds reached it for row-group pruning
    assert(p.contains("GreaterThanOrEqual(o_orderkey,0)"), p.take(800))
    assert(p.contains("LessThanOrEqual(o_orderkey,29999)"), p.take(800))
    // the metadata-only aggregate plans the stats fold, no parquet
    val ps = plan(TableOps.q427StatsPushdown(spark, sf0001))
    assert(ps.contains("manifest-stats"), ps.take(800))
    assert(!ps.contains("Parquet"), ps.take(800))
  }
}
