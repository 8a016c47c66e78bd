package graft.ops

import graft.SparkSuite
import org.apache.spark.api.java.Optional
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}

/** Unit-drives the arbitrary-stateful closures (q34/q35) through
  * Spark's TestGroupState — no stream needed — pinning the cross-batch
  * fold semantics and the out-of-order fail-fast that the single-batch
  * e2e oracle can't observe.
  */
class StreamingSpec extends SparkSuite {

  private def freshState[S]: TestGroupState[S] =
    TestGroupState.create[S](Optional.empty[S](), GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L, eventTimeWatermarkMs = Optional.empty[Long](),
      hasTimedOut = false)

  test("a registry build starts from zero stream-input bytes after a failed build") {
    // a build that registers its stream input and a scratch dir, then
    // throws before drain()
    val dir = java.nio.file.Files.createTempDirectory("graft_failed_build_")
    val failing = Streaming.freshBuild { (_, _) =>
      Streaming.streamInputBytes.set(Streaming.streamInputBytes.get() + (1L << 40))
      Streaming.scratch.get() += dir
      throw new IllegalStateException("build failed")
    }
    intercept[IllegalStateException](failing(spark, sf0001))
    assert(Streaming.streamInputBytes.get() == (1L << 40))
    // the failed build's scratch is deleted, not left for the next query
    assert(!java.nio.file.Files.exists(dir))
    // the next query on this thread does not inherit the stale bytes
    var seen = -1L
    var scratchAtStart = -1
    Streaming.freshBuild { (s, _) =>
      seen = Streaming.streamInputBytes.get()
      scratchAtStart = Streaming.scratch.get().size
      s.emptyDataFrame
    }(spark, sf0001)
    assert(seen == 0L)
    assert(scratchAtStart == 0)
  }

  test("q34 foldGaps: two ordered batches fold into one O(1) state") {
    val st = freshState[(Long, Long, Long)]
    // batch 1: gaps 150, 150
    val r1 = Streaming.foldGaps(7L, Iterator((7L, 100L), (7L, 250L), (7L, 400L)), st)
    assert(r1 == ((7L, 3L, 150L)))
    assert(st.get == ((3L, 400L, 150L)))
    // batch 2: the cross-batch gap 400→1000 = 600 dominates
    val r2 = Streaming.foldGaps(7L, Iterator((7L, 1000L), (7L, 1100L)), st)
    assert(r2 == ((7L, 5L, 600L)))
    assert(st.get == ((5L, 1100L, 600L)))
  }

  test("q34 foldGaps: a batch preceding state lastTs fails fast, never under-reports") {
    val st = freshState[(Long, Long, Long)]
    Streaming.foldGaps(7L, Iterator((7L, 1000L), (7L, 1100L)), st)
    val e = intercept[IllegalStateException] {
      Streaming.foldGaps(7L, Iterator((7L, 900L)), st)
    }
    assert(e.getMessage.contains("out-of-order"))
  }

  test("q35 foldSessions: splits on >30min gaps, emits one row per session") {
    val min = 60L * 1000 * 1000
    val st = freshState[Long]
    val ts = Seq(0L, 10 * min, 20 * min, // session 1 (3 events)
      60 * min,                          // session 2 (1 event: 40min gap)
      95 * min, 100 * min)               // session 3 (2 events: 35min gap)
    val out = Streaming.foldSessions(3L, ts.map(t => (3L, t)).iterator, st).toSeq
    assert(out == Seq(
      (3L, 0L, 20 * min, 3L),
      (3L, 60 * min, 60 * min, 1L),
      (3L, 95 * min, 100 * min, 2L)))
    assert(st.get == 100 * min)
    // a second batch continuing in order appends its own sessions
    val out2 = Streaming.foldSessions(3L, Iterator((3L, 200 * min)), st).toSeq
    assert(out2 == Seq((3L, 200 * min, 200 * min, 1L)))
    // and an out-of-order batch fails fast
    val e1 = intercept[IllegalStateException] {
      Streaming.foldSessions(3L, Iterator((3L, 150 * min)), st)
    }
    assert(e1.getMessage.contains("out-of-order"))
    // an in-order batch that lands WITHIN the gap of the emitted
    // session (220 - 200 = 20min <= 30min) equally fails fast: Append
    // mode already emitted that session, silently starting a new one
    // would misreport — same posture as the out-of-order guard
    val e2 = intercept[IllegalStateException] {
      Streaming.foldSessions(3L, Iterator((3L, 220 * min)), st)
    }
    assert(e2.getMessage.contains("session-spanning"))
  }

  test("q121 admission: state spans deliveries — admit once, reject the redelivery") {
    import spark.implicits._
    val texts = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val fpOf = texts.map { case (id, t) =>
      id -> (if (id % 21 == 0) "batch boilerplate duplicate" else t)
    }.toMap
    val keepers = fpOf.groupBy(_._2).values.map(_.keys.min).toSet
    val got = Streaming.queries("q121_stream_admission")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // every doc appears exactly twice: one first-delivery verdict +
    // one cross-delivery rejection — the state survived the batch boundary
    assert(got.length == texts.length * 2)
    val byDoc = got.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    byDoc.foreach { case (id, vs) =>
      val first = if (keepers(id)) "admitted" else "dup_in_batch"
      assert(vs == Seq(first, "dup_prior_delivery").sorted, s"doc $id: $vs")
    }
    // the planted boilerplate group admitted exactly its min member
    val planted = texts.map(_._1).filter(_ % 21 == 0)
    assert(planted.count(keepers) == 1 && keepers(planted.min))
  }

  test("q87 stream-static join equals the batch join+aggregate (stream-batch parity)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = Streaming.queries("q87_stream_static_join")(spark, sf0001).collect()
    val want = graft.Tables.events(spark, sf0001)
      .join(graft.Tables.customer(spark, sf0001)
        .select($"c_custkey", $"c_mktsegment"), $"user_id" === $"c_custkey")
      .groupBy(date_trunc("day", $"ts").as("day"), $"c_mktsegment".as("segment"))
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(12,2)")).cast("double").as("sum_value"))
      .orderBy($"day", $"segment")
      .collect()
    assert(got.length == want.length && got.length > 0)
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("q144 incremental MV equals the batch recompute and took two merges") {
    import spark.implicits._
    val got = Streaming.queries("q144_incremental_mv")(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3))))
      .toMap
    assert(got.values.forall(_._3 == 2), "expected exactly two micro-batches")
    val want = graft.Tables.events(spark, sf0001)
      .groupBy($"event_type")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.expr(
            "CAST(round(value * 1000000D) AS BIGINT)")).as("sv"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.view.mapValues(v => (v._1, v._2)).toMap == want)
  }

  test("q158 decayed trending equals the one-shot recompute; " +
      "one micro-batch per weekly delivery") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Streaming.queries("q158_decayed_trending")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val ev = graft.Tables.events(spark, sf0001)
      .select($"event_type", to_date($"ts").as("day"))
    val d0 = ev.agg(min($"day")).head().getDate(0)
    val withIdx = ev.select($"event_type", datediff($"day", lit(d0)).as("di"))
    val dMax = withIdx.agg(max($"di")).head().getInt(0)
    val nWeeks = withIdx.select(($"di" / 7).cast("int")).distinct().count().toInt
    // the batch pin: the stream really ran one merge per weekly file
    rows.foreach(r => assert(r.getInt(2) == nWeeks))
    assert(nWeeks >= 2, "fixture must span multiple deliveries")
    // event-time-anchored decay: incremental merge == one-shot recompute
    val want = withIdx.groupBy($"event_type", $"di")
      .agg(count(lit(1)).as("n"))
      .select($"event_type",
        expr(s"shiftright(n, CAST($dMax - di AS INT))").as("c"))
      .groupBy($"event_type").agg(sum($"c").as("trend"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(want(r.getString(0)) == r.getLong(1)))
    // decay is real: a type's trend is far below its raw count
    val raw = ev.groupBy($"event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.forall(r => r.getLong(1) < raw(r.getString(0))))
  }

  test("q177 transformWithState: state survives the delivery boundary") {
    import spark.implicits._
    val rows = Streaming.queries("q177_transform_with_state")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val whole = graft.Tables.events(spark, sf0001)
      .groupBy($"user_id")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.expr(
            "CAST(round(value * 1000000D) AS BIGINT)")).as("sv"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    rows.groupBy(_._1).foreach { case (u, rs) =>
      val sorted = rs.sortBy(_._2)
      // the LAST emission per user equals the whole-history totals —
      // only possible if ValueState carried across micro-batches
      assert((sorted.last._2, sorted.last._3) == whole(u), s"user $u")
      // running totals strictly grow across emissions
      assert(sorted.map(_._2).distinct.length == sorted.length)
      // a user seen in both deliveries emits exactly twice
      assert(sorted.length <= 2)
    }
    assert(rows.groupBy(_._1).values.exists(_.size == 2),
      "at least one user spans both deliveries")
  }

  test("q179 merges a session split across deliveries - the case q35 fails fast on") {
    import spark.implicits._
    def t(us: Long) = org.apache.spark.sql.functions.timestamp_micros(
      org.apache.spark.sql.functions.lit(us))
    val M = 60L * 1000000L
    // delivery 1 ends user 7's session at minute 10; delivery 2
    // continues it at minute 20 (within the 30-min gap) and appends a
    // genuinely separate session at minute 120
    val d1 = Seq((7L, 0L), (7L, 10 * M)).toDF("user_id", "us")
      .select($"user_id", org.apache.spark.sql.functions
        .timestamp_micros($"us").as("ts"))
    val d2 = Seq((7L, 20 * M), (7L, 120 * M)).toDF("user_id", "us")
      .select($"user_id", org.apache.spark.sql.functions
        .timestamp_micros($"us").as("ts"))
    val got = Streaming.freshBuild((s, _) => Streaming.timeoutSessionsOf(s, Seq(d1, d2)))(
      spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3)))
    // ONE merged session 0-20min with all 3 events, one singleton at 120
    assert(got.toSeq == Seq(
      (7L, 0L, 20 * 60000L, 3L),
      (7L, 120 * 60000L, 120 * 60000L, 1L),
    ))
  }

  test("q181 MapState: per-type entries accumulate across deliveries") {
    import spark.implicits._
    val rows = Streaming.queries("q181_mapstate_profile")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val whole = graft.Tables.events(spark, sf0001)
      .groupBy($"user_id", $"event_type")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    rows.groupBy(r => (r._1, r._2)).foreach { case (k, rs) =>
      val sorted = rs.map(_._3).sorted
      // final emission equals whole-history count for that map entry
      assert(sorted.last == whole(k), s"entry $k")
      // each emission strictly grows — MapState carried the counter
      assert(sorted.distinct.length == sorted.length && sorted.length <= 2)
    }
    assert(rows.groupBy(r => (r._1, r._2)).values.exists(_.size == 2),
      "some entry updated in both deliveries")
  }

  test("q182 ListState: delivery-2 buffer interleaves both deliveries by event time") {
    import spark.implicits._
    val rows = Streaming.queries("q182_recent_features")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1).split('|').toList))
    assert(rows.nonEmpty)
    val hist = graft.Tables.events(spark, sf0001)
      .select($"user_id", org.apache.spark.sql.functions.unix_micros($"ts"),
        $"event_id", $"event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val wantFinal = hist.groupBy(_._1).map { case (u, evs) =>
      u -> evs.sortBy(e => (e._2, e._3)).takeRight(Streaming.recentK)
        .map(_._4).toList
    }
    rows.groupBy(_._1).foreach { case (u, rs) =>
      // one emission per delivery the user appears in; the final one
      // must equal the last-k of the WHOLE history — only possible if
      // the ListState buffer merged delivery 1 into delivery 2
      assert(rs.length <= 2)
      assert(rs.map(_._2).contains(wantFinal(u)), s"user $u")
    }
  }

  test("q184 bootstrap: single stream emission carries the batch-seeded history") {
    import spark.implicits._
    val rows = Streaming.queries("q184_bootstrapped_state")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.nonEmpty)
    val whole = graft.Tables.events(spark, sf0001)
      .groupBy($"user_id")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.expr(
            "CAST(round(value * 1000000D) AS BIGINT)")).as("sv"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // every emitting user reports WHOLE-history totals although the
    // stream only saw the odd half - the even half arrived via
    // handleInitialState
    rows.foreach { case (u, got) => assert(got == whole(u), s"user $u") }
  }

  test("q194 bounded-state dedup equals q33 when redelivery is inside the delay") {
    val a = Streaming.queries("q33_stream_dedup")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val b = Streaming.queries("q194_dedup_within_watermark")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // the fixture redelivers immediately (self-union), well inside the
    // 1h delay, so the bounded-state variant must match the unbounded
    // one exactly - the semantic trade only bites on LATE redelivery
    assert(a.toSeq == b.toSeq)
    assert(b.map(_._1).distinct.length == b.length)
  }

  test("q221 space-saving: eviction replaces the min and brackets the truth") {
    import spark.implicits._
    // one bucket (all user_id ≡ 0 mod 8): 513 singletons overflow the
    // 512-entry capacity, then a planted heavy item arrives post-overflow
    val singles = (1 to 513).map(i => (i.toLong, 8L * i))
    val heavy = (1 to 50).map(i => (513L + i, 8000L))
    val dir = java.nio.file.Files.createTempDirectory("graft_ss_spec_")
    (singles ++ heavy)
      .map { case (seq, item) => (seq, new java.sql.Timestamp(seq * 1000),
        item, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    try {
      val got = Streaming.queries("q221_stream_heavy_hitters")(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // singleton 8 evicted by item 4104 (inherits est 2/err 1); singleton
      // 16 evicted by the heavy item, which then counts 49 more arrivals
      val want = Seq((8000L, 51L, 1L), (4104L, 2L, 1L)) ++
        (3 to 10).map(i => (8L * i, 1L, 0L))
      assert(got.toSeq == want)
      val (item, est, err) = got.head
      assert(item == 8000L && est - err == 50L,
        "space-saving bracket est-err <= true <= est is tight here")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      val paths = try walk.iterator().asScala.toSeq finally walk.close()
      paths.sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("q240 TTL expiry resets the second wave that q177 accumulates") {
    import spark.implicits._
    val ttl = Streaming.queries("q240_ttl_state")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cum = Streaming.queries("q177_transform_with_state")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ev = graft.Tables.events(spark, sf0001)
      .select($"user_id", $"event_id", $"value").collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
    def wave(p: Int) = ev.filter(_._2 % 2 == p).groupBy(_._1)
      .view.mapValues(es => (es.length.toLong, es.map(_._3).sum)).toMap
    val (even, odd) = (wave(0), wave(1))
    // TTL pipeline: second emission is the ODD delivery alone
    val wantTtl = (even.toSeq.map { case (u, (n, sv)) => (u, n, sv) } ++
      odd.toSeq.map { case (u, (n, sv)) => (u, n, sv) })
      .sortBy(t => (t._1, t._2, t._3))
    assert(ttl.toSeq == wantTtl)
    // the no-TTL pipeline's second emission is CUMULATIVE — different
    // whenever a user appears in both deliveries
    val both = even.keySet intersect odd.keySet
    assert(both.nonEmpty)
    both.foreach { u =>
      val cumSecond = cum.filter(_._1 == u).maxBy(_._2)
      assert(cumSecond._2 == even(u)._1 + odd(u)._1,
        "q177 accumulates across the quiet period")
      val ttlSecondN = ttl.filter(_._1 == u).map(_._2)
      assert(ttlSecondN.contains(odd(u)._1),
        "q240 restarts from zero after expiry")
    }
  }

  test("q298 dynamic sessions: boundary semantics pinned on planted batch frames") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def mk(rows: Seq[(Long, Long, String)]) =
      Streaming.dynamicSessionsOf(rows.toDF("user_id", "us", "event_type")
        .select($"user_id", timestamp_micros($"us").as("ts"), $"event_type"))
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
        .sortBy(_._2)
    val min = 60000000L
    // touching merges: a view at exactly prev end joins the session
    assert(mk(Seq((1L, 0L, "view"), (1L, 30 * min, "view"))).length == 1)
    // one microsecond past the end starts a new session
    assert(mk(Seq((1L, 0L, "view"), (1L, 30 * min + 1, "view"))).length == 2)
    // a purchase closes its session after 5 minutes, not 30
    assert(mk(Seq((1L, 0L, "purchase"), (1L, 6 * min, "view"))).length == 2)
    assert(mk(Seq((1L, 0L, "purchase"), (1L, 5 * min, "view"))).length == 1)
    // a long view window still swallows a later purchase, and the
    // purchase's SHORT gap then bounds the session end
    val sw = Streaming.dynamicSessionsOf(
      Seq((1L, 0L, "view"), (1L, 10 * min, "purchase"))
        .toDF("user_id", "us", "event_type")
        .select($"user_id", timestamp_micros($"us").as("ts"), $"event_type"))
      .collect()
    assert(sw.length == 1 && sw(0).getLong(3) == 2L)
    assert(sw(0).getTimestamp(2).getTime * 1000L == 30 * min,
      "session end = max over events of ts + its OWN gap")
  }

  test("q358 stream semi join: each converted view once, parity with batch EXISTS") {
    import spark.implicits._
    val rows = Streaming.queries("q358_stream_semi_join")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // exactly-once membership: a view with many purchases still emits once
    assert(rows.map(_._2).distinct.length == rows.length,
      "semi join emitted a view more than once")
    val ev = graft.Tables.events(spark, sf0001)
    val v = ev.where($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts"))
    val p = ev.where($"event_type" === "purchase")
      .select($"user_id".as("p_uid"), $"ts".as("p_ts"))
    val batch = v.join(p,
      $"user_id" === $"p_uid" && $"p_ts" >= $"view_ts" &&
        $"p_ts" <= $"view_ts" +
          org.apache.spark.sql.functions.expr("INTERVAL 1 HOUR"), "left_semi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.toSet == batch, "stream semi != batch semi")
    // live on this corpus: some views convert, some don't
    assert(rows.nonEmpty && rows.length < v.count())
  }

  test("q388 dim refresh: batch 1 joins the upgraded snapshot, batch 0 the original") {
    val rows = Streaming.queries("q388_dim_refresh")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val b0 = rows.filter(_._1 == 0L)
    val b1 = rows.filter(_._1 == 1L)
    assert(b0.nonEmpty && b1.nonEmpty)
    // before the upgrade everything is cold
    assert(b0.forall(_._3 == "cold"))
    // after: exactly the purchase rows flipped hot — the refresh is visible
    assert(b1.filter(_._2 == "purchase").forall(_._3 == "hot"))
    assert(b1.filter(_._2 != "purchase").forall(_._3 == "cold"))
    assert(b1.exists(_._2 == "purchase"), "fixture must carry purchases")
    // conservation: every event of each delivery is categorized once
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf0001)
    assert(b0.map(_._4).sum == ev.where($"event_id" % 2 === 0).count())
    assert(b1.map(_._4).sum == ev.where($"event_id" % 2 === 1).count())
  }

  test("q397 progress audit: listener sees one batch per delivery with " +
      "SOURCE row counts (filter-independent); teardown leaves no listener") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf0001)
    val even = ev.where($"event_id" % 2 === 0).count()
    val odd = ev.where($"event_id" % 2 === 1).count()
    val purchases = ev.where($"event_type" === "purchase").count()
    val got = Streaming.queries("q397_progress_audit")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((0L, even), (1L, odd)))
    // numInputRows counts source rows, not the filtered output
    assert(got.map(_._2).sum != purchases)
    // the listener was removed: a second run sees only its own events
    val again = Streaming.queries("q397_progress_audit")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(again.toSeq == got.toSeq)
  }

  test("q407 state audit: dedup state grows by exactly the new keys " +
      "per delivery — the leak detector's healthy baseline") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf0001)
    val evenUsers = ev.where($"event_id" % 2 === 0)
      .select($"user_id").distinct().count()
    val allUsers = ev.select($"user_id").distinct().count()
    val got = Streaming.queries("q407_state_audit")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (0L, evenUsers, evenUsers),
      (1L, allUsers, allUsers - evenUsers)), got.toSeq.toString)
    // the invariant a leaking dedup would break: total grows by new
    assert(got(1)._2 == got(0)._2 + got(1)._3)
  }

  test("deliver lands frames as delivery_<i> in index mtime order; no stage dir is left") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val landing = java.nio.file.Files.createTempDirectory("graft_deliver_spec_")
    try {
      // written last-first, so write timing alone would replay 2, 1, 0
      Seq(2, 1, 0).foreach(i => Streaming.deliver(landing, i, Seq(i.toLong).toDF("v")))
      val ls = java.nio.file.Files.list(landing)
      val files = try ls.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
        finally ls.close()
      assert(files.map(_.getFileName.toString) ==
        Seq("delivery_0.parquet", "delivery_1.parquet", "delivery_2.parquet"))
      val mtimes = files.map(java.nio.file.Files.getLastModifiedTime(_).toMillis)
      assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b }, mtimes)
      // one file per trigger replays each delivery's rows in index order
      val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
      spark.readStream.schema("v BIGINT").option("maxFilesPerTrigger", 1)
        .parquet(landing.toString).writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          batches += b.as[Long].collect().toSeq; ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      assert(batches.toSeq == Seq(Seq(0L), Seq(1L), Seq(2L)))
    } finally {
      val walk = java.nio.file.Files.walk(landing)
      val paths = try walk.iterator().asScala.toSeq finally walk.close()
      paths.sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("ops/ stages deliveries, stamps mtimes, makes Streaming scratch dirs and " +
      "audits stream progress in one helper each; q397/q407 do not poll") {
    val ops = new java.io.File("src/main/scala/graft/ops").listFiles().toSeq
      .filter(_.getName.endsWith(".scala")).sortBy(_.getName)
    def linesOf(f: java.io.File): Vector[String] = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toVector finally src.close()
    }
    val streaming = linesOf(new java.io.File("src/main/scala/graft/ops/Streaming.scala"))
    // the lines of Streaming's `def name`: its signature through its
    // closing brace, the first later line back at the def's indentation
    def body(name: String): Set[(String, Int)] = {
      val start = streaming.indexWhere(l =>
        l.contains(s"def $name(") || l.contains(s"def $name["))
      assert(start >= 0, s"no def $name in Streaming.scala")
      val indent = streaming(start).takeWhile(_ == ' ').length
      val end = streaming.indexWhere(l =>
        l.trim.nonEmpty && l.takeWhile(_ == ' ').length <= indent, start + 1)
      (start to end).map("Streaming.scala" -> _).toSet
    }
    def sites(token: String): Seq[(String, Int)] = ops.flatMap { f =>
      linesOf(f).zipWithIndex.collect { case (l, i) if l.contains(token) => f.getName -> i }
    }
    def onlyIn(token: String, helper: Set[(String, Int)],
        files: String => Boolean = _ => true): Unit = {
      val at = sites(token).filter(a => files(a._1))
      assert(at.nonEmpty && at.forall(helper), s"$token at ${at.mkString(", ")}")
    }
    onlyIn("Files.move(", body("deliver"))
    onlyIn("setLastModifiedTime(", body("deliver"))
    onlyIn("createTempDirectory(", body("scratchDir"), _ == "Streaming.scala")
    onlyIn("scratch.get() +=", body("scratchDir"))
    onlyIn("StreamingQueryListener {", body("progressAudit"))
    assert(sites("StreamingQueryListener {").length == 1)
    Seq("q397ProgressAudit", "q407StateAudit").foreach { q =>
      val sleeps = body(q).filter { case (_, i) => streaming(i).contains("Thread.sleep") }
      assert(sleeps.isEmpty, s"$q polls at $sleeps")
    }
  }

  test("q240, q397 and q407 return promptly on zero-row deliveries") {
    // a schema-only copy of events, built at test time under target/
    val dir = new java.io.File("target/empty_events").getAbsolutePath
    spark.read.parquet(s"$sf0001/events.parquet").limit(0)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Seq("q240_ttl_state", "q397_progress_audit", "q407_state_audit").foreach { name =>
      val t0 = System.nanoTime()
      val rows = Streaming.queries(name)(spark, dir).collect()
      val secs = (System.nanoTime() - t0) / 1e9
      assert(rows.isEmpty, s"$name: ${rows.toSeq}")
      // the old waits were 120 s (q240) and 30 s (q397, q407)
      assert(secs < 25, f"$name took $secs%.1f s on zero rows")
      info(f"$name: $secs%.1f s on zero rows")
    }
  }
}
