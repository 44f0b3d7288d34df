package graft

import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.operators.{Events, Relational}
import graft.text.TextAnalysis

/** Semantics + plan-shape specs for the round-6 analytics batch
  * (a06/a07, t11–t13, e09/e10, q109). */
class AnalyticsOpsSpec extends GraftSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("a06 kmeans: cells partition the corpus; no cartesian/nested-loop join") {
    val res = Ann.kmeansStep(spark, sf)
    val p = plan(res)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    val rows = res.collect()
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.map(_.getAs[Long]("n_members")).sum == corpus,
      "every vector must land in exactly one cell")
    rows.foreach { r =>
      assert(r.getAs[Double]("avg_sim") > 0.0 && r.getAs[Double]("avg_sim") <= 1.0)
      assert(r.getAs[Double]("centroid_norm") > 0.0)
    }
  }

  test("a07 semantic dedup: kept + dropped = members per cell; no cartesian") {
    val res = Ann.semanticDedup(spark, sf)
    val p = plan(res)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    res.collect().foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped") ==
        r.getAs[Long]("n_members"))
      assert(r.getAs[Long]("n_kept") >= 1, "a cell never drops ALL members")
    }
    // cells pair through Dedup.bucketPairs' compiled hash self-join, not
    // a collect_list + nested-transform generator
    val digest = graft.plans.PlanDigest.canonical(res)
    assert(!digest.contains("ObjectHashAggregateExec") && !digest.contains("GenerateExec"),
      digest)
    assert(graft.plans.PlanDigest.codegenFallbacks(res.queryExecution.executedPlan) < 14)
  }

  test("a07 semantic dedup honours the session bucket cap") {
    val key = "spark.graft.dedup.maxBucket"
    def cells = Ann.semanticDedup(spark, sf).collect()
      .map(r => (r.getAs[Long]("n_members"), r.getAs[Long]("n_dropped")))
    // at the default cap some cell of more than 2 members drops a vector
    assert(cells.exists { case (m, dropped) => m > 2 && dropped > 0 }, cells.mkString(", "))
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "2")
    try {
      val capped = cells
      assert(capped.nonEmpty && capped.forall(_._2 == 0L), capped.mkString(", "))
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("a11 pq: narrow join-free assignment partitions the corpus per subspace") {
    val res = Ann.pqCodes(spark, sf)
    val p = plan(res)
    assert(!p.contains("Join"), s"PQ assignment must be a narrow projection:\n$p")
    val rows = res.collect()
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet").count()
    (0 until 4).foreach { m =>
      val sb = rows.filter(_.getAs[Int]("subspace") == m)
      assert(sb.map(_.getAs[Long]("n_assigned")).sum == corpus,
        s"subspace $m must assign every vector exactly once")
      assert(sb.forall { r =>
        r.getAs[Long]("code") >= 0 && r.getAs[Long]("code") < 16
      })
      // sqdist is a cancellation form (x·x − 2x·c + c·c); means can dip
      // a few ulp below zero but never materially
      assert(sb.forall(_.getAs[Double]("avg_sqdist") >= -1e-9))
    }
  }

  test("a12 nprobe curve: recall is monotone in nprobe and bounded by 1") {
    val rows = Ann.nprobeCurve(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("nprobe")).toSeq == Seq(1L, 2L, 3L, 4L))
    val recalls = rows.map(_.getAs[Double]("recall"))
    recalls.sliding(2).foreach { case Array(a, b) =>
      assert(a <= b, s"recall must not drop as nprobe grows: ${recalls.mkString(",")}")
    }
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
    assert(rows.map(_.getAs[Long]("n_hits")).forall(_ <= 50L))
  }

  test("e13 rfm: scores span 1..4, cells partition users, labels match the chain") {
    val rows = Events.rfm(spark, sf).collect()
    assert(rows.nonEmpty)
    val users = graft.sources.Tables.events(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_users")).sum == users,
      "every user lands in exactly one (r, f, m) cell")
    rows.foreach { r =>
      val (rs, fs, ms) = (r.getAs[Int]("r_score"), r.getAs[Int]("f_score"),
        r.getAs[Int]("m_score"))
      Seq(rs, fs, ms).foreach(x => assert(x >= 1 && x <= 4, r.toString))
      val expect =
        if (rs >= 3 && fs >= 3 && ms >= 3) "champion"
        else if (rs <= 2 && fs >= 3) "at_risk"
        else if (rs >= 3 && fs <= 2) "fresh"
        else "casual"
      assert(r.getAs[String]("segment") == expect, r.toString)
    }
    // thresholds come from the bounded histogram sketch, never from
    // exact percentile (whose final buffer holds every per-user value
    // in one reducer — the per-executor OOM at a billion-user table)
    val plan = Events.rfm(spark, sf).queryExecution.optimizedPlan.toString
    assert(!plan.contains("percentile("), plan.linesIterator.take(5).mkString("\n"))
  }

  test("t11 gopher: keep is exactly the conjunction of the emitted signals") {
    val rows = TextAnalysis.gopherQuality(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expect = r.getAs[Long]("n_words") >= 50L && r.getAs[Long]("n_words") <= 100000L &&
        r.getAs[Double]("mean_word_len") >= 3.0 && r.getAs[Double]("mean_word_len") <= 10.0 &&
        r.getAs[Double]("alpha_frac") >= 0.8 && r.getAs[Int]("n_stopwords") >= 1
      assert(r.getAs[Boolean]("keep") == expect, r.toString)
    }
  }

  test("t12 bm25: corpus is never exploded to words (only 5-term Generates)") {
    val df = TextAnalysis.bm25(spark, sf)
    val p = plan(df)
    // one Generate per pass (df stats + scoring), each a bounded 5-term
    // fan-out; a (doc, word) explode would add more and shuffle on words
    assert("Generate".r.findAllIn(p).length <= 2,
      s"bm25 must fan out only to the fixed query terms:\n$p")
    assert(!p.contains("hashpartitioning(w#"),
      s"bm25 must never shuffle word-keyed corpus rows:\n$p")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("bm25") > 0.0))
  }

  test("t13 zipf: slope is negative (frequency decays with rank)") {
    val r = TextAnalysis.zipfSlope(spark, sf).collect().head
    assert(r.getAs[Long]("n_top") >= 10)
    assert(r.getAs[Double]("zipf_slope") < 0.0, r.toString)
  }

  test("e09 anomaly: five rows per type, ranked by |z| descending") {
    val rows = Events.anomaly(spark, sf).collect()
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      assert(rs.length == 5)
      val zs = rs.sortBy(_.getAs[Int]("rn")).map(r => math.abs(r.getAs[Double]("z")))
      assert(zs.sameElements(zs.sorted.reverse), zs.mkString(","))
    }
  }

  test("e10 attribution: touch precedes the purchase and is a click/view") {
    val df = Events.attribution(spark, sf)
    val p = plan(df)
    // one hash exchange for the per-user window + the final range sort only
    assert("Exchange".r.findAllIn(p).length <= 2, s"extra shuffle:\n$p")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("gap_us") > 0, "touch must strictly precede purchase")
      assert(Set("click", "view").contains(r.getAs[String]("touch_type")))
    }
  }

  test("d09 minhash estimator: agreement tracks exact Jaccard within theory") {
    val rows = graft.dedup.Dedup.minhashEstimate(spark, sf).collect()
    assert(rows.nonEmpty)
    // σ = √(J(1−J)/128) ≤ 0.0442; mean |err| across pairs must sit well
    // inside a few σ or the signature kernel is broken
    val errs = rows.map(_.getAs[Double]("abs_err"))
    assert(errs.sum / errs.length < 0.06, s"mean err ${errs.sum / errs.length}")
    rows.foreach { r =>
      val est = r.getAs[Double]("est_jaccard")
      assert(est >= 0.0 && est <= 1.0)
    }
  }

  test("e11 transitions: probabilities row-normalize to 1 per from_type") {
    val rows = Events.transitions(spark, sf).collect()
    rows.groupBy(_.getAs[String]("from_type")).foreach { case (_, rs) =>
      val total = rs.map(_.getAs[Double]("p")).sum
      assert(math.abs(total - 1.0) < 1e-4, s"Σp = $total")
    }
  }

  test("q110 ntile: 4 balanced quartiles per segment, non-overlapping ranges") {
    val rows = Relational.q110(spark, sf).collect()
    rows.groupBy(_.getAs[String]("c_mktsegment")).foreach { case (_, rs) =>
      assert(rs.length == 4)
      val sorted = rs.sortBy(_.getAs[Int]("quartile"))
      val counts = sorted.map(_.getAs[Long]("n"))
      assert(counts.max - counts.min <= 1, counts.mkString(","))
      sorted.sliding(2).foreach { case Array(lo, hi) =>
        assert(lo.getAs[Double]("max_bal") <= hi.getAs[Double]("min_bal"))
      case _ => }
    }
  }

  test("q111 gaps-islands: island arithmetic is internally consistent") {
    val rows = Relational.q111(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (days, islands, maxRun) = (r.getAs[Long]("n_days"),
        r.getAs[Long]("n_islands"), r.getAs[Long]("max_run"))
      assert(islands >= 1 && maxRun >= 1 && maxRun <= days && islands <= days)
    }
  }

  test("t14 entropy: 0 ≤ H ≤ ln(n_distinct)") {
    val rows = TextAnalysis.entropy(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getAs[Double]("entropy")
      val hmax = math.log(r.getAs[Long]("n_distinct").toDouble)
      assert(h >= 0.0 && h <= hmax + 1e-6, r.toString)
    }
  }

  test("q109 wilson: bounds bracket p_hat and stay inside [0,1]") {
    val rows = Relational.q109(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p, lo, hi) = (r.getAs[Double]("p_hat"),
        r.getAs[Double]("wilson_lower"), r.getAs[Double]("wilson_upper"))
      assert(lo >= 0.0 && hi <= 1.0 && lo < p && p < hi, r.toString)
    }
  }

  test("e14 sliding distinct: equals a brute-force 7-day recount; monotone vs daily") {
    val got = Events.slidingDistinct(spark, sf).collect()
      .map(r => r.getAs[String]("window_end") -> r.getAs[Long]("active_users")).toMap
    assert(got.nonEmpty)
    val dayUsers = graft.sources.Tables.events(spark, sf)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val maxDay = dayUsers.map(_._1).max
    got.foreach { case (wendStr, n) =>
      val wend = java.time.LocalDate.parse(wendStr)
      assert(!wend.isAfter(maxDay), "no partial-future windows")
      val want = dayUsers.filter { case (d, _) =>
        !d.isAfter(wend) && !d.isBefore(wend.minusDays(6)) }.map(_._2).distinct.length
      assert(n == want.toLong, s"$wendStr: got $n want $want")
      // a 7-day window can never see fewer users than its last day alone
      val daily = dayUsers.filter(_._1 == wend).map(_._2).distinct.length
      assert(n >= daily)
    }
  }

  test("e15 conversion lag matches a driver-side brute-force recompute") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val firstView = ev.filter(_._2 == "view").groupBy(_._1)
      .view.mapValues(_.map(_._3).min).toMap
    val lagByUser = firstView.map { case (u, v) =>
      val p = ev.filter(e => e._1 == u && e._2 == "purchase" && e._3 > v)
        .map(_._3).minOption
      (u, v, p.map(_ - v))
    }
    def dayOf(us: Long): String =
      java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L))
        .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
    def kth(sorted: Seq[Long], pn: Long): Long = {
      val k = math.max(1L, (pn * sorted.length + 999999L) / 1000000L)
      sorted((k - 1).toInt)
    }
    val expected = lagByUser.groupBy { case (_, v, _) => dayOf(v) }
      .map { case (day, rows) =>
        val lags = rows.flatMap(_._3).toSeq.sorted
        day -> (rows.size.toLong, lags.length.toLong,
          if (lags.nonEmpty) Some((kth(lags, 500000L), kth(lags, 900000L))) else None)
      }
    val got = graft.operators.Events.conversionLag(spark, sf).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (nv, nc, cuts) = expected(r.getAs[String]("day"))
      assert(r.getAs[Long]("n_viewers") == nv)
      assert(r.getAs[Long]("n_converted") == nc)
      cuts match {
        case Some((med, p90)) =>
          assert(r.getAs[Long]("med_lag_us") == med, s"${r.getAs[String]("day")} median")
          assert(r.getAs[Long]("p90_lag_us") == p90, s"${r.getAs[String]("day")} p90")
          assert(med <= p90)
        case None =>
          assert(r.isNullAt(r.fieldIndex("med_lag_us")))
      }
    }
    // the corpus genuinely converts: some users purchase after first view
    assert(got.map(_.getAs[Long]("n_converted")).sum > 0)
  }

  test("e16 dwell time matches a driver-side brute-force recompute") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val sessUs = 1800L * 1000000L
    // per user, sort by (ts, event_id); dwell = next.us - us
    val dwells = ev.groupBy(_._1).values.flatMap { g =>
      val s = g.sortBy(e => (e._3, e._4))
      s.zip(s.drop(1)).map { case (a, b) => (a._2, b._3 - a._3) }
    }.toSeq
    val expected = dwells.groupBy(_._1).view.mapValues { ds =>
      val in = ds.map(_._2).filter(_ <= sessUs)
      val ends = ds.map(_._2).count(_ > sessUs).toLong
      (in.length.toLong, in.sum, if (in.nonEmpty) Some(in.max) else None, ends)
    }.toMap
    val got = graft.operators.Events.dwellTime(spark, sf).collect()
    val gotTypes = got.map(_.getAs[String]("event_type"))
    assert(gotTypes.sameElements(gotTypes.sorted))
    got.foreach { r =>
      val t = r.getAs[String]("event_type")
      expected.get(t) match {
        case Some((n, sumUs, maxUs, ends)) =>
          assert(r.getAs[Long]("n_dwells") == n, s"$t n_dwells")
          assert(r.getAs[Long]("sum_dwell_us") == sumUs, s"$t sum")
          assert(maxUs.contains(r.getAs[Long]("max_dwell_us")), s"$t max")
          assert(r.getAs[Long]("n_session_ends") == ends, s"$t ends")
          // exact floor division, never a rounded double
          assert(r.getAs[Long]("avg_dwell_us") == Math.floorDiv(sumUs, n), s"$t avg")
          assert(r.getAs[Long]("avg_dwell_us") <= r.getAs[Long]("max_dwell_us"))
        case None =>
          // a type whose every occurrence is its user's last event
          assert(r.getAs[Long]("n_dwells") == 0L && r.getAs[Long]("n_session_ends") == 0L)
      }
    }
    // real data has in-session dwells AND session-ending gaps
    assert(got.map(_.getAs[Long]("n_dwells")).sum > 0)
    assert(got.map(_.getAs[Long]("n_session_ends")).sum > 0)
  }

  test("e17 burst detection matches a driver-side trailing-window recount") {
    val windowUs = 24L * 3600L * 1000000L - 1L
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = ev.groupBy(_._1).view.mapValues { g =>
      val ts = g.map(_._2).sorted
      // max trailing-24h count: for each event, events in [t-window, t]
      val mb = ts.map(t => ts.count(u => u >= t - windowUs && u <= t)).max
      (ts.length.toLong, mb.toLong)
    }.toMap
    val got = Events.burstDetection(spark, sf).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (n, mb) = expected(r.getAs[Long]("user_id"))
      assert(r.getAs[Long]("n_events") == n)
      assert(r.getAs[Long]("max_burst_24h") == mb,
        s"user ${r.getAs[Long]("user_id")}: burst")
      assert(r.getAs[Boolean]("is_burst") == (mb >= 10L))
    }
    // the threshold discriminates: some users burst, most don't
    assert(got.exists(!_.getAs[Boolean]("is_burst")))
  }

  test("e18 path mining matches a driver-side recount; shares are exact floor bp") {
    val sessUs = 1800L * 1000000L
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val expected = ev.groupBy(_._1).values.flatMap { g =>
      val s = g.sortBy(e => (e._3, e._4)).toSeq
      s.sliding(3).filter(_.length == 3).collect {
        case Seq(a, b, c) if b._3 - a._3 <= sessUs && c._3 - b._3 <= sessUs =>
          (a._2, b._2, c._2)
      }
    }.toSeq.groupBy(x => x).view.mapValues(_.size.toLong).toMap
    val got = graft.operators.Events.pathMining(spark, sf).collect()
    assert(got.length == expected.size)
    val total = expected.values.sum
    got.foreach { r =>
      val k = (r.getAs[String]("p1"), r.getAs[String]("p2"), r.getAs[String]("p3"))
      assert(r.getAs[Long]("n") == expected(k), s"path $k")
      assert(r.getAs[Long]("share_bp") ==
        Math.floorDiv(10000L * expected(k), total), s"share $k")
    }
    // counts are presented descending
    val ns = got.map(_.getAs[Long]("n"))
    assert(ns.sameElements(ns.sorted.reverse))
  }

  test("e19 survival curve matches a driver-side recount; cumulative exact") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val firstView = ev.filter(_._2 == "view").groupBy(_._1).view
      .mapValues(_.map(_._3).min).toMap
    val lags = firstView.flatMap { case (u, v) =>
      val ps = ev.filter(e => e._1 == u && e._2 == "purchase" && e._3 > v)
      if (ps.isEmpty) None else Some(math.min((ps.map(_._3).min - v) / 86400000000L, 7L))
    }.toSeq
    val expected = lags.groupBy(identity(_)).view.mapValues(_.size.toLong).toMap
    val got = graft.operators.Events.conversionSurvival(spark, sf).collect()
    assert(got.length == expected.size)
    val total = lags.length.toLong
    var cum = 0L
    got.foreach { r =>
      val d = r.getAs[Long]("lag_day")
      cum += expected(d)
      assert(r.getAs[Long]("n") == expected(d), s"day $d")
      assert(r.getAs[Long]("cum_n") == cum, s"cum day $d")
      assert(r.getAs[Long]("cum_bp") == Math.floorDiv(10000L * cum, total))
    }
    // the last bucket's cumulative share is exactly 10000 bp
    assert(got.last.getAs[Long]("cum_bp") == 10000L)
  }

  test("e20 stickiness matches a driver-side window recount; dau <= wau <= mau") {
    val act = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val maxDay = act.map(_._2).maxBy(_.toEpochDay)
    def users(end: java.time.LocalDate, w: Int) = act.collect {
      case (u, d) if !d.isAfter(end) &&
        d.toEpochDay > end.toEpochDay - w => u
    }.toSet
    val got = graft.operators.Events.stickiness(spark, sf).collect()
    // spine: every end day serviced by some 28-day window, none future
    val spine = act.flatMap { case (_, d) =>
      (0 until 28).map(k => d.plusDays(k)).filter(!_.isAfter(maxDay))
    }.distinct.sorted(Ordering.by((x: java.time.LocalDate) => x.toEpochDay))
    assert(got.map(_.getAs[String]("day")).sameElements(spine.map(_.toString)))
    got.foreach { r =>
      val end = java.time.LocalDate.parse(r.getAs[String]("day"))
      val (dau, wau, mau) =
        (users(end, 1).size.toLong, users(end, 7).size.toLong, users(end, 28).size.toLong)
      assert(r.getAs[Long]("dau") == dau, s"$end dau")
      assert(r.getAs[Long]("wau") == wau, s"$end wau")
      assert(r.getAs[Long]("mau") == mau, s"$end mau")
      assert(dau <= wau && wau <= mau && mau >= 1)
      assert(r.getAs[Long]("stickiness_bp") == Math.floorDiv(10000L * dau, mau))
    }
  }
}
