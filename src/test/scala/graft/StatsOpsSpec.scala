package graft

import graft.functions.HllSketch
import graft.operators.StatsOps

/** Round-5 stats/pipeline operators: the oracle gate proves the sf0.01
  * results; these specs prove the semantics on adversarial hand-built
  * fixtures (planted exact correlations, overlap chains, duplicate
  * groups with ties, known-cardinality sketches). */
class StatsOpsSpec extends SparkSpec {

  test("nelson-aalen: censoring honored, risk sets left-truncated, hazards exact") {
    val sq = spark
    import sq.implicits._
    // observation window hour 0..20 (horizon 18 -> churn iff exit <= 2):
    // A churns hour 1; B churns hour 2; C exits hour 15 (past the
    // horizon: CENSORED); D enters hour 2 (LEFT-TRUNCATED: absent from
    // the hour-1 risk set) and churns at once; E survives to hour 20
    // (censored, pins the window end)
    def ts(hour: Long) = new java.sql.Timestamp(hour * 3600000L)
    val ev = Seq(
      (1L, ts(0)), (1L, ts(1)), (2L, ts(0)), (2L, ts(2)),
      (3L, ts(0)), (3L, ts(15)), (4L, ts(2)),
      (5L, ts(0)), (5L, ts(20))).toDF("user_id", "ts")
    val out = graft.operators.StatsOps.nelsonAalenOf(ev).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // hour 1: 4 at risk (D not yet entered), A churns -> h = 0.25
    // hour 2: entries 5 minus A exited -> 4 at risk, B and D churn
    //   -> +0.5; censor-only exits (15, 20) contribute NO hazard rows
    assert(out.toSeq == Seq((1, 4L, 1L, 0.25), (2, 4L, 2L, 0.75)),
      s"hazard curve drifted: ${out.toSeq}")
    graft.core.EngineCache.releaseAll()
  }
  import spark.implicits._

  test("CUSUM window identity matches the literal recursion, peaks at the shift") {
    // "shift": mean jumps +4 at hour 30 → CUSUM accumulates to the end;
    // "flat": constant series → every deviation 0 → S ≡ 0, peak = hour 0
    val rows = (0 until 60).flatMap { h =>
      val ts = java.sql.Timestamp.from(
        java.time.Instant.parse("2024-03-01T00:00:00Z")
          .plusSeconds(h * 3600L + 120L))
      Seq(("shift", ts, if (h < 30) 10.0 else 14.0),
        ("shift", ts, if (h < 30) 10.0 else 14.0), // 2 events/hour: means
        ("flat", ts, 7.25))
    }
    rows.toDF("event_type", "ts", "value")
      .createOrReplaceTempView("graft_cusum_test")
    val out = StatsOps.cusumOn(spark, "graft_cusum_test").collect()
      .map(r => r.getString(0) -> r).toMap
    // literal recursion on the hourly means, same 1e-6 grid
    val v = (0 until 60).map(h => if (h < 30) 10.0 else 14.0)
    val mu = math.floor(v.sum / v.size * 1e6 + 0.5) / 1e6
    var s = 0L; var sMax = 0L; var argmax = 0
    v.zipWithIndex.foreach { case (x, h) =>
      val d = math.floor((x - mu) * 1e6 + 0.5).toLong
      s = math.max(0L, s + d)
      if (s > sMax) { sMax = s; argmax = h }
    }
    val shift = out("shift")
    assert(shift.getLong(1) == 60)
    assert(shift.getDouble(3) == sMax / 1e6.toDouble,
      s"prefix-identity CUSUM must equal the recursion: $shift vs $sMax")
    assert(shift.getTimestamp(2).toInstant ==
      java.time.Instant.parse("2024-03-01T00:00:00Z")
        .plusSeconds(argmax * 3600L),
      s"peak hour must be the recursion argmax ($argmax): $shift")
    assert(argmax == 59, "a sustained shift accumulates to the last hour")
    val flat = out("flat")
    assert(flat.getDouble(3) == 0.0 &&
      flat.getTimestamp(2).toInstant ==
        java.time.Instant.parse("2024-03-01T00:00:00Z"),
      s"flat series: zero CUSUM, earliest-hour tiebreak: $flat")
    graft.core.EngineCache.releaseAll()
  }

  test("hourly anomaly flags exactly the planted spikes, never the baseline") {
    val t0 = java.time.Instant.parse("2024-07-01T00:00:00Z")
    // 40 hours of gently-varying baseline with two planted spikes; the
    // variation keeps MAD > 0 (an all-constant series has MAD 0 and the
    // 3-MAD rule degenerates)
    val rows = (0 until 40).map { h =>
      val v = if (h == 7 || h == 31) 100.0 else 10.0 + (h % 3) * 0.1
      ("spiky", java.sql.Timestamp.from(t0.plusSeconds(h * 3600L)), v)
    }
    rows.toDF("event_type", "ts", "value")
      .createOrReplaceTempView("graft_anom_test")
    spark.sql(StatsOps.cusumHourlySql("graft_anom_test"))
      .createOrReplaceTempView("graft_anom_hourly")
    val out = spark.sql(
      "WITH hist AS (SELECT event_type, v, count(1) AS cnt " +
        "FROM graft_anom_hourly GROUP BY event_type, v),\n" +
        StatsOps.anomalyTailSql("graft_anom_hourly",
          "SELECT event_type, percentile(v, 0.5, cnt) AS med " +
            "FROM hist GROUP BY event_type",
          "SELECT h.event_type, percentile(abs(h.v - m.med), 0.5, h.cnt) " +
            "AS mad FROM hist h JOIN med m ON h.event_type = m.event_type " +
            "GROUP BY h.event_type")).collect()
    val hours = out.map(r =>
      java.time.Duration.between(t0, r.getTimestamp(1).toInstant).toHours)
    assert(hours.toSet == Set(7L, 31L),
      s"exactly the planted spikes must flag: ${hours.toSeq}")
    assert(out.forall(_.getDouble(3) > 3.0),
      "a flagged hour's robust z must exceed the 3-MAD bar")
    graft.core.EngineCache.releaseAll()
  }

  test("corr matrix recovers a planted exact linear relation (r = ±1)") {
    // price = 3·qty exactly → r(qty,price) = 1; tax = -disc + 0.5 → r = -1
    Seq(
      (1.0, 3.00, 0.01, 0.49), (2.0, 6.00, 0.02, 0.48),
      (3.0, 9.00, 0.03, 0.47), (4.0, 12.00, 0.04, 0.46)
    ).toDF("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .createOrReplaceTempView("li_corr")
    val r = spark.sql(StatsOps.corrMatrixSql("li_corr"))
      .collect().map(x => x.getString(0) -> x.getDouble(2)).toMap
    assert(r("qty~price") === 1.0)
    assert(r("disc~tax") === -1.0)
    assert(r.size === 6 && r.values.forall(v => v >= -1.0 && v <= 1.0))
  }

  test("winsorized/trimmed means are insensitive to a planted outlier") {
    val out = StatsOps.winsorMeans(spark, sfDir).collect()
    assert(out.nonEmpty)
    // plain-mean sanity envelope: winsor/trim land inside [min, max]
    out.foreach { row =>
      val (w, t) = (row.getDouble(2), row.getDouble(3))
      assert(w > 0 && t > 0 && math.abs(w - t) < w) // same scale, both robust
    }
  }

  test("interval union merges an overlap chain and splits on a true gap") {
    // user 1: 0min, 20min, 40min starts (30-min intervals) chain into ONE
    //   island covering 70min; user 2: 0min and 120min → two islands.
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    Seq(
      (1L, ts(0)), (1L, ts(20)), (1L, ts(40)),
      (2L, ts(0)), (2L, ts(120))
    ).toDF("user_id", "ts").createOrReplaceTempView("ev_iv")
    val out = spark.sql(StatsOps.sparkIntervalUnionSql("ev_iv"))
      .as[(Long, Long, Long, Long)].collect().toMap2
    assert(out(1L) === ((1L, 70L * 60000, 70L * 60000)))
    assert(out(2L) === ((2L, 60L * 60000, 30L * 60000)))
  }

  test("lift table: perfect score separation puts every positive in early deciles") {
    // 100 orders, top-20 prices are ALL the 'F' positives → capture hits
    // 1.0 by decile 2 and decile-1 lift = 1/base_rate = 5
    val rows = (1 to 100).map { i =>
      (i.toLong, 1000.0 - i, if (i <= 20) "F" else "O")
    }
    rows.toDF("o_orderkey", "o_totalprice", "o_orderstatus")
      .createOrReplaceTempView("ord_lift")
    val out = spark.sql(StatsOps.liftTableSql("ord_lift"))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(1) === ((10L, 10L, 0.5, 5.0)))
    assert(out(2) === ((10L, 10L, 1.0, 5.0)))
    assert(out(3)._2 === 0L && out(3)._4 === 0.0)
    assert(out(10)._3 === 1.0)
  }

  test("survivorship picks longest-then-lowest-id and maps only real dups") {
    Seq(
      (1L, "Hello   World", 13L),   // dup group A (ws-normalized)
      (2L, "hello world", 11L),     // dup group A
      (3L, "HELLO  world", 12L),    // dup group A
      (4L, "unique text", 11L),     // singleton — must not appear
      (5L, "same length", 11L),     // dup group B: tie on n_chars →
      (6L, "Same  Length", 11L)     //   lowest doc_id (5) wins
    ).toDF("doc_id", "text", "n_chars").createOrReplaceTempView("documents")
    val out = spark.sql(StatsOps.sparkSurvivorshipSql)
      .as[(Long, Long, Long)].collect().toSet
    assert(out === Set((2L, 1L, 3L), (3L, 1L, 3L), (6L, 5L, 2L)))
  }

  test("coverage-k finds the minimal ≥50% prefix") {
    val out = StatsOps.coverageK(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) >= 1L)      // k ≥ 1
      assert(r.getDouble(3) >= 0.5)   // chosen prefix really covers half
    }
  }

  test("HLL sketch: accuracy, dedup-invariance, and union-correct merge") {
    import org.apache.spark.sql.functions._
    // 10k distinct longs → within 5% (expect ~1.6% at p=12)
    val a = spark.range(0, 10000)
      .agg(expr("hll_build(id)").as("sk"))
      .select(expr("hll_est(sk)")).first().getDouble(0)
    assert(math.abs(a - 10000) <= 500, s"estimate $a off > 5%")
    // duplicates don't inflate: 0..999 each 20 times ≈ 1000
    val b = spark.range(0, 20000).select((col("id") % 1000).as("v"))
      .agg(expr("hll_build(v)").as("sk"))
      .select(expr("hll_est(sk)")).first().getDouble(0)
    assert(math.abs(b - 1000) <= 50, s"estimate $b off > 5%")
    // merge = union: [0,6000) ∪ [4000,10000) = 10000, NOT 12000
    val parts = spark.range(0, 6000).withColumn("g", lit("x"))
      .union(spark.range(4000, 10000).withColumn("g", lit("y")))
      .groupBy("g").agg(expr("hll_build(id)").as("sk"))
    val m = parts.agg(expr("hll_merge_est(sk)")).first().getDouble(0)
    assert(math.abs(m - 10000) <= 500, s"merged estimate $m off > 5%")
  }

  test("HLL lifecycle: parquet round-trip + merge is byte-identical to direct build") {
    import org.apache.spark.sql.functions._
    // shard sketches (8 shards over 10k ids), persisted AT REST
    val tmp = java.nio.file.Files.createTempDirectory("graft-hll-spec").toString
    spark.range(0, 10000).withColumn("shard", (col("id") % 8).cast("int"))
      .groupBy("shard").agg(expr("hll_build(id)").as("sk"))
      .write.mode("overwrite").parquet(tmp)
    // re-read bytes, hll_merge → ONE storable sketch
    val merged = spark.read.parquet(tmp)
      .agg(expr("hll_merge(sk)").as("msk"))
      .select("msk").first().getAs[Array[Byte]](0)
    // direct single-pass build over the same data
    val direct = spark.range(0, 10000)
      .agg(expr("hll_build(id)").as("sk"))
      .select("sk").first().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, direct),
      "register-max merge of shard sketches must equal the direct build byte-for-byte")
    // and the re-hydrated merged sketch estimates like the original
    assert(math.abs(HllSketch.estimate(merged) - 10000) <= 500)
    // second rollup level: merging the merged sketch with a subset sketch
    // is idempotent (subset adds nothing)
    val sub = spark.range(0, 5000).agg(expr("hll_build(id)").as("sk"))
      .select("sk").first().getAs[Array[Byte]](0)
    val both = Seq(("a", merged), ("b", sub)).toDF("g", "sk")
      .agg(expr("hll_merge(sk)").as("m")).first().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(both, direct),
      "union with a subset sketch must be a no-op")
  }

  test("DDSketch lifecycle: parquet round-trip + merge equals direct build; " +
       "quantiles within alpha") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ddq-spec").toString
    // shard sketches over 1..10000, persisted at rest
    spark.range(1, 10001).withColumn("shard", (col("id") % 8).cast("int"))
      .groupBy("shard").agg(expr("ddq_build(id)").as("sk"))
      .write.mode("overwrite").parquet(tmp)
    val merged = spark.read.parquet(tmp)
      .agg(expr("ddq_merge(sk)").as("msk"))
      .select("msk").first().getAs[Array[Byte]](0)
    val direct = spark.range(1, 10001)
      .agg(expr("ddq_build(id)").as("sk"))
      .select("sk").first().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, direct),
      "bucket-sum merge of shard sketches must equal the direct build")
    assert(graft.functions.DdSketch.count(merged) === 10000L)
    // uniform 1..10000: p50 ~ 5000, p99 ~ 9901, within 1% + slack
    val p50 = graft.functions.DdSketch.quantile(merged, 0.5)
    val p99 = graft.functions.DdSketch.quantile(merged, 0.99)
    assert(math.abs(p50 - 5000) <= 0.015 * 5000, s"p50=$p50")
    assert(math.abs(p99 - 9901) <= 0.015 * 9901, s"p99=$p99")
  }

  test("decay revenue: exact closed-form on a planted two-order customer") {
    // customer 7: 100.00$ at tmax (days=0, weight 1) + 200.00$ 2 days
    //   earlier (weight 1/4) → 150.00; customer 8: 50.00$ 60 days back →
    //   past the cap → 0.00
    def d(day: Int) = new java.sql.Timestamp(day * 86400000L)
    Seq(
      (7L, 100.0, d(60)), (7L, 200.0, d(58)), (8L, 50.0, d(0))
    ).toDF("o_custkey", "o_totalprice", "o_orderdate")
      .createOrReplaceTempView("orders")
    val out = spark.sql(StatsOps.sparkDecaySql)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(7L) === ((2L, 150.0)))
    assert(out(8L) === ((1L, 0.0)))
  }

  test("q127-q134 run end-to-end on the sf0.001 fixture with rows > 0") {
    StatsOps.queries.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("sketch-at-rest tables land in the Hive shard=N warehouse layout") {
    // the durable-artifact contract: the persisted sketch table sits in
    // the warehouse under its name, partitioned like the archive's
    // partition=N discipline — not in an anonymous scratch directory
    StatsOps.hllPersist(spark, sfDir).collect()
    // the layout now nests under the crash-safe published version root
    val path = graft.core.Warehouse.publishedPath(spark, "hll_user_shards")
    val shards = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("shard="))
    assert(shards.nonEmpty, s"no shard=N partitions under $path")
    // a shard-pruned read touches one partition directory and still
    // yields mergeable sketch bytes
    val one = graft.core.Warehouse.readTable(spark, "hll_user_shards")
      .filter(org.apache.spark.sql.functions.col("shard") === 0)
    assert(one.count() > 0)
  }

  test("quality classifier separates a separable planted corpus") {
    // positives (lang=en) are long + punctuation-free, negatives short —
    // after the fixed GD iterations every positive must outscore every
    // negative, scores live in (0,1), and the op is deterministic
    val rows = (0 until 20).map { i =>
      val pos = i % 2 == 0
      val text =
        if (pos) (1 to 60).map(j => s"w$j").mkString(" ")
        else (1 to 5).map(j => s"x$j!!").mkString(" ")
      (i.toLong, text, if (pos) "en" else "xx", text.length)
    }
    val d = rows.toDF("doc_id", "text", "lang", "n_chars")
    val out = StatsOps.qualityClassifierOf(d).collect()
    assert(out.length === 20)
    val (pos, neg) = out.partition(_.getInt(1) == 1)
    assert(pos.map(_.getDouble(2)).min > neg.map(_.getDouble(2)).max,
      "positives must outscore negatives on separable data")
    assert(out.forall(r => r.getDouble(2) > 0.0 && r.getDouble(2) < 1.0))
    val again = StatsOps.qualityClassifierOf(d).collect()
    assert(out.map(_.getDouble(2)).toSeq === again.map(_.getDouble(2)).toSeq)
  }

  test("exact AUC is 1.0 on the separable corpus, tie-aware in between") {
    val rows = (0 until 20).map { i =>
      val pos = i % 2 == 0
      val text =
        if (pos) (1 to 60).map(j => s"w$j").mkString(" ")
        else (1 to 5).map(j => s"x$j!!").mkString(" ")
      (i.toLong, text, if (pos) "en" else "xx", text.length)
    }
    val sq = spark
    import sq.implicits._
    val d = rows.toDF("doc_id", "text", "lang", "n_chars")
    val r = StatsOps.classifierAucOf(d).collect().head
    assert(r.getLong(0) === 10L && r.getLong(1) === 10L)
    assert(r.getDouble(2) === 1.0, s"separable data must give AUC 1: $r")
    // all-identical scores -> every pair tied -> AUC exactly 0.5
    val flat = (0 until 10).map(i =>
      (i.toLong, "same same same", if (i % 2 == 0) "en" else "xx", 14))
      .toDF("doc_id", "text", "lang", "n_chars")
    val rf = StatsOps.classifierAucOf(flat).collect().head
    assert(rf.getDouble(2) === 0.5, s"all-tied scores must give 0.5: $rf")
  }

  test("isotonic PAV tail: violators pool to weighted means, monotone, mass-preserving") {
    val sq = spark
    import sq.implicits._
    // equal-weight bins with rates 0.1, 0.5, 0.3, 0.7: PAV pools the
    // violating middle pair to (50+30)/200 = 0.4 -> [0.1, 0.4, 0.4, 0.7]
    Seq((1, 100L, 10L), (2, 100L, 50L), (3, 100L, 30L), (4, 100L, 70L))
      .toDF("decile", "n", "n_pos").createOrReplaceTempView("iso_t")
    val got = spark.sql("WITH " + StatsOps.isotonicTailSql("iso_t"))
      .collect().map(r => (r.getInt(0), r.getLong(4))).toMap
    assert(got == Map(1 -> 100000000L, 2 -> 400000000L,
        3 -> 400000000L, 4 -> 700000000L),
      s"PAV pooling drifted: $got")
    // a longer violation run pools across three bins: rates
    // 0.8, 0.6, 0.2, 0.4 -> [0.8 pooled? no: 0.8 > rest] ->
    // fit = [0.5, 0.5, 0.5, 0.5]? hand: minimax gives the full pool
    // (0.8+0.6+0.2+0.4)/4 = 0.5 for every k on this totally-decreasing
    // sequence — the all-violators edge
    Seq((1, 100L, 80L), (2, 100L, 60L), (3, 100L, 20L), (4, 100L, 40L))
      .toDF("decile", "n", "n_pos").createOrReplaceTempView("iso_t2")
    val g2 = spark.sql("WITH " + StatsOps.isotonicTailSql("iso_t2"))
      .collect().map(r => (r.getInt(0), r.getLong(4))).toMap
    assert(g2.values.toSet == Set(500000000L),
      s"a fully-decreasing sequence must pool to one level: $g2")
    // monotone + mass-preserving on the real fixture chain
    val rows = StatsOps.isotonicCalibration(spark, sfDir).collect()
    val iso = rows.map(_.getLong(4))
    assert(iso.zip(iso.tail).forall { case (a, b) => a <= b },
      s"isotonic fit must be non-decreasing: ${iso.toSeq}")
    val mass = rows.map(r => r.getLong(1) * r.getLong(4)).sum / 1e9
    val pos = rows.map(_.getLong(2)).sum.toDouble
    assert(math.abs(mass - pos) < rows.length + 1.0,
      s"PAV must preserve total positives: $mass vs $pos")
    graft.core.EngineCache.releaseAll()
  }

  test("poisson bootstrap: degenerate CI on a constant, shrinks with n, excludes non-purchases") {
    val t0 = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:00:00Z"))
    def plant(dir: String, rows: Seq[(Long, String, Double)]): Unit =
      rows.map { case (id, et, v) => (id, t0, id, et, v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def ci(dir: String) = {
      val r = StatsOps.bootstrapCi(spark, dir).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    }
    // constant 10.00: EVERY replica mean is exactly 1000 cents whatever
    // the weights, so all three quantiles collapse onto the point —
    // the hand-exact degenerate case (and the rogue 'click' row with a
    // 1e6 value proves the purchase filter: any leak moves point_mean4)
    plant("/tmp/graft_boot_c", (1L to 200L).map(i =>
      (i, "purchase", 10.0)) :+ ((999L, "click", 1e6)))
    assert(ci("/tmp/graft_boot_c") ==
      ((200L, 64L, 10000000L, 10000000L, 10000000L, 10000000L)),
      "constant corpus must collapse the CI onto the exact point mean")
    // two-point distribution, n=400 vs n=4000: both CIs must bracket
    // their point mean with positive width, and 10x the data must
    // shrink the width (the 1/sqrt(n) contract a resample must honor)
    def twoPoint(n: Long) = (1L to n).map(i =>
      (i, "purchase", if (i % 2 == 0) 5.0 else 15.0))
    plant("/tmp/graft_boot_s", twoPoint(400))
    plant("/tmp/graft_boot_l", twoPoint(4000))
    val (ns, bs, ps, los, _, his) = ci("/tmp/graft_boot_s")
    val (nl, bl, pl, lol, _, hil) = ci("/tmp/graft_boot_l")
    assert((ns, nl, bs, bl) == ((400L, 4000L, 64L, 64L)))
    assert(ps == 10000000L && pl == 10000000L, s"exact point drifted: $ps $pl")
    assert(los < ps && ps < his && los > 0, s"CI must bracket the point: $los $his")
    assert(lol < pl && pl < hil, s"CI must bracket the point: $lol $hil")
    assert(hil - lol < his - los,
      s"10x data must shrink the bootstrap CI: [$los,$his] vs [$lol,$hil]")
  }

  test("split conformal: exact order statistic and coverage, replayed independently on JVM md5") {
    // independent replay: same construction, DIFFERENT code path (JVM
    // MessageDigest vs Spark's md5 expression) — pins the xhash bridge
    // AND the exact-order-statistic semantics with zero tolerance
    def jhash(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    val prios = Seq("HI", "LO")
    val rows = (1L to 400L).map { i =>
      val prio = prios((i % 2).toInt)
      // exchangeable, spread values; priority shifts the level so the
      // per-prio model actually matters (a global-mean bug changes q̂)
      val price = (if (prio == "HI") 500.0 else 100.0) + (i % 97).toDouble
      (i, i, "O", price,
        java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:00:00Z")),
        prio)
    }
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet("/tmp/graft_conf_t/orders.parquet")
    // ---- JVM-side replay
    val planted = rows.map { case (k, _, _, price, _, prio) =>
      (k, prio, math.floor(price * 100.0 + 0.5).toLong,
        jhash(s"cf:$k") % 2 == 0)
    }
    val yhat2 = planted.filter(_._4).groupBy(_._2).map { case (p, rs) =>
      p -> math.floor(
        rs.map(_._3).sum.toDouble / rs.size * 100 + 0.5).toLong
    }
    val calR = planted.filter(_._4)
      .map(r => math.abs(100 * r._3 - yhat2(r._2))).sorted
    val tstR = planted.filterNot(_._4)
      .map(r => math.abs(100 * r._3 - yhat2(r._2)))
    val k = math.floor((9 * (calR.size + 1) + 9) / 10.0).toLong
    val qhat = calR((k - 1).toInt)
    val want = (calR.size.toLong, tstR.size.toLong, k, qhat,
      tstR.count(_ <= qhat).toLong)
    val got = StatsOps.conformal(spark, "/tmp/graft_conf_t").collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4)) == want, s"conformal replay drifted: $got vs $want")
    // the guarantee itself on this exchangeable fixture: ~90% coverage
    val cov = want._5.toDouble / want._2
    assert(cov >= 0.85 && cov <= 0.97, s"coverage off the 1-alpha contract: $cov")
  }

  test("funnel: strict sequential order, ties excluded, latencies exact") {
    val t0 = java.time.Instant.parse("2024-03-01T00:00:00Z")
    def ev(u: Long, et: String, secs: Long) =
      (u, java.sql.Timestamp.from(t0.plusSeconds(secs)), et)
    val rows = Seq(
      // user 1: clean full path, known latencies 10s / 20s / 30s
      ev(1, "view", 0), ev(1, "click", 10), ev(1, "signup", 30),
      ev(1, "purchase", 60),
      // user 1 also has an EARLIER purchase (before view): must not
      // count — only the post-signup one does
      (1L, java.sql.Timestamp.from(t0.minusSeconds(100)), "purchase"),
      // user 2: purchase BEFORE any view -> converts step 1 only
      ev(2, "purchase", 0), ev(2, "view", 50),
      // user 3: click at the SAME ms as view -> strict > excludes it
      ev(3, "view", 5), ev(3, "click", 5),
      // user 4: never views -> appears nowhere
      ev(4, "click", 1), ev(4, "signup", 2), ev(4, "purchase", 3))
    rows.toDF("user_id", "ts", "event_type")
      .createOrReplaceTempView("graft_funnel_test")
    val out = StatsOps.funnelOn(spark, "graft_funnel_test", "unix_millis(ts)")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("view", 3L, 0L)), s"views drifted: ${out(1L)}")
    assert(out(2L) == (("click", 1L, 10000L)), s"clicks drifted: ${out(2L)}")
    assert(out(3L) == (("signup", 1L, 20000L)), s"signups drifted: ${out(3L)}")
    assert(out(4L) == (("purchase", 1L, 30000L)),
      s"purchases drifted: ${out(4L)}")
    graft.core.EngineCache.releaseAll()
  }

  test("split conformal: test-only priority falls back to the global mean, never drops from n_test") {
    def jhash(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    // base fixture as in the replay test, PLUS rows with priority "XX"
    // chosen (by the same hash gate) to land ONLY in the test half —
    // the per-priority model has no XX entry, and before the LEFT-join
    // fix these rows silently vanished from the coverage denominator
    val xxKeys = (10001L to 10400L).filter(k => jhash(s"cf:$k") % 2 == 1)
      .take(6)
    assert(xxKeys.size == 6, "fixture needs 6 test-half keys")
    val prios = Seq("HI", "LO")
    val base = (1L to 400L).map { i =>
      val prio = prios((i % 2).toInt)
      (i, (if (prio == "HI") 500.0 else 100.0) + (i % 97).toDouble, prio)
    }
    val xx = xxKeys.map(k => (k, 777.0 + (k % 13).toDouble, "XX"))
    val rows = (base ++ xx).map { case (k, price, prio) =>
      (k, k, "O", price,
        java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:00:00Z")),
        prio)
    }
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet("/tmp/graft_conf_fb_t/orders.parquet")
    // JVM replay WITH the fallback semantics
    val planted = (base ++ xx).map { case (k, price, prio) =>
      (k, prio, math.floor(price * 100.0 + 0.5).toLong,
        jhash(s"cf:$k") % 2 == 0)
    }
    val cal = planted.filter(_._4)
    val yhat2 = cal.groupBy(_._2).map { case (p, rs) =>
      p -> math.floor(rs.map(_._3).sum.toDouble / rs.size * 100 + 0.5).toLong
    }
    val g = math.floor(cal.map(_._3).sum.toDouble / cal.size * 100 + 0.5).toLong
    def resid(r: (Long, String, Long, Boolean)) =
      math.abs(100 * r._3 - yhat2.getOrElse(r._2, g))
    val calR = cal.map(resid).sorted
    val tstR = planted.filterNot(_._4).map(resid)
    val k = math.floor((9 * (calR.size + 1) + 9) / 10.0).toLong
    val qhat = calR((k - 1).toInt)
    val got = StatsOps.conformal(spark, "/tmp/graft_conf_fb_t").collect()(0)
    assert(got.getLong(1) == tstR.size.toLong,
      s"n_test must count the XX rows: ${got.getLong(1)} vs ${tstR.size}")
    assert((got.getLong(0), got.getLong(2), got.getLong(3), got.getLong(4)) ==
      ((calR.size.toLong, k, qhat, tstR.count(_ <= qhat).toLong)),
      s"fallback replay drifted: $got")
  }

  test("funnel: two evaluations on one session do not clobber each other") {
    val t0 = java.time.Instant.parse("2024-03-01T00:00:00Z")
    def ev(u: Long, et: String, secs: Long) =
      (u, java.sql.Timestamp.from(t0.plusSeconds(secs)), et)
    // A: one user converts all four steps; B: three users view only
    Seq(ev(1, "view", 0), ev(1, "click", 1), ev(1, "signup", 2),
      ev(1, "purchase", 3))
      .toDF("user_id", "ts", "event_type")
      .createOrReplaceTempView("graft_funnel_a")
    Seq(ev(10, "view", 0), ev(11, "view", 0), ev(12, "view", 0))
      .toDF("user_id", "ts", "event_type")
      .createOrReplaceTempView("graft_funnel_b")
    val dfA = StatsOps.funnelOn(spark, "graft_funnel_a", "unix_millis(ts)")
    val dfB = StatsOps.funnelOn(spark, "graft_funnel_b", "unix_millis(ts)")
    // collect B FIRST: before the per-call view token, B's registration
    // replaced A's stage views and dfA silently read B's funnel
    val b = dfB.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val a = dfA.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(a == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L),
      s"funnel A clobbered: $a")
    assert(b == Map(1L -> 3L, 2L -> 0L, 3L -> 0L, 4L -> 0L),
      s"funnel B drifted: $b")
    graft.core.EngineCache.releaseAll()
  }

  // tiny helper: (k, a, b, c) rows → k -> (a, b, c)
  private implicit class Tup4Ops(rows: Array[(Long, Long, Long, Long)]) {
    def toMap2: Map[Long, (Long, Long, Long)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }
}
