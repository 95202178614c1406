package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational

/** Structural sanity for every declared query: runs at sf0.001,
  * asserts non-empty results and that queries/oracleSql stay in sync.
  * (Value-level parity is the driver's DuckDB gate + selfcheck.py.)
  */
class RelationalSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = TestSpark.spark

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("entry() returns rows") {
    // entry() calls Engine.configure, which flips AQE on — restore the
    // suite's plan-shape posture (TestSpark sets AQE off) afterwards,
    // or every plan assertion in a later-running suite silently runs
    // under AQE (observed: empty-relation propagation erasing nodes)
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled")
    val saved = keys.map(k => k -> spark.conf.get(k))
    try assert(SparkEntry.entry(spark).count() > 0)
    finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  // g07's prediction set is PROVABLY empty at sf0.001: the top-k
  // sparsified co-purchase graph over 10 suppliers is complete, so no
  // non-adjacent candidate pair exists (JoinsGraphSpec pins exactly
  // this). Every other key must return rows.
  private val legitimatelyEmptyAtTinySf = Set("g07_linkpred")

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty)
      if (legitimatelyEmptyAtTinySf(name)) df.count() // must still run
      else assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("q48 incremental merge: real split, merged state equals full recompute") {
    import graft.operators.{Events => Ev}
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"),
        floor(col("value") * 1048576.0 + 0.5).cast("long").as("vt"))
    val cut = ev.agg(max(to_date(col("ts"))).as("cut"))
    val tagged = ev.crossJoin(broadcast(cut))
    val nBase = tagged.filter(to_date(col("ts")) < col("cut")).count()
    val nDelta = tagged.filter(to_date(col("ts")) === col("cut")).count()
    // the merge must be a REAL merge at this SF — both sides populated
    assert(nBase > 0 && nDelta > 0, s"degenerate split: base $nBase delta $nDelta")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getAs[java.sql.Timestamp](4)))
      .sortBy(t => (t._1, t._2)).toSeq
    val merged = rows(Ev.q48IncrementalAgg(spark, sfDir))
    val full = rows(Ev.aggState(ev))
    assert(merged.nonEmpty && merged == full,
      "merge(state(base), state(delta)) must equal state(full) exactly")
  }

  test("distributedNtile is bit-identical to the window ntile") {
    import org.apache.spark.sql.expressions.Window
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
    def collectBuckets(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int)] =
      df.select(col("o_orderkey"), col("b")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    // grouped, n=7 (non-divisible remainders exercise the sizing rule)
    val grouped = collectBuckets(Relational.distributedNtile(
      orders, Seq("o_orderpriority"), Seq("o_totalprice", "o_orderkey"), 7, "b"))
    val groupedRef = collectBuckets(orders.withColumn("b",
      ntile(7).over(Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey")))))
    assert(grouped == groupedRef, "grouped ntile diverged from the window form")
    // global (no group columns), n=4
    val global = collectBuckets(Relational.distributedNtile(
      orders, Nil, Seq("o_totalprice", "o_orderkey"), 4, "b"))
    val globalRef = collectBuckets(orders.withColumn("b",
      ntile(4).over(Window.orderBy(col("o_totalprice"), col("o_orderkey")))))
    assert(global == globalRef, "global ntile diverged from the window form")
  }

  test("q46 audit gives NULL keys join semantics: NULL child orphan, NULL parent childless") {
    import spark.implicits._
    // synthetic contributions (the base tables carry no NULL keys):
    // one matched pair, one NULL-keyed child, one NULL-keyed parent.
    // Join semantics (= the oracle's NOT EXISTS): NULL never equals
    // NULL, so the NULL child must count as an orphan and the NULL
    // parent as childless — NOT co-group as a "match".
    val contribs = Seq(
      ("e", "c", Some(1L)), ("e", "p", Some(1L)),
      ("e", "c", None: Option[Long]),
      ("e", "p", None: Option[Long])
    ).toDF("relationship", "side", "key")
    val r = Relational.referentialAuditFor(contribs).collect()(0)
    assert(r.getAs[Long]("n_child") == 2L)
    assert(r.getAs[Long]("n_orphan_child") == 1L,
      "a NULL-keyed child row is an orphan under join semantics")
    assert(r.getAs[Long]("n_parent") == 2L)
    assert(r.getAs[Long]("n_childless_parent") == 1L,
      "a NULL-keyed parent row is childless under join semantics")
  }

  test("q49 ridge recovers a planted slope; corpus fit deterministic") {
    val sess = spark
    import sess.implicits._
    // r = 0.5 + 0.25*f1 exactly on the dyadic grid. The ridge term
    // n/4 hits the INTERCEPT row too (a00 = 1.25n), so the solution
    // of the augmented 2x2 system — [320, 8320; 8320, 357824] b =
    // [2208, 93600] for these 256 rows — is b0 = 0.25007,
    // b1 = 0.25577 (shrunk intercept, slope compensating): ticks
    // 1024 / 1047 exactly, pinned within ±1 for float headroom.
    val rows = for { x <- 1 to 64; _ <- 1 to 4 }
      yield ("G", 0.5 + 0.25 * x, x.toDouble)
    val base = rows.toDF("g", "r", "f1")
      .select(col("g"), col("r"), lit(1.0).as("f0"), col("f1"),
        lit(0.0).as("f2"), lit(0.0).as("f3"))
    val s = graft.operators.Recommend.solveSide(base, "g").collect()(0)
    val (t0, t1, t2, t3) = (s.getLong(2), s.getLong(3), s.getLong(4), s.getLong(5))
    assert(t1 >= 1046 && t1 <= 1048, s"slope ticks $t1 should be 1047")
    assert(t0 >= 1023 && t0 <= 1025, s"intercept ticks $t0 should be 1024")
    assert(t2 == 0 && t3 == 0, "absent features must get zero weight")
    // corpus: 3 groups, positive qty slope, bit-identical across runs
    val a = Relational.q49RidgeRegression(spark, sfDir).collect().toSeq
    val b = Relational.q49RidgeRegression(spark, sfDir).collect().toSeq
    assert(a == b && a.size == 3)
    a.foreach(r0 => assert(r0.getLong(3) > 0, "price-qty slope must be positive"))
  }

  test("q50 logreg: hand-computed trajectory on a separable plant; corpus deterministic") {
    val sess = spark
    import sess.implicits._
    // 10 rows y=1 with f1=4096 (1.0), 10 rows y=0 with f1=0; intercept
    // f0=4096. Every round's integers are hand-derivable: round-0 scan
    // has p26 = 2^25 everywhere, so g0 = 0 and g1 = -10*2^37 →
    // Δ1 = -4096 exactly; from round 2 the intercept walks negative
    // (-2048, -3072, -4096) while the slope climbs (6144, 8192, 9728)
    // and training accuracy hits 20/20 — the hard-sigmoid GD separating
    // the plant with bit-pinned weights.
    val plant = ((1 to 10).map(_ => (1L, 4096L, 4096L, 0L, 0L)) ++
        (1 to 10).map(_ => (0L, 4096L, 0L, 0L, 0L)))
      .toDF("y", "f0", "f1", "f2", "f3")
    val rows = Relational.logregRounds(plant).collect()
    assert(rows.length == Relational.LogregIters + 1)
    def w(r: org.apache.spark.sql.Row) =
      (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
    val expected = Seq(
      (0L, 10L, (0L, 0L, 0L, 0L)),
      (1L, 10L, (0L, 4096L, 0L, 0L)), // zero margin on y=0 predicts 1
      (2L, 20L, (-2048L, 6144L, 0L, 0L)),
      (3L, 20L, (-3072L, 8192L, 0L, 0L)),
      (4L, 20L, (-4096L, 9728L, 0L, 0L)))
    rows.zip(expected).foreach { case (r, (round, correct, ws)) =>
      assert(r.getLong(0) == round && r.getLong(2) == correct && w(r) == ws,
        s"round $round: got (${r.getLong(2)}, ${w(r)}), want ($correct, $ws)")
    }
    // corpus: full trajectory bit-identical across runs, 5 rows
    val a = Relational.q50LogisticRegression(spark, sfDir).collect().toSeq
    val b = Relational.q50LogisticRegression(spark, sfDir).collect().toSeq
    assert(a == b && a.size == Relational.LogregIters + 1)
    val fin = a.last
    assert(fin.getLong(2) > 0 && fin.getLong(2) <= fin.getLong(1))
  }

  test("q63 one-vs-rest: planted 3-class separation recovered; equal-" +
    "margin ties break to the earlier class; corpus confusion is a " +
    "partition of lineitem") {
    val sess = spark
    import sess.implicits._
    // one-hot class geometry: class A fires f1, N fires f2, R fires
    // f3 (10 rows each, intercept f0 = 4096) — every binary problem
    // is then EXACTLY the q50 planted separable shape (positives own
    // the feature, negatives at 0), so after LogregIters rounds each
    // class's own margin dominates on its rows and the confusion
    // matrix must be diagonal.
    val plant = (
      (1 to 10).map(_ => ("A", 4096L, 4096L, 0L, 0L)) ++
      (1 to 10).map(_ => ("N", 4096L, 0L, 4096L, 0L)) ++
      (1 to 10).map(_ => ("R", 4096L, 0L, 0L, 4096L))
    ).toDF("flag", "f0", "f1", "f2", "f3")
    val got = Relational.ovrConfusion(plant).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(("A", "A", 10L), ("N", "N", 10L), ("R", "R", 10L)),
      s"confusion not diagonal: $got")
    // tie-break: identical class geometry (all features equal, equal
    // class sizes) makes the three binary problems symmetric ->
    // identical weights -> equal margins everywhere -> every row
    // predicts the FIRST class in OvrClasses ('A')
    val tie = (
      (1 to 5).map(_ => ("A", 4096L, 1024L, 0L, 0L)) ++
      (1 to 5).map(_ => ("N", 4096L, 1024L, 0L, 0L)) ++
      (1 to 5).map(_ => ("R", 4096L, 1024L, 0L, 0L))
    ).toDF("flag", "f0", "f1", "f2", "f3")
    val tg = Relational.ovrConfusion(tie).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(tg == Seq(("A", "A", 5L), ("N", "A", 5L), ("R", "A", 5L)),
      s"tie-break drift: $tg")
    // corpus: counts partition lineitem, labels stay in the
    // vocabulary, bit-identical across runs
    val a = Relational.q63OneVsRest(spark, sfDir).collect().toSeq
    val vocab = Relational.OvrClasses.toSet
    assert(a.nonEmpty && a.forall(r =>
      vocab(r.getString(0)) && vocab(r.getString(1))))
    val total = spark.read
      .parquet(s"$sfDir/lineitem.parquet").count()
    assert(a.map(_.getLong(2)).sum == total)
    assert(a == Relational.q63OneVsRest(spark, sfDir).collect().toSeq)
  }

  test("q64 poisson GLM: the PL-log2 warm start inverts the PL-exp2 " +
    "exactly on constant plants (zero residual, stable weights); a " +
    "feature plant improves directionally; corpus deterministic") {
    val sess = spark
    import sess.implicits._
    def feats(rows: Seq[(Long, Long)]) = rows
      .map { case (y, f1) => (y, 4096L, f1, 0L) }
      .toDF("y", "f0", "f1", "f2")
    // y = 8 everywhere: ybar24 = 8·2^24, kb = 3, fraction 0 ->
    // w0 = 12288 exactly; mu24 = 2^27 = 8·2^24 -> r24 = 0 on every
    // row, so bias/sae are 0 and the weights never move
    val c8 = Relational.poissonRounds(feats((1 to 20).map(_ => (8L, 0L))))
      .collect()
    assert(c8.length == Relational.PoisIters + 1)
    c8.foreach { r =>
      assert((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)) ==
        ((0L, 0L, 12288L, 0L, 0L)), s"y=8 drift at round ${r.getLong(0)}")
    }
    // y = 6 (not a power of two): kb = 2, fraction exactly 2^23 ->
    // w0 = 8192 + 2048 = 10240; the PL-exp2 gives mu24 = 6·2^24
    // exactly (mantissa interpolation IS the inverse) -> stable
    val c6 = Relational.poissonRounds(feats((1 to 20).map(_ => (6L, 0L))))
      .collect()
    c6.foreach { r =>
      assert((r.getLong(2), r.getLong(3), r.getLong(4)) ==
        ((0L, 0L, 10240L)), s"y=6 drift at round ${r.getLong(0)}")
    }
    // feature plant: y = 2 at f1 = 0, y = 32 at f1 = 4096 (true
    // log2-link slope 4): warm start w0 = 16640 (ybar = 17), then
    // the trust-region rounds push w1 up and the L1 fit improves
    val fp = Relational.poissonRounds(feats(
      (1 to 10).map(_ => (2L, 0L)) ++ (1 to 10).map(_ => (32L, 4096L))))
      .collect().sortBy(_.getLong(0))
    assert((fp.head.getLong(4), fp.head.getLong(5)) == ((16640L, 0L)))
    assert(fp.last.getLong(5) > 0L, s"w1 never moved: ${fp.last}")
    assert(fp.last.getLong(3) < fp.head.getLong(3),
      s"sae did not improve: ${fp.head.getLong(3)} -> ${fp.last.getLong(3)}")
    // corpus: 7 rounds, bit-identical across runs
    val a = Relational.q64PoissonGlm(spark, sfDir).collect().toSeq
    assert(a.size == Relational.PoisIters + 1)
    assert(a == Relational.q64PoissonGlm(spark, sfDir).collect().toSeq)
  }

  test("q51 KDE: hand-computed kernel sums on a planted grid; corpus deterministic") {
    val sess = spark
    import sess.implicits._
    // 12 values: 0, 150, and ten at 40 → lo=0 hi=150 h=18, points 10·i.
    // Every kernel sum is hand-derivable: p=40 sees the cluster at
    // d=0 (10·324), p=30/50 at d=10 (10·224), p=0/150 their lone
    // endpoint (324), p=20 NOTHING (both 0 and 40 sit exactly 20 ≥ h
    // away) — the empty-support left-join path, density 0.
    val tmp = java.nio.file.Files.createTempDirectory("graft_kde").toString
    (Seq(0.0, 150.0) ++ Seq.fill(10)(40.0)).toDF("l_extendedprice")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val rows = Relational.q51Kde(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.size == Relational.KdePoints)
    def check(i: Long, point: Long, nIn: Long, s: Long): Unit = {
      val r = rows(i)
      assert(r.getLong(1) == point && r.getLong(2) == 18L &&
        r.getLong(3) == nIn && r.getLong(4) == s,
        s"i=$i: got (${r.getLong(1)}, h=${r.getLong(2)}, ${r.getLong(3)}, " +
          s"${r.getLong(4)}), want ($point, 18, $nIn, $s)")
      val expect = math.floor(
        s.toDouble * 3.0 * 1073741824.0 / ((4.0 * 12.0) * (18.0 * 18.0 * 18.0))
          + 0.5).toLong
      assert(r.getLong(5) == expect, s"i=$i density")
    }
    check(0L, 0L, 1L, 324L)
    check(1L, 10L, 1L, 224L)
    check(2L, 20L, 0L, 0L)
    check(3L, 30L, 10L, 2240L)
    check(4L, 40L, 10L, 3240L)
    check(5L, 50L, 10L, 2240L)
    check(15L, 150L, 1L, 324L)
    // corpus: 16 rows, non-negative densities, bit-identical runs
    val a = Relational.q51Kde(spark, sfDir).collect().toSeq
    assert(a == Relational.q51Kde(spark, sfDir).collect().toSeq)
    assert(a.size == Relational.KdePoints &&
      a.forall(_.getLong(5) >= 0))
  }

  test("q52 anomaly: exact z boundary on a planted baseline; min-n respected") {
    val sess = spark
    import sess.implicits._
    import graft.operators.{Events => Ev}
    // users 1/2/3 each get the SAME 10-event baseline alternating
    // 9.0/11.0 (ticks 9216/11264 → n=10, S=102400, nQ−S² = 1024²·10²
    // exactly — trailing σ = 1024 ticks = 1.0) and ONE probe, so each
    // probe's window is exactly the baseline: 13.25 (z=3.25, flagged),
    // 13.0 (z=3.0 EXACTLY — strict inequality, NOT flagged), 12.75
    // (z<3, not flagged). user 4: 9 identical events then a departure
    // — the zero-variance baseline flags ANY departure, and events
    // with fewer than AnomMinN predecessors are never judged.
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    def baseline(u: Long) = (1 to 10).map(i =>
      (u * 100L + i, ts(i * 60L), u, "m", if (i % 2 == 1) 9.0 else 11.0, "{}"))
    val probes = Seq(
      (111L, ts(700L), 1L, "m", 13.25, "{}"),
      (211L, ts(700L), 2L, "m", 13.0, "{}"),
      (311L, ts(700L), 3L, "m", 12.75, "{}"))
    val u4 = (1 to 9).map(i =>
      (400L + i, ts(i * 60L), 4L, "m", 5.0, "{}")) :+
      (410L, ts(700L), 4L, "m", 5.5, "{}")
    val tmp = java.nio.file.Files.createTempDirectory("graft_anom").toString
    (baseline(1L) ++ baseline(2L) ++ baseline(3L) ++ probes ++ u4)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Ev.q52RollingAnomaly(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(out.contains((1L, 111L)), "z=3.25 must be flagged")
    assert(!out.contains((2L, 211L)), "z=3.0 exactly must NOT be flagged (strict)")
    assert(!out.contains((3L, 311L)), "z<3 must not be flagged")
    assert(out.contains((4L, 410L)),
      "any departure from a zero-variance baseline must be flagged")
    assert(out.toSet == Set((1L, 111L), (4L, 410L)),
      s"exactly the two planted anomalies: ${out.toSeq}")
    // corpus: deterministic, window state consistent (Q ≥ S²/n)
    val a = Ev.q52RollingAnomaly(spark, sfDir).collect().toSeq
    assert(a == Ev.q52RollingAnomaly(spark, sfDir).collect().toSeq)
    assert(a.forall(r => r.getLong(4) * r.getLong(6) >=
      r.getLong(5) * r.getLong(5)), "window variance must be non-negative")
  }

  test("q53/q54: hand-computed KS and rank-sum on planted samples") {
    val sess = spark
    import sess.implicits._
    import graft.operators.{Events => Ev}
    // sample a = {1,2,3}, sample b = {2,3,4} (one event each, exact
    // ticks 1024·v). KS: D = 1/3 (d_num = 3 of n_a·n_b = 9); MW with
    // midranks: pooled ranks 1, 2.5, 2.5, 4.5, 4.5, 6 → R_a = 8,
    // 2U_a = 16 − 3·4 = 4 (U_a = 2), and 2U_a + 2U_b = 2·n_a·n_b.
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val rows = Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0),
      (4L, "b", 2.0), (5L, "b", 3.0), (6L, "b", 4.0))
      .map { case (id, t, v) => (id, ts(id * 60L), id, t, v, "{}") }
    val tmp = java.nio.file.Files.createTempDirectory("graft_ks").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val ks = Ev.q53KsTest(spark, tmp).collect()
    assert(ks.length == 1)
    assert((ks.head.getLong(2), ks.head.getLong(3), ks.head.getLong(4),
      ks.head.getLong(5)) == ((3L, 3L, 3L, 3L * Ev.KsScale / 9L)))
    val mw = Ev.q54RankSum(spark, tmp).collect()
    assert(mw.length == 1 && mw.head.getLong(4) == 4L,
      s"2·U_a must be 4, got ${mw.head.getLong(4)}")
    // corpus: all C(5,2) pairs, D within [0, 2^20] ticks, U within
    // [0, 2·n_a·n_b], and both deterministic across runs
    val ksC = Ev.q53KsTest(spark, sfDir).collect()
    val mwC = Ev.q54RankSum(spark, sfDir).collect()
    assert(ksC.length == 10 && mwC.length == 10)
    assert(ksC.forall(r => r.getLong(5) >= 0L && r.getLong(5) <= Ev.KsScale))
    assert(ksC.forall(r => r.getLong(4) <= r.getLong(2) * r.getLong(3)))
    assert(mwC.forall(r => r.getLong(4) >= 0L &&
      r.getLong(4) <= 2L * r.getLong(2) * r.getLong(3)))
    assert(ksC.toSeq == Ev.q53KsTest(spark, sfDir).collect().toSeq)
  }

  test("q59 t-test: hand-computed Student and Welch on planted moments, " +
    "zero-variance and unequal-variance branches exercised") {
    val sess = spark
    import sess.implicits._
    import graft.operators.{Events => Ev}
    // planted (t, tick, c) counts:
    //   x: ticks {0, 2}  -> n=2, S1=2,  S2=4,   ssd = 2·4−4   = 4
    //   y: ticks {10,10} -> n=2, S1=20, S2=200, ssd = 0 (constant)
    //   z: ticks {0, 6}  -> n=2, S1=6,  S2=36,  ssd = 2·36−36 = 36
    val ct = Seq(("x", 0L, 1L), ("x", 2L, 1L), ("y", 10L, 2L),
      ("z", 0L, 1L), ("z", 6L, 1L)).toDF("t", "tick", "c")
    val got = Ev.tTestFromCounts(ct).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(7), r.getLong(8), r.getLong(9))).toMap
    assert(got.size == 3)
    // (x, y): m_x=1, m_y=10, pooled s²=1 -> t² = 81 exactly; Welch
    // va=1, vb=0 -> t²_w = 81, dof = 1 (all exact on the 2^20 grid)
    assert(got(("x", "y")) ==
      ((2L, 2L, 2L * 2L - 2L * 20L, 81L * 1048576L, 81L * 1048576L, 1048576L)))
    // (x, z): dm = −2, Student den (2·4+2·36)·4 = 320, num 64·2 = 128
    // -> t² = 0.4; Welch va=1, vb=9 -> t²_w = 4/10 = 0.4 (equal n ->
    // Student ≡ Welch in t², NOT in dof: Welch–Satterthwaite
    // dof = (1+9)²/(1+81) = 100/82)
    val xzExp = math.floor(0.4 * 1048576.0 + 0.5).toLong
    val xzDof = math.floor(
      (1.0 + 9.0) * (1.0 + 9.0) / (1.0 * 1.0 / 1.0 + 9.0 * 9.0 / 1.0)
        * 1048576.0 + 0.5).toLong
    assert(got(("x", "z")) == ((2L, 2L, -8L, xzExp, xzExp, xzDof)))
    // (y, z): constant y side — ssd_y = 0 exercises the one-sided
    // zero-variance branch without NaN: t² = 49/9, dof = 1
    val yzExp = math.floor(49.0 / 9.0 * 1048576.0 + 0.5).toLong
    assert(got(("y", "z"))._4 == yzExp && got(("y", "z"))._5 == yzExp &&
      got(("y", "z"))._6 == 1048576L)
    // the division-cleared Student integers are exact: t2s_num/t2s_den
    // reduce to 81 for (x,y)
    val full = Ev.tTestFromCounts(ct).collect()
    val xy = full.find(r => r.getString(0) == "x" && r.getString(1) == "y").get
    assert(xy.getString(5).toLong == 2592L &&
      xy.getString(6).toLong == 32L)
    // corpus: all C(5,2) pairs, deterministic, ticks non-negative
    val c1 = Ev.q59TTest(spark, sfDir).collect()
    assert(c1.length == 10)
    assert(c1.forall(r => r.getLong(7) >= 0L && r.getLong(8) >= 0L &&
      r.getLong(9) >= 0L))
    assert(c1.toSeq == Ev.q59TTest(spark, sfDir).collect().toSeq)
  }

  test("q60 skew/kurtosis: hand-computed planted moments; corpus ticks " +
    "match Spark's own aggregates on the identical grid") {
    val sess = spark
    import sess.implicits._
    import graft.operators.Relational
    // plant {0, 0, 0, 4}: mean 1, m2 = 3, m3 = 6, m4 = 21 ->
    // skew = 6/sqrt(27) = 2/sqrt(3), excess kurtosis = 21/9 - 3 = -2/3
    val tmp = java.nio.file.Files.createTempDirectory("graft_q60").toString
    Seq(("A", 0.0), ("A", 0.0), ("A", 0.0), ("A", 4.0))
      .toDF("l_returnflag", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val r = Relational.q60SkewKurtosis(spark, tmp).collect()
    assert(r.length == 1)
    assert((r.head.getLong(1), r.head.getLong(2), r.head.getLong(3)) ==
      ((4L, 4L, 16L)))
    assert(r.head.getString(4).toLong == 64L &&
      r.head.getString(5).toLong == 256L)
    assert(r.head.getLong(6) ==
      math.floor(6.0 / math.sqrt(27.0) * 1048576.0 + 0.5).toLong)
    assert(r.head.getLong(7) ==
      math.floor((21.0 / 9.0 - 3.0) * 1048576.0 + 0.5).toLong)
    // corpus: our exact-sum ticks agree with Spark's own merge-order-
    // dependent skewness/kurtosis on the SAME dollar grid to 1e-6 —
    // same statistic, minus the nondeterministic low bits
    val got = Relational.q60SkewKurtosis(spark, sfDir).collect()
    val ref = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"),
        floor(col("l_extendedprice") + lit(0.5)).cast("long")
          .cast("double").as("v"))
      .groupBy(col("l_returnflag"))
      .agg(skewness(col("v")).as("sk"), kurtosis(col("v")).as("ku"))
      .collect().map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2)))
      .toMap
    got.foreach { row =>
      val (sk, ku) = ref(row.getString(0))
      assert(math.abs(row.getLong(6).toDouble / 1048576.0 - sk) < 1e-6,
        s"skew drift: $row vs $sk")
      assert(math.abs(row.getLong(7).toDouble / 1048576.0 - ku) < 1e-6,
        s"kurtosis drift: $row vs $ku")
    }
    assert(got.map(_.toSeq).toSeq ==
      Relational.q60SkewKurtosis(spark, sfDir).collect().map(_.toSeq).toSeq)
  }

  test("q61 HOF suite: hand-computed members on a planted vector, " +
    "empty-filter guard exercised") {
    val sess = spark
    import sess.implicits._
    import graft.operators.Relational
    // v: [0.5, -0.25, 0.375, 0...0, 0.5] -> ticks [512, -256, 384,
    // 0..., 512]; w: all zeros (the empty-filter branch)
    val v = Array.tabulate(64) {
      case 0 => 0.5f; case 1 => -0.25f; case 2 => 0.375f
      case 63 => 0.5f; case _ => 0.0f
    }
    val w = Array.fill(64)(0.0f)
    val tmp = java.nio.file.Files.createTempDirectory("graft_q61").toString
    Seq((1L, v), (2L, w)).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = Relational.q61HofSuite(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    assert(r1.getLong(1) == 3L)                       // n_pos
    assert(r1.getLong(2) == 1408L, s"pos_ticks: $r1") // floor(1.375*1024+.5)
    assert(r1.getBoolean(3))                          // has_big
    assert((r1.getLong(4), r1.getLong(5), r1.getLong(6)) == ((512L, 512L, 384L)))
    assert(r1.getLong(7) == 2L * 512L * 512L, s"palin_dot: $r1")
    assert(r1.getLong(8) == 1L * 512L - 2L * 256L + 3L * 384L + 64L * 512L,
      s"idx_dot: $r1")
    val r2 = got(2L)
    assert(r2.getLong(1) == 0L && r2.getLong(2) == 0L && !r2.getBoolean(3) &&
      r2.getLong(4) == 0L && r2.getLong(7) == 0L && r2.getLong(8) == 0L,
      s"zero vector must take every guard branch: $r2")
    // corpus: deterministic, top-3 ordered, n_pos bounded by dims
    val c = Relational.q61HofSuite(spark, sfDir).collect()
    assert(c.nonEmpty)
    c.foreach { r =>
      assert(r.getLong(1) >= 0L && r.getLong(1) <= 64L)
      assert(r.getLong(4) >= r.getLong(5) && r.getLong(5) >= r.getLong(6))
    }
    assert(c.map(_.toSeq).toSeq ==
      Relational.q61HofSuite(spark, sfDir).collect().map(_.toSeq).toSeq)
  }

  test("q58 one-sample KS: hand-computed sup including the gap segment") {
    val sess = spark
    import sess.implicits._
    import graft.operators.{Events => Ev}
    // planted counts: one type with ticks {0, 4} (count 1 each) —
    // R = 5, n = 2; the sup of |ECDF - F_uniform| over the WHOLE
    // integer support is 3/10, attained INSIDE the gap at t = 3
    // (ECDF 1/2 vs F 4/5) — exactly what the segment-end deviation
    // evaluates; a jump-points-only scan would read 3/10 too here,
    // so also pin the asymmetric case: ticks {0,1} n=2, R=2 -> D = 0
    val ct = Seq(("x", 0L, 1L), ("x", 4L, 1L)).toDF("t", "tick", "c")
    val out = Ev.ksUniformFromCounts(ct).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((2L, 0L, 4L, 3L)), s"planted KS: $r")
    assert(r.getLong(5) == 3L * Ev.KsScale / 10L)
    // a perfectly uniform sample on a dense grid has D... the
    // discrete residual: ticks {0,1}: ECDF(0)=1/2=F(0)=1/2 exact,
    // d_num = 0
    val ct2 = Seq(("y", 0L, 1L), ("y", 1L, 1L)).toDF("t", "tick", "c")
    assert(Ev.ksUniformFromCounts(ct2).collect().head.getLong(4) == 0L)
    // corpus: one row per type, D in [0, 2^20], deterministic
    val c = Ev.q58KsUniform(spark, sfDir).collect()
    assert(c.length == 5)
    c.foreach(x => assert(x.getLong(5) >= 0L && x.getLong(5) <= Ev.KsScale))
    assert(c.toSeq == Ev.q58KsUniform(spark, sfDir).collect().toSeq)
  }

  test("q55 isotonic: minimax fit equals hand-run PAVA; monotone on the corpus") {
    val sess = spark
    import sess.implicits._
    def fit(rows: Seq[(Long, Long, Long)]): Seq[(Long, Long)] =
      Relational.isotonicFit(rows.toDF("b", "c", "s")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // violator in the middle: y = [3, 1, 2] pools to [2, 2, 2]
    assert(fit(Seq((1L, 1L, 3L), (2L, 1L, 1L), (3L, 1L, 2L))) ==
      Seq((1L, 2048L), (2L, 2048L), (3L, 2048L)))
    // already isotonic: the fit is the data itself
    assert(fit(Seq((1L, 1L, 1L), (2L, 1L, 2L), (3L, 1L, 3L))) ==
      Seq((1L, 1024L), (2L, 2048L), (3L, 3072L)))
    // fully decreasing: everything pools to the global mean
    assert(fit(Seq((1L, 1L, 3L), (2L, 1L, 2L), (3L, 1L, 1L))) ==
      Seq((1L, 2048L), (2L, 2048L), (3L, 2048L)))
    // weights matter: bin means 4 and 1 with weights 1 and 2 pool to
    // the weighted mean 2, not the unweighted 2.5
    assert(fit(Seq((1L, 1L, 4L), (2L, 2L, 2L))) ==
      Seq((1L, 2048L), (2L, 2048L)))
    // corpus: non-decreasing by construction, deterministic
    val c = Relational.q55Isotonic(spark, sfDir).collect()
    assert(c.nonEmpty)
    assert(c.map(_.getLong(3)).sliding(2).forall(p =>
      p.length < 2 || p.head <= p.last), "fit must be non-decreasing")
    assert(c.toSeq == Relational.q55Isotonic(spark, sfDir).collect().toSeq)
  }

  test("q56 SVM: engine rounds equal the exact integer recurrence; separable data separates") {
    val sess = spark
    import sess.implicits._
    // planted: class 1 carries f1, class 0 carries f2 — linearly
    // separable with opposite-sign weights the hinge reaches in one
    // step. The in-test truth re-runs the EXACT integer recurrence
    // (truncating /, same clamp), so every round's weights must
    // match bit-for-bit.
    val feats = (1 to 4).map(_ => (1L, 4096L, 4096L, 0L, 0L)) ++
      (1 to 4).map(_ => (0L, 4096L, 0L, 4096L, 0L))
    def truth(): Seq[(Long, Long, Long, Long, Seq[Long])] = {
      var w = Array.fill(4)(0L)
      val n = feats.length.toLong
      (0 to Relational.SvmIters).map { k =>
        val rows = feats.map { case (y, f0, f1, f2, f3) =>
          val f = Array(f0, f1, f2, f3)
          val m = (0 to 3).map(j => w(j) * f(j)).sum
          val ys = 2 * y - 1
          ((if (m >= 0L) 1L else 0L) == y, ys * m < 16777216L, ys, f)
        }
        val correct = rows.count(_._1).toLong
        val viols = rows.count(_._2).toLong
        val h = (0 to 3).map(j =>
          rows.filter(_._2).map(r => r._3 * r._4(j)).sum)
        val out = (k.toLong, n, correct, viols, w.toSeq)
        if (k < Relational.SvmIters)
          w = Array.tabulate(4)(j =>
            math.max(-Relational.SvmClamp, math.min(Relational.SvmClamp,
              w(j) + h(j) / (4L * n) - w(j) / 256L)))
        out
      }
    }
    val got = Relational.svmRounds(
        feats.toDF("y", "f0", "f1", "f2", "f3")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        (4 to 7).map(r.getLong).toSeq)).toSeq
    assert(got == truth(), s"recurrence drift:\n$got\nvs\n${truth()}")
    // the hinge actually learns: final accuracy is perfect and
    // beats the zero-weight baseline
    assert(got.last._3 == feats.length.toLong,
      s"separable data must separate, got ${got.last._3}/${feats.length}")
    assert(got.last._3 > got.head._3)
    // corpus determinism
    val a = Relational.q56LinearSvm(spark, sfDir).collect().toSeq
    assert(a == Relational.q56LinearSvm(spark, sfDir).collect().toSeq)
  }

  test("q57 Lasso: engine rounds equal the recurrence; symmetric noise zeroes out") {
    val sess = spark
    import sess.implicits._
    // planted: y = 2*x1 exactly; f2 is ±1 symmetric noise whose
    // gradient cancels pair-wise, so the prox pins w2 at EXACTLY 0
    // (the L1 sparsity signature); f3 is absent. The in-test truth
    // re-runs the exact integer recurrence (truncating /, same prox
    // and clamp), so every round must match bit-for-bit.
    val feats = for {
      f1 <- Seq(1024L, 2048L, 3072L, 4096L); s2 <- Seq(4096L, -4096L)
    } yield (2L * f1, 4096L, f1, s2, 0L)
    def truth(): Seq[(Long, Long, Long, Long, Seq[Long])] = {
      var w = Array.fill(4)(0L)
      val n = feats.length.toLong
      (0 to Relational.LassoIters).map { k =>
        val rows = feats.map { case (y12, f0, f1, f2, f3) =>
          val f = Array(f0, f1, f2, f3)
          ((0 to 3).map(j => w(j) * f(j)).sum - y12 * 4096L, f)
        }
        val sse12 = rows.map { case (r24, _) =>
          (r24 / 4096L) * (r24 / 4096L) }.sum
        val g = (0 to 3).map(j => rows.map { case (r24, f) => r24 * f(j) }.sum)
        val nnz = w.count(_ != 0L).toLong
        val out = (k.toLong, n, nnz, sse12, w.toSeq)
        if (k < Relational.LassoIters)
          w = Array.tabulate(4) { j =>
            val z = w(j) - g(j) / (4L * n * 16777216L)
            val t = Relational.LassoTTicks
            val p = if (z > t) z - t else if (z < -t) z + t else 0L
            math.max(-Relational.LassoClamp, math.min(Relational.LassoClamp, p))
          }
        out
      }
    }
    val got = Relational.lassoRounds(
        feats.toDF("y12", "f0", "f1", "f2", "f3")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        (4 to 7).map(r.getLong).toSeq)).toSeq
    assert(got == truth(), s"recurrence drift:\n$got\nvs\n${truth()}")
    // L1 behavior: the symmetric-noise and absent features are
    // EXACTLY zero in every round; the real slope and intercept are
    // live by the final round; squared error falls monotonically
    got.foreach { r => assert(r._5(2) == 0L && r._5(3) == 0L) }
    assert(got.last._5(1) > 0L && got.last._3 == 2L)
    assert(got.map(_._4).zip(got.tail.map(_._4)).forall { case (a0, b0) => b0 < a0 },
      s"sse must fall: ${got.map(_._4)}")
    // corpus determinism
    val a = Relational.q57Lasso(spark, sfDir).collect().toSeq
    assert(a == Relational.q57Lasso(spark, sfDir).collect().toSeq)
  }

  test("q65 Huber: engine rounds equal the recurrence; the clamp shrugs off a planted outlier") {
    val sess = spark
    import sess.implicits._
    // planted: intercept-only (f1..f3 = 0), nine rows at y = 100 and
    // ONE outlier at y = 131000. The mean warm start (13190, exact)
    // IS the least-squares optimum, so the effectively-unclamped run
    // (δ = 2^60) has a zero gradient and never moves — while the
    // clamped gradient caps the outlier's pull and walks the
    // intercept down toward the inlier mass. The in-test truth
    // re-runs the exact integer recurrence (truncating /, same clamp
    // arms), so every round must match bit-for-bit.
    val feats = (Seq.fill(9)(100L) :+ 131000L).map(y => (y, 4096L, 0L, 0L, 0L))
    def truth(delta24: Long): Seq[(Long, Long, Long, Long, Seq[Long])] = {
      val n = feats.length.toLong
      val d12 = delta24 / 4096L
      var w = Array(feats.map(_._1).sum / n, 0L, 0L, 0L)
      (0 to Relational.HuberIters).map { k =>
        val rows = feats.map { case (y12, f0, f1, f2, f3) =>
          val f = Array(f0, f1, f2, f3)
          ((0 to 3).map(j => w(j) * f(j)).sum - y12 * 4096L, f)
        }
        val nOut = rows.count { case (r24, _) => math.abs(r24) > delta24 }.toLong
        val hub12 = rows.map { case (r24, _) =>
          if (math.abs(r24) <= delta24) (r24 / 4096L) * (r24 / 4096L)
          else 2L * d12 * math.abs(r24 / 4096L) - d12 * d12
        }.sum
        val g = (0 to 3).map(j => rows.map { case (r24, f) =>
          math.max(-delta24, math.min(delta24, r24)) * f(j) }.sum)
        val out = (k.toLong, n, nOut, hub12, w.toSeq)
        if (k < Relational.HuberIters)
          w = Array.tabulate(4)(j =>
            math.max(-Relational.HuberClamp, math.min(Relational.HuberClamp,
              w(j) - g(j) / (4L * n * 16777216L))))
        out
      }
    }
    def run(delta24: Long): Seq[(Long, Long, Long, Long, Seq[Long])] =
      Relational.huberRounds(
          feats.toDF("y12", "f0", "f1", "f2", "f3"), delta24).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          (4 to 7).map(r.getLong).toSeq)).toSeq
    val robust = run(Relational.HuberDelta24)
    assert(robust == truth(Relational.HuberDelta24),
      s"recurrence drift:\n$robust\nvs\n${truth(Relational.HuberDelta24)}")
    val unclamped = run(1L << 60)
    assert(unclamped == truth(1L << 60))
    // robustness: least squares is pinned to the outlier-dragged mean
    // (zero gradient at the warm start); Huber walks away from it
    val w0Robust = robust.last._5.head
    val w0Ls = unclamped.last._5.head
    assert(w0Ls == feats.map(_._1).sum / feats.length,
      s"unclamped run must stay at the LS mean, got $w0Ls")
    assert(w0Robust < w0Ls - 1000L,
      s"Huber must escape the outlier pull: $w0Robust vs $w0Ls")
    // by the final round only the planted outlier is past the
    // threshold, and the exact Huber objective improved
    assert(robust.last._3 == 1L, s"final n_outliers: ${robust.last._3}")
    assert(robust.last._4 < robust.head._4,
      s"hub12 must fall: ${robust.map(_._4)}")
    // corpus determinism
    val a = Relational.q65Huber(spark, sfDir).collect().toSeq
    assert(a == Relational.q65Huber(spark, sfDir).collect().toSeq)
  }

  test("q66 ReLU MLP: engine rounds equal the exact backprop recurrence; both layers learn") {
    val sess = spark
    import sess.implicits._
    // planted nonlinearity: y = |f1 - 2048| / 8 on a signed grid — a
    // shape no linear model fits; the in-test truth re-runs the exact
    // integer forward/backward recurrence (truncating /, same clamps)
    // so every round must match bit-for-bit
    val feats = (-8 to 8).map { i =>
      val f1 = i * 256L
      (math.abs(f1 - 2048L) / 8L, 4096L, f1, 0L, 0L)
    }
    val H = Relational.MlpHidden
    def truth(): Seq[(Long, Long, Long, Seq[Long])] = {
      val n = feats.length.toLong
      var w2 = Array(feats.map(_._1).sum / n) ++
        (1 to H).map(Relational.mlpW2Init)
      var w1 = Array.tabulate(H, 4)((h, j) => Relational.mlpW1Init(h, j))
      val rc = Relational.MlpResidClamp24
      (0 to Relational.MlpIters).map { k =>
        val rows = feats.map { case (y12, f0, f1, f2, f3) =>
          val f = Array(f0, f1, f2, f3)
          val a = Array.tabulate(H)(h => (0 to 3).map(j => w1(h)(j) * f(j)).sum)
          val h12 = Array(4096L) ++ a.map(x => math.max(x, 0L) / 4096L)
          val yhat = (0 to H).map(h => w2(h) * h12(h)).sum
          val cr12 = math.max(-rc, math.min(rc, yhat - y12 * 4096L)) / 4096L
          (cr12, h12, a, f)
        }
        val sae = rows.map(r => math.abs(r._1)).sum
        val g2 = (0 to H).map(h => rows.map(r => r._1 * r._2(h)).sum)
        val g1 = Array.tabulate(H, 4)((h, j) => rows.map { r =>
          r._1 * w2(h + 1) * (if (r._3(h) > 0L) 1L else 0L) * r._4(j) }.sum)
        val out = (k.toLong, n, sae,
          w2.toSeq ++ w1.flatten.toSeq)
        if (k < Relational.MlpIters) {
          val c = Relational.MlpClamp
          w2 = Array.tabulate(H + 1)(h =>
            math.max(-c, math.min(c, w2(h) - g2(h) / (4L * n * 4096L))))
          w1 = Array.tabulate(H, 4)((h, j) =>
            math.max(-c, math.min(c, w1(h)(j) - g1(h)(j) / (4L * n * 1048576L))))
        }
        out
      }
    }
    val got = Relational.mlpRounds(
        feats.toDF("y12", "f0", "f1", "f2", "f3")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        (3 until 3 + (H + 1) + H * 4).map(r.getLong).toSeq)).toSeq
    assert(got == truth(), s"recurrence drift:\n$got\nvs\n${truth()}")
    // the network LEARNS: the exact objective falls, and BOTH layers
    // moved off their init (backprop reached the first layer)
    assert(got.last._3 < got.head._3,
      s"sae must fall: ${got.map(_._3)}")
    val w2Init = Seq(feats.map(_._1).sum / feats.length) ++
      (1 to H).map(Relational.mlpW2Init)
    val w1Init = for (h <- 0 until H; j <- 0 to 3)
      yield Relational.mlpW1Init(h, j)
    assert(got.last._4.take(H + 1) != w2Init, "output layer frozen")
    assert(got.last._4.drop(H + 1) != w1Init, "hidden layer frozen")
    // corpus determinism
    val a = Relational.q66ReluMlp(spark, sfDir).collect().toSeq
    assert(a == Relational.q66ReluMlp(spark, sfDir).collect().toSeq)
  }

  test("q62 quantile: engine rounds equal the recurrence; taus bracket and order") {
    val sess = spark
    import sess.implicits._
    // planted: intercept-only (f1..f3 = 0), y = 0..99. Mean init
    // puts w0 at 49 for every tau; the halved-step subgradient then
    // walks each tau toward ITS quantile (true q25/q50/q75 =
    // 24.75/49.5/74.25). The in-test truth re-runs the exact integer
    // recurrence (truncating /, halved steps, same clamp), so every
    // round must match bit-for-bit.
    val feats = (0L until 100L).map(y => (y, 4096L, 0L, 0L, 0L))
    def truth(): Seq[(Long, Long, Long, Long, Long, Seq[Long])] = {
      val n = feats.length.toLong
      var w = Map(1L -> Array(4950L / 100L, 0L, 0L, 0L),
        2L -> Array(4950L / 100L, 0L, 0L, 0L),
        3L -> Array(4950L / 100L, 0L, 0L, 0L))
      (0 to Relational.QrIters).flatMap { k =>
        val outs = Seq(1L, 2L, 3L).map { q =>
          val rows = feats.map { case (y12, f0, f1, f2, f3) =>
            val f = Array(f0, f1, f2, f3)
            val r24 = (0 to 3).map(j => w(q)(j) * f(j)).sum - y12 * 4096L
            (r24, if (r24 >= 0L) 1L else 0L, f)
          }
          val nOver = rows.map(_._2).sum
          val pin24 = rows.map { case (r24, ind, _) =>
            if (ind == 1L) (4L - q) * r24 else q * -r24 }.sum
          val g = (0 to 3).map(j => rows.map { case (r24, ind, f) =>
            (ind * 4L - q) * f(j) }.sum)
          (q, nOver, pin24 / (4L * 4096L), g)
        }
        val res = outs.map { case (q, nOver, pin12, _) =>
          (k.toLong, q, n, nOver, pin12, w(q).toSeq) }
        if (k < Relational.QrIters) {
          val step = math.max(Relational.QrStep >> k, 1L)
          w = outs.map { case (q, _, _, g) =>
            q -> Array.tabulate(4)(j =>
              math.max(-Relational.QrClamp, math.min(Relational.QrClamp,
                w(q)(j) - (g(j) * step) / (4L * n * 4096L))))
          }.toMap
        }
        res
      }
    }
    val got = Relational.quantileRounds(
        feats.toDF("y12", "f0", "f1", "f2", "f3")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), (5 to 8).map(r.getLong).toSeq)).toSeq
    assert(got == truth(), s"recurrence drift:\n$got\nvs\n${truth()}")
    // quantile behavior on the plant: the final intercepts ORDER
    // (q25 < q50 < q75), each lands within the halved-step residual
    // (±8 y-units after 8 halvings from 2048·3/4) of its true
    // quantile, and the over-prediction fraction calibrates to tau
    val fin = got.filter(_._1 == Relational.QrIters.toLong)
      .map(r => r._2 -> r).toMap
    val w25 = fin(1L)._6.head; val w50 = fin(2L)._6.head
    val w75 = fin(3L)._6.head
    assert(w25 < w50 && w50 < w75, s"tau order: $w25 $w50 $w75")
    assert(math.abs(w25 - 25L) <= 8L && math.abs(w50 - 49L) <= 8L &&
      math.abs(w75 - 74L) <= 8L, s"quantiles: $w25 $w50 $w75")
    assert(math.abs(fin(1L)._4 - 25L) <= 8L &&
      math.abs(fin(3L)._4 - 75L) <= 8L,
      s"calibration: ${fin(1L)._4} ${fin(3L)._4}")
    // corpus determinism
    val a = Relational.q62QuantileReg(spark, sfDir).collect().toSeq
    assert(a == Relational.q62QuantileReg(spark, sfDir).collect().toSeq)
  }

  test("q67 kaplan-meier: hand-computed product-limit curve on a planted " +
    "censored sample; corpus run is dense, monotone, deterministic") {
    val sess = spark
    import sess.implicits._
    // cohort 0: events at t=1 (x2) and t=3, censored at t=2 and at
    // the horizon; cohort 1: one horizon-censored subject.
    // Hand fold (ticks 2^24): S1 = 2^24 - (2*2^24 div 5) = 10066330;
    // d=0 steps hold; S3 = (10066330 * (2^24 - 2^24 div 2)) div 2^24
    //    = 5033165; survival never moves on censor-only steps.
    val subj = Seq(
      (0L, 1L, 1L), (0L, 1L, 1L), (0L, 2L, 0L), (0L, 3L, 1L), (0L, 8L, 0L),
      (1L, 8L, 0L)).toDF("cohort", "t_obs", "is_event")
    val got = graft.operators.Events.kmCurve(subj).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    val h = graft.operators.Events.KmHorizon
    val c0 = Seq(
      (0L, 1L, 5L, 2L, 0L, 10066330L),
      (0L, 2L, 3L, 0L, 1L, 10066330L),
      (0L, 3L, 2L, 1L, 0L, 5033165L)) ++
      (4 to 7).map(t => (0L, t.toLong, 1L, 0L, 0L, 5033165L)) :+
      (0L, 8L, 1L, 0L, 1L, 5033165L)
    val c1 = (1 to 7).map(t => (1L, t.toLong, 1L, 0L, 0L, 16777216L)) :+
      (1L, 8L, 1L, 0L, 1L, 16777216L)
    assert(got == c0 ++ c1, s"planted curve mismatch:\n$got")
    // out-of-horizon producer rows are clamped to the censoring
    // contract INSIDE kmFromCounts (a streaming producer that skips
    // the horizon clamp must not silently lose subjects): an event
    // beyond H is unseen — the subject is censored AT H; t_obs < 1
    // clamps to the first grid day.
    val sloppy = graft.operators.Events.kmCurve(Seq(
        (0L, 13L, 1L), (0L, 9L, 0L), (1L, 0L, 0L))
      .toDF("cohort", "t_obs", "is_event")).collect().toSeq
    val clamped = graft.operators.Events.kmCurve(Seq(
        (0L, 8L, 0L), (0L, 8L, 0L), (1L, 1L, 0L))
      .toDF("cohort", "t_obs", "is_event")).collect().toSeq
    assert(sloppy == clamped, s"horizon clamp drift:\n$sloppy\nvs\n$clamped")
    // corpus run: dense grid, at-risk monotone non-increasing,
    // survival monotone non-increasing from 2^24, deterministic
    val a = graft.operators.Events.q67KaplanMeier(spark, sfDir).collect().toSeq
    assert(a == graft.operators.Events.q67KaplanMeier(spark, sfDir)
      .collect().toSeq)
    a.groupBy(_.getLong(0)).foreach { case (cohort, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)) == (1 to h).map(_.toLong),
        s"cohort $cohort grid not dense")
      val ns = sorted.map(_.getLong(2))
      assert(ns.zip(ns.tail).forall { case (x, y) => x >= y },
        s"cohort $cohort at-risk must be non-increasing")
      val ss = sorted.map(_.getLong(5))
      assert(ss.head <= 16777216L &&
        ss.zip(ss.tail).forall { case (x, y) => x >= y },
        s"cohort $cohort survival must be non-increasing")
      // accounting: subjects at risk at t=1 all resolve by the horizon
      assert(sorted.map(r => r.getLong(3) + r.getLong(4)).sum == ns.head,
        s"cohort $cohort event+censor mass must equal the risk set")
    }
  }

  test("q68 aft-weibull: planted cohort effect pins the location sign; " +
    "ascent trace is strictly monotone; corpus booleans hold and the " +
    "censoring table cross-checks q67") {
    import graft.operators.Events
    // planted: cohort 0 converts early (t=1,2), cohort 3 late
    // (t=5,7) with heavier censoring — the fitted one-hot locations
    // must order mu(3) > mu(0) (longer survival = larger location),
    // the planted "coefficient sign" contract
    val cells = Seq(
      Events.AftCell(0L, 1L, 30L, 0L), Events.AftCell(0L, 2L, 15L, 0L),
      Events.AftCell(0L, 8L, 0L, 5L),
      Events.AftCell(3L, 5L, 15L, 0L), Events.AftCell(3L, 7L, 20L, 0L),
      Events.AftCell(3L, 8L, 0L, 15L))
    val (mu, sigma, trace) = Events.aftFit(cells)
    assert(sigma > 0.0)
    assert(mu(3L) > mu(0L), s"planted effect sign: $mu")
    assert(trace.zip(trace.tail).forall(p => p._2 > p._1),
      s"ascent trace not strictly monotone: $trace")
    assert(trace.last > trace.head)
    // the early cohort's fitted median day must be earlier too
    // (exp(mu) is the AFT median-ish location on the day scale)
    assert(math.exp(mu(0L)) < math.exp(mu(3L)))
    // determinism: pure double arithmetic from exact counts, no RNG
    assert(Events.aftFit(cells) == ((mu, sigma, trace)))
    // corpus: all three contract booleans hold at the spec SF (the
    // smallest corpus — the WORST case for the KM band), and the
    // exact censoring table agrees with q67's risk set at t=1
    // (n_risk(1) counts every subject)
    val a = graft.operators.Events.q68AftWeibull(spark, sfDir).collect()
    assert(a.nonEmpty)
    a.foreach { r =>
      assert(r.getBoolean(5) && r.getBoolean(6) && r.getBoolean(7),
        s"contract booleans failed: $r")
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3),
        "n_subj != d + c")
    }
    val kmN1 = graft.operators.Events.q67KaplanMeier(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("t") === 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    a.foreach(r => assert(r.getLong(1) == kmN1(r.getLong(0)),
      s"cohort ${r.getLong(0)}: n_subj ${r.getLong(1)} != KM n_risk(1)"))
    // determinism of the full key
    val b = graft.operators.Events.q68AftWeibull(spark, sfDir).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("q69 sigmoid MLP: planted separable sample trains to strong " +
    "posteriors; loss trace non-increasing; corpus booleans hold; " +
    "deterministic") {
    import spark.implicits._
    // planted: y = 1 rows carry f1 = 62/64 units, y = 0 rows 2/64 —
    // linearly separable on x1 with a near-full-range margin; f2/f3
    // vary on a period COPRIME to the label parity so they carry no
    // accidental signal
    val planted = (1 to 200).map { i =>
      val y = i % 2
      val f1 = if (y == 1) 62L * 64L else 2L * 64L
      (y.toLong, 4096L, f1, ((i / 2) % 20).toLong * 20L,
        ((i / 2) % 7).toLong * 30L)
    }.toDF("y", "f0", "f1", "f2", "f3")
    val trace = Relational.mlpSigmoidDebug(planted)
      .orderBy(col("round")).collect()
    assert(trace.length == Relational.MlpSigIters + 1)
    val losses = trace.map(_.getDouble(1)).toSeq
    losses.zip(losses.tail).foreach { case (a, b) =>
      assert(b <= a + 1e-9 * math.abs(a), s"loss trace increased: $losses")
    }
    assert(losses.last < losses.head, s"no improvement: $losses")
    // posterior separation on the separable plant must be clearly
    // above the sampling-noise scale (~1e-3), not merely positive —
    // the 6 backtracking rounds accept ~3 steps, measured ≈ 0.16
    // here; a frozen or inverted trainer sits at 0 or below
    val finalSep = trace.last.getDouble(2)
    assert(finalSep > 0.1, s"planted separation too weak: $finalSep")
    // corpus: the hashed moment grid is the per-class truth and all
    // four contract booleans hold at the spec SF
    val a = Relational.q69MlpSigmoid(spark, sfDir).collect()
    assert(a.length == 2)
    a.foreach { r =>
      assert(r.getBoolean(5) && r.getBoolean(6) && r.getBoolean(7) &&
        r.getBoolean(8), s"contract booleans failed: $r")
    }
    assert(a.map(_.getLong(1)).sum > 0)
    // determinism: fixed inits, fixed ladder, no RNG
    val b = Relational.q69MlpSigmoid(spark, sfDir).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("graft.sum.twolevel: the exact-GD family is bit-identical with the " +
    "decimal gradient carrier on (the executable two-level retune)") {
    import graft.operators.Relational
    val keys: Seq[(String, () => Seq[Seq[Any]])] = Seq(
      ("q50", () => Relational.q50LogisticRegression(spark, sfDir)
        .collect().toSeq.map(_.toSeq)),
      ("q56", () => Relational.q56LinearSvm(spark, sfDir)
        .collect().toSeq.map(_.toSeq)),
      ("q57", () => Relational.q57Lasso(spark, sfDir)
        .collect().toSeq.map(_.toSeq)))
    assert(spark.conf.getOption(graft.Sums.TwoLevelConf).isEmpty)
    val off = keys.map { case (k, f) => k -> f() }.toMap
    spark.conf.set(graft.Sums.TwoLevelConf, "true")
    try {
      keys.foreach { case (k, f) =>
        assert(f() == off(k), s"$k drifted under the two-level carrier")
      }
    } finally spark.conf.unset(graft.Sums.TwoLevelConf)
  }

  test("q01, q03, q05, q24 plan identically on cold and cached table schemas") {
    // a private copy of the tables per key, so its first read is cold
    def freshCopy(): String = {
      val src = java.nio.file.Paths.get(sfDir)
      val dst = java.nio.file.Files.createTempDirectory("graft-schema-cache")
      val s = java.nio.file.Files.walk(src)
      try s.forEach { p: java.nio.file.Path =>
        val t = dst.resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      } finally s.close()
      dst.toString
    }
    def plan(key: String, d: String): String =
      SparkEntry.queries(key)(spark, d).queryExecution.executedPlan.toString
        .replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id=")
    Seq("q01_pricing_summary", "q03_join_agg_topk", "q05_multiway_join",
        "q24_cube").foreach { key =>
      val d = freshCopy()
      assert(Tables.cachedSchema(spark, d, "lineitem").isEmpty)
      val cold = plan(key, d)
      assert(Tables.cachedSchema(spark, d, "lineitem").isDefined)
      assert(plan(key, d) == cold, s"$key: the cached read planned differently")
    }
  }
}
