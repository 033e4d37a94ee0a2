package graft

import org.apache.spark.sql.functions._

import graft.operators.{Agreement, Drift, GlobalOrder, Graph, RankStats, Survival}

/** Round-14 contracts: the fused convergence probes (iterative operators
  * read row counts off CheckpointFresh's eager materialization instead of
  * running separate count()/isEmpty jobs — r13 verdict item 2), the
  * GlobalOrder null-weight guard, and result-invariance of the rewired
  * loops against their pre-rewire semantics. */
class Round14OpsSpec extends SparkSpec {
  import spark.implicits._

  test("CheckpointFresh.withCount: one job where checkpoint-then-count was two") {
    val df = viaParquet(Seq.tabulate(100)(i => (i.toLong, i % 7)).toDF("id", "g"))
    val cf = org.apache.spark.sql.graft.CheckpointFresh
    val fused = countJobs {
      val (out, n) = cf.withCount(df.filter(col("g") =!= 3))
      assert(n == out.count()) // the exposed count IS the frame's count
    }
    val separate = countJobs {
      val out = cf(df.filter(col("g") =!= 3))
      out.count()
    }
    // fused: checkpoint job + the assertion's count-on-materialized-RDD;
    // separate: the same two plus nothing saved — the probe job is extra
    assert(fused == separate,
      s"withCount should cost the same jobs as apply ($fused vs $separate); " +
        "the saving is the CALLER dropping its own count/isEmpty job")
    // and the count itself must not schedule anything beyond the checkpoint
    val probeFree = countJobs { cf.withCount(df)._2 }
    assert(probeFree == 1L, s"withCount alone must be exactly 1 job, got $probeFree")
  }

  test("boruvkaMsf: per-round emptiness probes fused into the checkpoints") {
    // 8-ring with arithmetic-progression weights — the adversarial monotone
    // chain from the r13 notes; converges in a couple of Borůvka rounds
    val edges = viaParquet((0L until 8L).map(i =>
      (i, (i + 1) % 8, 10L + i)).toDF("u", "v", "w"))
    var result: Array[org.apache.spark.sql.Row] = null
    val jobs = countJobs {
      result = Graph.boruvkaMsf(edges, "u", "v", "w").orderBy("a", "b").collect()
    }
    // MSF of a ring = ring minus its heaviest edge
    assert(result.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 7L).map(i => (i, i + 1)))
    // AQE splits each materialization into several scheduler jobs, so the
    // absolute count (measured 35 on the 8-ring: 2 loop rounds + jump
    // batches) is a loose rail, not an exact contract — the exact fuse
    // contract is the withCount test above. Pre-fuse this shape measured
    // +1 job per loop round from the separate selected.isEmpty probes.
    assert(jobs <= 40L, s"boruvkaMsf scheduled $jobs jobs on the 8-ring — " +
      "per-round probe jobs crept back in (r13 verdict item 2)")
  }

  test("kCore: edge-count fixed-point probes ride the checkpoint counts") {
    // 5-clique + a tail that peels away over 2 rounds
    val clique = for (i <- 0L until 5L; j <- i + 1 until 5L) yield (i, j)
    val tail = Seq((5L, 0L), (6L, 5L))
    val edges = viaParquet((clique ++ tail).toDF("src", "dst"))
    var got: Map[Long, Long] = null
    val jobs = countJobs {
      got = Graph.kCore(edges, k = 4).as[(Long, Long)].collect().toMap
    }
    assert(got == (0L until 5L).map(_ -> 4L).toMap)
    // measured 8 jobs after the fuse (was 14 with per-round pruned/live
    // counts: 2 extra per round × 3 rounds); 10 = one reintroduced pair
    assert(jobs <= 10L, s"kCore scheduled $jobs jobs — " +
      "separate per-round count() probes crept back in")
  }

  test("GlobalOrder.cumSum: all-NULL weights don't NPE the offset collect") {
    val df = viaParquet(Seq.tabulate(20)(i =>
      (i.toLong, if (i % 2 == 0) Some(1L) else None)).toDF("id", "wv"))
    // partitions > distinct keys forces some ranges to be empty/null-heavy;
    // null weights must read as 0 in the per-partition offsets
    val out = GlobalOrder.cumSum(df, Seq(col("id")), col("wv"), "cum", partitions = 8)
      .orderBy("id").select("id", "cum").as[(Long, Option[Long])].collect()
    assert(out.length == 20)
    // running sum over nulls: null rows keep the window's null-skipping
    // semantics of the single-task spelling it replaced (sum ignores nulls)
    val expect = Seq.tabulate(20)(i => (i / 2 + 1).toLong)
    assert(out.map(_._2.get).toSeq == expect)
    // and the degenerate all-null frame survives the offset collect
    val allNull = viaParquet(Seq.tabulate(6)(i => (i.toLong, None: Option[Long]))
      .toDF("id", "wv"))
    val on = GlobalOrder.cumSum(allNull, Seq(col("id")), col("wv"), "cum", partitions = 4)
      .select("cum").collect()
    assert(on.length == 6 && on.forall(_.isNullAt(0)))
  }

  // ------------------------------------------------------------- agreement

  test("cohenKappa: hand case kappa = 0.4; one-rater-only label survives the census join") {
    val a = Seq("x", "x", "x", "x", "x", "x", "y", "y", "y", "y")
    val b = Seq("x", "x", "x", "x", "y", "y", "y", "y", "y", "x")
    val df = viaParquet(a.zip(b).map { case (x, y) => ("g", x, y) }.toDF("g", "ra", "rb"))
    val r = Agreement.cohenKappa(df, "ra", "rb", Seq("g")).collect()(0)
    assert(r.getAs[Long]("n") == 10L && r.getAs[Long]("agree") == 7L)
    assert(r.getAs[Long]("pe_num") == 50L) // 6*5 + 4*5
    assert(r.getAs[Long]("kappa_ppm") == 400000L) // (70-50)/(100-50)
    // a label only rater A uses must not drop B's census rows (full outer)
    val df2 = viaParquet(Seq(("g", "z", "x"), ("g", "x", "x")).toDF("g", "ra", "rb"))
    val r2 = Agreement.cohenKappa(df2, "ra", "rb", Seq("g")).collect()(0)
    assert(r2.getAs[Long]("pe_num") == 2L) // only (x: 1*2); z*0 contributes 0
    // constant identical raters: kappa undefined, NULL not 1
    val r3 = Agreement.cohenKappa(
      viaParquet(Seq(("g", "x", "x"), ("g", "x", "x")).toDF("g", "ra", "rb")),
      "ra", "rb", Seq("g")).collect()(0)
    assert(r3.isNullAt(r3.fieldIndex("kappa_ppm")))
  }

  test("fleissKappa: hand case kappa = 0.25; varying n refuses") {
    val ratings = Seq( // item 1: a,a,a; item 2: a,b,b -> kappa = 1/4
      ("g", 1L, "a"), ("g", 1L, "a"), ("g", 1L, "a"),
      ("g", 2L, "a"), ("g", 2L, "b"), ("g", 2L, "b"))
    val r = Agreement.fleissKappa(viaParquet(ratings.toDF("g", "item", "cat")),
      "item", "cat", Seq("g")).collect()(0)
    assert(r.getAs[Long]("n_items") == 2L && r.getAs[Long]("n_raters") == 3L)
    assert(r.getAs[Long]("po_pair_num") == 8L && r.getAs[Long]("pe_sq_num") == 20L)
    assert(r.getAs[Long]("kappa_ppm") == 250000L)
    assertThrows[IllegalArgumentException] {
      Agreement.fleissKappa(
        viaParquet((ratings :+ (("g", 2L, "b"))).toDF("g", "item", "cat")),
        "item", "cat", Seq("g")).collect()
    }
  }

  test("mcnemar: chi2 exact, 5% decision by the 96/25 rational") {
    // b=6 c=2: chi2 = 16/8 = 2, not significant (25*16=400 < 96*8=768)
    val rows1 = Seq.fill(6)(("g1", true, false)) ++ Seq.fill(2)(("g1", false, true)) ++
      Seq.fill(5)(("g1", true, true))
    // b=10 c=1: chi2 = 81/11, significant (25*81=2025 >= 96*11=1056)
    val rows2 = Seq.fill(10)(("g2", true, false)) ++ Seq(("g2", false, true))
    val out = Agreement.mcnemar(
      viaParquet((rows1 ++ rows2).toDF("g", "ca", "cb")), "ca", "cb", Seq("g"))
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("chi2_upm"), r.getAs[Boolean]("significant"))).toMap
    assert(out("g1") == (2000000L, false))
    assert(out("g2") == (81000000L / 11L, true))
    // no discordance: NULL chi2, not significant
    val r0 = Agreement.mcnemar(
      viaParquet(Seq(("g", true, true), ("g", false, false)).toDF("g", "ca", "cb")),
      "ca", "cb", Seq("g")).collect()(0)
    assert(r0.isNullAt(r0.fieldIndex("chi2_upm")) && !r0.getAs[Boolean]("significant"))
  }

  // ------------------------------------------------------------ rank stats

  test("wilcoxonSignedRank: distinct ranks, tie class, zeros dropped") {
    val df = viaParquet(Seq(
      ("g1", 11L, 10L), ("g1", 12L, 10L), ("g1", 7L, 10L), ("g1", 14L, 10L),
      ("g1", 15L, 10L), ("g1", 10L, 10L), // zero diff dropped
      ("g2", 11L, 10L), ("g2", 11L, 10L), ("g2", 9L, 10L)).toDF("g", "x", "y"))
    val out = RankStats.wilcoxonSignedRank(df, "x", "y", Seq("g"))
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n"), r.getAs[Long]("w2_plus"), r.getAs[Long]("rb_ppm"))).toMap
    // g1: d = +1 +2 -3 +4 +5 -> W+ = 1+2+4+5 = 12 (w2 = 24), rb = 18/30
    assert(out("g1") == (5L, 24L, 600000L))
    // g2: |d| all 1 (tie class of 3, rank2 = 4), W2+ = 2*4 = 8, rb = (16-12)/12
    assert(out("g2") == (3L, 8L, 333333L))
  }

  test("cliffsDelta: hand case -0.25") {
    val df = viaParquet(Seq(("g", "a", 1L), ("g", "a", 2L), ("g", "b", 1L),
      ("g", "b", 3L)).toDF("g", "side", "v"))
    val r = RankStats.cliffsDelta(df, "v", "side", "a", "b", Seq("g")).collect()(0)
    assert(r.getAs[Long]("u2") == 3L) // 2*(1 + 0.5)
    assert(r.getAs[Long]("delta_ppm") == -250000L)
  }

  test("giniPpm: mean-difference identity on a tied multiset") {
    val df = viaParquet(Seq(1L, 1L, 2L, 4L).map(("g", _)).toDF("g", "v"))
    val r = RankStats.giniPpm(df, "v", Seq("g")).collect()(0)
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("sum_v") == 8L)
    assert(r.getAs[Long]("gini_num") == 10L) // sum|xi-xj| = 20 = 2*num
    assert(r.getAs[Long]("gini_ppm") == 312500L)
    // constant values: G = 0; all-zero: NULL (0/0)
    val z = RankStats.giniPpm(
      viaParquet(Seq(0L, 0L).map(("g", _)).toDF("g", "v")), "v", Seq("g")).collect()(0)
    assert(z.isNullAt(z.fieldIndex("gini_ppm")))
  }

  // -------------------------------------------------------------- survival

  test("nelsonAalenMicro: per-step hazards and cumulative sum") {
    val df = viaParquet(Seq(("g", 1L, true), ("g", 2L, true), ("g", 2L, false),
      ("g", 3L, true)).toDF("g", "t", "ev"))
    val out = Survival.nelsonAalenMicro(df, "t", "ev", Seq("g"))
      .orderBy("t").collect()
      .map(r => (r.getAs[Long]("t"), r.getAs[Long]("n_risk"),
        r.getAs[Long]("hazard_step_micro"), r.getAs[Long]("chaz_micro")))
    assert(out.toSeq == Seq((1L, 4L, 250000L, 250000L),
      (2L, 3L, 333333L, 583333L), (3L, 1L, 1000000L, 1583333L)))
  }

  test("logRank: hand O/E/V; separated arms move dev, identical arms don't") {
    val df = viaParquet(Seq(
      ("g", 1L, true, "a"), ("g", 2L, true, "a"),
      ("g", 3L, true, "b"), ("g", 4L, true, "b")).toDF("g", "t", "ev", "side"))
    val r = Survival.logRank(df, "t", "ev", "side", "a", "b", Seq("g")).collect()(0)
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Long]("o1") == 2L)
    assert(r.getAs[Long]("e1_micro") == 500000L + 333333L)
    assert(r.getAs[Long]("v_upm") == 250000L + 222222L)
    val dev = BigInt(2000000L - 833333L)
    assert(r.getAs[Long]("chi2_upm") == (dev * dev / BigInt(472222L)).toLong)
    // a third side value refuses loudly
    assertThrows[IllegalArgumentException] {
      Survival.logRank(viaParquet(Seq(("g", 1L, true, "c")).toDF("g", "t", "ev", "side")),
        "t", "ev", "side", "a", "b", Seq("g")).collect()
    }
  }

  // ------------------------------------------------------- drift/changepoint

  test("chi2Homogeneity: null slice p=1e6, drifted slice exact chi2 and Markov p") {
    val nullRows = (1 to 10).flatMap(_ =>
      Seq(("s0", 0L, false), ("s0", 1L, false), ("s0", 0L, true), ("s0", 1L, true)))
    val driftRows = (1 to 10).flatMap(_ => Seq(("s1", 0L, false), ("s1", 1L, false))) ++
      (1 to 20).map(_ => ("s1", 0L, true))
    val out = Drift.chi2Homogeneity(
      viaParquet((nullRows ++ driftRows).toDF("slice", "bin", "cur")),
      "bin", "cur", Seq("slice"))
      .collect().map(r => r.getAs[String]("slice") ->
        (r.getAs[Long]("chi2_upm"), r.getAs[Long]("p_ppm"))).toMap
    assert(out("s0") == (0L, 1000000L))
    // hand: chi2 = 13.333332 (terms 1666666*2 + 5000000*2), p = 2e12/13333332
    assert(out("s1") == (13333332L, 150000L))
  }

  test("monitoring composition: drift p-values -> BH across slices -> only the planted slice alarms") {
    // 6 slices, one planted: the q362 contract (the pieces must COMPOSE).
    // The Markov p-bound is conservative (p = 2*df/chi2, chi2 ~ N/2 for
    // this drift shape), so the planted slice needs N large enough that
    // p*m <= rank*alpha: 400 rows/window -> chi2 = 400, p = 10000 ppm,
    // BH rank-1 cut at alpha/m = 16666 ppm
    val rows = (0 until 6).flatMap { h =>
      val planted = h == 2
      (1 to 400).flatMap { i =>
        val refBin = i % 3
        val curBin = if (planted) 0L else (i % 3).toLong
        Seq(("g", h.toLong, refBin.toLong, false), ("g", h.toLong, curBin, true))
      }
    }
    val pv = Drift.chi2Homogeneity(
      viaParquet(rows.toDF("g", "h", "bin", "cur")), "bin", "cur", Seq("g", "h"))
    val out = graft.operators.Sequential.bhFdr(pv, "p_ppm", "h", 100000L, Seq("g"))
      .collect().map(r => r.getAs[Long]("h") -> r.getAs[Boolean]("rejected")).toMap
    assert(out(2L), "the planted drifted slice must alarm")
    assert((0 until 6).filter(_ != 2).forall(h => !out(h.toLong)),
      "no null slice may alarm")
  }

  test("binarySegmentOne: level-shift split found with exact G and side means") {
    val df = viaParquet(Seq(("g", 1L, 1L), ("g", 2L, 1L), ("g", 3L, 1L),
      ("g", 4L, 5L), ("g", 5L, 5L)).toDF("g", "pos", "v"))
    val r = Drift.binarySegmentOne(df, "pos", "v", Seq("g")).collect()(0)
    assert(r.getAs[Long]("split_pos") == 3L)
    assert(r.getAs[Long]("g_upm") == 19200000L)
    assert(r.getAs[Long]("mean_left_micro") == 1000000L)
    assert(r.getAs[Long]("mean_right_micro") == 5000000L)
  }

  // ------------------------------------------------------------------ graph

  test("localClusteringPpm: triangle + pendant hand case") {
    val edges = viaParquet(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("src", "dst"))
    val out = Graph.localClusteringPpm(edges).collect()
      .map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("deg"), r.getAs[Long]("tri"),
          if (r.isNullAt(r.fieldIndex("lcc_ppm"))) -1L else r.getAs[Long]("lcc_ppm")))
      .toMap
    assert(out(1L) == (2L, 1L, 1000000L))
    assert(out(2L) == (2L, 1L, 1000000L))
    assert(out(3L) == (3L, 1L, 333333L))
    assert(out(4L) == (1L, 0L, -1L)) // deg 1: undefined, NULL
  }

  // --------------------------------------------------------------- cuped/bt

  test("cuped: perfectly covariate-explained metric adjusts to arm effect") {
    val df = viaParquet(Seq(("g", "a", 12L, 10L), ("g", "a", 22L, 20L),
      ("g", "b", 13L, 10L), ("g", "b", 23L, 20L)).toDF("g", "arm", "y", "x"))
    val out = graft.ml.Regress.cuped(df, "y", "x", "arm", Seq("g"))
      .collect().map(r => r.getAs[String]("arm") ->
        (r.getAs[Long]("theta_ppm"), r.getAs[Long]("adj_mean_micro"))).toMap
    assert(out("a") == (1000000L, 17000000L))
    assert(out("b") == (1000000L, 18000000L))
    // constant covariate: theta NULL, adjusted = raw mean
    val c = graft.ml.Regress.cuped(
      viaParquet(Seq(("g", "a", 4L, 7L), ("g", "b", 6L, 7L)).toDF("g", "arm", "y", "x")),
      "y", "x", "arm", Seq("g")).collect()
      .map(r => r.getAs[String]("arm") -> r.getAs[Long]("adj_mean_micro")).toMap
    assert(c("a") == 4000000L && c("b") == 6000000L)
  }

  test("ngramOverlapEval: hand bigram clip, brevity, short-text empty grams") {
    // cand "a b a b" vs ref "a b c a b": cand bigrams {ab:2, ba:1},
    // ref {ab:2, bc:1, ca:1} -> matched = 2 (ab clipped at 2, ba at 0)
    val df = viaParquet(Seq(("g", 1L, "a b a b", "a b c a b")).toDF("g", "id", "c", "r"))
    val o = graft.text.EvalText.ngramOverlapEval(df, "id", "c", "r", 2, Seq("g")).collect()(0)
    assert(o.getAs[Long]("cand_grams") == 3L && o.getAs[Long]("ref_grams") == 4L)
    assert(o.getAs[Long]("matched_grams") == 2L)
    assert(o.getAs[Long]("rouge_recall_ppm") == 500000L)
    assert(o.getAs[Long]("bleu_precision_ppm") == 666666L)
    assert(o.getAs[Long]("brevity_ppm") == 800000L) // 4 tokens / 5 tokens
    // a one-token candidate has NO bigrams: precision NULL, not an error
    val s = graft.text.EvalText.ngramOverlapEval(
      viaParquet(Seq(("g", 1L, "a", "a b")).toDF("g", "id", "c", "r")),
      "id", "c", "r", 2, Seq("g")).collect()(0)
    assert(s.getAs[Long]("cand_grams") == 0L &&
      s.isNullAt(s.fieldIndex("bleu_precision_ppm")))
  }

  test("majorityVote: ties to smallest label; per-rater match shares") {
    val ratings = Seq( // item 1: labels 2,2,5 -> maj 2; item 2: 1,3 tie -> maj 1
      ("g", 1L, "r1", 2L), ("g", 1L, "r2", 2L), ("g", 1L, "r3", 5L),
      ("g", 2L, "r1", 1L), ("g", 2L, "r3", 3L))
    val out = Agreement.majorityVote(
      viaParquet(ratings.toDF("g", "item", "rater", "lbl")),
      "item", "rater", "lbl", Seq("g"))
      .collect().map(r => r.getAs[String]("rater") ->
        (r.getAs[Long]("n_rated"), r.getAs[Long]("n_match"), r.getAs[Long]("match_ppm")))
      .toMap
    assert(out("r1") == (2L, 2L, 1000000L))
    assert(out("r2") == (1L, 1L, 1000000L))
    assert(out("r3") == (2L, 0L, 0L))
  }

  test("krippendorffAlphaNominal: hand case with VARYING rater counts") {
    // item A: x,x (n=2); item B: x,y,y (n=3); item C single-rated -> dropped
    val ratings = Seq(("g", "A", "x"), ("g", "A", "x"),
      ("g", "B", "x"), ("g", "B", "y"), ("g", "B", "y"), ("g", "C", "x"))
    val r = Agreement.krippendorffAlphaNominal(
      viaParquet(ratings.toDF("g", "item", "cat")), "item", "cat", Seq("g"))
      .collect()(0)
    assert(r.getAs[Long]("n_items") == 2L && r.getAs[Long]("n_ratings") == 5L)
    // Do: A: 0; B: (1*2 + 2*1)/2 = 2 -> 2e6 micro. De: N=5, Nx=3, Ny=2:
    // (3*2 + 2*3)/4 = 3 -> 3e6 micro. alpha = 1 - 2/3 = 1/3
    assert(r.getAs[Long]("do_micro") == 2000000L)
    assert(r.getAs[Long]("de_micro") == 3000000L)
    assert(r.getAs[Long]("alpha_ppm") == 333333L)
    // perfect agreement across varying n: alpha = 1
    val p = Agreement.krippendorffAlphaNominal(
      viaParquet(Seq(("g", "A", "x"), ("g", "A", "x"), ("g", "B", "y"),
        ("g", "B", "y"), ("g", "B", "y")).toDF("g", "item", "cat")),
      "item", "cat", Seq("g")).collect()(0)
    assert(p.getAs[Long]("alpha_ppm") == 1000000L)
  }

  test("winsorizedMeanMicro: rank-pick cuts clamp the planted outlier") {
    // 10 values: 1..9 and 1000; p = 10% -> k = 1: lo = 2nd smallest = 2,
    // hi = 9th = 9; winsorized sum = 2 + 2..9 + 9 = clamp both tails
    val df = viaParquet((1L to 9L).map(("g", _)).toDF("g", "v")
      .unionByName(Seq(("g", 1000L)).toDF("g", "v")))
    val r = RankStats.winsorizedMeanMicro(df, "v", 100000L, Seq("g")).collect()(0)
    assert(r.getAs[Long]("k_each_side") == 1L)
    assert(r.getAs[Long]("lo") == 2L && r.getAs[Long]("hi") == 9L)
    // sum = 2 + (2+3+...+9) + 9 = 2 + 44 + 9 = 55 -> mean 5.5e6
    assert(r.getAs[Long]("wmean_micro") == 5500000L)
    // p = 0 degrades to the exact plain mean
    val m = RankStats.winsorizedMeanMicro(df, "v", 0L, Seq("g")).collect()(0)
    assert(m.getAs[Long]("k_each_side") == 0L)
    assert(m.getAs[Long]("wmean_micro") == ((45L + 1000L) * 1000000L) / 10L)
  }

  test("postStratifiedAte: weighted within-stratum contrast; arm-less strata dropped") {
    val rows = Seq(
      ("g", 1L, "a", 10L), ("g", 1L, "a", 20L), ("g", 1L, "b", 30L), // dy = 15
      ("g", 2L, "a", 100L), ("g", 2L, "b", 130L), ("g", 2L, "b", 150L), // dy = 40
      ("g", 3L, "a", 999L)) // no b arm: dropped
    val r = graft.ml.Regress.postStratifiedAte(
      viaParquet(rows.toDF("g", "s", "arm", "y")), "y", "arm", "a", "b", "s", Seq("g"))
      .collect()(0)
    assert(r.getAs[Long]("n_strata_used") == 2L && r.getAs[Long]("n_used") == 6L)
    // ate = (3*15e6 + 3*40e6) / 6 = 27.5e6
    assert(r.getAs[Long]("ate_micro") == 27500000L)
    // naive over the KEPT strata: b mean (30+130+150)/3 - a mean (10+20+100)/3
    assert(r.getAs[Long]("naive_diff_micro") == 103333333L - 43333333L)
  }

  test("bradleyTerryMM: two-item fixed point 3:1 -> strengths 3:1") {
    val pairs = viaParquet((Seq.fill(3)((1L, 2L)) :+ ((2L, 1L))).toDF("w", "l"))
    val out = graft.ml.Preference.bradleyTerryMM(pairs, "w", "l", rounds = 3)
      .collect().map(r => r.getAs[Long]("item") ->
        (r.getAs[Long]("wins"), r.getAs[Long]("score_micro"))).toMap
    // s1+s2 stays 2e6 every round: s1 = 3e6/2 = 1.5e6, s2 = 0.5e6 exactly
    assert(out(1L) == (3L, 1500000L))
    assert(out(2L) == (1L, 500000L))
  }
}
