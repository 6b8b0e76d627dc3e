package graft.ops

import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Independent oracle: array union-find over the edge list. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def runCC(edges: Seq[(Long, Long)], maxIter: Int = 25): Map[Long, Long] = {
    import spark.implicits._
    val labels = GraphOps.connectedComponents(edges.toDF("a", "b"), "a", "b", maxIter)
    val out = labels.as[(Long, Long)].collect().toMap
    labels.unpersist()
    out
  }

  test("connected components: path graph (diameter > 1) and separate clique") {
    // Path 1-2-3-4-5 (diameter 4 forces multiple propagation rounds),
    // plus disjoint pair 10-11; edges in arbitrary orientation.
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (11L, 10L))
    assert(runCC(edges) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("connected components: empty edge list converges to empty output") {
    import spark.implicits._
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(GraphOps.connectedComponents(edges, "a", "b").isEmpty)
  }

  test("diameter > maxIter falls back to star contraction instead of failing") {
    // Path 0-1-2-...-40: diameter 40 > 25 propagation rounds. Round 3's
    // require() threw here; the fallback must now finish and agree with
    // the union-find oracle (everything labeled 0).
    val edges = (0L until 40L).map(i => (i + 1, i))
    val got = runCC(edges)
    assert(got == unionFind(edges))
    assert(got.values.toSet == Set(0L))
  }

  test("propagation-then-contraction composition on a tiny maxIter") {
    // maxIter=2 forces the contraction path even on a modest graph, and
    // the quotient graph is non-trivial (several partial label classes).
    val edges = (0L until 20L).map(i => (i + 1, i)) ++
      Seq((100L, 101L), (101L, 102L), (50L, 200L))
    assert(runCC(edges, maxIter = 2) == unionFind(edges))
  }

  test("star contraction agrees with union-find on seeded random graphs") {
    import spark.implicits._
    for (seed <- Seq(7, 42, 1234)) {
      val rnd = new scala.util.Random(seed)
      // ~60 nodes, 70 random edges (mix of components, cycles, dups,
      // self-loops) + one long chain to stress round count.
      val edges = Seq.fill(70)((rnd.nextLong(60), rnd.nextLong(60))) ++
        (300L until 330L).map(i => (i, i + 1))
      val expected = unionFind(edges) // handles self-loops natively
      val sc = GraphOps.starContraction(edges.toDF("a", "b"), "a", "b")
      val got = sc.as[(Long, Long)].collect().toMap
      sc.unpersist()
      assert(got == expected, s"seed $seed")
      assert(runCC(edges) == expected, s"seed $seed (propagation)")
    }
  }

  test("keepClusterRepresentatives keeps min-id per cluster, untouched rows survive") {
    import spark.implicits._
    val df = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 99L).toDF("id")
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (11L, 10L))
      .toDF("a", "b")
    val kept = GraphOps.keepClusterRepresentatives(df, "id", pairs)
      .as[Long].collect().sorted.toSeq
    // cluster {1..5} -> keep 1; cluster {10,11} -> keep 10; 99 untouched
    assert(kept == Seq(1L, 10L, 99L))
    GraphOps.clearComponentCache()
  }

  test("keepClusterRepresentatives anti-join carries no mandatory broadcast hint") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import spark.implicits._
    val df = Seq(1L, 2L, 3L).toDF("id")
    val pairs = Seq((2L, 1L)).toDF("a", "b")
    val out = GraphOps.keepClusterRepresentatives(df, "id", pairs)
    // The dup-id set is unbounded at scale (20-50% of a web corpus);
    // strategy choice belongs to AQE, not a hardcoded hint.
    val hinted = out.queryExecution.optimizedPlan.collect {
      case j: Join if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j
    }
    assert(hinted.isEmpty, s"anti-join must be un-hinted:\n${out.queryExecution.optimizedPlan}")
    GraphOps.clearComponentCache()
  }

  test("incrementalComponents == full recompute on seeded random graph splits") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    for (trial <- 1 to 3) {
      val all = (1 to 60).map(_ =>
        (rnd.nextInt(30).toLong + 1, rnd.nextInt(30).toLong + 1))
        .filter { case (a, b) => a != b }.distinct
      // delta gets ~1/3 of the edges — including ones that bridge base
      // components and ones introducing brand-new nodes
      val (delta, base) = all.partition(_ => rnd.nextInt(3) == 0)
      val baseLabels = GraphOps.connectedComponents(base.toDF("a", "b"), "a", "b")
      val got = GraphOps
        .incrementalComponents(baseLabels, delta.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(got == runCC(all), s"trial $trial (base=${base.size}, delta=${delta.size})")
      // the delta edge list is evaluated ONCE per call: every delta row
      // passes a nondeterministic counting UDF exactly once, however many
      // consumers inside incrementalComponents read the delta
      val evals = spark.sparkContext.longAccumulator(s"delta-evals-$trial")
      val counted = udf { (a: Long) => evals.add(1L); a }.asNondeterministic()
      val countedDelta = spark.sparkContext.parallelize(delta, 2).toDF("a", "b")
        .select(counted(col("a")).as("a"), col("b"))
      val gotCounted = GraphOps
        .incrementalComponents(baseLabels, countedDelta, "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(gotCounted == runCC(all), s"trial $trial (counted delta)")
      assert(evals.value == delta.size.toLong,
        s"trial $trial: ${evals.value} delta-row evaluations for ${delta.size} rows")
      baseLabels.unpersist()
    }
  }

  test("incrementalComponents: empty delta returns base labels unchanged") {
    import spark.implicits._
    val base = Seq((1L, 2L), (4L, 5L))
    val baseLabels = GraphOps.connectedComponents(base.toDF("a", "b"), "a", "b")
    val got = GraphOps
      .incrementalComponents(baseLabels,
        Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L))
    baseLabels.unpersist()
  }

  test("withSingletons completes the label frame over a universe") {
    import spark.implicits._
    val labels = GraphOps.connectedComponents(
      Seq((2L, 1L)).toDF("a", "b"), "a", "b")
    val universe = Seq(1L, 2L, 7L, 8L).toDF("doc_id")
    val got = GraphOps.withSingletons(labels, universe, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 7L -> 7L, 8L -> 8L))
  }

  test("pageRankUnits matches a scalar fixed-point reference") {
    import spark.implicits._
    // Directed: 1→2, 1→3, 2→3, 3→1 (a cycle plus a chord; node 1 has
    // outdeg 2). Scalar reference replicates the exact integer updates.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("s", "t")
    val got = GraphOps.pageRankUnits(edges, "s", "t", iters = 3)
      .as[(Long, Long)].collect().toMap

    val out = Map(1L -> Seq(2L, 3L), 2L -> Seq(3L), 3L -> Seq(1L))
    var r = Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L)
    for (_ <- 1 to 3) {
      val contrib = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      out.foreach { case (u, vs) =>
        val c = r(u) / vs.size
        vs.foreach(v => contrib(v) += c)
      }
      r = r.keys.map(n => n -> (150000L + 85L * contrib(n) / 100L)).toMap
    }
    assert(got == r)
  }

  test("pageRankUnits: dangling and source-only nodes get the base rank") {
    import spark.implicits._
    // 1→2 only: node 2 is dangling (keeps receiving), node 1 receives
    // nothing → settles at the base 150000.
    val got = GraphOps.pageRankUnits(Seq((1L, 2L)).toDF("s", "t"), "s", "t",
      iters = 3).as[(Long, Long)].collect().toMap
    assert(got(1L) == 150000L)
    // r2 after i1: 150000+85*1000000/100=1000000; i2: 150000+85*150000/100=277500
    // (node 1 already at base from i1); i3 same → fixpoint.
    assert(got(2L) == 277500L)
  }

  test("pageRankWeightedUnits: uniform weights reduce to unweighted exactly") {
    import spark.implicits._
    // floor((r*w)/(w*deg)) == floor(r/deg) for any w > 0, so constant
    // weights must reproduce pageRankUnits bit-for-bit
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("s", "t")
    val unw = GraphOps.pageRankUnits(edges, "s", "t", iters = 3)
      .as[(Long, Long)].collect().toMap
    val w7 = GraphOps.pageRankWeightedUnits(
        edges.withColumn("w",
          org.apache.spark.sql.functions.lit(7L)), "s", "t", "w", iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(w7 == unw)
  }

  test("pageRankWeightedUnits matches a scalar fixed-point reference") {
    import spark.implicits._
    // 1→2 (w 3), 1→3 (w 1), 2→3 (w 2), 3→1 (w 5); duplicate (1,2) rows
    // must merge additively (3 = 2 + 1)
    val edges = Seq((1L, 2L, 2L), (1L, 2L, 1L), (1L, 3L, 1L),
      (2L, 3L, 2L), (3L, 1L, 5L)).toDF("s", "t", "w")
    val got = GraphOps.pageRankWeightedUnits(edges, "s", "t", "w", iters = 3)
      .as[(Long, Long)].collect().toMap

    val out = Map(
      1L -> Seq((2L, 3L), (3L, 1L)), 2L -> Seq((3L, 2L)), 3L -> Seq((1L, 5L)))
    var r = Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L)
    for (_ <- 1 to 3) {
      val contrib = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      out.foreach { case (u, vs) =>
        val wout = vs.map(_._2).sum
        vs.foreach { case (v, w) => contrib(v) += r(u) * w / wout }
      }
      r = r.keys.map(n => n -> (150000L + 85L * contrib(n) / 100L)).toMap
    }
    assert(got == r)
  }

  test("ssspUnits: hand case, round truncation, unit-weight = BFS hops") {
    import spark.implicits._
    // 1—2 (w 10), 1—3 (w 1), 3—2 (w 2): shortest 1→2 is 3 via node 3
    val e = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 2L)).toDF("s", "t", "w")
    val seeds = Seq(1L).toDF("id")
    val got = GraphOps.ssspUnits(e, "s", "t", "w", seeds, "id", maxRounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 3L, 3L -> 1L))
    // one round = min over ≤1-edge paths: the direct w=10 edge wins
    val r1 = GraphOps.ssspUnits(e, "s", "t", "w", seeds, "id", maxRounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 0L, 2L -> 10L, 3L -> 1L))
    // unit weights on a random graph must equal BFS hop distances
    val rnd = new scala.util.Random(11)
    val re = (1 to 200).map(_ =>
      (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong, 1L))
      .filter(p => p._1 != p._2)
    val rdf = re.toDF("s", "t", "w")
    val sd = Seq(0L, 1L).toDF("id")
    val dj = GraphOps.ssspUnits(rdf, "s", "t", "w", sd, "id", maxRounds = 12)
      .as[(Long, Long)].collect().toMap
    val bf = GraphOps.bfsHops(rdf.select("s", "t"), "s", "t", sd, "id",
        maxHops = 12)
      .as[(Long, Int)].collect().toMap
    assert(dj == bf.map { case (k, v) => k -> v.toLong })
  }

  test("ssspUnits: parallel edges take the min weight; negative weight errors") {
    import spark.implicits._
    val e = Seq((1L, 2L, 9L), (1L, 2L, 4L)).toDF("s", "t", "w")
    val got = GraphOps.ssspUnits(e, "s", "t", "w", Seq(1L).toDF("id"), "id",
        maxRounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 4L))
    val neg = Seq((1L, 2L, -1L)).toDF("s", "t", "w")
    val ex = intercept[Exception] {
      GraphOps.ssspUnits(neg, "s", "t", "w", Seq(1L).toDF("id"), "id",
        maxRounds = 2).collect()
    }
    assert(ex.getMessage.contains("negative edge weight") ||
      Option(ex.getCause).exists(_.getMessage.contains("negative edge weight")))
  }

  test("triangleCounts: known small graph, orientation-independent") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, every node in 3) plus pendant 4-5
    // (in no triangle) — edges given in mixed orientation with a dup.
    val edges = Seq(
      (1L, 2L), (3L, 1L), (1L, 4L), (2L, 3L), (4L, 2L), (3L, 4L),
      (5L, 4L), (2L, 1L)).toDF("a", "b")
    val got = GraphOps.triangleCounts(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts agrees with a brute-force oracle on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val n = 40
    val edges = (1 to 300).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val canon = edges.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val es = canon.toSet
    val oracle = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    val ids = canon.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    for {
      i <- ids; j <- ids if j > i; k <- ids if k > j
      if es((i, j)) && es((j, k)) && es((i, k))
    } Seq(i, j, k).foreach(x => oracle(x) += 1)
    val got = GraphOps.triangleCounts(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == oracle.toMap)
  }

  test("kCoreNodes: cascade peel, pendant removal, empty core") {
    import spark.implicits._
    // K4 {1,2,3,4} + pendant chain 4-5-6: the 3-core is exactly K4, and
    // removing 6 (deg 1) must cascade into removing 5 (deg 2 → 1).
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("a", "b")
    val got = GraphOps.kCoreNodes(edges, "a", "b", k = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k above the max clique degree → empty core, no error
    assert(GraphOps.kCoreNodes(edges, "a", "b", k = 4).isEmpty)
  }

  /** Scalar k-truss oracle: iterative support peel over an edge set. */
  private def trussOracle(
      edges: Seq[(Long, Long)], k: Int): Map[(Long, Long), Long] = {
    var e = edges.map(t => (math.min(t._1, t._2), math.max(t._1, t._2)))
      .filter(t => t._1 != t._2).toSet
    def sup(es: Set[(Long, Long)]): Map[(Long, Long), Long] = {
      val s = scala.collection.mutable.Map[(Long, Long), Long]()
        .withDefaultValue(0L)
      val nodes = es.flatMap(t => Seq(t._1, t._2)).toSeq.distinct.sorted
      for {
        (a, b) <- es; c <- nodes
        if c > b && es((b, c)) && es((a, c))
      } { s((a, b)) += 1; s((b, c)) += 1; s((a, c)) += 1 }
      s.toMap
    }
    var changed = true
    while (changed) {
      val s = sup(e)
      val keep = e.filter(t => s.getOrElse(t, 0L) >= k - 2)
      changed = keep != e
      e = keep
    }
    sup(e)
  }

  test("kTrussEdges: K4 survives at k=4, an attached triangle peels") {
    import spark.implicits._
    // K4 on {1,2,3,4} (every edge in 2 triangles) plus triangle {4,5,6}
    // attached at node 4 — its edges close only 1 triangle each
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("a", "b")
    val got4 = GraphOps.kTrussEdges(edges, "a", "b", k = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(got4 == Set((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L)))
    // k=3 keeps every edge that closes a triangle — both cliques
    val got3 = GraphOps.kTrussEdges(edges, "a", "b", k = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got3.map(t => (t._1, t._2)) ==
      edges.as[(Long, Long)].collect().toSet)
    // k above any support: empty, no error
    assert(GraphOps.kTrussEdges(edges, "a", "b", k = 5).isEmpty)
  }

  test("kTrussEdges agrees with a scalar peeling oracle on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 2) {
      val n = 24
      val edges = (1 to 140)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val got = GraphOps.kTrussEdges(edges.toDF("a", "b"), "a", "b", k = 4)
        .as[(Long, Long, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      assert(got == trussOracle(edges, 4), s"trial $trial")
    }
  }

  test("kTrussEdges converges on a deep peel cascade in depth+1 rounds") {
    import spark.implicits._
    // a fixed 18-node graph whose k=4 support-peel CASCADES one thin
    // layer at a time (searched for a deep chain; single-peel depth 8,
    // re-measured below rather than trusted). Guards the round
    // accounting: exactly one peel per action, one confirm round — and
    // pins the deliberate no-double-peel choice (see kTrussEdges doc:
    // measured A/B showed batching doubles the dominant wedge join).
    val edges = Seq(
      (0L, 4L), (0L, 7L), (0L, 9L), (0L, 13L), (0L, 16L), (0L, 17L),
      (1L, 5L), (1L, 6L), (1L, 7L), (1L, 8L), (1L, 9L), (2L, 4L),
      (2L, 5L), (2L, 9L), (2L, 10L), (2L, 11L), (2L, 12L), (2L, 15L),
      (2L, 16L), (2L, 17L), (3L, 4L), (3L, 6L), (3L, 13L), (3L, 15L),
      (3L, 17L), (4L, 7L), (4L, 13L), (4L, 14L), (4L, 15L), (4L, 16L),
      (5L, 6L), (5L, 7L), (5L, 8L), (5L, 16L), (5L, 17L), (6L, 8L),
      (6L, 15L), (6L, 16L), (7L, 8L), (7L, 9L), (7L, 13L), (7L, 14L),
      (7L, 17L), (8L, 9L), (8L, 12L), (8L, 13L), (10L, 13L), (10L, 14L),
      (10L, 17L), (11L, 12L), (11L, 15L), (11L, 16L), (12L, 17L),
      (14L, 17L), (15L, 17L), (16L, 17L))
    var e = edges.toSet
    var depth = 0
    var changed = true
    while (changed) {
      val s = {
        val m = scala.collection.mutable.Map[(Long, Long), Long]()
          .withDefaultValue(0L)
        val nodes = e.flatMap(t => Seq(t._1, t._2)).toSeq.distinct.sorted
        for { (a, b) <- e; c <- nodes if c > b && e((b, c)) && e((a, c)) }
          { m((a, b)) += 1; m((b, c)) += 1; m((a, c)) += 1 }
        m
      }
      val keep = e.filter(t => s(t) >= 2)
      changed = keep != e
      if (changed) depth += 1
      e = keep
    }
    assert(depth >= 5, s"cascade fixture broke: depth $depth")
    val got = GraphOps.kTrussEdges(edges.toDF("a", "b"), "a", "b", k = 4)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2)).toSet
    assert(got == e, s"truss mismatch: missing ${e -- got}, extra ${got -- e}")
    val rounds = GraphOps.kTrussLastRounds.get()
    assert(rounds == depth + 1,
      s"round accounting broke: $rounds rounds for single-peel depth $depth")
  }

  test("kCoreNodes batches two peels per scheduled round") {
    import spark.implicits._
    // path of 13 nodes, k=2: each peel strips the two endpoints, so the
    // 2-core (empty) needs 6 single peels; double-peel batching must
    // finish in ceil(6/2) + 1 verification round = 4 scheduled rounds
    val path = (1L to 12L).map(i => (i, i + 1)).toDF("a", "b")
    assert(GraphOps.kCoreNodes(path, "a", "b", k = 2).isEmpty)
    val rounds = GraphOps.kCoreLastRounds.get()
    assert(rounds <= 4, s"double-peel batching regressed: $rounds rounds")
    assert(rounds >= 3, s"suspicious round count $rounds for a 6-peel chain")
  }

  test("kCoreNodes agrees with a scalar peeling oracle on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val n = 30
    val edges = (1 to 120)
      .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    for (k <- Seq(2, 4, 6)) {
      var es = edges.toSet
      var changed = true
      while (changed) {
        val deg = es.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).map { case (x, xs) => x -> xs.size }
        val keep = deg.filter(_._2 >= k).keySet
        val next = es.filter(e => keep(e._1) && keep(e._2))
        changed = next != es
        es = next
      }
      val oracle = es.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (x, xs) => x -> xs.size.toLong }
      val got = GraphOps.kCoreNodes(edges.toDF("a", "b"), "a", "b", k)
        .as[(Long, Long)].collect().toMap
      assert(got == oracle, s"k=$k")
    }
  }

  test("electBestRepresentatives: max score wins, ties to lower id, singletons survive") {
    import spark.implicits._
    // cluster {1,2,3} labeled to 1; {4,5} labeled to 4; 6 unlabeled
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("id", "component")
    val docs = Seq(
      (1L, 5L), (2L, 9L), (3L, 1L), // 2 outscores the min-id rep
      (4L, 7L), (5L, 7L), //           tie → lower id 4
      (6L, 0L) //                      singleton keeps itself
    ).toDF("doc_id", "score")
    val kept = GraphOps
      .electBestRepresentatives(docs, "doc_id", "score", labels)
      .select("doc_id", "component").as[(Long, Long)].collect().toSet
    assert(kept == Set((2L, 1L), (4L, 4L), (6L, 6L)))
  }

  test("electBestRepresentatives: string ids elect correctly (no numeric tie trick)") {
    import spark.implicits._
    val labels = Seq(("u1", "u1"), ("u2", "u1")).toDF("id", "component")
    val docs = Seq(("u1", 3L), ("u2", 9L), ("u3", 0L)).toDF("doc_id", "score")
    val kept = GraphOps
      .electBestRepresentatives(docs, "doc_id", "score", labels)
      .select("doc_id").as[String].collect().toSet
    assert(kept == Set("u2", "u3"))
  }

  test("clusterAwareSplit: no near-dup pair straddles a split; singletons covered") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 3L))
      .toDF("id", "component")
    val docs = (1L to 50L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val got = graft.ops.CorpusOps
      .clusterAwareSplit(docs, "doc_id", labels,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "t")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(got.size == 50, "every doc assigned")
    // cluster members share the split
    assert(got(1L) == got(2L))
    assert(got(3L) == got(4L) && got(4L) == got(5L))
    // singleton assignment = assignSplit keyed on the doc's own id
    val solo = graft.ops.CorpusOps
      .assignSplit(docs.filter($"doc_id" > 5), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "t")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    for ((k, v) <- solo) assert(got(k) == v, s"singleton $k")
  }

  test("sharedComponents memoizes per pair-frame identity") {
    import spark.implicits._
    GraphOps.clearComponentCache()
    val pairs = Seq((2L, 1L), (3L, 2L)).toDF("a", "b")
    val first = GraphOps.sharedComponents(pairs, "a", "b")
    val second = GraphOps.sharedComponents(pairs, "a", "b")
    assert(first eq second) // same cached instance → CC loop ran once
    GraphOps.clearComponentCache()
  }

  test("modularity: two triangles bridged by one edge, hand-checked Q") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("a", "b")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L)).toDF("id", "component")
    val r = GraphOps.modularity(pairs, labels).collect().head
    assert(r.getAs[Long]("m") == 7L &&
      r.getAs[Long]("n_communities") == 2L)
    // per community: m_c = 3 INTRA edges (the bridge counts in
    // neither), d_c = 2+2+3 = 7; term = 3/7 - (7/14)^2, twice
    val t = 3.0 / 7.0 - (7.0 / 14.0) * (7.0 / 14.0)
    assert(r.getAs[Double]("q") == (0.0 + t) + t)
  }

  test("modularity: all-cross community still owes its degree term") {
    import spark.implicits._
    // single edge between two singleton communities: m_c = 0 for both
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val labels = Seq((1L, 1L), (2L, 2L)).toDF("id", "component")
    val r = GraphOps.modularity(pairs, labels).collect().head
    // each: 0/1 - (1/2)^2 = -0.25 → Q = -0.5
    assert(r.getAs[Double]("q") == -0.5)
  }

  test("hitsUnits: hand-traced round, mean-unit integer L1 normalization") {
    import spark.implicits._
    // 1→3, 2→3, 3→4 @ unit=100, n=4, one round:
    // au: 3←200, 4←100; D = max(1, 300 div 4) = 75
    //   → a = (0, 0, 20000 div 75, 10000 div 75) = (0, 0, 266, 133)
    // hu: 1←266, 2←266, 3←133; D = max(1, 665 div 4) = 166
    //   → h = (26600 div 166, 26600 div 166, 13300 div 166, 0)
    //       = (160, 160, 80, 0)
    val e = Seq((1L, 3L), (2L, 3L), (3L, 4L), (1L, 3L)) // dup collapses
      .toDF("s", "t")
    val got = GraphOps.hitsUnits(e, "s", "t", iters = 1, unit = 100L)
      .orderBy("id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 160L, 0L), (2L, 160L, 0L),
      (3L, 80L, 266L), (4L, 0L, 133L)))
  }

  test("hitsUnits: scores survive node counts far above unit (no underflow collapse)") {
    import spark.implicits._
    // 3000 nodes at unit=100 — the total-mass convention would give
    // every node 100/3000 → 0 and divide by zero in round 2; the
    // mean-unit convention keeps the average score at `unit`
    val e = (0L until 1500L).flatMap(i =>
      Seq((i * 2, i * 2 + 1), (i * 2 + 1, i * 2))).toDF("s", "t")
    val got = GraphOps.hitsUnits(e, "s", "t", iters = 2, unit = 100L)
    import org.apache.spark.sql.functions.{max, sum}
    val row = got.agg(sum("hub_units"), max("hub_units")).head()
    assert(row.getLong(0) > 0L, "all-zero collapse")
    assert(row.getLong(1) == 100L) // symmetric 2-cycles: every score = mean
  }

  test("labelPropagationCommunities: synchronous hand trace, 2 rounds") {
    import spark.implicits._
    // two triangles bridged 3-4; init labels = ids
    // round 1: 1→2(tie min), 2→1, 3→1, 4→3, 5→4, 6→4
    // round 2: 1→1, 2→1(tie), 3→1(3-way tie), 4→4, 5→3(tie), 6→3(tie)
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("a", "b")
    val got = GraphOps.labelPropagationCommunities(e, "a", "b", rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 3L, 6L -> 3L))
    // reversed/duplicated edge rows change nothing (undirected dedup)
    val e2 = Seq((2L, 1L), (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L)).toDF("a", "b")
    val got2 = GraphOps.labelPropagationCommunities(e2, "a", "b", rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got2 == got)
    // STRING node ids (the near-dup doc-id case): the tie order must be
    // lexicographic, never a silent numeric cast to null
    val es = Seq(("d1", "d2"), ("d2", "d3"), ("d1", "d3"), ("d3", "d4"),
      ("d4", "d5"), ("d5", "d6"), ("d4", "d6")).toDF("a", "b")
    val gs = GraphOps.labelPropagationCommunities(es, "a", "b", rounds = 2)
      .as[(String, String)].collect().toMap
    assert(gs == Map("d1" -> "d1", "d2" -> "d1", "d3" -> "d1",
      "d4" -> "d4", "d5" -> "d3", "d6" -> "d3"))
  }

  test("bfsHops: frontier BFS equals hand distances; bound excludes the tail") {
    import spark.implicits._
    // path 1-2-3-4-5-6 plus branch 2-10; seeds {1, 10}
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (2L, 10L)).toDF("s", "t")
    val seeds = Seq(1L, 10L, 99L).toDF("id") // 99 is an isolated seed
    val got = GraphOps.bfsHops(e, "s", "t", seeds, "id", maxHops = 3)
      .as[(Long, Int)].collect().toMap
    // 99 reports hop 0; node 6 is 5 hops from seed 1 → absent at bound 3
    assert(got == Map(1L -> 0, 10L -> 0, 99L -> 0,
      2L -> 1, 3L -> 2, 4L -> 3))
    // undirected: seeding the far end walks the path backwards
    val rev = GraphOps.bfsHops(e, "s", "t", Seq(6L).toDF("id"), "id",
        maxHops = 5)
      .as[(Long, Int)].collect().toMap
    assert(rev == Map(6L -> 0, 5L -> 1, 4L -> 2, 3L -> 3, 2L -> 4,
      1L -> 5, 10L -> 5))
    // maxHops 0 returns exactly the (deduped) seed set
    val z = GraphOps.bfsHops(e, "s", "t", Seq(1L, 1L).toDF("id"), "id",
        maxHops = 0)
      .as[(Long, Int)].collect().toMap
    assert(z == Map(1L -> 0))
  }

  /** Independent reference: textbook coreness by iterative min-degree
    * peeling over an adjacency map. */
  private def peelCoreness(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map[Long, scala.collection.mutable.Set[Long]]()
    edges.foreach { case (a, b) =>
      if (a != b) {
        adj.getOrElseUpdate(a, scala.collection.mutable.Set()) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set()) += a
      }
    }
    val core = scala.collection.mutable.Map[Long, Long]()
    var k = 0L
    while (adj.nonEmpty) {
      val minDeg = adj.values.map(_.size).min
      k = math.max(k, minDeg.toLong)
      val peel = adj.filter(_._2.size <= k).keys.toSeq
      peel.foreach { v =>
        core(v) = k
        adj.remove(v).foreach(_.foreach(u => adj.get(u).foreach(_ -= v)))
      }
    }
    core.toMap
  }

  test("corenessDecomposition: hand case + peel-reference on a random graph") {
    import spark.implicits._
    // triangle 1-2-3 with tail 3-4: coreness (2, 2, 2, 1)
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val got = GraphOps.corenessDecomposition(e, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
    // random graph vs the independent peel reference
    val rnd = new scala.util.Random(31)
    val re = (1 to 300).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2)
    val g2 = GraphOps.corenessDecomposition(re.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(g2 == peelCoreness(re), "h-index fixpoint must equal peel coreness")
    // fixpoint consistency with the single-k gate: nodes of the k-core
    // are exactly those with coreness >= k
    val k3 = GraphOps.kCoreNodes(re.toDF("a", "b"), "a", "b", k = 3)
      .select("id").as[Long].collect().toSet
    assert(k3 == g2.filter(_._2 >= 3L).keySet)
  }

  test("corenessDecomposition: histogram path equals list path everywhere") {
    import spark.implicits._
    // hubDegreeThreshold = 1 forces EVERY node through the histogram
    // fold; the result must be identical to the peel reference
    val rnd = new scala.util.Random(47)
    val re = (1 to 300).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2)
    val got = GraphOps.corenessDecomposition(re.toDF("a", "b"), "a", "b",
        hubDegreeThreshold = 1)
      .as[(Long, Long)].collect().toMap
    assert(got == peelCoreness(re),
      "histogram h-index fold must equal peel coreness")
  }

  test("corenessDecomposition: 100k-degree hub converges with bounded row state") {
    import spark.implicits._
    // power-law worst case: one hub with 100k leaf neighbors, plus a
    // K4 clique among four of the leaves. The hub's histogram row is
    // O(#distinct neighbor values) — a handful of structs — where the
    // list fold would hold 100k values in one row.
    val leaves = (1L to 100000L).map(i => (0L, i))
    val clique = Seq((1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L))
    val e = spark.createDataset(leaves ++ clique).toDF("a", "b")
    val got = GraphOps.corenessDecomposition(e, "a", "b",
        hubDegreeThreshold = 64)
      .as[(Long, Long)].collect().toMap
    // {0,1,2,3,4} is a K5 (the hub touches all four clique members),
    // so all five have coreness 4; every other leaf peels at 1.
    assert(got(0L) == 4L)
    (1L to 4L).foreach(i => assert(got(i) == 4L, s"node $i"))
    assert(got(5L) == 1L && got(100000L) == 1L)
    assert(got.size == 100001L)
  }

  test("clusteringCoefficients: triangle-plus-tail hand case") {
    import spark.implicits._
    // triangle 1-2-3 with a tail 3-4: cc(1)=cc(2)=1, cc(3)=2*1/(3*2)=1/3,
    // cc(4)=0 (degree 1 — defined as 0, not 0/0)
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val got = GraphOps.clusteringCoefficients(e, "a", "b")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 1.0), (2L, 2L, 1L, 1.0),
      (3L, 3L, 1L, 1.0 / 3.0), (4L, 1L, 0L, 0.0)))
  }

  test("degreeAssortativity: star is -1, regular graph is null") {
    import spark.implicits._
    // star 1-{2,3,4}: every stub pairs deg 3 with deg 1 -> r = -1
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val g = GraphOps.degreeAssortativity(star, "a", "b")
      .as[(Long, Option[Double])].collect().head
    assert(g._1 == 6L && math.abs(g._2.get - (-1.0)) < 1e-15)
    // triangle: degree-regular -> zero variance -> null, no 0/0
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val g2 = GraphOps.degreeAssortativity(tri, "a", "b")
      .as[(Long, Option[Double])].collect().head
    assert(g2 == ((6L, None)))
    // hand mixed case: path 1-2-3 -> stubs (1,2),(2,1),(2,1),(1,2):
    // x = 1,2,2,1; y = 2,1,1,2 -> r = -1 again (pure chain ends)
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val g3 = GraphOps.degreeAssortativity(path, "a", "b")
      .as[(Long, Option[Double])].collect().head
    assert(g3._1 == 4L && math.abs(g3._2.get - (-1.0)) < 1e-15)
  }

  test("pprUnits: seeded teleport by hand; off-graph seed holds its mass") {
    import spark.implicits._
    // chain 1 -> 2 -> 3, seed {1}: r0 = (M, 0, 0);
    // round 1: (150k, 850k, 0); round 2: (150k, 127500, 722500)
    val e = Seq((1L, 2L), (2L, 3L)).toDF("s", "t")
    val got = GraphOps.pprUnits(e, "s", "t", Seq(1L).toDF("id"), "id",
        iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 150000L, 2L -> 127500L, 3L -> 722500L))
    // a seed absent from the edge list still appears, holding only its
    // teleport mass; unreachable non-seeds decay toward 0
    val g2 = GraphOps.pprUnits(e, "s", "t", Seq(9L).toDF("id"), "id",
        iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(g2 == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 9L -> 150000L))
  }

  test("adamicAdar: hand wedge sums; adjacent pairs and capped hubs excluded") {
    import spark.implicits._
    // square 1-2, 1-3, 2-4, 3-4 plus diagonal 2-3: degrees 2,3,3,2
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (2L, 3L))
      .toDF("a", "b")
    val got = GraphOps.adamicAdar(e, "a", "b", minCommon = 1L)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => ((r._1, r._2), (r._3, r._4))).toMap
    val ln2 = graft.expr.PortableLnRatio.compute(2L, 1L)
    val ln3 = graft.expr.PortableLnRatio.compute(3L, 1L)
    // only non-adjacent pair: (1,4) via apexes 2 and 3 (both degree 3);
    // (2,3) shares {1,4} but is an EDGE — excluded
    assert(got == Map((1L, 4L) -> (2L, 1.0 / ln3 + 1.0 / ln3)))
    // apex cap 2 removes the degree-3 apexes -> no surviving pair
    val capped = GraphOps.adamicAdar(e, "a", "b", maxApexDegree = 2L,
      minCommon = 1L)
    assert(capped.count() == 0L)
    // minCommon 3 filters the 2-neighbor pair
    assert(GraphOps.adamicAdar(e, "a", "b", minCommon = 3L).count() == 0L)
  }

  test("katzUnits: hand-traced rounds; parallel edges collapse") {
    import spark.implicits._
    // chain 1 -> 2 -> 3, α = 1/100, unit = 1M, c0 = (1M, 1M, 1M):
    // round 1: c = (1M, 1M + 1M//100, 1M + 1M//100)
    // round 2: c(3) = 1M + 1,010,000 // 100 = 1,010,100
    val e = Seq((1L, 2L), (2L, 3L)).toDF("s", "t")
    val got = GraphOps.katzUnits(e, "s", "t", iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1000000L, 2L -> 1010000L, 3L -> 1010100L))
    // a duplicated edge row is ONE edge (distinct), not double influence
    val dup = Seq((1L, 2L), (1L, 2L), (2L, 3L)).toDF("s", "t")
    val g2 = GraphOps.katzUnits(dup, "s", "t", iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(g2 == got)
  }

  test("landmarkHarmonicUnits: path hand case; hop bound and self term") {
    import spark.implicits._
    // undirected path 1-2-3-4-5, landmarks {1, 5}, 3 hops, unit = 1M:
    // node 2: d(1)=1, d(5)=3 -> 1,000,000 + 333,333; node 3: 2 and 2;
    // nodes 1 and 5 see only each other at d=4 > 3 -> absent (their
    // hop-0 self terms are excluded by design)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val got = GraphOps.landmarkHarmonicUnits(e, "a", "b",
        Seq(1L, 5L).toDF("id"), "id", maxHops = 3)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      2L -> ((2L, 1333333L)),
      3L -> ((2L, 1000000L)),
      4L -> ((2L, 1333333L))))
    // an isolated landmark contributes no wave and reports no row
    val g2 = GraphOps.landmarkHarmonicUnits(e, "a", "b",
        Seq(1L, 9L).toDF("id"), "id", maxHops = 2)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(g2 == Map(2L -> ((1L, 1000000L)), 3L -> ((1L, 500000L))))
  }

  test("landmarkHarmonicFromCounts == landmarkHarmonicUnits on random graphs") {
    import spark.implicits._
    // the sharing form (one keyed agg over landmarkPathCounts' waves)
    // must be bit-identical to the fused BFS — both layer with the same
    // two-wave anti-join, so each (lm, id) pair appears once at min
    // dist, and `unit div dist` == the per-hop `lit(unit / h)` fold
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val n = 15
      val edges = (for {
        u <- 1 to n; v <- (u + 1) to n if rnd.nextInt(100) < 20
      } yield (u.toLong, v.toLong)).distinct.toDF("a", "b")
      val lms = Seq(1L, 4L, 11L).toDF("id")
      val maxHops = 3
      val fused = GraphOps.landmarkHarmonicUnits(
          edges, "a", "b", lms, "id", maxHops)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      val shared = GraphOps.landmarkHarmonicFromCounts(
          GraphOps.landmarkPathCounts(edges, "a", "b", lms, "id", maxHops))
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(shared == fused, s"trial $trial diverged: $shared vs $fused")
    }
  }

  test("stronglyConnectedComponents: hand case — two 3-cycles, a bridge, a tail") {
    import spark.implicits._
    // SCCs: {1,2,3}, {4,5,6} (one-way bridge 3->4 does not merge them),
    // {7} (tail), plus a self-loop on 2 that must change nothing
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L), (6L, 7L), (2L, 2L)).toDF("s", "t")
    val got = GraphOps.stronglyConnectedComponents(e, "s", "t")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L))
  }

  test("stronglyConnectedComponents: diameter-1000 cycle converges under default bounds") {
    import spark.implicits._
    // one directed cycle of 1200 nodes (SCC diameter 1199) with ids
    // PERMUTED so the min label must actually travel, plus short pendant
    // tails. Plain one-hop propagation needs ~1200 rounds — far past the
    // default maxRoundsPerFix=64; label shortcutting must converge in
    // O(log) rounds. Seeded permutation keeps the spec deterministic.
    val n = 1200
    val perm = new scala.util.Random(13).shuffle((1L to n.toLong).toVector)
    val cycle = (0 until n).map(i => (perm(i), perm((i + 1) % n)))
    val tails = (1 to 5).map(k => (perm(k * 7), n.toLong + k))
    val got = GraphOps.stronglyConnectedComponents(
        (cycle ++ tails).toDF("s", "t"), "s", "t")
      .as[(Long, Long)].collect().toMap
    assert(got.size == n + 5)
    assert((1L to n.toLong).forall(got(_) == 1L),
      "every cycle node must label to the cycle min")
    assert((1 to 5).forall(k => got(n.toLong + k) == n.toLong + k),
      "tail nodes are singleton SCCs")
  }

  test("stronglyConnectedComponents: giant 120k-node SCC engages the skew-regime shortcut leg") {
    import spark.implicits._
    // ONE strongly connected component of 120,000 nodes: a random
    // strongly-connected expander — a permuted directed cycle (strong
    // connectivity by construction) plus a full second random
    // permutation layer (out-degree 2 everywhere, diameter O(log n)).
    // The fixpoints run well past the round-6 escalation, so the derived
    // shortcut edges lab(v)→v engage, and near convergence they all
    // emanate from the component min — a single ~120k-fan-out star,
    // exactly the skew regime the scaladoc flags for giant-SCC graphs —
    // while the shared test session runs AQE (and its skew-join
    // handling) at Spark defaults. Convergence must land inside the
    // DEFAULT maxRoundsPerFix=64: measured, the min-label fixpoint
    // converges in 21 rounds at this size (~log2(n) + settle). (A SPARSE deep
    // fixture — chords only every 100 positions — measured >200 rounds
    // at this n: the shortcut leg's interval-spawning does not rescue
    // near-pure 10^5-diameter cycles; that boundary is documented on
    // the operator and guarded by the fail-fast require.)
    val n = 120000
    val rnd = new scala.util.Random(7)
    val perm = rnd.shuffle((1L to n.toLong).toVector)
    val cycle = (0 until n).map(i => (perm(i), perm((i + 1) % n)))
    val perm2 = rnd.shuffle((1L to n.toLong).toVector)
    val chords = (0 until n).map(i => (perm(i), perm2(i)))
    val edges = (cycle ++ chords).filter(e => e._1 != e._2)
    import org.apache.spark.sql.functions.{count, lit}
    val got = GraphOps.stronglyConnectedComponents(
        edges.toDF("s", "t"), "s", "t")
      .groupBy("scc").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> n.toLong),
      s"expected one SCC of $n nodes labeled by the min id, got $got")
  }

  test("stronglyConnectedComponents: random digraphs match a closure oracle") {
    import spark.implicits._
    // brute-force oracle: boolean transitive closure (Floyd–Warshall),
    // scc(v) = min{u : v <->* u} — obviously correct at n = 60
    def oracle(n: Int, edges: Seq[(Int, Int)]): Map[Long, Long] = {
      val r = Array.fill(n, n)(false)
      for ((a, b) <- edges) r(a)(b) = true
      for (k <- 0 until n; i <- 0 until n if r(i)(k);
           j <- 0 until n if r(k)(j)) r(i)(j) = true
      val present = edges.flatMap(e => Seq(e._1, e._2)).toSet
      present.map { v =>
        val mates = (0 until n).filter(u => u == v || (r(v)(u) && r(u)(v)))
        v.toLong -> mates.min.toLong
      }.toMap
    }
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 3) {
      val n = 60
      // enough density for multi-node SCCs plus DAG fringe
      val edges = Seq.fill(130)((rnd.nextInt(n), rnd.nextInt(n)))
        .filter(e => e._1 != e._2).distinct
      val got = GraphOps.stronglyConnectedComponents(
          edges.map(e => (e._1.toLong, e._2.toLong)).toDF("s", "t"), "s", "t")
        .as[(Long, Long)].collect().toMap
      assert(got == oracle(n, edges), s"trial $trial diverged")
    }
  }

  test("condensationLayers: SCC chain layering and diamond longest path") {
    import spark.implicits._
    // 3-cycle {1,2,3} -> 3-cycle {4,5,6} -> tail 7: layers 0, 1, 2
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L), (6L, 7L)).toDF("s", "t")
    val got = GraphOps.condensationLayers(e, "s", "t")
      .as[(Long, Long, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> ((1L, 0)), 2L -> ((1L, 0)), 3L -> ((1L, 0)),
      4L -> ((4L, 1)), 5L -> ((4L, 1)), 6L -> ((4L, 1)),
      7L -> ((7L, 2))))
    // diamond with a long arm: 1->2->3->4 and 1->4 — layer(4) is the
    // LONGEST path (3), not the shortest (1)
    val d = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("s", "t")
    val g2 = GraphOps.condensationLayers(d, "s", "t")
      .as[(Long, Long, Int)].collect().map(r => r._1 -> r._3).toMap
    assert(g2 == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
    // precomputed labels short-circuit the SCC pass and agree
    val lbl = GraphOps.stronglyConnectedComponents(e, "s", "t")
    val g3 = GraphOps.condensationLayers(e, "s", "t", labels = Some(lbl))
      .as[(Long, Long, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(g3 == got)
  }

  test("condensationLayers: random digraphs match a closure-based layering oracle") {
    import spark.implicits._
    def oracle(n: Int, edges: Seq[(Int, Int)]): Map[Long, (Long, Int)] = {
      val r = Array.fill(n, n)(false)
      for ((a, b) <- edges) r(a)(b) = true
      for (k <- 0 until n; i <- 0 until n if r(i)(k);
           j <- 0 until n if r(k)(j)) r(i)(j) = true
      val present = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val scc = present.map(v => v ->
        present.filter(u => u == v || (r(v)(u) && r(u)(v))).min).toMap
      val cedges = edges.map(e => (scc(e._1), scc(e._2)))
        .filter(e => e._1 != e._2).distinct
      val comps = present.map(scc).distinct
      val layer = scala.collection.mutable.Map.empty[Int, Int]
      var (active, l) = (comps.toSet, 0)
      while (active.nonEmpty) {
        val srcs = active.filter(c =>
          !cedges.exists(e => active(e._1) && e._2 == c))
        srcs.foreach(layer(_) = l)
        active --= srcs; l += 1
      }
      present.map(v => v.toLong -> ((scc(v).toLong, layer(scc(v))))).toMap
    }
    val rnd = new scala.util.Random(1717)
    for (trial <- 1 to 2) {
      val n = 50
      val edges = Seq.fill(110)((rnd.nextInt(n), rnd.nextInt(n)))
        .filter(e => e._1 != e._2).distinct
      val got = GraphOps.condensationLayers(
          edges.map(e => (e._1.toLong, e._2.toLong)).toDF("s", "t"), "s", "t")
        .as[(Long, Long, Int)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == oracle(n, edges), s"trial $trial diverged")
    }
  }

  test("stronglyConnectedComponents: pure DAG is all singletons via trim") {
    import spark.implicits._
    val e = (1L until 12L).map(i => (i, i + 1)).toDF("s", "t")
    val got = GraphOps.stronglyConnectedComponents(e, "s", "t")
      .as[(Long, Long)].collect().toMap
    assert(got == (1L to 12L).map(i => i -> i).toMap)
  }

  test("landmarkHarmonicUnits: deep-hop run keeps O(1) pinned frames, not one per wave") {
    import spark.implicits._
    // path 1-2-...-12, landmark {1}: node k scores unit div (k-1)
    val e = (1L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    val out = GraphOps.landmarkHarmonicUnits(e, "a", "b",
      Seq(1L).toDF("id"), "id", maxHops = 10)
    // the per-round score fold means the RETURNED plan references only
    // the final pinned aggregate — a wave-history buffer would leave
    // maxHops+1 materialized leaves reachable (and their blocks pinned)
    val leaves = out.queryExecution.analyzed.collectLeaves().size
    assert(leaves <= 2, s"expected O(1) plan leaves, got $leaves")
    val got = out.as[(Long, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got.size == 10) // nodes 2..11 reached within 10 hops
    assert(got(2L) == 1000000L && got(6L) == 200000L && got(11L) == 100000L)
  }

  test("landmarkPathCounts: diamond doubles sigma, tail inherits it") {
    import spark.implicits._
    // 1-2, 1-3, 2-4, 3-4, 4-5: two shortest paths 1→4, both extend to 5
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val got = GraphOps.landmarkPathCounts(e, "a", "b",
        Seq(1L).toDF("id"), "id", maxHops = 3)
      .as[(Long, Long, Int, Long)].collect()
      .map(r => r._2 -> ((r._3, r._4))).toMap
    assert(got == Map(
      1L -> ((0, 1L)), 2L -> ((1, 1L)), 3L -> ((1, 1L)),
      4L -> ((2, 2L)), 5L -> ((3, 2L))))
  }

  test("landmarkPathCounts == scalar BFS sigma model on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    var sawMultiPath = false
    for (trial <- 1 to 3) {
      val n = 14
      val edges = (for {
        u <- 1 to n; v <- (u + 1) to n if rnd.nextInt(100) < 22
      } yield (u.toLong, v.toLong)).distinct
      val lms = Seq(1L, 7L)
      val maxHops = 4
      // scalar model: level-synchronous BFS accumulating sigma
      val adj = (edges ++ edges.map(_.swap))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val oracle = lms.flatMap { lm =>
        var dist = Map(lm -> 0)
        var sigma = Map(lm -> 1L)
        var front = Set(lm)
        var h = 0
        while (h < maxHops && front.nonEmpty) {
          h += 1
          val pushes = front.toSeq
            .flatMap(u => adj.getOrElse(u, Set.empty[Long])
              .map(v => v -> sigma(u)))
            .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2).sum }
          val fresh = pushes.filter { case (v, _) => !dist.contains(v) }
          dist ++= fresh.keys.map(_ -> h)
          sigma ++= fresh
          front = fresh.keySet
        }
        dist.keys.map(v => (lm, v) -> ((dist(v), sigma(v))))
      }.toMap
      val got = GraphOps.landmarkPathCounts(edges.toDF("a", "b"), "a", "b",
          lms.toDF("id"), "id", maxHops)
        .as[(Long, Long, Int, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      assert(got == oracle, s"trial $trial diverged")
      sawMultiPath ||= oracle.values.exists(_._2 > 1L)
    }
    assert(sawMultiPath, "vacuous: no trial produced a multi-path node")
  }

  test("landmarkPathCounts: overflow guard trips instead of wrapping") {
    import spark.implicits._
    // complete bipartite K_{1,4} chained: sigma multiplies by 4 per 2 hops
    val left = Seq(1L, 2L, 3L, 4L)
    val e = (left.map(u => (0L, u)) ++ left.map(u => (u, 5L)) ++
      left.map(u => (5L, u + 10L)) ++ left.map(u => (u + 10L, 15L)))
      .toDF("a", "b")
    val ex = intercept[Exception] {
      GraphOps.landmarkPathCounts(e, "a", "b",
        Seq(0L).toDF("id"), "id", maxHops = 4, maxSigma = 3L)
        .count()
    }
    assert(ex.getMessage != null &&
      exceptionChain(ex).exists(_.contains("overflow-safe ceiling")),
      s"wrong failure: ${ex.getMessage}")
  }

  test("landmarkBetweennessUnits: path graph matches hand Brandes") {
    import spark.implicits._
    // 1-2-3-4-5, landmark {1}, 3 hops: δ(2) = 2 (paths to 3 and 4 pass
    // it), δ(3) = 1, δ(4) = 0 (depth bound), node 5 unreached
    val e = (1L until 5L).map(i => (i, i + 1)).toDF("a", "b")
    val got = GraphOps.landmarkBetweennessUnits(e, "a", "b",
        Seq(1L).toDF("id"), "id", maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(2L -> 2000000L, 3L -> 1000000L, 4L -> 0L))
  }

  test("landmarkBetweennessUnits: diamond splits dependency by sigma ratio") {
    import spark.implicits._
    // 1-2, 1-3, 2-4, 3-4: σ(4) = 2, so δ(2) = δ(3) = 1·(unit+0) div 2
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    val got = GraphOps.landmarkBetweennessUnits(e, "a", "b",
        Seq(1L).toDF("id"), "id", maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(2L -> 500000L, 3L -> 500000L, 4L -> 0L))
  }

  test("louvainMoveRound: hand gains on triangle+pendant; scalar model on random graphs") {
    import spark.implicits._
    // triangle 1-2-3 plus pendant 4-1, singleton seeds c = id.
    // m = 4; deg 1→3, 2→2, 3→2, 4→1.
    //  node 4: score(c1) = 2·4·1 − 1·3 = 5 > stay 0 → joins c1
    //  node 1: c4 scores 8 − 3·1 = 5, beats c2/c3 (8 − 3·2 = 2) → c4
    //  nodes 2, 3: each other's community scores 8 − 2·2 = 4 → swap
    //  (the documented synchronous-round behavior; callers iterate)
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("a", "b")
    val lab = Seq(1L, 2L, 3L, 4L).map(i => (i, i)).toDF("id", "c")
    val got = GraphOps.louvainMoveRound(e, "a", "b", lab, "id", "c")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      1L -> ((1L, 4L, 5L)), 2L -> ((2L, 3L, 4L)),
      3L -> ((3L, 2L, 4L)), 4L -> ((4L, 1L, 5L))))
    // random graphs vs a scalar replay of the integer argmax
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 12
      val edges = (for {
        u <- 1 to n; v <- (u + 1) to n if rnd.nextInt(100) < 30
      } yield (u.toLong, v.toLong)).distinct
      val seeds = (1 to n).map(i => (i.toLong, (i % 4).toLong))
      val adj = (edges ++ edges.map(_.swap))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val c0 = seeds.toMap
      val m = edges.size.toLong
      val oracle = adj.map { case (v, nbrs) =>
        val kv = nbrs.size.toLong
        val tot = (c: Long) =>
          adj.collect { case (x, nb) if c0(x) == c => nb.size.toLong }.sum
        val cands = (nbrs.map(c0).toSet + c0(v)).toSeq
        val scores = cands.map { c =>
          val kvc = nbrs.count(c0(_) == c).toLong
          val t = tot(c) - (if (c == c0(v)) kv else 0L)
          c -> (2L * m * kvc - kv * t)
        }
        val best = scores.maxBy { case (c, s) => (s, -c) }
        v -> ((c0(v), best._1, best._2))
      }
      val got2 = GraphOps.louvainMoveRound(edges.toDF("a", "b"), "a", "b",
          seeds.toDF("id", "c"), "id", "c")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got2 == oracle, s"trial $trial diverged")
    }
  }

  test("richClubCoefficients: clique core scores phi = 1, starved thresholds null") {
    import spark.implicits._
    // clique {1,2,3} + pendants 4,5 on node 1: deg 1→4, 2→2, 3→2, 4/5→1
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (1L, 5L)).toDF("a", "b")
    val got = GraphOps.richClubCoefficients(e, "a", "b", ks = Seq(1, 2, 3))
      .as[(Int, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      1 -> ((3L, 3L, Some(1.0))), // the clique: all 3 possible edges
      2 -> ((1L, 0L, None)),      // only the hub clears k=2
      3 -> ((1L, 0L, None))))
  }

  test("degreePowerlawHill: replays the ordered histogram fold") {
    import spark.implicits._
    import graft.expr.PortableLnRatio.compute
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (1L, 5L)).toDF("a", "b")
    val got = GraphOps.degreePowerlawHill(e, "a", "b", dMin = 1L)
      .as[(Long, Long, Option[Double])].collect().head
    // hist (deg asc): 1→2, 2→2, 4→1; fold order is degree-ascending
    val lsum = ((0.0 + 2.0 * compute(1, 1)) + 2.0 * compute(2, 1)) +
      1.0 * compute(4, 1)
    assert(got == ((1L, 5L, Some(1.0 + 5.0 / lsum))))
    // degenerate tail (every degree = dmin): zero log-mass → null alpha
    val path = Seq((1L, 2L), (3L, 4L)).toDF("a", "b") // all degrees 1
    val p = GraphOps.degreePowerlawHill(path, "a", "b", dMin = 1L)
      .as[(Long, Long, Option[Double])].collect().head
    assert(p == ((1L, 4L, None)))
  }

  test("louvainCommunitiesRounds: parity alternation merges where one round swaps") {
    import spark.implicits._
    // same triangle+pendant: the single synchronous round swaps 2↔3;
    // with parity alternation round 1 moves odd ids (1→c4, 3→c2) and
    // round 2 lets the evens re-evaluate — 2 now PREFERS staying with 3
    // (own-community score 4 vs 0 for c4), so {2,3} merge instead of
    // trading places, and {1,4} hold
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("a", "b")
    val lab = Seq(1L, 2L, 3L, 4L).map(i => (i, i)).toDF("id", "c")
    val got = GraphOps.louvainCommunitiesRounds(e, "a", "b", lab, "id", "c",
        rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 4L, 2L -> 2L, 3L -> 2L, 4L -> 4L))
  }

  test("louvain: the community-totals join carries no mandatory broadcast hint") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import spark.implicits._
    // identity seeding — the classic Louvain init — makes `tot`
    // NODE-sized, so a forced broadcast of it is a driver-killer at
    // scale; only the 1-row edge-count cross may stay hinted.
    val n = 200
    val e = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val lab = (1L to n).map(i => (i, i)).toDF("id", "c")
    val out = GraphOps.louvainMoveRound(e, "a", "b", lab, "id", "c")
    // the only allowed hint is the declared 1-row edge-count cross (its
    // sole output column is `m`); a hint on anything else — notably the
    // node-sized `tot` frame — is the scale-killer this pins against
    def hintedSides(j: Join): Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
      (if (j.hint.leftHint.nonEmpty) Seq(j.left) else Nil) ++
        (if (j.hint.rightHint.nonEmpty) Seq(j.right) else Nil)
    val offending = out.queryExecution.optimizedPlan.collect {
      case j: Join => hintedSides(j).filter(_.output.map(_.name) != Seq("m"))
    }.flatten
    assert(offending.isEmpty,
      s"community-totals join must be un-hinted (AQE decides):\n${offending.mkString}")
    // and the identity-seeded round still computes: a path's interior
    // nodes all find a positive-gain merge with a neighbor
    val rows = out.as[(Long, Long, Long, Long)].collect()
    assert(rows.length == n.toInt &&
      rows.count { case (_, cOld, cNew, _) => cNew != cOld } > n / 2)
  }

  test("katzUnits: overflow guards trip instead of wrapping") {
    import spark.implicits._
    // complete digraph on 5 nodes: d_max = 4, alpha = 1/2 → scores grow
    // ~2.3× per round. unit = 2^63/20: round 1 peaks at 3u (inside the
    // safe ceiling ≈ (2^63−u)/4), round 2 would hit 7u — the in-plan
    // raise_error must fire BEFORE any long wraps.
    val e = (for (u <- 1L to 5L; v <- 1L to 5L if u != v) yield (u, v))
      .toDF("s", "t")
    val u1 = Long.MaxValue / 20L
    val ex = intercept[Exception] {
      GraphOps.katzUnits(e, "s", "t", iters = 2,
        alphaNum = 1L, alphaDen = 2L, unit = u1).count()
    }
    assert(exceptionChain(ex).exists(_.contains("2^63-safe ceiling")),
      s"wrong failure: ${ex.getMessage}")
    // unit so large the ROUND-1 bound already clears the ceiling: the
    // driver-side require (fed by the observe-read d_max) fires
    val ex2 = intercept[Exception] {
      GraphOps.katzUnits(e, "s", "t", iters = 1,
        alphaNum = 1L, alphaDen = 2L, unit = Long.MaxValue / 10L).count()
    }
    assert(exceptionChain(ex2).exists(_.contains("round-1 score bound")),
      s"wrong failure: ${ex2.getMessage}")
  }

  test("richClubCoefficients: duplicate thresholds fail fast with a clear message") {
    import spark.implicits._
    val e = Seq((1L, 2L)).toDF("a", "b")
    val ex = intercept[IllegalArgumentException] {
      GraphOps.richClubCoefficients(e, "a", "b", ks = Seq(1, 2, 2))
    }
    assert(ex.getMessage.contains("duplicate thresholds"))
  }

  test("landmarkBrandesUnits: edge betweenness on path and diamond") {
    import spark.implicits._
    // path 1-2-3-4-5, lm {1}, 3 hops: (1,2) carries u+δ(2)=3u, (2,3)
    // carries u+δ(3)=2u, (3,4) carries u; (4,5) is beyond the bound
    val p = (1L until 5L).map(i => (i, i + 1)).toDF("a", "b")
    val ebP = GraphOps.landmarkBrandesUnits(p, "a", "b",
        Seq(1L).toDF("id"), "id", maxHops = 3)._2
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(ebP == Map((1L, 2L) -> 3000000L, (2L, 3L) -> 2000000L,
      (3L, 4L) -> 1000000L))
    // diamond 1-2,1-3,2-4,3-4: each arm's lower edge u div 2, each
    // upper edge u + u div 2
    val dd = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    val ebD = GraphOps.landmarkBrandesUnits(dd, "a", "b",
        Seq(1L).toDF("id"), "id", maxHops = 2)._2
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(ebD == Map((1L, 2L) -> 1500000L, (1L, 3L) -> 1500000L,
      (2L, 4L) -> 500000L, (3L, 4L) -> 500000L))
  }

  test("landmarkBetweennessUnits == scalar backward-sweep model on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val unit = 1000000L
    var sawSplit = false
    for (trial <- 1 to 3) {
      val n = 14
      val edges = (for {
        u <- 1 to n; v <- (u + 1) to n if rnd.nextInt(100) < 22
      } yield (u.toLong, v.toLong)).distinct
      val lms = Seq(1L, 7L)
      val maxHops = 4
      val adj = (edges ++ edges.map(_.swap))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      // scalar model: forward BFS sigma, then per-hop-descending delta
      // with the SAME long `div` per term (independent implementation,
      // identical integer semantics — the op's contract)
      val oracle = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      val edgeOracle =
        collection.mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
      val reached = collection.mutable.Set.empty[Long]
      for (lm <- lms) {
        var dist = Map(lm -> 0)
        var sigma = Map(lm -> 1L)
        var front = Set(lm)
        var h = 0
        while (h < maxHops && front.nonEmpty) {
          h += 1
          val pushes = front.toSeq
            .flatMap(u => adj.getOrElse(u, Set.empty[Long]).map(v => v -> sigma(u)))
            .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2).sum }
          val fresh = pushes.filter { case (v, _) => !dist.contains(v) }
          dist ++= fresh.keys.map(_ -> h); sigma ++= fresh
          front = fresh.keySet
        }
        val delta = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        for (hh <- (maxHops - 1) to 0 by -1;
             v <- dist.collect { case (x, d) if d == hh => x }) {
          val terms = adj.getOrElse(v, Set.empty[Long]).toSeq
            .filter(w => dist.get(w).contains(hh + 1))
            .map(w => w -> (sigma(v) * (unit + delta(w))) / sigma(w))
          for ((w, t) <- terms)
            edgeOracle((math.min(v, w), math.max(v, w))) += t
          if (hh >= 1) delta(v) = terms.map(_._2).sum
        }
        for ((v, d) <- dist if d >= 1) { oracle(v) += delta(v); reached += v }
      }
      val (nodeDf, edgeDf) = GraphOps.landmarkBrandesUnits(
        edges.toDF("a", "b"), "a", "b", lms.toDF("id"), "id", maxHops)
      val got = nodeDf.as[(Long, Long)].collect().toMap
      assert(got == reached.map(v => v -> oracle(v)).toMap, s"trial $trial diverged")
      val gotEdges = edgeDf.as[(Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(gotEdges == edgeOracle.toMap, s"trial $trial edge scores diverged")
      sawSplit ||= got.values.exists(v => v % unit != 0L && v > 0L)
    }
    assert(sawSplit, "vacuous: no trial exercised a fractional sigma split")
  }

  test("landmarkBrandesFromCounts == landmarkBrandesUnits; certification requires trip") {
    import spark.implicits._
    // the sharing form (backward pass fed by landmarkPathCounts' pinned
    // waves) must agree EXACTLY with the fused sweep — same graph, same
    // landmarks, same hop budget
    val rnd = new scala.util.Random(11)
    val n = 16
    val edges = (for {
      u <- 1 to n; v <- (u + 1) to n if rnd.nextInt(100) < 25
    } yield (u.toLong, v.toLong)).distinct.toDF("a", "b")
    val lms = Seq(1L, 5L, 9L).toDF("id")
    val maxHops = 3
    val waves = GraphOps.landmarkPathCounts(edges, "a", "b", lms, "id", maxHops)
    val (nF, eF) = GraphOps.landmarkBrandesFromCounts(
      edges, "a", "b", waves, maxHops)
    val (nU, eU) = GraphOps.landmarkBrandesUnits(
      edges, "a", "b", lms, "id", maxHops)
    assert(nF.as[(Long, Long)].collect().toMap ==
      nU.as[(Long, Long)].collect().toMap, "node scores diverged")
    assert(eF.as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap ==
      eU.as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap,
      "edge scores diverged")
    // empty waves (empty landmark set — tiny-SF smoke reality) must
    // yield empty outputs, not a NULL-probe crash
    val emptyWaves = GraphOps.landmarkPathCounts(edges, "a", "b",
      Seq.empty[Long].toDF("id"), "id", maxHops)
    val (nE, eE) = GraphOps.landmarkBrandesFromCounts(
      edges, "a", "b", emptyWaves, maxHops)
    assert(nE.count() == 0 && eE.count() == 0,
      "empty waves must produce empty scores")
    // σ certification: waves built under a lax guard must be rejected
    // when their σ exceeds the backward pass's overflow-proof bound
    val ex1 = intercept[IllegalArgumentException] {
      GraphOps.landmarkBrandesFromCounts(edges, "a", "b", waves, maxHops,
        maxSigma = 1L)
    }
    assert(ex1.getMessage.contains("maxSigma"), ex1.getMessage)
    // hop-coverage contract: waves deeper than the declared budget fail
    val deepWaves = GraphOps.landmarkPathCounts(edges, "a", "b", lms, "id",
      maxHops = 5)
    if (deepWaves.agg(org.apache.spark.sql.functions.max("dist"))
        .head().getInt(0) > maxHops) {
      val ex2 = intercept[IllegalArgumentException] {
        GraphOps.landmarkBrandesFromCounts(edges, "a", "b", deepWaves, maxHops)
      }
      assert(ex2.getMessage.contains("maxHops"), ex2.getMessage)
    }
  }

  private def exceptionChain(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).toSeq
}
