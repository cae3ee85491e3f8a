package graft

import org.apache.spark.sql.functions._

import graft.blocking.{BlockingRule, PairGenerator, RuleGen}
import graft.cluster.ConnectedComponents
import graft.compare.Comparisons
import graft.model.{ColumnParams, ComparisonSpec, TrainedModel}
import graft.score.FellegiSunter
import graft.train.Estimation

class LinkageSpec extends SparkSpec {
  import spark.implicits._

  test("blocking rule render/parse round-trip") {
    val r = BlockingRule(Seq(Seq("a", "b"), Seq("c")))
    assert(r.render === "(l.a = r.a AND l.b = r.b) OR (l.c = r.c)")
    assert(BlockingRule.parse(r.render) === r)
    assert(BlockingRule.parse("l.x = r.x") === BlockingRule(Seq(Seq("x"))))
    assert(BlockingRule.parse("A&B") === BlockingRule(Seq(Seq("A", "B"))))
  }

  test("dedupe pairs: blocks on equality keys, uid_l < uid_r, dedup across OR branches") {
    val df = Seq(
      ("1", "x", "p"), ("2", "x", "p"), ("3", "x", "q"), ("4", "y", "q"))
      .toDF("id", "k1", "k2")
    val rule = BlockingRule.parse("(l.k1 = r.k1) OR (l.k2 = r.k2)")
    val pairs = PairGenerator.dedupePairs(df, "id", Seq("k1", "k2"), Seq(rule))
      .select("uid_l", "uid_r").as[(String, String)].collect().toSet
    // k1 blocks: {1,2,3} → (1,2),(1,3),(2,3); k2 blocks: {1,2} dup, {3,4} → (3,4)
    assert(pairs === Set(("1", "2"), ("1", "3"), ("2", "3"), ("3", "4")))
  }

  test("salted dedupe pairs produce exactly the unsalted pair set") {
    val df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .select(col("c_custkey").cast("string").as("id"),
        col("c_mktsegment").as("seg"), col("c_nationkey").cast("string").as("nat"))
    // one branch, and two OR branches (the salted union + dedup leg)
    Seq("l.seg = r.seg", "(l.seg = r.seg) OR (l.nat = r.nat)").foreach { text =>
      val rule = BlockingRule.parse(text)
      val plain = PairGenerator.dedupePairs(df, "id", Seq("seg", "nat"), Seq(rule))
        .select("uid_l", "uid_r").as[(String, String)].collect().toSet
      val salted = PairGenerator.pairs(df, None, "id", Seq("seg", "nat"), Seq(rule),
          saltFactor = 8)
        .select("uid_l", "uid_r").as[(String, String)].collect().toSet
      assert(salted === plain, text)
      assert(plain.nonEmpty, text)
    }
  }

  test("link pairs: cross the tables only, keep uid_l > uid_r, dedup across OR branches") {
    val left = Seq(("1", "x", "p"), ("5", "y", "q"), ("7", null, null), ("8", "x", "r"))
      .toDF("id", "k1", "k2")
    val right = Seq(("2", "x", "p"), ("3", "y", "p"), ("4", "z", "q"), ("6", null, null))
      .toDF("id", "k1", "k2")
    val rule = BlockingRule.parse("(l.k1 = r.k1) OR (l.k2 = r.k2)")
    val pairs = PairGenerator.linkPairs(left, right, "id", Seq("k1", "k2"), Seq(rule))
      .select("uid_l", "uid_r").as[(String, String)].collect().toSeq
    // k1: (1,2), (8,2), (5,3); k2: (1,2) again, (1,3), (5,4). Same-table rows that
    // share a key — left (1,8), right (2,3) — never pair, and the null-keyed left 7
    // and right 6 match nothing.
    assert(pairs.sorted ===
      Seq(("1", "2"), ("1", "3"), ("5", "3"), ("5", "4"), ("8", "2")))
  }

  test("null block keys never match") {
    val df = Seq(("1", null), ("2", null), ("3", "x")).toDF("id", "k")
    val pairs = PairGenerator.dedupePairs(df, "id", Seq("k"),
      Seq(BlockingRule.parse("l.k = r.k")))
    assert(pairs.count() === 0)
  }

  test("connected components match transitive-closure oracle on random graphs") {
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { _ =>
      val n = 40
      val edges = (1 to 50).map(_ => (rnd.nextInt(n).toString, rnd.nextInt(n).toString))
        .filter(e => e._1 != e._2)
      // oracle: union-find on the driver
      val parent = scala.collection.mutable.Map((0 until n).map(i => i.toString -> i.toString): _*)
      def find(x: String): String = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      val expected = (0 until n).map(_.toString)
        .groupBy(find).values.map(_.toSet).filter(_.size > 1).toSet

      // both execution paths must agree with the oracle: the driver union-find
      // fallback (default threshold) and the distributed star loop (threshold 0)
      for (threshold <- Seq(500000L, 0L)) {
        val got = ConnectedComponents.run(edges.toDF("src", "dst"),
            localThreshold = threshold)
          .as[(String, String)].collect()
          .groupBy(_._2).values.map(g => (g.map(_._1) :+ g.head._2).toSet).toSet
        assert(got === expected, s"localThreshold=$threshold")
      }
    }
  }

  test("incremental CC equals full-run CC on random edge splits") {
    val rnd = new scala.util.Random(11)
    (1 to 5).foreach { _ =>
      val n = 40
      val edges = (1 to 60).map(_ => (rnd.nextInt(n).toString, rnd.nextInt(n).toString))
        .filter(e => e._1 != e._2).distinct
      val (baseE, newE) = edges.partition(_ => rnd.nextBoolean())
      val base = ConnectedComponents.run(baseE.toDF("src", "dst"))
      val got = ConnectedComponents.incremental(base, newE.toDF("src", "dst"))
        .as[(String, String)].collect().toMap
      val full = ConnectedComponents.run(edges.toDF("src", "dst"))
        .as[(String, String)].collect().toMap
      assert(got === full)
    }
  }

  test("incremental CC: internal edges are no-ops, new nodes merge clusters") {
    // base: {1,2} and {3,4}; batch: an internal edge (no-op), a fresh pair, and a
    // new node 0 bridging both base clusters — merged component min becomes "0"
    val base = Seq(("1", "1"), ("2", "1"), ("3", "3"), ("4", "3"))
      .toDF("node", "cluster_id")
    val batch = Seq(("1", "2"), ("8", "9"), ("0", "2"), ("0", "4"))
      .toDF("src", "dst")
    val out = ConnectedComponents.incremental(base, batch)
      .as[(String, String)].collect().toMap
    assert(out === Map("0" -> "0", "1" -> "0", "2" -> "0", "3" -> "0", "4" -> "0",
      "8" -> "8", "9" -> "8"))
  }

  test("cluster assignment keeps singletons as their own id") {
    val records = Seq("1", "2", "3", "9").toDF("id")
    val edges = Seq(("1", "2")).toDF("src", "dst")
    val out = ConnectedComponents.assignClusters(records, "id", edges)
      .select("id", "cluster_id").as[(String, String)].collect().toMap
    assert(out("1") === "1" && out("2") === "1")
    assert(out("3") === "3" && out("9") === "9")
  }

  test("gamma ladder: null → -1, exact → 2, within threshold → 1, else → 0") {
    val specs = Seq(ComparisonSpec("name", "levenshtein", 2))
    val pairs = Seq(
      ("aaa", "aaa"), ("aaa", "aab"), ("aaa", "zzz"), (null, "aaa"))
      .toDF("name_l", "name_r")
    val g = Comparisons.withGammas(pairs, specs)
      .select("gamma_name").as[Int].collect().toSeq
    assert(g === Seq(2, 1, 0, -1))
  }

  test("fellegi-sunter weight and probability: closed form") {
    val model = TrainedModel(
      lambda = 0.25,
      comparisons = Seq(ComparisonSpec("a", "levenshtein", 1)),
      params = Map("a" -> ColumnParams(Array(0.05, 0.15, 0.8), Array(0.7, 0.2, 0.1))),
      blockingRules = Seq("l.a = r.a"))
    val df = Seq((2, "x"), (0, "y"), (-1, "z")).toDF("gamma_a", "junk")
    val out = FellegiSunter.score(df, model)
      .select("match_weight", "match_probability").as[(Double, Double)].collect()
    def lg2(x: Double) = math.log(x) / math.log(2)
    val priorW = lg2(0.25 / 0.75)
    assert(math.abs(out(0)._1 - (priorW + lg2(0.8 / 0.1))) < 1e-12)
    assert(math.abs(out(1)._1 - (priorW + lg2(0.05 / 0.7))) < 1e-12)
    assert(math.abs(out(2)._1 - priorW) < 1e-12) // null gamma contributes nothing
    val w0 = out(0)._1
    assert(math.abs(out(0)._2 - math.pow(2, w0) / (1 + math.pow(2, w0))) < 1e-12)
  }

  test("generated code does not depend on trial parameters") {
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    val people = Seq(
      ("1", "anna", "smith", "york"), ("2", "ana", "smith", "yorke"),
      ("3", "bert", "jones", "leeds"), ("4", "bert", "jonas", "leeds"),
      ("5", "cara", null, "bath")).toDF("id", "first", "last", "city")
    val left = people.filter(col("id") <= "3")
    val right = people.filter(col("id") > "2")
    // the whole-stage sources of the executed (adaptive) plan, with the per-plan
    // stage ids normalized
    def sources(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      df.collect()
      codegenStringSeq(df.queryExecution.executedPlan)
        .map(_._2.replaceAll("CodegenStage\\d+", "CodegenStage"))
    }
    // two trials: other thresholds, metrics, λ, m/u and a single-column blocking rule
    // on another column
    val trials = Seq(
      (Seq(ComparisonSpec("first", "levenshtein", 2), ComparisonSpec("last", "jaro_winkler", 0.9),
        ComparisonSpec("city", "jaccard", 0.8)), 0.01, "l.first = r.first", "first&last"),
      (Seq(ComparisonSpec("first", "jaccard", 0.75), ComparisonSpec("last", "levenshtein", 1),
        ComparisonSpec("city", "jaro_winkler", 0.85)), 0.2, "l.city = r.city", "last&city"))
    val uPairs = Estimation.uSamplePairs(people, "id", Seq("first", "last", "city"), 10L,
      hashShuffle = true, seed = 42L)
    val plans = trials.zipWithIndex.map { case ((specs, lambda, rule, training), k) =>
      val params = specs.map(s => s.column ->
        ColumnParams(Array(0.1, 0.2, 0.7).map(_ + k * 0.01), Array(0.8, 0.15, 0.05))).toMap
      val model = TrainedModel(lambda, specs, params, Seq(rule))
      val predictions = FellegiSunter.predict(left, "id", model, right = Some(right))
      val patterns = Estimation.patternTable(left, "id", specs,
        Seq(BlockingRule.parse(training)), Seq(0), Some(uPairs), Some(right))
      (sources(predictions), sources(patterns))
    }
    assert(plans(0)._1.nonEmpty && plans(0)._2.nonEmpty)
    assert(plans(0)._1 === plans(1)._1, "predict")
    assert(plans(0)._2 === plans(1)._2, "EM pattern pass")

    // the one-join EM pattern pass of two different sets of three training rules
    val specs = trials.head._1
    val ruleSets = Seq(Seq("first&last", "last&city", "first&city"),
      Seq("city&last", "first&city", "last&first"))
    val ruleSources = ruleSets.map(rules => sources(Estimation.patternTable(left, "id", specs,
      rules.map(BlockingRule.parse), rules.indices, Some(uPairs), Some(right))))
    assert(ruleSources(0).nonEmpty)
    assert(ruleSources(0) === ruleSources(1), "EM pattern pass over three training rules")

    // the link-mode setup probes, built twice: the u pool over the cached union of the
    // two tables and the schema match's value probe over the raw tables. A limit
    // pushed into a union's branches would name its counter by a JVM-wide id.
    val records = left.unionByName(right).cache()
    val probes = (1 to 2).map(_ => (
      sources(Estimation.uPoolProbe(records, "id", Seq("first", "last", "city"), 42L,
        Estimation.uPoolCap(100000L))),
      sources(graft.schemamatch.SchemaMatch.valueProbe(left, right, Seq("first", "last"),
        Seq("last", "city"), 10))))
    records.unpersist()
    assert(probes(0)._1.nonEmpty && probes(0)._2.nonEmpty)
    assert(probes(0)._1 === probes(1)._1, "u pool probe")
    assert(probes(0)._2 === probes(1)._2, "schema match value probe")
  }

  test("clusterStats: chain density, duplicate-edge canonicalization, singleton") {
    import graft.cluster.ConnectedComponents
    val recs = Seq("a", "b", "c", "d", "e", "f").toDF("uid")
    // chain a-b-c (density 2/3), pair d-e with the edge duplicated in both
    // orientations (must count once → density 1), singleton f (density 0)
    val edges = Seq(("a", "b"), ("b", "c"), ("d", "e"), ("e", "d"))
      .toDF("src", "dst")
    val assigned = ConnectedComponents.assignClusters(recs, "uid", edges)
    val got = ConnectedComponents.clusterStats(assigned, "uid", edges)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got("a") === (("a", 3L, 2L, 0.666667)))
    assert(got("d") === (("d", 2L, 1L, 1.0)))
    assert(got("f") === (("f", 1L, 0L, 0.0)))
  }

  test("term-frequency adjustment: rare terms gain weight, common terms lose it") {
    def lg2(x: Double) = math.log(x) / math.log(2)
    // shares: A 3/6, B 2/6, C 1/6; column-global u_exact = 0.2
    val recs = Seq(("1", "A"), ("2", "A"), ("3", "A"), ("4", "B"), ("5", "B"),
      ("6", "C")).toDF("uid", "seg")
    val tf = FellegiSunter.termFrequencies(recs, "seg")
    val shares = tf.as[(String, Double)].collect().toMap
    assert(math.abs(shares("A") - 0.5) < 1e-12 && math.abs(shares("C") - 1.0 / 6) < 1e-12)

    // scored pairs carrying seg_l/seg_r and a flat base weight
    val pairs = Seq(("1", "2", "A", "A"), ("6", "6b", "C", "C"),
      ("1", "4", "A", "B")).toDF("uid_l", "uid_r", "seg_l", "seg_r")
      .withColumn("match_weight", lit(1.0))
    val out = FellegiSunter.tfAdjust(pairs, "seg", uExact = 0.2, tf)
      .select("uid_l", "uid_r", "tf_adjustment")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val adjA = lg2(0.2) - lg2(0.5)       // common: negative (evidence weakens)
    val adjC = lg2(0.2) - lg2(1.0 / 6)   // rare: positive (evidence strengthens)
    assert(math.abs(out(("1", "2")) - adjA) < 1e-9 && adjA < 0)
    assert(math.abs(out(("6", "6b")) - adjC) < 1e-9 && adjC > 0)
    assert(out(("1", "2")) < out(("6", "6b")))
    // disagreeing pair: untouched
    val disagree = FellegiSunter.tfAdjust(pairs, "seg", 0.2, tf)
      .filter(col("uid_l") === "1" && col("uid_r") === "4")
      .select("tf_adjustment", "match_weight_tf").as[(Double, Double)].head()
    assert(disagree === ((0.0, 1.0)))
  }

  test("EM increases m for matching levels on a planted-duplicate dataset") {
    // 30 entities, each duplicated with a 1-char typo in `b`; `blk` is a shared block key.
    val rows = (0 until 30).flatMap { i =>
      val base = f"name$i%03d"
      Seq((s"u${i}_a", base, s"city$i", i % 3), (s"u${i}_b", base, s"city${i}x", i % 3))
    }
    val df = rows.toDF("id", "a", "b", "blk")
    val specs = Seq(ComparisonSpec("b", "levenshtein", 2))
    val u = Map("b" -> Array(0.9, 0.05, 0.05))
    val (lambda, m, _) = Estimation.emTrain(
      df, "id", Seq(ComparisonSpec("a", "levenshtein", 1), ComparisonSpec("b", "levenshtein", 2)),
      graft.blocking.BlockingRule.parse("l.a = r.a"), u,
      initialLambda = 0.5)
    // within-block pairs are true duplicates: m should concentrate on gamma 1 (typo) over 0
    assert(m("b")(1) > 0.5, s"m=${m("b").mkString(",")}")
    assert(lambda > 0.5)
  }

  test("EM driver-side and distributed paths produce identical estimates") {
    val rows = (0 until 30).flatMap { i =>
      val base = f"name$i%03d"
      Seq((s"u${i}_a", base, s"city$i", i % 3), (s"u${i}_b", base, s"city${i}x", i % 3))
    }
    val df = rows.toDF("id", "a", "b", "blk")
    val specs = Seq(ComparisonSpec("a", "levenshtein", 1), ComparisonSpec("b", "levenshtein", 2))
    val u = Map("a" -> Array(0.9, 0.05, 0.05), "b" -> Array(0.9, 0.05, 0.05))
    def sessionsFrom(
        rules: Seq[String],
        u: Either[Map[String, Array[Double]], org.apache.spark.sql.DataFrame],
        maxDriverPatterns: Long) =
      Estimation.emSessions(df, "id", specs, rules.map(BlockingRule.parse), u,
        initialLambda = 0.5, tol = 0.01, maxIter = 25, linkRight = None,
        maxDriverPatterns = maxDriverPatterns)
    def sessions(rules: Seq[String], maxDriverPatterns: Long) =
      sessionsFrom(rules, Left(u), maxDriverPatterns)._2
    // one AND rule; an OR rule, whose blocked column's gammas vary, so the driver's
    // marginalization matters; and the three-rule λ-chained EM call `train` makes
    Seq(
      Seq("l.blk = r.blk"),
      Seq("(l.a = r.a) OR (l.blk = r.blk)"),
      Seq("l.blk = r.blk", "(l.a = r.a) OR (l.blk = r.blk)", "l.a = r.a")
    ).foreach { rules =>
      val driver = sessions(rules, Long.MaxValue)
      // maxDriverPatterns = 0 forces the distributed per-iteration aggregation path
      val dist = sessions(rules, 0L)
      assert(driver.size === rules.size && dist.size === rules.size)
      driver.zip(dist).zip(rules).foreach { case ((dr, di), rule) =>
        assert(dr._2.nonEmpty && math.abs(dr._1 - di._1) < 1e-9, s"lambda $rule")
        assert(dr._2.keySet === di._2.keySet && dr._3.keySet === di._3.keySet)
        specs.filter(s => dr._2.contains(s.column)).foreach { s =>
          (0 until s.numLevels).foreach { g =>
            assert(math.abs(dr._2(s.column)(g) - di._2(s.column)(g)) < 1e-9,
              s"m ${s.column} $g $rule")
            assert(math.abs(dr._3(s.column)(g) - di._3(s.column)(g)) < 1e-9,
              s"u ${s.column} $g $rule")
          }
        }
      }
    }
    // u folded into the pattern pass: the sampled u pairs ride it tagged -1, and on
    // both backends u must be bit-equal to a separate pass over the same pairs — and
    // the sessions bit-equal to sessions started from that u. The blocked-on-every-
    // column rule estimates nothing, so its pattern table holds the u rows alone.
    def bits(p: Map[String, Array[Double]]) =
      p.map { case (c, a) => c -> a.map(java.lang.Double.doubleToLongBits).toSeq }
    val tracker = new graft.util.CheckpointTracker(spark)
    try {
      val pairs = tracker.rotate(Estimation.uSamplePairs(df, "id", Seq("a", "b"), 200L,
        hashShuffle = true, seed = 42L))
      val uSeparate = Estimation.estimateUFromPairs(pairs, specs)
      assert(uSeparate.values.exists(_.exists(_ > 1e-9)))
      Seq(Seq("l.blk = r.blk", "(l.a = r.a) OR (l.blk = r.blk)", "l.a = r.a"), Seq("a&b"))
        .foreach { rules =>
          Seq(Long.MaxValue, 0L).foreach { maxDriverPatterns =>
            val (uFolded, folded) = sessionsFrom(rules, Right(pairs), maxDriverPatterns)
            val (_, given) = sessionsFrom(rules, Left(uSeparate), maxDriverPatterns)
            val where = s"$rules, maxDriverPatterns $maxDriverPatterns"
            assert(bits(uFolded) === bits(uSeparate), s"u $where")
            assert(folded.map(t => (t._1, bits(t._2), bits(t._3))) ===
              given.map(t => (t._1, bits(t._2), bits(t._3))), s"sessions $where")
          }
        }
    } finally tracker.close()
  }

  test("one-join pattern table equals the per-rule union it replaced, both modes") {
    // the per-rule construction: one PairGenerator.pairs join per rule, tagged and
    // unioned with the u pairs before the gamma aggregation
    def perRule(df: org.apache.spark.sql.DataFrame, specs: Seq[ComparisonSpec],
        rules: Seq[BlockingRule], uPairs: org.apache.spark.sql.DataFrame,
        right: Option[org.apache.spark.sql.DataFrame]) = {
      val sides = specs.flatMap(s => Seq(col(s"${s.column}_l"), col(s"${s.column}_r")))
      val tagged = rules.indices.map { i =>
        PairGenerator.pairs(df, right, "id", specs.map(_.column), Seq(rules(i)))
          .select((lit(i).as("_rule_idx") +: sides): _*)
      } :+ uPairs.select((lit(-1).as("_rule_idx") +: sides): _*)
      Comparisons.withGammas(tagged.reduce(_ unionByName _), specs)
        .groupBy((col("_rule_idx") +: specs.map(s => col(s"gamma_${s.column}"))): _*)
        .agg(count(lit(1)).as("cnt"))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    // `n` is null on every row; `a` repeats, `b` splits the a-blocks
    val df = (0 until 24).map(i => (s"u$i", s"a${i % 4}", s"b${i % 3}", null: String))
      .toDF("id", "a", "b", "n")
    val specs = Seq(ComparisonSpec("a", "levenshtein", 1), ComparisonSpec("b", "jaccard", 0.8),
      ComparisonSpec("n", "jaro_winkler", 0.9))
    // an AND rule; an OR rule whose branches block overlapping pairs (kept once); a rule
    // on the all-null column (blocks nothing); a width-1 rule next to the width-2 ones
    val rules = Seq("a&b", "(l.a = r.a) OR (l.b = r.b)", "a&n", "l.b = r.b")
      .map(BlockingRule.parse)
    val (l, r) = (df.filter(col("id") < "u2"), df.filter(col("id") >= "u2"))
    val uPairs = Estimation.uSamplePairs(df, "id", Seq("a", "b", "n"), 40L,
      hashShuffle = true, seed = 42L)
    for ((left, right) <- Seq((df, None), (l, Some(r)))) {
      val mode = if (right.isEmpty) "dedupe" else "link"
      val got = rows(Estimation.patternTable(left, "id", specs, rules, rules.indices,
        Some(uPairs), right))
      assert(got === rows(perRule(left, specs, rules, uPairs, right)), mode)
      assert(got.exists(_.startsWith("1|")) && !got.exists(_.startsWith("2|")), mode)
    }
    // a one-attribute input: the single width-1 rule
    val one = Seq(ComparisonSpec("a", "levenshtein", 1))
    val oneRule = Seq(BlockingRule.parse("l.a = r.a"))
    val oneU = Estimation.uSamplePairs(df, "id", Seq("a"), 40L, hashShuffle = true, 42L)
    assert(rows(Estimation.patternTable(df, "id", one, oneRule, Seq(0), Some(oneU), None)) ===
      rows(perRule(df, one, oneRule, oneU, None)))
  }

  test("EM single-iteration update matches the closed form at double precision") {
    // 5 records, 2 blocks, 4 pairs → agreement patterns (γa,γb): (2,2)×1, (0,0)×2,
    // (2,1)×1. The expected values below are the Fellegi–Sunter EM equations written
    // out independently (E-step responsibilities from the INITIAL parameters, M-step
    // count-weighted refits) — not a re-run of the implementation. One iteration
    // exactly: tol = 0 never converges early, maxIter = 1 stops after the update.
    val df = Seq(
      ("1", "x", "aa", "pp"), ("2", "x", "aa", "pp"), ("3", "x", "zz", "qq"),
      ("4", "y", "mm", "rr"), ("5", "y", "mm", "rs")).toDF("id", "blk", "a", "b")
    val specs = Seq(ComparisonSpec("a", "levenshtein", 1), ComparisonSpec("b", "levenshtein", 1))
    val u0 = Map("a" -> Array(0.7, 0.2, 0.1), "b" -> Array(0.6, 0.3, 0.1))
    val lambda0 = 0.25
    val (lambda1, m1, u1) = Estimation.emTrain(df, "id", specs,
      graft.blocking.BlockingRule.parse("l.blk = r.blk"), u0, lambda0,
      tol = 0.0, maxIter = 1)

    // E-step: w(γ) = λ·∏m0[γ] / (λ·∏m0[γ] + (1−λ)·∏u0[γ]), m0 = DefaultM (.1,.3,.6)
    val w22 = lambda0 * 0.6 * 0.6 / (lambda0 * 0.6 * 0.6 + 0.75 * 0.1 * 0.1)
    val w00 = lambda0 * 0.1 * 0.1 / (lambda0 * 0.1 * 0.1 + 0.75 * 0.7 * 0.6)
    val w21 = lambda0 * 0.6 * 0.3 / (lambda0 * 0.6 * 0.3 + 0.75 * 0.1 * 0.3)
    val floor = 1e-9

    // M-step, column a: γ2 from patterns (2,2)+(2,1), γ0 from (0,0)×2, γ1 empty→floor
    val mTotA = w22 + w21 + 2 * w00
    val uTotA = (1 - w22) + (1 - w21) + 2 * (1 - w00)
    val expM_a = Array(2 * w00 / mTotA, floor, (w22 + w21) / mTotA)
    val expU_a = Array(2 * (1 - w00) / uTotA, floor, ((1 - w22) + (1 - w21)) / uTotA)
    // column b: γ2 from (2,2), γ1 from (2,1), γ0 from (0,0)×2
    val mTotB = w22 + w21 + 2 * w00
    val uTotB = (1 - w22) + (1 - w21) + 2 * (1 - w00)
    val expM_b = Array(2 * w00 / mTotB, w21 / mTotB, w22 / mTotB)
    val expU_b = Array(2 * (1 - w00) / uTotB, (1 - w21) / uTotB, (1 - w22) / uTotB)
    val expLambda = (w22 + 2 * w00 + w21) / 4.0

    assert(math.abs(lambda1 - expLambda) < 1e-12, s"lambda $lambda1 vs $expLambda")
    Seq(("a", expM_a, expU_a), ("b", expM_b, expU_b)).foreach { case (c, em, eu) =>
      (0 until 3).foreach { g =>
        assert(math.abs(m1(c)(g) - em(g)) < 1e-12, s"m($c)($g)=${m1(c)(g)} vs ${em(g)}")
        assert(math.abs(u1(c)(g) - eu(g)) < 1e-12, s"u($c)($g)=${u1(c)(g)} vs ${eu(g)}")
      }
    }
  }

  test("u-estimation approximates value-frequency collision rates") {
    val df = (0 until 400).map(i => (i.toString, s"v${i % 4}")).toDF("id", "c")
    val u = Estimation.estimateU(df, "id", Seq(ComparisonSpec("c", "levenshtein", 0)), 4000)
    // P(exact match of uniform 4-valued col) = 0.25
    assert(math.abs(u("c")(2) - 0.25) < 0.05, u("c").mkString(","))
  }

  test("u-estimation pre-samples large tables without changing the estimate") {
    // targetPairs ≪ rows triggers the seeded pre-sample (no full-table sort); the
    // estimator must stay a collision-rate estimate and be run-to-run deterministic
    val df = (0 until 5000).map(i => (i.toString, s"v${i % 4}")).toDF("id", "c")
    val spec = Seq(ComparisonSpec("c", "levenshtein", 0))
    val u1 = Estimation.estimateU(df, "id", spec, targetPairs = 500)
    val u2 = Estimation.estimateU(df, "id", spec, targetPairs = 500)
    assert(math.abs(u1("c")(2) - 0.25) < 0.1, u1("c").mkString(","))
    assert(u1("c").sameElements(u2("c")))
  }

  /** The distributed u-pair construction the driver builder replaced: sample, range
    * sort, `zipWithIndex`, checkpoint and one `rn ↔ (rn + off) mod n` equi-join per
    * offset.
    */
  private def distributedUPairs(df: org.apache.spark.sql.DataFrame, uid: String,
      attrs: Seq[String], targetPairs: Long, hashShuffle: Boolean, seed: Long,
      tracker: graft.util.CheckpointTracker): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val base = df.select(
      (col(uid).cast("string").as("uid") +: attrs.map(a => col(a).cast("string").as(a))): _*)
    val nAll = base.count()
    val want = math.min(nAll, targetPairs + 1)
    val sampled =
      if (hashShuffle && nAll > 2 * want)
        base.sample(withReplacement = false, math.min(1.0, 1.2 * want / nAll), seed)
      else base
    val projected =
      if (hashShuffle) sampled.orderBy(xxhash64(col("uid"), lit(seed)))
      else sampled.orderBy("uid")
    val n = if (sampled eq base) nAll else projected.count()
    val offsets = math.max(0L, math.min(n - 1, math.max(1L, targetPairs / math.max(n, 1L))))
      .toInt
    val indexed = tracker.rotate(spark.createDataFrame(
      projected.rdd.zipWithIndex().map { case (row, idx) =>
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ idx)
      },
      StructType(projected.schema.fields :+ StructField("rn", LongType))))
    val l = indexed.select(
      (col("rn") +: col("uid").as("uid_l") +: attrs.map(a => col(a).as(s"${a}_l"))): _*)
    val r = indexed.select(
      (col("rn").as("rn_r") +: col("uid").as("uid_r") +: attrs.map(a => col(a).as(s"${a}_r"))): _*)
    val paired = (1 to math.max(offsets, 1)).map { off =>
      l.withColumn("rn_r", pmod(col("rn") + lit(off.toLong), lit(n))).join(r, "rn_r")
    }.reduce(_ unionByName _)
    if (offsets > 0) paired else paired.limit(0)
  }

  test("u pairs built on the driver equal the distributed construction's multiset") {
    val attrs = Seq("a", "b")
    val cols = ("uid" +: attrs).flatMap(c => Seq(s"${c}_l", s"${c}_r")).sorted
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|")).sorted.toSeq
    def table(n: Int) = (0 until n)
      .map(i => (s"u$i", if (i % 7 == 0) null else s"a${i % 5}", s"b${i % 3}"))
      .toDF("id", "a", "b").repartition(3)
    // (rows, targetPairs): several offsets; one offset; a pool past the 2·(target+1)
    // probe (sampled on the hashed path, rejected by the uid-ordered one); a single
    // row (no pairs)
    val cases = Seq((50, 200L), (40, 30L), (2000, 100L), (1, 4L))
    val tracker = new graft.util.CheckpointTracker(spark)
    try {
      for ((n, target) <- cases; hashShuffle <- Seq(true, false)) {
        val df = table(n)
        if (!hashShuffle && n > 2 * (target + 1)) {
          val e = intercept[IllegalArgumentException](
            Estimation.uSamplePairs(df, "id", attrs, target, hashShuffle, 42L))
          assert(e.getMessage.contains("2·(targetPairs + 1) = 202 rows"))
        } else {
          val expected = rows(distributedUPairs(df, "id", attrs, target, hashShuffle, 42L,
            tracker))
          val got = rows(Estimation.uSamplePairs(df, "id", attrs, target, hashShuffle, 42L))
          assert(got === expected, s"n=$n target=$target hashShuffle=$hashShuffle")
          if (n == 1) assert(got.isEmpty)
          else assert(got.nonEmpty)
        }
      }
    } finally tracker.close()
  }

  test("search setup from the u pool probe equals the distributed setup") {
    import graft.auto.AutoLinker
    import graft.metrics.EntropyMetrics
    val attrs = Seq("a", "nul", "one")
    // `nul` holds no value, `one` a single one; `a` has 5 values and some nulls
    val df = (0 until 60)
      .map(i => (s"u$i", if (i % 7 == 0) null else s"a${i % 5}", null: String, "x"))
      .toDF("id", "a", "nul", "one").repartition(3).cache()
    def pairs(p: org.apache.spark.sql.DataFrame) = p.collect().map(_.toSeq.mkString("|")).toSeq
    try {
      val local = AutoLinker.searchSetup(df, "id", attrs, hashShuffle = true)
      val dist = AutoLinker.searchSetup(df, "id", attrs, hashShuffle = true, cap = 0)
      assert(local.nRows === 60L && dist.nRows === 60L)
      assert(local.distinct === Map("a" -> 5L, "nul" -> 0L, "one" -> 1L))
      assert(dist.distinct === local.distinct)
      assert(EntropyMetrics.distinctCounts(df, attrs) === local.distinct)
      assert(pairs(local.uPairs).nonEmpty)
      assert(pairs(dist.uPairs) === pairs(local.uPairs))
      assert(pairs(local.uPairs) === pairs(Estimation.uSamplePairs(df, "id", attrs, 240L,
        hashShuffle = true, seed = 42L)))
      // the uid-ordered pairing reads the whole pool from the probe, and rejects a
      // pool past it
      assert(pairs(AutoLinker.searchSetup(df, "id", attrs, hashShuffle = false).uPairs) ===
        pairs(Estimation.uSamplePairs(df, "id", attrs, 240L, hashShuffle = false, 42L)))
      intercept[IllegalArgumentException](
        AutoLinker.searchSetup(df, "id", attrs, hashShuffle = false, cap = 0))
      // an empty input has nothing to link, on either path
      Seq(Estimation.uPoolCap(100000L), 0).foreach { cap =>
        intercept[IllegalArgumentException](
          AutoLinker.searchSetup(df.limit(0), "id", attrs, hashShuffle = true, cap = cap))
      }
    } finally df.unpersist()
  }

  /** The E4–E8 expression pipeline the driver rule expansion replaced, per OR-size `n`
    * and folded over 1..k.
    */
  private def expressionORRules(countMap: Map[String, (Long, Long)], k: Int)
      : Set[(String, Long)] = {
    import graft.functions._
    val base = Seq((1, countMap.keys.toSeq.sorted)).toDF("id", "rules")
    def generate(n: Int) = {
      val partials = base
        .select(generate_combinations(lit(n), col("rules")).as("combinations"), col("rules"))
        .withColumn("partial_count", estimate_squared_count_or(col("combinations"), countMap))
        .orderBy(desc("partial_count")).limit(1000)
      val combinations =
        if (n > 1) partials.select(generate_partial_combinations(lit(n - 2),
          col("combinations"), col("rules")).as("combinations"))
        else partials
      combinations.distinct().select(
          to_splink_rule(col("combinations")).as("splink_rule"),
          estimate_squared_count_or(col("combinations"), countMap).as("rule_squared_count"))
        .orderBy(col("rule_squared_count").desc).limit(1000)
    }
    (1 to k).map(generate).reduce(_ union _).distinct()
      .as[(String, Long)].collect().toSet
  }

  test("driver rule expansion equals the expression pipeline, in a defined order") {
    def ordered(rules: Seq[(String, Long)]) =
      rules === rules.sortBy(t => (-t._2, t._1))
    val oracle = Map("a" -> (10L, 100L), "b" -> (20L, 400L), "c" -> (5L, 25L))
    val rnd = new scala.util.Random(7)
    // 60 rules: C(60, 2) = 1770 OR-pairs, so the top-1000 beams cut
    val wide = (0 until 60).map(i =>
      f"r$i%02d" -> (1L + rnd.nextInt(1000000), 1L + rnd.nextInt(1000000))).toMap
    val pairCosts = wide.keys.toSeq.combinations(2)
      .map(c => graft.expressions.EstimateSquaredCountOR.estimate(c, wide)).toSeq
      .sorted(Ordering.Long.reverse)
    // the cut is unambiguous: no tie straddles the 1000th cost
    assert(pairCosts.size > 1000 && pairCosts(999) != pairCosts(1000))
    for ((map, k) <- Seq((Map.empty[String, (Long, Long)], 2), (oracle, 2), (wide, 2),
        (oracle, 3))) {
      val driver = RuleGen.orRules(map, k)
      assert(driver.toSet === expressionORRules(map, k), s"${map.size} rules, k=$k")
      assert(driver.distinct.size === driver.size && ordered(driver))
      val frame = RuleGen.generateORRules(spark, map, k).as[(String, Long)].collect().toSeq
      assert(frame === driver)
    }
    assert(RuleGen.orRules(Map.empty, 2).isEmpty)
    assert(RuleGen.orRules(wide, 2).size === 60 + 1000)
    assert(RuleGen.orRules(oracle, 2) === Seq(
      "(l.b = r.b)" -> 400L, "(l.a = r.a)" -> 100L, "(l.c = r.c)" -> 25L,
      "(l.a = r.a) OR (l.c = r.c)" -> -1750L, "(l.b = r.b) OR (l.c = r.c)" -> -7500L,
      "(l.a = r.a) OR (l.b = r.b)" -> -34000L))
    // equal costs order by rule text
    assert(RuleGen.orRules(Map("y" -> (1L, 5L), "x" -> (1L, 5L)), 1) ===
      Seq("(l.x = r.x)" -> 5L, "(l.y = r.y)" -> 5L))
  }

  test("rule generation end-to-end produces plausibly-ordered candidate rules") {
    // low-cardinality attributes: the reference's prune threshold (0.2·N/partitions)
    // drops any block smaller than ~20%/P of rows, so only chunky blocks survive
    val df = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
      .select(col("c_mktsegment"),
        (col("c_custkey") % 2).cast("string").as("p2"),
        (col("c_custkey") % 3).cast("string").as("p3"))
      // prune threshold is 0.2·N/P and applies progressively at partial-map merges, so
      // a key only survives if each partial (partition × bucket cell, ~N/P² rows) already
      // clears it — with P=2 only the 2-valued p2 column does
      .repartition(2)
    val rules = RuleGen.generateBlockingRules(df, 1, 2, Seq("c_mktsegment", "p2", "p3"))
    val collected = rules.collect()
    assert(collected.length > 0)
    assert(collected.forall(_.getString(0).contains("l.")))
    val parsed = BlockingRule.parse(collected.head.getString(0))
    assert(parsed.branches.nonEmpty)
  }

  test("model JSON round-trip") {
    val model = TrainedModel(0.01,
      Seq(ComparisonSpec("a", "jaro_winkler", 0.9), ComparisonSpec("b", "levenshtein", 2)),
      Map("a" -> ColumnParams(Array(0.1, 0.2, 0.7), Array(0.8, 0.15, 0.05)),
        "b" -> ColumnParams(Array(0.2, 0.2, 0.6), Array(0.9, 0.05, 0.05))),
      Seq("(l.a = r.a) OR (l.b = r.b)"))
    val back = TrainedModel.fromJson(model.toJson)
    assert(back.lambda === model.lambda)
    assert(back.comparisons === model.comparisons)
    assert(back.blockingRules === model.blockingRules)
    assert(back.params("a").m.toSeq === model.params("a").m.toSeq)
    assert(back.params("b").u.toSeq === model.params("b").u.toSeq)
  }

  test("sorted neighborhood: positions are the dense sort order; pairs ≡ brute-force window") {
    import graft.blocking.SortedNeighborhood
    import org.apache.spark.sql.functions.col
    // shared 2-char prefix on most keys exercises the skewed-bucket path
    val rows = Seq(("smith", 3L), ("smyth", 1L), ("smith", 7L), ("adams", 9L),
      ("smoke", 2L), ("zzz", 4L), ("smith", 5L))
    val df = rows.toDF("k", "id")
    val ranked = SortedNeighborhood.rank(df, col("k"), col("id"))
      .select("k", "id", "position").as[(String, Long, Long)].collect()
      .sortBy(_._3)
    val expOrder = rows.sortBy(identity).zipWithIndex
      .map { case ((k, id), i) => (k, id, i + 1L) }
    assert(ranked.toSeq === expOrder)

    val w = 4
    val got = SortedNeighborhood.pairs(df, col("k"), col("id"), w)
      .select("id_l", "id_r", "distance").as[(String, String, Long)].collect().toSet
    val brute = (for {
      (a, i) <- expOrder.zipWithIndex; (b, j) <- expOrder.zipWithIndex
      if j > i && j - i <= w - 1
    } yield (a._2.toString, b._2.toString, (j - i).toLong)).toSet
    assert(got === brute)
    val n = rows.size
    assert(got.size === (w - 1) * n - (w - 1) * w / 2)
  }

  test("phonetic key: classic soundex examples; documented H/W divergence; no-letter null") {
    import graft.compare.Phonetic.phoneticKey
    import org.apache.spark.sql.functions.col
    val got = Seq("Robert", "Rupert", "Pfeiffer", "Tymczak", "Ashcraft", "ash-CRAFT",
        "R2D2", "42", "", "Lee")
      .toDF("w").select(col("w"), phoneticKey(col("w"))).as[(String, String)]
      .collect().toMap
    assert(got("Robert") === "R163" && got("Rupert") === "R163") // classic match
    assert(got("Pfeiffer") === "P160")
    assert(got("Tymczak") === "T522")
    // simplified spec: H/W-transparency omitted (classic soundex gives A261)
    assert(got("Ashcraft") === "A226")
    assert(got("ash-CRAFT") === "A226") // case/punctuation invariant
    assert(got("R2D2") === "R300") // digits stripped before coding
    assert(got("42") === null && got("") === null)
    assert(got("Lee") === "L000") // all-vowel tail pads out
  }

  test("sorted neighborhood: null sort keys fail loudly") {
    import graft.blocking.SortedNeighborhood
    import org.apache.spark.sql.functions.col
    val df = Seq(("a", 1L), (null, 2L)).toDF("k", "id")
    val e = intercept[IllegalArgumentException] {
      SortedNeighborhood.rank(df, col("k"), col("id")).collect()
    }
    assert(e.getMessage.contains("null sort keys"))
  }
}
