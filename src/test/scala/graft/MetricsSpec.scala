package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.auto.AutoLinker
import graft.blocking.BlockingRule
import graft.clean.Cleaning
import graft.cluster.ConnectedComponents
import graft.metrics.{ClusteringMetrics, EntropyMetrics, PairwiseMetrics, Profile}
import graft.model.TrainedModel
import graft.schemamatch.SchemaMatch

class MetricsSpec extends SparkSpec {
  import spark.implicits._

  test("cleaning: lowercase + strip non-alphanumerics, keep spaces") {
    val df = Seq("Ab-C d#9!").toDF("x")
    val out = Cleaning.cleanColumns(df, Seq("x")).as[String].collect()(0)
    assert(out === "abc d9")
  }

  test("keySkew: hand-computed shares and skew-vs-uniform factors, top-k only") {
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("k")
    val out = Profile.keySkew(df, col("k"), 2).orderBy("rank").collect()
    assert(out.length === 2)
    // total=10, n_keys=3: a → share .6, skew 6·3/10 = 1.8; b → .3 / 0.9
    assert((out(0).getInt(0), out(0).getString(1), out(0).getLong(2),
      out(0).getDouble(3), out(0).getDouble(4)) === ((1, "a", 6L, 0.6, 1.8)))
    assert((out(1).getInt(0), out(1).getString(1), out(1).getLong(2),
      out(1).getDouble(3), out(1).getDouble(4)) === ((2, "b", 3L, 0.3, 0.9)))
  }

  test("dailyAnomalies: closed-form z flags the planted spike day only") {
    // key "x": 10 events/day for 9 days, 30 on day 10 → mu=12, var=40,
    // z_spike = 18/√40 = 2.846 (anomaly at 2.0), z_normal = −2/√40 = −0.3162
    val rows = for {
      day <- 1 to 10
      i <- 1 to (if (day == 10) 30 else 10)
    } yield ("x", java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), i)
    val df = rows.toDF("t", "ts", "i")
    val out = graft.events.Analytics.dailyAnomalies(df, col("t"), col("ts"), 2.0)
      .orderBy("day").collect()
    assert(out.length === 10)
    val spike = out.last
    assert(spike.getLong(2) === 30L)
    assert(spike.getDouble(3) === 2.846)
    assert(spike.getBoolean(4))
    out.dropRight(1).foreach { r =>
      assert(r.getDouble(3) === -0.3162)
      assert(!r.getBoolean(4))
    }
  }

  test("profileColumns: hand-computed counts, modal value, and entropy") {
    val df = Seq(
      ("a", Some(1)), ("a", Some(1)), ("b", Some(2)), ("b", None), ("c", Some(2)))
      .toDF("s", "i")
    val out = Profile.profileColumns(df, Seq("s", "i"))
      .orderBy("col_name")
      .as[(String, Long, Long, Long, String, Long, Double)].collect()
    // i: values 1,1,2,2,null → 5 rows, 4 nonnull, 2 distinct, top (2,"2") ties
    // (n desc, value desc) → "2"; entropy of {2,2}/4 = ln 2
    assert(out(0)._1 === "i")
    assert((out(0)._2, out(0)._3, out(0)._4) === ((5L, 4L, 2L)))
    assert((out(0)._5, out(0)._6) === (("2", 2L)))
    assert(math.abs(out(0)._7 - math.log(2)) < 1e-9)
    // s: a,a,b,b,c → top tie between a and b at n=2 → value desc picks "b";
    // entropy = ln 5 - (2 ln 2 + 2 ln 2 + 0)/5
    assert(out(1)._1 === "s")
    assert((out(1)._2, out(1)._3, out(1)._4) === ((5L, 5L, 3L)))
    assert((out(1)._5, out(1)._6) === (("b", 2L)))
    assert(math.abs(out(1)._7 - (math.log(5) - 4 * math.log(2) / 5)) < 1e-9)
  }

  test("profileColumns survives hostile column names (backticks, quotes, spaces)") {
    // a backtick in a name would break out of the quoted identifier fed to
    // selectExpr; a quote would break the label literal
    val df = Seq("x", "x", "y").toDF("weird ` na'me")
    val out = Profile.profileColumns(df, Seq("weird ` na'me"))
      .as[(String, Long, Long, Long, String, Long, Double)].collect()
    assert(out.length === 1)
    assert(out(0)._1 === "weird ` na'me")
    assert((out(0)._2, out(0)._4, out(0)._5) === ((3L, 2L, "x")))
  }

  test("profileColumnsApprox: exact counts, sketch distinct within rsd, one agg pass") {
    val df = spark.range(5000).selectExpr("cast(id as string) as hi", "cast(id % 7 as string) as lo")
    val out = Profile.profileColumnsApprox(df, Seq("hi", "lo"), rsd = 0.05)
      .orderBy("col_name").as[(String, Long, Long, Long)].collect()
    assert(out(0)._1 === "hi" && out(0)._2 === 5000L && out(0)._3 === 5000L)
    assert(math.abs(out(0)._4 - 5000L) <= 500, s"hll distinct ${out(0)._4}")
    assert(out(1)._1 === "lo" && out(1)._4 === 7L) // HLL is exact at tiny cardinality
    // the scale contract: no per-value table, so no second shuffle in the plan
    val exchanges = "Exchange".r.findAllIn(
      Profile.profileColumnsApprox(df, Seq("hi", "lo")).queryExecution.executedPlan.toString).size
    assert(exchanges <= 1, s"expected one shuffle, saw $exchanges")
  }

  test("perfect clustering scores 1.0 on ARI/NMI/homogeneity/completeness") {
    val df = (1 to 60).map(i => (i.toString, (i % 3).toString, (i % 3).toString))
      .toDF("id", "truth", "cluster_id")
    val m = ClusteringMetrics.metrics(df, "truth").collect()(0)
    val byName = m.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> m.getDouble(i) }.toMap
    assert(math.abs(byName("adjusted_rand") - 1.0) < 1e-12)
    assert(math.abs(byName("normalized_mutual_info") - 1.0) < 1e-12)
    assert(math.abs(byName("homogeneity") - 1.0) < 1e-12)
    assert(math.abs(byName("completeness") - 1.0) < 1e-12)
    assert(math.abs(byName("v_measure") - 1.0) < 1e-12)
    assert(math.abs(byName("rand") - 1.0) < 1e-12)
    assert(math.abs(byName("fowlkes_mallows") - 1.0) < 1e-12)
    assert(math.abs(byName("adjusted_mutual_info") - 1.0) < 1e-12)
  }

  test("random clustering scores near 0 ARI and AMI") {
    val rnd = new scala.util.Random(3)
    val df = (1 to 300).map(i => (i.toString, (i % 5).toString, rnd.nextInt(5).toString))
      .toDF("id", "truth", "cluster_id")
    val m = ClusteringMetrics.metrics(df, "truth").collect()(0)
    val byName = m.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> m.getDouble(i) }.toMap
    assert(math.abs(byName("adjusted_rand")) < 0.1)
    assert(math.abs(byName("adjusted_mutual_info")) < 0.1)
  }

  test("AMI matches the Vinh et al. expected-MI formula on a hand-computed fixture") {
    // contingency: t1={x:2,y:1} t2={x:1,y:2} t3={z:2}; expected values computed
    // independently with python math.lgamma replicating sklearn's formula
    val rows = Seq(("1", "x"), ("1", "x"), ("1", "y"), ("2", "y"), ("2", "y"), ("2", "x"),
      ("3", "z"), ("3", "z")).zipWithIndex
      .map { case ((t, c), i) => (i.toString, t, c) }
    val df = rows.toDF("id", "truth", "cluster_id")
    val m = ClusteringMetrics.metrics(df, "truth").collect()(0)
    val byName = m.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> m.getDouble(i) }.toMap
    assert(math.abs(byName("mutual_info") - 0.6048099038176576) < 1e-9)
    assert(math.abs(byName("adjusted_mutual_info") - 0.3196726505696455) < 1e-9)
  }

  test("confusion metrics: hand-checkable example") {
    val data = Seq(("1", "a"), ("2", "a"), ("3", "b"), ("4", "b")).toDF("uid", "t")
    // predictions: (1,2) correct, (1,3) wrong, both above threshold; (2,4) below
    val preds = Seq(("1", "2", 0.9), ("1", "3", 0.8), ("2", "4", 0.2))
      .toDF("uid_l", "uid_r", "match_probability")
    val m = PairwiseMetrics.confusionMetrics(data, preds, 0.5, "uid", "t").collect()(0)
    assert(m.getLong(1) === 1L) // tp
    assert(m.getLong(2) === 1L) // fp
    assert(m.getLong(3) === 2L) // pr
    assert(m.getLong(4) === 2L) // rr: (1,2) and (3,4)
    assert(math.abs(m.getDouble(5) - 0.5) < 1e-12) // precision
    assert(math.abs(m.getDouble(6) - 0.5) < 1e-12) // recall
  }

  test("schema match pairing counts equal the reference's per-pair join counts") {
    val left = Seq(("x", "1"), ("y", "2"), ("x", "2")).toDF("a", "b")
    val right = Seq(("x", "9"), ("x", "8"), ("z", "1")).toDF("c", "d")
    val counts = SchemaMatch.pairingCounts(left, right, Seq("a", "b"), Seq("c", "d"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // reference semantics: inner-join row count per pairing
    def joinCount(lc: String, rc: String): Long =
      left.select(col(lc).as("v")).join(right.select(col(rc).as("v")), "v").count()
    for (lc <- Seq("a", "b"); rc <- Seq("c", "d")) {
      assert(counts.getOrElse((lc, rc), 0L) === joinCount(lc, rc), s"($lc,$rc)")
    }
  }

  test("information gain power ratio equals the reference's four-evaluation formula") {
    // the reference (autolinker.py:149-223), written out independently: cluster sizes
    // by a count, a left join back, c = #non-singleton clusters, then whole-matched
    // vs per-cluster datasetEntropy, once in base c and once in the adjusted base
    def reference(clusters: DataFrame, attrs: Seq[String], adjustedBase: Int): Double = {
      val counts = clusters.groupBy("cluster_id").count().withColumnRenamed("count", "_n")
      val matched = clusters.join(counts, Seq("cluster_id"), "left").filter(col("_n") > 1)
      val numClusters = counts.filter(col("_n") > 1).count().toInt
      def gain(base: Int) = {
        val whole = EntropyMetrics.datasetEntropy(matched, attrs, base = base)
        val perCluster =
          EntropyMetrics.datasetEntropy(matched, attrs, byCluster = true, base = base)
        attrs.map(c => whole(c) - perCluster(c)).sum
      }
      math.pow(gain(numClusters), gain(adjustedBase))
    }
    def table(rows: Seq[(String, String, Option[String], String)]) =
      rows.toDF("id", "cluster_id", "a", "b")
    val tenOfTwenty = (1 to 200).map(i =>
      (i.toString, (i % 10).toString, Some(s"seg${i % 4}"), s"v${i % 7}"))
    val cases = Seq(
      "ten clusters of 20" -> table(tenOfTwenty),
      "seven uneven clusters and singletons" -> table((1 to 150).map(i =>
        (i.toString, if (i % 5 == 0) s"s$i" else (i % 7).toString,
          Some(s"seg${i % 4}"), s"v${i % 3}"))),
      "all singletons" -> table((1 to 30).map(i =>
        (i.toString, s"c$i", Some(s"seg${i % 4}"), s"v${i % 7}"))),
      "one non-singleton cluster" -> table((1 to 30).map(i =>
        (i.toString, if (i <= 12) "big" else s"c$i", Some(s"seg${i % 4}"), s"v${i % 7}"))),
      "a null attribute value" -> table(tenOfTwenty.map { case (id, c, a, b) =>
        (id, c, if (id.toInt % 9 == 0) None else a, b)
      }))
    val attrs = Seq("a", "b")
    cases.foreach { case (name, df) =>
      Seq(EntropyMetrics.maxDistinct(df, attrs).toInt, 0).foreach { u =>
        val got = EntropyMetrics.informationGainPowerRatio(df, attrs, u)
        val want = reference(df, attrs, u)
        assert((got.isNaN && want.isNaN) ||
          math.abs(got - want) <= 1e-12 * math.max(math.abs(got), math.abs(want)),
          s"$name, adjusted base $u: $got vs reference $want")
        if (name == "all singletons") assert(got === 1.0)
        if (name == "ten clusters of 20") assert(!got.isNaN && !got.isInfinite)
      }
    }
  }

  /** Equal, or both NaN, or within 1e-12 of the larger magnitude. */
  private def close(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b || math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))

  private def bits(x: Double): Long = java.lang.Double.doubleToLongBits(x)

  test("information gain power ratio: the same bits whatever the partitioning or row order") {
    val rnd = new scala.util.Random(41)
    // 60 cluster ids over 400 rows: clusters of several rows, a few singletons, nulls
    val rows = (1 to 400).map { i =>
      (i.toString, s"c${rnd.nextInt(60)}",
        if (rnd.nextInt(9) == 0) None else Some(s"v${rnd.nextInt(6)}"), s"w${rnd.nextInt(25)}")
    }
    val attrs = Seq("a", "b")
    def table(rs: Seq[(String, String, Option[String], String)]) =
      rs.toDF("id", "cluster_id", "a", "b")
    def driverRows(rs: Seq[(String, String, Option[String], String)]) =
      rs.map { case (_, c, a, b) => (c, IndexedSeq(a.orNull, b)) }
    val df = table(rows)
    Seq(EntropyMetrics.maxDistinct(df, attrs).toInt, 0).foreach { u =>
      val driver = EntropyMetrics.powerRatio(driverRows(rows), u)
      assert(!driver.isNaN && driver != 1.0, s"adjusted base $u: $driver")
      val shuffled = rnd.shuffle(rows)
      assert(bits(EntropyMetrics.powerRatio(driverRows(shuffled), u)) === bits(driver))
      Seq(df.repartition(1), df.repartition(7), table(shuffled).repartition(3)).foreach { v =>
        assert(bits(EntropyMetrics.informationGainPowerRatio(v, attrs, u)) === bits(driver),
          s"adjusted base $u, ${v.rdd.getNumPartitions} partitions")
      }
      // above the driver cap: the GROUPING SETS pass sums its cluster means in
      // partition order, which moves ULPs only
      val grouped = EntropyMetrics.informationGainPowerRatio(df.repartition(7), attrs, u, 0)
      assert(close(grouped, driver), s"adjusted base $u: GROUPING SETS $grouped vs $driver")
    }
  }

  test("trial cluster-and-score: the driver path equals the distributed path") {
    val rnd = new scala.util.Random(31)
    def word(k: Int) = (1 to k).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // linkbench's link_many_trials shape, smaller: renamed right columns, the right
    // side's dates day-first, one attribute of each right copy corrupted or null
    val ents = (0 until 150).map(_ => (word(5), word(7),
      f"${1930 + rnd.nextInt(75)}%04d-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d",
      s"town${rnd.nextInt(12)}", f"${rnd.nextInt(60)}%04d"))
    val left = ents.zipWithIndex.map { case ((f, s, d, t, z), i) => (f"l$i%04d", f, s, d, t, z) }
      .toDF("uid", "first", "surname", "dob", "city", "postcode")
    val right = ents.zipWithIndex.map { case ((f, s, d, t, z), i) =>
      val fields = Array(f, s, s"${d.substring(8)}/${d.substring(5, 7)}/${d.substring(0, 4)}", t, z)
      val k = rnd.nextInt(5)
      fields(k) = rnd.nextInt(3) match {
        case 0 => fields(k).updated(0, 'z')
        case 1 => fields(k).dropRight(1)
        case _ => null
      }
      (f"r$i%04d", fields(0), fields(1), fields(2), fields(3), fields(4))
    }.toDF("uid", "given", "family", "birth", "town", "zip")
    val results = Seq(
      "link" -> AutoLinker.autoLinkTables(left, right, uidCol = "uid", maxEvals = 2, seed = 42L),
      "dedupe" -> AutoLinker.autoLink(left.unionByName(right.toDF(left.columns: _*)),
        uidCol = "uid", maxEvals = 2, seed = 42L))
    results.foreach { case (mode, res) =>
      val attrs = res.best.model.comparisons.map(_.column)
      val records = res.clusters.drop("cluster_id")
      val base = EntropyMetrics.maxDistinct(records, attrs).toInt
      def step(cap: Int) = {
        val (clusters, metric) =
          AutoLinker.clusterAndScore(records, "uid", res.predictions, 0.8, attrs, base, cap)
        (clusters, clusters.select("uid", "cluster_id").as[(String, String)].collect().toMap,
          metric)
      }
      val (clusters, driverMap, driverMetric) = step(ConnectedComponents.LocalCap)
      val (_, distributedMap, distributedMetric) = step(0)
      assert(driverMap.size === records.count(), mode)
      assert(driverMap.values.groupBy(identity).exists(_._2.size > 1), s"$mode: no merge")
      assert(driverMap === distributedMap, mode)
      assert(close(driverMetric, distributedMetric),
        s"$mode: driver $driverMetric vs distributed $distributedMetric")
      // the search ran the same step; the DataFrame metric of its clusters agrees exactly
      assert(bits(driverMetric) === bits(res.best.metric), mode)
      assert(bits(EntropyMetrics.informationGainPowerRatio(clusters, attrs, base)) ===
        bits(driverMetric), mode)
    }
  }

  test("schema match ranks pairings on the driver exactly as Spark's orderBy does") {
    // every pairing ties on its count, so the names decide: "Z" < "a" < "b" in
    // Spark's string order
    val left = Seq(("x", "x", "x"), ("y", "y", "y")).toDF("b", "a", "Z")
    val right = Seq(("x", "x"), ("y", "y")).toDF("d", "c")
    val ranked = SchemaMatch.pairingCounts(left, right, left.columns, right.columns)
      .orderBy(desc("match_count"), asc("left_col"), asc("right_col"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val expected = ranked.foldLeft(Seq.empty[(String, String, Long)]) { case (acc, p) =>
      if (acc.exists(m => m._1 == p._1 || m._2 == p._2)) acc else acc :+ p
    }
    assert(expected.map(m => (m._1, m._2)) === Seq(("Z", "c"), ("a", "d")))
    assert(SchemaMatch.greedyMapping(left, right, left.columns, right.columns) === expected)
  }

  test("schema match on the driver equals the distributed pairing counts") {
    // (a, c) and (a, d) tie at 4 matches and the names break the tie, which leaves d
    // to b. Cleaning folds "X-1" and "x1" together; nulls match nothing.
    val left = Seq(("x1", "p"), ("X-1", "p"), ("y", null), (null, "q")).toDF("a", "b")
    val right = Seq(("x1", "x1", 1), ("x1", "x1", 2), ("z", "p", 3)).toDF("c", "d", "e")
    val expected = SchemaMatch.greedyMapping(left, right, left.columns, right.columns, 0)
    assert(SchemaMatch.greedyMapping(left, right, left.columns, right.columns) === expected)
    assert(expected === Seq(("a", "c", 4L), ("b", "d", 2L)))
    // a probe past the cap falls back to the distributed counts
    assert(SchemaMatch.greedyMapping(left, right, left.columns, right.columns, 3) === expected)
  }

  test("maxDistinct and auto-link accept a single attribute column") {
    val rnd = new scala.util.Random(13)
    val names = (0 until 30).map(_ => (1 to 8).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    val df = names.zipWithIndex.flatMap { case (n, i) => Seq((s"a$i", n), (s"b$i", n + "x")) }
      .toDF("unique_id", "name")
    assert(EntropyMetrics.maxDistinct(df, Seq("name")) === 60L)
    intercept[IllegalArgumentException](EntropyMetrics.maxDistinct(df, Nil))
    val dedupe = AutoLinker.autoLink(df, maxEvals = 2, seed = 1L,
      comparisonSizeLimit = 1000000L, clusterThreshold = 0.5)
    assert(dedupe.trials.size === 2 && dedupe.clusters.count() === 60)
    // the schema match needs shared values: half the right names are exact copies
    val right = names.zipWithIndex
      .map { case (n, i) => (s"R$i", if (i % 2 == 0) n else n + "x") }
      .toDF("unique_id", "fullname")
    val linked = AutoLinker.autoLinkTables(df.filter(col("unique_id").startsWith("a")),
      right, maxEvals = 2, seed = 1L, comparisonSizeLimit = 1000000L, clusterThreshold = 0.5)
    assert(linked.trials.size === 2 && linked.clusters.count() === 60)
  }

  test("concurrent auto-link calls on one session return what sequential calls return") {
    val rnd = new scala.util.Random(17)
    val ents = (0 until 40).map { i =>
      ((1 to 10).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString, s"city${i % 5}",
        s"z${i % 12}")
    }
    val people = ents.zipWithIndex.flatMap { case ((n, c, z), i) =>
      Seq((s"a$i", n, c, z), (s"b$i", n + "x", c, z))
    }.toDF("unique_id", "name", "city", "zip")
    val left = ents.zipWithIndex.map { case ((n, c, z), i) => (s"L$i", n, c, z) }
      .toDF("id", "name", "city", "zip")
    val right = ents.zipWithIndex.map { case ((n, c, z), i) =>
      (s"R$i", n, if (i % 3 == 0) c + "x" else c, z)
    }.toDF("id", "fullname", "town", "postcode")
    // trial-metric bits, best rule, record → cluster; four trials = three concurrent
    // warmup trials plus one sequential TPE trial per call
    def outcome(r: AutoLinker.Result, uid: String) =
      (r.trials.map(t => java.lang.Double.doubleToLongBits(t.metric)), r.best.blockingRule,
        r.clusters.select(uid, "cluster_id").collect()
          .map(row => row.getString(0) -> row.getString(1)).toMap)
    def dedupe() = outcome(AutoLinker.autoLink(people, maxEvals = 4, seed = 5L,
      comparisonSizeLimit = 1000000L, clusterThreshold = 0.5), "unique_id")
    def link() = outcome(AutoLinker.autoLinkTables(left, right, uidCol = "id",
      maxEvals = 4, seed = 3L, comparisonSizeLimit = 1000000L, clusterThreshold = 0.5), "id")
    def twice[A](call: () => A): Seq[A] = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      Seq(Future(call()), Future(call())).map(Await.result(_, Duration.Inf))
    }
    Seq[(String, () => Any)]("autoLink" -> (() => dedupe()), "autoLinkTables" -> (() => link()))
      .foreach { case (name, call) =>
        val sequential = call()
        twice(call).foreach(out => assert(out === sequential, s"$name concurrent call"))
      }
  }

  test("auto-link end-to-end on planted duplicates finds them") {
    // names must be mutually distant (random strings) — a `personNNN` pattern would put
    // every pair within levenshtein 2 and make name similarity carry no signal (u1 ≈ 1)
    val rnd = new scala.util.Random(11)
    val rows = (0 until 80).flatMap { i =>
      val name = (1 to 10).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      val city = s"city${i % 5}"
      val zip = s"z${i % 20}"
      Seq((s"a$i", name, city, zip), (s"b$i", name + "x", city, zip)) // near-dup per entity
    }
    val df = rows.toDF("unique_id", "name", "city", "zip")
    // random search: a given seed deterministically explores 4 configurations; across
    // the seeds below at least one trial must pick a workable (rule, metric) combo
    val found = Seq(1L, 2L, 3L).exists { seed =>
      val res = AutoLinker.autoLink(df,
        attributeColumns = Some(Seq("name", "city", "zip")),
        maxEvals = 4, seed = seed, comparisonSizeLimit = 1000000L, clusterThreshold = 0.5)
      assert(res.trials.size === 4)
      res.clusters.groupBy("cluster_id").count().filter(col("count") > 1).count() > 0
    }
    assert(found, "no seed produced any non-singleton cluster on planted duplicates")
  }

  test("clustersAtThreshold re-clusters without retraining; 1.0 yields only exact-score merges") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 60).flatMap { i =>
      val name = (1 to 10).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      Seq((s"a$i", name, s"city${i % 5}", s"z${i % 20}"),
        (s"b$i", name + "x", s"city${i % 5}", s"z${i % 20}"))
    }
    val df = rows.toDF("unique_id", "name", "city", "zip")
    val res = AutoLinker.autoLink(df,
      attributeColumns = Some(Seq("name", "city", "zip")),
      maxEvals = 2, seed = 2L, comparisonSizeLimit = 1000000L, clusterThreshold = 0.5)
    def nontrivial(c: org.apache.spark.sql.DataFrame) =
      c.groupBy("cluster_id").count().filter(col("count") > 1).count()
    val at05 = res.clustersAtThreshold("unique_id", 0.5)
    // same threshold as the original run → identical cluster structure
    assert(nontrivial(at05) === nontrivial(res.clusters))
    assert(at05.count() === res.clusters.count())
    // a stricter threshold can only split (fewer or equal merged clusters)
    assert(nontrivial(res.clustersAtThreshold("unique_id", 0.999)) <= nontrivial(at05))
  }

  test("auto-link records supervised metrics per trial when a true label is given") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 60).flatMap { i =>
      val name = (1 to 10).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      Seq((s"a$i", name, s"city${i % 5}", s"e$i"), (s"b$i", name + "x", s"city${i % 5}", s"e$i"))
    }
    val df = rows.toDF("unique_id", "name", "city", "ent")
    val res = AutoLinker.autoLink(df,
      attributeColumns = Some(Seq("name", "city")),
      maxEvals = 2, seed = 1L, comparisonSizeLimit = 1000000L, clusterThreshold = 0.5,
      trueLabelCol = Some("ent"))
    assert(res.trials.forall(_.supervised.nonEmpty))
    assert(res.best.supervised.contains("f1_score"))
    assert(res.best.supervised.contains("adjusted_mutual_info"))
    assert(res.best.supervised("rr") > 0) // 60 relevant (true-dup) pairs exist
  }

  test("link-mode auto-link recovers the column mapping and links entities across tables") {
    val rnd = new scala.util.Random(5)
    val ents = (0 until 60).map { i =>
      ((1 to 10).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString,
        s"city${i % 5}", s"z${i % 12}")
    }
    // same entities in both tables under renamed columns; a third of the right cities
    // carry a typo (Y10 needs value overlap per pairing, the linker needs fuzz to chew on)
    val left = ents.zipWithIndex.map { case ((n, c, z), i) => (s"L$i", n, c, z) }
      .toDF("id", "name", "city", "zip")
    val right = ents.zipWithIndex.map { case ((n, c, z), i) =>
      (s"R$i", n, if (i % 3 == 0) c + "x" else c, z)
    }.toDF("id", "fullname", "town", "postcode")
    val found = Seq(2L, 3L, 4L).exists { seed =>
      val res = AutoLinker.autoLinkTables(left, right, uidCol = "id",
        maxEvals = 3, seed = seed, comparisonSizeLimit = 1000000L, clusterThreshold = 0.5)
      // aligned to left's names: gammas are over left columns
      assert(res.predictions.columns.count(_.startsWith("gamma_")) > 0)
      assert(res.clusters.count() === 120)
      res.clusters
        .groupBy("cluster_id")
        .agg(
          sum(when(col("id").startsWith("l-"), 1).otherwise(0)).as("nl"),
          sum(when(col("id").startsWith("r-"), 1).otherwise(0)).as("nr"))
        .filter(col("nl") > 0 && col("nr") > 0).count() > 0
    }
    assert(found, "no seed produced a cluster spanning both tables")
  }

  test("native TPE search does at least as well as random search at equal budget") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 80).flatMap { i =>
      val name = (1 to 10).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      Seq((s"a$i", name, s"city${i % 5}", s"z${i % 20}"),
        (s"b$i", name + "x", s"city${i % 5}", s"z${i % 20}"))
    }
    val df = rows.toDF("unique_id", "name", "city", "zip")
    def run(strategy: String) = AutoLinker.autoLink(df,
      attributeColumns = Some(Seq("name", "city", "zip")),
      maxEvals = 5, seed = 3L, comparisonSizeLimit = 1000000L, clusterThreshold = 0.5,
      searchStrategy = strategy).best.metric
    val random = run("random")
    val tpe = run("tpe")
    assert(tpe >= random - 1e-9, s"tpe=$tpe random=$random")
  }

  test("auto-link rejects an unknown search strategy and maxEvals = 0 before any Spark job") {
    val df = Seq(("a1", "x", "p"), ("a2", "y", "q")).toDF("unique_id", "name", "city")
    val right = Seq(("b1", "x", "p")).toDF("unique_id", "fullname", "town")
    val calls: Seq[(String, (String, Int) => Any)] = Seq(
      "autoLink" -> ((strategy, evals) =>
        AutoLinker.autoLink(df, maxEvals = evals, searchStrategy = strategy)),
      "autoLinkTables" -> ((strategy, evals) =>
        AutoLinker.autoLinkTables(df, right, maxEvals = evals, searchStrategy = strategy)))
    val tracker = spark.sparkContext.statusTracker
    calls.foreach { case (name, call) =>
      Seq(("adaptive", 5, Seq("tpe", "random", "adaptive")), ("tpe", 0, Seq("maxEvals", "0")))
        .foreach { case (strategy, evals, named) =>
          val group = s"reject-$name-$strategy-$evals"
          spark.sparkContext.setJobGroup(group, group)
          val err = try intercept[IllegalArgumentException](call(strategy, evals))
            finally spark.sparkContext.clearJobGroup()
          named.foreach(w => assert(err.getMessage.contains(w), s"$name: ${err.getMessage}"))
          assert(tracker.getJobIdsForGroup(group).isEmpty, s"$name ran a Spark job first")
        }
    }
  }

  test("auto-link degenerate inputs: a defined result or a clear error, in both modes") {
    val rnd = new scala.util.Random(23)
    val names = (0 until 25).map(_ => (1 to 8).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    // 25 entities, each once per table (half the right names exact copies, so the
    // link-mode schema match finds value overlap); `country` holds one value, `note` none
    def table(prefix: String, fuzz: Int => String) = names.zipWithIndex.map { case (n, i) =>
      (s"$prefix$i", n + fuzz(i), s"city${i % 5}", "uk", Option.empty[String])
    }.toDF("unique_id", "name", "city", "country", "note")
    val left = table("a", _ => "")
    val right = table("b", i => if (i % 2 == 0) "" else "x")
    val both = left.unionByName(right)
    def one(df: DataFrame, id: String) = df.filter(col("unique_id") === id)
    // (case, dedupe input, link inputs, attribute columns, candidate-rule override)
    val cases = Seq(
      ("empty table", both.limit(0), (left, right.limit(0)), None, None),
      ("single row", one(both, "a0"), (one(left, "a0"), one(right, "b0")), None, None),
      ("all-null column", both, (left, right), Some(Seq("name", "note")), None),
      ("single-distinct column", both, (left, right), Some(Seq("name", "country")), None),
      ("one block holding every row", both, (left, right), None,
        Some(Seq("l.country = r.country"))))
    cases.foreach { case (name, data, (l, r), attrs, rules) =>
      val calls = Seq(
        "autoLink" -> (() => AutoLinker.autoLink(data, attributeColumns = attrs,
          maxEvals = 1, seed = 1L, candidateRuleOverride = rules)),
        "autoLinkTables" -> (() => AutoLinker.autoLinkTables(l, r, leftAttributes = attrs,
          rightAttributes = attrs, maxEvals = 1, seed = 1L, candidateRuleOverride = rules)))
      calls.foreach { case (mode, call) =>
        val what = s"$name, $mode"
        if (name == "empty table") {
          // dedupe stops at the row count (λ0 = 1/N is undefined for N = 0); link
          // mode earlier, at the schema match, which finds no shared value
          val err = intercept[IllegalArgumentException](call())
          assert(err.getMessage.contains(
            if (mode == "autoLink") "at least one input row" else "no column correspondence"),
            s"$what: ${err.getMessage}")
        } else {
          val res = call()
          val rows = if (mode == "autoLink") data.count() else l.count() + r.count()
          assert(res.trials.size === 1, what)
          assert(!res.best.metric.isNaN && !res.best.metric.isInfinite, what)
          assert(res.clusters.count() === rows, what)
          // the model serializes to JSON that reads back (no NaN / Infinity), and its
          // prior weight log2(λ/(1−λ)) is finite — also for a single row
          val model = res.best.model
          assert(model.lambda > 0 && model.lambda < 1, s"$what: λ = ${model.lambda}")
          val priorWeight = math.log(model.lambda / (1 - model.lambda))
          assert(!priorWeight.isNaN && !priorWeight.isInfinite, s"$what: λ = ${model.lambda}")
          assert(TrainedModel.fromJson(model.toJson).toJson === model.toJson, what)
          // a rule on the all-null column would pair nothing
          assert(res.trials.forall(t => !BlockingRule.parse(t.blockingRule).columns
            .contains("note")), s"$what: ${res.trials.map(_.blockingRule)}")
        }
      }
    }
    // no attribute with a non-null value leaves no rule to draw
    val err = intercept[IllegalArgumentException](AutoLinker.autoLink(both,
      attributeColumns = Some(Seq("note")), maxEvals = 1, seed = 1L))
    assert(err.getMessage.contains("non-null value"), err.getMessage)
  }

  // ---- expectations ---------------------------------------------------------

  test("expectations: each check family counts its planted violations exactly") {
    import graft.metrics.Expectations._
    val df = Seq(
      (1L, 1, 10.0, "F", 100L),   // clean
      (1L, 2, -3.0, "F", 100L),   // range violation
      (2L, 1, 10.0, "X", 100L),   // accepted-values violation
      (2L, 1, 10.0, "F", 999L),   // duplicate key + FK orphan
      (3L, 1, 10.0, null, 100L)   // null flag (violates not_null AND accepted)
    ).toDF("k", "ln", "qty", "flag", "fk")
    val dim = Seq(100L, 101L).toDF("id")
    val out = validate(df, Seq(
        NotNull("flag"),
        InRange("qty", 0, 50),
        AcceptedValues("flag", Seq("F", "O")),
        Unique(Seq("k", "ln")),
        RefIntegrity("fk", dim, "id")))
      .orderBy("check_id")
      .as[(Int, String, String, Long, Long, Double, Boolean)].collect().toSeq
    assert(out.map(r => (r._2, r._4, r._5, r._7)) === Seq(
      ("not_null", 5L, 1L, false),
      ("in_range", 5L, 1L, false),
      ("accepted_values", 5L, 2L, false),
      ("unique", 5L, 1L, false),
      ("ref_integrity", 5L, 1L, false)))
    assert(out.head._6 === 0.2)
  }

  test("expectations: a clean table passes everything; rates are 0") {
    import graft.metrics.Expectations._
    val df = Seq((1L, "a", 5.0), (2L, "b", 7.0)).toDF("id", "s", "x")
    val out = validate(df, Seq(
        NotNull("s"), InRange("x", 0, 10), Unique(Seq("id")),
        RefIntegrity("id", Seq(1L, 2L, 3L).toDF("id"), "id", broadcastDim = false)))
      .as[(Int, String, String, Long, Long, Double, Boolean)].collect()
    assert(out.forall(r => r._5 === 0L && r._6 === 0.0 && r._7))
    assert(out.length === 4)
  }

  // ---- inter-annotator agreement -------------------------------------------

  test("Cohen's kappa: textbook 2x2 fixture") {
    import graft.metrics.Agreement
    // classic fixture: po = 0.7, marginals A(yes)=0.5/B(yes)=0.6 -> pe = 0.5,
    // kappa = (0.7-0.5)/0.5 = 0.4
    val rows =
      (1 to 20).map { i =>
        val a = if (i <= 10) "yes" else "no"
        // agree on 7 of A's yes and 7 of A's no
        val b = if (i <= 7) "yes" else if (i <= 10) "no"
            else if (i <= 13) "yes" else "no"
        (i, a, b)
      }.flatMap { case (i, a, b) => Seq((i, "A", a), (i, "B", b)) }
    val out = Agreement.cohensKappa(rows.toDF("item", "rater", "cat"),
        col("item"), col("rater"), col("cat"), "A", "B")
      .as[(Long, Double, Double)].collect()(0)
    assert(out._1 === 20L)
    assert(out._2 === 0.7)
    assert(out._3 === 0.4)
  }

  test("Fleiss' kappa: perfect agreement is 1; the Wikipedia worked example matches") {
    import graft.metrics.Agreement
    val perfect = (1 to 12).flatMap(i =>
      Seq("A", "B", "C").map(r => (i, r, (i % 3).toString)))
    val p = Agreement.fleissKappa(perfect.toDF("item", "rater", "cat"),
        col("item"), col("rater"), col("cat"))
      .as[(Long, Long, Double, Double, Double)].collect()(0)
    assert((p._1, p._2, p._3, p._5) === ((12L, 3L, 1.0, 1.0)))
    // Fleiss 1971 / Wikipedia table: 10 items x 14 raters x 5 cats, kappa = 0.209930
    val counts = Seq(
      Seq(0, 0, 0, 0, 14), Seq(0, 2, 6, 4, 2), Seq(0, 0, 3, 5, 6),
      Seq(0, 3, 9, 2, 0), Seq(2, 2, 8, 1, 1), Seq(7, 7, 0, 0, 0),
      Seq(3, 2, 6, 3, 0), Seq(2, 5, 3, 2, 2), Seq(6, 5, 2, 1, 0),
      Seq(0, 2, 2, 3, 7))
    val long = counts.zipWithIndex.flatMap { case (cs, item) =>
      val cats = cs.zipWithIndex.flatMap { case (n, c) => Seq.fill(n)(c.toString) }
      cats.zipWithIndex.map { case (cat, r) => (item, s"rater$r", cat) }
    }
    val w = Agreement.fleissKappa(long.toDF("item", "rater", "cat"),
        col("item"), col("rater"), col("cat"))
      .as[(Long, Long, Double, Double, Double)].collect()(0)
    assert((w._1, w._2) === ((10L, 14L)))
    assert(math.abs(w._3 - 0.378022) < 1e-6, s"p_bar ${w._3}")
    assert(math.abs(w._5 - 0.209930) < 1e-5, s"kappa ${w._5}")
  }

  test("Fleiss' kappa drops items not rated by the full panel") {
    import graft.metrics.Agreement
    val full = (1 to 6).flatMap(i =>
      Seq("A", "B").map(r => (i, r, if (i % 2 == 0) "x" else "y")))
    val partial = Seq((7, "A", "x")) // only one rater
    val out = Agreement.fleissKappa((full ++ partial).toDF("item", "rater", "cat"),
        col("item"), col("rater"), col("cat"))
      .as[(Long, Long, Double, Double, Double)].collect()(0)
    assert(out._1 === 6L)
  }

  test("benford: hand-computed digit shares; zeros/sub-half-cent/sign handled") {
    import graft.metrics.Profile
    val df = Seq(Some(1.0), Some(1.5), Some(2.0), Some(0.0), Some(9.99),
      Some(-3.0), Some(0.004), None).toDF("x")
    val out = Profile.benford(df, col("x")).orderBy("digit")
      .as[(Int, Long, Double, Double, Double)].collect().toSeq
    // kept: 1.0, 1.5 → digit 1; 2.0 → 2; -3.0 → 3 (sign dropped); 9.99 → 9
    // dropped: 0.0 and 0.004 (no leading digit), null
    assert(out.map(r => (r._1, r._2)) === Seq((1, 2L), (2, 1L), (3, 1L), (9, 1L)))
    assert(out.head._3 === 0.4) // share of digit 1 = 2/5
    assert(out.head._4 === 0.30103) // log10(2)
    assert(out.head._5 === 0.09897)
  }

  test("association: functional dependency scores 1; independence and constants score 0") {
    import graft.metrics.Association
    // perfect bijective dependency: MI = H = ln 3, NMI = V = 1
    val dep = (1 to 30).map(i =>
      (i.toLong, Seq("a", "b", "c")(i % 3), Seq("A", "B", "C")(i % 3))).toDF("id", "x", "y")
    val d = Association.pairwiseStats(dep, "id", Seq("x", "y"))
      .as[(String, String, Long, Double, Double, Double)].collect().head
    assert((d._1, d._2, d._3) === (("x", "y", 30L)))
    assert(math.abs(d._4 - math.log(3)) < 1e-6)
    assert(d._5 === 1.0 && d._6 === 1.0)
    // exact independence: every statistic is exactly 0
    val ind = (0 until 40).map(i =>
      (i.toLong, if (i % 2 == 0) "a" else "b", if ((i / 2) % 2 == 0) "p" else "q"))
      .toDF("id", "x", "y")
    val ir = Association.pairwiseStats(ind, "id", Seq("x", "y")).as[(String, String, Long, Double, Double, Double)].collect().head
    assert((ir._4, ir._5, ir._6) === ((0.0, 0.0, 0.0)))
    // constant column: zero entropy and r=1 hit both guard branches
    val const = (1 to 10).map(i =>
      (i.toLong, "k", if (i % 2 == 0) "p" else "q")).toDF("id", "x", "y")
    val cr = Association.pairwiseStats(const, "id", Seq("x", "y")).as[(String, String, Long, Double, Double, Double)].collect().head
    assert((cr._4, cr._5, cr._6) === ((0.0, 0.0, 0.0)))
  }
}
