package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.expressions.{BoundedLevenshtein, EntropyAgg, EstimateSquaredCountOR, JaroWinkler, TokenSetJaccard, ToSplinkRule}
import graft.functions._

class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("combinations: C(4,2) = 6, each sized 2, all distinct") {
    val df = Seq(1).toDF("x").select(
      generate_combinations(lit(2), array(lit("a"), lit("b"), lit("c"), lit("d"))).as("c"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows.length === 6)
    assert(rows.forall(_.length == 2))
    assert(rows.map(_.toSet).distinct.length === 6)
  }

  test("partial combinations: extending C(10,2) partials by 3 gives C(10,5) distinct sets") {
    val elements = (1 to 10).map(i => s"e$i")
    val partials = elements.combinations(2).toSeq
    val df = partials.map(p => Tuple1(p)).toDF("partial").select(
      generate_partial_combinations(
        lit(3), col("partial"), array(elements.map(lit): _*)).as("c"))
    val sets = df.collect().map(_.getSeq[String](0).toSet).distinct
    assert(sets.length === 252) // C(10,5)
    assert(sets.forall(_.size == 5))
  }

  test("combinatorial count agg matches naive group-by counts") {
    val data = Seq(("a", "x"), ("a", "x"), ("a", "y"), ("b", "x"), ("b", "x"), ("b", "x"))
    val df = data.toDF("c1", "c2")
    val m = df.agg(combinatorial_count_agg(2, 0L, 1000, "c1" -> col("c1"), "c2" -> col("c2"))
        .as("m"))
      .collect()(0).getMap[String, Long](0)
    assert(m("c1,c2;a,x") === 2L)
    assert(m("c1,c2;a,y") === 1L)
    assert(m("c1,c2;b,x") === 3L)
  }

  test("merge count map agg sums per-bucket maps to the global counts") {
    val data = (1 to 100).map(i => (i % 4, s"v${i % 7}"))
    val df = data.toDF("bucket", "c1")
    val merged = df
      .groupBy($"bucket")
      .agg(combinatorial_count_agg(1, 0L, 1000, "c1" -> col("c1")).as("m"))
      .agg(merge_count_map_agg($"m").as("m"))
      .collect()(0).getMap[String, Long](0)
    val expected = data.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    expected.foreach { case (v, n) => assert(merged(s"c1;$v") === n) }
  }

  test("array avg agg: hand-computed mean, nulls ignored, empty group is null, merge across buckets") {
    val df = Seq(
      (1, Some(Seq(1.0, 2.0))),
      (1, Some(Seq(3.0, 6.0))),
      (1, None),
      (2, None)).toDF("g", "v")
    val out = df.groupBy("g")
      .agg(graft.functions.array_avg_agg(col("v")).as("m"))
      .collect().map(r => r.getInt(0) -> Option(r.getSeq[Double](1))).toMap
    assert(out(1).get === Seq(2.0, 4.0))
    assert(out(2).isEmpty)
    // a null ELEMENT drops the row whole — it must not pool as a fabricated 0.0
    val withNullElem = Seq(
      (1, Seq[java.lang.Double](1.0, 2.0)),
      (1, Seq[java.lang.Double](3.0, null))).toDF("g", "v")
    val m = withNullElem.groupBy("g")
      .agg(graft.functions.array_avg_agg(col("v")).as("m"))
      .collect()(0).getSeq[Double](1)
    assert(m === Seq(1.0, 2.0))
    // partial-buffer merge path: pre-bucketed partials combine to the global mean
    val big = (1 to 64).map(i => (i % 8, Seq(i.toDouble, -i.toDouble))).toDF("b", "v")
    val merged = big.groupBy("b").agg(graft.functions.array_avg_agg(col("v")).as("m"))
      .agg(graft.functions.array_avg_agg(col("m")).as("m"))
      .collect()(0).getSeq[Double](0)
    // each bucket mean averages to the global mean only because buckets are equal-sized
    assert(merged === Seq(32.5, -32.5))
  }

  test("entropy agg matches closed form (base 0 with divisor quirk, and base > 0)") {
    // 8 rows: colA has 4 distinct with counts 4,2,1,1; colB has 2 distinct 6,2.
    val rows = Seq("p", "p", "p", "p", "q", "q", "r", "s").zip(
      Seq("m", "m", "m", "m", "m", "m", "n", "n"))
    val df = rows.toDF("a", "b")
    val got = df.agg(entropy_agg(0, "a" -> $"a", "b" -> $"b").as("e"))
      .collect()(0).getMap[String, Double](0)
    def h(counts: Seq[Long], base: Int): Double = EntropyAgg.entropy(
      counts.zipWithIndex.map { case (c, i) => i.toString -> c }.toMap, base)
    assert(math.abs(got("a") - h(Seq(4, 2, 1, 1), 0)) < 1e-12)
    assert(math.abs(got("b") - h(Seq(6, 2), 0)) < 1e-12)
    // closed-form cross-check of the helper itself
    val pa = Seq(4.0, 2.0, 1.0, 1.0).map(_ / 8)
    val expA = -pa.map(p => p * math.log10(p)).sum / math.log10(4.0)
    assert(math.abs(got("a") - expA) < 1e-12)
    val got10 = df.agg(entropy_agg(10, "a" -> $"a", "b" -> $"b").as("e"))
      .collect()(0).getMap[String, Double](0)
    assert(math.abs(got10("a") - (-pa.map(p => p * math.log10(p)).sum)) < 1e-12)
  }

  test("entropy matches the reference's pinned 8-row expectations (±1e-3 rounding)") {
    // fidelity pin: same fixture and closed forms as the reference's unit test
    // (reference: scala/.../ARC_EntropyAggBehaviors.scala:42-92) — entropy of column k
    // with N_k distinct values is -Σ p·ln(p) / ln(N_k), rounded ×1000
    val rows = Seq(
      ("a", "b", "c", "d"), ("a", "b", "c", "c"), ("a", "b", "c", "g"),
      ("g", "h1", ";", "a0"), ("g", "h2", "+", "a1"), ("g", "h3", "/", "a2"),
      ("g", "h1", ";", "a2"), ("g", "h2", "1", "a1"))
    val df = rows.toDF("a", "b", "c", "d")
    val got = df.agg(entropy_agg(0,
        "a" -> $"a", "b" -> $"b", "c" -> $"c", "d" -> $"d").as("e"))
      .collect()(0).getMap[String, Double](0)
    def h(counts: Seq[Double], base: Double): Double =
      -counts.map(c => c / 8.0 * math.log(c / 8.0)).sum / math.log(base)
    val expected = Map(
      "a" -> h(Seq(3, 5), 2),
      "b" -> h(Seq(3, 2, 2, 1), 4),
      "c" -> h(Seq(3, 2, 1, 1, 1), 5),
      "d" -> h(Seq(1, 1, 1, 1, 2, 2), 6))
    expected.foreach { case (c, exp) =>
      assert(math.round(1000 * got(c)) === math.round(1000 * exp), c)
    }
  }

  test("entropy divisor quirk: <2 distinct or exactly 10 distinct divides by 1.0") {
    assert(EntropyAgg.entropy(Map("x" -> 5L), 0) === 0.0)
    val ten = (1 to 10).map(i => i.toString -> 1L).toMap
    // -sum(0.1*log10(0.1)) = 1.0; divisor 1.0 → 1.0 (same as log10(10), quirk is benign here)
    assert(math.abs(EntropyAgg.entropy(ten, 0) - 1.0) < 1e-12)
  }

  test("to_splink_rule renders AND/OR structure") {
    assert(ToSplinkRule.render(Seq("a,b", "c")) === "(l.a = r.a AND l.b = r.b) OR (l.c = r.c)")
    assert(ToSplinkRule.render(Seq("x")) === "(l.x = r.x)")
  }

  test("estimate_squared_count_or: single rule → avg_k; pairs use inclusion-exclusion") {
    val stats = Map("r1" -> (10L, 100L), "r2" -> (20L, 50L))
    assert(EstimateSquaredCountOR.estimate(Seq("r1"), stats) === 100L)
    assert(EstimateSquaredCountOR.estimate(Seq("r1", "r2"), stats) ===
      10L * 50L + 20L * 100L - 100L * 50L)
    assert(EstimateSquaredCountOR.estimate(Seq("r1", "missing"), stats) === 0L)
  }

  test("jaro-winkler matches DuckDB-pinned values") {
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("abc", "cba", 0.5555555555555555),
      ("ab", "ba", 0.0),
      ("crate", "trace", 0.7333333333333334),
      ("dwayne", "duane", 0.8400000000000001),
      ("abcd", "abxy", 0.6666666666666666), // below boost threshold: no prefix bonus
      ("aby", "abz", 0.8222222222222222),   // above threshold: bonus applied
      ("Customer#000000001", "Customer#000000010", 0.9888888888888889),
      ("a", "a", 1.0), ("", "abc", 0.0), ("", "", 0.0))
    cases.foreach { case (a, b, exp) =>
      assert(math.abs(JaroWinkler.similarity(a, b) - exp) < 1e-15, s"($a,$b)")
    }
  }

  test("jaro-winkler is symmetric and bounded (property)") {
    val rnd = new scala.util.Random(42)
    def randStr(): String = {
      val n = rnd.nextInt(13)
      (1 to n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    }
    (1 to 500).foreach { _ =>
      val a = randStr(); val b = randStr()
      val s = JaroWinkler.similarity(a, b)
      assert(s >= 0.0 && s <= 1.0)
      assert(math.abs(s - JaroWinkler.similarity(b, a)) < 1e-15)
      if (a == b && a.nonEmpty) assert(s === 1.0)
    }
  }

  test("bounded levenshtein equals the full distance capped at t (property)") {
    def full(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(7)
    def randStr(): String =
      (1 to rnd.nextInt(15)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    (1 to 2000).foreach { _ =>
      val a = randStr(); val b = randStr(); val t = rnd.nextInt(6)
      val exp = { val d = full(a, b); if (d <= t) d else -1 }
      assert(BoundedLevenshtein.within(a, b, t) === exp, s"($a,$b,t=$t)")
    }
    assert(BoundedLevenshtein.within("", "", 0) === 0)
    assert(BoundedLevenshtein.within("abc", "", 3) === 3)
    assert(BoundedLevenshtein.within("abc", "", 2) === -1)
    // code-point semantics: a supplementary character is ONE edit, not two
    assert(BoundedLevenshtein.within("😀a", "xa", 1) === 1)
    assert(BoundedLevenshtein.within("😀", "😀", 0) === 0)
  }

  test("bounded levenshtein agrees with Spark's built-in on pair columns") {
    val df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .select(col("c_name").as("l"),
        concat(substring(col("c_name"), 1, 15), lit("xyz")).as("r"))
    val mismatches = df.filter(
      (graft.functions.bounded_levenshtein(col("l"), col("r"), 3) >= 0) =!=
        (levenshtein(col("l"), col("r")) <= 3)).count()
    assert(mismatches === 0)
  }

  test("gamma matches the when ladder under interpreted and generated evaluation") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.expressions.{CharSetJaccard, Gamma, RefLiteral}
    val l = BoundReference(0, StringType, nullable = true)
    val r = BoundReference(1, StringType, nullable = true)
    // the ladder as `when` chains over the similarity kernels, as gammas were built
    // before they became one expression
    def ladder(metric: String, t: Double): Expression = {
      val within = metric match {
        case "levenshtein" => GreaterThanOrEqual(BoundedLevenshtein(l, r, t.toInt), Literal(0))
        case "jaccard" => GreaterThanOrEqual(CharSetJaccard(l, r), Literal(t))
        case "jaro_winkler" => GreaterThanOrEqual(JaroWinkler(l, r), Literal(t))
      }
      CaseWhen(Seq(Or(IsNull(l), IsNull(r)) -> Literal(-1), EqualTo(l, r) -> Literal(2),
        within -> Literal(1)), Literal(0))
    }
    def generated(e: Expression, row: InternalRow): Int =
      GenerateUnsafeProjection.generate(Seq(e)).apply(row).getInt(0)
    // each metric exactly at its threshold for ("kitten", "sitting") and one step
    // either side: Levenshtein distance 3, character-set Jaccard 4/7, Jaro-Winkler
    val jac = CharSetJaccard.similarity("kitten", "sitting")
    val jw = JaroWinkler.similarity("kitten", "sitting")
    val specs = Seq(2.0, 3.0, 4.0, 3.7).map("levenshtein" -> _) ++
      Seq(math.nextDown(jac), jac, math.nextUp(jac), 0.7).map("jaccard" -> _) ++
      Seq(math.nextDown(jw), jw, math.nextUp(jw), 0.7).map("jaro_winkler" -> _)
    val inputs = Seq(
      ("kitten", "sitting"), (null, "a"), ("a", null), (null, null), ("same", "same"),
      ("", ""), ("", "a"), ("a", ""), ("a\uD83D\uDE00b", "a\uD83D\uDE00c"),
      ("\uD83D\uDE00", "\uD83D\uDE01"), ("martha", "marhta"), ("abc", "xyz"))
    val levels = for ((metric, t) <- specs; (a, b) <- inputs) yield {
      val row = InternalRow(UTF8String.fromString(a), UTF8String.fromString(b))
      val g = Gamma(l, r, metric, t)
      val want = ladder(metric, t).eval(row)
      assert(g.eval(row) === want, s"interpreted $metric $t ($a, $b)")
      assert(generated(g, row) === want, s"generated $metric $t ($a, $b)")
      assert(generated(ladder(metric, t), row) === want, s"ladder $metric $t ($a, $b)")
      (metric, t, a, b) -> want
    }
    val byCase = levels.toMap
    // at the threshold is within it; a step past it is not
    assert(byCase(("levenshtein", 3.0, "kitten", "sitting")) === 1)
    assert(byCase(("levenshtein", 2.0, "kitten", "sitting")) === 0)
    assert(byCase(("jaccard", jac, "kitten", "sitting")) === 1)
    assert(byCase(("jaccard", math.nextUp(jac), "kitten", "sitting")) === 0)
    assert(byCase(("jaro_winkler", jw, "kitten", "sitting")) === 1)
    assert(byCase(("jaro_winkler", math.nextUp(jw), "kitten", "sitting")) === 0)
    assert(byCase(("levenshtein", 3.0, null, "a")) === -1)
    assert(byCase(("jaccard", 0.7, "", "")) === 2)
    // a non-BMP character is one Levenshtein step
    assert(byCase(("levenshtein", 2.0, "\uD83D\uDE00", "\uD83D\uDE01")) === 1)
    // the parameter leaf: the value under both evaluations
    Seq(RefLiteral.of(0.25), RefLiteral.of(7), RefLiteral.of("x")).foreach { p =>
      val generatedValue = GenerateUnsafeProjection.generate(Seq(p)).apply(InternalRow.empty)
      assert(generatedValue.get(0, p.dataType) === p.eval(InternalRow.empty))
      assert(!p.foldable && p.eval(InternalRow.empty) === Literal(p.value, p.dataType).value)
    }
    assert(RefLiteral.of(0.25).dataType === DoubleType && RefLiteral.of(7).dataType === IntegerType)
    intercept[IllegalArgumentException](Gamma(l, r, "soundex", 1.0))
  }

  test("token jaccard") {
    assert(TokenSetJaccard.similarity("a b c", "b c d") === 2.0 / 4.0)
    assert(TokenSetJaccard.similarity("a a b", "a b") === 1.0)
    assert(TokenSetJaccard.similarity("", "") === 0.0)
    assert(TokenSetJaccard.similarity("x", "") === 0.0)
  }

  test("similarity expressions run inside the query engine on columns") {
    val df = Seq(("martha", "marhta"), ("abc", "abc")).toDF("l", "r")
      .select(jaro_winkler($"l", $"r").as("jw"), token_set_jaccard($"l", $"r").as("jac"),
        levenshtein($"l", $"r").as("lev"))
    val rows = df.collect()
    assert(math.abs(rows(0).getDouble(0) - 0.9611111111111111) < 1e-15)
    assert(rows(1).getDouble(0) === 1.0)
    assert(rows(0).getInt(2) === 2)
  }

  test("vector expressions: dot, argmax centroid with lowest-index ties, signatures") {
    import graft.functions.{array_dot, nearest_centroid, hyperplane_signatures}
    val centroids = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0)) // 0 and 2 tie
    val df = Seq(
      (Seq(2.0, 1.0), Seq(3.0, 4.0)),  // dot = 10; nearest = centroid 0 (tie with 2 → 0)
      (Seq(0.0, 5.0), Seq(1.0, 0.0))   // dot = 0;  nearest = centroid 1
    ).toDF("v", "w")
      .select(array_dot($"v", $"w").as("dot"),
        nearest_centroid($"v", centroids).as("cell"),
        hyperplane_signatures($"v", Array(Array(1.0, -1.0), Array(-1.0, 1.0)), 2).as("sig"))
    val rows = df.collect()
    assert(rows(0).getDouble(0) === 10.0)
    assert(rows(0).getInt(1) === 0) // tie between equal centroids resolves to lowest index
    assert(rows(1).getDouble(0) === 0.0)
    assert(rows(1).getInt(1) === 1)
    // v=(2,1): v·(1,-1)=1>0 → bit 0; v·(-1,1)=-1≤0 → no bit 1 ⇒ signature 1
    assert(rows(0).getSeq[Int](2) === Seq(1))
    // v=(0,5): v·(1,-1)=-5≤0; v·(-1,1)=5>0 → bit 1 ⇒ signature 2
    assert(rows(1).getSeq[Int](2) === Seq(2))
  }

  private def cdcOf(bytes: Array[Byte], minS: Int = 16, bits: Int = 6, maxS: Int = 256)
      : Seq[(Int, Int, Long)] = {
    import graft.functions.cdc_chunks
    val df = Seq(Tuple1(bytes)).toDF("b")
      .select(explode(cdc_chunks($"b", minS, bits, maxS)).as("c"))
      .select($"c.offset", $"c.length", $"c.hash")
    df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
  }

  private def pseudoBytes(n: Int, seed: Int): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n)(rnd.nextInt(256).toByte)
  }

  test("cdc_chunks: chunks partition the payload and respect min/max bounds") {
    val data = pseudoBytes(4096, 11)
    val chunks = cdcOf(data)
    // contiguous exact cover
    assert(chunks.head._1 === 0)
    chunks.sliding(2).foreach { case Seq(a, b) => assert(b._1 === a._1 + a._2); case _ => }
    assert(chunks.map(_._2).sum === data.length)
    // every chunk but the final partial one within [min, max]
    chunks.init.foreach { c => assert(c._2 >= 16 && c._2 <= 256, s"chunk $c") }
    assert(chunks.last._2 <= 256)
    // average near minSize + 2^avgBits = 80: expect several chunks, not one giant
    assert(chunks.length >= 4096 / 256)
    // identical content → identical chunking (determinism)
    assert(cdcOf(data) === chunks)
  }

  test("cdc_chunks: boundaries resynchronize after a local edit (the CDC property)") {
    val base = pseudoBytes(4096, 23)
    // insert 3 bytes near the front — a fixed-size chunker would shift EVERY block
    val edited = (base.take(100) ++ Array[Byte](1, 2, 3) ++ base.drop(100))
    val a = cdcOf(base).map(_._3)
    val b = cdcOf(edited).map(_._3)
    val shared = a.toSet.intersect(b.toSet).size.toDouble
    assert(shared / a.size >= 0.8,
      s"only ${shared.toInt}/${a.size} chunk hashes survived a 3-byte insert")
    // and the tail (beyond resync) is hash-identical in order
    assert(a.takeRight(3) === b.takeRight(3))
  }

  test("cdc_chunks: empty payload chunks to nothing; avgBits scales chunk count") {
    assert(cdcOf(Array.emptyByteArray) === Seq.empty)
    val data = pseudoBytes(8192, 5)
    val fine = cdcOf(data, 8, 4, 256).length    // expected ≈ 8 + 16 byte chunks
    val coarse = cdcOf(data, 8, 9, 4096).length // expected ≈ 8 + 512
    assert(fine > coarse, s"fine=$fine coarse=$coarse")
  }

  test("cdc_chunks registers in SQL and matches the facade") {
    GraftExtensions.register(spark)
    val df = Seq(Tuple1("hello world hello world".getBytes("UTF-8"))).toDF("b")
    df.createOrReplaceTempView("cdc_t")
    val viaSql = spark.sql(
      "SELECT c.hash AS h FROM (SELECT explode(cdc_chunks(b, 4, 3, 64)) AS c FROM cdc_t)")
      .collect().map(_.getLong(0)).toSeq
    import graft.functions.cdc_chunks
    val viaFacade = df.select(explode(cdc_chunks($"b", 4, 3, 64)).as("c"))
      .select($"c.hash").collect().map(_.getLong(0)).toSeq
    assert(viaSql === viaFacade && viaSql.nonEmpty)
  }
}
