package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.clean.Cleaning
import graft.sources.BucketedTables

/** Source/sink coverage: the reference ingests all-string CSV with header
  * (integration-tests/deduplication_test.py:75); the engine must round-trip CSV and
  * JSON, run the pipeline off them unchanged, prune partitioned sinks on read, and
  * join bucketed tables without an Exchange.
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tmp = Files.createTempDirectory("graft-sources").toString

  /** Testdata-drift canary: the driver has regenerated /root/testdata under the repo
    * mid-round before (round 5: events.ts flipped TIMESTAMP(NANOS) → timestamp[us],
    * silently killing 14 queries). This pins the LOADER-NORMALIZED schema every query
    * assumes; when the testdata drifts again, this fails naming the exact column
    * instead of 14 queries dying at plan time with misleading errors.
    */
  test("testdata canary: every table's loader-normalized schema is what queries assume") {
    val expected = Map(
      "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
      "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string",
        "n_regionkey" -> "int"),
      "customer" -> Seq("c_custkey" -> "bigint", "c_name" -> "string",
        "c_nationkey" -> "int", "c_acctbal" -> "double", "c_mktsegment" -> "string"),
      "supplier" -> Seq("s_suppkey" -> "bigint", "s_name" -> "string",
        "s_nationkey" -> "int", "s_acctbal" -> "double"),
      "part" -> Seq("p_partkey" -> "bigint", "p_name" -> "string",
        "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
        "p_retailprice" -> "double"),
      "orders" -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
        "o_orderstatus" -> "string", "o_totalprice" -> "double",
        "o_orderdate" -> "timestamp_ntz", "o_orderpriority" -> "string"),
      "lineitem" -> Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
        "l_suppkey" -> "bigint", "l_linenumber" -> "int", "l_quantity" -> "double",
        "l_extendedprice" -> "double", "l_discount" -> "double", "l_tax" -> "double",
        "l_returnflag" -> "string", "l_linestatus" -> "string",
        "l_shipdate" -> "timestamp_ntz"),
      "documents" -> Seq("doc_id" -> "bigint", "text" -> "string",
        "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
      "embeddings" -> Seq("vec_id" -> "bigint", "embedding" -> "array<float>",
        "label" -> "int"),
      // events goes through the shared loader: ts lands on TimestampType (LTZ)
      // whatever the parquet physical type — the streaming watermark contract
      "events" -> Seq("event_id" -> "bigint", "ts" -> "timestamp",
        "user_id" -> "bigint", "event_type" -> "string", "value" -> "double",
        "props" -> "string"))
    val dir = "/root/testdata/sf0.001"
    val drifted = expected.toSeq.sortBy(_._1).flatMap { case (table, cols) =>
      val df =
        if (table == "events") graft.sources.Events.load(spark, dir)
        else spark.read.parquet(s"$dir/$table.parquet")
      val got = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq
      if (got == cols) Nil
      else {
        val gotMap = got.toMap
        val diffs = cols.collect {
          case (n, t) if !gotMap.contains(n) => s"$n: MISSING (expected $t)"
          case (n, t) if gotMap(n) != t => s"$n: ${gotMap(n)} (expected $t)"
        } ++ got.collect { case (n, t) if !cols.exists(_._1 == n) => s"$n: UNEXPECTED $t" }
        val ordered = if (diffs.isEmpty) Seq(s"column ORDER drifted: ${got.map(_._1).mkString(",")}") else diffs
        Some(s"$table → ${ordered.mkString("; ")}")
      }
    }
    assert(drifted.isEmpty,
      s"\nTESTDATA SCHEMA DRIFT (regenerate hazard — update loaders AND this canary):\n  " +
        drifted.mkString("\n  "))
    // the ANN oracles hardcode 64-dim hyperplane/codebook literals — a dim change
    // is schema-invisible (still array<float>), so pin the length too
    val dims = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(size(col("embedding"))).distinct().collect().map(_.getInt(0)).toSeq
    assert(dims === Seq(64),
      s"embeddings dim drifted to $dims (expected 64) — the ann_* oracle literals assume 64")
  }

  test("Events.normalizeTs handles every historical ts shape and fails loudly otherwise") {
    import graft.sources.Events
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val us = 1700000000123456L // 2023-11-14T22:13:20.123456Z
    // legacy nanosAsLong shape: BIGINT epoch nanos
    val fromLong = Events.normalizeTs(Seq(us * 1000).toDF("ts"))
    assert(fromLong.schema("ts").dataType === TimestampType)
    assert(fromLong.select(unix_micros(col("ts"))).as[Long].head() === us)
    // native timestamp[us] shape: TIMESTAMP_NTZ, instant-preserving under UTC
    val fromNtz = Events.normalizeTs(
      Seq(us).toDF("us").select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts")))
    assert(fromNtz.schema("ts").dataType === TimestampType)
    assert(fromNtz.select(unix_micros(col("ts"))).as[Long].head() === us)
    // already-TimestampType passes through untouched
    val ltz = Seq(us).toDF("us").select(timestamp_micros(col("us")).as("ts"))
    assert(Events.normalizeTs(ltz).select(unix_micros(col("ts"))).as[Long].head() === us)
    // anything else names the column and its type instead of failing downstream
    val err = intercept[IllegalArgumentException] {
      Events.normalizeTs(Seq("oops").toDF("ts"))
    }
    assert(err.getMessage.contains("ts") && err.getMessage.contains("String"))
  }

  test("legacy TIMESTAMP(NANOS) events load batch AND streaming on a fresh-conf session") {
    // the round-5 historical shape, preserved as a fixture since the testdata no
    // longer ships it: Spark rejects nanos timestamps unless the legacy conf is set
    // BEFORE schema inference — which bit the streaming paths once (they inferred
    // the batch schema without setting it and only worked if a batch events query
    // had already run on the shared session)
    val dir = java.nio.file.Files.createTempDirectory("graft-nanos").toString
    val src = getClass.getResource("/events_nanos.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(src.toURI),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong") // simulate fresh session
    val batch = graft.sources.Events.load(spark, dir)
    assert(batch.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
    assert(batch.count() === 40)
    // nanos truncate to micros: base ...000_000_123ns → ...000000us (123ns lost)
    assert(batch.select(unix_micros(min(col("ts")))).as[Long].head() === 1700000000000000L)
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val windowed = graft.streaming.StreamOps
      .windowedEventCounts(spark, s"$dir/events.parquet")
    assert(windowed.count() > 0) // would throw at schema inference without the fix
  }

  test("all-string CSV round-trip feeds the cleaning + uid pipeline") {
    val out = s"$tmp/csv"
    spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .select(col("c_custkey").cast("string"), col("c_name"), col("c_mktsegment"))
      .write.mode("overwrite").option("header", "true").csv(out)
    val back = spark.read.option("header", "true").csv(out) // all strings, like FEBRL
    assert(back.schema.fields.forall(_.dataType.typeName == "string"))
    assert(back.count() === 150)
    val prepped = Cleaning.withUniqueId(
      Cleaning.cleanColumns(back, Seq("c_name", "c_mktsegment")), "unique_id")
    assert(prepped.select("unique_id").distinct().count() === 150)
    assert(prepped.filter(col("c_name").rlike("[^a-z0-9 ]")).count() === 0)
  }

  test("JSON round-trip preserves rows and types survive re-read") {
    val out = s"$tmp/json"
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    src.write.mode("overwrite").json(out)
    val back = spark.read.json(out)
    assert(back.count() === src.count())
    val joined = src.alias("a").join(back.alias("b"),
      col("a.doc_id") === col("b.doc_id"))
      .filter(col("a.text") =!= col("b.text"))
    assert(joined.count() === 0)
  }

  test("partitioned parquet sink prunes partitions on read") {
    val out = s"$tmp/part"
    spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .withColumn("seg", col("c_mktsegment"))
      .write.mode("overwrite").partitionBy("seg").parquet(out)
    val pruned = spark.read.parquet(out).filter(col("seg") === "BUILDING")
    val plan = pruned.queryExecution.executedPlan.toString
    // partition filter must reach the scan, not a post-filter
    assert(pruned.count() > 0)
    assert(plan.contains("PartitionFilters") || !plan.contains("Filter ("))
  }

  test("bucketed tables join with no Exchange and match the direct parquet join") {
    val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_spec_${graft.util.Scratch.runToken}"
    BucketedTables.writeBucketed(customer, "spec_bkt_customer",
      s"$base/customer", "c_custkey", 4, Seq("c_custkey"))
    BucketedTables.writeBucketed(orders, "spec_bkt_orders",
      s"$base/orders", "c_custkey", 4, Seq("c_custkey"))

    // forbid broadcast + AQE so the plan must stand on bucketing alone
    try graft.util.Sessions.withConf(spark,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = BucketedTables.colocatedJoin(spark,
        "spec_bkt_customer", "spec_bkt_orders", Seq("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n${plan.take(3000)}")

      val viaBuckets = joined.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getString(0), r.getLong(1))).sorted
      val direct = customer.join(orders, Seq("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getString(0), r.getLong(1))).sorted
      assert(viaBuckets === direct)
    } finally {
      spark.sql("DROP TABLE IF EXISTS spec_bkt_customer")
      spark.sql("DROP TABLE IF EXISTS spec_bkt_orders")
    }
  }

  test("z-order Morton key: hand-computed interleave, guards, constant column") {
    import graft.sources.ZOrder
    // a,b ∈ [0,3] at bits=2 quantize to themselves (span=3=maxBin): zval is the
    // classic Morton number — a's bit j at position 2j, b's bit j at position 2j+1
    val df = Seq((0, 0), (3, 1), (2, 3), (1, 2), (3, 3))
      .toDF("a", "b").select(col("a").cast("int"), col("b").cast("int"))
    val got = ZOrder.withZValue(df, Seq("a", "b"), 2)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    def morton(a: Int, b: Int): Long =
      (0 until 2).map(j => (((a >> j) & 1) << (2 * j)) + (((b >> j) & 1) << (2 * j + 1)))
        .sum.toLong
    got.foreach { case ((a, b), z) => assert(z === morton(a, b), s"($a,$b)") }

    // constant column: span-0 guard bins it to 0 instead of dividing by zero
    val const = Seq((1, 7), (2, 7)).toDF("a", "b")
      .select(col("a").cast("int"), col("b").cast("int"))
    val zc = ZOrder.withZValue(const, Seq("a", "b"), 2).select("zval")
      .collect().map(_.getLong(0)).sorted
    // b bins to 0 everywhere; a=1 bins to 0, a=2 bins to maxBin=3 (bits at
    // interleaved positions 0 and 2 → Morton 5)
    assert(zc === Array(0L, 5L))

    // non-integral and name-collision inputs fail loudly
    intercept[IllegalArgumentException] {
      ZOrder.withZValue(Seq(1.5).toDF("x"), Seq("x"), 4)
    }
    intercept[IllegalArgumentException] {
      ZOrder.withZValue(Seq((1, 2)).toDF("a", "zval"), Seq("a"), 4)
    }
  }

  test("z-order layout tightens per-file l_partkey ranges and beats insertion order") {
    import graft.sources.ZOrder
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val n = li.count()

    // the layout rewrite is lossless and respects the file budget
    val laid = ZOrder.layoutBy(li, Seq("l_partkey", "l_suppkey"), 16, 8)
    assert(laid.count() === n)
    assert(laid.rdd.getNumPartitions <= 8)

    // per-file (partition) min/max bounding BOX over both interleaved columns —
    // what parquet footers expose to 2-D scan pruning. k z-range files shrink each
    // axis by ~√k, so the box AREA shrinks ~k-fold vs insertion order, which keeps
    // full-range suppkey (and near-full partkey) in every file.
    def avgBoxArea(df: org.apache.spark.sql.DataFrame): Double =
      df.withColumn("pid", spark_partition_id())
        .groupBy("pid")
        .agg(((max("l_partkey") - min("l_partkey") + 1) *
          (max("l_suppkey") - min("l_suppkey") + 1)).as("area"))
        .agg(avg("area")).head().getDouble(0)
    val natural = li.repartitionByRange(8, col("l_orderkey"))
    val (az, an) = (avgBoxArea(laid), avgBoxArea(natural))
    assert(az < an * 0.5, s"z-order avg footer box area $az !< half of natural $an")

    // and the closed-form skipping demo agrees: fewer files scanned under z-order
    val stats = graft.SparkEntry.queries("src_zorder_skipping")(spark,
      "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (zFiles, zScan) = stats("zorder")
    val (nFiles, nScan) = stats("natural")
    assert(zScan < nScan,
      s"z-order must scan fewer files: zorder $zScan/$zFiles vs natural $nScan/$nFiles")
  }

  test("transformWithState totals equal the mapGroupsWithState totals exactly") {
    // the two arbitrary-state APIs run the same fold over the same stream — any
    // divergence (state init, batch boundaries, provider behavior) shows here
    val dir = "/root/testdata/sf0.001/events.parquet"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.unset(providerKey)
    val a = graft.streaming.StreamOps.statefulUserTotals(spark, dir)
      .orderBy("user_id").collect().toSeq
    val b = graft.streaming.StreamOps.statefulUserTotalsTws(spark, dir)
      .orderBy("user_id").collect().toSeq
    assert(a.nonEmpty)
    assert(a === b)
    // the RocksDB provider override must not leak into the session: the key was
    // absent before, so it is absent after (not pinned to the default provider)
    assert(!spark.conf.getAll.contains(providerKey))
  }

  test("left-outer stream-stream join ≡ batch replay with the eviction predicate") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001/events.parquet"
    val got = graft.streaming.StreamOps.streamStreamLeftJoin(spark, dir, 30)
      .orderBy("user_id").collect().toSeq
    // batch replay: matched pairs as a plain interval join; unmatched views kept
    // only when the final watermark (min of both sides' max ts − 1h) proves the
    // 30-min window closed
    val e = graft.sources.Events.normalizeTs(spark.read.parquet(dir))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        col("value"))
    val v = e.filter(col("event_type") === "view").select(col("user_id"), col("us"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("us").as("p_us"), col("value"))
    val wmUs = math.min(
      v.agg(max("us")).head.getLong(0), p.agg(max("p_us")).head.getLong(0)) -
      3600L * 1000000L
    val win = 30L * 60L * 1000000L
    val j = v.join(p, col("user_id") === col("p_user") &&
      col("p_us") >= col("us") && col("p_us") <= col("us") + win, "left_outer")
    val exp = j.filter(col("p_us").isNotNull || col("us") + win < wmUs)
      .groupBy("user_id")
      .agg(count(col("p_us")).as("n_pairs"),
        sum(when(col("p_us").isNull, 1L).otherwise(0L)).as("n_unmatched"),
        round(sum(coalesce(col("value"), lit(0.0))), 4).as("value_sum"))
      .orderBy("user_id").collect().toSeq
    assert(got.nonEmpty)
    assert(got === exp)
    // the semantics worth having: some unmatched views must be PROVEN (emitted) …
    assert(got.exists(_.getLong(2) > 0))
    // … and near-stream-end unmatched views must be withheld, not guessed
    val allUnmatched = j.filter(col("p_us").isNull).count()
    val emittedUnmatched = got.map(_.getLong(2)).sum
    assert(emittedUnmatched < allUnmatched)
  }

  test("compaction plan: bins respect the overflow bound, cover every small file once") {
    import org.apache.spark.sql.functions._
    val manifest = (1 to 200).map(i => (s"f$i", s"p${i % 3}", (i * 37) % 400 + 1L))
      .toDF("path", "part", "bytes")
    val plan = graft.sources.Compaction
      .planCompaction(manifest, "part", "path", "bytes", smallBytes = 300, targetBytes = 500)
    val rows = plan.collect()
    val small = manifest.filter(col("bytes") <= 300)
    // every small file lands in exactly one bin
    assert(rows.map(_.getAs[Long]("n_files")).sum === small.count())
    assert(rows.map(_.getAs[Long]("total_bytes")).sum ===
      small.agg(sum("bytes")).first().getLong(0))
    // single-pass bound: a bin exceeds target by less than one small file
    rows.foreach(r => assert(r.getAs[Long]("total_bytes") < 500L + 300L,
      s"bin overflow beyond the streaming bound: $r"))
    // deterministic: same input -> same plan
    val again = graft.sources.Compaction
      .planCompaction(manifest, "part", "path", "bytes", 300, 500)
    assert(plan.orderBy("part", "bin").collect().toSeq ===
      again.orderBy("part", "bin").collect().toSeq)
  }

  test("vacuum plan: keeps exactly keepVersions newest versions per shard") {
    import org.apache.spark.sql.functions._
    val manifest = (0 until 120).map(i => (i % 4, i / 4L, 10L + i))
      .toDF("shard", "version", "bytes")
    val plan = graft.sources.Compaction
      .planVacuum(manifest, "shard", "version", "bytes", keepVersions = 3)
    plan.collect().foreach { r =>
      // newest 3 versions (27..29) survive; deletions stop at 26
      assert(r.getAs[Long]("newest_deleted_version") === 26L)
      assert(r.getAs[Long]("oldest_version") === 0L)
      assert(r.getAs[Long]("n_files") === 27L)
    }
    // a shard within retention produces no row
    val shallow = (0 until 8).map(i => (i % 4, i / 4L, 1L)).toDF("shard", "version", "bytes")
    assert(graft.sources.Compaction.planVacuum(shallow, "shard", "version", "bytes", 3).count() === 0)
  }
}
