package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{BucketedTables, Compaction, ZOrder}

/** SparkEntry query + oracle entries for the source/sink layer: bucketed co-located
  * joins (shuffle moved to write time), JSONL corpus interchange, z-order layout.
  */
object SourceQueries {

  /** Z-order demo constants shared by the Spark query and its oracle renderer. */
  private val ZBits = 16            // bits per interleaved column
  private val ZBucketShift = 26     // zval div 2^26 → 64 z-range "files"
  private val NatBuckets = 64L      // insertion-order baseline file count

  private def tmp(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_bucketed/$name"

  /** Per-JVM token for scratch paths — concurrent harness runs must not collide. */
  private val RunToken = java.util.UUID.randomUUID().toString.take(8)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src_compaction_plan" -> { (s, dir) =>
      // small-file compaction planning (the OPTIMIZE half of table maintenance):
      // per-lang partition, files <= 300 bytes pack into ~1000-byte bins by one
      // next-fit-decreasing window pass — full oracle
      val manifest = Fixtures.docs(s, dir)
        .select(concat(lit("f"), col("doc_id")).as("path"), col("lang"),
          col("n_chars").as("bytes"))
      Compaction.planCompaction(manifest, "lang", "path", "bytes",
          smallBytes = 300, targetBytes = 1000)
        .orderBy("part", "bin")
    },
    "src_vacuum_plan" -> { (s, dir) =>
      // version-retention vacuum planning (the VACUUM...RETAIN half): per shard
      // keep the 3 newest versions, emit what deletion reclaims — full oracle
      val manifest = Fixtures.docs(s, dir)
        .select((col("doc_id") % 16).as("shard"),
          floor(col("doc_id") / 16).cast("long").as("version"),
          col("n_chars").as("bytes"))
      Compaction.planVacuum(manifest, "shard", "version", "bytes", keepVersions = 3)
        .orderBy("shard")
    },
    "src_bucketed_join" -> { (s, dir) =>
      // stage both sides bucketed on the join key, then join + aggregate; the join
      // itself reads co-located buckets (no Exchange — pinned by SourcesSpec)
      val customer = Fixtures.cust(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
      BucketedTables.writeBucketed(customer, "graft_bkt_customer",
        tmp("customer"), "c_custkey", 8, Seq("c_custkey"))
      BucketedTables.writeBucketed(orders, "graft_bkt_orders",
        tmp("orders"), "c_custkey", 8, Seq("c_custkey"))
      BucketedTables.colocatedJoin(s, "graft_bkt_customer", "graft_bkt_orders",
          Seq("c_custkey"))
        // exact integer cents so the double-summation order can't drift vs the oracle
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
        .orderBy("c_mktsegment")
    },
    "src_schema_evolution" -> { (s, dir) =>
      // schema-drift-tolerant ingestion: day-1 files carry (doc_id, text), day-2
      // files add (lang, n_chars); one mergeSchema read unions the generations
      // (missing columns become nulls) — the 100 TB reality where a corpus's
      // parquet schema grows across ingestion batches
      val docs = Fixtures.docs(s, dir)
      val path = graft.util.Scratch.deleteOnExit(
        s"${System.getProperty("java.io.tmpdir")}/graft_evo/$RunToken") + "/documents"
      docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
        .write.mode("overwrite").parquet(s"$path/gen=1")
      docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$path/gen=2")
      s.read.option("mergeSchema", "true").parquet(s"$path/gen=1", s"$path/gen=2")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum("n_chars"), lit(0L)).as("chars_total"),
          sum(length(col("text"))).as("text_chars"))
        .orderBy(col("lang").asc_nulls_first)
    },
    "src_jsonl_roundtrip" -> { (s, dir) =>
      // JSONL is the de-facto LLM-corpus interchange format: write the documents
      // table as gzip JSONL, read it back with an EXPLICIT schema (schema inference
      // costs a full extra pass at corpus scale), and prove the round-trip lossless
      // by aggregating content hashes of what is actually on disk
      val docs = Fixtures.docs(s, dir)
      // per-JVM token (concurrent-run safe) + delete-at-exit (no tmp accumulation)
      val path = graft.util.Scratch.deleteOnExit(
        s"${System.getProperty("java.io.tmpdir")}/graft_jsonl/$RunToken") + "/documents"
      docs.write.mode("overwrite").option("compression", "gzip").json(path)
      val back = s.read.schema(docs.schema).json(path)
      back.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("n_chars"),
          count_distinct(md5(col("text"))).as("n_unique"))
        .orderBy("lang")
    },
    "src_orc_roundtrip" -> { (s, dir) =>
      // ORC sink/source (the other columnar format Spark ships natively — common
      // when the corpus flows through Hive-era infrastructure): write zlib ORC,
      // read back, prove losslessness with the same on-disk content aggregate as
      // the JSONL roundtrip (shared oracle)
      val docs = Fixtures.docs(s, dir)
      val path = graft.util.Scratch.deleteOnExit(
        s"${System.getProperty("java.io.tmpdir")}/graft_orc/$RunToken") + "/documents"
      docs.write.mode("overwrite").option("compression", "zlib").orc(path)
      val back = s.read.orc(path)
      back.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("n_chars"),
          count_distinct(md5(col("text"))).as("n_unique"))
        .orderBy("lang")
    },
    "src_csv_roundtrip" -> { (s, dir) =>
      // CSV with full quoting/escaping and multiLine read-back: the interchange
      // format most external corpora arrive in; explicit schema on read (inference
      // is a full extra pass at corpus scale), quotes cover embedded delimiters
      // and newlines, and the content aggregate proves byte fidelity
      val docs = Fixtures.docs(s, dir)
      val path = graft.util.Scratch.deleteOnExit(
        s"${System.getProperty("java.io.tmpdir")}/graft_csv/$RunToken") + "/documents"
      docs.write.mode("overwrite")
        .option("header", "true").option("quoteAll", "true")
        .option("escape", "\"").option("compression", "gzip")
        .csv(path)
      val back = s.read.schema(docs.schema)
        .option("header", "true").option("multiLine", "true").option("escape", "\"")
        .csv(path)
      back.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("n_chars"),
          count_distinct(md5(col("text"))).as("n_unique"))
        .orderBy("lang")
    },
    "src_zorder_value" -> { (s, dir) =>
      // the Morton key itself: exact integer quantize + bit interleave, replayed
      // bit-for-bit by the oracle's rendered formula (only the int-div token differs)
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      ZOrder.withZValue(li, Seq("l_partkey", "l_suppkey"), ZBits)
        .select("l_orderkey", "l_linenumber", "zval")
    },
    "src_zorder_skipping" -> { (s, dir) =>
      // the layout PAYOFF, closed form: bucket rows into 64 z-range "files" vs 64
      // insertion-order (orderkey-range) files, take per-file min/max of l_partkey
      // (what a parquet footer stores), and count how many files a range predicate
      // on l_partkey would have to scan under each layout
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_suppkey")
      val Seq((pkLo, pkHi), _, (okLo, okHi)) =
        ZOrder.columnBounds(li, Seq("l_partkey", "l_suppkey", "l_orderkey"), ZBits)
      val span = pkHi - pkLo
      val (probeLo, probeHi) = (pkLo + span / 3, pkLo + span / 3 + span / 16)
      val natWidth = (okHi - okLo) / NatBuckets + 1
      val zBuckets = ZOrder.withZValue(li, Seq("l_partkey", "l_suppkey"), ZBits)
        .select(expr(s"zval div ${1L << ZBucketShift}").as("bucket"), col("l_partkey"))
      val natBuckets = li
        .select(expr(s"(l_orderkey - ${okLo}L) div ${natWidth}L").as("bucket"),
          col("l_partkey"))
      def scanStats(rows: DataFrame, layout: String): DataFrame =
        rows.groupBy("bucket")
          .agg(min("l_partkey").as("bmin"), max("l_partkey").as("bmax"))
          .agg(count(lit(1)).as("n_files"),
            sum(when(col("bmin") <= probeHi && col("bmax") >= probeLo, 1L)
              .otherwise(0L)).as("n_scanned"))
          .select(lit(layout).as("layout"), col("n_files"), col("n_scanned"))
      scanStats(zBuckets, "zorder").unionAll(scanStats(natBuckets, "natural"))
        .orderBy("layout")
    })

  /** All three sink round-trips share one oracle over the PARQUET originals:
    * equality proves the written format preserved every document byte-for-byte.
    */
  private val roundtripSql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
      |  COUNT(DISTINCT md5(text)) AS n_unique
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "src_compaction_plan" ->
      """WITH m AS (SELECT 'f' || doc_id AS path, lang, n_chars AS bytes FROM documents),
        |sm AS (SELECT *, SUM(bytes) OVER
        |         (PARTITION BY lang ORDER BY bytes DESC, path) AS cum
        |       FROM m WHERE bytes <= 300)
        |SELECT lang AS part, CAST(FLOOR((cum - bytes) / 1000) AS INT) AS bin,
        |  COUNT(*) AS n_files, CAST(SUM(bytes) AS BIGINT) AS total_bytes,
        |  MIN(path) AS first_path, MAX(path) AS last_path
        |FROM sm GROUP BY 1, 2 ORDER BY part, bin""".stripMargin,
    "src_vacuum_plan" ->
      """WITH m AS (SELECT doc_id % 16 AS shard, doc_id // 16 AS version,
        |             n_chars AS bytes FROM documents),
        |r AS (SELECT *, DENSE_RANK() OVER
        |        (PARTITION BY shard ORDER BY version DESC) AS vrk FROM m)
        |SELECT shard, COUNT(*) AS n_files, CAST(SUM(bytes) AS BIGINT) AS reclaimed_bytes,
        |  MIN(version) AS oldest_version, MAX(version) AS newest_deleted_version
        |FROM r WHERE vrk > 3 GROUP BY shard ORDER BY shard""".stripMargin,
    "src_bucketed_join" ->
      """SELECT c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // the oracle reads the PARQUET originals: equality proves the JSONL round-trip
    // preserved every document byte-for-byte
    "src_schema_evolution" ->
      """WITH m AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 2 = 1 THEN lang END AS lang,
        |    CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS chars_total,
        |  CAST(SUM(length(text)) AS BIGINT) AS text_chars
        |FROM m GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,
    "src_jsonl_roundtrip" -> roundtripSql,
    "src_orc_roundtrip" -> roundtripSql,
    "src_csv_roundtrip" -> roundtripSql,
    "src_zorder_value" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  ${ZOrder.zvalSqlOracle("lineitem", Seq("l_partkey", "l_suppkey"), ZBits, "//")} AS zval
         |FROM lineitem""".stripMargin,
    "src_zorder_skipping" -> {
      val zval = ZOrder.zvalSqlOracle("lineitem", Seq("l_partkey", "l_suppkey"), ZBits, "//")
      s"""WITH b AS (
         |  SELECT MIN(l_partkey) AS pklo, MAX(l_partkey) AS pkhi,
         |         MIN(l_orderkey) AS oklo, MAX(l_orderkey) AS okhi
         |  FROM lineitem),
         |probe AS (
         |  SELECT pklo + (pkhi - pklo) // 3 AS plo,
         |         pklo + (pkhi - pklo) // 3 + (pkhi - pklo) // 16 AS phi,
         |         (okhi - oklo) // $NatBuckets + 1 AS natw, oklo
         |  FROM b),
         |zb AS (
         |  SELECT ($zval) // ${1L << ZBucketShift} AS bucket,
         |         MIN(l_partkey) AS bmin, MAX(l_partkey) AS bmax
         |  FROM lineitem GROUP BY 1),
         |nb AS (
         |  SELECT (l_orderkey - (SELECT oklo FROM probe)) // (SELECT natw FROM probe) AS bucket,
         |         MIN(l_partkey) AS bmin, MAX(l_partkey) AS bmax
         |  FROM lineitem GROUP BY 1)
         |SELECT 'zorder' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
         |  CAST(SUM(CASE WHEN bmin <= (SELECT phi FROM probe)
         |                 AND bmax >= (SELECT plo FROM probe) THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned
         |FROM zb
         |UNION ALL
         |SELECT 'natural' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
         |  CAST(SUM(CASE WHEN bmin <= (SELECT phi FROM probe)
         |                 AND bmax >= (SELECT plo FROM probe) THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned
         |FROM nb
         |ORDER BY layout""".stripMargin
    })
}
