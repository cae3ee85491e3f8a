package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Mechanical scan-shape checks: column PRUNING (a projection of 2 columns must not
  * read the whole documents schema) and predicate PUSHDOWN (a pushable filter must
  * reach the parquet scan) — at 100 TB these decide whether a query reads terabytes
  * or gigabytes, and a refactor that breaks them is invisible to correctness tests.
  */
class PushdownSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // AQE wraps the physical plan: descend into AdaptiveSparkPlanExec's current plan
  private def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    def go(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
    }.flatten
    go(df.queryExecution.executedPlan)
  }

  test("text queries prune the documents scan to the referenced columns") {
    // text_langid touches doc_id + text only; lang/n_chars/... must not be read
    val df = SparkEntry.queries("text_langid")(spark, sf)
    val docScans = scans(df)
    assert(docScans.nonEmpty)
    docScans.foreach { s =>
      val read = s.requiredSchema.fieldNames.toSet
      assert(read.subsetOf(Set("doc_id", "text")),
        s"langid scan reads more than it needs: $read")
    }
  }

  test("quantile-sketch lineitem scans prune to the four referenced columns") {
    // sketch_slotmin_quantiles builds three sketches off lineitem; every scan
    // must read only key/value/flag/parity columns — at
    // 100 TB the sketch's one-pass promise dies if the scan drags the full schema
    val df = SparkEntry.queries("sketch_slotmin_quantiles")(spark, sf)
    val liScans = scans(df).filter(_.requiredSchema.fieldNames.exists(_.startsWith("l_")))
    assert(liScans.nonEmpty)
    liScans.foreach { s =>
      val read = s.requiredSchema.fieldNames.toSet
      assert(read.subsetOf(
        Set("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")),
        s"sketch scan reads more than it needs: $read")
    }
  }

  test("ANN query-side vec_id filter is pushed down to the embeddings scan") {
    // (ev_funnel would be the natural case but computes its stage counts eagerly —
    // its returned frame is a local relation; funnel stage scans are still covered
    // by the pruning assertion below on a lazily-planned query)
    val df = SparkEntry.queries("ann_cosine_topk")(spark, sf)
    val embScans = scans(df)
    assert(embScans.nonEmpty)
    val pushed = embScans.map(_.metadata.getOrElse("PushedFilters", ""))
    assert(pushed.exists(_.contains("LessThan(vec_id,10)")),
      s"query-side vec_id filter not pushed: ${pushed.mkString(" | ")}")
  }

  test("funnel stage filters push down on the lazily-planned stage inputs") {
    import org.apache.spark.sql.functions.col
    // events may store ts as parquet nanos — read as long, like the event queries do
    graft.sources.Events.allowLegacyNanos(spark)
    // the funnel's per-stage input shape: a filtered+projected events scan
    val stage = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"))
    val evScans = scans(stage)
    assert(evScans.nonEmpty)
    val pushed = evScans.map(_.metadata.getOrElse("PushedFilters", ""))
    assert(pushed.exists(_.contains("EqualTo(event_type,view)")),
      s"event_type filter not pushed: ${pushed.mkString(" | ")}")
    evScans.foreach { s =>
      val read = s.requiredSchema.fieldNames.toSet
      assert(read.subsetOf(Set("user_id", "ts", "event_type")),
        s"stage scan reads more than it needs: $read")
    }
  }

  test("bench-scale aggregates never read the full documents schema") {
    // data card reads lang + text; profile-style stats must not drag in the rest
    val df = SparkEntry.queries("ep5_data_card")(spark, sf)
    val docScans = scans(df)
    assert(docScans.nonEmpty)
    docScans.foreach { s =>
      val read = s.requiredSchema.fieldNames.toSet
      assert(read.subsetOf(Set("lang", "text")),
        s"data-card scan reads more than it needs: $read")
    }
  }

  test("IVF on-disk probe reads prune by partition filter, not data filter") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val model = graft.textops.Ivf.fit(emb, "vec_id", "embedding", k = 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft_pushdown_ivf").toString
    graft.textops.Ivf.writeIndex(emb, "vec_id", "embedding", model, tmp)
    val out = graft.textops.Ivf.topKFromIndex(spark, tmp,
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3, model, nprobe = 2)
    val idxScans = scans(out).filter(_.metadata.get("Location").exists(_.contains("graft_pushdown_ivf")))
    assert(idxScans.nonEmpty)
    idxScans.foreach { s =>
      assert(s.partitionFilters.nonEmpty,
        "probe read must carry a partition filter on cell")
    }
  }
}
