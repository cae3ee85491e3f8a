package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Caching.CacheSyntax

/** Document deduplication for training-data pipelines: exact, token/n-gram Jaccard,
  * MinHash+LSH, SimHash. Designed scale-first:
  *
  *   - exact dedup is one hash aggregation on the content hash;
  *   - Jaccard pair scans require explicit blocking columns — never an all-pairs join;
  *   - MinHash/LSH replaces the quadratic candidate step with `bands` equi-joins on
  *     band signatures (the standard shingle→minhash→band→bucket-join pipeline), so
  *     work scales with collisions, not corpus²;
  *   - hashes are md5-based (portable: any engine reproduces them, incl. the DuckDB
  *     correctness oracle).
  */
object Dedup {

  /** Exact dedup on content: one row per distinct text with the keeper id (minimum)
    * and the duplicate count.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Pairs within the same block whose distinct-token Jaccard ≥ threshold.
    * Lifecycle: persists intermediates via [[graft.util.Caching]]; bracket
    * materialization in `Caching.withCached { ... }` to release exactly them.
    */
  def tokenJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[Column],
      threshold: Double): DataFrame =
    setJaccardPairs(df, idCol, TextOps.distinctTokens(col(textCol)), blockCols, threshold)

  /** Prefix-filtered exact token-Jaccard pairs (AllPairs/PPJoin candidate
    * generation, Vernica et al. VLDB'10): under a single global token order —
    * document frequency ascending, then token — any pair with Jaccard ≥ t must
    * share a token within each side's first `sz − ⌈t·sz⌉ + 1` tokens, so only those
    * PREFIX tokens enter the co-occurrence join. Rarest-first ordering makes the
    * prefixes maximally selective: the candidate fan-out rides the tail of the
    * frequency distribution instead of every stopword posting, which is the
    * difference between |prefix postings|² and |postings|² per hot token at corpus
    * scale. Candidates are verified with the exact intersection, so the OUTPUT is
    * identical to [[tokenJaccardPairs]] — pinned by spec.
    *
    * Cost anatomy: one doc-frequency aggregate + one (df, tok)-ranking window per
    * doc + the prefix-only equi-join; worth it when blocks are loose or absent.
    * With tight blocking the plain co-occurrence join wins (fewer passes) — the
    * same trade [[ngramJaccardPairs]] documents in the other direction.
    * The filter's selectivity comes from FREQUENCY SKEW plus prefix length: on a
    * near-uniform vocabulary at a loose threshold (prefix → half the doc) it
    * degrades toward the plain join (measured in ScaleSmoke) — MinHash-LSH is the
    * right tool there; prefix filtering wins on natural-language corpora at
    * near-dup thresholds, where it is exact and LSH is probabilistic.
    * Lifecycle: persists intermediates via [[graft.util.Caching]]; bracket
    * materialization in `Caching.withCached { ... }` to release exactly them.
    */
  def tokenJaccardPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[Column],
      threshold: Double): DataFrame =
    prefixJaccardPairs(df, idCol, TextOps.distinctTokens(col(textCol)),
      blockCols, threshold)

  /** [[tokenJaccardPairsPrefix]] over word `n`-gram shingle sets — the standard
    * PPJoin configuration for near-dup detection: shingle vocabularies stay sparse
    * (they grow with the corpus even when the word vocabulary saturates), so the
    * rarest-first prefixes keep their selectivity on templated or small-vocabulary
    * text where token-level prefixes degrade.
    */
  def ngramJaccardPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      blockCols: Seq[Column],
      threshold: Double): DataFrame =
    prefixJaccardPairs(df, idCol, TextOps.distinctShingles(col(textCol), n),
      blockCols, threshold)

  private def prefixJaccardPairs(
      df: DataFrame,
      idCol: String,
      setExpr: Column,
      blockCols: Seq[Column],
      threshold: Double): DataFrame = {
    val prepped = df.select(
      (col(idCol).as("id") +: setExpr.as("toks") +:
        blockCols.zipWithIndex.map { case (c, i) => c.as(s"blk$i") }): _*)
      .withColumn("sz", size(col("toks")))
      .scopedPersist()
    prefixJaccardPairsFromSets(prepped, blockCols.indices.map(i => s"blk$i"), threshold)
  }

  /** The prefix-filtered exact-Jaccard join over a PREPARED set table
    * `(id, toks, sz[, blk*])` that the caller has already persisted — lets a
    * diagnostic needing both the exact and the LSH side (dedup_lsh_recall) run
    * ONE shingle pass and feed it to both (guide §2.4: share one scan), instead
    * of each side re-shingling the corpus from text.
    */
  private[graft] def prefixJaccardPairsFromSets(
      prepped: DataFrame,
      keys: Seq[String],
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"prefix jaccard requires threshold in (0, 1], got $threshold")
    val items = prepped.select(
      (Seq(col("id"), col("sz"), explode(col("toks")).as("tok")) ++ keys.map(col)): _*)
    val dfreq = items.groupBy("tok").agg(count(lit(1)).as("df"))
    // Rarest-first prefix selection as a row_number SORT WINDOW over
    // (id | df, tok), keeping rn ≤ sz − ⌈t·sz⌉ + 1. Plan history (SCALING.md
    // round 10): r9 swapped this for a collect_list → array_sort → slice hash
    // aggregation chasing the 17.9× under-load degradation r8 measured against
    // concurrent JVMs — but the same-JVM A/B (SCALING.md "PPJoin prefix selection",
    // sf0.1, second-run)
    // shows the window plan 2.6× FASTER on a quiet machine (3.4 vs 8.2–9.1 s)
    // AND flat under a 25 % CPU burner (2.8–3.2 s): Tungsten's radix sort beats
    // per-row struct-array materialization + JVM array_sort, and the r8
    // amplification does not reproduce under CPU contention (it was concurrent
    // Spark JVMs fighting for memory/shuffle disk, not cycles). Both plans are
    // oracle-identical ((df, tok) is unique per doc, so the selection is total).
    // Persist the PREFIX table: it feeds BOTH sides of the candidate self-join,
    // and without a persist the whole upstream chain executes twice.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("tok"))
    val prefixes = items.join(dfreq, "tok")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + lit(1))
      .select((Seq(col("id"), col("sz"), col("tok")) ++ keys.map(col)): _*)
      .scopedPersist()
    val l = prefixes.select(
      (Seq(col("id").as("id_l"), col("sz").as("sz_l"), col("tok")) ++ keys.map(col)): _*)
    val r = prefixes.select(
      (Seq(col("id").as("id_r"), col("sz").as("sz_r"), col("tok")) ++ keys.map(col)): _*)
    // PPJoin length filter: J ≥ t forces min(|A|,|B|) ≥ t·max(|A|,|B|) (since
    // J ≤ min/max), so size-incompatible collisions die at the candidate join —
    // before the distinct and the two verify joins. Necessary condition only,
    // loosened by a small epsilon so float t·sz can never exclude an exact-boundary
    // pair (same convention as jaccardAtLeast).
    val cands = l.join(r, keys :+ "tok")
      .filter(col("id_l") < col("id_r") &&
        col("sz_r") >= lit(threshold) * col("sz_l") - lit(1e-7) &&
        col("sz_l") >= lit(threshold) * col("sz_r") - lit(1e-7))
      .select("id_l", "id_r").distinct()
    cands
      .join(prepped.select(col("id").as("id_l"), col("toks").as("toks_l"),
        col("sz").as("sz_l")), "id_l")
      .join(prepped.select(col("id").as("id_r"), col("toks").as("toks_r"),
        col("sz").as("sz_r")), "id_r")
      .withColumn("inter", size(array_intersect(col("toks_l"), col("toks_r"))))
      .filter(jaccardAtLeast(col("inter"), col("sz_l"), col("sz_r"), threshold))
      .select(col("id_l"), col("id_r"),
        jaccardOf(col("inter"), col("sz_l"), col("sz_r")).as("jaccard"))
  }

  /** Pairs within the same block whose word n-gram (shingle) Jaccard ≥ threshold.
    * Uses the per-pair array-intersection path: with tight blocking the pair count is
    * bounded, and shingle sets collide across many documents, which makes the
    * co-occurrence join's (block, shingle) fan-out worse than scanning the pairs.
    * Lifecycle: persists intermediates via [[graft.util.Caching]]; bracket
    * materialization in `Caching.withCached { ... }` to release exactly them.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      blockCols: Seq[Column],
      threshold: Double): DataFrame =
    arrayJaccardPairs(df, idCol, TextOps.distinctShingles(col(textCol), n),
      blockCols, threshold)

  /** Pairs at Levenshtein distance ≤ `maxDistance` via deletion-neighborhood
    * blocking (FastSS, Bocek et al. 2007 — the SymSpell family): two strings
    * within edit distance d always share a variant reachable by deleting ≤ d
    * characters from each side, so the candidate step is ONE equi-join on the
    * deletion-variant key — never an all-pairs scan, never a sorted sweep.
    * Candidates verify with the banded-DP
    * [[graft.functions.bounded_levenshtein]], so the OUTPUT is exact:
    * (id_l, id_r, dist) for every pair with dist ≤ maxDistance.
    *
    * Scale shape: O(len^d) variant keys per row (19 for an 18-char string at
    * d = 1), one equi-join whose fan-out is bounded by true near-matches plus
    * same-variant collisions, then a pair-bounded verify — the edit-distance
    * sibling of the MinHash band join. Rows with null text are dropped (no
    * edit distance to anything). Long strings multiply the key volume — for
    * documents, run this on NAMES/WORDS/KEYS, and near-dup documents belong to
    * the Jaccard/MinHash family instead.
    */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDistance: Int = 1): DataFrame = {
    require(maxDistance == 1 || maxDistance == 2,
      s"deletion-neighborhood blocking supports maxDistance 1 or 2, got $maxDistance")
    import graft.util.Caching.CacheSyntax
    def del1(str: Column): Column =
      when(length(str) > 0,
        transform(sequence(lit(1), length(str)), i =>
          concat(str.substr(lit(1), i - 1), str.substr(i + 1, length(str)))))
        .otherwise(array().cast("array<string>"))
    val vars1 = array_union(array(col("s")), del1(col("s")))
    val variants =
      if (maxDistance == 1) vars1
      else array_distinct(flatten(transform(vars1, v => array_union(array(v), del1(v)))))
    val keys = df
      .select(col(idCol).as("id"), col(textCol).cast("string").as("s"))
      .filter(col("s").isNotNull)
      .select(col("id"), col("s"), explode(variants).as("k"))
      .scopedPersist()
    val cands = keys.select(col("id").as("id_l"), col("s").as("s_l"), col("k"))
      .join(keys.select(col("id").as("id_r"), col("s").as("s_r"), col("k")), Seq("k"))
      .filter(col("id_l") < col("id_r"))
      .select("id_l", "id_r", "s_l", "s_r").distinct()
    cands
      .withColumn("dist",
        graft.functions.bounded_levenshtein(col("s_l"), col("s_r"), maxDistance))
      .filter(col("dist") >= 0)
      .select(col("id_l"), col("id_r"), col("dist"))
  }

  /** Threshold predicate for distinct-set Jaccard from precomputed sizes
    * (|A∪B| = |A| + |B| − |A∩B|).
    *
    * Catalyst pushes the filter through the projection and re-inlines the
    * `array_intersect` behind `inter` for EVERY reference — a `when`-based jaccard
    * column referenced it 3× per scanned pair. Here the short-circuit conjunction
    * evaluates a cheap NECESSARY condition (`inter·(1+t) ≥ t·(|A|+|B|)` ⇔ jaccard ≥ t
    * in real arithmetic, loosened by a scale-aware epsilon for float rounding) that
    * references `inter` once, and only pairs passing it reach the exact division-form
    * comparison — whose operand order matches the SQL oracle, so boundary rounding
    * agrees bit-for-bit. The `|A|+|B| > 0` guard reproduces the empty-sets→0.0
    * convention.
    */
  private def jaccardAtLeast(inter: Column, szL: Column, szR: Column, t: Double): Column = {
    val szSum = szL + szR
    val loose = inter.cast("double") * lit(1.0 + t) >=
      lit(t) * szSum - lit(1e-6) * (szSum + lit(1.0))
    val exact = inter.cast("double") / (szSum - inter) >= lit(t)
    (szSum > 0) && loose && exact
  }

  private def jaccardOf(inter: Column, szL: Column, szR: Column): Column =
    inter.cast("double") / (szL + szR - inter)

  /** Per-pair array-intersection Jaccard within blocks (pair-bounded work).
    * Persists the shingle scan — it feeds both sides of the block self-join
    * (released by the caller's [[graft.util.Caching.withCached]] bracket).
    */
  private def arrayJaccardPairs(
      df: DataFrame,
      idCol: String,
      setExpr: Column,
      blockCols: Seq[Column],
      threshold: Double): DataFrame = {
    require(threshold > 0, "arrayJaccardPairs requires a positive threshold")
    val prepped = df.select(
      (col(idCol).as("id") +: setExpr.as("toks") +:
        blockCols.zipWithIndex.map { case (c, i) => c.as(s"blk$i") }): _*)
      .withColumn("sz", size(col("toks")))
      .scopedPersist()
    val keys = blockCols.indices.map(i => s"blk$i")
    val l = prepped.select(
      (Seq(col("id").as("id_l"), col("toks").as("toks_l"), col("sz").as("sz_l")) ++
        keys.map(col)): _*)
    val r = prepped.select(
      (Seq(col("id").as("id_r"), col("toks").as("toks_r"), col("sz").as("sz_r")) ++
        keys.map(col)): _*)
    l.join(r, keys)
      .filter(col("id_l") < col("id_r"))
      .withColumn("inter", size(array_intersect(col("toks_l"), col("toks_r"))))
      .filter(jaccardAtLeast(col("inter"), col("sz_l"), col("sz_r"), threshold))
      .select(col("id_l"), col("id_r"),
        jaccardOf(col("inter"), col("sz_l"), col("sz_r")).as("jaccard"))
  }

  /** Set-Jaccard pairs via co-occurrence counting instead of per-pair array
    * intersection: explode the sets, equi-join on (block, element) to count shared
    * elements per pair, and recover `|A∪B| = |A| + |B| − |A∩B|`. Pairs sharing no
    * element never materialize, and the per-pair work is a counting aggregate rather
    * than repeated hash-set construction — the difference between O(pairs · setsize)
    * allocations and plain join/agg throughput at corpus scale. Requires threshold > 0
    * (zero-overlap pairs are definitionally absent).
    */
  private def setJaccardPairs(
      df: DataFrame,
      idCol: String,
      setExpr: Column,
      blockCols: Seq[Column],
      threshold: Double): DataFrame = {
    require(threshold > 0, "setJaccardPairs requires a positive threshold")
    // persisted: the token scan feeds the size projection AND both exploded join
    // sides (released by the caller's Caching.withCached bracket)
    val prepped = df.select(
      (col(idCol).as("id") +: setExpr.as("toks") +:
        blockCols.zipWithIndex.map { case (c, i) => c.as(s"blk$i") }): _*)
      .scopedPersist()
    val keys = blockCols.indices.map(i => s"blk$i")
    val sizes = prepped.select(col("id"), size(col("toks")).as("sz"))
    val items = prepped.select(
      (Seq(col("id"), explode(col("toks")).as("tok")) ++ keys.map(col)): _*)
    val l = items.select(
      (Seq(col("id").as("id_l"), col("tok")) ++ keys.map(col)): _*)
    val r = items.select(
      (Seq(col("id").as("id_r"), col("tok")) ++ keys.map(col)): _*)
    l.join(r, keys :+ "tok")
      .filter(col("id_l") < col("id_r"))
      .groupBy("id_l", "id_r")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_l"), col("sz").as("sz_l")), "id_l")
      .join(sizes.select(col("id").as("id_r"), col("sz").as("sz_r")), "id_r")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_l") + col("sz_r") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_l", "id_r", "jaccard")
  }

  /** MinHash signature over word `n`-gram shingles: `k` portable hash functions
    * `h_j(s) = md5(j || ':' || s)`, minimum per document. One stateless codegen'd
    * pass per document ([[graft.expressions.MinhashSignatures]]) — no explode, no
    * shuffle; the earlier explode + k-min-aggregate formulation shuffled every
    * shingle row, and the DuckDB oracle still computes that formulation and
    * hash-matches this one. Shingle-less documents are dropped (the aggregate form
    * never produced a row for them).
    */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      shingleN: Int): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.minhash_signatures(col(textCol), k, shingleN).as("mhs"))
      .filter(col("mhs").isNotNull)
      .select(col("id") +:
        (0 until k).map(j => element_at(col("mhs"), j + 1).as(s"mh$j")): _*)

  /** LSH banding over the minhash signature: `k/bandSize` bands, band key = concat of
    * its rows. Documents sharing any band key become candidate pairs; candidates are
    * verified with exact shingle Jaccard and filtered at `threshold`.
    *
    * Lifecycle: persists the band scan (both sides of the self-join would otherwise
    * recompute the signature pass) and the verify step persists the shingle sets —
    * bracket materialization in [[graft.util.Caching.withCached]] to release them.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      k: Int = 8,
      bandSize: Int = 2,
      shingleN: Int = 3,
      verifySets: Option[DataFrame] = None): DataFrame = {
    require(threshold > 0, "minhashLshPairs requires a positive threshold")
    val bands = minhashBands(minhashSignatures(df, idCol, textCol, k, shingleN), k, bandSize)
      .scopedPersist()
    val candidates = bands.alias("l")
      .join(bands.alias("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_l"), col("r.id").as("id_r"))
      .distinct()
    verifyShingleJaccard(candidates,
      df.select(col(idCol).as("id"), col(textCol).as("text")), threshold, shingleN,
      verifySets)
  }

  /** LSH band-parameter auto-tuning: for every `bandSize` dividing `k`, integrate the
    * collision S-curve `p(s) = 1 − (1 − s^bandSize)^nBands` against the target
    * Jaccard `threshold` — false-positive mass below it (`∫₀ᵗ p`), false-negative
    * mass above (`∫ₜ¹ 1 − p`) — by a midpoint Riemann sum, and flag the divisor with
    * the smallest total error (smallest bandSize on rounded ties).
    *
    * This is the knob-picking step every corpus-scale MinHash run needs: at 100 TB
    * you cannot grid-search band parameters against the data, but the S-curve is
    * closed form, so the whole tuning table costs `|divisors| × steps` arithmetic
    * rows. Deliberately relational (explode of a bounded literal candidate array over
    * a `range(steps)` grid — no driver math, no join) so the DuckDB oracle replays it
    * with the same POWER/ROUND chain.
    *
    * Output per candidate: `band_size, n_bands, err, p_at_t, chosen`, ordered by
    * `band_size`.
    */
  def lshTuningTable(
      spark: org.apache.spark.sql.SparkSession,
      k: Int,
      threshold: Double,
      steps: Int = 1000): DataFrame = {
    require(k >= 1 && threshold > 0 && threshold < 1 && steps >= 10)
    val cands = (1 to k).filter(k % _ == 0).map(r => (r, k / r))
    val candCol = array(cands.map { case (r, b) =>
      struct(lit(r).as("band_size"), lit(b).as("n_bands"))
    }: _*)
    val grid = spark.range(1, steps + 1L)
      .select(((col("id").cast("double") - 0.5) / steps.toDouble).as("x"),
        explode(candCol).as("c"))
      .select(col("x"), col("c.band_size").as("band_size"), col("c.n_bands").as("n_bands"))
    // 1 − (1 − x^r)^b below t is FP mass; its complement above t is FN mass
    val miss = pow(lit(1.0) - pow(col("x"), col("band_size")), col("n_bands"))
    val term = when(col("x") < threshold, lit(1.0) - miss).otherwise(miss)
    val errs = grid.groupBy("band_size", "n_bands")
      .agg(round(sum(term) / steps.toDouble, 6).as("err"))
    val pAtT = round(lit(1.0) -
      pow(lit(1.0) - pow(lit(threshold), col("band_size")), col("n_bands")), 6)
    // bounded global window: one row per divisor of k (≤ d(k) rows)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("err"), col("band_size"))
    errs.withColumn("p_at_t", pAtT)
      .withColumn("chosen", row_number().over(w) === 1)
      .orderBy("band_size")
  }

  /** Near-dup pairs of an incoming batch against an already-ingested corpus, plus
    * within-batch pairs — the daily-ingest shape: the corpus NEVER self-joins, so the
    * candidate work scales with (batch bands × collisions), not corpus². Corpus
    * signatures are recomputed here from the stateless expression; a production
    * pipeline stores them once (they are plain columns) and reuses the stored side.
    *
    * Output: `(id_l, id_r, jaccard)`; cross pairs are oriented (corpus id, batch id),
    * within-batch pairs (smaller id, larger id). Ids must be disjoint across the two
    * inputs.
    */
  def incrementalMinhashPairs(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      k: Int = 8,
      bandSize: Int = 2,
      shingleN: Int = 3,
      includeWithin: Boolean = true): DataFrame = {
    require(threshold > 0, "incrementalMinhashPairs requires a positive threshold")
    val corpusBands =
      minhashBands(minhashSignatures(corpus, idCol, textCol, k, shingleN), k, bandSize)
    // persisted: probes the corpus join AND (optionally) self-joins for
    // within-batch pairs (released by the caller's Caching.withCached bracket)
    val newBands =
      minhashBands(minhashSignatures(incoming, idCol, textCol, k, shingleN), k, bandSize)
        .scopedPersist()
    val cross = corpusBands.alias("l")
      .join(newBands.alias("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key"))
      .select(col("l.id").as("id_l"), col("r.id").as("id_r"))
    // includeWithin = false skips the batch self-join AND its pair verification —
    // callers that only screen against the corpus (ep7 ingest) shouldn't pay for
    // batch-batch candidates they immediately discard
    val candidates = (if (includeWithin) {
      val within = newBands.alias("l")
        .join(newBands.alias("r"),
          col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
            col("l.id") < col("r.id"))
        .select(col("l.id").as("id_l"), col("r.id").as("id_r"))
      cross.unionByName(within)
    } else cross).distinct()
    val texts = corpus.select(col(idCol).as("id"), col(textCol).as("text"))
      .unionByName(incoming.select(col(idCol).as("id"), col(textCol).as("text")))
    verifyShingleJaccard(candidates, texts, threshold, shingleN)
  }

  /** Persist the corpus MinHash band table — the production shape for
    * [[incrementalMinhashPairs]]: signatures are deterministic (portable md5), so
    * compute them ONCE at ingest and store `(id, band, key)`; daily batches then
    * join against the stored table instead of re-shingling the whole corpus
    * (the analogue of [[Ivf.writeIndex]] for text near-dup state). Appending a new
    * batch's bands to the index after deduplication keeps it current.
    */
  def writeMinhashIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      k: Int = 8,
      bandSize: Int = 2,
      shingleN: Int = 3,
      mode: String = "overwrite"): Unit =
    minhashBands(minhashSignatures(corpus, idCol, textCol, k, shingleN), k, bandSize)
      .write.mode(mode).parquet(path)

  /** [[incrementalMinhashPairs]] against a stored band index: identical output (the
    * signatures are deterministic), but the corpus side reads `(id, band, key)` rows
    * from the index instead of recomputing the shingle+minhash pass over every
    * corpus document. `corpusTexts` supplies the text only for exact verification,
    * and is semi-join-pruned to candidate-touched ids before shingling — so the
    * per-batch cost is (batch signature pass + collisions), never a corpus scan
    * of the text.
    */
  def incrementalMinhashPairsFromIndex(
      indexPath: String,
      corpusTexts: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      k: Int = 8,
      bandSize: Int = 2,
      shingleN: Int = 3): DataFrame = {
    require(threshold > 0, "incrementalMinhashPairsFromIndex requires a positive threshold")
    val corpusBands = incoming.sparkSession.read.parquet(indexPath)
    val newBands =
      minhashBands(minhashSignatures(incoming, idCol, textCol, k, shingleN), k, bandSize)
        .scopedPersist()
    val cross = corpusBands.alias("l")
      .join(newBands.alias("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key"))
      .select(col("l.id").as("id_l"), col("r.id").as("id_r"))
    val within = newBands.alias("l")
      .join(newBands.alias("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_l"), col("r.id").as("id_r"))
    val candidates = cross.unionByName(within).distinct()
    val texts = corpusTexts.select(col(idCol).as("id"), col(textCol).as("text"))
      .unionByName(incoming.select(col(idCol).as("id"), col(textCol).as("text")))
    verifyShingleJaccard(candidates, texts, threshold, shingleN)
  }

  /** k/bandSize LSH bands per signature row; band key = concat of its minhash rows. */
  private def minhashBands(sigs: DataFrame, k: Int, bandSize: Int): DataFrame = {
    val nBands = k / bandSize
    sigs.select(col("id"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          concat((0 until bandSize).map(i => col(s"mh${b * bandSize + i}")): _*).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Exact shingle-Jaccard verification of candidate `(id_l, id_r)` pairs against
    * `texts(id, text)`, filtered at `threshold`.
    *
    * `texts` is semi-join-pruned to candidate-touched ids BEFORE shingling, so both
    * the shingle computation and the cached verify relation are bounded by the
    * candidate set, not the corpus — at batch-vs-corpus scale the corpus side would
    * otherwise be shingled and cached wholesale for a batch-sized pair set.
    */
  private def verifyShingleJaccard(
      candidates0: DataFrame,
      texts: DataFrame,
      threshold: Double,
      shingleN: Int,
      precomputedSets: Option[DataFrame] = None): DataFrame = {
    // persisted: feeds the id prune and both verify joins (scoped via Caching)
    val candidates = candidates0.scopedPersist()
    val touched = candidates.select(col("id_l").as("id"))
      .unionByName(candidates.select(col("id_r").as("id")))
      .distinct()
    // a caller that already shingled the corpus (dedup_lsh_recall's shared pass)
    // hands the persisted (id, toks, sz) table in; the semi-join prune then reads
    // materialized rows instead of re-shingling candidate-touched text
    val sets = precomputedSets match {
      case Some(ps) => ps.join(touched, Seq("id"), "left_semi")
      case None => texts.join(touched, Seq("id"), "left_semi")
        .select(col("id"), TextOps.distinctShingles(col("text"), shingleN).as("toks"))
        .withColumn("sz", size(col("toks")))
        .scopedPersist()
    }
    candidates
      .join(sets.select(col("id").as("id_l"), col("toks").as("toks_l"),
        col("sz").as("sz_l")), "id_l")
      .join(sets.select(col("id").as("id_r"), col("toks").as("toks_r"),
        col("sz").as("sz_r")), "id_r")
      .withColumn("inter", size(array_intersect(col("toks_l"), col("toks_r"))))
      .filter(jaccardAtLeast(col("inter"), col("sz_l"), col("sz_r"), threshold))
      .select(col("id_l"), col("id_r"),
        jaccardOf(col("inter"), col("sz_l"), col("sz_r")).as("jaccard"))
  }

  /** 16-bit SimHash over the distinct-token set, from the first 4 md5 nibbles of each
    * token. Bit p is set when the signed sum over tokens of (±1 by token-bit p) is
    * non-negative — exactly bits 0..15 of [[graft.expressions.SimHash64]] (same
    * nibble/bit indexing, same counters), so the signature is one stateless masked
    * pass per document; the former explode + 16-sum shuffle is gone.
    */
  def simhash16(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.simhash64(col(textCol))
          .bitwiseAND(lit(0xffffL)).cast("int").as("simhash"))
      .filter(col("simhash").isNotNull)

  /** 64-bit SimHash over the distinct-token set, from the first 16 md5 nibbles of each
    * token — the scale replacement for [[simhash16]], whose 65,536-key space makes every
    * bucket huge at corpus scale. One stateless codegen'd pass per document
    * ([[graft.expressions.SimHash64]]) — no explode, no shuffle; the earlier
    * explode + 64-sum-aggregate formulation shuffled every token row, and the DuckDB
    * oracle still computes that formulation and hash-matches this one. Token-less
    * documents are dropped (the aggregate form never produced a row for them).
    * Signature is a signed BIGINT (bit 63 lands in the sign bit).
    */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.simhash64(col(textCol)).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Near-duplicate pairs by 64-bit SimHash hamming distance ≤ `maxHamming`, found via
    * banded candidate generation: the signature splits into 4 disjoint 16-bit bands,
    * and any pair within hamming ≤ 3 must agree exactly on ≥ 1 band (pigeonhole: 3
    * differing bits touch at most 3 of the 4 bands) — so the 4 band equi-joins find
    * EVERY such pair, never an all-pairs scan. Candidates are verified with
    * `bit_count(xor)` over the full signature. Work scales with per-band collisions
    * (2^16 keys per band over near-uniform hashes), not corpus².
    *
    * Lifecycle: persists intermediates via [[graft.util.Caching]]; bracket
    * materialization in `Caching.withCached { ... }` to release exactly them.
    */
  def simhash64Pairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "4 bands of 16 bits guarantee exact recall only up to hamming 3")
    val sigs = simhash64(df, idCol, textCol)
      .select(col("id"), col("simhash").as("sig"))
    bandedHammingPairs64(sigs, maxHamming)
  }

  /** Banded Hamming self-join over 64-bit signatures (`id`, `sig`): 4 bands of 16
    * bits — a pair within Hamming distance ≤ 3 must agree on at least one whole
    * band (pigeonhole), so candidates come from 4 equi-joins, never an all-pairs
    * scan. Shared by [[simhash64Pairs]] (text) and
    * [[Multimodal.perceptualHashPairs]] (images) — the signature family differs,
    * the join geometry doesn't.
    *
    * The signature is 8 bytes — carry BOTH through the band join and verify
    * inline, so the hamming filter runs before any shuffle. The alternative
    * (distinct candidates, then join signatures back) shuffles every raw
    * collision: boilerplate corpora put thousands of near-identical docs in one
    * bucket, and the raw collision count dwarfs the verified result (measured
    * 2.1M candidates → ~100k pairs on template-generated docs). Duplicate finds
    * across bands are deduped AFTER the filter, on the small verified set.
    */
  private[textops] def bandedHammingPairs64(
      sigs0: DataFrame,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      "4 bands of 16 bits guarantee exact recall only up to hamming 3")
    val sigs = sigs0.scopedPersist()
    val bands = sigs.select(col("id"), col("sig"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), 16 * b).bitwiseAND(lit(0xFFFFL)).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))
    bands.alias("l")
      .join(bands.alias("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.id") < col("r.id"))
      .withColumn("hamming", bit_count(col("l.sig").bitwiseXOR(col("r.sig"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("l.id").as("id_l"), col("r.id").as("id_r"), col("hamming"))
      .distinct()
  }

  /** End-to-end dedup application: given near-duplicate pairs (from any of the pair
    * generators above), group transitively-linked documents with connected components
    * and keep one representative per group (the minimum id). Returns the corpus with
    * `cluster_id` and `is_keeper` — filter `is_keeper` to materialize the deduplicated
    * corpus. Transitive grouping matters: A≈B and B≈C must collapse to one keeper even
    * when A≉C directly.
    */
  def deduplicate(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("id_l").cast("string").as("src"),
      col("id_r").cast("string").as("dst"))
    graft.cluster.ConnectedComponents.assignClusters(df, idCol, edges)
      .withColumn("is_keeper", col("cluster_id") === col(idCol).cast("string"))
  }

  /** Like [[deduplicate]] but keeps the BEST member of each transitive cluster by
    * `score` (ties → smallest id) instead of the minimum id — the production keeper
    * policy when a quality signal exists: collapse near-dup groups to their cleanest
    * member, not an arbitrary one. Pass an already-rounded score (e.g.
    * `round(qualityScore, 6)`) so keeper choice reproduces across engines.
    *
    * Returns `(…, cluster_id, keeper_id, is_keeper)`. One cluster-keyed window —
    * partition-parallel; cluster sizes are near-dup group sizes, never corpus-sized.
    */
  def deduplicateBest(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      score: Column): DataFrame = {
    val edges = pairs.select(col("id_l").cast("string").as("src"),
      col("id_r").cast("string").as("dst"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(score.desc, col(idCol).asc)
    graft.cluster.ConnectedComponents.assignClusters(df, idCol, edges)
      .withColumn("keeper_id", first(col(idCol)).over(w))
      .withColumn("is_keeper", col("keeper_id") === col(idCol))
  }

  /** Near-duplicate pairs by embedding cosine ≥ threshold. Brute-force all-pairs —
    * the exact-recall baseline that [[embeddingLshPairs]] is spec-pinned against; use
    * only on bounded corpora (the shipped corpus-scale path is [[embeddingLshPairs]]).
    */
  def embeddingPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    // normalize once per row so the per-pair work is a single primitive dot product
    val v = emb.select(col(idCol).as("id"),
      Similarity.normalized(col(vecCol).cast("array<double>")).as("v"))
    v.alias("l").join(v.alias("r"), col("l.id") < col("r.id"))
      .withColumn("cosine", graft.functions.array_dot(col("l.v"), col("r.v")))
      .filter(col("cosine") >= threshold)
      .select(col("l.id").as("id_l"), col("r.id").as("id_r"), col("cosine"))
  }

  /** Substring-containment pairs via shared winnowing fingerprints: documents whose
    * shared fingerprint count reaches `minContainment` of the SMALLER side's
    * fingerprint set. Catches one-document-quotes-a-chunk-of-another overlap that
    * whole-document similarity (Jaccard over all shingles) dilutes away — the
    * plagiarism/quotation detection shape (winnowing: Schleimer et al., SIGMOD 2003).
    *
    * Scale design: fingerprints ARE the blocking — the self-join collides only on
    * shared substrings (work ∝ collisions, like the MinHash band join), and the
    * containment score needs only per-doc fingerprint counts, joined after the
    * pair aggregation. [[graft.expressions.RollingFingerprints]] emits the distinct
    * sorted set in one O(len) pass, so `shared` counts each fingerprint once.
    *
    * Lifecycle: persists the fingerprint scan (feeds the self-join and the size
    * aggregate) via [[graft.util.Caching]]; bracket materialization in
    * `Caching.withCached { ... }` to release it.
    */
  def fingerprintOverlapPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int,
      minContainment: Double): DataFrame = {
    require(minContainment > 0, "fingerprintOverlapPairs requires a positive threshold")
    val fps = df.select(col(idCol).as("id"),
        explode(graft.functions.rolling_fingerprints(col(textCol), k, w)).as("fp"))
      .scopedPersist()
    val sizes = fps.groupBy("id").agg(count(lit(1)).as("n"))
    fps.alias("l")
      .join(fps.alias("r"), col("l.fp") === col("r.fp") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_l"), col("r.id").as("id_r"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("id").as("id_l"), col("n").as("n_l")), "id_l")
      .join(sizes.select(col("id").as("id_r"), col("n").as("n_r")), "id_r")
      .withColumn("containment",
        col("shared").cast("double") / least(col("n_l"), col("n_r")))
      .filter(col("containment") >= minContainment)
      .select(col("id_l"), col("id_r"), col("shared"), col("containment"))
  }

  /** Exact cross-corpus overlap: per stratum of the incoming corpus, how many
    * documents already exist (byte-identical text) in the base corpus — the
    * snapshot-vs-snapshot diagnostic run before merging a new crawl into an
    * existing training set.
    *
    * Scale shape: the base collapses to its distinct content-hash set once; the
    * incoming side left-joins on that hash key (distinct-built, so cardinality is
    * preserved) and one hash aggregate per stratum produces the counts. Content
    * hashes are md5 — portable to any engine, incl. the DuckDB oracle.
    *
    * Returns (stratum, n_docs, n_overlap, overlap_frac).
    */
  def corpusOverlap(
      base: DataFrame,
      incoming: DataFrame,
      textCol: String,
      stratum: Column): DataFrame = {
    val bh = base.select(md5(col(textCol)).as("h")).distinct()
    incoming.select(stratum.as("stratum"), md5(col(textCol)).as("h"))
      .join(bh.withColumn("in_base", lit(1)), Seq("h"), "left")
      .groupBy("stratum")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("in_base"), lit(0))).as("n_overlap"))
      .withColumn("overlap_frac", round(col("n_overlap") / col("n_docs"), 6))
  }

  /** Per-document duplicated n-gram coverage — the "deduplicating training data"
    * memorization signal (Lee et al. 2022): the fraction of a document's word
    * n-grams that occur in at least `minDocs` distinct documents corpus-wide. Exact
    * copies score 1.0; clean documents score near 0 for n large enough that chance
    * collisions vanish.
    *
    * Scale shape: ONE shingle explode feeds the duplicated-n-gram aggregate, the
    * per-doc totals, and the hit counts through the scoped cache; the hit count is a
    * left-semi join on the n-gram key (work ∝ duplicated instances, never corpus²).
    * Documents with fewer than `n` tokens have no n-grams and report 0.0.
    *
    * Returns (id, n_ngrams, n_dup, dup_fraction) for every input document.
    */
  def duplicatedNgramCoverage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minDocs: Int = 2): DataFrame = {
    require(n > 0 && minDocs >= 2,
      s"need n > 0 and minDocs >= 2, got n=$n minDocs=$minDocs")
    val sh = df.select(col(idCol).as("id"),
        explode(TextOps.shingles(col(textCol), n)).as("ngram"))
      .scopedPersist()
    val dup = sh.groupBy("ngram").agg(count_distinct(col("id")).as("nd"))
      .filter(col("nd") >= minDocs).select("ngram")
    val per = sh.groupBy("id").agg(count(lit(1)).as("n_ngrams"))
    val hit = sh.join(dup, Seq("ngram"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_dup"))
    df.select(col(idCol).as("id")).join(per, Seq("id"), "left").join(hit, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(coalesce(col("n_ngrams"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(coalesce(col("n_dup"), lit(0L)) / col("n_ngrams"), 6))
          .as("dup_fraction"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): cluster normalized embeddings
    * into `k` cells with the deterministic IVF Lloyd trainer, generate candidate pairs
    * WITHIN each cell only, verify with an exact `array_dot` cosine at `threshold`.
    *
    * Scale design: candidate work is Σ_cell |cell|² instead of N² — `k` bounds the
    * quadratic blow-up and the within-cell join is a plain equi-join on the cell id
    * (shuffle, never a cartesian; a skewed giant cell is the `k`-too-small signal).
    * Every emitted pair is exact-verified, so output ⊆ the brute-force pair set;
    * pairs straddling a cell boundary are missed — the SemDeDup tradeoff. Use
    * [[embeddingLshPairs]] when multi-table recall matters more than cluster locality.
    *
    * `k <= 0` auto-sizes to `max(8, ⌈N / targetCellSize⌉)`, capped at `maxCells` —
    * the SemDeDup recipe is a CONSTANT cell size, because within-cell work is
    * Σ|cell|² ∝ N²/k and any fixed k eventually goes quadratic (measured: 5× wall
    * time at 4× corpus with k=64). The cap exists because cell ASSIGNMENT is a
    * linear scan over the centroids (O(N·k·dim)) — uncapped auto-k would just move
    * the quadratic there. Past `maxCells · targetCellSize` rows, cells grow beyond
    * the target: raise `maxCells` consciously (assignment cost scales with it) or
    * pre-partition the corpus and run per partition.
    */
  def semanticPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      k: Int = 0,
      iters: Int = 2,
      seed: Long = 42L,
      targetCellSize: Int = 512,
      maxCells: Int = 4096): DataFrame = {
    require(targetCellSize > 0, s"targetCellSize must be positive, got $targetCellSize")
    require(maxCells > 0, s"maxCells must be positive, got $maxCells")
    // normalize ONCE and persist: the count (auto-k), Lloyd fit, and both sides of
    // the within-cell self-join all ride this scan — an uncached emb lineage would
    // otherwise be re-executed three times (released by the caller's Caching.withCached
    // bracket)
    val norm = emb.select(col(idCol).as("id"),
        Similarity.normalized(col(vecCol).cast("array<double>")).as("v"))
      .scopedPersist()
    val cells =
      if (k > 0) k
      else math.min(maxCells.toLong,
        math.max(8L, (norm.count() + targetCellSize - 1) / targetCellSize)).toInt
    val model = Ivf.fit(norm, "id", "v", cells, iters, seed)
    val v = norm
      .withColumn("cell", graft.functions.nearest_centroid(col("v"), model.centroids))
      .scopedPersist()
    v.alias("l")
      .join(v.alias("r"), col("l.cell") === col("r.cell") && col("l.id") < col("r.id"))
      .withColumn("cosine", graft.functions.array_dot(col("l.v"), col("r.v")))
      .filter(col("cosine") >= threshold)
      .select(col("l.id").as("id_l"), col("r.id").as("id_r"), col("cosine"))
  }

  /** Scale path for embedding near-dup pairs: random-hyperplane LSH candidate
    * generation + exact cosine verification — the same shape as [[minhashLshPairs]]
    * (signature → bucket equi-join → verify), never an all-pairs join.
    *
    * Each of the `nTables` tables hashes a vector to a `bitsPerTable`-bit
    * sign-random-projection bucket (one codegen'd vector pass for all tables,
    * [[graft.functions.hyperplane_signatures]]); rows sharing any table's bucket become
    * candidates, verified with a primitive-loop dot product over unit-normalized
    * vectors. Work scales with bucket collisions (candidates ≈ nTables · Σ_bucket C(n,2)),
    * not corpus².
    *
    * Recall: a pair at angle θ collides in one table with p = (1 − θ/π)^bits,
    * and is missed entirely with (1 − p)^nTables. The defaults (20 tables × 16 bits)
    * give a per-pair miss probability < 1e-9 at cosine ≥ 0.99 and < 1e-4 at 0.95 —
    * sized for near-duplicate thresholds (≥ ~0.9). A threshold this function cannot
    * serve (e.g. 0.45 on ~random vectors, θ ≈ 63°) has no sub-quadratic LSH
    * parameterization at high recall; that regime is what [[embeddingPairs]] is for.
    *
    * Bucket sizing: for a FIXED signature width, random-pair collisions grow as
    * N²·2^−bits — quadratic no matter the bucket count (measured: 27× wall time for
    * 4× corpus at 16 bits / 400k vectors). The signature width therefore auto-widens
    * with the corpus, `bits = max(bitsPerTable, ⌈log2 N⌉ + 3)`, pinning expected
    * random collisions per table to ~N/8, and the table count widens
    * proportionally (`⌈nTables · bits / bitsPerTable⌉`) to pay back the per-table
    * recall that wider signatures cost. Net recall at the near-dup thresholds:
    * cosine 0.99 at 28 bits × 35 tables misses a true pair with (1 − 0.968²⁸)³⁵
    * ≈ 2e-8 (16 bits × 20 tables: ≈ 2e-8 as well); at cosine 0.95 the miss is a few
    * percent either way — the inherent LSH trade at angle ~18°; raise `nTables` if
    * that tail matters. Widening only engages above 2^(bitsPerTable−3) rows, so
    * small-corpus results are unchanged; total work stays linear in N · tables.
    *
    * Lifecycle: persists the vector and bucket scans via [[graft.util.Caching]];
    * bracket materialization in `Caching.withCached { ... }` to release exactly them.
    */

  def embeddingLshPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nTables: Int = 20,
      bitsPerTable: Int = 16,
      seed: Long = 42L): DataFrame = {
    val dim = emb.select(size(col(vecCol))).first().getInt(0)
    // persist: v feeds the corpus count, the bucket explode, AND both verify joins —
    // without it the normalize scan (and whatever lineage produced `emb`) re-executes
    val v = emb.select(col(idCol).as("id"),
        Similarity.normalized(col(vecCol).cast("array<double>")).as("v"))
      .scopedPersist()
    val n = v.count()
    val bits = math.min(28,
      math.max(bitsPerTable, (math.log(n.toDouble.max(2.0)) / math.log(2.0)).ceil.toInt + 3))
    // widen tables with the signature so per-pair recall survives the extra bits
    val tables = math.ceil(nTables.toDouble * bits / bitsPerTable).toInt
    val planes = (0 until tables).toArray
      .flatMap(t => Similarity.randomPlanes(bits, dim, seed + t))
    // persisted: the self-join references both sides — without it the signature
    // pass (tables × bits dots per row) runs twice
    val buckets = v
      .withColumn("sigs", graft.functions.hyperplane_signatures(col("v"), planes, bits))
      .select(col("id"), posexplode(col("sigs")).as(Seq("table", "sig")))
      .scopedPersist()
    val candidates = buckets.alias("l")
      .join(buckets.alias("r"),
        col("l.table") === col("r.table") && col("l.sig") === col("r.sig") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_l"), col("r.id").as("id_r"))
      .distinct()
    val vecs = v.select(col("id"), col("v"))
    candidates
      .join(vecs.select(col("id").as("id_l"), col("v").as("v_l")), "id_l")
      .join(vecs.select(col("id").as("id_r"), col("v").as("v_r")), "id_r")
      .withColumn("cosine", graft.functions.array_dot(col("v_l"), col("v_r")))
      .filter(col("cosine") >= threshold)
      .select("id_l", "id_r", "cosine")
  }

  /** Exact-substring duplicate spans (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better" — the ExactSubstr pass) re-expressed relationally:
    * the suffix-array scan that finds repeated token runs becomes a hashed k-gram
    * GROUP BY. Every token k-gram occurring `minCount`+ times anywhere in the corpus
    * — across documents or repeated within one — marks its k token positions as
    * duplicated; per document, overlapping or adjacent marked windows merge into
    * maximal spans. Output: one row per merged span,
    * `(id, span_start, span_end, span_tokens)`, 0-based inclusive token positions.
    *
    * Scale design: work is O(total tokens). The shuffles are (a) the k-gram count
    * keyed on the 8-byte md5 prefix of the shingle — the shingle TEXT never shuffles
    * — (b) a semi-join marking duplicated positions, and (c) a PER-DOCUMENT window
    * for the interval merge (partitioned by id; no global ordering anywhere). This
    * is the distributed stand-in for the suffix-array formulation, which needs a
    * single global order and does not shard.
    */
  def substringSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minCount: Int = 2): DataFrame = {
    require(k >= 2 && minCount >= 2,
      s"need k >= 2 and minCount >= 2, got k=$k minCount=$minCount")
    val sh = df.select(col(idCol).as("id"),
        posexplode(TextOps.shingles(col(textCol), k)).as(Seq("pos", "sh")))
      .select(col("id"), col("pos"), graft.functions.md5_prefix_long(col("sh")).as("h"))
      .scopedPersist()
    val dup = sh.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount).select("h")
    val marked = sh.join(dup, Seq("h"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy("pos")
    // windows [p, p+k-1] sorted by start all have length k: the previous one overlaps
    // or is adjacent iff pos - lag(pos) <= k (lag null on the first row -> new span)
    marked
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) <= k, lit(0L)).otherwise(lit(1L)))
      .withColumn("sid", sum("brk").over(w))
      .groupBy("id", "sid")
      .agg(min("pos").as("span_start"), (max("pos") + lit(k - 1)).as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Apply exact-substring dedup: drop every duplicated span's tokens from every
    * document (the Lee et al. remove-all policy — both copies go; at corpus scale
    * the k-token context that survives on each side keeps documents coherent).
    * Output `(id, n_tokens, n_removed, cleaned_text)`.
    *
    * The span list rides back to its document as ONE per-doc array (bounded by
    * n_tokens/k spans per doc), and the token drop is a higher-order `filter` over
    * the split — no token-level explode or re-aggregation.
    */
  def substringApply(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minCount: Int = 2): DataFrame = {
    val spans = substringSpans(df, idCol, textCol, k, minCount)
      .groupBy("id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"),
        sum("span_tokens").as("n_removed"))
    val noSpans = array().cast("array<struct<span_start:int,span_end:int>>")
    df.select(col(idCol).as("id"),
        coalesce(
          filter(split(trim(col(textCol)), "\\s+"), t => length(t) > 0),
          array().cast("array<string>")).as("toks"))
      .join(spans, Seq("id"), "left")
      .select(col("id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        array_join(
          filter(col("toks"),
            (t, i) => !exists(coalesce(col("spans"), noSpans),
              s => i.between(s.getField("span_start"), s.getField("span_end")))),
          " ").as("cleaned_text"))
  }
}
