package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Bridge

import graft.expressions._

/** Column-API facade over the engine's custom Catalyst expressions — the equivalent of
  * the reference's `object functions` (reference: scala/.../arc/functions.scala:9-86),
  * minus the py4j `ArrayList` overloads (single-language Scala engine, no py4j boundary).
  */
object functions {

  /** E1 — co-occurrence counts over every n-combination of the attribute columns
    * (reference: functions.scala:11-24). */
  def combinatorial_count_agg(
      nCombination: Int,
      threshold: Long,
      topK: Int,
      attributes: (String, Column)*): Column =
    Bridge.aggColumn(CombinatorialCountAgg(
      attributes.map(a => Bridge.expression(a._2)),
      attributes.map(_._1),
      nCombination, threshold, topK))

  def combinatorial_count_agg(nCombination: Int, attributes: (String, Column)*): Column =
    combinatorial_count_agg(nCombination, 1L, 1000, attributes: _*)

  /** E2 — key-wise sum of count maps (reference: functions.scala:26-31). */
  def merge_count_map_agg(countMap: Column): Column =
    Bridge.aggColumn(MergeCountMapAgg(Bridge.expression(countMap)))

  /** E3 — single-pass multi-column Shannon entropy (reference: functions.scala:33-44). */
  def entropy_agg(base: Int, attributes: (String, Column)*): Column =
    Bridge.aggColumn(EntropyAgg(
      attributes.map(a => Bridge.expression(a._2)),
      attributes.map(_._1),
      base))

  /** E6 — all n-combinations as one nested array (reference: functions.scala:46-51). */
  def combinations(n: Column, elements: Column): Column =
    Bridge.column(ArrayCombinations(Bridge.expression(n), Bridge.expression(elements)))

  /** E4 — generator form: explode(combinations(...)) (reference: functions.scala:53-58). */
  def generate_combinations(n: Column, elements: Column): Column =
    org.apache.spark.sql.functions.explode(combinations(n, elements))

  /** E5 — extend a partial combination by n more elements (reference: functions.scala:60-66). */
  def generate_partial_combinations(n: Column, partial: Column, elements: Column): Column =
    org.apache.spark.sql.functions.explode(Bridge.column(PartialCombinations(
      Bridge.expression(n), Bridge.expression(partial), Bridge.expression(elements))))

  /** E7 — render a rule combination to blocking-rule SQL (reference: functions.scala:68-70). */
  def to_splink_rule(combination: Column): Column =
    Bridge.column(ToSplinkRule(Bridge.expression(combination)))

  /** E8 — estimated pair cost of OR-ing rules (reference: functions.scala:72-76). */
  def estimate_squared_count_or(
      ruleCombination: Column,
      stats: Map[String, (Long, Long)]): Column =
    Bridge.column(EstimateSquaredCountOR(Bridge.expression(ruleCombination), stats))

  /** J2 — Jaro-Winkler similarity (Spark lacks a built-in; codegen-enabled). */
  def jaro_winkler(left: Column, right: Column): Column =
    Bridge.column(JaroWinkler(Bridge.expression(left), Bridge.expression(right)))

  /** J2 — banded Levenshtein: exact distance when ≤ threshold, −1 otherwise
    * (codegen-enabled; O(t·len) per pair — the kernel of the Levenshtein gamma).
    */
  def bounded_levenshtein(left: Column, right: Column, threshold: Int): Column =
    Bridge.column(BoundedLevenshtein(
      Bridge.expression(left), Bridge.expression(right), threshold))

  /** A constant that generated code reads by reference instead of inlining it
    * ([[RefLiteral]]): plans that differ only in such constants share one compiled
    * class.
    */
  def ref_lit(value: Any): Column = Bridge.column(RefLiteral.of(value))

  /** J2 — character-set Jaccard similarity (codegen-enabled; DuckDB `jaccard()` semantics). */
  def char_set_jaccard(left: Column, right: Column): Column =
    Bridge.column(CharSetJaccard(Bridge.expression(left), Bridge.expression(right)))

  /** Whitespace-token set Jaccard similarity (codegen-enabled; document dedup). */
  def token_set_jaccard(left: Column, right: Column): Column =
    Bridge.column(TokenSetJaccard(Bridge.expression(left), Bridge.expression(right)))

  /** Primitive-loop dot product over two array<double> columns (ANN hot path). */
  def array_dot(left: Column, right: Column): Column =
    Bridge.column(ArrayDot(Bridge.expression(left), Bridge.expression(right)))

  /** All sign-random-projection LSH signatures of an array<double> vector in one
    * codegen'd pass: `array<int>` of length `planes.length / bitsPerSig` (ANN and
    * embedding-dedup candidate generation).
    */
  def hyperplane_signatures(vec: Column, planes: Array[Array[Double]], bitsPerSig: Int): Column =
    Bridge.column(HyperplaneSignatures(Bridge.expression(vec), planes, bitsPerSig))

  /** Index of the max-dot-product centroid (ties → lowest index); IVF cell assignment
    * as one codegen'd projection over driver-side centroid constants.
    */
  def nearest_centroid(vec: Column, centroids: Array[Array[Double]]): Column =
    Bridge.column(NearestCentroid(Bridge.expression(vec), centroids))

  /** Indices of the nprobe max-dot-product centroids, best first (IVF probe cells)
    * in one codegen'd projection — no centroid cross-join, no ranking window.
    */
  def top_centroids(vec: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    Bridge.column(TopCentroids(Bridge.expression(vec), centroids, nprobe))

  /** Unit-normalized array<double> in one codegen'd pass (zero vectors unchanged). */
  def array_normalize(vec: Column): Column =
    Bridge.column(ArrayNormalize(Bridge.expression(vec)))

  /** Element-wise average of array<double> rows per group (embedding mean-pooling):
    * buffer = one (sum vector, count) per group — never a per-position explode.
    */
  def array_avg_agg(vec: Column): Column =
    Bridge.aggColumn(ArrayAvgAgg(Bridge.expression(vec)))

  /** Product-quantization codes (`array<int>`, length = number of subspaces) of an
    * array<double> vector against per-subspace codebooks: one codegen'd projection,
    * argmin squared-L2 per subspace.
    */
  def pq_encode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    Bridge.column(PqEncode(Bridge.expression(vec), codebooks))

  /** Asymmetric-distance dot-product estimate between a PQ codes row and a full
    * query vector — candidates are scored from codes alone, never their raw vectors.
    */
  def pq_adc_score(codes: Column, query: Column, codebooks: Array[Array[Array[Double]]]): Column =
    Bridge.column(PqAdcScore(Bridge.expression(codes), Bridge.expression(query), codebooks))

  /** Flattened outer product v ⊗ v (row-major d² doubles) in one codegen'd pass —
    * the per-row second-moment contribution of a distributed covariance build.
    */
  def array_outer_flat(vec: Column): Column =
    Bridge.column(ArrayOuterFlat(Bridge.expression(vec)))

  /** First 8 bytes of md5(s) as a big-endian long (hex nibble j = bits 60−4j..63−4j);
    * the allocation-free route to md5-derived bit signatures.
    */
  def md5_prefix_long(s: Column): Column =
    Bridge.column(Md5PrefixLong(Bridge.expression(s)))

  /** 64-bit SimHash of the distinct whitespace-token set in one stateless pass —
    * no explode, no shuffle; NULL for token-less input.
    */
  def simhash64(s: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(s)))

  /** MinHash signature (k min-md5 hex strings over distinct word n-gram shingles) in
    * one stateless pass — no explode, no shuffle; NULL for shingle-less input.
    */
  def minhash_signatures(s: Column, k: Int, shingleN: Int): Column =
    Bridge.column(MinhashSignatures(Bridge.expression(s), k, shingleN))

  /** Winnowing fingerprints: sorted distinct sliding-window minima of k-gram
    * Rabin-Karp rolling hashes (one O(len) codegen'd pass).
    */
  def rolling_fingerprints(s: Column, k: Int, w: Int): Column =
    Bridge.column(RollingFingerprints(Bridge.expression(s), k, w))

  /** Gopher-style repetition counters (token count, top-token multiplicity,
    * total/distinct 2- and 3-grams, adjacent repeats) in one tokenization pass;
    * returns a struct of exact integer counts.
    */
  def repetition_stats(s: Column): Column =
    Bridge.column(RepetitionStats(Bridge.expression(s)))

  /** Content-defined chunking of a binary payload by gear rolling hash (FastCDC
    * family): `array<struct<offset, length, hash>>` with FNV-1a 64 chunk hashes —
    * the blob-dedup primitive whose boundaries resynchronize after local edits.
    */
  def cdc_chunks(bin: Column, minSize: Int, avgBits: Int, maxSize: Int): Column =
    Bridge.column(CdcChunks(Bridge.expression(bin), minSize, avgBits, maxSize))

  /** Accent/diacritic folding (NFD-decompose, drop combining marks) with an ASCII
    * fast path; matches DuckDB `strip_accents`.
    */
  def strip_accents(s: Column): Column =
    Bridge.column(StripAccents(Bridge.expression(s)))

  /** Vocabulary encoding: array<string> tokens → array<int> ids via a driver-bounded
    * hash table riding the expression (no join, no shuffle); OOV → unkId.
    */
  def vocab_encode(tokens: Column, vocab: Map[String, Int], unkId: Int = 0): Column =
    Bridge.column(VocabEncode(Bridge.expression(tokens), vocab, unkId))

  /** Vocabulary decoding — inverse of [[vocab_encode]]: array<int> ids →
    * array<string> tokens via the inverted bounded vocabulary; unknown ids → unk.
    */
  def vocab_decode(ids: Column, vocab: Map[String, Int],
      unkToken: String = "<unk>"): Column = {
    val inverted = vocab.map(_.swap)
    require(inverted.size == vocab.size, "vocab_decode requires injective token ids")
    Bridge.column(VocabDecode(Bridge.expression(ids), inverted, unkToken))
  }

  /** BPE encoding: array<string> words → array<string> subword tokens by applying a
    * bounded ordered merge list (chars + `</w>` marker, lowest-rank pair fused
    * first); the merge table rides the expression — no join, no shuffle.
    */
  def bpe_encode(tokens: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeEncode(Bridge.expression(tokens), merges))

  /** Unigram-LM (SentencePiece-style) encoding: array<string> words →
    * array<string> pieces by per-word Viterbi segmentation under a bounded
    * piece → log-prob table; the table rides the expression — no join, no shuffle.
    */
  def unigram_encode(tokens: Column, pieces: Map[String, Double],
      maxPieceLen: Int = UnigramEncode.MaxPieceLen): Column =
    Bridge.column(UnigramEncode(Bridge.expression(tokens), pieces,
      maxPieceLen = maxPieceLen))

  /** Greedy MMR selection over one query's bounded candidate array
    * (`array<struct<id, rel, emb>>`) — λ·relevance − (1−λ)·max-cosine-to-selected,
    * ids returned in pick order. Row-local: no join, no shuffle.
    */
  def mmr_select(cands: Column, lambdaWeight: Double, k: Int): Column =
    Bridge.column(MmrSelect(Bridge.expression(cands), lambdaWeight, k))

  /** Distributed Bloom-filter build over `xxhash64`-hashed items (Spark's own
    * runtime-filter aggregate, `BloomFilterAggregate`): returns the filter as one
    * `binary` value. Bit count is sized from `expectedItems` and the target
    * false-positive probability (`m = -n·ln(p)/ln(2)²`).
    *
    * `items` must be LongType — hash the actual key with
    * `org.apache.spark.sql.functions.xxhash64` (the probe side must use the same hash).
    *
    * Session-wide side effect (documented, deliberate): the runtime-filter conf caps
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits`/`maxNumItems` are raised on
    * the ACTIVE session to at least the requested size, and stay raised — the caps
    * are consulted when the aggregate EXECUTES, not here, so they cannot be restored
    * after this (lazy) Column is built. They only ever ratchet upward and bound
    * nothing but this aggregate's own allocation.
    */
  def bloom_filter_agg(items: Column, expectedItems: Long, fpp: Double): Column = {
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val ln2 = math.log(2)
    val numBits = math.max(64L, math.ceil(-expectedItems * math.log(fpp) / (ln2 * ln2)).toLong)
    // BloomFilterAggregate SILENTLY clamps to the runtime-filter conf caps
    // (maxNumBits default 8M bits, maxNumItems default 4M) — a clamped filter has
    // effective fpp near 1 and the "prefilter" passes everything. Raise the caps to
    // the requested size so the sizing actually takes effect; with no active session
    // the caps CANNOT be raised and the clamp would silently degrade — fail loudly.
    val session = org.apache.spark.sql.SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException(
        "bloom_filter_agg requires an active SparkSession: the runtime bloomFilter " +
          "caps must be raised or BloomFilterAggregate silently clamps the filter " +
          s"(requested $numBits bits for $expectedItems items at fpp=$fpp)"))
    def raise(key: String, v: Long): Unit = {
      if (session.conf.getOption(key).forall(_.toLong < v)) session.conf.set(key, v.toString)
      val effective = session.conf.get(key).toLong
      assert(effective >= v,
        s"$key=$effective still below requested $v after raising — filter would clamp")
    }
    raise("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", numBits)
    raise("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", expectedItems)
    Bridge.aggColumn(new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      Bridge.expression(items),
      org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
      org.apache.spark.sql.catalyst.expressions.Literal(numBits)))
  }

  /** Codegen'd Bloom-filter membership probe (Spark's `BloomFilterMightContain`).
    * `bloom` must be a constant (a `lit` of the bytes from [[bloom_filter_agg]]);
    * `value` is the `xxhash64` of the probed key. False positives at the build fpp,
    * never false negatives — follow with an exact verification join when exactness
    * matters.
    */
  def bloom_might_contain(bloom: Column, value: Column): Column =
    Bridge.column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      Bridge.expression(bloom), Bridge.expression(value)))
}
