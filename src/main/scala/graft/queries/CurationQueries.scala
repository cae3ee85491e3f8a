package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.textops.{Curation, TextOps}
import graft.util.Caching.CacheSyntax
import graft.queries.Fixtures.docs

/** SparkEntry query + oracle entries for corpus curation: repetition metrics,
  * deterministic domain mixing / splits, token-budget sequence packing, boilerplate
  * stats, benchmark contamination, PII redaction.
  *
  * Every query here is DuckDB-oracle-checked: sampling draws are md5-prefix
  * comparisons, ratios are exact integer counts divided and rounded identically on
  * both sides, and regexes are restricted to the Java-regex ∩ RE2 subset.
  */
object CurationQueries {

  /** Domain-mixing target rates (en is over-represented in the synthetic corpus). */
  private val MixRates: Map[String, Double] =
    Map("en" -> 0.25, "es" -> 0.5, "fr" -> 0.5, "de" -> 0.75, "zh" -> 1.0)
  private val MixSalt = "mix1"
  private val SplitSalt = "split1"
  private val TrainFrac = 0.8
  private val PackBudget = 512
  private val BoilerMinDf = 5L
  private val ContamThreshold = 0.5

  /** Per-JVM token for scratch paths (shard-sink fixture): concurrent harness runs
    * must not share a temp directory.
    */
  private val RunToken = java.util.UUID.randomUUID().toString.take(8)

  /** Epochs per language for the epoch-mix fixture: <1 downsamples, >1 repeats. */
  private val EpochRates: Map[String, Double] =
    Map("en" -> 0.5, "es" -> 1.0, "fr" -> 1.5, "de" -> 2.0, "zh" -> 2.25)
  private val EpochSalt = "epoch1"

  /** Target token shares for the mixture-weight solver fixture (sums to 1). */
  private val MixTargets: Map[String, Double] =
    Map("en" -> 0.4, "zh" -> 0.2, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.1)
  private val TopFraction = 0.3
  private val GopherMinWords = 20

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_repetition" -> { (s, dir) =>
      // Gopher-style repetition: one native single-pass stats struct per document,
      // ratios derived from its exact integer counts
      val r = graft.functions.repetition_stats(col("text"))
      docs(s, dir).select(col("doc_id"), r.as("r"))
        .select(col("doc_id"),
          col("r.n_tokens").as("n_tokens"),
          round(when(col("r.n_tokens") === 0, lit(0.0))
            .otherwise(col("r.top_token").cast("double") / col("r.n_tokens")), 6)
            .as("top_token_ratio"),
          round(when(col("r.n2") === 0, lit(0.0))
            .otherwise((col("r.n2") - col("r.d2")).cast("double") / col("r.n2")), 6)
            .as("dup_2gram_ratio"),
          round(when(col("r.n3") === 0, lit(0.0))
            .otherwise((col("r.n3") - col("r.d3")).cast("double") / col("r.n3")), 6)
            .as("dup_3gram_ratio"),
          round(when(col("r.n2") === 0, lit(0.0))
            .otherwise(col("r.adj").cast("double") / col("r.n2")), 6)
            .as("adjacent_repeat_ratio"))
        .orderBy("doc_id")
    },
    "curation_mix_sample" -> { (s, dir) =>
      // deterministic per-language downsampling toward MixRates; pure filter, no RNG
      Curation.stratifiedSample(docs(s, dir), col("doc_id"), col("lang"),
          MixRates, defaultRate = 1.0, salt = MixSalt)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          sum(TextOps.tokenCount(col("text"))).as("tokens_kept"))
        .orderBy("lang")
    },
    "curation_importance_sample" -> { (s, dir) =>
      // quality-weighted sampling: each doc keeps with probability = its own
      // (rounded) quality score — better docs survive more often, deterministically
      val scored = docs(s, dir)
        .withColumn("q", round(TextOps.qualityScore(col("text")), 6))
      Curation.importanceSample(scored, col("doc_id"), col("q"), "imp1")
        .select(col("doc_id"), col("lang"), col("q"))
        .orderBy("doc_id")
    },
    "curation_temperature_mix" -> { (s, dir) =>
      // the n^alpha pretraining-mixture recipe: alpha=0.5 upsamples small languages
      // relative to proportional; per-domain rates derive from the data, capped at 1
      Curation.temperatureMix(docs(s, dir), col("doc_id"), col("lang"),
          alpha = 0.5, budgetRows = 200, salt = "temp1")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },
    "curation_weighted_sample" -> { (s, dir) =>
      // Efraimidis-Spirakis draw-without-replacement: exactly 100 docs, inclusion
      // probability proportional to n_chars, one TakeOrdered job
      Curation.weightedSample(docs(s, dir).select(col("doc_id"), col("n_chars")),
          col("doc_id"), col("n_chars"), n = 100, salt = "wsamp1")
        .orderBy("doc_id")
    },
    "curation_global_shuffle" -> { (s, dir) =>
      // deterministic corpus-wide training order (shuffle-once-before-sharding):
      // dense md5-ordered positions via bucket offsets + a parallel window
      Curation.globalShuffle(docs(s, dir), col("doc_id"), "gs1")
        .select(col("position"), col("doc_id"), col("lang"))
        .orderBy("position")
    },
    "curation_curriculum_order" -> { (s, dir) =>
      // length curriculum: bucket by exact token-count quartiles (short → long),
      // deterministic shuffle within buckets, dense bucket-major positions
      Curation.curriculumOrder(
          docs(s, dir).withColumn("n_tokens", TextOps.tokenCount(col("text"))),
          col("doc_id"), col("n_tokens"), numBuckets = 4, salt = "cur1")
        .select(col("position"), col("doc_id"), col("bucket"), col("n_tokens"))
        .orderBy("position")
    },
    "ep8_training_file" -> { (s, dir) =>
      // final pretraining-dataset assembly, one plan, fully oracle-checked:
      // temperature-mix the domains (n^0.5, 300-row budget) → deterministic global
      // shuffle → cut the order into fixed 64-row shards → per-shard manifest
      val mixed = Curation.temperatureMix(docs(s, dir), col("doc_id"), col("lang"),
        alpha = 0.5, budgetRows = 300, salt = "ep8t")
      Curation.globalShuffle(mixed, col("doc_id"), "ep8s")
        .withColumn("shard", ((col("position") - 1) / lit(64)).cast("int"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text"))).as("n_tokens"),
          min("position").as("p_min"), max("position").as("p_max"))
        .orderBy("shard")
    },
    "curation_split" -> { (s, dir) =>
      Curation.assignSplit(docs(s, dir), col("doc_id"), TrainFrac, SplitSalt)
        .groupBy("lang", "split").agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")
    },
    "curation_chat_validate" -> { (s, dir) =>
      // SFT chat-format gate over a deterministic JSON conversation fixture built
      // from orders (planted defects by orderkey modulus: 13 role-swap, 11
      // truncated JSON, 7 dangling user turn, 5 whitespace-only content; %3 adds
      // a second exchange pair, %2 a system turn — the 2-pair convos also bust
      // the 12-token budget, exercising every check)
      graft.textops.ChatOps.validateChat(
          chatFixture(s, dir), col("rec_id"), col("conv"), maxTokens = 12)
        .orderBy("rec_id")
    },
    "ep15_sft_corpus" -> { (s, dir) =>
      // SFT corpus capstone: chat gate -> render "role: content" training text ->
      // 64-token packing sharded by rec_id % 8; per-sequence manifest out
      import org.apache.spark.sql.functions.{from_json, transform => htransform}
      val fx = chatFixture(s, dir)
      val valid = graft.textops.ChatOps.validateChat(fx, col("rec_id"), col("conv"), 12)
        .filter(col("valid")).select("rec_id")
      val rendered = fx.join(valid, Seq("rec_id"))
        .select(col("rec_id"),
          concat_ws("\n", htransform(
            from_json(col("conv"), graft.textops.ChatOps.MessageSchema),
            m => concat(m.getField("role"), lit(": "), m.getField("content"))))
            .as("text"))
      val sized = rendered.select(col("rec_id"), (col("rec_id") % 8).as("shard"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      Curation.packSequences(sized, col("n_tokens"), Seq(col("shard")),
          col("rec_id"), budget = 64)
        .groupBy("shard", "seq_id")
        .agg(count(lit(1)).as("n_recs"), sum("n_tokens").as("seq_tokens"),
          min("rec_id").as("first_rec"), max("rec_id").as("last_rec"))
        .orderBy("shard", "seq_id")
    },
    "curation_pack_stats" -> { (s, dir) =>
      // packing-efficiency audit: per-language fill ratio and padding waste of the
      // 512-token sequences (integer sums -> one division, engine-exact); a doc
      // spanning a bin boundary counts into the bin where it starts, so sequences
      // can overflow the budget — reported, not hidden
      val sized = docs(s, dir).select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      val seqs = Curation.packSequences(sized, col("n_tokens"), Seq(col("lang")),
          col("doc_id"), PackBudget)
        .groupBy("lang", "seq_id")
        .agg(sum("n_tokens").as("seq_tokens"))
      seqs.groupBy("lang")
        .agg(count(lit(1)).as("n_seqs"),
          sum("seq_tokens").as("tokens_total"),
          min("seq_tokens").as("min_tokens"),
          max("seq_tokens").as("max_tokens"),
          sum(when(col("seq_tokens") > PackBudget, 1L).otherwise(0L)).as("n_overflow"),
          sum(when(col("seq_tokens") * 2 < PackBudget, 1L).otherwise(0L)).as("n_underhalf"))
        .withColumn("fill_ratio",
          round(col("tokens_total").cast("double") / (col("n_seqs") * PackBudget), 6))
        .orderBy("lang")
    },
    "curation_pack" -> { (s, dir) =>
      // concatenate-then-chunk packing into 512-token sequences, sharded by lang
      val sized = docs(s, dir).select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).as("n_tokens"))
      Curation.packSequences(sized, col("n_tokens"), Seq(col("lang")),
          col("doc_id"), PackBudget)
        .groupBy("lang", "seq_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("seq_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("lang", "seq_id")
    },
    "curation_boilerplate" -> { (s, dir) =>
      // share of each document's 3-shingles that are corpus-frequent (doc-freq ≥ 5);
      // runs over the planted corpus so copies push shingles over the threshold
      Curation.boilerplateShingleStats(
          TextQueries.plantedCorpus(s, dir), "doc_id", "text", 3, BoilerMinDf)
        .select(col("doc_id"), col("n_shingles"), col("n_boiler"),
          round(col("n_boiler").cast("double") / col("n_shingles"), 6).as("boiler_ratio"))
        .orderBy("doc_id")
    },
    "curation_contamination" -> { (s, dir) =>
      // benchmark = original docs with doc_id % 13 = 0; corpus = planted corpus minus
      // those ids — planted exact/near copies of benchmark docs must be flagged
      val corpus = TextQueries.plantedCorpus(s, dir).filter(col("doc_id") % 13 =!= 0)
      val bench = docs(s, dir).filter(col("doc_id") % 13 === 0)
      Curation.contaminationStats(corpus, bench, "doc_id", "text", 3)
        .withColumn("contamination",
          round(col("n_overlap").cast("double") / col("n_shingles"), 6))
        .filter(col("contamination") >= ContamThreshold)
        .orderBy("doc_id")
    },
    "curation_decontaminate" -> { (s, dir) =>
      // exact decontamination via Bloom prefilter + verification semi-join: every
      // planted copy of a benchmark doc must vanish from the cleaned corpus (the
      // Bloom filter only prunes — false positives die in the verify join)
      val corpus = TextQueries.plantedCorpus(s, dir).filter(col("doc_id") % 13 =!= 0)
      val bench = docs(s, dir).filter(col("doc_id") % 13 === 0)
      Curation.bloomDecontaminate(corpus, bench, "doc_id", "text", 3)
        .select(col("doc_id"))
        .orderBy("doc_id")
    },
    "curation_chunk" -> { (s, dir) =>
      // RAG-style passage chunking: 32-token windows every 24 tokens (25% overlap),
      // final partial window kept
      Curation.chunkPassages(docs(s, dir), "doc_id", "text",
          windowTokens = 32, strideTokens = 24)
        .orderBy("doc_id", "chunk_index")
    },
    "curation_vocab" -> { (s, dir) =>
      // word-level vocabulary: top-50 tokens by corpus frequency, deterministic ids
      Curation.buildVocab(docs(s, dir), col("text"), topK = 50)
        .orderBy("token_id")
    },
    "curation_dedup_lines" -> { (s, dir) =>
      // INTRA-doc repeated-line removal (the C4/Gopher rewrite step): fixture
      // re-chunks each doc into 6-token lines and re-appends the FIRST line, so
      // every non-empty doc carries >= 1 planted intra-doc repeat — full oracle
      val toks = TextOps.tokens(col("text"))
      val line6 = transform(
        sequence(lit(0), ceil(size(toks) / lit(6.0)).cast("int") - 1),
        i => array_join(slice(toks, i * lit(6) + 1, lit(6)), " "))
      val fix = docs(s, dir).filter(size(toks) > 0).select(col("doc_id"),
        array_join(concat(line6, slice(line6, 1, 1)), "\n").as("text"))
      Curation.dedupLinesWithinDoc(fix, "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_lines"), col("n_dropped"),
          md5(col("text")).as("text_hash"))
        .orderBy("doc_id")
    },
    "text_tokenizer_fertility" -> { (s, dir) =>
      // tokenizer evaluation: per-language fertility (BPE tokens per word) and
      // compression (chars per token) under the fixed derivation-ordered merge
      // list — the eval a tokenizer-selection pipeline runs per corpus slice
      val d = docs(s, dir)
      val enc = Curation.bpeApply(d, "doc_id", "text", BpeFixedMerges)
        .select(col("doc_id"), col("n_bpe"))
      d.select(col("doc_id"), col("lang"),
          size(TextOps.tokens(col("text"))).as("nw"), length(col("text")).as("nc"))
        .join(enc, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("nw").as("n_words"), sum("n_bpe").as("n_tokens"),
          round(sum("n_bpe") / sum("nw"), 6).as("fertility"),
          round(sum("nc") / sum("n_bpe"), 6).as("chars_per_token"))
        .orderBy("lang")
    },
    "curation_dedup_paragraphs" -> { (s, dir) =>
      // corpus-wide paragraph dedup: the fixture re-chunks each doc into 8-token
      // newline-joined paragraphs; planted full copies come back empty, near-copies
      // keep only their novel tail paragraph
      val toks = TextOps.tokens(col("text"))
      val para8 = when(size(toks) === 0, lit("")).otherwise(array_join(
        transform(sequence(lit(0), ceil(size(toks) / lit(8.0)).cast("int") - 1),
          i => array_join(slice(toks, i * lit(8) + 1, lit(8)), " ")),
        "\n"))
      val corpus = TextQueries.plantedCorpus(s, dir)
        .select(col("doc_id"), para8.as("text"))
      Curation.dedupParagraphs(corpus, "doc_id", "text", "\n")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    "curation_shard_manifest" -> { (s, dir) =>
      // sharded sink: deterministic md5 shards, partitioned write, manifest
      // aggregated from the files READ BACK (proves the sink round-trip).
      // The temp path is unique per JVM (concurrent harness runs never clobber each
      // other) and registered for deletion at exit (repeated runs don't accumulate)
      val path = graft.util.Scratch.deleteOnExit(
        s"${System.getProperty("java.io.tmpdir")}/graft_shards/$RunToken") + "/documents"
      val back = Curation.writeShards(docs(s, dir), col("doc_id"), 8, path, "shard1")
      back.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text"))).as("n_tokens"))
        .orderBy("shard")
    },
    "curation_fold_text" -> { (s, dir) =>
      // accent+case folding; the appended literal plants non-ASCII content so the
      // fold is actually exercised (the synthetic corpus is mostly ASCII)
      docs(s, dir).select(col("doc_id"),
          TextOps.foldText(concat(col("text"), lit(" Café NAÏVE Straße ÉLAN")))
            .as("folded"))
        .orderBy("doc_id")
    },
    "curation_vocab_encode" -> { (s, dir) =>
      // text → token ids through the top-50 vocabulary (OOV → 0), plus the OOV count.
      // The id sequence is compared as a CSV string: the driver's pandas comparator
      // sorts result rows, and raw array cells are unhashable there — a scalar
      // rendering makes the same data hash-comparable on both engines.
      val vocab = Curation.buildVocab(docs(s, dir), col("text"), topK = 50)
      Curation.encodeTokens(docs(s, dir), "doc_id", "text", vocab)
        .select(col("doc_id"),
          array_join(transform(col("token_ids"), _.cast("string")), ",")
            .as("token_ids_csv"),
          size(filter(col("token_ids"), _ === 0)).cast("long").as("n_oov"))
        .orderBy("doc_id")
    },
    "ep3_training_mix" -> { (s, dir) =>
      // the curation pipeline end-to-end: quality filter → decontaminate against the
      // benchmark (doc_id % 13) → exact-dedup to keepers → deterministic domain mix
      // → pack into 512-token sequences; per-(lang, seq) stats, fully oracle-checked
      val bench = docs(s, dir).filter(col("doc_id") % 13 === 0)
      // persisted: the scored+filtered corpus feeds BOTH the contamination shingle
      // scan and the decontamination anti-join — without it the tokenize/quality/
      // langid projection (the pipeline's priciest scan) executes twice
      val scored = TextQueries.plantedCorpus(s, dir)
        .filter(col("doc_id") % 13 =!= 0)
        // round-robin spread BEFORE the tokenize/quality/langid projection — the
        // pipeline's priciest per-row scan otherwise runs at the 3-branch union's
        // scan parallelism (measured: ep3 warm 6.1 → 5.3 s); per-row expressions
        // + integer-count aggregates downstream, so layout-proof
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("text"), col("lang"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          round(TextOps.qualityScore(col("text")), 6).as("quality"),
          TextOps.langId(col("text")).as("pred_lang"))
        .filter(col("pred_lang") =!= "und" && col("n_tokens") >= 5 && col("quality") >= 0.3)
        .scopedPersist()
      val contaminated = Curation.contaminationStats(scored, bench, "doc_id", "text", 3)
        .filter(round(col("n_overlap").cast("double") / col("n_shingles"), 6)
          >= ContamThreshold)
        .select("doc_id")
      val clean = scored.join(contaminated, Seq("doc_id"), "left_anti")
      val deduped = clean
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"), min(col("lang")).as("lang"),
          min(col("n_tokens")).as("n_tokens"))
      val mixed = Curation.stratifiedSample(deduped, col("doc_id"), col("lang"),
        MixRates, defaultRate = 1.0, salt = MixSalt)
      Curation.packSequences(mixed, col("n_tokens"), Seq(col("lang")),
          col("doc_id"), PackBudget)
        .groupBy("lang", "seq_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("seq_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("lang", "seq_id")
    },
    "text_gopher_rules" -> { (s, dir) =>
      // Gopher rule stats + keep/drop decision; bullets/ellipsis/symbols planted
      // (the synthetic corpus is single-line prose) so every rule is exercised
      val g = concat(col("text"),
        when(col("doc_id") % 4 === 0, lit("\n- bullet item\n- another bullet"))
          .otherwise(lit("")),
        when(col("doc_id") % 6 === 0, lit("\nto be continued...")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" ## # ###")).otherwise(lit("")))
      docs(s, dir).select(col("doc_id"),
          TextOps.tokenCount(g).cast("long").as("n_words"),
          round(TextOps.meanWordLength(g), 6).as("mean_word_len"),
          round(TextOps.symbolWordRatio(g), 6).as("symbol_ratio"),
          round(TextOps.bulletLineFraction(g), 6).as("bullet_frac"),
          round(TextOps.ellipsisLineFraction(g), 6).as("ellipsis_frac"),
          round(TextOps.alphaWordFraction(g), 6).as("alpha_frac"),
          TextOps.passesGopherRules(g, minWords = GopherMinWords).as("passes_gopher"))
        .orderBy("doc_id")
    },
    "curation_quantile_norm" -> { (s, dir) =>
      // cross-source score calibration: replace each source's quality score with
      // the POOLED corpus quantile at the row's within-source rank (quantile
      // normalization at 100-bin resolution) — makes "top X% of source A" and
      // "top X% of source B" comparable before global thresholding; full oracle
      val scored = docs(s, dir).select(col("doc_id"), col("source"),
        round(TextOps.qualityScore(col("text")), 6).as("quality"))
      Curation.quantileNormalize(scored, col("quality"), Seq(col("source")),
          col("doc_id"), bins = 100)
        .orderBy("doc_id")
    },
    "curation_quality_topk" -> { (s, dir) =>
      // "keep the best 30% per language by quality" — rank on the ROUNDED score so
      // sub-ULP drift between engines cannot flip an ordering
      val scored = docs(s, dir).select(col("doc_id"), col("lang"),
        round(TextOps.qualityScore(col("text")), 6).as("quality"))
      Curation.keepTopFraction(scored, col("quality"), Seq(col("lang")),
          col("doc_id"), TopFraction)
        .orderBy("lang", "qrank")
    },
    "curation_epoch_mix" -> { (s, dir) =>
      // epoch-based domain mixing: whole-number copies + a deterministic fractional
      // draw; per-(lang, epoch) counts prove the replication structure
      Curation.epochMix(docs(s, dir), col("doc_id"), col("lang"),
          EpochRates, defaultEpochs = 1.0, salt = EpochSalt)
        .groupBy("lang", "epoch").agg(count(lit(1)).as("n"))
        .orderBy("lang", "epoch")
    },
    "text_tfidf_keywords" -> { (s, dir) =>
      Curation.tfidfKeywords(docs(s, dir), "doc_id", "text", 3)
        .orderBy("doc_id", "keyword_rank")
    },
    "text_lm_score" -> { (s, dir) =>
      // perplexity-style quality filter: per-doc cross-entropy under the
      // corpus-trained Laplace-smoothed word-bigram LM
      Curation.bigramCrossEntropy(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },
    "curation_mixture_weights" -> { (s, dir) =>
      // mixture-weight solver: the per-language downsampling rates that hit the
      // target token mixture while keeping the largest possible corpus (the
      // binding language keeps rate 1.0)
      Curation.mixtureWeights(docs(s, dir), col("lang"),
          size(graft.textops.TextOps.tokens(col("text"))), MixTargets)
        .select(col("domain"), col("n_tokens"), col("target_share"),
          round(col("rate"), 6).as("rate"), col("expected_tokens"))
        .orderBy("domain")
    },
    "text_lm_kneser_ney" -> { (s, dir) =>
      // the KenLM-style upgrade of text_lm_score: interpolated Kneser-Ney
      // discounting, where backoff mass follows context diversity
      Curation.knBigramCrossEntropy(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },
    "curation_ngram_stats" -> { (s, dir) =>
      // corpus bigram frequency table (top-30): the n-gram analysis staple —
      // one shingle explode + hash agg, ranking window over the bounded top-K only
      val bigrams = docs(s, dir)
        .select(explode(TextOps.shingles(col("text"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("bigram"))
        .limit(30)
      bigrams.withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(desc("n"), asc("bigram"))))
        .orderBy("rank")
    },
    "curation_sample_exact_n" -> { (s, dir) =>
      // fixed-size per-language draw: exactly 40 docs per lang, membership pinned
      Curation.sampleExactN(docs(s, dir), col("doc_id"), Seq(col("lang")), 40, "exact1")
        .select(col("doc_id"), col("lang"), col("draw_rank"))
        .orderBy("lang", "draw_rank")
    },
    "curation_bpe_merges" -> { (s, dir) =>
      // tokenizer training: top-20 BPE merges over the corpus word vocabulary —
      // FULL oracle: the loop is a fixed 20 rounds, replayed by a generated
      // count/argmax/recursive-rewrite chain (CurationSpec pins Sennrich besides)
      Curation.trainBpeMerges(docs(s, dir), col("text"), numMerges = 20)
        .orderBy("merge_rank")
    },
    "curation_bpe_first_merge" -> { (s, dir) =>
      // the pinned-step oracle for BPE (the j5_em_one_iter pattern): merge 1 is a
      // closed form over the word-count table — char+</w> splits, count-weighted
      // adjacent-pair sums, (count DESC, pair ASC) argmax — replayed in DuckDB.
      // The 20-merge loop above stays rows-only (re-tokenization is iterative).
      Curation.trainBpeMerges(docs(s, dir), col("text"), numMerges = 1)
        .orderBy("merge_rank")
    },
    "curation_bpe_two_merges" -> { (s, dir) =>
      // TWO chained merges (the j5_em_two_iter pattern): merge 2 must consume the
      // vocabulary AS REWRITTEN by merge 1 — the oracle applies merge 1 with a
      // recursive left-to-right non-overlapping scan (a string replace cannot
      // express it: the shared separator between back-to-back matches is
      // consumed), then re-counts pairs. A merge-application bug invisible to
      // the single pinned step changes this row.
      Curation.trainBpeMerges(docs(s, dir), col("text"), numMerges = 2)
        .orderBy("merge_rank")
    },
    "curation_bpe_encode" -> { (s, dir) =>
      // tokenizer APPLY: encode the corpus against a fixed derivation-ordered merge
      // list (each merge's inputs are base chars, </w>, or outputs of EARLIER
      // merges — the shape trainBpeMerges emits). Under that ordering, rank-order
      // encoding is a chain of left-to-right string replaces, which is how the
      // DuckDB oracle replays it with one private-use placeholder char per symbol.
      Curation.bpeApply(docs(s, dir), "doc_id", "text", BpeFixedMerges)
        .select(col("doc_id"), col("n_bpe"),
          concat_ws(" ", col("bpe_tokens")).as("bpe_text"))
    },
    "curation_unigram_seed" -> { (s, dir) =>
      // unigram-LM seeding (the corpus-sized training step): substring candidate
      // counts, top-200 by weighted count — fully relational, DuckDB-replayed
      Curation.unigramSeedCandidates(docs(s, dir), col("text"), maxPieceLen = 8)
        .orderBy(desc("weighted_count"), asc("piece")).limit(200)
    },
    "curation_unigram_one_iter" -> { (s, dir) =>
      // ONE EM iteration from the seeded vocabulary — the unigram trainer's loop
      // body as a closed form (seed → init logprobs → Viterbi E-step → prune →
      // Laplace M-step), DuckDB-replayed with a recursive-CTE Viterbi DP; the
      // converged curation_unigram_lm below is the rows-only iterative sibling
      Curation.trainUnigramLm(docs(s, dir), col("text"),
          vocabSize = 500, seedSize = 4000, emIters = 1)
        .orderBy("piece_rank")
    },
    "curation_unigram_lm" -> { (s, dir) =>
      // unigram-LM training — FULL oracle: the EM loop runs a fixed 2 rounds,
      // replayed by the generated chained Viterbi-EM rounds (CurationSpec pins
      // segmentation against exhaustive enumeration + a planted-piece fixture)
      Curation.trainUnigramLm(docs(s, dir), col("text"),
          vocabSize = 500, seedSize = 4000, emIters = 2)
        .orderBy("piece_rank")
    },
    "curation_unigram_encode" -> { (s, dir) =>
      // tokenizer APPLY — FULL oracle: the trained chain (2 rounds) plus one
      // more unrolled DP round against the ROUNDED logprobs unigramApply reads,
      // reassembled per document by token position
      val d = docs(s, dir)
      val pieces = Curation.trainUnigramLm(d, col("text"),
        vocabSize = 500, seedSize = 4000, emIters = 2)
      Curation.unigramApply(d, "doc_id", "text", pieces)
        .select(col("doc_id"), col("n_pieces"),
          md5(concat_ws(" ", col("pieces"))).as("pieces_hash"))
        .orderBy("doc_id")
    },
    "curation_unigram_encode_fixed" -> { (s, dir) =>
      // frozen-fixture pin for the Viterbi segmentation DP (the
      // mm_cdc_chunks_fixed pattern): a CONSTANT piece table + constant words
      // make the segmentation a constant the oracle carries verbatim —
      // exercises multi-piece optima, the smallest-start tie preference, the
      // per-char unk floor, and a word longer than any piece
      import s.implicits._
      val pieces = Map(
        "a" -> -1.0, "b" -> -1.5, "ab" -> -1.8, "ba" -> -2.0, "aba" -> -2.5,
        "c" -> -3.0, "abc" -> -3.5, "he" -> -1.0, "hello" -> -1.2, "llo" -> -1.4,
        "l" -> -2.0, "o" -> -2.0)
      val words = Seq((0L, "ababa"), (1L, "abc"), (2L, "hello"), (3L, "zq"),
          (4L, "aab"), (5L, "baba"))
        .toDF("wid", "w")
      words.select(col("wid"), col("w"),
          concat_ws(" ",
            graft.functions.unigram_encode(array(col("w")), pieces)).as("enc"))
        .orderBy("wid")
    },
    "ep11_release_gate" -> { (s, dir) =>
      // release-gating capstone composing this round's operators: snapshot-diff the
      // v2 revision, take only NEW material (added/changed), screen it with the
      // k-anonymity and quality gates, and publish the per-lang release manifest
      val v1 = docs(s, dir)
      val v2 = v1.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" edited"))).otherwise(col("text")))
        .unionByName(v1.filter(col("doc_id") % 19 === 0)
          .withColumn("doc_id", col("doc_id") + 300000))
      val diff = Curation.snapshotDiff(v1, v2, "doc_id", Seq("text"))
      val fresh = v2.join(
        diff.filter(col("status").isin("added", "changed")).select("doc_id", "status"),
        Seq("doc_id"))
      val banded = fresh.withColumn("len_band", expr("n_chars div 100"))
      Curation.kAnonymityGate(banded, Seq("lang", "source", "len_band"), k = 3)
        .withColumn("q", round(TextOps.qualityScore(col("text")), 6))
        .withColumn("released", col("k_anonymous") && col("q") >= 0.3)
        .groupBy("lang").agg(
          count(lit(1)).as("n_fresh"),
          sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
          sum(when(!col("k_anonymous"), 1L).otherwise(0L)).as("n_gated_privacy"),
          sum(when(col("k_anonymous") && col("q") < 0.3, 1L).otherwise(0L))
            .as("n_gated_quality"),
          sum(when(col("released"), 1L).otherwise(0L)).as("n_released"),
          sum(when(col("released"), TextOps.tokenCount(col("text")).cast("long"))
            .otherwise(0L)).as("tokens_released"))
        .orderBy("lang")
    },
    "ep5_data_card" -> { (s, dir) =>
      // the per-domain "data card" every corpus release publishes, one aggregation
      // pass: volume, exact-dup rate, quality distribution (mean + exact median),
      // Gopher pass rate, token budget — composed from this round's operators
      val scored = docs(s, dir).select(col("lang"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        round(TextOps.qualityScore(col("text")), 6).as("quality"),
        md5(col("text")).as("h"),
        TextOps.passesGopherRules(col("text"), minWords = GopherMinWords)
          .as("passes"))
      scored.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          count_distinct(col("h")).as("n_unique"),
          sum("n_tokens").as("n_tokens"),
          round(avg("quality"), 6).as("mean_quality"),
          round(expr("percentile(n_tokens, 0.5)"), 6).as("median_tokens"),
          sum(when(col("passes"), 1L).otherwise(0L)).as("n_gopher_pass"))
        .orderBy("lang")
    },
    "ep5_data_card_cube" -> { (s, dir) =>
      // the data card with margins: one GROUPING SETS aggregation produces the
      // (lang, source) cells plus lang-, source-, and corpus-level rollups in a
      // single shuffle — the release-report shape that would otherwise take four
      // scans; null grouping keys are folded to the 'ALL' sentinel on both engines
      // quality is summed as an exact scaled integer (round-6 × 1e6) and the mean
      // reported as the floored scaled integer: a plain AVG of doubles drifts by
      // summation order across engines, and even an exact integer sum followed by
      // one double division hits true decimal .5 ties where Spark (HALF_UP on the
      // shortest decimal) and DuckDB (nearest binary double) MUST disagree —
      // integer division has no FP anywhere and no ties
      val scored = docs(s, dir).select(col("lang"), col("source"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        round(round(TextOps.qualityScore(col("text")), 6) * lit(1000000.0))
          .cast("long").as("q6"),
        md5(col("text")).as("h"))
      scored.groupingSets(
          Seq(Seq(col("lang"), col("source")), Seq(col("lang")),
            Seq(col("source")), Seq.empty),
          col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("h")).as("n_unique"),
          sum("n_tokens").as("n_tokens"),
          expr("sum(q6) div count(1)").cast("long").as("mean_quality_e6"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang"),
          coalesce(col("source"), lit("ALL")).as("source"),
          col("n_docs"), col("n_unique"), col("n_tokens"), col("mean_quality_e6"))
        .orderBy("lang", "source")
    },
    "curation_blocklist" -> { (s, dir) =>
      // C4/UT1-style blocklist filtering: source list + bad-word list as codegen
      // IN-set flags evaluated at scan speed — no join, no shuffle
      Curation.blocklistFlags(docs(s, dir), "text", "source",
          blockedSources = Seq("src3", "src7"), blockedWords = Seq("slow", "dup"))
        .select(col("doc_id"), col("source_blocked"),
          col("blocked_word_count"), col("kept"))
        .orderBy("doc_id")
    },
    "curation_vocab_decode" -> { (s, dir) =>
      // encode → decode round trip: in-vocab tokens restore exactly, OOV ids come
      // back as <unk> — the serving-side half of the tokenizer loop
      val vocab = Curation.buildVocab(docs(s, dir), col("text"), topK = 50)
      val encoded = Curation.encodeTokens(docs(s, dir), "doc_id", "text", vocab)
      Curation.decodeTokens(encoded, "doc_id", "token_ids", vocab)
        .select(col("doc_id"),
          array_join(col("tokens"), " ").as("decoded"),
          size(filter(col("tokens"), _ === "<unk>")).cast("long").as("n_unk"))
        .orderBy("doc_id")
    },
    "curation_k_anonymity" -> { (s, dir) =>
      // pre-release privacy screen: quasi-identifier = (lang, source, length band);
      // rows in combinations shared by < 3 docs are flagged non-releasable
      val banded = docs(s, dir).withColumn("len_band", expr("n_chars div 100"))
      Curation.kAnonymityGate(banded, Seq("lang", "source", "len_band"), k = 3)
        .select(col("doc_id"), col("group_size"), col("k_anonymous"))
        .orderBy("doc_id")
    },
    "curation_dsir_score" -> { (s, dir) =>
      // DSIR importance scores against the English subcorpus as the target domain:
      // docs whose hashed-n-gram profile looks "more English than the corpus
      // average" score positive — the modern data-selection signal, one token pass
      val raw = docs(s, dir)
      Curation.dsirScores(raw, raw.filter(col("lang") === "en"), "doc_id", "text")
        .orderBy("doc_id")
    },
    "curation_changelog_apply" -> { (s, dir) =>
      // CDC/MERGE semantics: a changelog of deletes (%13), updates (%17, with a
      // second higher-seq update for %34 exercising the per-id argmax), and inserts
      // (%19 under new ids) applied to the base snapshot in one window + one join
      val base = docs(s, dir)
      val del = base.filter(col("doc_id") % 13 === 0)
        .withColumn("op", lit("D")).withColumn("seq", lit(1L))
      val upd1 = base.filter(col("doc_id") % 17 === 0)
        .withColumn("text", concat(col("text"), lit(" edited")))
        .withColumn("op", lit("U")).withColumn("seq", lit(1L))
      val upd2 = base.filter(col("doc_id") % 34 === 0)
        .withColumn("text", concat(col("text"), lit(" edited twice")))
        .withColumn("op", lit("U")).withColumn("seq", lit(2L))
      val ins = base.filter(col("doc_id") % 19 === 0)
        .withColumn("doc_id", col("doc_id") + 300000)
        .withColumn("op", lit("I")).withColumn("seq", lit(1L))
      val changelog = del.unionByName(upd1).unionByName(upd2).unionByName(ins)
      Curation.applyChangelog(base, changelog, "doc_id", "seq", "op")
        .select(col("doc_id"), md5(col("text")).as("content_hash"), col("lang"))
        .orderBy("doc_id")
    },
    "curation_incremental_agg" -> { (s, dir) =>
      // day-2 rollup freshness: maintain the per-lang (count, sum(n_chars))
      // materialized aggregate from the SAME changelog shape as changelog_apply
      // (deletes %13, updates %17/%34 growing n_chars by 7/13, inserts %19) —
      // work ∝ changelog, never a re-aggregation; oracle recomputes from scratch
      val base = docs(s, dir)
      val del = base.filter(col("doc_id") % 13 === 0)
        .withColumn("op", lit("D")).withColumn("seq", lit(1L))
      val upd1 = base.filter(col("doc_id") % 17 === 0)
        .withColumn("n_chars", col("n_chars") + 7)
        .withColumn("op", lit("U")).withColumn("seq", lit(1L))
      val upd2 = base.filter(col("doc_id") % 34 === 0)
        .withColumn("n_chars", col("n_chars") + 13)
        .withColumn("op", lit("U")).withColumn("seq", lit(2L))
      val ins = base.filter(col("doc_id") % 19 === 0)
        .withColumn("doc_id", col("doc_id") + 300000)
        .withColumn("op", lit("I")).withColumn("seq", lit(1L))
      val changelog = del.unionByName(upd1).unionByName(upd2).unionByName(ins)
      val oldAgg = base.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).cast("long").as("val_sum"))
      Curation.incrementalAggMaintain(base, oldAgg, changelog,
          "doc_id", "seq", "op", "lang", "n_chars")
        .orderBy("lang")
    },
    "curation_snapshot_diff" -> { (s, dir) =>
      // corpus-version diff (release gating): v2 simulates a real revision — drops
      // %13 docs, edits %17 texts, adds %19 copies under new ids; every id is then
      // classified added/removed/changed/unchanged by content digest
      val v1 = docs(s, dir)
      val v2 = v1.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" edited"))).otherwise(col("text")))
        .unionByName(v1.filter(col("doc_id") % 19 === 0)
          .withColumn("doc_id", col("doc_id") + 300000))
      Curation.snapshotDiff(v1, v2, "doc_id", Seq("text")).orderBy("doc_id")
    },
    "curation_psi_drift" -> { (s, dir) =>
      // score-drift monitor between corpus versions: PSI over quality-score
      // deciles of v1 vs the simulated v2 revision (same revision convention as
      // curation_snapshot_diff); binning on the ROUNDED score so bin membership
      // is engine-exact
      val v1 = docs(s, dir)
      val v2 = v1.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" edited"))).otherwise(col("text")))
        .unionByName(v1.filter(col("doc_id") % 19 === 0)
          .withColumn("doc_id", col("doc_id") + 300000))
      graft.metrics.Evaluation.psiDrift(v1, v2,
          round(TextOps.qualityScore(col("text")), 6))
        .select(col("bin"),
          round(col("share_base"), 6).as("share_base"),
          round(col("share_cur"), 6).as("share_cur"),
          round(col("psi"), 6).as("psi"))
        .orderBy("bin")
    },
    "stream_psi_drift" -> { (s, dir) =>
      // the drift alarm LIVE: the v2 revision arrives as a stream, a streaming
      // aggregation maintains its decile-bin counts (≤10 rows of state), and PSI
      // against the static v1 baseline is a closed form over that state. The
      // streamed bins equal the batch v2 bins (counts are linear), so the DuckDB
      // oracle is the identical batch replay used by curation_psi_drift.
      val scoreExpr = round(TextOps.qualityScore(col("text")), 6)
      val curBins = graft.streaming.StreamOps.streamingScoreDecileBins(s,
          s"$dir/documents.parquet",
          df => df.filter(col("doc_id") % 13 =!= 0)
            .withColumn("text", when(col("doc_id") % 17 === 0,
              concat(col("text"), lit(" edited"))).otherwise(col("text")))
            .unionByName(df.filter(col("doc_id") % 19 === 0)
              .withColumn("doc_id", col("doc_id") + 300000)),
          scoreExpr)
        .select(col("bin"), col("n").cast("double").as("n_cur"))
      val baseBins = docs(s, dir)
        .select(least(floor(scoreExpr * 10), lit(9.0)).cast("int").as("bin"))
        .groupBy("bin").agg(count(lit(1)).cast("double").as("n_base"))
      graft.metrics.Evaluation.psiFromBins(baseBins, curBins)
        .select(col("bin"),
          round(col("share_base"), 6).as("share_base"),
          round(col("share_cur"), 6).as("share_cur"),
          round(col("psi"), 6).as("psi"))
        .orderBy("bin")
    },
    "curation_l_diversity" -> { (s, dir) =>
      // l-diversity release gate alongside k-anonymity: a quasi-identifier group
      // is releasable only when its SENSITIVE attribute (source) takes >= l
      // distinct values — k rows are not enough if they all share one secret.
      // One hash aggregation over the quasi key.
      docs(s, dir)
        .groupBy(col("lang"), floor(col("n_chars") / 100).cast("long").as("len_bucket"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("source")).as("n_sensitive"))
        .withColumn("releasable", col("n_sensitive") >= 3)
        .orderBy("lang", "len_bucket")
    },
    "curation_pii_redact" -> { (s, dir) =>
      // plant deterministic emails + an IPv4 per doc (the corpus itself has none),
      // then count and redact them in one codegen'd regex scan
      val planted = docs(s, dir).withColumn("pii_text", concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" cc admin"), col("doc_id").cast("string"), lit("@ex.org")))
          .otherwise(lit("")),
        lit(" at 10."), (col("doc_id") % 200).cast("string"),
        lit("."), (col("doc_id") % 250).cast("string"),
        lit("."), (col("doc_id") % 97).cast("string"), lit(" end")))
      planted.select(col("doc_id"),
          Curation.emailCount(col("pii_text")).as("n_emails"),
          Curation.ipv4Count(col("pii_text")).as("n_ips"),
          length(Curation.redactPii(col("pii_text"))).as("redacted_len"),
          md5(Curation.redactPii(col("pii_text"))).as("redacted_md5"))
        .orderBy("doc_id")
    })

  // ---- oracle SQL ----------------------------------------------------------

  // DuckDB tokenization/shingle fragments are the cross-engine contract — single
  // source in TextQueries so the copies cannot drift
  private def toksSql(textExpr: String) = TextQueries.toksSql(textExpr)
  private def shinglesSql(textExpr: String) = TextQueries.shinglesSql(textExpr)

  /** CASE ladder selecting the per-stratum keep threshold — generated from the SAME
    * rate map and [[Curation.rateThreshold]] rendering as the Spark plan, so the two
    * sides cannot drift.
    */
  private def thresholdCaseSql(stratumExpr: String, rates: Map[String, Double],
      defaultRate: Double): String = {
    val whens = rates.toSeq.sortBy(_._1)
      .map { case (k, r) => s"WHEN '$k' THEN '${Curation.rateThreshold(r)}'" }
      .mkString(" ")
    s"CASE $stratumExpr $whens ELSE '${Curation.rateThreshold(defaultRate)}' END"
  }

  private def drawSql(salt: String, keyExpr: String) =
    s"substr(md5('$salt:' || $keyExpr), 1, 8)"

  /** Fixed derivation-ordered merge list for `curation_bpe_encode`: every merge's
    * inputs are base characters, `</w>`, or outputs of EARLIER merges (ranks 1–3
    * build `the</w>` in two levels) — the invariant `trainBpeMerges` output always
    * satisfies, and the precondition for the replace-chain oracle below.
    */
  private[queries] val BpeFixedMerges: Seq[(String, String)] = Seq(
    "e" -> "</w>", "t" -> "h", "th" -> "e</w>", "a" -> "n",
    "i" -> "n", "s" -> "</w>", "a" -> "t", "r" -> "o")

  /** DuckDB replay of BPE encoding for a derivation-ordered merge list: under that
    * ordering, encoding IS the merges applied as a chain of left-to-right string
    * replaces (a merge can only create adjacencies of its own output symbol, which
    * only later merges reference). Each symbol gets one private-use placeholder char
    * (U+E000 = `</w>`, U+E001+i = merge i's output), so every replace pattern is an
    * exact 2-char string; the corpus is PUA-free (spec-checked), so placeholders
    * cannot collide with text. Returns (chainExpr, renderedExpr) over a lambda
    * variable `w`: the final placeholder string (1 char per subword — its length is
    * the subword count) and the human-readable space-joined subword rendering.
    */
  private def bpeChainSql(merges: Seq[(String, String)]): (String, String) = {
    val endPh = ''
    var ph = Map[String, String]("</w>" -> endPh.toString)
    def rep(sym: String): String =
      ph.getOrElse(sym, { require(sym.length == 1, s"unknown symbol $sym"); sym })
    var chain = s"(w || '$endPh')"
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      val out = (0xE001 + i).toChar.toString
      chain = s"replace($chain, '${rep(l)}${rep(r)}', '$out')"
      ph += (l + r) -> out
    }
    // render subwords: space after every placeholder/char, then expand placeholders
    // back to symbol text (expansions are plain chars + `</w>` — no nesting)
    var rendered = s"trim(regexp_replace($chain, '(.)', '\\1 ', 'g'))"
    merges.zipWithIndex.reverse.foreach { case ((l, r), i) =>
      rendered = s"replace($rendered, '${(0xE001 + i).toChar}', '${l + r}')"
    }
    rendered = s"replace($rendered, '$endPh', '</w>')"
    (chain, rendered)
  }

  /** Shared DSIR CTE chain (target = lang 'en', raw = all documents, k = 256):
    * hashed unigram+bigram buckets, Laplace-smoothed target/raw categoricals, and
    * per-doc raw log-ratio sums in `s(doc_id, sc)` — consumers round and filter.
    */
  private[queries] val dsirCtes: String = {
    val toks = toksSql("text")
    s"""t AS (
       |  SELECT doc_id, lang,
       |    list_concat($toks,
       |      list_transform(range(1, len($toks)),
       |        i -> ($toks)[i] || ' ' || ($toks)[i + 1])) AS grams
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5(gram), 1, 4))::BIGINT % 256 AS bucket
       |  FROM (SELECT doc_id, lang, unnest(grams) AS gram FROM t)),
       |tb AS (SELECT bucket, COUNT(*) AS nt FROM b WHERE lang = 'en' GROUP BY 1),
       |rb AS (SELECT bucket, COUNT(*) AS nr FROM b GROUP BY 1),
       |tot AS (SELECT (SELECT COALESCE(SUM(nt), 0) FROM tb) AS nt_tot,
       |               (SELECT COALESCE(SUM(nr), 0) FROM rb) AS nr_tot),
       |lr AS (
       |  SELECT k.bucket,
       |    ln((COALESCE(tb.nt, 0) + 1)::DOUBLE / ((SELECT nt_tot FROM tot) + 256)) -
       |    ln((COALESCE(rb.nr, 0) + 1)::DOUBLE / ((SELECT nr_tot FROM tot) + 256)) AS lr
       |  FROM (SELECT unnest(range(0, 256)) AS bucket) k
       |  LEFT JOIN tb USING (bucket) LEFT JOIN rb USING (bucket)),
       |s AS (SELECT b.doc_id, SUM(l.lr) AS sc FROM b JOIN lr l USING (bucket) GROUP BY 1)""".stripMargin
  }

  private val bpeEncodeSql: String = {
    val (chain, rendered) = bpeChainSql(BpeFixedMerges)
    s"""SELECT doc_id,
       |  CAST(length(array_to_string(list_transform(${toksSql("text")},
       |    w -> $chain), '')) AS INT) AS n_bpe,
       |  array_to_string(list_transform(${toksSql("text")},
       |    w -> $rendered), ' ') AS bpe_text
       |FROM documents""".stripMargin
  }

  /** DuckDB replay of BPE merge 1: word counts (top-100k by (n DESC, word ASC) —
    * trainBpeMerges' bounded vocab, replicated with the same total order), each
    * word split to characters with the `</w>` terminal, count-weighted adjacent
    * pair sums, and the (count DESC, left ASC, right ASC) argmax.
    */
  private val bpeFirstMergeSql: String = {
    s"""WITH t AS (SELECT ${toksSql("text")} AS toks FROM documents),
       |w AS (
       |  SELECT w, COUNT(*) AS n FROM (SELECT unnest(toks) AS w FROM t)
       |  GROUP BY w ORDER BY n DESC, w LIMIT 100000
       |), sy AS (
       |  SELECT list_append(string_split(w, ''), '</w>') AS s, n FROM w
       |), pairs AS (
       |  SELECT s[i] AS l, s[i + 1] AS r, n
       |  FROM sy, unnest(range(1, len(s))) AS u(i)
       |), top AS (
       |  SELECT l, r, SUM(n)::BIGINT AS pair_count FROM pairs GROUP BY l, r
       |  ORDER BY pair_count DESC, l, r LIMIT 1
       |)
       |SELECT 1 AS merge_rank, l AS "left", r AS "right", pair_count FROM top""".stripMargin
  }

  /** The trainer's left-to-right NON-OVERLAPPING pair rewrite without recursion
    * (r9, SCALING.md "recursive terms race upstream CTEs" — the old recursive
    * scan read the 1-row argmax CTE from its recursive term, the exact DuckDB
    * 1.0 hazard shape). Closed form: position j starts a merge iff it matches
    * (s[j]=l, s[j+1]=r) and an EVEN number of consecutive match positions
    * precede it in its run — two positions can only both match when l = r, and
    * a match at j consumes j+1, so merges land on alternating positions within
    * each maximal run of consecutive matches. Window rendering: run id = j −
    * (running match count), merge-start = even offset from the run's MIN(j),
    * then emit merged symbol at starts, skip the position after a start, and
    * re-assemble with an ordered list aggregate.
    */
  private def rewriteCtes(syIn: String, m: String, syOut: String, tag: String): String =
    s"""mt$tag AS (
       |  SELECT $syIn.w, $syIn.n, $syIn.s, u.j,
       |    (u.j < len($syIn.s) AND $syIn.s[u.j] = $m.l AND $syIn.s[u.j + 1] = $m.r) AS is_m,
       |    $m.l || $m.r AS merged
       |  FROM $syIn, $m, unnest(range(1, len($syIn.s) + 1)) AS u(j)
       |), rg$tag AS (
       |  SELECT *, CASE WHEN is_m THEN j - SUM(CASE WHEN is_m THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY w ORDER BY j) END AS grp
       |  FROM mt$tag
       |), ms$tag AS (
       |  SELECT *, (is_m AND (j - MIN(j) OVER (PARTITION BY w, grp)) % 2 = 0) AS mstart
       |  FROM rg$tag
       |), em$tag AS (
       |  SELECT w, n, j,
       |    CASE WHEN mstart THEN merged
       |         WHEN COALESCE(LAG(mstart) OVER (PARTITION BY w ORDER BY j), FALSE) THEN NULL
       |         ELSE s[j] END AS o
       |  FROM ms$tag
       |), $syOut AS MATERIALIZED (
       |  SELECT w, n, list_filter(list(o ORDER BY j), x -> x IS NOT NULL) AS s
       |  FROM em$tag GROUP BY w, n
       |)""".stripMargin

  /** GENERATED full BPE-training oracle: the merge loop runs a FIXED
    * `numMerges` rounds, so the two-merge chain generalizes — each round counts
    * weighted adjacent pairs over the current symbol table, takes the
    * (count DESC, pair ASC) argmax, and (for all but the last round) rewrites
    * every word with the trainer's exact left-to-right non-overlapping scan via
    * the window-based [[rewriteCtes]] (no recursion anywhere in the statement).
    * Rewritten vocabularies are MATERIALIZED: each sy_i feeds both the next
    * pair count and the next rewrite.
    */
  private def bpeMergeChainSql(numMerges: Int): String = {
    val steps = (1 to numMerges).map { i =>
      val count =
        s"""p$i AS (
           |  SELECT s[i] AS l, s[i + 1] AS r, n
           |  FROM sy$i, unnest(range(1, len(s))) AS u(i)
           |), m$i AS MATERIALIZED (
           |  SELECT l, r, SUM(n)::BIGINT AS pair_count FROM p$i GROUP BY l, r
           |  ORDER BY pair_count DESC, l, r LIMIT 1
           |)""".stripMargin
      val rewrite = if (i == numMerges) "" else
        ", " + rewriteCtes(s"sy$i", s"m$i", s"sy${i + 1}", s"_$i")
      count + rewrite
    }.mkString(", ")
    val emit = (1 to numMerges).map(i =>
      s"SELECT $i AS mr, l, r, pair_count FROM m$i").mkString(" UNION ALL ")
    s"""WITH t AS (SELECT ${toksSql("text")} AS toks FROM documents),
       |w AS (
       |  SELECT w, COUNT(*) AS n FROM (SELECT unnest(toks) AS w FROM t)
       |  GROUP BY w ORDER BY n DESC, w LIMIT 100000
       |), sy1 AS MATERIALIZED (
       |  SELECT w, list_append(string_split(w, ''), '</w>') AS s, n FROM w
       |), $steps
       |SELECT CAST(mr AS INT) AS merge_rank, l AS "left", r AS "right", pair_count
       |FROM ($emit)
       |ORDER BY merge_rank""".stripMargin
  }

  /** Two chained BPE merges: merge 1 as in [[bpeFirstMergeSql]]; the rewrite is
    * the non-recursive window scan ([[rewriteCtes]] — a plain string replace
    * gets back-to-back matches wrong because the match consumes the separator
    * the next match needs); merge 2 is the pair argmax over the rewritten
    * vocabulary.
    */
  private val bpeTwoMergesSql: String = {
    s"""WITH t AS (SELECT ${toksSql("text")} AS toks FROM documents),
       |w AS (
       |  SELECT w, COUNT(*) AS n FROM (SELECT unnest(toks) AS w FROM t)
       |  GROUP BY w ORDER BY n DESC, w LIMIT 100000
       |), sy AS (
       |  SELECT w, list_append(string_split(w, ''), '</w>') AS s, n FROM w
       |), p1 AS (
       |  SELECT s[i] AS l, s[i + 1] AS r, n
       |  FROM sy, unnest(range(1, len(s))) AS u(i)
       |), m1 AS (
       |  SELECT l, r, SUM(n)::BIGINT AS pair_count FROM p1 GROUP BY l, r
       |  ORDER BY pair_count DESC, l, r LIMIT 1
       |), ${rewriteCtes("sy", "m1", "sy2", "_1")}, p2 AS (
       |  SELECT s[i] AS l, s[i + 1] AS r, n
       |  FROM sy2, unnest(range(1, len(s))) AS u(i)
       |), m2 AS (
       |  SELECT l, r, SUM(n)::BIGINT AS pair_count FROM p2 GROUP BY l, r
       |  ORDER BY pair_count DESC, l, r LIMIT 1
       |)
       |SELECT CAST(mr AS INT) AS merge_rank, l AS "left", r AS "right", pair_count
       |FROM (SELECT 1 AS mr, l, r, pair_count FROM m1
       |      UNION ALL SELECT 2, l, r, pair_count FROM m2)
       |ORDER BY merge_rank""".stripMargin
  }

  /** Shared by `curation_psi_drift` (batch v2) and `stream_psi_drift` (streamed
    * v2): the streamed decile-bin counts equal the batch bins cell-for-cell, so
    * one DuckDB replay checks both.
    */
  private lazy val psiDriftSql: String = {
    val q = TextQueries.qualityExprSql
    s"""WITH v1 AS (SELECT $q AS s FROM documents),
       |v2src AS (
       |  SELECT CASE WHEN doc_id % 17 = 0 THEN text || ' edited' ELSE text END AS text
       |  FROM documents WHERE doc_id % 13 <> 0
       |  UNION ALL
       |  SELECT text FROM documents WHERE doc_id % 19 = 0
       |),
       |v2 AS (SELECT $q AS s FROM v2src),
       |b1 AS (SELECT CAST(LEAST(FLOOR(s * 10), 9) AS INT) AS bin, COUNT(*)::DOUBLE AS n
       |       FROM v1 GROUP BY 1),
       |b2 AS (SELECT CAST(LEAST(FLOOR(s * 10), 9) AS INT) AS bin, COUNT(*)::DOUBLE AS n
       |       FROM v2 GROUP BY 1),
       |j AS (SELECT COALESCE(b1.bin, b2.bin) AS bin,
       |        COALESCE(b1.n, 0) AS n_base, COALESCE(b2.n, 0) AS n_cur
       |      FROM b1 FULL JOIN b2 ON b1.bin = b2.bin),
       |t AS (SELECT bin, n_base / (SELECT SUM(n_base) FROM j) AS p1,
       |        n_cur / (SELECT SUM(n_cur) FROM j) AS p2 FROM j),
       |rws AS (SELECT bin, p1, p2,
       |          (GREATEST(p2, 1e-6) - GREATEST(p1, 1e-6)) *
       |            LN(GREATEST(p2, 1e-6) / GREATEST(p1, 1e-6)) AS psi
       |        FROM t)
       |SELECT bin, ROUND(p1, 6) AS share_base, ROUND(p2, 6) AS share_cur,
       |  ROUND(psi, 6) AS psi FROM rws
       |UNION ALL
       |SELECT -1, 1.0, 1.0, ROUND(SUM(psi), 6) FROM rws
       |ORDER BY bin""".stripMargin
  }

  /** GENERATED full unigram-LM training oracle: `emIters` chained Viterbi-EM
    * rounds with the DP UNROLLED over word positions (L = 16 steps, 2× the
    * corpus's max word length) — DuckDB 1.0.0 silently loses references to
    * recursive-derived CTEs inside a later recursive CTE, so the chain uses no
    * recursion at all: position step t scores the ≤8 candidate splits with a
    * plain LEFT JOIN against the round's piece-logprob lookup and picks the
    * argmax via QUALIFY (highest score, ties to the smallest split start),
    * carrying each position's best piece list forward instead of backtracking.
    * Round i prunes usage counts to the top-500 ∪ single chars and re-derives
    * Laplace-smoothed logprobs, exactly as the Spark trainer's fixed-round loop.
    */
  private def unigramChainSql(emIters: Int): String =
    unigramPrefixCtes(emIters) + "\n" + unigramFinalSelect(emIters)

  /** [[unigramChainSql]] continued to the tokenizer APPLY: a third DP round
    * segments the word vocabulary against the trained table's ROUNDED logprobs
    * (what `unigramApply` consumes), then per-document piece lists reassemble by
    * token position. Exact while the corpus's distinct words fit the trainer's
    * 100k vocab cap (they must — apply segments the same corpus training saw).
    */
  private def unigramEncodeChainSql(emIters: Int): String = {
    val enc = emIters + 1
    s"""${unigramPrefixCtes(emIters)},
       |probsF AS MATERIALIZED (
       |  SELECT piece, ROUND(LN((c + 1.0) / (tot$emIters.total + tot$emIters.sz)), 6) AS lp
       |  FROM keptc$emIters, tot$emIters),
       |${unigramDpRound(enc, "probsF")},
       |wenc AS MATERIALIZED (
       |  SELECT w, plists[length(w) + 1] AS pieces FROM v${enc}_$UnigramUnrollL),
       |dtoks AS (SELECT doc_id, generate_subscripts(toks, 1) AS i, unnest(toks) AS w
       |          FROM (SELECT doc_id, ${TextQueries.toksSql("text")} AS toks FROM documents)),
       |dagg AS (
       |  SELECT doc_id, flatten(list(pieces ORDER BY i)) AS pieces
       |  FROM (SELECT dtoks.doc_id, dtoks.i, wenc.pieces FROM dtoks JOIN wenc USING (w))
       |  GROUP BY doc_id)
       |SELECT d.doc_id, CAST(COALESCE(len(dagg.pieces), 0) AS INT) AS n_pieces,
       |  md5(array_to_string(COALESCE(dagg.pieces, []), ' ')) AS pieces_hash
       |FROM documents d LEFT JOIN dagg USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  private val UnigramUnrollL = 16

  /** One unrolled Viterbi DP round (lk + L position steps) reading `probsName`. */
  private def unigramDpRound(r: Int, probsName: String): String = {
    val L = UnigramUnrollL
    val steps = (1 to L).map { t =>
      val j0 = math.max(0, t - 8)
      s"""c${r}_$t AS (
         |  SELECT v.w, v.n, v.best, v.plists, cj.j,
         |    v.best[cj.j + 1] + COALESCE(lk.lp,
         |      CASE WHEN $t - cj.j = 1 THEN -20.0 END) AS s
         |  FROM v${r}_${t - 1} v
         |  CROSS JOIN (SELECT unnest(range($j0, $t)) AS j) cj
         |  LEFT JOIN lk$r lk ON lk.w = v.w AND lk.j0 = cj.j AND lk.e = $t
         |  WHERE length(v.w) >= $t AND (lk.lp IS NOT NULL OR $t - cj.j = 1)
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY v.w ORDER BY s DESC, cj.j) = 1),
         |v${r}_$t AS MATERIALIZED (
         |  SELECT w, n, list_append(best, s) AS best,
         |    list_append(plists,
         |      list_append(plists[j + 1], substr(w, (j + 1)::INT, ($t - j)::INT))) AS plists
         |  FROM c${r}_$t
         |  UNION ALL
         |  SELECT w, n, best, plists FROM v${r}_${t - 1} WHERE length(w) < $t)""".stripMargin
    }.mkString(",\n")
    s"""lk$r AS MATERIALIZED (
       |  SELECT pos.w, pos.j0, pos.e, pr.lp FROM pos JOIN $probsName pr USING (piece)),
       |v${r}_0 AS (SELECT w, n, CAST([0.0] AS DOUBLE[]) AS best,
       |            CAST([[]] AS VARCHAR[][]) AS plists FROM wc),
       |$steps""".stripMargin
  }

  private def unigramFinalSelect(emIters: Int): String =
    s"""SELECT piece, ROUND(LN((c + 1.0) / (tot$emIters.total + tot$emIters.sz)), 6) AS logprob,
       |  CAST(ROW_NUMBER() OVER (ORDER BY c DESC, piece) AS INT) AS piece_rank
       |FROM keptc$emIters, tot$emIters ORDER BY piece_rank""".stripMargin

  private def unigramPrefixCtes(emIters: Int): String = {
    val L = UnigramUnrollL
    def round(r: Int): String = {
      val prev = s"probs${r - 1}"
      s"""${unigramDpRound(r, prev)},

         |counts$r AS (SELECT piece, SUM(n)::BIGINT AS c FROM (
         |  SELECT unnest(plists[length(w) + 1]) AS piece, n FROM v${r}_$L) GROUP BY piece),
         |kept0$r AS (SELECT piece FROM counts$r ORDER BY c DESC, piece LIMIT 500),
         |kept$r AS (SELECT piece FROM (SELECT piece FROM kept0$r
         |         UNION ALL SELECT piece FROM singles) GROUP BY piece),
         |keptc$r AS MATERIALIZED (SELECT kept$r.piece, COALESCE(counts$r.c, 0) AS c
         |          FROM kept$r LEFT JOIN counts$r USING (piece)),
         |tot$r AS (SELECT SUM(c)::DOUBLE AS total, COUNT(*)::DOUBLE AS sz FROM keptc$r),
         |probs$r AS MATERIALIZED (
         |  SELECT piece, LN((c + 1.0) / (tot$r.total + tot$r.sz)) AS lp
         |  FROM keptc$r, tot$r)""".stripMargin
    }
    val rounds = (1 to emIters).map(round).mkString(",\n")
    s"""WITH
       |toks AS (SELECT unnest(${TextQueries.toksSql("text")}) AS w FROM documents),
       |wc AS MATERIALIZED (SELECT w, COUNT(*) AS n FROM toks GROUP BY 1
       |       ORDER BY n DESC, w LIMIT 100000),
       |cand AS (
       |  SELECT piece, SUM(n)::BIGINT AS c FROM (
       |    SELECT unnest(flatten(list_transform(range(1, length(w) + 1),
       |      i -> list_transform(range(1, least(8, length(w) - i + 1) + 1),
       |        l -> substr(w, i::INT, l::INT))))) AS piece, n
       |    FROM wc) GROUP BY piece),
       |singles AS MATERIALIZED (SELECT piece FROM cand WHERE length(piece) = 1),
       |seedtop AS (SELECT piece FROM cand ORDER BY c DESC, piece LIMIT 4000),
       |seed AS (SELECT piece FROM (SELECT piece FROM seedtop
       |         UNION ALL SELECT piece FROM singles) GROUP BY piece),
       |seedc AS (SELECT seed.piece, cand.c FROM seed JOIN cand USING (piece)),
       |stot AS (SELECT SUM(c)::DOUBLE AS t FROM seedc),
       |probs0 AS MATERIALIZED (SELECT piece, LN(c / stot.t) AS lp FROM seedc, stot),
       |pos AS MATERIALIZED (
       |  SELECT w, je[1] AS j0, je[2] AS e,
       |    substr(w, (je[1] + 1)::INT, (je[2] - je[1])::INT) AS piece
       |  FROM (SELECT w, unnest(flatten(list_transform(range(0, length(w)),
       |          j -> list_transform(range(j + 1, least(j + 8, length(w)) + 1),
       |            e -> [j, e])))) AS je
       |        FROM wc)),
       |$rounds""".stripMargin
  }

  /** Deterministic JSON chat records from orders — see `curation_chat_validate`. */
  private def chatFixture(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    def m(role: String, tag: String) =
      concat(lit(s"""{"role":"$role","content":"msg """), k, lit(s""" $tag"}"""))
    val sys = lit("""{"role":"system","content":"you are helpful"}""")
    val pair1 = concat(m("user", "u1"), lit(","), m("assistant", "a1"))
    val pair2 = concat(m("user", "u2"), lit(","), m("assistant", "a2"))
    val emptyA = lit("""{"role":"assistant","content":"  "}""")
    val bodyStr = when(k % 3 === 0, concat(pair1, lit(","), pair2)).otherwise(pair1)
    val core = when(k % 2 === 0, concat(sys, lit(","), bodyStr)).otherwise(bodyStr)
    val ok = concat(lit("["), core, lit("]"))
    val conv = when(k % 13 === 0,
        concat(lit("["), m("assistant", "a1"), lit(","), m("user", "u1"), lit("]")))
      .when(k % 11 === 0, substring(ok, 1, 10))
      .when(k % 7 === 0,
        concat(lit("["), m("user", "u1"), lit(","), m("assistant", "a1"), lit(","),
          m("user", "u2"), lit("]")))
      .when(k % 5 === 0,
        concat(lit("["), m("user", "u1"), lit(","), emptyA, lit("]")))
      .otherwise(ok)
    // round-robin spread: the from_json + chat-gate expression work downstream
    // runs at this frame's partitioning, and a single-file orders scan otherwise
    // grinds it on ONE task (measured 2.9 s single-task inside ep15 at sf0.1);
    // all consumers are per-row expressions + count/sum aggregates or
    // rec_id-ordered packing windows, so results are partition-layout-proof
    s.read.parquet(s"$dir/orders.parquet").select(k.as("rec_id"), conv.as("conv"))
      .repartition(s.sparkContext.defaultParallelism)
  }

  /** The chat-validate CTE chain ending in `v` (all flags incl. per-record
    * totals) — shared by the validate oracle and the SFT-corpus capstone. `b`
    * carries the parsed JSON doc for downstream rendering.
    */
  private val chatValidateCtes: String =
    """f AS (
        |  SELECT o_orderkey AS rec_id,
        |    CASE
        |      WHEN o_orderkey % 13 = 0 THEN
        |        '[{"role":"assistant","content":"msg ' || o_orderkey || ' a1"},' ||
        |        '{"role":"user","content":"msg ' || o_orderkey || ' u1"}]'
        |      WHEN o_orderkey % 11 = 0 THEN substr(
        |        '[' || CASE WHEN o_orderkey % 2 = 0
        |                 THEN '{"role":"system","content":"you are helpful"},' ELSE '' END ||
        |        '{"role":"user","content":"msg ' || o_orderkey || ' u1"},' ||
        |        '{"role":"assistant","content":"msg ' || o_orderkey || ' a1"}' ||
        |        CASE WHEN o_orderkey % 3 = 0
        |          THEN ',{"role":"user","content":"msg ' || o_orderkey || ' u2"},' ||
        |               '{"role":"assistant","content":"msg ' || o_orderkey || ' a2"}'
        |          ELSE '' END || ']', 1, 10)
        |      WHEN o_orderkey % 7 = 0 THEN
        |        '[{"role":"user","content":"msg ' || o_orderkey || ' u1"},' ||
        |        '{"role":"assistant","content":"msg ' || o_orderkey || ' a1"},' ||
        |        '{"role":"user","content":"msg ' || o_orderkey || ' u2"}]'
        |      WHEN o_orderkey % 5 = 0 THEN
        |        '[{"role":"user","content":"msg ' || o_orderkey || ' u1"},' ||
        |        '{"role":"assistant","content":"  "}]'
        |      ELSE
        |        '[' || CASE WHEN o_orderkey % 2 = 0
        |                 THEN '{"role":"system","content":"you are helpful"},' ELSE '' END ||
        |        '{"role":"user","content":"msg ' || o_orderkey || ' u1"},' ||
        |        '{"role":"assistant","content":"msg ' || o_orderkey || ' a1"}' ||
        |        CASE WHEN o_orderkey % 3 = 0
        |          THEN ',{"role":"user","content":"msg ' || o_orderkey || ' u2"},' ||
        |               '{"role":"assistant","content":"msg ' || o_orderkey || ' a2"}'
        |          ELSE '' END || ']'
        |    END AS conv
        |  FROM orders),
        |j AS (SELECT rec_id, TRY_CAST(conv AS JSON) AS doc FROM f),
        |b AS (SELECT rec_id, doc, doc IS NULL AS invalid_json,
        |        CASE WHEN doc IS NULL THEN 0
        |             ELSE CAST(json_array_length(doc) AS INT) END AS n_turns
        |      FROM j),
        |r AS (SELECT rec_id, invalid_json, n_turns,
        |        CASE WHEN invalid_json THEN []::VARCHAR[]
        |             ELSE list_transform(range(0, n_turns),
        |                    i -> json_extract_string(doc, '$[' || i || '].role')) END AS roles,
        |        CASE WHEN invalid_json THEN []::VARCHAR[]
        |             ELSE list_transform(range(0, n_turns),
        |                    i -> json_extract_string(doc, '$[' || i || '].content')) END AS cts
        |      FROM b),
        |s AS (SELECT rec_id, invalid_json, n_turns,
        |        COALESCE(roles[1] = 'system', false) AS has_system,
        |        CASE WHEN COALESCE(roles[1] = 'system', false)
        |             THEN roles[2:] ELSE roles END AS body, cts
        |      FROM r),
        |v AS (SELECT rec_id, invalid_json, n_turns, has_system,
        |        COALESCE(body[1] = 'user', false) AS starts_user,
        |        len(body) > 0 AND NOT list_contains(
        |          list_transform(range(1, len(body) + 1),
        |            i -> COALESCE(body[i] = CASE WHEN i % 2 = 1 THEN 'user'
        |                                         ELSE 'assistant' END, false)),
        |          false) AS alternates,
        |        COALESCE(body[-1] = 'assistant', false) AS ends_assistant,
        |        COALESCE(list_contains(
        |          list_transform(cts, c -> COALESCE(length(trim(c)) = 0, true)),
        |          true), false) AS has_empty_content,
        |        CAST(COALESCE(list_sum(list_transform(cts,
        |          c -> len(list_filter(string_split_regex(trim(COALESCE(c, '')), '\s+'),
        |                 t -> length(t) > 0)))), 0) AS BIGINT) AS total_tokens
        |      FROM s)""".stripMargin

  private val ChatValidSql: String =
    """(NOT invalid_json AND n_turns > 0 AND starts_user AND alternates
      | AND ends_assistant AND NOT has_empty_content AND total_tokens <= 12)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "curation_chat_validate" ->
      s"""WITH $chatValidateCtes
        |SELECT rec_id, invalid_json, n_turns, has_system, starts_user, alternates,
        |  ends_assistant, has_empty_content, total_tokens,
        |  $ChatValidSql AS valid
        |FROM v ORDER BY rec_id""".stripMargin,
    "ep15_sft_corpus" ->
      s"""WITH $chatValidateCtes,
        |ok AS (SELECT rec_id FROM v WHERE $ChatValidSql),
        |rend AS (SELECT b.rec_id,
        |           array_to_string(list_transform(range(0, b.n_turns),
        |             i -> json_extract_string(b.doc, '$$[' || i || '].role') || ': ' ||
        |                  json_extract_string(b.doc, '$$[' || i || '].content')),
        |             chr(10)) AS text
        |         FROM b JOIN ok USING (rec_id)),
        |tok AS (SELECT rec_id, rec_id % 8 AS shard,
        |          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
        |            t -> length(t) > 0)) AS BIGINT) AS n_tokens
        |        FROM rend),
        |cum AS (SELECT rec_id, shard, n_tokens,
        |          COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY rec_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |        FROM tok),
        |sq AS (SELECT shard, CAST(cum_before // 64 AS BIGINT) AS seq_id,
        |         n_tokens, rec_id FROM cum)
        |SELECT CAST(shard AS BIGINT) AS shard, seq_id, COUNT(*) AS n_recs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
        |  MIN(rec_id) AS first_rec, MAX(rec_id) AS last_rec
        |FROM sq GROUP BY shard, seq_id ORDER BY shard, seq_id""".stripMargin,
    "curation_bpe_first_merge" -> bpeFirstMergeSql,
    "curation_bpe_two_merges" -> bpeTwoMergesSql,
    "curation_bpe_merges" -> bpeMergeChainSql(20),
    "curation_bpe_encode" -> bpeEncodeSql,
    // seed candidates: same substring explode (1-based substr, len-capped at 8)
    // over the word-count vocabulary, top-200 deterministic
    // one unigram-EM iteration, replayed exactly: wc/cand/seed as in the seed
    // oracle; Viterbi via a RECURSIVE CTE carrying each word's (best, back) DP
    // arrays one position per step (candidate j preference: score DESC then
    // smallest j — `strict >` in UnigramEncode.segment); backtrack is a second
    // recursive CTE walking back-pointers; then prune-to-500 + singles and the
    // Laplace M-step. LN/addition are single IEEE ops on both engines and the
    // final logprob rounds to 6, so the replay is cell-exact. (The seed/kept
    // "∪ singles" unions are spelled UNION ALL + GROUP BY: DuckDB 1.0's plain
    // UNION fails to dedup across a recursive-CTE boundary in this query shape.)
    "curation_unigram_one_iter" -> unigramChainSql(1),
    "curation_unigram_lm" -> unigramChainSql(2),
    "curation_unigram_encode" -> unigramEncodeChainSql(2),
    "curation_unigram_encode_fixed" ->
      // frozen Viterbi segmentations of the constant piece table: "ababa" picks
      // ab+aba over aba+ba (-4.3 vs -4.5); "baba" is a TRUE TIE (b+aba = ba+ba
      // = -4.0) resolved to the longest final piece; "zq" takes the per-char
      // unk floor; "hello" prefers the single piece (-1.2 vs he+llo -2.4)
      """SELECT CAST(wid AS BIGINT) AS wid, w, enc FROM (VALUES
        |  (0, 'ababa', 'ab aba'),
        |  (1, 'abc', 'abc'),
        |  (2, 'hello', 'hello'),
        |  (3, 'zq', 'z q'),
        |  (4, 'aab', 'a ab'),
        |  (5, 'baba', 'b aba')) AS t(wid, w, enc)
        |ORDER BY wid""".stripMargin,
    "curation_unigram_seed" ->
      s"""WITH toks AS (SELECT unnest(${TextQueries.toksSql("text")}) AS w FROM documents),
         |wc AS (SELECT w, COUNT(*) AS n FROM toks GROUP BY 1
         |       ORDER BY n DESC, w LIMIT 100000),
         |pieces AS (
         |  SELECT unnest(flatten(list_transform(range(1, length(w) + 1),
         |    i -> list_transform(range(1, least(8, length(w) - i + 1) + 1),
         |      l -> substr(w, i::INT, l::INT))))) AS piece, n
         |  FROM wc)
         |SELECT piece, SUM(n)::BIGINT AS weighted_count
         |FROM pieces GROUP BY piece
         |ORDER BY weighted_count DESC, piece LIMIT 200""".stripMargin,
    "text_repetition" -> {
      val toks = toksSql("text")
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |c AS (SELECT doc_id, len(toks) AS n,
         |  CASE WHEN len(toks) = 0 THEN 0 ELSE list_max(list_transform(list_distinct(toks),
         |    u -> len(list_filter(toks, x -> x = u)))) END AS top,
         |  GREATEST(len(toks) - 1, 0) AS n2,
         |  len(list_distinct(list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i+1]))) AS d2,
         |  GREATEST(len(toks) - 2, 0) AS n3,
         |  len(list_distinct(list_transform(range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS d3,
         |  len(list_filter(range(1, len(toks)), i -> toks[i] = toks[i+1])) AS adj
         |FROM t)
         |SELECT doc_id, n AS n_tokens,
         |  ROUND(CASE WHEN n = 0 THEN 0.0 ELSE top::DOUBLE / n END, 6) AS top_token_ratio,
         |  ROUND(CASE WHEN n2 = 0 THEN 0.0 ELSE (n2 - d2)::DOUBLE / n2 END, 6) AS dup_2gram_ratio,
         |  ROUND(CASE WHEN n3 = 0 THEN 0.0 ELSE (n3 - d3)::DOUBLE / n3 END, 6) AS dup_3gram_ratio,
         |  ROUND(CASE WHEN n2 = 0 THEN 0.0 ELSE adj::DOUBLE / n2 END, 6) AS adjacent_repeat_ratio
         |FROM c ORDER BY doc_id""".stripMargin
    },
    "curation_mix_sample" ->
      s"""SELECT lang, COUNT(*) AS n_kept,
         |  CAST(SUM(len(${toksSql("text")})) AS BIGINT) AS tokens_kept
         |FROM documents
         |WHERE ${drawSql(MixSalt, "doc_id")} < ${thresholdCaseSql("lang", MixRates, 1.0)}
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "curation_importance_sample" ->
      s"""WITH s AS (SELECT doc_id, lang, ${TextQueries.qualityExprSql} AS q FROM documents)
         |SELECT doc_id, lang, q FROM s
         |WHERE ('0x' || ${drawSql("imp1", "doc_id")})::BIGINT::DOUBLE / 4294967296.0
         |      < LEAST(GREATEST(q, 0.0), 1.0)
         |ORDER BY doc_id""".stripMargin,
    "curation_temperature_mix" ->
      s"""WITH c AS (SELECT lang, COUNT(*)::DOUBLE AS n FROM documents GROUP BY lang),
         |r AS (SELECT lang,
         |        ROUND(LEAST(1.0, 200.0 * POWER(n, 0.5) / (SELECT SUM(POWER(n, 0.5)) FROM c) / n), 6) AS rate
         |      FROM c)
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN r ON d.lang = r.lang
         |WHERE ('0x' || ${drawSql("temp1", "doc_id")})::BIGINT::DOUBLE / 4294967296.0 < r.rate
         |ORDER BY d.doc_id""".stripMargin,
    "curation_weighted_sample" ->
      // ln((draw32 + 0.5)/2^32)/w replays the ES key exactly; selection depends on
      // key ORDER only (the key itself is not emitted), ties broken by doc_id
      s"""WITH u AS (SELECT doc_id, n_chars,
         |  ln((('0x' || ${drawSql("wsamp1", "doc_id")})::BIGINT::DOUBLE + 0.5) / 4294967296.0)
         |    / GREATEST(n_chars::DOUBLE, 1e-12) AS k
         |  FROM documents),
         |top AS (SELECT doc_id, n_chars FROM u ORDER BY k DESC, doc_id LIMIT 100)
         |SELECT doc_id, n_chars FROM top ORDER BY doc_id""".stripMargin,
    "curation_global_shuffle" ->
      s"""SELECT ROW_NUMBER() OVER (ORDER BY ${drawSql("gs1", "doc_id")}, doc_id::VARCHAR)
         |         AS position,
         |       doc_id, lang
         |FROM documents
         |ORDER BY position""".stripMargin,
    "curation_curriculum_order" ->
      s"""WITH s AS (SELECT doc_id, len(${toksSql("text")}) AS n_tokens FROM documents),
         |b AS (SELECT quantile_cont(n_tokens, [0.25, 0.5, 0.75]) AS bs FROM s),
         |bk AS (SELECT doc_id, n_tokens,
         |         CASE WHEN n_tokens <= ROUND(bs[1], 6) THEN 0
         |              WHEN n_tokens <= ROUND(bs[2], 6) THEN 1
         |              WHEN n_tokens <= ROUND(bs[3], 6) THEN 2
         |              ELSE 3 END AS bucket
         |       FROM s, b)
         |SELECT ROW_NUMBER() OVER (ORDER BY bucket, ${drawSql("cur1", "doc_id")},
         |                          doc_id::VARCHAR) AS position,
         |       doc_id, bucket, CAST(n_tokens AS INT) AS n_tokens
         |FROM bk ORDER BY position""".stripMargin,
    "ep8_training_file" ->
      s"""WITH c AS (SELECT lang, COUNT(*)::DOUBLE AS n FROM documents GROUP BY lang),
         |r AS (SELECT lang,
         |        ROUND(LEAST(1.0, 300.0 * POWER(n, 0.5) / (SELECT SUM(POWER(n, 0.5)) FROM c) / n), 6) AS rate
         |      FROM c),
         |kept AS (SELECT d.doc_id, d.text FROM documents d JOIN r ON d.lang = r.lang
         |         WHERE ('0x' || ${drawSql("ep8t", "d.doc_id")})::BIGINT::DOUBLE / 4294967296.0 < r.rate),
         |ord AS (SELECT doc_id, text,
         |          ROW_NUMBER() OVER (ORDER BY ${drawSql("ep8s", "doc_id")}, doc_id::VARCHAR) AS position
         |        FROM kept)
         |SELECT ((position - 1) // 64)::INT AS shard, COUNT(*) AS n_docs,
         |  CAST(SUM(len(${toksSql("text")})) AS BIGINT) AS n_tokens,
         |  MIN(position) AS p_min, MAX(position) AS p_max
         |FROM ord GROUP BY 1 ORDER BY 1""".stripMargin,
    "curation_split" ->
      s"""SELECT lang,
         |  CASE WHEN ${drawSql(SplitSalt, "doc_id")} < '${Curation.rateThreshold(TrainFrac)}'
         |       THEN 'train' ELSE 'val' END AS split,
         |  COUNT(*) AS n
         |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "curation_pack_stats" ->
      s"""WITH t AS (SELECT doc_id, lang, len(${toksSql("text")}) AS n_tokens FROM documents),
         |c AS (SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM t),
         |sq AS (SELECT *, CAST(cum_before // $PackBudget AS BIGINT) AS seq_id FROM c),
         |seqs AS (SELECT lang, seq_id, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
         |         FROM sq GROUP BY 1, 2)
         |SELECT lang, COUNT(*) AS n_seqs,
         |  CAST(SUM(seq_tokens) AS BIGINT) AS tokens_total,
         |  MIN(seq_tokens) AS min_tokens, MAX(seq_tokens) AS max_tokens,
         |  CAST(SUM(CASE WHEN seq_tokens > $PackBudget THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_overflow,
         |  CAST(SUM(CASE WHEN seq_tokens * 2 < $PackBudget THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_underhalf,
         |  ROUND(SUM(seq_tokens)::DOUBLE / (COUNT(*) * $PackBudget), 6) AS fill_ratio
         |FROM seqs GROUP BY lang ORDER BY lang""".stripMargin,
    "curation_pack" ->
      s"""WITH t AS (SELECT doc_id, lang, len(${toksSql("text")}) AS n_tokens FROM documents),
         |c AS (SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM t),
         |sq AS (SELECT *, CAST(cum_before // $PackBudget AS BIGINT) AS seq_id FROM c)
         |SELECT lang, seq_id, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM sq GROUP BY lang, seq_id ORDER BY lang, seq_id""".stripMargin,
    "curation_boilerplate" ->
      s"""WITH ${TextQueries.corpusCte},
         |pr AS (SELECT doc_id, list_distinct(${shinglesSql("text")}) AS sh FROM corpus),
         |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM pr),
         |dfq AS (SELECT shingle FROM ex GROUP BY shingle HAVING COUNT(*) >= $BoilerMinDf),
         |per AS (SELECT doc_id, COUNT(*) AS n_shingles FROM ex GROUP BY doc_id),
         |bo AS (SELECT e.doc_id, COUNT(*) AS n_boiler FROM ex e JOIN dfq USING (shingle)
         |       GROUP BY e.doc_id)
         |SELECT p.doc_id, p.n_shingles, COALESCE(bo.n_boiler, 0) AS n_boiler,
         |  ROUND(COALESCE(bo.n_boiler, 0)::DOUBLE / p.n_shingles, 6) AS boiler_ratio
         |FROM per p LEFT JOIN bo ON p.doc_id = bo.doc_id
         |ORDER BY p.doc_id""".stripMargin,
    "curation_contamination" ->
      s"""WITH ${TextQueries.corpusCte},
         |bsh AS (SELECT DISTINCT unnest(list_distinct(${shinglesSql("text")})) AS shingle
         |        FROM documents WHERE doc_id % 13 = 0),
         |cx AS (SELECT doc_id, unnest(list_distinct(${shinglesSql("text")})) AS shingle
         |       FROM corpus WHERE doc_id % 13 <> 0),
         |per AS (SELECT doc_id, COUNT(*) AS n_shingles FROM cx GROUP BY doc_id),
         |ov AS (SELECT cx.doc_id, COUNT(*) AS n_overlap FROM cx JOIN bsh USING (shingle)
         |       GROUP BY cx.doc_id)
         |SELECT p.doc_id, p.n_shingles, ov.n_overlap,
         |  ROUND(ov.n_overlap::DOUBLE / p.n_shingles, 6) AS contamination
         |FROM per p JOIN ov ON p.doc_id = ov.doc_id
         |WHERE ROUND(ov.n_overlap::DOUBLE / p.n_shingles, 6) >= $ContamThreshold
         |ORDER BY p.doc_id""".stripMargin,
    "curation_decontaminate" ->
      s"""WITH ${TextQueries.corpusCte},
         |bsh AS (SELECT DISTINCT unnest(list_distinct(${shinglesSql("text")})) AS shingle
         |        FROM documents WHERE doc_id % 13 = 0),
         |cx AS (SELECT doc_id, unnest(list_distinct(${shinglesSql("text")})) AS shingle
         |       FROM corpus WHERE doc_id % 13 <> 0),
         |bad AS (SELECT DISTINCT doc_id FROM cx JOIN bsh USING (shingle))
         |SELECT doc_id FROM corpus
         |WHERE doc_id % 13 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
         |ORDER BY doc_id""".stripMargin,
    "curation_chunk" -> {
      val toks = toksSql("text")
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
         |c AS (SELECT doc_id, toks,
         |        unnest(range(0, 1 + CAST(CEIL(GREATEST(n - 32, 0) / 24.0) AS BIGINT)))
         |          AS chunk_index
         |      FROM n)
         |SELECT doc_id, chunk_index,
         |  len(toks[(chunk_index*24 + 1)::INT : (chunk_index*24 + 32)::INT]) AS n_tokens,
         |  array_to_string(toks[(chunk_index*24 + 1)::INT : (chunk_index*24 + 32)::INT], ' ')
         |    AS chunk
         |FROM c ORDER BY doc_id, chunk_index""".stripMargin
    },
    "curation_dedup_lines" -> {
      val toks = toksSql("text")
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents WHERE len($toks) > 0),
         |l6 AS (SELECT doc_id,
         |         list_transform(range(0, CAST(CEIL(len(toks) / 6.0) AS BIGINT)),
         |           i -> array_to_string(toks[(i*6 + 1)::INT : (i*6 + 6)::INT], ' '))
         |           AS lines0
         |       FROM t),
         |fx AS (SELECT doc_id, list_append(lines0, lines0[1]) AS lines FROM l6),
         |e AS (SELECT doc_id, unnest(range(1, len(lines) + 1)) AS pos, lines FROM fx),
         |ln AS (SELECT doc_id, pos, lines[pos] AS line FROM e),
         |rk AS (SELECT doc_id, pos, line,
         |         CASE WHEN length(trim(line)) = 0 THEN 1
         |              ELSE ROW_NUMBER() OVER (PARTITION BY doc_id, line ORDER BY pos)
         |         END AS rk
         |       FROM ln),
         |agg AS (SELECT doc_id, COUNT(*) AS n_lines,
         |          SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS n_dropped,
         |          md5(string_agg(CASE WHEN rk = 1 THEN line END, chr(10) ORDER BY pos)
         |              FILTER (rk = 1)) AS text_hash
         |        FROM rk GROUP BY doc_id)
         |SELECT doc_id, n_lines, CAST(n_dropped AS BIGINT) AS n_dropped, text_hash
         |FROM agg ORDER BY doc_id""".stripMargin
    },
    "text_tokenizer_fertility" -> {
      val toks = toksSql("text")
      val (chain, _) = bpeChainSql(BpeFixedMerges)
      s"""WITH t AS (SELECT doc_id, lang, length(text) AS nc, $toks AS toks FROM documents),
         |e AS (SELECT doc_id, lang, nc, len(toks) AS nw,
         |        length(array_to_string(list_transform(toks, w -> $chain), '')) AS nt
         |      FROM t)
         |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(nw) AS BIGINT) AS n_words,
         |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
         |  ROUND(SUM(nt)::DOUBLE / SUM(nw), 6) AS fertility,
         |  ROUND(SUM(nc)::DOUBLE / SUM(nt), 6) AS chars_per_token
         |FROM e GROUP BY lang ORDER BY lang""".stripMargin
    },
    "curation_dedup_paragraphs" -> {
      val toks = toksSql("text")
      s"""WITH ${TextQueries.corpusCte},
         |t AS (SELECT doc_id, $toks AS toks FROM corpus),
         |p8 AS (SELECT doc_id,
         |         array_to_string(list_transform(
         |           range(0, CAST(CEIL(len(toks) / 8.0) AS BIGINT)),
         |           i -> array_to_string(toks[(i*8 + 1)::INT : (i*8 + 8)::INT], ' ')),
         |           chr(10)) AS text
         |       FROM t),
         |sp AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM p8),
         |e AS (SELECT doc_id, unnest(range(1, len(parts) + 1)) AS pos, parts FROM sp),
         |pa AS (SELECT doc_id, pos, parts[pos] AS para FROM e
         |       WHERE length(trim(parts[pos])) > 0),
         |rk AS (SELECT doc_id, pos, para,
         |         ROW_NUMBER() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rk
         |       FROM pa),
         |kept AS (SELECT doc_id, COUNT(*) AS n_kept,
         |           string_agg(para, chr(10) ORDER BY pos) AS text_deduped
         |         FROM rk WHERE rk = 1 GROUP BY doc_id),
         |tot AS (SELECT doc_id, COUNT(*) AS n_paras FROM pa GROUP BY doc_id)
         |SELECT c.doc_id, COALESCE(t.n_paras, 0) AS n_paras,
         |  COALESCE(k.n_kept, 0) AS n_kept,
         |  COALESCE(k.text_deduped, '') AS text_deduped
         |FROM corpus c LEFT JOIN tot t ON c.doc_id = t.doc_id
         |LEFT JOIN kept k ON c.doc_id = k.doc_id
         |ORDER BY c.doc_id""".stripMargin
    },
    "curation_shard_manifest" -> {
      val toks = toksSql("text")
      """WITH s AS (
        |  SELECT CAST(('0x' || substr(md5('shard1:' || doc_id::VARCHAR), 1, 8))::BIGINT
        |           % 8 AS INT) AS shard, text
        |  FROM documents)
        |SELECT shard, COUNT(*) AS n_docs,
        |  CAST(SUM(len(""".stripMargin + toks + """)) AS BIGINT) AS n_tokens
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin
    },
    "curation_fold_text" ->
      """SELECT doc_id,
        |  lower(strip_accents(text || ' Café NAÏVE Straße ÉLAN')) AS folded
        |FROM documents ORDER BY doc_id""".stripMargin,
    "curation_vocab_encode" -> {
      val toks = toksSql("text")
      s"""WITH tok AS (SELECT unnest($toks) AS token FROM documents),
         |c AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token
         |      ORDER BY n DESC, token LIMIT 50),
         |v AS (SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS INT)
         |        AS token_id FROM c),
         |t AS (SELECT doc_id, $toks AS toks FROM documents),
         |e AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, toks FROM t),
         |x AS (SELECT doc_id, pos, toks[pos] AS token FROM e),
         |j AS (SELECT x.doc_id, x.pos, COALESCE(v.token_id, 0) AS id
         |      FROM x LEFT JOIN v USING (token)),
         |enc AS (SELECT doc_id, array_agg(id ORDER BY pos) AS token_ids,
         |          CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
         |        FROM j GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(array_to_string(enc.token_ids, ','), '') AS token_ids_csv,
         |  COALESCE(enc.n_oov, 0) AS n_oov
         |FROM documents d LEFT JOIN enc ON d.doc_id = enc.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },
    "curation_vocab" ->
      s"""WITH tok AS (SELECT unnest(${toksSql("text")}) AS token FROM documents),
         |c AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token
         |      ORDER BY n DESC, token LIMIT 50)
         |SELECT token, n,
         |  CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS INT) AS token_id
         |FROM c ORDER BY token_id""".stripMargin,
    "ep3_training_mix" -> {
      val toks = toksSql("text")
      s"""WITH ${TextQueries.corpusCte},
         |sc AS (SELECT doc_id, text, lang, len($toks) AS n_tokens,
         |         ${TextQueries.qualityExprSql} AS quality, ${TextQueries.langScoresSql}
         |       FROM corpus WHERE doc_id % 13 <> 0),
         |m AS (SELECT *, ${TextQueries.langMaxSql} AS mx FROM sc),
         |f AS (SELECT doc_id, text, lang, n_tokens FROM m
         |      WHERE ${TextQueries.langCaseSql} <> 'und' AND n_tokens >= 5 AND quality >= 0.3),
         |bsh AS (SELECT DISTINCT unnest(list_distinct(${shinglesSql("text")})) AS shingle
         |        FROM documents WHERE doc_id % 13 = 0),
         |cx AS (SELECT doc_id, unnest(list_distinct(${shinglesSql("text")})) AS shingle FROM f),
         |per AS (SELECT doc_id, COUNT(*) AS n_sh FROM cx GROUP BY doc_id),
         |ov AS (SELECT cx.doc_id, COUNT(*) AS n_ov FROM cx JOIN bsh USING (shingle)
         |       GROUP BY cx.doc_id),
         |bad AS (SELECT p.doc_id FROM per p JOIN ov o ON p.doc_id = o.doc_id
         |        WHERE ROUND(o.n_ov::DOUBLE / p.n_sh, 6) >= $ContamThreshold),
         |clean AS (SELECT * FROM f WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
         |ded AS (SELECT MIN(doc_id) AS doc_id, MIN(lang) AS lang,
         |               MIN(n_tokens) AS n_tokens
         |        FROM clean GROUP BY md5(text)),
         |mixed AS (SELECT * FROM ded
         |          WHERE ${drawSql(MixSalt, "doc_id")} < ${thresholdCaseSql("lang", MixRates, 1.0)}),
         |c AS (SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM mixed),
         |sq AS (SELECT *, CAST(cum_before // $PackBudget AS BIGINT) AS seq_id FROM c)
         |SELECT lang, seq_id, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM sq GROUP BY lang, seq_id ORDER BY lang, seq_id""".stripMargin
    },
    "text_gopher_rules" -> {
      val gtext = "text" +
        " || CASE WHEN doc_id % 4 = 0 THEN chr(10) || '- bullet item' || chr(10) || '- another bullet' ELSE '' END" +
        " || CASE WHEN doc_id % 6 = 0 THEN chr(10) || 'to be continued...' ELSE '' END" +
        " || CASE WHEN doc_id % 5 = 0 THEN ' ## # ###' ELSE '' END"
      val toks = toksSql("gtext")
      val stopList = TextQueries.inList(
        (TextOps.EnglishStopwords ++ TextOps.LangMarkers.flatMap(_._2)).distinct)
      s"""WITH p AS (SELECT doc_id, $gtext AS gtext FROM documents),
         |s AS (SELECT doc_id, gtext, $toks AS toks,
         |        string_split(gtext, chr(10)) AS lines FROM p),
         |c AS (SELECT doc_id, len(toks) AS n_words,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks) END AS mean_raw,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE len(regexp_extract_all(gtext, '#|\\.\\.\\.'))::DOUBLE / len(toks) END AS sym_raw,
         |  CASE WHEN len(lines) = 0 THEN 0.0
         |       ELSE len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]')))::DOUBLE / len(lines) END AS bullet_raw,
         |  CASE WHEN len(lines) = 0 THEN 0.0
         |       ELSE len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.$$')))::DOUBLE / len(lines) END AS ell_raw,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE / len(toks) END AS alpha_raw,
         |  len(list_filter(toks, t -> t IN $stopList)) AS stop_hits
         |FROM s)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |  ROUND(mean_raw, 6) AS mean_word_len, ROUND(sym_raw, 6) AS symbol_ratio,
         |  ROUND(bullet_raw, 6) AS bullet_frac, ROUND(ell_raw, 6) AS ellipsis_frac,
         |  ROUND(alpha_raw, 6) AS alpha_frac,
         |  (n_words >= $GopherMinWords AND n_words <= 100000
         |   AND mean_raw >= 3.0 AND mean_raw <= 10.0 AND sym_raw < 0.1
         |   AND bullet_raw < 0.9 AND ell_raw < 0.3 AND alpha_raw > 0.8
         |   AND stop_hits >= 2) AS passes_gopher
         |FROM c ORDER BY doc_id""".stripMargin
    },
    "curation_quantile_norm" ->
      s"""WITH sc AS (SELECT doc_id, source,
         |             ROUND(${TextQueries.qualityExprSql}, 6) AS quality FROM documents),
         |b AS (SELECT *, CAST(LEAST(GREATEST(FLOOR((quality - 0.0) / 0.01), 0), 99) AS INT)
         |        AS bin FROM sc),
         |h AS (SELECT bin, COUNT(*) AS n FROM b GROUP BY bin),
         |c AS (SELECT bin, SUM(n) OVER (ORDER BY bin) / (SELECT SUM(n) FROM h)::DOUBLE AS cdf
         |      FROM h),
         |g AS (SELECT gg.g, MIN(c.bin) AS calbin
         |      FROM (SELECT unnest(range(1, 101)) AS g) gg
         |      JOIN c ON c.cdf >= gg.g::DOUBLE / 100 GROUP BY gg.g),
         |r AS (SELECT sc.*, CAST(CEIL(cume_dist() OVER
         |        (PARTITION BY source ORDER BY quality, doc_id) * 100) AS INT) AS gk
         |      FROM sc)
         |SELECT r.doc_id, r.source, r.quality,
         |  ROUND(0.0::DOUBLE + (g.calbin + 1) * 0.01::DOUBLE, 6) AS calibrated
         |FROM r JOIN g ON g.g = r.gk
         |ORDER BY r.doc_id""".stripMargin,
    "curation_quality_topk" ->
      s"""WITH sc AS (SELECT doc_id, lang, ${TextQueries.qualityExprSql} AS quality
         |            FROM documents),
         |rk AS (SELECT *,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS INT)
         |    AS qrank,
         |  COUNT(*) OVER (PARTITION BY lang) AS n
         |FROM sc)
         |SELECT doc_id, lang, quality, qrank FROM rk
         |WHERE qrank <= CEIL(n * $TopFraction)
         |ORDER BY lang, qrank""".stripMargin,
    "curation_epoch_mix" -> {
      def caseSql(f: Double => String): String =
        "CASE lang " + EpochRates.toSeq.sortBy(_._1)
          .map { case (k, e) => s"WHEN '$k' THEN ${f(e)}" }.mkString(" ") +
          s" ELSE ${f(1.0)} END"
      val wholeSql = caseSql(e => math.floor(e).toLong.toString)
      val thrSql = caseSql(e => s"'${Curation.rateThreshold(e - math.floor(e))}'")
      s"""WITH e AS (SELECT doc_id, lang, $wholeSql AS whole, $thrSql AS thr
         |           FROM documents),
         |f AS (SELECT lang, unnest(range(0, whole)) AS epoch FROM e),
         |fr AS (SELECT lang, whole AS epoch FROM e
         |       WHERE ${drawSql(EpochSalt, "doc_id")} < thr),
         |u AS (SELECT * FROM f UNION ALL SELECT * FROM fr)
         |SELECT lang, epoch, COUNT(*) AS n FROM u
         |GROUP BY lang, epoch ORDER BY lang, epoch""".stripMargin
    },
    "text_lm_score" -> {
      val toks = toksSql("text")
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |         i -> toks[i] || ' ' || toks[i+1])) AS bigram FROM t),
         |model AS (SELECT bigram, COUNT(*) AS n FROM bg GROUP BY 1),
         |firsts AS (SELECT split_part(bigram, ' ', 1) AS w1, SUM(n) AS n1
         |           FROM model GROUP BY 1),
         |v AS (SELECT COUNT(DISTINCT tok) AS v FROM
         |        (SELECT unnest(toks) AS tok FROM t)),
         |sc AS (SELECT bg.doc_id,
         |         -LN((model.n + 1)::DOUBLE / (firsts.n1 + v.v)) AS nll
         |       FROM bg JOIN model USING (bigram)
         |       JOIN firsts ON split_part(bg.bigram, ' ', 1) = firsts.w1
         |       CROSS JOIN v),
         |agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(nll), 6) AS xent
         |        FROM sc GROUP BY 1)
         |SELECT d.doc_id, COALESCE(agg.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(agg.xent, 0.0) AS xent
         |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },
    "curation_mixture_weights" -> {
      val toks = toksSql("text")
      val vals = MixTargets.toSeq.sortBy(_._1)
        .map { case (d, t) => s"('$d', CAST($t AS DOUBLE))" }.mkString(", ")
      s"""WITH t AS (SELECT lang, len($toks) AS ntok FROM documents),
         |c AS (SELECT lang AS domain, SUM(ntok) AS n_tokens FROM t GROUP BY 1),
         |tg(domain, target_share) AS (VALUES $vals),
         |j AS (SELECT c.domain, c.n_tokens, tg.target_share FROM c JOIN tg USING (domain)),
         |m AS (SELECT MIN(n_tokens::DOUBLE / target_share) AS nmax FROM j)
         |SELECT j.domain, CAST(j.n_tokens AS BIGINT) AS n_tokens, j.target_share,
         |  ROUND(j.target_share * m.nmax / j.n_tokens, 6) AS rate,
         |  CAST(ROUND(j.target_share * m.nmax) AS BIGINT) AS expected_tokens
         |FROM j CROSS JOIN m ORDER BY domain""".stripMargin
    },
    "text_lm_kneser_ney" -> {
      val toks = toksSql("text")
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |         i -> toks[i] || ' ' || toks[i+1])) AS bigram FROM t),
         |ty AS (SELECT bigram, COUNT(*) AS c12,
         |         split_part(bigram, ' ', 1) AS w1, split_part(bigram, ' ', 2) AS w2
         |       FROM bg GROUP BY 1),
         |ctx AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS nf FROM ty GROUP BY 1),
         |cont AS (SELECT w2, COUNT(*) AS nb FROM ty GROUP BY 1),
         |b AS (SELECT COUNT(*)::DOUBLE AS b FROM ty),
         |sc AS (SELECT bg.doc_id,
         |         -LN(GREATEST(ty.c12 - 0.75, 0.0) / ctx.c1 +
         |             0.75 * ctx.nf / ctx.c1 * (cont.nb / b.b)) AS nll
         |       FROM bg JOIN ty USING (bigram)
         |       JOIN ctx ON ty.w1 = ctx.w1
         |       JOIN cont ON ty.w2 = cont.w2
         |       CROSS JOIN b),
         |agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(nll), 6) AS kn_xent
         |        FROM sc GROUP BY 1)
         |SELECT d.doc_id, COALESCE(agg.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(agg.kn_xent, 0.0) AS kn_xent
         |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },
    "curation_ngram_stats" -> {
      val toks = toksSql("text")
      s"""WITH t AS (SELECT $toks AS toks FROM documents),
         |b AS (SELECT unnest(list_transform(range(1, len(toks)),
         |        i -> toks[i] || ' ' || toks[i+1])) AS bigram FROM t),
         |c AS (SELECT bigram, COUNT(*) AS n FROM b GROUP BY 1
         |      ORDER BY n DESC, bigram LIMIT 30)
         |SELECT bigram, n,
         |  CAST(ROW_NUMBER() OVER (ORDER BY n DESC, bigram) AS INT) AS rank
         |FROM c ORDER BY rank""".stripMargin
    },
    "curation_sample_exact_n" ->
      s"""WITH rk AS (SELECT doc_id, lang,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY lang
         |    ORDER BY ${drawSql("exact1", "doc_id")}, doc_id) AS INT) AS draw_rank
         |FROM documents)
         |SELECT doc_id, lang, draw_rank FROM rk WHERE draw_rank <= 40
         |ORDER BY lang, draw_rank""".stripMargin,
    "text_tfidf_keywords" -> {
      val toks = toksSql("text")
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2),
         |dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
         |nn AS (SELECT COUNT(*) AS n FROM documents),
         |sc AS (SELECT tf.doc_id, tf.token,
         |         ROUND(tf.tf * LN(nn.n::DOUBLE / dfq.df), 6) AS tfidf
         |       FROM tf JOIN dfq USING (token) CROSS JOIN nn),
         |rk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
         |         ORDER BY tfidf DESC, token) AS INT) AS keyword_rank FROM sc)
         |SELECT doc_id, keyword_rank, token, tfidf FROM rk
         |WHERE keyword_rank <= 3 ORDER BY doc_id, keyword_rank""".stripMargin
    },
    "ep11_release_gate" -> {
      val toks = toksSql("text")
      s"""WITH v2 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 17 = 0 THEN text || ' edited' ELSE text END AS text,
         |    lang, source, n_chars
         |  FROM documents WHERE doc_id % 13 <> 0
         |  UNION ALL
         |  SELECT doc_id + 300000, text, lang, source, n_chars
         |  FROM documents WHERE doc_id % 19 = 0),
         |h1 AS (SELECT doc_id, md5(text) AS h FROM documents),
         |h2 AS (SELECT doc_id, md5(text) AS h FROM v2),
         |st AS (SELECT doc_id,
         |         CASE WHEN h1.h IS NULL THEN 'added'
         |              WHEN h2.h IS NULL THEN 'removed'
         |              WHEN h1.h = h2.h THEN 'unchanged'
         |              ELSE 'changed' END AS status
         |       FROM h1 FULL OUTER JOIN h2 USING (doc_id)),
         |f AS (SELECT v2.*, st.status FROM v2 JOIN st USING (doc_id)
         |      WHERE st.status IN ('added', 'changed')),
         |g AS (SELECT f.*,
         |        COUNT(*) OVER (PARTITION BY lang, source, n_chars // 100) AS gs,
         |        ${TextQueries.qualityExprSql} AS q
         |      FROM f)
         |SELECT lang,
         |  CAST(COUNT(*) AS BIGINT) AS n_fresh,
         |  CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
         |  CAST(SUM(CASE WHEN gs < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_gated_privacy,
         |  CAST(SUM(CASE WHEN gs >= 3 AND q < 0.3 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_gated_quality,
         |  CAST(SUM(CASE WHEN gs >= 3 AND q >= 0.3 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_released,
         |  CAST(SUM(CASE WHEN gs >= 3 AND q >= 0.3 THEN len($toks) ELSE 0 END) AS BIGINT)
         |    AS tokens_released
         |FROM g GROUP BY lang ORDER BY lang""".stripMargin
    },
    "ep5_data_card" -> {
      val toks = toksSql("text")
      val stopList = TextQueries.inList(
        (TextOps.EnglishStopwords ++ TextOps.LangMarkers.flatMap(_._2)).distinct)
      s"""WITH s AS (SELECT lang, text, $toks AS toks,
         |             string_split(text, chr(10)) AS lines FROM documents),
         |c AS (SELECT lang, len(toks) AS n_tokens,
         |  ${TextQueries.qualityExprSql} AS quality, md5(text) AS h,
         |  (len(toks) >= $GopherMinWords AND len(toks) <= 100000
         |   AND (CASE WHEN len(toks) = 0 THEN 0.0
         |        ELSE list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks) END)
         |       BETWEEN 3.0 AND 10.0
         |   AND (CASE WHEN len(toks) = 0 THEN 0.0
         |        ELSE len(regexp_extract_all(text, '#|\\.\\.\\.'))::DOUBLE / len(toks) END) < 0.1
         |   AND (CASE WHEN len(lines) = 0 THEN 0.0
         |        ELSE len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]')))::DOUBLE / len(lines) END) < 0.9
         |   AND (CASE WHEN len(lines) = 0 THEN 0.0
         |        ELSE len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.$$')))::DOUBLE / len(lines) END) < 0.3
         |   AND (CASE WHEN len(toks) = 0 THEN 0.0
         |        ELSE len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE / len(toks) END) > 0.8
         |   AND len(list_filter(toks, t -> t IN $stopList)) >= 2) AS passes
         |FROM s)
         |SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT h) AS n_unique,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  ROUND(AVG(quality), 6) AS mean_quality,
         |  ROUND(quantile_cont(n_tokens, 0.5), 6) AS median_tokens,
         |  CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_pass
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin
    },
    "ep5_data_card_cube" -> {
      val toks = toksSql("text")
      s"""WITH c AS (SELECT lang, source, len($toks) AS n_tokens,
         |  CAST(ROUND(${TextQueries.qualityExprSql} * 1000000.0) AS BIGINT) AS q6,
         |  md5(text) AS h FROM documents)
         |SELECT COALESCE(lang, 'ALL') AS lang, COALESCE(source, 'ALL') AS source,
         |  COUNT(*) AS n_docs, COUNT(DISTINCT h) AS n_unique,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(CAST(SUM(q6) AS BIGINT) // COUNT(*) AS BIGINT) AS mean_quality_e6
         |FROM c GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
         |ORDER BY lang, source""".stripMargin
    },
    "curation_blocklist" -> {
      val toks = toksSql("text")
      s"""WITH t AS (SELECT doc_id, source, $toks AS toks FROM documents)
         |SELECT doc_id,
         |  source IN ('src3', 'src7') AS source_blocked,
         |  CAST(len(list_filter(toks, t -> lower(t) IN ('slow', 'dup'))) AS BIGINT)
         |    AS blocked_word_count,
         |  (NOT source IN ('src3', 'src7'))
         |    AND len(list_filter(toks, t -> lower(t) IN ('slow', 'dup'))) = 0 AS kept
         |FROM t ORDER BY doc_id""".stripMargin
    },
    "curation_vocab_decode" -> {
      val toks = toksSql("text")
      s"""WITH tok AS (SELECT unnest($toks) AS token FROM documents),
         |c AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token
         |      ORDER BY n DESC, token LIMIT 50),
         |v AS (SELECT list(token) AS vt FROM c)
         |SELECT doc_id,
         |  array_to_string(list_transform($toks,
         |    t -> CASE WHEN list_contains(v.vt, t)
         |              THEN t ELSE '<unk>' END), ' ') AS decoded,
         |  CAST(len(list_filter($toks,
         |    t -> NOT list_contains(v.vt, t))) AS BIGINT) AS n_unk
         |FROM documents, v ORDER BY doc_id""".stripMargin
    },
    "curation_k_anonymity" ->
      """SELECT doc_id,
        |  COUNT(*) OVER (PARTITION BY lang, source, n_chars // 100) AS group_size,
        |  COUNT(*) OVER (PARTITION BY lang, source, n_chars // 100) >= 3 AS k_anonymous
        |FROM documents ORDER BY doc_id""".stripMargin,
    "curation_dsir_score" ->
      s"""WITH $dsirCtes
         |SELECT d.doc_id, ROUND(COALESCE(s.sc, 0.0), 6) AS dsir_score
         |FROM documents d LEFT JOIN s USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "curation_changelog_apply" ->
      """WITH cl AS (
        |  SELECT doc_id, 1 AS seq, 'D' AS op, text, lang
        |  FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id, 1, 'U', text || ' edited', lang
        |  FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL
        |  SELECT doc_id, 2, 'U', text || ' edited twice', lang
        |  FROM documents WHERE doc_id % 34 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, 1, 'I', text, lang
        |  FROM documents WHERE doc_id % 19 = 0),
        |latest AS (
        |  SELECT doc_id, op, text, lang FROM (
        |    SELECT cl.*, ROW_NUMBER() OVER (PARTITION BY doc_id
        |                                    ORDER BY seq DESC, op DESC) AS rn
        |    FROM cl) WHERE rn = 1),
        |m AS (
        |  SELECT doc_id, l.op,
        |    CASE WHEN l.op IS NOT NULL THEN l.text ELSE b.text END AS text,
        |    CASE WHEN l.op IS NOT NULL THEN l.lang ELSE b.lang END AS lang
        |  FROM documents b FULL OUTER JOIN latest l USING (doc_id))
        |SELECT doc_id, md5(text) AS content_hash, lang
        |FROM m WHERE op IS NULL OR op <> 'D'
        |ORDER BY doc_id""".stripMargin,
    // oracle recomputes the rollup from the merged snapshot — the incremental path
    // must land on the identical aggregate
    "curation_incremental_agg" ->
      """WITH cl AS (
        |  SELECT doc_id, 1 AS seq, 'D' AS op, n_chars, lang
        |  FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id, 1, 'U', n_chars + 7, lang
        |  FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL
        |  SELECT doc_id, 2, 'U', n_chars + 13, lang
        |  FROM documents WHERE doc_id % 34 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, 1, 'I', n_chars, lang
        |  FROM documents WHERE doc_id % 19 = 0),
        |latest AS (
        |  SELECT doc_id, op, n_chars, lang FROM (
        |    SELECT cl.*, ROW_NUMBER() OVER (PARTITION BY doc_id
        |                                    ORDER BY seq DESC, op DESC) AS rn
        |    FROM cl) WHERE rn = 1),
        |m AS (
        |  SELECT doc_id, l.op,
        |    CASE WHEN l.op IS NOT NULL THEN l.n_chars ELSE b.n_chars END AS n_chars,
        |    CASE WHEN l.op IS NOT NULL THEN l.lang ELSE b.lang END AS lang
        |  FROM documents b FULL OUTER JOIN latest l USING (doc_id))
        |SELECT lang, COUNT(*)::BIGINT AS n_rows, SUM(n_chars)::BIGINT AS val_sum
        |FROM m WHERE op IS NULL OR op <> 'D'
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "curation_psi_drift" -> psiDriftSql,
    // streamed v2 bins are cell-for-cell the batch v2 bins — identical replay
    "stream_psi_drift" -> psiDriftSql,
    "curation_l_diversity" ->
      """SELECT lang, CAST(FLOOR(n_chars / 100) AS BIGINT) AS len_bucket,
        |  COUNT(*) AS n, COUNT(DISTINCT source) AS n_sensitive,
        |  COUNT(DISTINCT source) >= 3 AS releasable
        |FROM documents GROUP BY 1, 2 ORDER BY lang, len_bucket""".stripMargin,
    "curation_snapshot_diff" ->
      """WITH h1 AS (SELECT doc_id, md5(text) AS h FROM documents),
        |h2 AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 17 = 0 THEN text || ' edited' ELSE text END) AS h
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 300000, md5(text) FROM documents WHERE doc_id % 19 = 0)
        |SELECT doc_id,
        |  CASE WHEN h1.h IS NULL THEN 'added'
        |       WHEN h2.h IS NULL THEN 'removed'
        |       WHEN h1.h = h2.h THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM h1 FULL OUTER JOIN h2 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "curation_pii_redact" -> {
      val email = Curation.EmailPattern
      val ip = Curation.Ipv4Pattern
      s"""WITH p AS (
         |  SELECT doc_id,
         |    text || ' contact user' || doc_id || '@mail.example.com'
         |      || CASE WHEN doc_id % 3 = 0 THEN ' cc admin' || doc_id || '@ex.org' ELSE '' END
         |      || ' at 10.' || (doc_id % 200) || '.' || (doc_id % 250) || '.' || (doc_id % 97)
         |      || ' end' AS pii_text
         |  FROM documents
         |), r AS (
         |  SELECT doc_id, pii_text,
         |    regexp_replace(regexp_replace(pii_text, '$email', '<EMAIL>', 'g'),
         |                   '$ip', '<IP>', 'g') AS redacted
         |  FROM p
         |)
         |SELECT doc_id,
         |  len(regexp_extract_all(pii_text, '$email')) AS n_emails,
         |  len(regexp_extract_all(pii_text, '$ip')) AS n_ips,
         |  length(redacted) AS redacted_len, md5(redacted) AS redacted_md5
         |FROM r ORDER BY doc_id""".stripMargin
    })
}
