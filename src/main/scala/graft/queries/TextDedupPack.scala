package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Registry
import graft.ann.{Knn, Quantize}
import graft.dedup.Dedup
import graft.functions.{PortableHash, VectorFunctions}
import graft.tables.Tables
import graft.text.{NlpExtract, TextFunctions}

/** Training-data-pipeline pack: text analysis, dedup family, similarity
  * search — the SURVEY §7 "beyond the reference" operators, each with a
  * DuckDB oracle built from the same shared constants/SQL mirrors as the
  * Spark implementation.
  */
object TextDedupPack {
  import TextFunctions._

  val ShingleK = 3
  /** wn1 winnowing gram size / window width. */
  val WinnowK = 4
  val WinnowW = 4
  /** cdc1 boundary gram size / divisor (expected segment ≈ divisor). */
  val CdcK = 2
  val CdcDivisor = 8
  val NumHashes = 12
  val RowsPerBand = 2
  /** d5 Hamming radius — pigeonhole-banded (5 segments of 12 bits). */
  val SimhashRadius = 4
  /** d6 sign-flip radius (3 segments of 20 bits) + cosine floor. */
  val NearDupRadius = 2
  val NearDupMinSim = 0.8
  /** d6 derives near-dup rows from the driver's embeddings: vec_id < 250
    * duplicated at +1000000 with component 1 zeroed (exact float edit,
    * portable to the oracle) — the corpus has no natural near-dups
    * (max pairwise cosine ≈ 0.6).
    */
  val NearDupCopies = 250
  val NearDupIdOffset = 1000000L
  val LeakIdOffset = 2000000L

  /** leak1/lks1's verified near-dup pair graph over the planted corpus,
    * materialized once per corpus in the [[Registry]]: the pair graph is
    * dedup INDEX state — both gates probe it; the pair set is bounded
    * (planted variants + natural collisions), so an eager
    * localCheckpoint is metadata-scale.
    */
  private def leakPairs(s: SparkSession, d: String): DataFrame =
    Registry.memo("leak_pairs", d) {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val variants = docs.filter(col("doc_id") % 10 === 4)
        .select((col("doc_id") + LeakIdOffset).as("doc_id"),
          concat(col("text"), lit(" zz yy xx")).as("text"))
      val all = docs.unionByName(variants)
      Dedup.minhashNearDupPairs(all, "text", "doc_id",
          ShingleK, NumHashes, RowsPerBand, minJaccard = 0.6)
        .localCheckpoint(true)
    }

  private final case class DedupIndex(shingles: DataFrame, bands: DataFrame)

  /** The persisted MinHash-LSH index over the documents table: shingles
    * and banded signatures are corpus-derived index state (paid once per
    * corpus like the BM25 and IVF indexes), so near-dup gates pay only
    * the band equi-join and the candidate-routed Jaccard verify. Both
    * tables are BUCKETED by their probe-join keys — bands by (band,
    * band_val), so an ingest batch's band probe
    * (`Dedup.incrementalNearDups`) reads the corpus side pre-partitioned
    * with zero Exchange, and shingles by doc_id, so the verify's two
    * shingle joins read the corpus-sized table Exchange-free.
    */
  private def dedupIndex(s: SparkSession, d: String): DedupIndex =
    Registry.persisted("dedup", d) { dir =>
      val buckets = 32
      val name = Registry.tableName(dir)
      Dedup.docShingles(Tables.documents(s, d), "text", "doc_id", ShingleK)
        .repartition(buckets, col("doc_id"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, "doc_id").sortBy("doc_id")
        .option("path", s"$dir/shingles").saveAsTable(s"${name}_shingles")
      val sh = s.table(s"${name}_shingles")
      Dedup.lshBands(Dedup.minhashSignatures(sh, NumHashes), RowsPerBand)
        .repartition(buckets, col("band"), col("band_val"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, "band", "band_val").sortBy("band", "band_val")
        .option("path", s"$dir/bands").saveAsTable(s"${name}_bands")
      DedupIndex(sh, s.table(s"${name}_bands"))
    }

  /** The persisted IVF index over the embeddings table (k = 8): the
    * KMeans fit and the cluster-partitioned write are indexing-time cost,
    * like the reference's LanceDB index creation; queries open the
    * on-disk layout and pay only the probe-pruned scan.
    */
  private def ivfIndex(s: SparkSession, d: String): graft.ann.Ivf.IvfIndex =
    Registry.persisted("ivf", d) { dir =>
      graft.ann.Ivf.write(graft.ann.Ivf.build(Tables.embeddings(s, d),
        "vec_id", "embedding", kOverride = Some(8)), dir)
      graft.ann.Ivf.read(s, dir)
    }

  private final case class PqIndex(codes: DataFrame, vectors: DataFrame,
      cb: graft.ann.Pq.Codebook)

  /** The persisted PQ index (m = 8 subspaces × 16 codes): the codebook
    * fit and the encoded-codes write are indexing-time cost; queries scan
    * the at-rest codes table (8× smaller than the float vectors), and the
    * float vectors stay in the base table for the k·refine exact rerank.
    */
  private def pqIndex(s: SparkSession, d: String): PqIndex =
    Registry.persisted("pq", d) { dir =>
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val cb = graft.ann.Pq.fit(emb, "embedding", 8, 16)
      graft.ann.Pq.encode(emb, "embedding", cb)
        .select("vec_id", "codes")
        .write.mode("overwrite").parquet(dir)
      PqIndex(s.read.parquet(dir), emb, cb)
    }

  /** w2v1 probe words (all clear the pm1 min-support floor). */
  val W2vProbes = Seq("slow", "table", "key")
  /** ic1 ingest-batch id offset (disjoint from corpus doc ids at every
    * SF) and the keep/drop Jaccard threshold.
    */
  val IncrIdOffset = 100000L
  val IncrMinJaccard = 0.5
  /** ep1 pooled-doc group count (vec_id % PoolGroups ≈ 12+ chunks per
    * doc at every SF).
    */
  val PoolGroups = 40L
  /** sd1 SemDeDup cosine threshold: planted copies land ≈ 0.99, the
    * densest natural pair ≈ 0.6 — 0.9 separates cleanly.
    */
  val SemDupTau = 0.9
  /** sa1 repeated-span n-gram width: the corpus carries ~1k naturally
    * duplicated 8-grams at every SF (text-duplicate docs), so the
    * interval-union path is exercised without a planted fixture.
    */
  val SpanN = 8
  /** ir1 DSIR hashed-feature bucket count (fixed, corpus-independent —
    * the bucket table broadcasts at any scale). Target slice = English
    * docs (~40% of the corpus at every SF).
    */
  val DsirBuckets = 1024
  /** sw1 tokens per output shard (~7 shards at sf0.001, scaling
    * linearly with the corpus).
    */
  val ShardTokens = 4000L

  /** d7 quote ids live in a space disjoint from docs and the other
    * synthetic offsets.
    */
  val QuoteIdOffset = 5000000L

  /** gq1 stopword evidence list (the corpus's two function words). */
  val GqStopwords = Seq("the", "a")

  /** lr1 training hyperparameters — shared by gate and oracle. Step =
    * etaNum/(n·etaDen); 8 presence-feature epochs at step 2/n reach
    * 100% train accuracy on the planted-marker fixture (count features
    * need ~100 epochs — see LogisticTrain.hashedFeatures).
    */
  val LrBuckets = 64
  val LrEpochs = 12
  val LrEtaNum = 1L
  val LrEtaDen = 1L
  val LrMarker = " crisp coherent prose"

  /** bpe2 fixed merge list, rank order. Constructed so (a) every merge
    * consumes only raw chars or EARLIER merge outputs — sequential
    * application equals rank-priority BPE — and (b) no corpus word
    * contains an x-y-x-y repetition of any pair, so the oracle's
    * chained non-overlapping replace matches the greedy leftmost rule.
    */
  val BpeMerges: Seq[(String, String)] = Seq(
    ("t", "a"), ("s", "c"), ("a", "n"), ("sc", "an"),
    ("b", "l"), ("ta", "bl"), ("e", "r"), ("o", "r"))
  /** ws1 systematic-PPS target draw count. */
  val PpsDraws = 100
  /** dr1 JL projection output dims (64 → 8: an 8× byte cut). */
  val JlDims = 8
  /** hh1 count-min geometry: width 512 under a ~1k-token synthetic
    * vocab, so collisions (the over-estimate path) actually occur and
    * the oracle REPRODUCES them; est floor + top-k keep output small.
    */
  val CmsDepth = 4
  val CmsWidth = 512
  val CmsMinEst = 20L
  val CmsTopK = 50
  val HllP = 6
  val QcBuckets = 1024
  /** hn1 positive-group granularity (vec_id % labels), negatives per
    * anchor, and the semi-hard margin below the positive ceiling.
    */
  val HnLabels = 7L
  val HnK = 5
  val HnMargin = 0.05
  /** mx2 mixture temperature (0.5 routes through IEEE sqrt — exactly
    * portable) and the apportioned token budget.
    */
  val MixAlpha = 0.5
  val MixBudget = 100000L
  /** bf1 Bloom geometry: 2^18 bits / 5 hashes — ~6e-6 false-positive
    * rate at the sf0.01 corpus, still sub-10% at sf0.1; the filter
    * relation stays ≤ 2^18 rows (constant in corpus size) and any
    * false positive is REPRODUCED by the oracle, not tolerated.
    */
  val BloomD = 5
  val BloomM = 262144

  private val subwordPat = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** pd1 planted boilerplate paragraphs (no regex metachars, ASCII). */
  val BoilerHeader = "subscribe to our newsletter for updates"
  val BoilerFooter = "all rights reserved contact support"
  /** bp1 document-frequency threshold: the planted header/footer land
    * at df ≈ N/4 and N/6 (N ≥ 500 docs at every SF), organic 8-token
    * chunks far below.
    */
  val MinDocsBoiler = 25
  /** tt1 split layout: 80/10/10 over 10000 hash buckets, keyed by a
    * 20-way source-domain grouping so correlated docs co-assign.
    */
  val SplitLayout = Seq(("train", 8000), ("val", 1000), ("test", 1000))
  val SplitDomains = 20L
  /** cp1 planted-duplicate id shift (multiple of SplitDomains so the
    * copy shares its original's domain) and the min-token floor docs
    * must clear after boilerplate stripping.
    */
  val DupIdOffset = 10000L
  val MinPipeTokens = 16

  /** Shared pd1/bp1 fixture: documents re-shaped into multi-line texts
    * (8-token windows, plus a boilerplate header on every 4th doc and
    * footer on every 6th) — mirrored CTE-for-CTE by `paraFixtureCtes`.
    */
  private def paraFixture(s: SparkSession, d: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    Tables.documents(s, d)
      .withColumn("_nt", size(toks))
      .withColumn("_chunks",
        transform(
          sequence(lit(0), greatest(expr("(_nt - 1) div 8"), lit(0))),
          i => array_join(slice(toks, i * 8 + 1, lit(8)), " ")))
      .select(col("doc_id"),
        array_join(
          concat(
            when(col("doc_id") % 4 === 0, array(lit(BoilerHeader)))
              .otherwise(array().cast("array<string>")),
            col("_chunks"),
            when(col("doc_id") % 6 === 0, array(lit(BoilerFooter)))
              .otherwise(array().cast("array<string>"))),
          "\n").as("text"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting: whitespace tokens, BPE-ish subword regex count,
    // chars-per-token BPE estimate.
    "t1_token_stats" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("toks", tokens(col("text")))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(regexp_extract_all(col("text"), lit(subwordPat), lit(0)))
            .as("n_subwords"),
          ceil(col("n_chars") / 4.0).cast("long").as("est_bpe"))
        .orderBy(col("doc_id"))
        .limit(100)
    }),

    // Per-language corpus profile (A1-style stats over documents).
    "t2_lang_profile" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("n_tok", size(tokens(col("text"))).cast("long"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          (sum(col("n_tok")).cast("double") / count(lit(1))).as("avg_tokens"))
    }),

    // Quality scoring: length/punctuation/stopword heuristics → 0-100.
    "t3_quality_scores" -> ((s, d) => {
      val doc = Tables.documents(s, d)
        .withColumn("norm", normalize(col("text")))
        .withColumn("toks", split(col("norm"), " "))
        .withColumn("n_tok", size(col("toks")))
        .withColumn("alpha_chars",
          length(regexp_replace(col("norm"), " ", "")))
        .withColumn("punct_ratio",
          length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")).cast("double") /
            length(col("text")))
        .withColumn("stop_ratio",
          markerHits(col("toks"), LangMarkers.head._2).cast("double") / col("n_tok"))
      doc.select(
        col("doc_id"),
        round(lit(100.0) * (
          lit(0.25) * least(col("n_tok") / 100.0, lit(1.0)) +
          lit(0.25) * (lit(1.0) - col("punct_ratio")) +
          lit(0.25) * least(col("alpha_chars").cast("double") / col("n_tok") / 8.0, lit(1.0)) +
          lit(0.25) * least(col("stop_ratio") * 5.0, lit(1.0))), 6).as("quality"))
        .orderBy(col("doc_id"))
        .limit(200)
    }),

    // Language-ID heuristic vs the labeled lang column (confusion counts).
    "t4_langid_confusion" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("predicted", langId(tokens(col("text"))))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
    }),

    // Document fingerprinting: sha256 + portable 60-bit rolling-style hash.
    "t5_fingerprints" -> ((s, d) => {
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          fingerprintSha(col("text")).as("fp_sha"),
          fingerprint60(col("text")).as("fp60"))
        .orderBy(col("doc_id"))
        .limit(100)
    }),

    // HAS_TOPIC keyword extraction (RAKE-style tf top-k, ties broken
    // alphabetically) — comma-joined so the compare avoids array cells.
    "t6_keywords" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          array_join(NlpExtract.keywords(col("text"), 8), ",").as("keywords"))
        .orderBy(col("doc_id"))
        .limit(100)
    }),

    // Exact ROC/AUC eval: distinct-score collapse, global cumulative
    // counts via the two-pass prefix sum, tie-averaged Mann-Whitney AUC
    // in doubled-integer ranks (one division at the end).
    "auc1_roc_auc" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val scored = graft.text.Entropy
        .tokenEntropy(docs, "text", "doc_id")
        .join(docs.select(col("doc_id"),
          (col("lang") === "en").cast("int").as("label")), Seq("doc_id"))
      graft.analyze.ClassifierEval.rocAuc(scored, "ttr", "label")
        .orderBy(col("score"))
    }),

    // Reliability diagram + ECE (cal1): the calibration counterpart of
    // auc1's discrimination — per-bin observed positive rate vs mean
    // predicted score over ttr-as-score, with the n-weighted expected
    // calibration error riding on every row. Integer bin counts,
    // micro-quantized score sums, re-quantized gaps.
    "cal1_calibration" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val scored = graft.text.Entropy
        .tokenEntropy(docs, "text", "doc_id")
        .join(docs.select(col("doc_id"),
          (col("lang") === "en").cast("int").as("label")), Seq("doc_id"))
      graft.analyze.ClassifierEval.calibration(scored, "ttr", "label")
        .orderBy(col("bin"))
    }),

    // MI feature ranking (mi1): mutual information between token
    // presence and the language label — the feature-selection pass
    // before training the lexical classifiers (ql1/lr1). One distinct-
    // token explode + one token-keyed groupBy; double ratios BEFORE
    // the N product so corpus-scale counts cannot overflow.
    "mi1_feature_mi" -> ((s, d) => {
      graft.text.FeatureSelection.tokenLabelMi(
          Tables.documents(s, d)
            .withColumn("label", (col("lang") === "en").cast("int")),
          "doc_id", "text", "label", topK = 20)
        .orderBy(col("mi").desc, col("t"))
    }),

    // Content-defined chunking dedup (FastCDC boundary rule at word
    // level): local-hash boundaries make segment splits insertion-shift
    // robust; repeated segments found by ONE hash aggregate on content.
    "cdc1_content_chunks" -> ((s, d) => {
      graft.dedup.Cdc.repeatedSegments(Tables.documents(s, d),
          "text", "doc_id", k = CdcK, divisor = CdcDivisor)
        .orderBy(col("n_docs").desc, col("n_occurrences").desc,
          col("seg_text"))
        .limit(50)
    }),

    // Token-entropy quality signals: Shannon entropy + type-token ratio
    // per doc; Σ c·ln c quantized to integer micro-nats per type so the
    // distributed sum is order-free (the un1 trick).
    "ent1_token_entropy" -> ((s, d) => {
      graft.text.Entropy.tokenEntropy(Tables.documents(s, d),
          "text", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Heaps-law vocabulary growth: first occurrence via min(doc_id) per
    // type (the only corpus-scale shuffle), then BOTH running totals via
    // the shared two-pass prefix sum — no single-partition window.
    "hp1_heaps_curve" -> ((s, d) => {
      graft.text.VocabGrowth.curve(Tables.documents(s, d), "text", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Winnowing fingerprints (Schleimer 2003): per-window min of 40-bit
    // k-gram hashes, rightmost tiebreak encoded arithmetically into one
    // 60-bit key so ONE partitioned window does the whole selection.
    "wn1_winnow" -> ((s, d) => {
      graft.dedup.Winnow.fingerprints(
          Tables.documents(s, d).filter(col("doc_id") < 50),
          "text", "doc_id", k = WinnowK, w = WinnowW)
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("fp").cast("long").as("fp"))
        .orderBy(col("doc_id"), col("pos"), col("fp"))
    }),

    // Exact dedup groups (hash-groupBy on normalized-content sha256).
    "d1_exact_dedup" -> ((s, d) => {
      Dedup.exactDupGroups(Tables.documents(s, d), "text", "doc_id")
        .orderBy(col("n_docs").desc, col("fingerprint"))
        .limit(50)
    }),

    // MinHash signatures (long form) — the checkable core of MinHash+LSH.
    "d2_minhash_sigs" -> ((s, d) => {
      val sh = Dedup.docShingles(Tables.documents(s, d), "text", "doc_id", ShingleK)
        .filter(col("doc_id") <= 20)
      Dedup.minhashSignatures(sh, NumHashes)
    }),

    // Full MinHash → LSH band → candidate → exact-Jaccard verify pipeline
    // over the PERSISTED shingle/band index (built once per corpus, like
    // BM25/IVF) — the query pays the band join + verify, not re-derivation.
    "d3_lsh_near_dups" -> ((s, d) => {
      val idx = dedupIndex(s, d)
      val cands = Dedup.lshCandidates(idx.bands)
      Dedup.jaccardOfPairs(cands, idx.shingles)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("a"), col("b"))
        .limit(100)
    }),

    // Incremental ingest dedup: a derived NEW batch (verbatim copies of
    // doc_id%10==1, 5-token-appended near-dups of %10==2, token-reversed
    // novels of %10==3, ids offset into a disjoint space) routed against
    // the PERSISTED corpus index plus first-occurrence within-batch
    // pairs, then the per-doc keep/drop verdict. Banding and the exact
    // Jaccard verify are both mirrored in the oracle, so the candidate
    // set and the verdict match bit for bit.
    "ic1_incremental_dedup" -> ((s, d) => {
      val idx = dedupIndex(s, d)
      val nb = incrBatch(Tables.documents(s, d))
      val pairs = Dedup.incrementalNearDups(nb, idx.shingles, idx.bands,
        "text", "doc_id", ShingleK, NumHashes, RowsPerBand)
      Dedup.ingestVerdicts(nb, pairs, "doc_id", IncrMinJaccard)
        .select(col("new_id"), col("n_cands"),
          round(col("best_jaccard"), 6).as("best_jaccard"),
          col("best_match"), col("is_dup"))
        .orderBy(col("new_id"))
    }),

    // SimHash 60-bit fingerprints.
    "d4_simhash" -> ((s, d) => {
      Dedup.simhash(Tables.documents(s, d), "text", "doc_id")
        .orderBy(col("doc_id"))
        .limit(100)
    }),

    // SimHash pairs within Hamming ≤ SimhashRadius, via pigeonhole banding
    // (equi-join on hash segments — no all-pairs cartesian).
    "d5_simhash_pairs" -> ((s, d) => {
      val sims = Dedup.simhash(Tables.documents(s, d), "text", "doc_id")
      Dedup.simhashPairsBanded(sims, maxHamming = SimhashRadius)
        .withColumn("hamming", col("hamming").cast("int"))
        .orderBy(col("hamming"), col("a"), col("b"))
        .limit(50)
    }),

    // Embedding near-dup through the scale path: sign-fingerprint banding
    // → candidate pairs → exact cosine verify. True near-dups are derived
    // in-query (see NearDupCopies).
    "d6_embedding_neardup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val perturbed = emb.filter(col("vec_id") < NearDupCopies)
        .select((col("vec_id") + NearDupIdOffset).as("vec_id"),
          concat(array(lit(0.0f)), slice(col("embedding"), 2, 63)).as("embedding"))
      Dedup.embeddingNearDupBanded(emb.unionByName(perturbed),
          "vec_id", "embedding", NearDupRadius, NearDupMinSim)
        .select(col("a"), col("b"), round(col("sim"), 6).as("sim"))
        .orderBy(col("sim").desc, col("a"), col("b"))
        .limit(50)
    }),

    // Precomputed related_chunks artifact (relationships.py:34-473):
    // per-chunk semantic top-5 via the banded self-join (search
    // threshold 0.3, link threshold 0.2) ∪ caller links from the
    // extracted calls arrays. The caller fixture names c0..c39 fn{k%20}
    // (every name owned by two chunks) and has every chunk call two
    // names — exercising fan-out on both sides of the name join.
    "rel1_related_chunks" -> ((s, d) => {
      val vectors = Tables.embeddings(s, d)
        .select(concat(lit("c"), col("vec_id")).as("chunk_id"),
          col("embedding"))
      val chunks = Tables.documents(s, d)
        .select((col("doc_id") % 60).cast("int").as("k")).distinct()
        .select(
          concat(lit("c"), col("k")).as("chunk_id"),
          concat(lit("fn"), col("k") % 20).as("name"),
          when(col("k") < 40, "function").otherwise("block").as("chunk_type"),
          array(concat(lit("fn"), (col("k") + 1) % 20),
            concat(lit("fn"), (col("k") + 7) % 20)).as("calls"))
      graft.graph.Relationships.build(chunks, vectors)
        .withColumn("score", round(col("score"), 6))
        .orderBy(col("chunk_id"), col("kind"), col("related_id"))
    }),

    // PII scrub: per-kind match counts + the ordered redaction chain
    // (email → ipv4 → ssn → phone), over text with PII planted
    // deterministically per doc_id class. The redacted text is compared
    // via sha256 so the gate carries hashes, not megabytes.
    "pi1_pii_scrub" -> ((s, d) => {
      import graft.text.Scrub
      val withPii = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact u"), col("doc_id"),
            lit("@example.com now")))
          .when(col("doc_id") % 5 === 1,
            concat(col("text"), lit(" from 10.0."), col("doc_id") % 250,
              lit(".7 and 999-88-7777")))
          .when(col("doc_id") % 5 === 2,
            concat(col("text"), lit(" call +1 555 01"), col("doc_id") % 90,
              lit("9 today")))
          .otherwise(col("text")).as("text"))
      withPii.select(
        Seq(col("doc_id")) ++ Scrub.piiCountCols(col("text")) ++
          Seq(sha2(Scrub.redact(col("text")), 256).as("redacted_sha")): _*)
        .orderBy(col("doc_id"))
    }),

    // Repetition quality signals: duplicate-line fraction and the top
    // bigram's share of all bigrams — exact integer ratios.
    "rp1_repetition" -> ((s, d) => {
      graft.text.Scrub.repetitionSignals(
        Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Paragraph-level exact dedup (C4/Dolma lineage): documents are
    // re-shaped into multi-paragraph texts (8-token windows, plus a
    // boilerplate header on every 4th doc and footer on every 6th),
    // then each paragraph survives only at its globally-first
    // occurrence and docs are rebuilt. kept_text travels as sha256.
    "pd1_para_dedup" -> ((s, d) => {
      graft.dedup.ParaDedup.dedupParagraphs(paraFixture(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_paras"), col("n_kept"),
          sha2(col("kept_text"), 256).as("kept_sha"))
        .orderBy(col("doc_id"))
    }),

    // Corpus-wide frequent-line (boilerplate) removal: lines occurring
    // in >= MinDocsBoiler distinct docs are stripped from EVERY doc
    // (including the first occurrence — the complement of pd1's
    // keep-first semantics). Same fixture as pd1: the planted header
    // and footer cross the threshold, organic chunks don't.
    "bp1_boiler_lines" -> ((s, d) => {
      graft.dedup.FrequentLines.removeFrequentLines(
          paraFixture(s, d), "doc_id", "text", MinDocsBoiler)
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          sha2(col("kept_text"), 256).as("kept_sha"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic leakage-safe train/val/test split: hash-bucket by a
    // source-domain key (correlated docs co-assign; a doc's split never
    // changes as the corpus grows), then profile docs + tokens per
    // (split, domain). The assignment itself — not just proportions —
    // is mirrored bit-for-bit via the portable hash.
    "tt1_split_profile" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("domain", col("doc_id") % SplitDomains)
        .withColumn("n_tokens", size(TextFunctions.tokens(col("text"))))
      graft.text.Splits.assign(docs, "domain", SplitLayout)
        .groupBy(col("split"), col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("tok_sum"))
        .orderBy(col("split"), col("domain"))
    }),

    // The composed corpus-assembly pipeline, ONE plan end to end:
    // corpus with planted exact duplicates → frequent-line boilerplate
    // strip (bp1) → exact dedup keep-first on the stripped text →
    // min-token filter → leakage-safe split assignment (tt1) →
    // sequence-pack the train split into 64-token blocks (pk1). Every
    // stage mirrored in the oracle — this is the "a user could run
    // their whole preprocessing job on this engine" proof.
    "cp1_corpus_pipeline" -> ((s, d) => {
      val base = paraFixture(s, d)
      // materialize the synthesized fixture once: FrequentLines reads
      // its input twice (df count + line pass) and the tokenize/chunk
      // synthesis is the most expensive expression in the chain
      val ext = base.unionByName(
        base.filter(col("doc_id") % 5 === 0)
          .withColumn("doc_id", col("doc_id") + DupIdOffset))
        .localCheckpoint(true)
      val stripped = graft.dedup.FrequentLines
        .removeFrequentLines(ext, "doc_id", "text", MinDocsBoiler)
      val w = Window.partitionBy(col("kept_text")).orderBy(col("doc_id"))
      val uniq = stripped.filter(col("n_kept") > 0)
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      val toked = uniq.select(col("doc_id"),
          size(TextFunctions.tokens(col("kept_text"))).as("n_tokens"))
        .filter(col("n_tokens") >= MinPipeTokens)
        .withColumn("domain", col("doc_id") % SplitDomains)
      val train = graft.text.Splits.assign(toked, "domain", SplitLayout)
        .filter(col("split") === "train")
        .select(col("doc_id"), col("n_tokens"))
      graft.text.Packing.packIntoBlocks(train, "doc_id", "n_tokens", 64)
        .orderBy(col("doc_id"), col("block_id"))
    }),

    // Length-curriculum decile buckets WITHOUT a global window: the
    // 1-based global position comes from the distributed two-pass
    // prefix sum over unit weights, the decile is pure arithmetic on
    // (pos, N). The oracle may use a window (single-node DuckDB); the
    // engine side must not (PlanAuditSpec enforces it).
    "nt1_length_deciles" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          size(TextFunctions.tokens(col("text"))).as("n_tokens"))
        .withColumn("one", lit(1))
      val pos = graft.text.Sampling.globalRunningSum(
        docs, Seq(col("n_tokens").asc, col("doc_id").asc), "one")
      val n = docs.agg(count(lit(1)).as("nn"))
      pos.crossJoin(broadcast(n))
        .withColumn("decile",
          expr("cast(((cum - 1) * 10) div nn as int) + 1"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_tokens")).as("min_tok"),
          max(col("n_tokens")).as("max_tok"),
          sum(col("n_tokens").cast("long")).as("tok_sum"))
        .orderBy(col("decile"))
    }),

    // Stupid Backoff scoring (Brants 2007): foreground docs scored
    // under a BACKGROUND corpus LM — bigram leg when the background
    // saw the pair, alpha-discounted add-one unigram leg otherwise
    // (the two-corpus split makes unseen bigrams real, ~8% here).
    // Integer micro-nat sums; count tables join on their own keys.
    "sb1_stupid_backoff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.StupidBackoff.scoreDocs(
          docs.filter(col("doc_id") % 11 === 0),
          docs.filter(col("doc_id") % 11 === 1), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // CCNet-style perplexity partition (Wenzek et al. 2020): per-doc
    // integer micro-nat LM score → positive per-1000-token perplexity
    // proxy → exact-percentile head/middle/tail thirds. One vocabulary
    // join + one two-value percentile aggregate broadcast back; the
    // integer score and the pf1-proven percentile parity make the
    // bucket boundaries engine-exact.
    "ccn1_perplexity_buckets" -> ((s, d) => {
      val scored = graft.text.PerplexityBuckets.scoreDocs(
        Tables.documents(s, d), "doc_id", "text")
      graft.text.PerplexityBuckets.partition(scored)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("qpd")).as("min_qpd"),
          max(col("qpd")).as("max_qpd"))
        .orderBy(col("bucket"))
    }),

    // Per-doc n-gram novelty: the fraction of a doc's distinct
    // k-shingles that occur NOWHERE else in the corpus — high novelty
    // marks original text, low marks template/memorization risk. One
    // shingle-df aggregate keyed on content, joined back.
    "ng1_novelty" -> ((s, d) => {
      // sh feeds the df table and the join back — cache so the
      // tokenize+shingle pass runs once
      val sh = Dedup.docShingles(
        Tables.documents(s, d), "text", "doc_id", ShingleK).cache()
      val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      sh.join(df, Seq("shingle"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_shingles"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
        .withColumn("novelty",
          round(col("n_unique").cast("double") / col("n_shingles"), 6))
        .orderBy(col("doc_id"))
    }),

    // PMI collocations: forward skip-gram pairs (distances 1-2), exact
    // integer counts, micro-nat PMI, top-50 by (pmi, pair) — the
    // phrase-detection / embedding-bootstrap primitive.
    "pm1_pmi_pairs" -> ((s, d) => {
      graft.text.Cooccur.pmiPairs(
          Tables.documents(s, d), "doc_id", "text", window = 2, minCount = 5)
        .orderBy(col("pmi_micro").desc, col("a"), col("b"))
        .limit(50)
    }),

    // PPMI word vectors + nearest neighbors (w2v1): count-based
    // distributional word similarity off pm1's windowed co-occurrence
    // table — the "train word embeddings from the corpus" primitive.
    // Probe side broadcast-bounded; exact micro² integer dots/norms;
    // vocabulary-scale neighbors route through the ANN family, never
    // all-pairs.
    "w2v1_ppmi_neighbors" -> ((s, d) => {
      graft.text.Cooccur.ppmiNeighbors(Tables.documents(s, d),
          "doc_id", "text", window = 2, minCount = 5,
          probes = W2vProbes, k = 5)
        .orderBy(col("p"), col("rank"))
    }),

    // Vocabulary coverage: per-doc OOV rate against the corpus top-1000
    // vocab (frequency-ranked, token tiebreak — TakeOrdered, no global
    // window). The tokenizer-budget hygiene metric: docs full of
    // out-of-vocabulary tokens fragment into long byte sequences.
    "vc1_vocab_coverage" -> ((s, d) => {
      val occ = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("t"))
      val top = occ.groupBy(col("t")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t")).limit(1000)
        .select(col("t"), lit(1).as("iv"))
      occ.join(broadcast(top), Seq("t"), "left_outer")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_tokens"),
          sum(coalesce(col("iv"), lit(0)).cast("long")).as("n_inv"))
        .withColumn("oov_rate",
          round((col("n_tokens") - col("n_inv")).cast("double")
            / col("n_tokens"), 6))
        .orderBy(col("doc_id"))
    }),

    // Corpus snapshot diff — the data-ops view of corpus versioning:
    // full-outer content-hash compare of the current corpus against a
    // previous snapshot (synthesized here: %13 docs absent = added
    // since, %17 texts mutated = changed, %19 extra ids = removed),
    // rolled up per (source, status).
    "cd1_corpus_diff" -> ((s, d) => {
      val base = Tables.documents(s, d)
      val cur = base.select(col("doc_id"),
        sha2(col("text"), 256).as("h"), col("source"))
      val prev = base.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          sha2(when(col("doc_id") % 17 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")), 256).as("h"),
          col("source"))
        .unionByName(base.filter(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            sha2(col("text"), 256).as("h"), col("source")))
      val cmp = cur.select(col("doc_id"), col("h").as("ch"), col("source").as("cs"))
        .join(prev.select(col("doc_id"), col("h").as("ph"), col("source").as("ps")),
          Seq("doc_id"), "full_outer")
      cmp.select(coalesce(col("cs"), col("ps")).as("source"),
          when(col("ph").isNull, "added")
            .when(col("ch").isNull, "removed")
            .when(col("ch") =!= col("ph"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy(col("source"), col("status"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("source"), col("status"))
    }),

    // Deterministic stratified per-group downsample: k docs per source
    // in portable-hash order (id tiebreak) — a PARTITIONED window, the
    // reproducible "take k per domain" a pipeline uses for eval slices.
    "sg1_stratified_sample" -> ((s, d) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(PortableHash.hash60(col("doc_id").cast("string"), 5).asc,
          col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("source"), col("doc_id"), col("rk"))
        .orderBy(col("source"), col("rk"))
    }),

    // Sequence packing: concat-and-chop into 64-token context blocks
    // via the distributed two-pass prefix sum; one row per
    // (doc, block) segment.
    "pk1_seq_packing" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).as("n_tokens"))
      graft.text.Packing.packIntoBlocks(docs, "doc_id", "n_tokens", 64)
        .orderBy(col("doc_id"), col("block_id"))
    }),

    // Deterministic domain mixing: hash-stratified down-sample toward
    // a uniform per-language share (integer accept test — no floats,
    // no rand()). Minority languages survive whole.
    "mx1_domain_mix" -> ((s, d) => {
      graft.text.Mixing.stratifiedUniform(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        "lang", "doc_id")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Unigram-LM quality scoring (CCNet lineage): per-doc average token
    // log-probability under the corpus unigram distribution, quantized
    // to integer micro-nats per occurrence so the distributed sum is
    // order-free and engine-exact.
    "un1_unigram_lm" -> ((s, d) => {
      graft.text.UnigramLm.scoreDocs(
        Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Bigram LM with add-one smoothing in micro-nats: catches the
    // word-salad docs unigram scoring misses (common tokens, improbable
    // sequences). Same order-free integer-sum contract as un1.
    "bg1_bigram_lm" -> ((s, d) => {
      graft.text.BigramLm.scoreDocs(
        Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Per-domain distribution drift (ce1): KL(domain ‖ corpus) over
    // unigram distributions in quantized micro-nats — ranks sources
    // for re-weighting/capping (the DSIR/mixing inputs) and alarms on
    // ingestion drift. Token-keyed count joins (a 100 TB vocabulary
    // never broadcasts); only the metadata-scale domain totals and the
    // scalar corpus total broadcast.
    "ce1_domain_drift" -> ((s, d) => {
      graft.text.DomainDrift.unigramKl(
          Tables.documents(s, d), "source", "text")
        .orderBy(col("source"))
    }),

    // Embedding-space domain drift (ed1): per-source mean-embedding
    // centroid vs the corpus centroid — the SEMANTIC complement of
    // ce1's lexical KL (a domain can share vocabulary yet sit far away
    // in embedding space). Quantized micro-unit sums (ep1's contract)
    // make the centroids bit-exact floats; the corpus centroid
    // re-aggregates the domain sums, so the corpus pays one explode
    // pass and the re-aggregation is domains × dims rows.
    "ed1_embedding_drift" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val src = Tables.documents(s, d)
        .select(col("doc_id").as("vec_id"), col("source"))
      graft.text.DomainDrift.embeddingDrift(
          emb.join(src, Seq("vec_id")), "source", "embedding")
        .orderBy(col("source"))
    }),

    // Deterministic global shuffle: reproducible training order with
    // global positions via the distributed prefix sum (unit weights) —
    // no single-partition row_number.
    "sh1_shuffle_order" -> ((s, d) => {
      graft.text.Mixing.shuffleRanks(
        Tables.documents(s, d).select(col("doc_id")), "doc_id")
        .select(col("doc_id"), col("shuffle_key"), col("shuffle_rank"))
        .orderBy(col("doc_id"))
    }),

    // Round-robin domain interleave: rank 1 of every source first, then
    // rank 2, ... — batch-diverse training order; one domain-partitioned
    // window + the shared two-pass prefix sum for global positions.
    "il1_interleave" -> ((s, d) => {
      graft.text.Mixing.interleaveRoundRobin(
          Tables.documents(s, d).select(col("doc_id"), col("source")),
          "source", "doc_id")
        .select(col("pos"), col("doc_id"), col("source"),
          col("cycle").cast("int").as("cycle"))
        .orderBy(col("pos"))
    }),

    // Quality-annealed curriculum: 4 epochs with rising exact-quantile
    // score floors (epoch 0 = everything, epoch 3 = top quarter), each
    // epoch independently shuffled by an epoch-salted portable hash;
    // positions via ONE two-pass prefix sum over (epoch, key, id) with
    // metadata-scale epoch offsets — never a per-epoch global window.
    "cu1_curriculum" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("double").as("score"))
      graft.text.Curriculum.anneal(docs, "doc_id", "score", epochs = 4)
        .select(col("epoch"), col("pos"), col("doc_id"))
        .orderBy(col("epoch"), col("pos"))
    }),

    // Distribution profiling: per-language exact length/token
    // percentiles (R-7 interpolation ≡ DuckDB quantile_cont). The
    // approx-sketch scale path is ProfilingSpec's subject.
    "pf1_length_percentiles" -> ((s, d) => {
      import graft.text.Profiling
      val docs = Tables.documents(s, d).select(col("lang"), col("n_chars"),
        size(TextFunctions.tokens(col("text"))).as("n_toks"))
      val chars = Profiling.percentiles(docs, "lang", "n_chars",
          Seq(0.5, 0.9, 0.99))
        .select(col("lang"), col("n").as("n_docs"),
          col("p50").as("p50_chars"), col("p90").as("p90_chars"),
          col("p99").as("p99_chars"))
      val toks = Profiling.percentiles(docs, "lang", "n_toks", Seq(0.5, 0.9))
        .select(col("lang"), col("p50").as("p50_toks"),
          col("p90").as("p90_toks"))
      chars.join(toks, Seq("lang")).orderBy(col("lang"))
    }),

    // Retention-targeted cutoff calibration (qt1): "keep the best 30%
    // per source" turned into the exact per-group score cutoff (k-th
    // highest by (score desc, id)) plus the tie-inclusive kept count —
    // how a quality threshold is actually tuned. One group-partitioned
    // window + group rollups; integer-exact on the integral score.
    "qt1_retention_cutoffs" -> ((s, d) => {
      graft.text.Profiling.retentionCutoffs(
          Tables.documents(s, d), "source", "n_chars", "doc_id", 30)
        .orderBy(col("source"))
    }),

    // Embedding sanity QC (eq1): dimension check, NaN components, zero
    // vectors, L2 norm — the pre-ANN hygiene pass a vector store runs
    // at ingest (one bad row poisons cosine top-k heaps). Fixture
    // plants a zero vector (%97), a NaN component (%89) and a
    // truncated 32-dim vector (%83); one codegen projection, the
    // squared-norm fold sequential in both engines.
    "eq1_embedding_qc" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val planted = emb.select(col("vec_id"),
        when(col("vec_id") % 97 === 0,
            transform(col("embedding"), _ => lit(0.0f)))
          .when(col("vec_id") % 89 === 0,
            concat(array(lit(Float.NaN)), slice(col("embedding"), 2, 63)))
          .when(col("vec_id") % 83 === 0, slice(col("embedding"), 1, 32))
          .otherwise(col("embedding")).as("embedding"))
      graft.ann.VectorQc.screen(planted, "vec_id", "embedding", 64)
        .orderBy(col("vec_id"))
    }),

    // Dup-cluster resolution: connected components of the LSH near-dup
    // pair graph (jaccard ≥ 0.6 verified pairs) by min-label
    // propagation; cluster id = smallest member, is_canonical marks the
    // representative a pipeline keeps. Mirrored by a recursive
    // reachability CTE over the identical pair list.
    "dd1_dup_clusters" -> ((s, d) => {
      val idx = dedupIndex(s, d)
      val pairs = Dedup.jaccardOfPairs(Dedup.lshCandidates(idx.bands),
          idx.shingles)
        .filter(col("jaccard") >= 0.6)
      Dedup.resolveClusters(pairs, Tables.documents(s, d), "doc_id")
        .orderBy(col("doc_id"))
    }),

    // The same component closure by alternating large-star/small-star
    // (Kiveris et al. 2014): O(log n) rounds instead of rounds ∝
    // diameter — the scale path for chain-shaped dup components. The
    // unique fixpoint (cluster id = component min) makes it oracle-
    // interchangeable with dd1.
    "cc1_star_components" -> ((s, d) => {
      val idx = dedupIndex(s, d)
      val pairs = Dedup.jaccardOfPairs(Dedup.lshCandidates(idx.bands),
          idx.shingles)
        .filter(col("jaccard") >= 0.6)
      Dedup.resolveClustersStar(pairs, Tables.documents(s, d), "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Soft dedup (sdw1): 1/cluster_size downweighting instead of hard
    // drops — total training mass per distinct content stays constant
    // while replication signal survives. Same verified pair graph and
    // O(log n) star closure as cc1; one per-cluster count join.
    "sdw1_soft_dedup_weights" -> ((s, d) => {
      val idx = dedupIndex(s, d)
      val pairs = Dedup.jaccardOfPairs(Dedup.lshCandidates(idx.bands),
          idx.shingles)
        .filter(col("jaccard") >= 0.6)
      Dedup.softDedupWeights(pairs, Tables.documents(s, d), "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Exact-substring decontamination — the verbatim-copy flavor
    // beside dc1's n-gram collisions: eval probe strings (50-char
    // windows of every 13th doc) broadcast against the streaming
    // corpus, one contains() nested-loop — the probe side is eval-set-
    // sized by construction, so this is a broadcast loop, never a
    // corpus cartesian.
    "dc2_substring_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val probes = docs
        .filter(col("doc_id") % 13 === 0 && length(col("text")) >= 60)
        .select((col("doc_id") + 200000).as("bench_id"),
          substring(col("text"), 10, 50).as("probe"))
      graft.dedup.Decontaminate.substringContaminated(
          docs, "text", "doc_id", probes, "probe", "bench_id")
        .orderBy(col("doc_id"))
    }),

    // Semantic decontamination (dc3): the embedding flavor beside dc1
    // (n-gram collisions) and dc2 (verbatim substrings) — a corpus doc
    // is flagged when its embedding's cosine against ANY benchmark
    // embedding reaches τ, catching paraphrased benchmark copies that
    // share no literal n-gram. Fixture plants perturbed copies (d6's
    // construction, sim ≈ .99) and two-parent mixtures (sim ≈ .7 to
    // EACH parent — exercising n_hits = 2 and the best-match argmax);
    // natural cross-sims top out at .49, so τ = 0.6 separates cleanly.
    // The benchmark side broadcasts; the corpus streams.
    "dc3_semantic_decontaminate" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val benchSrc = emb.filter(col("vec_id") % 25 === 7)
      val bench = benchSrc.select(
        (col("vec_id") + 300000L).as("bench_id"), col("embedding"))
      val pert = benchSrc.select((col("vec_id") + 400000L).as("vec_id"),
        concat(array(lit(0.0f)), slice(col("embedding"), 2, 63))
          .as("embedding"))
      val mixed = benchSrc.select(col("vec_id").as("v1"),
          col("embedding").as("e1"))
        .join(benchSrc.select((col("vec_id") - 25).as("v1"),
          col("embedding").as("e2")), Seq("v1"))
        .select((col("v1") + 500000L).as("vec_id"),
          zip_with(col("e1"), col("e2"),
            (x, y) => (x + y) * lit(0.5f)).as("embedding"))
      val corpus = emb.filter(col("vec_id") % 25 =!= 7)
        .unionByName(pert).unionByName(mixed)
      graft.dedup.Decontaminate.semanticContaminated(
          corpus, "vec_id", "embedding", bench, "bench_id", "embedding",
          tau = 0.6)
        .orderBy(col("doc_id"))
    }),

    // Cross-split leakage audit (leak1): near-dup pairs that STRADDLE
    // the train/val/test boundary — the contamination dedup-before-
    // split prevents, measured. Fixture plants perturbed variants
    // (+LeakIdOffset, three appended tokens) of every doc_id%10==4
    // doc; the iid doc_id-keyed split then leaks a deterministic
    // subset of those pairs across the boundary (cluster-keyed
    // assignment drives this to zero — LeakAuditSpec). Pairs ride the
    // banded LSH path, never all-pairs; the audit is two equi-joins of
    // the bounded pair set against the assignment.
    // The leak1 FIX gated (lks1): key the split assignment by the
    // near-dup CLUSTER id instead of the doc id, so correlated
    // documents land in one split by construction — per-split doc
    // counts plus the measured cross-split pair count, which must be
    // (and is computed to be) zero. Same banded pair graph as leak1
    // (registry-materialized: the pair graph is dedup index state),
    // O(log n) star closure, then the pure-projection hash split.
    "lks1_cluster_split" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val variants = docs.filter(col("doc_id") % 10 === 4)
        .select((col("doc_id") + LeakIdOffset).as("doc_id"),
          concat(col("text"), lit(" zz yy xx")).as("text"))
      val all = docs.unionByName(variants)
      val pairs = leakPairs(s, d)
      val clusters = Dedup.resolveClustersStar(pairs, all, "doc_id")
        .select(col("doc_id"), col("cluster_id"))
      val sp = graft.text.Splits.assign(clusters, "cluster_id", SplitLayout)
        .select(col("doc_id"), col("split"))
      val counts = sp.groupBy(col("split"))
        .agg(count(lit(1)).as("n"))
        .select(col("split").as("key"), col("n"))
      val leak = graft.dedup.LeakAudit.crossSplitPairs(pairs, sp, "doc_id")
        .agg(count(lit(1)).as("n"))
        .select(lit("cross_pairs").as("key"), col("n"))
      counts.unionByName(leak)
        .select(col("key"), col("n").cast("long").as("n"))
        .orderBy(col("key"))
    }),

    "leak1_split_leakage" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val variants = docs.filter(col("doc_id") % 10 === 4)
        .select((col("doc_id") + LeakIdOffset).as("doc_id"),
          concat(col("text"), lit(" zz yy xx")).as("text"))
      val all = docs.unionByName(variants)
      val pairs = leakPairs(s, d)
      val sp = graft.text.Splits.assign(all.select(col("doc_id")),
        "doc_id", SplitLayout)
      graft.dedup.LeakAudit.crossSplitPairs(pairs, sp, "doc_id")
        .select(col("a"), col("b"), col("split_a"), col("split_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("a"), col("b"))
    }),

    // LSH parameter planner (lshp1): for hash budgets derived from the
    // corpus residues and two target thresholds, score every (b, r)
    // factorization's S-curve error mass against the τ step function
    // and flag the argmin — datasketch's optimal_param as ONE codegen'd
    // plan, integer micro-units end to end (iterated div-folds, no
    // libm pow in either engine).
    "lshp1_lsh_planner" -> ((s, d) => {
      val budgets = Tables.documents(s, d)
        .select((lit(60) + (col("doc_id") % 3).cast("int") * 60)
          .as("max_hashes")).distinct()
      graft.dedup.LshPlan.plans(budgets, Seq(500000L, 700000L))
        .orderBy(col("max_hashes"), col("tau_micro"), col("b"), col("r"))
    }),

    // N-gram novelty scoring (nov1): fraction of each scored doc's
    // distinct word 3-shingles absent from the reference corpus — the
    // data-valuation number behind "does this source add anything new".
    // Reference = doc_id%5==0 docs; one shingle-keyed left join (both
    // sides hash-partitioned — a 100 TB reference vocabulary never
    // broadcasts), integer micro ratio.
    "nov1_ngram_novelty" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      graft.dedup.Dedup.ngramNovelty(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "text", "doc_id", ShingleK)
        .orderBy(col("doc_id"))
    }),

    // Dedup-recall eval — the ar1 symmetry for the dedup family: LSH
    // candidate recall vs the EXACT Jaccard≥0.6 ground truth on a
    // capped doc sample (ground truth is all-pairs by nature, so it is
    // sample-bounded by design — the same trade ar1 makes for ANN).
    // Integer counts + permille division; candidates come from the
    // persisted band table restricted to the sample.
    "dre1_dedup_recall" -> ((s, d) => {
      val idx = dedupIndex(s, d)
      val sample = Tables.documents(s, d)
        .filter(col("doc_id") < 200).select(col("doc_id"))
      val sh = idx.shingles.join(sample, Seq("doc_id"), "left_semi")
        .localCheckpoint(true) // feeds sizes AND both sides of the pair join
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = sh.select(col("doc_id").as("a"), col("shingle"))
        .join(sh.select(col("doc_id").as("b"), col("shingle")),
          Seq("shingle"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("i"))
      val exact = inter
        .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
        .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
        .filter(col("i").cast("double") /
          (col("na") + col("nb") - col("i")) >= 0.6)
        .select(col("a"), col("b"))
        .localCheckpoint(true) // feeds the count AND the hit semi-join
      val cands = Dedup.lshCandidates(
        idx.bands.join(sample, Seq("doc_id"), "left_semi"))
      val hits = exact.join(cands, Seq("a", "b"), "left_semi")
      exact.agg(count(lit(1)).as("ne"))
        .crossJoin(cands.agg(count(lit(1)).as("nc")))
        .crossJoin(hits.agg(count(lit(1)).as("nh")))
        .select(col("ne").cast("long").as("n_exact"),
          col("nc").cast("long").as("n_candidates"),
          col("nh").cast("long").as("n_hit"),
          expr("cast((nh * 1000) div greatest(ne, 1) as bigint)")
            .as("recall_permille"))
    }),

    // Canonical selection by QUALITY over the dd1 clusters: production
    // dedup keeps the best member of each near-dup cluster (here: the
    // longest text, a standard policy), not the min-id label the
    // closure emits — one cluster-partitioned argmax window.
    "cr1_cluster_reps" -> ((s, d) => {
      val idx = dedupIndex(s, d)
      val pairs = Dedup.jaccardOfPairs(Dedup.lshCandidates(idx.bands),
          idx.shingles)
        .filter(col("jaccard") >= 0.6)
      val clusters = Dedup.resolveClusters(pairs, Tables.documents(s, d),
        "doc_id")
      Dedup.selectRepresentatives(clusters,
          Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          "n_chars")
        .orderBy(col("doc_id"))
    }),

    // Benchmark decontamination: corpus×eval-set pairs sharing ≥3
    // distinct word 5-grams (the n-gram collision test that keeps eval
    // sets out of training mixes). The eval set is a 10-token window
    // (tokens 3..12) of every 7th document, so each source doc overlaps
    // its window plus any text-duplicate docs.
    "dc1_decontaminate" -> ((s, d) => {
      val corpus = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val bench = Tables.documents(s, d).filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000L).as("bench_id"),
          array_join(slice(TextFunctions.tokens(col("text")), 3, 10), " ")
            .as("btext"))
      graft.dedup.Decontaminate.overlapPairs(corpus, "text", "doc_id",
        bench, "btext", "bench_id", n = 5, minShared = 3)
        .orderBy(col("doc_id"), col("bench_id"))
    }),

    // Token-budget sampling: the (quality desc, id) prefix whose running
    // token sum fits the budget (60% of corpus tokens), via the
    // distributed two-pass prefix sum — no single-partition window.
    "sp1_token_budget_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(
        col("doc_id"),
        pmod(col("doc_id") * 37, lit(100)).as("q"),
        size(TextFunctions.tokens(col("text"))).as("n_tokens"))
      val total = docs.agg(sum(col("n_tokens").cast("long"))).head().getLong(0)
      graft.text.Sampling.takeByTokenBudget(docs, "q", "n_tokens", "doc_id",
        budget = total * 6 / 10)
        .orderBy(col("doc_id"))
    }),

    // Brute-force cosine top-k (the ANN correctness oracle).
    "a1_knn_bruteforce" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id").isin(0L, 1L, 2L))
      Knn.bruteForceTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding", 10)
        .select(col("qid"), col("id"), round(col("sim"), 6).as("sim"), col("rank"))
    }),

    // Chunk→doc mean-pooled embeddings (integer-quantized order-free
    // component sums), then doc-level exact cosine top-k over the pooled
    // vectors — the standard doc-embedding derivation before doc-level
    // ANN/clustering. Pooled corpus is cached: it feeds both the corpus
    // and query sides of the self-join (no CSE across self-joins).
    "ep1_doc_pooling" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select((col("vec_id") % PoolGroups).as("doc"), col("embedding"))
      val pooled = graft.embed.Pooling.meanPool(emb, "doc", "embedding", 64).cache()
      val q = pooled.filter(col("grp").isin(0L, 1L, 2L))
        .select(col("grp").as("qid"), col("embedding").as("qvec"))
      Knn.bruteForceTopK(pooled, "grp", "embedding", q, "qid", "qvec", 10)
        .select(col("qid"), col("id"), round(col("sim"), 6).as("sim"), col("rank"))
    }),

    // Scalar-quantized two-stage retrieval (the SQ in IVF_SQ,
    // vectors_backend.py:1316-1335): int8 codes + per-vector affine
    // (min, scale), approx rank over decoded codes, exact rerank of the
    // k*refine survivors. The quantization is pure affine arithmetic, so
    // the WHOLE two-stage path mirrors exactly in SQL — including the
    // lossy round-trip through tinyint.
    "a4_knn_quantized" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val enc = Quantize.encode(emb, "embedding")
      val q = emb.filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Quantize.requantizedTopK(enc, "vec_id", "embedding", q, "qid", "qvec",
        k = 10, refine = 3)
        .select(col("qid"), col("id"), round(col("sim"), 6).as("sim"),
          col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // IVF ANN: persisted cluster-partitioned index (built once per run —
    // the KMeans fit is indexing-time cost, not query-time) -> nprobe
    // partition pruning -> exact top-k (rows-only check: KMeans isn't
    // SQL-expressible; recall vs brute force is asserted in IvfSpec).
    "a3_knn_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id").isin(0L, 1L, 2L))
      val idx = ivfIndex(s, d)
      graft.ann.Ivf.topK(idx, q, "vec_id", "embedding", 10, nprobes = 2)
        .select(col("qid"), col("id"), round(col("sim"), 6).as("sim"), col("rank"))
    }),

    // Incremental IVF maintenance: a derived near-dup batch (perturbed
    // copies of vec_id<50, ids +20000) assigned to the EXISTING
    // centroids by the same portable argmin — no refit — then searched
    // together with the base index; queries retrieve their appended
    // twins at rank 1, proving the new vectors are immediately
    // searchable. The disk append itself (mode=append under the cluster
    // partitioning) is exercised in IvfSpec on a temp layout.
    "a7_ivf_incremental" -> ((s, d) => {
      val idx = ivfIndex(s, d)
      val emb = Tables.embeddings(s, d)
      val batch = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 20000).as("vec_id"),
          concat(array(lit(0.0f)), slice(col("embedding"), 2, 63))
            .as("embedding"))
      val appended = graft.ann.Ivf.assignBatch(idx.centroids, batch,
        "vec_id", "embedding")
      val combined = graft.ann.Ivf.IvfIndex(
        idx.assigned.select(col("id"), col("vec"), col("cluster_id"))
          .unionByName(appended),
        idx.centroids, idx.k)
      val q = emb.filter(col("vec_id").isin(0L, 1L, 2L))
      graft.ann.Ivf.topK(combined, q, "vec_id", "embedding", 10, nprobes = 2)
        .select(col("qid"), col("id"), round(col("sim"), 6).as("sim"),
          col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Product-quantization ADC retrieval (Jégou et al. 2011; the IVF_PQ
    // sibling of LanceDB's IVF_SQ path): the approx sweep reads ONLY the
    // 8×-compressed at-rest codes table — zero float math on the corpus
    // side, just M integer table lookups — then survivors join back to
    // the float vectors for the exact rerank. Codebook fit is
    // indexing-time (pqIndex); oracle via codebook-literal interpolation
    // like a3.
    "a6_knn_pq" -> ((s, d) => {
      val idx = pqIndex(s, d)
      val q = Tables.embeddings(s, d).filter(col("vec_id").isin(0L, 1L, 2L))
      graft.ann.Pq.adcTopK(idx.codes, idx.vectors, "vec_id", "embedding",
          q, "vec_id", "embedding", idx.cb, k = 10, refine = 3)
        .select(col("qid"), col("id"), round(col("sim"), 6).as("sim"),
          col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Cluster diagnostics over the persisted IVF layout: per cluster,
    // the member count, mean cosine-to-centroid cohesion (micro-unit
    // integer sum so the distributed mean is order-free), and the
    // medoid (closest member, id tiebreak). The corpus-organization
    // view a training pipeline reads before sampling per topic.
    "cl1_cluster_profile" -> ((s, d) => {
      val idx = ivfIndex(s, d)
      val j = idx.assigned
        .join(broadcast(idx.centroids), Seq("cluster_id"))
        .withColumn("q",
          floor(VectorFunctions.cosine(col("vec"), col("centroid")) * 1000000L)
            .cast("long"))
      j.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("q")).cast("double") / (count(lit(1)) * 1000000L), 6)
            .as("avg_cohesion"),
          min(struct((-col("q")).as("negq"), col("id"))).as("m"))
        .select(col("cluster_id"), col("n_vecs"), col("avg_cohesion"),
          col("m.id").as("medoid_id"))
        .orderBy(col("cluster_id"))
    }),

    // Sign-LSH bucketed ANN with multi-probe (scale path) — fully
    // oracle-checked: the hyperplane signs are portable (see
    // signBucketSql), so DuckDB reproduces buckets, probes, and ranks.
    "a2_knn_bucketed" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id").isin(0L, 1L, 2L))
      Knn.hyperplaneBucketTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding",
          10, nBits = 4)
        .select(col("qid"), col("id"), round(col("sim"), 6).as("sim"), col("rank"))
    }),

    // Distributed logistic-regression TRAINING (lr1): full-batch GD in
    // integer micro-unit arithmetic (fast-sigmoid rational squashing, no
    // exp) — every epoch hash-matches the oracle's chained CTEs, not
    // just the final scores. Fixture: a planted 3-token quality marker
    // on every doc_id%3==0 doc (the pi1/ic1 synthesis pattern); the
    // model must LEARN the marker buckets from labels alone, and the
    // gate's `correct` column records that it does (100% at these
    // hyperparameters — a regression in the trainer shows up as a
    // wrong-accuracy hash, not just a wrong number).
    "lr1_logistic_train" -> ((s, d) => {
      import graft.text.LogisticTrain
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(LrMarker)))
          .otherwise(col("text")).as("text"))
      val labels = docs.select(col("doc_id"),
        when(col("doc_id") % 3 === 0, 1L).otherwise(0L).as("y"))
      val feats = LogisticTrain.hashedFeatures(docs, "doc_id", "text",
        LrBuckets, presence = true, withBias = true)
      val w = LogisticTrain.train(feats, labels, LrBuckets + 1, LrEpochs,
        LrEtaNum, LrEtaDen)
      LogisticTrain.predictMargins(feats, w)
        .join(labels, Seq("doc_id"))
        .withColumn("pred",
          (col("p_micro") >= 500000L).cast("int"))
        .withColumn("correct",
          (col("pred") === col("y").cast("int")).cast("int"))
        .select(col("doc_id"), col("y"), col("margin_micro"),
          col("p_micro"), col("pred"), col("correct"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style rule filter (gq1): length / mean-word-length /
    // lexical-diversity / stopword rules as ONE narrow codegen map —
    // no explode, no shuffle; per-rule booleans ride along for rule
    // ablation. Thresholds chosen to split the synthetic corpus on
    // every rule (n in [10,99], meanlen in [3.7,5.3], dfrac in
    // [0.28,1.0], nstop in [0,14]).
    "gq1_gopher_rules" -> ((s, d) => {
      graft.text.GopherRules.gopherFilter(
          Tables.documents(s, d), "doc_id", "text",
          stopwords = GqStopwords,
          minWords = 30, maxWords = 80,
          minMeanLen = 4.2, maxMeanLen = 4.8,
          minDistinctFrac = 0.4, minStopwords = 2)
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("distinct_frac"), col("n_stopwords"),
          col("ok_length").cast("int").as("ok_length"),
          col("ok_word_len").cast("int").as("ok_word_len"),
          col("ok_diversity").cast("int").as("ok_diversity"),
          col("ok_stopwords").cast("int").as("ok_stopwords"),
          col("keep").cast("int").as("keep"))
        .orderBy(col("doc_id"))
    }),

    // LexRank extractive summarization (sum1): per-doc sentence graph
    // (10-token windows, edge = ≥2 shared distinct tokens) ranked by
    // the SAME integer-micro-unit PageRank arithmetic as pr1, run over
    // (doc, sentence) keys — per-doc graphs are independent and
    // bounded, so the pair join is small-constant quadratic, never
    // corpus-quadratic. Top-2 central sentences per doc = the snippet.
    "sum1_lexrank" -> ((s, d) => {
      graft.text.LexRank.topSentences(Tables.documents(s, d),
          "doc_id", "text", sentLen = 10, minOverlap = 2,
          iters = 2, k = 2)
        .orderBy(col("doc_id"), col("rank"))
    }),

    // Severity-weighted lexicon filter (tox1): the content-policy rule
    // family beside Gopher (statistical) and C4 (structural). Token and
    // phrase hits count independently; any severity-3 hit blocks
    // outright (the single-slur rule), else weighted hits-per-token
    // thresholds route pages allow/flag/block. The lexicon is inlined
    // into the plan: one narrow codegen projection, no shuffle.
    "tox1_lexicon_filter" -> ((s, d) => {
      graft.text.Lexicon.score(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Encoding hygiene (gar1): control chars, U+FFFD replacement chars
    // and the non-ASCII ratio — the mojibake detector that runs BEFORE
    // language-level quality rules can be trusted. Fixture plants a
    // decode scar, a control-char spill, and a non-Latin page on three
    // doc_id%7 classes. translate()-removal counting — no regex
    // dialect risk; one narrow projection.
    "gar1_encoding_qc" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 3,
          concat(col("text"), lit("��")))
          .when(col("doc_id") % 7 === 5,
            concat(col("text"), lit(" \u0001\u0007bad")))
          .when(col("doc_id") % 7 === 6, lit("дёжà вü çöntént"))
          // supplementary-plane tail: proves both engines count CODE
          // POINTS (not UTF-16 units) on exactly the non-ASCII text
          // this op screens — 3 astral chars = n_nonascii 3, not 6
          .when(col("doc_id") % 7 === 2,
            concat(col("text"), lit(" 😀😀😀")))
          .otherwise(col("text")).as("text"))
      graft.text.EncodingQc.screen(planted, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Deterministic word dropout (aug1): the token-level member of the
    // noising family beside spc1 (spans) and fim1 (structure) — token
    // i of doc d survives iff hash60('aug', d:i:seed) mod 10 ≠ 0, so
    // augmented corpora are versionable artifacts, not one-shot
    // randomness. Narrow array-HOF projection; output carries the
    // sha256 of the augmented text.
    "aug1_word_dropout" -> ((s, d) => {
      graft.text.Augment.wordDropout(Tables.documents(s, d),
          "doc_id", "text", dropOneIn = 10)
        .orderBy(col("doc_id"))
    }),

    // Main-content extraction (html1): jusText/Boilerpipe-style block
    // segmentation + link-density filtering — the web-pipeline stage
    // UPSTREAM of C4/Gopher (both assume extraction already ran).
    // Fixture wraps each doc's tokens into a nav (pure links), a
    // link-list (enough words but ≈1.0 density — the case only the
    // density rule catches), a clean paragraph, a mixed paragraph
    // (short docs drop it by word count), and a footer; the extractor
    // must keep exactly the prose. One narrow codegen projection of
    // array HOFs over the block split — no explode, no shuffle.
    "html1_main_content" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = TextFunctions.tokens(col("text"))
      val html = concat(
        lit("<div><a href=\"/\">"), element_at(toks, 1),
        lit("</a> <a href=\"/x\">"), element_at(toks, 2), lit("</a></div>"),
        lit("<li><a href=\"/a\">"), array_join(slice(toks, 1, 3), " "),
        lit("</a> <a href=\"/b\">"), array_join(slice(toks, 4, 3), " "),
        lit("</a></li>"),
        lit("<p>"), array_join(slice(toks, 3, 15), " "), lit("</p>"),
        lit("<p>"), array_join(slice(toks, 18, 10), " "),
        lit(" <a href=\"#\">"), element_at(toks, 1), lit("</a></p>"),
        lit("<div><a>"), element_at(toks, 2), lit("</a> menu</div>"))
      graft.text.HtmlExtract.extract(
          docs.select(col("doc_id"), html.as("html")), "doc_id", "html")
        .orderBy(col("doc_id"))
    }),

    // Asymmetric containment scoring (d7): planted 12-token quotes of
    // every doc_id%9==4 doc, paired with their sources; containment_a
    // hits 1.0 where Jaccard stays near zero — the quote/subset signal
    // the resemblance metrics miss. Pair-routed like jaccardOfPairs
    // (candidates from any pair-finder; here the construction itself).
    "d7_containment" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val quotes = docs.filter(col("doc_id") % 9 === 4)
        .select((col("doc_id") + QuoteIdOffset).as("doc_id"),
          array_join(slice(TextFunctions.tokens(col("text")), 1, 12), " ")
            .as("text"))
      val sh = Dedup.docShingles(docs.unionByName(quotes),
        "text", "doc_id", ShingleK)
      val pairs = docs.filter(col("doc_id") % 9 === 4)
        .select((col("doc_id") + QuoteIdOffset).as("a"), col("doc_id").as("b"))
      Dedup.containmentOfPairs(pairs, sh)
        .select(col("a"), col("b"), col("inter"), col("na"), col("nb"),
          col("containment_a"), col("containment_b"))
        .orderBy(col("a"))
    }),

    // ANN quality eval: recall@10 of the sign-LSH multi-probe index
    // against exact brute force, per query — the accept/reject metric
    // every approximate index ships with (a 100 TB deployment tunes
    // nBits/probes against exactly this number on a sample).
    "ar1_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id").isin(0L, 1L, 2L))
      val exact = Knn.bruteForceTopK(emb, "vec_id", "embedding",
        q, "vec_id", "embedding", 10).select(col("qid"), col("id"))
      val approx = Knn.hyperplaneBucketTopK(emb, "vec_id", "embedding",
        q, "vec_id", "embedding", 10, nBits = 4)
        .select(col("qid"), col("id"), lit(1L).as("hit"))
      exact.join(approx, Seq("qid", "id"), "left")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .withColumn("recall_at_k", round(col("hits") / col("k"), 6))
        .orderBy(col("qid"))
    }),

    // SemDeDup over the persisted IVF centroids: the d6 planted-copy
    // fixture (component-1-zeroed duplicates at +offset) is assigned by
    // the portable argmin, then pruned within clusters at tau=0.9.
    // Oracle generated with the centroid literals (see semDedupOracle).
    "sd1_semantic_dedup" -> ((s, d) => {
      val idx = ivfIndex(s, d)
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val perturbed = emb.filter(col("vec_id") < NearDupCopies)
        .select((col("vec_id") + NearDupIdOffset).as("vec_id"),
          concat(array(lit(0.0f)), slice(col("embedding"), 2, 63)).as("embedding"))
      val aug = emb.unionByName(perturbed)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      graft.dedup.SemDedup.prune(
          graft.dedup.SemDedup.assign(aug, idx.centroids), SemDupTau)
        .orderBy(col("id"))
    }),

    // Repeated-substring span coverage (Lee et al. 2022 at n-gram
    // granularity): per doc, the exact token count covered by n-grams
    // occurring >1 time corpus-wide — the trim/drop score of substring
    // dedup, linear in corpus tokens (no pair-finding).
    "sa1_dup_spans" -> ((s, d) => {
      graft.dedup.SpanDedup.dupSpanCoverage(
          Tables.documents(s, d), "doc_id", "text", SpanN)
        .orderBy(col("doc_id"))
    }),

    // DoReMi domain reweighting (drm1, arXiv:2305.10429): upweight the
    // domains with the largest proxy-over-reference excess loss — the
    // mixture-optimization step between curation (mx1/mx2) and
    // sampling (ir1/ws1). Proxy/reference losses are deterministic
    // portable-hash micro-units (the model seam carries real losses);
    // the exponentiated-gradient step runs in its linearized
    // integer-exact form (the lshp1 no-libm trade). The corpus pays
    // one aggregation; iterations run on the 8-row domain table with
    // broadcast totals.
    "drm1_doremi_weights" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(
        (col("doc_id") % 8).as("domain"),
        greatest(lit(0L),
          pmod(graft.functions.PortableHash.hash60(col("text"), 11),
            lit(1000000L)) -
          pmod(graft.functions.PortableHash.hash60(col("text"), 13),
            lit(1000000L))).as("excess_micro"))
      graft.text.Doremi.domainWeights(docs, "domain", "excess_micro")
        .orderBy(col("domain"))
    }),

    // DSIR importance weights (arXiv:2302.03169): hashed unigram+bigram
    // log ratios, target = English docs, micro-nat integer sums.
    "ir1_dsir_weights" -> ((s, d) => {
      graft.text.Dsir.importanceWeights(Tables.documents(s, d),
          "doc_id", "text", col("lang") === "en", DsirBuckets)
        .withColumn("is_target", col("is_target").cast("int"))
        .orderBy(col("doc_id"))
    }),

    // Length-grouped batching (lb1, the trainer `group_by_length`
    // option): sort by token length via the shared two-pass prefix
    // sum, cut fixed-count batches, measure per-batch padding waste —
    // the quantity the op exists to minimize. LengthBatchesSpec proves
    // the waste reduction vs shuffle-order batching; the gate proves
    // the batch statistics bit-exactly.
    "lb1_length_batches" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).as("n_tokens"))
      graft.text.LengthBatches.lengthBatches(docs, "doc_id", "n_tokens",
        batchSize = 32)
        .orderBy(col("batch_id"))
    }),

    // Token-balanced shard assignment in shuffle order: the trainer-
    // facing output cut, pure arithmetic over the distributed prefix
    // sum (window mirror in the oracle).
    "sw1_shard_assign" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).as("n_tokens"))
      graft.text.Sharding.assignShards(docs, "doc_id", "n_tokens", ShardTokens)
        .select(col("doc_id"), col("n_tokens"), col("shuffle_key"),
          col("cum"), col("shard_id"))
        .orderBy(col("doc_id"))
    }),

    // DSIR resampling step: integer-exact systematic PPS multiplicities
    // over the shifted-positive importance weights — heavy (on-target)
    // docs draw multiple epochs, off-target docs drop out. The min
    // shift is a driver scalar like sp1's total (metadata-scale).
    "ws1_pps_resample" -> ((s, d) => {
      // per-doc weight table materialized once (doc-scale, 2 columns):
      // the min-shift scalar and the prefix sum both read it — without
      // this the whole DSIR pipeline would run twice
      val wts = graft.text.Dsir.importanceWeights(Tables.documents(s, d),
          "doc_id", "text", col("lang") === "en", DsirBuckets)
        .select(col("doc_id"), col("sum_micro_nats"))
        .localCheckpoint(true)
      val mn = wts.agg(min(col("sum_micro_nats"))).head().getLong(0)
      graft.text.Resample.ppsMultiplicity(
          wts.withColumn("w", col("sum_micro_nats") - mn + 1L),
          "doc_id", "w", PpsDraws)
        .select(col("doc_id"), col("w"), col("shuffle_key"), col("cum"),
          col("multiplicity"))
        .orderBy(col("doc_id"))
    }),

    // JL ±1 random projection (Achlioptas 2003): per-vector 64→8
    // preview components, exploded to scalar rows for the hash compare.
    "dr1_random_projection" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(
          graft.embed.RandomProjection.project(col("embedding"), JlDims, 64, "jl")))
        .select(col("vec_id"), col("pos").as("dim"),
          round(col("col"), 6).as("component"))
        .orderBy(col("vec_id"), col("dim"))
    }),

    // Count-min heavy hitters: fixed depth×width sketch (CONSTANT in
    // corpus size), portable-hash buckets so the DuckDB mirror rebuilds
    // the identical sketch — collisions and over-estimates reproduced,
    // not approximated. Probe side broadcasts the sketch.
    "hh1_heavy_hitters" -> ((s, d) => {
      val occ = Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      graft.sketch.CountMin.heavyHitters(
        occ, "tok", CmsDepth, CmsWidth, CmsMinEst, CmsTopK)
    }),

    // HyperLogLog vocabulary-cardinality sketch (Flajolet et al. 2007)
    // — the third sketch next to count-min (hh1) and Bloom (bf1):
    // distinct-token estimate in 2^p registers, mergeable by max. The
    // portable hash makes the registers AND the deterministic
    // estimation error bit-reproducible in the oracle. Output: the
    // dense register relation with the estimate columns alongside.
    // One BPE merge round (Sennrich et al. 2016) over the corpus word
    // types: frequency-weighted pair counts, the (cnt desc, a, b)
    // argmax merge, and the greedy leftmost application — per-word-type
    // symbol counts before/after. The argmax collect is 1 row
    // (metadata-scale); everything else is the type relation. Multi-
    // round learning is Bpe.learn (BpeSpec); the oracle mirrors the
    // greedy count via the ceil(run/2) run-length rule (exact also for
    // self-overlapping a==b merges).
    "bpe1_merge_round" -> ((s, d) => {
      val types = graft.text.Bpe.initSymbols(
        graft.text.Bpe.wordTypes(Tables.documents(s, d), "text"))
        .localCheckpoint(true)
      val Some((a, b, _)) = graft.text.Bpe.topMerge(
        graft.text.Bpe.pairCounts(types))
      types
        .withColumn("n_before", size(col("syms")))
        .withColumn("n_after",
          size(graft.text.Bpe.applyMerge(col("syms"), a, b)))
        .select(col("word"), col("freq"), col("n_before"), col("n_after"),
          lit(a).as("merge_a"), lit(b).as("merge_b"))
        .orderBy(col("freq").desc, col("word"))
        .limit(200)
    }),

    // BPE ENCODE (the inference half of bpe1's merge learning): fixed
    // rank-ordered merge list applied as a fold of the applyMerge
    // Column HOF — the whole encode is one WholeStageCodegen stage, no
    // UDF. The list is built so later merges only consume earlier
    // outputs (sequential == rank-priority; BpeApplySpec pins both) and
    // no corpus word repeats a pair x-y-x-y (so the oracle's chained
    // non-overlapping replace is exact).
    "bpe2_encode" -> ((s, d) => {
      graft.text.Bpe.sequentialTokenCounts(
        Tables.documents(s, d), "doc_id", "text", BpeMerges)
        .orderBy(col("doc_id"))
    }),

    // Tokenizer fertility per language (the standard multilingual
    // tokenizer-eval metric): BPE tokens per word and chars per BPE
    // token, from the bpe2 sequential encode rolled up by language —
    // integer sums first, one double division at the end.
    "tf1_tokenizer_fertility" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.Bpe.sequentialTokenCounts(docs, "doc_id", "text",
          BpeMerges)
        .join(docs.select(col("doc_id"), col("lang"),
          col("n_chars")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_words")).cast("long").as("n_words"),
          sum(col("n_bpe_tokens")).cast("long").as("n_tokens"),
          sum(col("n_chars").cast("long")).as("n_chars"))
        .withColumn("fertility",
          round(col("n_tokens").cast("double") / col("n_words"), 6))
        .withColumn("chars_per_token",
          round(col("n_chars").cast("double") / col("n_tokens"), 6))
        .orderBy(col("lang"))
    }),

    // Model-based quality filtering (fasttext-shaped, Joulin et al.
    // 2016; the CCNet/GPT-3 pipeline stage): linear model over hashed
    // unigram+bigram features, weights as a broadcast relation, mean-
    // pooled logit through the sigmoid, keep-threshold at 0.5. The
    // weight table here is the deterministic hash-derived stand-in —
    // real deployments load trained weights through the same seam.
    "ql1_quality_classifier" -> ((s, d) => {
      val w = graft.text.QualityClassifier.hashWeights(s, QcBuckets)
      graft.text.QualityClassifier.score(
          Tables.documents(s, d), "doc_id", "text", w, QcBuckets)
        .withColumn("keep", col("keep").cast("int"))
        .orderBy(col("doc_id"))
    }),

    "hl1_hll_vocab" -> ((s, d) => {
      val occ = Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("t"))
      // dense feeds both the register dump and the estimate aggregate —
      // 2^p rows, cache instead of re-running the occurrence scan
      val dense = graft.sketch.Hll.denseRegisters(occ, "t", HllP).cache()
      dense.crossJoin(broadcast(graft.sketch.Hll.estimate(dense, HllP)))
        .orderBy(col("idx"))
    }),

    // Semi-hard negative mining for contrastive training: per anchor,
    // top-k most-similar DIFFERENT-label docs strictly below the
    // anchor's own positive ceiling minus the margin (FaceNet
    // semi-hard). Anchors broadcast; ranks per-anchor partitioned.
    "hn1_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .withColumn("label", col("vec_id") % HnLabels)
      val anchors = emb.filter(col("vec_id").isin(0L, 1L, 2L))
      graft.ann.HardNegatives.mine(emb, "vec_id", "embedding", "label",
          anchors, "vec_id", "embedding", "label", HnK, Some(HnMargin))
        .select(col("aid"), col("id"), round(col("sim"), 6).as("sim"),
          round(col("pos_ceiling"), 6).as("pos_ceiling"), col("rank"))
        .orderBy(col("aid"), col("rank"))
    }),

    // The removal half of substring dedup (Lee et al. 2022): cut every
    // token covered by a corpus-duplicated 8-gram; per-token coverage
    // via the merged window/token event stream under ONE doc-
    // partitioned running-max window — no range join, no ×n explode.
    "sa2_span_removal" -> ((s, d) => {
      graft.dedup.SpanDedup.removeDupSpans(
          Tables.documents(s, d), "doc_id", "text", SpanN)
        .orderBy(col("doc_id"))
    }),

    // Bloom-filter membership pre-filter: the ingest batch probes the
    // corpus text filter (broadcast, ≤ 2^18 rows regardless of corpus
    // size) — exact copies MUST hit; the definitely-absent bulk would
    // skip the expensive dedup join entirely at 100 TB.
    "bf1_bloom_prefilter" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val filter = graft.sketch.Bloom.build(
        docs.select(col("text")), "text", BloomD, BloomM)
      val batch = incrBatch(docs).select(col("doc_id"), col("text"))
      graft.sketch.Bloom.probe(batch, "text", filter, BloomD, BloomM)
        .select(col("doc_id"), col("maybe_present"))
        .orderBy(col("doc_id"))
    }),

    // Temperature-weighted domain mixture (Gopher/LLaMA alpha
    // schedule): integer micro-unit shares + largest-remainder
    // apportionment — targets sum to the budget EXACTLY, and the whole
    // post-aggregate computation runs on the tens-of-rows domain
    // relation with no WindowExec anywhere in the plan.
    "mx2_temperature_mix" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select((col("doc_id") % SplitDomains).as("domain"),
          size(TextFunctions.tokens(col("text"))).as("n_tokens"))
      graft.text.Mixture.temperatureTargets(
          docs, "domain", "n_tokens", MixAlpha, MixBudget)
        .orderBy(col("domain"))
    }))

  /** ic1 derived ingest batch: ids offset into a disjoint space; three
    * deterministic flavors per source residue — verbatim copy (Jaccard
    * 1.0), five appended tokens (Jaccard ≈ n/(n+5), above threshold),
    * reversed token order (k-shingles destroyed → novel; any accidental
    * band hit is still covered by the exact verify on both sides).
    */
  private def incrBatch(docs: DataFrame): DataFrame = {
    val copies = docs.filter(col("doc_id") % 10 === 1)
      .select((col("doc_id") + IncrIdOffset).as("doc_id"), col("text"))
    val near = docs.filter(col("doc_id") % 10 === 2)
      .select((col("doc_id") + IncrIdOffset).as("doc_id"),
        concat(col("text"), lit(" zq wq vq uq tq")).as("text"))
    val novel = docs.filter(col("doc_id") % 10 === 3)
      .select((col("doc_id") + IncrIdOffset).as("doc_id"),
        concat_ws(" ", reverse(tokens(col("text")))).as("text"))
    copies.unionByName(near).unionByName(novel)
  }

  // ---- oracle SQL ----------------------------------------------------

  private val normDoc = normalizeSql("text")
  private val toksCte =
    s"tok AS (SELECT doc_id, string_split($normDoc, ' ') AS toks FROM documents)"

  /** DuckDB mirror of `paraFixture`: CTE chain ending in
    * `px(doc_id, paras)` and `p(doc_id, para_idx, para)`. Requires
    * `toksCte` earlier in the WITH chain.
    */
  private val paraFixtureCtes =
    s"""fx AS (SELECT doc_id,
       |    list_transform(
       |      generate_series(0, greatest((len(toks) - 1) // 8, 0)),
       |      i -> array_to_string(list_slice(toks, i*8 + 1, i*8 + 8), ' '))
       |      AS chunks
       |  FROM tok),
       |px AS (SELECT doc_id,
       |    (CASE WHEN doc_id % 4 = 0 THEN ['$BoilerHeader']
       |      ELSE CAST([] AS VARCHAR[]) END) ||
       |    chunks ||
       |    (CASE WHEN doc_id % 6 = 0 THEN ['$BoilerFooter']
       |      ELSE CAST([] AS VARCHAR[]) END) AS paras
       |  FROM fx),
       |p AS (SELECT doc_id, i AS para_idx, paras[i] AS para
       |  FROM px, unnest(generate_series(1, len(paras))) AS t(i))""".stripMargin
  private val shCte =
    s"""sh AS (SELECT doc_id, unnest(${shinglesSql("toks", ShingleK)}) AS shingle
       |  FROM tok WHERE len(toks) >= $ShingleK)""".stripMargin
  private val abVals = (0 until NumHashes)
    .map(i => s"($i, ${graft.dedup.Dedup.minhashA(i)}, ${graft.dedup.Dedup.minhashB(i)})")
    .mkString(", ")
  private val mhCte =
    s"""ab(h, a, b) AS (VALUES $abVals),
       |mh AS (SELECT doc_id, CAST(ab.h AS INTEGER) AS h,
       |    CAST(min((ab.a * (${PortableHash.hash60Sql("0", "shingle")} % ${graft.dedup.Dedup.MinhashM})
       |      + ab.b) % ${graft.dedup.Dedup.MinhashP}) AS BIGINT) AS v
       |  FROM sh CROSS JOIN ab
       |  GROUP BY doc_id, ab.h)""".stripMargin

  private val cosSql = VectorFunctions.cosineSql("e.embedding", "q.qvec")

  /** Pigeonhole-banding mirror of Dedup.simhashPairsBanded: expects a CTE
    * `sims(doc_id, simhash)`, yields `cand(a, b, sa, sb)`.
    */
  private def segBandSql(maxHamming: Int): String = {
    val vals = graft.dedup.Dedup.simhashSegmentDefs(maxHamming)
      .map { case (seg, sh, mask) => s"($seg, $sh, ${mask}::BIGINT)" }
      .mkString(", ")
    s"""segdef(seg, sh, msk) AS (VALUES $vals),
       |segs AS (SELECT doc_id, simhash, seg, (simhash >> sh) & msk AS seg_val
       |  FROM sims CROSS JOIN segdef),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |    x.simhash AS sa, y.simhash AS sb
       |  FROM segs x JOIN segs y
       |    ON x.seg = y.seg AND x.seg_val = y.seg_val AND x.doc_id < y.doc_id)""".stripMargin
  }

  /** dd1/cc1/cr1 shared mirror chain: LSH pairs -> recursive
    * reachability -> per-component min. Exact regardless of which
    * distributed closure algorithm the engine side used.
    */
  private lazy val ddChainCtes: String =
    s"""WITH RECURSIVE $toksCte, $shCte, $mhCte,
         |bands AS (SELECT doc_id, CAST(h // $RowsPerBand AS INTEGER) AS band,
         |    string_agg(CAST(v AS VARCHAR), ',' ORDER BY h) AS band_val
         |  FROM mh GROUP BY doc_id, band),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_val = y.band_val
         |   AND x.doc_id < y.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT s1.doc_id AS a, s2.doc_id AS b, COUNT(*) AS i
         |  FROM sh s1 JOIN sh s2
         |    ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
         |  JOIN cand c ON c.a = s1.doc_id AND c.b = s2.doc_id
         |  GROUP BY s1.doc_id, s2.doc_id),
         |pairs AS (SELECT c.a, c.b FROM cand c
         |  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
         |  JOIN sizes na ON na.doc_id = c.a
         |  JOIN sizes nb ON nb.doc_id = c.b
         |  WHERE CAST(COALESCE(i.i, 0) AS DOUBLE)
         |    / (na.n + nb.n - COALESCE(i.i, 0)) >= 0.6::DOUBLE),
         |e AS (SELECT a AS x, b AS y FROM pairs
         |  UNION ALL SELECT b, a FROM pairs),
         |reach(id, r) AS (
         |  SELECT DISTINCT x, x FROM e
         |  UNION
         |  SELECT e.y, reach.r FROM reach JOIN e ON e.x = reach.id),
         |cl AS (SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY id)""".stripMargin

  private lazy val ddClustersOracle: String = ddChainCtes + "\n" +
    """SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id,
      |  (d.doc_id = COALESCE(cl.cluster_id, d.doc_id)) AS is_canonical
      |FROM documents d LEFT JOIN cl USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** cr1 mirror: the dd1 cluster chain + per-cluster argmax on
    * (n_chars desc, doc_id) — the "keep the longest member" policy.
    */
  private lazy val crRepsOracle: String = ddChainCtes + ",\n" +
    """alldocs AS (SELECT d.doc_id,
      |    COALESCE(cl.cluster_id, d.doc_id) AS cluster_id, d.n_chars
      |  FROM documents d LEFT JOIN cl USING (doc_id)),
      |rep AS (SELECT cluster_id, doc_id AS rep_id FROM (
      |    SELECT cluster_id, doc_id,
      |      row_number() OVER (PARTITION BY cluster_id
      |        ORDER BY n_chars DESC, doc_id) AS rn
      |    FROM alldocs) WHERE rn = 1)
      |SELECT f.doc_id, f.cluster_id, r.rep_id,
      |  f.doc_id = r.rep_id AS keep
      |FROM alldocs f JOIN rep r USING (cluster_id)
      |ORDER BY doc_id""".stripMargin

  /** leak1/lks1 shared mirror: planted variants → LSH candidates →
    * verified Jaccard≥0.6 pairs `ver(a, b, jaccard)` over the planted
    * corpus `ad`. WITH RECURSIVE so lks1 can close components.
    */
  private lazy val leakVerCtes: String =
    s"""WITH RECURSIVE nd AS (SELECT doc_id + $LeakIdOffset AS doc_id,
       |    text || ' zz yy xx' AS text
       |  FROM documents WHERE doc_id % 10 = 4),
       |ad AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id, text FROM nd),
       |tok2 AS (SELECT doc_id, string_split(${normalizeSql("text")}, ' ')
       |    AS toks FROM ad),
       |sh2 AS (SELECT doc_id, unnest(${shinglesSql("toks", ShingleK)})
       |    AS shingle FROM tok2 WHERE len(toks) >= $ShingleK),
       |ab(h, a, b) AS (VALUES $abVals),
       |mh AS (SELECT doc_id, CAST(ab.h AS INTEGER) AS h,
       |    CAST(min((ab.a * (${PortableHash.hash60Sql("0", "shingle")} % ${graft.dedup.Dedup.MinhashM})
       |      + ab.b) % ${graft.dedup.Dedup.MinhashP}) AS BIGINT) AS v
       |  FROM sh2 CROSS JOIN ab GROUP BY doc_id, ab.h),
       |bands AS (SELECT doc_id, CAST(h // $RowsPerBand AS INTEGER) AS band,
       |    string_agg(CAST(v AS VARCHAR), ',' ORDER BY h) AS band_val
       |  FROM mh GROUP BY doc_id, band),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_val = y.band_val
       |      AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY doc_id),
       |inter AS (SELECT s1.doc_id AS a, s2.doc_id AS b, COUNT(*) AS i
       |  FROM sh2 s1 JOIN sh2 s2
       |    ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
       |  JOIN cand c ON c.a = s1.doc_id AND c.b = s2.doc_id
       |  GROUP BY s1.doc_id, s2.doc_id),
       |ver AS MATERIALIZED (SELECT c.a, c.b,
       |    CAST(COALESCE(i.i, 0) AS DOUBLE)
       |      / (na.n + nb.n - COALESCE(i.i, 0)) AS jaccard
       |  FROM cand c
       |  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
       |  JOIN sizes na ON na.doc_id = c.a
       |  JOIN sizes nb ON nb.doc_id = c.b
       |  WHERE CAST(COALESCE(i.i, 0) AS DOUBLE)
       |    / (na.n + nb.n - COALESCE(i.i, 0)) >= 0.6::DOUBLE)""".stripMargin

  /** sdw1 mirror: the dd1 cluster chain + per-cluster counts. */
  private lazy val sdwOracle: String = ddChainCtes + ",\n" +
    """alldocs AS (SELECT d.doc_id,
      |    COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
      |  FROM documents d LEFT JOIN cl USING (doc_id)),
      |csz AS (SELECT cluster_id, COUNT(*) AS cluster_size
      |  FROM alldocs GROUP BY cluster_id)
      |SELECT a.doc_id, a.cluster_id,
      |  CAST(c.cluster_size AS BIGINT) AS cluster_size,
      |  CAST(1000000 // c.cluster_size AS BIGINT) AS weight_micro
      |FROM alldocs a JOIN csz c USING (cluster_id)
      |ORDER BY doc_id""".stripMargin

  def oracles: Map[String, String] = Map(
    "sdw1_soft_dedup_weights" -> sdwOracle,

    "qt1_retention_cutoffs" ->
      """WITH ranked AS (SELECT source, n_chars, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents),
        |stats AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(ceil(COUNT(*) * 30 / 100.0) AS BIGINT) AS k_target
        |  FROM documents GROUP BY source),
        |cut AS (SELECT r.source, r.n_chars AS cutoff
        |  FROM ranked r JOIN stats s USING (source)
        |  WHERE r.rk = s.k_target),
        |kept AS (SELECT d.source, COUNT(*) AS n_kept
        |  FROM documents d JOIN cut c USING (source)
        |  WHERE d.n_chars >= c.cutoff GROUP BY d.source)
        |SELECT s.source, CAST(s.n_docs AS BIGINT) AS n_docs, s.k_target,
        |  CAST(c.cutoff AS BIGINT) AS cutoff,
        |  CAST(k.n_kept AS BIGINT) AS n_kept
        |FROM stats s JOIN cut c USING (source) JOIN kept k USING (source)
        |ORDER BY source""".stripMargin,

    "eq1_embedding_qc" ->
      """WITH planted AS (SELECT vec_id,
        |    CASE WHEN vec_id % 97 = 0
        |        THEN list_transform(embedding, x -> 0.0::FLOAT)
        |      WHEN vec_id % 89 = 0
        |        THEN ['NaN'::FLOAT] || embedding[2:64]
        |      WHEN vec_id % 83 = 0 THEN embedding[1:32]
        |      ELSE embedding END AS v
        |  FROM embeddings),
        |m AS (SELECT vec_id, len(v) AS dim,
        |    len(list_filter(v, x -> isnan(x))) AS n_nan,
        |    list_aggregate(list_transform(v,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS sq
        |  FROM planted),
        |n AS (SELECT vec_id, dim, n_nan,
        |    CASE WHEN n_nan > 0 THEN -1::BIGINT
        |      ELSE CAST(round(sqrt(sq) * 1000000) AS BIGINT) END
        |      AS norm_micro
        |  FROM m)
        |SELECT vec_id, CAST(dim AS INTEGER) AS dim,
        |  CAST(n_nan AS INTEGER) AS n_nan, norm_micro,
        |  CASE WHEN dim <> 64 THEN 'bad_dim'
        |    WHEN n_nan > 0 THEN 'nan'
        |    WHEN norm_micro = 0 THEN 'zero'
        |    ELSE 'keep' END AS verdict
        |FROM n ORDER BY vec_id""".stripMargin,

    "t1_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len(${tokensSql("text")}) AS INTEGER) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '$subwordPat')) AS INTEGER) AS n_subwords,
         |  CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_bpe
         |FROM documents ORDER BY doc_id LIMIT 100""".stripMargin,

    "t2_lang_profile" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(SUM(len(${tokensSql("text")})) AS DOUBLE) / COUNT(*) AS avg_tokens
         |FROM documents GROUP BY lang""".stripMargin,

    "t3_quality_scores" ->
      s"""WITH f AS (SELECT doc_id,
         |    len(string_split($normDoc, ' ')) AS n_tok,
         |    len(replace($normDoc, ' ', '')) AS alpha_chars,
         |    CAST(len(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
         |      / len(text) AS punct_ratio,
         |    CAST(${markerHitsSql(s"string_split($normDoc, ' ')", LangMarkers.head._2)} AS DOUBLE)
         |      / len(string_split($normDoc, ' ')) AS stop_ratio
         |  FROM documents)
         |SELECT doc_id, round(100.0 * (
         |    0.25 * least(n_tok / 100.0, 1.0) +
         |    0.25 * (1.0 - punct_ratio) +
         |    0.25 * least(CAST(alpha_chars AS DOUBLE) / n_tok / 8.0, 1.0) +
         |    0.25 * least(stop_ratio * 5.0, 1.0)), 6) AS quality
         |FROM f ORDER BY doc_id LIMIT 200""".stripMargin,

    "t4_langid_confusion" ->
      s"""SELECT lang, ${langIdSql(tokensSql("text"))} AS predicted, COUNT(*) AS n
         |FROM documents GROUP BY 1, 2""".stripMargin,

    "t5_fingerprints" ->
      s"""SELECT doc_id, ${fingerprintShaSql("text")} AS fp_sha,
         |  ${fingerprint60Sql("text")} AS fp60
         |FROM documents ORDER BY doc_id LIMIT 100""".stripMargin,

    "t6_keywords" -> {
      val stopList = NlpExtract.Stopwords.map(s => s"'$s'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, t
         |  FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS t
         |        FROM documents)
         |  WHERE len(t) >= 3 AND t NOT IN ($stopList)),
         |tf AS (SELECT doc_id, t, COUNT(*) AS c FROM toks GROUP BY doc_id, t),
         |rk AS (SELECT doc_id, t,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, t) AS rn
         |  FROM tf),
         |agg AS (SELECT doc_id, string_agg(t, ',' ORDER BY rn) AS kw
         |  FROM rk WHERE rn <= 8 GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.kw, '') AS keywords
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id LIMIT 100""".stripMargin
    },

    "auc1_roc_auc" ->
      s"""WITH $toksCte,
         |t AS (SELECT doc_id, unnest(toks) AS tok FROM tok),
         |tc AS (SELECT doc_id, tok, count(*) AS c FROM t
         |  GROUP BY doc_id, tok),
         |ent AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS n_types
         |  FROM tc GROUP BY doc_id),
         |scored AS (SELECT e.doc_id,
         |    round(e.n_types * 1.0 / e.n, 6)::DOUBLE AS score,
         |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS label
         |  FROM ent e JOIN documents d USING (doc_id)),
         |g AS (SELECT score, count(*) AS n, sum(label) AS n_pos
         |  FROM scored GROUP BY score),
         |c AS (SELECT score, n, n_pos,
         |    sum(n) OVER (ORDER BY score) AS cum_n,
         |    sum(n_pos) OVER (ORDER BY score) AS cum_pos
         |  FROM g),
         |r AS (SELECT *, n_pos * (2 * (cum_n - n) + n + 1) AS r2c FROM c),
         |tot AS (SELECT sum(n) AS nn, sum(n_pos) AS pp, sum(r2c) AS r2
         |  FROM r)
         |SELECT score, CAST(n AS BIGINT) AS n,
         |  CAST(n_pos AS BIGINT) AS n_pos,
         |  round((pp - (cum_pos - n_pos)) / (pp * 1.0), 6)::DOUBLE AS tpr,
         |  round(((nn - pp) - ((cum_n - cum_pos) - (n - n_pos)))
         |    / ((nn - pp) * 1.0), 6)::DOUBLE AS fpr,
         |  round((r2 - pp * (pp + 1)) / (2.0 * pp * (nn - pp)), 6)::DOUBLE
         |    AS auc
         |FROM r CROSS JOIN tot ORDER BY score""".stripMargin,

    "cal1_calibration" ->
      s"""WITH $toksCte,
         |t AS (SELECT doc_id, unnest(toks) AS tok FROM tok),
         |tc AS (SELECT doc_id, tok, count(*) AS c FROM t
         |  GROUP BY doc_id, tok),
         |ent AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS n_types
         |  FROM tc GROUP BY doc_id),
         |scored AS (SELECT e.doc_id,
         |    round(e.n_types * 1.0 / e.n, 6)::DOUBLE AS score,
         |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS label
         |  FROM ent e JOIN documents d USING (doc_id)),
         |per AS (SELECT least(CAST(floor(score * 10) AS INTEGER), 9)
         |      AS bin,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(label) AS BIGINT) AS n_pos,
         |    CAST(sum(CAST(round(score * 1000000) AS BIGINT)) AS BIGINT)
         |      AS ssum
         |  FROM scored GROUP BY 1),
         |pq AS (SELECT bin, n, n_pos,
         |    n_pos::DOUBLE / n AS pos_rate,
         |    ssum::DOUBLE / n / 1000000 AS avg_score
         |  FROM per),
         |pg AS (SELECT *, CAST(round(abs(pos_rate - avg_score) * 1000000)
         |    AS BIGINT) AS gap_micro FROM pq),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
         |    CAST(sum(n * gap_micro) AS BIGINT) AS gsum FROM pg)
         |SELECT bin, n, n_pos, round(pos_rate, 6) AS pos_rate,
         |  round(avg_score, 6) AS avg_score,
         |  round(CAST(gsum AS DOUBLE) / nn / 1000000, 6) AS ece
         |FROM pg CROSS JOIN tot ORDER BY bin""".stripMargin,

    "mi1_feature_mi" ->
      s"""WITH $toksCte,
         |d0 AS (SELECT doc_id, unnest(list_distinct(toks)) AS t
         |  FROM tok),
         |lab AS (SELECT doc_id,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM documents),
         |dty AS (SELECT d0.t, l.y FROM d0 JOIN lab l USING (doc_id)),
         |per AS (SELECT t, CAST(count(*) AS BIGINT) AS n_t,
         |    CAST(sum(y) AS BIGINT) AS n_t1 FROM dty GROUP BY t),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn,
         |    CAST(sum(y) AS BIGINT) AS n1 FROM lab),
         |mm AS (SELECT t, n_t, n_t1, nn,
         |    (CASE WHEN n_t1 > 0 THEN n_t1 *
         |      CAST(floor(ln((n_t1::DOUBLE / n_t) * (nn::DOUBLE / n1))
         |        * 1000000) AS BIGINT) ELSE 0 END)
         |  + (CASE WHEN (n_t - n_t1) > 0 THEN (n_t - n_t1) *
         |      CAST(floor(ln(((n_t - n_t1)::DOUBLE / n_t)
         |        * (nn::DOUBLE / (nn - n1))) * 1000000) AS BIGINT)
         |      ELSE 0 END)
         |  + (CASE WHEN (n1 - n_t1) > 0 THEN (n1 - n_t1) *
         |      CAST(floor(ln(((n1 - n_t1)::DOUBLE / (nn - n_t))
         |        * (nn::DOUBLE / n1)) * 1000000) AS BIGINT) ELSE 0 END)
         |  + (CASE WHEN (nn - n_t - n1 + n_t1) > 0
         |      THEN (nn - n_t - n1 + n_t1) *
         |      CAST(floor(ln(((nn - n_t - n1 + n_t1)::DOUBLE
         |        / (nn - n_t)) * (nn::DOUBLE / (nn - n1))) * 1000000)
         |        AS BIGINT) ELSE 0 END)
         |    AS mi_micro
         |  FROM per CROSS JOIN tot)
         |SELECT t, n_t, n_t1, CAST(mi_micro AS BIGINT) AS mi_micro,
         |  round(CAST(mi_micro AS DOUBLE) / nn / 1000000, 6) AS mi
         |FROM mm ORDER BY mi DESC, t LIMIT 20""".stripMargin,

    "cdc1_content_chunks" -> {
      val h60 = PortableHash.hash60Sql("'cdc'", "gram")
      s"""WITH $toksCte,
         |items AS (SELECT doc_id, toks, unnest(toks) AS tok,
         |    unnest(range(1, len(toks) + 1)) - 1 AS pos
         |  FROM tok WHERE len(toks) >= 1),
         |g AS (SELECT doc_id, pos, tok,
         |    CASE WHEN pos <= len(toks) - $CdcK
         |      THEN array_to_string(toks[pos+1:pos+$CdcK], ' ') END AS gram
         |  FROM items),
         |b AS (SELECT doc_id, pos, tok,
         |    CASE WHEN pos > 0 AND gram IS NOT NULL
         |      AND $h60 % $CdcDivisor = 0 THEN 1 ELSE 0 END AS is_b
         |  FROM g),
         |s AS (SELECT doc_id, pos, tok,
         |    sum(is_b) OVER (PARTITION BY doc_id ORDER BY pos) AS seg
         |  FROM b),
         |st AS (SELECT doc_id, seg,
         |    string_agg(tok, ' ' ORDER BY pos) AS seg_text
         |  FROM s GROUP BY doc_id, seg),
         |rep AS (SELECT seg_text, count(DISTINCT doc_id) AS n_docs,
         |    count(*) AS n_occurrences, min(doc_id) AS min_doc
         |  FROM st GROUP BY seg_text)
         |SELECT seg_text, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_occurrences AS BIGINT) AS n_occurrences, min_doc
         |FROM rep WHERE n_docs > 1
         |ORDER BY n_docs DESC, n_occurrences DESC, seg_text
         |LIMIT 50""".stripMargin
    },

    "ent1_token_entropy" ->
      s"""WITH $toksCte,
         |t AS (SELECT doc_id, unnest(toks) AS tok FROM tok),
         |tc AS (SELECT doc_id, tok, count(*) AS c FROM t
         |  GROUP BY doc_id, tok),
         |ent AS (SELECT doc_id,
         |    CAST(sum(CAST(round(c * ln(c) * 1000000) AS BIGINT))
         |      AS BIGINT) AS clogc_micro,
         |    CAST(sum(c) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS n_types
         |  FROM tc GROUP BY doc_id)
         |SELECT doc_id, n AS n_toks, n_types,
         |  round(ln(n) - (clogc_micro / 1000000.0) / n, 6)::DOUBLE
         |    AS entropy,
         |  round(n_types * 1.0 / n, 6)::DOUBLE AS ttr
         |FROM ent ORDER BY doc_id""".stripMargin,

    "hp1_heaps_curve" ->
      s"""WITH $toksCte,
         |t AS (SELECT doc_id, unnest(toks) AS tok FROM tok),
         |fo AS (SELECT tok, min(doc_id) AS first_doc FROM t GROUP BY tok),
         |nt AS (SELECT first_doc AS doc_id, count(*) AS new_types
         |  FROM fo GROUP BY 1),
         |pd AS (SELECT k.doc_id, len(k.toks) AS n_toks,
         |    coalesce(nt.new_types, 0) AS new_types
         |  FROM tok k LEFT JOIN nt USING (doc_id))
         |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
         |  CAST(new_types AS BIGINT) AS new_types,
         |  CAST(sum(n_toks) OVER (ORDER BY doc_id) AS BIGINT) AS cum_toks,
         |  CAST(sum(new_types) OVER (ORDER BY doc_id) AS BIGINT)
         |    AS cum_vocab
         |FROM pd ORDER BY doc_id""".stripMargin,

    "wn1_winnow" -> {
      val h40 = PortableHash.hash60Sql("'wn'", "gram") + " % 1099511627776"
      s"""WITH tok AS (SELECT doc_id, string_split($normDoc, ' ') AS toks
         |  FROM documents WHERE doc_id < 50),
         |grams0 AS (SELECT doc_id,
         |    list_transform(range(1, len(toks) - ${WinnowK - 2}),
         |      i -> array_to_string(toks[i:i+${WinnowK - 1}], ' ')) AS grams
         |  FROM tok WHERE len(toks) >= $WinnowK),
         |g AS (SELECT doc_id, unnest(grams) AS gram,
         |    unnest(range(1, len(grams) + 1)) - 1 AS pos
         |  FROM grams0),
         |keyed AS (SELECT doc_id, pos,
         |    ($h40) * 1048576 + (1048575 - pos) AS key
         |  FROM g),
         |win AS (SELECT doc_id, pos,
         |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING)
         |      AS sel_key,
         |    count(*) OVER (PARTITION BY doc_id) AS n_grams
         |  FROM keyed),
         |sel AS (SELECT DISTINCT doc_id,
         |    1048575 - (sel_key % 1048576) AS pos,
         |    sel_key // 1048576 AS fp
         |  FROM win WHERE pos <= n_grams - $WinnowW)
         |SELECT doc_id, CAST(pos AS BIGINT) AS pos, CAST(fp AS BIGINT) AS fp
         |FROM sel ORDER BY doc_id, pos, fp""".stripMargin
    },

    "d1_exact_dedup" ->
      s"""SELECT ${fingerprintShaSql("text")} AS fingerprint,
         |  COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
         |FROM documents GROUP BY 1
         |ORDER BY n_docs DESC, fingerprint LIMIT 50""".stripMargin,

    "d2_minhash_sigs" ->
      s"""WITH $toksCte,
         |sh AS (SELECT doc_id, unnest(${shinglesSql("toks", ShingleK)}) AS shingle
         |  FROM tok WHERE doc_id <= 20 AND len(toks) >= $ShingleK),
         |$mhCte
         |SELECT doc_id, h, v FROM mh""".stripMargin,

    "d3_lsh_near_dups" ->
      s"""WITH $toksCte, $shCte, $mhCte,
         |bands AS (SELECT doc_id, CAST(h // $RowsPerBand AS INTEGER) AS band,
         |    string_agg(CAST(v AS VARCHAR), ',' ORDER BY h) AS band_val
         |  FROM mh GROUP BY doc_id, band),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_val = y.band_val AND x.doc_id < y.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT s1.doc_id AS a, s2.doc_id AS b, COUNT(*) AS i
         |  FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
         |  JOIN cand c ON c.a = s1.doc_id AND c.b = s2.doc_id
         |  GROUP BY s1.doc_id, s2.doc_id)
         |SELECT c.a, c.b,
         |  round(CAST(COALESCE(i.i, 0) AS DOUBLE)
         |    / (na.n + nb.n - COALESCE(i.i, 0)), 6) AS jaccard
         |FROM cand c
         |LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
         |JOIN sizes na ON na.doc_id = c.a
         |JOIN sizes nb ON nb.doc_id = c.b
         |ORDER BY jaccard DESC, c.a, c.b LIMIT 100""".stripMargin,

    "leak1_split_leakage" -> (leakVerCtes +
      s""",
         |sp AS (SELECT doc_id,
         |    ${graft.text.Splits.assignSql("doc_id", SplitLayout)} AS split
         |  FROM ad)
         |SELECT v.a, v.b, sa.split AS split_a, sb.split AS split_b,
         |  round(v.jaccard, 6) AS jaccard
         |FROM ver v
         |JOIN sp sa ON sa.doc_id = v.a
         |JOIN sp sb ON sb.doc_id = v.b
         |WHERE sa.split <> sb.split
         |ORDER BY v.a, v.b""".stripMargin),

    // The leak1 FIX, proven not asserted: cluster-atomic splits give
    // ZERO cross-split near-dup pairs — the oracle recomputes the
    // closure, the assignment AND the leak count from the same pair
    // chain.
    "lks1_cluster_split" -> (leakVerCtes +
      s""",
         |e AS MATERIALIZED (SELECT a AS x, b AS y FROM ver
         |  UNION ALL SELECT b, a FROM ver),
         |reach(id, r) AS (
         |  SELECT DISTINCT x, x FROM e
         |  UNION
         |  SELECT e.y, reach.r FROM reach JOIN e ON e.x = reach.id),
         |cl AS (SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY id),
         |alld AS (SELECT ad.doc_id,
         |    COALESCE(cl.cluster_id, ad.doc_id) AS cluster_id
         |  FROM ad LEFT JOIN cl USING (doc_id)),
         |sp AS (SELECT doc_id,
         |    ${graft.text.Splits.assignSql("cluster_id", SplitLayout)}
         |      AS split
         |  FROM alld),
         |counts AS (SELECT split AS key, COUNT(*) AS n
         |  FROM sp GROUP BY split),
         |leak AS (SELECT 'cross_pairs' AS key, COUNT(*) AS n
         |  FROM ver v
         |  JOIN sp sa ON sa.doc_id = v.a
         |  JOIN sp sb ON sb.doc_id = v.b
         |  WHERE sa.split <> sb.split)
         |SELECT key, CAST(n AS BIGINT) AS n
         |FROM (SELECT * FROM counts UNION ALL SELECT * FROM leak)
         |ORDER BY key""".stripMargin),

    "ic1_incremental_dedup" ->
      s"""WITH nd AS (
         |  SELECT doc_id + $IncrIdOffset AS doc_id, text
         |    FROM documents WHERE doc_id % 10 = 1
         |  UNION ALL
         |  SELECT doc_id + $IncrIdOffset, text || ' zq wq vq uq tq'
         |    FROM documents WHERE doc_id % 10 = 2
         |  UNION ALL
         |  SELECT doc_id + $IncrIdOffset,
         |      array_to_string(list_reverse(string_split($normDoc, ' ')), ' ')
         |    FROM documents WHERE doc_id % 10 = 3),
         |ad AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id, text FROM nd),
         |tok AS (SELECT doc_id, string_split(${normalizeSql("text")}, ' ') AS toks
         |  FROM ad),
         |sh AS (SELECT doc_id, unnest(${shinglesSql("toks", ShingleK)}) AS shingle
         |  FROM tok WHERE len(toks) >= $ShingleK),
         |ab(h, a, b) AS (VALUES $abVals),
         |mh AS (SELECT doc_id, CAST(ab.h AS INTEGER) AS h,
         |    CAST(min((ab.a * (${PortableHash.hash60Sql("0", "shingle")} % ${graft.dedup.Dedup.MinhashM})
         |      + ab.b) % ${graft.dedup.Dedup.MinhashP}) AS BIGINT) AS v
         |  FROM sh CROSS JOIN ab GROUP BY doc_id, ab.h),
         |bands AS (SELECT doc_id, CAST(h // $RowsPerBand AS INTEGER) AS band,
         |    string_agg(CAST(v AS VARCHAR), ',' ORDER BY h) AS band_val
         |  FROM mh GROUP BY doc_id, band),
         |cand AS (SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS match_id
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_val = y.band_val
         |  WHERE x.doc_id >= $IncrIdOffset AND y.doc_id < x.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT c.new_id, c.match_id, COUNT(*) AS i
         |  FROM cand c
         |  JOIN sh s1 ON s1.doc_id = c.new_id
         |  JOIN sh s2 ON s2.doc_id = c.match_id AND s2.shingle = s1.shingle
         |  GROUP BY c.new_id, c.match_id),
         |scored AS (SELECT c.new_id, c.match_id,
         |    CAST(COALESCE(i.i, 0) AS DOUBLE)
         |      / (na.n + nb.n - COALESCE(i.i, 0)) AS jaccard
         |  FROM cand c
         |  LEFT JOIN inter i ON i.new_id = c.new_id AND i.match_id = c.match_id
         |  JOIN sizes na ON na.doc_id = c.new_id
         |  JOIN sizes nb ON nb.doc_id = c.match_id),
         |best AS (SELECT new_id,
         |    CAST(COUNT(*) OVER (PARTITION BY new_id) AS BIGINT) AS n_cands,
         |    jaccard, match_id,
         |    row_number() OVER (PARTITION BY new_id
         |      ORDER BY jaccard DESC, match_id) AS rk
         |  FROM scored)
         |SELECT n.doc_id AS new_id,
         |  CAST(COALESCE(b.n_cands, 0) AS BIGINT) AS n_cands,
         |  round(b.jaccard, 6) AS best_jaccard,
         |  b.match_id AS best_match,
         |  COALESCE(b.jaccard >= ${IncrMinJaccard}::DOUBLE, FALSE) AS is_dup
         |FROM nd n LEFT JOIN best b ON b.new_id = n.doc_id AND b.rk = 1
         |ORDER BY new_id""".stripMargin,

    "d4_simhash" ->
      s"""WITH $toksCte,
         |tf AS (SELECT doc_id, tok, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tok) GROUP BY doc_id, tok),
         |th AS (SELECT doc_id, tf, ${PortableHash.hash60Sql("0", "tok")} AS hv FROM tf),
         |bits AS (SELECT doc_id, i,
         |    SUM(CASE WHEN (hv >> i) & 1 = 1 THEN tf ELSE -tf END) AS w
         |  FROM (SELECT doc_id, tf, hv, unnest(range(0, 60)) AS i FROM th)
         |  GROUP BY doc_id, i)
         |SELECT doc_id,
         |  CAST(SUM(CASE WHEN w > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT)
         |    AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id LIMIT 100""".stripMargin,

    "d5_simhash_pairs" -> {
      val d4 = // per-doc simhash CTE body reused
        s"""WITH $toksCte,
           |tf AS (SELECT doc_id, tok, COUNT(*) AS tf
           |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tok) GROUP BY doc_id, tok),
           |th AS (SELECT doc_id, tf, ${PortableHash.hash60Sql("0", "tok")} AS hv FROM tf),
           |bits AS (SELECT doc_id, i,
           |    SUM(CASE WHEN (hv >> i) & 1 = 1 THEN tf ELSE -tf END) AS w
           |  FROM (SELECT doc_id, tf, hv, unnest(range(0, 60)) AS i FROM th)
           |  GROUP BY doc_id, i),
           |sims AS (SELECT doc_id,
           |  CAST(SUM(CASE WHEN w > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT)
           |    AS simhash
           |  FROM bits GROUP BY doc_id)""".stripMargin
      s"""$d4,
         |${segBandSql(SimhashRadius)}
         |SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= $SimhashRadius
         |ORDER BY hamming, a, b LIMIT 50""".stripMargin
    },

    "d6_embedding_neardup" ->
      s"""WITH aug AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + $NearDupIdOffset,
         |    list_concat([CAST(0.0 AS FLOAT)], embedding[2:64])
         |  FROM embeddings WHERE vec_id < $NearDupCopies),
         |sims AS (SELECT vec_id AS doc_id,
         |  ${graft.dedup.Dedup.signFingerprintSql("embedding")} AS simhash FROM aug),
         |${segBandSql(NearDupRadius)},
         |cand2 AS (SELECT a, b FROM cand
         |  WHERE bit_count(xor(sa, sb)) <= $NearDupRadius),
         |ver AS (SELECT c.a, c.b,
         |    ${VectorFunctions.cosineSql("x.embedding", "y.embedding")} AS sim
         |  FROM cand2 c
         |  JOIN aug x ON x.vec_id = c.a
         |  JOIN aug y ON y.vec_id = c.b)
         |SELECT a, b, round(sim, 6) AS sim FROM ver WHERE sim >= $NearDupMinSim
         |ORDER BY sim DESC, a, b LIMIT 50""".stripMargin,

    "a1_knn_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec
         |    FROM embeddings WHERE vec_id IN (0, 1, 2)),
         |scored AS (SELECT q.qid, e.vec_id AS id, $cosSql AS sim
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
         |ranked AS (SELECT qid, id, sim,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id)
         |      AS INTEGER) AS rank
         |  FROM scored)
         |SELECT qid, id, round(sim, 6) AS sim, rank
         |FROM ranked WHERE rank <= 10""".stripMargin,

    "ep1_doc_pooling" ->
      s"""WITH ch AS (SELECT vec_id % $PoolGroups AS grp, embedding
         |    FROM embeddings),
         |${graft.embed.Pooling.meanPoolSql("ch", 64)},
         |q AS (SELECT grp AS qid, embedding AS qvec FROM pooled
         |  WHERE grp IN (0, 1, 2)),
         |pscored AS (SELECT q.qid, e.grp AS id,
         |    ${VectorFunctions.cosineSql("e.embedding", "q.qvec")} AS sim
         |  FROM pooled e CROSS JOIN q WHERE e.grp <> q.qid),
         |pranked AS (SELECT qid, id, sim,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id)
         |      AS INTEGER) AS rank
         |  FROM pscored)
         |SELECT qid, id, round(sim, 6) AS sim, rank
         |FROM pranked WHERE rank <= 10""".stripMargin,

    "a4_knn_quantized" ->
      s"""WITH enc AS (SELECT vec_id, embedding,
         |    CAST(list_min(embedding) AS DOUBLE) AS qmin,
         |    CASE WHEN CAST(list_max(embedding) AS DOUBLE)
         |        > CAST(list_min(embedding) AS DOUBLE)
         |      THEN CAST(list_max(embedding) AS DOUBLE)
         |        - CAST(list_min(embedding) AS DOUBLE)
         |      ELSE 1.0::DOUBLE END AS qscale
         |  FROM embeddings),
         |codes AS (SELECT vec_id, embedding, qmin, qscale,
         |    list_transform(embedding, x ->
         |      CAST(round((CAST(x AS DOUBLE) - qmin) / qscale * 255) - 128
         |        AS TINYINT)) AS codes
         |  FROM enc),
         |dec AS (SELECT vec_id, embedding,
         |    list_transform(codes, c ->
         |      CAST((CAST(c AS DOUBLE) + 128) / 255.0::DOUBLE * qscale
         |        + qmin AS FLOAT)) AS deq
         |  FROM codes),
         |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
         |  WHERE vec_id IN (0, 1, 2)),
         |approx AS (SELECT q.qid, e.vec_id AS id, e.embedding,
         |    ${VectorFunctions.cosineSql("e.deq", "q.qvec")} AS asim
         |  FROM dec e CROSS JOIN q WHERE e.vec_id <> q.qid),
         |cand AS (SELECT qid, id, embedding FROM (SELECT *,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY asim DESC, id) AS INTEGER) AS arank FROM approx)
         |  WHERE arank <= 30),
         |ex AS (SELECT c.qid, c.id,
         |    ${VectorFunctions.cosineSql("c.embedding", "q.qvec")} AS sim
         |  FROM cand c JOIN q USING (qid)),
         |ranked AS (SELECT qid, id, sim,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, id) AS INTEGER) AS rank
         |  FROM ex)
         |SELECT qid, id, round(sim, 6) AS sim, rank
         |FROM ranked WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    "lr1_logistic_train" -> {
      val b = LrBuckets
      val hash = PortableHash.hash60Sql("'lr'", "t")
      val sgn = (x: String) =>
        s"(CASE WHEN $x > 0 THEN 1 WHEN $x < 0 THEN -1 ELSE 0 END)"
      val epochCtes = (1 to LrEpochs).map { e =>
        s"""m$e AS MATERIALIZED (SELECT f.doc_id,
           |    CAST(sum(f.x * w.w_micro) AS BIGINT) AS margin_micro
           |  FROM feats f JOIN w${e - 1} w USING (b) GROUP BY f.doc_id),
           |p$e AS MATERIALIZED (SELECT doc_id, CAST(500000 + ${sgn("margin_micro")}
           |      * ((abs(margin_micro) * 500000)
           |        // (1000000 + abs(margin_micro))) AS BIGINT) AS p_micro
           |  FROM m$e),
           |g$e AS MATERIALIZED (SELECT f.b,
           |    CAST(sum((p.p_micro - l.y * 1000000) * f.x) AS BIGINT) AS g
           |  FROM feats f JOIN p$e p USING (doc_id)
           |  JOIN labels l USING (doc_id) GROUP BY f.b),
           |w$e AS MATERIALIZED (SELECT w.b, CAST(w.w_micro - ${sgn("coalesce(g.g, 0)")}
           |      * ((abs(coalesce(g.g, 0)) * $LrEtaNum)
           |        // ((SELECT n FROM nn) * $LrEtaDen)) AS BIGINT) AS w_micro
           |  FROM w${e - 1} w LEFT JOIN g$e g USING (b))""".stripMargin
      }.mkString(",\n")
      s"""WITH d0 AS MATERIALIZED (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN text || '$LrMarker'
         |      ELSE text END AS text FROM documents),
         |tok AS MATERIALIZED (SELECT doc_id,
         |    list_filter(${TextFunctions.tokensSql("text")}, t -> t <> '')
         |      AS toks FROM d0),
         |occ AS MATERIALIZED (SELECT doc_id, unnest(toks) AS t FROM tok),
         |pdt AS MATERIALIZED (SELECT DISTINCT doc_id, t FROM occ),
         |tb AS MATERIALIZED (SELECT t, ($hash) % $b AS b
         |  FROM (SELECT DISTINCT t FROM pdt)),
         |feats AS MATERIALIZED (SELECT pdt.doc_id, tb.b, CAST(count(*) AS BIGINT) AS x
         |  FROM pdt JOIN tb USING (t) GROUP BY pdt.doc_id, tb.b
         |  UNION ALL SELECT DISTINCT doc_id, CAST($b AS BIGINT), 1::BIGINT
         |  FROM pdt),
         |labels AS MATERIALIZED (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0
         |      THEN 1::BIGINT ELSE 0::BIGINT END AS y
         |  FROM tok),
         |nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM labels),
         |w0 AS MATERIALIZED (SELECT CAST(range AS BIGINT) AS b, 0::BIGINT AS w_micro
         |  FROM range(${b + 1})),
         |$epochCtes,
         |mf AS MATERIALIZED (SELECT f.doc_id,
         |    CAST(sum(f.x * w.w_micro) AS BIGINT) AS margin_micro
         |  FROM feats f JOIN w$LrEpochs w USING (b) GROUP BY f.doc_id),
         |pf AS MATERIALIZED (SELECT doc_id, margin_micro,
         |    CAST(500000 + ${sgn("margin_micro")}
         |      * ((abs(margin_micro) * 500000)
         |        // (1000000 + abs(margin_micro))) AS BIGINT) AS p_micro
         |  FROM mf)
         |SELECT p.doc_id, l.y, p.margin_micro, p.p_micro,
         |  CAST(p.p_micro >= 500000 AS INTEGER) AS pred,
         |  CAST((p.p_micro >= 500000) = (l.y = 1) AS INTEGER) AS correct
         |FROM pf p JOIN labels l USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin
    },

    "gq1_gopher_rules" -> {
      val stopList = GqStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH tok AS (SELECT doc_id,
         |    list_filter(${TextFunctions.tokensSql("text")}, w -> w <> '')
         |      AS toks FROM documents),
         |t2 AS (SELECT doc_id, toks FROM tok WHERE len(toks) > 0),
         |m AS (SELECT doc_id,
         |    CAST(len(toks) AS INTEGER) AS n_words,
         |    round(CAST(list_aggregate(list_transform(toks, t -> len(t)),
         |        'sum') AS DOUBLE) / len(toks), 6) AS mean_word_len,
         |    round(CAST(len(list_distinct(toks)) AS DOUBLE)
         |      / len(toks), 6) AS distinct_frac,
         |    CAST(len(list_filter(toks, t -> list_contains($stopList, t)))
         |      AS INTEGER) AS n_stopwords
         |  FROM t2)
         |SELECT doc_id, n_words, mean_word_len, distinct_frac, n_stopwords,
         |  CAST(n_words >= 30 AND n_words <= 80 AS INTEGER) AS ok_length,
         |  CAST(mean_word_len >= 4.2 AND mean_word_len <= 4.8 AS INTEGER)
         |    AS ok_word_len,
         |  CAST(distinct_frac >= 0.4 AS INTEGER) AS ok_diversity,
         |  CAST(n_stopwords >= 2 AS INTEGER) AS ok_stopwords,
         |  CAST(n_words >= 30 AND n_words <= 80
         |    AND mean_word_len >= 4.2 AND mean_word_len <= 4.8
         |    AND distinct_frac >= 0.4 AND n_stopwords >= 2 AS INTEGER)
         |    AS keep
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "tox1_lexicon_filter" -> {
      import graft.text.Lexicon
      val lex = Lexicon.Default
      val cnts = lex.zipWithIndex.map { case ((t, _), i) =>
        s"CAST(${Lexicon.termCountSql("toks", t)} AS INTEGER) AS c$i"
      }.mkString(",\n    ")
      val hits = lex.indices.map(i => s"c$i").mkString(" + ")
      val weighted = lex.zipWithIndex
        .map { case ((_, sev), i) => s"$sev * c$i" }.mkString(" + ")
      val topSev = lex.zipWithIndex.map { case ((_, sev), i) =>
        s"CASE WHEN c$i > 0 THEN $sev ELSE 0 END" }.mkString(", ")
      val blockHits = lex.zipWithIndex
        .collect { case ((_, sev), i) if sev >= 3 => s"c$i" }.mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, string_split($normDoc, ' ') AS toks
         |    FROM documents),
         |t2 AS (SELECT doc_id, toks FROM tok WHERE len(toks) > 0),
         |c AS (SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_toks,
         |    $cnts
         |  FROM t2),
         |s AS (SELECT doc_id, n_toks,
         |    CAST($hits AS INTEGER) AS hits,
         |    CAST($weighted AS INTEGER) AS weighted,
         |    CAST(greatest($topSev) AS INTEGER) AS top_sev,
         |    round(CAST($weighted AS DOUBLE) / n_toks, 6) AS score,
         |    $blockHits AS bh
         |  FROM c)
         |SELECT doc_id, n_toks, hits, weighted, top_sev, score,
         |  CASE WHEN bh > 0 OR score >= 0.12 THEN 'block'
         |       WHEN score >= 0.06 THEN 'flag' ELSE 'allow' END AS verdict
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "sum1_lexrank" ->
      s"""WITH $toksCte,
         |sent AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS sid,
         |    toks[(i-1)*10 + 1 : i*10] AS stoks
         |  FROM (SELECT doc_id, toks,
         |    unnest(range(1, (len(toks) + 9) // 10 + 1)) AS i FROM tok)),
         |st AS (SELECT doc_id, sid, unnest(list_distinct(stoks)) AS t
         |  FROM sent),
         |fwd AS (SELECT s1.doc_id, s1.sid AS a, s2.sid AS b FROM st s1
         |  JOIN st s2 ON s1.doc_id = s2.doc_id AND s1.t = s2.t
         |    AND s1.sid < s2.sid
         |  GROUP BY s1.doc_id, s1.sid, s2.sid HAVING count(*) >= 2),
         |e AS MATERIALIZED (SELECT doc_id, a, b FROM fwd
         |  UNION ALL SELECT doc_id, b, a FROM fwd),
         |od AS MATERIALIZED (SELECT doc_id, a,
         |    CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY doc_id, a),
         |nn AS MATERIALIZED (SELECT doc_id, sid FROM sent),
         |p0 AS (SELECT doc_id, sid, CAST(1000000 AS BIGINT) AS pr
         |  FROM nn),
         |p1 AS MATERIALIZED (SELECT nn.doc_id, nn.sid,
         |    CAST(150000 + (85 * coalesce(t.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM nn LEFT JOIN (
         |    SELECT e.doc_id, e.b AS sid,
         |      CAST(sum(p0.pr // od.outdeg) AS BIGINT) AS s
         |    FROM e JOIN od ON od.doc_id = e.doc_id AND od.a = e.a
         |    JOIN p0 ON p0.doc_id = e.doc_id AND p0.sid = e.a
         |    GROUP BY e.doc_id, e.b) t
         |  ON t.doc_id = nn.doc_id AND t.sid = nn.sid),
         |p2 AS MATERIALIZED (SELECT nn.doc_id, nn.sid,
         |    CAST(150000 + (85 * coalesce(t.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM nn LEFT JOIN (
         |    SELECT e.doc_id, e.b AS sid,
         |      CAST(sum(p1.pr // od.outdeg) AS BIGINT) AS s
         |    FROM e JOIN od ON od.doc_id = e.doc_id AND od.a = e.a
         |    JOIN p1 ON p1.doc_id = e.doc_id AND p1.sid = e.a
         |    GROUP BY e.doc_id, e.b) t
         |  ON t.doc_id = nn.doc_id AND t.sid = nn.sid),
         |rk AS (SELECT doc_id, sid, pr,
         |    CAST(row_number() OVER (PARTITION BY doc_id
         |      ORDER BY pr DESC, sid) AS INTEGER) AS rank FROM p2)
         |SELECT r.doc_id, r.sid, r.pr, r.rank,
         |  coalesce(array_to_string(s.stoks, ' '), '') AS sentence
         |FROM rk r JOIN sent s ON s.doc_id = r.doc_id AND s.sid = r.sid
         |WHERE r.rank <= 2 ORDER BY r.doc_id, r.rank""".stripMargin,

    "gar1_encoding_qc" -> {
      import graft.text.EncodingQc
      val ctrl = EncodingQc.CtrlChars
      val repl = EncodingQc.ReplacementChar
      val ctrlLit = "\u0001\u0007"
      s"""WITH planted AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 3 THEN text || '$repl$repl'
         |      WHEN doc_id % 7 = 5 THEN text || ' ${ctrlLit}bad'
         |      WHEN doc_id % 7 = 6 THEN 'дёжà вü çöntént'
         |      WHEN doc_id % 7 = 2 THEN text || ' 😀😀😀'
         |      ELSE text END AS text
         |  FROM documents),
         |m AS (SELECT doc_id, length(text) AS nc,
         |    length(text) - length(translate(text, '$ctrl', ''))
         |      AS nctrl,
         |    length(text) - length(translate(text, '$repl', ''))
         |      AS nrepl,
         |    length(text) - length(regexp_replace(text,
         |      '[^\\x00-\\x7f]', '', 'g')) AS nna
         |  FROM planted)
         |SELECT doc_id, CAST(nc AS INTEGER) AS n_chars,
         |  CAST(nctrl AS INTEGER) AS n_ctrl,
         |  CAST(nrepl AS INTEGER) AS n_repl,
         |  CAST(nna AS INTEGER) AS n_nonascii,
         |  round(CAST(nna AS DOUBLE) / greatest(nc, 1), 6)
         |    AS nonascii_ratio,
         |  CASE WHEN nctrl > 0 OR nrepl > 0
         |    OR round(CAST(nna AS DOUBLE) / greatest(nc, 1), 6)
         |      > 0.3::DOUBLE
         |    THEN 'flag' ELSE 'keep' END AS verdict
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "aug1_word_dropout" -> {
      import graft.functions.PortableHash
      val h = PortableHash.hash60Sql("'aug'",
        "CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR) || ':0'")
      s"""WITH $toksCte,
         |k AS (SELECT doc_id, toks,
         |    list_filter(toks, (t, i) -> ($h) % 10 <> 0) AS kept
         |  FROM tok)
         |SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_orig,
         |  CAST(len(kept) AS INTEGER) AS n_kept,
         |  sha256(coalesce(array_to_string(kept, ' '), ''))
         |    AS aug_sha256
         |FROM k ORDER BY doc_id""".stripMargin
    },

    "html1_main_content" -> {
      import graft.text.HtmlExtract
      val ats = (e: String) => s"coalesce(array_to_string($e, ' '), '')"
      s"""WITH tok AS (SELECT doc_id, string_split($normDoc, ' ') AS toks
         |    FROM documents),
         |pg AS (SELECT doc_id,
         |    '<div><a href="/">' || toks[1] || '</a> <a href="/x">'
         |      || toks[2] || '</a></div>'
         |    || '<li><a href="/a">' || ${ats("toks[1:3]")}
         |      || '</a> <a href="/b">' || ${ats("toks[4:6]")} || '</a></li>'
         |    || '<p>' || ${ats("toks[3:17]")} || '</p>'
         |    || '<p>' || ${ats("toks[18:27]")} || ' <a href="#">'
         |      || toks[1] || '</a></p>'
         |    || '<div><a>' || toks[2] || '</a> menu</div>' AS html
         |  FROM tok),
         |bl AS (SELECT doc_id,
         |    unnest(string_split_regex(html, '${HtmlExtract.BlockCloseRe}'))
         |      AS b,
         |    unnest(range(1,
         |      len(string_split_regex(html, '${HtmlExtract.BlockCloseRe}'))
         |        + 1)) AS i
         |  FROM pg),
         |per AS (SELECT doc_id, i,
         |    trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' ', 'g'),
         |      ' +', ' ', 'g')) AS v,
         |    coalesce(CAST(list_aggregate(list_transform(
         |      regexp_extract_all(b, '${HtmlExtract.AnchorRe}', 1),
         |      s -> len(s)), 'sum') AS INTEGER), 0) AS ac
         |  FROM bl),
         |pw AS (SELECT doc_id, i, v, ac,
         |    CAST(len(string_split(v, ' ')) AS INTEGER) AS w
         |  FROM per WHERE v <> ''),
         |kept AS (SELECT * FROM pw WHERE w >= 5
         |  AND CAST(ac AS DOUBLE) / greatest(len(v), 1) <= 0.33::DOUBLE),
         |nb AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_blocks
         |  FROM pw GROUP BY doc_id),
         |ka AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_kept,
         |    CAST(sum(w) AS INTEGER) AS n_words_kept,
         |    string_agg(v, chr(10) ORDER BY i) AS main_text
         |  FROM kept GROUP BY doc_id)
         |SELECT nb.doc_id, nb.n_blocks, coalesce(ka.n_kept, 0) AS n_kept,
         |  coalesce(ka.n_words_kept, 0) AS n_words_kept,
         |  coalesce(ka.main_text, '') AS main_text
         |FROM nb LEFT JOIN ka ON ka.doc_id = nb.doc_id
         |ORDER BY nb.doc_id""".stripMargin
    },

    "d7_containment" ->
      s"""WITH qd AS (SELECT doc_id + $QuoteIdOffset AS doc_id,
         |    array_to_string((string_split($normDoc, ' '))[1:12], ' ') AS text
         |  FROM documents WHERE doc_id % 9 = 4),
         |ad AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id, text FROM qd),
         |tok AS (SELECT doc_id, string_split(${normalizeSql("text")}, ' ')
         |    AS toks FROM ad),
         |sh AS (SELECT doc_id, unnest(${shinglesSql("toks", ShingleK)})
         |    AS shingle FROM tok WHERE len(toks) >= $ShingleK),
         |pairs AS (SELECT doc_id + $QuoteIdOffset AS a, doc_id AS b
         |  FROM documents WHERE doc_id % 9 = 4),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |  FROM sh GROUP BY doc_id),
         |inter AS (SELECT p.a, p.b, CAST(count(*) AS BIGINT) AS i
         |  FROM pairs p JOIN sh s1 ON s1.doc_id = p.a
         |  JOIN sh s2 ON s2.doc_id = p.b AND s2.shingle = s1.shingle
         |  GROUP BY p.a, p.b)
         |SELECT p.a, p.b, CAST(coalesce(i.i, 0) AS BIGINT) AS inter,
         |  na.n AS na, nb.n AS nb,
         |  round(CAST(coalesce(i.i, 0) AS DOUBLE) / na.n, 6)
         |    AS containment_a,
         |  round(CAST(coalesce(i.i, 0) AS DOUBLE) / nb.n, 6)
         |    AS containment_b
         |FROM pairs p LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
         |JOIN sizes na ON na.doc_id = p.a
         |JOIN sizes nb ON nb.doc_id = p.b
         |ORDER BY p.a""".stripMargin,

    "ar1_ann_recall" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec
         |    FROM embeddings WHERE vec_id IN (0, 1, 2)),
         |scored AS (SELECT q.qid, e.vec_id AS id, $cosSql AS sim
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
         |exact AS (SELECT qid, id FROM (SELECT qid, id,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id)
         |      AS rank FROM scored) WHERE rank <= 10),
         |qs AS (SELECT qid, qvec,
         |    ${signBucketSql("qvec", 4)} AS bucket0 FROM q),
         |flips(f) AS (VALUES (0::BIGINT), (1), (2), (4), (8)),
         |probes AS (SELECT qid, qvec, xor(bucket0, f) AS bucket
         |  FROM qs, flips),
         |corpus AS (SELECT vec_id AS id, embedding AS vec,
         |    ${signBucketSql("embedding", 4)} AS bucket FROM embeddings),
         |cand AS (SELECT p.qid, c.id,
         |    ${VectorFunctions.cosineSql("c.vec", "p.qvec")} AS sim
         |  FROM corpus c JOIN probes p ON p.bucket = c.bucket
         |  WHERE c.id <> p.qid),
         |approx AS (SELECT qid, id FROM (SELECT qid, id,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id)
         |      AS rank FROM cand) WHERE rank <= 10)
         |SELECT e.qid, CAST(count(*) AS BIGINT) AS k,
         |  CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS hits,
         |  round(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END)
         |    / count(*), 6) AS recall_at_k
         |FROM exact e LEFT JOIN approx a ON a.qid = e.qid AND a.id = e.id
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,

    "a2_knn_bucketed" ->
      s"""WITH qs AS (SELECT vec_id AS qid, embedding AS qvec,
         |    ${signBucketSql("embedding", 4)} AS bucket0
         |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
         |flips(f) AS (VALUES (0::BIGINT), (1), (2), (4), (8)),
         |probes AS (SELECT qid, qvec, xor(bucket0, f) AS bucket
         |  FROM qs, flips),
         |corpus AS (SELECT vec_id AS id, embedding AS vec,
         |    ${signBucketSql("embedding", 4)} AS bucket FROM embeddings),
         |cand AS (SELECT p.qid, c.id,
         |    ${VectorFunctions.cosineSql("c.vec", "p.qvec")} AS sim
         |  FROM corpus c JOIN probes p ON p.bucket = c.bucket
         |  WHERE c.id <> p.qid),
         |ranked AS (SELECT qid, id, sim,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id)
         |      AS INTEGER) AS rank
         |  FROM cand)
         |SELECT qid, id, round(sim, 6) AS sim, rank
         |FROM ranked WHERE rank <= 10""".stripMargin,

    "pi1_pii_scrub" -> {
      val counts = graft.text.Scrub.PiiPatterns.map { case (kind, rx, _) =>
        s"CAST(len(regexp_extract_all(text, '$rx')) AS INTEGER) AS n_$kind"
      }.mkString(",\n|  ")
      val redacted = graft.text.Scrub.PiiPatterns.foldLeft("text") {
        case (acc, (_, rx, repl)) => s"regexp_replace($acc, '$rx', '$repl', 'g')"
      }
      s"""WITH pii AS (SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0
         |        THEN text || ' contact u' || doc_id || '@example.com now'
         |      WHEN doc_id % 5 = 1
         |        THEN text || ' from 10.0.' || (doc_id % 250)
         |          || '.7 and 999-88-7777'
         |      WHEN doc_id % 5 = 2
         |        THEN text || ' call +1 555 01' || (doc_id % 90) || '9 today'
         |      ELSE text END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  $counts,
         |  sha256($redacted) AS redacted_sha
         |FROM pii ORDER BY doc_id""".stripMargin
    },

    "rp1_repetition" ->
      s"""WITH ls AS (SELECT doc_id, text,
         |    string_split(text, chr(10)) AS lines FROM documents),
         |base AS (SELECT doc_id, text,
         |    CAST(len(lines) AS INTEGER) AS n_lines,
         |    CAST(len(list_distinct(lines)) AS INTEGER) AS n_distinct_lines
         |  FROM ls),
         |tok AS (SELECT doc_id, string_split($normDoc, ' ') AS toks
         |  FROM base),
         |bg AS (SELECT doc_id, unnest(list_transform(toks[2:],
         |    (b, i) -> toks[i] || ' ' || b)) AS bg FROM tok),
         |cnt AS (SELECT doc_id, bg, count(*) AS c FROM bg
         |  GROUP BY doc_id, bg),
         |top AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / SUM(c) AS tbf
         |  FROM cnt GROUP BY doc_id)
         |SELECT b.doc_id, b.n_lines, b.n_distinct_lines,
         |  round(CASE WHEN b.n_lines > 1
         |    THEN CAST(b.n_lines - b.n_distinct_lines AS DOUBLE) / b.n_lines
         |    ELSE 0.0 END, 6) AS dup_line_frac,
         |  round(coalesce(t.tbf, 0.0), 6) AS top_bigram_frac
         |FROM base b LEFT JOIN top t USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin,

    "pd1_para_dedup" ->
      s"""WITH $toksCte,
         |$paraFixtureCtes,
         |first AS (SELECT doc_id, para_idx, para FROM (
         |    SELECT *, row_number() OVER (PARTITION BY para
         |      ORDER BY doc_id, para_idx) AS rn
         |    FROM p WHERE para <> '') WHERE rn = 1),
         |kept AS (SELECT * FROM first
         |  UNION ALL SELECT doc_id, para_idx, para FROM p WHERE para = ''),
         |rb AS (SELECT doc_id,
         |    string_agg(para, chr(10) ORDER BY para_idx) AS kept_text,
         |    CAST(count(*) AS INTEGER) AS n_kept
         |  FROM kept GROUP BY doc_id)
         |SELECT px.doc_id, CAST(len(paras) AS INTEGER) AS n_paras,
         |  coalesce(n_kept, 0) AS n_kept,
         |  sha256(coalesce(kept_text, '')) AS kept_sha
         |FROM px LEFT JOIN rb USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "bp1_boiler_lines" ->
      s"""WITH $toksCte,
         |$paraFixtureCtes,
         |bdf AS (SELECT para, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM p WHERE para <> '' GROUP BY para),
         |boiler AS (SELECT para FROM bdf WHERE df >= $MinDocsBoiler),
         |kept AS (SELECT doc_id, para_idx, para FROM p
         |  WHERE NOT EXISTS (SELECT 1 FROM boiler b WHERE b.para = p.para)),
         |rb AS (SELECT doc_id,
         |    string_agg(para, chr(10) ORDER BY para_idx) AS kept_text,
         |    CAST(count(*) AS INTEGER) AS n_kept
         |  FROM kept GROUP BY doc_id)
         |SELECT px.doc_id, CAST(len(paras) AS INTEGER) AS n_lines,
         |  coalesce(n_kept, 0) AS n_kept,
         |  sha256(coalesce(kept_text, '')) AS kept_sha
         |FROM px LEFT JOIN rb USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "tt1_split_profile" ->
      s"""WITH $toksCte,
         |dd AS (SELECT doc_id, doc_id % $SplitDomains AS domain,
         |    CAST(len(toks) AS BIGINT) AS n_tokens
         |  FROM tok),
         |sp AS (SELECT domain, n_tokens,
         |    ${graft.text.Splits.assignSql("domain", SplitLayout)} AS split
         |  FROM dd)
         |SELECT split, domain, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS tok_sum
         |FROM sp GROUP BY split, domain
         |ORDER BY split, domain""".stripMargin,

    "cp1_corpus_pipeline" ->
      s"""WITH $toksCte,
         |$paraFixtureCtes,
         |ex AS (SELECT doc_id, paras FROM px
         |  UNION ALL
         |  SELECT doc_id + $DupIdOffset, paras FROM px WHERE doc_id % 5 = 0),
         |pl AS (SELECT doc_id, i AS line_idx, paras[i] AS line
         |  FROM ex, unnest(generate_series(1, len(paras))) AS t(i)),
         |boiler AS (SELECT line FROM (
         |    SELECT line, count(DISTINCT doc_id) AS df
         |    FROM pl WHERE line <> '' GROUP BY line) WHERE df >= $MinDocsBoiler),
         |kept AS (SELECT doc_id, line_idx, line FROM pl
         |  WHERE NOT EXISTS (SELECT 1 FROM boiler b WHERE b.line = pl.line)),
         |rb AS (SELECT doc_id,
         |    string_agg(line, chr(10) ORDER BY line_idx) AS kept_text
         |  FROM kept GROUP BY doc_id),
         |uq AS (SELECT doc_id, kept_text FROM (
         |    SELECT *, row_number() OVER (PARTITION BY kept_text
         |      ORDER BY doc_id) AS rn FROM rb) WHERE rn = 1),
         |tk AS (SELECT doc_id,
         |    CAST(len(${tokensSql("kept_text")}) AS INTEGER) AS n_tokens
         |  FROM uq),
         |fl AS (SELECT doc_id, n_tokens, doc_id % $SplitDomains AS domain
         |  FROM tk WHERE n_tokens >= $MinPipeTokens),
         |tr AS (SELECT doc_id, n_tokens FROM fl
         |  WHERE ${graft.text.Splits.assignSql("domain", SplitLayout)} = 'train'),
         |c2 AS (SELECT doc_id, n_tokens,
         |    CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS tok_offset
         |  FROM tr WHERE n_tokens > 0),
         |b2 AS (SELECT doc_id, n_tokens, tok_offset,
         |    unnest(generate_series(tok_offset // 64,
         |      (tok_offset + n_tokens - 1) // 64)) AS block_id
         |  FROM c2)
         |SELECT doc_id, n_tokens, tok_offset, block_id,
         |  CAST(least(tok_offset + n_tokens, (block_id + 1) * 64)
         |    - greatest(tok_offset, block_id * 64) AS BIGINT) AS seg_tokens
         |FROM b2 ORDER BY doc_id, block_id""".stripMargin,

    "ng1_novelty" ->
      s"""WITH $toksCte, $shCte,
         |sdf AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
         |  FROM sh GROUP BY shingle)
         |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_shingles,
         |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unique,
         |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS novelty
         |FROM sh JOIN sdf USING (shingle)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "pm1_pmi_pairs" ->
      s"""WITH $toksCte,
         |pr AS (SELECT toks[i] AS a, toks[i + 1] AS b FROM (
         |    SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
         |    FROM tok WHERE len(toks) > 1)
         |  UNION ALL
         |  SELECT toks[i] AS a, toks[i + 2] AS b FROM (
         |    SELECT toks, unnest(generate_series(1, len(toks) - 2)) AS i
         |    FROM tok WHERE len(toks) > 2)),
         |cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
         |  FROM pr GROUP BY a, b),
         |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS u FROM
         |  (SELECT unnest(toks) AS t FROM tok) GROUP BY t),
         |tt AS (SELECT CAST(sum(u) AS BIGINT) AS ttok FROM uni),
         |tp AS (SELECT CAST(sum(c) AS BIGINT) AS tpair FROM cab),
         |scored AS (SELECT a, b, c AS n_pairs,
         |    CAST(floor(ln((c::DOUBLE * ttok * ttok)
         |      / (tpair::DOUBLE * ua.u * ub.u)) * 1000000) AS BIGINT)
         |      AS pmi_micro
         |  FROM cab JOIN uni ua ON cab.a = ua.t
         |  JOIN uni ub ON cab.b = ub.t
         |  CROSS JOIN tt CROSS JOIN tp
         |  WHERE c >= 5)
         |SELECT a, b, n_pairs, pmi_micro FROM scored
         |ORDER BY pmi_micro DESC, a, b LIMIT 50""".stripMargin,

    "w2v1_ppmi_neighbors" -> {
      val probeList = W2vProbes.map(p => s"'$p'").mkString(", ")
      s"""WITH $toksCte,
         |pr AS (SELECT toks[i] AS a, toks[i + 1] AS b FROM (
         |    SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
         |    FROM tok WHERE len(toks) > 1)
         |  UNION ALL
         |  SELECT toks[i] AS a, toks[i + 2] AS b FROM (
         |    SELECT toks, unnest(generate_series(1, len(toks) - 2)) AS i
         |    FROM tok WHERE len(toks) > 2)),
         |cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
         |  FROM pr GROUP BY a, b),
         |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS u FROM
         |  (SELECT unnest(toks) AS t FROM tok) GROUP BY t),
         |tt AS (SELECT CAST(sum(u) AS BIGINT) AS ttok FROM uni),
         |tp AS (SELECT CAST(sum(c) AS BIGINT) AS tpair FROM cab),
         |scored AS (SELECT a, b,
         |    CAST(floor(ln((c::DOUBLE * ttok * ttok)
         |      / (tpair::DOUBLE * ua.u * ub.u)) * 1000000) AS BIGINT)
         |      AS pmi_micro
         |  FROM cab JOIN uni ua ON cab.a = ua.t
         |  JOIN uni ub ON cab.b = ub.t
         |  CROSS JOIN tt CROSS JOIN tp
         |  WHERE c >= 5),
         |ppv AS (SELECT a, b, greatest(pmi_micro, 0) AS x FROM scored
         |  WHERE pmi_micro > 0),
         |vec AS (SELECT w, c, CAST(max(x) AS BIGINT) AS x FROM (
         |    SELECT a AS w, b AS c, x FROM ppv
         |    UNION ALL SELECT b, a, x FROM ppv) GROUP BY w, c),
         |norms AS (SELECT w, CAST(sum(x * x) AS BIGINT) AS n2
         |  FROM vec GROUP BY w),
         |pv AS (SELECT w AS p, c, x AS xp FROM vec
         |  WHERE w IN ($probeList)),
         |dots AS (SELECT pv.p, v.w, CAST(sum(pv.xp * v.x) AS BIGINT)
         |      AS dot
         |  FROM pv JOIN vec v USING (c) WHERE v.w <> pv.p
         |  GROUP BY pv.p, v.w),
         |cs AS (SELECT d.p, d.w, d.dot,
         |    d.dot::DOUBLE / (sqrt(np.n2::DOUBLE) * sqrt(nw.n2::DOUBLE))
         |      AS cosr
         |  FROM dots d JOIN norms np ON np.w = d.p
         |  JOIN norms nw ON nw.w = d.w),
         |rk AS (SELECT p, w, dot, cosr,
         |    CAST(row_number() OVER (PARTITION BY p
         |      ORDER BY cosr DESC, w) AS INTEGER) AS rank
         |  FROM cs)
         |SELECT p, w AS neighbor, dot, round(cosr, 6) AS cos, rank
         |FROM rk WHERE rank <= 5 ORDER BY p, rank""".stripMargin
    },

    "vc1_vocab_coverage" ->
      s"""WITH $toksCte,
         |occ AS (SELECT doc_id, unnest(toks) AS t FROM tok),
         |top AS (SELECT t, 1 AS iv FROM (
         |    SELECT t, count(*) AS c FROM occ GROUP BY t
         |    ORDER BY c DESC, t LIMIT 1000)),
         |j AS (SELECT doc_id, coalesce(iv, 0) AS iv
         |  FROM occ LEFT JOIN top USING (t))
         |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_tokens,
         |  CAST(sum(iv) AS BIGINT) AS n_inv,
         |  round(CAST(count(*) - sum(iv) AS DOUBLE) / count(*), 6)
         |    AS oov_rate
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "cd1_corpus_diff" ->
      s"""WITH cur AS (SELECT doc_id, sha256(text) AS ch, source AS cs
         |  FROM documents),
         |prev AS (SELECT doc_id,
         |    sha256(CASE WHEN doc_id % 17 = 0 THEN text || ' v2'
         |      ELSE text END) AS ph, source AS ps
         |  FROM documents WHERE doc_id % 13 <> 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, sha256(text), source
         |  FROM documents WHERE doc_id % 19 = 0),
         |cmp AS (SELECT coalesce(cs, ps) AS source,
         |    CASE WHEN ph IS NULL THEN 'added'
         |      WHEN ch IS NULL THEN 'removed'
         |      WHEN ch <> ph THEN 'changed'
         |      ELSE 'unchanged' END AS status
         |  FROM cur FULL OUTER JOIN prev USING (doc_id))
         |SELECT source, status, CAST(count(*) AS BIGINT) AS n
         |FROM cmp GROUP BY source, status
         |ORDER BY source, status""".stripMargin,

    "sg1_stratified_sample" ->
      s"""SELECT source, doc_id, rk FROM (
         |  SELECT source, doc_id,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY ${PortableHash.hash60Sql("5", "CAST(doc_id AS VARCHAR)")},
         |        doc_id) AS INTEGER) AS rk
         |  FROM documents)
         |WHERE rk <= 5 ORDER BY source, rk""".stripMargin,

    "nt1_length_deciles" ->
      s"""WITH $toksCte,
         |t AS (SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens
         |  FROM tok),
         |r AS (SELECT doc_id, n_tokens,
         |    row_number() OVER (ORDER BY n_tokens, doc_id) AS rn,
         |    (SELECT count(*) FROM t) AS nn
         |  FROM t),
         |dq AS (SELECT n_tokens,
         |    CAST(((rn - 1) * 10) // nn + 1 AS INTEGER) AS decile FROM r)
         |SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(min(n_tokens) AS INTEGER) AS min_tok,
         |  CAST(max(n_tokens) AS INTEGER) AS max_tok,
         |  CAST(sum(n_tokens) AS BIGINT) AS tok_sum
         |FROM dq GROUP BY decile ORDER BY decile""".stripMargin,

    "pk1_seq_packing" ->
      s"""WITH $toksCte,
         |t AS (SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens
         |  FROM tok WHERE len(toks) > 0),
         |c AS (SELECT doc_id, n_tokens,
         |    CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS tok_offset
         |  FROM t),
         |b AS (SELECT doc_id, n_tokens, tok_offset,
         |    unnest(generate_series(tok_offset // 64,
         |      (tok_offset + n_tokens - 1) // 64)) AS block_id
         |  FROM c)
         |SELECT doc_id, n_tokens, tok_offset, block_id,
         |  CAST(least(tok_offset + n_tokens, (block_id + 1) * 64)
         |    - greatest(tok_offset, block_id * 64) AS BIGINT) AS seg_tokens
         |FROM b ORDER BY doc_id, block_id""".stripMargin,

    "mx1_domain_mix" ->
      s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS dom_n
         |  FROM documents GROUP BY lang),
         |t AS (SELECT CAST(sum(dom_n) AS BIGINT) AS total,
         |    CAST(count(*) AS BIGINT) AS doms FROM c)
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN c USING (lang) CROSS JOIN t
         |WHERE ((d.doc_id * ${graft.text.Mixing.Mult}
         |    + ${graft.text.Mixing.Add}) % ${graft.text.Mixing.Modulus})
         |  * doms * dom_n < ${graft.text.Mixing.Modulus} * total
         |ORDER BY d.doc_id""".stripMargin,

    "ce1_domain_drift" ->
      s"""WITH occ AS (SELECT source, unnest(string_split($normDoc, ' '))
         |    AS t FROM documents),
         |dc AS (SELECT source, t, CAST(count(*) AS BIGINT) AS cd
         |  FROM occ GROUP BY source, t),
         |cc AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM occ
         |  GROUP BY t),
         |dt AS (SELECT source, CAST(count(*) AS BIGINT) AS nd FROM occ
         |  GROUP BY source),
         |tt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM occ),
         |q AS (SELECT d.source, d.cd,
         |    CAST(floor(ln((d.cd * tt.n)::DOUBLE / (cc.c * dt.nd))
         |      * 1000000) AS BIGINT) AS qn
         |  FROM dc d JOIN cc USING (t) JOIN dt USING (source)
         |  CROSS JOIN tt)
         |SELECT q.source, dt.nd AS n_tokens,
         |  CAST(count(*) AS INTEGER) AS vocab,
         |  CAST(sum(q.cd * q.qn) AS BIGINT) AS sum_micro_nats,
         |  round(CAST(sum(q.cd * q.qn) AS DOUBLE) / dt.nd / 1000000, 6)
         |    AS kl_nats
         |FROM q JOIN dt USING (source) GROUP BY q.source, dt.nd
         |ORDER BY source""".stripMargin,

    "ed1_embedding_drift" ->
      s"""WITH tagged AS (SELECT d.source, e.embedding FROM embeddings e
         |  JOIN documents d ON d.doc_id = e.vec_id),
         |px AS (SELECT source, CAST(i AS INTEGER) AS pos,
         |    embedding[CAST(i AS INTEGER) + 1] AS e
         |  FROM (SELECT source, embedding, unnest(range(0, 64)) AS i
         |    FROM tagged)),
         |per AS (SELECT source, pos,
         |    CAST(sum(CAST(floor(CAST(e AS DOUBLE) * 1000000) AS BIGINT))
         |      AS BIGINT) AS sq,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM px GROUP BY source, pos),
         |dom AS (SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
         |    list(CAST(CAST(sq AS DOUBLE) / (n * 1000000) AS FLOAT)
         |      ORDER BY pos) AS dvec
         |  FROM per GROUP BY source),
         |corp AS (SELECT list(CAST(CAST(csq AS DOUBLE) / (cn * 1000000)
         |      AS FLOAT) ORDER BY pos) AS cvec
         |  FROM (SELECT pos, sum(sq) AS csq, sum(n) AS cn FROM per
         |    GROUP BY pos))
         |SELECT source, n_docs,
         |  round(${VectorFunctions.cosineSql("dvec", "cvec")}, 6)
         |    AS centroid_sim
         |FROM dom CROSS JOIN corp ORDER BY source""".stripMargin,

    "un1_unigram_lm" ->
      s"""WITH $toksCte,
         |occ AS (SELECT doc_id, unnest(toks) AS t FROM tok),
         |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt
         |  FROM occ GROUP BY t),
         |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM uni),
         |q AS (SELECT doc_id,
         |    CAST(floor(ln(cnt::DOUBLE / total) * 1000000) AS BIGINT) AS qn
         |  FROM occ JOIN uni USING (t) CROSS JOIN tt)
         |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_tokens,
         |  CAST(sum(qn) AS BIGINT) AS sum_micro_nats,
         |  round(CAST(sum(qn) AS DOUBLE) / count(*) / 1000000, 6)
         |    AS avg_logprob
         |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "sb1_stupid_backoff" ->
      s"""WITH $toksCte,
         |bgall AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM (
         |    SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
         |    FROM tok WHERE len(toks) >= 2)),
         |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt2
         |  FROM bgall WHERE doc_id % 11 = 0 GROUP BY w1, w2),
         |c1 AS (SELECT w1, CAST(sum(cnt2) AS BIGINT) AS cnt1
         |  FROM c2 GROUP BY w1),
         |occ AS (SELECT unnest(toks) AS t FROM tok WHERE doc_id % 11 = 0),
         |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS cu
         |  FROM occ GROUP BY t),
         |tt AS (SELECT CAST(count(*) AS BIGINT) AS total,
         |    CAST(count(DISTINCT t) AS BIGINT) AS vocab FROM occ),
         |fg AS (SELECT doc_id, w1, w2 FROM bgall WHERE doc_id % 11 = 1),
         |q AS (SELECT f.doc_id,
         |    CASE WHEN c2.cnt2 IS NOT NULL
         |      THEN CAST(floor(ln(c2.cnt2::DOUBLE / c1.cnt1) * 1000000)
         |        AS BIGINT)
         |      ELSE CAST(floor(ln(0.4::DOUBLE
         |        * (coalesce(u.cu, 0) + 1)::DOUBLE
         |        / (tt.total + tt.vocab)) * 1000000) AS BIGINT) END AS qn,
         |    c2.cnt2 IS NULL AS backed_off
         |  FROM fg f
         |  LEFT JOIN c2 ON c2.w1 = f.w1 AND c2.w2 = f.w2
         |  LEFT JOIN c1 ON c1.w1 = f.w1
         |  LEFT JOIN uni u ON u.t = f.w2
         |  CROSS JOIN tt)
         |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_bigrams,
         |  CAST(sum(CASE WHEN backed_off THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_backoffs,
         |  CAST(sum(qn) AS BIGINT) AS sum_micro_nats,
         |  round(CAST(sum(qn) AS DOUBLE) / count(*) / 1000000, 6)
         |    AS avg_logprob
         |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ccn1_perplexity_buckets" ->
      s"""WITH $toksCte,
         |occ AS (SELECT doc_id, unnest(toks) AS t FROM tok),
         |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt
         |  FROM occ GROUP BY t),
         |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM uni),
         |q AS (SELECT doc_id,
         |    CAST(floor(ln(cnt::DOUBLE / total) * 1000000) AS BIGINT) AS qn
         |  FROM occ JOIN uni USING (t) CROSS JOIN tt),
         |sc0 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(qn) AS BIGINT) AS smn FROM q GROUP BY doc_id),
         |sc AS (SELECT doc_id,
         |    CAST((-smn * 1000) // n_tokens AS BIGINT) AS qpd FROM sc0),
         |th AS (SELECT quantile_cont(qpd, 0.33) AS t_low,
         |    quantile_cont(qpd, 0.66) AS t_high FROM sc),
         |b AS (SELECT doc_id, qpd,
         |    CASE WHEN qpd <= t_low THEN 'head'
         |      WHEN qpd <= t_high THEN 'middle'
         |      ELSE 'tail' END AS bucket
         |  FROM sc CROSS JOIN th)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(qpd) AS min_qpd, max(qpd) AS max_qpd
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "bg1_bigram_lm" ->
      s"""WITH $toksCte,
         |bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM (
         |    SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
         |    FROM tok WHERE len(toks) >= 2)),
         |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt2
         |  FROM bg GROUP BY w1, w2),
         |c1 AS (SELECT w1, CAST(sum(cnt2) AS BIGINT) AS cnt1
         |  FROM c2 GROUP BY w1),
         |v AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS vocab
         |  FROM (SELECT unnest(toks) AS t FROM tok)),
         |q AS (SELECT doc_id,
         |    CAST(floor(ln((cnt2::DOUBLE + 1) / (cnt1 + vocab)) * 1000000)
         |      AS BIGINT) AS qn
         |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
         |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_bigrams,
         |  CAST(sum(qn) AS BIGINT) AS sum_micro_nats,
         |  round(CAST(sum(qn) AS DOUBLE) / count(*) / 1000000, 6)
         |    AS avg_logprob
         |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "sh1_shuffle_order" ->
      s"""WITH k AS (SELECT doc_id,
         |    (doc_id * ${graft.text.Mixing.Mult}
         |      + ${graft.text.Mixing.Add}) % ${graft.text.Mixing.Modulus}
         |      AS shuffle_key
         |  FROM documents)
         |SELECT doc_id, shuffle_key,
         |  CAST(row_number() OVER (ORDER BY shuffle_key, doc_id)
         |    AS BIGINT) AS shuffle_rank
         |FROM k ORDER BY doc_id""".stripMargin,

    "il1_interleave" ->
      s"""WITH h AS (SELECT doc_id, source,
         |    (doc_id * ${graft.text.Mixing.Mult}
         |      + ${graft.text.Mixing.Add}) % ${graft.text.Mixing.Modulus}
         |      AS hk
         |  FROM documents),
         |c AS (SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source ORDER BY hk, doc_id)
         |      AS cycle
         |  FROM h)
         |SELECT CAST(row_number() OVER (ORDER BY cycle, source, doc_id)
         |    AS BIGINT) AS pos,
         |  doc_id, source, CAST(cycle AS INTEGER) AS cycle
         |FROM c ORDER BY pos""".stripMargin,

    // cu1: quantile_cont floors (R-7 ≡ Spark exact percentile, the pf1
    // parity), epoch fan-out as a >=-join against the 4 floors,
    // per-epoch positions via tie-deterministic windows.
    "cu1_curriculum" ->
      s"""WITH src AS (SELECT doc_id AS id, CAST(n_chars AS DOUBLE)
         |    AS score FROM documents),
         |q AS (SELECT quantile_cont(score, [0.0, 0.25, 0.5, 0.75]) AS fs
         |  FROM src),
         |es AS (SELECT unnest(range(0, 4)) AS epoch),
         |fl AS (SELECT e.epoch, q.fs[CAST(e.epoch AS INTEGER) + 1] AS fl
         |  FROM es e CROSS JOIN q),
         |kept AS (SELECT f.epoch, s.id FROM src s
         |  JOIN fl f ON s.score >= f.fl),
         |keyed AS (SELECT epoch, id,
         |    ((id + epoch * 7919) * ${graft.text.Mixing.Mult}
         |      + ${graft.text.Mixing.Add}) % ${graft.text.Mixing.Modulus}
         |      AS k
         |  FROM kept)
         |SELECT CAST(epoch AS INTEGER) AS epoch,
         |  CAST(row_number() OVER (PARTITION BY epoch ORDER BY k, id)
         |    AS BIGINT) AS pos,
         |  id AS doc_id
         |FROM keyed ORDER BY epoch, pos""".stripMargin,

    "pf1_length_percentiles" ->
      s"""WITH t AS (SELECT lang, n_chars,
         |    len(string_split($normDoc, ' ')) AS n_toks FROM documents)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
         |  round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
         |  round(quantile_cont(n_chars, 0.99), 6) AS p99_chars,
         |  round(quantile_cont(n_toks, 0.5), 6) AS p50_toks,
         |  round(quantile_cont(n_toks, 0.9), 6) AS p90_toks
         |FROM t GROUP BY lang ORDER BY lang""".stripMargin,

    "dd1_dup_clusters" -> ddClustersOracle,

    // same recursive-CTE mirror: connected components have a UNIQUE
    // fixpoint (cluster id = component min), so the O(log n) star-
    // contraction gate is checked against the identical oracle the
    // label-propagation gate uses — algorithm-independence is the proof
    "cc1_star_components" -> ddClustersOracle,

    "cr1_cluster_reps" -> crRepsOracle,

    "dc2_substring_decontaminate" ->
      """WITH probes AS (SELECT doc_id + 200000 AS bench_id,
        |    substr(text, 10, 50) AS probe
        |  FROM documents WHERE doc_id % 13 = 0 AND length(text) >= 60),
        |hits AS (SELECT d.doc_id, p.bench_id
        |  FROM documents d CROSS JOIN probes p
        |  WHERE contains(d.text, p.probe))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        |  CAST(min(bench_id) AS BIGINT) AS first_bench_id
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dre1_dedup_recall" ->
      s"""WITH $toksCte, $shCte, $mhCte,
         |bands AS (SELECT doc_id, CAST(h // $RowsPerBand AS INTEGER) AS band,
         |    string_agg(CAST(v AS VARCHAR), ',' ORDER BY h) AS band_val
         |  FROM mh GROUP BY doc_id, band),
         |sb AS (SELECT * FROM bands WHERE doc_id < 200),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM sb x JOIN sb y
         |    ON x.band = y.band AND x.band_val = y.band_val
         |   AND x.doc_id < y.doc_id),
         |ssh AS (SELECT * FROM sh WHERE doc_id < 200),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM ssh GROUP BY doc_id),
         |inter AS (SELECT s1.doc_id AS a, s2.doc_id AS b, COUNT(*) AS i
         |  FROM ssh s1 JOIN ssh s2
         |    ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
         |  GROUP BY s1.doc_id, s2.doc_id),
         |exact AS (SELECT i.a, i.b FROM inter i
         |  JOIN sizes na ON na.doc_id = i.a
         |  JOIN sizes nb ON nb.doc_id = i.b
         |  WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i)
         |    >= 0.6::DOUBLE),
         |hit AS (SELECT e.a FROM exact e
         |  JOIN cand c ON c.a = e.a AND c.b = e.b)
         |SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
         |  CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
         |  CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
         |  CAST((SELECT count(*) FROM hit) * 1000
         |    // greatest((SELECT count(*) FROM exact), 1) AS BIGINT)
         |    AS recall_permille""".stripMargin,

    "dc3_semantic_decontaminate" ->
      s"""WITH bench AS (SELECT vec_id + 300000 AS bench_id,
         |    embedding AS bvec FROM embeddings WHERE vec_id % 25 = 7),
         |pert AS (SELECT vec_id + 400000 AS vec_id,
         |    list_concat([CAST(0.0 AS FLOAT)], embedding[2:64]) AS embedding
         |  FROM embeddings WHERE vec_id % 25 = 7),
         |mixed AS (SELECT e1.vec_id + 500000 AS vec_id,
         |    list_transform(e1.embedding, (x, i) ->
         |      (x + e2.embedding[i]) * CAST(0.5 AS FLOAT)) AS embedding
         |  FROM embeddings e1 JOIN embeddings e2
         |    ON e2.vec_id = e1.vec_id + 25
         |  WHERE e1.vec_id % 25 = 7 AND e2.vec_id % 25 = 7),
         |corp AS (SELECT vec_id, embedding FROM embeddings
         |    WHERE vec_id % 25 <> 7
         |  UNION ALL SELECT vec_id, embedding FROM pert
         |  UNION ALL SELECT vec_id, embedding FROM mixed),
         |sc AS (SELECT c.vec_id AS doc_id, b.bench_id,
         |    ${VectorFunctions.cosineSql("c.embedding", "b.bvec")} AS sim
         |  FROM corp c CROSS JOIN bench b),
         |h AS (SELECT doc_id, bench_id, sim,
         |    CAST(count(*) OVER (PARTITION BY doc_id) AS INTEGER)
         |      AS n_hits,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY sim DESC, bench_id) AS rn
         |  FROM sc WHERE sim >= 0.6::DOUBLE)
         |SELECT doc_id, n_hits, bench_id, round(sim, 6) AS sim
         |FROM h WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "lshp1_lsh_planner" ->
      """WITH ks AS (SELECT DISTINCT CAST(doc_id % 3 AS INTEGER) AS k
        |  FROM documents),
        |budgets AS (SELECT 60 + 60 * k AS max_hashes FROM ks),
        |rs AS (SELECT CAST(unnest(range(1, 33)) AS INTEGER) AS r),
        |taus(tau_micro) AS (VALUES (500000::BIGINT), (700000::BIGINT)),
        |grid AS (
        |  SELECT max_hashes, r,
        |    CAST(max_hashes // r AS INTEGER) AS b, tau_micro
        |  FROM budgets, rs, taus
        |  WHERE max_hashes % r = 0),
        |probes AS (SELECT unnest(range(1, 20)) * 50000 AS s),
        |srt AS (SELECT g.*, p.s,
        |    list_reduce(list_prepend(CAST(p.s AS BIGINT),
        |      list_transform(range(g.r - 1), i -> CAST(p.s AS BIGINT))),
        |      (a, x) -> (a * x) // 1000000) AS sr
        |  FROM grid g, probes p),
        |pc AS (SELECT max_hashes, tau_micro, b, r, s,
        |    1000000 - list_reduce(list_prepend(CAST(1000000 - sr AS BIGINT),
        |      list_transform(range(b - 1), i -> CAST(1000000 - sr AS BIGINT))),
        |      (a, x) -> (a * x) // 1000000) AS p
        |  FROM srt),
        |costs AS (SELECT max_hashes, tau_micro, b, r,
        |    CAST(SUM(CASE WHEN s < tau_micro THEN p
        |      ELSE 1000000 - p END) AS BIGINT) AS cost_micro
        |  FROM pc GROUP BY 1, 2, 3, 4),
        |ranked AS (SELECT *, row_number() OVER (
        |    PARTITION BY max_hashes, tau_micro
        |    ORDER BY cost_micro, b, r) AS rk
        |  FROM costs)
        |SELECT CAST(max_hashes AS INTEGER) AS max_hashes, tau_micro,
        |  b, r, cost_micro,
        |  CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS INTEGER) AS chosen
        |FROM ranked
        |ORDER BY max_hashes, tau_micro, b, r""".stripMargin,

    "nov1_ngram_novelty" ->
      s"""WITH tok AS (SELECT doc_id, string_split($normDoc, ' ') AS toks
         |  FROM documents),
         |ref AS (SELECT DISTINCT unnest(${shinglesSql("toks", ShingleK)})
         |    AS shingle
         |  FROM tok WHERE doc_id % 5 = 0 AND len(toks) >= $ShingleK),
         |sc AS (SELECT doc_id, unnest(${shinglesSql("toks", ShingleK)})
         |    AS shingle
         |  FROM tok WHERE doc_id % 5 <> 0 AND len(toks) >= $ShingleK),
         |j AS (SELECT sc.doc_id, sc.shingle, ref.shingle AS seen
         |  FROM sc LEFT JOIN ref USING (shingle))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN seen IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  CAST((sum(CASE WHEN seen IS NULL THEN 1 ELSE 0 END) * 1000000)
         |    // count(*) AS BIGINT) AS novelty_micro
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dc1_decontaminate" ->
      s"""WITH tok AS (SELECT doc_id, string_split($normDoc, ' ') AS toks
         |  FROM documents),
         |cg AS (SELECT DISTINCT doc_id,
         |    unnest(${TextFunctions.shinglesSql("toks", 5)}) AS shingle
         |  FROM tok WHERE len(toks) >= 5),
         |bench AS (SELECT doc_id + 100000 AS bench_id,
         |    array_to_string(list_slice(toks, 3, 12), ' ') AS btext
         |  FROM tok WHERE doc_id % 7 = 0),
         |btok AS (SELECT bench_id,
         |    string_split(${TextFunctions.normalizeSql("btext")}, ' ') AS toks
         |  FROM bench),
         |bg AS (SELECT DISTINCT bench_id,
         |    unnest(${TextFunctions.shinglesSql("toks", 5)}) AS shingle
         |  FROM btok WHERE len(toks) >= 5)
         |SELECT cg.doc_id, bg.bench_id, CAST(count(*) AS BIGINT) AS shared
         |FROM cg JOIN bg USING (shingle)
         |GROUP BY cg.doc_id, bg.bench_id
         |HAVING count(*) >= 3
         |ORDER BY doc_id, bench_id""".stripMargin,

    "sa1_dup_spans" ->
      s"""WITH tok AS (SELECT doc_id, ${TextFunctions.tokensSql("text")} AS toks
         |  FROM documents),
         |base AS (SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens, toks
         |  FROM tok),
         |hsh AS (SELECT doc_id, n_tokens,
         |    list_transform(toks, t -> ${PortableHash.hash60Sql("'tok'", "t")})
         |      AS th
         |  FROM base WHERE n_tokens >= $SpanN),
         |pos AS (SELECT doc_id, th,
         |    unnest(range(1, n_tokens - ${SpanN - 2})) AS i
         |  FROM hsh),
         |occ AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
         |    ${PortableHash.windowHash60Sql("th", "i", SpanN)} AS g
         |  FROM pos),
         |dup AS (SELECT g FROM occ GROUP BY g HAVING count(*) > 1),
         |win AS (SELECT doc_id, pos, pos + $SpanN AS e,
         |    max(pos + $SpanN) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
         |  FROM occ JOIN dup USING (g)),
         |cov AS (SELECT doc_id,
         |    CAST(sum(greatest(0, e - greatest(pos, coalesce(pe, pos))))
         |      AS BIGINT) AS dup_positions
         |  FROM win GROUP BY doc_id)
         |SELECT b.doc_id, b.n_tokens,
         |  coalesce(c.dup_positions, 0) AS dup_positions,
         |  CASE WHEN b.n_tokens = 0 THEN 0.0
         |    ELSE round(coalesce(c.dup_positions, 0) / b.n_tokens, 6)
         |  END AS dup_fraction
         |FROM base b LEFT JOIN cov c USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin,

    "lb1_length_batches" ->
      s"""WITH tok AS (SELECT doc_id,
         |    CAST(len(${TextFunctions.tokensSql("text")}) AS INTEGER)
         |      AS n_tokens
         |  FROM documents),
         |p AS (SELECT doc_id, n_tokens,
         |    CAST(row_number() OVER (ORDER BY n_tokens, doc_id)
         |      AS BIGINT) AS cum
         |  FROM tok)
         |SELECT CAST((cum - 1) // 32 AS BIGINT) AS batch_id,
         |  CAST(COUNT(*) AS INTEGER) AS n_docs,
         |  MAX(n_tokens) AS max_len,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(CAST(MAX(n_tokens) AS BIGINT) * COUNT(*)
         |    - SUM(n_tokens) AS BIGINT) AS pad_waste
         |FROM p GROUP BY 1 ORDER BY batch_id""".stripMargin,

    "drm1_doremi_weights" ->
      s"""WITH e AS (SELECT doc_id % 8 AS domain,
         |    GREATEST(0,
         |      (${PortableHash.hash60Sql("11", "text")} % 1000000) -
         |      (${PortableHash.hash60Sql("13", "text")} % 1000000))
         |      AS excess
         |  FROM documents),
         |a AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(excess) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
         |      AS avg_excess_micro
         |  FROM e GROUP BY domain),
         |w0 AS (SELECT a.*,
         |    1000000 // (SELECT COUNT(*) FROM a) AS weight FROM a),
         |r1 AS (SELECT *, weight
         |    + (((weight * 100000) // 1000000) * avg_excess_micro)
         |      // 1000000 AS w_raw FROM w0),
         |w1 AS (SELECT domain, n_docs, avg_excess_micro,
         |    (w_raw * 1000000) // (SELECT SUM(w_raw) FROM r1) AS weight
         |  FROM r1),
         |r2 AS (SELECT *, weight
         |    + (((weight * 100000) // 1000000) * avg_excess_micro)
         |      // 1000000 AS w_raw FROM w1),
         |w2 AS (SELECT domain, n_docs, avg_excess_micro,
         |    (w_raw * 1000000) // (SELECT SUM(w_raw) FROM r2) AS weight
         |  FROM r2)
         |SELECT CAST(domain AS BIGINT) AS domain, n_docs,
         |  avg_excess_micro,
         |  CAST(weight AS BIGINT) AS weight_micro
         |FROM w2 ORDER BY domain""".stripMargin,

    "ir1_dsir_weights" -> {
      val b = DsirBuckets
      s"""WITH tok AS (SELECT doc_id, lang = 'en' AS is_target,
         |    ${TextFunctions.tokensSql("text")} AS toks
         |  FROM documents),
         |occ AS (SELECT doc_id, is_target, unnest(list_concat(
         |    list_transform(toks, f -> ${PortableHash.hash60Sql("'dsir'", "f")} % $b),
         |    list_transform(range(1, len(toks)),
         |      i -> ${PortableHash.hash60Sql("'dsir'",
                "toks[i] || ' ' || toks[i+1]")} % $b))) AS bkt
         |  FROM tok),
         |tab AS (SELECT bkt, CAST(count(*) AS BIGINT) AS cs,
         |    CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct
         |  FROM occ GROUP BY bkt),
         |tot AS (SELECT CAST(sum(cs) AS BIGINT) AS ts,
         |    CAST(sum(ct) AS BIGINT) AS tt FROM tab),
         |rates AS (SELECT bkt,
         |    CAST(floor((ln((ct + 1) / (tt + $b)) - ln((cs + 1) / (ts + $b)))
         |      * 1000000) AS BIGINT) AS qlr
         |  FROM tab, tot)
         |SELECT o.doc_id, CAST(o.is_target AS INTEGER) AS is_target,
         |  CAST(count(*) AS INTEGER) AS n_feats,
         |  CAST(sum(r.qlr) AS BIGINT) AS sum_micro_nats,
         |  round(CAST(sum(r.qlr) AS DOUBLE) / count(*) / 1000000, 6)
         |    AS avg_logratio
         |FROM occ o JOIN rates r USING (bkt)
         |GROUP BY o.doc_id, o.is_target
         |ORDER BY o.doc_id""".stripMargin
    },

    "sw1_shard_assign" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(${TextFunctions.tokensSql("text")}) AS INTEGER)
         |      AS n_tokens,
         |    (doc_id * ${graft.text.Mixing.Mult}
         |      + ${graft.text.Mixing.Add}) % ${graft.text.Mixing.Modulus}
         |      AS shuffle_key
         |  FROM documents),
         |c AS (SELECT doc_id, n_tokens, shuffle_key,
         |    CAST(SUM(n_tokens) OVER (ORDER BY shuffle_key, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM t)
         |SELECT doc_id, n_tokens, shuffle_key, cum,
         |  CAST((cum - n_tokens) // $ShardTokens AS INTEGER) AS shard_id
         |FROM c ORDER BY doc_id""".stripMargin,

    "ws1_pps_resample" -> {
      val b = DsirBuckets
      // the ir1 weight pipeline, then the integer PPS arithmetic with
      // the hash-derived start offset as a literal
      val h = PortableHash.hash60Local("pps", "start")
      s"""WITH tok AS (SELECT doc_id, lang = 'en' AS is_target,
         |    ${TextFunctions.tokensSql("text")} AS toks
         |  FROM documents),
         |occ AS (SELECT doc_id, is_target, unnest(list_concat(
         |    list_transform(toks, f -> ${PortableHash.hash60Sql("'dsir'", "f")} % $b),
         |    list_transform(range(1, len(toks)),
         |      i -> ${PortableHash.hash60Sql("'dsir'",
                "toks[i] || ' ' || toks[i+1]")} % $b))) AS bkt
         |  FROM tok),
         |tab AS (SELECT bkt, CAST(count(*) AS BIGINT) AS cs,
         |    CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct
         |  FROM occ GROUP BY bkt),
         |tot AS (SELECT CAST(sum(cs) AS BIGINT) AS ts,
         |    CAST(sum(ct) AS BIGINT) AS tt FROM tab),
         |rates AS (SELECT bkt,
         |    CAST(floor((ln((ct + 1) / (tt + $b)) - ln((cs + 1) / (ts + $b)))
         |      * 1000000) AS BIGINT) AS qlr
         |  FROM tab, tot),
         |wsum AS (SELECT o.doc_id, CAST(sum(r.qlr) AS BIGINT) AS s
         |  FROM occ o JOIN rates r USING (bkt) GROUP BY o.doc_id),
         |wts AS (SELECT doc_id, s - (SELECT min(s) FROM wsum) + 1 AS w,
         |    (doc_id * ${graft.text.Mixing.Mult}
         |      + ${graft.text.Mixing.Add}) % ${graft.text.Mixing.Modulus}
         |      AS shuffle_key
         |  FROM wsum),
         |c AS (SELECT doc_id, w, shuffle_key,
         |    CAST(SUM(w) OVER (ORDER BY shuffle_key, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM wts),
         |o AS (SELECT step, $h % step AS off FROM
         |  (SELECT greatest((SELECT max(cum) FROM c) // $PpsDraws, 1)
         |    AS step))
         |SELECT c.doc_id, c.w, c.shuffle_key, c.cum,
         |  CAST((cum - 1 - off + step) // step
         |    - (cum - w - 1 - off + step) // step AS INTEGER)
         |    AS multiplicity
         |FROM c, o ORDER BY c.doc_id""".stripMargin
    },

    "dr1_random_projection" -> {
      val comps = graft.embed.RandomProjection
        .projectSql("embedding", JlDims, 64, "jl").mkString(", ")
      s"""SELECT vec_id, CAST(dim AS INTEGER) AS dim,
         |  round(comp, 6) AS component
         |FROM (SELECT vec_id, unnest(range(0, $JlDims)) AS dim,
         |    unnest([$comps]) AS comp
         |  FROM embeddings)
         |ORDER BY vec_id, dim""".stripMargin
    },

    "hh1_heavy_hitters" ->
      s"""WITH occ AS (SELECT unnest(${TextFunctions.tokensSql("text")})
         |    AS tok FROM documents),
         |rows_ AS (SELECT CAST(unnest(range(0, $CmsDepth)) AS INTEGER)
         |  AS row_id),
         |buck AS (SELECT o.tok, r.row_id,
         |    CAST(${PortableHash.hash60Sql("r.row_id", "o.tok")} % $CmsWidth
         |      AS INTEGER) AS bucket
         |  FROM occ o CROSS JOIN rows_ r),
         |sketch AS (SELECT row_id, bucket, CAST(count(*) AS BIGINT) AS cnt
         |  FROM buck GROUP BY row_id, bucket),
         |cand AS (SELECT DISTINCT tok FROM occ),
         |probe AS (SELECT c.tok, r.row_id,
         |    CAST(${PortableHash.hash60Sql("r.row_id", "c.tok")} % $CmsWidth
         |      AS INTEGER) AS bucket
         |  FROM cand c CROSS JOIN rows_ r),
         |est AS (SELECT p.tok, CAST(min(s.cnt) AS BIGINT) AS est
         |  FROM probe p JOIN sketch s USING (row_id, bucket)
         |  GROUP BY p.tok)
         |SELECT tok, est FROM est WHERE est >= $CmsMinEst
         |ORDER BY est DESC, tok LIMIT $CmsTopK""".stripMargin,

    "bpe1_merge_round" ->
      s"""WITH occ AS (SELECT unnest(${TextFunctions.tokensSql("text")})
         |    AS word FROM documents),
         |wt AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM occ WHERE word <> '' GROUP BY word),
         |pr AS (SELECT w.word[t.i] AS a, w.word[t.i + 1] AS b, w.freq
         |  FROM wt w, unnest(range(1, len(w.word))) AS t(i)),
         |pc AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM pr GROUP BY a, b),
         |top AS (SELECT a, b FROM pc ORDER BY cnt DESC, a, b LIMIT 1),
         |mpos AS (SELECT w.word, t.i
         |  FROM wt w CROSS JOIN top, unnest(range(1, len(w.word))) AS t(i)
         |  WHERE w.word[t.i] = top.a AND w.word[t.i + 1] = top.b),
         |runs AS (SELECT word, i,
         |    i - row_number() OVER (PARTITION BY word ORDER BY i) AS rg
         |  FROM mpos),
         |rl AS (SELECT word, rg, count(*) AS run_len
         |  FROM runs GROUP BY word, rg),
         |mc AS (SELECT word, CAST(sum((run_len + 1) // 2) AS BIGINT)
         |    AS merges
         |  FROM rl GROUP BY word)
         |SELECT w.word, w.freq, CAST(len(w.word) AS INTEGER) AS n_before,
         |  CAST(len(w.word) - coalesce(m.merges, 0) AS INTEGER) AS n_after,
         |  top.a AS merge_a, top.b AS merge_b
         |FROM wt w CROSS JOIN top LEFT JOIN mc m USING (word)
         |ORDER BY w.freq DESC, w.word LIMIT 200""".stripMargin,

    "bpe2_encode" -> {
      val spaced = "' ' || array_to_string(string_split(word, ''), ' ') || ' '"
      val chained = BpeMerges.foldLeft(spaced) { case (e, (a, b)) =>
        s"replace($e, ' $a $b ', ' ${a + b} ')"
      }
      s"""WITH tok AS (SELECT doc_id,
         |    list_filter(${TextFunctions.tokensSql("text")}, w -> w <> '')
         |      AS toks FROM documents),
         |w AS (SELECT doc_id, unnest(toks) AS word FROM tok),
         |enc AS (SELECT doc_id,
         |    len(string_split(trim($chained), ' ')) AS n FROM w)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n) AS BIGINT) AS n_bpe_tokens
         |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // tf1: the bpe2 chained-replace encode, joined to lang and rolled
    // up — sums are BIGINT, the two ratios divide once at the end.
    "tf1_tokenizer_fertility" -> {
      val spaced = "' ' || array_to_string(string_split(word, ''), ' ') || ' '"
      val chained = BpeMerges.foldLeft(spaced) { case (e, (a, b)) =>
        s"replace($e, ' $a $b ', ' ${a + b} ')"
      }
      s"""WITH tok AS (SELECT doc_id,
         |    list_filter(${TextFunctions.tokensSql("text")}, w -> w <> '')
         |      AS toks FROM documents),
         |w AS (SELECT doc_id, unnest(toks) AS word FROM tok),
         |enc AS (SELECT doc_id,
         |    len(string_split(trim($chained), ' ')) AS n FROM w),
         |perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(n) AS BIGINT) AS n_bpe FROM enc GROUP BY doc_id),
         |j AS (SELECT d.lang, p.n_words, p.n_bpe, d.n_chars
         |  FROM perdoc p JOIN documents d USING (doc_id))
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS n_words,
         |  CAST(sum(n_bpe) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |  round(CAST(sum(n_bpe) AS DOUBLE) / sum(n_words), 6)
         |    AS fertility,
         |  round(CAST(sum(n_chars) AS DOUBLE) / sum(n_bpe), 6)
         |    AS chars_per_token
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin
    },

    "ql1_quality_classifier" -> {
      val b = QcBuckets
      s"""WITH tok AS (SELECT doc_id, ${TextFunctions.tokensSql("text")}
         |    AS toks FROM documents),
         |feats AS (SELECT doc_id, unnest(list_concat(toks,
         |    list_transform(range(1, len(toks)),
         |      i -> toks[i] || ' ' || toks[i+1]))) AS f
         |  FROM tok),
         |pf AS (SELECT doc_id, f, CAST(count(*) AS BIGINT) AS n
         |  FROM feats GROUP BY doc_id, f),
         |pfb AS (SELECT doc_id, n,
         |    (${PortableHash.hash60Sql("'qf'", "f")}) % $b AS bkt
         |  FROM pf),
         |w AS (SELECT i AS bkt,
         |    CAST((${PortableHash.hash60Sql("'qw'", "CAST(i AS VARCHAR)")})
         |      % 2001 - 1000 AS BIGINT) AS w_micro
         |  FROM (SELECT unnest(range(0, $b)) AS i)),
         |sc AS (SELECT doc_id,
         |    CAST(sum(n) AS BIGINT) AS n_features,
         |    CAST(sum(n * w_micro) AS BIGINT) AS w_sum_micro
         |  FROM pfb JOIN w USING (bkt) GROUP BY doc_id),
         |fin AS (SELECT doc_id, n_features, w_sum_micro,
         |    round(0.5 + ((0 + w_sum_micro / n_features) / 1000000.0)
         |      / (2.0 * (1.0 + abs((0 + w_sum_micro / n_features)
         |        / 1000000.0))), 6) AS score
         |  FROM sc)
         |SELECT doc_id, n_features, w_sum_micro, score,
         |  CAST(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS INTEGER)
         |    AS keep
         |FROM fin ORDER BY doc_id""".stripMargin
    },

    "hl1_hll_vocab" -> {
      val m = 1 << HllP
      val scaleExp = 60 - HllP + 1
      s"""WITH occ AS (SELECT unnest(${TextFunctions.tokensSql("text")})
         |    AS t FROM documents),
         |reg0 AS (SELECT ${graft.sketch.Hll.idxSql("t", HllP)} AS idx,
         |    ${graft.sketch.Hll.rhoSql("t", HllP)} AS rho FROM occ),
         |regs AS (SELECT idx, max(rho) AS rho FROM reg0 GROUP BY idx),
         |dense AS (SELECT CAST(t.i AS INTEGER) AS idx,
         |    CAST(coalesce(r.rho, 0) AS INTEGER) AS rho
         |  FROM (SELECT unnest(range(0, $m)) AS i) t
         |  LEFT JOIN regs r ON r.idx = t.i),
         |agg AS (SELECT
         |    CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_zero,
         |    CAST(sum(1::BIGINT << ($scaleExp - rho)) AS BIGINT)
         |      AS z_scaled
         |  FROM dense),
         |fin AS (SELECT n_zero, z_scaled,
         |    round(CASE WHEN (${graft.sketch.Hll.estConst(HllP)} /
         |        CAST(z_scaled AS DOUBLE)) <= ${2.5 * m} AND n_zero > 0
         |      THEN ${m.toDouble} * ln(${m.toDouble} / n_zero)
         |      ELSE ${graft.sketch.Hll.estConst(HllP)} /
         |        CAST(z_scaled AS DOUBLE) END, 4) AS est_distinct
         |  FROM agg)
         |SELECT d.idx, d.rho, f.n_zero, f.z_scaled, f.est_distinct
         |FROM dense d CROSS JOIN fin f ORDER BY d.idx""".stripMargin
    },

    "hn1_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, embedding, vec_id % $HnLabels AS label
         |    FROM embeddings),
         |a AS (SELECT vec_id AS aid, embedding AS avec, label AS alabel
         |  FROM e WHERE vec_id IN (0, 1, 2)),
         |scored AS (SELECT a.aid, a.alabel, e.vec_id AS id, e.label,
         |    ${VectorFunctions.cosineSql("e.embedding", "a.avec")} AS sim
         |  FROM e CROSS JOIN a WHERE e.vec_id <> a.aid),
         |ceil_ AS (SELECT aid,
         |    coalesce(max(CASE WHEN label = alabel THEN sim END),
         |      -1.0::DOUBLE) AS pos_ceiling
         |  FROM scored GROUP BY aid),
         |negs AS (SELECT s.aid, s.id, s.sim, c.pos_ceiling
         |  FROM scored s JOIN ceil_ c USING (aid)
         |  WHERE s.label <> s.alabel
         |    AND s.sim < c.pos_ceiling - ${HnMargin}::DOUBLE),
         |ranked AS (SELECT aid, id, sim, pos_ceiling,
         |    CAST(row_number() OVER (PARTITION BY aid
         |      ORDER BY sim DESC, id) AS INTEGER) AS rank
         |  FROM negs)
         |SELECT aid, id, round(sim, 6) AS sim,
         |  round(pos_ceiling, 6) AS pos_ceiling, rank
         |FROM ranked WHERE rank <= $HnK ORDER BY aid, rank""".stripMargin,

    "mx2_temperature_mix" ->
      s"""WITH pd AS (SELECT doc_id % $SplitDomains AS domain,
         |    CAST(sum(len(${TextFunctions.tokensSql("text")})) AS BIGINT)
         |      AS n_tokens
         |  FROM documents GROUP BY 1),
         |sh AS (SELECT domain, n_tokens,
         |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)
         |      AS share_micro
         |  FROM pd),
         |tot AS (SELECT CAST(sum(share_micro) AS BIGINT) AS s_total
         |  FROM sh),
         |base AS (SELECT domain, n_tokens, share_micro,
         |    ($MixBudget * share_micro) // s_total AS floor_tokens,
         |    ($MixBudget * share_micro) % s_total AS rem
         |  FROM sh, tot),
         |lo AS (SELECT $MixBudget - CAST(sum(floor_tokens) AS BIGINT)
         |  AS leftover FROM base),
         |rk AS (SELECT base.*, CAST(row_number() OVER
         |    (ORDER BY rem DESC, domain) AS BIGINT) AS rrank
         |  FROM base)
         |SELECT domain, n_tokens, share_micro,
         |  CAST(floor_tokens + (CASE WHEN rrank <= leftover THEN 1 ELSE 0
         |    END) AS BIGINT) AS target_tokens
         |FROM rk, lo ORDER BY domain""".stripMargin,

    "sa2_span_removal" ->
      s"""WITH tok AS (SELECT doc_id, ${TextFunctions.tokensSql("text")} AS toks
         |  FROM documents),
         |base AS (SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens, toks
         |  FROM tok),
         |hsh AS (SELECT doc_id, n_tokens,
         |    list_transform(toks, t -> ${PortableHash.hash60Sql("'tok'", "t")})
         |      AS th
         |  FROM base WHERE n_tokens >= $SpanN),
         |pos AS (SELECT doc_id, th,
         |    unnest(range(1, n_tokens - ${SpanN - 2})) AS i
         |  FROM hsh),
         |occ AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
         |    ${PortableHash.windowHash60Sql("th", "i", SpanN)} AS g
         |  FROM pos),
         |dup AS (SELECT g FROM occ GROUP BY g HAVING count(*) > 1),
         |winevt AS (SELECT doc_id, pos, 0 AS kind,
         |    pos + $SpanN AS e, CAST(NULL AS VARCHAR) AS tok
         |  FROM occ JOIN dup USING (g)),
         |tokevt AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, 1 AS kind,
         |    CAST(NULL AS INTEGER) AS e, toks[i] AS tok
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
         |    FROM base)),
         |m AS (SELECT doc_id, pos, kind, tok,
         |    max(e) OVER (PARTITION BY doc_id ORDER BY pos, kind
         |      ROWS UNBOUNDED PRECEDING) AS cover_end
         |  FROM (SELECT * FROM winevt UNION ALL SELECT * FROM tokevt)),
         |t AS (SELECT doc_id, pos, tok,
         |    coalesce(cover_end > pos, FALSE) AS covered
         |  FROM m WHERE kind = 1)
         |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_tokens,
         |  CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS INTEGER)
         |    AS n_removed,
         |  coalesce(string_agg(CASE WHEN NOT covered THEN tok END, ' '
         |    ORDER BY pos), '') AS clean_text
         |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "bf1_bloom_prefilter" ->
      s"""WITH nd AS (
         |  SELECT doc_id + $IncrIdOffset AS doc_id, text
         |    FROM documents WHERE doc_id % 10 = 1
         |  UNION ALL
         |  SELECT doc_id + $IncrIdOffset, text || ' zq wq vq uq tq'
         |    FROM documents WHERE doc_id % 10 = 2
         |  UNION ALL
         |  SELECT doc_id + $IncrIdOffset,
         |      array_to_string(list_reverse(string_split($normDoc, ' ')), ' ')
         |    FROM documents WHERE doc_id % 10 = 3),
         |rows_ AS (SELECT CAST(unnest(range(0, $BloomD)) AS INTEGER) AS i),
         |bits AS (SELECT DISTINCT
         |    CAST(${PortableHash.hash60Sql("r.i", "d.text")} % $BloomM
         |      AS INTEGER) AS bit
         |  FROM documents d CROSS JOIN rows_ r),
         |probe AS (SELECT n.doc_id,
         |    CAST(${PortableHash.hash60Sql("r.i", "n.text")} % $BloomM
         |      AS INTEGER) AS bit
         |  FROM nd n CROSS JOIN rows_ r),
         |j AS (SELECT p.doc_id,
         |    CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM probe p LEFT JOIN bits b USING (bit))
         |SELECT doc_id, CAST(sum(hit) AS BIGINT) = $BloomD AS maybe_present
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "sp1_token_budget_sample" ->
      s"""WITH t AS (SELECT doc_id, (doc_id * 37) % 100 AS q,
         |    CAST(len(${TextFunctions.tokensSql("text")}) AS INTEGER)
         |      AS n_tokens
         |  FROM documents),
         |b AS (SELECT (CAST(SUM(n_tokens) AS BIGINT) * 6) // 10 AS budget
         |  FROM t),
         |c AS (SELECT doc_id, q, n_tokens,
         |    CAST(SUM(n_tokens) OVER (ORDER BY q DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM t)
         |SELECT c.doc_id, c.q, c.n_tokens, c.cum
         |FROM c, b WHERE c.cum <= b.budget
         |ORDER BY c.doc_id""".stripMargin,

    "rel1_related_chunks" ->
      s"""WITH ks AS (SELECT DISTINCT CAST(doc_id % 60 AS INTEGER) AS k
         |  FROM documents),
         |ch AS (SELECT 'c' || k AS chunk_id, 'fn' || (k % 20) AS name,
         |    CASE WHEN k < 40 THEN 'function' ELSE 'block' END AS ctype,
         |    ['fn' || ((k + 1) % 20), 'fn' || ((k + 7) % 20)] AS calls
         |  FROM ks),
         |named AS (SELECT chunk_id AS callee_id, name FROM ch
         |  WHERE ctype IN ('function', 'method', 'class') AND name <> ''),
         |sites AS (SELECT DISTINCT chunk_id AS caller_id, unnest(calls) AS name
         |  FROM ch),
         |callers AS (SELECT n.callee_id AS chunk_id, s.caller_id AS related_id,
         |    'caller' AS kind, 1.0::DOUBLE AS score
         |  FROM sites s JOIN named n USING (name)
         |  WHERE s.caller_id <> n.callee_id),
         |c AS (SELECT 'c' || vec_id AS id, embedding AS vec,
         |    ${signBucketSql("embedding", 4)} AS bucket FROM embeddings),
         |flips(f) AS (VALUES (0::BIGINT), (1), (2), (4), (8)),
         |q AS (SELECT id AS qid, vec AS qvec, xor(bucket, f) AS bucket
         |  FROM c, flips),
         |cand AS (SELECT q.qid, c.id,
         |    ${VectorFunctions.cosineSql("c.vec", "q.qvec")} AS sim
         |  FROM c JOIN q ON q.bucket = c.bucket WHERE c.id <> q.qid),
         |thr AS (SELECT qid, id, max(sim) AS sim FROM cand
         |  WHERE sim >= 0.3::DOUBLE GROUP BY qid, id),
         |sem AS (SELECT qid, id, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id)
         |      AS rnk
         |  FROM thr),
         |semf AS (SELECT qid AS chunk_id, id AS related_id,
         |    'semantic' AS kind, sim AS score
         |  FROM sem WHERE rnk <= 5 AND sim >= 0.2::DOUBLE)
         |SELECT chunk_id, related_id, kind, round(score, 6) AS score
         |FROM (SELECT * FROM semf UNION ALL SELECT * FROM callers)
         |ORDER BY chunk_id, kind, related_id""".stripMargin) ++
    a3Oracle ++ pqOracle

  /** The one index of `kind` fit in this JVM, for the oracles that
    * interpolate a fit as literals. None when no gate fit one: the
    * entries are omitted and the driver records the weaker rows-only
    * check. Verify's contract is one corpus dir per process, so fits of
    * several dirs are an error, not a choice by gate order.
    */
  private def onlyFit[V](kind: String): Option[V] =
    Registry.values[V](kind) match {
      case Seq() => None
      case Seq((_, v)) => Some(v)
      case fits => throw new IllegalStateException(
        s"$kind oracle: fits of several corpus dirs in one JVM " +
          fits.map(_._1).mkString("(", ", ", ")"))
    }

  /** a3 oracle, generated AFTER the gate runs (Verify writes
    * oracle_sql.json once every query has executed): the fitted float32
    * centroids are interpolated as literals, the way p1 interpolates its
    * extension table — the KMeans FIT isn't SQL-expressible, but *given*
    * the centroid table the whole query is exact relational algebra:
    * assignment = argmin float-L2 with cluster-id tiebreak (mirroring
    * Ivf.build's portable assignment), probe = top-nprobes centroids per
    * query, then exact cosine top-k inside probed clusters (Ivf.topK).
    * The centroids are collected from the persisted index, so the oracle
    * sees exactly the floats queries see. See [[onlyFit]] for which fit
    * is used.
    */
  private def a3Oracle: Map[String, String] =
    onlyFit[graft.ann.Ivf.IvfIndex]("ivf").toSeq.flatMap { idx =>
      val vals = idx.centroids.orderBy("cluster_id").collect().map { r =>
        s"(${r.getAs[Int]("cluster_id")}, [${
          r.getSeq[Float](r.fieldIndex("centroid")).mkString(", ")}]::FLOAT[])"
      }.mkString(", ")
      val probeDist = VectorFunctions.l2sqSql("c.centroid", "q.qvec")
      val assignDist = VectorFunctions.l2sqSql("c.centroid", "e.embedding")
      Seq("a7_ivf_incremental" ->
        s"""WITH cent(cluster_id, centroid) AS (VALUES $vals),
           |emb2 AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 20000, [0.0::FLOAT] || embedding[2:64]
           |  FROM embeddings WHERE vec_id < 50),
           |q AS (SELECT vec_id AS qid, embedding AS qvec
           |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
           |probes AS (SELECT qid, qvec, cluster_id FROM (
           |    SELECT q.qid, q.qvec, c.cluster_id,
           |      row_number() OVER (PARTITION BY q.qid
           |        ORDER BY $probeDist, c.cluster_id) AS crank
           |    FROM cent c CROSS JOIN q)
           |  WHERE crank <= 2),
           |assign AS (SELECT vec_id AS id, embedding AS vec, cluster_id FROM (
           |    SELECT e.vec_id, e.embedding, c.cluster_id,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY $assignDist, c.cluster_id) AS rn
           |    FROM emb2 e CROSS JOIN cent c)
           |  WHERE rn = 1),
           |cand AS (SELECT p.qid, a.id,
           |    ${VectorFunctions.cosineSql("a.vec", "p.qvec")} AS sim
           |  FROM assign a JOIN probes p USING (cluster_id)
           |  WHERE a.id <> p.qid),
           |ranked AS (SELECT qid, id, sim,
           |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id)
           |      AS INTEGER) AS rank
           |  FROM cand)
           |SELECT qid, id, round(sim, 6) AS sim, rank
           |FROM ranked WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

      "a3_knn_ivf" ->
        s"""WITH cent(cluster_id, centroid) AS (VALUES $vals),
           |q AS (SELECT vec_id AS qid, embedding AS qvec
           |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
           |probes AS (SELECT qid, qvec, cluster_id FROM (
           |    SELECT q.qid, q.qvec, c.cluster_id,
           |      row_number() OVER (PARTITION BY q.qid
           |        ORDER BY $probeDist, c.cluster_id) AS crank
           |    FROM cent c CROSS JOIN q)
           |  WHERE crank <= 2),
           |assign AS (SELECT vec_id AS id, embedding AS vec, cluster_id FROM (
           |    SELECT e.vec_id, e.embedding, c.cluster_id,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY $assignDist, c.cluster_id) AS rn
           |    FROM embeddings e CROSS JOIN cent c)
           |  WHERE rn = 1),
           |cand AS (SELECT p.qid, a.id,
           |    ${VectorFunctions.cosineSql("a.vec", "p.qvec")} AS sim
           |  FROM assign a JOIN probes p USING (cluster_id)
           |  WHERE a.id <> p.qid),
           |ranked AS (SELECT qid, id, sim,
           |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id)
           |      AS INTEGER) AS rank
           |  FROM cand)
           |SELECT qid, id, round(sim, 6) AS sim, rank
           |FROM ranked WHERE rank <= 10""".stripMargin,

      "cl1_cluster_profile" ->
        s"""WITH cent(cluster_id, centroid) AS (VALUES $vals),
           |assign AS (SELECT vec_id AS id, embedding AS vec, cluster_id FROM (
           |    SELECT e.vec_id, e.embedding, c.cluster_id,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY $assignDist, c.cluster_id) AS rn
           |    FROM embeddings e CROSS JOIN cent c)
           |  WHERE rn = 1),
           |j AS (SELECT a.cluster_id, a.id,
           |    CAST(floor(${VectorFunctions.cosineSql("a.vec", "c.centroid")}
           |      * 1000000) AS BIGINT) AS q
           |  FROM assign a JOIN cent c USING (cluster_id)),
           |med AS (SELECT cluster_id, id AS medoid_id FROM (
           |    SELECT cluster_id, id, row_number() OVER (
           |      PARTITION BY cluster_id ORDER BY q DESC, id) AS rn
           |    FROM j) WHERE rn = 1),
           |agg AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_vecs,
           |    round(CAST(sum(q) AS DOUBLE) / (count(*) * 1000000), 6)
           |      AS avg_cohesion
           |  FROM j GROUP BY cluster_id)
           |SELECT a.cluster_id, a.n_vecs, a.avg_cohesion, m.medoid_id
           |FROM agg a JOIN med m USING (cluster_id)
           |ORDER BY a.cluster_id""".stripMargin,

      "sd1_semantic_dedup" -> {
        // same d6 aug fixture, same portable argmin assignment, then the
        // within-cluster earlier-member prune — SemDedup.prune mirrored
        // join-for-join (cosine is bit-identical per the FloatDot
        // contract, so the >= tau compare and max() agree exactly)
        val simXY = VectorFunctions.cosineSql("x.vec", "y.vec")
        s"""WITH cent(cluster_id, centroid) AS (VALUES $vals),
           |aug AS (
           |  SELECT vec_id AS id, embedding AS vec FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + $NearDupIdOffset,
           |    list_concat([CAST(0.0 AS FLOAT)], embedding[2:64])
           |  FROM embeddings WHERE vec_id < $NearDupCopies),
           |assign AS (SELECT id, vec, cluster_id FROM (
           |    SELECT a.id, a.vec, c.cluster_id,
           |      row_number() OVER (PARTITION BY a.id
           |        ORDER BY ${VectorFunctions.l2sqSql("c.centroid", "a.vec")},
           |          c.cluster_id) AS rn
           |    FROM aug a CROSS JOIN cent c)
           |  WHERE rn = 1),
           |p AS (SELECT x.id, min(y.id) AS dup_of,
           |    round(max($simXY), 6) AS max_sim
           |  FROM assign x JOIN assign y
           |    ON x.cluster_id = y.cluster_id AND y.id < x.id
           |  WHERE $simXY >= $SemDupTau::DOUBLE
           |  GROUP BY x.id)
           |SELECT a.id, a.cluster_id,
           |  CASE WHEN p.dup_of IS NULL THEN 1 ELSE 0 END AS is_kept,
           |  p.dup_of, p.max_sim
           |FROM assign a LEFT JOIN p USING (id)
           |ORDER BY a.id""".stripMargin
      })
    }.toMap

  /** a6 oracle, generated after the gate runs (same lifecycle as a3):
    * the fitted PQ codebook is interpolated as a 128-row literal table;
    * given it, encode (portable float argmin per subspace, c tiebreak),
    * the query ADC tables (floor·1e6 BIGINT entries), the order-free
    * integer candidate sums, and the exact-cosine rerank are all plain
    * relational algebra DuckDB reproduces bit-for-bit.
    */
  private def pqOracle: Map[String, String] =
    onlyFit[PqIndex]("pq").map(_.cb).toSeq.map { cb =>
      val norms = graft.ann.Pq.codeNorms(cb)
      val vals = cb.entries.map { case (m, c, vec) =>
        s"($m, $c, [${vec.mkString(", ")}]::FLOAT[], ${norms(m)(c)})"
      }.mkString(", ")
      val dsub = cb.dsub
      def sub(e: String) = s"$e[(cb.m*$dsub+1):(cb.m*$dsub+$dsub)]"
      val encDist = VectorFunctions.l2sqSql(sub("e.embedding"), "cb.vec")
      val qDot = VectorFunctions.dotFSql(sub("q.qvec"), "cb.vec")
      "a6_knn_pq" ->
        s"""WITH cb(m, c, vec, n2) AS (VALUES $vals),
           |codes AS (SELECT id, m, code FROM (
           |    SELECT e.vec_id AS id, cb.m, cb.c AS code,
           |      row_number() OVER (PARTITION BY e.vec_id, cb.m
           |        ORDER BY $encDist, cb.c) AS rn
           |    FROM embeddings e CROSS JOIN cb)
           |  WHERE rn = 1),
           |q AS (SELECT vec_id AS qid, embedding AS qvec
           |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
           |dt AS (SELECT q.qid, cb.m, cb.c, cb.n2,
           |    CAST(floor(CAST($qDot AS DOUBLE) * 1000000) AS BIGINT) AS di
           |  FROM q CROSS JOIN cb),
           |adc AS (SELECT dt.qid, codes.id,
           |    CAST(sum(dt.di) AS DOUBLE) /
           |      sqrt(CAST(greatest(sum(dt.n2), 1) AS DOUBLE)) AS ascore
           |  FROM codes JOIN dt ON dt.m = codes.m AND dt.c = codes.code
           |  WHERE codes.id <> dt.qid
           |  GROUP BY dt.qid, codes.id),
           |cand AS (SELECT qid, id FROM (
           |    SELECT qid, id, row_number() OVER (PARTITION BY qid
           |      ORDER BY ascore DESC, id) AS arank
           |    FROM adc)
           |  WHERE arank <= 30),
           |rer AS (SELECT c.qid, c.id,
           |    ${VectorFunctions.cosineSql("e.embedding", "q.qvec")} AS sim
           |  FROM cand c
           |  JOIN embeddings e ON e.vec_id = c.id
           |  JOIN q ON q.qid = c.qid),
           |ranked AS (SELECT qid, id, sim,
           |    CAST(row_number() OVER (PARTITION BY qid
           |      ORDER BY sim DESC, id) AS INTEGER) AS rank
           |  FROM rer)
           |SELECT qid, id, round(sim, 6) AS sim, rank
           |FROM ranked WHERE rank <= 10
           |ORDER BY qid, rank""".stripMargin
    }.toMap

  /** DuckDB mirror of `Knn.signBucket`: per hyperplane, the double dot is
    * a chained left-associative addition — the same summation ORDER as the
    * Spark-side sequential fold, so the sign (all that matters for the
    * bucket bit) is bit-identical. Plane components are plan-time literals
    * rendered with Double.toString (round-trip exact).
    */
  private def signBucketSql(e: String, nBits: Int, dim: Int = 64): String =
    (0 until nBits).map { b =>
      val dot = (0 until dim).map { i =>
        s"(CAST($e[${i + 1}] AS DOUBLE) * ${graft.ann.Knn.planeComponent(b, i)})"
      }.mkString("(", " + ", ")")
      s"(CASE WHEN $dot > 0 THEN ${1L << b}::BIGINT ELSE 0::BIGINT END)"
    }.mkString("(", " + ", ")")
}
