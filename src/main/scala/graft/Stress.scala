package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analyze.Analytics
import graft.dedup.{Dedup, FuzzyJoin}
import graft.graph.{DocLinks, KCore, Kg}
import graft.search.{Bm25, Fusion}

/** Scale-stress harness: the heaviest operator families (d3 LSH
  * dedup, hb1 batched hybrid search, j11 doc↔code linking, a13
  * reachability walk, g12 differential KG, un1 unigram-LM scoring,
  * pd1 paragraph dedup) run at 10× and 100× the
  * sf0.1 working-set size, so BENCH_r{N}.json records how wall time
  * GROWS — the 100 TB claim is sub-linear-in-factor growth (fixed
  * job-floor costs amortize; per-row work stays linear; no pair
  * blow-up).
  *
  * The corpus is SYNTHETIC with vocabulary ∝ corpus size (constant
  * average document frequency, the Heaps-law shape real corpora have):
  * replicating real documents ×100 would make every token/shingle
  * posting 100× hotter and quadratically explode candidate pairs —
  * that measures a pathological corpus, not the operator. Planted
  * near-duplicates (1 in 97 docs shares 55 of its 60 tokens with its
  * neighbor) keep the dedup path honest with bounded pair mass.
  */
object Stress {

  private def timed(f: => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val n = f
    ((System.nanoTime() - t0) / 1e9, n)
  }

  /** Number of timed trials per stress row. Three, not two: round 9's
    * sa1/spc1 rows turned out bimodal (fast ~5 s / slow ~22 s modes),
    * and a min-of-2 sampled the fast mode often enough that a
    * "transient host contention" adjudication survived a round when
    * the slow mode was real — with per-trial values in the artifact
    * (`trial` rows below) an adjudication is data, not narrative.
    */
  val Trials = 3

  /** Run one family f [[Trials]] times; headline row = min, plus one
    * `t:<name>:<i>` row per trial (Bench folds those into the
    * artifact's `stress_trials` map and the spread guard).
    */
  private def trialsOf(name: String)(f: => Double): Seq[(String, Double)] =
    record((1 to Trials).map(_ => f) match {
      // EXPLICIT sequential evaluations above — Seq.fill(n)(f) would
      // also work but hides the by-name re-evaluation a refactor could
      // drop
      case ts => (name -> ts.min) +: ts.zipWithIndex.map { case (v, i) =>
        s"t:$name:${i + 1}" -> v
      }
    })

  /** Partial-result streaming (r12): r11's driver runs died at the
    * round time limit with NOTHING recorded, so the child now re-emits
    * the CUMULATIVE row set (`[stress-json-partial] {...}`) after every
    * completed family; a parent that has to kill the child at its
    * wall-clock budget salvages the completed rows from the last
    * partial line (the cut is named in the artifact's `degraded`
    * field — no silent truncation). Measurement methodology is
    * untouched: same families, same order, same min-of-[[Trials]].
    */
  @volatile private var emitPartials = false
  private val partialRows =
    scala.collection.mutable.ArrayBuffer.empty[(String, Double)]

  private[graft] def jsonLine(rows: Seq[(String, Double)]): String = {
    def j3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    rows.map { case (k, v) => "\"" + k + "\":" + j3(v) }
      .mkString("{", ",", "}")
  }

  private def record(rows: Seq[(String, Double)]): Seq[(String, Double)] =
    synchronized {
      partialRows ++= rows
      if (emitPartials) {
        println("[stress-json-partial] " + jsonLine(partialRows.toSeq))
        System.out.flush()
      }
      rows
    }

  /** Synthetic corpus: n docs × 30 tokens drawn from a 10n-token vocab
    * via portable hashing; doc i ≡ 0 (mod 97) copies doc i-1's first 27
    * tokens (a near-dup).
    */
  def synthDocs(spark: SparkSession, n: Long): DataFrame = {
    val vocab = math.max(1000L, 10L * n)
    val toks = transform(sequence(lit(0), lit(29)), j => {
      val base = when(col("id") % 97 === 0 && col("id") > 0 && j < 27,
        col("id") - 1).otherwise(col("id"))
      concat(lit("t"), pmod(hash(base * 30 + j).cast("long"), lit(vocab)))
    })
    spark.range(n).select(
      col("id").as("doc_id"),
      array_join(toks, " ").as("text"))
      .withColumn("n_chars", length(col("text")))
  }

  /** Synthetic embeddings: n × 64-dim float from portable hashes. */
  def synthEmbeddings(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), k =>
        ((pmod(hash(col("id") * 64 + k).cast("long"), lit(2000)) - 1000)
          .cast("double") / 1000.0).cast("float")).as("embedding"))

  /** d3 family: shingle → minhash → band → candidate join → exact
    * jaccard verify, end to end (index build + query — the build IS the
    * dominant index-time cost at scale).
    */
  def dedupStress(spark: SparkSession, n: Long): (Double, Long) = {
    val docs = synthDocs(spark, n)
    val r = timed {
      // cache the shingle table like the real flow (the dedup index persists
      // it): the signature path and the jaccard verify both consume it
      val sh = Dedup.docShingles(docs, "text", "doc_id", 3).cache()
      // bands feed BOTH sides of the bucket self-join — without the
      // cache the whole shingle→signature→band subtree recomputes per
      // side (Catalyst does not CSE across self-joins; measured 25 s →
      // 3 s at 150k docs). Mirrors minhashNearDupPairs' real flow.
      val bands = Dedup.lshBands(Dedup.minhashSignatures(sh, 64), 8).cache()
      try {
        val cands = Dedup.lshCandidates(bands)
        Dedup.jaccardOfPairs(cands, sh)
          .filter(col("jaccard") >= 0.7).count()
      } finally {
        sh.unpersist(blocking = false)
        bands.unpersist(blocking = false)
      }
    }
    r
  }

  /** hb1 family: BM25 index build + 10-query batched keyword scoring ∪
    * 10-query batched brute KNN, fused with batched RRF — ONE plan for
    * all queries, per-query partitioned windows.
    */
  def batchSearchStress(spark: SparkSession, n: Long): (Double, Long) = {
    import spark.implicits._
    val docs = synthDocs(spark, n)
    val emb = synthEmbeddings(spark, n)
    val vocab = math.max(1000L, 10L * n)
    timed {
      // cache the postings table like the real flow (the gate registry
      // persists the whole index via writeIndexBucketed): the index
      // derivations (doc_stats, corpus, idf) and the scoring probe all
      // consume postings, and without the cache the docs→explode→
      // groupBy subtree re-runs once per consumer — r11 measured FIVE
      // full re-derivations per scoring action (idf's two df passes,
      // doc_stats, corpus, the probe side), ~19 s of the x100 row's
      // cost that the deployment shape never pays. Mirrors
      // dedupStress's shingle cache.
      val post = Bm25.postings(docs, "doc_id", split(col("text"), " "))
        .cache()
      val idx = Bm25.buildIndex(post)
      try {
        // 10 queries × 3 terms drawn from the same vocab distribution
        val qterms = (0 until 10).flatMap { q =>
          (0 until 3).map { j =>
            val t = "t" + java.lang.Math.floorMod(
              scala.util.hashing.MurmurHash3.stringHash(s"q$q-$j").toLong, vocab)
            (q.toLong, t, 1)
          }
        }.toDF("qid", "term", "qtf")
        val kw = Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("id"))
        val kRanks = Bm25.scoreBatchIndexed(idx, qterms)
          .withColumn("rank", row_number().over(kw))
          .filter(col("rank") <= 50).select("qid", "id", "rank")
        val qs = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val vRanks = graft.ann.Knn.bruteForceTopK(emb, "vec_id", "embedding",
          qs, "qid", "qvec", 50).select("qid", "id", "rank")
        Fusion.rrfBatch(vRanks, kRanks, alpha = 0.7).count()
      } finally post.unpersist(blocking = false)
    }
  }

  /** synthDocs reshaped to 5 paragraphs × 6 tokens: planted near-dups
    * (27-token shared prefix) become genuine cross-doc paragraph
    * collisions for the dedup window.
    */
  def synthParaDocs(spark: SparkSession, n: Long): DataFrame =
    synthDocs(spark, n).withColumn("text",
      array_join(transform(sequence(lit(0), lit(4)),
        g => array_join(slice(split(col("text"), " "), g * 6 + 1, lit(6)),
          " ")), "\n"))

  /** un1 family: corpus×token explode, map-side-combined unigram
    * groupBy, hash-partitioned vocab join back, integer micro-nat agg.
    */
  def lmScoreStress(spark: SparkSession, n: Long): (Double, Long) = {
    val docs = synthDocs(spark, n)
    timed {
      graft.text.UnigramLm.scoreDocs(docs, "doc_id", "text").count()
    }
  }

  /** pd1 family: paragraph explode + first-occurrence window keyed on
    * paragraph CONTENT + deterministic doc rebuild.
    */
  def paraDedupStress(spark: SparkSession, n: Long): (Double, Long) = {
    val docs = synthParaDocs(spark, n)
    timed {
      // sum a RIGHT-side column of the final join: a bare count() lets
      // Catalyst eliminate the unique-key left join — and with it the
      // entire dedup window — measuring nothing
      graft.dedup.ParaDedup.dedupParagraphs(docs, "doc_id", "text")
        .agg(coalesce(sum(col("n_kept")), lit(0L))).head().getLong(0)
    }
  }

  /** spc1 family: per-token explode + hash span classification + two
    * doc-keyed sort_array rebuilds — token-linear by design; the
    * stress checks the rebuild aggregation stays doc-local as the
    * corpus grows.
    */
  def spanCorruptStress(spark: SparkSession, n: Long): (Double, Long) = {
    val docs = synthDocs(spark, n)
    timed {
      // consume the rebuilt strings too (length terms): summing only
      // n_corrupted would let column pruning drop the input/target
      // collect_list rebuilds — the work this family exists to measure
      graft.text.SpanCorruption.corrupt(docs, "doc_id", "text")
        .agg(coalesce(sum(col("n_corrupted") +
          length(col("input")) + length(col("target"))), lit(0L)))
        .head().getLong(0)
    }
  }

  /** bg1 family: bigram explode (×29 rows/doc), distinct-bigram count
    * table (vocabulary grows with the corpus — the Heaps-law shape),
    * keyed join back, integer micro-nat agg.
    */
  def bigramStress(spark: SparkSession, n: Long): (Double, Long) = {
    val docs = synthDocs(spark, n)
    timed {
      graft.text.BigramLm.scoreDocs(docs, "doc_id", "text").count()
    }
  }

  /** ep1 family: chunk→doc mean pooling — 64 per-dim aggregate columns
    * in ONE group-keyed map-side-combinable aggregate (no row
    * explosion, single Exchange).
    */
  def poolStress(spark: SparkSession, n: Long): (Double, Long) = {
    val groups = math.max(1L, n / 12L)
    val emb = synthEmbeddings(spark, n)
      .select((col("vec_id") % groups).as("doc"), col("embedding"))
    timed {
      graft.embed.Pooling.meanPool(emb, "doc", "embedding", 64).count()
    }
  }

  /** sa1/sa2 family: corpus-duplicated n-gram span coverage — one
    * occurrence-scale hash aggregate, the join back, and the
    * doc-partitioned interval-union window. Token-linear by design;
    * the stress checks the window stays doc-local as the corpus grows.
    */
  def spanStress(spark: SparkSession, n: Long): (Double, Long) = {
    val docs = synthDocs(spark, n)
    timed {
      graft.dedup.SpanDedup.dupSpanCoverage(docs, "doc_id", "text", 8)
        .agg(coalesce(sum(col("dup_positions")), lit(0L))).head().getLong(0)
    }
  }

  /** Clustered synthetic embeddings for the ANN stress: 256 hash
    * centers ± small hash noise. ANN recall on UNIFORM noise is
    * meaningless (no structure to find — the true neighbors of a
    * random point scatter across all clusters), while real embedding
    * spaces are locally clustered; this fixture gives the index
    * something real to index without replicating rows.
    */
  def synthClusteredEmbeddings(spark: SparkSession, n: Long,
      centers: Long = 256L): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), k => {
        val c = pmod(col("id"), lit(centers))
        val base = (pmod(hash(c * 64 + k).cast("long"), lit(2000)) - 1000)
          .cast("double") / 1000.0
        val noise = (pmod(hash(col("id") * 64 + k).cast("long"), lit(200))
          - 100).cast("double") / 1000.0
        (base + noise).cast("float")
      }).as("embedding"))

  /** a3 family (VERDICT r9 #6): PERSISTED-IVF probe latency AND
    * recall@10 vs exact brute force at growing corpus size — the
    * measured repo counterpart of the reference's "4.9× ANN speedup at
    * recall" claim (`docs/performance/search-optimizations.md:191-195`).
    * The index is a write-once registry (like the phrase/BM25 stress
    * layouts): build+write happen on first touch per size, the timed
    * section is the recurring probe — partition-pruned scan of the
    * nprobes clusters + exact cosine + per-query top-k. Returns
    * (probe seconds, recall@10 over 10 queries).
    */
  def ivfStress(spark: SparkSession, n: Long): (Double, Double) = {
    val (probes, recall) = ivfStressTrials(spark, n, 1)
    (probes.head, recall)
  }

  /** All trials of the a3 family in one call so the deterministic
    * parts — index build (write-once registry) and the brute-force
    * ground truth — run ONCE per size, not once per trial. The
    * registry path is keyed by a fingerprint of the fixture's first
    * vectors (plus n), so a changed fixture recipe rebuilds instead of
    * probing a stale index against fresh truth.
    */
  def ivfStressTrials(spark: SparkSession, n: Long,
      trials: Int): (Seq[Double], Double) = {
    val emb = synthClusteredEmbeddings(spark, n)
    val fp = java.lang.Long.toHexString(
      emb.filter(col("vec_id") < 4)
        .orderBy(col("vec_id"))
        .collect()
        .flatMap(_.getSeq[Float](1))
        .foldLeft(17L)((h, f) =>
          h * 1000003L + java.lang.Float.floatToIntBits(f)))
    val dir = s"target/stress/ivf_${n}_$fp"
    if (!new java.io.File(s"$dir/centroids/_SUCCESS").exists())
      graft.ann.Ivf.write(
        graft.ann.Ivf.build(emb, "vec_id", "embedding"), dir)
    val idx = graft.ann.Ivf.read(spark, dir)
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val truth = graft.ann.Knn.bruteForceTopK(emb, "vec_id", "embedding",
      qs, "qid", "qvec", 10).select(col("qid"), col("id")).cache()
    truth.count()
    val probes = (1 to trials).map(_ => timed {
      graft.ann.Ivf.topK(idx, qs, "qid", "qvec", 10, nprobes = 8).count()
    }._1)
    val hits = graft.ann.Ivf.topK(idx, qs, "qid", "qvec", 10, nprobes = 8)
      .select(col("qid"), col("id")).join(truth, Seq("qid", "id")).count()
    truth.unpersist(blocking = false)
    (probes, hits / 100.0)
  }

  /** a4/a6 recall-at-scale rows (VERDICT r10 #5/#6, r11 #6): quantized
    * retrieval (a4 int8 scalar quantization, a6 PQ-ADC) is where recall
    * erodes as the corpus grows — the rank resolution of the compressed
    * representation degrades with density, which probe-latency rows
    * cannot see. Measures recall@10 of the two-stage (approx +
    * exact-refine) paths vs exact brute force over the same clustered
    * fixture the a3 family uses, at the gate parameters (k=10,
    * refine=3; PQ m=8/ksub=16, codebook fit on a bounded deterministic
    * subsample — standard PQ practice; encoding covers the full
    * corpus). Deterministic per size (seeded fixture, affine/codebook
    * math), so a single evaluation and no trial rows; the
    * `x<f>_.._recall` name shape routes these through the inverted
    * recall guard. Returns (a4 recall, a6 recall).
    */
  def quantRecallStress(spark: SparkSession, n: Long): (Double, Double) = {
    val emb = synthClusteredEmbeddings(spark, n)
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val truth = graft.ann.Knn.bruteForceTopK(emb, "vec_id", "embedding",
      qs, "qid", "qvec", 10).select(col("qid"), col("id")).cache()
    truth.count()
    try {
      val enc = graft.ann.Quantize.encode(emb, "embedding")
      val a4hits = graft.ann.Quantize.requantizedTopK(enc, "vec_id",
          "embedding", qs, "qid", "qvec", k = 10, refine = 3)
        .select(col("qid"), col("id")).join(truth, Seq("qid", "id")).count()
      val step = math.max(1L, n / 20000L)
      val cb = graft.ann.Pq.fit(
        emb.filter(pmod(col("vec_id"), lit(step)) === 0), "embedding", 8, 16)
      val codes = graft.ann.Pq.encode(
        emb.select(col("vec_id"), col("embedding")), "embedding", cb)
        .select(col("vec_id"), col("codes"))
      val a6hits = graft.ann.Pq.adcTopK(codes,
        emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
        qs, "qid", "qvec", cb, k = 10, refine = 3)
        .select(col("qid"), col("id")).join(truth, Seq("qid", "id")).count()
      (a4hits / 100.0, a6hits / 100.0)
    } finally truth.unpersist(blocking = false)
  }

  /** j11 family: doc sections ↔ code entities via the inverted-index
    * candidate channel + README-dir channel.
    */
  def docLinksStress(spark: SparkSession, n: Long): (Double, Long) = {
    val tok = synthDocs(spark, n)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("toks"))
    val sections = tok.filter(col("doc_id") % 8 === 0)
      .select(col("doc_id").as("section_id"),
        concat_ws(" ", slice(col("toks"), 1, 4)).as("name"),
        col("text").as("content"),
        when(col("doc_id") % 16 === 0,
          concat(lit("src/m"), col("doc_id") % 10, lit("/README.md")))
          .otherwise(concat(lit("docs/d"), col("doc_id"), lit(".md")))
          .as("file_path"))
    val entities = tok.filter(col("doc_id") % 8 === 1)
      .select(col("doc_id").as("entity_id"),
        element_at(col("toks"), 2).as("name"),
        lit("function").as("entity_type"),
        concat(lit("src/m"), col("doc_id") % 10,
          lit("/code"), col("doc_id"), lit(".py")).as("file_path"))
    timed {
      DocLinks.documentsEdges(sections.cache(), entities.cache()).count()
    }
  }

  /** a13 family: entry-rooted reachability (8-hop frontier walk with
    * early exit) over a chain+skip call graph — per-hop cost grows with
    * the edge relation, hop count does not.
    */
  def walkStress(spark: SparkSession, n: Long): (Double, Long) = {
    val ids = spark.range(n)
    val vertices = ids.select(
      concat(lit("v"), col("id")).as("id"),
      lit("function").as("label"),
      when(col("id") % 100 === 0, concat(lit("main_"), col("id")))
        .otherwise(concat(lit("fn_"), col("id"))).as("name"),
      concat(lit("src/f"), col("id") % 1000, lit(".py")).as("file_path"),
      lit("").as("parent_name"))
    val chain = ids.filter(col("id") < n - 1).select(
      concat(lit("v"), col("id")).as("src"),
      concat(lit("v"), col("id") + 1).as("dst"),
      lit("CALLS").as("rel_type"))
    val skip = ids.select(
      concat(lit("v"), col("id")).as("src"),
      concat(lit("v"), pmod(col("id") * 7 + 13, lit(n))).as("dst"),
      lit("CALLS").as("rel_type"))
    val kg = Kg.KgTables(vertices, chain.unionByName(skip))
    timed { Analytics.deadCode(kg).count() }
  }

  /** tc1 family: degree-ordered wedge join over a ~3n-edge synthetic
    * graph (circulant + hash-scattered offsets so degrees vary) — the
    * triangle-count scaling is the wedge-join scaling.
    */
  def triangleStress(spark: SparkSession, n: Long): (Double, Long) = {
    val e = spark.range(3L * n).select(
      pmod(col("id"), lit(n)).as("a"),
      pmod(col("id") * 7 + col("id") / lit(n) + 1, lit(n)).as("b"))
    timed(graft.graph.Triangles.nodeTriangles(e).count())
  }

  /** er1 family: two-sided blocked fuzzy matching of a dirty feed
    * (interior char deleted past the prefix window) against a catalog
    * whose name-token vocabulary grows ∝ n, so the block-key
    * cardinality scales with the data — the property that keeps
    * per-block comparison counts bounded as the catalog grows (a real
    * catalog's name diversity; constant-cardinality keys would be the
    * pathological case, not the operator).
    */
  def fuzzyStress(spark: SparkSession, n: Long): (Double, Long) = {
    val vocab = math.max(1000L, n)
    val names = spark.range(n).select(col("id").as("lid"),
      concat(lit("t"), pmod(hash(col("id") * 7).cast("long"), lit(vocab)),
        lit(" t"), pmod(hash(col("id") * 13).cast("long"), lit(vocab)),
        lit(" #"), col("id") % 997).as("name"))
    val dirty = names.filter(col("lid") % 4 === 0)
      .select((col("lid") + 1000000000L).as("rid"),
        concat(substring(col("name"), 1, 7), expr("substring(name, 9)"))
          .as("name"))
    timed(FuzzyJoin.blockedBestMatch(names, dirty,
      blockLen = 4, maxDist = 2, suffixLen = 2).count())
  }

  /** kc1 family: iterative k-core peel on a cycle + irregular-map graph
    * with a planted dense core — cascade depth is set by the LOCAL
    * structure, not |V|, so rounds (and the per-round shrinking joins)
    * should grow sublinearly in the node count.
    */
  def kcoreStress(spark: SparkSession, n: Long): (Double, Long) = {
    val m = math.max(2L, (n * 2) / 3)
    val coreN = math.min(1000L, n)
    val docs = spark.range(n)
    val e1 = docs.select(col("id").as("a"), ((col("id") + 1) % n).as("b"))
    val e2 = docs.select(col("id").as("a"),
      ((col("id") * 3 + 7) % m).as("b"))
    val eCore = (1 to 4).map { k =>
      docs.filter(col("id") < coreN)
        .select(col("id").as("a"), ((col("id") + k) % coreN).as("b"))
    }.reduce(_ unionByName _)
    timed(KCore.kCore(e1.unionByName(e2).unionByName(eCore), 5).count())
  }

  /** ph1 family: 3-term phrase probe against the PERSISTED positional
    * index (write-once per corpus, like the BM25/dedup registries — the
    * measured cost is the deployment's recurring one: term-pushdown
    * scans + Exchange-free (id, start) joins, not a per-query index
    * rebuild). The phrase is planted in 1/11 docs so matches exist at
    * every size.
    */
  def phraseStress(spark: SparkSession, n: Long): (Double, Long) = {
    val docs = synthDocs(spark, n).withColumn("text",
      when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" alpha beta gamma")))
        .otherwise(col("text")))
    graft.search.Phrase.writeIndex(
      graft.search.Phrase.positionalPostings(
        docs, "doc_id", graft.text.TextFunctions.tokens),
      s"phrase_stress_$n", s"target/stress/phrase_$n")
    val p = graft.search.Phrase.readIndex(spark, s"phrase_stress_$n")
    timed(graft.search.Phrase
      .phraseSearch(p, Seq("alpha", "beta", "gamma"), 50).count())
  }

  private def synthChunks(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      concat(lit("src/f"), (col("id") / 10).cast("long"), lit(".py"))
        .as("file_path"),
      concat(lit("fn_"), col("id")).as("name"),
      lit("function").as("chunk_type"),
      concat(lit("fn_"), col("id")).as("hierarchy_path"),
      lit("").as("parent_name"),
      array(concat(lit("fn_"), pmod(col("id") + 1, lit(n))),
        concat(lit("fn_"), pmod(col("id") * 7 + 3, lit(n)))).as("calls"),
      array(concat(lit("m"), col("id") % 50)).as("imports"),
      array().cast("array<string>").as("inherits_from"),
      lit("").as("content"))

  /** g12 family: differential KG update (1% of files rechunked) vs the
    * full rebuild on the same corpus. The claim measured is that DIFF
    * time tracks the DELTA (it grows ~1.7× per 10× corpus — the
    * anti-join scans — not 10×). Note the full rebuild LOOKS cheaper
    * here: this fixture has empty content, so fromChunks pays only its
    * joins, while a real rebuild re-parses and re-embeds the whole
    * corpus — the upstream cost differential indexing exists to avoid
    * (measured by the incremental path in StreamingSpec, proven
    * equivalent by gate g12).
    */
  def diffKgStress(spark: SparkSession, n: Long): (Double, Double) = {
    val chunks = synthChunks(spark, n)
    // time the full rebuild BEFORE caching the base KG: the cached
    // tables share the rebuild's canonicalized plan, so caching first
    // would turn this measurement into a cache read
    val (tFull, _) = timed {
      val full = Kg.fromChunks(chunks)
      full.vertices.count() + full.edges.count()
    }
    val kg = Kg.fromChunks(chunks)
    kg.vertices.cache().count()
    kg.edges.cache().count()
    val rechunked = synthChunks(spark, n)
      .filter(pmod(hash(col("file_path")), lit(100)) === 0)
      .withColumn("name", concat(col("name"), lit("_v2")))
      .withColumn("hierarchy_path", concat(col("hierarchy_path"), lit("_v2")))
    val (tDiff, _) = timed {
      val updated = Kg.differentialUpdate(kg, rechunked, Nil)
      updated.vertices.count() + updated.edges.count()
    }
    kg.vertices.unpersist()
    kg.edges.unpersist()
    (tFull, tDiff)
  }

  /** Run every stress op at the given factors (base sizes are the sf0.1
    * working set: 5k docs / 2k embeddings / 10k graph nodes / 2k chunks
    * per unit factor). Returns flat metric → seconds.
    */
  /** Launch the stress harness in a FRESH child JVM (same flags, same
    * classpath, inherited env) and parse its `[stress-json]` line.
    * Bench uses this so stress measurements start from a clean heap —
    * round 8 recorded x3_d3 6× / an x3>x30 inversion with stress code
    * unchanged, pure contamination from the 224-gate bench's
    * accumulated heap/GC/codegen state.
    */
  /** Fork outcome: the parsed rows (or an error) plus an optional
    * `cut` message when the rows are a budget-killed PARTIAL set —
    * Bench surfaces the cut in the artifact's `degraded` field.
    */
  final case class ForkResult(rows: Either[String, Seq[(String, Double)]],
      cut: Option[String])

  /** `timeoutS`: wall-clock limit for the child; past it the child is
    * destroyed and the rows completed so far (streamed as
    * `[stress-json-partial]` lines) are salvaged, with the cut named
    * (r12: Bench runs under a wall-clock budget — a slow/hung stress
    * fork must not swallow the whole artifact the way r11's driver
    * timeout did). Non-positive = no limit.
    */
  def forkJson(args: Seq[String], timeoutS: Double = 0.0): ForkResult =
    try {
      import scala.jdk.CollectionConverters._
      val javaBin = new java.io.File(new java.io.File(
        System.getProperty("java.home"), "bin"), "java").getAbsolutePath
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", System.getProperty("java.class.path"), "graft.Stress") ++
        args
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectError(java.lang.ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      // drain stdout on a thread BEFORE waitFor (pipe-buffer deadlock);
      // collected lines stay available even when the deadline kills the
      // child mid-run
      val outLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val drainer = new Thread(() =>
        try scala.io.Source.fromInputStream(p.getInputStream, "UTF-8")
          .getLines().foreach(outLines.add)
        catch { case _: Throwable => }, "stress-fork-drain")
      drainer.setDaemon(true)
      drainer.start()
      val finished =
        if (timeoutS > 0)
          p.waitFor(math.ceil(timeoutS * 1000).toLong,
            java.util.concurrent.TimeUnit.MILLISECONDS)
        else { p.waitFor(); true }
      def parse(line: String, prefix: String): Seq[(String, Double)] =
        "\"([^\"]+)\":(-?[0-9.]+)".r
          .findAllMatchIn(line.stripPrefix(prefix))
          .map(m => m.group(1) -> m.group(2).toDouble).toSeq
      if (!finished) {
        p.destroyForcibly()
        p.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)
        val cut = "stress child killed at its %.0fs budget"
          .formatLocal(java.util.Locale.ROOT, timeoutS)
        // salvage the completed families from the last partial line
        outLines.asScala.toList.reverse
          .find(_.startsWith("[stress-json-partial] ")) match {
          case Some(line) =>
            val rows = parse(line, "[stress-json-partial] ")
            ForkResult(Right(rows),
              Some(s"$cut — partial: ${rows.size} rows kept"))
          case None => ForkResult(Left(s"$cut — no partial rows"), Some(cut))
        }
      } else {
        drainer.join(5000)
        val rc = p.exitValue()
        val out = outLines.asScala.toList
        out.find(_.startsWith("[stress-json] ")) match {
          case Some(line) if rc == 0 =>
            ForkResult(Right(parse(line, "[stress-json] ")), None)
          case _ =>
            // a crashed child may still have streamed completed rows
            out.reverse.find(_.startsWith("[stress-json-partial] ")) match {
              case Some(line) =>
                val rows = parse(line, "[stress-json-partial] ")
                ForkResult(Right(rows),
                  Some(s"stress child rc=$rc — partial: ${rows.size} rows kept"))
              case None =>
                ForkResult(Left(s"stress child rc=$rc, no [stress-json] line"),
                  None)
            }
        }
      }
    } catch { case e: Throwable =>
      ForkResult(Left(("stress fork failed: " +
        e.toString.replaceAll("\\s+", " ")).take(160)), None)
    }

  /** Manual runner: `runMain graft.Stress [--json] [factors...]`.
    * `--json` additionally prints one machine-readable line
    * (`[stress-json] {...}`) — the contract Bench's fresh-JVM stress
    * fork parses. `--fork-smoke` exercises the fork machinery itself
    * at factor 1 and prints the parsed result.
    */
  def main(args: Array[String]): Unit = {
    if (args.contains("--fork-smoke")) {
      println("[fork-smoke] " + forkJson(Seq("--json", "1")))
      return
    }
    val json = args.contains("--json")
    emitPartials = json // stream cumulative rows for budget-kill salvage
    val factors = args.filterNot(_ == "--json")
    val spark = GraftSession("graft-stress", defaultCpus = 32)
    val res =
      if (factors.nonEmpty) run(spark, factors.toSeq.map(_.toInt))
      else runDefault(spark)
    res.foreach { case (k, v) => println(f"[stress] $k%-22s $v%8.2f s") }
    if (json) {
      def j3(v: Double): String =
        "%.3f".formatLocal(java.util.Locale.ROOT, v)
      println("[stress-json] " + res
        .map { case (k, v) => "\"" + k + "\":" + j3(v) }
        .mkString("{", ",", "}"))
    }
    spark.stop()
  }

  /** The per-round recording: every op at two factors 10× apart. The
    * content-heavy families (d3 shingling, bg1 bigrams, pd1 paragraph
    * window) run their pair at 3/30 so the whole harness stays within
    * the per-round bench budget — the growth RATIO is the metric, not
    * the absolute size.
    */
  /** SPARK_GRAFT_STRESS_ONLY=<regex> restricts to matching family names
    * (targeted perf iteration, like Bench's SPARK_GRAFT_ONLY); the
    * driver never sets it, so recorded rounds cover everything.
    */
  private val only = sys.env.get("SPARK_GRAFT_STRESS_ONLY").map(_.r)

  /** Evaluate (min-of-[[Trials]], per-trial rows kept) a family only if
    * it passes the ONLY filter.
    */
  private def fam(name: String)(f: => Double): Seq[(String, Double)] =
    if (only.forall(_.findFirstIn(name).isDefined)) trialsOf(name)(f)
    else Seq.empty

  def runDefault(spark: SparkSession): Seq[(String, Double)] = {
    warmup(spark)
    Seq(3, 30).flatMap { f =>
      val n = 5000L * f
      fam(s"x${f}_d3_dedup")(dedupStress(spark, n)._1) ++
        fam(s"x${f}_bg1_bigram")(bigramStress(spark, n)._1) ++
        fam(s"x${f}_pd1_paradedup")(paraDedupStress(spark, n)._1) ++
        fam(s"x${f}_sa1_spans")(spanStress(spark, n)._1) ++
        fam(s"x${f}_spc1_spancorrupt")(spanCorruptStress(spark, n)._1)
    } ++ run(spark, Seq(10, 100), includeHeavyText = false)
  }

  /** One DISCARDED pass of every stress family at a tiny size, so the
    * first recorded (smallest) point does not absorb JIT/codegen warmup
    * — round 6 recorded x3_sa1 7.6 s > x30_sa1 4.8 s purely because the
    * x3 point paid first-compilation cost even under min-of-2.
    */
  def warmup(spark: SparkSession): Unit = {
    val n = 2000L
    val fams: Seq[(String, () => Any)] = Seq(
      "x1_d3_dedup" -> (() => dedupStress(spark, n)),
      "x1_bg1_bigram" -> (() => bigramStress(spark, n)),
      "x1_pd1_paradedup" -> (() => paraDedupStress(spark, n)),
      "x1_sa1_spans" -> (() => spanStress(spark, n)),
      "x1_spc1_spancorrupt" -> (() => spanCorruptStress(spark, n)),
      "x1_hb1_batch" -> (() => batchSearchStress(spark, n)),
      "x1_j11_doclinks" -> (() => docLinksStress(spark, n)),
      "x1_a13_walk" -> (() => walkStress(spark, n)),
      "x1_g12_diff" -> (() => diffKgStress(spark, n)),
      "x1_un1_lmscore" -> (() => lmScoreStress(spark, n)),
      "x1_ep1_pooling" -> (() => poolStress(spark, n)),
      "x1_tc1_triangles" -> (() => triangleStress(spark, n)),
      "x1_ph1_phrase" -> (() => phraseStress(spark, n)),
      "x1_a3ivf" -> (() => ivfStress(spark, n)),
      "x1_er1_fuzzy" -> (() => fuzzyStress(spark, n)),
      "x1_kc1_kcore" -> (() => kcoreStress(spark, n)))
    fams.foreach { case (name, f) =>
      if (only.forall(_.findFirstIn(name).isDefined)) f()
    }
  }

  def run(spark: SparkSession, factors: Seq[Int],
      includeHeavyText: Boolean = true): Seq[(String, Double)] =
    factors.flatMap { f =>
      val docsN = 5000L * f
      val dedup =
        if (includeHeavyText)
          fam(s"x${f}_d3_dedup")(dedupStress(spark, docsN)._1) ++
            fam(s"x${f}_bg1_bigram")(bigramStress(spark, docsN)._1) ++
            fam(s"x${f}_pd1_paradedup")(paraDedupStress(spark, docsN)._1) ++
            fam(s"x${f}_sa1_spans")(spanStress(spark, docsN)._1)
        else Seq.empty
      // component-wise min-of-Trials (the full/diff pair shares one
      // fixture build per call, so re-running the pair keeps them
      // comparable)
      val g12 =
        if (only.forall(_.findFirstIn(s"x${f}_g12").isDefined)) {
          val runs = (1 to Trials).map(_ => diffKgStress(spark, 2000L * f))
          record(Seq(s"x${f}_g12_full" -> runs.map(_._1).min,
            s"x${f}_g12_diff" -> runs.map(_._2).min) ++
            runs.zipWithIndex.flatMap { case ((fu, di), i) =>
              Seq(s"t:x${f}_g12_full:${i + 1}" -> fu,
                s"t:x${f}_g12_diff:${i + 1}" -> di)
            })
        } else Seq.empty
      // a3 family emits a probe-latency row AND a recall row per
      // factor (recall is deterministic per size — no trial spread)
      val a3 =
        if (only.forall(_.findFirstIn(s"x${f}_a3ivf").isDefined)) {
          val (probes, recall) = ivfStressTrials(spark, docsN, Trials)
          record(Seq(s"x${f}_a3ivf_probe" -> probes.min,
            s"x${f}_a3ivf_recall" -> recall) ++
            probes.zipWithIndex.map { case (p, i) =>
              s"t:x${f}_a3ivf_probe:${i + 1}" -> p
            })
        } else Seq.empty
      // a4/a6 quality rows: one evaluation per factor (deterministic —
      // see quantRecallStress), gated on either name matching the
      // ONLY filter since the pair shares one fixture+truth build
      val quant =
        if (only.forall(r => r.findFirstIn(s"x${f}_a4_recall").isDefined ||
            r.findFirstIn(s"x${f}_a6_recall").isDefined)) {
          val (a4r, a6r) = quantRecallStress(spark, docsN)
          record(Seq(s"x${f}_a4_recall" -> a4r, s"x${f}_a6_recall" -> a6r))
        } else Seq.empty
      dedup ++ a3 ++ quant ++
        fam(s"x${f}_hb1_batch")(batchSearchStress(spark, docsN)._1) ++
        fam(s"x${f}_j11_doclinks")(docLinksStress(spark, docsN)._1) ++
        fam(s"x${f}_a13_walk")(walkStress(spark, 10000L * f)._1) ++
        g12 ++
        fam(s"x${f}_un1_lmscore")(lmScoreStress(spark, docsN)._1) ++
        fam(s"x${f}_ep1_pooling")(poolStress(spark, docsN)._1) ++
        fam(s"x${f}_tc1_triangles")(triangleStress(spark, 20000L * f)._1) ++
        fam(s"x${f}_ph1_phrase")(phraseStress(spark, docsN)._1) ++
        // 10k/f: at 2k/f both points sat under the ~1 s job floor, where
        // run jitter can invert the pair — size the family so the x100
        // point does visibly more levenshtein work than x10
        fam(s"x${f}_er1_fuzzy")(fuzzyStress(spark, 10000L * f)._1) ++
        fam(s"x${f}_kc1_kcore")(kcoreStress(spark, 10000L * f)._1)
    }
}
