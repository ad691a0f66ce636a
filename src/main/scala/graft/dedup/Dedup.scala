package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{PortableHash, VectorFunctions}
import graft.text.TextFunctions

/** Deduplication operators for the large-scale training-data pipeline:
  * exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup.
  *
  * Scale posture (100 TB): nothing here collects to the driver.
  *   - exact dedup is one hash-partitioned groupBy on the fingerprint;
  *   - MinHash shuffles (doc × numHashes) rows, LSH banding shuffles
  *     (doc × bands) rows, candidate pairing is a per-bucket self-join —
  *     the whole point of LSH is that buckets are tiny, so the join
  *     never quadratically explodes the way all-pairs Jaccard would;
  *   - SimHash is one explode + two groupBys, all partial-aggregable;
  *   - pair verification (`jaccardOfPairs`, `containmentOfPairs`) runs
  *     only on the LSH candidate set, which is what
  *     `minhashNearDupPairs` does.
  */
object Dedup {
  import PortableHash.hash60
  import TextFunctions._

  /** Exact-duplicate groups by normalized-content sha256.
    * Output: (fingerprint, n_docs, min_doc_id).
    */
  def exactDupGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol), fingerprintSha(col(textCol)).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("min_doc_id"))

  /** (id, shingle) exploded distinct word-k-shingles, docs with < k tokens
    * dropped (they have no k-shingle).
    */
  def docShingles(docs: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(shingles(col("toks"), k)).as("shingle"))

  /** SOFT dedup — duplicate-count downweighting instead of hard drops
    * (the "keep one copy" policy loses the signal that a document was
    * independently replicated; training pipelines increasingly weight
    * by 1/cluster_size so total mass per distinct content is constant).
    * Components come from the O(log n) star closure over the verified
    * near-dup pair graph; singletons weight 10^6.
    * Output: (doc_id, cluster_id, cluster_size, weight_micro).
    */
  def softDedupWeights(pairs: DataFrame, docs: DataFrame,
      idCol: String): DataFrame = {
    val cl = resolveClustersStar(pairs, docs, idCol)
      .select(col("doc_id"), col("cluster_id"))
    val sizes = cl.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    cl.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        col("cluster_size").cast("long").as("cluster_size"),
        (lit(1000000L) / col("cluster_size")).cast("long")
          .as("weight_micro"))
  }

  /** N-gram NOVELTY scoring — the data-valuation complement of
    * decontamination: per scored document, the fraction of its distinct
    * word k-shingles absent from a reference corpus (how much genuinely
    * new n-gram mass a candidate source adds before it is bought /
    * mixed in; docs under k tokens drop out as in [[docShingles]]).
    * Output: (doc_id, n_shingles, n_novel, novelty_micro).
    *
    * Scale shape: distinct reference shingles via one aggregate, then a
    * LEFT join on the shingle string — both sides hash-partitioned by
    * the join key (a 100 TB reference vocabulary never broadcasts), one
    * partial-aggregated rollup per doc. Integer micro ratio.
    */
  def ngramNovelty(scored: DataFrame, reference: DataFrame,
      textCol: String, idCol: String, k: Int): DataFrame = {
    val refShingles = docShingles(reference, textCol, idCol, k)
      .select(col("shingle")).distinct()
      .withColumn("seen", lit(1))
    docShingles(scored, textCol, idCol, k)
      .join(refShingles, Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"),
        col("n_shingles").cast("long").as("n_shingles"),
        col("n_novel").cast("long").as("n_novel"),
        (col("n_novel") * lit(1000000L) / col("n_shingles"))
          .cast("long").as("novelty_micro"))
  }

  /** Universal-hash family for MinHash: one base md5 hash per shingle,
    * then h_i(x) = (a_i * (base % 2^30) + b_i) mod P — the standard
    * (a·x+b) mod p construction, so the per-shingle cost is one md5
    * plus numHashes multiply-adds instead of numHashes md5 chains.
    * Coefficients are plan-time constants from hash60Local, and every
    * operation is exact 64-bit integer math (portable to the DuckDB
    * oracle: a_i < 2^30, base < 2^30 → product < 2^60, no overflow).
    */
  val MinhashP: Long = 1073741789L // largest prime < 2^30
  val MinhashM: Long = 1L << 30

  def minhashA(i: Int): Long =
    PortableHash.hash60Local("mha", i.toString) % (MinhashP - 1) + 1
  def minhashB(i: Int): Long =
    PortableHash.hash60Local("mhb", i.toString) % MinhashP

  /** MinHash signatures, long form: (doc_id, h, v) where v = min over the
    * doc's shingles of the h-th universal hash of the shingle.
    *
    * Computed WITHOUT the ×numHashes row explosion: each shingle row
    * feeds `numHashes` parallel min-aggregates (map-side combinable), so
    * the shuffle carries one partially-aggregated row per (partition,
    * doc) instead of numHashes rows per shingle — at 500k docs × 58
    * shingles × 64 hashes that is 1.9 B exploded rows avoided (the
    * pre-r4 shape grew superlinearly under shuffle pressure in the
    * stress harness; this one stays linear). Values are bit-identical
    * to the long-form compute, so the d2/d3 oracles are untouched.
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val base = sh.withColumn("base",
      pmod(hash60(col("shingle"), 0), lit(MinhashM)))
    val minCols = (0 until numHashes).map { i =>
      min(pmod(lit(minhashA(i)) * col("base") + lit(minhashB(i)),
        lit(MinhashP))).as(s"v$i")
    }
    base.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        posexplode(array((0 until numHashes).map(i => col(s"v$i")): _*)))
      .withColumnRenamed("pos", "h")
      .withColumnRenamed("col", "v")
  }

  /** LSH banding of a long-form signature: (doc_id, band, band_val) where
    * band_val is the ','-joined signature slice, ordered by h.
    */
  def lshBands(sigs: DataFrame, rowsPerBand: Int): DataFrame =
    sigs
      .withColumn("band", (col("h") / rowsPerBand).cast("int"))
      .groupBy(col("doc_id"), col("band"))
      .agg(concat_ws(",",
        transform(array_sort(collect_list(struct(col("h"), col("v")))),
          s => s.getField("v").cast("string"))).as("band_val"))

  /** Candidate pairs (a < b) sharing at least one LSH bucket. */
  def lshCandidates(bands: DataFrame): DataFrame = {
    val l = bands.select(col("band"), col("band_val"), col("doc_id").as("a"))
    val r = bands.select(col("band"), col("band_val"), col("doc_id").as("b"))
    l.join(r, Seq("band", "band_val"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** Duplicate-cluster resolution — the step AFTER pair finding: connected
    * components of the near-dup pair graph by min-label propagation
    * (cluster id = smallest doc id in the component), then the canonical
    * flag (`doc_id == cluster_id`) a training pipeline keeps one
    * representative with.
    *
    * Scale shape: labels exist only for docs that appear in a pair (the
    * dup graph is a small fraction of the corpus); each round is one
    * equi-join of the undirected edge list with the label table plus a
    * map-side min; labels only decrease, so the sum is a monotone
    * convergence probe; rounds ∝ component diameter (near-dup clusters
    * are shallow). Singletons never enter the loop and join back at the
    * end.
    */
  def resolveClusters(pairs: DataFrame, docs: DataFrame, idCol: String,
      maxRounds: Int = 20): DataFrame = {
    val und = pairs.select(col("a").as("x"), col("b").as("y"))
      .unionByName(pairs.select(col("b").as("x"), col("a").as("y")))
    val nodes = und.select(col("x").as("id")).distinct()
    var labels = nodes.withColumn("lbl", col("id")).localCheckpoint(true)
    // r12: single-job RDD sum when lbl is a long (every gate caller —
    // doc ids), materializing the round's lazy mark in the same job;
    // SQL fallback otherwise (WalkLayout.materializedCountSum notes)
    def lblSum(df: DataFrame): Long =
      if (df.schema("lbl").dataType ==
          org.apache.spark.sql.types.LongType)
        graft.graph.WalkLayout.materializedCountSum(df, "lbl")._2
      else df.agg(coalesce(sum(col("lbl")), lit(0L))).head().getLong(0)
    var prev = lblSum(labels)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val nb = und
        .join(labels.select(col("id").as("y"), col("lbl").as("nlbl")), Seq("y"))
        .groupBy(col("x")).agg(min(col("nlbl")).as("mn"))
        .withColumnRenamed("x", "id")
      val next = labels.join(nb, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("mn"), col("lbl"))).as("lbl"))
        // r12: lazy mark — the full-aggregate label checksum below
        // materializes every partition in the same job (2 jobs/round→1)
        .localCheckpoint(false)
      val s = lblSum(next)
      converged = s == prev
      prev = s
      labels = next
      round += 1
    }
    docs.select(col(idCol).as("doc_id"))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
  }

  /** Duplicate-cluster resolution by alternating large-star / small-star
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond") — the O(log n)-round closure for dup graphs whose
    * components are NOT shallow: [[resolveClusters]]' label propagation
    * needs rounds ∝ component diameter (fine for near-dup cliques,
    * ruinous for chain-shaped components a 100 TB crawl produces via
    * transitive near-dup links); star contraction doubles the hop
    * distance covered per round instead.
    *
    * Each round is two groupBy-min + explode passes over the EDGE
    * relation only (nodes outside any pair never enter); edges only move
    * toward component minima, and the unique fixpoint is the star graph
    * centered on each component's smallest id — the same (cluster id =
    * min member) contract as resolveClusters, so the two are
    * interchangeable and oracle-compatible.
    */
  def resolveClustersStar(pairs: DataFrame, docs: DataFrame, idCol: String,
      maxRounds: Int = 15): DataFrame = {
    // canonical undirected edges a < b, no self-loops
    var edges = pairs
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint(true)
    // set-identity probe: count + an order-free keyed checksum (a wrong
    // early stop would surface as a wrong component table, so the
    // checksum is over the canonical (a,b) pairs, not just Σ(a+b))
    // r12: single-job RDD checksum when the ids are longs (every gate
    // caller — doc ids), materializing the round's lazy mark in the
    // same job; SQL fallback for non-long ids. The emptiness test
    // reuses the probe's count instead of a separate isEmpty job.
    def probe(e: DataFrame): (Long, Long) =
      if (e.schema("a").dataType == org.apache.spark.sql.types.LongType &&
          e.schema("b").dataType == org.apache.spark.sql.types.LongType)
        graft.graph.WalkLayout.materializedCountChecksum(
          e, "a", "b", 1000003L)
      else {
        val r = e.agg(count(lit(1)),
          coalesce(sum(col("a") * 1000003L + col("b")), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
    var prev = probe(edges)
    var round = 0
    var converged = prev._1 == 0L
    while (!converged && round < maxRounds) {
      // large-star: per node u over BOTH directions, attach every
      // strictly-larger neighbor to m = min(N(u) ∪ {u})
      val nbr = edges.select(col("a").as("u"), col("b").as("v"))
        .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
      val mL = nbr.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      val large = nbr.join(mL, Seq("u"))
        .filter(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("a"),
          greatest(col("v"), col("m")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      // small-star: per node u over its SMALLER neighbors (key = larger
      // endpoint), attach them (and u) to the minimum
      val sNbr = large.select(col("b").as("u"), col("a").as("v"))
      val mS = sNbr.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = sNbr.join(mS, Seq("u"))
        .select(col("v"), col("u"), col("m"))
        .select(explode(array(
          struct(col("v").as("x"), col("m")),
          struct(col("u").as("x"), col("m")))).as("e"))
        .select(least(col("e.x"), col("e.m")).as("a"),
          greatest(col("e.x"), col("e.m")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
        // r12: lazy mark — the full-aggregate set-identity probe below
        // materializes every partition in the same job (2 jobs/round→1)
        .localCheckpoint(false)
      val s = probe(small)
      converged = s == prev
      prev = s
      edges = small
      round += 1
    }
    // refuse to emit labels from a non-fixpoint edge set: a maxRounds
    // bail-out would silently produce cluster ids that are not
    // component minima (alternating star rounds converge in O(log n);
    // 15 covers astronomically large components, so tripping this means
    // something is genuinely wrong)
    if (!converged)
      throw new IllegalStateException(
        s"resolveClustersStar did not reach the star fixpoint in " +
          s"$maxRounds rounds")
    // fixpoint is a star per component: every edge is (min, member)
    val labels = edges.select(col("b").as("doc_id"), col("a").as("lbl"))
      .groupBy(col("doc_id")).agg(min(col("lbl")).as("lbl"))
    docs.select(col(idCol).as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
  }

  /** Quality-based canonical selection over resolved dup clusters: the
    * member a pipeline KEEPS is the best-quality one (longest text,
    * highest classifier score — caller's `qCol`), not the min-id label
    * the closure algorithms emit. Output: (doc_id, cluster_id, rep_id,
    * keep). One cluster-partitioned window over the cluster relation —
    * bounded by cluster sizes, which banding already bounds; ties
    * break on doc_id so selection is total.
    */
  def selectRepresentatives(clusters: DataFrame, quality: DataFrame,
      qCol: String): DataFrame = {
    val joined = clusters.select(col("doc_id"), col("cluster_id"))
      .join(quality.select(col("doc_id"), col(qCol)), Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col(qCol).desc, col("doc_id"))
    val reps = joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("rep_id"))
    joined.join(reps, Seq("cluster_id"))
      .withColumn("keep", col("doc_id") === col("rep_id"))
      .select(col("doc_id"), col("cluster_id"), col("rep_id"), col("keep"))
  }

  /** Asymmetric containment over shingle sets for the given pairs
    * (Broder 1997, "On the resemblance and containment of documents"):
    * containment_a = |A∩B| / |A| (≈1 ⇒ a is a quote/subset of b) and
    * the converse containment_b — the directional signal Jaccard
    * resemblance washes out (a 12-token quote inside a 500-token doc
    * has Jaccard ≈ 0.02 but containment_a = 1.0). Pair-routed exactly
    * like [[jaccardOfPairs]]: candidates come from any pair-finder, the
    * shingle join streams through them, never a corpus self-join.
    */
  def containmentOfPairs(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("a"), col("shingle")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("shingle")), Seq("b", "shingle"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(inter, Seq("a", "b"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .withColumn("containment_a", round(col("inter") / col("na"), 6))
      .withColumn("containment_b", round(col("inter") / col("nb"), 6))
  }

  /** Exact Jaccard over shingle sets for the given pairs.
    * `pairs` must have columns (a, b); result adds `jaccard`.
    */
  def jaccardOfPairs(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // route the shingle join THROUGH the candidate pairs (pairs ⋈ shA ⋈
    // shB-on-(b,shingle)) — row volume is Σ|A∩candidates' shingles|, not
    // the full shingle self-join blowup that a shared shingle across
    // thousands of docs would produce
    val inter = pairs
      .join(sh.select(col("doc_id").as("a"), col("shingle")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("shingle")), Seq("b", "shingle"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(inter, Seq("a", "b"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), Seq("a"))
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), Seq("b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Full MinHash+LSH near-dup pipeline: shingle → sign → band → candidate
    * pairs → exact-Jaccard verify → threshold.
    */
  def minhashNearDupPairs(docs: DataFrame, textCol: String, idCol: String,
      k: Int, numHashes: Int, rowsPerBand: Int, minJaccard: Double): DataFrame = {
    // sh feeds signatures + both sides of the intersection join, and
    // bands feed both sides of the bucket self-join — cache the small
    // intermediates instead of recomputing the subtree per branch
    // (Catalyst does not CSE across self-joins)
    val sh = docShingles(docs, textCol, idCol, k).cache()
    val bands = lshBands(minhashSignatures(sh, numHashes), rowsPerBand).cache()
    val cands = lshCandidates(bands)
    jaccardOfPairs(cands, sh).filter(col("jaccard") >= minJaccard)
  }

  /** Incremental near-dup routing for continuous ingestion: candidate
    * pairs for a NEW batch of documents against a persisted corpus dedup
    * index, plus first-occurrence pairs within the batch itself, each
    * verified with exact Jaccard. The corpus pays nothing at batch time
    * beyond the band equi-join probe and the candidate-routed shingle
    * intersection — its shingle/band tables are the write-once index
    * the d3 gates persist — BUCKETED by (band, band_val) / doc_id, so
    * both probes read the corpus side pre-partitioned with zero
    * Exchange (BucketedLayoutSpec). Batch-side
    * shingles and bands are recomputed fresh, but the batch is the small
    * side by construction.
    *
    * Output: (new_id, match_id, jaccard) — one row per candidate, where
    * match_id is either a corpus doc or an EARLIER batch doc (id-order
    * first-occurrence, so the batch's own duplicates are charged to
    * their first copy, mirroring `paragraphDedup`'s keep-first rule).
    * Corpus and batch id spaces must be disjoint.
    */
  def incrementalNearDups(newDocs: DataFrame, corpusShingles: DataFrame,
      corpusBands: DataFrame, textCol: String, idCol: String, k: Int,
      numHashes: Int, rowsPerBand: Int): DataFrame = {
    val nsh = docShingles(newDocs, textCol, idCol, k).cache()
    val nbands = lshBands(minhashSignatures(nsh, numHashes), rowsPerBand).cache()
    val vsCorpus = nbands
      .select(col("band"), col("band_val"), col("doc_id").as("new_id"))
      .join(corpusBands
        .select(col("band"), col("band_val"), col("doc_id").as("match_id")),
        Seq("band", "band_val"))
      .select(col("new_id"), col("match_id"))
    val vsBatch = lshCandidates(nbands)
      .select(col("b").as("new_id"), col("a").as("match_id"))
    val cands = vsCorpus.unionByName(vsBatch).distinct()
    // sizes come from the union shingle table: the corpus side of that
    // aggregate is a doc_id-only columnar scan of the persisted index —
    // at cluster scale the per-doc shingle count would simply be one
    // more persisted index column, skipping the scan entirely
    jaccardOfPairs(
        cands.select(col("new_id").as("a"), col("match_id").as("b")),
        nsh.unionByName(corpusShingles))
      .select(col("a").as("new_id"), col("b").as("match_id"), col("jaccard"))
  }

  /** Per-new-doc ingest decision over `incrementalNearDups` output: the
    * best verified match (highest Jaccard, smallest match id on ties —
    * the repo-wide unique-id ordering contract), the candidate count,
    * and the keep/drop flag a training pipeline acts on. Novel docs
    * (no candidate in any shared band) surface with null best-match and
    * is_dup = false.
    */
  def ingestVerdicts(newDocs: DataFrame, pairs: DataFrame, idCol: String,
      minJaccard: Double): DataFrame = {
    val perDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("new_id"))
    val best = pairs
      .withColumn("n_cands", count(lit(1)).over(perDoc))
      .withColumn("rk", row_number().over(
        perDoc.orderBy(col("jaccard").desc, col("match_id"))))
      .filter(col("rk") === 1)
      .select(col("new_id"), col("n_cands"),
        col("jaccard").as("best_jaccard"), col("match_id").as("best_match"))
    newDocs.select(col(idCol).as("new_id"))
      .join(best, Seq("new_id"), "left")
      .select(col("new_id"),
        coalesce(col("n_cands"), lit(0L)).as("n_cands"),
        col("best_jaccard"), col("best_match"),
        coalesce(col("best_jaccard") >= minJaccard, lit(false)).as("is_dup"))
  }

  /** 60-bit SimHash per doc: bit i set iff sum over tokens of
    * tf * (bit_i(hash60(0, token)) ? 1 : -1) is positive.
    */
  def simhash(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("hv", hash60(col("tok"), 0))
    // one aggregate column per bit instead of a 60x row explosion:
    // weight_i > 0  ⟺  2*Σ tf·bit_i > Σ tf  (all-integer, exact — the
    // values match the exploded formulation bit for bit, so the DuckDB
    // oracle formulation stays valid)
    val bitSums = (0 until 60).map { i =>
      sum(col("tf") * expr(s"shiftrightunsigned(hv, $i) % 2")).as(s"w$i")
    }
    val aggs = (sum(col("tf")).as("s")) +: bitSums
    tf.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("simhash",
        (0 until 60).map(i =>
          when(col(s"w$i") * 2 > col("s"), lit(1L << i)).otherwise(0L))
          .reduce(_ + _))
      .select(col("doc_id"), col("simhash"))
  }

  /** Pigeonhole segment defs for banded Hamming search over a `bits`-bit
    * hash: `maxHamming + 1` contiguous segments (wider ones first). Any
    * pair within Hamming ≤ maxHamming differs in ≤ maxHamming bits, so at
    * least one of the maxHamming+1 disjoint segments is untouched — the
    * pair collides exactly on that segment. Returns (seg, shift, mask).
    */
  def simhashSegmentDefs(maxHamming: Int, bits: Int = 60): Seq[(Int, Int, Long)] = {
    val nseg = maxHamming + 1
    val base = bits / nseg
    val rem = bits % nseg
    val lens = (0 until nseg).map(i => if (i < rem) base + 1 else base)
    val starts = lens.scanLeft(0)(_ + _)
    (0 until nseg).map(i => (i, starts(i), (1L << lens(i)) - 1))
  }

  /** (doc_id, simhash, seg, seg_val) banding rows — one per segment. */
  private def segmented(sims: DataFrame, maxHamming: Int): DataFrame = {
    val segArr = array(simhashSegmentDefs(maxHamming).map { case (seg, sh, mask) =>
      struct(lit(seg).as("seg"),
        shiftrightunsigned(col("simhash"), sh).bitwiseAND(lit(mask)).as("seg_val"))
    }: _*)
    sims
      .select(col("doc_id"), col("simhash"), explode(segArr).as("s"))
      .select(col("doc_id"), col("simhash"),
        col("s.seg").as("seg"), col("s.seg_val").as("seg_val"))
  }

  /** Pairs within a SimHash Hamming radius via pigeonhole banding — the
    * scale path: an equi-join on (segment, segment_value) replaces the
    * all-pairs cartesian, with zero recall loss (see simhashSegmentDefs).
    * Output is every pair within the radius, as an all-pairs Hamming
    * filter would find.
    */
  def simhashPairsBanded(sims: DataFrame, maxHamming: Int): DataFrame = {
    // the banding rows feed both sides of the self-join — cache them
    // (Catalyst does not CSE across self-joins; same lesson as LSH)
    val segs = segmented(sims, maxHamming).cache()
    val l = segs.select(col("seg"), col("seg_val"),
      col("doc_id").as("a"), col("simhash").as("sa"))
    val r = segs.select(col("seg"), col("seg_val"),
      col("doc_id").as("b"), col("simhash").as("sb"))
    l.join(r, Seq("seg", "seg_val"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("sa"), col("sb"))
      .distinct()
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** 60-bit sign fingerprint of an embedding: bit i = (vec[i] > 0). A
    * strict float comparison — exact and portable across engines, unlike
    * a random-hyperplane dot whose SIGN depends on summation order.
    */
  def signFingerprint(vec: Column, bits: Int = 60): Column = {
    // one small lambda tree, not 60 chained CASE WHENs — a wide literal
    // expression here would be duplicated by projection collapse into
    // every segment shift and join side, and Catalyst optimization time
    // on the join plan would dwarf the actual execution
    val powers = typedlit((0 until bits).map(i => 1L << i))
    aggregate(
      zip_with(slice(vec, 1, bits), powers,
        (x, p) => when(x > 0f, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  def signFingerprintSql(e: String, bits: Int = 60): String =
    (0 until bits).map(i =>
      s"(CASE WHEN $e[${i + 1}] > 0 THEN ${1L << i}::BIGINT ELSE 0::BIGINT END)")
      .mkString("(", " + ", ")")

  /** Embedding near-dup pairs, scale path: sign-fingerprint the vectors,
    * pigeonhole-band candidates within `maxHamming` sign flips, then exact
    * cosine verify ≥ minSim. Near-identical vectors flip almost no sign
    * bits, so a small radius keeps full recall on true near-dups while the
    * band equi-join prunes the cartesian.
    */
  def embeddingNearDupBanded(emb: DataFrame, idCol: String, vecCol: String,
      maxHamming: Int, minSim: Double): DataFrame = {
    val base = emb.select(col(idCol).as("doc_id"), col(vecCol).as("vec"))
    val sigs = base.select(col("doc_id"),
      signFingerprint(col("vec")).as("simhash"))
    val cands = simhashPairsBanded(sigs, maxHamming)
    cands
      .join(base.select(col("doc_id").as("a"), col("vec").as("va")), Seq("a"))
      .join(base.select(col("doc_id").as("b"), col("vec").as("vb")), Seq("b"))
      .withColumn("sim", VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("sim") >= minSim)
      .select(col("a"), col("b"), col("sim"))
  }
}
