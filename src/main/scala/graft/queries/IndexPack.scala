package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.IndexStore
import graft.ingest.{FileDiscovery, GitignoreRules}
import graft.tables.Tables

/** Incremental-index set algebra pack (SURVEY §2.3 J3/J4/J5): the
  * reference's embedding_status/mtime state machine re-expressed as
  * joins over two snapshots — proven here with a fixture that hits
  * every branch: hash-changed files, torn (mixed-hash) stored files,
  * moves (same hash at a new path), brand-new paths, and deletions.
  */
object IndexPack {

  /** Disk snapshot: k<10 changed hashes, 10..49 unchanged (but 50..54's
    * stored paths have MOVED here under moved/), 55..59 brand new.
    */
  private def disk(s: SparkSession, d: String): DataFrame = {
    val k = (col("doc_id") % 60).cast("int")
    Tables.documents(s, d).select(k.as("k")).distinct().select(
      when(col("k") < 50, concat(lit("src/f"), col("k"), lit(".py")))
        .when(col("k") < 55, concat(lit("moved/f"), col("k"), lit(".py")))
        .otherwise(concat(lit("new/f"), col("k"), lit(".py")))
        .as("file_path"),
      when(col("k") < 10, concat(lit("chg"), col("k"), lit("_new")))
        .when(col("k") < 55, concat(lit("same"), col("k")))
        .otherwise(concat(lit("new"), col("k")))
        .as("file_hash"))
  }

  private val diskSql =
    """SELECT CASE WHEN k < 50 THEN 'src/f' || k || '.py'
      |    WHEN k < 55 THEN 'moved/f' || k || '.py'
      |    ELSE 'new/f' || k || '.py' END AS file_path,
      |  CASE WHEN k < 10 THEN 'chg' || k || '_new'
      |    WHEN k < 55 THEN 'same' || k
      |    ELSE 'new' || k END AS file_hash
      |FROM ks""".stripMargin

  /** Stored snapshot: k<55 at src/ paths (old hashes for k<10), plus a
    * second conflicting hash row for k in (30, 31) — the torn-update
    * case that must always reindex.
    */
  private def stored(s: SparkSession, d: String): DataFrame = {
    val ks = Tables.documents(s, d)
      .select((col("doc_id") % 60).cast("int").as("k")).distinct()
    val base = ks.filter(col("k") < 55).select(
      concat(lit("src/f"), col("k"), lit(".py")).as("file_path"),
      when(col("k") < 10, concat(lit("chg"), col("k"), lit("_old")))
        .otherwise(concat(lit("same"), col("k"))).as("file_hash"))
    val torn = ks.filter(col("k").isin(30, 31)).select(
      concat(lit("src/f"), col("k"), lit(".py")).as("file_path"),
      concat(lit("torn"), col("k")).as("file_hash"))
    base.unionByName(torn)
  }

  private val storedSql =
    """SELECT 'src/f' || k || '.py' AS file_path,
      |  CASE WHEN k < 10 THEN 'chg' || k || '_old'
      |    ELSE 'same' || k END AS file_hash
      |FROM ks WHERE k < 55
      |UNION ALL
      |SELECT 'src/f' || k || '.py', 'torn' || k
      |FROM ks WHERE k IN (30, 31)""".stripMargin

  private val ksSql =
    "ks AS (SELECT DISTINCT CAST(doc_id % 60 AS INTEGER) AS k FROM documents)"

  /** st1's per-JVM seed registry: residue keys of the seeded workspace
    * plus a (relative path → byte size) manifest of the seed snapshot,
    * present once the seed index + snapshot exist for a corpus dir.
    * The manifest lets every restore VERIFY the on-disk seed is intact
    * (VERDICT r8 #9): /tmp is shared mutable state, and restoring from
    * a corrupted/partially-deleted snapshot would gate against a torn
    * index instead of failing loudly — on mismatch the entry is
    * evicted and the seed rebuilt from the corpus.
    */
  private val st1SeedCache = scala.collection.concurrent
    .TrieMap[String, (Array[Int], Map[String, Long])]()

  /** (relative path → size) of every regular file under `base`'s seed
    * snapshot dirs — the integrity manifest.
    */
  private def st1Manifest(base: String): Map[String, Long] = {
    val b = java.nio.file.Path.of(base)
    Seq("seed_chunks", "seed_vectors").flatMap { dir =>
      val p = b.resolve(dir)
      if (!java.nio.file.Files.isDirectory(p)) Seq.empty
      else {
        val st = java.nio.file.Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(f => b.relativize(f).toString ->
              java.nio.file.Files.size(f)).toList
        } finally st.close()
      }
    }.toMap
  }

  private[queries] def st1V1(k: Int) = s"def fn_$k(x):\n    return x + $k\n"
  private[queries] def st1V2(k: Int) =
    s"def fn_$k(x):\n    y = x * 2\n    return y + $k\n"

  /** Seed (once per corpus per JVM) and restore the st1 workspace +
    * store to the pristine seeded state. Returns (base, residues).
    */
  private def st1Restore(s: SparkSession, d: String): (String, Array[Int]) = {
    val h = java.lang.Long.toHexString(
      graft.functions.PortableHash.hash60Local("st1", d))
    val base = s"/tmp/graft_st1_$h"
    def put(name: String, text: String): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Path.of(s"$base/ws/$name"), text)
    def seed(): (Array[Int], Map[String, Long]) = {
      rmTree(new java.io.File(base))
      new java.io.File(s"$base/ws").mkdirs()
      import s.implicits._
      val ks0 = Tables.documents(s, d)
        .select((col("doc_id") % 24).cast("int").as("k"))
        .distinct().as[Int].collect().sorted
      ks0.foreach(k => put(s"w$k.py", st1V1(k)))
      new graft.search.SearchEngine(s).indexRepo(
        s"$base/ws", s"$base/chunks", s"$base/vectors")
      copyTree(s"$base/chunks", s"$base/seed_chunks")
      copyTree(s"$base/vectors", s"$base/seed_vectors")
      (ks0, st1Manifest(base))
    }
    val (ks, _) = st1SeedCache.get(d) match {
      case Some(entry) if st1Manifest(base) == entry._2 => entry
      case cached =>
        // first touch this JVM, or the snapshot on disk no longer
        // matches the manifest (deleted/truncated/foreign files):
        // re-seed rather than restore a torn snapshot
        if (cached.isDefined)
          System.err.println(
            s"[st1] seed snapshot at $base failed integrity check; re-seeding")
        val fresh = seed()
        st1SeedCache.put(d, fresh)
        fresh
    }
    rmTree(new java.io.File(s"$base/ws"))
    new java.io.File(s"$base/ws").mkdirs()
    ks.foreach(k => put(s"w$k.py", st1V1(k)))
    rmTree(new java.io.File(s"$base/chunks"))
    rmTree(new java.io.File(s"$base/vectors"))
    copyTree(s"$base/seed_chunks", s"$base/chunks")
    copyTree(s"$base/seed_vectors", s"$base/vectors")
    Seq(s"$base/chunks", s"$base/vectors").foreach(s.catalog.refreshByPath)
    (base, ks)
  }

  /** Recursive delete of a file tree. */
  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(rmTree)
    f.delete(); ()
  }

  /** Recursive file-tree copy (metadata-scale store snapshots). */
  private def copyTree(src: String, dst: String): Unit = {
    val s = java.nio.file.Path.of(src)
    val d = java.nio.file.Path.of(dst)
    java.nio.file.Files.walk(s).forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else {
        java.nio.file.Files.createDirectories(t.getParent)
        java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      ()
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S12 embedding cache: the content-sha-keyed Parquet KV cache
    // exercised COLD → WARM in one gate — phase 1 embeds a quarter of
    // the corpus and persists it; phase 2 requests the full set, so
    // phase-1 rows MUST be served from the cache (anti-join routes only
    // misses to the featurizer) and the merged result must be
    // indistinguishable from embedding everything directly. The oracle
    // is the full featurizer in SQL (the e2e1 mirror) — cache
    // transparency is exactly "output equals the uncached pipeline".
    "s12_embed_cache" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 300)
      val path = s"target/embcache/${java.lang.Long.toHexString(
        graft.functions.PortableHash.hash60Local("embc", d))}"
      // start COLD every invocation: a leftover cache from a previous
      // run would turn phase 1 into hits and mask a broken write path
      rmTree(new java.io.File(path))
      // the shared FileStatusCache may still list the deleted files
      s.catalog.refreshByPath(path)
      graft.embed.HashEmbedder.embedWithCache(s,
        docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", path)
        .count()
      val out = graft.embed.HashEmbedder.embedWithCache(s, docs,
        "doc_id", "text", path)
      out.select(col("id"), posexplode(col("vector")))
        .filter(col("col") =!= 0.0f)
        .select(col("id"), (col("pos") + 1).cast("int").as("i"),
          round(col("col").cast("double"), 6).as("val"))
        .orderBy(col("id"), col("i"))
    }),

    // ST1-ST3 streaming reindex END STATE (watcher.py:218-360): a
    // seeded workspace is mutated through TWO debounced micro-batches
    // driven through WatchStream.applyBatch — batch 1 modifies w1,
    // creates w100 and carries modify-then-delete noise for w2 (the
    // debounce must keep only the delete); batch 2 moves w3→m3
    // (metadata-only rewrite, no re-embed), deletes w4, re-modifies
    // w100 and creates w101. The FINAL chunks+vectors tables are gated
    // against a DuckDB reconstruction of the same event algebra (the
    // g12 delta ≡ full-rebuild pattern): per surviving file, the chunk
    // row (name/lines/content sha) and its vector-table twin (64-dim
    // membership) — streamed maintenance must land exactly where a
    // from-scratch index of the final workspace would.
    "st1_stream_reindex" -> ((s, d) => {
      import s.implicits._
      // seed ONCE per corpus per JVM (the registry pattern): the seed
      // index is per-corpus INGEST work; the gate times the streamed
      // MAINTENANCE from a restored pristine state every run.
      val (base, ks) = st1Restore(s, d)
      val chunksPath = s"$base/chunks"
      val vectorsPath = s"$base/vectors"
      def v1(k: Int) = st1V1(k)
      def v2(k: Int) = st1V2(k)
      def put(name: String, text: String): Unit =
        java.nio.file.Files.writeString(
          java.nio.file.Path.of(s"$base/ws/$name"), text)
      def ev(p: String, t: String, ms: Long, dest: String = null) =
        graft.streaming.WatchStream.FileEvent(s"$base/ws/$p", t,
          new java.sql.Timestamp(ms),
          if (dest == null) null else s"$base/ws/$dest")
      // mutations of SEEDED files are guarded on the residue set
      // (ADVICE r8): the oracle mirrors these via membership tests, so
      // a corpus whose doc_id%24 misses a residue must skip the
      // mutation, not crash on the missing file
      val has = ks.toSet
      // micro-batch 1
      if (has(1)) put("w1.py", v2(1))
      put("w100.py", v1(100))
      if (has(2)) rmTree(new java.io.File(s"$base/ws/w2.py"))
      graft.streaming.WatchStream.applyBatch(s, (
          (if (has(1)) Seq(ev("w1.py", "modified", 1)) else Seq.empty) ++
          Seq(ev("w100.py", "created", 2)) ++
          (if (has(2)) Seq(ev("w2.py", "modified", 3),
            ev("w2.py", "deleted", 4)) else Seq.empty)).toDF(),
        chunksPath, vectorsPath)
      // micro-batch 2
      if (has(3)) java.nio.file.Files.move(
        java.nio.file.Path.of(s"$base/ws/w3.py"),
        java.nio.file.Path.of(s"$base/ws/m3.py"))
      if (has(4)) rmTree(new java.io.File(s"$base/ws/w4.py"))
      put("w100.py", v2(100)); put("w101.py", v1(101))
      graft.streaming.WatchStream.applyBatch(s, (
          (if (has(3)) Seq(ev("w3.py", "moved", 10, dest = "m3.py"))
           else Seq.empty) ++
          (if (has(4)) Seq(ev("w4.py", "deleted", 11)) else Seq.empty) ++
          Seq(ev("w100.py", "modified", 12),
            ev("w101.py", "created", 13))).toDF(),
        chunksPath, vectorsPath)
      val rel = regexp_extract(col("file_path"), "([^/]+)$", 1)
      val ch = s.read.parquet(chunksPath).select(lit("C").as("kind"),
        rel.as("file"), col("name"), col("chunk_type"),
        col("start_line"), col("end_line"),
        sha2(col("content"), 256).as("sha"), lit(-1).as("dim"))
      val ve = s.read.parquet(vectorsPath).select(lit("V").as("kind"),
        rel.as("file"), col("name"), col("chunk_type"),
        col("start_line"), col("end_line"),
        sha2(col("content"), 256).as("sha"),
        size(col("vector")).as("dim"))
      ch.unionByName(ve).orderBy(col("kind"), col("file"), col("name"))
    }),

    // ST4 search-triggered staleness probe (auto_indexer.py): after
    // the SAME workspace mutations st1 streams (modify w1, create
    // w100/w101, delete w2/w4, move w3→m3) but BEFORE any reindex,
    // the cheap disk-vs-store diff a search front door runs to decide
    // whether to auto-reindex: changed/new files (w1, w100, w101 and
    // the move DESTINATION m3) and vanished store paths (w2, w3, w4).
    "st4_staleness_probe" -> ((s, d) => {
      val (base, ks) = st1Restore(s, d)
      def put(name: String, text: String): Unit =
        java.nio.file.Files.writeString(
          java.nio.file.Path.of(s"$base/ws/$name"), text)
      // seeded-file mutations guarded on the residue set (ADVICE r8,
      // same membership conditions as the oracle)
      val has = ks.toSet
      if (has(1)) put("w1.py", st1V2(1))
      put("w100.py", st1V1(100))
      put("w101.py", st1V1(101))
      if (has(2)) rmTree(new java.io.File(s"$base/ws/w2.py"))
      if (has(4)) rmTree(new java.io.File(s"$base/ws/w4.py"))
      if (has(3)) java.nio.file.Files.move(
        java.nio.file.Path.of(s"$base/ws/w3.py"),
        java.nio.file.Path.of(s"$base/ws/m3.py"))
      val disk = graft.ingest.FileDiscovery.discover(s, s"$base/ws").toDF()
      val stored = IndexStore.read(s, s"$base/chunks")
      val rel = regexp_extract(col("file_path"), "([^/]+)$", 1)
      IndexStore.changedFiles(disk, stored)
        .select(lit("changed").as("kind"), rel.as("file"))
        .unionByName(IndexStore.deletedFiles(disk, stored)
          .select(lit("deleted").as("kind"), rel.as("file")))
        .orderBy(col("kind"), col("file"))
    }),

    // S4 compaction (chunks_backend.py:553-605): a deliberately
    // FRAGMENTED table (one file per doc_id%64 partition via
    // partitionBy) compacted by the size-aware repartition rewrite into
    // a single file (targetBytes >> table size → parts = 1). Measured
    // evidence: distinct input_file_name() before/after, plus row count
    // and id checksum proving the rewrite lost nothing. The oracle pins
    // the file counts (before = #distinct residues, after = 1) and
    // recomputes the content stats from the source table.
    "s4_compaction" -> ((s, d) => {
      import s.implicits._
      val path = s"target/s4/${java.lang.Long.toHexString(
        graft.functions.PortableHash.hash60Local("s4", d))}"
      rmTree(new java.io.File(path))
      s.catalog.refreshByPath(path)
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"), (col("doc_id") % 64).as("g"))
        .repartition(col("g"))
        .write.partitionBy("g").parquet(path)
      val before = s.read.parquet(path)
        .select(input_file_name()).distinct().count()
      IndexStore.compact(s, path, targetBytes = 1024L * 1024 * 1024)
      val after = s.read.parquet(path)
      val afterFiles = after.select(input_file_name()).distinct().count()
      val st = after
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("ids")).head()
      Seq((before, afterFiles, st.getLong(0), st.getLong(1)))
        .toDF("files_before", "files_after", "n_rows", "id_sum")
    }),

    // JSONL sink + source round trip — the interchange format LLM
    // corpora actually ship in. Write documents as JSON lines, read
    // them back under the explicit schema, and prove the text is
    // byte-lossless via sha256: what's really under test is the JSON
    // escaping path (quotes, control chars, non-ASCII).
    "js1_jsonl_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val path = s"target/jsonl/${java.lang.Long.toHexString(
        graft.functions.PortableHash.hash60Local("jsonl", d))}"
      docs.write.mode("overwrite").json(path)
      s.read.schema(docs.schema).json(path)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          sha2(col("text"), 256).as("text_sha"))
        .orderBy(col("doc_id"))
    }),

    // J4: hash-based change detection — changed + torn + moved-target +
    // new paths all must reindex.
    "j4_changed_files" -> ((s, d) => {
      IndexStore.changedFiles(disk(s, d), stored(s, d))
        .orderBy(col("file_path"))
    }),

    // J5: move detection — a vanished stored path whose hash reappears
    // at a new disk path (metadata-only rewrite, no re-embedding).
    "j5_moved_files" -> ((s, d) => {
      IndexStore.movedFiles(disk(s, d), stored(s, d))
        .orderBy(col("old_path"))
    }),

    // S7: in-place move rewrite — stored rows whose path moved get the
    // new path (metadata-only, no re-embedding), everything else kept.
    "s7_apply_moves" -> ((s, d) => {
      IndexStore.applyMoves(stored(s, d),
        IndexStore.movedFiles(disk(s, d), stored(s, d)))
        .orderBy(col("file_path"), col("file_hash"))
    }),

    // S6: delete by file set — one anti-join against the doomed paths.
    "s6_delete_by_files" -> ((s, d) => {
      val doomed = Tables.documents(s, d)
        .select((col("doc_id") % 60).cast("int").as("k")).distinct()
        .filter(col("k") % 4 === 0)
        .select(concat(lit("src/f"), col("k"), lit(".py")).as("file_path"))
      IndexStore.deleteByFiles(stored(s, d), doomed)
        .orderBy(col("file_path"), col("file_hash"))
    }),

    // S5/J10: upsert = dedup-before-add — stored rows whose key is in
    // the incoming batch are replaced, the rest kept, new keys appended
    // (the reference's delete-then-append without the delete).
    "u1_upsert" -> ((s, d) => {
      val ks = Tables.documents(s, d)
        .select((col("doc_id") % 60).cast("int").as("k")).distinct()
      val stored = ks.filter(col("k") < 40).select(
        concat(lit("c"), col("k")).as("chunk_id"),
        concat(lit("old_payload_"), col("k")).as("content"),
        lit(1).as("version"))
      val incoming = ks.filter(col("k") >= 25).select(
        concat(lit("c"), col("k")).as("chunk_id"),
        concat(lit("new_payload_"), col("k")).as("content"),
        lit(2).as("version"))
      IndexStore.upsert(stored, incoming, "chunk_id")
        .orderBy(col("chunk_id"))
    }),

    // J3: unembedded anti-join — chunks without a vector row.
    "j3_unembedded" -> ((s, d) => {
      val ks = Tables.documents(s, d)
        .select((col("doc_id") % 60).cast("int").as("k")).distinct()
      val chunks = ks.select(concat(lit("c"), col("k")).as("chunk_id"),
        concat(lit("src/f"), col("k"), lit(".py")).as("file_path"))
      val vectors = ks.filter(col("k") < 45)
        .select(concat(lit("c"), col("k")).as("chunk_id"))
      IndexStore.unembedded(chunks, vectors).orderBy(col("chunk_id"))
    }),

    // S2: sha256 content hashing for change detection
    // (chunks_backend.py:35-48) — Spark's sha2 over the UTF-8 text must
    // agree byte-for-byte with the oracle's sha256.
    "s2_content_hash" -> ((s, d) => {
      Tables.documents(s, d).select(col("doc_id"),
        sha2(col("text"), 256).as("content_hash"),
        substring(sha2(col("text"), 256), 1, 16).as("short_hash"))
        .orderBy(col("doc_id")).limit(200)
    }),

    // S1/P9: the full discovery predicate stack — 71 default patterns
    // per component, dotfile allowlist, and the .gitignore cascade with
    // walk-pruning semantics (root + one nested file, negations, dir
    // rules, a ** rule, the leading-slash quirk) — every layer reported
    // per path so the oracle checks them independently.
    "fd1_gitignore_cascade" -> ((s, d) => {
      val paths = Tables.documents(s, d)
        .select((col("doc_id") % 60).cast("int").as("k")).distinct()
        .select(concat(
          element_at(typedlit(FdDirs), (col("k") % 12) + 1), lit("/"),
          element_at(typedlit(FdNames), (col("k") % 10) + 1)).as("path"))
      val knownExts = FileDiscovery.LanguageByExtension.keySet.toSeq.sorted
      paths
        .withColumn("def_ign", FileDiscovery.defaultIgnoreCol(col("path")))
        .withColumn("dot_ign", FileDiscovery.dotfileIgnoreCol(col("path")))
        .withColumn("git_ign",
          GitignoreRules.ignoredWalkCol(col("path"), fdRules))
        .withColumn("ext",
          lower(regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1)))
        .withColumn("indexed", !col("def_ign") && !col("dot_ign") &&
          !col("git_ign") && col("ext").isin(knownExts: _*))
        .select(col("path"), col("def_ign"), col("dot_ign"),
          col("git_ign"), col("indexed"))
        .orderBy(col("path"))
    }))

  /** fd1 fixture: 60 paths crossing 12 dirs × 10 names (coprime moduli
    * → all pairs), hitting every predicate layer.
    */
  val FdDirs = Seq("src", "src/util", "build", "node_modules/pkg",
    "docs", "docs/guide", ".github/workflows", "vendor", "gen", "src/gen",
    "app", "lib")
  val FdNames = Seq("main.py", "app.min.js", "notes.md", "README.md",
    "util.ts", "index.js", "cache.log", "keep.log", "data.tmp.py", "core.py")
  val FdRootGitignore =
    "*.log\n!keep.log\ngen/\n*.tmp.*\ndocs/**/*.md\n/build\n"
  val FdAppGitignore = "*.js\n!index.js\n"

  private def fdRules: Seq[GitignoreRules.Rule] = {
    val root = GitignoreRules.parse(FdRootGitignore)
    root ++ GitignoreRules.parse(FdAppGitignore, base = "app",
      seq0 = root.size)
  }

  def oracles: Map[String, String] = Map(
    // Cache transparency ≡ the uncached featurizer: the e2e1 vector
    // pipeline in SQL over the same subset, one row per nonzero
    // vector component.
    "s12_embed_cache" -> {
      val bucket =
        s"(${graft.functions.PortableHash.hash60Sql("7", "gram")} % 64)"
      s"""WITH corpus AS (SELECT doc_id AS id, text FROM documents
         |  WHERE doc_id < 300),
         |tok AS (SELECT id,
         |    string_split(${graft.text.TextFunctions.normalizeSql("text")}, ' ') AS toks
         |  FROM corpus),
         |grams AS (SELECT id, unnest(list_concat(toks,
         |    list_transform(toks[2:], (b, i) -> toks[i] || ' ' || b)))
         |    AS gram
         |  FROM tok),
         |bk AS (SELECT id, $bucket AS bucket, count(*) AS w
         |  FROM grams GROUP BY id, bucket),
         |mp AS (SELECT id,
         |    map_from_entries(list(struct_pack(k := bucket, v := w))) AS m
         |  FROM bk GROUP BY id),
         |raw AS (SELECT id, list_transform(range(0, 64),
         |    i -> CAST(coalesce(m[i][1], 0) AS DOUBLE)) AS r
         |  FROM mp),
         |vec AS (SELECT id,
         |    list_transform(r, x -> CAST(CASE WHEN nrm > 0 THEN x / nrm
         |      ELSE 0.0 END AS FLOAT)) AS v
         |  FROM (SELECT id, r,
         |      sqrt(list_aggregate(list_transform(r, x -> x * x), 'sum'))
         |        AS nrm
         |    FROM raw)),
         |comp AS (SELECT id, unnest(range(1, 65)) AS i,
         |    unnest(v) AS x FROM vec)
         |SELECT id, CAST(i AS INTEGER) AS i,
         |  round(CAST(x AS DOUBLE), 6) AS val
         |FROM comp WHERE x <> 0 ORDER BY id, i""".stripMargin
    },

    // The same two-micro-batch event algebra replayed as pure SQL over
    // the residue fixture: survivors = all k except the deleted (2, 4),
    // w3 renamed to m3 with content UNCHANGED (move = metadata-only),
    // w1/w100 at template v2, w100/w101 created in-stream; every file
    // yields its chunk row and a 64-dim vector-table twin.
    "st1_stream_reindex" ->
      """WITH ks AS (SELECT DISTINCT CAST(doc_id % 24 AS INTEGER) AS k
        |  FROM documents),
        |files AS (
        |  SELECT CASE WHEN k = 3 THEN 'm3.py'
        |           ELSE 'w' || k || '.py' END AS file,
        |    k, CASE WHEN k = 1 THEN 2 ELSE 1 END AS ver
        |  FROM ks WHERE k NOT IN (2, 4)
        |  UNION ALL SELECT 'w100.py', 100, 2
        |  UNION ALL SELECT 'w101.py', 101, 1),
        |rows0 AS (
        |  SELECT file, 'fn_' || k AS name, 'function' AS chunk_type,
        |    1 AS start_line,
        |    CASE WHEN ver = 2 THEN 3 ELSE 2 END AS end_line,
        |    sha256(CASE WHEN ver = 2 THEN
        |        'def fn_' || k || '(x):' || chr(10) ||
        |        '    y = x * 2' || chr(10) || '    return y + ' || k
        |      ELSE 'def fn_' || k || '(x):' || chr(10) ||
        |        '    return x + ' || k END) AS sha
        |  FROM files)
        |SELECT kind, file, name, chunk_type,
        |  CAST(start_line AS INTEGER) AS start_line,
        |  CAST(end_line AS INTEGER) AS end_line, sha,
        |  CAST(dim AS INTEGER) AS dim
        |FROM (
        |  SELECT 'C' AS kind, *, -1 AS dim FROM rows0
        |  UNION ALL SELECT 'V', *, 64 FROM rows0)
        |ORDER BY kind, file, name""".stripMargin,

    // The mutation algebra replayed as membership tests against the
    // residue set (all of 1..4 are present at every sf): changed = the
    // modified file, the two creations, the move destination; deleted
    // = the two removals plus the move source.
    "st4_staleness_probe" ->
      """WITH ks AS (SELECT DISTINCT CAST(doc_id % 24 AS INTEGER) AS k
        |  FROM documents),
        |rows0(kind, file, needs) AS (VALUES
        |  ('changed', 'w1.py', 1), ('changed', 'w100.py', 0),
        |  ('changed', 'w101.py', 0), ('changed', 'm3.py', 3),
        |  ('deleted', 'w2.py', 2), ('deleted', 'w3.py', 3),
        |  ('deleted', 'w4.py', 4))
        |SELECT kind, file FROM rows0
        |WHERE needs = 0 OR needs IN (SELECT k FROM ks)
        |ORDER BY kind, file""".stripMargin,

    "s4_compaction" ->
      """SELECT CAST(count(DISTINCT doc_id % 64) AS BIGINT) AS files_before,
        |  1::BIGINT AS files_after,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents""".stripMargin,

    "js1_jsonl_roundtrip" ->
      """SELECT doc_id, lang, n_chars, sha256(text) AS text_sha
        |FROM documents ORDER BY doc_id""".stripMargin,

    "j4_changed_files" ->
      s"""WITH $ksSql,
         |disk AS ($diskSql),
         |stored AS ($storedSql),
         |sh AS (SELECT file_path, MAX(file_hash) AS stored_hash,
         |    COUNT(DISTINCT file_hash) AS n_hashes
         |  FROM stored GROUP BY file_path)
         |SELECT d.file_path, d.file_hash
         |FROM disk d LEFT JOIN sh USING (file_path)
         |WHERE sh.stored_hash IS NULL OR sh.n_hashes > 1
         |  OR sh.stored_hash <> d.file_hash
         |ORDER BY d.file_path""".stripMargin,

    "j5_moved_files" ->
      s"""WITH $ksSql,
         |disk AS ($diskSql),
         |stored AS ($storedSql),
         |sh AS (SELECT file_path, MAX(file_hash) AS stored_hash,
         |    COUNT(DISTINCT file_hash) AS n_hashes
         |  FROM stored GROUP BY file_path),
         |changed AS (SELECT d.file_path, d.file_hash
         |  FROM disk d LEFT JOIN sh USING (file_path)
         |  WHERE sh.stored_hash IS NULL OR sh.n_hashes > 1
         |    OR sh.stored_hash <> d.file_hash),
         |gone AS (SELECT s.file_path AS old_path, s.file_hash
         |  FROM (SELECT DISTINCT file_path, file_hash FROM stored) s
         |  WHERE s.file_path NOT IN (SELECT file_path FROM disk))
         |SELECT g.old_path, c.file_path AS new_path, g.file_hash
         |FROM gone g JOIN changed c USING (file_hash)
         |ORDER BY g.old_path""".stripMargin,

    "s7_apply_moves" ->
      s"""WITH $ksSql,
         |disk AS ($diskSql),
         |stored AS ($storedSql),
         |sh AS (SELECT file_path, MAX(file_hash) AS stored_hash,
         |    COUNT(DISTINCT file_hash) AS n_hashes
         |  FROM stored GROUP BY file_path),
         |changed AS (SELECT d.file_path, d.file_hash
         |  FROM disk d LEFT JOIN sh USING (file_path)
         |  WHERE sh.stored_hash IS NULL OR sh.n_hashes > 1
         |    OR sh.stored_hash <> d.file_hash),
         |gone AS (SELECT s.file_path AS old_path, s.file_hash
         |  FROM (SELECT DISTINCT file_path, file_hash FROM stored) s
         |  WHERE s.file_path NOT IN (SELECT file_path FROM disk)),
         |moves AS (SELECT g.old_path, c.file_path AS new_path
         |  FROM gone g JOIN changed c USING (file_hash))
         |SELECT COALESCE(m.new_path, s.file_path) AS file_path,
         |  s.file_hash
         |FROM stored s LEFT JOIN moves m ON s.file_path = m.old_path
         |ORDER BY file_path, file_hash""".stripMargin,

    "s6_delete_by_files" ->
      s"""WITH $ksSql,
         |stored AS ($storedSql),
         |doomed AS (SELECT 'src/f' || k || '.py' AS file_path
         |  FROM ks WHERE k % 4 = 0)
         |SELECT s.file_path, s.file_hash FROM stored s
         |WHERE s.file_path NOT IN (SELECT file_path FROM doomed)
         |ORDER BY file_path, file_hash""".stripMargin,

    "j3_unembedded" ->
      s"""WITH $ksSql
         |SELECT 'c' || k AS chunk_id, 'src/f' || k || '.py' AS file_path
         |FROM ks
         |WHERE 'c' || k NOT IN (SELECT 'c' || k FROM ks WHERE k < 45)
         |ORDER BY chunk_id""".stripMargin,

    "u1_upsert" ->
      s"""WITH $ksSql,
         |stored AS (SELECT 'c' || k AS chunk_id,
         |    'old_payload_' || k AS content, CAST(1 AS INTEGER) AS version
         |  FROM ks WHERE k < 40),
         |inc AS (SELECT 'c' || k AS chunk_id,
         |    'new_payload_' || k AS content, CAST(2 AS INTEGER) AS version
         |  FROM ks WHERE k >= 25)
         |SELECT * FROM (
         |  SELECT * FROM stored
         |  WHERE chunk_id NOT IN (SELECT chunk_id FROM inc)
         |  UNION ALL SELECT * FROM inc)
         |ORDER BY chunk_id""".stripMargin,

    "s2_content_hash" ->
      """SELECT doc_id, sha256(text) AS content_hash,
        |  substr(sha256(text), 1, 16) AS short_hash
        |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin,

    // The cascade mirror shares every regex LITERAL with the Spark side
    // (GitignoreRules compiles each rule once; both engines run the
    // same automata), unnests the walk prefixes, takes the max-seq
    // matching rule per prefix (last-match-wins), and ORs the prefix
    // verdicts (walk pruning).
    "fd1_gitignore_cascade" -> {
      val dirsLit = FdDirs.map(x => s"'$x'").mkString("[", ", ", "]")
      val namesLit = FdNames.map(x => s"'$x'").mkString("[", ", ", "]")
      val exts = graft.ingest.FileDiscovery.LanguageByExtension.keySet
        .toSeq.sorted.map(x => s"'$x'").mkString(", ")
      val dots = graft.ingest.FileDiscovery.AllowedDotfiles
        .toSeq.sorted.map(x => s"'$x'").mkString(", ")
      val ruleVals = fdRules.map { r =>
        val star = r.rxStar.map(x => s"'$x'").getOrElse("NULL")
        val pref = r.rxPrefix.map(x => s"'$x'").getOrElse("NULL")
        s"(${r.seq}, '${r.base}', ${r.neg}, '${r.rxSuffix}', $star, $pref)"
      }.mkString(", ")
      val compRx = graft.ingest.FileDiscovery.ComponentIgnoreRx
      val relp = "CASE WHEN r.base = '' THEN px.pref" +
        " ELSE substr(px.pref, len(r.base) + 2) END"
      s"""WITH $ksSql,
         |paths AS (SELECT ($dirsLit)[k % 12 + 1] || '/' ||
         |    ($namesLit)[k % 10 + 1] AS path FROM ks),
         |rules(seq, base, neg, rx_suffix, rx_star, rx_prefix) AS
         |  (VALUES $ruleVals),
         |flags AS (SELECT path, string_split(path, '/') AS pp FROM paths),
         |base AS (SELECT path,
         |    len(list_filter(pp, s -> regexp_matches(s, '$compRx'))) > 0
         |      AS def_ign,
         |    len(list_filter(pp, s -> starts_with(s, '.')
         |      AND s NOT IN ($dots))) > 0 AS dot_ign,
         |    list_transform(range(1, len(pp) + 1),
         |      i -> array_to_string(list_slice(pp, 1, i), '/')) AS prefixes
         |  FROM flags),
         |px AS (SELECT path, unnest(prefixes) AS pref FROM base),
         |hits AS (SELECT px.path, px.pref, r.seq, r.neg
         |  FROM px JOIN rules r
         |    ON (r.base = '' OR starts_with(px.pref, r.base || '/'))
         |   AND (regexp_matches($relp, r.rx_suffix)
         |     OR (r.rx_star IS NOT NULL AND regexp_matches($relp, r.rx_star))
         |     OR (r.rx_prefix IS NOT NULL
         |       AND regexp_matches($relp, r.rx_prefix)))),
         |pv AS (SELECT path, pref, NOT arg_max(neg, seq) AS pign
         |  FROM hits GROUP BY path, pref),
         |gitv AS (SELECT path, bool_or(pign) AS git_ign FROM pv
         |  GROUP BY path)
         |SELECT b.path, b.def_ign, b.dot_ign,
         |  coalesce(g.git_ign, false) AS git_ign,
         |  (NOT b.def_ign AND NOT b.dot_ign AND NOT coalesce(g.git_ign, false)
         |    AND lower(regexp_extract(b.path, '\\.([A-Za-z0-9]+)$$', 1))
         |      IN ($exts)) AS indexed
         |FROM base b LEFT JOIN gitv g USING (path)
         |ORDER BY b.path""".stripMargin
    })
}
