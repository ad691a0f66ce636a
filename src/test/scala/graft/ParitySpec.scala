package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{PortableHash, VectorFunctions}
import graft.graph.Kg
import graft.search.SearchEngine
import graft.text.TextFunctions
import graft.KgDeltaPropertySpec.Chunk

/** Bit-parity contracts that the oracle checks depend on. */
class ParitySpec extends SparkSpec {
  import spark.implicits._

  test("hash60Local matches the Column hash60 bit-for-bit") {
    val inputs = Seq(("0", "abc"), ("7", "the quick fox"), ("11", "x"),
      ("3_15", "plane"), ("42", "spark graft"))
    val fromCols = inputs.toDF("s", "v")
      .select(PortableHash.hash60(col("s"), col("v")).as("h"))
      .as[Long].collect().toSeq
    val local = inputs.map { case (s, v) => PortableHash.hash60Local(s, v) }
    assert(fromCols == local)
  }

  /** The relational featurizer `HashEmbedder.embed` ran before it
    * became row-local, kept as the reference for `embed` and
    * `embedLocal`: explode the unigrams + word bigrams, bucket them with
    * the Column `hash60`, count per (id, bucket), densify and
    * L2-normalize with HOFs.
    */
  private def embedChain(docs: DataFrame): DataFrame = {
    val toked = docs.select(col("id"), TextFunctions.tokens(col("text")).as("toks"))
    val grams = toked.select(col("id"),
      explode(array_compact(concat(col("toks"),
        zip_with(col("toks"),
          slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b))))).as("gram"))
    grams.withColumn("bucket", pmod(PortableHash.hash60(col("gram"), 7), lit(64)).cast("int"))
      .groupBy(col("id"), col("bucket")).agg(count(lit(1)).as("w"))
      .groupBy(col("id"))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("w")))).as("m"))
      .withColumn("raw", transform(sequence(lit(0), lit(63)),
        i => coalesce(col("m")(i), lit(0L)).cast("double")))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0d), (acc, x) => acc + x * x)))
      .select(col("id"), transform(col("raw"),
        x => when(col("norm") > 0, x / col("norm")).otherwise(0.0).cast("float")).as("vector"))
  }

  test("embedLocal matches the Column embed chain bit-for-bit") {
    val texts = Seq(
      "fast index scan", "merge sorted runs fast index",
      "table table table scan", // duplicate grams
      "x",                      // single token: no bigrams
      "Mixed CASE, punct!! (and) [brackets] :: obj->ptr",
      "a 1 2 3 numbers 42", "quick rapid catalog fast",
      "",                       // one empty token
      "?!., ;:-- ()",           // punctuation only: normalizes to ""
      "naïve café Über straße", // non-ASCII letters split tokens
      "日本語 テキスト ok", "\u212Aelvin İstanbul") // lowercase to ASCII / wider
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    def vectors(df: DataFrame) = df.as[(Long, Array[Float])].collect().toMap
    val reference = vectors(embedChain(docs))
    val embedded = vectors(graft.embed.HashEmbedder.embed(docs, "id", "text"))
    def same(a: Array[Float], b: Array[Float]) =
      a.length == b.length && a.zip(b).forall { case (x, y) =>
        java.lang.Float.floatToIntBits(x) == java.lang.Float.floatToIntBits(y) }
    texts.zipWithIndex.foreach { case (t, i) =>
      val ref = reference(i.toLong)
      assert(ref.length == 64, s"'$t'")
      assert(same(embedded(i.toLong), ref), s"embed '$t'")
      assert(same(graft.embed.HashEmbedder.embedLocal(t), ref), s"embedLocal '$t'")
    }
  }

  test("embed gives no row for a null text") {
    val docs = Seq((1L, "some text"), (2L, null)).toDF("id", "text")
    assert(graft.embed.HashEmbedder.embed(docs, "id", "text")
      .select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("FloatDot matches the HOF float fold bit-for-bit") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 50).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1),
        Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val out = df.select(
      VectorFunctions.dotF(col("a"), col("b")).as("fast"),
      VectorFunctions.dotFHof(col("a"), col("b")).as("hof"))
      .as[(Float, Float)].collect()
    out.foreach { case (fast, hof) =>
      assert(java.lang.Float.floatToIntBits(fast) == java.lang.Float.floatToIntBits(hof))
    }
  }

  test("FloatDot null contract matches HOF (null element nullifies)") {
    val df = Seq((Seq[java.lang.Float](1.0f, null), Seq[java.lang.Float](2.0f, 3.0f)))
      .toDF("a", "b")
      .select(col("a").cast("array<float>").as("a"), col("b").cast("array<float>").as("b"))
    val fast = df.select(VectorFunctions.dotF(col("a"), col("b"))).collect().head
    val hof = df.select(VectorFunctions.dotFHof(col("a"), col("b"))).collect().head
    assert(fast.isNullAt(0) && hof.isNullAt(0))
  }

  private def rows(df: DataFrame): Set[org.apache.spark.sql.Row] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect().toSet
  }

  private def sameKg(chunks: DataFrame): Unit = {
    val ref = ParitySpec.relationalKg(chunks)
    val kg = Kg.fromChunks(chunks)
    assert(rows(kg.vertices) == rows(ref.vertices))
    assert(rows(kg.edges) == rows(ref.edges))
  }

  test("fromChunks matches the relational KG build on the sample repo") {
    val chunks = new SearchEngine(spark).buildIndex(sampleRepo)._1
    assert(Kg.fromChunks(chunks).edges.filter(col("rel_type") === "CALLS").count() > 0)
    sameKg(chunks)
  }

  test("fromChunks matches the relational KG build on edge inputs") {
    val chunks = Seq(
      // null parent_name: an entity with neither CONTAINS edge
      Chunk("src/a.py", "method", "run", "A.run", null, Seq("helper"), Nil, Nil, ""),
      Chunk("src/a.py", "class", "A", "A", "", Seq("run"), Seq("os"), Seq("Base", null), ""),
      Chunk("src/a.py", "function", "helper", "helper", "", Seq("helper", null), Nil, Nil, ""),
      // a null calls array and a null import element
      Chunk("src/b.py", "function", "b", "b", "", null, Seq("sys", null), null, ""),
      Chunk("src/b.py", "class", "Base", "Base", "", Nil, null, Nil, ""),
      // a path with no '/', and one ending in '/'
      Chunk("README", "function", "top", "top", "", Seq("b", "A"), Nil, Nil, ""),
      Chunk("dir/", "code", "x", "x", "", Seq("b"), Nil, Nil, ""),
      // an empty tag between separators, trailing spaces, tab padding
      Chunk("docs/a.md", "text", "<frontmatter>", "<frontmatter>", "", Nil, Nil, Nil,
        "title: t\ntags: [a, , b ]\n"),
      Chunk("docs/b.md", "text", "<frontmatter>", "<frontmatter>", "", Nil, Nil, Nil,
        "tags: [\tc\t, d,]\nmore: x\n"),
      Chunk("docs/c.md", "text", "<frontmatter>", "<frontmatter>", "", Nil, Nil, Nil,
        "no tags here\n"),
      Chunk("docs/d.md", "text", "<frontmatter>", "<frontmatter>", "", Nil, Nil, Nil, null),
      Chunk("docs/e.md", "text", "notes", "notes", "", Nil, Nil, Nil, "tags: [e]\n"),
      Chunk("src/c.py", null, null, null, "", Seq("b"), Nil, Nil, "")).toDF()
    sameKg(chunks)
    val tags = Kg.fromChunks(chunks).vertices.filter(col("label") === "tag")
      .select("id").as[String].collect().toSet
    assert(tags == Set("a", "b", "\tc\t", "d"))
  }
}

object ParitySpec {

  /** The relational KG build `Kg.fromChunks` ran before its per-chunk
    * rules became one function, kept as the reference for it: one
    * projection or explode per vertex and edge kind over the chunks,
    * names resolved through the entity-name map, one dedup per table.
    */
  def relationalKg(chunks: DataFrame): Kg.KgTables = {
    val entities = chunks
      .filter(col("chunk_type").isin("function", "class", "method"))
      .select(
        concat(col("file_path"), lit("::"), col("hierarchy_path")).as("id"),
        col("chunk_type").as("label"),
        col("name"), col("file_path"), col("parent_name"))
    val files = chunks
      .select(col("file_path").as("id"), lit("file").as("label"),
        regexp_extract(col("file_path"), "([^/]+)$", 1).as("name"),
        col("file_path"), lit("").as("parent_name"))
    val modules = chunks
      .select(explode(col("imports")).as("m"))
      .select(col("m").as("id"), lit("module").as("label"),
        col("m").as("name"), lit("").as("file_path"), lit("").as("parent_name"))
    val containsFile = entities.filter(col("parent_name") === "")
      .select(col("file_path").as("src"), col("id").as("dst"),
        lit("CONTAINS").as("rel_type"))
    val containsClass = entities.filter(col("parent_name") =!= "")
      .select(
        concat(col("file_path"), lit("::"), col("parent_name")).as("src"),
        col("id").as("dst"), lit("CONTAINS").as("rel_type"))
    val byName = entities.select(col("name").as("target_name"), col("id").as("dst"))
    val calls = chunks
      .filter(col("chunk_type").isin("function", "class", "method"))
      .select(
        concat(col("file_path"), lit("::"), col("hierarchy_path")).as("src"),
        explode(col("calls")).as("target_name"))
      .join(byName, Seq("target_name"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), lit("CALLS").as("rel_type"))
    val imports = chunks
      .select(col("file_path").as("src"), explode(col("imports")).as("dst"),
        lit("IMPORTS").as("rel_type"))
    val inherits = chunks
      .filter(col("chunk_type") === "class")
      .select(
        concat(col("file_path"), lit("::"), col("hierarchy_path")).as("src"),
        explode(col("inherits_from")).as("target_name"))
      .join(byName, Seq("target_name"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), lit("INHERITS").as("rel_type"))
    val tagEdges = chunks
      .filter(col("name") === "<frontmatter>")
      .select(col("file_path").as("src"),
        explode(split(regexp_extract(col("content"),
          "(?m)^tags:\\s*\\[([^\\]]*)\\]", 1), ",")).as("dst"))
      .select(col("src"), trim(col("dst")).as("dst"),
        lit("HAS_TAG").as("rel_type"))
      .filter(col("dst") =!= "")
    val tagVertices = tagEdges
      .select(col("dst").as("id"), lit("tag").as("label"),
        col("dst").as("name"), lit("").as("file_path"), lit("").as("parent_name"))
    val edges = containsFile.unionByName(containsClass).unionByName(calls)
      .unionByName(imports).unionByName(inherits).unionByName(tagEdges)
      .withColumn("weight", lit(1.0))
      .dropDuplicates("src", "dst", "rel_type")
    Kg.KgTables(entities.unionByName(files).unionByName(modules)
      .unionByName(tagVertices).dropDuplicates("id"), edges)
  }
}
