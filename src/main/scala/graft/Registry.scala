package graft

import scala.collection.concurrent.TrieMap

/** Per-JVM registry of index state derived from a corpus: BM25 and
  * phrase postings, corpus vectors, IVF/PQ/LSH indexes, fixture graphs,
  * ancestry closures. Each entry is built once per (kind, key) in a JVM
  * and every later call reuses it, the way the reference builds its
  * LanceDB and BM25 indexes at index time and serves queries from them
  * (`core/vectors_backend.py:1264-1353`). Nothing is evicted: the key
  * space is the corpus dirs one process touches.
  */
object Registry {
  private val entries = TrieMap[(String, Any), Any]()

  /** The value of `build` for (kind, key), computed on the first call. */
  def memo[V](kind: String, key: Any)(build: => V): V =
    entries.getOrElseUpdate((kind, key), build).asInstanceOf[V]

  /** [[memo]] for state written to disk: `build` gets the absolute
    * directory `target/<kind>/<hex of hash60Local(kind, key)>` and must
    * overwrite it, so the first build in a JVM never serves a stale
    * index from an earlier run.
    */
  def persisted[V](kind: String, key: String)(build: String => V): V =
    memo(kind, key)(build(new java.io.File(s"target/$kind/${
      java.lang.Long.toHexString(
        graft.functions.PortableHash.hash60Local(kind, key))}").getAbsolutePath))

  /** A catalog table name unique to a [[persisted]] dir: `<kind>_<hex>`. */
  def tableName(dir: String): String = {
    val f = new java.io.File(dir)
    s"${f.getParentFile.getName}_${f.getName}"
  }

  /** Every (key, value) of `kind` built so far, sorted by key — for
    * oracle generators that interpolate a fitted index as literals.
    */
  def values[V](kind: String): Seq[(Any, V)] =
    entries.toSeq.collect { case ((`kind`, k), v) => (k, v.asInstanceOf[V]) }
      .sortBy(_._1.toString)

  /** Test hook: drop every entry of `kind`, so a spec can control which
    * corpora are fit without a fresh JVM.
    */
  private[graft] def forget(kind: String): Unit =
    entries.keys.filter(_._1 == kind).foreach(entries.remove)
}
