package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.PortableHash

/** Deterministic text augmentation: per-token word dropout with a
  * hash-derived mask — the noising transform contrastive/robustness
  * training recipes apply at corpus scale (SimCSE-style dropout views,
  * denoising objectives). Sits beside [[SpanCorruption]] (span-level)
  * and [[Fim]] (structural) as the token-level member of the family.
  *
  * Determinism: token i of document d survives iff
  * hash60('aug', d:i:seed) mod `dropOneIn` ≠ 0 — reproducible across
  * runs, partitionings, and engines, so augmented corpora are
  * versionable artifacts, not one-shot randomness (swap `seed` per
  * epoch for fresh views; mechanism unchanged).
  *
  * Scale shape: one narrow projection of array HOFs (per-token md5
  * inside the lambda); no explode, no shuffle. Output carries the
  * sha256 of the augmented text, not the text itself, when callers
  * only need an audit row.
  */
object Augment {

  /** Word dropout. Output: (doc_id, n_orig, n_kept, aug_sha256). */
  def wordDropout(docs: DataFrame, idCol: String, textCol: String,
      dropOneIn: Int = 10, seed: Int = 0): DataFrame = {
    require(dropOneIn >= 2, "dropOneIn must be at least 2")
    val toks = TextFunctions.tokens(col(textCol))
    docs.select(col(idCol).as("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"),
        filter(col("toks"), (_, i) =>
          PortableHash.hash60(lit("aug"),
            concat(col("doc_id").cast("string"), lit(":"),
              i.cast("string"), lit(":"), lit(seed.toString)))
            % dropOneIn =!= 0).as("kept"))
      .select(col("doc_id"),
        size(col("toks")).cast("int").as("n_orig"),
        size(col("kept")).cast("int").as("n_kept"),
        sha2(array_join(col("kept"), " "), 256).as("aug_sha256"))
  }
}
