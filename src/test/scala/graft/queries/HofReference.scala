package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Higher-order-function reference forms of the native text-hash passes.
  * These HOF plans are the semantics the DuckDB oracle was first proven
  * against; TextHashesSpec pins the native codegen'd expressions
  * bit-for-bit to them. Test scope only — production runs the native
  * forms exclusively. */
object HofReference {

  /** [[Dedup.minhashBase]] as the shingle → tokHash → sorted distinct set
    * → K-permutation fold over `hs`. */
  def minhashBaseHof(docs: DataFrame): DataFrame = {
    import Dedup.{AB, K, P}
    val consts = array(AB.map { case (a, b) =>
      struct(lit(a).as("a"), lit(b).as("b"))
    }: _*)
    val sigArr = aggregate(
      col("hs"),
      array_repeat(lit(P), K),
      (acc, x) => zip_with(acc, consts, (m, c) =>
        least(m, (c.getField("a") * x + c.getField("b")) % lit(P))))
    Dedup.hashedDocsOf(docs)
      .filter(size(col("w")) > 0) // empty shingle sets would fold to NULL sigs
      .select(col("doc_id"), array_sort(array_distinct(col("h"))).as("hs"))
      .select(col("doc_id"), col("hs"), size(col("hs")).as("sz"), sigArr.as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** [[TrainPrep.hashedNgrams8]] as slice+zip_with 8-gram strings, a
    * tokHash transform and array_distinct (first occurrence kept). */
  def hashedNgrams8Hof(text: Column): Column = {
    def ngrams8(w: Column): Column =
      when(size(w) < 8, array().cast("array<string>"))
        .otherwise((2 to 8).foldLeft(slice(w, lit(1), size(w) - 7)) { (acc, k) =>
          zip_with(acc, slice(w, lit(k), size(w) - 7), (a, b) => concat(a, lit(" "), b))
        })
    array_distinct(transform(ngrams8(TrainPrep.rawToks(text)), g => Dedup.tokHash(g)))
  }
}
