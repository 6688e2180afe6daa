package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The seeded inputs of both workloads, made from the committed sf0.1
 * `documents` table (`perfbench/data/sf0.1`, the corpus the checkout's
 * `golden/sf0.1` fixtures were generated from).
 *
 *  - kg_build: the documents under new doc ids: doc d gets the id whose
 *    decimal digits are the four digits of `kgIdPrefix`, chosen by the seed,
 *    followed by the digits of d. The text is untouched, and the map keeps
 *    the string order of the page urls — the order the model vocabularies
 *    are built in — so the run must yield the golden q47 triples.
 *  - curation: every document permutes its tokens by xxhash64(seed,
 *    position), as CurationScalingBench builds its copies. The token
 *    multiset stays the same, so documents pass the quality filter.
 */
final class Inputs(spark: SparkSession, root: Path, val work: Path, seed: Long) {
  val golden: Path = root.resolve("golden").resolve("sf0.1")
  private val cores = spark.sparkContext.defaultParallelism

  lazy val base: DataFrame =
    spark.read.parquet(root.resolve("perfbench/data/sf0.1/documents.parquet").toString)
      .select("doc_id", "text", "lang", "source", "n_chars")
  lazy val baseDocs: Long = base.count()
  /** Four-digit doc id prefix of the kg_build input, chosen by the seed. */
  val kgIdPrefix: Long = 1000L + java.lang.Math.floorMod(seed, 9000L)

  val kgDir: String = work.resolve("kg_input").toString
  val curationDir: String = work.resolve("curation_input").toString

  private def write(df: DataFrame, dir: String): Unit =
    df.repartition(cores, col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  def writeKg(): Unit =
    write(base.withColumn("doc_id",
      concat(lit(kgIdPrefix.toString), col("doc_id").cast("string")).cast("long")), kgDir)

  def writeCuration(): Unit =
    write(base.withColumn("text",
      array_join(
        transform(
          array_sort(
            transform(split(col("text"), " "),
              (x, i) => struct(xxhash64(lit(seed), i).as("k"), x.as("t")))),
          s => s.getField("t")),
        " ")), curationDir)

  private var opDirs = 0
  /** A fresh output root for one operation. */
  def freshOutput(tag: String): String = {
    opDirs += 1
    work.resolve("out").resolve(s"$tag-$opDirs").toString
  }

  def delete(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      scala.util.Using.resource(java.nio.file.Files.walk(p)) { s =>
        s.sorted(java.util.Comparator.reverseOrder()).forEach(x => java.nio.file.Files.delete(x))
      }
  }
}
