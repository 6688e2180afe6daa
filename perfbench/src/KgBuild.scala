package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.core.TableIO

/**
 * kg_build: each operation is `Pipeline.runAndWrite` into a fresh output
 * root — the `RunPipeline` path, lineage and accumulators included. The
 * models, alias dictionary and canonical map are the program's per-input
 * caches, filled during set-up.
 *
 * Check, per operation: the triples written equal the golden q47 triples
 * (urls mapped back to the original doc id), the lineage has one row per
 * NER partition, the token counter equals the golden sentence token total,
 * and every language was written.
 */
final class KgBuild(spark: SparkSession, in: Inputs) extends Workload {
  import KgBuild._

  def docsPerOp: Long = in.baseDocs

  def prepare(): Unit = {
    in.writeKg()
    Pipeline.models(spark, in.kgDir)
    Pipeline.aliasDict(spark, in.kgDir).count()
    Pipeline.canonMap(spark, in.kgDir).count()
  }

  def op(i: Int): Any = {
    val out = in.freshOutput("kg")
    (out, Pipeline.runAndWrite(spark, in.kgDir, out))
  }

  private lazy val goldenTriples: DataFrame =
    spark.read.parquet(in.golden.resolve("q47_triples.parquet").toString)
  private lazy val expectedFingerprint: (Long, Long) = fingerprint(goldenTriples)
  private lazy val expectedLangs: Seq[String] =
    goldenTriples.select("lang").distinct().collect().map(_.getString(0)).toSeq.sorted
  private lazy val goldenTokens: Long =
    spark.read.parquet(in.golden.resolve("q41_sentences.parquet").toString)
      .agg(sum(col("n_tokens"))).head().getLong(0)
  private def tagPartitions: Int = math.max(spark.sparkContext.defaultParallelism * 2, 4)

  def check(i: Int, result: Any): Seq[String] = {
    val (out, r) = result.asInstanceOf[(String, Pipeline.RunReport)]
    val problems = Seq.newBuilder[String]
    if (r.langsWritten.sorted != expectedLangs)
      problems += s"op $i wrote langs ${r.langsWritten.sorted}, expected $expectedLangs"
    if (r.lineageRows != tagPartitions)
      problems += s"op $i lineage rows ${r.lineageRows}, expected $tagPartitions"
    if (r.tokensSeen != goldenTokens)
      problems += s"op $i token counter ${r.tokensSeen}, expected $goldenTokens"
    // map the urls back to the original ids: drop the four-digit prefix
    val written = TableIO.read(spark, out, "lang")
      .withColumn("url", regexp_replace(col("url"), s"doc${in.kgIdPrefix}(\\d+)$$", "doc$1"))
    val got = fingerprint(written)
    if (got != expectedFingerprint)
      problems += s"op $i triples (rows, hash) $got, expected $expectedFingerprint"
    in.delete(out)
    problems.result()
  }

  def sizes: Map[String, Any] = Map(
    "docs" -> docsPerOp, "sentences" -> goldenSentences, "tokens" -> goldenTokens,
    "triples" -> expectedFingerprint._1)

  private lazy val goldenSentences: Long =
    spark.read.parquet(in.golden.resolve("q41_sentences.parquet").toString).count()
}

object KgBuild {
  /** Order-free (rows, hash sum) of a triple table. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.select(pmod(xxhash64(col("subj"), col("pred"), col("obj"), col("lang"),
        col("url"), col("sentIdx")), lit(1L << 31)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
